"""Large-scale data-pipeline operators (dedup, similarity search, text
analysis, graph, sampling) built on the same snapshot abstraction as
the query engine. These extend the reference's operator inventory
(SURVEY.md §2) with the operations a 100 TB training-data pipeline needs.
"""

from crux_spark.operators import dedup, similarity, textops  # noqa: F401
