"""Driver-built rows as Arrow-backed local frames.

``spark.createDataFrame(list_of_tuples)`` pickles the rows into a Python
RDD (``Scan ExistingRDD``): every action over it runs a Spark job whose
tasks start Python workers. A ``pyarrow.Table`` crosses to the JVM as
Arrow batches and becomes a local relation, which Spark scans on the
driver: collecting it runs no job, and a join reads it as a broadcast
side without one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_frame(spark, columns: dict, schema: str) -> DataFrame:
    """``columns`` (name -> list of values, in ``schema``'s field order)
    as a local frame with the DDL ``schema``. Empty lists give an empty
    frame of the same schema."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)
