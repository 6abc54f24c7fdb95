"""Temporal snapshot operators.

The reference resolves "visible version at (valid-time, tx-time)" by
descending index seeks per entity (`entity-as-of`,
crux-core/src/crux/kv/index_store.clj:746-795, with a Morton Z-order
fallback). The Spark recast: a window over the version stream —
``row_number() = 1`` per entity ordered by (version-time desc, tx desc).
At 100 TB this is a single shuffle on the entity key (no per-row index
seeks), and when the table is bucketed/partitioned by the entity key the
shuffle disappears entirely.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_as_of(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    as_of: Any = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Visible (latest) row per entity at time ``as_of``.

    Equivalent to the reference's point as-of resolution
    (index_store.clj:774-795): filter versions with time <= as_of, keep the
    one with the greatest (time, tiebreaks) per entity.
    """
    if as_of is not None:
        df = df.filter(F.col(time_col) <= F.lit(as_of))
    order = [F.col(time_col).desc()] + [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(entity_col).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

