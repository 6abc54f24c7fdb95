"""Small config/size helpers shared by the scale-adaptive operators.

Spark size configs ("128m", "64MB", "1g", plain bytes) need a real
parser: ``int(raw.rstrip('b'))`` silently fails on any unit-suffixed
value (r15 advice — the failure disabled the skip-repartition
optimization under human-readable configs). ``input_size_bytes`` sizes
a path through the Hadoop FileSystem API so it works on any Hadoop-
supported store (HDFS, S3A, local), not just the driver's local disk.
``_plan_size_estimate`` is the one reader of Catalyst's size estimate.
"""

from __future__ import annotations

import re

_SIZE_RE = re.compile(r"\s*(\d+)\s*([kmgtp]?)b?\s*", re.IGNORECASE)
_SHIFTS = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def parse_byte_size(raw, default: int) -> int:
    """Spark-style size string -> bytes; ``default`` on any mismatch."""
    if raw is None:
        return default
    m = _SIZE_RE.fullmatch(str(raw))
    if not m:
        return default
    return int(m.group(1)) << _SHIFTS[m.group(2).lower()]


def input_size_bytes(spark, path: str) -> int:
    """Total bytes under ``path`` via the JVM Hadoop FileSystem (cluster-
    safe: resolves the path's own scheme — file://, hdfs://, s3a://...).
    Falls back to a local os.walk, then 0 (callers floor their sizing at
    the source split count, so 0 only loses the bytes-proportional term).
    """
    try:
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        fs = jpath.getFileSystem(conf)
        return int(fs.getContentSummary(jpath).getLength())
    except Exception:
        pass
    try:
        import os

        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs_ in os.walk(path)
            for f in fs_
        )
    except OSError:
        return 0


def _plan_size_estimate(df) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes, or None when
    unknown: plans without stats (RDD-backed frames, some views) report
    Long.MaxValue, and joins can multiply estimates past it."""
    from py4j.protocol import Py4JError

    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (AttributeError, Py4JError):  # no JVM plan, or stats failed
        return None
    return est if 0 <= est < (1 << 62) else None


def _spread(df):
    """Repartition to the session's parallelism before CPU-heavy per-row
    expression work. Document corpora often arrive as few large files,
    and AQE coalesces byte-small shuffles, but shingling/hashing cost is
    per row, not per byte, so an explicit spread keeps all cores busy.

    The spread is skipped when the scan already fills the cores: a
    corpus whose size estimate spans >= parallelism scan splits (estimate
    / maxPartitionBytes) would shuffle its whole text payload only to
    land at the parallelism the scan provides. An unknown estimate skips
    it too."""
    par = df.sparkSession.sparkContext.defaultParallelism
    est = _plan_size_estimate(df)
    max_pb = parse_byte_size(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", None),
        128 << 20,
    )
    if est is None or est >= par * max_pb:
        return df
    return df.repartition(par)
