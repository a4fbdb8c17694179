"""Loaders for the driver's synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At 100 TB these would be partitioned parquet/iceberg datasets; the
loader is a thin seam so every operator reads through one place and a
real deployment only swaps this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension-sized tables: always broadcast-join these (SURVEY §2.4 J2).
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return _read_parquet(spark, path)


_SCHEMA_CACHE: dict[tuple[str, float], object] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the inferred schema memoized per
    (path, mtime). Plain reads re-infer the schema from the footer on
    EVERY call — pure driver-side latency repeated for each of the
    ~200 registry queries times each bench/correctness invocation.
    The cache stores only the inferred ``StructType`` (metadata, never
    data — every execution still scans the parquet), keyed on mtime so
    a rewritten file re-infers. Non-local paths (no ``os.stat``) fall
    through to plain inference."""
    try:
        key = (path, os.stat(path).st_mtime)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def spread_narrow_input(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Re-exported from :mod:`cardano_spark.operators.skew` (input-
    layout skew lives with the other skew tools); see that module."""
    from cardano_spark.operators.skew import spread_narrow_input as _spread

    return _spread(df, min_parts)


#: Conservative stand-in for spark.sql.files.maxPartitionBytes (128
#: MiB default). Deliberately NOT read from the session conf: parsing
#: size strings duplicates Spark internals, and a deployment that
#: RAISES the split size only makes this estimate conservative — the
#: estimate overshoots the true partition count, the gate sees "wide
#: enough" and no-ops, which is the safe direction at scale.
_MAX_SPLIT_BYTES = 128 * 1024 * 1024

_LAYOUT_CACHE: dict[tuple[str, float], tuple[int, int]] = {}


def scan_partitions_estimate(sf_dir: str, name: str) -> int | None:
    """Estimated scan partitions for one catalog table from file
    stats alone — no Spark call, so the narrow-input gate costs
    microseconds instead of the ~0.15-0.25 s driver-side physical
    planning that ``df.rdd.getNumPartitions()`` spends per probe
    (measured, r11 — the bench pays that on every query build).
    ``max(n_files, bytes // maxSplit)`` bounds Spark's split packing
    from below on BOTH axes: many small files each yield at least one
    task, and big splittable files yield at least bytes/maxSplit.
    Underestimating can only add a spread on a layout that was
    already wide-ish; overestimating (the conservative direction, see
    ``_MAX_SPLIT_BYTES``) no-ops the gate. None for non-local paths —
    callers fall back to the exact probe. Keyed on (path, mtime) like
    ``_SCHEMA_CACHE`` so a regenerated fixture re-stats (r11 verdict
    #4; for directories the mtime tracks file adds/renames, the common
    rewrite shape)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (path, os.stat(path).st_mtime)
    except OSError:
        return None
    hit = _LAYOUT_CACHE.get(key)
    if hit is None:
        try:
            if os.path.isdir(path):
                sizes = [
                    e.stat().st_size for e in os.scandir(path) if e.is_file()
                ]
                hit = (sum(sizes), max(1, len(sizes)))
            else:
                hit = (os.path.getsize(path), 1)
        except OSError:
            return None
        _LAYOUT_CACHE[key] = hit
    total, n_files = hit
    return max(n_files, total // _MAX_SPLIT_BYTES)


def narrow_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    by: list[str] | None = None,
) -> DataFrame:
    """:func:`table` + the narrow-input spread, gated by the
    stat-based partition estimate above (plan-level call sites always
    wrap a bare scan, so the estimate is exact enough and free)."""
    from cardano_spark.operators.skew import spread_narrow_input as _spread

    return _spread(
        table(spark, sf_dir, name),
        by=by,
        est_parts=scan_partitions_estimate(sf_dir, name),
    )


_SIZE_CACHE: dict[tuple[str, float], int] = {}


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of one table — the size statistic the broadcast
    gate (operators/relational.broadcast_if_small) consumes. Memoized
    os.stat, no Spark job, no file-listing round trip; None when the
    path is not a local file/dir (object stores report size through
    their own catalog — callers then fall back to scan_bytes or, at
    worst, to AQE's runtime statistics). (path, mtime)-keyed like
    ``_SCHEMA_CACHE``/``_LAYOUT_CACHE`` so a regenerated fixture
    re-stats."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (path, os.stat(path).st_mtime)
    except OSError:
        return None
    hit = _SIZE_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        if os.path.isdir(path):
            total = sum(
                e.stat().st_size for e in os.scandir(path) if e.is_file()
            )
        else:
            total = os.path.getsize(path)
    except OSError:
        return None
    _SIZE_CACHE[key] = total
    return total


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Normalize ``events.ts`` to a session-UTC ``TimestampType``
    regardless of how the parquet was written. The driver has shipped
    two physical shapes across rounds:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
      (PARQUET_TYPE_ILLEGAL), so we read the nanos as a plain long
      (legacy conf) and convert losslessly — ``ts div 1000`` stays in
      64-bit integer arithmetic; a double division would lose
      precision above 2^53.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
      TIMESTAMP_NTZ; the session timezone is pinned to UTC
      (session.py), so the cast to TimestampType is wall-clock
      preserving and downstream comparisons against UTC literals are
      unchanged.

    Scale note: for the long-nanos shape, predicates on the converted
    ``ts`` can't push down to the parquet scan; at 100 TB the events
    dataset should be written with microsecond timestamps (or
    date-partitioned) so pruning works. The micros shape pushes down
    fine.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cardano_spark.session import ensure_nanos_compat

    ensure_nanos_compat(spark)  # no-op for get_spark() sessions

    df = _read_parquet(spark, path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    elif isinstance(ts_type, T.TimestampNTZType):
        ts = F.col("ts").cast(T.TimestampType())
    else:
        ts = F.col("ts")
    return df.withColumn("ts", ts).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def normalize_events(
    spark: SparkSession, src: str, dest: str
) -> int:
    """One-shot maintenance rewrite closing the documented pushdown
    gap (see :func:`_read_events`): events whose ``ts`` shipped as
    TIMESTAMP(NANOS) — unreadable by the vectorized reader and opaque
    to predicate pushdown once converted on the fly — are rewritten
    once to session-UTC micros ``TimestampType`` parquet. Reads over
    ``dest`` then push ``ts`` predicates into the scan and prune
    row groups normally. Idempotent: micros-shaped input round-trips
    unchanged. Returns the row count written — observed DURING the
    write (``df.observe``), not by re-scanning the multi-TB output."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = _read_events(spark, src).observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.mode("overwrite").parquet(dest)
    return int(obs.get["n"])
