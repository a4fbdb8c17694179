"""Structured Streaming layer.

The reference is explicitly batch-only ("non-realtime",
/root/reference/README.md:8-10); its two watermark tables
(provider_to_s3 / s3_to_db import status,
database_management/cardano/cardano_tables.py:220-244) are the batch
analogue of streaming state. This module supplies the streaming
forms Spark gives us natively:

- a file-source stream over the events table (the streaming twin of
  the S3-listing incremental scan, SURVEY §2.1 S9);
- windowed/hourly aggregation (twin of the hypertable rollup q15);
- a custom stateful operator via ``applyInPandasWithState`` that
  tracks per-key ingest watermarks — the streaming re-expression of
  the reference's import-status upserts (SURVEY §2.2 K5).

Scale notes: file streams list incrementally (maxFilesPerTrigger
bounds batch size); aggregations keep state in the state store
(RocksDB on a real cluster); ``foreachBatch`` is the hook where the
idempotent staging+merge sink (sinks/merge.py) plugs into a stream,
giving the same exactly-once-per-key semantics the reference's
``ON CONFLICT DO NOTHING`` load had.
"""

from __future__ import annotations

import hashlib
import itertools
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def _arrival_cuts(
    df: DataFrame, id_col: str, n_arrival_files: int
) -> list[int] | None:
    """Exclusive upper bounds for the ``n_arrival_files`` id-ranged
    arrival slices, derived WITHOUT collecting the id column to the
    driver: the cut ids are exact order statistics (rank
    ``(N*i)//n`` in id order, matching ``sorted(ids)[(N*i)//n]``
    bit-for-bit so the streaming convergence contracts are
    unchanged), computed with the distributed prefix-sum rank
    (:func:`~cardano_spark.operators.curation.global_rank` — range
    shuffle + 32-scalar offset collect). Only ``n_arrival_files``
    scalars ever reach the driver regardless of corpus size; the
    previous ``sorted(... .collect())`` materialized the full id
    column, a driver OOM at 100× scale.

    Returns ``None`` on an empty frame (the old code raised
    IndexError on ``ids[-1]``); callers emit the zero-arrival
    result."""
    from cardano_spark.operators.curation import global_rank

    n = df.count()
    if n == 0:
        return None
    rank_targets = [
        (n * i) // n_arrival_files for i in range(1, n_arrival_files)
    ]
    need = sorted(set(rank_targets))
    by_rank = {
        r["_rank"]: r[id_col]
        for r in global_rank(df.select(id_col), id_col)
        .filter(F.col("_rank").isin(need))
        .collect()
    }
    hi = df.agg(F.max(F.col(id_col)).alias("m")).collect()[0]["m"]
    return [by_rank[t] for t in rank_targets] + [hi + 1]


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


#: default raw schema of events.parquet: ts as TIMESTAMP(MICROS,
#: isAdjustedToUTC=false) -> TIMESTAMP_NTZ. The data drops have
#: oscillated between this and TIMESTAMP(NANOS) across rounds —
#: :func:`events_raw_schema` sniffs the actual footer; use it over
#: this constant whenever a path is at hand (the batch twin is
#: catalog._read_events, which sniffs via the inferred batch schema).
EVENTS_RAW_SCHEMA = _events_schema(T.TimestampNTZType())


def events_raw_schema(sf_dir: str) -> T.StructType:
    """Sniff the physical ``ts`` type from the parquet footer and
    return the matching declared stream schema:

    - TIMESTAMP(NANOS) -> LongType (read raw nanos; the vectorized
      reader rejects the nanos logical type, and sessions carry the
      nanos-as-long conf — session.py);
    - TIMESTAMP(MICROS, no tz) -> TimestampNTZType;
    - anything else (tz-adjusted micros) -> TimestampType.

    ``normalize_event_ts`` converts all three to session-UTC
    TimestampType, so downstream jobs never see the difference."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    candidates = sorted(
        _glob.glob(_os.path.join(sf_dir, "events.parquet"))
        or _glob.glob(_os.path.join(sf_dir, "*events*.parquet"))
    )
    if not candidates:
        return EVENTS_RAW_SCHEMA
    try:
        ts = _pq.read_schema(candidates[0]).field("ts").type
    except (OSError, KeyError, ValueError):
        # directory dataset, foreign file without a ts column, or a
        # corrupt/non-parquet file (pyarrow ArrowInvalid subclasses
        # ValueError): fall back rather than fail stream setup
        return EVENTS_RAW_SCHEMA
    import pyarrow as _pa

    if not _pa.types.is_timestamp(ts):
        return EVENTS_RAW_SCHEMA
    if ts.unit == "ns":
        return _events_schema(T.LongType())
    if ts.tz is None:
        return _events_schema(T.TimestampNTZType())
    return _events_schema(T.TimestampType())


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Any raw ``ts`` shape -> session-UTC TimestampType, matching the
    batch loader (catalog._read_events) so stream and batch plans
    agree on literal comparisons and windows: long nanos convert in
    64-bit integer arithmetic (``div 1000``), NTZ casts wall-clock
    preserving under the UTC session pin."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    elif isinstance(ts_type, T.TimestampNTZType):
        ts = F.col("ts").cast(T.TimestampType())
    else:
        ts = F.col("ts")
    return df.withColumn("ts", ts)

_query_seq = itertools.count()


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events table. Globs the single
    parquet file under ``sf_dir``; on a real deployment this is a
    date-partitioned directory the stream lists incrementally. The
    declared schema comes from :func:`events_raw_schema` (footer
    sniff), so either historical ``ts`` shape streams correctly."""
    schema = events_raw_schema(sf_dir)
    if isinstance(schema["ts"].dataType, T.LongType):
        # nanos shape: the parquet reader needs the legacy conf on
        # sessions not built by get_spark (same escape hatch as the
        # batch path, catalog._read_events)
        from cardano_spark.session import ensure_nanos_compat

        ensure_nanos_compat(spark)
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(sf_dir)
    return normalize_event_ts(raw).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Same aggregation as the batch q15 (hypertable-style rollup)
    minus the distinct-user count: streaming aggregation state cannot
    hold exact distincts (use ``approx_count_distinct`` when an
    estimate is acceptable; exact distincts belong in a batch
    compaction pass)."""
    from cardano_spark.functions.scalars import dec, exact_double

    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count("*").alias("n"),
        exact_double(F.sum(dec("value"))).alias("total_value"),
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via the native ``session_window``
    merging-state aggregation — the streaming twin of the batch lag()
    sessionize (q14). Boundary semantics are session_window's:
    an event exactly ``gap`` after the previous one starts a NEW
    session (windows are half-open [ts, ts+gap), so they don't
    overlap), whereas the batch q14 keeps diff == gap in-session;
    the q51 oracle mirrors the strict form.

    Scale note: session state merges map-side per key and evicts on
    watermark expiry in append mode; run_to_memory uses complete mode
    here only because the bounded test corpus must emit trailing
    sessions — an unbounded deployment adds ``withWatermark`` and
    append mode."""
    return events.groupBy(
        F.session_window(F.col("ts"), gap), F.col("user_id")
    ).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_last"),
        F.count("*").alias("n_events"),
    ).select("user_id", "session_start", "session_last", "n_events")


def enrich_with_dim(
    events: DataFrame, dim: DataFrame, key: str, dim_cols: list[str]
) -> DataFrame:
    """Stream-static enrichment: join each microbatch against a
    broadcast dimension (the streaming form of the FK equi-join J2 —
    e.g. events -> customer attributes). The static side is
    broadcast, so the stream never shuffles for the join and the
    state store is untouched (stream-static joins are stateless by
    construction; only stream-stream joins buffer). Works identically
    on a batch frame, which is how tests pin plan equivalence."""
    d = dim.select(F.col(key), *[F.col(c) for c in dim_cols])
    return events.join(F.broadcast(d), key, "left")


def stream_exact_dedup(events: DataFrame, keys: list[str]) -> DataFrame:
    """State-backed exact dedup on a stream — the streaming twin of
    the batch insert-if-absent (D1/D2): ``dropDuplicates`` keeps one
    state-store entry per key and emits only first occurrences.
    Output is the key columns alone so the result is independent of
    arrival order (which physical row "wins" is not deterministic
    across engines; which KEYS exist is).

    Scale note: without an event-time watermark the dedup state grows
    with distinct-key cardinality forever. On an unbounded 100 TB
    stream use ``dropDuplicatesWithinWatermark`` after
    ``withWatermark`` so the store evicts keys older than the lateness
    bound — exact global dedup over all time belongs in the batch
    compaction pass (operators/dedup.py)."""
    return events.select(*keys).dropDuplicates(keys)


def stream_dedup_within_watermark(
    events: DataFrame, keys: list[str], delay: str = "2 hours"
) -> DataFrame:
    """The bounded-state dedup for unbounded streams:
    ``dropDuplicatesWithinWatermark`` evicts a key's state once the
    event-time watermark passes its timestamp + ``delay``, so the
    store holds only the lateness window instead of all history. The
    guarantee weakens accordingly — a key recurring AFTER eviction is
    re-emitted — which is the correct contract when upstream
    duplicates are caused by bounded-lateness retries (at-least-once
    sources), and the downstream merge sink's insert-if-absent absorbs
    any post-eviction repeats (sinks/merge.py)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        [*keys]
    )


def stream_interval_join(
    clicks: DataFrame,
    errors: DataFrame,
    horizon: str = "5 minutes",
    lateness: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each click joined to the same
    user's errors landing within ``[click_ts, click_ts + horizon]`` —
    the streaming form of the batch range join (q39). This is the one
    join class that buffers state on BOTH sides; the event-time
    watermark plus the two-sided time-bound condition are what let
    Spark evict a buffered row once no future match can arrive
    (unbounded conditions would grow state forever, and Spark rejects
    append-mode stream-stream joins without them).

    Output is deterministic data, not arrival order: (click_id,
    error_id, user_id, gap_s) with the gap in whole seconds."""
    c = clicks.withWatermark("ts", lateness).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    e = errors.withWatermark("ts", lateness).select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("err_user_id"),
        F.col("ts").alias("error_ts"),
    )
    joined = c.join(
        e,
        (F.col("user_id") == F.col("err_user_id"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    )
    gap = (
        F.unix_timestamp("error_ts") - F.unix_timestamp("click_ts")
    ).alias("gap_s")
    return joined.select("click_id", "error_id", "user_id", gap)


def run_to_memory(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into an
    in-memory table; returns the final table as a batch DataFrame."""
    spark = df.sparkSession
    name = f"stream_out_{next(_query_seq)}_{hashlib.md5(df.schema.json().encode()).hexdigest()[:6]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --------------------------------------------------------------------------
# Custom stateful operator: streaming ingest-watermark tracker
# --------------------------------------------------------------------------

WATERMARK_STATE_SCHEMA = "max_event_id LONG, n_events LONG"
WATERMARK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("max_event_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _track_watermarks(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per event_type: fold each microbatch into (max_event_id,
    n_events) state and emit the updated watermark row — the
    streaming form of the reference's
    ``INSERT ... ON CONFLICT`` import-status upsert
    (src/dao/provider_to_s3_import_status_dao.py:38-49)."""
    max_id, n = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        if len(pdf):
            max_id = max(max_id, int(pdf["event_id"].max()))
            n += len(pdf)
    state.update((max_id, n))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "max_event_id": pd.Series([max_id], dtype="int64"),
            "n_events": pd.Series([n], dtype="int64"),
        }
    )


def watermark_tracker(events: DataFrame) -> DataFrame:
    """applyInPandasWithState over event_type: cumulative ingest
    watermark per key, emitted every microbatch (update mode)."""
    return (
        events.select("event_id", "event_type")
        .groupBy("event_type")
        .applyInPandasWithState(
            _track_watermarks,
            outputStructType=WATERMARK_OUTPUT_SCHEMA,
            stateStructType=WATERMARK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Custom stateful operator: streaming per-key distinct counter
# --------------------------------------------------------------------------

DISTINCT_STATE_SCHEMA = "types ARRAY<STRING>"
DISTINCT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_types", T.LongType()),
    ]
)


def _track_distinct_types(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per user: maintain the SET of event types seen across all
    microbatches and emit the updated distinct count — a streaming
    exact-distinct aggregate, which Spark's built-in streaming aggs
    refuse (count_distinct is unsupported on streams); state makes it
    expressible. State is the set itself: correct for bounded-domain
    attributes (event types, countries, plans); for unbounded domains
    swap the set for the q74 HLL registers — same operator shape,
    constant state."""
    (types,) = state.get if state.exists else ([],)
    seen = set(types)
    for pdf in pdfs:
        if len(pdf):
            seen.update(pdf["event_type"].dropna().unique().tolist())
    state.update((sorted(seen),))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([key[0]], dtype="int64"),
            "n_types": pd.Series([len(seen)], dtype="int64"),
        }
    )


def distinct_type_counter(events: DataFrame) -> DataFrame:
    """applyInPandasWithState over user_id: exact streaming distinct
    event-type count per user, emitted every microbatch (update
    mode). Arrow-batched per group; state store holds one small set
    per user."""
    return (
        events.select("user_id", "event_type")
        .filter(F.col("user_id").isNotNull())  # null key would break state
        .groupBy("user_id")
        .applyInPandasWithState(
            _track_distinct_types,
            outputStructType=DISTINCT_OUTPUT_SCHEMA,
            stateStructType=DISTINCT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming incremental near-dup gate (the q66 loop as a real stream)
# --------------------------------------------------------------------------


def incremental_neardup_stream(
    spark: SparkSession,
    docs_dir: str,
    threshold: float = 0.8,
    n_arrival_files: int = 3,
) -> DataFrame:
    """The incremental MinHash+LSH dedup loop (q66 /
    dedup.incremental_minhash_pairs) run as an ACTUAL Structured
    Streaming job — the deployment mode of a continuously-fed corpus:
    documents arrive as files, each microbatch is signed/banded and
    probed against the ACCUMULATED band index (never re-hashing
    history), flagged pairs are emitted, and the batch's bands merge
    into the index for the next trigger.

    CONVERGENCE CONTRACT (what the oracle checks): a pair is
    reported exactly once — when its LATER member arrives (same-batch
    pairs when both arrive together) — so the union of all microbatch
    outputs equals the batch :func:`~cardano_spark.operators.dedup.
    minhash_lsh_pairs` result REGARDLESS of how arrivals are split
    into batches. Stream/batch convergence, the q34/q48/q65
    guarantee, here for a custom stateful operator driven through
    ``foreachBatch``.

    Mechanics: the doc slice is re-written as ``n_arrival_files``
    id-ranged files in a temp dir and streamed with
    ``maxFilesPerTrigger=1`` (a real deployment points this at its
    landing directory instead); cross-batch state (seen docs + band
    index) is carried as ``localCheckpoint``-ed frames, exactly the
    state a ParquetMergeSink-backed index holds between runs (that
    persistence round-trip is exercised in tests)."""
    import os
    import tempfile

    from cardano_spark.catalog import table as _table
    from cardano_spark.functions import text as TX
    from cardano_spark.operators import dedup as DD

    docs = _table(spark, docs_dir, "documents").filter(
        F.col("doc_id") % 8 == 0
    )
    shingles = TX.distinct_tokens("text")
    cuts = _arrival_cuts(docs, "doc_id", n_arrival_files)
    if cuts is None:
        # empty slice: the batch twin over nothing — an empty pairs frame
        empty = spark.createDataFrame([], docs.schema)
        return DD.incremental_minhash_pairs(
            empty, empty, "doc_id", shingles, threshold
        )
    tmp = tempfile.mkdtemp(prefix="neardup_stream_")
    lo = None
    for i, hi in enumerate(cuts):
        part = docs.filter(
            (F.col("doc_id") < hi)
            & (F.col("doc_id") >= (lo if lo is not None else -(1 << 62)))
        )
        part.coalesce(1).write.parquet(os.path.join(tmp, f"arrival={i}"))
        lo = hi
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(tmp + "/arrival=*")
    )
    state: dict = {"seen": None, "index": None, "pairs": []}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        if state["seen"] is None:
            empty = spark.createDataFrame([], schema)
            state["seen"] = empty
            state["index"] = DD.band_index(empty, "doc_id", shingles)
        pairs = DD.incremental_minhash_pairs(
            state["seen"],
            batch,
            "doc_id",
            shingles,
            threshold,
            existing_index=state["index"],
        ).localCheckpoint(eager=True)
        state["pairs"].append(pairs)
        state["seen"] = state["seen"].unionByName(batch).localCheckpoint(
            eager=True
        )
        state["index"] = (
            state["index"]
            .unionByName(DD.band_index(batch, "doc_id", shingles))
            .localCheckpoint(eager=True)
        )

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = state["pairs"][0]
    for p in state["pairs"][1:]:
        out = out.unionByName(p)
    # every per-batch frame was eagerly checkpointed, so the arrival
    # files are no longer referenced
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return out


def quality_gate_stream(
    spark: SparkSession,
    docs_dir: str,
    n_arrival_files: int = 3,
) -> DataFrame:
    """q117's arrival gate (near-dup probe + benchmark
    decontamination + quality floor) as a REAL Structured Streaming
    job — the streaming twin of ``build-corpus``'s daily-increment
    mode: documents land as files, and every microbatch clears each
    arriving document through all three gates against the
    ACCUMULATED corpus state carried across triggers via
    ``foreachBatch``:

    - is_neardup: the batch is signed/banded ONCE and probed against
      the accumulated band index (q136's state — cost ∝ |batch|, the
      historical corpus is never re-hashed); a doc is flagged when
      any verified pair's larger side is it.
    - is_contaminated: q58's 3-gram overlap gate against the STATIC
      benchmark frame (stream-static broadcast, stateless — the
      bench set is localCheckpointed once, not re-derived per
      trigger).
    - quality_ok: the shared q30 formula + 5-token floor, map-side.

    CONVERGENCE CONTRACT (what the oracle checks): each arriving doc
    is flagged exactly once, with flags identical to the BATCH q117
    over the same slice, REGARDLESS of how arrivals are split into
    batches (arrival files are id-ranged, so a pair's larger side
    always arrives with-or-after its smaller side — the q136
    discipline). Oracle = q117's SQL verbatim; pytest additionally
    pins equality at 1/3/5 arrival files.

    A real deployment points the stream at its landing directory and
    persists seen/index via ParquetMergeSink between runs; the
    id-ranged re-write below is the test-harness side only."""
    import os
    import shutil
    import tempfile

    from cardano_spark.catalog import table as _table
    from cardano_spark.functions import text as TX
    from cardano_spark.operators import curation as CU
    from cardano_spark.operators import dedup as DD

    d = _table(spark, docs_dir, "documents").filter(F.col("doc_id") % 8 == 0)
    existing = d.filter(F.col("doc_id") < 300).localCheckpoint(eager=True)
    new = d.filter(F.col("doc_id") >= 300)
    bench = (
        _table(spark, docs_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .localCheckpoint(eager=True)
    )

    cuts = _arrival_cuts(new, "doc_id", n_arrival_files)
    if cuts is None:
        # empty arrival slice: the report with zero arrival batches
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("is_neardup", T.LongType()),
                    T.StructField("is_contaminated", T.LongType()),
                    T.StructField("quality_ok", T.LongType()),
                    T.StructField("keep", T.LongType()),
                ]
            ),
        )
    tmp = tempfile.mkdtemp(prefix="quality_gate_stream_")
    lo = None
    for i, hi in enumerate(cuts):
        part = new.filter(
            (F.col("doc_id") < hi)
            & (F.col("doc_id") >= (lo if lo is not None else -(1 << 62)))
        )
        part.coalesce(1).write.parquet(os.path.join(tmp, f"arrival={i}"))
        lo = hi

    shingles = TX.distinct_tokens("text")
    state: dict = {
        "seen": existing,
        "index": DD.band_index(existing, "doc_id", shingles).localCheckpoint(
            eager=True
        ),
        "flags": [],
    }

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        pairs = DD.incremental_minhash_pairs(
            state["seen"],
            batch,
            "doc_id",
            shingles,
            threshold=0.8,
            existing_index=state["index"],
        )
        # id-ranged arrivals put every pair's larger side in THIS
        # batch, so flagging id_b reproduces q117's keep-first rule
        dups = (
            pairs.select(F.col("id_b").alias("doc_id"))
            .distinct()
            .withColumn("_dup", F.lit(1))
        )
        contam = CU.benchmark_contamination(
            batch,
            bench,
            "doc_id",
            TX.ngram_shingles(F.col("text"), 3),
            TX.ngram_shingles(F.col("text"), 3),
        ).select("doc_id", "contamination")
        n_tok = F.size(TX.tokens("text"))
        flags = (
            batch.select(
                "doc_id",
                F.when(
                    (TX.quality_score("text") >= 0.3) & (n_tok >= 5), 1
                )
                .otherwise(0)
                .cast("long")
                .alias("quality_ok"),
            )
            .join(dups, "doc_id", "left")
            .join(contam, "doc_id")
            .select(
                "doc_id",
                F.coalesce(F.col("_dup"), F.lit(0))
                .cast("long")
                .alias("is_neardup"),
                F.when(F.col("contamination") > 0.05, 1)
                .otherwise(0)
                .cast("long")
                .alias("is_contaminated"),
                "quality_ok",
            )
            .withColumn(
                "keep",
                (
                    (F.col("is_neardup") == 0)
                    & (F.col("is_contaminated") == 0)
                    & (F.col("quality_ok") == 1)
                ).cast("long"),
            )
            .localCheckpoint(eager=True)
        )
        state["flags"].append(flags)
        state["seen"] = state["seen"].unionByName(batch).localCheckpoint(
            eager=True
        )
        state["index"] = (
            state["index"]
            .unionByName(DD.band_index(batch, "doc_id", shingles))
            .localCheckpoint(eager=True)
        )

    schema = new.schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(tmp + "/arrival=*")
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = state["flags"][0]
    for p in state["flags"][1:]:
        out = out.unionByName(p)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def ivf_maintenance_stream(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    n_iter: int = 2,
    n_arrival_files: int = 3,
) -> DataFrame:
    """q163's IVF index maintenance as a REAL Structured Streaming
    job — the deployment mode of an ANN index fed by a continuous
    embedding pipeline: the coarse quantizer trains ONCE on the
    indexed base (q113's bit-reproducible integer-grid Lloyd) and is
    FROZEN as foreachBatch-carried state; every microbatch of
    arriving vectors runs one broadcast-argmax assignment against it
    (cost ∝ |batch| × k — the historical corpus is never rescanned)
    and its per-list counts accumulate into the occupancy-drift
    report.

    CONVERGENCE CONTRACT (what the oracle checks): assignment
    against a frozen model is a pure per-row function, so the
    accumulated report equals the BATCH
    ``similarity.ivf_incremental_report`` REGARDLESS of how arrivals
    are split into batches. Oracle = q163's SQL verbatim; pytest
    additionally pins equality at 1/3/5 arrival files.

    A real deployment loads the persisted model frame (a k-row
    parquet) instead of training in-line, points the stream at its
    landing directory, and flushes the count state through
    ParquetMergeSink between runs; the id-ranged arrival re-write
    below is the test-harness side only (the q136 discipline)."""
    import os
    import shutil
    import tempfile

    from cardano_spark.catalog import table as _table
    from cardano_spark.operators import similarity as SIM

    e = _table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 10 != 9)
    new = e.filter(F.col("vec_id") % 10 == 9)

    sums = SIM.spherical_kmeans_sums(
        base, "vec_id", "embedding", k=k, n_iter=n_iter
    ).localCheckpoint(eager=True)
    n_base = (
        SIM.assign_to_model(base, sums, "vec_id", "embedding")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_base"))
        .localCheckpoint(eager=True)
    )

    cuts = _arrival_cuts(new, "vec_id", n_arrival_files)
    if cuts is None:
        # empty arrival slice: drift report with zero new vectors
        n_new_empty = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("cid", T.LongType()),
                    T.StructField("n_new", T.LongType()),
                ]
            ),
        )
        return SIM.ivf_maintenance_summary(sums, n_base, n_new_empty)
    tmp = tempfile.mkdtemp(prefix="ivf_maintenance_stream_")
    lo = None
    for i, hi in enumerate(cuts):
        part = new.filter(
            (F.col("vec_id") < hi)
            & (F.col("vec_id") >= (lo if lo is not None else -(1 << 62)))
        )
        part.coalesce(1).write.parquet(os.path.join(tmp, f"arrival={i}"))
        lo = hi

    stream = (
        spark.readStream.schema(new.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(tmp + "/arrival=*")
    )
    state: dict = {"counts": []}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        counts = (
            SIM.assign_to_model(batch, sums, "vec_id", "embedding")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
            .localCheckpoint(eager=True)
        )
        state["counts"].append(counts)

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    acc = state["counts"][0]
    for c in state["counts"][1:]:
        acc = acc.unionByName(c)
    n_new = acc.groupBy("cid").agg(
        F.sum("n_new").cast("long").alias("n_new")
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return SIM.ivf_maintenance_summary(sums, n_base, n_new)


def semantic_gate_stream(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.25,
    n_arrival_files: int = 3,
) -> DataFrame:
    """q190's incremental semantic dedup as a REAL Structured
    Streaming job — the streaming twin that completes the semantic
    arm of the dedup matrix (exact: q21/q48; near-dup:
    q22/q66/q136; paragraph: q178/q182; semantic: q109/q190/the
    corpus stage/THIS): embedding rows arrive as files; every
    microbatch assigns its arrivals under the FROZEN centroid model
    (the old slice's first-8 seeds — q190's convention) and
    pair-probes them against the ACCUMULATED assigned-blocker state
    carried across triggers via ``foreachBatch`` — exactly the
    corpus build's ``_state/semantic_index`` serving loop
    (:func:`~cardano_spark.operators.similarity.
    semantic_dedup_serve`: the old side arrives pre-assigned, never
    an old-side argmax, cost ∝ |batch| * (k + occupancy)).

    CONVERGENCE CONTRACT (what the oracle checks): arrival ids are
    monotone across id-ranged files, so a pair's larger side always
    arrives with-or-after its smaller side, and the union of
    microbatch flag frames equals the BATCH q190
    (``semantic_dedup_incremental``) REGARDLESS of the arrival
    batching. Oracle = q190's SQL verbatim; pytest additionally
    pins equality at 1/3/5 arrival files.

    A real deployment loads the persisted model + assignment index
    (ParquetMergeSink — the corpus build's state tables) instead of
    deriving them in-line; the id-ranged arrival re-write below is
    the test-harness side only (the q136 discipline)."""
    import os
    import shutil
    import tempfile

    from cardano_spark.catalog import table as _table
    from cardano_spark.operators import similarity as SIM

    e = _table(spark, sf_dir, "embeddings")
    old = e.filter(F.col("vec_id") < 250)
    new = e.filter(F.col("vec_id") >= 250)
    cents = (
        old.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("centroid"),
        )
        .localCheckpoint(eager=True)
    )
    blockers = (
        old.join(
            SIM.assign_to_centroids(old, "vec_id", "embedding", cents),
            "vec_id",
        )
        .select("vec_id", "cluster_id", "embedding")
        .localCheckpoint(eager=True)
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster_id", T.LongType()),
            T.StructField("is_dup", T.LongType()),
        ]
    )
    cuts = _arrival_cuts(new, "vec_id", n_arrival_files)
    if cuts is None:
        # empty arrival slice: no flags
        return spark.createDataFrame([], out_schema)
    tmp = tempfile.mkdtemp(prefix="semantic_gate_stream_")
    lo = None
    for i, hi in enumerate(cuts):
        part = new.filter(
            (F.col("vec_id") < hi)
            & (F.col("vec_id") >= (lo if lo is not None else -(1 << 62)))
        )
        part.coalesce(1).write.parquet(os.path.join(tmp, f"arrival={i}"))
        lo = hi

    stream = (
        spark.readStream.schema(new.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(tmp + "/arrival=*")
    )
    state: dict = {"blockers": blockers, "flags": []}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        flags = SIM.semantic_dedup_serve(
            state["blockers"], batch, "vec_id", "embedding", cents,
            threshold,
        ).localCheckpoint(eager=True)
        state["flags"].append(flags)
        # fold the batch's assignments forward: EVERY arrival blocks
        # later ones (flagged or not — the batch twin's pair join
        # ranges over all of them), the corpus stage's index fold
        state["blockers"] = (
            state["blockers"]
            .unionByName(
                flags.select(
                    F.col("vec_id"), F.col("cluster_id")
                ).join(
                    batch.select("vec_id", "embedding"), "vec_id"
                ).select("vec_id", "cluster_id", "embedding")
            )
            .localCheckpoint(eager=True)
        )

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = state["flags"][0]
    for f in state["flags"][1:]:
        out = out.unionByName(f)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def paragraph_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    n_arrival_files: int = 3,
) -> DataFrame:
    """q178's paragraph-grain dedup (CCNet stage 1) as a REAL
    Structured Streaming job: documents arrive as files, each
    microbatch segments ONLY its own rows (CDC boundaries are
    per-document, so history is never re-segmented), judges every
    paragraph occurrence against the accumulated paragraph-digest
    index plus in-batch keep-first
    (:func:`~cardano_spark.operators.dedup.
    paragraph_dedup_incremental`), emits the rebuilt rows, and folds
    the batch's first-seen digests into the index for the next
    trigger.

    CONVERGENCE CONTRACT (the q48/q136 discipline at paragraph
    grain): arrival ids are monotone across files, so the earliest
    batch containing a paragraph holds its global keep-first
    occurrence — the union of all microbatch outputs equals the
    BATCH :func:`~cardano_spark.operators.dedup.paragraph_dedup`
    over the full input REGARDLESS of how arrivals are split
    (pinned at 1/3/5 files in tests). The oracle is therefore q178's
    SQL verbatim.

    State is the slim digest frame (16-byte md5 hex per DISTINCT
    paragraph) carried as localCheckpoint-ed frames — exactly what
    the incremental corpus build persists under ``_state/para_index``
    via a ParquetMergeSink."""
    import os
    import shutil
    import tempfile

    from cardano_spark.catalog import table as _table
    from cardano_spark.operators import dedup as DD

    docs = _table(spark, docs_dir, "documents")
    cuts = _arrival_cuts(docs, "doc_id", n_arrival_files)
    empty_seen = spark.createDataFrame([], "digest string")
    if cuts is None:
        empty = spark.createDataFrame([], docs.schema)
        out, _ = DD.paragraph_dedup_incremental(
            empty, empty_seen, "doc_id", "text"
        )
        return out
    tmp = tempfile.mkdtemp(prefix="paradedup_stream_")
    lo = None
    for i, hi in enumerate(cuts):
        part = docs.filter(
            (F.col("doc_id") < hi)
            & (F.col("doc_id") >= (lo if lo is not None else -(1 << 62)))
        )
        part.coalesce(1).write.parquet(os.path.join(tmp, f"arrival={i}"))
        lo = hi
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(tmp + "/arrival=*")
    )
    state: dict = {"index": empty_seen, "out": []}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        rebuilt, new_digests = DD.paragraph_dedup_incremental(
            batch, state["index"], "doc_id", "text"
        )
        state["out"].append(rebuilt.localCheckpoint(eager=True))
        state["index"] = (
            state["index"]
            .unionByName(new_digests)
            .localCheckpoint(eager=True)
        )

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = state["out"][0]
    for p in state["out"][1:]:
        out = out.unionByName(p)
    shutil.rmtree(tmp, ignore_errors=True)
    return out
