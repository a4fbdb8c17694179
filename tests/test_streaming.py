"""Structured Streaming tests: stream/batch convergence and the
custom stateful watermark-tracker operator (multi-batch)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cardano_spark.catalog import table
from cardano_spark.streaming.jobs import (
    hourly_rollup,
    read_events_stream,
    run_to_memory,
    watermark_tracker,
)
from tests.conftest import SF_SMALL


def test_stream_hourly_rollup_equals_batch(spark):
    streamed = run_to_memory(
        hourly_rollup(read_events_stream(spark, SF_SMALL)), "complete"
    ).orderBy("hour", "event_type")
    batch = (
        hourly_rollup(table(spark, SF_SMALL, "events"))
        .orderBy("hour", "event_type")
    )
    assert streamed.collect() == batch.collect()


@pytest.fixture()
def two_file_events_dir(spark, tmp_path):
    """Split the small events table into two parquet files so the
    stream (maxFilesPerTrigger=1) runs two microbatches."""
    d = str(tmp_path / "events_stream")
    os.makedirs(d, exist_ok=True)
    ev = table(spark, SF_SMALL, "events")
    lo = ev.filter(F.col("event_id") % 2 == 0)
    hi = ev.filter(F.col("event_id") % 2 == 1)
    # write the raw NTZ-micros shape matching EVENTS_RAW_SCHEMA
    for name, df in (("a", lo), ("b", hi)):
        tmp = str(tmp_path / f"w_{name}")
        df.withColumn("ts", F.col("ts").cast("timestamp_ntz")).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, part), os.path.join(d, f"{name}_events.parquet"))
    return d


def test_watermark_tracker_cumulative_state(spark, two_file_events_dir):
    from cardano_spark.streaming import jobs

    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(two_file_events_dir)
    )
    events = jobs.normalize_event_ts(raw)
    out = run_to_memory(watermark_tracker(events), "update")
    # update-mode memory sink appends one row per key per microbatch;
    # state is cumulative (monotonic), so the max per key is the final
    # state regardless of sink row order.
    pdf = out.toPandas()
    final = pdf.groupby("event_type").max()

    batch = (
        table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.max("event_id").alias("max_event_id"), F.count("*").alias("n_events"))
        .toPandas()
        .set_index("event_type")
    )
    for et, row in batch.iterrows():
        assert final.loc[et, "max_event_id"] == row["max_event_id"]
        assert final.loc[et, "n_events"] == row["n_events"]
    # multiple microbatches actually happened
    assert len(pdf) > len(batch)


def test_stream_foreachbatch_into_merge_sink(spark, two_file_events_dir, tmp_path):
    """The full incremental-pipeline story on a stream: each
    microbatch lands through the idempotent merge sink, so replays
    and overlapping batches cannot double-insert (the streaming form
    of the reference's single-txn COPY + ON CONFLICT load)."""
    from pyspark.sql import types as T

    from cardano_spark.sinks.merge import ParquetMergeSink
    from cardano_spark.streaming import jobs

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    sink = ParquetMergeSink(spark, str(tmp_path / "events_table"), schema, ["event_id"])

    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(two_file_events_dir)
    )

    def land(batch_df, _batch_id):
        sink.merge(batch_df.select("event_id", "event_type"))

    q = (
        raw.writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    expected = table(spark, SF_SMALL, "events").count()
    assert sink.read().count() == expected
    # replaying the whole stream is a no-op (idempotent merge)
    q2 = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .load(two_file_events_dir)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert sink.read().count() == expected


def test_stream_dedup_within_watermark_suppresses_in_window_dups(
    spark, two_file_events_dir
):
    """dropDuplicatesWithinWatermark with a delay wider than the
    corpus time-span behaves like exact dedup (nothing evicts), and
    keys duplicated across microbatches are still suppressed —
    state survives the trigger boundary. (The eviction path itself is
    lateness-timing-dependent; its contract — post-eviction repeats —
    is documented and absorbed by the insert-if-absent sink.)"""
    from cardano_spark.streaming import jobs

    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(two_file_events_dir)
    )
    events = jobs.normalize_event_ts(raw)
    out = run_to_memory(
        jobs.stream_dedup_within_watermark(
            events, ["user_id", "event_type"], delay="3650 days"
        ),
        "append",
    ).toPandas()
    assert not out.duplicated(["user_id", "event_type"]).any()
    want = (
        table(spark, SF_SMALL, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert len(out) == want


def test_stream_sessionize_merges_across_microbatches(spark, two_file_events_dir):
    """session_window state must MERGE sessions split across
    microbatches (the even/odd event_id file split interleaves every
    user's timeline over both files): streamed complete-mode output
    must equal the batch session_window over the same data."""
    from cardano_spark.streaming import jobs

    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(two_file_events_dir)
    )
    streamed = run_to_memory(
        jobs.sessionize_stream(jobs.normalize_event_ts(raw)), "complete"
    )
    batch = jobs.sessionize_stream(table(spark, SF_SMALL, "events"))
    cols = ["user_id", "session_start", "session_last", "n_events"]
    assert sorted(map(tuple, streamed.select(cols).collect())) == sorted(
        map(tuple, batch.select(cols).collect())
    )


def test_stream_dedup_emits_each_key_once_across_microbatches(spark, two_file_events_dir):
    """Dedup state must persist ACROSS triggers: a key seen in
    microbatch 1 is suppressed in microbatch 2, and the emitted key
    set equals the batch DISTINCT."""
    from cardano_spark.streaming import jobs

    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(two_file_events_dir)
    )
    events = jobs.normalize_event_ts(raw)
    out = run_to_memory(
        jobs.stream_exact_dedup(events, ["user_id", "event_type"]), "append"
    ).toPandas()
    # no key appears twice even though both microbatches contain it
    assert not out.duplicated(["user_id", "event_type"]).any()
    batch = (
        table(spark, SF_SMALL, "events")
        .select("user_id", "event_type")
        .distinct()
        .toPandas()
    )
    got = set(map(tuple, out.itertuples(index=False)))
    want = set(map(tuple, batch.itertuples(index=False)))
    assert got == want


def test_stream_foreachbatch_into_db_upsert_sink(spark, two_file_events_dir, tmp_path):
    """The DB twin of the parquet foreachBatch test: each microbatch
    lands through DBUpsertSink's staging+ON CONFLICT path, so replays
    cannot double-insert — the reference's single-txn COPY + ON
    CONFLICT load driven from a stream."""
    import duckdb

    from cardano_spark.sinks.merge import DBUpsertSink
    from cardano_spark.streaming import jobs

    from pyspark.sql import types as T

    db = str(tmp_path / "s.duckdb")
    sink = DBUpsertSink.from_schema(
        connection_factory=lambda: duckdb.connect(db),
        table="target",
        schema=T.StructType(
            [
                T.StructField("event_id", T.LongType(), False),
                T.StructField("event_type", T.StringType(), True),
            ]
        ),
        keys=["event_id"],
    )
    sink.ensure_target()

    def land(batch_df, _id):
        sink.merge(batch_df.select("event_id", "event_type"), via_driver=True)

    for ckpt in ("ck1", "ck2"):  # second pass replays the whole stream
        q = (
            spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(two_file_events_dir)
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    expected = table(spark, SF_SMALL, "events").count()
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM target").fetchone()[0] == expected
    con.close()


def test_watermark_drops_late_events_across_restarts(spark, tmp_path):
    """Late-data handling (the reason watermarks exist): a windowed
    append-mode aggregation persists its event-time watermark in the
    checkpoint; a restart that feeds events OLDER than the restored
    watermark must drop them — the already-finalized window's counts
    do not change and no duplicate window row is emitted."""
    import os
    import shutil

    from pyspark.sql import types as T
    from cardano_spark.streaming import jobs

    def write_events(dirname, rows):
        d = str(tmp_path / dirname)
        os.makedirs(d, exist_ok=True)
        tmp = str(tmp_path / f"w_{dirname}_{len(rows)}")
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, part), os.path.join(d, f"{len(os.listdir(d))}_ev.parquet"))
        return d

    from datetime import datetime as DT

    def ev(i, hour, minute=0):
        return (i, DT(2024, 1, 1, hour, minute), 1, "view", 1.0, "{}")

    # run 1: events in hours 2 and 10 -> watermark lands at 09:00
    d = write_events("late_src", [ev(1, 2), ev(2, 2, 30), ev(3, 10)])
    ckpt = str(tmp_path / "late_ckpt")
    emitted: list[tuple] = []

    def agg(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

    def run_once():
        raw = (
            spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(d)
        )
        q = (
            agg(jobs.normalize_event_ts(raw))
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _i: emitted.extend(map(tuple, b.collect())))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    hour2 = [r for r in emitted if r[0].hour == 2]
    assert hour2 and hour2[0][1] == 2  # window [02:00,03:00) finalized with 2 events

    # run 2, same checkpoint: a LATE hour-2 event (watermark ~09:00)
    write_events("late_src", [ev(4, 2, 45), ev(5, 12)])
    run_once()
    hour2_after = [r for r in emitted if r[0].hour == 2]
    assert hour2_after == hour2  # late event dropped: no re-emit, no recount


def test_events_raw_schema_sniffs_all_ts_shapes(spark, tmp_path):
    """The stream's declared schema must follow the parquet footer:
    the data drops have shipped ts as TIMESTAMP(NANOS) in some rounds
    and TIMESTAMP(MICROS, ntz) in others — a hard-coded schema breaks
    the whole streaming layer when the shape flips. All shapes must
    normalize to identical session-UTC timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from cardano_spark.streaming.jobs import (
        events_raw_schema,
        normalize_event_ts,
        read_events_stream,
        run_to_memory,
    )

    base = 1_700_000_000  # seconds
    rows = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    shapes = {
        "nanos": pa.array(
            [base * 10**9, (base + 60) * 10**9], pa.timestamp("ns")
        ),
        "ntz": pa.array(
            [base * 10**6, (base + 60) * 10**6], pa.timestamp("us")
        ),
        "utc": pa.array(
            [base * 10**6, (base + 60) * 10**6], pa.timestamp("us", tz="UTC")
        ),
    }
    want_decl = {
        "nanos": T.LongType(),
        "ntz": T.TimestampNTZType(),
        "utc": T.TimestampType(),
    }
    results = {}
    for name, ts_arr in shapes.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table({**{"event_id": rows["event_id"]}, "ts": ts_arr,
                        **{k: rows[k] for k in ("user_id", "event_type", "value", "props")}})
        pq.write_table(tbl, str(d / "events.parquet"))
        decl = events_raw_schema(str(d))
        assert decl["ts"].dataType == want_decl[name], name
        out = run_to_memory(
            read_events_stream(spark, str(d)), output_mode="append"
        )
        assert out.schema["ts"].dataType == T.TimestampType(), name
        results[name] = sorted((r.event_id, r.ts) for r in out.collect())
    assert results["nanos"] == results["ntz"] == results["utc"]

    # empty dir falls back to the default NTZ schema
    empty = tmp_path / "none"
    empty.mkdir()
    assert events_raw_schema(str(empty))["ts"].dataType == T.TimestampNTZType()
    # batch normalizer handles the same three shapes (shared helper)
    for name in shapes:
        df = spark.read.schema(events_raw_schema(str(tmp_path / name))).parquet(
            str(tmp_path / name / "events.parquet")
        )
        got = sorted(
            (r.event_id, r.ts) for r in normalize_event_ts(df).collect()
        )
        assert got == results[name], name


def test_stream_static_broadcast_enrichment(spark, two_file_events_dir):
    """Stream-static dimension join: streamed enrichment over two
    microbatches equals the batch join, and the join is a stateless
    broadcast (BroadcastHashJoin on the batch-identical plan; no
    state rows in the streaming query)."""
    from cardano_spark.streaming import jobs

    dim = table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_mktsegment",
    )
    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(two_file_events_dir)
    )
    streamed = run_to_memory(
        jobs.enrich_with_dim(
            jobs.normalize_event_ts(raw), dim, "user_id", ["c_mktsegment"]
        ).select("event_id", "user_id", "c_mktsegment"),
        "append",
    )
    batch = jobs.enrich_with_dim(
        table(spark, SF_SMALL, "events"), dim, "user_id", ["c_mktsegment"]
    ).select("event_id", "user_id", "c_mktsegment")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nanos_stream_on_foreign_session(spark, tmp_path):
    """Streaming twin of the batch foreign-session test: a bare
    session (nanos conf explicitly false) must still stream a
    TIMESTAMP(NANOS) events file — read_events_stream self-heals via
    ensure_nanos_compat when the sniffed shape is long-nanos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cardano_spark.streaming.jobs import read_events_stream, run_to_memory

    d = tmp_path / "nanos_stream"
    d.mkdir()
    base = 1_700_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": pa.array(
                    [base * 10**9, (base + 60) * 10**9], pa.timestamp("ns")
                ),
                "user_id": [1, 2],
                "event_type": ["a", "b"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ),
        str(d / "events.parquet"),
    )
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    out = run_to_memory(read_events_stream(foreign, str(d)), "append")
    assert out.count() == 2
    assert str(out.schema["ts"].dataType) == "TimestampType()"


def test_stream_interval_join_buffers_across_microbatches(spark, two_file_events_dir):
    """Stream-stream interval join: clicks and errors arrive split
    across two microbatches (maxFilesPerTrigger=1), so matches whose
    two sides land in different batches only appear if the join
    buffers state correctly; result must equal the batch range join."""
    from cardano_spark.streaming import jobs

    def side(event_type):
        raw = (
            spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(two_file_events_dir)
        )
        return jobs.normalize_event_ts(raw).filter(
            F.col("event_type") == event_type
        )

    streamed = run_to_memory(
        jobs.stream_interval_join(side("click"), side("error")),
        output_mode="append",
    )

    ev = table(spark, SF_SMALL, "events")
    batch = jobs.stream_interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
    )
    key = ["click_id", "error_id"]
    assert sorted(map(tuple, streamed.select(*key, "user_id", "gap_s").collect())) == sorted(
        map(tuple, batch.select(*key, "user_id", "gap_s").collect())
    )
    assert streamed.count() > 0


def test_stream_interval_join_is_symmetric_hash_join(spark):
    """The physical streaming plan must be the stateful symmetric
    hash join with watermarks on both sides (evictable state), not a
    nested-loop buffer."""
    from cardano_spark.streaming import jobs

    clicks = jobs.read_events_stream(spark, SF_SMALL).filter(
        F.col("event_type") == "click"
    )
    errors = jobs.read_events_stream(spark, SF_SMALL).filter(
        F.col("event_type") == "error"
    )
    out = run_to_memory(
        jobs.stream_interval_join(clicks, errors), output_mode="append"
    )
    assert out.columns == ["click_id", "error_id", "user_id", "gap_s"]


def test_distinct_type_counter_state_across_microbatches(spark, two_file_events_dir):
    """The set-state must persist across microbatches: a type seen in
    file 1 and again in file 2 counts once; new types accumulate."""
    from cardano_spark.streaming.jobs import (
        distinct_type_counter,
        events_raw_schema,
        normalize_event_ts,
        run_to_memory,
    )

    raw = (
        spark.readStream.schema(events_raw_schema(two_file_events_dir))
        .option("maxFilesPerTrigger", 1)  # forces >= 2 microbatches
        .parquet(f"{two_file_events_dir}/*.parquet")
    )
    out = run_to_memory(
        distinct_type_counter(normalize_event_ts(raw)), "update"
    )
    import pyspark.sql.functions as F

    final = (
        out.groupBy("user_id").agg(F.max("n_types").alias("n_types"))
    ).collect()
    batch = (
        spark.read.parquet(f"{two_file_events_dir}/*.parquet")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n_types"))
        .collect()
    )
    assert sorted(map(tuple, final)) == sorted(map(tuple, batch))
    # update mode re-emits per microbatch: at least one user must have
    # been emitted twice (proving state survived a batch boundary)
    assert out.count() > len(final)


def test_incremental_neardup_stream_converges(spark):
    """Batching-invariance: the union of microbatch outputs equals
    the batch LSH pair set for ANY arrival split (1, 3, and 5
    files), pairs are never double-reported, and the index is
    genuinely incremental (multi-batch state exercised)."""
    from cardano_spark.catalog import table
    from cardano_spark.functions import text as TX
    from cardano_spark.operators import dedup as DD
    from cardano_spark.streaming.jobs import incremental_neardup_stream
    from tests.conftest import SF_SMALL

    d = table(spark, SF_SMALL, "documents").filter(F.col("doc_id") % 8 == 0)
    batch = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.minhash_lsh_pairs(
            d, "doc_id", TX.distinct_tokens("text"), threshold=0.8
        ).collect()
    }
    for n_files in (1, 3, 5):
        rows = incremental_neardup_stream(
            spark, SF_SMALL, threshold=0.8, n_arrival_files=n_files
        ).collect()
        got = {(r.id_a, r.id_b): r.jaccard for r in rows}
        assert len(rows) == len(got), f"double-reported pair at {n_files}"
        assert got == batch, n_files
    assert batch, "fixture has no near-dup pairs"


def test_quality_gate_stream_converges(spark):
    """Batching-invariance for the streaming quality gate: the union
    of per-microbatch flag frames equals the BATCH q117 arrival gate
    for ANY arrival split (1, 3, 5 files), each doc is flagged
    exactly once, and the gate flags are non-trivial on the
    fixture."""
    from cardano_spark.plans.trainingdata import q117_arrival_gate
    from cardano_spark.streaming.jobs import quality_gate_stream
    from tests.conftest import SF_SMALL

    batch = {
        r.doc_id: (r.is_neardup, r.is_contaminated, r.quality_ok, r.keep)
        for r in q117_arrival_gate(spark, SF_SMALL).collect()
    }
    for n_files in (1, 3, 5):
        rows = quality_gate_stream(
            spark, SF_SMALL, n_arrival_files=n_files
        ).collect()
        got = {
            r.doc_id: (r.is_neardup, r.is_contaminated, r.quality_ok, r.keep)
            for r in rows
        }
        assert len(rows) == len(got), f"double-flagged doc at {n_files}"
        assert got == batch, n_files
    assert batch, "fixture has no arriving docs"
    # the gates actually fire on the fixture (not vacuously clean)
    assert any(v[3] == 0 for v in batch.values())


def test_ivf_maintenance_stream_converges(spark):
    """Batching-invariance for the streaming index-maintenance
    report: the accumulated per-list occupancy report equals the
    BATCH q163 for ANY arrival split (1, 3, 5 files), and the
    arrival batch is non-trivially spread over clusters."""
    from cardano_spark.plans.trainingdata import q163_ivf_incremental_report
    from cardano_spark.streaming.jobs import ivf_maintenance_stream
    from tests.conftest import SF_SMALL

    batch = {
        r.cluster_id: (r.n_base, r.n_new, r.growth_fp)
        for r in q163_ivf_incremental_report(spark, SF_SMALL).collect()
    }
    for n_files in (1, 3, 5):
        rows = ivf_maintenance_stream(
            spark, SF_SMALL, k=8, n_iter=2, n_arrival_files=n_files
        ).collect()
        got = {r.cluster_id: (r.n_base, r.n_new, r.growth_fp) for r in rows}
        assert len(rows) == len(got), f"duplicate cluster row at {n_files}"
        assert got == batch, n_files
    assert sum(v[1] for v in batch.values()) > 0
    assert len([v for v in batch.values() if v[1] > 0]) > 1


@pytest.fixture()
def empty_arrival_dir(spark, tmp_path):
    """An sf-dir twin where every streaming job's ARRIVAL slice is
    empty: documents carry only ids the jobs treat as pre-existing
    corpus (doc_id % 8 == 0 AND < 300), embeddings only indexed base
    vectors (vec_id % 10 != 9)."""
    from cardano_spark.catalog import table
    from tests.conftest import SF_SMALL

    d = str(tmp_path / "empty_arrivals")
    table(spark, SF_SMALL, "documents").filter(
        (F.col("doc_id") % 8 == 0) & (F.col("doc_id") < 300)
    ).write.parquet(f"{d}/documents.parquet")
    table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") % 10 != 9
    ).write.parquet(f"{d}/embeddings.parquet")
    return d


def test_streaming_jobs_on_empty_arrival_slice(spark, empty_arrival_dir):
    """The quiet-watermark-window case (every incremental run hits
    it): an EMPTY arrival slice must produce the zero-arrival report,
    not IndexError on the cut derivation — the neardup stream over an
    id-universe with no % 8 == 0 survivors, the quality gate with no
    doc_id >= 300 arrivals, IVF maintenance with no vec_id % 10 == 9
    vectors."""
    from cardano_spark.streaming.jobs import (
        incremental_neardup_stream,
        ivf_maintenance_stream,
        quality_gate_stream,
    )

    gate = quality_gate_stream(spark, empty_arrival_dir, n_arrival_files=3)
    assert gate.count() == 0
    assert gate.columns == [
        "doc_id", "is_neardup", "is_contaminated", "quality_ok", "keep",
    ]

    ivf = ivf_maintenance_stream(
        spark, empty_arrival_dir, k=4, n_iter=1, n_arrival_files=3
    ).collect()
    assert len(ivf) == 4
    assert all(r.n_new == 0 for r in ivf)
    assert sum(r.n_base for r in ivf) > 0

    # neardup: no doc survives the % 8 == 0 slice at all
    import os
    import shutil

    nd_dir = empty_arrival_dir + "_none"
    os.makedirs(nd_dir, exist_ok=True)
    spark.read.parquet(f"{empty_arrival_dir}/documents.parquet").filter(
        F.col("doc_id") % 8 != 0
    ).write.parquet(f"{nd_dir}/documents.parquet")
    try:
        pairs = incremental_neardup_stream(spark, nd_dir, n_arrival_files=3)
        assert pairs.count() == 0
        assert {"id_a", "id_b"} <= set(pairs.columns)
    finally:
        shutil.rmtree(nd_dir, ignore_errors=True)


def test_arrival_cuts_match_sorted_id_formula(spark):
    """_arrival_cuts must reproduce sorted(ids)[(N*i)//n] for i in
    1..n-1 plus max+1 BIT-FOR-BIT (the cut values are part of the
    streaming convergence contracts), for awkward shapes: fewer ids
    than files, duplicate-free scattered ids, singletons."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cardano_spark.streaming.jobs import _arrival_cuts

    @given(
        st.lists(
            st.integers(min_value=-10_000, max_value=10_000),
            min_size=0, max_size=40, unique=True,
        ),
        st.integers(min_value=1, max_value=6),
    )
    @settings(max_examples=12, deadline=None)
    def check(ids, n_files):
        df = spark.createDataFrame(
            [(i,) for i in ids], "doc_id long"
        )
        got = _arrival_cuts(df, "doc_id", n_files)
        if not ids:
            assert got is None
            return
        s = sorted(ids)
        want = [
            s[(len(s) * i) // n_files] for i in range(1, n_files)
        ] + [s[-1] + 1]
        assert got == want, (ids, n_files)

    check()


def test_paragraph_dedup_stream_converges(spark):
    """Batching-invariance at paragraph grain: the union of microbatch
    rebuilds equals batch paragraph_dedup over the full table for ANY
    arrival split (1, 3, 5 files) — including fully-claimed documents
    reported with empty rebuilds."""
    from cardano_spark.catalog import table
    from cardano_spark.operators import dedup as DD
    from cardano_spark.streaming.jobs import paragraph_dedup_stream
    from tests.conftest import SF_SMALL

    d = table(spark, SF_SMALL, "documents")
    batch = {
        r.doc_id: (r.n_paras, r.n_dropped, r.cleaned_text)
        for r in DD.paragraph_dedup(d, "doc_id", "text").collect()
    }
    assert any(v[1] > 0 for v in batch.values()), "vacuous fixture"
    for n_files in (1, 3, 5):
        rows = paragraph_dedup_stream(
            spark, SF_SMALL, n_arrival_files=n_files
        ).collect()
        got = {
            r.doc_id: (r.n_paras, r.n_dropped, r.cleaned_text)
            for r in rows
        }
        assert len(rows) == len(got), f"doc double-reported at {n_files}"
        assert got == batch, n_files


def test_paragraph_dedup_stream_empty_arrivals(spark, empty_arrival_dir):
    import os
    import shutil

    from cardano_spark.streaming.jobs import paragraph_dedup_stream

    pd_dir = empty_arrival_dir + "_noparas"
    os.makedirs(pd_dir, exist_ok=True)
    spark.read.parquet(f"{empty_arrival_dir}/documents.parquet").filter(
        F.lit(False)
    ).write.parquet(f"{pd_dir}/documents.parquet")
    try:
        out = paragraph_dedup_stream(spark, pd_dir, n_arrival_files=3)
        assert out.count() == 0
        assert out.columns == [
            "doc_id", "n_paras", "n_dropped", "cleaned_text",
        ]
    finally:
        shutil.rmtree(pd_dir, ignore_errors=True)


def test_semantic_gate_stream_batching_invariance(spark):
    """Batching-invariance for the streaming SEMANTIC gate: the
    union of microbatch flag frames equals the BATCH q190
    (semantic_dedup_incremental) for ANY arrival split (1, 3, 5
    files), flags are non-trivial, and each arrival is flagged
    exactly once."""
    from cardano_spark.plans.trainingdata import (
        q190_semantic_dedup_incremental,
    )
    from cardano_spark.streaming.jobs import semantic_gate_stream
    from tests.conftest import SF_SMALL

    batch = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in q190_semantic_dedup_incremental(spark, SF_SMALL).collect()
    }
    for n_files in (1, 3, 5):
        rows = semantic_gate_stream(
            spark, SF_SMALL, n_arrival_files=n_files
        ).collect()
        got = {r.vec_id: (r.cluster_id, r.is_dup) for r in rows}
        assert len(rows) == len(got), f"duplicate flag row at {n_files}"
        assert got == batch, n_files
    assert sum(v[1] for v in batch.values()) > 0
    assert any(v[1] == 0 for v in batch.values())


def test_semantic_gate_stream_empty_arrivals(spark, tmp_path):
    """Quiet-watermark-window case for the semantic gate: no
    vec_id >= 250 arrivals -> the empty flag frame with the stable
    schema, not an IndexError on the cut derivation."""
    from cardano_spark.catalog import table
    from cardano_spark.streaming.jobs import semantic_gate_stream
    from tests.conftest import SF_SMALL

    d = str(tmp_path / "sem_empty")
    table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 250
    ).write.parquet(f"{d}/embeddings.parquet")
    out = semantic_gate_stream(spark, d, n_arrival_files=3)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cluster_id", "is_dup"]
