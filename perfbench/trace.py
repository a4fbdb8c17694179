"""Spans around the program's layers, recorded from the benchmark side.

Only the traced run (``--trace 1``) installs any of this. It wraps the
public functions each layer exposes — module attributes and class
methods, swapped for the run and restored after — so the program
source stays untouched:

- every span gets its own Spark job group, so the event log (turned on
  for the traced run only) attributes each job, stage and task to the
  innermost span that fired it;
- py4j round trips are counted by wrapping the gateway client's
  ``send_command``;
- layer-side counts (rows offered and inserted, buckets rewritten,
  files scanned) come from parquet footers and the filesystem, never
  from a Spark action, so tracing adds no job.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

#: layers whose Spark work is reported apart; a span's layer is its
#: first dotted component, except that the cardano stage spans split
#: into E1 and E2
LAYERS = (
    "cardano_e1",
    "cardano_e2",
    "transforms",
    "merge",
    "watermark",
    "plans",
    "corpus",
    "dedup",
    "shards",
)


def layer_of(name: str) -> str:
    if name.startswith("cardano.e1"):
        return "cardano_e1"
    if name.startswith("cardano.e2"):
        return "cardano_e2"
    return name.split(".", 1)[0]


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "_bucket=*", "*.parquet"))


def table_rows(path: str) -> int:
    """Row count of a merge-sink table from its parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def file_states(path: str, pattern: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of each file under ``path`` matching ``pattern``."""
    out = {}
    for f in glob.glob(os.path.join(path, pattern)):
        st = os.stat(f)
        out[os.path.relpath(f, path)] = (st.st_size, st.st_mtime_ns)
    return out


def _bucket_files(path: str) -> dict[str, frozenset[str]]:
    out = {}
    for d in glob.glob(os.path.join(path, "_bucket=*")):
        out[os.path.basename(d)] = frozenset(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )
    return out


class Tracer:
    """Spans, counters and the monkey-patches that feed them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._n = 0
        self._own_calls = 0
        self.py4j_calls = 0
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)

    # ------------------------------------------------------------- spans
    def _set_group(self, gid: str | None) -> None:
        self._own_calls += 1
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str):
        self._n += 1
        rec = {
            "id": f"pb-{self._n}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "child_s": 0.0,
        }
        self._stack.append(rec)
        self._set_group(rec["id"])
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            dur = rec["t1"] - rec["t0"]
            rec["self_s"] = dur - rec["child_s"]
            if self._stack:
                self._stack[-1]["child_s"] += dur
            self._set_group(self._stack[-1]["id"] if self._stack else None)
            self.spans.append(rec)

    @contextmanager
    def accounting(self):
        """Benchmark-side counting inside a span: charged to no layer
        (the enclosing span's self time excludes it) but still part of
        the traced run's overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self._stack:
                self._stack[-1]["child_s"] += time.perf_counter() - t0

    # ----------------------------------------------------------- patching
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _wrap(self, owner, attr: str, span_name: str):
        tracer = self

        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(span_name):
                    return orig(*a, **kw)

            return wrapped

        self._patch(owner, attr, make)

    def install(self) -> None:
        from cardano_spark.operators import dedup
        from cardano_spark.pipelines import cardano, corpus, transforms
        from cardano_spark.sinks.merge import ParquetMergeSink
        from cardano_spark.watermark import ParquetWatermarkStore

        tracer = self
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*a, **kw):
            if tracer._own_calls:
                tracer._own_calls -= 1
            else:
                tracer.py4j_calls += 1
            return send(*a, **kw)

        self._patches.append((client, "send_command", send))
        client.send_command = counted_send

        for fn in (
            "batch_created_at",
            "blocks_raw_to_table",
            "block_transactions_raw_to_table",
            "transactions_raw_to_table",
            "tx_output_amount_table",
            "flatten_tx_utxo",
        ):
            self._wrap(transforms, fn, "transforms")
        self._wrap(cardano, "fetch_json_map", "http_fetch")
        self._wrap(dedup, "incremental_minhash_pairs", "dedup")
        # the corpus pipeline calls its exporters through its own names
        self._wrap(corpus, "write_training_shards_incremental", "shards")
        self._wrap(corpus, "write_training_shards_delta", "shards")
        self._wrap(ParquetWatermarkStore, "read_latest", "watermark.read")
        self._wrap(ParquetWatermarkStore, "upsert", "watermark.upsert")

        def make_scan(orig):
            def scan(spark, path, schema, modified_after=None):
                with tracer.accounting():
                    tracer._count_scan(path, modified_after)
                with tracer.span("files.scan"):
                    return orig(spark, path, schema, modified_after)

            return scan

        self._patch(cardano, "read_json_zone", make_scan)

        def make_merge(orig):
            def merge(sink, incoming, mode="insert"):
                with tracer.accounting():
                    before = _bucket_files(sink.path)
                    rows0 = table_rows(sink.path)
                with tracer.span("merge"):
                    orig(sink, incoming, mode)
                with tracer.accounting():
                    after = _bucket_files(sink.path)
                    rows1 = table_rows(sink.path)
                    touched = [b for b, fs in after.items() if before.get(b) != fs]
                    written = sum(
                        os.path.getsize(os.path.join(sink.path, b, f))
                        for b in touched
                        for f in after[b]
                    )
                    tracer.counts["merge.calls"] += 1
                    tracer.counts["merge.rows_inserted"] += rows1 - rows0
                    tracer.counts["merge.buckets_touched"] += len(touched)
                    tracer.counts["merge.bytes_written"] += written
                    if rows1:
                        tracer.counts["merge.bytes_inserted"] += (
                            (rows1 - rows0) * table_bytes(sink.path) / rows1
                        )

            return merge

        self._patch(ParquetMergeSink, "merge", make_merge)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _count_scan(self, path: str, modified_after: datetime | None) -> None:
        """Files and bytes an incremental scan will read: Spark's
        ``modifiedAfter`` keeps files strictly newer than the watermark
        formatted to whole seconds (``sources/files.py::_fmt``)."""
        cut = None
        if modified_after is not None:
            cut = modified_after.replace(microsecond=0, tzinfo=timezone.utc).timestamp()
        n = size = 0
        for f in glob.glob(os.path.join(path, "*")):
            if os.path.basename(f).startswith((".", "_")):
                continue
            st = os.stat(f)
            if cut is None or st.st_mtime > cut:
                n += 1
                size += st.st_size
        self.samples["files.scan_files"].append(n)
        self.samples["files.scan_bytes"].append(size)

    # ----------------------------------------------------------- readout
    def self_times(self, prefix: str) -> list[float]:
        return [s["self_s"] for s in self.spans if s["name"] == prefix]

    def total(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


def read_event_log(log_dir: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Sum task metrics per layer from an uncompressed, non-rolling
    Spark event log. Jobs map to spans through their job group; a
    stage counts once, under the first job that ran it."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    span_layer = {s["id"]: layer_of(s["name"]) for s in tracer.spans}
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    layer = span_layer.get(gid)
                    if layer is None:
                        continue
                    out[layer]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_layer.setdefault(sid, layer)
                elif '"SparkListenerStageCompleted"' in line:
                    ev = json.loads(line)
                    layer = stage_layer.get(ev["Stage Info"]["Stage ID"])
                    if layer is not None and "Submission Time" in ev["Stage Info"]:
                        out[layer]["stages"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    layer = stage_layer.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    agg = out[layer]
                    agg["tasks"] += 1
                    agg["task_s"] += m["Executor Run Time"] / 1000.0
                    agg["gc_s"] += m["JVM GC Time"] / 1000.0
                    agg["shuffle_write_bytes"] += m["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"
                    ]
                    agg["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return out
