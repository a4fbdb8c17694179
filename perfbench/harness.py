"""Closed-loop runner shared by the workloads.

One client: each operation starts when the previous one returned. An
operation is one stage call, one query or one drop; a workload groups
them into a cycle of ``main`` and ``side`` ops (see the workload
modules) and the timed region repeats cycles until ``seconds`` have
passed, always finishing the cycle it is in. Only the operations
themselves are timed; the footer and filesystem accounting between
them is not.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback

from perfbench import trace as T

#: input sizes per scale; ``tiny`` is for the self-test
SIZES = {
    "bench": {
        "backfill_blocks": 30,
        "window_blocks": 100,
        "scale": 1.0,
        "drop_docs": 50,
    },
    "tiny": {
        "backfill_blocks": 20,
        "window_blocks": 10,
        "scale": 0.1,
        "drop_docs": 20,
    },
}


def plain(name: str, thunk):
    """Op runner for set-up: no timing, no accounting."""
    return thunk()


class Loop:
    """Attempt/failure accounting and per-op timing."""

    def __init__(self, spark, tracer: T.Tracer | None = None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.op_s = 0.0
        #: Spark jobs fired per op kind
        self.jobs: dict[str, int] = {}
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def run(self, name: str, thunk):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                return thunk()
            with self.tracer.span(name):
                return thunk()
        except Exception:
            self.failed += 1
            raise
        finally:
            self.op_s += time.perf_counter() - t0

    def _jobs(self) -> int:
        """Jobs submitted so far, read from the scheduler without
        running one (the py4j call is not charged to the program)."""
        if self.tracer is not None:
            self.tracer._own_calls += 1
        return int(self._dag.nextJobId())

    def region(self, workload, seconds: float | None, cycles: int | None = None):
        """Run cycles until ``seconds`` elapsed (or exactly ``cycles``).
        Returns {kind: [op seconds]} and the number of cycles run."""
        times: dict[str, list[float]] = {workload.main: [], workload.side: []}
        t_end = time.perf_counter() + (seconds or 0)
        n = 0
        while (cycles is None and (n == 0 or time.perf_counter() < t_end)) or (
            cycles is not None and n < cycles
        ):
            for kind, op in workload.cycle():
                before_s, before_fail = self.op_s, self.failed
                jobs0 = self._jobs()
                try:
                    op(self.run)
                except Exception:
                    if self.failed == before_fail:  # raised outside run()
                        self.attempted += 1
                        self.failed += 1
                    traceback.print_exc(file=sys.stderr)
                    continue
                finally:
                    self.jobs[kind] = self.jobs.get(kind, 0) + self._jobs() - jobs0
                times[kind].append(self.op_s - before_s)
            n += 1
        return times, n


def steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def peak_rss_mb(jvm_pid: int) -> float:
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return (hwm(jvm_pid) + hwm("self")) / 1024.0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, times, setup_s: float) -> dict[str, float]:
    """Median op time per kind; a kind that runs once per cycle (the
    ETL window, the query suite, the corpus drop) is already a sum of
    many calls, so a short burst of load moves it little."""
    return {
        "setup_s": setup_s,
        "main_p50_s": median(times[workload.main]),
        "side_p50_s": median(times[workload.side]),
    }


def per_layer(workload, tracer, events, loop, n_cycles: int, overhead_s: float, rss: float):
    """Per-layer readings of the traced region, per cycle where a
    count accumulates; the workload adds its own layers' readings."""
    per = max(n_cycles, 1)
    m: dict[str, float] = {}
    totals = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes"), 0.0
    )
    for agg in events.values():
        for k in totals:
            totals[k] += agg.get(k, 0.0)
    for k, v in totals.items():
        m[f"spark.{k}"] = v / per
    for layer in T.LAYERS:
        m[f"spark.{layer}.task_s"] = events.get(layer, {}).get("task_s", 0.0) / per
        m[f"spark.{layer}.jobs"] = events.get(layer, {}).get("jobs", 0.0) / per
    m["py4j.calls"] = tracer.py4j_calls / per
    m["trace.overhead_s"] = overhead_s
    m["memory.peak_rss_mb"] = rss
    for k in ("read", "upsert"):
        n = tracer.calls(f"watermark.{k}")
        m[f"watermark.{k}_s"] = tracer.total(f"watermark.{k}") / n if n else 0.0
    c = tracer.counts
    merges = c["merge.calls"]
    m["merge.s"] = tracer.total("merge") / merges if merges else 0.0
    m["merge.rows_inserted"] = c["merge.rows_inserted"] / per
    m["merge.buckets_touched"] = c["merge.buckets_touched"] / merges if merges else 0.0
    m["merge.bytes_written_per_byte_inserted"] = (
        c["merge.bytes_written"] / c["merge.bytes_inserted"] if c["merge.bytes_inserted"] else 0.0
    )
    m.update(workload.layer_metrics(tracer, loop, n_cycles))
    return m
