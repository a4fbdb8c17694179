"""Repository benchmark: ETL and analytics workloads, timed end to end
and, in a separate traced run, per layer.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the ``end_to_end`` metrics of BENCHMARK.json,
``--trace 1`` the ``per_layer`` ones. The line before it records the
environment, the seed and the workload's output digest. Everything the
run writes goes under ``.perfbench/`` in the checkout and is removed
at exit. See perfbench/README.md for the workloads and the metric →
layer → workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Process environment for the Spark session, set before pyspark is
    imported: executors must import the generator transport and the
    program, and scratch space must stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the module caches its first lookup
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _git_rev() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
            check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def _environment(seed: int, spark_version: str) -> dict:
    import pyspark

    return {
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark_version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_rev": _git_rev(),
        "seed": seed,
    }


def _workload_class(name: str):
    if name == "etl_incremental":
        from perfbench.etl import EtlIncremental

        return EtlIncremental
    if name == "analytics":
        from perfbench.analytics import Analytics

        return Analytics
    raise ValueError(f"unknown workload {name!r}")


def _stop(spark) -> None:
    """Stop the session and the Spark JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(
    workload: str,
    seed: int,
    seconds: float,
    traced: bool,
    scale: str = "bench",
    t_start: float | None = None,
    **inject,
) -> tuple[dict, dict]:
    """One benchmark run; returns (result, info). ``inject`` passes a
    replacement ``transport`` (ETL) or ``queries`` registry (analytics)
    through to the workload — the self-test's fault injection."""
    t_start = time.perf_counter() if t_start is None else t_start
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    cls = _workload_class(workload)
    work = os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        values, counts, info = _measure(cls, work, seed, seconds, traced, scale, t_start, inject)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        if m["name"] not in values and not traced:
            raise KeyError(f"end-to-end metric {m['name']} not measured")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    result = {
        "correct": not info["errors"],
        "attempted": counts[0],
        "failed": counts[1],
        "metrics": metrics,
    }
    env = _environment(seed, info.pop("spark"))
    info = {"workload": workload, "environment": env, **info}
    return result, info


def _measure(cls, work, seed, seconds, traced, scale, t_start, inject):
    from cardano_spark.session import get_spark
    from perfbench import harness
    from perfbench import trace as T

    event_dir = os.path.join(work, "eventlog")
    extra = None
    if traced:
        os.makedirs(event_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    steal0 = harness.steal_share()
    spark = get_spark(f"perfbench-{cls.name}", extra_conf=extra)
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        spark_version = spark.version
        w = cls(spark, work, seed, harness.SIZES[scale], **inject)
        w.setup()
        setup_s = time.perf_counter() - t_start

        loop = harness.Loop(spark)
        times, n = loop.region(w, seconds)
        errors: list[str] = []
        attempted, failed = loop.attempted, loop.failed
        if traced:
            w.mark()
            tracer = T.Tracer(spark)
            tracer_loop = harness.Loop(spark, tracer)
            w.tracer = tracer
            tracer.install()
            try:
                tracer_loop.region(w, None, cycles=n)
            finally:
                tracer.uninstall()
                w.tracer = None
            attempted += tracer_loop.attempted
            failed += tracer_loop.failed
            if tracer_loop.jobs != loop.jobs:
                errors.append(
                    f"traced region fired {tracer_loop.jobs} Spark jobs, "
                    f"untraced {loop.jobs}"
                )
        rss = harness.peak_rss_mb(jvm_pid)
        t_check = time.perf_counter()
        errors += w.check()
        if not traced:
            values = harness.end_to_end(w, times, setup_s)
        digest = w.digest()
        check_s = time.perf_counter() - t_check
    finally:
        _stop(spark)
    steal = harness.steal_share()
    if traced:
        # the event log is complete only once the context has stopped
        events = T.read_event_log(event_dir, tracer)
        values = harness.per_layer(
            w, tracer, events, tracer_loop, n, tracer_loop.op_s - loop.op_s, rss
        )
    info = {
        "spark": spark_version,
        "cycles": n,
        "op_s": {k: [round(x, 3) for x in v] for k, v in times.items()},
        # CPU time the hypervisor gave to other guests, as a share of
        # all CPU time during the run: runs with a few percent of it
        # are markedly slower on a shared host
        "steal_pct": round(100.0 * (steal[0] - steal0[0]) / max(steal[1] - steal0[1], 1), 2),
        "digest": digest,
        # wall seconds of the untimed parts, for sizing the schedule
        "check_s": round(check_s, 3),
        "errors": errors,
    }
    return values, (attempted, failed), info


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    for need in (
        "cardano_spark/pipelines/cardano.py",
        "bench.py",
        "__spark_entry__.py",
        "tools/check_correctness.py",
    ):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    try:
        result, info = execute(
            args.workload, args.seed, args.seconds, bool(args.trace), t_start=t_start
        )
    except Exception:  # noqa: BLE001 - a failed set-up or check run reports no result
        traceback.print_exc()
        return 1
    for e in info["errors"]:
        print(f"correctness: {e}", file=sys.stderr)
    sys.stderr.flush()
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
