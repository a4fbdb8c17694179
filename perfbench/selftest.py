"""Self-test of the benchmark at a tiny size (a few minutes at 4 CPUs).

    python3 perfbench/selftest.py

Checks, each through a full in-process benchmark run:

1. every declared end-to-end metric is emitted with its unit, on both
   workloads, and every per-layer metric in a traced run;
2. a transport that drops one transaction from one block's tx list
   fails the ETL correctness check;
3. an operation that raises is counted in ``failed`` and the run still
   reports a result;
4. the generator's seeded transient failures are retried (attempts
   exceed requests) and the corpus drops are counted per layer;
5. the output digests (ETL table contents; query outputs and shard
   manifest) repeat across two runs of one seed.

Exits 0 when all pass.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.gen import BlockfrostGenerator  # noqa: E402


class DroppingTransport(BlockfrostGenerator):
    """Loses the last tx of the first block that lists two or more."""

    def route(self, url: str) -> bytes:
        parts = url.rstrip("/").split("/")
        if parts[-1] == "txs" and parts[-3] == "blocks":
            hashes = self.tx_hashes(int(parts[-2]))
            if len(hashes) >= 2 and int(parts[-2]) == self._victim():
                hashes = hashes[:-1]
            return json.dumps(hashes).encode()
        return super().route(url)

    def _victim(self) -> int:
        h = self.start_height
        while self.tx_count(h) < 2:
            h += 1
        return h


def _raising_queries():
    import __spark_entry__

    registry = dict(__spark_entry__.queries())
    name = "q01_pricing_summary"
    inner = registry[name]
    calls = {"n": 0}

    def flaky(spark, sf_dir):
        calls["n"] += 1
        if calls["n"] == 2:  # the warm-up passes, the first timed call raises
            raise RuntimeError("injected failure")
        return inner(spark, sf_dir)

    registry[name] = flaky
    return registry


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    failures: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    e2e = _declared("end_to_end")
    layers = _declared("per_layer")

    digests: dict[str, list[str]] = {"etl_incremental": [], "analytics": []}
    for workload in ("etl_incremental", "analytics"):
        res, info = run.execute(workload, 5, 0.1, False, scale="tiny")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(res["correct"], f"{workload}: correct ({info['errors']})")
        expect(got == e2e, f"{workload}: every end-to-end metric with its unit")
        expect(
            all(v["value"] > 0 for v in res["metrics"].values()),
            f"{workload}: end-to-end metrics are non-zero",
        )
        digests[workload].append(info["digest"])

    gen = BlockfrostGenerator(5)
    res, info = run.execute("etl_incremental", 5, 0.1, False, scale="tiny", transport=gen)
    expect(res["correct"], f"etl_incremental, second run: correct ({info['errors']})")
    expect(
        gen.attempts.value > gen.requests.value > 0,
        f"transient failures retried ({gen.attempts.value} attempts, "
        f"{gen.requests.value} requests)",
    )
    digests["etl_incremental"].append(info["digest"])

    res, info = run.execute("analytics", 5, 0.1, True, scale="tiny")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    expect(res["correct"], f"traced analytics: correct ({info['errors']})")
    expect(got == layers, "traced: every per-layer metric with its unit")
    m = res["metrics"]
    for k in ("corpus.jobs_per_drop", "corpus.rows_in", "shards.files_rewritten", "spark.shards.jobs"):
        expect(m[k]["value"] > 0, f"corpus drops counted: {k} = {m[k]['value']}")

    res, info = run.execute("etl_incremental", 5, 0.1, True, scale="tiny")
    expect(res["correct"], f"traced etl_incremental: correct ({info['errors']})")
    m = res["metrics"]
    expect(m["http_fetch.requests"]["value"] > 0, "executor-side fetch counter is non-zero")
    expect(m["cardano.jobs_per_window"]["value"] > 0, "jobs per window counted")
    expect(m["spark.tasks"]["value"] > 0, "event log parsed")

    res, info = run.execute(
        "etl_incremental",
        5,
        0.1,
        False,
        scale="tiny",
        transport=DroppingTransport(5),
    )
    expect(not res["correct"], "a dropped tx fails the ETL correctness check")
    expect(
        any("cardano_transactions" in e for e in info["errors"]),
        f"the failure names the short table ({info['errors'][:2]})",
    )

    res, info = run.execute(
        "analytics", 5, 0.1, False, scale="tiny", queries=_raising_queries()
    )
    expect(res["failed"] == 1, f"a raising query is counted as failed ({res['failed']})")
    expect(res["attempted"] > res["failed"], "the run went on after the failure")
    # same seed: the checked outputs, and so the digest, match the first run
    digests["analytics"].append(info["digest"])
    for workload, ds in digests.items():
        expect(len(set(ds)) == 1, f"{workload}: output digest repeats across runs {ds}")

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
