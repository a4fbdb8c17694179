"""The bench contamination self-arrest (r9 verdict task 6): bench.py
retries a suspect query once and names still-noisy queries in the
artifact's "contaminated" list, so a loaded machine flags itself
instead of needing a forensic idle rerun. The heuristic is pure —
pinned here on the exact r9 forensic examples."""

from __future__ import annotations

import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

bench = importlib.import_module("bench")


def test_noisy_flags_the_r9_forensic_examples():
    # q33 r9: 1.839 vs 0.329 — the canonical contaminated pair
    assert bench._noisy([1.839, 0.329], None)
    # q10 r9: 3.675 vs 1.292
    assert bench._noisy([3.675, 1.292], None)
    # q09 r9: BOTH samples inflated ~3 s; samples agree, but the
    # previous round's committed min (0.45) exposes it
    assert bench._noisy([2.909, 3.1], 0.45)
    # clean pairs don't flag
    assert not bench._noisy([0.41, 0.45], 0.45)
    assert not bench._noisy([1.0, 1.4], 0.9)


def test_noisy_retry_exonerates_a_transient_spike():
    """After the extra pass, the TWO BEST samples vote: a one-off
    spike (first run 1.9 s, retries 0.33/0.35 s) is exonerated; a
    persistently loaded query (all runs inflated vs prev) stays
    flagged."""
    assert bench._noisy([1.9, 0.33], None)  # suspect before retry
    assert not bench._noisy([1.9, 0.33, 0.35], None)  # exonerated
    assert bench._noisy([3.0, 2.9, 3.1], 0.45)  # loaded machine


def test_noise_floor_ignores_fast_query_jitter():
    # 2x disagreement under 0.5 s is scheduler noise, not load
    assert not bench._noisy([0.42, 0.18], None)
    assert not bench._noisy([0.12, 0.3], 0.05)


def test_prev_round_minima_reads_newest_bench_artifact():
    prev = bench._prev_round_minima()
    # the repo carries BENCH_r01..r09 — the newest one wins and its
    # per-query minima come back as floats
    assert prev, "no BENCH_r*.json found in repo root"
    assert all(isinstance(v, float) for v in prev.values())
    assert "q01_pricing_summary" in prev


def test_prev_round_minima_excludes_current_round_artifact(tmp_path, monkeypatch):
    """r10 ADVICE: once the driver writes BENCH_r{N}.json mid-round,
    later bench runs in round N must NOT self-compare (lo > 2*lo is
    never true — the contamination reference would silently die).
    The active round comes from window_history.json; artifacts with
    N >= it are skipped. Runs against a temporary repo root holding
    the window history and the newest eligible artifact, so the
    outcome does not depend on which artifacts the checkout carries."""
    import re
    import shutil

    real_cur = bench._current_round()
    artifacts = {
        int(m.group(1)): name
        for name in os.listdir(bench.REPO)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", name))
    }
    plans = tmp_path / "cardano_spark" / "plans"
    plans.mkdir(parents=True)
    shutil.copy(
        os.path.join(bench.REPO, "cardano_spark", "plans", "window_history.json"),
        plans / "window_history.json",
    )
    newest = artifacts[max(n for n in artifacts if n < real_cur)]
    shutil.copy(os.path.join(bench.REPO, newest), tmp_path / newest)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))

    cur = bench._current_round()
    assert isinstance(cur, int) and cur >= 2, (
        "window_history.json must carry the active round"
    )

    prev_rounds = [
        int(m.group(1))
        for name in os.listdir(bench.REPO)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", name))
    ]
    assert prev_rounds, "no BENCH_r*.json found"
    # whatever artifacts exist, the reference only uses N < current
    eligible = [n for n in prev_rounds if n < cur]
    if eligible:
        assert bench._prev_round_minima(), "eligible artifact ignored"
    # forge a current-round artifact and prove it is not consulted:
    # the minima must be identical with and without it
    import json

    forged = os.path.join(bench.REPO, f"BENCH_r{cur}.json")
    assert not os.path.exists(forged), (
        "test precondition: current-round artifact should not be "
        "committed mid-round"
    )
    before = bench._prev_round_minima()
    try:
        with open(forged, "w") as f:
            json.dump(
                {"queries": {"q01_pricing_summary": 0.000001}}, f
            )
        after = bench._prev_round_minima()
    finally:
        os.remove(forged)
    assert after == before
    assert after.get("q01_pricing_summary", 1.0) > 0.000001
