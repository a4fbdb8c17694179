"""Estimator-quality invariants for the sketch suite (KMV q54 / HLL
q74 / CMS q86): error bounds on randomized (seeded) inputs, and the
structural one-sidedness CMS guarantees."""

from __future__ import annotations

import math
import random

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL

QUERIES = entrymod.queries()


def _hll_estimate(spark, ids: list[int]) -> float:
    """Run the q74 register pipeline over an arbitrary id list and
    apply the standard small-range correction in the test."""
    from cardano_spark.functions.hashing import md5_long, shl1
    from cardano_spark.plans.queries import (
        HLL_M,
        _HLL_REM_BITS,
        _HLL_REM_MASK,
    )

    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    h = md5_long("CAST(user_id AS STRING)")
    rem = h.bitwiseAND(F.lit(_HLL_REM_MASK))
    w = F.when(rem == 0, F.lit(1).cast("long")).otherwise(
        shl1(F.length(F.bin(rem)))
    )
    regs = (
        df.select(
            F.shiftrightunsigned(h, _HLL_REM_BITS).alias("reg"), w.alias("w")
        )
        .groupBy("reg")
        .agg(F.min("w").alias("mw"))
        .collect()
    )
    m = HLL_M
    scale = 1 << (_HLL_REM_BITS + 1)
    z = sum(r["mw"] for r in regs) + (m - len(regs)) * scale
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m * scale / z
    if raw <= 2.5 * m and len(regs) < m:
        return m * math.log(m / (m - len(regs)))
    return raw


def test_hll_relative_error_within_bound(spark):
    rng = random.Random(3)
    for n in (200, 2000, 20000):
        ids = rng.sample(range(10**9), n)
        # duplicates must not move the estimate
        est = _hll_estimate(spark, ids + ids[: n // 3])
        # 512 registers: std err ~4.6%; allow 4 sigma
        assert abs(est - n) / n < 0.2, (n, est)


def test_cms_estimates_are_one_sided(spark):
    rows = QUERIES["q86_countmin_heavy_hitters"](spark, SF_SMALL).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["est_n"] >= r["true_n"]  # CMS never underestimates
        assert r["bias"] == r["est_n"] - r["true_n"]


def test_kmv_estimate_tracks_truth(spark):
    row = QUERIES["q54_kmv_distinct_sketch"](spark, SF_SMALL).collect()[0]
    truth = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    if truth < row["k"]:
        # fewer distincts than sketch slots: the sketch holds every
        # hash, the estimate is EXACT (small-range branch)
        assert row["n_retained"] == truth
        assert row["est_distinct"] == truth
    else:
        assert abs(row["est_distinct"] - truth) / truth < 0.3
