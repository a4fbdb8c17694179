"""Salted-join equivalence and randomized operator invariants
(seeded — deterministic across runs)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cardano_spark.functions import text as TX
from cardano_spark.operators import dedup as DD
from cardano_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # one pathologically hot key (90% of fact rows)
    fact = spark.range(2000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    dim = spark.range(300).select(F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name"))
    plain = fact.join(dim, "k").select("row_id", "k", "v", "name")
    salted = salted_join(fact, dim, "k", F.col("row_id"), n_salts=8).select(
        "row_id", "k", "v", "name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    fact = spark.range(1000).select(
        F.col("id").alias("row_id"), F.lit(7).alias("k")
    )
    n = (
        fact.withColumn("_salt", F.pmod(F.xxhash64(F.col("row_id")), F.lit(8)))
        .select("_salt")
        .distinct()
        .count()
    )
    assert n == 8  # the single hot key lands in all salt partitions


def _random_docs(n: int, seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    return [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(n)
    ]


def test_jaccard_invariants_random(spark):
    docs = spark.createDataFrame(_random_docs(60, seed=7), "doc_id long, text string")
    pairs = DD.ngram_jaccard_pairs(
        docs.withColumn("blk", F.lit(1)),
        "doc_id",
        "blk",
        TX.distinct_tokens("text"),
        threshold=0.0,
    ).collect()
    assert len(pairs) == 60 * 59 // 2  # threshold 0 keeps every pair
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.id_a < r.id_b


def test_jaccard_strategies_are_lossless_for_positive_threshold(spark):
    # BOTH physical strategies (prefix-filter blocking and count-based
    # overlap join) must return exactly the pairs the all-pairs path
    # (t<=0 fallback) keeps above the threshold
    docs = spark.createDataFrame(_random_docs(60, seed=11), "doc_id long, text string")
    blk = docs.withColumn("blk", F.lit(1))
    sh = TX.distinct_tokens("text")
    t = 0.15
    naive = DD.ngram_jaccard_pairs(blk, "doc_id", "blk", sh, threshold=0.0).filter(
        F.col("jaccard") >= t
    )
    want = sorted((r.id_a, r.id_b, round(r.jaccard, 12)) for r in naive.collect())
    assert len(want) > 0  # the corpus actually produces pairs at this t
    for strategy in ("prefix", "count", "auto"):
        out = DD.ngram_jaccard_pairs(
            blk, "doc_id", "blk", sh, threshold=t, strategy=strategy
        )
        got = sorted((r.id_a, r.id_b, round(r.jaccard, 12)) for r in out.collect())
        assert got == want, strategy


def test_minhash_est_prefilter_semantics(spark):
    """est_prefilter contracts: rows_per_band/16 (=0.5) is a no-op
    (any band collision already agrees on 8 of 16 sig components);
    1.0 keeps only pairs whose FULL signatures agree — a subset."""
    docs = spark.createDataFrame(_random_docs(50, seed=3), "doc_id long, text string")
    sh = TX.distinct_tokens("text")
    base = sorted(
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(docs, "doc_id", sh, threshold=0.3).collect()
    )
    noop = sorted(
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(
            docs, "doc_id", sh, threshold=0.3, est_prefilter=0.5
        ).collect()
    )
    assert noop == base
    strict = sorted(
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(
            docs, "doc_id", sh, threshold=0.3, est_prefilter=1.0
        ).collect()
    )
    assert set(strict) <= set(base)


def test_simhash_depends_on_set_not_order(spark):
    # simhash over DISTINCT tokens: permuting words changes nothing
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "e d c b a"), (3, "a b c d f")],
        "doc_id long, text string",
    )
    fp = df.select(
        "doc_id", DD.simhash(DD.md5_long_arr_sexpr(TX.distinct_tokens_sexpr("text"))).alias("fp")
    )
    vals = {r.doc_id: r.fp for r in fp.collect()}
    assert vals[1] == vals[2]
    assert vals[1] != vals[3]


def test_rolling_fingerprint_is_order_sensitive(spark):
    from cardano_spark.functions.hashing import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    fp = df.select(
        "doc_id",
        rolling_fingerprint(DD.md5_long_arr(TX.tokens_sexpr("text"))).alias("fp"),
    )
    vals = {r.doc_id: r.fp for r in fp.collect()}
    assert vals[1] != vals[2]


def test_cluster_conf_sizing_rules():
    from cardano_spark.session import cluster_conf

    # 100 TB / 8000 cores / 64 GiB executors
    conf = cluster_conf(100 << 40, 8000, executor_memory_bytes=64 << 30)
    parts = int(conf["spark.sql.shuffle.partitions"])
    scan = int(conf["spark.sql.files.maxPartitionBytes"])
    bcast = int(conf["spark.sql.autoBroadcastJoinThreshold"])
    # every post-shuffle partition fits in a core's working memory
    assert (100 << 40) / parts <= (64 << 30) * 0.6
    # floor: at least 2 waves of tasks
    assert parts >= 2 * 8000
    # scan splits: >= 3 waves, bounded [16 MiB, 1 GiB]
    assert 16 << 20 <= scan <= 1 << 30
    assert (100 << 40) / scan >= 3 * 8000 * 0.9
    # broadcast cap scales with executor memory, not input
    assert bcast < (64 << 30)
    small = cluster_conf(1 << 30, 32)
    assert int(small["spark.sql.shuffle.partitions"]) == 64  # 2x cores floor
    import pytest

    with pytest.raises(ValueError):
        cluster_conf(0, 8)


def test_salted_agg_min_max_and_sum_match_plain_groupby(spark):
    import random

    import pyspark.sql.functions as F

    from cardano_spark.operators.skew import salted_agg

    rng = random.Random(5)
    rows = [(rng.choice(["a", "b"]), i, rng.randrange(1000)) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, rid long, v long")
    out = salted_agg(
        df,
        ["k"],
        [
            (F.lit(1).cast("long"), "n", "sum"),
            (F.col("v"), "v_min", "min"),
            (F.col("v"), "v_max", "max"),
        ],
        salt_source=F.col("rid"),
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("n"), F.min("v").alias("v_min"), F.max("v").alias("v_max")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    import pytest

    with pytest.raises(ValueError):
        salted_agg(df, ["k"], [(F.col("v"), "x", "avg")], F.col("rid"))


def test_cluster_conf_small_cluster_per_core_memory():
    """A 12-core cluster with (default) 8-core executors divides ONE
    executor's memory by 8, not by all 12 cluster cores — the old
    approximation inflated shuffle.partitions ~1.5x there (ADVICE r4).
    A cluster smaller than one executor divides by what it has."""
    import pytest

    from cardano_spark.session import cluster_conf

    mem, frac = 16 << 30, 0.6
    conf12 = cluster_conf(10 << 40, 12, executor_memory_bytes=mem)
    per_core = mem * frac / 8
    assert int(conf12["spark.sql.shuffle.partitions"]) == int(
        (10 << 40) // int(per_core)
    )
    tiny = cluster_conf(1 << 40, 4, executor_memory_bytes=mem)
    assert int(tiny["spark.sql.shuffle.partitions"]) == int(
        (1 << 40) // int(mem * frac / 4)
    )
    with pytest.raises(ValueError):
        cluster_conf(1 << 30, 8, cores_per_executor=0)
