"""q137 cluster-safe split: the zero-leakage contract and the
q41-compatibility of the singleton majority."""
from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_cluster_safe_split_has_zero_leaking_pairs(spark):
    """The q132 audit, re-run against q137's assignment: every
    verified near-dup pair must land in ONE split — the property the
    per-document q41 split provably lacks (q132 measures its leaks)."""
    from cardano_spark.functions import text as TX
    from cardano_spark.operators import dedup as DD
    from cardano_spark.catalog import table
    from cardano_spark.plans.trainingdata import q137_cluster_safe_split

    assign = q137_cluster_safe_split(spark, SF_SMALL)
    d = table(spark, SF_SMALL, "documents")
    pairs = DD.minhash_lsh_pairs(
        d, "doc_id", TX.distinct_tokens("text"), threshold=0.8
    )
    leaks = (
        pairs.join(
            assign.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")),
            "id_a",
        )
        .join(
            assign.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert pairs.count() > 0, "fixture must exercise the near-dup path"
    assert leaks.count() == 0


def test_cluster_members_share_one_split(spark):
    from cardano_spark.plans.trainingdata import q137_cluster_safe_split

    assign = q137_cluster_safe_split(spark, SF_SMALL)
    mixed = (
        assign.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
    )
    assert mixed.count() == 0


def test_singletons_match_q41_rule(spark):
    """Docs in no near-dup cluster keep cluster_id = doc_id, so their
    split is exactly q41's per-document hash rule — the two splits
    agree on the untouched majority of the corpus."""
    from cardano_spark.plans.trainingdata import (
        q41_stratified_split,
        q137_cluster_safe_split,
    )

    assign = q137_cluster_safe_split(spark, SF_SMALL)
    singles = assign.filter(F.col("cluster_id") == F.col("doc_id"))
    q41 = q41_stratified_split(spark, SF_SMALL).select("doc_id", "split")
    disagree = (
        singles.select("doc_id", F.col("split").alias("s_new"))
        .join(q41, "doc_id")
        .filter(F.col("s_new") != F.col("split"))
    )
    assert singles.count() > 0
    assert disagree.count() == 0
