"""Empty-input robustness: every pair/similarity/dedup operator must
return an EMPTY frame (not raise, not divide by zero) when its input
slice is empty — the situation every incremental run hits on a quiet
watermark window."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cardano_spark.catalog import table
from cardano_spark.functions import text as TX
from cardano_spark.operators import dedup as DD
from cardano_spark.operators import multimodal as MM
from cardano_spark.operators import similarity as SIM
from cardano_spark.operators.relational import asof_join_prev, range_join_count
from tests.conftest import SF_SMALL


@pytest.fixture()
def no_docs(spark):
    return table(spark, SF_SMALL, "documents").filter(F.lit(False))


def test_dedup_operators_on_empty_corpus(spark, no_docs):
    sh = TX.distinct_tokens("text")
    assert DD.exact_dedup_groups(no_docs, "doc_id", "text").count() == 0
    assert DD.minhash_lsh_pairs(no_docs, "doc_id", sh, threshold=0.5).count() == 0
    for strategy in ("prefix", "count"):
        assert (
            DD.ngram_jaccard_pairs(
                no_docs, "doc_id", "lang", sh, threshold=0.3, strategy=strategy
            ).count()
            == 0
        )
    fp = DD.simhash(DD.md5_long_arr_sexpr(TX.distinct_tokens_sexpr("text")))
    assert DD.simhash_pairs(no_docs, "doc_id", fp, max_hamming=8).count() == 0


def test_similarity_operators_on_empty_corpus(spark):
    emb = table(spark, SF_SMALL, "embeddings")
    empty = emb.filter(F.lit(False))
    # empty corpus, non-empty probes
    probes = emb.limit(2)
    assert SIM.brute_force_topk(empty, probes, "vec_id", "embedding", k=3).count() == 0
    # non-empty corpus, empty probes
    assert SIM.brute_force_topk(emb, empty, "vec_id", "embedding", k=3).count() == 0


def test_relational_operators_on_empty_sides(spark):
    ev = table(spark, SF_SMALL, "events")
    empty = ev.filter(F.lit(False))
    views = ev.filter(F.col("event_type") == "view")
    # empty left: no rows out; empty right: left rows with NULL match
    out = asof_join_prev(
        empty.select("user_id", "ts", "event_id"),
        views.select("user_id", "ts", "event_id"),
        on=["user_id"],
        order=["ts", "event_id"],
        carry=["event_id"],
    )
    assert out.count() == 0
    clicks = ev.filter(F.col("event_type") == "click").limit(5)
    out2 = range_join_count(
        clicks.select("user_id", "ts", "event_id"),
        empty.select("user_id", "ts"),
        on=["user_id"],
        left_point_us=F.unix_micros("ts"),
        right_point_us=F.unix_micros("ts"),
        window_us=600 * 1_000_000,
    )
    assert out2.count() == 5  # zero-match rows kept with count 0
    assert out2.agg(F.max("n_in_range")).collect()[0][0] == 0


def test_multimodal_on_empty_ids(spark, no_docs):
    assert MM.image_resize_features(no_docs, 8, 4).count() == 0
    assert MM.audio_frame_sample_features(no_docs, 4).count() == 0
    assert MM.decode_media_features(MM.synthesize_media(no_docs)).count() == 0


def test_round4_operators_on_empty_inputs(spark, no_docs):
    from cardano_spark.operators import curation as CU
    from cardano_spark.operators.dedup import cluster_representatives
    from cardano_spark.operators.relational import (
        scd2_from_changelog,
        snapshot_diff,
    )
    from cardano_spark.operators.similarity import quantized_rerank_topk

    sh = TX.ngram_shingles(F.col("text"), 2)

    # cluster representatives over no members
    empty_members = spark.createDataFrame(
        [], "cluster_id long, doc_id long, score double"
    )
    assert cluster_representatives(empty_members).count() == 0

    # bloom contamination: empty corpus AND empty benchmark
    docs = table(spark, SF_SMALL, "documents").limit(5)
    assert (
        CU.bloom_contamination(no_docs, docs, "doc_id", sh, sh, m_bits=1 << 10)
        .count()
        == 0
    )
    out = CU.bloom_contamination(
        docs, no_docs, "doc_id", sh, sh, m_bits=1 << 10
    ).collect()
    assert len(out) == 5 and all(r["n_hits"] == 0 for r in out)

    # boilerplate over empty corpus
    assert CU.boilerplate_spans(no_docs, "doc_id", sh, min_df=2).count() == 0

    # SCD2 over an empty change log
    empty_log = spark.createDataFrame([], "k long, ts long, v string")
    assert scd2_from_changelog(empty_log, ["k"], "ts", ["v"]).count() == 0

    # snapshot diff: both sides empty / one side empty
    e = spark.createDataFrame([], "k long, v string")
    full = spark.createDataFrame([(1, "a")], "k long, v string")
    assert snapshot_diff(e, e, ["k"], ["v"]).count() == 0
    assert {
        r["change_type"]
        for r in snapshot_diff(e, full, ["k"], ["v"]).collect()
    } == {"added"}
    assert {
        r["change_type"]
        for r in snapshot_diff(full, e, ["k"], ["v"]).collect()
    } == {"removed"}

    # quantized rerank with no queries and no corpus
    emb = table(spark, SF_SMALL, "embeddings")
    no_vecs = emb.filter(F.lit(False))
    assert (
        quantized_rerank_topk(emb, no_vecs, "vec_id", "embedding", 3, 10).count()
        == 0
    )
    assert (
        quantized_rerank_topk(no_vecs, emb.limit(2), "vec_id", "embedding", 3, 10)
        .count()
        == 0
    )


def test_round6_session2_operators_on_empty_inputs(spark, no_docs):
    """The session's new operators on empty slices: per-row reports
    return empty, the maintenance report survives an EMPTY ARRIVAL
    BATCH (the quiet-watermark case — every cluster reports n_new=0,
    growth 0), and batching/PRF degrade to empty rather than raise."""
    from cardano_spark.operators import curation as CU

    e = table(spark, SF_SMALL, "embeddings")
    no_vecs = e.filter(F.lit(False))

    assert CU.gopher_quality_flags(no_docs, "doc_id", "text").count() == 0
    assert (
        DD.winnowing_contamination(
            no_docs, no_docs, "doc_id", "text"
        ).count()
        == 0
    )
    # empty bench: nothing is contaminated, every doc still reported
    d = table(spark, SF_SMALL, "documents").limit(5)
    rows = DD.winnowing_contamination(
        d, no_docs, "doc_id", "text"
    ).collect()
    assert len(rows) == 5 and all(r.contaminated == 0 for r in rows)

    n = F.size(TX.tokens("coalesce(text, '')"))
    assert CU.length_batch_report(no_docs, "doc_id", n, budget=16).count() == 0

    # empty arrival batch: report intact, zero growth everywhere
    base = e.filter(F.col("vec_id") < 40)
    rep = SIM.ivf_incremental_report(
        base, no_vecs, "vec_id", "embedding", k=4, n_iter=2
    ).collect()
    assert rep and all(
        r.n_new == 0 and r.growth_fp == (0 if r.n_base > 0 else -1)
        for r in rep
    )
    assert sum(r.n_base for r in rep) == 40

    # PRF with an empty term frame: no matches either pass -> empty
    terms = spark.createDataFrame([], "term string")
    assert (
        CU.bm25_prf_topk(d, "doc_id", TX.tokens("text"), terms).count()
        == 0
    )
