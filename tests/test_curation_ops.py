"""Curation operators: decontamination, repetition scoring, sequence
packing — values on hand-built corpora plus the plan-shape guarantees
that make each scale (broadcast probe, shuffle-free projection,
no single-partition global window)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cardano_spark.functions import text as TX
from cardano_spark.operators import curation as CU


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_benchmark_contamination_values_and_broadcast(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c d"),        # benchmark member: fully contaminated
            (1, "a b x y"),        # shares bigram "a b" only
            (2, "p q r s"),        # disjoint
            (3, "z"),              # < 2 tokens -> zero shingles
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    out = CU.benchmark_contamination(
        docs, bench, "doc_id",
        TX.ngram_shingles(F.col("text"), 2),
        TX.ngram_shingles(F.col("text"), 2),
    )
    got = {r.doc_id: (r.n_shingles, r.n_hits, r.contamination)
           for r in out.collect()}
    assert got[0] == (3, 3, 1.0)
    assert got[1] == (3, 1, 1.0 / 3.0)
    assert got[2] == (3, 0, 0.0)
    assert got[3] == (0, 0, 0.0)  # zero-shingle doc present, not NaN
    # benchmark universe probes map-side: broadcast join; the corpus
    # shuffles ONCE (the per-doc aggregate) — the only other exchange
    # is the tiny bench-side distinct
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_repetition_scores_values_and_shuffle_free(spark):
    docs = spark.createDataFrame(
        [
            (0, "x y\nx y\nz"),      # 3 lines, one dup -> 1 - 2/3
            (1, "a a a a"),          # top bigram "a a" = 3/3
            (2, "a b a b a"),        # bigrams: ab,ba,ab,ba -> 2/4
            (3, "solo"),             # 1 token -> no bigrams
        ],
        "doc_id long, text string",
    )
    out = CU.repetition_scores(docs, "doc_id", "text")
    got = {r.doc_id: r for r in out.collect()}
    assert abs(got[0].dup_line_frac - (1.0 - 2.0 / 3.0)) < 1e-15
    assert got[1].top_bigram_frac == 1.0
    assert got[2].n_bigrams == 4 and got[2].top_bigram_frac == 0.5
    assert got[3].n_bigrams == 0 and got[3].top_bigram_frac == 0.0
    assert got[3].dup_line_frac == 0.0
    # pure projection: no exchange anywhere in the plan
    assert "Exchange" not in _plan(out)


def test_pack_sequences_prefix_sum_and_no_global_window(spark):
    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(100)],
        "doc_id long, text string",
    ).repartition(8)  # scrambled input partitioning
    n = F.size(TX.tokens("text"))
    out = CU.pack_sequences(docs, "doc_id", n, budget=10, range_partitions=4)
    rows = {r.doc_id: r for r in out.collect()}
    # reference prefix sum on the driver
    cum = 0
    for i in range(100):
        nt = (i % 7 + 1) + 1  # trailing space adds one empty token
        r = rows[i]
        assert (r.n_tokens, r.seq_id, r.seq_offset) == (nt, cum // 10, cum % 10), i
        cum += nt
    # the plan must NOT contain a global (un-partitioned) sort-window:
    # every window partitions by the range-partition id. The range
    # shuffle itself sits behind an eager localCheckpoint (pinning the
    # sampled boundaries so offsets and output see ONE assignment), so
    # the visible plan windows over the checkpointed RDD.
    plan = _plan(out)
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines and all("_pid" in ln for ln in window_lines)
    assert "Scan ExistingRDD" in plan  # checkpointed range partitioning


def test_pack_sequences_empty_input(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = CU.pack_sequences(
        empty, "doc_id", F.size(TX.tokens("text")), budget=10
    )
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_tokens", "seq_id", "seq_offset"]


def test_redact_pii_values_and_cross_engine(spark):
    """Crafted PII of every category redacts to typed tokens with
    correct counts; the DuckDB twin produces the identical redaction
    (the q61 oracle depends on it); plan stays exchange-free."""
    import duckdb

    rows = [
        (0, "mail bob.smith+x@example.co.uk now"),
        (1, "server at 10.0.255.7 and 192.168.1.1."),
        (2, "ssn 123-45-6789 ok"),
        (3, "call +1 (415) 555-0199 today"),
        (4, "plain text, no pii at all"),
        (5, "a@b.io or 1.2.3.4 or 987-65-4321 or 0800 123 4567"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = CU.redact_pii(docs, "doc_id", "text")
    got = {r.doc_id: r for r in out.collect()}
    assert got[0].redacted == "mail <EMAIL> now"
    assert got[0].n_emails == 1
    assert got[1].redacted == "server at <IP> and <IP>."
    assert got[1].n_ips == 2
    assert got[2].redacted == "ssn <ID> ok"
    assert got[2].n_ids == 1
    assert got[3].redacted == "call <PHONE> today"
    assert got[3].n_phones == 1
    assert got[4].redacted == rows[4][1]
    assert (got[5].n_emails, got[5].n_ips, got[5].n_ids, got[5].n_phones) == (
        1, 1, 1, 1,
    )
    assert "Exchange" not in _plan(out)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") v(doc_id, text)"
    )
    duck = {
        r[0]: r
        for r in con.execute(CU.redact_pii_sql("doc_id", "text")).fetchall()
    }
    con.close()
    for i, _ in rows:
        g = got[i]
        assert duck[i] == (
            i, g.redacted, g.n_emails, g.n_ips, g.n_ids, g.n_phones
        ), i


def test_curation_invariants_random(spark):
    """Randomized invariants over one generated corpus (seeded):
    benchmark members with shingles are fully contaminated; all
    fractions live in [0,1]; packing conserves the token stream
    (offset < budget, seq ids non-decreasing in doc order, total
    tokens = final cumulative position)."""
    import random

    rng = random.Random(20260814)
    words = ["alpha", "beta", "gamma", "delta", "x1", "xy", ".", "9"]
    rows = [
        (
            i,
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 40))),
        )
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") < 15)
    sh = TX.ngram_shingles(F.col("text"), 2)

    cont = {r.doc_id: r for r in CU.benchmark_contamination(
        docs, bench, "doc_id", sh, sh).collect()}
    assert set(cont) == set(range(120))
    for i, r in cont.items():
        assert 0.0 <= r.contamination <= 1.0, i
        if i < 15 and r.n_shingles > 0:
            assert r.contamination == 1.0, i  # bench members fully hit

    rep = CU.repetition_scores(docs, "doc_id", "text").collect()
    for r in rep:
        assert 0.0 <= r.dup_line_frac <= 1.0
        assert 0.0 <= r.top_bigram_frac <= 1.0

    budget = 17
    packed = sorted(
        CU.pack_sequences(
            docs, "doc_id", F.size(TX.tokens("text")), budget,
            range_partitions=5,
        ).collect(),
        key=lambda r: r.doc_id,
    )
    cum = 0
    prev_seq = 0
    for r in packed:
        assert r.seq_id * budget + r.seq_offset == cum, r.doc_id
        assert 0 <= r.seq_offset < budget
        assert r.seq_id >= prev_seq
        prev_seq = r.seq_id
        cum += r.n_tokens
    assert cum == sum(len(t.split(" ")) for _, t in rows)


def test_quality_report_values_and_single_scan(spark):
    """Violation semantics on a crafted frame (nulls count per the
    predicate; uniqueness = rows beyond first per dup key), and the
    row rules all fold into ONE aggregate over one scan."""
    df = spark.createDataFrame(
        [
            (1, 1, 10.0, "A"),
            (1, 1, -5.0, "A"),   # dup key + non-positive price
            (2, 1, None, "X"),   # bad flag, null price
            (3, 1, 99.0, None),  # null flag
        ],
        "k long, sub long, price double, flag string",
    )
    rules = [
        ("positive(price)", ~(F.col("price") > 0)),
        ("not_null(price)", F.col("price").isNull()),
        ("in_set(flag)", ~F.col("flag").isin("A", "N", "R") | F.col("flag").isNull()),
    ]
    out = CU.quality_report(df, rules, unique_keys=[["k", "sub"]])
    got = {r.rule: (r.violations, r.n_rows) for r in out.collect()}
    assert got == {
        "positive(price)": (1, 4),   # -5.0 only; NULL>0 is NULL -> not counted
        "not_null(price)": (1, 4),
        "in_set(flag)": (2, 4),      # 'X' and NULL
        "unique(k,sub)": (1, 4),
    }
    # the three row rules share one aggregate: exactly 2 scans total
    # (row-rule agg + uniqueness agg), not one per rule
    plan = _plan(out)
    assert plan.split("== Initial Plan ==")[0].count("Scan ExistingRDD") == 2


def test_bloom_build_and_membership_no_false_negatives(spark):
    vals = spark.createDataFrame(
        [(f"key-{i}",) for i in range(200)], "v string"
    )
    m, k = 1 << 12, 4
    bits = CU.bloom_build(vals, "v", m, k)
    assert len(bits) == m // 64
    assert any(w != 0 for w in bits)
    # probe every inserted value through the same expression path
    from pyspark.sql import types as T

    bits_df = spark.createDataFrame(
        [(bits,)],
        T.StructType([T.StructField("_bits", T.ArrayType(T.LongType()))]),
    )
    probed = (
        vals.withColumnRenamed("v", "_s")
        .crossJoin(F.broadcast(bits_df))
        .withColumn("_m", CU._bloom_maybe(F.col("_s"), F.col("_bits"), m, k))
    )
    assert probed.filter(~F.col("_m")).count() == 0  # no false negatives


def test_bloom_contamination_matches_exact_and_prunes(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(40)]
        + [(100, "w0x0 w0x1 w0x2")],  # overlaps doc 0's shingles
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") < 3)
    args = (
        docs,
        bench,
        "doc_id",
        TX.ngram_shingles(F.col("text"), 2),
        TX.ngram_shingles(F.col("text"), 2),
    )
    exact = CU.benchmark_contamination(*args).orderBy("doc_id").collect()
    bloom = CU.bloom_contamination(*args, m_bits=1 << 12).orderBy("doc_id").collect()
    assert bloom == exact
    # the bitset rides as a 1-row broadcast, and the bloom gate is a
    # plain Filter feeding the exact join (no extra corpus exchange)
    plan = _plan(CU.bloom_contamination(*args, m_bits=1 << 12))
    assert "BroadcastNestedLoopJoin" in plan


def test_bloom_contamination_empty_and_null_shingle_docs(spark):
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "z")],  # doc 1: zero 2-gram shingles
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    out = CU.bloom_contamination(
        docs,
        bench,
        "doc_id",
        TX.ngram_shingles(F.col("text"), 2),
        TX.ngram_shingles(F.col("text"), 2),
        m_bits=1 << 10,
    ).orderBy("doc_id").collect()
    assert out[1]["n_shingles"] == 0
    assert out[1]["contamination"] == 0.0
    assert out[0]["contamination"] == 1.0


def test_pack_sequences_broadcast_offset_join_at_512_partitions(spark):
    """The per-partition offset map is a BROADCAST JOIN on _pid, not a
    chained CASE expression: at range_partitions=512 (the shape a
    100 TB corpus needs) the old O(P)-deep expression tree was
    pathological for analysis/codegen. Values must still equal the
    driver-side reference prefix sum, and the plan must carry a
    broadcast join with NO O(P) CaseWhen chain."""
    import time

    docs = spark.createDataFrame(
        [(i, "w " * (i % 5 + 1)) for i in range(2000)],
        "doc_id long, text string",
    ).repartition(16)
    n = F.size(TX.tokens("text"))
    t0 = time.monotonic()
    out = CU.pack_sequences(docs, "doc_id", n, budget=64, range_partitions=512)
    rows = {r.doc_id: r for r in out.collect()}
    elapsed = time.monotonic() - t0
    cum = 0
    for i in range(2000):
        nt = (i % 5 + 1) + 1
        r = rows[i]
        assert (r.seq_id, r.seq_offset) == (cum // 64, cum % 64), i
        cum += nt
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CASE WHEN (_pid" not in plan
    # bounded time: the CASE chain took minutes at this P; the join is
    # seconds even with JVM warmup slack
    assert elapsed < 120, f"pack_sequences at P=512 took {elapsed:.1f}s"


def _dsir_py_reference(docs, target, n_buckets):
    """Sequential reference: bucket histograms + both weight forms."""
    import hashlib
    import math

    def feats(text):
        toks = text.split(" ")
        return set(
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        )

    def bucket(s):
        return (
            int(hashlib.md5(("dsir|" + s).encode()).hexdigest()[:15], 16)
            % n_buckets
        )

    tb, rb = {}, {}
    for _, t in target:
        for s in feats(t):
            tb[bucket(s)] = tb.get(bucket(s), 0) + 1
    for _, t in docs:
        for s in feats(t):
            rb[bucket(s)] = rb.get(bucket(s), 0) + 1
    fp, lg = {}, {}
    for i, t in docs:
        bs = [bucket(s) for s in feats(t)]
        fp[i] = sum(
            ((tb.get(b, 0) + 1) * CU.DSIR_SCALE) // (rb.get(b, 0) + 1)
            for b in bs
        )
        lg[i] = sum(
            math.log(tb.get(b, 0) + 1) - math.log(rb.get(b, 0) + 1)
            for b in bs
        )
    return fp, lg


def _dsir_corpus(seed=11, n_docs=60, n_target=10):
    import random

    rng = random.Random(seed)
    tv = [f"t{i}" for i in range(15)]
    bv = [f"b{i}" for i in range(60)]

    def doc(p):
        return " ".join(
            (rng.choice(tv) if rng.random() < p else rng.choice(bv))
            for _ in range(30)
        )

    docs = [(i, doc(rng.random())) for i in range(n_docs)]
    target = [(1000 + i, doc(0.9)) for i in range(n_target)]
    return docs, target


def test_dsir_scores_exact_and_log_vs_reference(spark):
    docs, target = _dsir_corpus()
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    sh = TX.ngram_shingles(F.col("text"), 2)
    ref_fp, ref_lg = _dsir_py_reference(docs, target, 64)

    out_fp = CU.dsir_scores(
        ddf, tdf, "doc_id", sh, sh, n_buckets=64, weight_mode="ratio_fp"
    )
    got_fp = {r.doc_id: r.score_fp for r in out_fp.collect()}
    assert got_fp == ref_fp  # exact integers, bit-for-bit

    out_lg = CU.dsir_scores(
        ddf, tdf, "doc_id", sh, sh, n_buckets=64, weight_mode="log"
    )
    for r in out_lg.collect():
        assert r.score == pytest.approx(ref_lg[r.doc_id], rel=1e-9)
    # the B-row weight frame joins broadcast; the corpus aggregates
    # once on doc_id
    plan = _plan(out_fp).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


def test_dsir_ratio_mode_tracks_log_mode_rank(spark):
    """The oracle-checkable ratio_fp weight must ORDER documents
    like the paper's log weight: measured Spearman ~0.75 on this
    corpus class (the ratio's heavy tail over-rewards rare target
    buckets — why production uses mode="log"); 0.55 is the
    regression floor, not the expectation."""
    docs, target = _dsir_corpus(seed=23)
    ref_fp, ref_lg = _dsir_py_reference(docs, target, 64)
    ids = sorted(ref_fp)
    a = [ref_fp[i] for i in ids]
    b = [ref_lg[i] for i in ids]

    def ranks(xs):
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        r = [0] * len(xs)
        for pos, i in enumerate(order):
            r[i] = pos
        return r

    ra, rb = ranks(a), ranks(b)
    n = len(a)
    d2 = sum((x - y) ** 2 for x, y in zip(ra, rb))
    rho = 1 - 6 * d2 / (n * (n * n - 1))
    assert rho > 0.55


def test_dsir_empty_and_missing_shingle_docs(spark):
    ddf = spark.createDataFrame(
        [(0, "a b c d"), (1, "z")],  # doc 1: < 2 tokens -> no 2-grams
        "doc_id long, text string",
    )
    tdf = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    sh = TX.ngram_shingles(F.col("text"), 2)
    for mode in ("ratio_fp", "log"):
        got = {
            r.doc_id: (r.n_features, r.score_fp)
            for r in CU.dsir_scores(
                ddf, tdf, "doc_id", sh, sh, n_buckets=16, weight_mode=mode
            ).collect()
        }
        assert got[1] == (0, 0)  # present, scored 0 — not dropped
        assert got[0][0] == 3

    with pytest.raises(ValueError):
        CU.dsir_scores(ddf, tdf, "doc_id", sh, sh, weight_mode="nope")


def test_pps_systematic_sample_reference_and_invariants(spark):
    """Sum of multiplicities is EXACTLY k, heavy items repeat, and
    the distributed prefix sum equals the sequential semantics for
    any partitioning."""
    import random

    rng = random.Random(5)
    rows = [(i, rng.randint(1, 40)) for i in range(100)]
    rows[17] = (17, 2000)  # heavy: weight >> total/k -> n_picks > 1
    total = sum(w for _, w in rows)
    k = 10

    def ref():
        out, cum = {}, 0
        for i, w in sorted(rows):
            picks = (k * (cum + w)) // total - (k * cum) // total
            if picks >= 1:
                out[i] = picks
            cum += w
        return out

    want = ref()
    assert sum(want.values()) == k
    assert want[17] > 1
    df = spark.createDataFrame(rows, "doc_id long, w long")
    for parts in (1, 3, 13):
        got = {
            r.doc_id: r.n_picks
            for r in CU.pps_systematic_sample(
                df, "doc_id", F.col("w"), k=k, range_partitions=parts
            ).collect()
        }
        assert got == want  # bit-identical under any partitioning

    with pytest.raises(ValueError):
        CU.pps_systematic_sample(df, "doc_id", F.col("w"), k=0)


def test_pps_systematic_sample_zero_total_and_plan(spark):
    zero = spark.createDataFrame([(1, 0), (2, 0)], "doc_id long, w long")
    assert (
        CU.pps_systematic_sample(zero, "doc_id", F.col("w"), k=5).count() == 0
    )
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_id long, w long"
    )
    out = CU.pps_systematic_sample(df, "doc_id", F.col("w"), k=5)
    plan = _plan(out).split("== Initial Plan ==")[0]
    # offsets come back as a broadcast join, never a CASE chain, and
    # there is no global-order window (single-partition sort funnel)
    assert "BroadcastHashJoin" in plan
    assert "CaseWhen" not in plan
    assert "Window" not in plan or "partitionBy" not in plan.lower()


def test_normalize_text_planted_and_idempotent(spark):
    """The normalization chain on planted degenerate inputs: curly
    quotes/dashes/ellipsis to ASCII, zero-width and control strip,
    whitespace collapse + trim; NULL passes through; the chain is
    idempotent (normalize twice == normalize once) and makes
    byte-different renditions of the same content hash-equal."""
    rows = [
        (0, "don\u2019t  stop\u2026 now"),
        (1, "don't stop... now"),                    # ASCII twin of 0
        (2, "  spaced\tout text  "),
        (3, "zero\u200bwidth\x07ctrl"),
        (4, "\u201cquoted\u201d \u2014 dash"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.norm
        for r in df.select(
            "doc_id", CU.normalize_text(F.col("text")).alias("norm")
        ).collect()
    }
    assert out[0] == "don't stop... now"
    assert out[0] == out[1]
    assert out[2] == "spaced out text"
    assert out[3] == "zerowidthctrl"
    assert out[4] == chr(34) + "quoted" + chr(34) + " - dash"
    assert out[5] is None
    assert out[6] == ""
    # idempotence
    twice = {
        r.doc_id: r.norm
        for r in df.select(
            "doc_id",
            CU.normalize_text(CU.normalize_text(F.col("text"))).alias("norm"),
        ).collect()
    }
    assert twice == out
    # the SQL twin produces the same strings
    import duckdb

    con = duckdb.connect()
    for i, t in rows:
        if t is None:
            continue
        got = con.execute(
            f"SELECT {CU.normalize_text_sql('?')}", [t]
        ).fetchone()[0]
        assert got == out[i], i


def test_normalized_dedup_collapses_variants(spark):
    """q157's composition: renditions differing only by typography /
    whitespace collapse into ONE group post-normalization while plain
    exact dedup keeps them apart — the reason normalization runs
    before hashing."""
    from cardano_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [
            (0, "don\u2019t  stop\u2026 now"),
            (1, "don't stop... now"),
            (2, "something else"),
        ],
        "doc_id long, text string",
    )
    plain = DD.exact_dedup_groups(df, "doc_id", "text")
    assert plain.count() == 3  # byte-level: all distinct
    norm = df.select(
        "doc_id",
        F.md5(CU.normalize_text(F.coalesce(F.col("text"), F.lit("")))).alias(
            "content_md5"
        ),
    ).groupBy("content_md5").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    got = {r.canonical_id: r.n_copies for r in norm.collect()}
    assert got == {0: 2, 2: 1}


def test_gopher_quality_flags_each_rule_and_shuffle_free(spark):
    long_good = " ".join(
        ["the", "be", "to", "of"] + ["word"] * 60
    )  # 64 words, all alpha, mean len in [3,10], 4 required words
    docs = spark.createDataFrame(
        [
            (0, long_good),                        # passes all 7
            (1, "the be " + "word " * 10),         # <50 words -> bit0 off
            (2, " ".join(["the", "be"] + ["ab"] * 62)),   # mean len <3
            (3, " ".join(["the", "be"] + ["#"] * 62)),    # symbols + alpha
            (4, "the be to of " + " ".join(["word"] * 56)
                + "\n" + "\n".join(["- b"] * 10)),  # 10/11 bullet lines
            (5, "the be " + " ".join(["word"] * 58) + "\nend..."
                + "\nend…"),                       # wc 61; 2/3 ellipsis ends
            (6, " ".join(["the", "be"] + ["1234"] * 62)),  # alpha frac 2/64
            (7, " ".join(["the"] + ["word"] * 63)),       # 1 required word
        ],
        "doc_id long, text string",
    )
    out = CU.gopher_quality_flags(docs, "doc_id", "text")
    got = {r.doc_id: (r.n_words, r.flags, r.keep) for r in out.collect()}
    assert got[0] == (64, 127, 1)
    assert got[1][1] & 1 == 0 and got[1][2] == 0        # word count
    assert got[2][1] & 2 == 0                           # mean word length
    # doc 3: 62 '#' symbols in 64 words -> bit2 off; alpha 2/64 -> bit5 off
    assert got[3][1] & 4 == 0 and got[3][1] & 32 == 0
    assert got[4][1] & 8 == 0                           # bullet lines > 90%
    assert got[5][1] & 16 == 0 and got[5][1] & 1 == 1   # ellipsis lines
    assert got[6][1] & 32 == 0                          # alpha fraction
    assert got[7][1] & 64 == 0                          # < 2 required words
    # every other doc fails ONLY its targeted rule(s)
    assert got[1][1] | 1 == 127
    assert got[2][1] | 2 == 127
    assert got[4][1] | 8 == 127
    assert got[5][1] | 16 == 127
    assert got[6][1] | 32 == 127
    assert got[7][1] | 64 == 127
    # pure per-row projection: no exchange anywhere in the plan
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert "Exchange" not in plan


def test_length_batch_report_reference_and_no_global_window(spark):
    """Driver-side reference replay of the budget-slice batching on a
    scrambled 60-doc corpus: identical batch stats; batches cover the
    stream exactly; max_len is non-decreasing across batch ids (the
    length-sort property that bounds padding)."""
    rows = [(i, "w " * (i % 13 + 1) + "end") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    n = F.size(TX.tokens("text"))
    out = sorted(
        CU.length_batch_report(docs, "doc_id", n, budget=16,
                               range_partitions=4).collect(),
        key=lambda r: r.batch_id,
    )
    # reference: exclusive prefix sum over (n, doc_id)-sorted stream
    lens = sorted((i % 13 + 2, i) for i in range(60))
    ref = {}
    cum = 0
    for ln, _ in lens:
        b = cum // 16
        d, m, s = ref.get(b, (0, 0, 0))
        ref[b] = (d + 1, max(m, ln), s + ln)
        cum += ln
    assert len(out) == len(ref)
    for r in out:
        d, m, s = ref[r.batch_id]
        assert (r.n_docs, r.max_len, r.sum_tokens) == (d, m, s), r.batch_id
        assert r.padded_tokens == m * d
        assert r.waste_fp == ((m * d - s) * 1048576) // (m * d)
    assert [r.batch_id for r in out] == list(range(len(out)))
    maxes = [r.max_len for r in out]
    assert maxes == sorted(maxes)  # length-sorted batches
    plan = CU.length_batch_report(
        docs, "doc_id", n, budget=16
    )._jdf.queryExecution().executedPlan().toString()
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines and all("_pid" in ln for ln in window_lines)


def test_bm25_prf_reaches_vocabulary_only_doc(spark):
    """The PRF contract on planted docs: a document sharing only the
    RELEVANT SET'S vocabulary (never the query term) is invisible to
    pass 1 but retrieved by the expanded pass-2 query; expansion
    terms are the most frequent non-query feedback terms."""
    rows = [
        # relevant set: "apple" docs that co-mention "orchard"
        (1, "apple orchard harvest apple orchard"),
        (2, "apple orchard tree apple"),
        (3, "apple orchard fruit basket"),
        # vocabulary-only doc: orchard but NO apple
        (4, "orchard orchard walk in the morning"),
        # noise
        (5, "quantum flux capacitor array"),
        (6, "database index scan plan"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = TX.tokens("text")
    probe = spark.createDataFrame([("apple",)], "term string")
    base = {
        r.doc_id
        for r in CU.bm25_scores(docs, "doc_id", toks, probe).collect()
    }
    assert base == {1, 2, 3}  # pass 1 cannot see doc 4
    out = CU.bm25_prf_topk(
        docs, "doc_id", toks, probe, fb_k=3, n_expansion=2, k=10
    ).collect()
    got = {r.doc_id: r for r in out}
    assert 4 in got            # expansion reached the vocabulary-only doc
    assert 5 not in got and 6 not in got
    assert got[4].n_terms_matched >= 1
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(out) + 1))


def test_decontaminate_spans_cuts_exactly_the_shared_run(spark):
    """Span-level decontamination (q177): a train document quoting a
    benchmark span verbatim loses exactly that span — every token of
    a shared run >= n is covered by a shared window (interval-union),
    and nothing outside the run is touched."""
    span = " ".join(f"b{i}" for i in range(10))  # 10-token bench span
    bench = spark.createDataFrame(
        [(100, f"intro {span} outro")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            # quotes the full 10-token span inside clean text
            (1, f"clean head words here {span} clean tail words"),
            # shares only 7 tokens (< n=8): untouched
            (2, "x " + " ".join(f"b{i}" for i in range(7)) + " y"),
            # shorter than 8 tokens: untouched
            (3, "tiny doc"),
            # IS the span and nothing else: fully excised
            (4, span),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in CU.decontaminate_spans(
            docs, bench, "doc_id", "text", n=8
        ).collect()
    }
    assert out[1].cleaned_text == "clean head words here clean tail words"
    assert out[1].n_removed == 10
    assert out[2].cleaned_text.startswith("x ") and out[2].n_removed == 0
    assert out[3].cleaned_text == "tiny doc" and out[3].n_removed == 0
    assert out[4].cleaned_text == "" and out[4].n_removed == 10
    assert set(out) == {1, 2, 3, 4}  # every doc kept (cut, not drop)
