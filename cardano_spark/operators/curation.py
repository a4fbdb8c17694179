"""Corpus-curation operators a large-scale training-data pipeline
needs beyond dedup: benchmark decontamination, repetition scoring
(Gopher-style), and sequence packing. All JVM-side DataFrame plans —
no Python in any hot path — with DuckDB-oracle-compatible semantics.

The reference has no analogue (its pipelines stop at warehouse load,
src/etl_pipelines/); these extend the training-data surface the same
way operators/dedup.py and operators/similarity.py do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cardano_spark.functions.hashing import hash_bucket, shl1


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    shingles: Column,
    bench_shingles: Column,
) -> DataFrame:
    """Per-document contamination against a benchmark/eval set: the
    fraction of the document's distinct n-gram shingles that occur
    anywhere in the benchmark corpus (the standard n-gram-overlap
    decontamination test applied before training).

    Scale shape: the benchmark shingle UNIVERSE is small by contract
    (eval sets are thousands of documents, not billions), so it is
    collected into one distinct frame and BROADCAST; each exploded
    document shingle probes it map-side (left semi via a broadcast
    join, no corpus shuffle on the join), and the per-document
    hit/total counts reduce with a map-side partial aggregate — one
    hash exchange on ``doc_id`` total. Documents with zero shingles
    report 0.0 contamination.

    Shingle columns are ``array_distinct``'d defensively: the
    contract is "fraction of DISTINCT shingles", and a caller passing
    a multiset (e.g. plain ``tokens()``) would otherwise inflate both
    numerator and denominator per duplicate (same precondition as the
    dedup operators, here enforced instead of assumed).

    Returns (``id_col``, n_shingles, n_hits, contamination) with
    contamination = n_hits / n_shingles as double."""
    b = (
        bench.select(F.explode(F.array_distinct(bench_shingles)).alias("_s"))
        .distinct()
    )
    d = docs.select(
        F.col(id_col), F.explode_outer(F.array_distinct(shingles)).alias("_s")
    )
    hit = F.broadcast(b.withColumn("_hit", F.lit(1)))
    per_doc = (
        d.join(hit, "_s", "left")
        .groupBy(id_col)
        .agg(
            F.count("_s").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_hits",
        F.when(F.col("n_shingles") > 0,
               F.col("n_hits").cast("double") / F.col("n_shingles").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("contamination"),
    )


def repetition_scores(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021 §A1.3 use duplicate-line and top-n-gram fractions to drop
    degenerate documents):

    - ``dup_line_frac``: 1 - distinct_lines / lines (lines split on
      ``\\n``);
    - ``top_bigram_frac``: occurrences of the most frequent word
      bigram / total bigram occurrences (0.0 for docs with < 2
      tokens); only the COUNT of the mode is used, so ties cannot
      affect the output.

    Both are PURE per-row array expressions — line stats via
    array_distinct, the bigram mode via a sort + linear fold over the
    doc's own bigrams — so the plan is shuffle-free (no explode, no
    groupBy): a projection over the corpus scan, embarrassingly
    parallel at any scale."""
    # NULL text normalizes to '' on BOTH engines: split(NULL) is NULL
    # and size(NULL) = -1 under Spark's legacy sizeOfNull, which would
    # emit n_lines=-1 while the oracle's len(NULL) yields NULL
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")
    toks = F.split(txt, " ")
    k = F.size(toks) - F.lit(1)
    grams = F.when(k >= 1, F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )).otherwise(F.array().cast("array<string>"))
    # mode of a sorted array in one fold: track (current run, best)
    srt = F.array_sort(grams)
    fold = F.aggregate(
        srt,
        F.struct(
            F.lit("").alias("cur"),
            F.lit(0).cast("long").alias("cur_n"),
            F.lit(0).cast("long").alias("best_n"),
        ),
        lambda acc, g: F.struct(
            g.alias("cur"),
            F.when(g == acc.cur, acc.cur_n + 1).otherwise(F.lit(1).cast("long")).alias("cur_n"),
            F.greatest(
                acc.best_n,
                F.when(g == acc.cur, acc.cur_n + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best_n"),
        ),
    )
    n_lines = F.size(lines)
    return docs.select(
        id_col,
        n_lines.cast("long").alias("n_lines"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double")
            / n_lines.cast("double")
        ).alias("dup_line_frac"),
        F.size(grams).cast("long").alias("n_bigrams"),
        F.when(
            F.size(grams) > 0,
            fold.best_n.cast("double") / F.size(grams).cast("double"),
        ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


def quality_report(
    df: DataFrame,
    rules: list[tuple[str, Column]],
    unique_keys: list[list[str]] | None = None,
) -> DataFrame:
    """Deequ-style data-quality gate: evaluate every row-level rule in
    ONE scan and report violation counts per rule.

    ``rules`` is ``[(rule_name, violation_predicate)]`` — the
    predicate is TRUE when the row VIOLATES the rule (null-safe:
    nulls count as violations only if the predicate says so).
    ``unique_keys`` adds multiplicity checks: for each key list, the
    number of rows beyond the first per duplicate key.

    Scale shape: all row rules compile into conditional sums inside a
    single map-side-combined global aggregate — one scan, one
    1-row exchange, regardless of rule count. Each uniqueness check is
    its own hash aggregate on the key (unavoidable — distinctness is
    a shuffle question), emitting one row from a count-minus-distinct
    pair computed in the same pass. Output: (rule, violations,
    n_rows) one row per rule, ordered by rule name."""
    n = F.count(F.lit(1)).cast("long")
    aggs = [n.alias("_n")] + [
        F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(f"_r{i}")
        for i, (_, pred) in enumerate(rules)
    ]
    # ONE aggregated row, exploded into per-rule rows — referencing
    # the aggregate from N separate selects would re-execute the scan
    # N times (no cross-branch subplan reuse in a union)
    base = df.agg(*aggs)
    rule_rows = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col(f"_r{i}").alias("violations"),
                        F.col("_n").alias("n_rows"),
                    )
                    for i, (name, _) in enumerate(rules)
                ]
            )
        ).alias("x")
    ).select("x.*")
    selects = [rule_rows]
    for keys in unique_keys or []:
        # distinct over a STRUCT: multi-arg count_distinct drops rows
        # where any key is NULL (inflating violations); the struct form
        # counts null-keyed tuples, matching SQL row-value DISTINCT
        dup = df.agg(
            n.alias("_n"),
            (n - F.count_distinct(F.struct(*[F.col(k) for k in keys])))
            .cast("long")
            .alias("_d"),
        ).select(
            F.lit("unique(" + ",".join(keys) + ")").alias("rule"),
            F.col("_d").alias("violations"),
            F.col("_n").alias("n_rows"),
        )
        selects.append(dup)
    out = selects[0]
    for s in selects[1:]:
        out = out.unionByName(s)
    return out.orderBy("rule")


#: PII patterns — conservative, and deliberately restricted to syntax
#: Java regex (Spark) and RE2 (DuckDB) interpret IDENTICALLY: no
#: lookaround, no backreferences. Order matters: SSN-like ids are
#: redacted before the (greedier) phone pattern would swallow them,
#: and each later count runs on the already-redacted text so no span
#: is counted twice. Replacement tokens contain no digits, so stages
#: cannot re-match each other's output.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ips", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("ids", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("phones", r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrub for training text: emails, IPv4s, SSN-shaped ids and
    phone-shaped digit runs are replaced with typed tokens, with a
    per-category match count. Pure JVM regex projection — zero
    shuffles, column-pruned scan, embarrassingly parallel; the DuckDB
    oracle twin applies the identical pattern chain.

    Returns (``id_col``, redacted, n_emails, n_ips, n_ids,
    n_phones)."""
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, token)
    return docs.select(id_col, cur.alias("redacted"), *counts)


def redact_pii_sql(id_expr: str, text_expr: str) -> str:
    """DuckDB twin of :func:`redact_pii` (same staged chain)."""
    cur = text_expr
    cols = []
    for name, pat, token in PII_PATTERNS:
        cols.append(
            f"len(regexp_extract_all({cur}, '{pat}'))::BIGINT AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    return (
        f"SELECT {id_expr}, {cur} AS redacted, "
        + ", ".join(cols)
        + " FROM documents"
    )


def _exclusive_prefix_sum(
    docs: DataFrame,
    id_col: str,
    n_tokens: Column,
    range_partitions: int,
) -> tuple[DataFrame, int]:
    """The distributed prefix sum shared by :func:`pack_sequences`
    and :func:`pps_systematic_sample` — NOT a global-order window
    (which would funnel the corpus through ONE partition):
    ``repartitionByRange`` on the id gives globally-ordered disjoint
    partitions; the running sum within each range partition is a
    window over that partition only; the per-partition totals (one
    scalar each, <= ``range_partitions`` rows) come to the driver and
    go back as a broadcast offset join on ``_pid`` — a 2-column frame,
    never an O(P)-deep CASE chain (expression-tree analysis and
    codegen are per-node, and codegen collapses to interpreted mode
    past 64KB methods; pathological at the 10^4-10^5 range partitions
    a 100 TB corpus needs). Two scans of the slim (id, n) projection,
    one range shuffle.

    Returns (frame of (``id_col``, n_tokens, _start) where ``_start``
    is the EXCLUSIVE running sum in global ``id_col`` order,
    grand total)."""
    slim = (
        docs.select(F.col(id_col), n_tokens.cast("long").alias("n_tokens"))
        .repartitionByRange(range_partitions, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        # PIN the partition assignment: repartitionByRange samples its
        # boundaries, and the totals collect() below plus the final
        # output plan would otherwise execute two INDEPENDENT range
        # shuffles whose boundaries may differ — misaligning the
        # broadcast offsets with the actual partitions.
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("_pid").orderBy(id_col)
    within = slim.withColumn(
        "_cum_in", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    totals = sorted(
        (r._pid, r.t)
        for r in slim.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect()
    )
    offsets: list[tuple[int, int]] = []
    run = 0
    for pid, t in totals:
        offsets.append((pid, run))
        run += t
    off_df = docs.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _part_off long"
    )
    started = (
        within.join(F.broadcast(off_df), "_pid")
        .withColumn("_start", F.col("_cum_in") + F.col("_part_off"))
    )
    return started, run


def global_rank(
    df: DataFrame,
    key_col: str,
    range_partitions: int = 32,
) -> DataFrame:
    """Dense 0-based global rank in ``key_col`` order WITHOUT the
    single-partition window a bare ``row_number() OVER (ORDER BY
    ...)`` plans (the classic driver-funnel at corpus scale): the
    shared distributed prefix sum with UNIT weights — range
    partitions give globally-ordered disjoint slices, ranks within a
    slice are a per-partition window, slice offsets come back as the
    broadcast (pid, offset) join.

    ``key_col`` values MUST be unique (ties would rank in
    partition-dependent order); callers append a unique id to the
    key to guarantee it. Returns (``key_col``, ``_rank``)."""
    ranked, _ = _exclusive_prefix_sum(df, key_col, F.lit(1), range_partitions)
    return ranked.select(F.col(key_col), F.col("_start").alias("_rank"))


def pps_systematic_sample(
    docs: DataFrame,
    id_col: str,
    weight: Column,
    k: int,
    range_partitions: int = 32,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: lay the
    corpus out in ``id_col`` order as one virtual stream of WEIGHT
    units (token counts, bytes), place ``k`` equally-spaced selection
    points on it, and keep each document once per point falling in
    its span — the classic PPS design (Madow 1949; the sampler
    behind token-budgeted corpus draws, where "sample 20 documents
    PPS by token count" is how a mixture hits a token target without
    favoring short documents).

    Exactness/determinism: a document spanning (start, end] is
    selected ``floor(k*end/total) - floor(k*start/total)`` times —
    pure integer arithmetic (exact while k*total < 2^53, i.e. up to
    ~10^12 tokens per thousand sample points; beyond that shard the
    draw), zero randomness: the draw is a pure function of corpus
    content and order, so re-runs, retries, and repartitioning
    reproduce it bit-for-bit (the same property that forced
    hash_bucket over rand() for splits). A doc with weight >
    total/k is selected multiple times (``n_picks`` > 1) —
    inherent to PPS with k points, reported not hidden.

    Scale shape: the :func:`_exclusive_prefix_sum` distributed
    prefix sum (range shuffle + broadcast offset join), then a
    map-side filter — no global window, nothing wide collected.

    Returns (``id_col``, weight as n_units, n_picks >= 1)."""
    if k <= 0:
        raise ValueError("k must be positive")
    started, total = _exclusive_prefix_sum(
        docs, id_col, weight, range_partitions
    )
    if total <= 0:
        return started.select(
            id_col,
            F.col("n_tokens").alias("n_units"),
            F.lit(0).cast("long").alias("n_picks"),
        ).limit(0)
    picks = F.expr(f"(({int(k)} * (_start + n_tokens)) div {int(total)})") - F.expr(
        f"(({int(k)} * _start) div {int(total)})"
    )
    return (
        started.withColumn("n_picks", picks.cast("long"))
        .filter(F.col("n_picks") >= 1)
        .select(id_col, F.col("n_tokens").alias("n_units"), "n_picks")
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    n_tokens: Column,
    budget: int,
    range_partitions: int = 32,
) -> DataFrame:
    """Deterministic concat-then-chunk sequence packing: documents are
    laid out in ``id_col`` order as one virtual token stream and cut
    into fixed ``budget``-token training sequences. Each document
    reports the sequence its FIRST token lands in and its offset
    there (a doc may straddle a boundary — the loader's concat/split
    convention, equivalent to packing with document order preserved).

    Scale shape — a distributed prefix sum, NOT a global-order window
    (which would funnel the corpus through ONE partition):
    ``repartitionByRange`` on the id gives globally-ordered disjoint
    partitions; the running sum within each range partition is a
    window over that partition only; the per-partition totals (one
    scalar each, <= ``range_partitions`` rows) come to the driver and
    go back as a broadcast offset join. Two scans of the slim
    (id, n) projection, one range shuffle.

    Returns (``id_col``, n_tokens, seq_id, seq_offset)."""
    started, _total = _exclusive_prefix_sum(
        docs, id_col, n_tokens, range_partitions
    )
    return (
        started.select(
            id_col,
            "n_tokens",
            # integer `div`, not double division: a token-stream
            # position past 2^53 would lose exactness in a double
            F.expr(f"_start div {int(budget)}").alias("seq_id"),
            (F.col("_start") % F.lit(budget)).alias("seq_offset"),
        )
    )


#: Bloom defaults: ~1 MiB of bits, 4 probes. FP rate at n inserted
#: keys is (1 - e^(-k*n/m))^k: ~0.2% at n = m/8.
BLOOM_M_BITS = 1 << 20
BLOOM_K = 4


def _bloom_positions(value: Column, m_bits: int, k: int) -> Column:
    """The k bit positions of ``value`` — xxhash64 with seed i per
    probe. Engine-internal only (the oracle never sees these): the
    bloom is a PREFILTER, final semantics stay exact."""
    return F.array(
        *[
            F.pmod(F.xxhash64(value, F.lit(i)), F.lit(m_bits))
            for i in range(k)
        ]
    )


def bloom_build(
    values: DataFrame, value_col: str, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> list[int]:
    """Build a Bloom bitset (list of m_bits/64 int64 words) from the
    SMALL side of a membership test. The bit positions are computed
    distributed and pre-ORed into words per partition-group, so the
    driver collects at most m_bits/64 rows (16 Ki rows for the 1 MiB
    default) — never the raw values."""
    words = (
        values.select(
            F.explode(
                _bloom_positions(F.col(value_col), m_bits, k)
            ).alias("p")
        )
        .select(
            F.shiftrightunsigned(F.col("p"), 6).alias("w"),
            shl1(F.pmod(F.col("p"), F.lit(64))).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    out = [0] * ((m_bits + 63) // 64)
    for row in words:
        out[row["w"]] = row["bits"]
    return out


def _bloom_maybe(value: Column, bits_col: Column, m_bits: int, k: int) -> Column:
    """True iff every probe bit is set (no false negatives)."""
    test = None
    for i in range(k):
        p = F.pmod(F.xxhash64(value, F.lit(i)), F.lit(m_bits))
        word = F.element_at(bits_col, (F.shiftrightunsigned(p, 6) + 1).cast("int"))
        mask = shl1(F.pmod(p, F.lit(64)))
        hit = (word.bitwiseAND(mask)) != 0
        test = hit if test is None else (test & hit)
    return test


def bloom_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    shingles: Column,
    bench_shingles: Column,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """:func:`benchmark_contamination` for the regime where the
    benchmark shingle set is TOO BIG TO BROADCAST as an exact hash
    set (multi-benchmark eval suites at 100 TB): a Bloom bitset
    (m_bits/8 bytes, ~1 MiB default — ~100-1000x smaller than the
    exact set) rides to every task in a 1-row broadcast and filters
    the exploded corpus shingles MAP-SIDE; only the surviving
    fraction (true hits + ~0.2% false positives) enters the exact
    verify, a shuffle (sort-merge) join against the full benchmark
    frame. Bloom filters have no false negatives, so pruned shingles
    are definite misses and the output is EXACTLY
    :func:`benchmark_contamination`'s — same oracle.

    Plan: corpus scan -> explode -> bloom gate (narrow) -> exact
    join on the minority -> count-union with the pruned majority ->
    one doc_id exchange. When the benchmark DOES fit in executor
    memory, prefer the broadcast exact join (q58) — one stage fewer.
    """
    b = (
        bench.select(F.explode(F.array_distinct(bench_shingles)).alias("_s"))
        .distinct()
    )
    bits = bloom_build(b, "_s", m_bits, k)
    bits_df = docs.sparkSession.createDataFrame(
        [(bits,)], T.StructType([T.StructField("_bits", T.ArrayType(T.LongType()))])
    )
    d = docs.select(
        F.col(id_col), F.explode_outer(F.array_distinct(shingles)).alias("_s")
    ).crossJoin(F.broadcast(bits_df))
    d = d.withColumn(
        "_cand",
        F.when(
            F.col("_s").isNotNull(),
            _bloom_maybe(F.col("_s"), F.col("_bits"), m_bits, k),
        ).otherwise(F.lit(False)),
    ).drop("_bits")
    cand = d.filter(F.col("_cand"))
    clean = d.filter(~F.col("_cand") | F.col("_s").isNull()).withColumn(
        "_hit", F.lit(None).cast("int")
    )
    verified = cand.join(
        b.withColumn("_hit", F.lit(1)), "_s", "left"
    ).select(*clean.columns)
    per_doc = (
        verified.unionByName(clean)
        .groupBy(id_col)
        .agg(
            F.count("_s").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_hits",
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_hits").cast("double") / F.col("n_shingles").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination"),
    )


#: Fixed-point scale for the exact-integer DSIR bucket weights:
#: lr_b = ((t_b + 1) * DSIR_SCALE) div (r_b + 1).
DSIR_SCALE = 1 << 20


def dsir_scores(
    docs: DataFrame,
    target: DataFrame,
    id_col: str,
    shingles: Column,
    target_shingles: Column,
    n_buckets: int = 256,
    weight_mode: str = "log",
) -> DataFrame:
    """Hashed n-gram importance scores for data selection (DSIR, Xie
    et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): score each raw-corpus document by how target-like
    its hashed n-gram feature distribution is, so a training mixture
    can up-select documents resembling a small high-quality target
    set. Binary-feature variant: features are a document's DISTINCT
    shingles, each hashed into one of ``n_buckets`` buckets.

    ``weight_mode``:

    - ``"log"`` (default, the paper's form): per-bucket weight
      ``log(t_b+1) - log(r_b+1)`` — the smoothed log-likelihood
      ratio up to the constant prior terms ``log(R+B) - log(T+B)``,
      which shift every FEATURE equally and are dropped (a per-doc
      shift of ``const * n_features`` never changes which documents
      look target-like relative to same-length peers, and DSIR
      resamples within the corpus, not against an absolute zero).
      Float sums — production mode, verified in pytest against a
      sequential reference, not oracle-hash-checkable.
    - ``"ratio_fp"``: the SMOOTHED TARGET/RAW RATIO in 2^20 fixed
      point — ``lr_b = ((t_b+1) * DSIR_SCALE) div (r_b+1)``. ln()
      is the one primitive whose last ulp differs across engines
      (DuckDB libm vs JVM Math.log), so only this variant can be
      DuckDB-oracle-hash-checked (q118): integer division and
      integer sums are bit-identical everywhere, and the dropped
      normalization is multiplicative here, hence rank-neutral.
      Scores stay exact: lr_b < 2^42 for any realistic histogram
      and docs have < 2^10 features, keeping sums < 2^53.
      Measured Spearman vs the log weight ~0.75 on mixed synthetic
      corpora (floor pinned in ``tests/test_curation_ops.py``) —
      the ratio's heavy tail over-rewards rare target buckets, so
      production selection should prefer ``"log"``.

    Scale shape: TWO corpus scans, same as TF-IDF — pass 1 reduces
    the corpus to a ``n_buckets``-row histogram (map-side partial agg
    into a tiny exchange), pass 2 re-scans to score. The weight frame
    (target histogram FULL OUTER raw histogram, <= n_buckets rows) is
    broadcast; the scoring join is map-side, followed by one hash
    exchange on ``id_col``. Nothing wide is cached or collected: at
    100 TB the exploded feature frame is ~10x the corpus, so
    re-scanning beats checkpointing it.

    Returns (``id_col``, n_features, score_fp, score). In
    ``"ratio_fp"`` mode ``score_fp`` is the exact integer sum of
    fixed-point bucket weights and ``score`` is score_fp / 2^20 via
    one IEEE division (bit-exact cross-engine); in ``"log"`` mode
    ``score`` is the float log-LR sum and ``score_fp`` its 2^20
    fixed-point rounding (kept so both modes share a schema).
    Documents whose shingle set is empty score 0."""
    if weight_mode not in ("log", "ratio_fp"):
        raise ValueError(
            f"weight_mode must be log|ratio_fp, got {weight_mode!r}"
        )
    b_of = lambda c: hash_bucket(c, n_buckets, salt="dsir")  # noqa: E731
    tgt = target.select(
        F.explode(F.array_distinct(target_shingles)).alias("_s")
    ).select(b_of("_s").alias("_b"))
    raw = docs.select(
        F.col(id_col), F.explode_outer(F.array_distinct(shingles)).alias("_s")
    ).select(id_col, b_of("_s").alias("_b"))
    t_hist = tgt.groupBy("_b").agg(F.count("*").alias("_t"))
    r_hist = raw.filter(F.col("_b").isNotNull()).groupBy("_b").agg(
        F.count("*").alias("_r")
    )
    smoothed = t_hist.join(r_hist, "_b", "full").select(
        "_b",
        (F.coalesce(F.col("_t"), F.lit(0)) + F.lit(1)).alias("_ts"),
        (F.coalesce(F.col("_r"), F.lit(0)) + F.lit(1)).alias("_rs"),
    )
    if weight_mode == "ratio_fp":
        weights = smoothed.select(
            "_b",
            (F.col("_ts") * F.lit(DSIR_SCALE)).alias("_num"),
            F.col("_rs").alias("_den"),
        ).select("_b", F.expr("_num div _den").alias("_lr"))
    else:
        weights = smoothed.select(
            "_b",
            (
                F.log(F.col("_ts").cast("double"))
                - F.log(F.col("_rs").cast("double"))
            ).alias("_lr"),
        )
    scored = raw.join(F.broadcast(weights), "_b", "left").groupBy(id_col)
    if weight_mode == "ratio_fp":
        agg = scored.agg(
            F.count("_b").alias("n_features"),
            F.coalesce(F.sum("_lr"), F.lit(0)).cast("long").alias("score_fp"),
        )
        return agg.select(
            id_col,
            "n_features",
            "score_fp",
            (
                F.col("score_fp").cast("double") / F.lit(float(DSIR_SCALE))
            ).alias("score"),
        )
    agg = scored.agg(
        F.count("_b").alias("n_features"),
        F.coalesce(F.sum("_lr"), F.lit(0.0)).alias("score"),
    )
    return agg.select(
        id_col,
        "n_features",
        F.round(F.col("score") * F.lit(float(DSIR_SCALE)))
        .cast("long")
        .alias("score_fp"),
        "score",
    )


def rare_ngram_scores(
    docs: DataFrame,
    id_col: str,
    grams: Column,
    train_pred: Column,
    min_count: int = 2,
    n_salts: int = 0,
) -> DataFrame:
    """N-gram language-model rarity scores — the integer-exact form
    of CCNet-style LM filtering (Wenzek et al. 2020 score documents
    by KenLM perplexity; the reference partition here plays the role
    of the LM training corpus). A document full of n-grams the
    reference partition has seen is "fluent"; one dominated by
    never/rarely-seen n-grams is the high-perplexity tail that LM
    filtering drops.

    Model = n-grams with multiplicity count >= ``min_count`` in the
    ``train_pred`` slice of the corpus. Every document (train slice
    included — standard when the score feeds a filter) is scored by
    the share of its n-gram OCCURRENCES outside that vocabulary:
    ``rare_fp = (n_rare * 2^20) div n_ngrams`` (0 when the document
    has no n-grams). Integer counts and integer division only — a
    true perplexity needs ln(), the one primitive whose last ulp
    differs across engines (the q118 ratio_fp precedent), and the
    rank ordering this score induces is what the downstream filter
    consumes.

    Scale shape: two corpus scans, like dsir_scores — pass 1 reduces
    the train slice to a vocabulary histogram (map-side partial agg),
    pass 2 explodes occurrences and hash-joins them against the
    vocabulary on the gram key. The vocabulary scales with corpus
    vocabulary (sublinear in tokens but far beyond broadcast range at
    100 TB), so the join is a plain shuffled hash join — both sides
    exchange on ``_g``, AQE free to pick broadcast at small SF.
    The raw n-gram string is a SKEWED key at corpus scale (stop-word
    bigrams dominate Zipf-fashion): the occurrence side piles onto a
    few hot partitions. ``n_salts > 0`` routes the occ-vocab join
    through :func:`cardano_spark.operators.skew.salted_join` — the
    occurrence side salts on the document id (deterministic,
    high-cardinality), the vocabulary side replicates per salt
    (correct because vocab is unique per ``_g``), so the hot key's
    rows spread over ``n_salts`` reducers at a fixed vocab-side
    replication cost. Result rows are IDENTICAL either way (each occ
    row meets exactly one replica). Measured on a planted-hot-bigram
    corpus (800k docs, one bigram = ~75% of all occurrences, AQE
    skew-join ON; BENCH_EXTENDED "q145 occ-vocab salting A/B"):
    AQE-only 13.6 s vs salted 14.0-14.4 s — AQE's split already
    handles the JOIN-ONLY hot key, so ``n_salts=0`` stays the default
    and q145 ships with it; the salt path is the wired, identity-
    tested escape hatch for the case AQE cannot split (a hot key
    whose single shuffle block exceeds executor memory, or skew
    feeding a same-key aggregation). Nothing wide is cached; the
    exploded frame streams through the join into a map-side partial
    count.

    Returns (``id_col``, n_ngrams, n_rare, rare_fp)."""
    occ = docs.select(
        F.col(id_col), F.explode_outer(grams).alias("_g")
    )
    vocab = (
        docs.filter(train_pred)
        .select(F.explode(grams).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= F.lit(min_count))
        .select("_g", F.lit(1).alias("_known"))
    )
    if n_salts > 0:
        from cardano_spark.operators.skew import salted_join

        joined = salted_join(
            occ, vocab, "_g", F.col(id_col), n_salts=n_salts, how="left"
        )
    else:
        joined = occ.join(vocab, "_g", "left")
    scored = joined.groupBy(id_col).agg(
        F.count("_g").cast("long").alias("n_ngrams"),
        F.sum(
            F.when(
                F.col("_g").isNotNull() & F.col("_known").isNull(), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_rare"),
    )
    return scored.select(
        id_col,
        "n_ngrams",
        "n_rare",
        F.when(
            F.col("n_ngrams") > 0,
            F.expr(f"(n_rare * CAST({DSIR_SCALE} AS BIGINT)) div n_ngrams"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rare_fp"),
    )


def boilerplate_spans(
    docs: DataFrame,
    id_col: str,
    shingles: Column,
    min_df: int,
) -> DataFrame:
    """C4-style corpus-internal boilerplate detection: token spans
    (n-gram shingles) occurring in >= ``min_df`` DISTINCT documents
    are boilerplate (navigation chrome, license headers, template
    text); report per document how much of it is boilerplate — the
    signal used to strip or down-weight templated content before
    training.

    Unlike decontamination (benchmark_contamination — an EXTERNAL
    reference set, small by contract and explicitly broadcast), the
    reference set here is the corpus itself, so computing span
    document-frequency is a genuine shuffle question: explode
    distinct spans -> df per span (map-side partial count) -> re-join
    spans to their docs on the span key -> per-doc rollup. Same
    skeleton as tf-idf (q55). The re-join's strategy is left to
    Catalyst/AQE on purpose: the aggregated (span, df) side is one
    row per DISTINCT span, so on small/skewed-vocabulary corpora it
    broadcasts, and at open-vocabulary corpus scale stats push it to
    a shuffle join — declaring either by hand would be wrong at the
    other end of the range.

    Returns (id_col, n_spans, n_boiler, boiler_frac)."""
    d = docs.select(
        F.col(id_col), F.explode_outer(F.array_distinct(shingles)).alias("_s")
    )
    df_counts = d.groupBy("_s").agg(
        F.count_distinct(F.col(id_col)).alias("_df")
    )
    return (
        d.join(df_counts, "_s", "left")
        .groupBy(id_col)
        .agg(
            F.count("_s").alias("n_spans"),
            F.sum(
                F.when(F.col("_df") >= min_df, 1).otherwise(0)
            ).cast("long").alias("n_boiler"),
        )
        .select(
            id_col,
            "n_spans",
            "n_boiler",
            F.when(
                F.col("n_spans") > 0,
                F.col("n_boiler").cast("double") / F.col("n_spans").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_frac"),
        )
    )


def repeated_ngram_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection at token n-gram
    granularity — the ExactSubstr dedup of Lee et al. 2022
    (arXiv:2107.06499, "Deduplicating Training Data Makes Language
    Models Better") re-expressed for Spark: instead of a suffix array
    (a global sorted structure Spark can't build incrementally), hash
    every POSITIONAL n-token window and count how many distinct
    documents each window occurs in; windows in >= ``min_docs`` docs
    are repeated spans. With n at the paper's 50-token scale the two
    formulations flag the same text modulo span boundaries.

    Scale shape: one corpus scan; the window fan-out (one row per
    token position) happens map-side inside the Generate and only the
    slim (doc_id, start, md5) triple reaches the exchange — the token
    array itself is projected away before any shuffle. The window
    frame feeds TWO consumers (the census groupBy and the join back),
    and their exchange layouts genuinely differ (countDistinct's
    first exchange partitions on (_wid, doc_id), the join side on
    (_wid) alone — ReuseExchange can NOT fire here, verified on the
    executed plan), so the slim frame is ``localCheckpoint``-ed once:
    the tokenize + explode + per-window md5 work — the dominant cost
    — runs exactly once per query. The census is a two-phase
    distinct-count grouped on the 128-bit md5 (collision-free for any
    real corpus, uniform by construction so no skew key exists), and
    per-doc stats reduce with a map-side partial agg on doc_id.
    Nothing is all-pairs and no driver-side state exists.

    Differs from :func:`boilerplate_spans` (line-granularity, C4
    rule) and repetition_scores (WITHIN-doc repetition): this flags
    exact n-gram runs shared ACROSS documents, the signal used to cut
    verbatim-copied spans from training corpora.

    Returns one row per document that has >= 1 window (docs shorter
    than ``n`` tokens have no windows by definition):
    (``id_col``, n_windows, n_repeated, first_repeated_start,
    repeated_frac) — start offsets 1-based token positions,
    first_repeated_start NULL when the doc has no repeated window.
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    staged = docs.select(
        F.col(id_col), toks.alias("_t"), (F.size(toks) - F.lit(n - 1)).alias("_nw")
    ).filter(F.col("_nw") >= 1)
    windows = staged.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.col("_nw"))).alias("start"),
        F.col("_t"),
    ).select(
        F.col(id_col),
        F.col("start").cast("long").alias("start"),
        F.md5(F.concat_ws(" ", F.slice(F.col("_t"), F.col("start"), n))).alias(
            "_wid"
        ),
    ).localCheckpoint(eager=False)
    census = (
        windows.groupBy("_wid")
        .agg(F.countDistinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_wid", F.lit(1).alias("_rep"))
    )
    return (
        windows.join(census, "_wid", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_rep"), F.lit(0))).cast("long").alias(
                "n_repeated"
            ),
            F.min(F.when(F.col("_rep") == 1, F.col("start"))).alias(
                "first_repeated_start"
            ),
        )
        .select(
            id_col,
            "n_windows",
            "n_repeated",
            "first_repeated_start",
            (
                F.col("n_repeated").cast("double")
                / F.col("n_windows").cast("double")
            ).alias("repeated_frac"),
        )
    )


def bpe_train_merges(
    docs: DataFrame, text_col: str, rounds: int
) -> DataFrame:
    """Greedy BPE merge TRAINING over the corpus — the actual
    iterative loop (Sennrich et al. 2016), not just the first-round
    census (q111): each round counts adjacent token pairs, elects the
    most frequent pair (ties broken by pair string ascending — exact
    integer counts, so the argmax is deterministic), merges every
    left-to-right non-overlapping occurrence corpus-wide, and
    repeats on the re-tokenized corpus. Word-level formulation; the
    character-level inner loop of production BPE is the identical
    plan over per-word symbol sequences.

    The merge APPLY is the trick that keeps both engines bit-equal:
    the corpus is carried as a DOUBLE-SPACED string (`' ' +
    replace(text, ' ', '  ') + ' '`), so merging pair (a, b) is the
    plain literal ``replace(' a  b ', ' a+b ')`` — each occurrence
    owns one of the two separator spaces on each side, so
    CONSECUTIVE occurrences ("a b a b" -> "a+b a+b") and overlapping
    self-pairs ("a a a" -> "a+a a", the left-to-right greedy rule)
    both behave exactly like a sequential BPE trainer, and Spark's
    ``replace`` and DuckDB's are the same left-to-right
    non-overlapping scan. No driver-side tokenizer state: the winner
    stays a 1-row frame broadcast-cross-joined onto the corpus
    (BroadcastNestedLoopJoin against ONE row, by design), and each
    round's re-tokenized corpus plus the 1-row winner are
    localCheckpointed — the lineage cut that keeps round r from
    re-running rounds 1..r-1 (the q44/q88 iteration discipline).

    Scale: each round is one census shuffle over (pair, partial
    count) plus a map-side rewrite of the corpus — the same cost
    profile as a distributed tokenizer trainer; checkpoint size is
    the corpus itself, unavoidable for an algorithm whose state IS
    the re-tokenized corpus.

    Returns one row per round: (merge_round, t1, t2, n_pairs) where
    n_pairs is the pair's census count BEFORE the merge."""
    return _bpe_loop(docs, text_col, rounds, keep_cols=())[0]


def _bpe_loop(
    docs: DataFrame,
    text_col: str,
    rounds: int,
    keep_cols: tuple[str, ...],
) -> tuple[DataFrame, DataFrame]:
    """The shared BPE iteration: returns (merge table, final
    re-tokenized corpus). ``keep_cols`` are carried through every
    round's checkpoint unchanged (Catalyst prunes them from the
    census subtree, so the training plan is identical with or
    without them — q125's hash does not move when q130 asks for
    doc_id/source passthrough)."""
    cur = docs.select(
        *[F.col(c) for c in keep_cols],
        F.concat(
            F.lit(" "),
            F.replace(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(" "),
                F.lit("  "),
            ),
            F.lit(" "),
        ).alias("_s"),
    ).localCheckpoint(eager=True)
    winners = []
    for r in range(1, rounds + 1):
        toks = F.split(F.trim(F.col("_s")), " {2}")
        staged = cur.select(
            toks.alias("_t"), (F.size(toks) - 1).alias("_np")
        ).filter(F.col("_np") >= 1)
        census = (
            staged.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.col("_np")),
                        lambda i: F.struct(
                            F.element_at(F.col("_t"), i).alias("t1"),
                            F.element_at(F.col("_t"), i + 1).alias("t2"),
                        ),
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )
        winner = (
            census.orderBy(
                F.desc("n_pairs"), F.asc("t1"), F.asc("t2")
            )
            .limit(1)
            .select(
                F.lit(r).alias("merge_round"), "t1", "t2", "n_pairs"
            )
            .localCheckpoint(eager=True)
        )
        winners.append(winner)
        cur = (
            cur.crossJoin(F.broadcast(winner.select("t1", "t2")))
            .select(
                *[F.col(c) for c in keep_cols],
                F.replace(
                    F.col("_s"),
                    F.concat(
                        F.lit(" "),
                        F.col("t1"),
                        F.lit("  "),
                        F.col("t2"),
                        F.lit(" "),
                    ),
                    F.concat(
                        F.lit(" "),
                        F.col("t1"),
                        F.lit("+"),
                        F.col("t2"),
                        F.lit(" "),
                    ),
                ).alias("_s"),
            )
            .localCheckpoint(eager=True)
        )
    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    return out, cur


def bpe_apply_report(
    docs: DataFrame,
    text_col: str,
    rounds: int,
    group_col: str,
) -> DataFrame:
    """Tokenizer APPLY after :func:`bpe_train_merges`' training loop:
    run the same ``rounds`` merges over the corpus and report the
    compression they buy, per ``group_col`` — the number a tokenizer
    team actually reads (tokens before/after = context-window and
    training-step budget). One extra groupBy over the final corpus;
    the training loop itself is the shared :func:`_bpe_loop`.

    Returns (``group_col``, n_docs, tokens_before, tokens_after)."""
    _, final = _bpe_loop(docs, text_col, rounds, keep_cols=(group_col,))
    n_after = F.size(F.split(F.trim(F.col("_s")), " {2}"))
    before = docs.select(
        F.col(group_col),
        F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias(
            "_nb"
        ),
    )
    b = before.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nb").cast("long").alias("tokens_before"),
    )
    a = final.select(F.col(group_col), n_after.alias("_na")).groupBy(
        group_col
    ).agg(F.sum("_na").cast("long").alias("tokens_after"))
    return b.join(a, group_col).select(
        group_col, "n_docs", "tokens_before", "tokens_after"
    )


def decontaminate_spans(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Span-level decontamination — CUT the quoted benchmark span,
    don't drop the document (r7 verdict item 4: Lee et al. 2022's
    ExactSubstr *apply* step, pointed at decontamination instead of
    dedup). Every token of a train document covered by an n-gram
    window that also occurs VERBATIM in the benchmark set is removed;
    the rest of the document survives.

    Contrast with the other decontamination arms: q58/q73/q67 GATE
    whole documents on an overlap fraction — a long document with one
    quoted benchmark item either dilutes below the threshold (leak
    ships) or dies whole (data wasted). q174's depth ladder GRADES
    the severity; this operator acts on it: detection-complete at
    run length >= ``n`` (every position of a shared run >= n tokens
    is covered by at least one shared window, the q126 interval-union
    argument), so the entire lift is excised and nothing else is.

    Scale shape: train windows are the q110/q126 slim
    (id, start, window-hash) triples — map-side explode, one
    checkpoint; the benchmark's DISTINCT window hashes broadcast
    (eval sets are thousands of documents by contract); drop
    positions explode map-side from hit windows only and reduce to
    per-doc sets (bounded by doc length); the rebuild is one
    positional array filter per doc. No corpus-sized exchange beyond
    the per-doc groupBy; never all-pairs.

    Returns one row per input document:
    (``id_col``, n_tokens, n_removed, cleaned_text)."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    base = docs.select(F.col(id_col), toks.alias("_t"))

    def windows(frame: DataFrame, idc: str) -> DataFrame:
        t = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        return (
            frame.select(
                F.col(idc),
                t.alias("_t"),
                (F.size(t) - F.lit(n - 1)).alias("_nw"),
            )
            .filter(F.col("_nw") >= 1)
            .select(
                F.col(idc),
                F.explode(F.sequence(F.lit(1), F.col("_nw"))).alias(
                    "start"
                ),
                F.col("_t"),
            )
            .select(
                F.col(idc),
                F.col("start").cast("long").alias("start"),
                F.md5(
                    F.concat_ws(
                        " ", F.slice(F.col("_t"), F.col("start"), n)
                    )
                ).alias("_wid"),
            )
        )

    # the benchmark's ids never survive the distinct below, so accept
    # text-only benchmark frames (e.g. the retraction UNION, which
    # deliberately drops ids from two clashing id spaces) by
    # synthesizing a constant — values are identical for id-bearing
    # benchmarks
    bench_wids = F.broadcast(
        windows(
            bench.select(F.col(text_col)).withColumn(id_col, F.lit(0)),
            id_col,
        )
        .select("_wid")
        .distinct()
    )
    drops = (
        windows(docs, id_col)
        .join(bench_wids, "_wid")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("_pos"),
        )
        .distinct()
    )
    drop_sets = drops.groupBy(id_col).agg(
        F.collect_set("_pos").alias("_drop")
    )
    empty = F.array().cast("array<bigint>")
    dropped = F.coalesce(F.col("_drop"), empty)
    return base.join(drop_sets, id_col, "left").select(
        F.col(id_col),
        F.size("_t").cast("long").alias("n_tokens"),
        F.size(dropped).cast("long").alias("n_removed"),
        F.concat_ws(
            " ",
            F.filter(
                F.col("_t"),
                lambda x, i: ~F.array_contains(
                    dropped, (i + 1).cast("bigint")
                ),
            ),
        ).alias("cleaned_text"),
    )


def remove_repeated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (Lee et al. 2022) —
    :func:`repeated_ngram_spans` is the census, this actually CUTS
    the repeated text: every token covered by an occurrence of a
    cross-document repeated n-gram window is removed, EXCEPT the
    canonical first occurrence of each window (min (doc_id, start) —
    the paper's keep-one-copy rule), whose tokens survive unless some
    OTHER repeated occurrence also covers them (interval-union
    semantics, deterministic in both engines).

    Scale shape: the window fan-out and the census are q110's
    machinery (slim (doc, start, window-hash) triples checkpointed
    once, two-phase distinct count); the canonical election rides the
    SAME census groupBy as a min(struct(doc_id, start)) partial agg —
    no extra exchange; removal positions explode map-side from the
    surviving occurrences and reduce to per-doc drop-sets (bounded by
    doc length); the rebuild is one positional array filter per doc,
    no Python. Nothing is all-pairs; the only driver-free state is
    the drop-set join.

    Returns one row per input document:
    (``id_col``, n_tokens, n_removed, cleaned_text)."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    base = docs.select(F.col(id_col), toks.alias("_t"))
    windows = (
        base.select(
            F.col(id_col),
            F.col("_t"),
            (F.size(F.col("_t")) - F.lit(n - 1)).alias("_nw"),
        )
        .filter(F.col("_nw") >= 1)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.col("_nw"))).alias("start"),
            F.col("_t"),
        )
        .select(
            F.col(id_col),
            F.col("start").cast("long").alias("start"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("_t"), F.col("start"), n))
            ).alias("_wid"),
        )
        .localCheckpoint(eager=False)
    )
    census = (
        windows.groupBy("_wid")
        .agg(
            F.countDistinct(F.col(id_col)).alias("_nd"),
            F.min(F.struct(F.col(id_col), F.col("start"))).alias("_canon"),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("_wid", "_canon")
    )
    drops = (
        windows.join(census, "_wid")
        .filter(
            ~(
                (F.col(id_col) == F.col("_canon")[id_col])
                & (F.col("start") == F.col("_canon.start"))
            )
        )
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("_pos"),
        )
        .distinct()
    )
    drop_sets = drops.groupBy(id_col).agg(
        F.collect_set("_pos").alias("_drop")
    )
    empty = F.array().cast("array<bigint>")
    dropped = F.coalesce(F.col("_drop"), empty)
    return base.join(drop_sets, id_col, "left").select(
        F.col(id_col),
        F.size("_t").cast("long").alias("n_tokens"),
        F.size(dropped).cast("long").alias("n_removed"),
        F.concat_ws(
            " ",
            F.filter(
                F.col("_t"),
                lambda x, i: ~F.array_contains(dropped, (i + 1).cast("bigint")),
            ),
        ).alias("cleaned_text"),
    )


def linear_model_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    n_buckets: int,
    salt: str = "qclf",
) -> DataFrame:
    """Hashing-trick linear classifier SERVING — the fastText/CCNet
    quality-filter shape (Joulin et al. 2016; Wenzek et al. 2020
    score documents with a linear model over hashed bag-of-words
    features and keep by threshold): each token (with multiplicity)
    hashes into one of ``n_buckets`` feature buckets
    (:func:`hash_bucket` — the same retry-stable content hash as the
    split operator), the model is a (bucket, weight) frame produced
    by OFFLINE training and joined in as a BROADCAST (models are
    KB-to-MB sized — never a corpus shuffle), and the per-document
    logit reduces with map-side partial sums on ``id_col`` — ONE
    exchange total. Integer weights keep the logit exact
    (order-free partial sums < 2^53), which is also what makes a
    threshold decision reproducible across partitionings — a float
    logit near the boundary could flip with aggregation order.

    ``weights`` columns: (bucket long, weight long). Returns
    (``id_col``, n_tokens, logit, keep) with keep = (logit > 0) as
    int."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("_t"),
    )
    tb = toks.select(
        F.col(id_col), hash_bucket("_t", n_buckets, salt).alias("bucket")
    )
    return (
        tb.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("weight").cast("long").alias("logit"),
        )
        .select(
            id_col,
            "n_tokens",
            "logit",
            (F.col("logit") > 0).cast("int").alias("keep"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    toks: Column,
    terms: DataFrame,
    k1_x10: int = 12,
    b_x4: int = 3,
) -> DataFrame:
    """BM25 keyword scoring (Robertson & Zaragoza 2009) in EXACT
    integer arithmetic — the lexical ranker of a hybrid-search stack
    (ANN retrieves by meaning, this by term statistics; rrf_fuse
    combines them). ``terms`` is a 1-column (``term``) frame — the
    parsed query.

    Cross-engine exactness (the q118 ratio_fp discipline): BM25's
    ``ln((N - df + 0.5) / (df + 0.5) + 1)`` idf is the one piece
    whose last ulp differs across engines, and ln is monotone — so
    the scores here keep the RATIONAL idf ``(N - df + 0.5) /
    (df + 0.5) + 1`` in 2^20 fixed point (identical per-term
    ordering; the cross-term sum weights rare terms more steeply
    than true BM25 — documented, deterministic, hash-checkable).
    The tf saturation uses the standard k1/b defaults as exact
    rationals (k1 = k1_x10/10, b = b_x4/4), multiplied through by
    the integer corpus totals so every intermediate is int64:

        idf_fp  = ((2N - 2df + 1) * 2^20) div (2df + 1) + 2^20
        tf_part = (4 * tf * (10 + k1_x10) * T * 2^20) div
                  ((40*tf + k1_x10*(4 - b_x4)) * T + k1_x10*b_x4*dl*N)
        score_fp += (idf_fp * tf_part) div 2^20

    (both sides of the tf ratio are the exact rational scaled by
    40*T: 40*(k1+1) = 4*(10+k1_x10), 40*k1*(1-b) = k1_x10*(4-b_x4),
    40*k1*b = k1_x10*b_x4; T = total corpus tokens)

    int64 headroom: idf_fp ~ N * 2^20 and the tf denominator carries
    dl * N — exact to N ~ 2^21 corpus docs per partition-independent
    sum; beyond that, pre-scale the fixed point down (the ordering
    is what downstream consumes).

    Shape: one corpus scan explodes (doc, token) occurrences,
    semi-joined against the BROADCAST term frame (a parsed query is
    a handful of rows) before anything aggregates — the corpus-sized
    exchange carries only matching occurrences. df/tf/dl reduce with
    map-side partials; N and T are a 1-row broadcast.

    Returns (``id_col``, dl, n_terms_matched, score_fp) for every
    document with >= 1 matching term."""
    t = docs.select(F.col(id_col), toks.alias("_t")).select(
        id_col,
        F.size(F.col("_t")).cast("long").alias("dl"),
        F.explode(F.col("_t")).alias("term"),
    )
    # distinct() so a raw query with repeated words cannot fan out the
    # occurrence join and silently double-count tf/df — callers may
    # pass the parsed query verbatim
    occ = t.join(F.broadcast(terms.select("term").distinct()), "term")
    totals = docs.select(toks.alias("_t")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.col("_t"))).cast("long").alias("total_tokens"),
    )
    per = occ.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.first("dl").alias("dl"),
    )
    dfreq = per.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    kk = int(k1_x10)
    bb = int(b_x4)
    scored = (
        per.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            "dl",
            F.expr(
                f"((2*n_docs - 2*df + 1) * 1048576) div (2*df + 1) + 1048576"
            ).alias("_idf_fp"),
            F.expr(
                f"(4 * tf * (10 + {kk}) * total_tokens * 1048576) div "
                f"((40*tf + {kk}*(4 - {bb})) * total_tokens "
                f"+ {kk}*{bb}*dl*n_docs)"
            ).alias("_tf_fp"),
        )
    )
    return (
        scored.select(
            id_col,
            "dl",
            F.expr("(_idf_fp * _tf_fp) div 1048576").alias("_s"),
        )
        .groupBy(id_col)
        .agg(
            F.first("dl").alias("dl"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum("_s").cast("long").alias("score_fp"),
        )
    )


def bm25_prf_topk(
    docs: DataFrame,
    id_col: str,
    toks: Column,
    terms: DataFrame,
    fb_k: int = 10,
    n_expansion: int = 5,
    k: int = 10,
) -> DataFrame:
    """BM25 with pseudo-relevance feedback (the Rocchio/RM3 lexical
    core): score with :func:`bm25_scores`, treat the top ``fb_k``
    documents as relevant, extract the ``n_expansion`` most frequent
    non-query terms from them (total occurrences across the feedback
    docs, ties to the smaller term — deterministic), and re-score
    with the expanded query. The classic recall lever of the keyword
    arm: a document using only the VOCABULARY of the relevant set
    (never the original terms) becomes reachable in pass 2.

    Shape: the corpus tokenizes ONCE into a slim (id, tokens) frame
    behind a localCheckpoint — both BM25 passes, the probe
    derivation and the feedback aggregate read it instead of
    re-scanning (and re-tokenizing) the corpus per stage, which
    would be 10+ table scans at 100 TB. Term frames stay
    broadcast-sized throughout; top-k cuts are TakeOrdered-first,
    then the rank window runs on ``k`` rows.

    Returns (``id_col``, dl, n_terms_matched, score_fp, rank)."""
    from pyspark.sql import Window as _W

    tok = docs.select(F.col(id_col), toks.alias("_t")).localCheckpoint(
        eager=False
    )
    probe = terms.select("term").localCheckpoint(eager=False)
    first = bm25_scores(tok, id_col, F.col("_t"), probe)
    fb = (
        first.orderBy(F.desc("score_fp"), F.asc(id_col))
        .limit(int(fb_k))
        .select(id_col)
    )
    fb_occ = (
        tok.join(fb, id_col, "left_semi")
        .select(F.explode(F.col("_t")).alias("term"))
        .join(probe, "term", "left_anti")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    expansion = (
        fb_occ.orderBy(F.desc("_n"), F.asc("term"))
        .limit(int(n_expansion))
        .select("term")
    )
    second = bm25_scores(
        tok, id_col, F.col("_t"), probe.unionByName(expansion)
    )
    top = second.orderBy(F.desc("score_fp"), F.asc(id_col)).limit(int(k))
    w = _W.orderBy(F.desc("score_fp"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col,
        "dl",
        "n_terms_matched",
        "score_fp",
        F.col("rank").cast("long").alias("rank"),
    )


#: the normalization chain shared by normalize_text / normalize_text_sql
#: — (pattern, replacement), applied IN ORDER. Java regex and RE2 agree
#: on every construct used here (literal unicode classes, \x escapes,
#: \s); the chain is deliberately minimal-and-exact rather than full
#: NFKC (which needs ICU — Python-side, and not oracle-replayable).
_NORMALIZE_CHAIN: list[tuple[str, str]] = [
    # zero-width characters out entirely
    ("[​‌‍﻿]", ""),
    # control characters (keep \t \n \r for the whitespace collapse)
    ("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""),
    # typographic quotes/dashes/ellipsis to ASCII
    ("[‘’‚]", "'"),
    ("[“”„]", "\""),
    ("[–—−]", "-"),
    ("…", "..."),
    # nbsp + all whitespace runs collapse to one space
    ("[ \\s]+", " "),
    # at most one leading/trailing space survives the collapse
    ("^ | $", ""),
]


def length_batch_report(
    docs: DataFrame,
    id_col: str,
    n_tokens: Column,
    budget: int,
    range_partitions: int = 32,
) -> DataFrame:
    """Length-bucketed batch packing — the dynamic-batching layout
    every padded-tensor consumer runs (fairseq ``--max-tokens``,
    inference servers batching same-length requests): sort the
    corpus by (token count, id), slice the sorted stream into
    batches of ``budget`` raw tokens, and report the PADDING overhead
    per batch — each batch materializes as max_len × n_docs padded
    tokens, and length-sorting is precisely what keeps that close to
    the raw sum. The report (not a bare assignment) is the tuning
    artifact: waste_fp per batch tells you whether the budget or the
    bucketing needs to move.

    Batch assignment is the shared distributed prefix sum
    (:func:`_exclusive_prefix_sum`) over the composite key
    ``lpad(n_tokens) ++ '|' ++ lpad(id)`` — zero-padded so string
    order IS (length, id) order and ties are impossible. The id pad
    is 19 chars = the full int64 digit width, so no non-negative id
    can be TRUNCATED by lpad (ids MUST be non-negative: a '-' sign
    would both truncate and mis-sort; both engines' lpad truncate
    identically so parity would hold, but batch assignment would be
    order-ambiguous); batch_id =
    exclusive_start div budget (a document straddling a boundary
    joins the earlier batch — deterministic, exact integers). The
    true sequential greedy (admit while max_len*(n+1) <= budget) is
    inherently stateful; this budget-slice form is its
    order-preserving distributed counterpart, and the waste column
    measures exactly what the greedy would optimize.

    Scale shape: one slim (key, n) projection, the prefix sum's
    range shuffle + broadcast offsets, one groupBy on batch_id with
    map-side partials. Output rows = ceil(total_tokens/budget) —
    bounded, never corpus-sized.

    Returns (batch_id, n_docs, max_len, sum_tokens, padded_tokens,
    waste_fp) with waste_fp = (padded - sum) * 2^20 div padded."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    skey = F.concat(
        F.lpad(n_tokens.cast("string"), 10, "0"),
        F.lit("|"),
        F.lpad(F.col(id_col).cast("string"), 19, "0"),
    )
    keyed = docs.select(skey.alias("_skey"), n_tokens.alias("_n"))
    started, _ = _exclusive_prefix_sum(
        keyed, "_skey", F.col("_n"), range_partitions
    )
    per = (
        started.select(
            F.expr(f"_start div {int(budget)}").alias("batch_id"),
            F.col("n_tokens"),
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("n_tokens").cast("long").alias("max_len"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
    )
    return per.select(
        "batch_id",
        "n_docs",
        "max_len",
        "sum_tokens",
        (F.col("max_len") * F.col("n_docs")).alias("padded_tokens"),
        F.expr(
            "CASE WHEN max_len * n_docs > 0 THEN "
            "((max_len * n_docs - sum_tokens) * 1048576) "
            "div (max_len * n_docs) ELSE 0 END"
        )
        .cast("long")
        .alias("waste_fp"),
    )


#: Gopher rule 7's required English words (Rae et al. 2021 A1.1:
#: "contain at least two of the following English words").
GOPHER_REQUIRED_WORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_flag_columns(text: Column) -> tuple[Column, Column]:
    """The (n_words, flags) column pair behind
    :func:`gopher_quality_flags` — exposed as bare Columns so the
    corpus pipeline can gate on ``flags == 127`` INSIDE its existing
    projection (shuffle-free; no per-stage join)."""
    txt = F.coalesce(text, F.lit(""))
    toks = F.split(txt, " ")
    lines = F.split(txt, "\n")
    n_words = F.size(toks).cast("long")
    n_lines = F.size(lines).cast("long")
    n_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    n_sym = F.size(F.regexp_extract_all(txt, F.lit(r"#|\.\.\."), 0)).cast(
        "long"
    )
    n_bullet = F.size(
        F.filter(lines, lambda l: l.startswith("•") | l.startswith("- "))
    ).cast("long")
    n_ell = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast(
        "long"
    )
    n_req = sum(
        (
            F.array_contains(toks, w).cast("long")
            for w in GOPHER_REQUIRED_WORDS
        ),
        start=F.lit(0).cast("long"),
    )
    rules = [
        (n_words >= 50) & (n_words <= 100_000),
        (3 * n_words <= n_chars) & (n_chars <= 10 * n_words),
        10 * n_sym <= n_words,
        10 * n_bullet <= 9 * n_lines,
        10 * n_ell <= 3 * n_lines,
        5 * n_alpha >= 4 * n_words,
        n_req >= 2,
    ]
    flags = sum(
        (r.cast("long") * F.lit(1 << i) for i, r in enumerate(rules)),
        start=F.lit(0).cast("long"),
    )
    return n_words, flags


def gopher_quality_flags(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021,
    Appendix A1.1 — the filter stack MassiveWeb shipped with, and the
    `GopherQualityFilter` every modern curation toolkit carries) as a
    per-document PASS bitmask plus the combined keep decision:

    - bit 0: 50 <= word count <= 100,000
    - bit 1: mean word length in [3, 10] characters
    - bit 2: symbol-to-word ratio ('#' or '...') <= 0.1
    - bit 3: <= 90% of lines start with a bullet ('•' or '- ')
    - bit 4: <= 30% of lines end with an ellipsis ('...' or '…')
    - bit 5: >= 80% of words contain >= 1 alphabetic character
    - bit 6: >= 2 distinct words from :data:`GOPHER_REQUIRED_WORDS`

    The REPORT form (bitmask, not a bare filter) is deliberate: rule
    incidence per source is what a curation team tunes on, and the
    keep column is derivable (flags == 127) — the q62 constraint-
    report discipline applied to the published rule set.

    Cross-engine exactness: every ratio threshold is restated as an
    INTEGER cross-multiplication (mean word length in [3,10] ⇔
    3*words <= chars <= 10*words; symbol ratio <= 0.1 ⇔
    10*symbols <= words; …), so no IEEE division is compared — the
    verdict is bit-stable under any partitioning and identical in
    DuckDB. Rule 7 counts presence per literal word (8 fixed
    ``array_contains`` terms), not a multiset intersect, so both
    engines agree on duplicates.

    Shape: a pure per-row projection over the corpus scan — token
    and line arrays, array folds, zero exchanges. NULL text
    normalizes to '' (fails rules 1/2/6, deterministically).

    Returns (``id_col``, n_words, flags, keep)."""
    n_words, flags = gopher_flag_columns(F.col(text_col))
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        flags.alias("flags"),
    ).select(
        id_col,
        "n_words",
        "flags",
        (F.col("flags") == F.lit((1 << 7) - 1)).cast("int").alias("keep"),
    )


def gopher_quality_flags_sql(id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`gopher_quality_flags` over ``documents``
    — the same integer cross-multiplied rules, same bit layout."""
    txt = "coalesce(text, '')"
    toks = f"string_split({txt}, ' ')"
    lines = f"string_split({txt}, chr(10))"
    n_words = f"len({toks})::BIGINT"
    n_lines = f"len({lines})::BIGINT"
    n_chars = f"list_sum(list_transform({toks}, t -> length(t)))::BIGINT"
    n_sym = f"len(regexp_extract_all({txt}, '#|\\.\\.\\.'))::BIGINT"
    n_bullet = (
        f"len(list_filter({lines}, l -> starts_with(l, '•') "
        f"OR starts_with(l, '- ')))::BIGINT"
    )
    n_ell = (
        f"len(list_filter({lines}, l -> ends_with(l, '...') "
        f"OR ends_with(l, '…')))::BIGINT"
    )
    n_alpha = (
        f"len(list_filter({toks}, t -> regexp_matches(t, '[a-zA-Z]')))"
        f"::BIGINT"
    )
    n_req = " + ".join(
        f"(CASE WHEN list_contains({toks}, '{w}') THEN 1 ELSE 0 END)"
        for w in GOPHER_REQUIRED_WORDS
    )
    rules = [
        f"(n_words >= 50 AND n_words <= 100000)",
        f"(3 * n_words <= n_chars AND n_chars <= 10 * n_words)",
        f"(10 * n_sym <= n_words)",
        f"(10 * n_bullet <= 9 * n_lines)",
        f"(10 * n_ell <= 3 * n_lines)",
        f"(5 * n_alpha >= 4 * n_words)",
        f"(n_req >= 2)",
    ]
    flags = " + ".join(
        f"(CASE WHEN {r} THEN {1 << i} ELSE 0 END)"
        for i, r in enumerate(rules)
    )
    return f"""
    WITH g AS (
      SELECT {id_expr},
             {n_words} AS n_words,
             {n_chars} AS n_chars,
             {n_sym} AS n_sym,
             {n_lines} AS n_lines,
             {n_bullet} AS n_bullet,
             {n_ell} AS n_ell,
             {n_alpha} AS n_alpha,
             ({n_req})::BIGINT AS n_req
      FROM documents
    )
    SELECT {id_expr}, n_words, ({flags})::BIGINT AS flags,
           (CASE WHEN ({flags}) = 127 THEN 1 ELSE 0 END)::INT AS keep
    FROM g
    """


def normalize_text(text: Column) -> Column:
    """Deterministic text normalization — the cleanup every corpus
    pipeline runs BEFORE hashing/dedup (C4 and CCNet both normalize
    first; un-normalized, the same paragraph with a curly apostrophe
    or a double space hashes differently and every downstream dedup
    operator under-recalls): zero-width strip, control-char strip,
    typographic quotes/dashes/ellipsis to ASCII, whitespace collapse,
    trim. NULL stays NULL (gate with coalesce at the call site, the
    q59 discipline).

    A pure per-row regexp_replace chain — shuffle-free, and exactly
    replayable in SQL (:func:`normalize_text_sql` runs the same
    chain; Java regex and RE2 agree on every construct used)."""
    out = text
    for pat, rep in _NORMALIZE_CHAIN:
        out = F.regexp_replace(out, pat, rep)
    return out


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`normalize_text` (same chain, 'g' flag —
    DuckDB replaces only the first match without it)."""
    out = expr
    for pat, rep in _NORMALIZE_CHAIN:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


def unimax_allocation(
    docs: DataFrame,
    source_col: str,
    text_col: str,
    epoch_cap: int = 2,
    budget_num: int = 1,
    budget_den: int = 3,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151):
    spread a token budget UNIFORMLY across sources, except no source
    may repeat more than ``epoch_cap`` epochs — the sampling rule that
    beats temperature mixtures (q121) on tail-source overfitting. The
    budget is ``floor(total_tokens * budget_num / budget_den)`` —
    derived from the corpus, so the plan is a pure function of the
    input like every mixture planner here (q64/q103/q121).

    The paper's sequential greedy (ascending by capacity: grant
    ``min(cap, fair share of what remains)``) has a CLOSED FORM this
    implementation uses instead — the classic waterfill: with sources
    ranked by ``cap = epoch_cap * n_tokens`` ascending, the greedy
    caps every source before the first rank ``m`` where
    ``cap_r > floor((B - prefix_r) / n_after_r)`` and splits the
    remainder equally from rank ``m`` on — the LAST ``rem`` ranks
    get one extra token, because the literal per-step greedy
    (grant ``floor(remaining / left)`` each step) accumulates the
    remainder toward the end: from state ``(R, L)`` the grants are
    ``floor(R/L)`` for the first ``L - (R mod L)`` steps and
    ``floor(R/L) + 1`` for the final ``R mod L`` (property-tested
    per-source against that literal greedy). The allocation sums
    EXACTLY to ``min(B, sum cap)``. Every step is integer floor
    arithmetic — bit-identical in both engines, no iteration, no
    driver loop.

    Shape: one corpus scan collapsing to |sources| rows, then
    unpartitioned windows over that already-aggregated frame —
    |sources| is dozens at any corpus scale, the same bounded-window
    argument as q64/q103 (and the three similarity.py codebook
    windows the r7 audit certified).

    Returns (``source``, n_tokens, cap_tokens, alloc_tokens,
    epochs_fp) — epochs_fp is alloc/n_tokens in 2^20 fixed point."""
    per_src = docs.groupBy(source_col).agg(
        F.sum(
            F.size(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
            )
        )
        .cast("long")
        .alias("n_tokens")
    )
    w_all = Window.partitionBy()
    ranked = (
        per_src.withColumn(
            "cap_tokens", (F.lit(int(epoch_cap)) * F.col("n_tokens"))
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.col("cap_tokens").asc(), F.col(source_col).asc()
                )
            ),
        )
        .withColumn("_k", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "_budget",
            F.floor(
                F.sum("n_tokens").over(w_all)
                * F.lit(int(budget_num))
                / F.lit(int(budget_den))
            ).cast("long"),
        )
    )
    w_ord = (
        Window.partitionBy()
        .orderBy("_r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = ranked.withColumn(
        "_prefix", F.coalesce(F.sum("cap_tokens").over(w_ord), F.lit(0))
    ).withColumn("_n_after", F.col("_k") - F.col("_r") + 1)
    staged = staged.withColumn(
        "_fair",
        F.floor(
            (F.col("_budget") - F.col("_prefix")) / F.col("_n_after")
        ).cast("long"),
    )
    # first rank whose cap exceeds its fair share; NULL when the
    # budget covers every cap (then everyone is capped)
    staged = staged.withColumn(
        "_m",
        F.min(
            F.when(F.col("cap_tokens") > F.col("_fair"), F.col("_r"))
        ).over(w_all),
    )
    staged = (
        staged.withColumn(
            "_wm",
            F.max(
                F.when(F.col("_r") == F.col("_m"), F.col("_fair"))
            ).over(w_all),
        )
        .withColumn(
            "_pm",
            F.max(
                F.when(F.col("_r") == F.col("_m"), F.col("_prefix"))
            ).over(w_all),
        )
    )
    rem = (
        F.col("_budget")
        - F.col("_pm")
        - F.col("_wm") * (F.col("_k") - F.col("_m") + 1)
    )
    alloc = (
        F.when(F.col("_m").isNull() | (F.col("_r") < F.col("_m")),
               F.col("cap_tokens"))
        # +1 extras land on the LAST `rem` ranks — where the literal
        # per-step greedy's floor grants put them (see docstring)
        .when(F.col("_r") > F.col("_k") - rem, F.col("_wm") + 1)
        .otherwise(F.col("_wm"))
        .cast("long")
    )
    out = staged.withColumn("alloc_tokens", alloc)
    return out.select(
        F.col(source_col),
        F.col("n_tokens"),
        F.col("cap_tokens").cast("long").alias("cap_tokens"),
        F.col("alloc_tokens"),
        # floor(alloc * 2^20 / n) computed as quotient/remainder
        # integer arithmetic: (alloc div n)*2^20 + (alloc%n)*2^20 div n.
        # The naive alloc*2^20 wraps int64 above ~8.8e12 allocated
        # tokens per source (silently in non-ANSI Spark, an error in
        # DuckDB) — within the 100 TB corpus target. Here the only
        # multiply operand bounded by data size is (alloc % n) < n,
        # pushing the wrap point to n_tokens > 2^43 per source.
        F.when(F.col("n_tokens") > 0,
               F.expr("alloc_tokens div n_tokens") * F.lit(1048576)
               + F.expr(
                   "(alloc_tokens % n_tokens) * 1048576 div n_tokens"
               ))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("epochs_fp"),
    )
