"""Deduplication operators for the training-data pipeline: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

The reference's only dedup is insert-if-absent on primary keys
(``ON CONFLICT DO NOTHING``, src/dao/cardano_block_dao.py:145 — see
operators/relational.py). A 100 TB training corpus needs *content*
dedup as well; these operators supply it Spark-first.

Scale design (the part that matters at 1000 executors):
- Nothing here is O(n^2) over the corpus. Pair generation always goes
  through a *blocking key* (LSH band hash, SimHash band byte, or a
  cheap attribute) so the self-join shuffles on the key and compares
  only within buckets.
- Signatures are pure column expressions (md5-based, see
  functions/hashing.py) — computed map-side, codegen'd, no UDFs.
- The candidate self-join is a plain shuffled equi-join: Catalyst/AQE
  pick the strategy, and skewed buckets (a degenerate band value)
  are handled by AQE skew-join splitting.
- Verification (exact Jaccard on the candidate pairs) touches only
  the candidates, never the corpus cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cardano_spark.functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_PERMS,
    SIMHASH_BITS,
    md5_long_sexpr,
    minhash_sig_sexpr,
)
from cardano_spark.functions.scalars import sql_ident
from cardano_spark.operators.similarity import _dlit


def plan_lsh_bands(
    threshold,
    n_perms: int = len(MINHASH_PERMS),
    fn_weight=None,
) -> tuple[int, int, int]:
    """Auto-planned LSH banding (r7 verdict item 3): derive
    ``(bands, rows_per_band)`` from a target Jaccard ``threshold``
    instead of hard-coding the operating point.

    The S-curve ``P(s) = 1 - (1 - s^r)^b`` gives the probability a
    pair at similarity ``s`` becomes an LSH candidate. The planner
    enumerates every ``(b, r)`` with ``b * r <= n_perms`` and picks
    the one minimizing the datasketch-style weighted error

        fp_weight * integral_0^t P(s) ds  +  fn_weight * integral_t^1 (1 - P(s)) ds

    by exact-rational midpoint quadrature (40 cells, ``Fraction``
    arithmetic end-to-end — the choice is bit-deterministic and can
    be injected as literals into BOTH engines, per the repo's
    cross-engine exactness rules). ``fn_weight`` defaults to 1/2
    (balanced); raise it toward 1 when a missed duplicate is worse
    than a wasted exact-verify (verification downstream removes all
    false positives anyway). Ties break toward fewer bands (fewer
    band exchanges), then shorter rows.

    Returns ``(bands, rows_per_band, err_fp)`` where ``err_fp`` is
    the minimized error in 2^20 fixed point (for report queries).

    Pinned property: ``plan_lsh_bands(Fraction(8, 10))[:2] ==
    (LSH_BANDS, LSH_ROWS)`` — q22's historical 2x8 operating point IS
    the planner's choice for its 0.8 verify threshold, so q22 now
    derives its banding instead of hard-coding it."""
    from fractions import Fraction

    t = (
        threshold
        if isinstance(threshold, Fraction)
        else Fraction(threshold).limit_denominator(1000)
    )
    if not 0 < t < 1:
        raise ValueError(f"threshold must be in (0, 1), got {threshold!r}")
    w_fn = (
        Fraction(1, 2)
        if fn_weight is None
        else Fraction(fn_weight).limit_denominator(1000)
    )
    w_fp = 1 - w_fn
    cells = 40
    best: tuple | None = None
    for r in range(1, n_perms + 1):
        for b in range(1, n_perms // r + 1):
            fp = Fraction(0)
            fn = Fraction(0)
            for k in range(cells):
                s = Fraction(2 * k + 1, 2 * cells)
                p = 1 - (1 - s**r) ** b
                if s < t:
                    fp += p
                else:
                    fn += 1 - p
            err = (w_fp * fp + w_fn * fn) / cells
            key = (err, b, r)
            if best is None or key < best:
                best = key
    err, b, r = best
    return (b, r, int(err * 1048576))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup: group by md5(text), keep the smallest id
    as canonical. One hash-shuffle on the digest; map-side partial
    aggregation makes the shuffle carry one row per distinct digest
    per task."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(F.col(id_col)).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def jaccard_sexpr(a: str, b: str) -> str:
    """Exact Jaccard over two distinct-element arrays: one integer
    intersection count, one IEEE division — deterministic everywhere."""
    inter = f"size(array_intersect({a}, {b}))"
    return (
        f"CAST({inter} AS DOUBLE) / "
        f"CAST(size({a}) + size({b}) - {inter} AS DOUBLE)"
    )


def jaccard(a: str, b: str) -> Column:
    return F.expr(jaccard_sexpr(a, b))


def _sig_frame(t: DataFrame) -> DataFrame:
    """(_id, _sh) -> (_id, sig0..sig15) MinHash signature frame.

    Two-step projection on purpose: the per-token md5 hash array gets
    its own aliased project, so each of the 16 permutation folds reads
    it ONCE — CollapseProject keeps non-cheap aliases un-inlined
    (verified: 1 md5 subtree in the optimized plan). Written as a
    single flat projection, the md5 transform re-evaluates per
    permutation (Catalyst CSE does not share higher-order-function
    subtrees), which alone was ~30% of q22's wall time at sf0.1."""
    # selectExpr text instead of Column ops: the 16 permutation folds
    # cost ~1.4k py4j round trips built operator-wise (~0.4-0.8 s of
    # driver latency per query build, guide §5); the SQL text is the
    # same Catalyst expression in 2 round trips
    return t.selectExpr(
        "_id", f"transform(_sh, x -> {md5_long_sexpr('x')}) AS _hs"
    ).selectExpr(
        "_id",
        *[
            f"{minhash_sig_sexpr('_hs', a, b)} AS sig{j}"
            for j, (a, b) in enumerate(MINHASH_PERMS)
        ],
    )


def _banded_frame(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """Signature frame -> exploded (_id, band_idx, band_val) rows —
    the slim frame every LSH band join shuffles (never the arrays).
    ``(bands, rows_per_band)`` defaults to the global operating point
    and accepts any plan with ``bands * rows_per_band <= n_perms``
    (the planner's output — band j reads signature columns
    ``[j*r, (j+1)*r)``, so smaller plans use a prefix of the 16
    permutations)."""
    if bands * rows_per_band > len(MINHASH_PERMS):
        raise ValueError(
            f"banding {bands}x{rows_per_band} exceeds the "
            f"{len(MINHASH_PERMS)}-permutation signature"
        )
    # one F.expr for the whole band-struct array (guide §5 driver
    # latency — the Column build costs ~8 py4j round trips per
    # signature column)
    def band_struct(band: int) -> str:
        cols = ", ".join(
            f"CAST(sig{j} AS STRING)"
            for j in range(band * rows_per_band, (band + 1) * rows_per_band)
        )
        return (
            f"struct({band} AS band_idx, "
            f"md5(concat_ws('|', {cols})) AS band_val)"
        )

    return sig.select(
        "_id",
        F.explode(
            F.expr(
                "array(" + ", ".join(band_struct(b) for b in range(bands)) + ")"
            )
        ).alias("b"),
    ).select("_id", "b.band_idx", "b.band_val")


def band_index(df: DataFrame, id_col: str, shingles: Column) -> DataFrame:
    """The persistable LSH band index of a corpus: one (id, band_idx,
    band_val) row per document per band. This is the state an
    incremental 100 TB dedup deployment stores between runs (e.g. in a
    ParquetMergeSink bucketed by band_val for a co-located probe join)
    so that arriving batches never re-hash the historical corpus —
    see :func:`incremental_minhash_pairs`."""
    t = df.select(F.col(id_col).alias("_id"), shingles.alias("_sh"))
    return _banded_frame(_sig_frame(t)).select(
        F.col("_id").alias(id_col), "band_idx", "band_val"
    )


def incremental_minhash_pairs(
    existing: DataFrame,
    new: DataFrame,
    id_col: str,
    shingles: Column,
    threshold: float,
    existing_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash+LSH near-dup detection: all pairs with
    exact Jaccard >= ``threshold`` where AT LEAST ONE side is a new
    document (new-vs-new and new-vs-existing; existing-vs-existing
    pairs were reported when those docs arrived). Ids are normalized
    to ``id_a < id_b``.

    This is the arrival-batch form of :func:`minhash_lsh_pairs`: only
    the NEW docs are signed and banded; the historical corpus
    contributes through ``existing_index`` (a persisted
    :func:`band_index` frame — pass it to skip re-hashing history;
    derived from ``existing`` when absent). The band join's left side
    is the new batch's bands alone, so per-batch cost scales with
    |new| x bands, not with the corpus: the index never self-joins.
    Shingle arrays travel only for verify-join candidates, and the
    existing side ships only the arrays of docs that actually
    collided with a new band."""
    t_old = existing.select(F.col(id_col).alias("_id"), shingles.alias("_sh"))
    t_new = new.select(F.col(id_col).alias("_id"), shingles.alias("_sh"))
    new_bands = _banded_frame(_sig_frame(t_new))
    if existing_index is not None:
        old_bands = existing_index.select(
            F.col(id_col).alias("_id"), "band_idx", "band_val"
        )
    else:
        old_bands = _banded_frame(_sig_frame(t_old))
    all_bands = old_bands.unionByName(new_bands)
    cand = (
        new_bands.select(F.col("_id").alias("id_n"), "band_idx", "band_val")
        .join(
            all_bands.select(F.col("_id").alias("id_o"), "band_idx", "band_val"),
            ["band_idx", "band_val"],
        )
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    t_all = t_old.unionByName(t_new)
    sh_a = t_all.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = t_all.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard("sh_a", "sh_b").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _candidate_pairs(
    banded: DataFrame, pre_distinct_filter: Column | None = None
) -> DataFrame:
    """Distinct normalized (id_a < id_b) pairs colliding in >= 1 LSH
    band — the single definition every symmetric band self-join
    shares (minhash_lsh_pairs, minhash_estimate_report), so what the
    estimator report measures IS what the pair detector generates.

    ``pre_distinct_filter`` applies a pure (id_a, id_b) predicate
    BEFORE the distinct, so the dedup exchange carries only the
    wanted subset (a post-distinct filter would shuffle every
    candidate first — on dup-family-heavy corpora that exchange is
    quadratic in family size)."""
    left = banded.selectExpr("_id AS id_a", "band_idx", "band_val")
    right = banded.selectExpr("_id AS id_b", "band_idx", "band_val")
    out = left.join(right, ["band_idx", "band_val"]).filter("id_a < id_b")
    if pre_distinct_filter is not None:
        out = out.filter(pre_distinct_filter)
    return out.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])


def _with_sig_vectors(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """Attach both sides' packed signature vectors (_sa, _sb) to an
    (id_a, id_b) pair frame — two slim joins, arrays of 16 longs."""
    sigv = sig.select(
        "_id",
        F.expr(
            "array("
            + ", ".join(f"sig{j}" for j in range(len(MINHASH_PERMS)))
            + ")"
        ).alias("_sigv"),
    )
    return pairs.join(
        sigv.select(F.col("_id").alias("id_a"), F.col("_sigv").alias("_sa")),
        "id_a",
    ).join(
        sigv.select(F.col("_id").alias("id_b"), F.col("_sigv").alias("_sb")),
        "id_b",
    )


def _sig_agreement() -> Column:
    """Estimated Jaccard from packed signature vectors _sa/_sb: the
    fraction of the 16 components that agree — the ONE definition
    both the est_prefilter gate and the estimator report use."""
    return F.expr(
        "CAST(aggregate(zip_with(_sa, _sb, "
        "(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, "
        "(acc, m) -> acc + m) AS DOUBLE) / "
        + repr(float(len(MINHASH_PERMS)))
        + "D"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    shingles: Column | str,
    threshold: float,
    est_prefilter: float | None = None,
    candidate_filter: Column | None = None,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified by exact Jaccard.

    plan: signatures (map-side) -> explode to (band_idx, band_val)
    -> self-join on the band bucket (shuffle on the bucket id, never
    all-pairs) -> distinct candidate id-pairs -> re-join the shingle
    arrays by id -> exact-Jaccard verify -> threshold filter.

    The band self-join and the candidate dedup shuffle carry ONLY
    (id, band) / (id_a, id_b) rows — never the shingle arrays. At
    corpus scale the array-bearing exchange dominated the old plan
    (each doc's array traveled once per band on both sides); now
    each array travels at most once per candidate-pair membership,
    and only after banding has pruned the pair space. Pinned by
    tests/test_plan_shapes.py (no array type in the band exchanges).

    The tokenized frame is computed ONCE and pinned with
    ``localCheckpoint``: it feeds three plan branches (signatures +
    both verify-join sides), so an unpinned plan re-scans the corpus
    and re-tokenizes per branch. The per-token md5 hashes are
    materialized INTO the checkpoint (``_hs``) because each of the 16
    permutation columns folds over them — left as an expression, the
    md5 transform re-evaluates once per permutation (Catalyst's
    common-subexpression elimination does not share higher-order-
    function subtrees), which was 32% of q22's wall time at sf0.1
    (2.14 s -> 1.46 s measured, round 5).

    ``est_prefilter`` (optional): before the array re-join, score
    each candidate with the MinHash *estimated* Jaccard (fraction of
    the 16 signature components that agree — 16 ints per side, far
    slimmer than the token arrays) and keep only pairs with estimate
    >= the cutoff. Band collisions with low true similarity estimate
    near 0.5 (one band is known-equal, the rest are ~independent), so
    a cutoff between 0.5 and ``threshold`` drops most false
    candidates before exact verification computes over their arrays.
    LOSSY by a quantified margin: a true pair at jaccard=t survives
    with P(Bin(16 - rows_per_band, t) clearing the cutoff) — e.g.
    ~99% at t=0.8 with cutoff 0.75. Measured trade (round 3, sf0.1):
    the two candidate-side joins cost ~20% of q22 wall time locally,
    so it's OFF by default — enable when the false-candidate rate x
    array size makes exact verify the dominant term. A cutoff of
    ``rows_per_band/16`` (0.5 here) is provably a no-op: every band
    collision already agrees on one full band (pinned by
    test_minhash_est_prefilter_semantics).

    ``candidate_filter`` (optional): a predicate over the slim
    (id_a, id_b) candidate frame, applied BEFORE the array-bearing
    verify joins. LOSSLESS for any caller that would apply the same
    predicate to the result (it commutes with the verify — verified
    by q132's unchanged hash): use it when only a subset of pairs is
    wanted (e.g. cross-split leakage), so the exact-Jaccard work
    scales with the wanted subset, not the full candidate space —
    measured 17.0 s -> 6.5 s on q132 at sf0.1 (the 80/10/10 split
    keeps only ~34% of pairs cross-split).
    """
    # NOT spread (r11 re-measured, guide §1.6): a narrow-input spread
    # of the raw frame was A/B'd net-NEGATIVE at both measured scales
    # (sf0.1: 0.587 s unspread vs 0.764 spread; 10x derivation:
    # 1.370 vs 2.306) — tokenize+hash into the checkpoint is cheaper
    # serial than the extra exchange at any fixture size, and on
    # production multi-row-group layouts the scan is already wide so
    # a spread gate would no-op anyway.
    if isinstance(shingles, str):
        # SQL-text fast path (guide §1/§5 — see jaccard_sexpr);
        # ``shingles`` is raw SQL by contract, the id is a NAME
        t = df.selectExpr(f"{sql_ident(id_col)} AS _id", f"({shingles}) AS _sh")
    else:
        t = df.select(F.col(id_col).alias("_id"), shingles.alias("_sh"))
    t = t.localCheckpoint(eager=False)
    sig = _sig_frame(t)
    if est_prefilter is not None:
        # the slim (id, 16 longs) signature frame feeds THREE plan
        # branches (banding + both prefilter joins); materialize it
        # once so the permutation folds over the checkpointed hash
        # arrays don't re-run per branch
        sig = sig.localCheckpoint(eager=False)
    cand = _candidate_pairs(
        _banded_frame(sig, bands, rows_per_band), candidate_filter
    )
    if est_prefilter is not None:
        cand = (
            _with_sig_vectors(cand, sig)
            .filter(_sig_agreement() >= F.lit(float(est_prefilter)))
            .select("id_a", "id_b")
        )
    sh_a = t.selectExpr("_id AS id_a", "_sh AS sh_a")
    sh_b = t.selectExpr("_id AS id_b", "_sh AS sh_b")
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .selectExpr(
            "id_a", "id_b", f"{jaccard_sexpr('sh_a', 'sh_b')} AS jaccard"
        )
        .filter(f"jaccard >= {_dlit(threshold)}")
    )


def md5_long_arr_sexpr(arr: str) -> str:
    """Hash every array element to a 60-bit int (md5-based)."""
    return f"transform({arr}, x -> {md5_long_sexpr('x')})"


def md5_long_arr(arr: str) -> Column:
    return F.expr(md5_long_arr_sexpr(arr))


def simhash_sexpr(hashes_expr: str) -> str:
    """SIMHASH_BITS-bit SimHash of a token-hash array: bit j is set
    when more element hashes have bit j set than not.

    Single-pass formulation: ONE fold over the hash array carrying a
    SIMHASH_BITS-wide vote vector (nested higher-order lambdas --
    zip_with inside aggregate), then one fold of the vote vector into
    the fingerprint. The naive per-bit version (SIMHASH_BITS separate
    ``aggregate`` calls) re-evaluates the element hashes once per bit
    -- measured 5.6s vs ~0.6s on 5k docs at sf0.1. Integer votes are
    identical either way, so the DuckDB oracle is unchanged."""
    powers = "array(" + ", ".join(f"{1 << j}L" for j in range(SIMHASH_BITS)) + ")"
    votes = (
        f"aggregate({hashes_expr}, "
        f"array_repeat(CAST(0 AS BIGINT), {SIMHASH_BITS}), "
        f"(acc, e) -> zip_with(acc, "
        f"transform({powers}, p -> CASE WHEN (e & p) != 0 "
        f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END), "
        f"(x, y) -> x + y))"
    )
    return (
        f"aggregate(zip_with({votes}, {powers}, "
        f"(v, p) -> CASE WHEN v > 0 THEN p ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (a, x) -> a + x)"
    )


def simhash(hashes_expr: str) -> Column:
    return F.expr(simhash_sexpr(hashes_expr))


def simhash_band(fp: Column, k: int) -> Column:
    """k-th 8-bit band of a SimHash fingerprint (blocking key)."""
    return F.shiftright(fp, 8 * k).bitwiseAND(F.lit(255))


def simhash_pairs(
    df: DataFrame, id_col: str, fp: Column, max_hamming: int
) -> DataFrame:
    """Near-dup pairs by SimHash: block on the 4 byte-bands (a pair
    within hamming<=max_hamming very likely agrees on >=1 full byte),
    then verify with bit_count(xor) on candidates only."""
    n_bands = SIMHASH_BITS // 8
    based = df.select(F.col(id_col).alias("_id"), fp.alias("_fp")).select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"),
                        simhash_band(F.col("_fp"), k).alias("band_val"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("_id", "_fp", "b.band_idx", "b.band_val")
    left = based.select(
        F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a"), "band_idx", "band_val"
    )
    right = based.select(
        F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b"), "band_idx", "band_val"
    )
    # hamming filter runs before the pair-dedup so the distinct
    # shuffle carries only surviving (id_a, id_b, hamming) rows.
    return (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("fp_a").bitwiseXOR(F.col("fp_b"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def split64_hamming_pairs(
    df: DataFrame,
    id_col: str,
    hi: Column,
    lo: Column,
    max_hamming: int,
) -> DataFrame:
    """:func:`simhash_pairs` for a 64-bit fingerprint carried as two
    POSITIVE 32-bit halves (the aHash convention — sign-free in
    every engine, where a packed 64-bit value with bit 63 set would
    go negative and engines disagree on shifting negatives): block
    on the 8 byte-bands (4 per half — pigeonhole-COMPLETE for
    ``max_hamming <= 7``, a pair differing in <= 7 bits cannot touch
    all 8 disjoint bytes; heuristic recall above that, same contract
    note as q93's segment blocking), verify with the summed
    bit_count(xor) of the halves on candidates only. Same slim
    exchange discipline as simhash_pairs: the distinct shuffle
    carries only surviving (id_a, id_b, hamming) rows.

    Pairs-of-use: :func:`cardano_spark.operators.multimodal.
    image_ahash_features` upstream, this as the perceptual NEAR-dup
    step (aHash's design property: visually similar images differ in
    few bits)."""
    bands = [
        F.struct(
            F.lit(k).alias("band_idx"),
            simhash_band(F.col("_lo") if k < 4 else F.col("_hi"), k % 4).alias(
                "band_val"
            ),
        )
        for k in range(8)
    ]
    based = (
        df.select(
            F.col(id_col).alias("_id"), hi.alias("_hi"), lo.alias("_lo")
        )
        .select("_id", "_hi", "_lo", F.explode(F.array(*bands)).alias("b"))
        .select("_id", "_hi", "_lo", "b.band_idx", "b.band_val")
    )
    left = based.select(
        F.col("_id").alias("id_a"),
        F.col("_hi").alias("hi_a"),
        F.col("_lo").alias("lo_a"),
        "band_idx",
        "band_val",
    )
    right = based.select(
        F.col("_id").alias("id_b"),
        F.col("_hi").alias("hi_b"),
        F.col("_lo").alias("lo_b"),
        "band_idx",
        "band_val",
    )
    return (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
                + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            )
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def prefix_blocking_keys(
    df: DataFrame,
    id_col: str,
    block_col: str,
    shingles: Column,
    threshold: float,
) -> DataFrame:
    """Exploded (``_id``, ``_blk``, ``_pk``) prefix-filter blocking
    frame for :func:`ngram_jaccard_pairs` (exposed so tests can audit
    block sizes).

    Classic prefix filtering (Chaudhuri et al. 2006 / PPJoin):
    order each shingle *set* by a global total order (md5 hash here),
    keep the first ``|X| - ceil(t*|X|) + 1`` elements. Any pair with
    Jaccard >= t shares at least ``ceil(t*max(|A|,|B|))`` elements,
    so the globally-smallest common element sits within BOTH prefixes
    — the blocking is lossless, and the oracle can stay a plain
    all-pairs-within-block statement. The proof needs ``t > 0``:
    at t=0 the required overlap is zero, and a zero-overlap pair has
    no common element for the prefixes to share (callers handle t<=0
    via the all-pairs fallback in :func:`ngram_jaccard_pairs`).

    ``shingles`` must be distinct-element arrays (ngram_shingles /
    distinct_tokens guarantee this); duplicates would inflate the
    position math.
    """
    srt = F.expr(
        f"array_sort(transform(_sh, s -> named_struct("
        f"'h', {md5_long_sexpr('s')}, 's', s)))"
    )
    n = F.size(srt)
    p = (
        n
        - F.ceil(F.lit(float(threshold)) * n.cast("double")).cast("int")
        + F.lit(1)
    )
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            shingles.alias("_sh"),
        )
        .select("_id", "_blk", F.explode(F.slice(srt, F.lit(1), p)).alias("_e"))
        .select("_id", "_blk", F.col("_e.h").alias("_pk"))
    )


def _overlap_counts(t: DataFrame) -> DataFrame:
    """Within-block pairwise intersection sizes via overlap counting
    (the shared core of the count-based Jaccard and containment
    joins): explode every shingle hash, equi-join on (block, hash),
    and let a map-side partially-aggregated count produce ``c``
    directly, with ``|A|``/``|B|`` traveling inside the join rows.
    Emits every within-block pair with overlap >= 1 as
    (id_a, id_b, na, nb, c) with id_a < id_b."""
    k = t.select(
        "_id",
        "_blk",
        F.size("_sh").alias("_n"),
        F.explode(md5_long_arr("_sh")).alias("_h"),
    )
    # the exploded frame feeds BOTH self-join sides; without a cut
    # each side re-runs the scan + shingle Generate + md5 fold (the
    # q22 >=2-consumers rule). The checkpointed rows are slim — four
    # fixed-width ints, no shingle strings — so the materialization
    # is far cheaper than a second tokenize+hash pass over the corpus
    # (guide §2.4 "don't compute things twice" / §5 localCheckpoint).
    k = k.localCheckpoint(eager=False)
    ka = k.select(
        F.col("_id").alias("id_a"), "_blk", F.col("_n").alias("na"), "_h"
    )
    kb = k.select(
        F.col("_id").alias("id_b"), "_blk", F.col("_n").alias("nb"), "_h"
    )
    return (
        ka.join(kb, ["_blk", "_h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("c"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    block_col: str,
    shingles: Column,
    threshold: float,
) -> DataFrame:
    """Exact set-CONTAINMENT pairs within attribute blocks:
    containment = |A ∩ B| / min(|A|, |B|) — how fully the smaller
    shingle set sits inside the larger one. This is the subset-
    duplication detector Jaccard structurally misses: a chunk, quote,
    or excerpt wholly contained in a longer document has containment
    ~1 but Jaccard ~|small|/|large|, far below any near-dup
    threshold when sizes differ (Broder 1997 distinguishes exactly
    these two resemblance measures).

    Same scale shape as :func:`ngram_jaccard_pairs`
    ``strategy="count"`` — one exploded equi-join on
    (block, shingle-hash), intersection counted by a map-side
    partial agg, no shingle array ever shipped past the scan — and
    the same completeness argument: containment >= t > 0 implies
    overlap >= 1, so every qualifying pair appears in the join
    (``threshold`` must be > 0; at t <= 0 the contract would include
    zero-overlap pairs no shared-element join can emit). Shares the
    60-bit-hash exactness fine print and the distinct-element-array
    precondition of :func:`_overlap_counts`. Pairs where either side
    has an empty shingle set cannot appear (no hash to join on) —
    consistent with containment over an empty set being undefined.

    Returns (id_a, id_b, na, nb, containment) with id_a < id_b."""
    if threshold <= 0:
        raise ValueError("containment_pairs requires threshold > 0")
    t = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        shingles.alias("_sh"),
    )
    ov = _overlap_counts(t)
    return ov.select(
        "id_a",
        "id_b",
        "na",
        "nb",
        (
            F.col("c").cast("double")
            / F.least(F.col("na"), F.col("nb")).cast("double")
        ).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def _count_based_jaccard_pairs(
    t: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard pairs via overlap COUNTING (the MapReduce
    set-similarity join of Vernica et al., VLDB 2010): explode every
    shingle, equi-join on (block, shingle-hash), and let a map-side
    partially-aggregated ``groupBy(id_a, id_b).count()`` produce the
    intersection size directly. ``|A|``/``|B|`` travel inside the
    join rows, so jaccard = c / (na + nb - c) needs no array re-join
    and no candidate-dedup exchange — the multiplicity that prefix
    blocking pays for in its candidate shuffle is collapsed by the
    partial agg before the wire.

    Complete for threshold > 0 (jaccard >= t > 0 implies overlap >= 1,
    so every qualifying pair appears in the join). A block-universal
    shingle makes its (block, hash) key quadratic — inherent to the
    low-threshold semantics (those pairs must be emitted anyway);
    AQE's skew splitting spreads that bucket at runtime.

    Exactness fine print (unlike the prefix path, which re-verifies
    candidates on the real arrays):

    - Intersection sizes are counted from 60-bit :func:`md5_long`
      EQUALITY, never re-checked against the shingle strings, so two
      DISTINCT shingles colliding within one block inflate ``c``.
      Expected spurious co-counts are ~ S^2 / 2^61 for S distinct
      shingles per block (~5e-10 at S=1M) — accepted by design; a
      caller needing collision-proof exactness uses
      ``strategy="prefix"``.
    - ``_sh`` must be DISTINCT-element arrays (ngram_shingles /
      distinct_tokens guarantee this — same precondition as
      :func:`prefix_blocking_keys`): duplicate elements would
      multiply-count both ``c`` and ``|A|``/``|B|``."""
    ov = _overlap_counts(t)
    return ov.select(
        "id_a",
        "id_b",
        (
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    block_col: str,
    shingles: Column,
    threshold: float,
    strategy: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard pairs within attribute blocks, candidate-
    pruned by *prefix filtering* so block size is bounded by shingle
    document-frequency, not by the attribute's value count.

    ``strategy``: ``"count"`` (overlap counting, no array re-join;
    see :func:`_count_based_jaccard_pairs`), ``"prefix"`` (candidate
    generation by prefix filtering + array verify), or ``"auto"``.

    ``auto`` picks COUNT for every t > 0. The original rule (prefix
    for t >= 0.5, on the structural argument that the prefix keeps
    < half the set there) was never measured at high t; measured on
    two data drops, count wins across the threshold range — sf0.1
    round-4 drop, warmed best-of-2: t=0.05 count 2.47 s vs prefix
    6.63 s; t=0.5 2.12 vs 5.92; t=0.8 2.10 vs 4.70. The reason:
    prefix's verify stage re-joins the SHINGLE ARRAYS to candidates
    (array bytes dominate the exchange for realistic documents),
    while count never ships an array past the scan. Prefix remains
    available — and is the right explicit choice when collision-proof
    exactness matters: it verifies on the real arrays, while
    ``count`` is exact up to 60-bit shingle-hash collisions
    (vanishing but nonzero — see :func:`_count_based_jaccard_pairs`
    for the bound and the distinct-element precondition both paths
    share). All strategies produce the same rows against the same
    oracle.

    Round-1 shape (self-join on the attribute alone, e.g. language)
    was O(n^2) within each of ~5 language blocks — all-pairs in
    disguise at corpus scale. The compound key here is
    ``(block, prefix-shingle-hash)``: candidates must share the
    attribute AND a prefix element, which is provably complete for
    any ``threshold > 0`` (see :func:`prefix_blocking_keys`) — results
    are IDENTICAL to the naive form, so the DuckDB oracle keeps the
    plain within-block statement. For ``threshold <= 0`` the contract
    ("every pair with jaccard >= t") includes zero-overlap pairs that
    no shared-element blocking can emit, so the operator falls back to
    the plain within-block self-join (all-pairs is what t<=0 *means*). Candidates travel as id-pairs only; the
    shingle arrays re-join by id for the exact-Jaccard verification
    (same de-arrayed shuffle discipline as minhash_lsh_pairs).
    """
    if strategy not in ("auto", "prefix", "count"):
        raise ValueError(f"strategy must be auto|prefix|count, got {strategy!r}")
    t = df.select(
        F.col(id_col).alias("_id"), F.col(block_col).alias("_blk"), shingles.alias("_sh")
    )
    if strategy == "auto":
        strategy = "count"  # measured winner across t; see docstring
    if threshold > 0 and strategy == "count":
        return _count_based_jaccard_pairs(t, threshold)
    if threshold > 0:
        keys = prefix_blocking_keys(df, id_col, block_col, shingles, threshold)
        left = keys.select(F.col("_id").alias("id_a"), "_blk", "_pk")
        right = keys.select(F.col("_id").alias("id_b"), "_blk", "_pk")
        cand = (
            left.join(right, ["_blk", "_pk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        # threshold <= 0 keeps EVERY within-block pair, including pairs
        # with disjoint shingle sets (jaccard=0) that prefix filtering
        # can never generate (candidates must share a prefix element).
        # Fall back to the plain within-block self-join — inherently
        # all-pairs because the *semantics* are all-pairs at t<=0.
        ids = t.select("_id", "_blk")
        cand = (
            ids.select(F.col("_id").alias("id_a"), "_blk")
            .join(ids.select(F.col("_id").alias("id_b"), "_blk"), "_blk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
    sh_a = t.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = t.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _cc_star_rounds(
    edges: DataFrame, max_iter: int
) -> tuple[DataFrame, int, bool]:
    """Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") until the edge
    set reaches its star-graph fixed point. Returns (star edges as
    canonical (lo=center, hi=member), rounds used, converged)."""
    # lazy checkpoint + count: the count materializes the checkpoint
    # in the SAME pass, where eager=True paid a materialization job
    # and then a separate count job over it (guide §1.2 — one pass)
    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("lo"),
            F.greatest(F.col("a"), F.col("b")).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .dropDuplicates(["lo", "hi"])
        .localCheckpoint(eager=False)
    )
    n_e = e.count()
    converged = n_e == 0
    rounds = 0
    while not converged and rounds < max_iter:
        rounds += 1
        # large-star: connect every strictly-larger neighbor of u to
        # min(N(u) ∪ {u}); halves long-chain diameter per round.
        sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        )
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .dropDuplicates(["lo", "hi"])
        )
        # small-star: on (hi -> lo)-oriented edges, connect every
        # smaller neighbor (and u itself) to the minimum neighbor.
        m2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        part1 = (
            large.join(m2, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
        )
        part2 = m2.select(F.col("m").alias("lo"), F.col("hi"))
        new_e = (
            part1.union(part2)
            .dropDuplicates(["lo", "hi"])
            # cut lineage every round; lazy so the count below
            # materializes it in one pass instead of two jobs
            .localCheckpoint(eager=False)
        )
        # fixed point = identical edge set (both sides are distinct).
        # The previous round's count is carried instead of recounted
        # (one job per round, not two), and the exact exceptAll check
        # runs only when counts agree — i.e. in practice only on the
        # terminal round, so a steady-state round costs one scan of
        # the freshly-checkpointed edges.
        n_new = new_e.count()
        converged = n_new == n_e and new_e.exceptAll(e).isEmpty()
        e, n_e = new_e, n_new
    return e, rounds, converged


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    max_iter: int = 20,
) -> DataFrame:
    """Dedup-cluster resolution: connected components over a
    near-dup pair graph via alternating large-star/small-star
    (Kiveris et al.) — O(log d) rounds, so adversarially long chains
    converge where round 1's O(diameter) min-label propagation needed
    one round per hop.

    ``nodes`` has one ``id_col`` column; ``edges`` has (``a``, ``b``)
    undirected pairs (either orientation). Returns (``node``,
    ``cluster_id``) where ``cluster_id`` is the minimum member id —
    deterministic, so retry/re-run stable.

    Scale notes: each round is two groupBy-min aggregates and two
    equi-joins on node ids — no arrays, no fan-out beyond the edge
    multiset; lineage is cut per round with ``localCheckpoint``.
    Non-convergence within ``max_iter`` raises instead of silently
    returning split clusters (a 20-round budget covers graphs with
    diameter ~2^20 hops).
    """
    stars, rounds, converged = _cc_star_rounds(
        edges.select(F.col("a"), F.col("b")), max_iter
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({rounds} run); raise max_iter — a silent exit here would "
            f"return split clusters"
        )
    mapping = (
        stars.select(F.col("hi").alias("node"), F.col("lo").alias("cluster_id"))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(mapping, "node", "left")
        .select(
            "node", F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id")
        )
    )


def cluster_representatives(
    members: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Canonical-document selection — the step after
    :func:`connected_components` in every dedup pipeline: keep ONE
    representative per near-dup cluster (highest ``score_col``, ties
    broken by LOWEST ``id_col`` so the choice is deterministic).

    Scale shape: a single exchange on the cluster id with MAP-SIDE
    partial aggregation — ``min_by(id, struct(-score, id))`` reduces
    before the wire, so the shuffle carries one row per (partition,
    cluster), never the member lists. (The struct ordering key makes
    Spark pick SortAggregate over HashAggregate — the partials are
    still map-side, which is the property that matters.) The
    window-function alternative (``row_number() OVER (PARTITION BY
    cluster ORDER BY ...)``) materializes every cluster's members on
    one reducer and breaks down on pathological giant clusters (the
    template-spam failure mode at corpus scale); the agg form is
    skew-safe.

    Returns (``cluster_col``, rep_id, rep_score, n_members).

    ``id_col`` may be ANY orderable type (string doc ids included):
    the ordering key negates the SCORE (numeric by contract), never
    the id — ``-string`` would silently cast to NULL under non-ANSI
    mode and turn the documented deterministic tie-break into an
    arbitrary pick.
    """
    ord_key = F.struct(
        (-F.col(score_col)).alias("negs"), F.col(id_col).alias("i")
    )
    return members.groupBy(cluster_col).agg(
        F.min_by(F.col(id_col), ord_key).alias("rep_id"),
        F.max(F.col(score_col)).alias("rep_score"),
        F.count("*").alias("n_members"),
    )


#: fixed-point scale for integer PageRank (2^20 per unit of rank)
PR_SCALE = 1 << 20
#: damping factor as an integer percentage
PR_DAMP_PCT = 85


def integer_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    iterations: int = 3,
) -> DataFrame:
    """PageRank with FIXED-POINT integer arithmetic — the centrality
    score used to pick authoritative representatives in dedup/link
    graphs, made engine-portable: float PageRank is unverifiable
    across engines (per-node contribution sums re-associate), but
    scaled-int64 ranks with truncating division are bit-deterministic,
    so a DuckDB oracle replays the exact iteration.

    rank_0 = SCALE; rank_{t+1} = (100-d)%*SCALE + sum over in-edges
    of (d% * rank_t) // (100 * out_degree) — all integer ops.
    Dangling-node mass is dropped (not redistributed): documented
    deviation from the textbook normalization, irrelevant for
    RANKING and cheap to add as a scalar correction if needed.

    ``edges`` is (a, b) directed; pass both directions for an
    undirected graph. Scale shape per iteration: one join of ranks
    to edges on the source (both sides partitioned by node id — the
    partitioning is reused across iterations) + one partial-agg sum
    on the destination; int64 sums are exact and order-free, so the
    plan needs no ordering anywhere. Fixed iteration count = fixed
    plan depth; for convergence-driven runs compose with the q44
    fixed-point check pattern."""
    out_deg = edges.groupBy(F.col("a").alias(id_col)).agg(
        F.count("*").alias("_deg")
    )
    ranks = nodes.select(id_col).withColumn(
        "rank", F.lit(PR_SCALE).cast("long")
    )
    base = (100 - PR_DAMP_PCT) * PR_SCALE // 100
    for _ in range(iterations):
        contrib = (
            ranks.join(out_deg, id_col)
            .join(edges, F.col(id_col) == F.col("a"))
            .select(
                F.col("b").alias("_dst"),
                (F.lit(PR_DAMP_PCT).cast("long") * F.col("rank")).alias("_num"),
                (F.lit(100).cast("long") * F.col("_deg")).alias("_den"),
            )
            # `div` = exact integer division: the `/` operator on
            # longs is DOUBLE division, whose round-then-truncate can
            # land one off from floor at near-integer quotients
            .select("_dst", F.expr("_num div _den").alias("_c"))
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            ranks.select(id_col)
            .join(contrib, F.col(id_col) == F.col("_dst"), "left")
            .select(
                id_col,
                (F.lit(base).cast("long") + F.coalesce(F.col("_in"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks


def minhash_estimate_report(
    df: DataFrame, id_col: str, shingles: Column
) -> DataFrame:
    """Estimator-quality instrumentation for the MinHash family — the
    recall_at_k idea applied to dedup: for every LSH candidate pair,
    the 16-component ESTIMATED Jaccard (the fraction of agreeing
    signature components, exactly what ``est_prefilter`` thresholds
    on) next to the EXACT value, plus the absolute error. This is
    the number a deployment watches when tuning bands/rows/cutoffs:
    the estimate's spread around truth decides whether a prefilter
    cutoff is safe at a given threshold (the Binomial argument in
    :func:`minhash_lsh_pairs`'s docstring, here measured per pair
    instead of assumed).

    Same scale shape as :func:`minhash_lsh_pairs`: tokenized frame
    checkpointed once; slim signature frame checkpointed for its
    three consumers (banding + both estimate joins); band self-join
    on the bucket id only; arrays travel only for surviving
    candidates. Returns (id_a, id_b, est_j, exact_j, abs_err)."""
    t = df.select(
        F.col(id_col).alias("_id"), shingles.alias("_sh")
    ).localCheckpoint(eager=False)
    sig = _sig_frame(t).localCheckpoint(eager=False)
    cand = _candidate_pairs(_banded_frame(sig))
    sh_a = t.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = t.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    scored = (
        _with_sig_vectors(cand, sig)
        .join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            _sig_agreement().alias("est_j"),
            jaccard("sh_a", "sh_b").alias("exact_j"),
        )
    )
    return scored.select(
        "id_a",
        "id_b",
        "est_j",
        "exact_j",
        F.abs(F.col("est_j") - F.col("exact_j")).alias("abs_err"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every positional k-gram of the
    token stream, then in each window of ``w`` consecutive hash
    positions select the MINIMUM hash (ties to the leftmost
    position), and keep the distinct selections. The guarantee the
    paper proves: any token run of length >= w + k - 1 shared by two
    documents shares at least one selected fingerprint, while only
    ~2/(w+1) of positions are kept — substring-granular overlap
    detection (plagiarism, quotation, partial copies) with a BOUNDED
    index, the gap between q32's whole-doc fingerprint and q110's
    every-position census.

    Shape: entirely map-side until the final explode — per row one
    positional-hash array (the q110 window-hash discipline,
    md5_long over the joined k-gram), one sliding argmin pass
    (array_min over (hash, pos) structs — lexicographic struct
    comparison, identical in DuckDB), one distinct. No exchange at
    all; the fingerprint frame is the slim (id, pos, fp) index a
    100 TB deployment stores bucketed by fp. Documents shorter than
    w + k - 1 tokens emit nothing (no full window exists).

    Returns (``id_col``, ``pos``, ``fp``) — pos is the 1-based token
    position of the selected k-gram."""
    gram = md5_long_sexpr(f"concat_ws(' ', slice(_toks, i, {k}))")
    n_h = F.size("_toks") - F.lit(k - 1)
    hashes = F.expr(
        f"transform(sequence(1, size(_toks) - {k - 1}), i -> named_struct("
        f"'h', {gram}, 'pos', CAST(i AS BIGINT)))"
    )
    staged = docs.select(
        F.col(id_col),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_toks"),
    ).select(
        id_col,
        F.when(n_h >= 1, hashes)
        .otherwise(F.array().cast("array<struct<h:long,pos:long>>"))
        .alias("_hs"),
    ).withColumn("_nw", F.size(F.col("_hs")) - F.lit(w - 1))
    sels = F.transform(
        F.sequence(F.lit(1), F.col("_nw")),
        lambda s: F.array_min(F.slice(F.col("_hs"), s, w)),
    )
    # the checkpoint is load-bearing, not a cache hint: CollapseProject
    # inlines a non-cheap alias referenced once, and `_sel`'s transform
    # references `_hs` exactly once — inlined, the n-gram md5 array
    # re-evaluates PER WINDOW (the q22 HOF-CSE lesson, here quadratic;
    # unkillable runtimes measured at sf0.1). Materializing the
    # selection frame pins one evaluation per row, and q154's
    # self-join reads it instead of re-running the chain per side.
    # Slim state: ~2n/(w+1) 16-byte structs per doc — this IS the
    # index a deployment stores.
    raw = staged.select(
        id_col,
        F.when(F.col("_nw") >= 1, sels)
        .otherwise(F.array().cast("array<struct<h:long,pos:long>>"))
        .alias("_sel"),
    ).localCheckpoint(eager=False)
    # duplicate selections are provably ADJACENT (two windows picking
    # the same (h, pos) are at most w-1 apart, and every window
    # between them is a subset of their union, so it picks it too) —
    # so adjacent-dedup IS distinct, at O(n) per row instead of
    # array_distinct's O(n^2) pairwise struct scan
    fps = raw.select(
        id_col,
        F.filter(
            F.col("_sel"),
            lambda x, i: (i == F.lit(0))
            | (x != F.element_at(F.col("_sel"), i)),
        ).alias("_fp"),
    )
    ex = fps.select(id_col, F.explode(F.col("_fp")).alias("_s"))
    return ex.select(
        id_col,
        F.col("_s.pos").alias("pos"),
        F.col("_s.h").alias("fp"),
    )


def winnowing_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """SUBSTRING-granular benchmark decontamination over the
    winnowing index — the fourth arm of the decontamination family
    (q58 n-gram overlap, q73 Bloom, q67 semantic): per corpus
    document, how many of its distinct winnowing fingerprints occur
    anywhere in the benchmark set. By the winnowing guarantee
    (Schleimer et al. 2003), any train document sharing a token run
    of length >= w + k - 1 with ANY benchmark document reports
    n_hit_fp >= 1 — the property n-gram-fraction tests lack (a long
    verbatim quote inside an otherwise clean document dilutes a
    Jaccard-style fraction but cannot hide from a shared selected
    fingerprint). This is the data-portraits / membership-testing
    shape applied pre-training.

    Scale shape: the benchmark index is small by contract (eval sets
    are thousands of documents) — its distinct fingerprint VALUES
    broadcast, and every corpus fingerprint probes map-side; the only
    corpus-sized exchanges are the per-doc distinct + count on
    ``id_col``. Documents too short to emit a fingerprint
    (< w + k - 1 tokens) report (0, 0, 0) — kept, not dropped
    (same contract as benchmark_contamination's zero-shingle rule).
    Fingerprint-value collisions can only ADD hits, never hide one
    (the overlap-pairs argument), so contaminated = 0 is a sound
    clearance at the guarantee's run length.

    Returns (``id_col``, n_fp, n_hit_fp, contaminated int)."""
    fp_d = (
        winnowing_fingerprints(docs, id_col, text_col, k=k, w=w)
        .select(id_col, "fp")
        .distinct()
    )
    fp_b = (
        winnowing_fingerprints(bench, id_col, text_col, k=k, w=w)
        .select("fp")
        .distinct()
    )
    hit = F.broadcast(fp_b.withColumn("_hit", F.lit(1)))
    per = (
        fp_d.join(hit, "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count("fp").cast("long").alias("n_fp"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias(
                "n_hit_fp"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_fp", F.lit(0)).cast("long").alias("n_fp"),
            F.coalesce("n_hit_fp", F.lit(0)).cast("long").alias("n_hit_fp"),
            (F.coalesce("n_hit_fp", F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def winnowing_overlap_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Pairwise substring-overlap detection over the winnowing index:
    documents sharing >= ``min_shared`` distinct selected
    fingerprints, with the shared count — the MOSS pair report. By
    the winnowing guarantee this catches every pair sharing a token
    run of length >= w + k - 1 (each shared run contributes a shared
    selection; fingerprint-value collisions can only ADD pairs,
    never hide one).

    Shape: the fingerprint index self-joins on the fp VALUE — an
    equi-join whose fan-out is bounded by fingerprint frequency (a
    fp shared by f docs contributes C(f,2) candidate rows; winnowing
    keeps ~2/(w+1) of positions, and boilerplate-heavy fps behave
    like the q81 span-df regime — cap them upstream with a df filter
    if a corpus's chrome dominates). One exchange on fp, one on the
    pair key with map-side partial counts."""
    fp = winnowing_fingerprints(docs, id_col, text_col, k=k, w=w)
    a = fp.select(F.col(id_col).alias("id_a"), F.col("fp").alias("_f"))
    b = fp.select(F.col(id_col).alias("id_b"), F.col("fp").alias("_f"))
    return (
        a.join(b, "_f")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_f")
        .distinct()
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(int(min_shared)))
    )


def contamination_depth_ladder(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    scales: tuple[tuple[int, int], ...] = ((5, 4), (10, 8), (20, 16)),
) -> DataFrame:
    """Contamination DEPTH, not just presence: run the winnowing
    probe (:func:`winnowing_contamination`) at a ladder of k-gram
    scales and report, per corpus document, the largest k whose
    scale registered a benchmark fingerprint hit — a hit at scale k
    CERTIFIES a shared verbatim k-token run (equal fingerprints are
    equal k-grams, modulo md5 collision), so ``depth_certified`` is
    a certified lower bound on the longest eval-set quote inside the
    document. The q160 binary verdict says "touched"; this says "an
    8-token echo" vs "a 35-token lift" — the split a decontamination
    policy actually prices (short echoes are ubiquitous n-gram noise,
    long lifts are memorization hazards; the memorization literature
    measures extraction in exactly these run lengths).

    Completeness per rung (Schleimer et al. 2003): every ACTUAL
    shared run of length >= w + k - 1 is detected at that rung —
    (5,4)/(10,8)/(20,16) guarantee detection at >= 8 / 17 / 35
    tokens. Detection is MONOTONE down the ladder modulo hash
    collision (a certified k-token run contains k'-token runs for
    every smaller rung and exceeds their w'+k'-1 thresholds for this
    ladder's geometry), pinned by test on the fixture.

    Scale shape: one winnow pass per rung (each is the q160 shape —
    bench fingerprint VALUES broadcast, corpus-sized exchanges on
    ``id_col`` only), joined on the id. Rungs are a constant, so the
    pass count is too.

    Returns (``id_col``, hits_k{k} per rung, depth_certified)."""
    out: DataFrame | None = None
    for k, w in scales:
        per = winnowing_contamination(
            docs, bench, id_col, text_col, k=k, w=w
        ).select(id_col, F.col("n_hit_fp").alias(f"hits_k{k}"))
        out = per if out is None else out.join(per, id_col)
    assert out is not None
    depth = F.lit(0)
    for k, _w in scales:  # ascending k: later rungs override
        depth = F.when(F.col(f"hits_k{k}") > 0, F.lit(k)).otherwise(depth)
    return out.withColumn("depth_certified", depth.cast("long"))


def cdc_paragraphs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    m: int = 8,
) -> DataFrame:
    """Content-defined paragraph segmentation (the CCNet stage-1
    grain — the reference's dedup surface is row-level only
    (insert-if-absent, cardano_block_dao.py's ON CONFLICT); this is
    the finer, sub-document grain the C4/CCNet pipelines run FIRST).
    The driver fixture's ``documents.text`` has no newline or
    punctuation structure (verified in ROUND7.md), so boundaries are
    content-defined chunking (Muthitacharoen et al. 2001, LBFS):
    a paragraph ends after token ``i`` iff the rolling hash of the
    last ``w`` tokens is ``0 (mod m)`` — plus a forced final boundary
    at the document end.

    The property that makes this the RIGHT segmentation for dedup
    (and why rsync/LBFS/restic all use it): boundaries depend only on
    a local token window, so they are SHIFT-INVARIANT — a token run
    shared by two documents chunks identically in both no matter
    where it sits, and every interior chunk of the shared run is
    byte-equal across the documents. Fixed-width segmentation loses
    all alignment after one insertion; CDC loses at most the two edge
    chunks. Expected paragraph length is ~``m`` tokens.

    Scale shape: entirely map-side — one tokenize, one O(n) rolling
    md5 pass, one explode; no exchange. The boundary-hash array is
    materialized once per row (localCheckpoint) so the per-paragraph
    slice transform cannot re-evaluate the md5 chain per paragraph
    (the q22/winnowing CollapseProject-inlines-non-cheap-HOF lesson —
    quadratic without it).

    Returns (``id_col``, ``para_idx`` 1-based, ``para`` text)."""
    n = F.size("_t")
    # interior boundaries: hash of the w-token window ENDING at i.
    # sequence(w, n-1) is DESCENDING in Spark when n-1 < w — guard.
    window = md5_long_sexpr(f"concat_ws(' ', slice(_t, i - {w - 1}, {w}))")
    interior = F.when(
        n - 1 >= w,
        F.expr(f"filter(sequence({w}, size(_t) - 1), i -> {window} % {m} = 0)"),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.concat(interior, F.array(n))
    staged = (
        docs.select(
            F.col(id_col),
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_t"),
        )
        .select(id_col, "_t", cuts.alias("_cuts"))
        .localCheckpoint(eager=False)
    )
    start = lambda j: F.when(j == 1, F.lit(1)).otherwise(  # noqa: E731
        F.element_at(F.col("_cuts"), (j - F.lit(1)).cast("int")) + 1
    )
    paras = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_cuts"))),
        lambda j: F.concat_ws(
            " ",
            F.slice(
                F.col("_t"),
                start(j),
                F.element_at(F.col("_cuts"), j.cast("int")) - start(j) + 1,
            ),
        ),
    )
    ex = staged.select(
        id_col, F.posexplode(paras).alias("_i0", "para")
    )
    return ex.select(
        id_col,
        (F.col("_i0") + 1).cast("long").alias("para_idx"),
        "para",
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    m: int = 8,
) -> DataFrame:
    """Paragraph-grain exact dedup with keep-first-occurrence and
    verbatim rebuild — CCNet stage 1 applied: segment via
    :func:`cdc_paragraphs`, drop every occurrence of a paragraph
    except the globally first (min ``(doc_id, para_idx)``), and
    rebuild each document from its kept paragraphs in original
    order. Non-vacuous on docs that do NOT doc-level dedup: the
    fixture's 500 sf0.01 texts are pairwise distinct, yet 245
    distinct paragraphs recur across documents (near-dup families
    share long runs, and CDC boundaries are shift-invariant).

    Scale shape: segmentation is map-side; the dedup decision
    exchanges once on the 128-bit paragraph hash (row_number over
    hash — slim key, text rides along because the rebuild needs it
    anyway: output is corpus-sized by definition); the rebuild
    exchanges once on ``id_col``. Two shuffles total, both on keys
    with fixture-free cardinality; no driver collection.

    Returns (``id_col``, n_paras, n_dropped, cleaned_text)."""
    from pyspark.sql import Window

    occ = cdc_paragraphs(docs, id_col, text_col, w=w, m=m)
    win = Window.partitionBy(F.md5(F.col("para"))).orderBy(
        F.col(id_col), F.col("para_idx")
    )
    flagged = occ.withColumn("_rn", F.row_number().over(win))
    kept = F.when(
        F.col("_rn") == 1, F.struct(F.col("para_idx"), F.col("para"))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        (F.count(F.lit(1)) - F.count(kept)).alias("n_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["para"]
            ),
        ).alias("cleaned_text"),
    )


def paragraph_dedup_incremental(
    batch: DataFrame,
    seen_digests: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    m: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """One arrival batch of :func:`paragraph_dedup`: in-batch
    keep-first over CDC paragraph digests PLUS an anti-probe of the
    ``seen_digests`` frame (one ``digest`` string column — the
    persisted paragraph index of everything that arrived earlier).
    With monotone arrival ids this equals the batch keep-first over
    the union, whatever the batching — the q66/q136 convergence
    discipline at paragraph grain.

    Returns ``(rebuilt, new_digests)``: ``rebuilt`` has one row per
    BATCH document (``id_col``, n_paras, n_dropped, cleaned_text —
    fully-claimed documents keep their row with an empty rebuild, so
    a caller can either report them, as q182 does, or drop them, as
    the corpus build does); ``new_digests`` is the slim frame of
    paragraph digests this batch saw first, the state delta to fold
    forward. Cost ∝ |batch| paragraphs; history is never
    re-segmented."""
    from pyspark.sql import Window

    occ = cdc_paragraphs(batch, id_col, text_col, w=w, m=m).withColumn(
        "_pd", F.md5("para")
    )
    first = occ.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_pd").orderBy(id_col, "para_idx")
        ),
    )
    probed = first.join(
        seen_digests.select(F.col("digest").alias("_seen_pd")).distinct(),
        first["_pd"] == F.col("_seen_pd"),
        "left",
    )
    kept = (F.col("_rn") == 1) & F.col("_seen_pd").isNull()
    kept_struct = F.when(kept, F.struct(F.col("para_idx"), F.col("para")))
    rebuilt = probed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        (F.count(F.lit(1)) - F.count(kept_struct)).alias("n_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["para"],
            ),
        ).alias("cleaned_text"),
    )
    new_digests = (
        probed.filter(kept).select(F.col("_pd").alias("digest")).distinct()
    )
    return rebuilt, new_digests
