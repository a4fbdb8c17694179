"""Pinned-vector equivalence tests for the ``*_sexpr`` SQL-text
twins (r11 verdict, What's wrong #5): the Column originals are gone
from the hot call sites, so each text helper is pinned here against
LITERAL expected values computed independently (by hand / hashlib),
plus — where the Column branch still exists — against that branch on
the same input. A future edit to a sexpr string now fails fast in a
unit test instead of only in the full oracle sweep."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cardano_spark.functions.hashing import (
    HYPERPLANES,
    md5_long,
    md5_long_sexpr,
    minhash_sig,
    minhash_sig_sexpr,
)
from cardano_spark.functions.text import (
    distinct_tokens_sexpr,
    stopword_hits_sexpr,
    tokens_sexpr,
)
from cardano_spark.operators.dedup import (
    jaccard_sexpr,
    simhash,
    simhash_sexpr,
)
from cardano_spark.operators.similarity import (
    _dlit,
    cosine_sexpr,
    dot_sexpr,
    lsh_bucket,
    lsh_bucket_sexpr,
    norm_sexpr,
    plane_sexpr,
)


def _eval(spark, *exprs: str) -> tuple:
    return tuple(spark.range(1).selectExpr(*exprs).first())


def test_dot_sexpr_pinned(spark):
    # 1.5*4.0 + (-2.0*0.5) + 3.25*(-1.0) = 6.0 - 1.0 - 3.25 = 1.75
    (got,) = _eval(
        spark,
        dot_sexpr("array(1.5D, -2.0D, 3.25D)", "array(4.0D, 0.5D, -1.0D)"),
    )
    assert got == 1.75


def test_norm_sexpr_pinned(spark):
    (got,) = _eval(spark, norm_sexpr("array(3.0D, 4.0D)"))
    assert got == 5.0


def test_cosine_sexpr_pinned(spark):
    # dot = 24, norms = 5 and 5 -> exactly 24.0/25.0 in IEEE754
    (got,) = _eval(
        spark, cosine_sexpr("array(3.0D, 4.0D)", "array(4.0D, 3.0D)")
    )
    assert got == 24.0 / 25.0


def test_plane_sexpr_roundtrips_doubles(spark):
    vals = [0.1, -1.0 / 3.0, 2.5e-17, 123456.789]
    (got,) = _eval(spark, plane_sexpr(vals))
    assert list(got) == vals


def test_dlit_nonfinite_forms(spark):
    inf, ninf, nan = _eval(
        spark, _dlit(float("inf")), _dlit(float("-inf")), _dlit(float("nan"))
    )
    assert inf == float("inf") and ninf == float("-inf")
    assert nan != nan


def test_lsh_bucket_sexpr_pinned_custom_planes(spark):
    # vec=[2,-1]: dots vs planes = 2.0 (>0 -> +1), -2.0 (0), 0.5 (+4)
    planes = [[1.0, 0.0], [-1.0, 0.0], [0.5, 0.5]]
    (got,) = _eval(
        spark, lsh_bucket_sexpr("array(2.0D, -1.0D)", planes)
    )
    assert got == 5


def test_lsh_bucket_sexpr_matches_column_branch_default_planes(spark):
    # same 128-dim vector through the text path and the surviving
    # Column branch over the DEFAULT hyperplane table
    dim = len(HYPERPLANES[0])
    vec = [((i * 37) % 13 - 6) / 7.0 for i in range(dim)]
    arr = "array(" + ", ".join(_dlit(x) for x in vec) + ")"
    row = (
        spark.range(1)
        .selectExpr(f"{arr} AS v")
        .select(
            F.expr(lsh_bucket_sexpr("v")).alias("txt"),
            lsh_bucket("v").alias("col"),
        )
        .first()
    )
    assert row["txt"] == row["col"]


def test_md5_long_sexpr_pinned(spark):
    expected = int(hashlib.md5(b"hello").hexdigest()[:15], 16)
    assert expected == 419982666956583591  # literal pin
    got_txt, got_col = (
        spark.range(1)
        .select(
            F.expr(md5_long_sexpr("'hello'")).alias("t"),
            md5_long("'hello'").alias("c"),
        )
        .first()
    )
    assert got_txt == expected and got_col == expected


def test_minhash_sig_sexpr_pinned(spark):
    # (3*h + 11) % P over [7, 13, 29] -> min(32, 50, 98) = 32
    got_txt, got_col = (
        spark.range(1)
        .selectExpr("array(7L, 13L, 29L) AS h")
        .select(
            F.expr(minhash_sig_sexpr("h", 3, 11)).alias("t"),
            minhash_sig("h", 3, 11).alias("c"),
        )
        .first()
    )
    assert got_txt == 32 and got_col == 32


def test_simhash_sexpr_pinned(spark):
    # hashes [5, 3, 7] (101, 011, 111): votes +3/+1/+1 -> bits 0,1,2 -> 7
    got_txt, got_col = (
        spark.range(1)
        .selectExpr("array(5L, 3L, 7L) AS h")
        .select(
            F.expr(simhash_sexpr("h")).alias("t"),
            simhash("h").alias("c"),
        )
        .first()
    )
    assert got_txt == 7 and got_col == 7


def test_tokens_sexprs_pinned(spark):
    toks, dtoks = _eval(
        spark, tokens_sexpr("'a b b c'"), distinct_tokens_sexpr("'a b b c'")
    )
    assert list(toks) == ["a", "b", "b", "c"]
    assert list(dtoks) == ["a", "b", "c"]


def test_stopword_hits_sexpr_pinned(spark):
    # 'the', 'and', 'the' are en stopwords -> 3 (multiplicity counts)
    (got,) = _eval(
        spark,
        stopword_hits_sexpr(
            "array('the', 'cat', 'and', 'dog', 'the')", "en"
        ),
    )
    assert got == 3


def test_jaccard_sexpr_pinned(spark):
    # |{b,c}| / |{a,b,c,d}| = 2/4
    (got,) = _eval(
        spark,
        jaccard_sexpr("array('a','b','c')", "array('b','c','d')"),
    )
    assert got == 0.5


@pytest.mark.parametrize(
    "x", [0.25, 1.0 / 3.0, 1e-300, 6.02e23, -0.0, 2.5e-17]
)
def test_dlit_roundtrips_exactly(spark, x):
    (got,) = _eval(spark, _dlit(x))
    assert got == x and (x != 0.0 or str(got) == str(x))
