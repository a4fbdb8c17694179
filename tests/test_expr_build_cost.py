"""Construction cost of the expression primitives, and literal pins
for the two helpers that had none.

Every primitive's Column function is ``F.expr`` over its ``*_sexpr``
text, so building one costs what one ``F.expr`` costs — 3 py4j round
trips, however large the expression. A Column-operator body costs one
round trip per operator call (``quality_score`` 344, ``simhash`` 899);
this test fails as soon as a primitive grows one back."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cardano_spark.functions import hashing as H
from cardano_spark.functions import text as TX
from cardano_spark.operators import dedup as DD
from cardano_spark.operators import similarity as SIM

#: round trips of one warm ``F.expr`` (measured below, not assumed)
EXPR_COST = 3

BUILDERS = {
    # the twelve primitives
    "md5_long": lambda: H.md5_long("x"),
    "minhash_sig": lambda: H.minhash_sig("h", 3, 11),
    "tokens": lambda: TX.tokens("text"),
    "distinct_tokens": lambda: TX.distinct_tokens("text"),
    "stopword_hits": lambda: TX.stopword_hits("t", "en"),
    "dot": lambda: SIM.dot("a", "b"),
    "norm": lambda: SIM.norm("a"),
    "cosine": lambda: SIM.cosine("a", "b"),
    "lsh_bucket": lambda: SIM.lsh_bucket("v"),
    "project_jl": lambda: SIM.project_jl("v"),
    "jaccard": lambda: DD.jaccard("a", "b"),
    "simhash": lambda: DD.simhash("h"),
    # the helpers built on them
    "md5_long_arr": lambda: DD.md5_long_arr("a"),
    "hash_bucket": lambda: H.hash_bucket("doc_id", 100),
    "quality_score": lambda: TX.quality_score("text"),
    "punct_count": lambda: TX.punct_count("text"),
}


@pytest.fixture()
def round_trips(spark):
    """``round_trips(fn)`` -> py4j round trips spent while ``fn`` runs,
    counted by wrapping the gateway client's ``send_command``."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counted(*a, **kw):
        n[0] += 1
        return send(*a, **kw)

    def measure(fn) -> int:
        n[0] = 0
        fn()
        return n[0]

    F.expr("1")  # first call also resolves the JVM function handle
    client.send_command = counted
    try:
        yield measure
    finally:
        client.send_command = send


def test_one_expr_costs_three_round_trips(round_trips):
    assert round_trips(lambda: F.expr("1")) == EXPR_COST


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_primitive_builds_in_one_expr(round_trips, name):
    assert round_trips(BUILDERS[name]) <= EXPR_COST


def test_hash_bucket_pinned(spark):
    want = int(hashlib.md5(b"split|42").hexdigest()[:15], 16) % 100
    assert want == 61  # literal pin
    (got,) = spark.range(42, 43).select(H.hash_bucket("id", 100)).first()
    assert got == want


def test_quality_score_pinned(spark):
    # "the cat and the dog!": 5 tokens, 3 en stopwords (the, and, the),
    # 20 chars of which 1 ('!') is outside [a-z0-9 ]
    # -> 0.5*(3/5) + 0.3*(5/100) + 0.2*(1 - 1/20) = 0.505
    (got,) = spark.range(1).select(
        TX.quality_score("'the cat and the dog!'")
    ).first()
    assert got == 0.5 * (3 / 5) + 0.3 * (5 / 100) + 0.2 * (1.0 - 1 / 20)
    assert abs(got - 0.505) < 1e-12
