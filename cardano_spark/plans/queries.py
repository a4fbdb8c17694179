"""The query inventory: one callable per operator family from
SURVEY.md §2, expressed over the driver's synthetic tables
(TESTDATA.md). Each callable takes ``(spark, sf_dir)`` and returns a
DataFrame; ``cardano_spark.plans.oracles`` holds the DuckDB twin of
every query.

Determinism contract (so the driver's value-hash matches):
- money sums in DecimalType, never raw-double sums (exact, order-free)
- averages = CAST(decimal_sum AS DOUBLE) / count (single IEEE division)
- every LIMIT is preceded by a total order (unique tiebreak column)
- surrogate ids are sha2 content hashes, not uuid4 (SURVEY §7)

Scale notes are inline per query; dimension tables are explicitly
broadcast, fact-fact joins are left to Catalyst/AQE.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from cardano_spark.catalog import narrow_table, table, table_bytes
from cardano_spark.functions.scalars import (
    dec,
    dec6,
    exact_double,
    github_handle,
    surrogate_id,
)
from cardano_spark.operators.relational import (
    asof_join_prev,
    broadcast_if_small,
    insert_if_absent,
    missing_children,
    range_join_count,
    topk,
    with_running,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.5 A1-A5) + scans/projections (§2.1, §2.3)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregate (A4 family): scan -> filter ->
    groupBy. Catalyst pushes the shipdate filter and the 6-column
    projection into the parquet scan; partial aggregation happens
    map-side so the shuffle carries only group keys (4 groups)."""
    # SQL-text construction (guide §1/§5 driver latency): the Column
    # form cost ~700 py4j round trips per build, this form ~40 — same
    # Catalyst expressions (identical casts/literals), results
    # unchanged.
    # NOT spread (r11 re-measured, guide §1.6): the 4-group partial
    # aggregation collapses map-side, so the agg exchange is tiny
    # either way and a spread pays a full-row exchange only to
    # parallelize decimal math — interleaved A/B at sf0.1: 1.019 s
    # (no spread) vs 1.261 s (keyed spread). Contrast q02/q03, whose
    # high-cardinality agg keys make the exchange unavoidable — there
    # the keyed spread doubles as the agg's own exchange and wins.
    l = table(spark, sf_dir, "lineitem")
    disc_price = (
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * CAST((1 - l_discount) AS DECIMAL(9,6))"
    )
    charge = f"({disc_price}) * CAST((1 + l_tax) AS DECIMAL(9,6))"
    out = (
        l.filter("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty"),
            F.expr(
                "sum(CAST(l_extendedprice AS DECIMAL(18,2)))"
                " AS sum_base_price"
            ),
            F.expr(f"sum({disc_price}) AS sum_disc_price"),
            F.expr(f"sum({charge}) AS sum_charge"),
            F.expr("count(*) AS count_order"),
        )
    )
    # Final decimal -> double cast: sums stay exact (decimal) through the
    # aggregation, and one correctly-rounded conversion at the end keeps
    # the oracle comparison engine-agnostic (pandas float64 both sides).
    xd = "CAST(CAST({0} AS STRING) AS DOUBLE)"
    return out.selectExpr(
        "l_returnflag",
        "l_linestatus",
        xd.format("sum_qty") + " AS sum_qty",
        xd.format("sum_base_price") + " AS sum_base_price",
        xd.format("sum_disc_price") + " AS sum_disc_price",
        xd.format("sum_charge") + " AS sum_charge",
        "count_order",
        xd.format("sum_qty") + " / count_order AS avg_qty",
        xd.format("sum_base_price") + " / count_order AS avg_price",
    )


def q02_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (O1/A4: the reference's top-10-protocols query shape,
    README.md:103-109). Aggregate FIRST (reduces lineitem to one row
    per part), broadcast-join the part dimension after, then
    TakeOrderedAndProject — no full sort."""
    # spread the unsplittable fixture scan KEYED on the groupBy column
    # (guide §2.4 — two operations keyed the same way share one
    # exchange): l_partkey is high-cardinality, so a round-robin
    # spread would leave mostly-unique keys per task (partial agg
    # barely collapses) and then pay the aggregation exchange AGAIN;
    # hash-partitioning up front makes the spread exchange double as
    # the aggregation's own. Interleaved A/B at sf0.1: min 2.24 s
    # (RR) -> 1.15 s (keyed). No-op on production layouts (§2.5).
    # (SQL-text construction, guide §1/§5 — see q01.)
    l = narrow_table(spark, sf_dir, "lineitem", by=["l_partkey"])
    p = table(spark, sf_dir, "part")
    rev = (
        l.groupBy("l_partkey")
        .agg(
            F.expr(
                "sum(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * CAST((1 - l_discount) AS DECIMAL(9,6))) AS revenue"
            )
        )
        .join(
            broadcast_if_small(p, size_bytes=table_bytes(sf_dir, "part")),
            F.expr("l_partkey = p_partkey"),
        )
        .selectExpr(
            "p_partkey",
            "p_name",
            "CAST(CAST(revenue AS STRING) AS DOUBLE) AS revenue",
        )
    )
    return topk(rev, [F.desc("revenue"), F.asc("p_partkey")], 10)


def q03_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way FK equi-join chain (J2) + aggregate: the analytics
    layer the reference ran in Hex against Postgres. lineitem-orders
    is the only fact-fact join (shuffle on orderkey, AQE-managed);
    nation/region are broadcast unconditionally (true dimensions);
    customer scales with SF, so its hint is size-gated
    (broadcast_if_small) and self-retires at cluster scale."""
    # spread the unsplittable fixture scan KEYED on l_orderkey (guide
    # §2.4): the per-order aggregation below needs that partitioning
    # anyway, so the spread exchange doubles as the aggregation's own
    # — one exchange of raw slim rows instead of an RR exchange PLUS
    # an agg exchange whose partials barely collapse (l_orderkey is
    # high-cardinality). Interleaved A/B at sf0.1: median 9.2 s (RR,
    # noisy window) -> 4.75 s, minima equal. No-op at scale (§2.5).
    l = narrow_table(spark, sf_dir, "lineitem", by=["l_orderkey"])
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    # Aggregate-before-join: collapse lineitem to one row per order
    # first (map-side partial + one shuffle on orderkey), THEN walk
    # the dimension chain. The join input shrinks ~40x (items ->
    # orders), countDistinct becomes a plain count (one orderkey per
    # row post-collapse), and the final group-by shuffles 25 groups.
    # Decimal sums re-associate exactly, so values are unchanged.
    # (SQL-text construction, guide §1/§5 — see q01.)
    per_order = l.groupBy("l_orderkey").agg(
        F.expr(
            "sum(CAST(l_extendedprice AS DECIMAL(18,2))"
            " * CAST((1 - l_discount) AS DECIMAL(9,6))) AS o_rev"
        ),
        F.expr("count(*) AS o_items"),
    )
    return (
        per_order.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(
            broadcast_if_small(c, size_bytes=table_bytes(sf_dir, "customer")),
            F.expr("o_custkey = c_custkey"),
        )
        .join(F.broadcast(n), F.expr("c_nationkey = n_nationkey"))
        .join(F.broadcast(r), F.expr("n_regionkey = r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.expr("sum(o_rev) AS revenue_dec"),
            F.expr("count(*) AS n_orders"),
            F.expr("sum(o_items) AS n_items"),
        )
        .selectExpr(
            "r_name",
            "n_name",
            "CAST(CAST(revenue_dec AS STRING) AS DOUBLE) AS revenue",
            "n_orders",
            "n_items",
        )
    )


def q04_stale_orders_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-gap anti-join (J1; reference README.md:117-121 finds
    transactions with no ingested UTXO inputs via LEFT JOIN ... IS
    NULL). Here: orders none of whose lineitems shipped after a date."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        "l_shipdate > CAST('1998-06-01' AS TIMESTAMP)"
    )
    gap = missing_children(
        o, l.selectExpr("l_orderkey AS o_orderkey"), ["o_orderkey"]
    )
    return gap.select("o_orderkey", "o_orderdate", "o_orderstatus")


def q05_active_customers_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join = the reference's ``WHERE key IN (...)`` pushdown
    pattern (P4, cardano_tx_utxo_to_s3_pipeline.py:95-98)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 1000.0)
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q06_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate pushdown (P1/P3/P6): both the value
    range and IS NOT NULL reach the parquet reader as PushedFilters;
    ReadSchema is 3 columns."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") > 100.0)
            & F.col("props").isNotNull()
        )
        .select("event_id", "user_id", "value")
    )


def q07_watermark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark reads (A1/A2: ``SELECT coalesce(max(wm), 0) WHERE
    table = :t`` in provider_to_s3_import_status_dao.py:56-69), grouped
    over every 'table' at once instead of one scalar query per name."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.max("ts").alias("wm_ts"),
        F.coalesce(F.max("event_id"), F.lit(0)).alias("wm_id"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------------------
# Set ops / dedup / merge (SURVEY §2.7 D1-D2)
# --------------------------------------------------------------------------


def q08_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-internal dedup (D2): distinct = shuffle on all output
    columns with map-side partial dedup."""
    return table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


def q09_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idempotency primitive (D1): replay-overlapping batch merged
    with INSERT-if-absent semantics — existing rows win, matching
    ``ON CONFLICT (pk) DO NOTHING`` (cardano_block_dao.py:145)."""
    e = table(spark, sf_dir, "events")
    existing = e.filter("ts < CAST('2024-03-01' AS TIMESTAMP)").select(
        "event_id", "value"
    )
    incoming = e.filter("ts >= CAST('2024-02-01' AS TIMESTAMP)").selectExpr(
        "event_id", "value * 2 AS value"
    )
    return insert_if_absent(existing, incoming, ["event_id"])


# --------------------------------------------------------------------------
# Arrays / flatten-normalize (SURVEY §2.8 F1-F4, §1.2 array column)
# --------------------------------------------------------------------------


def q10_array_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array column build + explode (F4 + J3): the
    ``cardano_block_transactions.tx_hash ARRAY(String)`` pattern —
    collect per-order part lists, then explode back to rows the way
    the tx pipeline loops over each block's hashes
    (cardano_transactions_to_s3_pipeline.py:104-107). sort_array makes
    the list deterministic."""
    # Spread KEYED on l_orderkey (r11 re-measured, guide §2.4): the
    # batch-1 A/B that rejected a spread here used ROUND-ROBIN, which
    # fragments each order's list into per-task partials; hashing on
    # the agg key instead makes the spread exchange double as the
    # aggregation's own and the collect_list runs complete, no merge
    # — A/B sf0.1: 0.627 s (keyed) vs 0.761 s (unspread). sort_array
    # keeps the output value-independent of arrival order either way.
    l = narrow_table(spark, sf_dir, "lineitem", by=["l_orderkey"])
    arr = l.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("parts")
    )
    return arr.select(
        "l_orderkey",
        F.explode("parts").alias("part_key"),
        F.size("parts").cast("long").alias("n_parts"),
    )


def q11_flatten_surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature normalize (F1): child rows get deterministic
    sha2 surrogate ids instead of the reference's driver-side uuid4
    (cardano_transactions_utxo_dto.py:61-93) so retries/re-runs are
    idempotent (SURVEY §7)."""
    # one sha2 per row is the whole query; spread the unsplittable
    # fixture scan so the hashing uses every core (guide §2.5),
    # hashed on l_orderkey — keyless RR pays a single-task pre-sort
    # (sortBeforeRepartition; see q01)
    l = narrow_table(spark, sf_dir, "lineitem", by=["l_orderkey"])
    # (SQL-text construction, guide §1/§5 — see q01.)
    return l.selectExpr(
        "sha2(concat_ws('|', CAST(l_orderkey AS STRING),"
        " CAST(l_linenumber AS STRING)), 256) AS id",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS STRING)"
        " AS DOUBLE) AS quantity",
    )


# --------------------------------------------------------------------------
# Windows / sessionization (batch analogue of §2.10 state)
# --------------------------------------------------------------------------


def q12_running_customer_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running decimal sum per customer over a total order."""
    # (SQL-text construction, guide §1/§5 — see q01; both window
    # expressions share one Window operator exactly as before.)
    o = table(spark, sf_dir, "orders")
    out = with_running(
        o,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        "CAST(o_totalprice AS DECIMAL(18,2))",
        "running_spend",
    )
    return out.selectExpr(
        "o_custkey",
        "o_orderkey",
        "CAST(row_number() OVER (PARTITION BY o_custkey"
        " ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq",
        "CAST(CAST(running_spend AS STRING) AS DOUBLE) AS running_spend",
    )


def q13_rollup_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        exact_double(F.sum(dec("c_acctbal"))).alias("total_balance"),
    )


def q14_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the batch form of
    stateful stream processing (SURVEY §2.10 notes the reference's
    watermark tables are the batch analogue of streaming state).
    lag + conditional cumsum — one shuffle on user_id, both window
    functions share the same sort."""
    # (SQL-text construction, guide §1/§5 — see q01; the lag and the
    # conditional cumsum share one window sort exactly as before.)
    e = table(spark, sf_dir, "events")
    over = "PARTITION BY user_id ORDER BY ts, event_id"
    gap_us = (
        f"unix_micros(ts) - unix_micros(lag(ts) OVER ({over}))"
    )
    new_session = (
        f"CASE WHEN (({gap_us}) IS NULL) OR (({gap_us}) > {1800 * 1_000_000})"
        " THEN 1 ELSE 0 END"
    )
    sessions = e.selectExpr(
        "*",
        f"sum({new_session}) OVER ({over}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " AS session_seq",
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.expr("min(ts) AS session_start"),
        F.expr("max(ts) AS session_end"),
        F.expr("count(*) AS n_events"),
        F.expr(
            "CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING)"
            " AS DOUBLE) AS session_value"
        ),
    )


def q15_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregate (hypertable-rollup style)."""
    # (SQL-text construction, guide §1/§5 — see q01.)
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.expr("date_trunc('hour', ts) AS hour"), F.col("event_type")
    ).agg(
        F.expr("count(*) AS n"),
        F.expr(
            "CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING)"
            " AS DOUBLE) AS total_value"
        ),
        F.expr("count(DISTINCT user_id) AS n_users"),
    )


# --------------------------------------------------------------------------
# Scalar function surface (SURVEY §2.9 C1-C12)
# --------------------------------------------------------------------------


def q16_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (C9: the reference json.load/dumps's raw
    payloads; here the path-extract runs columnar)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k.isNull(), 1)).alias("null_k"),
    )


def q17_github_handles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL -> handle extraction (C10/C11, the scraper scalar ops) over
    a synthesized URL column."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://github.com/"),
        F.col("source"),
        F.lit("/repo"),
        F.col("doc_id").cast("string"),
    )
    return (
        d.select(github_handle(url).alias("handle"))
        .groupBy("handle")
        .agg(F.count("*").alias("n_repos"))
    )


def q18_unixtime_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unix-seconds <-> timestamp conversions (C1/C7: the reference
    converts Blockfrost unix times at cardano_blocks.py:36)."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return e.select(
        "event_id",
        us.alias("ts_us"),
        F.floor(us / F.lit(1_000_000)).alias("ts_sec"),
        F.timestamp_micros(us).alias("ts_roundtrip"),
    )


def q19_decimal38_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String -> DECIMAL(38,0) quantities (C8): the reference keeps
    amounts as strings in raw and Numeric(38,0) in Postgres
    (cardano_tables.py:112); >18-digit values exercise the wide path."""
    l = table(spark, sf_dir, "lineitem")
    big = F.concat(F.col("l_orderkey").cast("string"), F.lit("9" * 15)).cast(
        T.DecimalType(38, 0)
    )
    return l.groupBy("l_returnflag").agg(
        exact_double(F.sum(big)).alias("sum_big"),
        exact_double(F.max(big)).alias("max_big"),
    )


def q20_topk_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + ORDER BY count DESC LIMIT 10 — the exact shape of
    the reference's top-10-protocols analytics query
    (README.md:103-109) over the documents table."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))
    return topk(counts, [F.desc("n_docs"), F.asc("source"), F.asc("lang")], 10)


def q35_supplier_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-side fulfillment rollup (J2 FK joins over the last
    uncovered dimension table) + the C10 URL->company scalar
    (reference ideascale/extract_company_from_company_link.py) over a
    synthesized supplier homepage column. lineitem is the only fact;
    supplier and nation broadcast."""
    from cardano_spark.functions.scalars import company_from_url

    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    url = F.concat(
        F.lit("https://www."), F.lower(F.col("s_name")), F.lit(".example.com/home")
    )
    # Aggregate-before-join (same trick as q03): collapse lineitem to
    # one row per supplier FIRST — the shuffle carries (suppkey,
    # decimal, count) partials instead of 600k joined rows, and the
    # countDistinct's two-phase expand runs over ~|supplier| rows
    # post-join rather than row-level company strings per item.
    # Decimal sums re-associate exactly; inner-join semantics are
    # preserved (every supplier surviving the join has >= 1 item).
    per_supp = l.groupBy("l_suppkey").agg(
        F.sum(dec("l_extendedprice") * dec6(1 - F.col("l_discount"))).alias("s_rev"),
        F.count("*").alias("s_items"),
    )
    return (
        per_supp.join(
            broadcast_if_small(s, size_bytes=table_bytes(sf_dir, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.countDistinct(company_from_url(url)).alias("n_companies"),
            F.sum(F.col("s_rev")).alias("rev"),
            F.sum(F.col("s_items")).alias("n_items"),
        )
        .select(
            "n_name",
            "n_companies",
            exact_double(F.col("rev")).alias("revenue"),
            "n_items",
        )
    )


def q38_asof_prev_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event matched to the user's latest
    earlier view event. Spark lacks ASOF JOIN; the union+window
    rewrite (operators/relational.py::asof_join_prev) does ONE
    shuffle on user_id instead of an O(L x R)-per-key inequality
    join — at 100 TB the naive form is a BroadcastNestedLoop that
    never finishes; this form scales like any window aggregate."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    clicks = e.filter("event_type = 'click'").drop("event_type")
    views = e.filter("event_type = 'view'").drop("event_type")
    joined = asof_join_prev(
        clicks,
        views,
        on=["user_id"],
        order=["ts", "event_id"],
        carry=["event_id", "ts"],
    )
    return joined.selectExpr(
        "event_id AS click_id",
        "user_id",
        "ts AS click_ts",
        "prev_event_id AS prev_view_id",
        "prev_ts AS prev_view_ts",
    )


def q39_range_join_clicks_before_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Range join via bin bucketing: per error event, how many clicks
    the same user made in the preceding 10 minutes. The bucketed
    rewrite (operators/relational.py::range_join_count) turns the
    inequality join into an equi shuffle join on (user, time-bin)
    with 2x fan-out of the probe side only."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    errors = e.filter("event_type = 'error'").drop("event_type")
    clicks = e.filter("event_type = 'click'").drop("event_type")
    counted = range_join_count(
        errors,
        clicks,
        on=["user_id"],
        left_point_us="unix_micros(ts)",
        right_point_us="unix_micros(ts)",
        window_us=600 * 1_000_000,
        out="n_clicks",
    )
    return counted.selectExpr(
        "event_id AS err_id", "user_id", "ts AS err_ts", "n_clicks"
    )


def q43_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 line items per return flag by price, TWO-PHASE: the
    group key has only 3 distinct values, so the single-window form
    (round 1-3) funneled the whole table into 3 sort tasks — 33 TB
    per core at the 100 TB target. Phase 1 takes each BUCKET's top-3
    per flag (window keyed by (hash-bucket, flag): B*|groups|
    parallel small sorts); phase 2 runs the real window over the
    <= 3*B*|groups| survivors. The union of per-bucket top-3s
    provably contains every global top-3 for ANY row-to-bucket map,
    so the result is bucket-count-independent. r12 change (guide
    §2.5): the bucket was ``spark_partition_id()``, which inherits
    the INPUT layout — on the single-row-group fixture that is ONE
    pid, i.e. 3 serial full sorts, the exact funnel this shape
    exists to avoid. A deterministic ``pmod(xxhash64(key), B)``
    bucket makes phase 1's own exchange do the distribution at any
    layout (no extra spread exchange), is retry-deterministic
    (guide §2.5's rand() warning), and B = 4x parallelism scales
    with the session. Tie-broken to a total order (price desc,
    orderkey, linenumber) so LIMIT-like semantics are deterministic
    cross-engine."""
    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    n_buckets = 4 * spark.sparkContext.defaultParallelism
    order = [
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    ]
    w1 = W.partitionBy("_bkt", "l_returnflag").orderBy(*order)
    cand = (
        l.withColumn(
            "_bkt",
            F.pmod(
                F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_buckets)
            ),
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= 3)
        .drop("_bkt", "rn")
    )
    w2 = W.partitionBy("l_returnflag").orderBy(*order)
    return (
        cand.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 3)
        .select("l_returnflag", "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


def q45_pg_array_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 dialect seam: the Postgres array text codec
    (sources/jdbc.py) round-tripped over escaping-hostile synthetic
    elements built from part attributes — quotes, backslashes, commas
    and braces all ride inside quoted PG literal elements. Both
    directions are pure column expressions (JVM-side, codegen'd); the
    reference stores the same shape as ``tx_hash ARRAY(String)``
    (database_management/cardano/cardano_tables.py:56)."""
    from cardano_spark.sources.jdbc import (
        decode_pg_text_array,
        encode_pg_text_array,
    )

    p = table(spark, sf_dir, "part")
    arr = F.array(
        F.col("p_name"),
        F.concat(F.lit('q"'), F.col("p_brand")),
        F.concat(F.lit("b\\"), F.col("p_type")),
        F.col("p_size").cast("string"),
    )
    enc = encode_pg_text_array(arr)
    return p.select(
        "p_partkey",
        enc.alias("pg_literal"),
        F.concat_ws("\x1f", decode_pg_text_array(enc)).alias("decoded_joined"),
        (decode_pg_text_array(enc) == arr).alias("roundtrip_ok"),
    )


def q52_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: NATION_2's share of ASIA revenue
    per order year. Exercises Catalyst on a 5-table join with
    conditional aggregation. Plan: aggregate-before-join collapses
    lineitem to per-order revenue (one shuffle), the dimension chain
    broadcasts, the region filter prunes 4/5 of customers BEFORE the
    fact join (pushed through the broadcast), and the year group-by
    shuffles 7 rows. Share = one IEEE division of two exact
    (decimal-summed, string-routed) doubles, so both engines agree
    bitwise."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(dec("l_extendedprice") * dec6(1 - F.col("l_discount"))).alias("o_rev")
    )
    asia_cust = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey", "n_name")
    )
    zero = F.lit(0).cast(T.DecimalType(18, 2))
    return (
        per_order.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # asia_cust derives from customer x (two true dims): its scan
        # bytes — the gate's upper bound — scale with customer, so the
        # hint retires exactly when customer stops being broadcastable
        .join(
            broadcast_if_small(
                asia_cust, size_bytes=table_bytes(sf_dir, "customer")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("n_name") == "NATION_2", F.col("o_rev")).otherwise(zero)
            ).alias("nation_rev"),
            F.sum(F.col("o_rev")).alias("total_rev"),
        )
        .select(
            "o_year",
            exact_double(F.col("nation_rev")).alias("nation_rev"),
            exact_double(F.col("total_rev")).alias("total_rev"),
            (
                exact_double(F.col("nation_rev")) / exact_double(F.col("total_rev"))
            ).alias("mkt_share"),
        )
    )


def q53_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped "large orders": orders whose total lineitem
    quantity exceeds a threshold, with their customer. Shape:
    aggregate -> HAVING filter -> fact join -> broadcast dim ->
    total-order top-k. The HAVING collapses lineitem to ~1 row per
    300 orders BEFORE any join, so the join input is tiny; the final
    TakeOrderedAndProject never global-sorts."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(135))
    )
    out = (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(c, size_bytes=table_bytes(sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            exact_double(F.col("total_qty")).alias("total_qty"),
        )
    )
    return topk(out, [F.desc("total_qty"), F.asc("o_orderkey")], 100)


#: KMV sketch size (number of minimum hash values retained)
KMV_K = 64
#: size of md5_long's hash space: 16^15 (60-bit)
_KMV_SPACE = float(16**15)


def q54_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over
    events.user_id — the mergeable cardinality sketch pattern
    (same family as HLL, but with an engine-independent deterministic
    estimate, so the DuckDB oracle can verify the ESTIMATE itself,
    not just plumbing). Estimator: E = (k-1) / R_k where R_k is the
    k-th smallest hash normalized to [0,1) — applied only when the
    sketch is FULL (n_retained == k). Below k distinct values the
    sketch holds every distinct hash, so the count is EXACT and
    (k-1)/R_k would saturate near k (R_k is then the MAX hash, ~n/n+1
    of the space, not the k-th order statistic); the standard
    small-range branch returns n_retained (pinned by
    tests/test_sketches.py).

    Plan shape: hash map-side -> partial hash-agg dedup (the dedup
    exchange carries per-partition DISTINCT hashes, never raw rows)
    -> ``TakeOrderedAndProject`` (per-partition k-smallest, k rows
    per partition into the final merge). The distinct must precede
    the top-k: duplicate hash values may not occupy sketch slots. At
    extreme skew a ``mapPartitions`` local dedup+top-k would bound
    the dedup exchange to k rows per partition too; the built-in
    partial agg is the right default. Both engines run identical
    IEEE double ops, so the estimate itself hash-matches."""
    from cardano_spark.functions.hashing import md5_long

    e = table(spark, sf_dir, "events")
    hashes = (
        e.select(md5_long("CAST(user_id AS STRING)").alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    kmin = hashes.orderBy(F.asc("h")).limit(KMV_K)
    kth = kmin.agg(
        F.max("h").alias("kth_min_hash"),
        F.count("*").cast("long").alias("n_retained"),
    )
    full_est = F.floor(
        F.lit(float(KMV_K - 1))
        / (F.col("kth_min_hash").cast("double") / F.lit(_KMV_SPACE))
    ).cast("long")
    return kth.select(
        "kth_min_hash",
        "n_retained",
        F.when(F.col("n_retained") < KMV_K, F.col("n_retained"))
        .otherwise(full_est)
        .alias("est_distinct"),
        F.lit(KMV_K).cast("long").alias("k"),
    )


def q68_sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup: 1-hour windows advancing every 15
    minutes (each event lands in size/slide = 4 windows), per
    (window_start, event_type) — the overlapping-window form of the
    tumbling q15. Spark's ``window(ts, size, slide)`` expands each row
    to its 4 windows map-side (a projection, not a join) and the
    partial agg collapses before the one hash exchange; window starts
    are epoch-aligned, matching DuckDB ``time_bucket``."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts"), "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            exact_double(F.sum(dec("value"))).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q69_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort conversion funnel: users grouped by signup week; a user
    converts if any purchase lands within 7 days of their FIRST
    signup. Shape: the signup side collapses to one row per user
    (partial agg) BEFORE the user_id join with the purchase slice —
    the join carries |users|, not |events| — and the flag aggregates
    per user before the small cohort rollup."""
    e = table(spark, sf_dir, "events")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
        .withColumn("cohort_week", F.date_trunc("week", F.col("signup_ts")))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("purchase_ts")
    )
    joined = signups.join(purchases, "user_id", "left").withColumn(
        "converted",
        (
            F.col("purchase_ts").isNotNull()
            & (F.col("purchase_ts") >= F.col("signup_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")
            )
        ).cast("int"),
    )
    per_user = joined.groupBy("user_id", "cohort_week").agg(
        F.max("converted").alias("converted")
    )
    return per_user.groupBy("cohort_week").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        (
            F.sum("converted").cast("double")
            / F.count("*").cast("double")
        ).alias("conversion_rate"),
    )


#: HLL precision: 2^9 = 512 registers.
HLL_P = 9
HLL_M = 1 << HLL_P
#: scaled-integer domain: md5_long is 60-bit; top 9 bits pick the
#: register, the remaining 51 carry the rank. 2^-rho sums are kept
#: scaled by 2^52 so the register sum is EXACT int64 arithmetic
#: (order-free — a raw double sum would be order-dependent IEEE).
_HLL_REM_BITS = 51
_HLL_REM_MASK = (1 << _HLL_REM_BITS) - 1
_HLL_ONE_SCALED = 1 << (_HLL_REM_BITS + 1)  # empty register: 2^-0 scaled
#: alpha_m * m^2 * 2^52 as one double literal, embedded verbatim in
#: both engines so the final division is the only IEEE op.
_HLL_NUMERATOR = repr(
    0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * float(_HLL_ONE_SCALED)
)


def q74_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog cardinality sketch over events.user_id — the
    fixed-size (m registers), mergeable big-brother of the KMV sketch
    (q54), built from engine-portable primitives so the DuckDB oracle
    verifies the ESTIMATE itself (``approx_count_distinct`` is
    engine-specific and never comparable):

    - register j = top 9 bits of the 60-bit md5 hash; rank rho =
      leading-zero count of the remaining 51 bits + 1 (pure string
      length of ``bin()`` — no libm, identical everywhere);
    - per-register harmonic term 2^-max(rho) kept SCALED by 2^52 as
      exact int64, so the cross-register sum is integer (order-free);
      absent registers contribute 2^52 (rho=0) via (m - n_present);
    - raw_estimate = alpha_m * m^2 / Z in ONE IEEE division of two
      identically-derived doubles. The small-range linear-counting
      correction (n < 2.5m) needs ln() — libm-divergent across
      engines — so the DETERMINISTIC contract is (n_present,
      z_scaled, raw_estimate); a caller in the small regime computes
      m*ln(m/(m-n_present)) from n_present downstream (pinned
      accurate in tests). The raw harmonic estimate is the accurate
      one once true cardinality >> m, which is the regime HLL exists
      for.

    Plan: scan -> map-side partial agg on 512 register keys (the
    exchange carries <= 512 rows per task) -> 512-row final agg ->
    1-row reduce. Same shape at any corpus size — that's the point
    of HLL."""
    from cardano_spark.functions.hashing import md5_long, shl1

    e = table(spark, sf_dir, "events")
    h = md5_long("CAST(user_id AS STRING)")
    reg = F.shiftrightunsigned(h, _HLL_REM_BITS)
    rem = h.bitwiseAND(F.lit(_HLL_REM_MASK))
    # 2^(52 - rho) == 2^bit_length(rem) for rem>0, else 2^0
    w_scaled = F.when(rem == 0, F.lit(1).cast("long")).otherwise(
        shl1(F.length(F.bin(rem)))
    )
    regs = (
        e.filter(F.col("user_id").isNotNull())
        .select(reg.alias("reg"), w_scaled.alias("w"))
        .groupBy("reg")
        .agg(F.min("w").alias("mw"))
    )
    z = regs.agg(
        F.count("*").cast("long").alias("n_present"),
        F.sum("mw").cast("long").alias("present_sum"),
    )
    z_scaled = (
        F.col("present_sum")
        + (F.lit(HLL_M).cast("long") - F.col("n_present"))
        * F.lit(_HLL_ONE_SCALED).cast("long")
    )
    return z.select(
        F.lit(HLL_M).cast("long").alias("m"),
        "n_present",
        z_scaled.alias("z_scaled"),
        (F.lit(float(_HLL_NUMERATOR)) / z_scaled.cast("double")).alias(
            "raw_estimate"
        ),
    )


def q70_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional CUBE aggregate (A4 family generalized):
    order counts and exact total price over every subset of
    {orderstatus, orderpriority} — the 4-grouping-set OLAP cube a
    reporting layer materializes once instead of running 4 separate
    GROUP BYs. ``grouping_id`` disambiguates a NULL group key from a
    rolled-up level (both engines number bits identically:
    1 << position from the right).

    Shape: Spark's Expand operator replicates each input row once per
    grouping set MAP-SIDE (4x here), then a single partial-agg hash
    exchange on the expanded keys — one scan, one shuffle, regardless
    of how many sets the cube contains. At 100 TB prefer targeted
    GROUPING SETS over a full cube of high-card columns: the Expand
    multiplier is 2^n_cols."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            exact_double(F.sum(dec("o_totalprice"))).alias("total_price"),
        )
    )


def q71_pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): order counts per priority with one
    column per order status — the crosstab shape every BI export
    needs. Deliberately NOT ``df.pivot()``: with a declared domain
    Spark's pivot still plans TWO hash exchanges (a (key, value)
    pre-aggregate feeding ``pivotfirst``); the conditional-aggregate
    rewrite below is semantically identical and needs ONE partial-agg
    exchange on the group key — the plan you want at 100 TB. (Use
    ``df.pivot`` only when the value domain is undeclared, and never
    at scale: domain discovery is a distinct-collect to the driver.)"""
    o = table(spark, sf_dir, "orders")
    n_if = lambda v: F.count(F.when(F.col("o_orderstatus") == v, 1))
    return o.groupBy("o_orderpriority").agg(
        n_if("F").alias("n_f"),
        n_if("O").alias("n_o"),
        n_if("P").alias("n_p"),
    )


def q76_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history build from the events change log: per user,
    episodes of constant ``event_type`` with half-open
    [valid_from, valid_to) validity and an ``is_current`` flag
    (operators/relational.py::scd2_from_changelog) — the CDC->
    dimension-history derivation the reference's latest-row-only
    upsert DAO cannot express. One user_id exchange; all three
    window passes share it."""
    from cardano_spark.operators.relational import scd2_from_changelog

    e = table(spark, sf_dir, "events")
    return scd2_from_changelog(
        e.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"],
        "ts",
        ["event_type"],
        seq_col="event_id",
    )


def q80_trailing_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity trailing z-score anomaly detection: each event's
    ``value`` against the mean/stddev of the user's previous <=10
    values (frame excludes the current row); emit rows with |z| > 2
    — the online-monitoring shape (fraud spikes, sensor drift) on a
    batch engine.

    Determinism at the oracle: windowed DOUBLE sums are
    association-order-dependent and DuckDB computes sliding frames
    with segment trees (different grouping than Spark's running
    accumulation), so both sums run in DECIMAL (exact, order-free);
    mean/variance/z then derive through the identical fixed IEEE op
    chain (sqrt is correctly-rounded by IEEE-754, so it's portable —
    unlike ln/exp). Plan: ONE user_id exchange; both window
    aggregates share its sort."""
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-10, -1)
    )
    v = dec("value")
    n = F.count("value").over(w)
    s = exact_double(F.sum(v).over(w))
    s2 = exact_double(F.sum(v * v).over(w))
    mean = s / n.cast("double")
    var = (s2 - s * s / n.cast("double")) / (n - 1).cast("double")
    sd = F.sqrt(var)
    z = (F.col("value") - mean) / sd
    return (
        e.select("event_id", "user_id", "ts", "value",
                 n.alias("n_prev"), mean.alias("mean_prev"),
                 sd.alias("sd_prev"), z.alias("z"))
        .filter(
            (F.col("n_prev") >= 5)
            & (F.col("sd_prev") > 0)
            & (F.abs(F.col("z")) > 2)
        )
    )


def q82_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit diff between two warehouse snapshots (operators/
    relational.py::snapshot_diff): old = orders loaded before
    1997-07-01, new = the current load where keys divisible by 101
    were purged and the status of keys divisible by 97 moved to 'X'
    (a deterministic stand-in for the drift two real loads exhibit).
    Emits only the delta — added / removed / changed with both
    sides' values — via ONE full-outer key shuffle."""
    from cardano_spark.operators.relational import snapshot_diff

    o = table(spark, sf_dir, "orders")
    old = o.filter(
        F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")
    )
    new = o.filter(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


def q83_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week;
    for each (cohort_week, week_offset) the number of distinct users
    active that many weeks later — the retention triangle every
    product-analytics stack materializes.

    Shape: cohorts collapse to ONE ROW PER USER first (partial agg on
    user_id — the big exchange), then re-join the event stream on
    user_id (the cohort side is per-user, so the join carries |users|
    not |events| on the build side), dedupe (user, offset) pairs with
    a partial-agg distinct, and count into the small matrix. The
    week arithmetic is integer (epoch-day // 7) on both engines —
    no interval/timezone drift."""
    e = table(spark, sf_dir, "events")
    wk = lambda c: F.floor(
        F.datediff(F.to_date(c), F.lit("1970-01-05").cast("date")) / 7
    )  # Monday-aligned epoch week
    ev = e.filter(F.col("user_id").isNotNull()).select(
        "user_id", wk(F.col("ts")).alias("week")
    )
    cohorts = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    pairs = (
        ev.join(cohorts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return pairs.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("long").alias("n_users")
    )


def q84_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered multi-step funnel: per user the earliest
    signup, the earliest click AFTER that signup, and the earliest
    purchase AFTER that click; the output counts users reaching each
    stage. Unlike q69 (any purchase within a window), the steps must
    occur IN ORDER — the sequence-pattern aggregation.

    Shape: each stage is a per-user MIN over the events after the
    previous stage's timestamp — three hash aggregates and two joins,
    ALL partitioned by user_id, so after the first exchange per
    filtered slice the stage chain reuses the partitioning (no
    re-shuffle per stage; AQE plans the t1/t2 sides as broadcast
    when small). The event scan is shared; stage filters prune it
    to the relevant event types."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    base = e.select("user_id", "ts", "event_type")
    t1 = base.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    # step 2: earliest click strictly after t1 (broadcast-free: join
    # on user_id reuses the aggregation partitioning)
    t2 = (
        base.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        base.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return t1.join(t2, "user_id", "left").join(t3, "user_id", "left").agg(
        F.count("*").cast("long").alias("n_signup"),
        F.count("t2").cast("long").alias("n_click_after"),
        F.count("t3").cast("long").alias("n_purchase_after"),
    )


def q87_zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over events: 8-bit user
    bucket x 8-bit hour bucket interleaved into a 16-bit layout key
    (functions/layout.py) — the multi-dimensional clustering column a
    100 TB table sorts by so parquet zone-maps prune BOTH a user
    predicate and a time predicate (single-key sort prunes only one).
    Pure shift/mask arithmetic, shuffle-free projection; the layout
    improvement itself is measured in tests/test_layout.py (per-row-
    group bounding boxes of a z-sorted vs single-key-sorted write)."""
    from cardano_spark.functions.layout import zorder_key

    e = table(spark, sf_dir, "events")
    ub = F.pmod(F.col("user_id"), F.lit(256))
    tb = F.pmod(
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600)), F.lit(256)
    )
    return e.select(
        "event_id",
        ub.cast("long").alias("user_bucket"),
        tb.cast("long").alias("time_bucket"),
        zorder_key(ub, tb, bits=8).alias("zkey"),
    )


def q89_salted_heavy_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation over the 5-value event_type key
    (operators/skew.py::salted_agg): per type, row count and exact
    decimal value total. Output is IDENTICAL to the plain groupBy
    (decimal sums re-associate losslessly — that's why the sums are
    decimal, and why the oracle is just GROUP BY); what changes is
    the shuffle: reduce-side parallelism stays |keys| x 16 instead of
    collapsing to 5 reducers — the plan-level fix for hot keys whose
    partial stream overwhelms a single reducer."""
    from cardano_spark.operators.skew import salted_agg

    e = table(spark, sf_dir, "events")
    out = salted_agg(
        e,
        ["event_type"],
        [(F.lit(1).cast("long"), "n"), (dec("value"), "total_dec")],
        salt_source=F.col("event_id"),
        n_salts=16,
    )
    return out.select(
        "event_type", "n", exact_double(F.col("total_dec")).alias("total_value")
    )


def q90_gapfill_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: per user (id < 50 slice), a
    dense hourly grid from their first to last event, hours with no
    events emitted with n_events=0 and the last observed hourly total
    carried FORWARD — the hypertable ``time_bucket_gapfill`` /
    ``locf`` shape every monitoring stack needs.

    Shape: hourly aggregate (one (user, hour) exchange, decimal-exact
    totals) -> per-user bounds (tiny agg) -> the dense grid
    materializes MAP-SIDE via ``sequence`` + explode (never a
    generator join) -> left join of observations back on the grid ->
    one window pass for the carry-forward (same user partitioning).
    Grid size = active span per user, so a sparse user costs their
    span, not the global timeline."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hourly = (
        e.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).alias("total_dec"),
        )
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "hour",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        exact_double(
            F.last(F.col("total_dec"), ignorenulls=True).over(w)
        ).alias("filled_value"),
    )


def q91_delta_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh of an orders⋈lineitem view via the IVM
    identity (operators/relational.py::delta_join): bases = rows
    before 1997-07-01, deltas = the rest; the view's per-status
    (count, exact qty total) update comes ONLY from the three
    delta-sided joins — the big bases never re-join each other.
    Oracle verifies the refreshed delta aggregate equals the direct
    computation over the same three terms."""
    from cardano_spark.operators.relational import delta_join

    cutoff = F.lit("1997-07-01").cast("timestamp")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    l = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity", "l_shipdate"
    )
    delta = delta_join(
        o.filter(F.col("o_orderdate") < cutoff),
        o.filter(F.col("o_orderdate") >= cutoff),
        l.filter(F.col("l_shipdate") < cutoff),
        l.filter(F.col("l_shipdate") >= cutoff),
        ["o_orderkey"],
    )
    return delta.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_new_rows"),
        exact_double(F.sum(dec("l_quantity"))).alias("qty_delta"),
    )


def q92_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth in one pass: ntile(4) spend quartile,
    percent_rank, cume_dist, dense_rank per customer's orders — all
    four share ONE (customer, order-date) window sort, so Catalyst
    plans a single exchange + a single Window operator. percent_rank
    and cume_dist are rank-ratio IEEE divisions — deterministic
    (no sums to re-associate)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )


def _segment_blocks(sfx: F.Column) -> F.Column:
    """The two position-tagged 2-char segments of a 4-char code —
    the pigeonhole blocking key set: 1 edit cannot touch both
    disjoint segments, so any Hamming<=1 pair shares at least one
    (position, segment) key. Lossless by construction.

    Why the LAST 4 chars and not the full 6: the entity codes are
    zero-padded numbers, so the leading segment is the constant "00"
    for (nearly) every row — a DEGENERATE block whose bucket IS the
    cross product (measured: 9.7 s vs 1.5 s at sf0.1). Blocking keys
    must be chosen from the VARIABLE part of the value; the same
    rule as salting (salt from high-cardinality columns)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("pos"),
                F.substring(sfx, 1 + 2 * i, 2).alias("seg"),
            )
            for i in range(2)
        ]
    )


def _hamming4(a: F.Column, b: F.Column) -> F.Column:
    return sum(
        F.when(
            F.substring(a, i, 1) != F.substring(b, i, 1), F.lit(1)
        ).otherwise(F.lit(0))
        for i in range(1, 5)
    ).cast("long")


def q93_fuzzy_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (entity resolution across
    systems): customer/supplier pairs whose 4-char variable numeric
    suffixes differ in at most 1 position (Hamming <= 1). The
    candidate join uses PIGEONHOLE SEGMENT BLOCKING: each code's two
    disjoint 2-char segments become (position, segment) keys — 1
    substitution cannot touch both segments, so the equi-join on the
    segment key is LOSSLESS for the threshold while generating only
    same-segment pairs (bucket-occupancy-bounded, like every dedup
    blocking key in this repo), never the n x m cross product. The
    segments come from the value's VARIABLE part — see
    :func:`_segment_blocks` for the degenerate-block lesson.
    Survivors verify with the exact per-position comparison;
    Levenshtein is reported alongside (always <= hamming — a
    substitution is one edit). The oracle states the SEMANTICS as the
    direct quadratic filter — tractable at oracle scale, and exactly
    what the blocked plan must reproduce."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.right(F.col("c_name"), F.lit(4)).alias("c_sfx")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), F.right(F.col("s_name"), F.lit(4)).alias("s_sfx")
    )
    cb = c.select(
        "c_custkey", "c_sfx", F.explode(_segment_blocks(F.col("c_sfx"))).alias("k")
    )
    sb = s.select(
        "s_suppkey", "s_sfx", F.explode(_segment_blocks(F.col("s_sfx"))).alias("k")
    )
    cand = (
        cb.join(sb, cb["k"] == sb["k"])
        .select("c_custkey", "c_sfx", "s_suppkey", "s_sfx")
        .dropDuplicates(["c_custkey", "s_suppkey"])
    )
    return (
        cand.withColumn("hamming", _hamming4(F.col("c_sfx"), F.col("s_sfx")))
        .filter(F.col("hamming") <= 1)
        .select(
            "c_custkey",
            "s_suppkey",
            "c_sfx",
            "s_sfx",
            "hamming",
            F.levenshtein(F.col("c_sfx"), F.col("s_sfx")).cast("long").alias(
                "lev"
            ),
        )
    )


def q94_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: distinct suppliers per
    (brand, type, size) for mid-size parts outside one brand,
    EXCLUDING blacklisted suppliers (negative balance) via NOT IN —
    the distinct-count + exclusion-subquery composition.

    Shape: the (part, supplier) pair set collapses to DISTINCT pairs
    FIRST (partial-agg dedup on the pair — the fact table never
    reaches the dimension join at row multiplicity), the blacklist is
    a broadcast anti-join (NOT IN with a guaranteed-non-null key =
    anti semantics), part filters push to the part scan, and the
    final distinct-count runs over the collapsed pair frame."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").between(5, 40)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    pairs = (
        l.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            broadcast_if_small(
                bad.select(F.col("s_suppkey").alias("l_suppkey")),
                size_bytes=table_bytes(sf_dir, "supplier"),
            ),
            "l_suppkey",
            "left_anti",
        )
    )
    return (
        pairs.join(
            broadcast_if_small(p, size_bytes=table_bytes(sf_dir, "part")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q95_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of events.value: decile boundaries from
    EXACT interpolated percentiles (the q63 determinism argument —
    Spark `percentile` and DuckDB `quantile_cont` run the same IEEE
    interpolation), then per-bucket row counts — the statistics
    object an optimizer's CBO or a drift monitor builds per column.

    Shape: boundary computation is ONE partial-agg reduce to a
    single row (percentile is a true partial aggregation — no global
    sort); assignment broadcasts the 9 boundaries back as a literal
    array and buckets map-side with a fold over the array; the
    bucket-count agg shuffles 10 groups. Two passes over the column
    total — the unavoidable shape when boundaries depend on the data
    (a fixed-boundary histogram is one pass)."""
    e = table(spark, sf_dir, "events")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds_row = e.agg(
        F.percentile("value", F.array(*[F.lit(q) for q in qs])).alias("bs")
    )
    bucket = F.aggregate(
        F.col("bs"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(F.col("value") > b, 1).otherwise(0),
    )
    return (
        e.select("value")
        .crossJoin(F.broadcast(bounds_row))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def q96_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift detection between the first and second half
    of the event timeline: Pearson chi-square over the event_type
    distribution (expected = first-half share scaled to second-half
    volume). Chosen over PSI/KL deliberately: those need ln(), which
    is libm-divergent across engines, while chi-square is add/mul/div
    — and the cross-category sum runs as a SEQUENTIAL FOLD over the
    type-sorted term array, because a plain double sum aggregate
    would be association-order-dependent (the q80 lesson applied to
    a scalar statistic).

    Shape: one (half, type) partial-agg exchange collapses the corpus
    to 2x|types| rows; everything after is a constant-size single-row
    computation."""
    from cardano_spark.functions.hashing import fold_sum

    e = table(spark, sf_dir, "events")
    mid_row = e.agg(
        F.timestamp_micros(
            F.floor(
                (
                    F.unix_micros(F.min("ts")).cast("double")
                    + F.unix_micros(F.max("ts")).cast("double")
                )
                / 2.0
            ).cast("long")
        ).alias("mid")
    )
    halves = (
        e.crossJoin(F.broadcast(mid_row))
        .select(
            "event_type",
            F.when(F.col("ts") < F.col("mid"), 1).otherwise(2).alias("half"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("half") == 1, 1)).alias("n1"),
            F.count(F.when(F.col("half") == 2, 1)).alias("n2"),
        )
    )
    tot = halves.agg(
        F.sum("n1").alias("t1"),
        F.sum("n2").alias("t2"),
        F.sort_array(
            F.collect_list(F.struct("event_type", "n1", "n2"))
        ).alias("terms"),
        F.count("*").cast("long").alias("n_types"),
    )
    def term(t):
        # expected, then (o-e)^2/e — squared via multiply, never
        # pow() (libm-divergent even for integral exponents)
        exp = (
            t.n1.cast("double")
            * F.col("t2").cast("double")
            / F.col("t1").cast("double")
        )
        d = t.n2.cast("double") - exp
        return d * d / exp

    chi = fold_sum(F.transform(F.col("terms"), term), F.lit(0.0))
    return tot.select(
        "n_types",
        F.col("t1").cast("long").alias("n_first"),
        F.col("t2").cast("long").alias("n_second"),
        chi.alias("chi_square"),
    )


def q97_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/relational.py::asof_join_next):
    each click matched to the user's EARLIEST later purchase — the
    time-to-conversion lookup, q38's mirror. Same single-shuffle
    union+window rewrite; the gap is exact integer microseconds."""
    from cardano_spark.operators.relational import asof_join_next

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    clicks = e.filter(F.col("event_type") == "click").drop("event_type")
    buys = e.filter(F.col("event_type") == "purchase").drop("event_type")
    joined = asof_join_next(
        clicks, buys, on=["user_id"], order=["ts", "event_id"],
        carry=["event_id", "ts"],
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("next_event_id").alias("next_purchase_id"),
        F.col("next_ts").alias("next_purchase_ts"),
        (
            F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
        ).alias("gap_us"),
    )


def q98_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts (the Markov matrix
    behind next-action prediction and anomalous-sequence detection):
    per user in event order, count (from_type -> to_type) pairs, plus
    each from-type's total so the transition probability is a single
    IEEE division. One user_id window exchange + one tiny pair agg;
    the window and the q76/q80 family share the same partitioning
    discipline."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = (
        e.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wt = W.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(wt).cast("long").alias("from_total"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(wt).cast("double")
        ).alias("p"),
    )


def q99_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue as a percentage of total for a
    ship-date month — conditional aggregation over the fact-dim join.
    Part broadcasts; both sums stay DECIMAL through the aggregate and
    the percentage is one exact-double division chain, so the scalar
    hash-matches the oracle."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-03-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * dec6(1 - F.col("l_discount"))
    j = l.join(
        broadcast_if_small(p, size_bytes=table_bytes(sf_dir, "part")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    out = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("promo_dec"),
        F.sum(rev).alias("total_dec"),
    )
    return out.select(
        exact_double(F.col("promo_dec")).alias("promo_revenue"),
        exact_double(F.col("total_dec")).alias("total_revenue"),
        (
            F.lit(100.0)
            * exact_double(F.col("promo_dec"))
            / exact_double(F.col("total_dec"))
        ).alias("promo_pct"),
    )


def q127_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostic over the events fact — the
    statistics object every skew decision in this repo reads
    (q89's salting, the AQE skew-join pin, broadcast-vs-shuffle):
    per candidate key (user_id, event_type), one row of n_rows,
    n_keys, top key + share, and exact p50/p99 of the per-key count
    distribution. event_type is the deliberately skew-prone
    low-cardinality key (5 values over 10k rows at sf0.01);
    user_id the healthy high-cardinality one. One hash exchange +
    1-row reduce per key — exactly the shuffle the groupBy under
    measurement would cost."""
    from cardano_spark.operators.relational import key_skew_report

    e = table(spark, sf_dir, "events")
    return key_skew_report(e, ["user_id", "event_type"])


def q101_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval counting: peak number of CONCURRENT
    activity windows (each event opens a 5-minute half-open window)
    per (event_type, day) — the max-concurrent-sessions / capacity
    statistic. Each interval becomes a +1 at start and a -1 at end;
    the running sum over the time-ordered deltas is the live count
    and its max is the peak.

    Scale shape: the running sum needs a TOTAL order only WITHIN the
    (type, day) partition — the sweep partitions by a bounded window
    of time exactly so no global single-partition sort exists
    (intervals never cross the day boundary here; for spanning
    intervals, clip at boundaries and add the carry-in count, the
    standard segmenting trick). Half-open semantics pin the tie
    order: at equal timestamps the -1 sorts first (an interval
    ending at t frees its slot before one starting at t takes it),
    with event_id as the final total-order tiebreak."""
    e = table(spark, sf_dir, "events")
    start = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.unix_micros(F.col("ts")).alias("t"),
        F.lit(1).alias("delta"),
        F.col("event_id"),
    )
    end = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),  # 5-min windows stay in-day here
        (F.unix_micros(F.col("ts")) + F.lit(300_000_000)).alias("t"),
        F.lit(-1).alias("delta"),
        F.col("event_id"),
    )
    deltas = start.unionByName(end)
    w = (
        W.partitionBy("event_type", "day")
        .orderBy(F.asc("t"), F.asc("delta"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    live = deltas.withColumn("live", F.sum("delta").over(w))
    return live.groupBy("event_type", "day").agg(
        F.max("live").cast("long").alias("peak_concurrent"),
        (F.count("*") / 2).cast("long").alias("n_windows"),
    )


def q102_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 part pairs by the
    number of orders containing BOTH (support) — the frequent-
    itemset k=2 pass. Pair generation is blocked BY THE ORDER: the
    per-order distinct part list self-joins within the orderkey, so
    fan-out is C(items_per_order, 2) — bounded by basket size (~7
    here), never corpus-quadratic (the same blocking discipline as
    the dedup family; a part-pair generator without the order block
    would be |parts|^2). Per-order pairs dedupe map-side via
    array_distinct before the C(n,2) expansion."""
    l = table(spark, sf_dir, "lineitem")
    per_order = l.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias(
            "parts"
        )
    )
    a = per_order.select(
        "l_orderkey", F.explode("parts").alias("p1"), "parts"
    )
    pairs = a.select(
        "l_orderkey",
        "p1",
        F.explode(F.filter(F.col("parts"), lambda x: x > F.col("p1"))).alias(
            "p2"
        ),
    )
    support = pairs.groupBy("p1", "p2").agg(
        F.count("*").cast("long").alias("support")
    )
    return topk(support, [F.desc("support"), F.asc("p1"), F.asc("p2")], 20)


def q105_hierarchical_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent reporting down the region -> nation
    hierarchy: each nation's share of its region's customer balance
    and each region's share of the world total — the drill-down
    ratio columns every OLAP report carries. One aggregation pass to
    the leaf grain (|nations| rows), then BOTH parent totals come
    from windows over that tiny aggregate (constant-size partitions
    — never a second scan or a join back to the fact table); decimal
    sums keep every ratio an exact-double division."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    leaf = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(dec("c_acctbal")).alias("bal_dec"))
    )
    wr = W.partitionBy("r_name")
    ww = W.partitionBy()
    bal = exact_double(F.col("bal_dec"))
    region_total = exact_double(F.sum("bal_dec").over(wr))
    world_total = exact_double(F.sum("bal_dec").over(ww))
    return leaf.select(
        "r_name",
        "n_name",
        bal.alias("balance"),
        (bal / region_total).alias("share_of_region"),
        (region_total / world_total).alias("region_share_of_world"),
    )


RELATIONAL_QUERIES: dict[str, QueryFn] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_top_parts_by_revenue": q02_top_parts_by_revenue,
    "q03_region_revenue": q03_region_revenue,
    "q04_stale_orders_anti_join": q04_stale_orders_anti_join,
    "q05_active_customers_semi_join": q05_active_customers_semi_join,
    "q06_filter_pushdown": q06_filter_pushdown,
    "q07_watermark_max": q07_watermark_max,
    "q08_distinct_pairs": q08_distinct_pairs,
    "q09_insert_if_absent": q09_insert_if_absent,
    "q10_array_roundtrip": q10_array_roundtrip,
    "q11_flatten_surrogate_ids": q11_flatten_surrogate_ids,
    "q12_running_customer_total": q12_running_customer_total,
    "q13_rollup_customer_balance": q13_rollup_customer_balance,
    "q14_sessionize": q14_sessionize,
    "q15_hourly_rollup": q15_hourly_rollup,
    "q16_json_extract": q16_json_extract,
    "q17_github_handles": q17_github_handles,
    "q18_unixtime_roundtrip": q18_unixtime_roundtrip,
    "q19_decimal38_quantities": q19_decimal38_quantities,
    "q20_topk_sources": q20_topk_sources,
    "q35_supplier_fulfillment": q35_supplier_fulfillment,
    "q38_asof_prev_view": q38_asof_prev_view,
    "q39_range_join_clicks_before_error": q39_range_join_clicks_before_error,
    "q43_topn_per_group": q43_topn_per_group,
    "q45_pg_array_codec": q45_pg_array_codec,
    "q52_market_share": q52_market_share,
    "q53_large_orders": q53_large_orders,
    "q54_kmv_distinct_sketch": q54_kmv_distinct_sketch,
    "q68_sliding_window_rollup": q68_sliding_window_rollup,
    "q69_conversion_funnel": q69_conversion_funnel,
    "q70_cube_order_stats": q70_cube_order_stats,
    "q74_hll_distinct_sketch": q74_hll_distinct_sketch,
    "q76_scd2_user_state": q76_scd2_user_state,
    "q80_trailing_anomaly": q80_trailing_anomaly,
    "q82_snapshot_diff": q82_snapshot_diff,
    "q83_retention_matrix": q83_retention_matrix,
    "q84_ordered_funnel": q84_ordered_funnel,
    "q87_zorder_layout_keys": q87_zorder_layout_keys,
    "q89_salted_heavy_key_agg": q89_salted_heavy_key_agg,
    "q90_gapfill_forward_fill": q90_gapfill_forward_fill,
    "q91_delta_join_refresh": q91_delta_join_refresh,
    "q92_window_rank_suite": q92_window_rank_suite,
    "q93_fuzzy_match_join": q93_fuzzy_match_join,
    "q94_supplier_diversity": q94_supplier_diversity,
    "q95_equi_depth_histogram": q95_equi_depth_histogram,
    "q96_distribution_drift": q96_distribution_drift,
    "q97_asof_next_purchase": q97_asof_next_purchase,
    "q98_transition_matrix": q98_transition_matrix,
    "q99_promo_revenue_share": q99_promo_revenue_share,
    "q101_peak_concurrency": q101_peak_concurrency,
    "q102_copurchase_pairs": q102_copurchase_pairs,
    "q105_hierarchical_shares": q105_hierarchical_shares,
    "q127_key_skew_report": q127_key_skew_report,
    "q71_pivot_priority_status": q71_pivot_priority_status,
}
