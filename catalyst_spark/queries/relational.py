"""Q1-Q17 — the declared relational query surface (SURVEY §2.6).

Each builder is idiomatic DataFrame API: declarative plans so Catalyst
applies predicate pushdown, column pruning, join selection, and partition
pruning. Scale notes per query explain why the plan survives 100 TB.

Conventions (driver correctness gate):
- every float aggregate is ROUND(x, 2) and aliased identically to the
  oracle SQL in ``oracles.py``;
- queries do NOT end in a display ORDER BY (r14 optimization): both the
  driver and the local harness hash rows order-insensitively (each sorts
  rows as python tuples before comparing), and a terminal global sort is
  a pure-overhead range-shuffle of the full output (opt guide §2.4 —
  "an orderBy used only to make output deterministic"). The only sorts
  kept are semantic: q1 (the declared operator IS filter+project+sort)
  and q11 (ORDER BY + LIMIT = top-k, planned as TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from catalyst_spark.tables import load


def q1_filter_project_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + projection + sort.

    Scale: both predicates and the 3-column projection push down to the
    parquet scan (PushedFilters / ReadSchema); no shuffle except the
    final range-partitioned sort.
    """
    events = load(spark, sf_dir, "events")
    return (
        events.where((F.col("value") > 100) & (F.col("event_type") == "click"))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


def q2_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time bucketing — the canonical TSDB downsample.

    Scale: partial aggregation (map-side combine) before the shuffle on
    (hour, event_type); cardinality of the group key is tiny relative to
    input so the shuffle moves only the combined partials.
    """
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sv"),
        )
    )


def q3_hash_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate hash aggregation; one shuffle on a low-cardinality key."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 2).alias("av"),
            F.round(F.min("value"), 2).alias("mn"),
            F.round(F.max("value"), 2).alias("mx"),
        )
    )


def q4_distinct_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-phase partial-distinct
    aggregate, deduping (event_type, user_id) map-side before the shuffle."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
    )


def q5_latest_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest point per (user, event_type) series — the canonical TSDB read.

    Scale: single shuffle on the series key; row_number needs only a
    per-key sort. At 100 TB a series key is fine-grained enough to spread
    evenly; AQE skew-join/skew-agg splits hot keys if not.
    """
    events = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.select("user_id", "event_type", "ts", "value", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "value")
    )


def q6_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: scan-heavy aggregation.

    Scale: the filter pushes to parquet; 4 aggregates over a 2-value x
    2-value group key mean the shuffle after partial agg is ~6 rows per
    task regardless of input size. This is the per-round bench headline.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sq"),
            F.round(F.sum("l_extendedprice"), 2).alias("sep"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sdp"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q7_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with a broadcast-able dim (nation: 25 rows at every SF).

    Scale: explicit broadcast removes the shuffle on the customer side
    entirely — the join runs map-side inside the scan stage.
    """
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.round(F.sum("c_acctbal"), 2).alias("bal"),
        )
    )


def q8_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region with a pushed filter.

    Scale: orders⋈customer is the only real shuffle (both fact-sized;
    sort-merge with AQE). nation/region broadcast, so the two dim joins
    stay map-side. Filter on o_orderstatus pushes to the orders scan.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders.where(F.col("o_orderstatus") == "F")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("orders_cnt"))
    )


def q9_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS — left-semi join. The filter on orders is applied before the
    join, shrinking the build side; semi-join short-circuits per key."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    big_orders = orders.where(F.col("o_totalprice") > 300000).select("o_custkey")
    return (
        customer.join(big_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


def q10_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS — left-anti join.

    The predicate (no order above 250k) keeps the result non-empty on
    the driver corpus (every customer has *some* order), so the oracle
    hash-checks real values rather than two empty sets.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 250000).select("o_custkey")
    return (
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey")
    )


def q11_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: ORDER BY ... LIMIT 10 becomes TakeOrderedAndProject — each
    task keeps only its local top-10, so no global sort materializes."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.round(F.col("o_totalprice"), 2).alias("p"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q12_set_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — Spark plans a left-semi aggregate over distinct keys."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("k"))
        .intersect(supplier.select(F.col("s_nationkey").alias("k")))
    )


def q13_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions (parity with the reference's name handling T2/T10).

    The LIKE predicate and column pruning both reach the parquet scan.
    ('%blue%' rather than TPC-H's '%green%': the driver's synthetic
    part names use a different color vocabulary, and an empty result
    would make the oracle check vacuous.)
    """
    part = load(spark, sf_dir, "part")
    return (
        part.where(F.col("p_name").like("%blue%"))
        .select(
            "p_partkey",
            F.upper(F.col("p_brand")).alias("b"),
            F.substring(F.col("p_type"), 1, 6).alias("t6"),
            F.length(F.col("p_name")).alias("ln"),
        )
    )


def q14_case_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE cascade mirroring the reference's timestamp-magnitude heuristic
    (ref catalyser/opentsdb.go:127-144: < 2^32-1 => seconds else ms)."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            F.when(F.col("value") >= 4294967295, "ms")
            .when(F.col("value") > 0, "s")
            .otherwise("zero")
            .alias("unit"),
        )
    )


def q15_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + DISTINCT. Catalyst collapses the two branch scans of the
    same file; distinct is a partial-then-final aggregate on user_id."""
    events = load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("user_id")
    views = events.where(F.col("event_type") == "view").select("user_id")
    return clicks.unionAll(views).distinct()


def q16_text_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document stats (north-star text-analysis slice)."""
    documents = load(spark, sf_dir, "documents", spread=False)
    return (
        documents.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def q17_exact_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup summary: total vs distinct text. COUNT(DISTINCT text)
    partial-aggregates the (text) key map-side; at 100 TB you'd dedupe on
    a fixed-width hash instead — see pipeline.dedup_exact."""
    documents = load(spark, sf_dir, "documents", spread=False)
    return documents.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("text").alias("uniq"),
    )


def q18_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer over their order dates — the
    running-total window every billing/balance query needs.

    Scale: one shuffle on the customer key; the ordered cumulative
    frame is computed within each partition after an in-partition sort
    (no global sort). Integer cents (o_totalprice is 2-decimal) keep
    the running sum exact, so the oracle matches bit-for-bit regardless
    of accumulation order.
    """
    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_orderdate", cents.alias("cents")
        )
        .withColumn("run_cents", F.sum("cents").over(w))
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("run_cents") / 100.0, 2).alias("running_total"),
        )
    )


def q19_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts priced above their brand's average retail price — the
    correlated-aggregate-subquery shape, decorrelated into an
    aggregate + broadcast join (exactly what Catalyst does to the
    subquery form, stated explicitly here).

    Scale: the per-brand aggregate is tiny (one row per brand),
    broadcast back against the part table — no shuffle of the big side.
    Correctness: `price > avg` is evaluated as the integer cross-product
    `price_cents * n > sum_cents`, and the reported margin stays in
    exact cents — no ROUND(AVG(...)) anywhere, because averaging
    cent-quantized values produces exact .xx5 ties that Spark
    (HALF_UP on the decimal repr) and DuckDB (binary-double round)
    resolve differently.
    """
    part = load(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    brand = part.select("p_brand", cents.alias("cents")).groupBy("p_brand").agg(
        F.sum("cents").alias("sum_cents"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        part.withColumn("p_cents", cents)
        .join(F.broadcast(brand), "p_brand")
        .where(F.col("p_cents") * F.col("n_parts") > F.col("sum_cents"))
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("p_retailprice"),
            (F.col("p_cents") * F.col("n_parts") - F.col("sum_cents"))
            .alias("margin_x_n_cents"),
        )
    )


def q20_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into spend deciles (ntile over total order
    value) with per-decile totals — the ranking/percentile report shape.

    Scale (r14 rewrite): the original ranked every customer through
    ONE unpartitioned ntile window — a single-task global sort, the
    last true WindowExec funnel in the registry (fine at sf0.1,
    serialized at 10^9 customers). Now a two-phase global rank:
    bucket by the spend high bits (value-bounded,
    ~600 buckets at ANY scale since spend_cents div 2^20 is bounded by
    the price schema), rank WITHIN buckets in parallel, add each
    bucket's broadcast cumulative offset — global rank exact because
    bucket order (desc) refines the (spend desc, custkey) total order.
    The decile is then integer NTILE arithmetic on the global rank:
    with q = n div 10, r = n mod 10, the first r tiles hold q+1 rows —
    tile = (rn + q) div (q + 1) inside the first r*(q+1) ranks, else
    r + ceil((rn - r*(q+1)) / q) — reproducing ntile(10) row-for-row
    on the unique total order (all operands non-negative, so div is
    engine-safe). The only unpartitioned windows left run over the
    bucket-count frame, tiny by construction. Cent arithmetic keeps
    sums exact across engines; the DuckDB oracle still uses NTILE.
    """
    orders = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_cust = orders.select("o_custkey", cents.alias("cents")).groupBy(
        "o_custkey"
    ).agg(F.sum("cents").alias("spend_cents"))
    wb = per_cust.withColumn("bk", F.expr("spend_cents div 1048576"))
    offs = (
        wb.groupBy("bk").agg(F.count(F.lit(1)).alias("bn"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bn").over(
                    W.orderBy(F.desc("bk"))
                    .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn("n_total", F.sum("bn").over(W.partitionBy()))
        .select("bk", "off", "n_total")
    )
    rn0 = F.row_number().over(
        W.partitionBy("bk").orderBy(F.desc("spend_cents"), "o_custkey"))
    ranked = (
        wb.join(F.broadcast(offs), "bk")
        .withColumn("rn", rn0 + F.col("off"))
        .withColumn(
            "decile",
            F.expr(
                "CASE WHEN rn <= (n_total % 10) * (n_total div 10 + 1) "
                "THEN (rn + n_total div 10) div (n_total div 10 + 1) "
                "ELSE (n_total % 10) + "
                "((rn - (n_total % 10) * (n_total div 10 + 1) "
                "+ n_total div 10 - 1) div (n_total div 10)) END"
            ).cast("long"),
        )
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("spend_cents") / 100.0, 2).alias("decile_spend"),
        )
    )


_SALT_FACTOR = 8


def q21_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim join: salt the hot key instead of
    broadcasting (the move when the dim side is too big to broadcast
    and a handful of fact keys dominate — AQE skew splitting handles
    sort-merge spills, but salting also spreads the *hash* join's
    build-probe hotspots).

    Plan: fact rows get a deterministic salt (h60(event_id) % S — not
    rand(), so the query stays reproducible and oracle-checkable); the
    dim side is exploded S ways so every (key, salt) pair finds its
    match. The join shuffles on (user_id, salt) — a hot user_id now
    lands on S reducers instead of one. Salting is invisible to
    semantics: the oracle is the plain unsalted join.
    Exact cent arithmetic end-to-end.
    """
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer")
    fact = events.withColumn(
        "_salt",
        F.expr(
            "pmod(cast(conv(substring(md5(cast(event_id as string)), 1, 15),"
            f" 16, 10) as bigint), {_SALT_FACTOR})"
        ),
    )
    dim = customer.select(
        "c_custkey", "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT_FACTOR - 1))).alias("_salt"),
    ).hint("shuffle_hash")  # keep the demo a shuffle join even at toy SF
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        fact.withColumn("cents", cents)
        .join(
            dim,
            (fact["user_id"] == dim["c_custkey"])
            & (fact["_salt"] == dim["_salt"]),
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("cents") / 100.0, 2).alias("total_value"),
        )
    )


RELATIONAL_QUERIES = {
    "q1_filter_project_sort": q1_filter_project_sort,
    "q2_time_bucket": q2_time_bucket,
    "q3_hash_aggregate": q3_hash_aggregate,
    "q4_distinct_aggregate": q4_distinct_aggregate,
    "q5_latest_per_series": q5_latest_per_series,
    "q6_tpch_q1": q6_tpch_q1,
    "q7_broadcast_join": q7_broadcast_join,
    "q8_multi_join": q8_multi_join,
    "q9_semi_join": q9_semi_join,
    "q10_anti_join": q10_anti_join,
    "q11_top_k": q11_top_k,
    "q12_set_op": q12_set_op,
    "q13_string_functions": q13_string_functions,
    "q14_case_cascade": q14_case_cascade,
    "q15_union_dedup": q15_union_dedup,
    "q16_text_group": q16_text_group,
    "q17_exact_dedup_counts": q17_exact_dedup_counts,
    "q18_running_total": q18_running_total,
    "q19_above_brand_avg": q19_above_brand_avg,
    "q20_customer_deciles": q20_customer_deciles,
    "q21_salted_skew_join": q21_salted_skew_join,
}
