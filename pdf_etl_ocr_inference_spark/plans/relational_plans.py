"""Relational query catalog (SURVEY.md §2.1-2.8, 2.11-2.12).

Every spec has a DuckDB oracle.  Determinism rules: tie-free ORDER BY
before any LIMIT; ``round`` after float aggregation on BOTH sides.
All plans are plain DataFrame API → Catalyst owns pushdown, pruning,
join strategy; nothing here hand-schedules what the optimizer does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_etl_ocr_inference_spark.operators.joins import key_join, positional_join
from pdf_etl_ocr_inference_spark.plans.registry import register
from pdf_etl_ocr_inference_spark.sources.catalog import load_table as _t

# ------------------------------------------------------------------
# Scans / projections / filters  (OP-02, 11-16)
# ------------------------------------------------------------------


@register(
    "op02_table_scan",
    "SELECT r_regionkey, r_name FROM region",
    doc="Full table scan (ref 01:188, 02:265). Parquet scan + pruning.",
)
def op02_table_scan(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "region").select("r_regionkey", "r_name")


@register(
    "op11_project",
    "SELECT c_custkey, c_name, c_acctbal FROM customer",
    doc="Column projection (ref 01:174). ReadSchema must show 3 cols.",
)
def op11_project(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")


@register(
    "op12_filter_not_null",
    "SELECT o_orderkey FROM orders WHERE o_orderpriority IS NOT NULL",
    doc="IS NOT NULL predicate (ref 01:176), pushed to the scan.",
)
def op12_filter_not_null(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority").isNotNull())
        .select("o_orderkey")
    )


@register(
    "op13_filter_prefix",
    "SELECT c_custkey, c_mktsegment FROM customer "
    "WHERE SUBSTRING(c_mktsegment, 1, 4) = 'BUIL'",
    doc="SQL-string substring-prefix predicate (ref 01:177).",
)
def op13_filter_prefix(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "customer")
        .filter("SUBSTRING(c_mktsegment, 1, 4) = 'BUIL'")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "op14_computed_column",
    "SELECT l_orderkey, l_linenumber, "
    "l_extendedprice * (1 - l_discount) AS revenue FROM lineitem",
    doc="withColumn computed expression (ref 01:178-179), native arith. "
    "No rounding: identical IEEE ops give bit-identical doubles in "
    "both engines, while Spark's round() (decimal-repr HALF_UP) and "
    "DuckDB's (binary) disagree on exact halves.",
)
def op14_computed_column(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "lineitem")
        .withColumn(
            "revenue",
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
        )
        .select("l_orderkey", "l_linenumber", "revenue")
    )


@register(
    "op15_drop_column",
    "SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part",
    doc="drop() helper column (ref 02:282) → projection in the plan.",
)
def op15_drop_column(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "part").drop("p_retailprice")


@register(
    "op16_length_filter",
    "SELECT doc_id, n_chars FROM documents WHERE LENGTH(text) > 300",
    doc="length predicate lifted out of UDF body (ref 02:230).",
)
def op16_length_filter(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "documents")
        .filter(F.length("text") > 300)
        .select("doc_id", "n_chars")
    )


# ------------------------------------------------------------------
# Joins  (OP-17, 18, 19)
# ------------------------------------------------------------------


@register(
    "op17_positional_join",
    "SELECT o_orderkey, o_totalprice FROM orders",
    doc=(
        "Positional (aligned-order) join, ref 02:277-282, rebuilt as "
        "row_number-on-both-sides + equi-join with a tie-free order. "
        "Splitting orders into two column sets and realigning them "
        "positionally must reconstruct the original pairs."
    ),
)
def op17_positional_join(spark: SparkSession, sf: str) -> DataFrame:
    orders = _t(spark, sf, "orders")
    left = orders.select("o_orderkey")
    right = orders.select(
        F.col("o_orderkey").alias("r_key"), F.col("o_totalprice")
    )
    out = positional_join(
        left,
        right,
        left_order=[F.col("o_orderkey")],
        right_order=[F.col("r_key")],
    )
    return out.select("o_orderkey", "o_totalprice")


@register(
    "op18_equijoin",
    "SELECT n_name, COUNT(*) AS num_customers, "
    "ROUND(SUM(c_acctbal), 2) AS total_bal "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name",
    doc="Equi-join, dimension side broadcast (OP-18). No fact shuffle "
    "for the join at scale; agg shuffles on n_name only.",
)
def op18_equijoin(spark: SparkSession, sf: str) -> DataFrame:
    customer = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    return (
        key_join(
            customer,
            nation,
            on=customer["c_nationkey"] == nation["n_nationkey"],
            broadcast_right=True,
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("num_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "op19_anti_join",
    "SELECT c_custkey FROM customer "
    "WHERE c_custkey NOT IN "
    "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')",
    doc="left-anti join — the dedup primitive (OP-19). Filtered to "
    "URGENT orders so the result is non-empty on the synthetic data "
    "(every customer has at least one order).",
)
def op19_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    customer = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return key_join(
        customer,
        orders.select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey",
        how="left_anti",
    ).select("c_custkey")


@register(
    "op19b_semi_join",
    "SELECT c_custkey FROM customer "
    "WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')",
    doc="left-semi join (OP-19).",
)
def op19b_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    customer = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "O")
    return key_join(
        customer,
        orders.select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey",
        how="left_semi",
    ).select("c_custkey")


# ------------------------------------------------------------------
# Aggregations  (OP-29, 30a-c)
# ------------------------------------------------------------------


@register(
    "op29_count",
    "SELECT COUNT(*) AS cnt FROM lineitem",
    doc="count(*) (ref 01:65, 02:302, 03:132); partial+final agg.",
)
def op29_count(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "lineitem").agg(F.count("*").alias("cnt"))


@register(
    "op30a_groupby_agg",
    "SELECT c_mktsegment, COUNT(*) AS n, "
    "ROUND(AVG(c_acctbal), 4) AS avg_bal, "
    "ROUND(MIN(c_acctbal), 2) AS min_bal, "
    "ROUND(MAX(c_acctbal), 2) AS max_bal "
    "FROM customer GROUP BY c_mktsegment",
    doc="hash aggregation surface (OP-30a).",
)
def op30a_groupby_agg(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@register(
    "op30b_distinct",
    "SELECT COUNT(DISTINCT o_custkey) AS distinct_customers, "
    "COUNT(DISTINCT o_orderstatus) AS distinct_statuses FROM orders",
    doc="distinct aggregation (OP-30b); expand+two-phase agg in Spark.",
)
def op30b_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "orders").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.countDistinct("o_orderstatus").alias("distinct_statuses"),
    )


@register(
    "op30c_rollup",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    doc="rollup grouping sets (OP-30c).",
)
def op30c_rollup(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# ------------------------------------------------------------------
# Explode / array ops  (OP-30)
# ------------------------------------------------------------------


@register(
    "op30_explode",
    "SELECT word, COUNT(*) AS n FROM ("
    "  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents"
    ") WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20",
    doc="explode array→rows (ref 02:292) as word-frequency top-20.",
)
def op30_explode(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


# ------------------------------------------------------------------
# Sort / limit / top-k  (OP-31, 32, 33)
# ------------------------------------------------------------------


@register(
    "op31_global_sort",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    doc="global sort desc (ref 02:129 LPT ordering) — "
    "TakeOrderedAndProject, no full materialized sort.",
)
def op31_global_sort(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


@register(
    "op32_limit",
    "SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 10",
    doc="limit (ref 01:175); ordered first for determinism — the "
    "reference's limit-then-filter nondeterminism is documented, "
    "not reproduced (SURVEY OP-32 note).",
)
def op32_limit(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "customer").select("c_custkey").orderBy("c_custkey").limit(10)


@register(
    "op33_topk",
    "SELECT p_partkey, p_name, p_retailprice FROM part "
    "ORDER BY p_retailprice DESC, p_partkey LIMIT 10",
    doc="top-k (ref ocr:167-170 num_results=5 pattern).",
)
def op33_topk(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "part")
        .orderBy(F.desc("p_retailprice"), "p_partkey")
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(10)
    )


# ------------------------------------------------------------------
# Windows  (OP-34, 35)
# ------------------------------------------------------------------


@register(
    "op34_window_rank",
    "SELECT o_custkey, o_orderkey, rn FROM ("
    "  SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER ("
    "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey"
    "  ) AS rn FROM orders) WHERE rn <= 3",
    doc="partitioned row_number (ref 02:281 generalized).",
)
def op34_window_rank(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@register(
    "op34b_window_lag_moving",
    "SELECT user_id, event_id, "
    "value - LAG(value, 1, 0.0) OVER w AS delta, "
    "ROUND(SUM(value) OVER ("
    "  PARTITION BY user_id ORDER BY ts, event_id "
    "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_sum "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)",
    doc="lag + rows-between moving aggregate (window extension surface). "
    "delta is unrounded (identical per-row IEEE ops); moving_sum is "
    "rounded (frame accumulation order may differ across engines).",
)
def op34b_window_lag_moving(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wm = w.rowsBetween(-2, Window.currentRow)
    return _t(spark, sf, "events").select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value", 1, 0.0).over(w)).alias("delta"),
        F.round(F.sum("value").over(wm), 4).alias("moving_sum"),
    )


@register(
    "op35_monotonic_id",
    "SELECT COUNT(*) AS n_unique FROM customer",
    doc="monotonically_increasing_id uniqueness (ref 02:281): distinct "
    "id count must equal row count; ids themselves are partition-"
    "encoded and not comparable across engines.",
)
def op35_monotonic_id(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "customer")
        .withColumn("mid", F.monotonically_increasing_id())
        .agg(F.countDistinct("mid").alias("n_unique"))
    )


# ------------------------------------------------------------------
# String / date scalar functions  (OP-36..41, lifted native)
# ------------------------------------------------------------------


@register(
    "op36_substring",
    "SELECT c_custkey, SUBSTRING(c_name, 1, 8) AS name_prefix FROM customer",
    doc="substring (ref 01:135,177) native.",
)
def op36_substring(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "customer").select(
        "c_custkey", F.substring("c_name", 1, 8).alias("name_prefix")
    )


@register(
    "op37_replace",
    "SELECT p_partkey, REPLACE(p_name, ' ', '_') AS p_name_u FROM part",
    doc="string replace (ref 01:136 title.replace) native.",
)
def op37_replace(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "part").select(
        "p_partkey", F.regexp_replace("p_name", " ", "_").alias("p_name_u")
    )


@register(
    "op38_concat_format",
    "SELECT n_nationkey, "
    "CONCAT(n_name, '_', CAST(n_regionkey AS VARCHAR), '.pdf') AS tag "
    "FROM nation",
    doc="format/concat (ref 01:136 %-format, ocr:93 f-string) native.",
)
def op38_concat_format(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "nation").select(
        "n_nationkey",
        F.format_string(
            "%s_%d.pdf", F.col("n_name"), F.col("n_regionkey")
        ).alias("tag"),
    )


@register(
    "op39_length",
    "SELECT doc_id, LENGTH(text) AS text_len FROM documents",
    doc="string length (ref 02:230) native.",
)
def op39_length(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "documents").select(
        "doc_id", F.length("text").alias("text_len")
    )


@register(
    "op40_regex_scrub",
    "SELECT doc_id, "
    "LENGTH(REGEXP_REPLACE(text, '\\s+', ' ', 'g')) AS scrubbed_len "
    "FROM documents",
    doc="whitespace scrub (ref 01:49-55) as regexp_replace; compare "
    "lengths to keep the output compact.",
)
def op40_regex_scrub(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.length(F.regexp_replace("text", r"\s+", " ")).alias("scrubbed_len"),
    )


@register(
    "op41_date_format",
    "SELECT STRFTIME(o_orderdate, '%Y-%m') AS order_month, "
    "COUNT(*) AS n FROM orders GROUP BY 1",
    doc="date handling (ref 01:135 date[:10]) via to_date/date_format.",
)
def op41_date_format(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(F.count("*").alias("n"))
    )


# ------------------------------------------------------------------
# Set ops / JSON  (OP-47, 48)
# ------------------------------------------------------------------


@register(
    "op47_union",
    "SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING' "
    "UNION ALL "
    "SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'",
    doc="unionByName (driver-side list concat at ocr:92-96, distributed).",
)
def op47_union(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return c.filter(F.col("c_mktsegment") == "BUILDING").unionByName(
        c.filter(F.col("c_mktsegment") == "MACHINERY")
    )


@register(
    "op48_json_extract",
    "SELECT event_id, CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k "
    "FROM events",
    doc="in-row JSON extraction (events.props fixture; SURVEY §2.11 note).",
)
def op48_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


# ------------------------------------------------------------------
# Headline TPC-H-style pipelines
# ------------------------------------------------------------------


@register(
    "tpch_q1",
    "SELECT l_returnflag, l_linestatus, "
    "ROUND(SUM(l_quantity), 2) AS sum_qty, "
    "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
    "ROUND(AVG(l_quantity), 4) AS avg_qty, "
    "ROUND(AVG(l_extendedprice), 4) AS avg_price, "
    "ROUND(AVG(l_discount), 4) AS avg_disc, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
    doc="TPC-H Q1 pricing summary — scan-heavy agg benchmark.",
    tags=("bench",),
)
def tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "tpch_q3",
    "SELECT o_orderkey, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
    "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' "
    "GROUP BY o_orderkey, o_orderdate "
    "ORDER BY revenue DESC, o_orderkey LIMIT 10",
    doc="TPC-H Q3 shipping priority — 3-way join + agg + top-k.",
    tags=("bench",),
)
def tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5",
    "SELECT n_name, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' "
    "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY n_name",
    doc="TPC-H Q5 local-supplier revenue — multiway join with two "
    "broadcast dims; the big sides shuffle once on join keys.",
    tags=("bench",),
)
def tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    dim = F.broadcast(
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            supp.join(dim, supp["s_nationkey"] == dim["n_nationkey"]),
            li["l_suppkey"] == supp["s_suppkey"],
        )
        .join(
            cust,
            (orders["o_custkey"] == cust["c_custkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "op80_null_handling",
    "WITH withnulls AS (SELECT c_custkey, "
    "CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal, "
    "CASE WHEN c_mktsegment = 'MACHINERY' THEN NULL "
    "ELSE c_mktsegment END AS seg FROM customer) "
    "SELECT COALESCE(seg, 'UNKNOWN') AS seg, "
    "COUNT(*) AS n, "
    "CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_null_bal, "
    "ROUND(AVG(COALESCE(bal, 0.0)), 4) AS avg_filled, "
    "CAST(SUM(CASE WHEN bal IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_dropna "
    "FROM withnulls GROUP BY 1",
    doc="missing-data surface: nullify deterministically (the TPC-H "
    "fixture has no NULLs), then fillna (COALESCE default), dropna "
    "(IS NOT NULL count), and null-count profiling per group — the "
    "df.na.fill / na.drop API family, all codegen'd expressions.",
)
def op80_null_handling(spark: SparkSession, sf: str) -> DataFrame:
    cust = _t(spark, sf, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.when(F.col("c_mktsegment") == "MACHINERY", None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    filled = cust.na.fill({"seg": "UNKNOWN"})
    return filled.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("bal").isNull().cast("long")).alias("n_null_bal"),
        F.round(F.avg(F.coalesce("bal", F.lit(0.0))), 4).alias(
            "avg_filled"
        ),
        F.sum(F.col("bal").isNotNull().cast("long")).alias("n_dropna"),
    )


@register(
    "op81_unpivot",
    "SELECT n_nationkey, 'customers' AS metric, CAST(c AS DOUBLE) AS v "
    "FROM (SELECT n_nationkey, COUNT(DISTINCT c_custkey) AS c, "
    "ROUND(SUM(c_acctbal), 2) AS b FROM nation "
    "JOIN customer ON c_nationkey = n_nationkey GROUP BY n_nationkey) "
    "UNION ALL "
    "SELECT n_nationkey, 'balance', b "
    "FROM (SELECT n_nationkey, COUNT(DISTINCT c_custkey) AS c, "
    "ROUND(SUM(c_acctbal), 2) AS b FROM nation "
    "JOIN customer ON c_nationkey = n_nationkey GROUP BY n_nationkey)",
    doc="unpivot/melt (the inverse of op59's pivot): wide per-nation "
    "metrics to long (key, metric, value) rows via DataFrame.unpivot "
    "— narrow row-local expansion, no shuffle beyond the input agg.",
)
def op81_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    wide = (
        _t(spark, sf, "nation")
        .join(
            _t(spark, sf, "customer"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_nationkey")
        .agg(
            F.countDistinct("c_custkey").cast("double").alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("balance"),
        )
    )
    return wide.unpivot(
        ["n_nationkey"], ["customers", "balance"], "metric", "v"
    )


@register(
    "op82_fuzzy_join",
    "WITH dirty AS (SELECT p_partkey AS d_id, "
    "SUBSTR(p_name, 1, p_partkey % LENGTH(p_name)) || "
    "SUBSTR(p_name, p_partkey % LENGTH(p_name) + 2) AS d_name "
    "FROM part WHERE p_partkey < 500), "
    "dt AS (SELECT d_id, d_name, UNNEST(STRING_SPLIT(d_name, ' ')) "
    "AS tok FROM dirty), "
    "ct AS (SELECT p_partkey, p_name, UNNEST(STRING_SPLIT(p_name, ' ')) "
    "AS tok FROM part), "
    "cand AS (SELECT DISTINCT d.d_id, d.d_name, c.p_partkey, c.p_name "
    "FROM dt d JOIN ct c USING (tok)), "
    "ver AS (SELECT d_id, p_partkey, p_name, "
    "LEVENSHTEIN(d_name, p_name) AS lev FROM cand "
    "WHERE LEVENSHTEIN(d_name, p_name) <= 2), "
    "agg AS (SELECT d_id, MIN(lev) AS best_lev, COUNT(*) AS n_matches "
    "FROM ver GROUP BY d_id) "
    "SELECT a.d_id, a.best_lev, a.n_matches, MIN(v.p_name) AS best_name "
    "FROM agg a JOIN ver v ON v.d_id = a.d_id AND v.lev = a.best_lev "
    "GROUP BY a.d_id, a.best_lev, a.n_matches",
    doc="approximate string join (entity resolution): a deterministic "
    "one-char-dropped 'dirty' side re-links to the clean catalog via "
    "token BLOCKING (explode tokens, equi-join — candidates are "
    "pairs sharing a token, never the n² cross product) + "
    "levenshtein <= 2 verification on candidates only, then per-"
    "dirty-row best-match aggregation. The standard scalable ER "
    "shape: blocking bounds the shuffle, the expensive distance "
    "runs on candidates.",
)
def op82_fuzzy_join(spark: SparkSession, sf: str) -> DataFrame:
    part = _t(spark, sf, "part")
    dirty = part.filter(F.col("p_partkey") < 500).select(
        F.col("p_partkey").alias("d_id"),
        F.expr(
            "concat(substring(p_name, 1, cast(p_partkey % length(p_name) "
            "as int)), substring(p_name, cast(p_partkey % length(p_name) "
            "as int) + 2, length(p_name)))"
        ).alias("d_name"),
    )
    dt = dirty.select(
        "d_id", "d_name", F.explode(F.split("d_name", " ")).alias("tok")
    )
    ct = part.select(
        "p_partkey", "p_name", F.explode(F.split("p_name", " ")).alias("tok")
    )
    cand = (
        dt.join(ct, "tok")
        .select("d_id", "d_name", "p_partkey", "p_name")
        .distinct()
    )
    ver = cand.select(
        "d_id",
        "p_partkey",
        "p_name",
        F.levenshtein("d_name", "p_name").alias("lev"),
    ).filter(F.col("lev") <= 2)
    agg = ver.groupBy("d_id").agg(
        F.min("lev").alias("best_lev"), F.count(F.lit(1)).alias("n_matches")
    )
    return (
        agg.join(ver, "d_id")
        .filter(F.col("lev") == F.col("best_lev"))
        .groupBy("d_id", "best_lev", "n_matches")
        .agg(F.min("p_name").alias("best_name"))
    )


@register(
    "op91_pipe_syntax",
    "SELECT o_orderpriority, COUNT(*) AS n, "
    "ROUND(SUM(o_totalprice), 2) AS total, "
    "ROUND(AVG(o_totalprice), 4) AS avg_price "
    "FROM orders WHERE o_orderstatus = 'O' "
    "GROUP BY o_orderpriority",
    doc="SQL pipe syntax (Spark 4 |> operators): the linear "
    "FROM |> WHERE |> AGGREGATE form of a classic filtered group-by "
    "— same Catalyst plan, analytics-notebook-friendly reading "
    "order. The oracle is the classic-SQL spelling, proving the "
    "two dialects are semantically identical.",
)
def op91_pipe_syntax(spark: SparkSession, sf: str) -> DataFrame:
    safe = sf.strip("/").replace("/", "_").replace(".", "_")
    view = f"orders_pipe_{safe}"
    _t(spark, sf, "orders").createOrReplaceTempView(view)
    return spark.sql(f"""
      FROM {view}
      |> WHERE o_orderstatus = 'O'
      |> AGGREGATE COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total,
           ROUND(AVG(o_totalprice), 4) AS avg_price
         GROUP BY o_orderpriority
    """)


@register(
    "op93_collation",
    # mixed-case segment values planted identically on both engines;
    # the oracle lower-cases explicitly where Spark groups under a
    # case-insensitive collation
    "SELECT LOWER(seg) AS seg, COUNT(*) AS n FROM ("
    "SELECT CASE WHEN c_custkey % 3 = 0 THEN LOWER(c_mktsegment) "
    "WHEN c_custkey % 3 = 1 THEN c_mktsegment "
    "ELSE CONCAT(SUBSTR(c_mktsegment, 1, 1), "
    "LOWER(SUBSTR(c_mktsegment, 2))) END AS seg FROM customer) "
    "GROUP BY LOWER(seg)",
    doc="collation-aware grouping (Spark 4 COLLATE UTF8_LCASE): "
    "mixed-case segment spellings (planted deterministically) group "
    "as ONE key under the case-insensitive collation — declared "
    "comparison semantics instead of LOWER() scattered through "
    "every predicate. The oracle lower-cases explicitly; grouped "
    "keys normalize to lowercase for cross-engine comparison.",
)
def op93_collation(spark: SparkSession, sf: str) -> DataFrame:
    cust = _t(spark, sf, "customer").selectExpr(
        "CASE WHEN c_custkey % 3 = 0 THEN LOWER(c_mktsegment) "
        "WHEN c_custkey % 3 = 1 THEN c_mktsegment "
        "ELSE CONCAT(SUBSTR(c_mktsegment, 1, 1), "
        "LOWER(SUBSTR(c_mktsegment, 2))) END "
        "COLLATE UTF8_LCASE AS seg"
    )
    return cust.groupBy("seg").agg(F.count(F.lit(1)).alias("n")).select(
        F.lower("seg").alias("seg"), "n"
    )


@register(
    "op94_lateral_subquery",
    "SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM "
    "(SELECT * FROM customer WHERE c_custkey < 50) c, "
    "LATERAL (SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_custkey = c.c_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t",
    doc="correlated LATERAL subquery: top-2 orders PER customer as a "
    "per-row dependent subquery — the SQL spelling of the grouped "
    "top-k window (op34's shape); Catalyst decorrelates it into a "
    "ranked join rather than executing per-row. Tie-free inner "
    "ORDER BY keeps the LIMIT deterministic on both engines.",
)
def op94_lateral_subquery(spark: SparkSession, sf: str) -> DataFrame:
    safe = sf.strip("/").replace("/", "_").replace(".", "_")
    cv, ov = f"cust_lat_{safe}", f"ord_lat_{safe}"
    _t(spark, sf, "customer").createOrReplaceTempView(cv)
    _t(spark, sf, "orders").createOrReplaceTempView(ov)
    return spark.sql(f"""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM
      (SELECT * FROM {cv} WHERE c_custkey < 50) c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM {ov}
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """)


@register(
    "op95_dynamic_sql",
    "SELECT n_name, COUNT(*) AS n, ROUND(SUM(s_acctbal), 2) AS bal "
    "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
    "WHERE s_acctbal > 0 GROUP BY n_name",
    doc="parameterized dynamic SQL (Spark 4 EXECUTE IMMEDIATE + "
    "IDENTIFIER + named parameters + GROUP BY ALL): the table name "
    "binds through IDENTIFIER() and the threshold through a named "
    "parameter — injection-safe templating instead of f-string SQL "
    "assembly, the surface metadata-driven pipelines (one query, N "
    "tables) actually need. Oracle is the fully-bound classic "
    "spelling.",
)
def op95_dynamic_sql(spark: SparkSession, sf: str) -> DataFrame:
    safe = sf.strip("/").replace("/", "_").replace(".", "_")
    sv, nv = f"supp_dyn_{safe}", f"nat_dyn_{safe}"
    _t(spark, sf, "supplier").createOrReplaceTempView(sv)
    _t(spark, sf, "nation").createOrReplaceTempView(nv)
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT n_name, COUNT(*) AS n, ROUND(SUM(s_acctbal), 2) AS bal "
        "FROM IDENTIFIER(:s) JOIN IDENTIFIER(:n) "
        "ON s_nationkey = n_nationkey "
        "WHERE s_acctbal > :lo GROUP BY ALL' "
        f"USING '{sv}' AS s, '{nv}' AS n, 0 AS lo"
    )


@register(
    "op94b_lateral_df",
    "SELECT u.u_id, t.top_event, t.v FROM "
    "(SELECT DISTINCT user_id AS u_id FROM events) u, "
    "LATERAL (SELECT event_id AS top_event, ROUND(value, 2) AS v "
    "FROM events e WHERE e.user_id = u.u_id "
    "AND e.event_type = 'purchase' "
    "ORDER BY value DESC, event_id LIMIT 2) t",
    doc="DataFrame-API correlated lateral join (Spark 4's "
    "df.lateralJoin): top-2 purchases PER user where the right side "
    "is an ordinary DataFrame referencing the left row via "
    "col(...).outer() — op94's SQL LATERAL without leaving the "
    "DataFrame API; Catalyst decorrelates to a ranked join, never "
    "per-row execution. Gotcha encoded here: outer() resolves "
    "LAZILY and prefers inner-resolvable names, so the correlated "
    "column must be aliased to a name the subquery cannot resolve "
    "(u_id) — with a same-named column the correlation silently "
    "binds inward (plan-asserted in the entry: the analyzed plan "
    "must carry an outer reference).",
)
def op94b_lateral_df(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    users = ev.select(F.col("user_id").alias("u_id")).distinct()
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), "event_id", "value"
    )
    right = (
        p.filter(F.col("p_user") == F.col("u_id").outer())
        .orderBy(F.desc("value"), "event_id")
        .limit(2)
        .select(
            F.col("event_id").alias("top_event"),
            F.round("value", 2).alias("v"),
        )
    )
    out = users.lateralJoin(right, how="inner")
    assert "outer(" in out._jdf.queryExecution().analyzed().toString(), (
        "correlation bound inward — subquery saw no outer reference"
    )
    return out


@register(
    "op95b_sql_udf",
    "SELECT CASE WHEN value < 50 THEN 'low' "
    "WHEN value < 150 THEN 'mid' ELSE 'high' END AS bucket, "
    "COUNT(*) AS n, ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0, 2) AS total "
    "FROM events GROUP BY 1",
    doc="declarative SQL UDF (Spark 4's CREATE FUNCTION ... RETURN "
    "expr): the bucketing rule is defined ONCE as a catalog function "
    "and used inside an aggregation — unlike a Python UDF the body "
    "is inlined into the plan at analysis time (whole-stage codegen, "
    "no serialization boundary; the oracle replays the inlined "
    "expression). The governance point at scale: shared business "
    "logic lives in the catalog, not copy-pasted into every query.",
)
def op95b_sql_udf(spark: SparkSession, sf: str) -> DataFrame:
    safe = sf.strip("/").replace("/", "_").replace(".", "_")
    fn = f"evt_bucket_{safe}"
    ev_view = f"events_sqludf_{safe}"
    _t(spark, sf, "events").createOrReplaceTempView(ev_view)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fn}(v DOUBLE) "
        "RETURNS STRING RETURN "
        "CASE WHEN v < 50 THEN 'low' WHEN v < 150 THEN 'mid' "
        "ELSE 'high' END"
    )
    return spark.sql(
        f"SELECT {fn}(value) AS bucket, COUNT(*) AS n, "
        # 100.0D: Spark SQL's bare 100.0 literal is DECIMAL, which
        # would make the division (and ROUND) decimal → pandas object
        f"ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0D, 2) "
        f"AS total FROM {ev_view} GROUP BY 1"
    )


@register(
    "op30f_listagg",
    "SELECT lang, STRING_AGG(DISTINCT source, ',' ORDER BY source) "
    "AS sources, COUNT(*) AS n FROM documents GROUP BY lang",
    doc="ordered LISTAGG (Spark 4): per-language roster of DISTINCT "
    "sources as one delimited string, made deterministic by WITHIN "
    "GROUP (ORDER BY) — the ordered-concat aggregation op61's "
    "collect_list needs array_sort to match; here ordering is part "
    "of the aggregate's contract on both engines.",
)
def op30f_listagg(spark: SparkSession, sf: str) -> DataFrame:
    safe = sf.strip("/").replace("/", "_").replace(".", "_")
    v = f"docs_la_{safe}"
    _t(spark, sf, "documents").createOrReplaceTempView(v)
    return spark.sql(
        "SELECT lang, LISTAGG(DISTINCT source, ',') "
        "WITHIN GROUP (ORDER BY source) AS sources, COUNT(*) AS n "
        f"FROM {v} GROUP BY lang"
    )


@register(
    "op80b_try_arithmetic",
    "SELECT user_id, "
    "CAST(SUM(CAST(ROUND(CASE WHEN CAST(event_id % 3 AS BIGINT) = 0 "
    "THEN NULL ELSE value / (event_id % 3) END * 10000, 0) AS BIGINT)) "
    "AS BIGINT) AS safe_ratio_sum_e4, "
    "COUNT(CASE WHEN event_id % 3 = 0 THEN 1 END) AS n_div0 "
    "FROM events GROUP BY user_id",
    doc="error-safe arithmetic under ANSI SQL (try_divide): division "
    "by zero yields NULL instead of failing the 100 TB job at task "
    "4,000,000 — the try_* family is how a pipeline encodes 'skip "
    "bad rows' declaratively rather than with a Python guard UDF. "
    "The NULL-vs-error contract is value-checked: the oracle "
    "replays the same semantics with an explicit CASE.",
)
def op80b_try_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    # per-term quantize-to-int then exact BIGINT sum: a float SUM's
    # reduction order differs between engines at the rounding
    # boundary; integer sums cannot (same fix as the gate's other
    # float-fragile aggregates)
    term = F.round(
        F.try_divide("value", F.col("event_id") % 3) * 10000, 0
    ).cast("long")
    return ev.groupBy("user_id").agg(
        F.sum(term).alias("safe_ratio_sum_e4"),
        F.count(
            F.when(F.col("event_id") % 3 == 0, F.lit(1))
        ).alias("n_div0"),
    )


@register(
    "op48c_xml_roundtrip",
    "SELECT event_id, event_type, ROUND(value, 2) AS v "
    "FROM events WHERE event_id < 500",
    doc="native XML surface (Spark 4 to_xml/from_xml): each event "
    "serializes to an XML fragment and parses back through an "
    "explicit schema — the third semi-structured codec next to JSON "
    "(op48/op48b) and VARIANT (op86), for the enterprise feeds that "
    "still arrive as XML. Oracle = identity projection: a full "
    "serialize→parse round trip must be lossless, including the "
    "double surviving text formatting (rounded to 2dp first so the "
    "decimal text is exact both ways). All JVM-side, no UDF.",
)
def op48c_xml_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 500)
    xml = ev.select(
        F.to_xml(
            F.struct(
                "event_id", "event_type", F.round("value", 2).alias("v")
            )
        ).alias("xml")
    )
    return xml.select(
        F.from_xml(
            "xml", "event_id BIGINT, event_type STRING, v DOUBLE"
        ).alias("p")
    ).select("p.event_id", "p.event_type", "p.v")


@register(
    "op34e_ntile_cume",
    "SELECT event_id, event_type, "
    "NTILE(4) OVER w AS quartile, "
    "ROUND(CUME_DIST() OVER w, 6) AS cd "
    "FROM events WINDOW w AS (PARTITION BY event_type "
    "ORDER BY value, event_id)",
    doc="distribution window functions: per-type NTILE(4) quartile "
    "assignment and CUME_DIST, tie-broken by id so bucket boundaries "
    "are deterministic on both engines. Completes the op34 window "
    "family (ranks, lag/moving, scalable global ranks) with the "
    "bucketing shapes feature pipelines use for quantile features; "
    "one entity-partitioned window shuffle.",
)
def op34e_ntile_cume(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return _t(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "op41b_calendar_arithmetic",
    "SELECT event_id, "
    "CAST(ts + INTERVAL 45 DAY AS TIMESTAMP) AS due_ts, "
    "CAST(LAST_DAY(CAST(ts AS DATE)) AS DATE) AS month_end, "
    "CAST(DATE_TRUNC('week', CAST(ts AS DATE)) AS DATE) AS week_start, "
    "CAST(EXTRACT(DOW FROM CAST(ts AS DATE)) AS INT) AS dow "
    "FROM events WHERE event_id < 1000",
    doc="calendar interval arithmetic beyond op41's parse/format: "
    "day-offset due dates, month-end alignment (LAST_DAY), ISO week "
    "truncation, and day-of-week extraction — the date-dimension "
    "derivations every retention/cohort query leans on, all native "
    "Column code. DOW normalized to DuckDB's Sunday=0 numbering "
    "(Spark dayofweek is Sunday=1).",
)
def op41b_calendar_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 1000)
    d = F.to_date("ts")
    return ev.select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 45 DAYS")).alias("due_ts"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        (F.dayofweek(d) - 1).cast("int").alias("dow"),
    )
