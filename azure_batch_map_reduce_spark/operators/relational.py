"""Core relational operators: scan → filter/project → aggregate → sort.

These instantiate the reference's map/reduce contract with schema-aware
relational operators: the "map" slot (partition-local work —
``Program.cs:332-349``) becomes scan+filter+project+partial-agg; the
barrier+reduce slots (``Program.cs:306,355,351-363``) become the shuffle
and final aggregation that Catalyst plans automatically.

Scale notes (100 TB posture):
- Aggregations here are all partial+final (map-side combine) by
  construction — ``groupBy().agg()`` never ships raw rows, only partial
  states, through the shuffle.
- Filters compare native parquet-typed columns to literals, so they push
  down to the parquet scan (min/max + dictionary pruning); projections
  prune columns at the reader.
- Global (no-group) aggregates reduce partition-local states to one row —
  the single-reducer gather of the reference (``Program.cs:365-378``)
  without materializing inputs on one node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import (
    load_tables,
    rebalance_for_cpu,
    register_views,
)
from azure_batch_map_reduce_spark.operators.ranks import (
    bounded_order,
    distributed_running_extremum,
    distributed_running_sum,
    half_up_ratio,
    hex_int,
    round_nz,
)
from azure_batch_map_reduce_spark.registry import query


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 2)                                        AS avg_qty,
           round(avg(l_extendedprice), 2)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("aggregation", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: the flagship scan→filter→
    partial-agg→shuffle→final-agg slice (reference L1,L5,L7,L9)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_filter_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           round(p_retailprice * 0.9, 2) AS discounted
    FROM part
    WHERE p_size BETWEEN 5 AND 25
      AND p_type IN ('ECONOMY', 'PROMO', 'STANDARD')
      AND p_name LIKE '%bolt%'
      AND p_brand IS NOT NULL
    """,
    tags=("filter", "project"),
)
def q02_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive filter with BETWEEN / IN / LIKE / IS NOT NULL plus a
    computed projection — all predicates push down to the parquet scan."""
    part = load_tables(spark, sf_dir)["part"]
    return (
        part.filter(
            F.col("p_size").between(5, 25)
            & F.col("p_type").isin("ECONOMY", "PROMO", "STANDARD")
            & F.col("p_name").like("%bolt%")
            & F.col("p_brand").isNotNull()
        )
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            F.round(F.col("p_retailprice") * 0.9, 2).alias("discounted"),
        )
    )


@query(
    "q03_global_agg",
    oracle="""
    SELECT count(*)                                    AS n_rows,
           CAST(sum(l_quantity) AS DOUBLE)             AS total_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
           round(min(l_extendedprice), 2)              AS min_price,
           round(max(l_extendedprice), 2)              AS max_price,
           count(DISTINCT l_orderkey)                  AS n_orders
    FROM lineitem
    """,
    tags=("aggregation", "global"),
)
def q03_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global consolidation with no grouping — the reference's single
    reduce task (``Program.cs:351-363``), executed as partial aggregates
    per partition merged into one final row (no single-node gather)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("total_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        ),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "q04_distinct",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer
    WHERE c_acctbal > 0
    """,
    tags=("distinct",),
)
def q04_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a projection (shuffle dedup with partial combine)."""
    cust = load_tables(spark, sf_dir)["customer"]
    return cust.filter(F.col("c_acctbal") > 0).select("c_mktsegment", "c_nationkey").distinct()


@query(
    "q05_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                     AS n_orders,
           round(sum(o_totalprice), 2)  AS total_price,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("aggregation", "rollup"),
)
def q05_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with grouping_id disambiguation."""
    orders = load_tables(spark, sf_dir)["orders"]
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.grouping_id().alias("gid"),
        )
    )


@query(
    "q06_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*)                   AS n_items,
           round(avg(l_quantity), 2)  AS avg_qty,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("aggregation", "cube"),
)
def q06_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.grouping_id().alias("gid"),
    )


@query(
    "q07_sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
    tags=("sort", "limit"),
)
def q07_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject (per-partition
    top-N then merge — no full global sort materialized). Tie-broken on
    the unique key so the result is deterministic."""
    orders = load_tables(spark, sf_dir)["orders"]
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@query(
    "q08_set_ops",
    oracle="""
    WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         rich     AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM building UNION SELECT c_custkey FROM rich)
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
    UNION ALL
    SELECT 'intersect_all' AS op, c_custkey FROM (SELECT c_custkey FROM building INTERSECT ALL SELECT c_custkey FROM rich)
    """,
    tags=("setops",),
)
def q08_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set), INTERSECT, EXCEPT over two customer slices, labeled
    and stacked so one result exercises all three."""
    cust = load_tables(spark, sf_dir)["customer"]
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        building.union(rich).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionByName(
            building.intersect(rich).select(F.lit("intersect").alias("op"), "c_custkey")
        )
        .unionByName(
            building.exceptAll(rich).distinct().select(F.lit("except").alias("op"), "c_custkey")
        )
        .unionByName(
            building.intersectAll(rich).select(
                F.lit("intersect_all").alias("op"), "c_custkey"
            )
        )
    )


@query(
    "q09_agg_stats",
    oracle="""
    SELECT c_mktsegment,
           round(stddev_samp(c_acctbal), 2)  AS sd_bal,
           round(var_samp(c_acctbal), 2)     AS var_bal,
           round(median(c_acctbal), 2)       AS med_bal,
           round(corr(c_acctbal, CAST(c_nationkey AS DOUBLE)), 4) + 0.0 AS corr_bal_nation,
           count(*)                          AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("aggregation", "stats"),
)
def q09_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: sample stddev/variance, exact median,
    Pearson correlation."""
    cust = load_tables(spark, sf_dir)["customer"]
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal"), 2).alias("sd_bal"),
        F.round(F.var_samp("c_acctbal"), 2).alias("var_bal"),
        F.round(F.median("c_acctbal"), 2).alias("med_bal"),
        round_nz(F.corr("c_acctbal", F.col("c_nationkey").cast("double")), 4).alias(
            "corr_bal_nation"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q10_collect_agg",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           count(*) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("aggregation", "collect"),
)
def q10_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set rendered as a sorted joined string (order-stable so the
    value hash is deterministic)."""
    nation = load_tables(spark, sf_dir)["nation"]
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q11_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 5 AND sum(o_totalprice) > 100000
    """,
    tags=("aggregation", "having"),
)
def q11_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    orders = load_tables(spark, sf_dir)["orders"]
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.sum("o_totalprice").alias("_raw_spend"),
        )
        .filter((F.col("n_orders") >= 5) & (F.col("_raw_spend") > 100000))
        .drop("_raw_spend")
    )


@query(
    "q12_null_handling",
    oracle="""
    WITH t AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
               nullif(c_mktsegment, 'MACHINERY')                    AS seg
        FROM customer
    )
    SELECT coalesce(seg, 'UNKNOWN')     AS seg_filled,
           count(*)                     AS n,
           CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_bal,
           round(sum(coalesce(bal, 0.0)), 2)            AS total_bal
    FROM t
    GROUP BY coalesce(seg, 'UNKNOWN')
    """,
    tags=("nulls",),
)
def q12_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null creation (nullif), fill (na.fill / coalesce), and null-aware
    aggregation."""
    cust = load_tables(spark, sf_dir)["customer"]
    t = cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal"),
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg"),
    )
    return (
        t.withColumn("seg_filled", F.coalesce(F.col("seg"), F.lit("UNKNOWN")))
        .groupBy("seg_filled")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0)).cast("long").alias("n_null_bal"),
            F.round(F.sum(F.coalesce(F.col("bal"), F.lit(0.0))), 2).alias("total_bal"),
        )
    )


@query(
    "q13_pivot",
    oracle="""
    SELECT c_nationkey,
           CAST(count(*) FILTER (WHERE c_mktsegment = 'BUILDING')   AS BIGINT) AS building,
           CAST(count(*) FILTER (WHERE c_mktsegment = 'MACHINERY')  AS BIGINT) AS machinery,
           CAST(count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS automobile,
           CAST(count(*) FILTER (WHERE c_mktsegment = 'FURNITURE')  AS BIGINT) AS furniture,
           CAST(count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD')  AS BIGINT) AS household
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("pivot",),
)
def q13_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list so no extra
    distinct-values job runs — at 100 TB always pass the pivot values."""
    cust = load_tables(spark, sf_dir)["customer"]
    segs = ["BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD"]
    df = (
        cust.groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(F.count(F.lit(1)))
    )
    out = df.select(
        "c_nationkey",
        *[F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s.lower()) for s in segs],
    )
    return out


@query(
    "q14_unpivot",
    oracle="""
    SELECT p_partkey, kind, CAST(val AS DOUBLE) AS val
    FROM (
        SELECT p_partkey, 'retail' AS kind, p_retailprice AS val FROM part
        UNION ALL
        SELECT p_partkey, 'size'   AS kind, CAST(p_size AS DOUBLE) AS val FROM part
    )
    WHERE val > 30
    """,
    tags=("unpivot",),
)
def q14_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack()."""
    part = load_tables(spark, sf_dir)["part"]
    return (
        part.select(
            "p_partkey",
            F.expr(
                "stack(2, 'retail', p_retailprice, 'size', CAST(p_size AS DOUBLE)) AS (kind, val)"
            ),
        )
        .filter(F.col("val") > 30)
    )


@query(
    "q15_sketch_aggs",
    oracle="""
    SELECT c_mktsegment AS segment,
           count(DISTINCT c_custkey) AS n_exact,
           TRUE AS hll_ok,
           TRUE AS pct_ok
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("aggregation", "sketch"),
)
def q15_sketch_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates with self-verifying error bounds: HyperLogLog++
    (``approx_count_distinct``, rsd 2%) and KLL-style quantiles
    (``percentile_approx``, accuracy 1k — sized to the rank-check
    tolerance below; 10× higher accuracy costs ~3× in sketch merge time
    for no additional verified precision) computed NEXT TO their exact
    counterparts; the output carries booleans asserting the sketch landed
    inside its bound, so the oracle can hash-check an approximate
    operator. The quantile check is RANK-based (fraction of values ≤ the
    approximate median must sit near 0.5) — the guarantee
    percentile_approx actually makes; value-distance would be unbounded
    on sparse groups. At 100 TB the sketches are the only affordable
    option — fixed-size state through the shuffle vs. the exact
    operators' per-distinct-value state."""
    cust = load_tables(spark, sf_dir)["customer"]
    agg = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count_distinct("c_custkey").alias("n_exact"),
        F.expr("approx_count_distinct(c_custkey, 0.02)").alias("n_hll"),
        F.percentile_approx("c_acctbal", F.lit(0.5), F.lit(1000)).alias("med_approx"),
    )
    # Rank check: one more pass over customer against the broadcast
    # 5-row aggregate (scale-safe).
    joined = cust.join(
        F.broadcast(agg), cust["c_mktsegment"] == agg["segment"]
    )
    return (
        joined.groupBy("segment", "n_exact", "n_hll")
        .agg(
            F.avg((F.col("c_acctbal") <= F.col("med_approx")).cast("double")).alias(
                "frac_le_med"
            )
        )
        .select(
            "segment",
            "n_exact",
            (F.abs(F.col("n_hll") - F.col("n_exact")) <= 0.1 * F.col("n_exact")).alias(
                "hll_ok"
            ),
            F.col("frac_le_med").between(0.35, 0.65).alias("pct_ok"),
        )
    )


@query(
    "q16_scalar_correlated_subquery",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#1'
      AND p_size <= 10
      AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                        FROM lineitem
                        WHERE l_partkey = p_partkey)
    """,
    tags=("subquery", "join"),
)
def q16_scalar_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated scalar subquery (small-quantity
    revenue). Written as SQL so Catalyst's decorrelation rewrites the
    per-row subquery into one aggregate + join — the plan contains a
    single extra shuffle over lineitem, not a nested loop. The reference
    could only express this as two chained map/reduce jobs
    (``Program.cs:322-387``) with manual re-staging between them."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND p_size <= 10
          AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                            FROM lineitem
                            WHERE l_partkey = p_partkey)
    """)


@query(
    "q17_top_revenue_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("subquery", "cte"),
)
def q17_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: CTE reused twice (once aggregated to a scalar,
    once joined) — exercises scalar aggregate subqueries and CTE
    planning. The scalar max() reduces to a one-row broadcast, so the
    'filter to the max' costs one extra pass over the (already small)
    aggregate, never over lineitem."""
    register_views(spark, sf_dir)
    return spark.sql("""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """)


_GROUPING_SETS_SQL = """
    SELECT o_orderpriority,
           o_orderstatus,
           count(*)                     AS n_orders,
           round(sum(o_totalprice), 2)  AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority),
                            ())
"""


@query(
    "q37_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    tags=("aggregation", "grouping-sets"),
)
def q37_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of q05's rollup / q06's
    cube): three grouping combinations computed in ONE pass — Catalyst
    plans a single Expand node feeding one partial+final aggregate, not
    three scans unioned. Identical SQL text runs on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "q38_mergeable_sketches",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_exact,
           TRUE AS hll_ok,
           TRUE AS med_ok
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("aggregation", "sketch", "datasketches"),
)
def q38_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE sketches (Apache DataSketches builtins) — the
    materialize-once / merge-anywhere pattern that q15's
    approx_count_distinct cannot do: per-(priority, month) HLL and KLL
    sketches are built in one pass (in production: persisted at ingest),
    then UNIONED up to the priority level without touching raw rows
    again. Any future grouping over these months is a merge of
    fixed-size sketch states — at 100 TB this replaces re-scanning the
    fact table per rollup. Correctness is self-verified like q15: the
    HLL estimate must land within 5% of the exact distinct count and the
    KLL median within the [0.4, 0.6] rank band of the real data."""
    orders = load_tables(spark, sf_dir)["orders"]

    monthly = orders.groupBy(
        "o_orderpriority", F.date_trunc("month", "o_orderdate").alias("mo")
    ).agg(
        F.hll_sketch_agg("o_custkey").alias("hll"),
        F.kll_sketch_agg_double(F.col("o_totalprice").cast("double")).alias("kll"),
    )
    merged = monthly.groupBy("o_orderpriority").agg(
        F.round(F.hll_sketch_estimate(F.hll_union_agg("hll"))).alias("n_hll"),
        # kll_sketch_merge_double is a BINARY merge (no union aggregate
        # exists) — fold the per-month sketches; groups are O(months).
        F.expr(
            """kll_sketch_get_quantile_double(
                 reduce(collect_list(kll), cast(null as binary),
                        (acc, x) -> CASE WHEN acc IS NULL THEN x
                                    ELSE kll_sketch_merge_double(acc, x) END),
                 0.5)"""
        ).alias("med"),
    )
    joined = orders.join(F.broadcast(merged), "o_orderpriority")
    return (
        joined.groupBy("o_orderpriority", "n_hll", "med")
        .agg(
            F.count_distinct("o_custkey").alias("n_exact"),
            F.avg((F.col("o_totalprice") <= F.col("med")).cast("double")).alias(
                "frac_le_med"
            ),
        )
        .select(
            "o_orderpriority",
            "n_exact",
            (F.abs(F.col("n_hll") - F.col("n_exact")) <= 0.05 * F.col("n_exact")).alias(
                "hll_ok"
            ),
            F.col("frac_le_med").between(0.4, 0.6).alias("med_ok"),
        )
    )


@query(
    "q106_equiwidth_histogram",
    oracle="""
    WITH b AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    ),
    binned AS (
        SELECT CAST(least(floor((o_totalprice - b.lo) / ((b.hi - b.lo) / 20)), 19)
                    AS INTEGER) AS bin
        FROM orders CROSS JOIN b
    )
    SELECT n.bin,
           round(b.lo + n.bin       * (b.hi - b.lo) / 20, 6) AS bin_lo,
           round(b.lo + (n.bin + 1) * (b.hi - b.lo) / 20, 6) AS bin_hi,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
    FROM (SELECT unnest(generate_series(0, 19)) AS bin) n
    CROSS JOIN b
    LEFT JOIN (SELECT bin, count(*) AS cnt FROM binned GROUP BY bin) c
           ON c.bin = n.bin
    """,
    tags=("aggregation", "histogram", "profiling"),
)
def q106_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of o_totalprice, empty bins included.
    Two passes: a 1-row min/max bounds aggregate, then a map-side bin
    assignment + count. The bounds are broadcast onto the scan via
    cross join, the bin grid is sequence()+explode (metadata-sized),
    and the per-bin counts (≤20 rows post-agg) are broadcast onto the
    grid — the only data-sized shuffle is the partial→final bin count.
    """
    o = load_tables(spark, sf_dir)["orders"]
    b = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20
    counts = (
        o.crossJoin(F.broadcast(b))
        .select(
            F.least(
                F.floor((F.col("o_totalprice") - F.col("lo")) / width), F.lit(19)
            )
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = b.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("bin"), "lo", "hi"
    )
    return (
        grid.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin",
            F.round(F.col("lo") + F.col("bin") * width, 6).alias("bin_lo"),
            F.round(F.col("lo") + (F.col("bin") + 1) * width, 6).alias("bin_hi"),
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )


@query(
    "q120_equidepth_histogram",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(o_totalprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
        FROM orders
    )
    SELECT CAST(len(list_filter(b.bounds, x -> o.o_totalprice > x)) AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           round(min(o.o_totalprice), 2) AS lo,
           round(max(o.o_totalprice), 2) AS hi
    FROM orders o CROSS JOIN b
    GROUP BY 1
    """,
    tags=("aggregation", "histogram", "quantiles"),
)
def q120_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 quantile buckets) of o_totalprice —
    equal row counts per bucket, the layout/statistics complement of
    q106's equi-width bins and the shape optimizers use for range
    selectivity. Bucket id = how many decile boundaries the value
    exceeds, computed by a higher-order filter over the broadcast
    boundary array — no per-row join, no global sort of the data.

    Scale posture: one exact-percentile aggregate (1 row, broadcast)
    + one map-side bucket rollup; swap percentile→percentile_approx at
    extreme scale for the identical plan with bounded error.
    """
    o = load_tables(spark, sf_dir)["orders"]
    b = o.agg(
        F.percentile(
            "o_totalprice", [i / 10 for i in range(1, 10)]
        ).alias("bounds")
    )
    x = F.col("o_totalprice")
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(
            F.size(F.filter("bounds", lambda v: x > v)).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min(x), 2).alias("lo"),
            F.round(F.max(x), 2).alias("hi"),
        )
    )


@query(
    "q132_benford_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM digits)
    SELECT d.d AS digit,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(count(*) / t.n, 6) AS observed_share,
           round(ln(1.0 + 1.0 / d.d) / ln(10.0), 6) AS benford_share
    FROM digits d CROSS JOIN tot t
    GROUP BY d.d, t.n
    """,
    tags=("aggregation", "audit", "benford", "quality"),
)
def q132_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of o_totalprice: observed leading
    -digit shares against the log-law expectation ln(1+1/d)/ln(10) —
    the classic fabricated-data / corrupted-feed screen for financial
    columns. (TPC-H-style synthetic uniform prices deviate from
    Benford, which the audit correctly reports — the operator's job is
    the comparison, not a verdict.)

    Scale posture: digit extraction is map-side string math on the
    scan, the rollup is 9 keys with map-side combine, and the total
    rides as a 1-row broadcast. One pass.
    """
    o = load_tables(spark, sf_dir)["orders"].where(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    digits = o.select(d.alias("d"))
    tot = digits.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("d", "n")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .select(
            F.col("d").alias("digit"),
            "n_obs",
            F.round(F.col("n_obs") / F.col("n"), 6).alias("observed_share"),
            F.round(
                F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0)), 6
            ).alias("benford_share"),
        )
    )


@query(
    "q133_chisq_independence",
    oracle="""
    WITH obs AS (
        SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
        FROM documents GROUP BY lang, source
    ),
    margins AS (
        SELECT o.lang, o.source, o.o,
               sum(o.o) OVER (PARTITION BY o.lang)   AS row_tot,
               sum(o.o) OVER (PARTITION BY o.source) AS col_tot,
               sum(o.o) OVER ()                      AS n
        FROM obs o
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(pow(o - row_tot * col_tot / n, 2)
                     / (row_tot * col_tot / n)), 6) AS chi2,
           CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT)
               AS dof
    FROM margins
    """,
    tags=("aggregation", "statistics", "chisq", "profiling"),
)
def q133_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between lang and source — the
    contingency-table statistic a corpus audit uses to ask "is language
    mix uniform across sources, or does some source skew?" Returns the
    statistic and degrees of freedom (the caller compares against a
    critical value; no p-value table needed in-engine).

    Scale posture: margins are windows over the CONTINGENCY TABLE
    (|langs|×|sources| cells), not the corpus — the only data-sized
    work is the (lang, source) count with map-side combine. The global
    window is safe because its input is cells, bounded by category
    cardinalities.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    margins = obs.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_tot"),
        # bounded (|langs|x|sources|) grain: constant partition key
        # declares the single-partition total intentional (no WindowExec
        # warning; see ranks.bounded_order)
        F.sum("o").over(Window.partitionBy(F.lit(0))).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return margins.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("long").alias("dof"),
    )


@query(
    "q134_weighted_median",
    oracle="""
    WITH cum AS (
        SELECT l_returnflag, l_extendedprice, l_quantity,
               sum(l_quantity) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
        FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS weighted_median_price,
           round(CAST(min(tot) AS DOUBLE), 2) AS total_weight
    FROM cum
    WHERE cw >= tot / 2
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "weighted", "median", "window"),
)
def q134_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative quantity reaches half the group's total —
    the inventory-weighted "typical price" that an unweighted median
    misstates when cheap items trade in bulk. Built from first
    principles (cumulative-weight crossing with a total-order tiebreak)
    because neither engine has a weighted-median builtin — and the
    identical construction runs on both, so the oracle is exact, not
    approximate.

    Scale posture: two windows sharing one (group, sort) partitioning
    plus a rollup on the same key — a single shuffle end to end. The
    crossing filter prunes to ~half of each partition before the final
    min-aggregate.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    order = [F.asc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(wcum).alias("cw"),
        F.sum("l_quantity").over(wall).alias("tot"),
    )
    return (
        cum.where(F.col("cw") >= F.col("tot") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("weighted_median_price"),
            F.round(F.min("tot").cast("double"), 2).alias("total_weight"),
        )
    )


@query(
    "q138_ols_trend",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 5)       AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 5)  AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)         AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 5)       AS avg_x,
           round(regr_avgy(l_extendedprice, l_quantity), 5)       AS avg_y
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregation", "regression", "statistics"),
)
def q138_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of price on quantity using
    the SQL-standard REGR_* aggregate family (slope, intercept, R²,
    centroid) — the in-database linear-model primitive behind trend
    lines, elasticity estimates, and drift monitors.

    Scale posture: REGR_* aggregates are sum-of-products moments, so
    Catalyst plans partial+final hash aggregation — one shuffle of
    5-ish rows per group key no matter the fact-table size. No window,
    no sort, no Python.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("long").alias("n"),
            F.round(F.regr_slope(y, x), 5).alias("slope"),
            F.round(F.regr_intercept(y, x), 5).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.round(F.regr_avgx(y, x), 5).alias("avg_x"),
            F.round(F.regr_avgy(y, x), 5).alias("avg_y"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q139_ks_two_sample",
    oracle="""
    WITH s AS (
        SELECT o_totalprice AS price,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia,
               CASE WHEN o_orderpriority = '5-LOW'    THEN 1 ELSE 0 END AS ib
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    c AS (
        SELECT ia, ib,
               sum(ia) OVER (ORDER BY price
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               sum(ib) OVER (ORDER BY price
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
               sum(ia) OVER () AS ta,
               sum(ib) OVER () AS tb
        FROM s
    ),
    agg AS (
        SELECT CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
               max(abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)) AS d
        FROM c
    )
    SELECT n_a, n_b, round(d, 6) AS ks_d,
           round(1.36 * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b)), 6)
               AS crit_95,
           CAST(d > 1.36 * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b))
               AS INT) AS reject_95
    FROM agg
    """,
    tags=("aggregation", "statistics", "ks-test", "window"),
)
def q139_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: does the total-price
    distribution of 1-URGENT orders differ from 5-LOW orders? D is the
    max gap between the two empirical CDFs, evaluated tie-correctly via
    a RANGE cumulative frame (count of ≤ x, not row position), plus the
    large-sample 95% critical value and the reject decision.

    Every per-row quantity is a ratio of exact integers (one IEEE
    division), so D is bit-identical across engines — the decision flag
    can safely compare unrounded values.

    Scale posture: collapse to per-price (+1-URGENT, +5-LOW) deltas via
    one partial+final agg — the CDFs only change at distinct prices, so
    this loses nothing — then the window-free distributed running sum
    (ranks.py sample-sort shape: range shuffle, per-partition
    cumulative, broadcast offsets) gives both cumulative counts, and
    the totals arrive as a 1-row aggregate broadcast back via
    crossJoin. No unpartitioned window anywhere; D is a plain max.
    """
    o = load_tables(spark, sf_dir)["orders"]
    s = o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("ia"),
        (F.col("o_orderpriority") == "5-LOW").cast("int").alias("ib"),
    )
    per_price = s.groupBy("price").agg(
        F.sum("ia").alias("da"), F.sum("ib").alias("db")
    )
    run = distributed_running_sum(
        per_price, [F.asc("price")], {"ca": "da", "cb": "db"}
    )
    tot = s.agg(F.sum("ia").alias("ta"), F.sum("ib").alias("tb"))
    c = run.crossJoin(F.broadcast(tot))
    agg = c.agg(
        F.max("ta").cast("long").alias("n_a"),
        F.max("tb").cast("long").alias("n_b"),
        F.max(
            F.abs(
                F.col("ca").cast("double") / F.col("ta")
                - F.col("cb").cast("double") / F.col("tb")
            )
        ).alias("d"),
    )
    crit = 1.36 * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double") / (F.col("n_a") * F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(F.col("d"), 6).alias("ks_d"),
        F.round(crit, 6).alias("crit_95"),
        (F.col("d") > crit).cast("int").alias("reject_95"),
    )


@query(
    "q140_mad_outliers",
    oracle="""
    WITH rk AS (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    med AS (
        SELECT l_returnflag, min(l_extendedprice) AS med
        FROM rk WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
        GROUP BY l_returnflag
    ),
    dev AS (
        SELECT l.l_returnflag, l.l_extendedprice, m.med,
               abs(l.l_extendedprice - m.med) AS adev
        FROM lineitem l JOIN med m USING (l_returnflag)
    ),
    drk AS (
        SELECT l_returnflag, adev,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY adev) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM dev
    ),
    mad AS (
        SELECT l_returnflag, min(adev) AS mad
        FROM drk WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
        GROUP BY l_returnflag
    )
    SELECT d.l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(min(d.med), 2) AS med, round(min(m.mad), 2) AS mad,
           CAST(sum(CASE WHEN abs(0.6745 * (d.l_extendedprice - d.med) / m.mad)
                              > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(max(abs(0.6745 * (d.l_extendedprice - d.med) / m.mad)), 4)
               AS max_robust_z
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY d.l_returnflag
    ORDER BY d.l_returnflag
    """,
    tags=("aggregation", "statistics", "outliers", "robust"),
)
def q140_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group via the median absolute
    deviation: modified z-score 0.6745·(x−median)/MAD with the
    Iglewicz–Hoberg 3.5 cutoff — the outlier gate that, unlike
    mean/stddev z-scores, is not itself dragged by the outliers it
    hunts.

    Both medians are DISCRETE (the rank-⌈n/2⌉ element, not the
    interpolated midpoint): an interpolated even-count median averages
    two doubles, and the two engines' interpolation forms differ by an
    ulp — enough to flip a round-half boundary. A discrete median is an
    actual data value, bit-identical everywhere.

    Scale posture: each discrete median is one rank pass over a
    per-group sorted window (shuffle on the 4-value group key), and the
    per-group scalars broadcast back onto the fact scan. At 100 TB you
    would swap the exact rank pass for `approx_percentile(0.5)` and
    collapse to one aggregation — the shape of the query is unchanged.
    """
    li = load_tables(spark, sf_dir)["lineitem"]

    def discrete_median(df: DataFrame, col: str) -> DataFrame:
        wr = Window.partitionBy("l_returnflag").orderBy(col)
        wn = Window.partitionBy("l_returnflag")
        rk = df.select(
            "l_returnflag",
            col,
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        return (
            rk.where(
                F.col("rn") == F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long")
            )
            .groupBy("l_returnflag")
            .agg(F.min(col).alias("med" if col == "l_extendedprice" else "mad"))
        )

    med = discrete_median(li, "l_extendedprice")
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        "med",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
    )
    mad = discrete_median(dev, "adev")
    z = F.abs(0.6745 * (F.col("l_extendedprice") - F.col("med")) / F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med"), 2).alias("med"),
            F.round(F.min("mad"), 2).alias("mad"),
            F.sum(F.when(z > 3.5, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_robust_z"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q141_ab_proportion_ztest",
    oracle="""
    WITH trials AS (
        SELECT user_id, date_trunc('day', ts) AS d,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events
        GROUP BY user_id, date_trunc('day', ts)
    ),
    v AS (
        SELECT
            sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
            sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS c_a,
            sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
            sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS c_b
        FROM trials
    ),
    p AS (
        SELECT n_a, c_a, n_b, c_b,
               CAST(c_a AS DOUBLE) / n_a AS p_a,
               CAST(c_b AS DOUBLE) / n_b AS p_b,
               CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS p_pool
        FROM v
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS conv_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS conv_b,
           round(p_a, 6) AS rate_a, round(p_b, 6) AS rate_b,
           round((p_a - p_b)
                 / sqrt(p_pool * (1.0 - p_pool)
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z,
           CAST(abs((p_a - p_b)
                 / sqrt(p_pool * (1.0 - p_pool)
                        * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS INT)
               AS significant_95
    FROM p
    """,
    tags=("aggregation", "statistics", "abtest", "events"),
)
def q141_ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment read off the event
    stream: variant by user-id parity, trial = a user-day, success = a
    purchase that day; pooled-variance z statistic and the 95%
    significance verdict — the experimentation-platform primitive.

    Every derived quantity is built from exact integer counts through
    individually-rounded IEEE ops (divide, multiply, sqrt) in the same
    expression order on both engines, so the unrounded z feeds the
    decision flag safely.

    Scale posture: one shuffle to the (user, day) trial grain with the
    conversion flag folded in as a max — then a single partial+final
    global aggregation of four counters. Nothing after the first
    aggregation touches more than one row.
    """
    ev = load_tables(spark, sf_dir)["events"]
    trials = (
        ev.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .withColumn(
            "variant", F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
        )
    )
    v = trials.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("conv")).otherwise(0)).alias("c_b"),
    )
    p = v.select(
        "*",
        (F.col("c_a").cast("double") / F.col("n_a")).alias("p_a"),
        (F.col("c_b").cast("double") / F.col("n_b")).alias("p_b"),
        ((F.col("c_a") + F.col("c_b")).cast("double") / (F.col("n_a") + F.col("n_b"))).alias(
            "p_pool"
        ),
    )
    zexpr = (F.col("p_a") - F.col("p_b")) / F.sqrt(
        F.col("p_pool")
        * (F.lit(1.0) - F.col("p_pool"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return p.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.round("p_a", 6).alias("rate_a"),
        F.round("p_b", 6).alias("rate_b"),
        F.round(zexpr, 4).alias("z"),
        (F.abs(zexpr) > 1.96).cast("int").alias("significant_95"),
    )


@query(
    "q153_pareto_coverage",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, s.s_suppkey,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name, s.s_suppkey
    ),
    ranked AS (
        SELECT n_name, cents,
               row_number() OVER (
                   PARTITION BY n_name ORDER BY cents DESC, s_suppkey) AS rnk,
               sum(cents) OVER (
                   PARTITION BY n_name ORDER BY cents DESC, s_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
               sum(cents) OVER (PARTITION BY n_name) AS total_cents
        FROM rev
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(min(CASE WHEN CAST(cum_cents AS DOUBLE) / total_cents >= 0.8
                         THEN rnk END) AS BIGINT) AS suppliers_to_80,
           ((2 * max(CASE WHEN rnk = 1 THEN cents END) * 1000000
                 + max(total_cents)) // (2 * max(total_cents)))
               / 1000000.0 AS top_share,
           round(CAST(max(total_cents) AS DOUBLE) / 100, 2) AS total_revenue
    FROM ranked
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=("window", "pareto", "concentration", "aggregation"),
)
def q153_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/concentration analysis: per nation, how many suppliers
    (ranked by revenue) it takes to cover 80% of the nation's lineitem
    revenue, plus the top supplier's share — the 80/20 diagnostic that
    drives skew-aware mix planning.

    All money math runs in exact integer cents (per-row rounding is the
    only float step, and it's the same IEEE multiply+round on both
    engines), so cumulative sums are order-insensitive and the 80%
    threshold crossing is decided by one exact division per row —
    no float-accumulation ambiguity at the cut point.

    Scale posture: the only full-volume shuffle is lineitem →
    (nation, supplier) grain (partial+final agg); supplier and nation
    dims broadcast into the map side. The ranking window runs at
    supplier grain partitioned by nation — bounded and skew-free.
    """
    t = load_tables(spark, sf_dir)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(cents).alias("cents"))
    )
    w_order = Window.partitionBy("n_name").orderBy(
        F.col("cents").desc(), F.col("s_suppkey")
    )
    ranked = rev.select(
        "n_name",
        "cents",
        F.row_number().over(w_order).alias("rnk"),
        F.sum("cents")
        .over(w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_cents"),
        F.sum("cents").over(Window.partitionBy("n_name")).alias("total_cents"),
    )
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min(
                F.when(
                    F.col("cum_cents").cast("double") / F.col("total_cents")
                    >= 0.8,
                    F.col("rnk"),
                )
            )
            .cast("long")
            .alias("suppliers_to_80"),
            half_up_ratio(
                F.max(F.when(F.col("rnk") == 1, F.col("cents"))),
                F.max("total_cents"),
                6,
            ).alias("top_share"),
            F.round(F.max("total_cents").cast("double") / 100, 2).alias(
                "total_revenue"
            ),
        )
        .orderBy("n_name")
    )


def _hll_oracle_branch(label: str, table: str, col: str) -> str:
    """One UNION branch of the q156 oracle: a from-scratch HLL over
    ``table.col`` in pure DuckDB SQL, register math in exact integers."""
    h = f"md5('hll|' || CAST({col} AS VARCHAR))"
    w = f"('0x' || substr({h}, 3, 8))::BIGINT"
    return f"""
    SELECT '{label}' AS key_col,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           round(CASE WHEN r.v > 0 THEN 64 * ln(64.0 / r.v)
                      ELSE 0.709 * 4096.0 * 1073741824.0 / r.sum_int
                 END, 4) AS hll_estimate,
           CAST(r.v AS INTEGER) AS empty_registers
    FROM (
        SELECT sum(1::BIGINT << (30 - mj)) AS sum_int,
               sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v
        FROM (
            SELECT g.j, coalesce(max(x.rho), 0) AS mj
            FROM range(64) AS g(j)
            LEFT JOIN (
                SELECT ('0x' || substr({h}, 1, 2))::BIGINT % 64 AS j,
                       least(CASE WHEN {w} = 0 THEN 33
                             ELSE 33 - length(regexp_replace(bin({w}),
                                                             '^0+', ''))
                             END, 30) AS rho
                FROM {table} WHERE {col} IS NOT NULL
            ) x ON x.j = g.j
            GROUP BY g.j
        )
    ) r CROSS JOIN (
        SELECT count(DISTINCT {col}) AS exact_distinct FROM {table}
    ) ex
    """


_HLL_SOURCES = (
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("events.user_id", "events", "user_id"),
)

_HLL_ORACLE = (
    "SELECT key_col, exact_distinct, hll_estimate, empty_registers, "
    "round((hll_estimate - exact_distinct) / exact_distinct, 6) + 0.0 AS rel_error "
    "FROM (\n"
    + "\nUNION ALL\n".join(
        _hll_oracle_branch(label, table, col)
        for label, table, col in _HLL_SOURCES
    )
    + "\n) ORDER BY key_col"
)


@query(
    "q156_portable_hll",
    oracle=_HLL_ORACLE,
    tags=("aggregation", "sketch", "hll", "distinct"),
)
def q156_portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog (m=64 registers) with fully
    cross-engine-deterministic arithmetic, compared against the exact
    distinct count for three key columns. The hash is a salted md5
    ('hll|' prefix — a fresh derivation, independent of the byte
    windows q55/q75/q112/q123 own): hex chars 1-2 pick the register,
    chars 3-10 give a 32-bit word whose leading-zero count (+1) is the
    rank, computed by STRING bit-length (``length(regexp_replace(
    bin(w),'^0+',''))``) — no libm log2. The harmonic mean runs in
    exact integers: Σ 2^(30−M_j) fits int64, so the only float steps
    are one constant fold and one final division (plus ``ln`` on the
    linear-counting branch for sparse registers, taken identically by
    both engines since the empty-register count V is exact).

    This is the mergeable-sketch pattern the built-in
    approx_count_distinct (q15/q38) hides: registers are a 64-row
    table, merge = elementwise max — the partial+final shape Spark
    plans for the groupBy is exactly HLL's distributed merge.

    Scale posture: registers and the exact audit both depend only on
    the DISTINCT key set, so the three key streams union into ONE
    (key_col, k) pipeline: one two-phase parallel distinct
    (hash-partitioned on the key, map-side partial dedup), md5/conv
    hash math once per DISTINCT key (20× less string hashing than
    per-row at sf0.1), then one two-level rollup in which count(1) per
    register IS the exact audit (the stream is key-distinct, so no
    countDistinct expansion, no second branch, no join). One linear
    3-exchange chain — at local scale that's the difference between
    measuring the sketch and measuring stage overhead; at 100 TB you'd
    drop the audit column and keep the 64-row state per source.
    """
    register_views(spark, sf_dir)
    frames = [
        spark.table(table)
        .filter(F.col(col).isNotNull())
        .select(
            F.lit(label).alias("key_col"), F.col(col).cast("long").alias("k")
        )
        for label, table, col in _HLL_SOURCES
    ]
    allk = frames[0].unionAll(frames[1]).unionAll(frames[2]).distinct()
    h = F.md5(F.concat(F.lit("hll|"), F.col("k").cast("string")))
    w = hex_int(h, 3, 8)
    keyed = allk.select(
        "key_col",
        (hex_int(h, 1, 2) % 64).alias("j"),
        F.least(
            # bin() never prints leading zeros, so length(bin(w)) IS
            # 32 - clz(w) for w > 0 — no per-row regex needed (the
            # oracle's regexp_replace form is equivalent).
            F.when(w == 0, F.lit(33)).otherwise(33 - F.length(F.bin(w))),
            F.lit(30),
        ).alias("rho"),
    )
    # Occupied registers always have rho >= 1, so the v empty ones are
    # just 64 - |groups| — no range(64) join needed; their 2^30
    # harmonic-mean terms are added arithmetically. Because the stream
    # is already key-distinct, a plain count(1) per register IS the
    # per-register distinct count, so the exact audit folds into the
    # same two-level rollup — no second branch, no join, one linear
    # stage chain.
    per_reg = keyed.groupBy("key_col", "j").agg(
        F.max("rho").alias("mj"), F.count(F.lit(1)).alias("nd")
    )
    state = per_reg.groupBy("key_col").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 30 - mj)"))
            + (F.lit(64) - F.count(F.lit(1))) * F.lit(1 << 30)
        ).alias("sum_int"),
        (F.lit(64) - F.count(F.lit(1))).alias("v"),
        F.sum("nd").alias("exact_distinct"),
    )
    return (
        state
        .select(
            "key_col",
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            F.round(
                F.when(F.col("v") > 0, 64 * F.log(64.0 / F.col("v"))).otherwise(
                    F.lit(0.709 * 4096.0 * 1073741824.0) / F.col("sum_int")
                ),
                4,
            ).alias("hll_estimate"),
            F.col("v").cast("int").alias("empty_registers"),
        )
        .select(
            "key_col",
            "exact_distinct",
            "hll_estimate",
            "empty_registers",
            round_nz(
                (F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("key_col")
    )


@query(
    "q159_bitmap_distinct_rollup",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('week', ts) AS week,
               date_trunc('day', ts) AS d,
               count(DISTINCT user_id) AS daily_distinct
        FROM events GROUP BY event_type, date_trunc('week', ts),
                             date_trunc('day', ts)
    ),
    weekly AS (
        SELECT event_type, date_trunc('week', ts) AS week,
               count(DISTINCT user_id) AS distinct_users
        FROM events GROUP BY event_type, date_trunc('week', ts)
    )
    SELECT w.event_type, w.week,
           CAST(w.distinct_users AS BIGINT) AS distinct_users,
           CAST(sum(d.daily_distinct) AS BIGINT) AS sum_daily_distinct,
           ((2 * sum(d.daily_distinct) * 1000000 + w.distinct_users)
                // (2 * w.distinct_users)) / 1000000.0 AS inflation
    FROM weekly w JOIN daily d
      ON w.event_type = d.event_type AND w.week = d.week
    GROUP BY w.event_type, w.week, w.distinct_users
    ORDER BY w.event_type, w.week
    """,
    tags=("aggregation", "bitmap", "distinct", "rollup"),
)
def q159_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts via bitmaps: COUNT(DISTINCT) is
    not additive (summing daily distincts overcounts returning users),
    but daily per-bucket bitmaps OR-merge losslessly into weekly ones —
    the materialized-view pattern for distinct rollups. The engine
    builds day-grain bitmap state (``bitmap_construct_agg`` over
    ``bitmap_bit_position``, bucketed by ``bitmap_bucket_number`` so id
    space is unbounded), then produces the weekly exact distinct purely
    by ``bitmap_or_agg`` + ``bitmap_count`` over the day-grain state —
    the raw stream is scanned once. Emits the naive additive sum
    alongside and the inflation ratio it would have reported.

    Scale posture: one shuffle to (type, day, bucket) grain; the weekly
    rollup re-aggregates KB-size bitmap state, not events. At 100 TB the
    day-grain state is what you'd persist; any coarser rollup (month,
    all-time) derives from it by the same OR-merge without touching raw
    data. The oracle recomputes both grains from scratch with true
    COUNT(DISTINCT).
    """
    events = load_tables(spark, sf_dir)["events"]
    day_state = (
        events.select(
            "event_type",
            F.date_trunc("week", "ts").alias("week"),
            F.date_trunc("day", "ts").alias("d"),
            "user_id",
        )
        .groupBy(
            "event_type", "week", "d", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
        )
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(user_id))"
            ).alias("bmp")
        )
    )
    daily = day_state.groupBy("event_type", "week", "d").agg(
        F.sum(F.expr("bitmap_count(bmp)")).alias("daily_distinct")
    )
    weekly = (
        day_state.groupBy("event_type", "week", "bucket")
        .agg(F.expr("bitmap_or_agg(bmp)").alias("bmp"))
        .groupBy("event_type", "week")
        .agg(F.sum(F.expr("bitmap_count(bmp)")).alias("distinct_users"))
    )
    return (
        weekly.join(daily, ["event_type", "week"])
        .groupBy("event_type", "week", "distinct_users")
        .agg(F.sum("daily_distinct").alias("sum_daily_distinct"))
        .select(
            "event_type",
            "week",
            F.col("distinct_users").cast("long"),
            F.col("sum_daily_distinct").cast("long"),
            half_up_ratio(
                F.col("sum_daily_distinct"), F.col("distinct_users"), 6
            ).alias("inflation"),
        )
        .orderBy("event_type", "week")
    )


@query(
    "q162_skyline",
    oracle="""
    WITH pts AS (
        SELECT p_partkey, p_retailprice AS price, p_size AS size FROM part
    ),
    best_at_price AS (
        SELECT price, max(size) AS best FROM pts GROUP BY price
    ),
    sweep AS (
        SELECT price, best,
               max(best) OVER (
                   ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_best
        FROM best_at_price
    )
    SELECT p.p_partkey, round(p.price, 2) AS price,
           CAST(p.size AS INTEGER) AS size
    FROM pts p JOIN sweep s ON p.price = s.price
    WHERE p.size = s.best
      AND (s.prev_best IS NULL OR p.size > s.prev_best)
    ORDER BY price, p.p_partkey
    """,
    tags=("aggregation", "skyline", "dominance", "pareto"),
)
def q162_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-dominance) query: parts not dominated on
    (minimize retail price, maximize size) — no other part is both
    cheaper-or-equal AND larger-or-equal with at least one strict. The
    naive formulation is a quadratic NOT EXISTS self-join; this is the
    sort-sweep reduction: collapse to the best size per price point,
    run a strictly-preceding cumulative max over prices ascending, and
    a point survives iff it attains its price's best size AND beats
    every strictly-cheaper price's best. Pure comparisons on stored
    values — zero float arithmetic, so cross-engine parity is exact.

    Scale posture: one partial+final agg to price grain, then the
    strictly-preceding cumulative max runs on the sample-sort
    decomposition (``ranks.distributed_running_extremum``, exclusive
    frame) — range-partition the distinct-price sequence, parallel
    partition-local prefix max, ≤32-row broadcast offsets — because
    distinct prices grow with the part table and a global
    ``Window.orderBy`` would funnel them through ONE task at 100 TB
    (the round-2 verdict's last flagged single-partition window).
    Finally one broadcast join back to part grain. The O(n²) dominance
    join never forms. For d>2 criteria the same skeleton nests: sort on
    one axis, prune with a running dominance frontier per partition,
    merge frontiers.
    """
    pts = load_tables(spark, sf_dir)["part"].select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    best = pts.groupBy("price").agg(F.max("size").alias("best"))
    sweep = distributed_running_extremum(
        best,
        [F.col("price")],
        {"prev_best": "best"},
        fn="max",
        inclusive=False,
    )
    # No broadcast hint: sweep is distinct-price grain — the very table
    # whose growth justified the distributed prefix-max. A shuffle
    # equi-join on price is the scale-safe shape (AQE may still choose
    # broadcast at small SF from runtime sizes).
    return (
        pts.join(sweep, "price")
        .filter(
            (F.col("size") == F.col("best"))
            & (F.col("prev_best").isNull() | (F.col("size") > F.col("prev_best")))
        )
        .select(
            "p_partkey",
            F.round("price", 2).alias("price"),
            F.col("size").cast("int").alias("size"),
        )
        .orderBy("price", "p_partkey")
    )


# Shared engine/oracle SQL: mutual information between event type and
# global value quartile. Quartile edges come from integer rank
# arithmetic (rn·4 ≤ n·i) — no float quantile interpolation.
_MI_SQL = """
WITH ranked AS (
    SELECT value, event_id,
           row_number() OVER (ORDER BY value, event_id) AS rn,
           (SELECT count(*) FROM events) AS n
    FROM events
),
edges AS (
    SELECT g.i, max(CASE WHEN r.rn * 4 <= r.n * g.i THEN r.value END) AS edge
    FROM ranked r CROSS JOIN (VALUES (1), (2), (3)) AS g(i)
    GROUP BY g.i
),
binned AS (
    SELECT e.event_id, e.event_type,
           1 + sum(CASE WHEN e.value > d.edge THEN 1 ELSE 0 END) AS bin
    FROM events e CROSS JOIN edges d
    GROUP BY e.event_id, e.event_type
),
joint AS (
    SELECT event_type, bin, count(*) AS c FROM binned
    GROUP BY event_type, bin
),
margt AS (SELECT event_type, sum(c) AS ct FROM joint GROUP BY event_type),
margb AS (SELECT bin, sum(c) AS cb FROM joint GROUP BY bin),
tot AS (SELECT sum(c) AS n FROM joint),
scalars AS (
    SELECT
        (SELECT max(n) FROM tot) AS n,
        (SELECT sum((CAST(j.c AS DOUBLE) / t.n)
                    * ln((CAST(j.c AS DOUBLE) * t.n)
                         / (CAST(mt.ct AS DOUBLE) * mb.cb)))
         FROM joint j
         JOIN margt mt ON j.event_type = mt.event_type
         JOIN margb mb ON j.bin = mb.bin
         CROSS JOIN tot t) AS mi,
        (SELECT -sum((CAST(ct AS DOUBLE) / t.n)
                     * ln(CAST(ct AS DOUBLE) / t.n))
         FROM margt CROSS JOIN tot t) AS ht,
        (SELECT -sum((CAST(cb AS DOUBLE) / t.n)
                     * ln(CAST(cb AS DOUBLE) / t.n))
         FROM margb CROSS JOIN tot t) AS hb
)
SELECT 'event_type|value_quartile' AS pair,
       CAST(n AS BIGINT) AS n,
       round(mi, 6) AS mi_nats,
       round(ht, 6) AS h_type,
       round(hb, 6) AS h_bin,
       round(mi / least(ht, hb), 6) AS nmi
FROM scalars
"""


@query(
    "q167_mutual_information",
    oracle=_MI_SQL,
    tags=("aggregation", "statistics", "mutual-information", "profiling"),
)
def q167_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and normalized MI) between event type and the
    event value's global quartile: MI = Σ p(t,b)·ln(p(t,b)/(p(t)p(b))),
    the information-theoretic association measure that complements
    q133's chi-square (chi2 tests independence; MI quantifies how many
    nats knowing the value bin tells you about the type — the feature-
    relevance score used in selection pipelines). Quartile edges are
    integer-rank picks, not float interpolation: edge_i is the value at
    global rank ⌊n·i/4⌋, recovered EXACTLY from per-value counts and
    the window-free distributed running sum (ranks.py sample-sort
    shape) as "the smallest value whose cumulative count reaches the
    rank" — identical to the oracle's row_number() pick, because the
    rank of a value depends only on how many rows sort at or below it.

    Scale posture: per-value counts are one partial+final agg; the
    running sum is range-partitioned with broadcast offsets (no global
    rank window, no single-task stage); the 3 edges broadcast back as
    one row; the joint table is types×4 rows. Nothing after the first
    agg touches row grain except the map-side bin comparison.
    """
    events = load_tables(spark, sf_dir)["events"]
    counts = events.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    run = distributed_running_sum(counts, [F.asc("value")], {"cum": "cnt"})
    ntot = events.agg(F.count(F.lit(1)).alias("n_all"))
    edge_aggs = []
    for i in (1, 2, 3):
        k = F.expr(f"(n_all * {i}) div 4")
        edge_aggs.append(
            F.min(
                F.when((k >= 1) & (F.col("cum") >= k), F.col("value"))
            ).alias(f"e{i}")
        )
    edges = run.crossJoin(F.broadcast(ntot)).agg(*edge_aggs)
    binned = events.crossJoin(F.broadcast(edges)).select(
        "event_type",
        (
            F.lit(1)
            + (F.col("value") > F.col("e1")).cast("int")
            + (F.col("value") > F.col("e2")).cast("int")
            + (F.col("value") > F.col("e3")).cast("int")
        ).alias("bin"),
    )
    joint = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    margt = joint.groupBy("event_type").agg(F.sum("c").alias("ct"))
    margb = joint.groupBy("bin").agg(F.sum("c").alias("cb"))
    n = F.col("n_all").cast("double")
    mi_df = (
        joint.join(F.broadcast(margt), "event_type")
        .join(F.broadcast(margb), "bin")
        .crossJoin(F.broadcast(ntot))
        .agg(
            F.sum(
                (F.col("c").cast("double") / n)
                * F.log(
                    (F.col("c").cast("double") * n)
                    / (F.col("ct").cast("double") * F.col("cb"))
                )
            ).alias("mi")
        )
    )
    ht_df = (
        margt.crossJoin(F.broadcast(ntot))
        .agg(
            (-F.sum(
                (F.col("ct").cast("double") / n)
                * F.log(F.col("ct").cast("double") / n)
            )).alias("ht")
        )
    )
    hb_df = (
        margb.crossJoin(F.broadcast(ntot))
        .agg(
            (-F.sum(
                (F.col("cb").cast("double") / n)
                * F.log(F.col("cb").cast("double") / n)
            )).alias("hb")
        )
    )
    return (
        mi_df.crossJoin(F.broadcast(ht_df))
        .crossJoin(F.broadcast(hb_df))
        .crossJoin(F.broadcast(ntot))
        .select(
            F.lit("event_type|value_quartile").alias("pair"),
            F.col("n_all").cast("long").alias("n"),
            F.round(F.col("mi"), 6).alias("mi_nats"),
            F.round(F.col("ht"), 6).alias("h_type"),
            F.round(F.col("hb"), 6).alias("h_bin"),
            F.round(F.col("mi") / F.least(F.col("ht"), F.col("hb")), 6).alias(
                "nmi"
            ),
        )
    )


@query(
    "q174_bag_setops",
    oracle="""
    WITH a AS (SELECT c_nationkey AS k FROM customer),
    b AS (SELECT s_nationkey AS k FROM supplier),
    i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
    e AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    SELECT 'intersect_all' AS op, k, CAST(count(*) AS BIGINT) AS n
    FROM i GROUP BY k
    UNION ALL
    SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS n
    FROM e GROUP BY k
    ORDER BY op, k
    """,
    tags=("setops", "bag", "multiset"),
)
def q174_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) set operations — INTERSECT ALL keeps min(m, n)
    copies per value, EXCEPT ALL keeps max(m−n, 0) — over the customer
    and supplier nation-key multiplicity profiles. q08 covers the SET
    forms; the ALL forms are different operators with different plans:
    Spark rewrites them to a count-compare aggregation (generate rows
    via replication), not a distinct-based join. Emitted as value-grain
    counts.

    Scale posture: both rewrite to one shuffle on the value with
    partial counts per side — no row replication actually materializes
    until the generate step, and the output grain is bounded by
    distinct values.
    """
    t = load_tables(spark, sf_dir)
    a = t["customer"].select(F.col("c_nationkey").alias("k"))
    b = t["supplier"].select(F.col("s_nationkey").alias("k"))
    inter = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    return inter.unionAll(exc).orderBy("op", "k")


# Shared engine/oracle SQL: three-way NOT IN / NOT EXISTS null semantics.
_NOT_IN_SQL = """
WITH sub_null AS (
    SELECT s_nationkey AS k FROM supplier
    UNION ALL SELECT CAST(NULL AS BIGINT)
),
sub AS (SELECT s_nationkey AS k FROM supplier),
a AS (
    SELECT count(*) AS n FROM customer
    WHERE c_nationkey NOT IN (SELECT k FROM sub_null)
),
b AS (
    SELECT count(*) AS n FROM customer
    WHERE c_nationkey NOT IN (SELECT k FROM sub)
),
c AS (
    SELECT count(*) AS n FROM customer cu
    WHERE NOT EXISTS (SELECT 1 FROM sub_null s WHERE s.k = cu.c_nationkey)
)
SELECT 'not_in_with_null' AS variant, CAST(a.n AS BIGINT) AS n_rows FROM a
UNION ALL
SELECT 'not_in_clean', CAST(b.n AS BIGINT) FROM b
UNION ALL
SELECT 'not_exists_with_null', CAST(c.n AS BIGINT) FROM c
ORDER BY variant
"""


@query(
    "q176_not_in_null_semantics",
    oracle=_NOT_IN_SQL,
    tags=("join", "anti", "nulls", "null-aware"),
)
def q176_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN versus NOT EXISTS under NULLs — the classic three-valued-
    logic trap, run as the same SQL text on both engines: a single NULL
    in the NOT IN subquery makes the predicate UNKNOWN for every row
    (zero results), while NOT EXISTS ignores the NULL and returns the
    true complement. Spark plans the NOT IN form as a null-aware anti
    join (BroadcastNestedLoopJoin when the build side may hold NULLs) —
    a genuinely different operator from the hash left-anti of q23.

    Scale posture: the null-aware anti join is broadcast-nested-loop in
    the general case — this operator exists to make that cost visible.
    The fix at scale is the NOT EXISTS / left-anti form, shown side by
    side; pre-filtering NULLs from the subquery restores the hash plan.
    """
    register_views(spark, sf_dir)
    return spark.sql(_NOT_IN_SQL)


@query(
    "q193_ordered_listagg",
    oracle="""
    WITH per_nation AS (
        SELECT n.n_regionkey, n.n_name, count(c.c_custkey) AS n_cust
        FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, n.n_name
    )
    SELECT r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(p.n_cust) AS BIGINT) AS n_customers,
           string_agg(p.n_name || ':' || CAST(p.n_cust AS VARCHAR), ','
                      ORDER BY p.n_cust DESC, p.n_name) AS nations_by_size
    FROM per_nation p JOIN region r ON p.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    tags=("aggregation", "listagg", "collect", "ordered"),
)
def q193_ordered_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG (SQL:2016 T625): per region, the nation roster as
    one delimited string ordered largest-customer-count-first. Spark has
    no ordered string_agg aggregate, so the engine form is the
    collect→sort→join idiom: ``collect_list(struct(sort keys, payload))``
    then ``array_sort`` + ``transform`` + ``array_join`` — deterministic
    regardless of row arrival order, which is exactly what a bare
    ``collect_list`` (arrival-ordered, nondeterministic under retries
    and AQE) gets wrong at scale.

    Scale posture: the struct sort key makes the aggregate
    merge-safe (partial lists concatenate, one final sort per group);
    group payloads here are dimension-sized. For fact-sized groups an
    ordered-string aggregate is the wrong operator at 100 TB — cap with
    slice() after sorting, as any LISTAGG ... ON OVERFLOW TRUNCATE
    would."""
    t = load_tables(spark, sf_dir)
    per_nation = (
        t["nation"]
        .join(
            t["customer"],
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .groupBy("n_regionkey", "n_name")
        .agg(F.count("c_custkey").alias("n_cust"))
    )
    packed = per_nation.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_cust").alias("n_customers"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("n_cust")).alias("neg_n"),
                    F.col("n_name").alias("nm"),
                    F.col("n_cust").alias("n"),
                )
            )
        ).alias("sorted_pack"),
    )
    return (
        packed.join(
            F.broadcast(load_tables(spark, sf_dir)["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("n_nations").cast("long").alias("n_nations"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.array_join(
                F.transform(
                    "sorted_pack",
                    lambda s: F.concat_ws(":", s["nm"], s["n"].cast("string")),
                ),
                ",",
            ).alias("nations_by_size"),
        )
        .orderBy("region")
    )


@query(
    "q194_explode_outer_semantics",
    oracle="""
    WITH marked AS (
        SELECT doc_id, source,
               list_intersect(list_distinct(string_split(text, ' ')),
                              ['quantum', 'neural', 'tensor']) AS hits
        FROM documents
    ),
    ex AS (
        SELECT doc_id, source,
               unnest(CASE WHEN len(hits) = 0 THEN [NULL] ELSE hits END) AS hit
        FROM marked
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                               AS n_rows,
           CAST(count(hit) AS BIGINT)                             AS n_hits,
           CAST(count(DISTINCT CASE WHEN hit IS NULL THEN doc_id END) AS BIGINT)
               AS n_docs_without
    FROM ex
    GROUP BY source
    ORDER BY source
    """,
    tags=("explode", "outer", "nulls", "semantics"),
)
def q194_explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` null-preservation semantics: documents with NO
    marker-word hits survive the explode as a single NULL-hit row
    instead of disappearing — the difference between "rows per match"
    and "rows per match, plus presence of the unmatched". A plain
    explode here silently drops every miss, the classic
    coverage-report bug. The oracle emulates outer semantics by
    substituting ``[NULL]`` for empty lists before unnest.

    Scale posture: map-side explode (no shuffle until the per-source
    rollup); output cardinality is Σ max(|hits|, 1), bounded by
    corpus + marker count."""
    docs = load_tables(spark, sf_dir)["documents"]
    hits = F.array_intersect(
        F.array_distinct(F.split("text", " ")),
        F.array(F.lit("quantum"), F.lit("neural"), F.lit("tensor")),
    )
    ex = docs.select(
        "doc_id", "source", F.explode_outer(hits).alias("hit")
    )
    return (
        ex.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("hit").alias("n_hits"),
            F.countDistinct(
                F.when(F.col("hit").isNull(), F.col("doc_id"))
            ).alias("n_docs_without"),
        )
        .orderBy("source")
    )


_BLOOM_M = 256  # bits
_BLOOM_K = 4  # hash functions
_BLOOM_PROBE_N = 40  # probe keys 0..39; nationkeys cover 0..24


_BLOOM_POS = (
    "('0x' || substr(md5('bloom' || CAST(h.i AS VARCHAR) || '|'"
    " || CAST({x} AS VARCHAR)), 1, 8))::BIGINT % " + str(_BLOOM_M)
)


@query(
    "q196_portable_bloom_filter",
    oracle=f"""
    WITH hashes AS (
        SELECT unnest(generate_series(1, {_BLOOM_K})) AS i
    ),
    keys AS (
        SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer
    ),
    bits AS (
        SELECT {_BLOOM_POS.format(x='keys.k')} AS pos
        FROM keys CROSS JOIN hashes h
    ),
    words AS (
        SELECT pos // 32 AS w, bit_or(1::BIGINT << (pos % 32)) AS mask
        FROM bits GROUP BY pos // 32
    ),
    probes AS (
        SELECT unnest(generate_series(0, {_BLOOM_PROBE_N - 1})) AS probe_key
    ),
    probe_bits AS (
        SELECT probes.probe_key, {_BLOOM_POS.format(x='probes.probe_key')} AS pos
        FROM probes CROSS JOIN hashes h
    ),
    checked AS (
        SELECT pb.probe_key,
               bool_and(coalesce((w.mask >> (pb.pos % 32)) & 1, 0) = 1)
                   AS predicted
        FROM probe_bits pb LEFT JOIN words w ON pb.pos // 32 = w.w
        GROUP BY pb.probe_key
    )
    SELECT c.probe_key,
           c.predicted,
           EXISTS (SELECT 1 FROM keys WHERE k = c.probe_key) AS actual,
           c.predicted AND NOT EXISTS
               (SELECT 1 FROM keys WHERE k = c.probe_key)    AS false_positive
    FROM checked c
    ORDER BY c.probe_key
    """,
    tags=("sketch", "bloom", "membership", "aggregation"),
)
def q196_portable_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch portable Bloom filter (m=256 bits as 8 32-bit words,
    k=4 salted md5 hashes): built over the distinct customer nation
    keys, then probed with keys 0..39 — present keys must all predict
    true (no false negatives, by construction), and the absent probes
    measure the real false-positive rate at this fill factor. Completes
    the portable-sketch family: q156 (HLL, cardinality), q159 (bitmap,
    exact distinct), q158 (Misra-Gries, heavy hitters).

    The filter state is 8 rows of (word, bit_or mask) — the partial+
    final bit_or aggregation IS the distributed Bloom build (masks OR
    associatively/commutatively, so map-side combine is exact), and the
    same 4-row state broadcast to probes is how a 100 TB anti-join
    prefilter ships: bytes, not keys, cross the wire."""
    t = load_tables(spark, sf_dir)
    keys = t["customer"].select(
        F.col("c_nationkey").cast("long").alias("k")
    ).distinct()

    def pos(i: int, col):
        return (
            hex_int(F.md5(F.concat(F.lit(f"bloom{i}|"), col.cast("string"))), 1, 8)
            % _BLOOM_M
        )

    bits = None
    for i in range(1, _BLOOM_K + 1):
        b = keys.select(pos(i, F.col("k")).alias("pos"))
        bits = b if bits is None else bits.unionAll(b)
    words = bits.groupBy((F.col("pos") / 32).cast("long").alias("w")).agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(pos % 32 as int)))").alias(
            "mask"
        )
    )

    probes = spark.range(_BLOOM_PROBE_N).select(F.col("id").alias("probe_key"))
    probe_bits = None
    for i in range(1, _BLOOM_K + 1):
        b = probes.select("probe_key", pos(i, F.col("probe_key")).alias("pos"))
        probe_bits = b if probe_bits is None else probe_bits.unionAll(b)
    checked = (
        probe_bits.join(
            F.broadcast(words),
            (F.col("pos") / 32).cast("long") == F.col("w"),
            "left",
        )
        .select(
            "probe_key",
            (
                F.coalesce(
                    F.expr("shiftright(mask, cast(pos % 32 as int)) & 1"),
                    F.lit(0),
                )
                == 1
            ).alias("bit_set"),
        )
        .groupBy("probe_key")
        .agg(F.bool_and("bit_set").alias("predicted"))
    )
    actual = keys.select(F.col("k").alias("probe_key"), F.lit(True).alias("actual"))
    return (
        checked.join(F.broadcast(actual), "probe_key", "left")
        .select(
            "probe_key",
            "predicted",
            F.coalesce(F.col("actual"), F.lit(False)).alias("actual"),
            (
                F.col("predicted") & ~F.coalesce(F.col("actual"), F.lit(False))
            ).alias("false_positive"),
        )
        .orderBy("probe_key")
    )


@query(
    "q203_percentile_disc_vs_cont",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)                          AS n,
           round(quantile_cont(c_acctbal, 0.5), 4)           AS p50_cont,
           round(quantile_disc(c_acctbal, 0.5), 4)           AS p50_disc,
           round(quantile_cont(c_acctbal, 0.9), 4)           AS p90_cont,
           round(quantile_disc(c_acctbal, 0.9), 4)           AS p90_disc,
           round(quantile_cont(c_acctbal, 0.5)
                 - quantile_disc(c_acctbal, 0.5), 4) + 0.0   AS p50_gap
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("aggregation", "quantiles", "statistics", "semantics"),
)
def q203_percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT vs PERCENTILE_DISC semantics, side by side per
    segment: CONT interpolates between the two bracketing order
    statistics (SQL:2008; Spark's exact ``percentile``), DISC returns
    the first actual value at-or-above the rank (Spark has no disc
    aggregate — it is reconstructed EXACTLY as the minimum value whose
    cume_dist reaches p, via one window pass). The gap column makes
    the difference auditable — on skewed balances the two medians
    genuinely differ, and treating one as the other is a silent
    reporting bug.

    Scale posture: CONT is one partial+final exact-percentile
    aggregate; the DISC reconstruction shares the segment partition
    for its cume_dist window. At 100 TB both downgrade to
    approx_percentile with bounded rank error (q15's posture)."""
    cust = load_tables(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    with_cd = cust.select(
        "c_mktsegment",
        "c_acctbal",
        F.cume_dist().over(w).alias("cd"),
    )
    disc = with_cd.groupBy("c_mktsegment").agg(
        F.min(F.when(F.col("cd") >= 0.5, F.col("c_acctbal"))).alias("d50"),
        F.min(F.when(F.col("cd") >= 0.9, F.col("c_acctbal"))).alias("d90"),
    )
    cont = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("c_acctbal", F.lit(0.5)).alias("c50"),
        F.percentile("c_acctbal", F.lit(0.9)).alias("c90"),
    )
    return (
        cont.join(disc, "c_mktsegment")
        .select(
            "c_mktsegment",
            F.col("n").cast("long").alias("n"),
            F.round("c50", 4).alias("p50_cont"),
            F.round("d50", 4).alias("p50_disc"),
            F.round("c90", 4).alias("p90_cont"),
            F.round("d90", 4).alias("p90_disc"),
            round_nz(F.col("c50") - F.col("d50"), 4).alias("p50_gap"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q208_histogram_2d",
    oracle="""
    SELECT CAST(floor(l_quantity / 10) AS INTEGER)        AS qty_bin,
           CAST(round(l_discount * 100) AS INTEGER) // 2  AS disc_bin,
           CAST(count(*) AS BIGINT)                       AS n,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
               AS revenue
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY qty_bin, disc_bin
    """,
    tags=("aggregation", "histogram", "profiling"),
)
def q208_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram: lineitem binned jointly by quantity decade and
    discount percentage pair — the joint-distribution heatmap feed
    that reveals correlations a pair of 1-D histograms (q106/q120)
    cannot (e.g. discounts concentrated on bulk orders). Bin edges are
    integer arithmetic on exact cents/units, identical on both
    engines.

    Scale posture: the purest partial+final shape there is — map-side
    binning into a bounded (|qty bins| × |disc bins|) key space means
    the shuffle carries only the aggregate states; this plan is
    unchanged at any corpus size."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.select(
            F.floor(F.col("l_quantity") / 10).cast("int").alias("qty_bin"),
            F.expr(
                "cast(cast(round(l_discount * 100) as int) div 2 as int)"
            ).alias("disc_bin"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("qty_bin", "disc_bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
        )
        .orderBy("qty_bin", "disc_bin")
    )


@query(
    "q213_date_spine",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('day', min(o_orderdate)) AS lo,
               date_trunc('day', max(o_orderdate)) AS hi
        FROM orders
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
    ),
    daily AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        GROUP BY date_trunc('day', o_orderdate)
    )
    SELECT date_trunc('month', s.d) AS month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN daily.d IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_order_days,
           CAST(coalesce(sum(daily.n_orders), 0) AS BIGINT) AS n_orders,
           round(coalesce(sum(daily.cents), 0) / 100.0, 2)  AS revenue
    FROM spine s LEFT JOIN daily ON s.d = daily.d
    GROUP BY date_trunc('month', s.d)
    ORDER BY month
    """,
    tags=("timeseries", "calendar", "spine", "outer"),
)
def q213_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine densification: generate the CONTINUOUS calendar
    between the first and last order dates (``sequence`` — the
    warehouse "date dimension" built on the fly), left-join daily
    aggregates onto it, and report per month how many calendar days
    had zero orders — the silence a plain GROUP BY day can never show,
    and the difference between "no row" and "zero" every reporting
    layer trips over. Complements q104's gap-fill (which interpolates
    values; the spine exposes the gaps themselves).

    Scale posture: the spine is |days| rows generated from a 1-row
    bounds aggregate — broadcast onto the daily rollup; orders
    collapse to day grain map-side before any join. Day/month columns
    stay TIMESTAMPs (DATE-typed results normalize differently across
    engines — see the verify-skill trap)."""
    orders = load_tables(spark, sf_dir)["orders"]
    bounds = orders.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    daily = (
        orders.select(
            F.date_trunc("day", F.col("o_orderdate")).alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("cents"))
    )
    joined = spine.join(daily, "d", "left")
    return (
        joined.groupBy(F.date_trunc("month", F.col("d")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.col("n_orders").isNull().cast("long")).alias(
                "zero_order_days"
            ),
            F.coalesce(F.sum("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
            F.round(F.coalesce(F.sum("cents"), F.lit(0)) / 100.0, 2).alias(
                "revenue"
            ),
        )
        .orderBy("month")
    )


@query(
    "q216_union_schema_reconcile",
    oracle="""
    WITH legacy AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(NULL AS DOUBLE) AS o_totalprice,
               CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    modern AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    unified AS (
        SELECT * FROM legacy UNION ALL SELECT * FROM modern
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)                 AS n_rows,
           CAST(count(o_totalprice) AS BIGINT)      AS n_with_price,
           CAST(count(o_orderpriority) AS BIGINT)   AS n_with_priority,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
               AS modern_revenue
    FROM unified
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("setops", "schema-evolution", "union"),
)
def q216_union_schema_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-reconciling union: a legacy extract missing two columns
    unions with the modern shape via ``unionByName(allowMissingColumns
    =True)`` — absent columns back-fill as NULL by NAME, not by
    position, which is the difference between correct evolution and
    the silent column-swap a positional UNION ALL commits when shapes
    drift. The code-level twin of q125's mergeSchema read path.

    Scale posture: union is a no-op plan node (no shuffle); the
    NULL back-fill is free metadata. The rollup counts per column
    prove exactly which rows carried which fields."""
    orders = load_tables(spark, sf_dir)["orders"]
    legacy = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    modern = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    unified = legacy.unionByName(modern, allowMissingColumns=True)
    return (
        unified.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_totalprice").alias("n_with_price"),
            F.count("o_orderpriority").alias("n_with_priority"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0,
                2,
            ).alias("modern_revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q222_fit_transform_bucketing",
    oracle="""
    WITH train AS (
        SELECT o_totalprice FROM orders WHERE o_orderkey % 10 < 8
    ),
    bounds AS (
        SELECT quantile_cont(o_totalprice, 0.25) AS q1,
               quantile_cont(o_totalprice, 0.50) AS q2,
               quantile_cont(o_totalprice, 0.75) AS q3
        FROM train
    ),
    test AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 >= 8
    ),
    bucketed AS (
        SELECT CASE WHEN t.o_totalprice < b.q1 THEN 0
                    WHEN t.o_totalprice < b.q2 THEN 1
                    WHEN t.o_totalprice < b.q3 THEN 2
                    ELSE 3 END AS bucket,
               t.o_totalprice
        FROM test t CROSS JOIN bounds b
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_test_rows,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("aggregation", "features", "discretization", "fit-transform"),
)
def q222_fit_transform_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-transform discipline for feature discretization: quartile
    boundaries are FIT on the train split only, then applied to the
    held-out test split — computing boundaries over all data would
    leak test distribution into the features (the quiet sibling of
    q195's group leakage). A well-fit transform puts roughly a quarter
    of unseen rows in each bucket; the per-bucket test counts are the
    drift check.

    Scale posture: the fit is one exact-percentile aggregate reduced
    to a single 3-number row, broadcast into a map-side CASE over the
    test split — the transform never shuffles. At 100 TB swap the fit
    to approx_percentile and persist the boundary row as the model
    artifact (fit once, transform forever)."""
    orders = load_tables(spark, sf_dir)["orders"]
    train = orders.where(F.col("o_orderkey") % 10 < 8)
    bounds = train.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.50)).alias("q2"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    test = orders.where(F.col("o_orderkey") % 10 >= 8).select(
        "o_orderkey", "o_totalprice"
    )
    bucket = (
        F.when(F.col("o_totalprice") < F.col("q1"), 0)
        .when(F.col("o_totalprice") < F.col("q2"), 1)
        .when(F.col("o_totalprice") < F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        test.crossJoin(F.broadcast(bounds))
        .select(bucket.cast("int").alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_test_rows"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("bucket")
    )


@query(
    "q223_sharded_exact_topk",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS rev_cents
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT l_partkey,
           round(rev_cents / 100.0, 2) AS revenue
    FROM per_part
    ORDER BY rev_cents DESC, l_partkey
    LIMIT 10
    """,
    tags=("aggregation", "topk", "sharding", "distributed"),
)
def q223_sharded_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed top-k via key-disjoint sharding: per-part
    revenue is aggregated, sharded by a hash of the KEY into 8 shards,
    each shard keeps its local top-10, and the ≤80 survivors merge to
    the global top-10. Because sharding is BY KEY after full
    aggregation, every key's total lives in exactly one shard — the
    local top-10s provably contain the global top-10 (this is the
    condition that makes two-phase top-k exact; sharding raw rows
    before aggregation would NOT be). The oracle computes the direct
    top-10; equality IS the proof.

    Scale posture: this is how top-k over more keys than one node can
    hold actually ships — per-shard heaps bound memory at k per
    shard, and the merge moves 8k rows. Spark's own TakeOrdered does
    the same thing per partition; the explicit shard column makes the
    invariant visible and portable (e.g. to a map/reduce runtime like
    the reference's, one shard per mapper)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    per_part = (
        li.select(
            "l_partkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    sharded = per_part.withColumn(
        "shard", F.pmod(F.xxhash64("l_partkey"), F.lit(8))
    )
    w = Window.partitionBy("shard").orderBy(
        F.desc("rev_cents"), F.asc("l_partkey")
    )
    local_topk = sharded.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 10
    )
    return (
        local_topk.orderBy(F.desc("rev_cents"), F.asc("l_partkey"))
        .limit(10)
        .select(
            "l_partkey",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        )
    )


# Shared engine/oracle SQL (q238): WITH RECURSIVE month spine bounded by
# the orders date range, left-joined to monthly revenue. Identical text
# runs on Spark 4.1 and DuckDB; months surface as TIMESTAMP on both
# sides (a DATE column would normalize differently in the comparator).
_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE bounds AS (
    SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
           CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
    FROM orders
),
spine AS (
    SELECT lo AS m FROM bounds
    UNION ALL
    SELECT CAST(m + INTERVAL '1' MONTH AS DATE) AS m
    FROM spine, bounds WHERE m < hi
),
rev AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
)
SELECT CAST(s.m AS TIMESTAMP)               AS month,
       CAST(coalesce(r.n_orders, 0) AS BIGINT) AS n_orders,
       round(coalesce(r.cents, 0) / CAST(100 AS DOUBLE), 2) AS revenue
FROM spine s LEFT JOIN rev r ON CAST(s.m AS TIMESTAMP) = r.m
ORDER BY month
"""


@query(
    "q238_recursive_month_spine",
    oracle=_RECURSIVE_SPINE_SQL,
    tags=("sql", "recursive-cte", "spine", "gapfill"),
)
def q238_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 ``WITH RECURSIVE``) generating the
    month spine between the first and last order month, left-joined to
    monthly revenue so empty months surface as explicit zero rows — the
    iterative-sequence operator class (hierarchies, frontiers, ledgers)
    expressed in-dialect instead of via driver-side loops. The same SQL
    text runs on both engines, so spine construction and the
    exact-cents revenue cannot diverge; q213's generate-series spine is
    the non-recursive special case of this shape.

    Scale posture: the recursion touches only the |months|-row spine
    (anchor + one tiny step per month — driver-iterated metadata, never
    data-grain); revenue is one partial+final agg at month grain, and
    the spine⋈rev join is broadcast-sized by construction.
    """
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SPINE_SQL)


_CMS_D = 4      # hash rows
_CMS_W = 32     # counters per row
_CMS_PROBES = (1, 7, 13, 19, 25)  # supplier keys to estimate


def _cms_oracle() -> str:
    # One md5 digest per key; hash row j reads the j-th disjoint 8-hex
    # (32-bit) window of it — see the q254 docstring.
    idx = ("CAST(('0x' || substr(md5('cms|' || CAST({k} AS VARCHAR)),"
           " 1 + 8 * {j}, 8))::BIGINT % 32 AS INTEGER)")
    return f"""
    WITH rows_j AS (SELECT unnest(range(4)) AS j),
    sketch AS (
        SELECT r.j, {idx.format(j="r.j", k="l.l_suppkey")} AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem l CROSS JOIN rows_j r
        GROUP BY r.j, idx
    ),
    probes AS (SELECT unnest([1, 7, 13, 19, 25]) AS suppkey),
    est AS (
        SELECT p.suppkey, min(s.c) AS cms_estimate
        FROM probes p
        JOIN rows_j r ON true
        LEFT JOIN sketch s
          ON s.j = r.j AND s.idx = {idx.format(j="r.j", k="p.suppkey")}
        GROUP BY p.suppkey
    ),
    exact AS (
        SELECT l_suppkey AS suppkey, count(*) AS n
        FROM lineitem WHERE l_suppkey IN (1, 7, 13, 19, 25)
        GROUP BY l_suppkey
    )
    SELECT e.suppkey,
           CAST(coalesce(x.n, 0) AS BIGINT)  AS exact_count,
           CAST(e.cms_estimate AS BIGINT)    AS cms_estimate,
           CAST(e.cms_estimate - coalesce(x.n, 0) AS BIGINT) AS overcount
    FROM est e LEFT JOIN exact x ON e.suppkey = x.suppkey
    ORDER BY e.suppkey
    """


@query(
    "q254_portable_count_min",
    oracle=_cms_oracle(),
    tags=("aggregation", "sketch", "count-min", "frequency"),
)
def q254_portable_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch count-min sketch (d=4 rows × w=32 counters) with
    fully cross-engine-deterministic arithmetic, completing the
    portable-sketch family (HLL q156, Bloom filter q196): every
    lineitem increments one counter per hash row (salted md5 hex
    prefix mod w — the q156 idiom, never engine-native hash), and a
    key's frequency estimate is the MIN over its d counters —
    one-sided error, never an undercount. Five probe suppliers are
    estimated and audited against their exact counts; `overcount` is
    the collision inflation (≥ 0 by construction, the sketch's
    correctness invariant).

    The d row-hashes come from ONE md5 digest per key: hash row j
    reads the j-th disjoint 8-hex (32-bit) window of md5('cms|'+key)
    — md5 output bits are independent across windows, which is all
    the pairwise-independence CMS's error bound needs, and it cuts
    the map-side hash work d-fold (the round-3 bench showed 4
    digests/row dominating the runtime on a 3-partition scan).

    Like the HLL's registers, the 128-counter table is the mergeable
    state: merge = elementwise SUM, which is exactly the partial+final
    aggregate Spark plans — a per-source or per-hour sketch rolls up
    to any coarser grain without rescanning facts.

    Scale posture: the d-fold fan-out explodes a 4-element literal
    array (map-side ×4, no join); the only shuffle is the (j, idx)
    128-cell aggregate with map-side combine; probes read the 128-row
    sketch via a broadcast join. At 100 TB widen w, not the dataflow.
    """
    li = load_tables(spark, sf_dir)["lineitem"]

    def digest(k: Column) -> Column:
        return F.md5(F.concat(F.lit("cms|"), k.cast("string")))

    def idx(j: Column, h: Column) -> Column:
        return (hex_int(h, 1 + j * 8, 8) % 32).cast("int")

    # Digest ONCE per row (a scalar column survives projection
    # collapse), then explode the j axis and window into the digest.
    # The key column is rebalanced across cores first: fixture parquet
    # is single-row-group, so the scan alone gives the hash stage ONE
    # productive task (see catalog.rebalance_for_cpu).
    keys = rebalance_for_cpu(li.select("l_suppkey"))
    fan = keys.select(digest(F.col("l_suppkey")).alias("h")).select(
        "h", F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j")
    )
    sketch = fan.groupBy(
        "j", idx(F.col("j"), F.col("h")).alias("idx")
    ).agg(F.count(F.lit(1)).alias("c"))

    # One literal probes×rows table, NOT a crossJoin of two local
    # DataFrames: each local side defaults to |defaultParallelism|
    # partitions, so the cartesian planned 32×32 = 1024 tasks for 20
    # rows — 15 s of pure task-scheduling overhead at sf0.1 (caught by
    # the round-3 bench; the sketch math itself is sub-second).
    probe_cells = li.sparkSession.createDataFrame(
        [(k, j) for k in _CMS_PROBES for j in range(4)], "suppkey long, j int"
    ).withColumn("idx", idx(F.col("j"), digest(F.col("suppkey"))))
    est = (
        probe_cells.join(F.broadcast(sketch), ["j", "idx"], "left")
        .groupBy("suppkey")
        .agg(F.min("c").alias("cms_estimate"))
    )
    exact = (
        li.filter(F.col("l_suppkey").isin(*_CMS_PROBES))
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        est.join(F.broadcast(exact), "suppkey", "left")
        .select(
            "suppkey",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("exact_count"),
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.coalesce(F.col("n"), F.lit(0)))
            .cast("long").alias("overcount"),
        )
        .orderBy("suppkey")
    )


_QH_WIDTH = 500.0   # histogram bin width over l_extendedprice
_QH_TARGETS = (0.5, 0.9, 0.99)


@query(
    "q285_mergeable_quantile_histogram",
    oracle=f"""
    WITH partials AS (
        SELECT l_returnflag AS grp,
               CAST(floor(l_extendedprice / {_QH_WIDTH}) AS BIGINT) AS bin,
               count(*) AS cnt
        FROM lineitem
        GROUP BY l_returnflag, 2
    ),
    merged AS (
        SELECT bin, sum(cnt) AS cnt FROM partials GROUP BY bin
    ),
    cum AS (
        SELECT bin, cnt,
               sum(cnt) OVER (ORDER BY bin) AS cum,
               sum(cnt) OVER (ORDER BY bin) - cnt AS cum_before
        FROM merged
    ),
    meta AS (
        SELECT sum(cnt) AS n_rows, count(*) AS n_bins FROM merged
    ),
    targets AS (
        SELECT * FROM (VALUES {",".join(f"({p})" for p in _QH_TARGETS)}) t(p)
    ),
    est AS (
        SELECT t.p, m.n_rows, m.n_bins,
               round({_QH_WIDTH} * c.bin
                     + {_QH_WIDTH} * (t.p * m.n_rows - c.cum_before) / c.cnt,
                     4) AS est_value
        FROM targets t CROSS JOIN meta m
        JOIN cum c ON c.cum >= t.p * m.n_rows
                  AND c.cum_before < t.p * m.n_rows
    ),
    ranked AS MATERIALIZED (
        SELECT l_extendedprice AS v,
               row_number() OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
        FROM lineitem
    ),
    exact_rows AS (
        SELECT t.p,
               round(lo.v + (1 + t.p * (m.n_rows - 1)
                             - floor(1 + t.p * (m.n_rows - 1)))
                          * (hi.v - lo.v), 4) AS exact_value
        FROM targets t CROSS JOIN meta m
        JOIN ranked lo
          ON lo.rn = CAST(floor(1 + t.p * (m.n_rows - 1)) AS BIGINT)
        JOIN ranked hi
          ON hi.rn = CAST(ceil(1 + t.p * (m.n_rows - 1)) AS BIGINT)
    )
    SELECT e.p, e.est_value, x.exact_value,
           round(abs(e.est_value - x.exact_value) / x.exact_value, 6)
               AS rel_err,
           CAST(e.n_bins AS BIGINT) AS n_bins,
           CAST(e.n_rows AS BIGINT) AS n_rows
    FROM est e JOIN exact_rows x ON e.p = x.p
    ORDER BY e.p
    """,
    tags=("aggregation", "sketch", "quantile", "histogram", "mergeable"),
)
def q285_mergeable_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-width quantile histogram with an exact audit —
    the last missing member of the portable-sketch family (HLL q156:
    cardinality; CMS q254: frequency; KMV q276: intersection; bloom
    q196: membership; this: quantiles): per-group partial histograms
    over l_extendedprice (bin = floor(v/500)) merge by plain SUM —
    associative, so sketches from different days/engines/shards
    combine — and each target quantile reads off the merged histogram
    by linear interpolation inside the crossing bin. Emits p50/p90/p99
    estimate vs exact percentile and the relative error the bin width
    bounds (≤ width/value ≈ 0.5%/p50 here).

    Determinism: binning is floor of one IEEE division (identical
    cross-engine); interpolation is exact-integer arithmetic with one
    division; the exact side computes quantile_cont's definition —
    v_lo + frac·(v_hi − v_lo) at ranks floor/ceil(1 + p(n−1)) — from
    explicit row numbers, so no engine interpolation convention is
    trusted, both rounded 4.

    Scale posture: the sketch is a partial+final count at bin grain —
    bounded by value range/width, corpus-independent — so the corpus
    is touched once map-side; the cumulative scan and quantile lookup
    run on the ≤|bins|-row merged table (the bounded-grain window
    documented safe). The exact audit rides the sample-sort rank
    primitive (q249's machinery, every stage parallel — Spark's exact
    `percentile` aggregate buffers all values into one reducer and
    cost 7.9 s at sf0.1) plus two broadcast point lookups — drop it in
    production and only the histogram remains. Reference contract:
    per-row binning = map slot (``App.config:16``); histogram merge =
    reduce slot (``App.config:17``)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    partials = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice") / _QH_WIDTH).cast("long").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = partials.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    # Bounded-grain cumulative: |bins| = price-range / width, independent
    # of corpus size — the one place an unpartitioned window is safe.
    w = bounded_order("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
    )
    meta = merged.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_bins")
    )
    targets = spark.createDataFrame([(p,) for p in _QH_TARGETS], "p double")
    est = (
        targets.crossJoin(F.broadcast(meta))
        .join(
            F.broadcast(cum),
            (F.col("cum") >= F.col("p") * F.col("n_rows"))
            & (F.col("cum_before") < F.col("p") * F.col("n_rows")),
        )
        .select(
            "p",
            "n_rows",
            "n_bins",
            F.round(
                _QH_WIDTH * F.col("bin")
                + _QH_WIDTH
                * (F.col("p") * F.col("n_rows") - F.col("cum_before"))
                / F.col("cnt"),
                4,
            ).alias("est_value"),
        )
    )
    # Exact audit via the sample-sort rank primitive (q249's machinery):
    # Spark's exact `percentile` aggregate buffers every value into one
    # final reducer (7.9 s at sf0.1); ranking + two point lookups at
    # floor/ceil(1 + p(n-1)) computes the identical interpolated value
    # with every stage parallel.
    from azure_batch_map_reduce_spark.operators.ranks import (
        distributed_row_number,
    )

    ranked = distributed_row_number(
        li.select(
            F.col("l_extendedprice").alias("v"), "l_orderkey", "l_linenumber"
        ),
        [F.col("v").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        out="rn",
    )
    h = 1 + F.col("p") * (F.col("n_rows") - 1)
    pos = targets.crossJoin(F.broadcast(meta)).select(
        "p",
        F.floor(h).cast("long").alias("rn_lo"),
        F.ceil(h).cast("long").alias("rn_hi"),
        (h - F.floor(h)).alias("frac"),
    )
    lo = ranked.join(
        F.broadcast(pos.select("p", "frac", F.col("rn_lo").alias("rn"))), "rn"
    ).select("p", "frac", F.col("v").alias("v_lo"))
    hi = ranked.join(
        F.broadcast(pos.select(F.col("p").alias("p2"), F.col("rn_hi").alias("rn"))),
        "rn",
    ).select(F.col("p2").alias("p"), F.col("v").alias("v_hi"))
    exact_rows = lo.join(F.broadcast(hi), "p").select(
        "p",
        F.round(
            F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo")), 4
        ).alias("exact_value"),
    )
    return (
        est.join(F.broadcast(exact_rows), "p")
        .select(
            "p",
            "est_value",
            "exact_value",
            F.round(
                F.abs(F.col("est_value") - F.col("exact_value"))
                / F.col("exact_value"),
                6,
            ).alias("rel_err"),
            F.col("n_bins").cast("long").alias("n_bins"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        .orderBy("p")
    )


_SW_DAYS = 7  # trailing window width (days)


@query(
    "q294_sliding_hll_union",
    oracle=f"""
    WITH keyed AS (
        SELECT date_trunc('day', ts) AS day,
               user_id,
               ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 2))::BIGINT % 64 AS j,
               least(CASE WHEN ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 3, 8))::BIGINT = 0
                          THEN 33
                          ELSE 33 - length(regexp_replace(
                              bin(('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 3, 8))::BIGINT),
                              '^0+', ''))
                     END, 30) AS rho
        FROM events
    ),
    day_reg AS (
        SELECT day, j, max(rho) AS mj FROM keyed GROUP BY day, j
    ),
    days AS (SELECT DISTINCT day FROM day_reg),
    win_reg AS (
        SELECT w.day, r.j, max(r.mj) AS mj
        FROM days w
        JOIN day_reg r
          ON r.day > w.day - INTERVAL {_SW_DAYS} DAY AND r.day <= w.day
        GROUP BY w.day, r.j
    ),
    state AS (
        SELECT day,
               sum(1::BIGINT << (30 - mj))
                   + (64 - count(*)) * (1::BIGINT << 30) AS sum_int,
               64 - count(*) AS v
        FROM win_reg GROUP BY day
    ),
    exact AS (
        SELECT w.day, count(DISTINCT k.user_id) AS exact_distinct
        FROM days w
        JOIN keyed k
          ON k.day > w.day - INTERVAL {_SW_DAYS} DAY AND k.day <= w.day
        GROUP BY w.day
    )
    SELECT s.day AS window_day,
           round(CASE WHEN s.v > 0 THEN 64 * ln(64.0 / s.v)
                      ELSE 0.709 * 4096.0 * 1073741824.0 / s.sum_int
                 END, 4) AS hll_estimate,
           CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
           round((CASE WHEN s.v > 0 THEN 64 * ln(64.0 / s.v)
                       ELSE 0.709 * 4096.0 * 1073741824.0 / s.sum_int
                  END - e.exact_distinct) / e.exact_distinct, 4) + 0.0
               AS rel_error
    FROM state s JOIN exact e ON s.day = e.day
    ORDER BY s.day
    """,
    tags=("aggregation", "sketch", "hll", "sliding", "rolling", "distinct"),
)
def q294_sliding_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day via MERGED day sketches —
    the pre-aggregate-then-reuse pattern that makes rolling distinct
    feasible at 100 TB: each day's events collapse ONCE into a
    64-register HLL; every 7-day window then unions seven day-sketches
    by elementwise register MAX (the mergeability q156 establishes)
    instead of re-scanning seven days of raw events per window the way
    the exact rolling form (q148) must. The exact audit column
    quantifies what the sketch trades away.

    Determinism: q156's engine-pinned register derivation; merge is
    MAX (order-free); harmonic sums exact int64; rel_error rounds with
    signed-zero normalization.

    Scale posture: raw events are touched exactly once (day×register
    partial+final aggregate, ≤ days×64 rows); the sliding union is a
    bounded range join at DAY grain (7×64 rows per window) — corpus
    volume never re-enters. Day sketches persist as a tiny table in
    production, so backfilling a new window width touches no raw data
    at all. The exact audit is the expensive path (range join at event
    grain) — production drops it. Reference contract: per-event
    register derivation = map slot (``App.config:16``); register-max
    consolidation = reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    h = F.md5(F.concat(F.lit("hll|"), F.col("user_id").cast("string")))
    wrd = hex_int(h, 3, 8)
    keyed = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
        (hex_int(h, 1, 2) % 64).alias("j"),
        F.least(
            F.when(wrd == 0, F.lit(33)).otherwise(33 - F.length(F.bin(wrd))),
            F.lit(30),
        ).alias("rho"),
    )
    day_reg = keyed.groupBy("day", "j").agg(F.max("rho").alias("mj"))
    days = day_reg.select("day").distinct()
    r = day_reg.select(
        F.col("day").alias("rday"), "j", "mj"
    )
    win_reg = (
        days.join(
            r,
            (F.col("rday") > F.col("day") - F.expr(f"INTERVAL {_SW_DAYS} DAY"))
            & (F.col("rday") <= F.col("day")),
        )
        .groupBy("day", "j")
        .agg(F.max("mj").alias("mj"))
    )
    state = win_reg.groupBy("day").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 30 - mj)"))
            + (F.lit(64) - F.count(F.lit(1))) * F.lit(1 << 30)
        ).alias("sum_int"),
        (F.lit(64) - F.count(F.lit(1))).alias("v"),
    )
    ek = keyed.select(F.col("day").alias("kday"), "user_id")
    exact = (
        days.join(
            ek,
            (F.col("kday") > F.col("day") - F.expr(f"INTERVAL {_SW_DAYS} DAY"))
            & (F.col("kday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    est = F.when(
        F.col("v") > 0, 64 * F.log(64.0 / F.col("v").cast("double"))
    ).otherwise(F.lit(0.709 * 4096.0 * 1073741824.0) / F.col("sum_int"))

    return (
        state.join(exact, "day")
        .select(
            F.col("day").alias("window_day"),
            F.round(est, 4).alias("hll_estimate"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            round_nz(
                (est - F.col("exact_distinct")) / F.col("exact_distinct"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("window_day")
    )


def _jse_idx(j: str, k: str) -> str:
    return (
        "CAST(('0x' || substr(md5('cms|' || CAST({k} AS VARCHAR)),"
        " 1 + 8 * {j}, 8))::BIGINT % 32 AS INTEGER)"
    ).format(j=j, k=k)


@query(
    "q302_cms_join_size_estimate",
    oracle=f"""
    WITH rows_j AS (SELECT unnest(range(4)) AS j),
    sk_part AS (
        SELECT r.j, {_jse_idx("r.j", "l.l_partkey")} AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem l CROSS JOIN rows_j r
        GROUP BY r.j, idx
    ),
    sk_lord AS (
        SELECT r.j, {_jse_idx("r.j", "l.l_orderkey")} AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem l CROSS JOIN rows_j r
        GROUP BY r.j, idx
    ),
    sk_oord AS (
        SELECT r.j, {_jse_idx("r.j", "o.o_orderkey")} AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM orders o CROSS JOIN rows_j r
        GROUP BY r.j, idx
    ),
    est_self AS (
        SELECT min(s) AS est FROM (
            SELECT j, sum(c * c) AS s FROM sk_part GROUP BY j
        )
    ),
    est_fk AS (
        SELECT min(s) AS est FROM (
            SELECT a.j, sum(a.c * b.c) AS s
            FROM sk_lord a JOIN sk_oord b ON a.j = b.j AND a.idx = b.idx
            GROUP BY a.j
        )
    ),
    ex_self AS (
        SELECT sum(d * d) AS n FROM (
            SELECT count(*) AS d FROM lineitem GROUP BY l_partkey
        )
    ),
    ex_fk AS (SELECT count(*) AS n FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT 'lineitem_x_lineitem_on_partkey' AS join_name,
           CAST(x.n AS BIGINT) AS exact_size,
           CAST(e.est AS BIGINT) AS cms_estimate,
           round((e.est - x.n) / CAST(x.n AS DOUBLE), 4) + 0.0 AS rel_overcount
    FROM est_self e CROSS JOIN ex_self x
    UNION ALL
    SELECT 'lineitem_x_orders_on_orderkey',
           CAST(x.n AS BIGINT), CAST(e.est AS BIGINT),
           round((e.est - x.n) / CAST(x.n AS DOUBLE), 4) + 0.0
    FROM est_fk e CROSS JOIN ex_fk x
    ORDER BY join_name
    """,
    tags=("aggregation", "sketch", "count-min", "join", "cardinality"),
)
def q302_cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from count sketches (the AGMS/CMS
    inner-product result: |A ⋈ B| = Σ_k degA(k)·degB(k) ≤ Σ_idx
    rowA[idx]·rowB[idx] for every hash row, so min over rows
    estimates from above): the self-join of lineitem on partkey (the
    worst-case quadratic blow-up an optimizer must predict) and the
    FK join to orders, each estimated from 4×32-counter sketches and
    audited against the exact size. This is how an optimizer or a
    dedup planner (q62's band joins!) prices a join WITHOUT running it
    — 256 integers per table instead of a pass per candidate plan.

    Determinism: q254's engine-pinned md5 register derivation (same
    'cms|' salt family); inner products are exact int64 sums; min
    over 4 rows; the relative overcount rounds with signed-zero
    normalization (it can be exactly 0).

    Scale posture: each sketch is one partial+final count at (row,
    counter) grain — 128 cells per table regardless of corpus size —
    and the inner product joins sketches cell-to-cell (128-row join).
    Sketches are mergeable (counter-wise sum), so per-partition
    sketches combine map-side and per-day sketches roll up like q294's
    registers. The exact audit is the expensive path production drops.
    Reference contract: per-row counter increment = map slot
    (``App.config:16``); inner-product consolidation = reduce slot
    (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    li, orders = t["lineitem"], t["orders"]
    rows_j = spark.createDataFrame([(j,) for j in range(4)], "j int")

    def sketch(df, key):
        h = F.md5(F.concat(F.lit("cms|"), F.col(key).cast("string")))
        return (
            df.select(F.col(key))
            .crossJoin(F.broadcast(rows_j))
            .select(
                "j",
                (hex_int(h, F.lit(1) + F.lit(8) * F.col("j"), 8) % 32)
                .cast("int")
                .alias("idx"),
            )
            .groupBy("j", "idx")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    sk_part = sketch(li, "l_partkey")
    sk_lord = sketch(li, "l_orderkey")
    sk_oord = sketch(orders, "o_orderkey")
    est_self = (
        sk_part.groupBy("j")
        .agg(F.sum(F.col("c") * F.col("c")).alias("s"))
        .agg(F.min("s").alias("est"))
    )
    b = sk_oord.select(
        F.col("j").alias("jb"), F.col("idx").alias("idxb"), F.col("c").alias("cb")
    )
    est_fk = (
        sk_lord.join(b, (F.col("j") == F.col("jb")) & (F.col("idx") == F.col("idxb")))
        .groupBy("j")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("s"))
        .agg(F.min("s").alias("est"))
    )
    ex_self = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * F.col("d")).alias("n"))
    )
    ex_fk = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
        F.count(F.lit(1)).alias("n")
    )

    def row(name, est, ex):
        return (
            est.crossJoin(F.broadcast(ex))
            .select(
                F.lit(name).alias("join_name"),
                F.col("n").cast("long").alias("exact_size"),
                F.col("est").cast("long").alias("cms_estimate"),
                round_nz(
                    (F.col("est") - F.col("n")) / F.col("n").cast("double"), 4
                ).alias("rel_overcount"),
            )
        )

    return (
        row("lineitem_x_lineitem_on_partkey", est_self, ex_self)
        .unionAll(row("lineitem_x_orders_on_orderkey", est_fk, ex_fk))
        .orderBy("join_name")
    )


_BJ_M = 1024   # bloom bits
_BJ_K = 4      # hash functions (4 disjoint 8-hex windows of ONE digest)
_BJ_NATIONS = (1, 5, 9)
# One md5 per key; hash i reads the i-th disjoint 32-bit hex window —
# the q254 CMS derivation, 4x less hashing than per-hash salting.
_BJ_POS = (
    "('0x' || substr(md5('bjoin|' || CAST({x} AS VARCHAR)),"
    " 1 + 8 * {i}, 8))::BIGINT % " + str(_BJ_M)
)


@query(
    "q309_bloom_join_pruning",
    oracle=f"""
    WITH hashes AS (SELECT unnest(range({_BJ_K})) AS i),
    nations AS (SELECT unnest([{", ".join(map(str, _BJ_NATIONS))}]) AS nk),
    build AS (
        SELECT s.s_nationkey AS nk, s.s_suppkey AS k
        FROM supplier s JOIN nations n ON s.s_nationkey = n.nk
    ),
    words AS (
        SELECT b.nk, pos // 32 AS w, bit_or(1::BIGINT << (pos % 32)) AS mask
        FROM (SELECT build.nk, {_BJ_POS.format(x="build.k", i="h.i")} AS pos
              FROM build CROSS JOIN hashes h) b
        GROUP BY b.nk, pos // 32
    ),
    warr AS (
        SELECT nk, list(coalesce(mask, 0) ORDER BY wi) AS arr
        FROM (
            SELECT n.nk, wi.wi, w.mask
            FROM nations n
            CROSS JOIN (SELECT unnest(range({_BJ_M // 32})) AS wi) wi
            LEFT JOIN words w ON w.nk = n.nk AND w.w = wi.wi
        ) GROUP BY nk
    ),
    probe AS (
        SELECT l.l_suppkey AS sk, a.nk, a.arr
        FROM lineitem l CROSS JOIN warr a
    ),
    checked AS (
        SELECT nk, sk,
               list_reduce(
                   list_prepend(true,
                       list_transform(range({_BJ_K}),
                           i -> (arr[CAST(({_BJ_POS.format(x="sk", i="i")}) // 32 + 1 AS INTEGER)]
                                 >> CAST(({_BJ_POS.format(x="sk", i="i")}) % 32 AS INTEGER))
                                & 1 = 1)),
                   (acc, x) -> acc AND x) AS passed
        FROM probe
    ),
    flagged AS (
        SELECT c.nk, c.passed, (b.k IS NOT NULL) AS actual
        FROM checked c
        LEFT JOIN (SELECT DISTINCT nk, k FROM build) b
          ON c.nk = b.nk AND c.sk = b.k
    )
    SELECT nk AS nationkey,
           CAST(count(*) AS BIGINT) AS n_probe_rows,
           CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_passed,
           CAST(sum(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_match,
           CAST(sum(CASE WHEN passed AND NOT actual THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_pass,
           round(1.0 - CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 4) AS prune_rate
    FROM flagged
    GROUP BY nk
    ORDER BY nk
    """,
    tags=("sketch", "bloom", "join", "pruning", "runtime-filter"),
)
def q309_bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning — the portable version of the runtime
    bloom filters Spark injects for shuffle joins (pinned in
    tests/test_plans.py): for each of three build-side key sets
    (suppliers of nations 1/5/9) a 1024-bit bloom — 4 hash positions
    read as disjoint 32-bit windows of ONE md5 digest, the q254
    derivation — pre-filters the lineitem probe side BEFORE any join.
    Emits per nation the probe volume, rows passed, true matches,
    false passes (blooms never false-negative — n_passed ≥ n_true
    always), and the prune rate — the probe I/O and shuffle a 100 TB
    join never pays.

    Determinism: engine-pinned md5 bit positions (fresh 'bjoin|'
    salt); bit tests are exact; rates round at 4.

    Scale posture: each filter is a DENSE 32-word array broadcast as
    ONE row per build set, so probing is pure map-side expression work
    — one digest per probe row, no per-hash explode, no row-grain
    shuffle (the first cut exploded rows × hashes and paid a 7.2M-row
    aggregate: 7.4 s; this shape is map + nation-grain rollup). Blooms
    OR-merge, so partial filters from build partitions combine
    map-side. Reference contract: per-row membership probe = map slot
    (``App.config:16``); filter build + stats = reduce slot
    (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    sup, li = t["supplier"], t["lineitem"]
    hashes = spark.createDataFrame([(i,) for i in range(_BJ_K)], "i int")
    nations = spark.createDataFrame([(n,) for n in _BJ_NATIONS], "nk int")
    build = sup.join(
        F.broadcast(nations), sup["s_nationkey"] == nations["nk"]
    ).select("nk", F.col("s_suppkey").alias("k"))

    def pos_sql(key: str, i: str) -> str:
        return (
            f"conv(substring(md5(concat('bjoin|', cast({key} as string))),"
            f" 1 + 8 * {i}, 8), 16, 10) % {_BJ_M}"
        )

    words = (
        build.crossJoin(F.broadcast(hashes))
        .select("nk", F.expr(f"cast({pos_sql('k', 'i')} as bigint)").alias("pos"))
        .groupBy("nk", (F.col("pos") / 32).cast("long").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint), cast(pos % 32 as int)))"
            ).alias("mask")
        )
    )
    # Dense word array per REQUESTED nation (left join: a nation with no
    # build keys still yields an all-zero filter, matching the oracle),
    # broadcast as one row per nation.
    wmap = words.groupBy("nk").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("w"), F.col("mask")))
        ).alias("m")
    )
    warr = (
        nations.join(wmap, "nk", "left")
        .select(
            "nk",
            F.expr(
                f"transform(sequence(0, {_BJ_M // 32 - 1}),"
                " wi -> coalesce(element_at(m, cast(wi as bigint)),"
                " cast(0 as bigint)))"
            ).alias("arr"),
        )
    )
    # ONE digest per probe row (positions are nation-independent);
    # Catalyst does not CSE repeated md5 calls, so materialize the four
    # window positions as columns BEFORE the nation fan-out.

    dg = F.md5(F.concat(F.lit("bjoin|"), F.col("l_suppkey").cast("string")))
    # Single-row-group fixture parquet caps the scan at ~1 task; the
    # digest stage is compute-bound, so fan the 1-column projection out
    # to the cores (no-op on well-split inputs — the q254 discipline).
    probe0 = rebalance_for_cpu(li.select("l_suppkey")).select(
        F.col("l_suppkey").alias("sk"),
        *[
            (hex_int(dg, 1 + 8 * i, 8) % _BJ_M).alias(f"p{i}")
            for i in range(_BJ_K)
        ],
    )
    checks = [
        f"((element_at(arr, cast(p{i} div 32 as int) + 1)"
        f" >> cast(p{i} % 32 as int)) & 1) = 1"
        for i in range(_BJ_K)
    ]
    checked = probe0.crossJoin(F.broadcast(warr)).select(
        "nk", "sk", F.expr(" AND ".join(checks)).alias("passed")
    )
    bset = build.select(
        F.col("nk").alias("bnk"), F.col("k").alias("bk")
    ).distinct()
    flagged = checked.join(
        F.broadcast(bset),
        (F.col("nk") == F.col("bnk")) & (F.col("sk") == F.col("bk")),
        "left",
    ).select(
        "nk",
        "passed",
        F.col("bk").isNotNull().alias("actual"),
    )
    passed = F.sum(F.when(F.col("passed"), 1).otherwise(0))
    return (
        flagged.groupBy(F.col("nk").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probe_rows"),
            passed.cast("long").alias("n_passed"),
            F.sum(F.when(F.col("actual"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_match"),
            F.sum(
                F.when(F.col("passed") & ~F.col("actual"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pass"),
            F.round(
                1.0 - passed.cast("double") / F.count(F.lit(1)), 4
            ).alias("prune_rate"),
        )
        .orderBy("nationkey")
    )


def _ols3_formulas() -> dict[str, str]:
    """Cramer's-rule solution of the 3×3 normal equations as SHARED
    formula text — the identical expression string evaluates in Spark
    (``F.expr``) and DuckDB, so given exact integer sums both engines
    run the same IEEE op sequence and the coefficients are
    bit-identical. A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]],
    b = [sy,s1y,s2y]; products overflow BIGINT, so every term is
    computed in DOUBLE (same rounding both sides)."""
    n, s1, s2 = "CAST(n AS DOUBLE)", "CAST(s1 AS DOUBLE)", "CAST(s2 AS DOUBLE)"
    s11, s12, s22 = (
        "CAST(s11 AS DOUBLE)",
        "CAST(s12 AS DOUBLE)",
        "CAST(s22 AS DOUBLE)",
    )
    sy, s1y, s2y = (
        "CAST(sy AS DOUBLE)",
        "CAST(s1y AS DOUBLE)",
        "CAST(s2y AS DOUBLE)",
    )
    det = (
        f"({n} * ({s11} * {s22} - {s12} * {s12})"
        f" - {s1} * ({s1} * {s22} - {s12} * {s2})"
        f" + {s2} * ({s1} * {s12} - {s11} * {s2}))"
    )
    det0 = (
        f"({sy} * ({s11} * {s22} - {s12} * {s12})"
        f" - {s1} * ({s1y} * {s22} - {s12} * {s2y})"
        f" + {s2} * ({s1y} * {s12} - {s11} * {s2y}))"
    )
    det1 = (
        f"({n} * ({s1y} * {s22} - {s12} * {s2y})"
        f" - {sy} * ({s1} * {s22} - {s12} * {s2})"
        f" + {s2} * ({s1} * {s2y} - {s1y} * {s2}))"
    )
    det2 = (
        f"({n} * ({s11} * {s2y} - {s1y} * {s12})"
        f" - {s1} * ({s1} * {s2y} - {s1y} * {s2})"
        f" + {sy} * ({s1} * {s12} - {s11} * {s2}))"
    )
    b0, b1, b2 = (
        f"({det0} / {det})",
        f"({det1} / {det})",
        f"({det2} / {det})",
    )
    sse = (
        f"(CAST(syy AS DOUBLE) - {b0} * {sy} - {b1} * {s1y} - {b2} * {s2y})"
    )
    sst = f"(CAST(syy AS DOUBLE) - {sy} * {sy} / {n})"
    return {
        "b0": b0,
        "b1": b1,
        "b2": b2,
        "r2": f"(1.0 - {sse} / {sst})",
    }


_OLS3 = _ols3_formulas()


def _ols_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem's scaled-integer OLS observations, keyed by
    ``(l_orderkey, l_linenumber)``: x1 = quantity, x2 = discount in
    basis points, y = price in whole dollars."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )


def _ols_moment_sums(obs: DataFrame) -> DataFrame:
    """One row of exact BIGINT moment sums over :func:`_ols_obs`: n,
    s1, s2, s11, s12, s22, sy, s1y, s2y, syy. A caller that never reads
    a sum (or the row keys) leaves it to column pruning."""
    return obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )


@query(
    "q341_multiple_regression_closed_form",
    oracle=f"""
    WITH obs AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(round(l_discount * 10000) AS BIGINT) AS x2,
               CAST(round(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ),
    sums AS (
        SELECT count(*) AS n,
               sum(x1) AS s1, sum(x2) AS s2,
               sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
               sum(x2 * x2) AS s22,
               sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
               sum(y * y) AS syy
        FROM obs
    )
    SELECT term, coefficient FROM (
        SELECT 'intercept' AS term,
               round({_OLS3["b0"]}, 6) + 0.0 AS coefficient, 1 AS ord
        FROM sums
        UNION ALL
        SELECT 'quantity', round({_OLS3["b1"]}, 6) + 0.0, 2 FROM sums
        UNION ALL
        SELECT 'discount_bp', round({_OLS3["b2"]}, 6) + 0.0, 3 FROM sums
        UNION ALL
        SELECT 'r_squared', round({_OLS3["r2"]}, 6) + 0.0, 4 FROM sums
    ) ORDER BY ord
    """,
    tags=("statistics", "regression", "closed-form", "ols"),
)
def q341_multiple_regression_closed_form(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiple linear regression (price ~ quantity + discount) solved
    in CLOSED FORM from one aggregation pass — the normal equations
    X'X β = X'y with Cramer's rule on the 3×3 system: the way OLS
    actually runs at 100 TB (one partial+final pass over the fact
    table collects ten moment sums; the solve is constant work),
    generalizing q138's single-feature trend line. Emits the three
    coefficients and R².

    Determinism: every moment is an exact BIGINT sum of scaled-integer
    observations (quantity integral, discount in basis points, price
    in whole dollars so Σy² stays in range); the Cramer solve and R²
    evaluate the SAME formula text on both engines (``_ols3_formulas``
    — one IEEE op sequence), so the pre-round coefficients are
    bit-identical; all outputs round signed-zero-safe.

    Scale posture: ONE partial+final aggregate to a single 10-column
    row; the solve is per-row arithmetic. Adding features grows the
    moment vector O(p²) but never adds a pass — the standard
    normal-equations tradeoff (p small, n huge). Reference contract:
    per-row moment accumulation = map slot (``App.config:16``);
    system solve = reduce slot (``App.config:17``)."""
    sums = _ols_moment_sums(_ols_obs(spark, sf_dir))
    rows = [
        ("intercept", _OLS3["b0"], 1),
        ("quantity", _OLS3["b1"], 2),
        ("discount_bp", _OLS3["b2"], 3),
        ("r_squared", _OLS3["r2"], 4),
    ]
    out = sums.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"),
                        round_nz(F.expr(e), 6).alias("coefficient"),
                        F.lit(o).alias("ord"),
                    )
                    for t, e, o in rows
                ]
            )
        ).alias("r")
    ).select(
        F.col("r.term").alias("term"),
        F.col("r.coefficient").alias("coefficient"),
        F.col("r.ord").alias("ord"),
    )
    return out.orderBy("ord").drop("ord").select("term", "coefficient")


_RIDGE_LAMBDAS = (0, 10_000, 1_000_000)


def _ridge2_formulas(lam: str) -> dict[str, str]:
    """Centered 2-feature ridge solve as shared formula text (same
    string runs in Spark ``F.expr`` and DuckDB): C = centered Gram,
    β = inv(C + λI)·c, intercept unpenalized via the centering
    identity b0 = ȳ − b1·x̄1 − b2·x̄2. Exact integer sums in, one
    shared IEEE op sequence out."""
    n = "CAST(n AS DOUBLE)"
    c11 = f"(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / {n})"
    c22 = f"(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / {n})"
    c12 = f"(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / {n})"
    c1y = f"(CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / {n})"
    c2y = f"(CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / {n})"
    det = f"(({c11} + {lam}) * ({c22} + {lam}) - {c12} * {c12})"
    b1 = f"(({c1y} * ({c22} + {lam}) - {c2y} * {c12}) / {det})"
    b2 = f"(({c2y} * ({c11} + {lam}) - {c1y} * {c12}) / {det})"
    b0 = (
        f"(CAST(sy AS DOUBLE) / {n} - {b1} * CAST(s1 AS DOUBLE) / {n}"
        f" - {b2} * CAST(s2 AS DOUBLE) / {n})"
    )
    return {"b0": b0, "b1": b1, "b2": b2}


@query(
    "q342_ridge_regularization_path",
    oracle=f"""
    WITH obs AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(round(l_discount * 10000) AS BIGINT) AS x2,
               CAST(round(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ),
    sums AS (
        SELECT count(*) AS n,
               sum(x1) AS s1, sum(x2) AS s2,
               sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
               sum(x2 * x2) AS s22,
               sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
        FROM obs
    )
    SELECT lam, term, coefficient FROM (
        {" UNION ALL ".join(
            f'''SELECT CAST({lam} AS BIGINT) AS lam, '{t}' AS term,
                round({_ridge2_formulas(f"CAST({lam} AS DOUBLE)")[k]}, 6)
                    + 0.0 AS coefficient, {o} AS ord FROM sums'''
            for lam in _RIDGE_LAMBDAS
            for t, k, o in (
                ("intercept", "b0", 1),
                ("quantity", "b1", 2),
                ("discount_bp", "b2", 3),
            )
        )}
    ) ORDER BY lam, ord
    """,
    tags=("statistics", "regression", "ridge", "regularization"),
)
def q342_ridge_regularization_path(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ridge regression regularization path from ONE aggregation pass:
    the q341 moment sums solve (C + λI)β = c for a λ grid
    {{0, 10⁴, 10⁶}} with the intercept left unpenalized (centered
    formulation) — showing coefficient shrinkage toward zero as λ
    grows, at zero extra data passes. λ=0 reproduces the OLS solution;
    the path is how the regularization strength is actually chosen
    before committing to a model at scale.

    Determinism: moments are exact BIGINT sums; each λ's solve is the
    same shared formula text on both engines (one IEEE sequence);
    outputs round signed-zero-safe.

    Scale posture: identical to q341 — one partial+final pass, then
    |grid|×3 rows of per-row arithmetic; the grid adds solves, never
    passes. Reference contract: moment accumulation = map slot
    (``App.config:16``); path solve = reduce slot
    (``App.config:17``)."""
    sums = _ols_moment_sums(_ols_obs(spark, sf_dir))
    structs = []
    for lam in _RIDGE_LAMBDAS:
        fs = _ridge2_formulas(f"CAST({lam} AS DOUBLE)")
        for t, k, o in (
            ("intercept", "b0", 1),
            ("quantity", "b1", 2),
            ("discount_bp", "b2", 3),
        ):
            structs.append(
                F.struct(
                    F.lit(lam).cast("long").alias("lam"),
                    F.lit(t).alias("term"),
                    round_nz(F.expr(fs[k]), 6).alias("coefficient"),
                    F.lit(o).alias("ord"),
                )
            )
    return (
        sums.select(F.explode(F.array(*structs)).alias("r"))
        .select(
            F.col("r.lam").alias("lam"),
            F.col("r.term").alias("term"),
            F.col("r.coefficient").alias("coefficient"),
            F.col("r.ord").alias("ord"),
        )
        .orderBy("lam", "ord")
        .drop("ord")
    )


_RPP_K = 8  # target partition count


@query(
    "q376_range_partition_planner",
    oracle=f"""
    WITH w AS (
        SELECT l_partkey AS k, count(*) AS wt
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(wt) AS total FROM w),
    cum AS (
        SELECT k, wt, sum(wt) OVER (ORDER BY k) AS c
        FROM w
    ),
    assigned AS (
        SELECT k, wt,
               least({_RPP_K},
                     1 + CAST(((c - 1) * {_RPP_K}) // tot.total AS INTEGER))
                   AS pid
        FROM cum CROSS JOIN tot
    )
    SELECT a.pid,
           CAST(min(a.k) AS BIGINT) AS lo_key,
           CAST(max(a.k) AS BIGINT) AS hi_key,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(a.wt) AS BIGINT) AS weight,
           CAST((1000000 * sum(a.wt) * {_RPP_K}) // tot.total - 1000000
                AS BIGINT) AS dev_ppm
    FROM assigned a CROSS JOIN tot
    GROUP BY a.pid, tot.total
    ORDER BY a.pid
    """,
    tags=("layout", "partitioning", "planner", "skew"),
)
def q376_range_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-balanced range-partition planning: from the per-key row
    histogram, place k−1 boundaries on the EXACT cumulative weight
    (key → partition ⌈cum·k/W⌉, integer arithmetic) and report each
    range's key span, weight, and signed deviation from the ideal
    W/k in ppm — the explicit form of what ``repartitionByRange``
    does by SAMPLING, with exact weights instead of a sample (the
    difference between balanced and skewed reducers when the key
    histogram is heavy-tailed). Complements q229 (salting decision),
    q290 (LPT bin packing of known cells), and q75 (static shard
    plan): this one picks contiguous RANGE boundaries, the layout
    that preserves sort order for merge joins and zone maps.

    Determinism: weights and cumulative sums are exact integers on
    the window-free running sum; the partition id is pure integer
    div; deviation is floor-scaled signed ppm.

    Scale posture: one partial+final count to key grain; the
    cumulative rides ``distributed_running_sum`` (range shuffle +
    broadcast offsets — never a global window over the key
    dictionary); the rollup is k-grain. In production the output IS
    the boundary list handed to a writer. Reference contract: key
    counting = map slot (``App.config:16``); boundary consolidation =
    reduce slot (``App.config:17``)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    w = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("wt")
    )
    tot = w.agg(F.sum("wt").alias("total"))
    cum = distributed_running_sum(w, [F.asc("k")], {"c": "wt"})
    assigned = cum.crossJoin(F.broadcast(tot)).select(
        "k",
        "wt",
        "total",
        F.least(
            F.lit(_RPP_K),
            (
                1
                + F.expr(f"((c - 1) * {_RPP_K}) div total").cast("int")
            ),
        ).alias("pid"),
    )
    return (
        assigned.groupBy("pid", "total")
        .agg(
            F.min("k").cast("long").alias("lo_key"),
            F.max("k").cast("long").alias("hi_key"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("wt").cast("long").alias("weight"),
        )
        .select(
            "pid",
            "lo_key",
            "hi_key",
            "n_keys",
            "weight",
            (
                F.expr(f"(1000000 * weight * {_RPP_K}) div total")
                - F.lit(1_000_000)
            ).cast("long").alias("dev_ppm"),
        )
        .orderBy("pid")
    )


# --- q425: mergeable Misra-Gries heavy-hitter summaries ----------------

_MG_K = 8


_Q425_ORACLE = f"""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    c AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY source, w
    ),
    r AS (
        SELECT source, w, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, w ASC) AS rn
        FROM c
    ),
    thr AS (
        SELECT source,
               coalesce(max(CASE WHEN rn = {_MG_K} + 1 THEN c END), 0)
                   AS t_s
        FROM r GROUP BY source
    ),
    summ AS (
        SELECT r.source, r.w, r.c - thr.t_s AS est
        FROM r JOIN thr USING (source)
        WHERE r.rn <= {_MG_K} AND r.c - thr.t_s > 0
    ),
    merged AS (
        SELECT w, CAST(sum(est) AS BIGINT) AS m
        FROM summ GROUP BY w
    ),
    mr AS (
        SELECT w, m, row_number() OVER (ORDER BY m DESC, w ASC) AS rn
        FROM merged
    ),
    mthr AS (
        SELECT coalesce(max(CASE WHEN rn = {_MG_K} + 1 THEN m END), 0)
            AS t_m
        FROM mr
    ),
    offs AS (
        SELECT CAST((SELECT sum(t_s) FROM thr) + (SELECT t_m FROM mthr)
                    AS BIGINT) AS offset_total
    ),
    final AS (
        SELECT w, m - (SELECT t_m FROM mthr) AS est
        FROM mr
        WHERE rn <= {_MG_K} AND m - (SELECT t_m FROM mthr) > 0
    ),
    exact AS (
        SELECT w, CAST(sum(c) AS BIGINT) AS exact_count
        FROM c GROUP BY w
    )
    SELECT f.w AS word, f.est AS mg_estimate, e.exact_count,
           o.offset_total,
           (f.est <= e.exact_count
            AND e.exact_count - f.est <= o.offset_total) AS bound_ok
    FROM final f JOIN exact e ON e.w = f.w CROSS JOIN offs o
    ORDER BY f.w
"""


@query(
    "q425_misra_gries_heavy_hitters",
    oracle=_Q425_ORACLE,
    tags=("sketch", "heavy-hitters", "misra-gries", "mergeable"),
)
def q425_misra_gries_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable Misra-Gries heavy-hitter summaries with the sketch's
    ESTIMATES on the verified path — the missing half of q158: there,
    MG runs engine-side as a per-partition PREFILTER whose output is
    discarded after an exact recount (the oracle never sees the
    sketch, only the exact answer); here the mergeable-summary
    algebra ITSELF is cross-engine verified — per-source summaries,
    the merge, the released estimates, and the deficit guarantee all
    hash-match a from-scratch DuckDB derivation. The batch/mergeable
    form (Agarwal et al.'s mergeable-summaries construction): each
    source builds a k-counter
    summary — its top-k words by exact count with the (k+1)-th
    largest count subtracted from each — and the per-source summaries
    MERGE by summing estimates and re-truncating the combined counter
    set the same way. Emitted per surviving counter: the merged
    estimate, the exact corpus count (the audit join), the total
    subtracted offset, and the MG guarantee check
    0 ≤ exact − estimate ≤ Σ offsets — underestimates only, bounded
    deficit, the property that makes the sketch trustworthy.

    Determinism: counts are exact integers; every truncation ranks by
    the total order (count DESC, word ASC); subtraction/merge are
    integer — no hashing, no floats, bit-identical cross-engine.
    Rank-boundary ties yield zero estimates and are dropped on both
    engines identically.

    Scale posture: the per-source summary is the MAP-SIDE partial
    (k+1 rows kept per source after one (source, word) count
    aggregate — at 100 TB per-executor summaries replace per-source
    ones, same algebra since the construction is associative); the
    merge is a k·#sources-row reduce. The ranking windows partition
    by source / run over ≤ k·#sources merged rows — bounded frames,
    never a corpus-wide window. The exact-count audit join exists
    only for verification and would be absent in production (the
    sketch's whole point is avoiding it). Reference contract:
    summary build = map slot (``App.config:16``); merge =
    reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("w"),
    )
    c = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_src = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    r = c.withColumn("rn", F.row_number().over(w_src))
    thr = r.groupBy("source").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _MG_K + 1, F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("t_s")
    )
    summ = (
        r.where(F.col("rn") <= _MG_K)
        .join(thr, "source")
        .select("source", "w", (F.col("c") - F.col("t_s")).alias("est"))
        .where(F.col("est") > 0)
    )
    merged = summ.groupBy("w").agg(F.sum("est").cast("long").alias("m"))
    # The merged counter set is ≤ k·#sources rows — bounded, so the
    # declared-constant-partition rank (bounded_order) applies.
    mr = merged.withColumn(
        "rn",
        F.row_number().over(
            bounded_order(F.col("m").desc(), F.col("w").asc())
        ),
    )
    t_m = mr.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _MG_K + 1, F.col("m"))), F.lit(0)
        )
        .cast("long")
        .alias("t_m")
    )
    offs = (
        thr.agg(F.sum("t_s").cast("long").alias("sum_ts"))
        .crossJoin(F.broadcast(t_m))
        .select((F.col("sum_ts") + F.col("t_m")).alias("offset_total"))
    )
    final = (
        mr.where(F.col("rn") <= _MG_K)
        .crossJoin(F.broadcast(t_m))
        .select("w", (F.col("m") - F.col("t_m")).alias("est"))
        .where(F.col("est") > 0)
    )
    exact = c.groupBy("w").agg(F.sum("c").cast("long").alias("exact_count"))
    return (
        final.join(exact, "w")
        .crossJoin(F.broadcast(offs))
        .select(
            F.col("w").alias("word"),
            F.col("est").alias("mg_estimate"),
            "exact_count",
            "offset_total",
            (
                (F.col("est") <= F.col("exact_count"))
                & (
                    F.col("exact_count") - F.col("est")
                    <= F.col("offset_total")
                )
            ).alias("bound_ok"),
        )
        .orderBy("word")
    )


# --- q456: regression leverage + Cook's distance diagnostics --------------


def _diag3_formulas() -> dict[str, str]:
    """Per-row OLS diagnostics as SHARED formula text over the q341
    moment columns (n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy) and
    the row's (x1, x2, y): the symmetric 3×3 inverse via cofactors,
    leverage h = x'(X'X)⁻¹x expanded, residual from the Cramer
    coefficients, and Cook's D = e²h / (p·s²·(1−h)²) with p = 3.
    Identical text evaluates in Spark ``F.expr`` and DuckDB, so given
    exact integer sums both engines run one IEEE op sequence and the
    pre-round diagnostics are bit-identical (the ``_ols3_formulas``
    discipline)."""
    n, s1, s2 = "CAST(n AS DOUBLE)", "CAST(s1 AS DOUBLE)", "CAST(s2 AS DOUBLE)"
    s11, s12, s22 = (
        "CAST(s11 AS DOUBLE)",
        "CAST(s12 AS DOUBLE)",
        "CAST(s22 AS DOUBLE)",
    )
    sy, s1y, s2y = (
        "CAST(sy AS DOUBLE)",
        "CAST(s1y AS DOUBLE)",
        "CAST(s2y AS DOUBLE)",
    )
    x1, x2, y = "CAST(x1 AS DOUBLE)", "CAST(x2 AS DOUBLE)", "CAST(y AS DOUBLE)"
    det = (
        f"({n} * ({s11} * {s22} - {s12} * {s12})"
        f" - {s1} * ({s1} * {s22} - {s12} * {s2})"
        f" + {s2} * ({s1} * {s12} - {s11} * {s2}))"
    )
    a00 = f"(({s11} * {s22} - {s12} * {s12}) / {det})"
    a01 = f"(-({s1} * {s22} - {s12} * {s2}) / {det})"
    a02 = f"(({s1} * {s12} - {s11} * {s2}) / {det})"
    a11 = f"(({n} * {s22} - {s2} * {s2}) / {det})"
    a12 = f"(-({n} * {s12} - {s1} * {s2}) / {det})"
    a22 = f"(({n} * {s11} - {s1} * {s1}) / {det})"
    h = (
        f"({a00} + {a11} * {x1} * {x1} + {a22} * {x2} * {x2}"
        f" + 2.0 * ({a01} * {x1} + {a02} * {x2} + {a12} * {x1} * {x2}))"
    )
    b0, b1, b2 = _OLS3["b0"], _OLS3["b1"], _OLS3["b2"]
    resid = f"({y} - ({b0} + {b1} * {x1} + {b2} * {x2}))"
    sse = f"(CAST(syy AS DOUBLE) - {b0} * {sy} - {b1} * {s1y} - {b2} * {s2y})"
    mse = f"({sse} / ({n} - 3.0))"
    cooksd = (
        f"({resid} * {resid} * {h}"
        f" / (3.0 * {mse} * (1.0 - {h}) * (1.0 - {h})))"
    )
    return {"h": h, "resid": resid, "cooksd": cooksd}


_DIAG3 = _diag3_formulas()


@query(
    "q456_regression_influence_diagnostics",
    oracle=f"""
    WITH obs AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS x1,
               CAST(round(l_discount * 10000) AS BIGINT) AS x2,
               CAST(round(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ),
    sums AS MATERIALIZED (
        SELECT count(*) AS n,
               sum(x1) AS s1, sum(x2) AS s2,
               sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
               sum(x2 * x2) AS s22,
               sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
               sum(y * y) AS syy
        FROM obs
    ),
    diag AS (
        SELECT l_orderkey, l_linenumber, x1, x2,
               {_DIAG3["h"]} AS h,
               {_DIAG3["resid"]} AS resid,
               {_DIAG3["cooksd"]} AS cd
        FROM obs CROSS JOIN sums
    )
    SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS l_linenumber,
           CAST(x1 AS BIGINT) AS quantity,
           CAST(x2 AS BIGINT) AS discount_bp,
           round(h, 8) + 0.0 AS leverage,
           round(resid, 4) + 0.0 AS residual,
           round(cd, 10) + 0.0 AS cooks_d
    FROM diag
    ORDER BY cd DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 20
    """,
    tags=("statistics", "regression", "diagnostics", "influence", "leverage"),
)
def q456_regression_influence_diagnostics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-row REGRESSION DIAGNOSTICS — leverage and Cook's distance
    over q341's closed-form OLS (price ~ quantity + discount): the
    model-side data-valuation member beside the training-side family
    (q448 TracIn influence, q337 KNN-Shapley) — which observations
    does the fitted model DEPEND on? Leverage h_i = x_i'(X'X)⁻¹x_i
    (expanded through the symmetric 3×3 cofactor inverse — no matrix
    library), residual from the Cramer coefficients, Cook's
    D_i = e_i²·h_i / (p·s²·(1−h_i)²). Released: the top 20 most
    influential rows with all three diagnostics.

    Determinism: one exact-BIGINT moment pass (the q341 sums,
    broadcast); every per-row diagnostic evaluates the SAME formula
    text on both engines (one IEEE op sequence → bit-identical
    pre-round values), so the unrounded Cook's-D ordering cannot
    flip cross-engine; ties break on (orderkey, linenumber); releases
    round signed-zero-safe.

    Scale posture: ONE partial+final moment aggregate (10 cells,
    broadcast back), then a single map over the fact table and a
    TakeOrdered(20) — no windows, no joins beyond the 1-row
    broadcast; the trace identity Σh_i = p is pinned as an invariant.
    Reference contract: per-row diagnostic = map slot
    (``App.config:16``); top-k consolidation = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _ols_obs(spark, sf_dir)
    diag = obs.crossJoin(F.broadcast(_ols_moment_sums(obs))).select(
        "l_orderkey",
        "l_linenumber",
        "x1",
        "x2",
        F.expr(_DIAG3["h"]).alias("h"),
        F.expr(_DIAG3["resid"]).alias("resid"),
        F.expr(_DIAG3["cooksd"]).alias("cd"),
    )
    return (
        diag.orderBy(
            F.col("cd").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(20)
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
            F.col("x1").cast("long").alias("quantity"),
            F.col("x2").cast("long").alias("discount_bp"),
            round_nz(F.col("h"), 8).alias("leverage"),
            round_nz(F.col("resid"), 4).alias("residual"),
            round_nz(F.col("cd"), 10).alias("cooks_d"),
        )
    )


# --- q466: storage-encoding advisor (dictionary / RLE / plain) -------------

# (column, byte width of a plain-encoded value, SQL expression)
_ENC_COLS = (
    ("l_returnflag", 1, "l_returnflag"),
    ("l_linestatus", 1, "l_linestatus"),
    ("l_quantity", 8, "l_quantity"),
    ("l_extendedprice", 8, "l_extendedprice"),
)
_ENC_RLE_HDR = 4  # per-run length header bytes


def _enc_oracle_sql() -> str:
    branches = []
    for name, width, expr in _ENC_COLS:
        branches.append(f"""
    SELECT '{name}' AS col_name,
           CAST({width} AS BIGINT) AS width_bytes,
           count(*) AS n,
           count(DISTINCT v) AS ndv,
           count(*) - sum(CASE WHEN v = pv THEN 1 ELSE 0 END) AS runs
    FROM (
        SELECT {expr} AS v,
               lag({expr}) OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber ASC, l_partkey ASC,
                            l_suppkey ASC, l_extendedprice ASC) AS pv
        FROM lineitem
    )""")
    return f"""
    WITH percol AS ({" UNION ALL ".join(branches)}),
    sized AS (
        SELECT col_name, width_bytes, n, ndv, runs,
               n * width_bytes AS plain_bytes,
               ndv * width_bytes
                   + (n * length(bin(greatest(ndv - 1, 1))) + 7) // 8
                   AS dict_bytes,
               runs * (width_bytes + {_ENC_RLE_HDR}) AS rle_bytes
        FROM percol
    )
    SELECT col_name,
           CAST(n AS BIGINT) AS n,
           CAST(ndv AS BIGINT) AS ndv,
           CAST(runs AS BIGINT) AS runs,
           CAST(plain_bytes AS BIGINT) AS plain_bytes,
           CAST(dict_bytes AS BIGINT) AS dict_bytes,
           CAST(rle_bytes AS BIGINT) AS rle_bytes,
           CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes
                THEN 'rle'
                WHEN dict_bytes <= plain_bytes THEN 'dictionary'
                ELSE 'plain' END AS chosen
    FROM sized
    ORDER BY col_name
    """


@query(
    "q466_storage_encoding_advisor",
    oracle=_enc_oracle_sql(),
    tags=("layout", "encoding", "storage", "advisor", "statistics"),
)
def q466_storage_encoding_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Storage ENCODING ADVISOR — the layout family's write-side
    member (q316 simulates zone-map skipping against real row-group
    stats, q369 sizes delta+varint postings, q115 plans Z-order; this
    picks the column encoding a parquet/ORC writer would): per
    column, the advisor gathers the three statistics the choice turns
    on — value count, distinct count, and RUN count — and prices
    plain (n·w), dictionary (ndv·w + n·⌈log₂ ndv⌉ bits packed) and
    RLE (runs·(w + header)) layouts, releasing all three sizes and
    the winner. Low-cardinality flags choose dictionary; the run
    statistic is computed within l_orderkey partitions, in
    (l_linenumber, l_partkey, l_suppkey, l_extendedprice) order —
    the page-local adjacency a writer actually sees (runs never span
    row groups), which also keeps the computation a per-group window
    instead of a global one.

    Determinism: counts/ndv/runs are exact integers; the bit width is
    length(bin(ndv−1)) on both engines; sizes are pure integer
    arithmetic; doubles participate only through exact EQUALITY
    comparisons (ndv / adjacent-run tests), which are bit-exact on
    identical parquet values.

    Scale posture: one fact scan; the lag runs inside the
    orderkey-partitioned window (co-partitioned with the table's
    natural key — at 100 TB this is the per-page pass the writer
    already makes); the rollup is |columns|-grain. Reference
    contract: per-page stats = map slot (``App.config:16``); advisor
    rollup = reduce slot (``App.config:17``)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # (l_orderkey, l_linenumber) is NOT unique in this fixture (probed:
    # 11,785 dup pairs at sf0.01) — the page order must be TOTAL or the
    # two engines disagree on adjacency; (+partkey, suppkey,
    # extendedprice) is unique at every SF.
    w_adj = Window.partitionBy("l_orderkey").orderBy(
        F.asc("l_linenumber"),
        F.asc("l_partkey"),
        F.asc("l_suppkey"),
        F.asc("l_extendedprice"),
    )
    # r15 (guide §2.4): every advised column shares the SAME window
    # (same partition key, same total order), so the four per-column
    # scan+window+aggregate subtrees fuse into ONE fact scan, ONE
    # orderkey exchange/WindowExec carrying all four lag columns, and
    # ONE aggregate (per-column ndv/runs as sibling aggregates); the
    # released per-column rows come back via stack. Counts, distincts
    # and run tests are the identical exact comparisons per column.
    sel = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
        *[
            F.expr(expr).alias(f"v{i}")
            for i, (_n, _w, expr) in enumerate(_ENC_COLS)
        ],
    )
    lagged = sel.select(
        *[F.col(f"v{i}") for i in range(len(_ENC_COLS))],
        *[
            F.lag(f"v{i}").over(w_adj).alias(f"pv{i}")
            for i in range(len(_ENC_COLS))
        ],
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(len(_ENC_COLS)):
        aggs.append(F.countDistinct(f"v{i}").alias(f"ndv{i}"))
        aggs.append(
            (
                F.count(F.lit(1))
                - F.sum(
                    F.when(F.col(f"v{i}") == F.col(f"pv{i}"), 1).otherwise(
                        0
                    )
                )
            ).alias(f"runs{i}")
        )
    one = lagged.agg(*aggs)
    percol = one.selectExpr(
        "stack({}, {}) AS (col_name, width_bytes, n, ndv, runs)".format(
            len(_ENC_COLS),
            ", ".join(
                f"'{name}', CAST({width} AS BIGINT), n, ndv{i}, runs{i}"
                for i, (name, width, _e) in enumerate(_ENC_COLS)
            ),
        )
    )
    sized = percol.select(
        "col_name",
        "n",
        "ndv",
        "runs",
        (F.col("n") * F.col("width_bytes")).alias("plain_bytes"),
        (
            F.col("ndv") * F.col("width_bytes")
            + F.expr(
                "(n * length(bin(greatest(ndv - 1, 1))) + 7) div 8"
            )
        ).alias("dict_bytes"),
        (F.col("runs") * (F.col("width_bytes") + _ENC_RLE_HDR)).alias(
            "rle_bytes"
        ),
    )
    return sized.select(
        "col_name",
        F.col("n").cast("long").alias("n"),
        F.col("ndv").cast("long").alias("ndv"),
        F.col("runs").cast("long").alias("runs"),
        F.col("plain_bytes").cast("long").alias("plain_bytes"),
        F.col("dict_bytes").cast("long").alias("dict_bytes"),
        F.col("rle_bytes").cast("long").alias("rle_bytes"),
        F.when(
            (F.col("rle_bytes") <= F.col("dict_bytes"))
            & (F.col("rle_bytes") <= F.col("plain_bytes")),
            F.lit("rle"),
        )
        .when(F.col("dict_bytes") <= F.col("plain_bytes"), F.lit("dictionary"))
        .otherwise(F.lit("plain"))
        .alias("chosen"),
    ).orderBy("col_name")
