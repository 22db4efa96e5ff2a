"""Join operators: equi (broadcast + sort-merge), semi/anti, outer,
theta/range, as-of, cross.

The reference sideloads per-task resource files (``Program.cs:346``) — the
moral equivalent of a broadcast join — and has no relational join at all;
this module provides the full join surface Spark-natively.

Scale notes (100 TB posture):
- Dimension tables (region/nation/supplier/part) are broadcast explicitly
  (`F.broadcast`): the fact side never shuffles for those joins.
- Fact⋈fact joins (orders⋈lineitem) shuffle on the join key; AQE handles
  skew-splitting. At 100 TB you would bucket both tables on the key to
  make this a zero-shuffle sort-merge join — the code is unchanged, only
  the table layout.
- The as-of join uses the union+window trick: one shuffle on
  (key, time) instead of a per-key nested-loop; this scales linearly and
  avoids `pd.merge_asof`'s per-group Python cost.
- Non-equi joins keep the small side broadcast so the nested-loop join
  never materializes a cross product across the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables, register_views
from azure_batch_map_reduce_spark.operators.ranks import half_up_ratio, hex_int
from azure_batch_map_reduce_spark.registry import query


@query(
    "q20_broadcast_join",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation, count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "broadcast"),
)
def q20_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim with explicit broadcast of both dims — the fact side
    never shuffles for the join (map-side join, reference L5 sideload)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "q21_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("join", "multiway"),
)
def q21_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 5-way join, ordered selectivity-first: the ASIA
    filter resolves through broadcast dims onto customer BEFORE any
    fact shuffle, so orders joins a 1/5-sized customer set and lineitem
    joins the doubly-filtered (date × region) orders — the smallest
    intermediate at every step. At bench scale AQE broadcasts the
    shrunken orders side into lineitem (zero fact shuffle); at 100 TB
    the same ordering minimizes every exchange's payload even when all
    joins stay sort-merge."""
    t = load_tables(spark, sf_dir)
    region = t["region"].filter(F.col("r_name") == "ASIA")
    asia_cust = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    orders = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    asia_orders = orders.join(
        asia_cust, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "n_name")
    return (
        t["lineitem"]
        .join(asia_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q22_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
    tags=("join", "semi"),
)
def q22_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join ≡ EXISTS — emits left rows once, never widens."""
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "q23_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "anti"),
)
def q23_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join ≡ NOT EXISTS — null-safe, unlike NOT IN."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


@query(
    "q24_outer_join",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           coalesce(cn.n_cust, 0) AS n_cust,
           coalesce(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    tags=("join", "outer"),
)
def q24_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (aggregate-below-join:
    shuffles carry one row per nation, not raw rows)."""
    t = load_tables(spark, sf_dir)
    cn = t["customer"].groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    sn = t["supplier"].groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        cn.join(sn, F.col("nk") == F.col("nk_s"), "full_outer")
        .select(
            F.coalesce(F.col("nk"), F.col("nk_s")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
    )


@query(
    "q25_theta_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('low', 0.0, 3000.0), ('mid', 3000.0, 7000.0), ('high', 7000.0, 100000.0)
    )
    SELECT b.band, count(*) AS n_suppliers, round(avg(s.s_acctbal), 2) AS avg_bal
    FROM supplier s
    JOIN bands b ON s.s_acctbal >= b.lo AND s.s_acctbal < b.hi
    GROUP BY b.band
    """,
    tags=("join", "theta"),
)
def q25_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join against a tiny literal band table — the band
    side is broadcast so the nested-loop join is map-side only."""
    t = load_tables(spark, sf_dir)
    bands = spark.createDataFrame(
        [("low", 0.0, 3000.0), ("mid", 3000.0, 7000.0), ("high", 7000.0, 100000.0)],
        "band string, lo double, hi double",
    )
    s = t["supplier"]
    return (
        s.join(
            F.broadcast(bands),
            (F.col("s_acctbal") >= F.col("lo")) & (F.col("s_acctbal") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 2).alias("avg_bal"),
        )
    )


@query(
    "q26_range_residual_join",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_late_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
                 AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "range"),
)
def q26_range_residual_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join with a range residual predicate: the equi key drives a
    hash/sort-merge join and the range condition is evaluated as a
    post-join filter — no nested loop."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(
            t["orders"],
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_items"))
    )


@query(
    "q27_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("join", "asof"),
)
def q27_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (for each purchase, the latest click at-or-before it)
    via the union+window trick: tag both streams, union, window by
    (user, ts) carrying the last click forward — ONE shuffle on the key,
    no per-group Python, linear at 100 TB."""
    ev = load_tables(spark, sf_dir)["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(0).alias("is_purchase"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(1).alias("is_purchase"), "event_id"
    )
    unioned = clicks.unionByName(purchases)
    # Clicks sort before purchases at the same timestamp (is_purchase asc)
    # so a same-instant click is visible to the purchase — matches the
    # oracle's `p.ts >= c.ts`.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ev_ts").asc(), F.col("is_purchase").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("is_purchase") == 0, F.col("ev_ts"))
    return (
        unioned.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("is_purchase") == 1)
        .select("event_id", "user_id", F.col("ev_ts").alias("ts"), "last_click_ts")
    )


@query(
    "q28_cross_join",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tags=("join", "cross"),
)
def q28_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarded cross join of two tiny inputs (dimension scaffolding, e.g.
    for dense reporting grids)."""
    t = load_tables(spark, sf_dir)
    statuses = t["orders"].select("o_orderstatus").distinct()
    return t["region"].select("r_name").crossJoin(statuses)


@query(
    "q29_self_join",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a
    JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    tags=("join", "self"),
)
def q29_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self join producing unordered within-region nation pairs (the
    pair-generation shape near-dup dedup uses at scale)."""
    nation = load_tables(spark, sf_dir)["nation"]
    a = nation.alias("a")
    b = nation.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join: for every left row, carry the latest right
    row with ``right.on <= left.on`` within the same ``by`` group —
    generalized from q27. Union+window: ONE shuffle on ``by``, linear in
    rows, no per-group Python — the 100 TB form.

    Each value column carries independently (``last(..., ignorenulls)``),
    so a right row with a null in one value column lets an older value
    show through for that column only."""
    l_tagged = left.select(
        F.col(by), F.col(on), F.lit(1).alias("_is_l"),
        *[F.col(c) for c in left.columns if c not in (by, on)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_v_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        F.col(by), F.col(on), F.lit(0).alias("_is_l"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c not in (by, on)
        ],
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_is_l").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged)
    for c in value_cols:
        carried = carried.withColumn(
            f"_v_{c}",
            F.last(
                F.when(F.col("_is_l") == 0, F.col(f"_v_{c}")), ignorenulls=True
            ).over(w),
        )
    out_cols = [F.col(c) for c in left.columns] + [
        F.col(f"_v_{c}").alias(c) for c in value_cols
    ]
    return carried.filter(F.col("_is_l") == 1).select(*out_cols)


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join via cogrouped-map ``applyInPandas`` +
    ``pd.merge_asof`` — the Arrow-batched escape hatch for as-of
    variants the window form can't express (tolerance bounds, nearest-
    direction). Both sides shuffle on ``by``; each group pair must fit
    in memory — prefer :func:`asof_join` unless those options are
    needed."""
    import pandas as pd

    schema_parts = [f"{f.name} {f.dataType.simpleString()}" for f in left.schema]
    schema_parts += [
        f"{c} {right.schema[c].dataType.simpleString()}" for c in value_cols
    ]
    out_schema = ", ".join(schema_parts)
    left_cols = list(left.columns)

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=left_cols + value_cols)
        lpdf = lpdf.sort_values(on)
        rpdf = rpdf[[on] + value_cols].sort_values(on)
        merged = pd.merge_asof(
            lpdf, rpdf, on=on, direction="backward", allow_exact_matches=True
        )
        return merged[left_cols + value_cols]

    return (
        left.groupBy(by)
        .cogroup(right.groupBy(by))
        .applyInPandas(lambda l, r: merge(l, r), out_schema)
    )


_LATERAL_SQL = """
    SELECT n.n_name AS nation, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (
        SELECT c_custkey, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC
        LIMIT 2
    ) t
"""


@query(
    "q116_lateral_topk",
    oracle=_LATERAL_SQL,
    tags=("join", "lateral", "correlated", "topk"),
)
def q116_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (SQL:1999 lateral derived table, Spark
    3.2+): for every nation, its two richest customers — the same SQL
    text runs on both engines. Complements q30, which expresses the
    identical semantics with window row_number ≤ k.

    Scale posture: Catalyst decorrelates the lateral subquery into a
    ranked-window plan rather than re-executing it per outer row, so
    the physical shape matches q30's single group-key shuffle — the
    LATERAL form is API surface, not a different (worse) engine path.
    Verified in tests/test_plans.py: no nested-loop re-execution.
    """
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "q136_market_basket_lift",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
    brand_n AS (SELECT p_brand, count(*) AS n FROM baskets GROUP BY p_brand),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS pair_n
        FROM baskets a
        JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT brand_a, brand_b, CAST(pair_n AS BIGINT) AS pair_n,
           ((2 * CAST(pair_n AS HUGEINT) * n_orders * 1000000
                 + na.n * nb.n)
                // (2 * na.n * nb.n)) / 1000000.0 AS lift
    FROM pairs
    CROSS JOIN tot
    JOIN brand_n na ON na.p_brand = brand_a
    JOIN brand_n nb ON nb.p_brand = brand_b
    ORDER BY lift DESC, brand_a ASC, brand_b ASC
    LIMIT 15
    """,
    tags=("join", "basket", "lift", "cooccurrence"),
)
def q136_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over brand pairs: for every pair of part brands
    co-occurring in an order, lift = P(a,b) / (P(a)·P(b)) — the
    association-rule mining primitive (which brands sell together more
    than chance predicts); top-15 pairs by lift.

    The reference's map slot (``Program.cs:332-349``) is where such a
    per-basket itemizer would run; here the whole rule mine is declarative.

    Scale posture: items are mapped to a BOUNDED vocabulary (25 brands)
    before pairing, so the pair space is ≤ 25² regardless of fact-table
    size — the self-join is co-partitioned on l_orderkey (both sides
    share one shuffle key) and every per-basket brand set is tiny. The
    brand marginals and the order total are scalars/25-row tables,
    joined by broadcast. Lift is one division of exact integer products:
    bit-identical across engines.
    """
    t = load_tables(spark, sf_dir)
    baskets = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    tot = baskets.select(F.countDistinct("l_orderkey").alias("n_orders"))
    brand_n = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )
    na = brand_n.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    nb = brand_n.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "pair_n",
            half_up_ratio(
                F.col("pair_n").cast("decimal(38,0)") * F.col("n_orders"),
                F.col("n_a") * F.col("n_b"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(15)
    )


@query(
    "q144_null_safe_join",
    oracle="""
    WITH cust AS (
        SELECT nullif(c_nationkey, 0) AS nat, count(*) AS n_cust
        FROM customer GROUP BY nullif(c_nationkey, 0)
    ),
    supp AS (
        SELECT nullif(s_nationkey, 0) AS nat, count(*) AS n_supp
        FROM supplier GROUP BY nullif(s_nationkey, 0)
    )
    SELECT c.nat, CAST(c.n_cust AS BIGINT) AS n_cust,
           CAST(s.n_supp AS BIGINT) AS n_supp,
           CAST(c.n_cust * s.n_supp AS BIGINT) AS n_pairs
    FROM cust c JOIN supp s ON c.nat IS NOT DISTINCT FROM s.nat
    ORDER BY c.nat NULLS FIRST
    """,
    tags=("join", "null-safe", "nulls"),
)
def q144_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): nation 0 is
    recoded as NULL ("unknown origin") on BOTH sides, and the null-safe
    predicate buckets the unknowns together instead of silently
    dropping them — the semantics a plain equi join gets wrong when a
    join key uses NULL as a real category.

    Scale posture: both sides aggregate to key grain BEFORE the join
    (aggregate-below-join), so the null-safe hash join — which cannot
    use a plain equality hash path on some engines — only ever sees
    ~25 rows per side here; Spark plans `<=>` as an ordinary hash join
    key (null-safe comparison is hashable), so there is no nested-loop
    fallback even at full scale.
    """
    t = load_tables(spark, sf_dir)
    cust = (
        t["customer"]
        .select(F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nat"))
        .groupBy("nat")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        t["supplier"]
        .select(F.nullif(F.col("s_nationkey"), F.lit(0)).alias("nat"))
        .groupBy("nat")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cust.join(supp, cust["nat"].eqNullSafe(supp["nat"]))
        .select(
            cust["nat"],
            F.col("n_cust").cast("long").alias("n_cust"),
            F.col("n_supp").cast("long").alias("n_supp"),
            (F.col("n_cust") * F.col("n_supp")).cast("long").alias("n_pairs"),
        )
        .orderBy(F.asc_nulls_first("nat"))
    )


@query(
    "q180_order_count_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "outer", "distribution", "tpch-q13"),
)
def q180_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (the TPC-H Q13 shape): how many
    customers placed exactly N orders, INCLUDING the zero-order
    customers an inner join would silently drop — the left-outer +
    count(non-null) idiom.

    Scale posture: orders is aggregated to customer grain BEFORE the
    join (aggregate-below-join), so the shuffle carries one row per
    ordering customer instead of one per order, and map-side combine
    does most of that. The second aggregation's key space is tiny
    (max orders per customer), so the final distribution is a
    near-free rollup. The reference would express this as a per-file
    count map (``Program.cs:332-349``) plus a consolidating reduce
    (``Program.cs:351-384``); here both stages are one declarative
    statement Catalyst pipelines."""
    t = load_tables(spark, sf_dir)
    per_cust_orders = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    per_cust = (
        t["customer"]
        .join(per_cust_orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q185_shuffle_hash_join",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 / 10000.0, 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 25
    GROUP BY p_brand
    ORDER BY revenue DESC, p_brand
    """,
    tags=("join", "strategy", "shuffle-hash"),
)
def q185_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit join-strategy control: a fact⋈dimension join forced to
    SHUFFLED_HASH instead of the sort-merge default. When the build side
    fits per-partition memory but is too large to broadcast, SHJ skips
    BOTH sort passes of SMJ — on a 100 TB fact table that is the sort of
    the big side you avoid, often 2-3× on the join stage. The hint is
    the engine's per-query escape hatch where AQE's statistics pick the
    wrong strategy; the plan shape is pinned in test_plans.py
    (ShuffledHashJoin node, build side = part).

    The reference has no join at all — its gather is a single reducer
    over all mapper outputs (``Program.cs:351-378``); strategy choice
    between broadcast/SMJ/SHJ is exactly the control its pluggable-exe
    model cannot express."""
    t = load_tables(spark, sf_dir)
    part = t["part"].where(F.col("p_size") <= 25).hint("SHUFFLE_HASH")
    li = t["lineitem"]
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # Exact integer ten-thousandth-units: the double sum rounds
            # differently between engines exactly at .xx5 boundaries.
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100).cast("long"))
                )
                / 10000.0,
                2,
            ).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_brand"))
    )


_GRID_R = 0.02  # radius; also the grid cell size


def _unit_coord_sql(salt: str, key: str) -> str:
    """Deterministic uniform [0,1) coordinate from a salted md5 prefix —
    the same 32-bit integer division on both engines (no float keys)."""
    return (
        f"(('0x' || substr(md5('{salt}|' || CAST({key} AS VARCHAR)), 1, 8))"
        f"::BIGINT / 4294967296.0)"
    )


@query(
    "q211_spatial_grid_join",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey, c_nationkey,
               {_unit_coord_sql('px', 'c_custkey')} AS x,
               {_unit_coord_sql('py', 'c_custkey')} AS y
        FROM customer
    ),
    supp AS (
        SELECT s_suppkey,
               {_unit_coord_sql('qx', 's_suppkey')} AS x,
               {_unit_coord_sql('qy', 's_suppkey')} AS y
        FROM supplier
    ),
    pairs AS (
        SELECT c.c_nationkey, c.c_custkey, s.s_suppkey,
               (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
        FROM cust c JOIN supp s
          ON abs(floor(c.x / {_GRID_R}) - floor(s.x / {_GRID_R})) <= 1
         AND abs(floor(c.y / {_GRID_R}) - floor(s.y / {_GRID_R})) <= 1
        WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
              <= {_GRID_R} * {_GRID_R}
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT)           AS n_pairs,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           round(min(sqrt(d2)), 6)            AS closest
    FROM pairs
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    tags=("join", "spatial", "grid", "range"),
)
def q211_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spatial radius join via grid bucketing: customers
    and suppliers get deterministic synthetic unit-square coordinates
    (salted-hash uniforms — the fixture has no geo columns; the
    OPERATOR is the point); each point lands in an r-sized grid cell,
    candidate pairs come from a 3×3 neighbor-cell equi-join (one
    side explodes its 9 neighbor cells), and the exact Euclidean
    radius predicate verifies candidates. The oracle runs the same
    construction as a theta join.

    This is the standard "spatial join without a spatial index"
    pattern: the grid turns an O(n·m) distance cross-join into
    per-cell locality, exactly how the prefix filter (q150) turns the
    similarity cross-join into per-token locality.

    Scale posture: the EXPLODED side carries 9 rows per point keyed by
    cell — the shuffle is an equi-join on cell ids with bounded
    per-cell fan-in (cell size = radius caps candidates per cell);
    no nested-loop join ever forms. Skewed cells (a city) salt like
    any hot key (q19)."""
    t = load_tables(spark, sf_dir)

    def coord(salt: str, col):
        return (
            hex_int(F.md5(F.concat(F.lit(f"{salt}|"), col.cast("string"))), 1, 8)
            / F.lit(4294967296.0)
        )

    r = F.lit(_GRID_R)
    cust = t["customer"].select(
        "c_custkey",
        "c_nationkey",
        coord("px", F.col("c_custkey")).alias("x"),
        coord("py", F.col("c_custkey")).alias("y"),
    ).select(
        "*",
        F.floor(F.col("x") / r).alias("cx"),
        F.floor(F.col("y") / r).alias("cy"),
    )
    supp = t["supplier"].select(
        "s_suppkey",
        coord("qx", F.col("s_suppkey")).alias("sx"),
        coord("qy", F.col("s_suppkey")).alias("sy"),
    ).select(
        "*",
        F.floor(F.col("sx") / r).alias("scx"),
        F.floor(F.col("sy") / r).alias("scy"),
    )
    # One side fans out to its 9 neighbor cells → pure equi-join keys.
    neighbors = supp.select(
        "*",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(scx + dx AS ncx, scy + dy AS ncy))))"
            )
        ).alias("nc"),
    ).select("s_suppkey", "sx", "sy", F.col("nc.ncx").alias("ncx"), F.col("nc.ncy").alias("ncy"))
    d2 = (F.col("x") - F.col("sx")) ** 2 + (F.col("y") - F.col("sy")) ** 2
    pairs = (
        cust.join(
            neighbors,
            (F.col("cx") == F.col("ncx")) & (F.col("cy") == F.col("ncy")),
        )
        .where(d2 <= F.lit(_GRID_R * _GRID_R))
        .select("c_nationkey", "c_custkey", d2.alias("d2"))
    )
    return (
        pairs.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.round(F.sqrt(F.min("d2")), 6).alias("closest"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q212_item_cf_cosine",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    item_n AS (
        SELECT l_partkey, count(*) AS n FROM baskets GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 3
    )
    SELECT p.pa, p.pb,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(na.n AS BIGINT)   AS n_a,
           CAST(nb.n AS BIGINT)   AS n_b,
           round(p.n_ab / sqrt(CAST(na.n AS DOUBLE) * nb.n), 6) AS cosine
    FROM pairs p
    JOIN item_n na ON p.pa = na.l_partkey
    JOIN item_n nb ON p.pb = nb.l_partkey
    ORDER BY cosine DESC, p.pa, p.pb
    LIMIT 20
    """,
    tags=("join", "recommender", "cooccurrence", "similarity"),
)
def q212_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    parts from order-basket co-occurrence (n_ab / √(n_a·n_b)), top-20
    pairs with a ≥3-basket support floor — the classic
    "customers who bought X also bought Y" neighborhood model, built
    from counts alone (q136's lift is the independence-test view of
    the same pair counts; cosine is the recommender's ranking view).

    Determinism: cosine ranks by a round(6) value computed from exact
    integer counts with (pa, pb) tie-breaks.

    Scale posture: the pair generation self-joins baskets on order id —
    fan-in per order is basket size, so pairs grow as Σ k²/2 per
    basket, NOT |items|²; the support floor prunes the long tail
    before the item-count joins (aggregate-below-join on both).
    Ubiquitous items are the hazard (a k-item basket emits k-1 pairs
    per hot item): at 100 TB, cap or downsample items whose basket
    count exceeds a frequency ceiling first — they carry no ranking
    signal anyway."""
    li = load_tables(spark, sf_dir)["lineitem"]
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    item_n = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    na = item_n.select(F.col("l_partkey").alias("pa"), F.col("n").alias("n_a"))
    nb = item_n.select(F.col("l_partkey").alias("pb"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, "pa")
        .join(nb, "pb")
        .select(
            "pa",
            "pb",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_ab")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("pa"), F.asc("pb"))
        .limit(20)
    )


@query(
    "q219_cold_start_fallback",
    oracle="""
    WITH nation_top AS (
        SELECT c.c_nationkey AS nk, l.l_partkey,
               count(*) AS n_bought,
               row_number() OVER (
                   PARTITION BY c.c_nationkey
                   ORDER BY count(*) DESC, l.l_partkey
               ) AS rnk
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, l.l_partkey
    ),
    cold AS (
        SELECT c_custkey, c_nationkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    )
    SELECT cold.c_custkey,
           cold.c_nationkey,
           t.l_partkey                    AS rec_partkey,
           CAST(t.rnk AS INTEGER)         AS rec_rank,
           CAST(t.n_bought AS BIGINT)     AS rec_support
    FROM cold
    JOIN nation_top t ON t.nk = cold.c_nationkey AND t.rnk <= 3
    ORDER BY cold.c_custkey, rec_rank
    """,
    tags=("join", "recommender", "cold-start", "anti"),
)
def q219_cold_start_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start fallback recommendations: customers with NO purchase
    history (anti-join) receive their nation's top-3 most-bought parts
    — the popularity prior every recommender backs off to before
    personal signal exists (q212's item-item model needs history;
    this serves the users it cannot). Deterministic ranks: count
    descending, part key tie-break.

    Scale posture: the popularity table aggregates facts down to
    (nation, part) and is top-k-pruned per nation BEFORE joining —
    3×|nations| rows broadcast onto the cold-customer list, so the
    enrichment join moves kilobytes regardless of fact volume. The
    cold list itself is a broadcast anti-join against the distinct
    buyer set."""
    t = load_tables(spark, sf_dir)
    bought = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nk"), "l_partkey")
        .agg(F.count(F.lit(1)).alias("n_bought"))
    )
    top3 = (
        bought.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("nk").orderBy(
                    F.desc("n_bought"), F.asc("l_partkey")
                )
            ),
        )
        .where(F.col("rnk") <= 3)
    )
    buyers = t["orders"].select("o_custkey").distinct()
    # buyers is custkey-grain (grows with the fact table) — no forced
    # broadcast (the q329 rule); AQE promotes from runtime size.
    cold = t["customer"].join(
        buyers, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_nationkey")
    return (
        cold.join(F.broadcast(top3), F.col("c_nationkey") == F.col("nk"))
        .select(
            "c_custkey",
            "c_nationkey",
            F.col("l_partkey").alias("rec_partkey"),
            F.col("rnk").cast("int").alias("rec_rank"),
            F.col("n_bought").cast("long").alias("rec_support"),
        )
        .orderBy("c_custkey", "rec_rank")
    )


@query(
    "q234_order_reconciliation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS li_cents,
               count(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    ),
    rec AS (
        SELECT o.o_orderkey, o.o_orderstatus,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS ord_cents,
               li.li_cents, li.n_lines
        FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN li_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_headerless_detail,
           CAST(sum(CASE WHEN li_cents IS NOT NULL
                         AND abs(ord_cents - li_cents) * 100 <= 5 * ord_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled_5pct,
           round(avg(CASE WHEN li_cents IS NOT NULL
                          THEN abs(ord_cents - li_cents) / 100.0 END), 2)
               AS avg_abs_gap
    FROM rec
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("join", "reconciliation", "audit", "quality"),
)
def q234_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-detail reconciliation: each order's stated total against
    the SUM of its line items — the finance-grade consistency audit
    between an aggregate column and its supposed source of truth,
    reporting per status how many orders reconcile within 5% (exact
    cross-multiplied cents — no float in the tolerance test), how
    many carry no detail lines at all, and the mean absolute gap.
    A pipeline that maintains denormalized aggregates runs exactly
    this after every load; q110's FK audit checks rows exist, this
    checks the NUMBERS agree.

    Scale posture: detail collapses to header grain map-side before
    the join (aggregate-below-join, q180's shape); the reconciliation
    is then header-sized. Co-bucketing both tables on the order key
    makes the join shuffle-free."""
    t = load_tables(spark, sf_dir)
    li = (
        t["lineitem"]
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("c").alias("li_cents"), F.count(F.lit(1)).alias("n_lines"))
    )
    rec = t["orders"].select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("ord_cents"),
    ).join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    gap = F.abs(F.col("ord_cents") - F.col("li_cents"))
    return (
        rec.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("li_cents").isNull().cast("long")).alias(
                "n_headerless_detail"
            ),
            F.sum(
                (
                    F.col("li_cents").isNotNull()
                    & (gap * 100 <= 5 * F.col("ord_cents"))
                ).cast("long")
            ).alias("n_reconciled_5pct"),
            F.round(
                F.avg(
                    F.when(F.col("li_cents").isNotNull(), gap / 100.0)
                ),
                2,
            ).alias("avg_abs_gap"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q237_window_group_limit_topk",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                   AS rnk
        FROM orders
    )
    SELECT c.c_custkey, r.o_orderkey, round(r.o_totalprice, 2) AS amount
    FROM customer c JOIN ranked r ON r.o_custkey = c.c_custkey
    WHERE r.rnk <= 2
    ORDER BY c.c_custkey, amount DESC, r.o_orderkey
    """,
    tags=("join", "top-k", "window-group-limit", "decorrelation"),
)
def q237_window_group_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group LIMIT as a first-class plan operator: "each customer's
    two biggest orders" via rank-filter, which Spark 4 rewrites into
    WindowGroupLimit — group-local top-k HEAPS applied map-side
    (Partial) and again post-shuffle (Final), so at most 2 rows per
    customer ever cross into the join, with no full per-group sort
    materialization. Ties break on o_orderkey, making the pick
    total-order deterministic.

    Deliberate non-choice, recorded for the 100 TB posture: Spark 4.1
    also accepts the correlated ``LATERAL (... ORDER BY ... LIMIT 2)``
    spelling, but decorrelates it through a GLOBAL sort whose ordering
    must survive a hash re-shuffle into an ORDER-BY-less window — an
    order-stability assumption that holds single-node and silently
    breaks under multi-executor shuffle fetch nondeterminism. The
    rank-filter form pins the ordering inside the window spec itself.

    Scale posture: one shuffle of orders on o_custkey (heap-limited on
    the map side first), customer broadcast onto post-limit grain.
    Plan pinned in tests/test_plans.py: WindowGroupLimit present, no
    CartesianProduct/BroadcastNestedLoopJoin.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    top2 = (
        t["orders"]
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    return (
        t["customer"]
        .select("c_custkey")
        .join(top2, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("amount"),
        )
        .orderBy("c_custkey", F.desc("amount"), "o_orderkey")
    )


@query(
    "q328_shipping_priority",
    oracle="""
    WITH per_order AS (
        SELECT l.l_orderkey,
               o.o_orderdate,
               o.o_orderpriority,
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT)) AS revenue_cents
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    )
    SELECT l_orderkey,
           CAST(revenue_cents AS DOUBLE) / 100 AS revenue,
           o_orderdate,
           o_orderpriority
    FROM per_order
    ORDER BY revenue_cents DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("join", "tpch", "topk", "olap"),
)
def q328_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the ten unshipped-revenue-heaviest
    BUILDING-segment orders placed before the cutoff with line items
    still shipping after it — the classic 3-way selective fact join
    with a global top-k.

    Determinism: revenue accumulates as exact integer cents (each
    item's cents rounds independently of summation order), and the
    top-10 cutoff sorts on that exact integer with (date, orderkey)
    tie-breaks — no float at the boundary.

    Scale posture: both filters push to the scans; the segment-
    filtered customer side broadcasts onto orders before the fact
    join, so lineitem shuffles once on l_orderkey; the top-10 is a
    TakeOrdered (per-partition heap → 10-row driver merge), never a
    global sort. Reference: this is the L5 map fan-out + L9 global
    reduce shape (``Program.cs:332-384``) with a k-row consolidation."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    building = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    late_items = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_order = (
        orders.join(
            # 1/5 of a GROWING customer dim — unhinted (the q329 rule):
            # AQE broadcasts while it fits, shuffles beyond.
            building.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(late_items, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(cents).alias("revenue_cents"))
    )
    return (
        per_order.orderBy(
            F.desc("revenue_cents"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        .limit(10)
        .select(
            "l_orderkey",
            (F.col("revenue_cents").cast("double") / 100).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


_LARGE_ORDER_QTY = 300


@query(
    "q329_large_volume_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > {_LARGE_ORDER_QTY}
    )
    SELECT c.c_name,
           c.c_custkey,
           o.o_orderkey,
           o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(b.total_qty, 2) AS total_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY b.total_qty DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("join", "tpch", "having", "olap"),
)
def q329_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total line-item
    quantity exceeds the 99.9th-percentile-ish threshold (300), joined
    back to their order and customer rows — the aggregate-then-
    join-back shape (HAVING on a fact rollup driving a dimension
    lookup).

    Determinism: quantities are small integral doubles whose sums are
    exact; the sort key is that exact sum with an orderkey tie-break.

    Scale posture: the HAVING rollup is partial+final on l_orderkey;
    the survivor set (~0.1% of orders) is usually broadcast-sized, but
    0.1% of a 100 TB orders table can exceed the broadcast limit — so
    no forced hint: AQE promotes the join to broadcast from the
    survivor set's RUNTIME size and falls back to shuffle when it
    must. The final 100-row cut is TakeOrdered.
    Reference: L7 barrier then L8 gather of a filtered aggregate
    (``Program.cs:351-384``)."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > _LARGE_ORDER_QTY)
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


_LATE_SHIP_DAYS_US = 60 * 86_400_000_000


@query(
    "q330_late_shipment_priority",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
                > {_LATE_SHIP_DAYS_US}
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "tpch", "semi", "olap"),
)
def q330_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): for one order-year, count
    orders per priority class that had at least one line item ship
    more than 60 days after the order date — the EXISTS-correlated
    semi-join aggregate that audits fulfilment SLAs by priority.

    Determinism: the lateness predicate compares exact integer
    microseconds (never float day arithmetic); counts are exact.

    Scale posture: the date filter pushes onto the orders scan (one
    year ≈ 1/7 of the fact); the EXISTS compiles to a LEFT SEMI join
    on l_orderkey that emits each order at most once regardless of
    item fan-out; the final rollup is 5 keys with map-side combine.
    Reference: conditional reduce over mapper outputs
    (``Program.cs:351-384``) keyed by the L13 exit-code analog."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = t["lineitem"].select(
        "l_orderkey", F.unix_micros("l_shipdate").alias("ship_us")
    )
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("ship_us") - F.unix_micros("o_orderdate")
            > F.lit(_LATE_SHIP_DAYS_US)
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Round-4 TPC-H classics (q348-q352). The reference's pluggable
# map/reduce slots (App.config:16-17) instantiate textbook OLAP shapes;
# q01/q21/q328/q329/q330 covered Q1/Q5/Q3/Q18/Q4 — these add the
# returned-items top-k (Q10), the conditional-aggregation fact-fact mix
# (Q12 shape), the promo revenue share (Q14), the disjunctive-predicate
# scan (Q19 shape), and the inactive-high-balance anti-join (Q22 shape),
# each adapted to the fixture's trimmed columns.


@query(
    "q348_returned_item_customers",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) DESC,
             c.c_custkey
    LIMIT 20
    """,
    tags=("join", "tpch", "topk", "olap"),
)
def q348_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): the 20 customers who
    generated the most revenue on RETURNED line items — the
    lost-revenue ranking a retention team works from.

    Determinism: revenue is rounded to cents BEFORE the ordering and
    the cut, with a custkey tie-break (the q337 argmax discipline —
    raw float sums differ by summation-order ulps across engines, so
    they never order a result directly).

    Scale posture: the returnflag filter pushes to the lineitem scan
    (1/3 selectivity), the fact⋈fact join shuffles once on orderkey,
    the customer rollup is partial+final on custkey, nation is a
    broadcast dim, and the 20-row cut is TakeOrdered — no global
    sort. Reference contract: per-file revenue scoring = map slot
    (``App.config:16``), ranked consolidation = reduce slot
    (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    returned = t["lineitem"].where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        returned.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["customer"].select("c_custkey", "c_name", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q349_ship_delay_priority_mix",
    oracle="""
    SELECT CASE WHEN d < 30 THEN 'fast'
                WHEN d < 90 THEN 'normal'
                ELSE 'slow' END AS delay_class,
           CAST(sum(CASE WHEN pri IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN pri IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (
        SELECT (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
                   // 86400000000 AS d,
               o.o_orderpriority AS pri
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    GROUP BY delay_class
    ORDER BY delay_class
    """,
    tags=("join", "tpch", "conditional-agg", "olap"),
)
def q349_ship_delay_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (the fixture has no shipmode column, so the
    grouping key is the shipping-DELAY class): per delay class
    (<30 d fast / <90 d normal / slow), how many line items belonged
    to critical-priority orders vs the rest — the conditional
    aggregation (CASE-sum pivot) over a fact⋈fact join that answers
    "does slow shipping hit urgent orders".

    Determinism: the delay is exact integer microsecond arithmetic
    floor-divided to days (Spark ``unix_micros`` ≡ DuckDB
    ``epoch_us``; never engine date_diff, whose boundary conventions
    differ); all outputs are integer counts.

    Scale posture: both CASE-sums evaluate map-side inside one
    partial+final aggregate over a 3-row grain — one orderkey shuffle
    for the join, one tiny final agg. Reference contract: per-item
    classification = map slot, priority-mix consolidation = reduce
    slot (``App.config:16-17``)."""
    t = load_tables(spark, sf_dir)
    joined = (
        t["lineitem"]
        .select("l_orderkey", "l_shipdate")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.when(
                F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate")
                < 30 * 86_400_000_000,
                "fast",
            )
            .when(
                F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate")
                < 90 * 86_400_000_000,
                "normal",
            )
            .otherwise("slow")
            .alias("delay_class"),
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("hi"),
        )
    )
    return (
        joined.groupBy("delay_class")
        .agg(
            F.sum(F.when(F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("hi"), 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@query(
    "q350_promo_revenue_share",
    oracle="""
    SELECT date_trunc('month', l.l_shipdate) AS ship_month,
           round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS promo_share_pct,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY ship_month
    ORDER BY ship_month
    """,
    tags=("join", "tpch", "olap", "ratio"),
)
def q350_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect), widened from the classic's single
    row to a monthly series: the share of revenue attributable to
    PROMO-type parts per ship month — the marketing-effect trend line.

    Determinism: the share is one float division of two same-order
    conditional sums rounded at 4 (both engines aggregate the same
    pairs; summation-order ulps wash out at 4dp — the q141/q189 ratio
    discipline); the month key stays a TIMESTAMP on both sides (the
    DATE-normalization trap).

    Scale posture: part joins broadcast into the fact scan; both
    conditional sums are map-side partial aggregates over the
    ≤|months| grain — one shuffle at month grain, no fact⋈fact.
    Reference contract: per-item promo tagging = map slot, monthly
    share consolidation = reduce slot (``App.config:16-17``)."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("ship_month")
    )


@query(
    "q351_disjunctive_predicate_revenue",
    oracle="""
    SELECT p.p_brand,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    tags=("join", "tpch", "pushdown", "olap"),
)
def q351_disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under a disjunction of
    brand/size/quantity envelopes — the classic OR-of-ANDs predicate
    that naive planners evaluate post-join).

    Determinism: integer/equality predicates only; revenue rounds to
    cents after the sum.

    Scale posture: Catalyst splits the disjunction — the common
    disjunct of part-only predicates prunes the broadcast dim BEFORE
    the join, the quantity residual evaluates in the join filter, and
    the lineitem scan keeps a quantity range filter from the OR'd
    bounds (plan-pinned: PushedFilters on the scan contains an Or).
    At 100 TB this is the query where predicate decomposition is the
    difference between scanning 3 brands' rows and scanning
    everything. Reference contract: the whole WHERE is the map slot's
    per-file filter program (``App.config:16``)."""
    t = load_tables(spark, sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .where(cond)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


_INACTIVE_CUTOFF = "1999-01-01 00:00:00"


@query(
    "q352_inactive_high_balance",
    oracle=f"""
    WITH thresh AS (
        SELECT round(avg(c_acctbal), 2) AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN thresh
    WHERE c.c_acctbal > thresh.a
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '{_INACTIVE_CUTOFF}'
      )
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    tags=("join", "tpch", "anti-join", "subquery", "olap"),
)
def q352_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity; the fixture has no
    phone column, so the segmentation key is the nation dim):
    customers whose balance exceeds the positive-balance average but
    who placed NO order since the cutoff — the dormant-value segment,
    per nation. Combines a scalar aggregate subquery, an anti-join,
    and a dim rollup in one statement.

    Determinism: the threshold is rounded to cents BEFORE the
    comparison on both engines — the raw averages differ by
    summation-order ulps, and a customer sitting exactly on the
    rounded threshold then compares identically everywhere (strict >
    of two equal doubles).

    Scale posture: the threshold is a 1-row broadcast (crossJoin of a
    global aggregate); the inactivity check is a LEFT ANTI join
    against the date-filtered orders (the filter pushes to the orders
    scan first — at 100 TB the anti-join probe side is only the
    post-cutoff slice, not all orders); nation is a broadcast dim.
    Reference contract: threshold = one reduce-slot pass, the
    anti-joined rollup = a second map+reduce round
    (``App.config:16-17``)."""
    t = load_tables(spark, sf_dir)
    thresh = (
        t["customer"]
        .where(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 2).alias("a"))
    )
    recent = t["orders"].where(
        F.col("o_orderdate") >= F.lit(_INACTIVE_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    return (
        t["customer"]
        .crossJoin(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("nation")
    )


_AP_TOPN = 20  # triples reported
_AP_L2 = 40  # frequent-pair cut: top-N pairs by support


@query(
    "q388_apriori_triple_itemsets",
    oracle=f"""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
    l2 AS (
        SELECT a.p_brand AS ba, b.p_brand AS bb
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
        ORDER BY count(*) DESC, ba, bb
        LIMIT {_AP_L2}
    ),
    tris AS (
        SELECT a.p_brand AS ba, b.p_brand AS bb, c.p_brand AS bc,
               count(*) AS support_n
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.p_brand < b.p_brand
        JOIN baskets c ON a.l_orderkey = c.l_orderkey
                      AND b.p_brand < c.p_brand
        WHERE EXISTS (SELECT 1 FROM l2 WHERE l2.ba = a.p_brand
                                        AND l2.bb = b.p_brand)
          AND EXISTS (SELECT 1 FROM l2 WHERE l2.ba = a.p_brand
                                        AND l2.bb = c.p_brand)
          AND EXISTS (SELECT 1 FROM l2 WHERE l2.ba = b.p_brand
                                        AND l2.bb = c.p_brand)
        GROUP BY a.p_brand, b.p_brand, c.p_brand
    )
    SELECT ba AS brand_a, bb AS brand_b, bc AS brand_c,
           CAST(support_n AS BIGINT) AS support_n,
           CAST((1000000 * support_n) // (SELECT n_orders FROM tot)
                AS BIGINT) AS support_ppm
    FROM tris
    ORDER BY support_n DESC, brand_a, brand_b, brand_c
    LIMIT {_AP_TOPN}
    """,
    tags=("join", "basket", "apriori", "itemset", "association-rules"),
)
def q388_apriori_triple_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-wise Apriori over brand baskets: frequent brand TRIPLES,
    with the L2 prune applied exactly as Agrawal & Srikant prescribe —
    a triple is only counted when all three of its sub-pairs are
    themselves frequent. "Frequent pair" is the top-40 pairs by
    support (a rank cut, not a fixed fraction): the fixture's uniform
    baskets never push any pair past a few percent support (max pair
    support probed at 4.75%/3.15%/2.53% for sf0.001/0.01/0.1), so a
    fixed 5% minimum support left every level empty and the prune
    unexercised — the rank cut keeps L2 at exactly 40 of the 300
    possible pairs and L3 non-empty (53/58 surviving triples probed
    at sf0.001/0.01) at every scale. Extends q136 (pair lift) to the
    3-itemset level every association-rule miner needs before rule
    generation.

    Determinism: supports are exact basket counts; the L2 rank cut
    orders by (support desc, lexicographic pair) — a total order even
    through boundary ties; the top-20 triples order by (support desc,
    lexicographic triple).

    Scale posture: items map to a BOUNDED vocabulary (25 brands), so
    pair/triple spaces are ≤ 300 / ≤ 2300 regardless of fact size; the
    self-joins co-partition on l_orderkey (one shuffle shared by both
    levels), per-basket brand sets are tiny, and the L2 prune list
    broadcasts (exactly 40 rows) into the triple join's EXISTS
    semi-joins; the rank cut itself is a TakeOrdered over ≤ 300
    pair-grain rows, never a fact-side sort.
    ``tests/test_llm_ops.py::test_q388_prune_levels_nonempty`` pins
    the non-degeneracy of both levels.
    Reference contract: per-basket itemization = map slot
    (``App.config:16``); level-wise support rollup = reduce slot
    (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    baskets = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
        .persist()
    )
    n_orders = baskets.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    a, b, c = baskets.alias("a"), baskets.alias("b"), baskets.alias("c")
    l2 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("ba"), F.col("b.p_brand").alias("bb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "ba", "bb")
        .limit(_AP_L2)
        .select("ba", "bb")
    )
    # r14 optimization (guide §3.2 "reduce the big side before the
    # join", §3.3 "explode before a join multiplies the shuffle"): the
    # (ba, bb) ∈ L2 prune used to run AFTER the triple join, so every
    # infrequent pair still fanned out over its basket's c-side brands
    # first. A left-semi commutes with the later inner join on
    # preserved columns, so applying it to the PAIR frame first drops
    # ~87% of the c-join's probe input (top-40 of 300 pairs) and
    # changes no released row — the same three sub-pair predicates
    # gate every triple either way (oracle-green re-verified at all
    # three SFs).
    ab = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .select(
            F.col("a.l_orderkey").alias("ab_orderkey"),
            F.col("a.p_brand").alias("ba"),
            F.col("b.p_brand").alias("bb"),
        )
        .join(
            F.broadcast(
                l2.select(F.col("ba").alias("_ba"), F.col("bb").alias("_bb"))
            ),
            (F.col("ba") == F.col("_ba")) & (F.col("bb") == F.col("_bb")),
            "left_semi",
        )
    )
    tris = ab.join(
        c,
        (F.col("ab_orderkey") == F.col("c.l_orderkey"))
        & (F.col("bb") < F.col("c.p_brand")),
    ).select("ba", "bb", F.col("c.p_brand").alias("bc"))
    for pa, pb in (("ba", "bc"), ("bb", "bc")):
        tris = tris.join(
            F.broadcast(
                l2.select(
                    F.col("ba").alias(f"_{pa}"), F.col("bb").alias(f"_{pb}")
                )
            ),
            (F.col(pa) == F.col(f"_{pa}")) & (F.col(pb) == F.col(f"_{pb}")),
            "left_semi",
        )
    out = (
        tris.groupBy("ba", "bb", "bc")
        .agg(F.count(F.lit(1)).alias("support_n"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            F.col("bc").alias("brand_c"),
            F.col("support_n").cast("long").alias("support_n"),
            F.expr("(1000000 * support_n) div n_orders")
            .cast("long")
            .alias("support_ppm"),
        )
        .orderBy(
            F.desc("support_n"), "brand_a", "brand_b", "brand_c"
        )
        .limit(_AP_TOPN)
    )
    # Bounded top-20 result: materialize eagerly so the basket frame's
    # cached blocks release now instead of leaking into the long-lived
    # bench/driver session (the q384 unpersist discipline).
    out = out.localCheckpoint(eager=True)
    baskets.unpersist()
    return out
