"""Incremental-maintenance ETL operators: upsert (MERGE INTO semantics)
and SCD Type-2 dimension versioning.

The reference's pipeline is re-run-the-world: every run re-stages every
input file (``Program.cs:248-258``). Real pipelines apply DELTAS — these
operators are the batch-relational forms of that, expressed as plain
joins/windows so they run on bare parquet (no table-format dependency;
on Delta/Iceberg the same logic is the engine's MERGE INTO).

Scale notes: upsert is one full-outer join on the key — shuffle both
sides once, or zero shuffles if target and updates are co-bucketed on
the key (``sources.files.write_bucketed``). SCD2 is one window over
(key, change-ts) — a single shuffle, state-free, embarrassingly
incremental if changes arrive partitioned by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.operators.ranks import half_up_ratio, hex_int
from azure_batch_map_reduce_spark.registry import query


def upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames: rows in ``updates``
    replace same-key rows in ``target`` (matched → update), new keys
    append (not matched → insert). Column sets must match."""
    cols = target.columns
    u = updates.select(*[F.col(c).alias(f"_u_{c}") for c in cols])
    joined = target.join(u, target[key] == u[f"_u_{key}"], "full_outer")
    merged = [
        F.coalesce(F.col(f"_u_{c}"), F.col(c)).alias(c) for c in cols
    ]
    return joined.select(*merged)


@query(
    "q98_upsert_merge",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey,
               'P' AS o_orderstatus,
               (CAST(round(o_totalprice * 100) AS BIGINT) * 110 + 50) // 100
                   AS cents
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT 900000000 + o_orderkey, 'N',
               CAST(round(o_totalprice * 100) AS BIGINT)
        FROM orders WHERE o_orderkey % 100 = 7
    ),
    base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    merged AS (
        SELECT coalesce(u.o_orderkey, b.o_orderkey)         AS o_orderkey,
               coalesce(u.o_orderstatus, b.o_orderstatus)   AS o_orderstatus,
               coalesce(u.cents, b.cents)                   AS cents
        FROM base b FULL OUTER JOIN updates u USING (o_orderkey)
    )
    SELECT o_orderstatus,
           count(*)                        AS n,
           CAST(sum(cents) AS DOUBLE) / 100 AS total
    FROM merged
    GROUP BY o_orderstatus
    """,
    tags=("etl", "upsert", "merge"),
)
def q98_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on bare parquet: a synthetic delta batch (10% price
    corrections + new late-arriving orders) applied to the orders table
    via :func:`upsert`, then aggregated so the oracle hash-checks the
    post-merge state. One full-outer shuffle; co-bucketed layouts make
    it shuffle-free."""
    orders = load_tables(spark, sf_dir)["orders"]
    # Money stays in exact integer cents end-to-end: the 10% correction
    # round(price*1.1, 2) hits half-cent boundaries differently per
    # engine at sf0.1 (0.06 total drift observed), and a 60k-row raw
    # double sum adds order-dependent ulps — both die when the
    # correction is (cents*110 + 50) div 100 and the rollup sums longs
    # (the q207 float-cents discipline).
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    corrections = base.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        F.lit("P").alias("o_orderstatus"),
        F.expr("(cents * 110 + 50) div 100").alias("cents"),
    )
    inserts = base.filter(F.col("o_orderkey") % 100 == 7).select(
        (F.lit(900_000_000) + F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("cents"),
    )
    merged = upsert(base, corrections.unionByName(inserts), "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("cents").cast("double") / 100).alias("total"),
    )


def scd2(changes: DataFrame, key: str, ts: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a change log into validity
    intervals — each version valid from its own timestamp until the next
    version's (open interval = NULL valid_to, is_current = true)."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    return (
        changes.withColumn("valid_from", F.col(ts))
        .withColumn("valid_to", F.lead(ts).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


@query(
    "q99_scd2_versions",
    oracle="""
    WITH changes AS (
        SELECT o_custkey, o_orderdate AS change_ts, o_orderpriority AS attr
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    v AS (
        SELECT o_custkey, attr,
               change_ts                    AS valid_from,
               lead(change_ts) OVER w       AS valid_to,
               lead(change_ts) OVER w IS NULL AS is_current
        FROM changes
        WINDOW w AS (PARTITION BY o_custkey ORDER BY change_ts ASC)
    )
    SELECT o_custkey,
           count(*)                                         AS n_versions,
           CAST(sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
           min(valid_from)                                  AS first_seen,
           max(valid_from)                                  AS last_change
    FROM v
    GROUP BY o_custkey
    HAVING count(*) > 1
    """,
    tags=("etl", "scd2", "versioning"),
)
def q99_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 versioning: a change log (per-customer priority
    changes, ordered by order date) becomes validity intervals via one
    window pass (:func:`scd2`); exactly one open version per key
    (checked by the aggregate), no self-join, no state. The oracle
    replays the interval construction."""
    orders = load_tables(spark, sf_dir)["orders"]
    changes = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_custkey",
        F.col("o_orderdate").alias("change_ts"),
        F.col("o_orderpriority").alias("attr"),
    )
    v = scd2(changes, key="o_custkey", ts="change_ts")
    return (
        v.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum(F.col("is_current").cast("int")).cast("long").alias("n_current"),
            F.min("valid_from").alias("first_seen"),
            F.max("valid_from").alias("last_change"),
        )
        .filter(F.col("n_versions") > 1)
    )


@query(
    "q59_column_profile",
    oracle="""
    SELECT 'o_orderstatus' AS col,
           count(*) - count(o_orderstatus)      AS n_null,
           count(DISTINCT o_orderstatus)        AS n_distinct,
           CAST(min(o_orderstatus) AS VARCHAR)  AS min_s,
           CAST(max(o_orderstatus) AS VARCHAR)  AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           count(*) - count(o_custkey), count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           count(*) - count(o_totalprice), count(DISTINCT round(o_totalprice, 2)),
           CAST(round(min(o_totalprice), 2) AS VARCHAR), CAST(round(max(o_totalprice), 2) AS VARCHAR)
    FROM orders
    """,
    tags=("etl", "profiling", "quality"),
)
def q59_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality pass of an ingest pipeline):
    null count, distinct count, min/max for several columns computed in
    ONE aggregation job, then unpivoted to long form — the whole profile
    is a single scan + single (global) aggregate, not one query per
    column. At 100 TB swap count_distinct for approx_count_distinct
    (q15/q38 show the sketch trade) — the shape is unchanged."""
    orders = load_tables(spark, sf_dir)["orders"]
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]

    def stats(c: str):
        val = F.round(F.col(c), 2) if c == "o_totalprice" else F.col(c)
        return [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.count_distinct(val).alias(f"{c}__n_distinct"),
            F.min(val).cast("string").alias(f"{c}__min_s"),
            F.max(val).cast("string").alias(f"{c}__max_s"),
        ]

    wide = orders.agg(*[e for c in cols for e in stats(c)])
    # Unpivot the single wide row to (col, stats...) long form.
    struct_per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__n_null").alias("n_null"),
                F.col(f"{c}__n_distinct").alias("n_distinct"),
                F.col(f"{c}__min_s").alias("min_s"),
                F.col(f"{c}__max_s").alias("max_s"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(struct_per_col).alias("p")).select("p.*")


@query(
    "q110_quality_audit",
    oracle="""
    SELECT 'orphan_lineitem_orders' AS rule,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS violations
    UNION ALL
    SELECT 'orphan_orders_customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'orphan_lineitem_part',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'nonpositive_quantity',
           CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
    UNION ALL
    SELECT 'discount_out_of_range',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT)
    UNION ALL
    SELECT 'null_event_user',
           CAST((SELECT count(*) FROM events WHERE user_id IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'short_document',
           CAST((SELECT count(*) FROM documents WHERE n_chars < 100) AS BIGINT)
    """,
    tags=("etl", "quality", "audit", "constraints"),
)
def q110_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit — the validation gate of an ingest
    pipeline: referential-integrity rules (anti-join counts) and value
    constraints (range/null predicates), emitted long-form as
    (rule, violations) so downstream alerting is schema-stable as rules
    are added.

    Scale posture: each FK rule is a LEFT ANTI join that Catalyst plans
    as broadcast (small parent) or shuffled hash join (big-big) with
    map-side early-out; value rules are pure scan+filter+count with the
    predicate pushed to parquet. The per-rule 1-row aggregates union
    into one result — rules run as independent jobs sharing the scan
    cache, and no rule ever materializes the violating rows themselves
    (count-only audit; a triage query would re-filter just the broken
    rule).
    """
    t = load_tables(spark, sf_dir)

    def anti_count(child: DataFrame, parent: DataFrame, cond) -> DataFrame:
        return child.join(parent, cond, "left_anti").agg(
            F.count(F.lit(1)).alias("violations")
        )

    def pred_count(df: DataFrame, pred) -> DataFrame:
        return df.where(pred).agg(F.count(F.lit(1)).alias("violations"))

    li, o, c, p = t["lineitem"], t["orders"], t["customer"], t["part"]
    rules = [
        ("orphan_lineitem_orders", anti_count(li, o, li.l_orderkey == o.o_orderkey)),
        ("orphan_orders_customer", anti_count(o, c, o.o_custkey == c.c_custkey)),
        ("orphan_lineitem_part", anti_count(li, p, li.l_partkey == p.p_partkey)),
        ("nonpositive_quantity", pred_count(li, F.col("l_quantity") <= 0)),
        (
            "discount_out_of_range",
            pred_count(li, (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)),
        ),
        ("null_event_user", pred_count(t["events"], F.col("user_id").isNull())),
        ("short_document", pred_count(t["documents"], F.col("n_chars") < 100)),
    ]
    out = None
    for name, df in rules:
        row = df.select(F.lit(name).alias("rule"), "violations")
        out = row if out is None else out.unionAll(row)
    return out


_Z_BITS = 8


def _zorder_oracle() -> str:
    """Arithmetic (dialect-neutral) bit interleave: bit i of x lands at
    position 2i, bit i of y at 2i+1. Same integers as the Spark side's
    shift/AND formulation."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((x // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((y // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    z = " + ".join(terms)
    return f"""
    WITH keyed AS (
        SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem
    ),
    zed AS (SELECT x, y, {z} AS zval FROM keyed)
    SELECT CAST(zval // 256 AS INTEGER) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS INTEGER) AS x_lo, CAST(max(x) AS INTEGER) AS x_hi,
           CAST(min(y) AS INTEGER) AS y_lo, CAST(max(y) AS INTEGER) AS y_hi
    FROM zed
    GROUP BY zval // 256
    """


@query(
    "q115_zorder_layout",
    oracle=_zorder_oracle(),
    tags=("etl", "layout", "zorder", "data-skipping"),
)
def q115_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey) low
    bytes, rolled up per 256-value z-bucket with each bucket's x/y
    bounding box. The bounding boxes are the point: under a z-order
    sort, every file's min/max footer covers a tight rectangle in BOTH
    dimensions, so predicates on either key skip most files — the
    multi-column data-skipping layout a linear sort can't give. Writing
    is then just `sortWithinPartitions(zval)` before the sink; this
    query is the layout-planning/inspection half.

    Scale posture: the z-value is pure map-side bit math (shift/AND,
    whole-stage codegen); the only shuffle is the per-bucket rollup.
    Bucket stats (256 rows) are what a table-format's file-pruning
    index stores — computing them IS the skipping metadata.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    x = (F.col("l_partkey") % 256).cast("long")
    y = (F.col("l_suppkey") % 256).cast("long")
    zval = None
    for i in range(_Z_BITS):
        tx = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ty = F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        zval = tx + ty if zval is None else zval + tx + ty
    zed = li.select(x.alias("x"), y.alias("y"), zval.alias("zval"))
    return zed.groupBy(
        (F.col("zval") / 256).cast("int").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").cast("int").alias("x_lo"),
        F.max("x").cast("int").alias("x_hi"),
        F.min("y").cast("int").alias("y_lo"),
        F.max("y").cast("int").alias("y_hi"),
    )


_DIFF_HASH = (
    "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || "
    "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)), 1, 8))::BIGINT"
)


@query(
    "q121_table_diff",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders
    ),
    delta AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 3
                    THEN round(o_totalprice * 1.1, 2)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
    ),
    cb AS (
        SELECT o_orderkey % 64 AS bucket, sum({_DIFF_HASH}) AS checksum,
               count(*) AS n
        FROM base GROUP BY o_orderkey % 64
    ),
    cd AS (
        SELECT o_orderkey % 64 AS bucket, sum({_DIFF_HASH}) AS checksum,
               count(*) AS n
        FROM delta GROUP BY o_orderkey % 64
    )
    SELECT cb.bucket,
           CAST(cb.n AS BIGINT) AS n_rows,
           cb.checksum <> cd.checksum AS differs
    FROM cb JOIN cd ON cd.bucket = cb.bucket
    """,
    tags=("etl", "diff", "checksum", "sync"),
)
def q121_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-level table diff via content checksums — the anti-entropy
    /incremental-sync primitive: hash every row's (key, value-in-cents)
    to a 32-bit window of md5, sum per key-bucket, and compare two
    snapshots bucket by bucket. Only buckets whose checksums differ
    need row-level reconciliation — a replication checker never
    re-reads the 99% of buckets that match. The synthetic second
    snapshot perturbs keys ≡ 3 (mod 10), so exactly the buckets
    containing such keys flag.

    Scale posture: checksums are map-side hash math + a partial→final
    sum per bucket — each snapshot is scanned once, and the bucket
    comparison joins 64-row aggregates. Values are hashed in integer
    cents: float→string formatting differs across engines, integer
    strings never do. A Merkle layering (bucket→super-bucket) makes
    the narrowing logarithmic for trillion-row tables.
    """
    o = load_tables(spark, sf_dir)["orders"]
    base = o.select("o_orderkey", "o_totalprice")
    delta = o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 10 == 3, F.round(F.col("o_totalprice") * 1.1, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )

    def checksums(df: DataFrame) -> DataFrame:
        h = hex_int(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("o_orderkey").cast("string"),
                    F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                )
            ),
            1,
            8,
        )
        return df.groupBy((F.col("o_orderkey") % 64).alias("bucket")).agg(
            F.sum(h).alias("checksum"), F.count(F.lit(1)).alias("n")
        )
    cb = checksums(base)
    cd = checksums(delta).select(
        F.col("bucket").alias("d_bucket"), F.col("checksum").alias("d_checksum")
    )
    return cb.join(cd, cb["bucket"] == cd["d_bucket"]).select(
        "bucket",
        F.col("n").alias("n_rows"),
        (F.col("checksum") != F.col("d_checksum")).alias("differs"),
    )


# Shared engine/oracle SQL for PSI drift: identical text runs on Spark
# (over registered temp views) and DuckDB (over parquet views), so the
# binning, smoothing, and log terms are computed by the same expressions.
_PSI_SQL = """
WITH ref AS (
    SELECT event_type, value,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
),
edges AS (
    SELECT ref.event_type, g.i,
           max(CASE WHEN ref.rn * 5 <= ref.n * g.i THEN ref.value END) AS edge
    FROM ref CROSS JOIN (VALUES (1), (2), (3), (4)) AS g(i)
    GROUP BY ref.event_type, g.i
),
scored AS (
    SELECT ev.event_id, ev.event_type, ev.ts,
           1 + sum(CASE WHEN ev.value > e.edge THEN 1 ELSE 0 END) AS bin
    FROM events ev JOIN edges e ON ev.event_type = e.event_type
    GROUP BY ev.event_id, ev.event_type, ev.ts
),
counts AS (
    SELECT event_type, bin,
           sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END) AS c_ref,
           sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END) AS c_cur
    FROM scored GROUP BY event_type, bin
),
tot AS (
    SELECT event_type, sum(c_ref) AS n_ref, sum(c_cur) AS n_cur
    FROM counts GROUP BY event_type
),
terms AS (
    SELECT c.event_type, t.n_ref, t.n_cur,
           (CAST(c.c_cur AS DOUBLE) + 0.5) / (t.n_cur + 2.5) AS pc,
           (CAST(c.c_ref AS DOUBLE) + 0.5) / (t.n_ref + 2.5) AS pr
    FROM counts c JOIN tot t ON c.event_type = t.event_type
)
SELECT event_type,
       CAST(max(n_ref) AS BIGINT) AS n_ref,
       CAST(max(n_cur) AS BIGINT) AS n_cur,
       round(sum((pc - pr) * ln(pc / pr)), 6) AS psi
FROM terms GROUP BY event_type ORDER BY event_type
"""


@query(
    "q154_psi_drift",
    oracle=_PSI_SQL,
    tags=("etl", "drift", "psi", "monitoring"),
)
def q154_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream, per event type: the reference half defines 5
    equal-population value bins (edges picked by integer rank
    arithmetic — ``rn·5 ≤ n·i`` — so no float quantile interpolation is
    involved), every event is assigned a bin by comparing against the
    ≤4 edges, and PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) with
    Laplace-smoothed proportions so an empty bin can't produce ±∞.
    PSI < 0.1 is conventionally "no drift"; > 0.25 "action".

    The engine runs the IDENTICAL SQL text as the DuckDB oracle
    (registered temp views), so binning and smoothing semantics can't
    diverge; the only cross-engine risk is a 1-ulp libm ``ln``
    difference, absorbed by rounding.

    Scale posture: the edge table is event-types×4 rows (broadcast
    join); bin assignment is a map-side conditional sum; everything
    downstream of ``scored`` is type×bin grain. The ranking window in
    ``ref`` is the one real shuffle, partitioned by event_type — for a
    skewed type mix, swap in approx edges (percentile_approx) without
    touching the PSI layer.
    """
    from azure_batch_map_reduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PSI_SQL)


@query(
    "q155_interval_concurrency",
    oracle="""
    WITH deltas AS (
        SELECT l_suppkey, l_shipdate AS t, 1 AS delta,
               l_orderkey, l_linenumber
        FROM lineitem
        UNION ALL
        SELECT l_suppkey,
               l_shipdate + (l_orderkey % 7 + 1) * INTERVAL '1 day' AS t,
               -1 AS delta, l_orderkey, l_linenumber
        FROM lineitem
    ),
    swept AS (
        SELECT l_suppkey, t, delta,
               sum(delta) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY t, delta, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS concurrency
        FROM deltas
    ),
    peak AS (
        SELECT l_suppkey, max(concurrency) AS max_concurrent
        FROM swept GROUP BY l_suppkey
    )
    SELECT s.l_suppkey,
           CAST(count(*) / 2 AS BIGINT) AS n_shipments,
           CAST(max(p.max_concurrent) AS INTEGER) AS max_concurrent,
           min(CASE WHEN s.concurrency = p.max_concurrent THEN s.t END)
               AS peak_t
    FROM swept s JOIN peak p ON s.l_suppkey = p.l_suppkey
    GROUP BY s.l_suppkey
    ORDER BY s.l_suppkey
    """,
    tags=("etl", "intervals", "sweep", "concurrency"),
)
def q155_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum concurrent open shipments per supplier via the +1/−1
    boundary-sweep — the O(n log n) interval-overlap idiom that replaces
    the O(n²) self-join entirely. Each shipment holds a transit window
    [shipdate, shipdate + 1..7 days) (deterministic synthetic transit —
    the fixture has no receipt date); every window contributes a +1 at
    open and a −1 at close, and the running sum under a total order
    (t, delta, orderkey, linenumber — closes sort before opens at the
    same instant, making windows half-open) IS the concurrency curve.
    Emits each supplier's shipment count, peak concurrency, and the
    first instant the peak is reached.

    Scale posture: the sweep is one shuffle on l_suppkey (both the
    window and both aggregations share it); no join ever forms interval
    pairs, so a 100× fan-in of overlapping intervals costs 100× rows,
    not 10000× pairs. This is the scale path q150's oracle (a true
    pair join) cannot take.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    opens = li.select(
        "l_suppkey",
        F.col("l_shipdate").alias("t"),
        F.lit(1).alias("delta"),
        "l_orderkey",
        "l_linenumber",
    )
    closes = li.select(
        "l_suppkey",
        F.expr(
            "l_shipdate + make_dt_interval(cast(l_orderkey % 7 + 1 as int))"
        ).alias("t"),
        F.lit(-1).alias("delta"),
        "l_orderkey",
        "l_linenumber",
    )
    swept = opens.unionAll(closes).withColumn(
        "concurrency",
        F.sum("delta").over(
            Window.partitionBy("l_suppkey")
            .orderBy("t", "delta", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # Argmax in ONE aggregation: lexicographic struct-max picks the
    # highest concurrency and, among its ties, the EARLIEST t (negated
    # epoch-µs) — no join back onto swept, so the union+window pipeline
    # is computed once instead of twice.
    packed = F.max(
        F.struct(
            F.col("concurrency").alias("c"),
            (-F.unix_micros(F.col("t"))).alias("neg_us"),
        )
    ).alias("pk")
    return (
        swept.groupBy("l_suppkey")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_shipments"),
            packed,
        )
        .select(
            "l_suppkey",
            "n_shipments",
            F.col("pk.c").cast("int").alias("max_concurrent"),
            F.timestamp_micros(-F.col("pk.neg_us")).alias("peak_t"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "q166_point_in_time_join",
    oracle="""
    WITH dim AS (
        SELECT s_suppkey,
               TIMESTAMP '1995-01-01'
                 + (s_suppkey % 365) * INTERVAL '1 day'
                 + (v.vno - 1) * INTERVAL '400 days' AS vf,
               CASE v.vno WHEN 1 THEN 'bronze' WHEN 2 THEN 'silver'
                    ELSE 'gold' END AS tier
        FROM supplier CROSS JOIN (VALUES (1), (2), (3)) AS v(vno)
    ),
    f AS (
        SELECT l_suppkey, l_shipdate,
               CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS cents
        FROM lineitem
    )
    SELECT coalesce(d.tier, 'none') AS tier,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(f.cents) AS DOUBLE) / 100, 2) AS revenue
    FROM f ASOF LEFT JOIN dim d
      ON f.l_suppkey = d.s_suppkey AND f.l_shipdate >= d.vf
    GROUP BY coalesce(d.tier, 'none')
    ORDER BY tier
    """,
    tags=("etl", "scd2", "point-in-time", "asof"),
)
def q166_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of facts against an SCD2 dimension: every
    lineitem is priced under the supplier-tier version valid AT its
    ship date (versions: bronze/silver/gold, deterministic synthetic
    valid_from staggered per supplier across the fact date range). The
    engine uses the sort-merge carry-forward idiom — union dimension
    versions and facts into one stream keyed by supplier, order by
    (time, dims-first-at-ties so valid_from <= fact is inclusive), and
    ``last(tier, ignorenulls)`` hands each fact its effective version.
    This is the scalable PIT shape: ONE shuffle over facts+versions, no
    range join, no per-fact probe. The oracle runs DuckDB's native
    ``ASOF LEFT JOIN`` with >= semantics.

    Scale posture: the union stream shuffles once on suppkey; dimension
    rows are a vanishing fraction of it. Compare q27 (as-of via the
    same trick on quotes) — here the carried payload is a dimension
    attribute, i.e. the SCD2 consumption pattern for backtest-safe
    feature joins.
    """
    t = load_tables(spark, sf_dir)
    versions = (
        t["supplier"]
        .select(
            "s_suppkey",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("vno"),
        )
        .select(
            F.col("s_suppkey").alias("k"),
            F.expr(
                "TIMESTAMP '1995-01-01' + make_dt_interval(cast(s_suppkey % 365 as int))"
                " + make_dt_interval(cast((vno - 1) * 400 as int))"
            ).alias("t"),
            F.when(F.col("vno") == 1, "bronze")
            .when(F.col("vno") == 2, "silver")
            .otherwise("gold")
            .alias("tier"),
            F.lit(1).alias("is_dim"),
            F.lit(None).cast("long").alias("cents"),
        )
    )
    facts = t["lineitem"].select(
        F.col("l_suppkey").alias("k"),
        F.col("l_shipdate").alias("t"),
        F.lit(None).cast("string").alias("tier"),
        F.lit(0).alias("is_dim"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    merged = versions.unionAll(facts).withColumn(
        "eff_tier",
        F.last("tier", ignorenulls=True).over(
            Window.partitionBy("k")
            .orderBy("t", F.col("is_dim").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        merged.filter(F.col("is_dim") == 0)
        .groupBy(F.coalesce("eff_tier", F.lit("none")).alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("revenue"),
        )
        .orderBy("tier")
    )


@query(
    "q168_cdc_materialize",
    oracle="""
    WITH log AS (
        SELECT o_orderkey AS k, o_orderdate AS ts, o_orderkey % 100 AS seq,
               CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                    WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END AS op,
               o_orderstatus AS val
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, 1000 + o_orderkey % 100,
               'U', 'X'
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderdate + INTERVAL 60 DAY, 2000 + o_orderkey % 100,
               'D', NULL
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    latest AS (
        SELECT k, op, val,
               row_number() OVER (
                   PARTITION BY k ORDER BY ts DESC, seq DESC) AS rn
        FROM log
    ),
    state AS (
        SELECT k, val FROM latest WHERE rn = 1 AND op <> 'D'
    )
    SELECT coalesce(val, '∅∅') AS val, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
    FROM state GROUP BY coalesce(val, '∅∅') ORDER BY val
    """,
    tags=("etl", "cdc", "compaction", "materialize"),
)
def q168_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log materialization (Debezium-style replay): a change log of
    Insert/Update/Delete operations per key collapses to current table
    state — last operation per key wins under a (ts, seq) total order,
    and a terminal Delete removes the key. The log here is synthesized
    deterministically from orders (base ops + later updates + later
    deletes for key slices). This is the log-compaction kernel behind
    every lakehouse MERGE pipeline; emitted as value-grain counts so
    the oracle hash-checks the materialized state.

    Scale posture: one shuffle on key; row_number + filter is the
    max-by idiom that needs no self-join. At 100 TB the same pass runs
    incrementally: union (previous state AS synthetic 'I' ops at
    epoch) with the new log slice — associativity of last-wins makes
    the compaction mergeable.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
        (F.col("o_orderkey") % 100).alias("seq"),
        F.when(F.col("o_orderkey") % 11 == 0, "D")
        .when(F.col("o_orderkey") % 3 == 0, "U")
        .otherwise("I")
        .alias("op"),
        F.col("o_orderstatus").alias("val"),
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.expr("o_orderdate + INTERVAL 30 DAYS").alias("ts"),
        (1000 + F.col("o_orderkey") % 100).alias("seq"),
        F.lit("U").alias("op"),
        F.lit("X").alias("val"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.expr("o_orderdate + INTERVAL 60 DAYS").alias("ts"),
        (2000 + F.col("o_orderkey") % 100).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("val"),
    )
    log = base.unionAll(updates).unionAll(deletes)
    latest = log.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("k").orderBy(
                F.col("ts").desc(), F.col("seq").desc()
            )
        ),
    )
    state = latest.filter((F.col("rn") == 1) & (F.col("op") != "D"))
    return (
        state.groupBy(F.coalesce("val", F.lit("∅∅")).alias("val"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
        .orderBy("val")
    )


@query(
    "q191_encoding_layout_stats",
    oracle="""
    WITH w AS (
        SELECT l_returnflag, l_linestatus, l_partkey, l_quantity,
               CASE WHEN lag(l_returnflag) OVER o IS NULL
                      OR l_returnflag <> lag(l_returnflag) OVER o
                    THEN 1 ELSE 0 END AS chg_rf,
               CASE WHEN lag(l_linestatus) OVER o IS NULL
                      OR l_linestatus <> lag(l_linestatus) OVER o
                    THEN 1 ELSE 0 END AS chg_ls,
               CASE WHEN lag(l_partkey) OVER o IS NULL
                      OR l_partkey <> lag(l_partkey) OVER o
                    THEN 1 ELSE 0 END AS chg_pk,
               CASE WHEN lag(l_quantity) OVER o IS NULL
                      OR l_quantity <> lag(l_quantity) OVER o
                    THEN 1 ELSE 0 END AS chg_qt
        FROM lineitem
        WINDOW o AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber)
    ),
    agg AS (
        SELECT count(*) AS n_rows,
               sum(chg_rf) AS runs_rf, count(DISTINCT l_returnflag) AS nd_rf,
               sum(chg_ls) AS runs_ls, count(DISTINCT l_linestatus) AS nd_ls,
               sum(chg_pk) AS runs_pk, count(DISTINCT l_partkey)    AS nd_pk,
               sum(chg_qt) AS runs_qt, count(DISTINCT l_quantity)   AS nd_qt
        FROM w
    )
    SELECT col_name,
           CAST(n_rows AS BIGINT)     AS n_rows,
           CAST(n_runs AS BIGINT)     AS n_runs,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           ((2 * n_runs * 1000000 + n_rows) // (2 * n_rows)) / 1000000.0
               AS runs_ratio,
           CAST(n_runs AS DOUBLE) / n_rows < 0.5     AS rle_friendly
    FROM (
        SELECT 'l_returnflag' AS col_name, n_rows, runs_rf AS n_runs, nd_rf AS n_distinct FROM agg
        UNION ALL
        SELECT 'l_linestatus', n_rows, runs_ls, nd_ls FROM agg
        UNION ALL
        SELECT 'l_partkey', n_rows, runs_pk, nd_pk FROM agg
        UNION ALL
        SELECT 'l_quantity', n_rows, runs_qt, nd_qt FROM agg
    )
    ORDER BY col_name
    """,
    tags=("etl", "layout", "encoding", "profiling"),
)
def q191_encoding_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-choice profiling under the table's physical sort order
    (l_suppkey partitions, shipdate-ordered within — the layout q115/
    q118 produce): per column, the adjacent-run count, distinct count,
    and an RLE-friendliness verdict. This is the decision input for
    parquet encoding tuning — a runs_ratio near 1 means delta/dictionary
    beats RLE; near 0 means RLE wins. The flag threshold (0.5) sits far
    from any fixture column's ratio, so the boolean is stable.

    Scale posture: ONE window partitioning (the layout's own
    partition+sort keys — at rest this pass reads already-sorted
    parquet and the sort is a no-op) computes every column's lag flag;
    the aggregate is a single global row of counters, stacked to one
    output row per column. countDistinct at 100 TB would switch to
    approx_count_distinct — the verdict tolerates HLL error."""
    li = load_tables(spark, sf_dir)["lineitem"]
    o = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )

    def chg(c: str):
        lagged = F.lag(c).over(o)
        return (
            F.when(lagged.isNull() | (F.col(c) != lagged), 1).otherwise(0)
        )

    cols = ("l_returnflag", "l_linestatus", "l_partkey", "l_quantity")
    flagged = li.select(
        *cols, *[chg(c).alias(f"chg_{c}") for c in cols]
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(f"chg_{c}").alias(f"runs_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols],
    )
    stacked = agg.selectExpr(
        "n_rows",
        "stack(4, "
        + ", ".join(f"'{c}', runs_{c}, nd_{c}" for c in cols)
        + ") AS (col_name, n_runs, n_distinct)",
    )
    return stacked.select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        half_up_ratio(F.col("n_runs"), F.col("n_rows"), 6).alias(
            "runs_ratio"
        ),
        (F.col("n_runs").cast("double") / F.col("n_rows") < 0.5).alias(
            "rle_friendly"
        ),
    ).orderBy("col_name")


_ORDERS_CONTRACT = (
    ("o_orderkey", "BIGINT"),
    ("o_custkey", "BIGINT"),
    ("o_orderstatus", "VARCHAR"),
    ("o_totalprice", "DOUBLE"),
    ("o_orderdate", "TIMESTAMP"),
    ("o_orderpriority", "VARCHAR"),
)

_SPARK_TO_GENERIC = {
    "bigint": "BIGINT",
    "long": "BIGINT",
    "int": "INTEGER",
    "string": "VARCHAR",
    "double": "DOUBLE",
    "timestamp": "TIMESTAMP",
}


@query(
    "q200_schema_contract_check",
    oracle=f"""
    WITH contract(col_name, expected_type) AS (
        VALUES {", ".join(f"('{c}', '{t}')" for c, t in _ORDERS_CONTRACT)}
    ),
    actual AS (
        SELECT column_name AS col_name, column_type AS actual_type
        FROM (DESCRIBE SELECT * FROM orders)
    )
    SELECT c.col_name,
           c.expected_type,
           a.actual_type,
           a.col_name IS NOT NULL                            AS present,
           coalesce(a.actual_type = c.expected_type, FALSE)  AS type_ok
    FROM contract c LEFT JOIN actual a USING (col_name)
    ORDER BY c.col_name
    """,
    tags=("etl", "quality", "schema", "contract"),
)
def q200_schema_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation: the orders table's ACTUAL schema (as
    loaded) is checked column-by-column against the declared contract —
    presence and type, reported as one row per contracted column. This
    is the ingest-gate check that catches upstream type drift (an int
    silently widened to string) before it poisons downstream jobs;
    q125's schema-evolution reader is the complementary
    tolerate-the-change path. Spark type names normalize to generic SQL
    names so the same contract text governs both engines (the oracle
    validates via DuckDB's DESCRIBE of the same parquet).

    Scale posture: pure metadata — no data is read at all (schema
    comes from the parquet footer); the check costs the same at 100 TB
    as at 100 rows."""
    orders = load_tables(spark, sf_dir)["orders"]
    actual = {f.name: _SPARK_TO_GENERIC.get(f.dataType.simpleString(),
                                            f.dataType.simpleString().upper())
              for f in orders.schema.fields}
    rows = []
    for col, expected in _ORDERS_CONTRACT:
        a = actual.get(col)
        rows.append((col, expected, a, a is not None, a == expected))
    return spark.createDataFrame(
        rows,
        "col_name string, expected_type string, actual_type string,"
        " present boolean, type_ok boolean",
    ).orderBy("col_name")


@query(
    "q209_forget_users",
    oracle="""
    WITH requests AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 13
    ),
    purged AS (
        SELECT e.* FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM requests r WHERE r.user_id = e.user_id)
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT)                         AS rows_before,
           CAST((SELECT count(*) FROM purged p
                 WHERE p.event_type = e.event_type) AS BIGINT) AS rows_after,
           CAST(count(*) - (SELECT count(*) FROM purged p
                 WHERE p.event_type = e.event_type) AS BIGINT) AS rows_purged,
           CAST((SELECT count(*) FROM purged p JOIN requests r
                 ON p.user_id = r.user_id) AS BIGINT)       AS remnants
    FROM events e
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("etl", "deletion", "compliance", "anti-join"),
)
def q209_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-request propagation (the right-to-be-forgotten purge):
    a request set of user ids is anti-joined out of the events table,
    with a per-type before/after/purged audit and a REMNANTS column —
    the independent count of surviving rows that still match any
    requested id, which must be zero and is recomputed from the purged
    result rather than assumed. Purge-and-prove, not purge-and-hope.

    Scale posture: the request set is dimension-sized → broadcast
    LEFT ANTI join, fact never shuffles. On a partitioned lake the
    same anti-join drives a partition-scoped rewrite (only files
    containing matches are rewritten — pair with q206's pruning to
    find them); the audit aggregates are one partial+final pass each
    over before and after."""
    ev = load_tables(spark, sf_dir)["events"]
    requests = ev.where(F.col("user_id") % 97 == 13).select("user_id").distinct()
    purged = ev.join(F.broadcast(requests), "user_id", "left_anti")
    before = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("rows_before"))
    after = purged.groupBy("event_type").agg(F.count(F.lit(1)).alias("rows_after"))
    remnants = (
        purged.join(F.broadcast(requests), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("remnants"))
    )
    return (
        before.join(after, "event_type", "left")
        .crossJoin(F.broadcast(remnants))
        .select(
            "event_type",
            F.col("rows_before").cast("long").alias("rows_before"),
            F.coalesce(F.col("rows_after"), F.lit(0)).cast("long").alias("rows_after"),
            (F.col("rows_before") - F.coalesce(F.col("rows_after"), F.lit(0)))
            .cast("long")
            .alias("rows_purged"),
            F.col("remnants").cast("long").alias("remnants"),
        )
        .orderBy("event_type")
    )


@query(
    "q226_temporal_embargo_split",
    oracle="""
    WITH assigned AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
                    WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 'embargo'
                    ELSE 'test' END AS split
        FROM events
    ),
    leakage AS (
        SELECT count(*) AS n_leaky_users FROM (
            SELECT user_id FROM assigned
            WHERE split <> 'embargo'
            GROUP BY user_id
            HAVING max(CASE WHEN split = 'train' THEN ts END)
                   >= min(CASE WHEN split = 'test' THEN ts END)
        )
    )
    SELECT a.split,
           CAST(count(*) AS BIGINT)                  AS n_events,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users,
           min(date_trunc('microseconds', a.ts))     AS first_ts,
           max(date_trunc('microseconds', a.ts))     AS last_ts,
           CAST(max(l.n_leaky_users) AS BIGINT)      AS leaky_users
    FROM assigned a CROSS JOIN leakage l
    GROUP BY a.split
    ORDER BY a.split
    """,
    tags=("etl", "split", "temporal", "leakage"),
)
def q226_temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an embargo day: train strictly
    before the cut, a full embargoed day discarded, test strictly
    after — the time-series discipline that keeps label horizons from
    leaking across the boundary (a random split like q55 is WRONG for
    forecasting data; this is its temporal counterpart, and the
    embargo width is the label horizon). The leakage audit recomputes
    from the assignment that no user's train events reach past their
    test start — structurally zero here by construction, verified
    anyway (q209's purge-and-prove discipline).

    Scale posture: the assignment is a map-side CASE on the partition
    -friendly time column — on a date-partitioned lake the three
    splits prune to disjoint partition ranges (q206's DPP serves
    exactly this read); the audit is one aggregate at user grain."""
    ev = load_tables(spark, sf_dir)["events"]
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp")
    test_start = F.lit("2024-01-21 00:00:00").cast("timestamp")
    assigned = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("ts") < cut, "train")
        .when(F.col("ts") < test_start, "embargo")
        .otherwise("test")
        .alias("split"),
    )
    leakage = (
        assigned.where(F.col("split") != "embargo")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("split") == "train", F.col("ts"))).alias(
                "last_train"
            ),
            F.min(F.when(F.col("split") == "test", F.col("ts"))).alias(
                "first_test"
            ),
        )
        .where(F.col("last_train") >= F.col("first_test"))
        .agg(F.count(F.lit(1)).alias("n_leaky_users"))
    )
    return (
        assigned.crossJoin(F.broadcast(leakage))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.max("n_leaky_users").cast("long").alias("leaky_users"),
        )
        .orderBy("split")
    )


@query(
    "q231_freshness_slo",
    oracle="""
    SELECT event_type,
           max(date_trunc('microseconds', ts)) AS latest_ts,
           CAST(date_diff('hour', max(date_trunc('microseconds', ts)),
                          TIMESTAMP '2024-02-01 00:00:00') AS BIGINT)
               AS staleness_h,
           date_diff('hour', max(date_trunc('microseconds', ts)),
                     TIMESTAMP '2024-02-01 00:00:00') > 48 AS slo_breached
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("etl", "monitoring", "freshness", "slo"),
)
def q231_freshness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLO check: per stream partition (event type), the
    newest event's age against a fixed as-of instant, breach-flagged
    at 48 hours — the staleness monitor that catches a silently
    stalled upstream BEFORE consumers read old data as current. Ages
    are whole-hour boundary crossings (exact integers both engines);
    the as-of is pinned so the check is reproducible, exactly as
    q199's decay clock is.

    Scale posture: a max() per key — partial+final over the scan's
    min/max footer stats when the table is partitioned by the key; on
    a date-partitioned lake this reads metadata only, like q200."""
    ev = load_tables(spark, sf_dir)["events"]
    asof_h = F.expr(
        "unix_micros(timestamp'2024-02-01 00:00:00') div 3600000000"
    )
    return (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("latest_ts"))
        .select(
            "event_type",
            "latest_ts",
            (asof_h - F.expr("unix_micros(latest_ts) div 3600000000"))
            .cast("long")
            .alias("staleness_h"),
        )
        .withColumn("slo_breached", F.col("staleness_h") > 48)
        .orderBy("event_type")
    )


@query(
    "q232_uniqueness_profile",
    oracle="""
    WITH stats AS (
        SELECT count(*) AS n,
               count(DISTINCT o_orderkey)      AS d_orderkey,
               count(DISTINCT o_custkey)       AS d_custkey,
               count(DISTINCT o_orderstatus)   AS d_status,
               count(DISTINCT o_orderpriority) AS d_priority
        FROM orders
    )
    SELECT col_name,
           CAST(n AS BIGINT)          AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           n_distinct = n             AS is_candidate_key,
           ((2 * n_distinct * 1000000 + n) // (2 * n)) / 1000000.0
               AS uniqueness
    FROM (
        SELECT 'o_orderkey' AS col_name, n, d_orderkey AS n_distinct FROM stats
        UNION ALL SELECT 'o_custkey', n, d_custkey FROM stats
        UNION ALL SELECT 'o_orderstatus', n, d_status FROM stats
        UNION ALL SELECT 'o_orderpriority', n, d_priority FROM stats
    )
    ORDER BY col_name
    """,
    tags=("etl", "profiling", "keys", "uniqueness"),
)
def q232_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery by uniqueness ratio: distinct/total per
    column in ONE multi-countDistinct aggregate — ratio 1.0 marks a
    candidate key (o_orderkey), near-0 marks an enum; the profile a
    modeling/ingest layer runs before declaring primary keys or
    choosing bucketing columns (a bucketBy on a 3-value column is a
    useless layout — this is the query that would have said so).

    Scale posture: Spark plans multiple count-distincts in one pass
    via expand (rows × #columns before partial agg); at 100 TB swap
    each to approx_count_distinct — key discovery tolerates HLL error
    since the decision boundary is ratio ≈ 1 vs ratio « 1."""
    orders = load_tables(spark, sf_dir)["orders"]
    stats = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("d_orderkey"),
        F.countDistinct("o_custkey").alias("d_custkey"),
        F.countDistinct("o_orderstatus").alias("d_status"),
        F.countDistinct("o_orderpriority").alias("d_priority"),
    )
    stacked = stats.selectExpr(
        "n",
        "stack(4, 'o_orderkey', d_orderkey, 'o_custkey', d_custkey,"
        " 'o_orderstatus', d_status, 'o_orderpriority', d_priority)"
        " AS (col_name, n_distinct)",
    )
    return stacked.select(
        "col_name",
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        (F.col("n_distinct") == F.col("n")).alias("is_candidate_key"),
        half_up_ratio(F.col("n_distinct"), F.col("n"), 6).alias(
            "uniqueness"
        ),
    ).orderBy("col_name")


@query(
    "q268_scd2_history",
    oracle="""
    WITH snapped AS (
        SELECT user_id,
               date_trunc('microseconds', ts) AS ts,
               event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    ordered AS (
        SELECT *,
               lag(cents) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_cents
        FROM snapped
    ),
    changes AS (
        SELECT user_id, ts, event_id, cents
        FROM ordered
        WHERE prev_cents IS NULL OR cents <> prev_cents
    ),
    versioned AS (
        SELECT user_id, cents,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
                    AS BIGINT) AS version
        FROM changes
    )
    SELECT user_id, version, cents, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM versioned
    ORDER BY user_id, version
    """,
    tags=("etl", "scd2", "dimension", "history", "merge"),
)
def q268_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history build: fold a change
    stream (each qualifying event sets the user's attribute, in exact
    integer cents) into versioned dimension rows with
    [valid_from, valid_to) intervals, no-op updates collapsed (an
    event restating the current value opens no version — the
    idempotence a CDC feed needs), and the open version flagged
    current. This is the MERGE a warehouse runs to maintain dimension
    history from a CDC topic, expressed as the deterministic batch
    rebuild (the replayable form; an incremental MERGE must converge
    to exactly this table).

    Determinism: change detection is exact integer-cents inequality
    over the (ts, event_id) total order; interval edges are the event
    timestamps themselves; versions are row_number on the same order.

    Scale posture: ONE shuffle on user_id serves the change-detect
    lag, the interval lead, and the version rank (same partition key
    and sort — Spark plans a single sort+window cascade, no second
    exchange); state per user is its change count, and no-op collapse
    happens BEFORE versioning so the window input is the change set,
    not the raw stream."""
    ev = load_tables(spark, sf_dir)["events"]
    snapped = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        snapped.withColumn("prev_cents", F.lag("cents").over(w))
        .where(
            F.col("prev_cents").isNull()
            | (F.col("cents") != F.col("prev_cents"))
        )
        .drop("prev_cents")
    )
    return (
        changes.select(
            "user_id",
            "cents",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version"),
        )
        .select(
            "user_id",
            "version",
            "cents",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


@query(
    "q310_late_arriving_dimension",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment
        FROM customer WHERE c_custkey % 7 <> 0
    ),
    joined AS (
        SELECT e.event_id, e.user_id, e.value,
               d.c_mktsegment
        FROM events e LEFT JOIN dim d ON e.user_id = d.c_custkey
    )
    SELECT coalesce(c_mktsegment, 'UNRESOLVED') AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           CAST(count(DISTINCT CASE WHEN c_mktsegment IS NULL
                THEN user_id END) AS BIGINT) AS n_pending_keys
    FROM joined
    GROUP BY coalesce(c_mktsegment, 'UNRESOLVED')
    ORDER BY segment
    """,
    tags=("etl", "dimension", "late-arriving", "warehouse"),
)
def q310_late_arriving_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling — the warehouse pattern for
    facts that land before their dimension row (simulated: customers
    with key % 7 == 0 have 'not yet arrived'): facts LEFT-join the
    dimension and unresolved rows roll up under an explicit
    'UNRESOLVED' placeholder member with their distinct pending-key
    count — the reprocessing queue a nightly pass re-joins once the
    dim catches up (q292's selective overwrite then restates exactly
    those rows). Dropping or inner-joining these facts silently loses
    revenue; the placeholder keeps totals conserved and the gap
    measurable.

    Determinism: exact counts/sums; placeholder labeling is a null
    check.

    Scale posture: one broadcast (dim) left join + one partial+final
    rollup at segment grain; the pending-key distinct is bounded by
    the unresolved key population. Reference contract: per-fact
    enrichment = map slot (``App.config:16``); segment rollup =
    reduce slot (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    dim = t["customer"].where(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_mktsegment"
    )
    # customer is a growing dim — unhinted (the q329 rule); AQE
    # broadcasts the 2-column projection while it fits.
    joined = t["events"].join(
        dim, t["events"]["user_id"] == dim["c_custkey"], "left"
    )
    seg = F.coalesce(F.col("c_mktsegment"), F.lit("UNRESOLVED"))
    return (
        joined.groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct(
                F.when(F.col("c_mktsegment").isNull(), F.col("user_id"))
            )
            .cast("long")
            .alias("n_pending_keys"),
        )
        .orderBy("segment")
    )


@query(
    "q317_referential_integrity_audit",
    oracle="""
    WITH checks AS (
        SELECT 'lineitem.l_orderkey -> orders' AS fk,
               (SELECT count(*) FROM lineitem) AS n_child,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
        UNION ALL
        SELECT 'orders.o_custkey -> customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem.l_partkey -> part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem.l_suppkey -> supplier',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'customer.c_nationkey -> nation',
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
    )
    SELECT fk,
           CAST(n_child AS BIGINT)   AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           (n_orphans = 0)           AS intact
    FROM checks
    ORDER BY fk
    """,
    tags=("etl", "quality", "referential-integrity", "audit"),
)
def q317_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's five FK
    relationships: orphan child rows (an FK value with no parent) per
    relationship via LEFT-ANTI joins, with an intact flag. Lakehouse
    tables have no enforced constraints — this audit IS the
    constraint, run after every load (the q110/q232 quality-gate
    family extended to cross-table invariants); a non-zero orphan
    count is how silent partial loads and out-of-order ingestion
    surface.

    Determinism: exact anti-join counts.

    Scale posture: each check is one LEFT-ANTI join on the FK key —
    parent sides are dimension-sized and broadcast; the two
    lineitem-parent checks share the child scan. No check materializes
    more than a count. Reference contract: per-row key probe = map
    slot (``App.config:16``); audit consolidation = reduce slot
    (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    checks = [
        ("lineitem.l_orderkey -> orders", t["lineitem"], "l_orderkey",
         t["orders"], "o_orderkey"),
        ("orders.o_custkey -> customer", t["orders"], "o_custkey",
         t["customer"], "c_custkey"),
        ("lineitem.l_partkey -> part", t["lineitem"], "l_partkey",
         t["part"], "p_partkey"),
        ("lineitem.l_suppkey -> supplier", t["lineitem"], "l_suppkey",
         t["supplier"], "s_suppkey"),
        ("customer.c_nationkey -> nation", t["customer"], "c_nationkey",
         t["nation"], "n_nationkey"),
    ]
    outs = []
    for name, child, ck, parent, pk in checks:
        n_child = child.count()
        orphans = child.select(F.col(ck)).join(
            F.broadcast(parent.select(F.col(pk).alias(ck)).distinct()),
            ck,
            "left_anti",
        )
        outs.append(
            orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
                F.lit(name).alias("fk"),
                F.lit(n_child).cast("long").alias("n_child"),
                F.col("n_orphans").cast("long").alias("n_orphans"),
                (F.col("n_orphans") == 0).alias("intact"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("fk")


_MASK_GEN_OFFSET = 1_000_000_000  # shifts cents positive so div == floor


@query(
    "q331_column_masking_policy",
    oracle=f"""
    WITH policy AS (
        SELECT c_mktsegment AS segment,
               c_name,
               'cust_' || substr(md5('mask|' || c_name), 1, 12) AS name_token,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
        WHERE c_mktsegment <> 'AUTOMOBILE'
    ),
    gen AS (
        SELECT segment, c_name, name_token, cents,
               ((cents + {_MASK_GEN_OFFSET}) // 10000) * 10000
                   - {_MASK_GEN_OFFSET} AS gen_cents
        FROM policy
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_name) AS BIGINT) AS n_distinct_names,
           CAST(count(DISTINCT name_token) AS BIGINT) AS n_distinct_tokens,
           (count(DISTINCT c_name) = count(DISTINCT name_token))
               AS join_consistent,
           CAST(sum(gen_cents) AS DOUBLE) / 100 AS generalized_balance_total,
           CAST(sum(cents - gen_cents) AS BIGINT) AS info_loss_total_cents
    FROM gen
    GROUP BY segment
    ORDER BY segment
    """,
    tags=("governance", "masking", "row-level-security", "privacy"),
)
def q331_column_masking_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-masking + row-level-security policy applied as a view —
    the governance layer an analyst role reads through: rows in the
    restricted segment are filtered out (RLS), names are replaced by
    deterministic md5 tokens (masking that PRESERVES joinability —
    the same name always maps to the same token, so masked tables
    still join on identity), and balances are generalized to $100
    buckets (k-anonymity-style coarsening). The audit emitted here is
    the policy's utility contract: distinct-token count must equal
    distinct-name count (no mask collisions, joins survive), and the
    info-loss column prices the generalization in exact cents.
    Companion to q209 (the GDPR delete path) and q54 (PII scrub).

    Determinism: md5 tokens; generalization is integer-cents
    arithmetic with a positive offset so truncating div equals floor
    on negative balances on BOTH engines; counts exact.

    Scale posture: masking/generalization are stateless map
    expressions over the scan (the RLS predicate pushes into
    parquet); the audit is one partial+final aggregate on the 4-key
    segment grain — count(DISTINCT) runs as Spark's two-phase expand
    aggregate. Reference contract: per-row policy application = map
    slot (``App.config:16``); audit roll-up = reduce slot
    (``App.config:17``)."""
    cust = load_tables(spark, sf_dir)["customer"]
    policy = cust.filter(F.col("c_mktsegment") != "AUTOMOBILE").select(
        F.col("c_mktsegment").alias("segment"),
        "c_name",
        F.concat(
            F.lit("cust_"),
            F.substring(F.md5(F.concat(F.lit("mask|"), F.col("c_name"))), 1, 12),
        ).alias("name_token"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    gen = policy.withColumn(
        "gen_cents",
        F.expr(
            f"((cents + {_MASK_GEN_OFFSET}) div 10000) * 10000"
            f" - {_MASK_GEN_OFFSET}"
        ),
    )
    return (
        gen.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("c_name").cast("long").alias("n_distinct_names"),
            F.countDistinct("name_token")
            .cast("long")
            .alias("n_distinct_tokens"),
            (
                F.countDistinct("c_name") == F.countDistinct("name_token")
            ).alias("join_consistent"),
            (F.sum("gen_cents").cast("double") / 100).alias(
                "generalized_balance_total"
            ),
            F.sum(F.col("cents") - F.col("gen_cents"))
            .cast("long")
            .alias("info_loss_total_cents"),
        )
        .orderBy("segment")
    )


@query(
    "q361_incremental_aggregate_maintenance",
    oracle="""
    WITH base AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY m
    ),
    delta AS (
        -- inserts: the 1999+ slice arrives; deletes: every 97th old key
        -- is retracted (GDPR purge / correction replay)
        SELECT date_trunc('month', o_orderdate) AS m,
               CAST(1 AS BIGINT) AS dn,
               CAST(round(o_totalprice * 100) AS BIGINT) AS dcents
        FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        UNION ALL
        SELECT date_trunc('month', o_orderdate) AS m,
               CAST(-1 AS BIGINT) AS dn,
               -CAST(round(o_totalprice * 100) AS BIGINT) AS dcents
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
          AND o_orderkey % 97 = 0
    ),
    dagg AS (
        SELECT m, sum(dn) AS dn, sum(dcents) AS dcents
        FROM delta GROUP BY m
    ),
    maintained AS (
        SELECT coalesce(b.m, d.m) AS m,
               coalesce(b.n, 0) + coalesce(d.dn, 0) AS n,
               coalesce(b.cents, 0) + coalesce(d.dcents, 0) AS cents
        FROM base b FULL OUTER JOIN dagg d ON b.m = d.m
    ),
    recomputed AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
           OR o_orderkey % 97 <> 0
        GROUP BY m
    )
    SELECT mt.m AS month,
           CAST(mt.n AS BIGINT) AS n_orders,
           CAST(mt.cents AS BIGINT) AS total_cents,
           (mt.n = rc.n AND mt.cents = rc.cents) AS matches_recompute
    FROM maintained mt JOIN recomputed rc ON mt.m = rc.m
    WHERE mt.n > 0
    ORDER BY month
    """,
    tags=("etl", "incremental", "view-maintenance", "delta"),
)
def q361_incremental_aggregate_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an aggregate: a month-grain
    (count, revenue) rollup is maintained under a change stream of
    INSERTS (the 1999+ order slice arriving) and DELETES (every 97th
    pre-1999 key retracted — the GDPR-purge/correction replay case) by
    applying SIGNED delta aggregates at the GROUP grain — never
    touching the base fact rows again. The classic IVM identity
    (count/sum are self-maintainable under insert+delete); the audit
    recomputes from scratch and carries the equality in-result, so any
    drift in the maintenance algebra is a visible column, not a silent
    corruption. Complements q168 (row-grain CDC materialize) and q346
    (index maintenance) at the third grain a lakehouse maintains:
    aggregates.

    Determinism: money is integer cents (cast(round(price·100)) — a
    2dp double times 100 rounds identically on both engines) summed as
    longs; counts are exact; groups emptied by deletions drop on the
    exact n > 0 predicate.

    Scale posture: the base rollup is partial+final at month grain;
    the delta is aggregated AT THE SAME GRAIN before the merge, so
    the merge join touches ≤|months| rows regardless of delta volume
    — the whole point of IVM at 100 TB (apply a KB-sized delta-agg,
    not a full recompute). The scratch recompute exists only as the
    audit and is documented droppable in production (the q285
    discipline). Reference contract: delta aggregation = map slot
    (``App.config:16``); grain merge = reduce slot
    (``App.config:17``)."""
    o = load_tables(spark, sf_dir)["orders"]
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    m = F.date_trunc("month", F.col("o_orderdate")).alias("m")
    base = (
        o.where(F.col("o_orderdate") < cutoff)
        .groupBy(m)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
    )
    inserts = o.where(F.col("o_orderdate") >= cutoff).select(
        m, F.lit(1).cast("long").alias("dn"), cents.alias("dcents")
    )
    deletes = o.where(
        (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 97 == 0)
    ).select(
        m, F.lit(-1).cast("long").alias("dn"), (-cents).alias("dcents")
    )
    dagg = (
        inserts.unionAll(deletes)
        .groupBy("m")
        .agg(F.sum("dn").alias("dn"), F.sum("dcents").alias("dcents"))
    )
    maintained = (
        base.join(dagg, "m", "full_outer")
        .select(
            "m",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (
                F.coalesce("cents", F.lit(0)) + F.coalesce("dcents", F.lit(0))
            ).alias("cents"),
        )
        .where(F.col("n") > 0)
    )
    recomputed = (
        o.where(
            (F.col("o_orderdate") >= cutoff) | (F.col("o_orderkey") % 97 != 0)
        )
        .groupBy(m)
        .agg(
            F.count(F.lit(1)).alias("rn"), F.sum(cents).alias("rcents")
        )
    )
    return (
        maintained.join(recomputed, "m")
        .select(
            F.col("m").alias("month"),
            F.col("n").cast("long").alias("n_orders"),
            F.col("cents").cast("long").alias("total_cents"),
            (
                (F.col("n") == F.col("rn"))
                & (F.col("cents") == F.col("rcents"))
            ).alias("matches_recompute"),
        )
        .orderBy("month")
    )


_AE_BUCKET = 256     # keys per Merkle range bucket
_AE_MUT = 503        # every Nth key's price drifts on replica B
_AE_MUT_OFF = 7
_AE_MISS = 701       # every Nth key is missing from replica B
_AE_MISS_OFF = 13


@query(
    "q362_merkle_antientropy_repair",
    oracle=f"""
    WITH a AS (
        SELECT o_orderkey AS k, o_orderkey // {_AE_BUCKET} AS bucket,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS st
        FROM orders
    ),
    b AS (
        SELECT k, bucket,
               CASE WHEN k % {_AE_MUT} = {_AE_MUT_OFF}
                    THEN cents + 100 ELSE cents END AS cents,
               st
        FROM a WHERE k % {_AE_MISS} <> {_AE_MISS_OFF}
    ),
    da AS (
        SELECT bucket, count(*) AS n_a,
               sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
                       CAST(cents AS VARCHAR) || '|' || st), 1, 12))::BIGINT)
                   AS dig_a
        FROM a GROUP BY bucket
    ),
    db AS (
        SELECT bucket, count(*) AS n_b,
               sum(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
                       CAST(cents AS VARCHAR) || '|' || st), 1, 12))::BIGINT)
                   AS dig_b
        FROM b GROUP BY bucket
    ),
    flagged AS (
        SELECT da.bucket, da.n_a, coalesce(db.n_b, 0) AS n_b
        FROM da LEFT JOIN db ON da.bucket = db.bucket
        WHERE db.bucket IS NULL OR da.n_a <> db.n_b OR da.dig_a <> db.dig_b
    ),
    divergent AS (
        SELECT f.bucket,
               count(*) FILTER (WHERE b.k IS NULL
                                OR a.cents <> b.cents OR a.st <> b.st)
                   AS n_divergent_keys
        FROM flagged f
        JOIN a ON a.bucket = f.bucket
        LEFT JOIN b ON b.k = a.k
        GROUP BY f.bucket
    )
    SELECT f.bucket, CAST(f.n_a AS BIGINT) AS n_a,
           CAST(f.n_b AS BIGINT) AS n_b,
           CAST(d.n_divergent_keys AS BIGINT) AS n_divergent_keys
    FROM flagged f JOIN divergent d ON f.bucket = d.bucket
    ORDER BY f.bucket
    """,
    tags=("etl", "anti-entropy", "merkle", "replication", "audit"),
)
def q362_merkle_antientropy_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-range anti-entropy between two table replicas (the
    Dynamo/Cassandra repair primitive, at lakehouse grain): replica B
    is the orders table with deterministic divergence injected (every
    503rd key's price drifted one dollar, every 701st key missing);
    both replicas roll up to per-key-range digests — an
    ORDER-INDEPENDENT sum of 48-bit row hashes plus a count — and
    only ranges whose (count, digest) disagree are opened row-by-row
    to count the keys needing resync. The point at 100 TB: replica
    comparison moves |key-space|/256 digest rows, not the table, and
    the row-level diff touches ONLY flagged ranges.

    Determinism: money canonicalizes to integer cents before hashing
    (the q98 rule); the digest is a sum of exact 48-bit integers (no
    overflow: < 2^48·n fits BIGINT through sf100); divergence
    injection is pure key arithmetic shared by both engines.

    Scale posture: two partial+final digest rollups at range grain;
    the flagged set is tiny by construction (divergence is rare in a
    healthy replica pair), so the row-level join is a semi-join
    against a broadcastable flag list; the full-outer row compare
    runs only inside flagged ranges. Reference contract: per-range
    digesting = map slot (``App.config:16``); digest compare + range
    repair plan = reduce slot (``App.config:17``)."""
    o = load_tables(spark, sf_dir)["orders"]
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.expr(f"o_orderkey div {_AE_BUCKET}").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("st"),
    )
    b = a.where(F.col("k") % _AE_MISS != _AE_MISS_OFF).select(
        "k",
        "bucket",
        F.when(
            F.col("k") % _AE_MUT == _AE_MUT_OFF, F.col("cents") + 100
        ).otherwise(F.col("cents")).alias("cents"),
        "st",
    )

    def digest(df):
        row_h = hex_int(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("k").cast("string"),
                    F.col("cents").cast("string"),
                    F.col("st"),
                )
            ),
            1,
            12,
        )
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"), F.sum(row_h).alias("dig")
        )

    da = digest(a).select(
        "bucket", F.col("n").alias("n_a"), F.col("dig").alias("dig_a")
    )
    db = digest(b).select(
        "bucket", F.col("n").alias("n_b"), F.col("dig").alias("dig_b")
    )
    flagged = (
        da.join(db, "bucket", "left")
        .where(
            F.col("n_b").isNull()
            | (F.col("n_a") != F.col("n_b"))
            | (F.col("dig_a") != F.col("dig_b"))
        )
        .select("bucket", "n_a", F.coalesce("n_b", F.lit(0)).alias("n_b"))
    )
    in_flagged = a.join(
        F.broadcast(flagged.select("bucket")), "bucket", "left_semi"
    )
    bb = b.select(
        F.col("k").alias("bk"),
        F.col("cents").alias("b_cents"),
        F.col("st").alias("b_st"),
    )
    divergent = (
        in_flagged.join(bb, F.col("k") == F.col("bk"), "left")
        .where(
            F.col("bk").isNull()
            | (F.col("cents") != F.col("b_cents"))
            | (F.col("st") != F.col("b_st"))
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_divergent_keys"))
    )
    return (
        flagged.join(divergent, "bucket")
        .select(
            "bucket",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_divergent_keys").cast("long").alias("n_divergent_keys"),
        )
        .orderBy("bucket")
    )


_BT_VALID_AT = "1999-06-01 00:00:00"   # valid-time (real-world) axis point
_BT_KNOWN_1 = "1999-01-15 00:00:00"    # transaction-time axis: early
_BT_KNOWN_2 = "2000-06-01 00:00:00"    # transaction-time axis: late


@query(
    "q365_bitemporal_asof",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderdate AS valid_from,
               TIMESTAMP '9999-01-01 00:00:00' AS valid_to,
               o_orderdate AS tx_from
        FROM orders
    ),
    v2 AS (
        -- correction RECORDED 30 days after the order, retroactively
        -- EFFECTIVE from 15 days after it: the two time axes move
        -- independently, which is the whole point of bitemporality
        SELECT k, st, cents + 100 AS cents,
               valid_from + INTERVAL 15 DAY AS valid_from,
               valid_to,
               tx_from + INTERVAL 30 DAY AS tx_from
        FROM v1 WHERE k % 11 = 0
    ),
    versions AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
    axes AS (
        SELECT TIMESTAMP '{_BT_KNOWN_1}' AS known_at
        UNION ALL SELECT TIMESTAMP '{_BT_KNOWN_2}'
    ),
    applicable AS (
        SELECT a.known_at, v.k, v.st, v.cents,
               row_number() OVER (
                   PARTITION BY a.known_at, v.k
                   ORDER BY v.tx_from DESC
               ) AS rn
        FROM versions v CROSS JOIN axes a
        WHERE v.valid_from <= TIMESTAMP '{_BT_VALID_AT}'
          AND TIMESTAMP '{_BT_VALID_AT}' < v.valid_to
          AND v.tx_from <= a.known_at
    )
    SELECT known_at, st AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM applicable WHERE rn = 1
    GROUP BY known_at, st
    ORDER BY known_at, status
    """,
    tags=("etl", "bitemporal", "as-of", "scd", "audit"),
)
def q365_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of reconstruction: order versions carry BOTH a
    valid-time interval (when the fact was true in the world) and a
    transaction time (when the system learned it); the query answers
    "what did the book say about valid-time V, as known at time T" for
    two values of T — the same V gives DIFFERENT totals at the two
    knowledge points because a retroactive price correction (recorded
    30 d after each 11th order, effective 15 d after it) only exists
    on the later tx axis. This is the axis SCD2 (q99/q268, tx-time
    only) cannot express, and the reconstruction every audited
    restatement (q292) is formally an instance of.

    Determinism: versions are synthesized by pure key/date arithmetic
    (+INTERVAL on µs timestamps is exact on both engines); money is
    integer cents; per-key version choice is max-tx row_number with a
    deterministic total order (at most 2 versions per key).

    Scale posture: the version union is column-trimmed before the
    2-row axes broadcast; the per-(axis, key) version pick is a
    window partitioned by key (data-partitioned, never global); the
    rollup is (2 × |statuses|)-grain. At 100 TB the same plan reads
    the version table once per axis value. Reference contract:
    version filtering = map slot (``App.config:16``); per-key as-of
    pick + rollup = reduce slot (``App.config:17``)."""
    o = load_tables(spark, sf_dir)["orders"]
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").alias("valid_from"),
        F.lit("9999-01-01 00:00:00").cast("timestamp").alias("valid_to"),
        F.col("o_orderdate").alias("tx_from"),
    )
    v2 = v1.where(F.col("k") % 11 == 0).select(
        "k",
        "st",
        (F.col("cents") + 100).alias("cents"),
        (F.col("valid_from") + F.expr("INTERVAL 15 DAY")).alias("valid_from"),
        "valid_to",
        (F.col("tx_from") + F.expr("INTERVAL 30 DAY")).alias("tx_from"),
    )
    versions = v1.unionAll(v2)
    axes = spark.createDataFrame(
        [(_BT_KNOWN_1,), (_BT_KNOWN_2,)], "known_at_s string"
    ).select(F.col("known_at_s").cast("timestamp").alias("known_at"))
    valid_at = F.lit(_BT_VALID_AT).cast("timestamp")
    app = (
        versions.where(
            (F.col("valid_from") <= valid_at) & (valid_at < F.col("valid_to"))
        )
        .crossJoin(F.broadcast(axes))
        .where(F.col("tx_from") <= F.col("known_at"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("known_at", "k").orderBy(
                    F.desc("tx_from")
                )
            ),
        )
        .where(F.col("rn") == 1)
    )
    return (
        app.groupBy("known_at", F.col("st").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("known_at", "status")
    )


_IND_CANDIDATES = (
    # (label, fk_table, fk_col, pk_table, pk_col)
    ("events.user_id->customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
    ("embeddings.vec_id->documents.doc_id", "embeddings", "vec_id", "documents", "doc_id"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
)


def _ind_select_sql(label, ft, fc, pt, pc):
    return f"""
    SELECT '{label}' AS dependency,
           CAST(count(*) AS BIGINT) AS n_fk_distinct,
           CAST(count(p.pk) AS BIGINT) AS n_contained,
           CAST((1000000 * count(p.pk)) // count(*) AS BIGINT)
               AS containment_ppm,
           count(p.pk) = count(*) AS is_inclusion
    FROM (SELECT DISTINCT {fc} AS fk FROM {ft} WHERE {fc} IS NOT NULL) f
    LEFT JOIN (SELECT DISTINCT {pc} AS pk FROM {pt}) p ON f.fk = p.pk
    """


@query(
    "q386_inclusion_dependency_profile",
    oracle="\nUNION ALL\n".join(
        _ind_select_sql(*c) for c in _IND_CANDIDATES
    )
    + "\nORDER BY dependency",
    tags=("etl", "profiling", "inclusion-dependency", "fk-discovery"),
)
def q386_inclusion_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key discovery) profiling: for each
    candidate column pair A→B, what fraction of A's DISTINCT non-null
    values appear in B? Containment = 1 certifies a join key; anything
    lower quantifies referential drift — the schema-inference pass every
    data catalog runs before it dares suggest a join, and the profiling
    twin of q317's referential-integrity audit (which counts VIOLATING
    ROWS of a declared FK; this DISCOVERS candidate FKs at value grain).

    Determinism: distinct-value sets and containment counts are exact;
    the ppm ratio is floor integer division of exact longs on both
    engines (no float rounding anywhere).

    Scale posture: each candidate is one DISTINCT on the fk column
    (partial+final, shrinks to value grain) joined to the pk side's
    distinct values — dim-side sets (customer/part/supplier) broadcast
    under AQE, the fact-fact candidate (lineitem→orders) shuffles on
    the value; candidates run as a union of independent subplans, so a
    scheduler overlaps them. Reference contract: per-value emission =
    map slot (``App.config:16``); containment rollup = reduce slot
    (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    parts = []
    for label, ft, fc, pt, pc in _IND_CANDIDATES:
        f = (
            t[ft]
            .where(F.col(fc).isNotNull())
            .select(F.col(fc).alias("fk"))
            .distinct()
        )
        p = t[pt].select(F.col(pc).alias("pk")).distinct()
        parts.append(
            f.join(p, f["fk"] == p["pk"], "left").agg(
                F.lit(label).alias("dependency"),
                F.count(F.lit(1)).cast("long").alias("n_fk_distinct"),
                F.count("pk").cast("long").alias("n_contained"),
                F.expr("(1000000 * count(pk)) div count(*)")
                .cast("long")
                .alias("containment_ppm"),
                (F.count("pk") == F.count(F.lit(1))).alias("is_inclusion"),
            )
        )
    out = parts[0]
    for more in parts[1:]:
        out = out.unionAll(more)
    return out.orderBy("dependency")


_FD_CANDIDATES = (
    # (label, table, X, Y) — does X functionally determine Y?
    ("documents.doc_id->lang", "documents", "doc_id", "lang"),
    ("documents.source->lang", "documents", "source", "lang"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
    ("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
)


def _fd_select_sql(label, tbl, x, y):
    return f"""
    SELECT '{label}' AS dependency,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST((1000000 * sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS violation_ppm,
           sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {x} AS x, count(DISTINCT {y}) AS n_y
          FROM {tbl} GROUP BY {x})
    """


@query(
    "q387_functional_dependency_audit",
    oracle="\nUNION ALL\n".join(_fd_select_sql(*c) for c in _FD_CANDIDATES)
    + "\nORDER BY dependency",
    tags=("etl", "profiling", "functional-dependency", "audit"),
)
def q387_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate X→Y, how many X
    groups see MORE than one distinct Y? Zero violations certify the
    dependency (X is a key for Y — safe to denormalize or use as a
    dedup grain); a nonzero count quantifies how wrong the assumption
    is. The other half of schema profiling next to q386's
    inclusion-dependency discovery — together they recover the PK/FK
    skeleton a lakehouse catalog needs from raw parquet.

    Determinism: per-group distinct counts and violation tallies are
    exact integers; the ppm ratio is floor integer division.

    Scale posture: each candidate is ONE partial+final aggregate to X
    grain with a distinct-count inside (Spark plans partial distinct
    aggregation map-side), then a 1-row rollup; candidates union as
    independent subplans. No joins at all. Reference contract:
    per-row (X, Y) emission = map slot (``App.config:16``); violation
    rollup = reduce slot (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    parts = []
    for label, tbl, x, y in _FD_CANDIDATES:
        grouped = t[tbl].groupBy(F.col(x).alias("x")).agg(
            F.countDistinct(F.col(y)).alias("n_y")
        )
        viol = F.sum(F.when(F.col("n_y") > 1, 1).otherwise(0))
        parts.append(
            grouped.agg(
                F.lit(label).alias("dependency"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                viol.cast("long").alias("n_violating"),
                F.expr(
                    "(1000000 * sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END))"
                    " div count(*)"
                )
                .cast("long")
                .alias("violation_ppm"),
                (viol == F.lit(0)).alias("holds"),
            )
        )
    out = parts[0]
    for more in parts[1:]:
        out = out.unionAll(more)
    return out.orderBy("dependency")


# --- q435: exact Wasserstein-1 source drift -----------------------------


@query(
    "q435_wasserstein_source_drift",
    oracle="""
    WITH grid AS MATERIALIZED (
        SELECT DISTINCT n_chars AS x FROM documents
    ),
    nsrc AS MATERIALIZED (
        SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    tot AS MATERIALIZED (SELECT count(*) AS n_p FROM documents),
    cnt_s AS (
        SELECT source, n_chars AS x, count(*) AS c
        FROM documents GROUP BY source, n_chars
    ),
    cnt_p AS (
        SELECT n_chars AS x, count(*) AS c FROM documents GROUP BY n_chars
    ),
    full_grid AS (
        SELECT s.source, g.x,
               coalesce(cs.c, 0) AS c_s,
               coalesce(cp.c, 0) AS c_p
        FROM (SELECT DISTINCT source FROM documents) s
        CROSS JOIN grid g
        LEFT JOIN cnt_s cs ON cs.source = s.source AND cs.x = g.x
        LEFT JOIN cnt_p cp ON cp.x = g.x
    ),
    cum AS (
        SELECT source, x,
               sum(c_s) OVER (PARTITION BY source ORDER BY x) AS f_s,
               sum(c_p) OVER (PARTITION BY source ORDER BY x) AS f_p,
               lead(x) OVER (PARTITION BY source ORDER BY x) AS x_next
        FROM full_grid
    ),
    terms AS (
        SELECT source,
               sum(abs(f_s * n.n_p - f_p * ns.n_s)
                   * (x_next - x)) AS num
        FROM cum
        JOIN nsrc ns USING (source)
        CROSS JOIN tot n
        WHERE x_next IS NOT NULL
        GROUP BY source
    )
    SELECT t.source,
           CAST(ns.n_s AS BIGINT) AS n_docs,
           ((2 * CAST(t.num AS HUGEINT) * 1000000
             + CAST(ns.n_s AS HUGEINT) * n.n_p)
            // (2 * CAST(ns.n_s AS HUGEINT) * n.n_p)) / 1000000.0
               AS w1_chars
    FROM terms t
    JOIN nsrc ns USING (source)
    CROSS JOIN tot n
    ORDER BY t.source
    """,
    tags=("etl", "drift", "wasserstein", "distribution", "curation"),
)
def q435_wasserstein_source_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT 1-Wasserstein (earth-mover) distance between each
    source's document-length distribution and the pooled corpus — the
    drift family's transport metric beside PSI (q154, bin-ratio), KL
    (q248, log-ratio) and KS (q139, sup-gap): W₁ weights the gap by
    HOW FAR mass must move, so it orders "slightly longer docs
    everywhere" below "a missing length mode" where KS scores them
    alike, and it stays finite where KL blows up on empty bins.

    For 1-D empirical distributions W₁ = ∫|F_a − F_b| dx, computed
    EXACTLY on the merged value grid: |F_s − F_p| at grid value x is
    |c_s·n_p − c_p·n_s| / (n_s·n_p) with exact integer cumulative
    counts, each segment weighted by the integer gap to the next grid
    value — one rational per source, released through the half-up
    idiom. No approximation, no binning choice.

    Determinism: integer counts, integer cumulative sums (partitioned
    window, 20 sources), integer cross-products; the single closing
    division is the half-up integer idiom (numerator exceeds int64 at
    corpus scale — decimal(38,0)/HUGEINT on both engines).

    Scale posture: two partial+final count aggregates over the corpus
    (per-(source,value) and per-value), then all arithmetic on the
    BOUNDED sources × distinct-values frame (~10k rows); the window
    runs partitioned on source. At 100 TB swap the exact value grid
    for the q285 mergeable quantile histogram and the same coupling
    formula over its boundaries — the dataflow is unchanged.
    Reference contract: per-doc length emission = map slot
    (``App.config:16``); the CDF coupling = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    grid = docs.select(F.col("n_chars").alias("x")).distinct()
    srcs = docs.select("source").distinct()
    nsrc = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_p"))
    cnt_s = docs.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("c_s")
    )
    cnt_p = docs.groupBy(F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("c_p")
    )
    full_grid = (
        srcs.crossJoin(grid)
        .join(cnt_s, ["source", "x"], "left")
        .join(cnt_p, ["x"], "left")
        .select(
            "source",
            "x",
            F.coalesce("c_s", F.lit(0)).alias("c_s"),
            F.coalesce("c_p", F.lit(0)).alias("c_p"),
        )
    )
    w = Window.partitionBy("source").orderBy("x")
    cum = full_grid.select(
        "source",
        "x",
        F.sum("c_s").over(w).alias("f_s"),
        F.sum("c_p").over(w).alias("f_p"),
        F.lead("x").over(w).alias("x_next"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    terms = (
        cum.where(F.col("x_next").isNotNull())
        .join(nsrc, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    dec("f_s") * dec("n_p") - dec("f_p") * dec("n_s")
                )
                * (dec("x_next") - dec("x"))
            ).alias("num")
        )
    )
    return (
        terms.join(nsrc, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_docs"),
            half_up_ratio(
                F.col("num"), dec("n_s") * dec("n_p"), 6
            ).alias("w1_chars"),
        )
        .orderBy("source")
    )
