"""Distributed global ranks and running totals — the sample-sort shape.

A global ``row_number()`` / ``ntile()`` / cumulative sum over an
unbounded-grain table is the classic Spark scale trap: an unpartitioned
``Window`` funnels every row through ONE task (``WindowExec`` warns "No
Partition Defined"). Correct at sf0.01; dead at 100 TB.

These helpers compute the SAME values with no global window, using the
two-pass sample-sort decomposition (the shape Spark's own ``orderBy``
uses for range-partitioned sorts):

1. ``repartitionByRange`` on the order key — each partition holds a
   contiguous key range, partitions are ordered by partition id.
2. A partition-local rank / running sum (parallel across partitions).
3. A tiny per-partition-totals table (≤ ``num_partitions`` rows) turned
   into *offsets* via a triangular self-join (pid′ < pid) — deliberately
   NOT a global window, so nothing in the plan is single-task — then
   broadcast back and added to the local value.

Global rank = local rank + rows in all earlier partitions; global
running sum = local running sum + earlier partitions' totals. Exact,
deterministic (callers must supply a TOTAL order — tie-break it), and
every stage is parallel. ``ntile`` is then a pure row-level function of
(rank, n, k) — see :func:`ntile_from_rank` — so quantile bucketing needs
no window at all once the rank exists.

Reference contract: the single-reducer gather (``Program.cs:351-378``)
is exactly the pattern this module replaces — the reference funnels all
mapper outputs through one reduce task; the sample-sort shape keeps the
"gather" a metadata-sized offsets table instead of the data itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.registry import query

# monotonically_increasing_id() layout (documented Spark behavior): the
# partition id lives in the upper bits, the record number within the
# partition in the lower 33 bits.
_MID_RECORD_BITS = 33
_MID_RECORD_MASK = (1 << _MID_RECORD_BITS) - 1


def _num_range_partitions(df: DataFrame, num_partitions: int | None) -> int:
    if num_partitions is not None:
        return max(1, num_partitions)
    sess: SparkSession = df.sparkSession
    return max(1, int(sess.conf.get("spark.sql.shuffle.partitions", "32")))


def _pin_partitioning(d: DataFrame) -> DataFrame:
    """Persist the range-partitioned frame so the offsets branch and
    the data branch of a sample-sort decomposition read ONE
    materialization. Without it, each branch re-evaluates the
    ``repartitionByRange``, whose boundaries come from reservoir
    sampling over the upstream partitions' arrival order — a
    nondeterministic-order shuffle upstream (any join/agg) can hand
    the two evaluations DIFFERENT boundaries, silently corrupting
    ranks/offsets (q171 at sf0.1). MEMORY_AND_DISK (the default) keeps
    it spill-safe; the cache is released by the runners'
    ``spark.catalog.clearCache()`` after each query (a query fn cannot
    unpersist what its un-materialized result still needs)."""
    return d.persist()


def _offsets(per_pid: DataFrame, total_cols: dict[str, str]) -> DataFrame:
    """(pid, totals…) → (pid, offsets…): offset = sum of totals over all
    STRICTLY EARLIER pids. A triangular broadcast self-join over the
    ≤num_partitions-row totals table — never a window, never single-task.
    ``total_cols`` maps offset-column name → totals-column name."""
    x = per_pid.alias("x")
    y = per_pid.alias("y")
    aggs = [
        F.coalesce(F.sum(F.col(f"y.{tot}")), F.lit(0)).alias(off)
        for off, tot in total_cols.items()
    ]
    return (
        x.join(F.broadcast(y), F.col("y._pid") < F.col("x._pid"), "left")
        .groupBy(F.col("x._pid").alias("_pid"))
        .agg(*aggs)
    )


def distributed_row_number(
    df: DataFrame,
    order_by: list[Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based ``row_number()`` over ``order_by`` with NO global
    window. ``order_by`` must be a total order (tie-broken) for the rank
    to be deterministic.

    Shape: one range shuffle, then a narrow partition-local rank via
    ``monotonically_increasing_id`` on the partition-sorted data (record
    number in the low 33 bits — no second full shuffle, unlike a
    ``Window.partitionBy(pid)`` formulation), then the broadcast offsets
    join. The per-partition totals table is the only "gather", and it is
    ≤ ``num_partitions`` rows.

    ``d`` is PERSISTED before branching (see :func:`_pin_partitioning`):
    the offsets branch and the main branch would otherwise evaluate the
    range shuffle twice, and ``repartitionByRange`` SAMPLES its
    boundaries from whatever intra-partition order the upstream shuffle
    happened to produce — two evaluations can pick different
    boundaries, making the broadcast offsets disagree with the rows
    they are added to (ranks silently duplicate/skip; surfaced as
    q171's uneven deciles in the round-3 sf0.1 sweep — sf0.01 was too
    small to diverge). One materialization = one partitioning, by
    construction.
    """
    n = _num_range_partitions(df, num_partitions)
    d = _pin_partitioning(
        df.repartitionByRange(n, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), _MID_RECORD_BITS))
        .withColumn(
            "_lrn", F.col("_mid").bitwiseAND(F.lit(_MID_RECORD_MASK)) + F.lit(1)
        )
        .drop("_mid")
    )
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    off = _offsets(counts, {"_off": "_cnt"})
    return (
        d.join(F.broadcast(off), "_pid")
        .withColumn(out, (F.col("_lrn") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def distributed_running_sum(
    df: DataFrame,
    order_by: list[Column],
    sums: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Global cumulative sums over ``order_by`` (inclusive of the current
    row) with no global window: range-partition, partition-local
    cumulative via a window PARTITIONED by pid, per-partition totals →
    broadcast offsets. ``sums`` maps output column → input column.

    Callers should pre-aggregate to the order-key grain first (so the
    order is total and the cumulated stream is the smallest it can be) —
    the q139 pattern: groupBy(price) → running sum over distinct prices.
    """
    n = _num_range_partitions(df, num_partitions)
    # Persisted before branching — same two-evaluation boundary hazard
    # as distributed_row_number (see _pin_partitioning).
    d = _pin_partitioning(
        df.repartitionByRange(n, *order_by).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for out, src in sums.items():
        d = d.withColumn(f"_cum_{out}", F.sum(src).over(w))
    ptot = d.groupBy("_pid").agg(
        *[F.sum(src).alias(f"_tot_{out}") for out, src in sums.items()]
    )
    off = _offsets(ptot, {f"_off_{out}": f"_tot_{out}" for out in sums})
    d = d.join(F.broadcast(off), "_pid")
    for out in sums:
        d = (
            d.withColumn(out, F.col(f"_cum_{out}") + F.col(f"_off_{out}"))
            .drop(f"_cum_{out}", f"_off_{out}")
        )
    return d.drop("_pid")


_EXTREMUM = {
    "max": (F.max, F.greatest),
    "min": (F.min, F.least),
}


def distributed_running_extremum(
    df: DataFrame,
    order_by: list[Column],
    cols: dict[str, str],
    fn: str = "max",
    inclusive: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running max/min over ``order_by`` with no global window —
    the extremum-monoid sibling of :func:`distributed_running_sum`
    (round-2 verdict task #3: q162's prefix-max sweep was the last
    data-sized unpartitioned window).

    Same sample-sort shape: range-partition, a PARTITION-LOCAL running
    extremum (parallel), per-partition totals → strictly-earlier-pid
    extremum offsets via the ≤num_partitions-row triangular broadcast
    join, then ``greatest``/``least`` of (local, offset). Extremum
    merge needs no coalesce-to-identity: ``greatest`` skips NULLs, so a
    first partition (no offset) and — under ``inclusive=False`` — a
    partition-first row (no local prefix) degrade to NULL exactly like
    the window form's empty frame.

    ``inclusive=False`` gives the ROWS BETWEEN UNBOUNDED PRECEDING AND
    1 PRECEDING frame (the skyline-sweep shape); callers must supply a
    total order for that frame to be well-defined row-wise.
    """
    if fn not in _EXTREMUM:
        raise ValueError(f"fn must be one of {sorted(_EXTREMUM)}: {fn!r}")
    agg_fn, merge_fn = _EXTREMUM[fn]
    n = _num_range_partitions(df, num_partitions)
    # Persisted before branching — same two-evaluation boundary hazard
    # as distributed_row_number (see _pin_partitioning).
    d = _pin_partitioning(
        df.repartitionByRange(n, *order_by).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    for out, src in cols.items():
        d = d.withColumn(f"_loc_{out}", agg_fn(src).over(w))
    ptot = d.groupBy("_pid").agg(
        *[agg_fn(src).alias(f"_tot_{out}") for out, src in cols.items()]
    )
    x, y = ptot.alias("x"), ptot.alias("y")
    off = (
        x.join(F.broadcast(y), F.col("y._pid") < F.col("x._pid"), "left")
        .groupBy(F.col("x._pid").alias("_pid"))
        .agg(
            *[
                agg_fn(F.col(f"y._tot_{out}")).alias(f"_off_{out}")
                for out in cols
            ]
        )
    )
    d = d.join(F.broadcast(off), "_pid")
    for out in cols:
        d = d.withColumn(
            out, merge_fn(F.col(f"_loc_{out}"), F.col(f"_off_{out}"))
        ).drop(f"_loc_{out}", f"_off_{out}")
    return d.drop("_pid")


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer floor-division for non-negative operands: the
    subtract-mod form keeps the double division exact (numerator is an
    exact multiple of the divisor, far below 2^53)."""
    return ((a - a % b) / b).cast("long")


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """``ntile(k)`` as a pure function of (1-based total-order rank, row
    count): the first ``n % k`` tiles get ``n div k + 1`` rows, the rest
    ``n div k`` — exactly Spark's and DuckDB's ntile. Combined with
    :func:`distributed_row_number`, this gives window-free quantile
    bucketing: fit = rank + count, transform = this expression."""
    kk = F.lit(k)
    q = _idiv(n, kk)
    r = n % kk
    cut = r * (q + F.lit(1))
    # CASE branches evaluate lazily, so the q==0 (k > n) case never
    # reaches the otherwise-branch division; greatest() guards anyway.
    qsafe = F.greatest(q, F.lit(1))
    return F.when(rn <= cut, _idiv(rn - F.lit(1), q + F.lit(1)) + F.lit(1)).otherwise(
        r + _idiv(rn - cut - F.lit(1), qsafe) + F.lit(1)
    )


def bounded_order(*cols):
    """Single-partition ordered window over a BOUNDED-grain frame —
    bins, deciles, days, vocab ranks, per-source tops: grains whose
    cardinality is fixed by construction, never data-sized.

    ``Window.partitionBy(F.lit(0)).orderBy(*cols)`` routes every row to
    one partition exactly like an empty partition spec (same values,
    same single-task execution — which is FINE on ≤|bins| rows), but
    (a) marks the call site as audited-bounded, and (b) keeps Spark's
    ``WindowExec: No Partition Defined`` warning a binary signal: any
    occurrence of that warning in the bench tail is now a REAL
    accidental global window, not a documented bounded frame (round-3
    verdict task 10 — round 2 shipped a zero-warning bench and this
    restores that property). Requires the session to exclude
    Catalyst's ``EliminateWindowPartitions`` rule (set in
    ``session.get_spark`` and defensively in
    ``catalog.align_session_for_oracle``) — otherwise the optimizer
    folds the constant key away and the warning returns. Chain
    ``.rowsBetween``/``.rangeBetween`` on the returned spec as usual.

    Never use this on data-sized sequences — that is what the
    sample-sort primitives in this module are for."""
    return Window.partitionBy(F.lit(0)).orderBy(*cols)


def round_nz(col: Column, digits: int) -> Column:
    """``F.round`` with IEEE signed-zero normalization: ``round(x, d) +
    0.0`` so a tiny negative input (e.g. ``-1e-9``) that rounds to zero
    yields ``+0.0`` on EVERY engine. Spark's round goes through
    BigDecimal (which has no negative zero) and already returns
    ``+0.0``; DuckDB's round preserves the sign and returns ``-0.0`` —
    a bit-level divergence a sign-sensitive value hash flags even
    though the values compare equal (q247's round-2 failure). Every
    query whose final rounded column can be a negative epsilon must use
    this on the Spark side AND append ``+ 0.0`` after the matching
    ``round()`` in its DuckDB oracle; ``-0.0 + 0.0 = +0.0`` under
    round-to-nearest, and the add is the identity everywhere else."""
    return F.round(col, digits) + F.lit(0.0)


def hex_int(hex_col: Column, start: int | Column, n_digits: int) -> Column:
    """The engine's deterministic hash rule: ``n_digits`` hex digits of
    a digest string from 1-based ``start``, read as a BIGINT. Pairs
    with the oracle form ``('0x' || substr(<hex>, start, n))::BIGINT``;
    up to 15 digits stay exact in int64 on both engines."""
    return F.conv(F.substring(hex_col, start, n_digits), 16, 10).cast("long")


def half_up_ratio(num: Column, den: Column, digits: int) -> Column:
    """Exact half-up rounding of a NONNEGATIVE integer ratio
    ``num/den`` to ``digits`` decimals, computed entirely in
    decimal(38,0) integer arithmetic and scaled back to a double:
    ``round_half_up(a/b, k) = (2·a·10^k + b) div (2·b) / 10^k``.

    This is the engine-portable form of ``round(a/b, k)`` for exact
    integer operands — the q345 trap: rounding the IEEE quotient is
    boundary-unstable (Spark's round goes through the double's EXACT
    BigDecimal expansion half-up, DuckDB's scales by ``10^k`` in
    double first, so a quotient near a half k-th decimal can round
    apart), and a power-of-two denominator can even land exactly ON a
    representable half. Integer arithmetic has no boundary at all.
    decimal(38,0) ≡ DuckDB's HUGEINT sum type, so micros-sum
    numerators that overflow int64 stay exact (q390's fix). Pair with
    the oracle form ``((2*(a)*10^k + (b)) // (2*(b))) / 10^k.0``
    (DuckDB ``sum(BIGINT)`` is already HUGEINT).

    Negative numerators would need floor-vs-truncate care — every
    swept site is a count/size/micros ratio, nonnegative by
    construction.

    int64 quotient limit: ``div`` returns LONG even on decimal
    operands, so ``ratio * 10^digits`` must fit int64 (~9.2e18);
    beyond it the quotient silently WRAPS negative (no null, no ANSI
    error) — boundary pinned in
    ``tests/test_ranks.py::test_half_up_ratio_int64_quotient_boundary``.
    Rescale first at any future call site whose ratio can exceed
    ``9.2e18 / 10^digits``."""
    scale = F.lit(10**digits).cast("decimal(38,0)")
    a = num.cast("decimal(38,0)")
    b = den.cast("decimal(38,0)")
    return F.call_function(
        "div", F.lit(2).cast("decimal(38,0)") * a * scale + b, F.lit(2).cast("decimal(38,0)") * b
    ) / F.lit(float(10**digits))


def half_up_ratio_signed(num: Column, den: Column, digits: int) -> Column:
    """:func:`half_up_ratio` for a SIGNED integer numerator (positive
    denominator): rounds half away from zero — ``sign(n) ·
    half_up(|n|/d, k)`` — matching what both engines' ``round()`` does
    to a signed double, without the float boundary. A negative
    numerator rounding to zero yields integer 0 → ``+0.0`` after the
    closing division, so the :func:`round_nz` signed-zero discipline
    is built in. Oracle form: ``(CASE WHEN n >= 0 THEN (2*n*10^k + d)
    // (2*d) ELSE -((2*(-n)*10^k + d) // (2*d)) END) / 10^k.0``."""
    mag = half_up_ratio(F.abs(num), den, digits)
    # 0.0 - mag (not -mag): a negative epsilon that rounds to zero must
    # come out +0.0, the desc_key/round_nz signed-zero rule.
    return F.when(num >= 0, mag).otherwise(F.lit(0.0) - mag)


def desc_key(col: Column) -> Column:
    """Descending numeric sort key for :func:`rank_small`: ``0 - col``
    instead of ``-col`` so a stray ``-0.0`` (e.g. ``round(-1e-9, 6)``)
    normalizes to ``+0.0`` and compares equal to a true zero — the same
    signed-zero normalization Spark's ``NormalizeFloatingNumbers`` rule
    applies to SortOrder keys but NOT inside ``array_sort``."""
    return F.lit(0.0) - col


def rank_small(
    df: DataFrame,
    key: list[Column],
    payload: list[str],
    out: str = "rnk",
) -> DataFrame:
    """Deterministic 1-based row-numbering of a BOUNDED-cardinality
    DataFrame (post-LIMIT top-k frames, centroid tables, capped
    vocabularies) with no window at all: collect into ONE sorted array
    (``array_sort`` of structs — field-by-field ascending), then
    ``posexplode`` so rank = position + 1.

    Why not a global ``Window.orderBy``: even over 20 rows it plans a
    WindowExec with no partition spec, which (a) logs the "No Partition
    Defined" scale warning on every run and (b) costs a sort exchange.
    The collect-sort form is a plain partial+final aggregate — the rows
    reach one task either way (they must: a global rank is a global
    gather), but here the gather is the L8/L9-shaped aggregate the rest
    of the engine uses, not a window.

    ``key`` columns must be ALIASED, encode direction (wrap descending
    numerics in :func:`desc_key`), and form a total order. ``payload``
    names pass-through columns. Callers own the boundedness argument —
    for unbounded grains use :func:`distributed_row_number` instead.
    """
    s = F.struct(*key, *[F.col(c).alias(c) for c in payload])
    return (
        df.agg(F.array_sort(F.collect_list(s)).alias("_a"))
        .select(F.posexplode("_a").alias("_p", "_s"))
        .select(
            (F.col("_p") + 1).alias(out),
            *[F.col(f"_s.{c}").alias(c) for c in payload],
        )
    )


@query(
    "q236_distributed_rank",
    oracle="""
    WITH ranked AS (
        SELECT c_custkey, c_acctbal,
               row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn,
               ntile(7)     OVER (ORDER BY c_acctbal DESC, c_custkey) AS tile
        FROM customer
    )
    SELECT CAST(tile AS INTEGER)    AS tile,
           CAST(count(*) AS BIGINT)  AS n_customers,
           CAST(min(rn) AS BIGINT)   AS first_rank,
           CAST(max(rn) AS BIGINT)   AS last_rank,
           round(sum(c_acctbal), 2)  AS tile_balance
    FROM ranked
    GROUP BY tile
    ORDER BY tile
    """,
    tags=("window", "rank", "sample-sort", "scale"),
)
def q236_distributed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-free global ranking: customers ranked by account balance
    (tie-broken on custkey) and cut into 7 tiles via the sample-sort
    decomposition — range partition, partition-local rank, broadcast
    offsets — then ``ntile`` recomputed as a pure (rank, n, k) function.
    The oracle is the plain ``row_number()/ntile()`` SQL, proving the
    decomposition is value-identical to the window form while every
    stage stays parallel (the 100 TB replacement for the reference's
    single-reducer gather, ``Program.cs:351-378``).
    """
    cust = load_tables(spark, sf_dir)["customer"].select("c_custkey", "c_acctbal")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    ranked = distributed_row_number(cust, order, out="rn")
    nrow = cust.agg(F.count(F.lit(1)).alias("_n"))
    tiled = ranked.crossJoin(F.broadcast(nrow)).withColumn(
        "tile", ntile_from_rank(F.col("rn"), F.col("_n"), 7)
    )
    return (
        tiled.groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("rn").cast("long").alias("first_rank"),
            F.max("rn").cast("long").alias("last_rank"),
            F.round(F.sum("c_acctbal"), 2).alias("tile_balance"),
        )
        .select(
            F.col("tile").cast("int").alias("tile"),
            "n_customers",
            "first_rank",
            "last_rank",
            "tile_balance",
        )
        .orderBy("tile")
    )


@query(
    "q249_exact_quantiles_distributed",
    oracle="""
    WITH ranked AS (
        SELECT o_totalprice,
               row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        FROM orders
    ),
    n AS (SELECT count(*) AS n FROM orders),
    pos AS (
        SELECT q.label, q.num, q.den,
               (n.n * q.num + q.den - 1) // q.den AS p
        FROM (VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
                     ('p90', 9, 10), ('p99', 99, 100)) AS q(label, num, den)
        CROSS JOIN n
    )
    SELECT pos.label AS quantile,
           CAST(pos.p AS BIGINT) AS rank_pos,
           round(r.o_totalprice, 2) AS value
    FROM pos JOIN ranked r ON r.rn = pos.p
    ORDER BY pos.p
    """,
    tags=("window", "rank", "quantiles", "sample-sort", "scale"),
)
def q249_exact_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete quantiles (p25/p50/p75/p90/p99) of order totals at
    unbounded grain, window-free: the second consumer of
    :func:`distributed_row_number` (after q236), proving the sample-sort
    rank primitive composes into order statistics — the exact
    counterpart to ``approx_percentile`` when an SLA needs true values
    (billing tiers, contractual percentiles).

    Rank positions are pure integer arithmetic, ⌈q·n⌉ as
    ``(n·num + den − 1) div den`` — no float quantile definition to
    reconcile between engines (DuckDB's quantile_disc/cont interpolation
    conventions never enter; both sides share the same rank formula).
    The oracle uses the plain global-window ``row_number`` to prove the
    decomposition value-identical.

    Scale posture: one range shuffle ranks the data (every stage
    parallel — see the module docstring); the 5 probe positions come
    from a 1-row count broadcast, and the final position lookup is a
    broadcast semi-probe into the ranked table, not a sort."""
    orders = load_tables(spark, sf_dir)["orders"]
    ranked = distributed_row_number(
        orders.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        out="rn",
    )
    n = orders.agg(F.count(F.lit(1)).alias("n"))
    fracs = spark.createDataFrame(
        [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10),
         ("p99", 99, 100)],
        "label string, num int, den int",
    )
    pos = fracs.crossJoin(F.broadcast(n)).select(
        "label",
        _idiv(
            F.col("n") * F.col("num") + F.col("den") - 1, F.col("den")
        ).alias("p"),
    )
    return (
        ranked.join(F.broadcast(pos), ranked["rn"] == pos["p"])
        .select(
            F.col("label").alias("quantile"),
            F.col("p").cast("long").alias("rank_pos"),
            F.round("o_totalprice", 2).alias("value"),
        )
        .orderBy("rank_pos")
    )


@query(
    "q255_distributed_auc",
    oracle="""
    WITH scored AS (
        SELECT len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    g AS (
        SELECT score, count(*) AS cnt, sum(pos) AS np
        FROM scored GROUP BY score
    ),
    ranked AS (
        SELECT score, cnt, np,
               coalesce(sum(cnt) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM g
    ),
    tot AS (
        SELECT sum(np) AS n_pos, sum(cnt) - sum(np) AS n_neg FROM g
    )
    SELECT CAST(t.n_pos AS BIGINT) AS n_pos,
           CAST(t.n_neg AS BIGINT) AS n_neg,
           round((sum(r.np * (r.cum_before + (r.cnt + 1) / 2.0))
                  - t.n_pos * (t.n_pos + 1) / 2.0)
                 / (t.n_pos * CAST(t.n_neg AS DOUBLE)), 6) AS auc
    FROM ranked r CROSS JOIN tot t
    GROUP BY t.n_pos, t.n_neg
    """,
    tags=("window", "rank", "auc", "evaluation", "scale"),
)
def q255_distributed_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC at any scale, window-free: the Mann-Whitney
    rank-sum form AUC = (Σ midranks of positives − n⁺(n⁺+1)/2) /
    (n⁺·n⁻), with tie-correct midranks from the sample-sort running
    sum — the third consumer of the ranks primitives (rank q236,
    quantiles q249, now an evaluation metric). Scores a trivially
    derivable classifier (token count predicting lang='en') purely to
    exercise the math; swap any model score column in.

    Exactness is total, not approximate: midranks are halves, counts
    are integers, and sums of exactly-representable multiples of 0.5
    below 2^51 are order-independent in IEEE double — so cross-engine
    parity needs no rounding discipline at all; the single final
    division is bit-identical. (Contrast every float-keyed ranking in
    the verify-skill traps.)

    Scale posture: one shuffle to score grain with map-side combine,
    the running sum via ``distributed_running_sum`` (range partition +
    broadcast offsets — no global window even though the oracle uses
    one), a 1-row totals broadcast, one final aggregate."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = docs.select(
        F.size(F.filter(F.split("text", " "), lambda x: x != F.lit("")))
        .alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    g = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("np")
    )
    ranked = distributed_running_sum(
        g, [F.col("score").asc()], {"cum_incl": "cnt"}
    ).withColumn("cum_before", F.col("cum_incl") - F.col("cnt"))
    tot = g.agg(
        F.sum("np").alias("n_pos"),
        (F.sum("cnt") - F.sum("np")).alias("n_neg"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n_pos", "n_neg")
        .agg(
            F.round(
                (
                    F.sum(
                        F.col("np")
                        * (F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
                    )
                    - F.first("n_pos") * (F.first("n_pos") + 1) / 2.0
                )
                / (F.first("n_pos") * F.first("n_neg").cast("double")),
                6,
            ).alias("auc")
        )
        .select(
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            "auc",
        )
    )
