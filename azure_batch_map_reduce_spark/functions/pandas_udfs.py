"""The three Arrow-vectorized Python UDF surfaces (SURVEY.md §2.2j):
scalar ``pandas_udf`` (Series→Series), grouped-map ``applyInPandas``
(pdf→pdf per group — the idiomatic "pluggable reduce" slot of the
reference, ``Program.cs:351-363``), and grouped-agg ``pandas_udf``
(Series→scalar inside ``agg``).

Every computation here is *deliberately also expressible JVM-side* (the
oracle proves it) — these queries exist to pin the UDF plumbing: Arrow
batch transfer, schema contracts, group iteration. The engine's policy
stays "built-ins first" (UDFs forfeit codegen and pay serialization);
when Python is genuinely required (a model, a tokenizer, a codec), these
are the shapes it must take — batched, never row-at-a-time.

Scale notes: scalar/grouped-agg UDFs stream Arrow batches through a
fixed-size pipe — memory is O(batch), any corpus size works. Grouped-map
materializes ONE GROUP per call in pandas; it is safe only when groups
are bounded (here: customers per segment at fixture scale; in production
key the group finer, or use mapInPandas/iterator UDFs for unbounded
groups).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.registry import query


@pandas_udf(DoubleType())
def _l2_norm(emb: pd.Series) -> pd.Series:
    """Vectorized L2 norm over array<double> — one Arrow batch in, one
    numpy pass, one batch out."""
    return pd.Series([float(np.sqrt(np.dot(v, v))) for v in emb])


@query(
    "q93_scalar_pandas_udf",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_dot_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings
    """,
    tags=("udf", "pandas", "scalar"),
)
def q93_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF surface: embedding L2 norms. The JVM-side
    equivalent (`sqrt(aggregate(zip_with(...)))`, see q70) is what
    production code uses; this pins the Arrow path."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        "label",
        F.round(_l2_norm(as_double), 4).alias("l2_norm"),
    )


_ZSCORE_SCHEMA = "c_custkey long, c_mktsegment string, zscore double"


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    mu = pdf["c_acctbal"].mean()
    sd = pdf["c_acctbal"].std(ddof=1)  # sample stddev = SQL stddev_samp
    return pd.DataFrame(
        {
            "c_custkey": pdf["c_custkey"],
            "c_mktsegment": pdf["c_mktsegment"],
            "zscore": ((pdf["c_acctbal"] - mu) / sd).round(4),
        }
    )


@query(
    "q94_grouped_map_zscore",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - avg(c_acctbal) OVER w)
                 / stddev_samp(c_acctbal) OVER w, 4) AS zscore
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment)
    """,
    tags=("udf", "pandas", "grouped-map"),
)
def q94_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas surface: per-segment z-score
    normalization — each market segment arrives as one pandas frame, the
    group-level statistics are computed in Python, and the normalized
    frame comes back under a declared schema. This is the schema-aware
    rebuild of the reference's pluggable per-group consolidation slot."""
    cust = load_tables(spark, sf_dir)["customer"]
    return (
        cust.select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(_zscore, _ZSCORE_SCHEMA)
    )


@pandas_udf(DoubleType())
def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
    return float(np.sum(price * qty) / np.sum(qty))


@query(
    "q95_grouped_agg_pandas_udf",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
               AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("udf", "pandas", "grouped-agg"),
)
def q95_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF surface: quantity-weighted mean price per
    returnflag, a custom aggregate Spark lacks as a builtin composed the
    way a real UDAF (a quantile sketch, a model update) would be. Note
    the plan shape: grouped-agg UDFs do NOT get partial aggregation —
    all rows of a group cross to Python after the shuffle — which is
    exactly why hot-path aggregates stay JVM-side (q01) and UDAFs are
    reserved for logic SQL cannot express."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(
            _weighted_avg_price(F.col("l_extendedprice"), F.col("l_quantity")), 4
        ).alias("wavg_price")
    )


@query(
    "q157_cogroup_asof",
    oracle="""
    WITH p AS (
        SELECT user_id, date_trunc('microseconds', ts) AS t
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, date_trunc('microseconds', ts) AS t
        FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(c.t) AS BIGINT) AS n_matched,
           ((2 * CAST(sum(epoch_us(p.t) - epoch_us(c.t)) AS HUGEINT)
                 * 1000000 + count(c.t) * 60000000)
                // (2 * count(c.t) * 60000000)) / 1000000.0
               AS avg_gap_mins
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.t > c.t
    GROUP BY p.user_id
    ORDER BY p.user_id
    """,
    tags=("udf", "pandas", "cogroup", "asof"),
)
def q157_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided grouped-map as-of join via ``cogroup(...).applyInPandas``
    + ``pd.merge_asof``: per user, each purchase is matched to the
    latest STRICTLY earlier click (allow_exact_matches=False, mirroring
    DuckDB's ``ASOF LEFT JOIN ... ON p.t > c.t`` — the oracle runs the
    real ASOF operator, the engine the cogroup path q27's union-window
    trick avoids). Gap math converts timestamps to exact integer
    microseconds (``datetime64[us]``) before differencing — no float
    seconds. Emits per user: purchases, matched purchases, mean gap in
    minutes (NULL when no click precedes any purchase).

    The UDF emits the FINAL columns and the plan adds only an orderBy:
    in Spark 4.1, putting a projection above FlatMapCoGroupsInPandas
    prunes the cogroup's INPUT columns down to the grouping key
    (dropping ``ts`` before the UDF ever sees it), so any derived
    column must be computed inside the UDF.

    Scale posture: cogroup shuffles BOTH inputs once on user_id and
    streams each user's pair of Arrow batches through one Python
    worker; state never exceeds one user's events. Pre-aggregating to
    one row per user inside the UDF keeps the fan-in from Python
    minimal.
    """
    events = load_tables(spark, sf_dir)["events"]
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )

    def merge(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(
                {
                    "user_id": pd.Series([], dtype="int64"),
                    "n_purchases": pd.Series([], dtype="int64"),
                    "n_matched": pd.Series([], dtype="int64"),
                    "avg_gap_mins": pd.Series([], dtype="float64"),
                }
            )
        uid = int(key[0])
        n = len(left)
        n_matched = 0
        avg_gap = np.nan  # Arrow NaN → comparator-null, like the SQL NULL
        if len(right) > 0:
            l_sorted = left.sort_values("ts")
            r_sorted = (
                right[["ts"]]
                .rename(columns={"ts": "click_ts"})
                .sort_values("click_ts")
            )
            m = pd.merge_asof(
                l_sorted,
                r_sorted,
                left_on="ts",
                right_on="click_ts",
                direction="backward",
                allow_exact_matches=False,
            )
            mask = m["click_ts"].notna()
            n_matched = int(mask.sum())
            if n_matched:
                p_us = m.loc[mask, "ts"].astype("datetime64[us]").astype("int64")
                c_us = (
                    m.loc[mask, "click_ts"]
                    .astype("datetime64[us]")
                    .astype("int64")
                )
                gap_us = int((p_us.values - c_us.values).sum())
                # Exact half-up in integer arithmetic — mirrors the
                # oracle's HUGEINT form; Python round() is half-EVEN
                # and would flip on exact-half minute averages.
                den = n_matched * 60000000
                avg_gap = ((2 * gap_us * 10**6 + den) // (2 * den)) / 1e6
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_purchases": [n],
                "n_matched": [n_matched],
                "avg_gap_mins": [avg_gap],
            }
        )

    return (
        purchases.groupby("user_id")
        .cogroup(clicks.groupby("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_purchases long, n_matched long, avg_gap_mins double",
        )
        .orderBy("user_id")
    )


@query(
    "q161_grouped_ewma",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
           round(max(CASE WHEN rn = n THEN value END), 6) AS last_value,
           round(sum(value * power(0.5, n - rn))
                 / (2 - power(0.5, max(n) - 1)), 6) AS ewma_last
    FROM ordered GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("udf", "pandas", "ewma", "timeseries"),
)
def q161_grouped_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (α=0.5,
    adjust=True) over the event value stream, evaluated at each user's
    final event — the grouped-map smoothing primitive behind metric
    dashboards. The engine runs pandas ``ewm`` inside applyInPandas
    under a (ts, event_id) total order; the oracle evaluates the same
    weighted form Σ v_i·0.5^(n-i) / (2 − 0.5^(n−1)) — α=0.5 makes every
    weight an exact power of two, so the only cross-engine noise is
    summation association order, absorbed by rounding.

    The UDF emits the FINAL columns directly (no projection above a
    pandas grouped-map — the q157 pruning trap applies to the grouped
    APIs generally).

    Scale posture: one shuffle on user_id; per-group state is one
    user's series inside an Arrow batch, output is one row per user.
    """
    events = load_tables(spark, sf_dir)["events"]
    src = events.select("user_id", "ts", "event_id", "value")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        series = pdf["value"].ewm(alpha=0.5, adjust=True).mean()
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "last_value": [round(float(pdf["value"].iloc[-1]), 6)],
                "ewma_last": [round(float(series.iloc[-1]), 6)],
            }
        )

    return (
        src.groupby("user_id")
        .applyInPandas(
            ewma,
            "user_id long, n_events long, last_value double, ewma_last double",
        )
        .orderBy("user_id")
    )


@query(
    "q204_scalar_iter_udf",
    oracle="""
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(n_chars - 500) / 200.0)), 6) AS size_score
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
    tags=("udf", "pandas", "iterator", "arrow"),
)
def q204_scalar_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (SCALAR_ITER): the UDF variant for
    per-executor amortization — expensive initialization (model load,
    compiled automaton, lookup table) runs ONCE per Python worker and
    is reused across every Arrow batch streamed through the iterator,
    instead of once per batch as a plain scalar UDF would. Here the
    "model" is a sigmoid document-size scorer; the oracle recomputes
    the identical closed form, proving the batched path is
    value-transparent.

    Scale posture: Arrow-columnar transfer per batch, numpy-vectorized
    inside; state amortized O(workers), not O(batches). This, q93
    (scalar), q94 (grouped map), q95 (grouped agg), q49 (UDTF), and
    q205 (mapInArrow) complete the Python-crossing surface of SURVEY
    §2.2j."""
    @pandas_udf(DoubleType())
    def size_score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # "Expensive" init, once per worker — NOT per batch.
        center, scale = 500.0, 200.0
        for s in batches:
            yield pd.Series(
                1.0 / (1.0 + np.exp(-(s.to_numpy(dtype="float64") - center) / scale))
            )

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.where(F.col("doc_id") < 100)
        .select("doc_id", F.round(size_score(F.col("n_chars")), 6).alias("size_score"))
        .orderBy("doc_id")
    )


@query(
    "q205_arrow_batch_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_dot_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    WHERE vec_id < 100
    ORDER BY vec_id
    """,
    tags=("udf", "arrow", "embedding", "vectorized"),
)
def q205_arrow_batch_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy batch interface — the UDF receives
    raw ``pyarrow.RecordBatch``es (no pandas conversion at all) and
    emits RecordBatches, the lowest-overhead Python crossing Spark has.
    Embedding L2 norms computed with numpy over the Arrow buffers; the
    oracle recomputes them with DuckDB list arithmetic.

    Scale posture: for wide array columns the pandas bridge pays a
    Series-of-lists materialization per batch; Arrow hands the same
    buffers over pointer-style. This is the interface multimodal
    decode stubs (q92/q147/q164) would use with real codecs at 100 TB.
    Float32 values are widened to float64 BEFORE the dot product on
    both engines, so the only cross-engine noise is summation order —
    absorbed by round(6)."""
    import pyarrow as pa

    def norms(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column("vec_id")
            emb = batch.column("embedding")
            mat = np.array(emb.to_pylist(), dtype=np.float64)
            l2 = np.sqrt((mat * mat).sum(axis=1)) if len(mat) else np.zeros(0)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(l2, type=pa.float64())],
                names=["vec_id", "l2_norm"],
            )

    emb = load_tables(spark, sf_dir)["embeddings"]
    out = emb.where(F.col("vec_id") < 100).select("vec_id", "embedding")
    return (
        out.mapInArrow(norms, "vec_id long, l2_norm double")
        .select("vec_id", F.round("l2_norm", 6).alias("l2_norm"))
        .orderBy("vec_id")
    )
