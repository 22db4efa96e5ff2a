"""Similarity search over embedding vectors: brute-force cosine top-k
(the exact baseline) and an LSH-bucketed approximate variant (the scale
path), plus aggregate similarity statistics.

Dot products use JVM-side higher-order functions (``zip_with`` +
``aggregate``) — no Python UDF, so the arithmetic runs inside codegen and
is byte-identical to the DuckDB oracle's ``list_dot_product`` after
rounding to 6 decimals.

100 TB posture: brute-force top-k against one query is a map + TakeOrdered
(no shuffle of the corpus). The LSH variant buckets by a sign-bit
signature so candidate generation is an equi-join on the bucket key;
recall/latency trades off via the number of signature bits. For
corpus×corpus knn you'd pre-partition by bucket and only cross bucket
mates — the q71 shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.operators.ranks import (
    desc_key,
    half_up_ratio,
    rank_small,
    round_nz,
)
from azure_batch_map_reduce_spark.registry import query


def _dot(u: Column, v: Column) -> Column:
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _cosine(u: Column, v: Column) -> Column:
    """Unrounded cosine, the oracle's ``list_dot_product(u, v) /
    sqrt(list_dot_product(u, u) * list_dot_product(v, v))``."""
    return _dot(u, v) / F.sqrt(_dot(u, u) * _dot(v, v))


def _sign6() -> Column:
    """6-bit sign-LSH signature of ``embedding``: one '1'/'0' per sign
    of its first six coordinates."""
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at("embedding", i) >= 0, "1").otherwise("0")
            for i in range(1, 7)
        ],
    )


def _sign_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, label, e, sig)``: each embedding as doubles with its
    :func:`_sign6` bucket, the frame the sign-LSH queries join on."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    e = _as_double(F.col("embedding")).alias("e")
    return emb.select("vec_id", "label", e, _sign6().alias("sig"))


@query(
    "q70_cosine_topk",
    oracle="""
    WITH q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT e.vec_id, e.label,
               round(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qe)
                     / sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                             list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
                            * list_dot_product(q.qe, q.qe)), 6) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("similarity", "knn"),
)
def q70_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against a fixed query vector (vec_id 0).
    The query vector is broadcast (scalar subquery → literal); the corpus
    scan is embarrassingly parallel and top-k is TakeOrdered — no corpus
    shuffle at any scale."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qe")
    )
    e = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "vec_id",
        "label",
        F.round(_cosine(F.col("e"), F.col("qe")), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(10)


@query(
    "q71_lsh_bucketed_ann",
    oracle="""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               concat_ws('', CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS sig
        FROM embeddings
    ),
    pairs AS (
        SELECT a.sig, a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.e, b.e)
                     / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cosine
        FROM n a JOIN n b ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT sig, vec_a, vec_b, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY sig ORDER BY cosine DESC, vec_a ASC, vec_b ASC) AS rn
        FROM pairs
    ) WHERE rn <= 5
    """,
    tags=("similarity", "lsh", "ann"),
)
def q71_lsh_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via sign-bit LSH: a 6-bit signature
    (signs of the first 6 dimensions ≡ random-hyperplane hashes for
    axis-aligned planes) buckets the corpus; candidate pairs form only
    inside buckets; top-5 per bucket by cosine. The equi-join on `sig`
    replaces the all-pairs cross product — this is the 100 TB path."""
    n = _sign_buckets(spark, sf_dir)
    a = n.select("sig", F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    b = n.select(
        F.col("sig").alias("sig_b"), F.col("vec_id").alias("vec_b"), F.col("e").alias("eb")
    )
    pairs = a.join(
        b, (F.col("sig") == F.col("sig_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).select(
        "sig",
        "vec_a",
        "vec_b",
        F.round(_cosine(F.col("ea"), F.col("eb")), 6).alias("cosine"),
    )

    w = Window.partitionBy("sig").orderBy(
        F.col("cosine").desc(), F.col("vec_a").asc(), F.col("vec_b").asc()
    )
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).drop("rn")


@query(
    "q72_label_centroid_similarity",
    oracle="""
    WITH n AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    dims AS (
        SELECT label, i, avg(e[i]) AS c
        FROM n, generate_series(1, 64) AS t(i)
        GROUP BY label, i
    ),
    centroids AS (
        SELECT label, list(c ORDER BY i) AS centroid FROM dims GROUP BY label
    )
    SELECT n.label,
           count(*) AS n_vecs,
           round(avg(list_dot_product(n.e, c.centroid)
                 / sqrt(list_dot_product(n.e, n.e) * list_dot_product(c.centroid, c.centroid))), 4)
               AS avg_cos_to_centroid
    FROM n JOIN centroids c ON n.label = c.label
    GROUP BY n.label
    """,
    tags=("similarity", "centroid"),
)
def q72_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (dimension-wise mean, the k-means/IVF training
    step) and each vector's cosine to its centroid — computed by
    exploding (vec, dim) then re-assembling, the distributed layout for
    vector aggregate math."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
    dims = (
        n.select(
            "label",
            F.posexplode("e").alias("i0", "val"),
        )
        .withColumn("i", F.col("i0") + 1)
        .groupBy("label", "i")
        .agg(F.avg("val").alias("c"))
    )
    centroids = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s.getField("c")
        ).alias("centroid")
    )
    joined = n.join(F.broadcast(centroids), "label")
    cos = F.round(F.avg(_cosine(F.col("e"), F.col("centroid"))), 4)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"), cos.alias("avg_cos_to_centroid")
    )


# Shared cosine SQL fragment for the oracle (DuckDB list ops).
_COS = (
    "round(list_dot_product({a}, {b})"
    " / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b})), 6)"
)


@query(
    "q73_ivf_ann",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    dims AS (
        SELECT label, i, avg(e[i]) AS c
        FROM n, generate_series(1, 64) AS t(i)
        GROUP BY label, i
    ),
    centroids AS (
        SELECT label AS cell, list(c ORDER BY i) AS ce FROM dims GROUP BY label
    ),
    assigned AS (
        SELECT vec_id, label, e, cell FROM (
            SELECT n.vec_id, n.label, n.e, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_COS.format(a="n.e", b="c.ce")} DESC, c.cell ASC
                   ) AS rn
            FROM n CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    q AS (SELECT e AS qe FROM n WHERE vec_id = 0),
    probe AS (
        SELECT cell FROM (
            SELECT c.cell, row_number() OVER (
                ORDER BY {_COS.format(a="q.qe", b="c.ce")} DESC, c.cell ASC
            ) AS rn
            FROM centroids c CROSS JOIN q
        ) WHERE rn <= 2
    )
    SELECT a.vec_id, a.label, a.cell,
           {_COS.format(a="a.e", b="q.qe")} AS cosine
    FROM assigned a JOIN probe p ON a.cell = p.cell CROSS JOIN q
    WHERE a.vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("similarity", "ann", "ivf"),
)
def q73_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbors: per-label centroids act
    as the trained coarse codebook (the k-means step, deterministic here
    so the oracle can replay it); every vector is assigned to its nearest
    centroid (the inverted lists); the query probes only the nprobe=2
    nearest cells and brute-forces inside them.

    Scale shape: centroids are K rows → broadcast; assignment is a
    map-side cross join against the broadcast codebook + one per-vector
    argmin (no corpus shuffle); the probe filter prunes the search to
    nprobe/K of the corpus before any distance math. At 100 TB the
    inverted lists become a `cell`-partitioned table so a query reads
    only its probed partitions (partition pruning on write layout)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))

    # Codebook: dimension-wise mean per label (explode → avg → reassemble).
    dims = (
        n.select("label", F.posexplode("e").alias("i0", "val"))
        .groupBy("label", F.col("i0").alias("i"))
        .agg(F.avg("val").alias("c"))
    )
    centroids = dims.groupBy(F.col("label").alias("cell")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s.getField("c")
        ).alias("ce")
    )

    # Inverted-list assignment: nearest centroid per vector, computed
    # ENTIRELY map-side — the codebook collapses to a 1-row broadcast
    # array of (cell, centroid) structs and each vector argmins over it
    # with higher-order functions. Zero shuffle of the corpus: at 100 TB
    # assignment stays embarrassingly parallel (the earlier form ran a
    # per-vec_id window over the vectors×centroids expansion, i.e. a
    # corpus-sized shuffle+sort for what is a per-row reduction).
    # 0.0 - cosine (not unary minus) so a round()ed -0.0 can't order
    # against +0.0 inside the struct comparison.
    # Norms hoist out of the per-cell lambda (vector norm once per row,
    # centroid norms once in the codebook); the cosine stays
    # round(dot / sqrt(en*cn), 6) — the exact operand order the oracle
    # uses, so hoisting is bit-identical.
    cents = (
        centroids.withColumn("cn", _dot(F.col("ce"), F.col("ce")))
        .agg(F.collect_list(F.struct("cell", "ce", "cn")).alias("cents"))
    )
    best = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(
                (
                    F.lit(0.0)
                    - F.round(
                        _dot(F.col("e"), c["ce"])
                        / F.sqrt(F.col("en") * c["cn"]),
                        6,
                    )
                ).alias("nc"),
                c["cell"].alias("cell"),
            ),
        )
    )
    assigned = (
        n.withColumn("en", _dot(F.col("e"), F.col("e")))
        .crossJoin(F.broadcast(cents))
        .withColumn("cell", best["cell"])
        .select("vec_id", "label", "e", "cell")
    )

    q = n.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("qe"),
        _dot(F.col("e"), F.col("e")).alias("qn"),
    )

    # Probe cells: the 2 centroids nearest the query, derived from the
    # SAME 1-row cents array the assignment uses (the codebook subtree
    # is built once, not re-aggregated per consumer) — sort/slice in the
    # array domain, then explode the 2 survivors. No window, no second
    # pass over the corpus, and the probe cosine keeps the oracle's
    # sqrt(qn*cn) operand order.
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            F.slice(
                F.array_sort(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            (
                                F.lit(0.0)
                                - F.round(
                                    _dot(F.col("qe"), c["ce"])
                                    / F.sqrt(F.col("qn") * c["cn"]),
                                    6,
                                )
                            ).alias("nq"),
                            c["cell"].alias("cell"),
                        ),
                    )
                ),
                1,
                2,
            ).alias("top")
        )
        .select(F.explode("top").alias("t"))
        .select(F.col("t.cell").alias("cell"))
    )

    return (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "cell",
            F.round(_cosine(F.col("e"), F.col("qe")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@query(
    "q79_retrieval_join",
    oracle="""
    WITH q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        FROM embeddings WHERE vec_id = 7
    ),
    scored AS (
        SELECT e.vec_id,
               round(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qe)
                     / sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                             list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
                            * list_dot_product(q.qe, q.qe)), 6) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 7
    ),
    topk AS (
        SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id ASC LIMIT 5
    )
    SELECT t.vec_id, t.cosine, d.lang, d.source,
           CAST(length(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    """,
    tags=("similarity", "retrieval", "join"),
)
def q79_retrieval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval: cosine top-5 against a query vector, then
    join the hit ids back to the `documents` table for text metadata —
    the RAG-shaped scan→score→top-k→hydrate pipeline. The scoring side
    never shuffles (map + TakeOrdered); hydration joins a 5-row result
    against documents, which Catalyst turns into a broadcast join of the
    TINY side — at 100 TB the big fact table is never moved, and with
    doc_id-bucketed document storage the fetch is partition-pruned."""
    tables = load_tables(spark, sf_dir)
    emb, docs = tables["embeddings"], tables["documents"]
    qv = emb.filter(F.col("vec_id") == 7).select(
        _as_double(F.col("embedding")).alias("qe")
    )
    scored = (
        emb.filter(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                _cosine(_as_double(F.col("embedding")), F.col("qe")),
                6,
            ).alias("cosine"),
        )
    )
    topk = scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(5)
    return F.broadcast(topk).join(
        docs, topk["vec_id"] == docs["doc_id"]
    ).select(
        "vec_id",
        "cosine",
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )


_PCA_DIM = 64
_PCA_ITERS = 15


def _pca_oracle() -> str:
    """Unrolled power-iteration oracle: every CTE is AS MATERIALIZED
    (each is referenced twice — without it DuckDB's inlining compounds
    the 15-deep chain)."""
    parts = [
        "WITH idx AS MATERIALIZED (SELECT unnest(generate_series(0, 63)) AS i),",
        """mu AS MATERIALIZED (
            SELECT idx.i, avg(e.embedding[idx.i + 1]::DOUBLE) AS m
            FROM embeddings e, idx GROUP BY idx.i
        ),""",
        """exx AS MATERIALIZED (
            SELECT ii.i AS i, jj.i AS j,
                   avg(e.embedding[ii.i + 1]::DOUBLE
                       * e.embedding[jj.i + 1]::DOUBLE) AS p
            FROM embeddings e, idx ii, idx jj
            GROUP BY ii.i, jj.i
        ),""",
        """cov AS MATERIALIZED (
            SELECT c.i, c.j, c.p - a.m * b.m AS val
            FROM exx c JOIN mu a ON c.i = a.i JOIN mu b ON c.j = b.i
        ),""",
        "v0 AS MATERIALIZED (SELECT i, 0.125 AS v FROM idx),",
    ]
    for k in range(1, _PCA_ITERS + 1):
        parts.append(
            f"""m{k} AS MATERIALIZED (
                SELECT c.i, sum(c.val * v.v) AS s
                FROM cov c JOIN v{k-1} v ON c.j = v.i GROUP BY c.i
            ),"""
        )
        parts.append(
            f"""v{k} AS MATERIALIZED (
                SELECT i, s / (SELECT sqrt(sum(s * s)) FROM m{k}) AS v
                FROM m{k}
            ),"""
        )
    last = f"v{_PCA_ITERS}"
    parts.append(
        f"""pick AS MATERIALIZED (
            SELECT v FROM {last} ORDER BY abs(v) DESC, i ASC LIMIT 1
        )
        SELECT {last}.i AS component,
               round(CASE WHEN pick.v < 0 THEN -{last}.v ELSE {last}.v END,
                     4) AS loading,
               round((SELECT sqrt(sum(s * s)) FROM m{_PCA_ITERS}), 3)
                   AS eigenvalue
        FROM {last}, pick ORDER BY component"""
    )
    return "\n".join(parts)


@query(
    "q163_power_iteration_pca",
    oracle=_pca_oracle(),
    tags=("similarity", "pca", "linear-algebra", "iterative"),
)
def q163_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via the
    distributed Gram-matrix + power-iteration pattern: each partition
    reduces its Arrow batches to a 64×64 product-sum matrix, a mean
    vector, and a count in numpy (mapInPandas — the ONLY thing shuffled
    is 64²+65 partial-state rows per partition, never vectors); the
    driver assembles C = Σxxᵀ/n − μμᵀ (bounded 64×64 model state — the
    same driver-side footprint as MLlib's aggregators) and runs 15
    power iterations with sqrt-only normalization from the exact start
    vector 1/8. The sign is canonicalized by making the largest-|value|
    component positive. The oracle replays the identical recurrence as
    15 unrolled materialized CTEs; power iteration is contractive, so
    both engines land on the same fixed point despite float-sum
    association noise (absorbed at round-4).

    Scale posture: communication is O(partitions · d²) independent of
    row count — the canonical pattern for any distributed moment/
    gradient computation. For d too large for d² state, switch to
    matrix-free C·v passes (one mapInPandas per iteration).
    """
    import numpy as np

    emb = load_tables(spark, sf_dir)["embeddings"].select("embedding")

    def gram(batches):
        import pandas as pd

        sxx = np.zeros((_PCA_DIM, _PCA_DIM))
        sx = np.zeros(_PCA_DIM)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            sxx += x.T @ x
            sx += x.sum(axis=0)
            n += len(x)
        if n == 0:
            return
        out_i, out_j, out_s = [], [], []
        for i in range(_PCA_DIM):
            for j in range(_PCA_DIM):
                out_i.append(i)
                out_j.append(j)
                out_s.append(sxx[i, j])
        for i in range(_PCA_DIM):
            out_i.append(i)
            out_j.append(-1)
            out_s.append(sx[i])
        out_i.append(-1)
        out_j.append(-1)
        out_s.append(float(n))
        yield pd.DataFrame({"i": out_i, "j": out_j, "s": out_s})

    merged = (
        emb.mapInPandas(gram, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    sxx = np.zeros((_PCA_DIM, _PCA_DIM))
    sx = np.zeros(_PCA_DIM)
    n = 0.0
    for row in merged:
        if row["i"] == -1:
            n = row["s"]
        elif row["j"] == -1:
            sx[row["i"]] = row["s"]
        else:
            sxx[row["i"], row["j"]] = row["s"]
    mu = sx / n
    cov = sxx / n - np.outer(mu, mu)
    v = np.full(_PCA_DIM, 0.125)
    lam = 0.0
    for _ in range(_PCA_ITERS):
        s = cov @ v
        lam = float(np.sqrt((s * s).sum()))
        v = s / lam
    top = int(np.argmax(np.abs(v)))
    if v[top] < 0:
        v = -v
    rows = [
        (i, round(float(v[i]), 4), round(lam, 3)) for i in range(_PCA_DIM)
    ]
    return spark.createDataFrame(
        rows, "component int, loading double, eigenvalue double"
    ).orderBy("component")


_KNN_SCALE = 1048576  # 2^20: float32 -> exact integer grid


@query(
    "q169_knn_classify",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               [CAST(round(x::DOUBLE * 1048576) AS BIGINT)
                FOR x IN embedding] AS qv
        FROM embeddings
    ),
    test AS (SELECT * FROM q WHERE vec_id % 10 = 0),
    train AS (SELECT * FROM q WHERE vec_id % 10 <> 0),
    pairs AS (
        SELECT t.vec_id AS test_id, t.label AS true_label,
               r.vec_id AS train_id, r.label AS train_label,
               list_sum([t.qv[i] * r.qv[i] FOR i IN range(1, 65)])
                   AS dot_i,
               list_sum([t.qv[i] * t.qv[i] FOR i IN range(1, 65)])
                   AS nt,
               list_sum([r.qv[i] * r.qv[i] FOR i IN range(1, 65)])
                   AS nr
        FROM test t CROSS JOIN train r
    ),
    scored AS (
        SELECT test_id, true_label, train_id, train_label,
               CAST(dot_i AS DOUBLE)
                 / (sqrt(CAST(nt AS DOUBLE)) * sqrt(CAST(nr AS DOUBLE)))
                 AS cos,
               row_number() OVER (
                   PARTITION BY test_id
                   ORDER BY CAST(dot_i AS DOUBLE)
                            / (sqrt(CAST(nt AS DOUBLE))
                               * sqrt(CAST(nr AS DOUBLE))) DESC,
                            train_id ASC) AS rk
        FROM pairs
    ),
    votes AS (
        SELECT test_id, true_label, train_label, count(*) AS v
        FROM scored WHERE rk <= 5
        GROUP BY test_id, true_label, train_label
    ),
    pred AS (
        SELECT test_id, true_label, train_label AS predicted,
               row_number() OVER (
                   PARTITION BY test_id
                   ORDER BY v DESC, train_label ASC) AS pk
        FROM votes
    )
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ((2 * sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                 * 1000000 + count(*)) // (2 * count(*))) / 1000000.0
               AS accuracy
    FROM pred WHERE pk = 1
    GROUP BY true_label ORDER BY true_label
    """,
    tags=("similarity", "knn", "classification", "join"),
)
def q169_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification join (k=5, cosine): every 10th vector plays
    the unlabeled query set; its label is predicted by majority vote of
    its 5 nearest training vectors, ties to the smallest label. Emits a
    per-class accuracy table.

    Determinism is engineered: embeddings quantize to the exact 2^-20
    integer grid (float32 → ×2^20 is an exact power-of-two scale), dot
    products and squared norms are then EXACT int64 sums, and cosine =
    dot / (sqrt(n1)·sqrt(n2)) is three correctly-rounded IEEE ops —
    bit-identical on both engines, so the top-5 cut and vote counts
    can never differ by a float ulp (the failure mode a float-summed
    cosine would have at the rank-5/rank-6 boundary).

    Scale posture: the query set broadcasts against the training side
    (the standard knn-join shape when queries ≪ corpus); ranking and
    voting share the test_id partitioning. For corpus-scale query
    sets, swap the cross join for the q73 IVF cell-bucketed variant —
    scoring, voting, and tie-breaks are unchanged.
    """
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _KNN_SCALE).cast("long"),
        ).alias("qv"),
    )
    test = q.filter(F.col("vec_id") % 10 == 0)
    train = q.filter(F.col("vec_id") % 10 != 0)

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    pairs = (
        F.broadcast(
            test.select(
                F.col("vec_id").alias("test_id"),
                F.col("label").alias("true_label"),
                F.col("qv").alias("tv"),
            )
        )
        .crossJoin(
            train.select(
                F.col("vec_id").alias("train_id"),
                F.col("label").alias("train_label"),
                F.col("qv").alias("rv"),
            )
        )
        .select(
            "test_id",
            "true_label",
            "train_id",
            "train_label",
            (
                idot(F.col("tv"), F.col("rv")).cast("double")
                / (
                    F.sqrt(idot(F.col("tv"), F.col("tv")).cast("double"))
                    * F.sqrt(idot(F.col("rv"), F.col("rv")).cast("double"))
                )
            ).alias("cos"),
        )
    )
    scored = pairs.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("test_id").orderBy(
                F.col("cos").desc(), F.col("train_id").asc()
            )
        ),
    )
    votes = (
        scored.filter(F.col("rk") <= 5)
        .groupBy("test_id", "true_label", "train_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    pred = votes.withColumn(
        "pk",
        F.row_number().over(
            Window.partitionBy("test_id").orderBy(
                F.col("v").desc(), F.col("train_label").asc()
            )
        ),
    ).filter(F.col("pk") == 1)
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("train_label") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_label",
            "n_test",
            "n_correct",
            half_up_ratio(F.col("n_correct"), F.col("n_test"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("true_label")
    )


@query(
    "q183_label_embedding_pool",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
    per_dim AS (
        SELECT label, d.dim AS dim,
               round(avg(CAST(embedding[d.dim] AS DOUBLE)), 6) AS avg_val,
               count(*) AS n
        FROM embeddings CROSS JOIN dims d
        GROUP BY label, d.dim
    ),
    ranked AS (
        SELECT label, dim, avg_val, n,
               row_number() OVER (
                   PARTITION BY label ORDER BY avg_val DESC, dim ASC
               ) AS rn
        FROM per_dim
    )
    SELECT label,
           CAST(max(n) AS BIGINT)                            AS n_vecs,
           round(sqrt(sum(avg_val * avg_val)), 6)            AS pooled_norm,
           CAST(max(CASE WHEN rn = 1 THEN dim END) AS INTEGER) AS top_dim,
           max(CASE WHEN rn = 1 THEN avg_val END)            AS top_val
    FROM ranked
    GROUP BY label
    ORDER BY label
    """,
    tags=("embedding", "pooling", "higher-order", "ml"),
)
def q183_label_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-pooled embedding profile: dimension-wise average
    vector per label, reported as the pooled vector's L2 norm plus its
    strongest dimension (argmax, ties to the lowest dim) — the class
    -centroid summary a curriculum/mixture designer reads before
    weighting sources.

    Determinism: per-dimension averages are rounded to 1e-6 BEFORE any
    ranking or norm computation, so the argmax and the norm are
    computed from identical exact values on both engines regardless of
    float accumulation order.

    Scale posture: ``posexplode`` widens the shuffle 64× but each row
    is (label, dim, float) — 16-ish bytes — and map-side combine
    collapses it to |labels|×64 groups before the exchange, so the
    shuffle payload is the AGGREGATE state, not the corpus. At larger
    dims swap the explode for an Arrow ``applyInPandas`` per-label
    vector sum (one pass, no widening); at fixture scale the explode
    plan is strictly simpler and equally cheap."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.col("val").cast("double").alias("val"),
        )
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("val"), 6).alias("avg_val"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("avg_val"), F.asc("dim"))
    ranked = per_dim.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.round(F.sqrt(F.sum(F.col("avg_val") * F.col("avg_val"))), 6).alias(
                "pooled_norm"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("dim")))
            .cast("int")
            .alias("top_dim"),
            F.max(F.when(F.col("rn") == 1, F.col("avg_val"))).alias("top_val"),
        )
        .orderBy("label")
    )


@query(
    "q186_embedding_dim_variance",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
    per_dim AS (
        SELECT d.dim AS dim,
               round(avg(CAST(embedding[d.dim] AS DOUBLE)), 6)      AS mean_val,
               round(var_samp(CAST(embedding[d.dim] AS DOUBLE)), 6) AS var_val
        FROM embeddings CROSS JOIN dims d
        GROUP BY d.dim
    )
    SELECT dim, mean_val, var_val,
           var_val < 0.05 AS near_constant
    FROM per_dim
    ORDER BY dim
    """,
    tags=("embedding", "feature-selection", "statistics"),
)
def q186_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance profile of the embedding space with a
    near-constant-dimension flag — the feature-selection pass that runs
    before indexing or quantization (a dimension carrying no variance
    wastes index bits and distorts cosine normalization; q76's
    quantizer would allocate it a full codebook axis).

    Scale posture: posexplode widens 64× but map-side partial
    aggregation collapses to 64 groups before the exchange — the
    shuffle carries 64 running (n, mean, M2) states per task, not the
    corpus. var_samp's merge is Chan's parallel combine, numerically
    stable at any partition count; round(6) absorbs the
    accumulation-order ulps (the flag threshold 0.05 sits far from any
    fixture dimension's variance, so the boolean cannot flip)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    per_dim = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .select((F.col("pos") + 1).alias("dim"), F.col("val").cast("double").alias("val"))
        .groupBy("dim")
        .agg(
            F.round(F.avg("val"), 6).alias("mean_val"),
            F.round(F.var_samp("val"), 6).alias("var_val"),
        )
    )
    return per_dim.select(
        "dim",
        "mean_val",
        "var_val",
        (F.col("var_val") < 0.05).alias("near_constant"),
    ).orderBy("dim")


def _rrf_oracle() -> str:
    from azure_batch_map_reduce_spark.functions.text import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    tf_cols = ",\n               ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    score_terms = " + ".join(
        f"""(ln((stats.n_docs - stats.df_{t} + 0.5) / (stats.df_{t} + 0.5) + 1)
             * d.tf_{t} * ({_BM25_K1} + 1)
             / (d.tf_{t} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / stats.avgdl)))"""
        for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in _BM25_TERMS
    )
    any_tf = " + ".join(f"d.tf_{t}" for t in _BM25_TERMS)
    return f"""
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        FROM documents
    ),
    d AS (
        SELECT doc_id, len(toks) AS dl,
               {tf_cols}
        FROM toked
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl, {df_cols}
        FROM d
    ),
    sparse AS (
        SELECT d.doc_id, round({score_terms}, 6) AS bm25
        FROM d CROSS JOIN stats
        WHERE {any_tf} > 0
    ),
    sparse_rank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_sparse
        FROM sparse
        QUALIFY r_sparse <= 20
    ),
    q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        FROM embeddings WHERE vec_id = 0
    ),
    dense AS (
        SELECT e.vec_id AS doc_id,
               round(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qe)
                     / sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                             list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
                            * list_dot_product(q.qe, q.qe)), 6) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    ),
    dense_rank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_dense
        FROM dense
        QUALIFY r_dense <= 20
    )
    SELECT coalesce(s.doc_id, de.doc_id) AS doc_id,
           round(coalesce(1.0 / (60 + s.r_sparse), 0)
                 + coalesce(1.0 / (60 + de.r_dense), 0), 6) AS rrf,
           CAST(s.r_sparse AS INTEGER) AS r_sparse,
           CAST(de.r_dense AS INTEGER) AS r_dense
    FROM sparse_rank s FULL OUTER JOIN dense_rank de ON s.doc_id = de.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """


@query(
    "q190_hybrid_rrf_retrieval",
    oracle=_rrf_oracle(),
    tags=("retrieval", "rrf", "hybrid", "ranking", "similarity"),
)
def q190_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 sparse
    ranking (q107's scorer) and the dense cosine ranking against query
    vector 0 (q70's scorer) each contribute ``1/(60 + rank)`` for their
    top-20, fused by sum and re-ranked — the standard RRF combiner
    modern RAG stacks run because rank fusion needs no score
    calibration between the two retrievers.

    Determinism: both ranks order by a round(·,6) score with doc_id
    tie-break, and the fused score is arithmetic on small INTEGER
    ranks — bit-identical across engines regardless of float noise in
    either scorer.

    Scale posture: each side reduces to a top-20 TakeOrdered before
    ranking (per-partition heaps, no global sort of scores); the ≤20
    survivors are numbered by the window-free ``rank_small`` aggregate
    and fused with a full outer join — driver-trivial at any corpus
    size, zero WindowExec nodes in the plan. The corpus-sized work
    (tokenize+score, dot products) stays map-only in both retrievers."""
    from azure_batch_map_reduce_spark.functions.text import bm25_scores

    tables = load_tables(spark, sf_dir)
    docs, emb = tables["documents"], tables["embeddings"]

    sparse_top = (
        bm25_scores(docs).orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)
    )
    sparse_rank = rank_small(
        sparse_top,
        key=[desc_key(F.col("bm25")).alias("_nb"), F.col("doc_id").alias("_d")],
        payload=["doc_id"],
        out="r_sparse",
    )

    qv = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qe")
    )
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _cosine(_as_double(F.col("embedding")), F.col("qe")),
                6,
            ).alias("cosine"),
        )
    )
    dense_top = dense.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(20)
    dense_rank = rank_small(
        dense_top,
        key=[desc_key(F.col("cosine")).alias("_nc"), F.col("doc_id").alias("_d")],
        payload=["doc_id"],
        out="r_dense",
    ).select(F.col("doc_id").alias("d_doc_id"), "r_dense")

    fused = sparse_rank.join(
        dense_rank,
        sparse_rank["doc_id"] == dense_rank["d_doc_id"],
        "full_outer",
    )
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("r_sparse")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("r_dense")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("d_doc_id")).alias("doc_id"),
            rrf.alias("rrf"),
            F.col("r_sparse").cast("int").alias("r_sparse"),
            F.col("r_dense").cast("int").alias("r_dense"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "q241_hard_negative_mining",
    oracle="""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               concat_ws('', CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS sig
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id, a.label, b.vec_id AS neg_id, b.label AS neg_label,
               round(list_dot_product(a.e, b.e)
                     / sqrt(list_dot_product(a.e, a.e)
                            * list_dot_product(b.e, b.e)), 6) AS cosine
        FROM n a JOIN n b ON a.sig = b.sig AND a.label <> b.label
        WHERE a.vec_id < 40
    )
    SELECT vec_id, label, neg_id, neg_label, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neg_id ASC) AS rn
        FROM pairs
    ) WHERE rn = 1
    ORDER BY vec_id
    """,
    tags=("similarity", "lsh", "contrastive", "training"),
)
def q241_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector (vec_id < 40), the most-cosine-similar vector with a
    DIFFERENT label — the near-miss negatives that make embedding /
    reranker training converge, mined without an all-pairs join by
    restricting candidates to the anchor's sign-bit LSH bucket (q71's
    6-bit signature). Anchors whose bucket holds no other-label vector
    yield no row (they have no hard negative at this recall level —
    widen with multi-probe in production).

    Determinism: cosine rounds to 6 digits; ties break on the lowest
    candidate vec_id; the per-anchor argmax is a lexicographic
    struct-max (cosine, −neg_id) — ``0.0 −`` so a rounded −0.0 cannot
    mis-order against +0.0.

    Scale posture: the candidate join is an equi-join on the bucket
    signature (shuffle keyed by sig — never a cross product); the
    per-anchor best is a partial+final struct-max aggregate, not a
    window, so heavy buckets combine map-side. At 100 TB: raise the
    signature width to keep bucket occupancy bounded, salt the hottest
    buckets (q229's salting plan), and multi-probe neighboring
    signatures for recall."""
    n = _sign_buckets(spark, sf_dir)
    anchors = n.filter(F.col("vec_id") < 40)
    cands = n.select(
        F.col("sig").alias("sig_b"),
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("e").alias("eb"),
    )
    pairs = anchors.join(
        cands,
        (F.col("sig") == F.col("sig_b")) & (F.col("label") != F.col("neg_label")),
    ).select(
        "vec_id",
        "label",
        "neg_id",
        "neg_label",
        F.round(_cosine(F.col("e"), F.col("eb")), 6).alias("cosine"),
    )
    best = F.max(
        F.struct(
            (F.lit(0.0) + F.col("cosine")).alias("c"),
            (-F.col("neg_id")).alias("nn"),
            F.col("neg_label").alias("nl"),
        )
    ).alias("b")
    return (
        pairs.groupBy("vec_id", "label")
        .agg(best)
        .select(
            "vec_id",
            "label",
            (-F.col("b.nn")).cast("long").alias("neg_id"),
            F.col("b.nl").alias("neg_label"),
            F.col("b.c").alias("cosine"),
        )
        .orderBy("vec_id")
    )


@query(
    "q242_pq_ann",
    oracle="""
    WITH n AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    cbe AS MATERIALIZED (
        SELECT (label % 4) AS g, (i - 1) // 8 AS s, ((i - 1) % 8) + 1 AS si,
               avg(e[i]) AS c
        FROM n, generate_series(1, 64) AS t(i)
        GROUP BY g, s, si
    ),
    cb AS MATERIALIZED (
        SELECT s, g, list(c ORDER BY si) AS c FROM cbe GROUP BY s, g
    ),
    q AS (SELECT e AS qe FROM n WHERE vec_id = 0),
    cbq AS MATERIALIZED (
        SELECT cb.s, cb.g, cb.c,
               list_reduce(
                   list_transform(range(1, 9),
                       i -> (q.qe[cb.s * 8 + i] - cb.c[i])
                            * (q.qe[cb.s * 8 + i] - cb.c[i])),
                   (a, b) -> a + b) AS dq
        FROM cb CROSS JOIN q
    ),
    dists AS (
        SELECT n.vec_id, n.label, k.s, k.g, k.dq,
               round(list_reduce(
                   list_transform(range(1, 9),
                       i -> (n.e[k.s * 8 + i] - k.c[i])
                            * (n.e[k.s * 8 + i] - k.c[i])),
                   (a, b) -> a + b), 4) AS dv
        FROM n CROSS JOIN cbq k
        WHERE n.vec_id <> 0
    ),
    best AS (
        SELECT vec_id, label, s, dq
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY dv ASC, g ASC) AS rn
            FROM dists
        ) WHERE rn = 1
    )
    SELECT vec_id, label, round(sum(dq), 6) AS adc_dist
    FROM best
    GROUP BY vec_id, label
    ORDER BY adc_dist ASC, vec_id ASC
    LIMIT 10
    """,
    tags=("similarity", "ann", "pq", "quantization"),
)
def q242_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the IVFPQ/FAISS memory-scale path,
    completing the ANN family: brute q70, LSH q71, IVF q73): the 64-dim
    space splits into m=8 subspaces of 8 dims; each subspace gets a
    k=4-entry codebook (sub-centroids over deterministic training
    groups ``label % 4``, so the oracle replays training); each vector
    encodes as its per-subspace nearest codebook entry; the query
    scores candidates with the asymmetric-distance (ADC) lookup table —
    sum over subspaces of ||q_sub − centroid[code]||². Top-10 by ADC.

    Determinism: per-subspace distances round to 4 digits BEFORE the
    argmin with a code-id tie-break, so a near-equidistant centroid
    pair cannot flip the code across engines on accumulation ulps; the
    fold ``aggregate(…, 0.0, +)`` is bit-identical to DuckDB's
    ``list_reduce`` because the first step 0.0+x² is IEEE-exact.

    Scale posture: the codebook is 32 rows → a 1-row broadcast array
    (with the query's ADC table precomputed into it); encoding AND
    scoring are then one map-side expression per vector — zero corpus
    shuffle, like q73's assignment — and the top-10 is TakeOrdered. At
    100 TB the 8-byte codes (vs 256-byte vectors) are the point: the
    code table fits hot storage at 32× compression and re-ranking
    fetches full vectors for the short list only."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))

    # Codebook: per (subspace s, group g) dimension-wise mean.
    cbe = (
        n.select(
            (F.col("label") % 4).alias("g"), F.posexplode("e").alias("i0", "val")
        )
        .groupBy(
            "g",
            (F.col("i0") / 8).cast("int").alias("s"),
            (F.col("i0") % 8 + 1).alias("si"),
        )
        .agg(F.avg("val").alias("c"))
    )
    cb = cbe.groupBy("s", "g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("si", "c"))),
            lambda x: x.getField("c"),
        ).alias("c")
    )
    q = n.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))

    def l2(vec: Column, off: Column, cent: Column) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: (F.element_at(vec, off * 8 + i) - F.element_at(cent, i))
                * (F.element_at(vec, off * 8 + i) - F.element_at(cent, i)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # 1-row broadcast codebook with the query's ADC entries baked in,
    # sorted by (s, g) for positional lookup cb[s*4+g+1].
    cbq = (
        cb.crossJoin(F.broadcast(q))
        .select(F.struct("s", "g", "c", l2(F.col("qe"), F.col("s"), F.col("c")).alias("dq")).alias("ent"))
        .agg(F.array_sort(F.collect_list("ent")).alias("cb"))
    )

    def best_dq(s: Column) -> Column:
        return F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda g: F.struct(
                    F.round(
                        l2(
                            F.col("e"),
                            s,
                            F.element_at(F.col("cb"), s * 4 + g + 1)["c"],
                        ),
                        4,
                    ).alias("dv"),
                    g.alias("g"),
                    F.element_at(F.col("cb"), s * 4 + g + 1)["dq"].alias("dq"),
                ),
            )
        )["dq"]

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(7)), F.lit(0.0), lambda acc, s: acc + best_dq(s)
    )
    return (
        n.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(cbq))
        .select("vec_id", "label", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "q243_kmeans_lloyd_step",
    oracle="""
    WITH n AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    dims0 AS MATERIALIZED (
        SELECT label AS cell, i, avg(e[i]) AS c
        FROM n, generate_series(1, 64) AS t(i)
        GROUP BY cell, i
    ),
    init AS MATERIALIZED (
        SELECT cell, list(c ORDER BY i) AS c0 FROM dims0 GROUP BY cell
    ),
    assigned AS MATERIALIZED (
        SELECT vec_id, e, cell FROM (
            SELECT n.vec_id, n.e, k.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(list_reduce(
                           list_transform(range(1, 65),
                               i -> (n.e[i] - k.c0[i]) * (n.e[i] - k.c0[i])),
                           (a, b) -> a + b), 4) ASC, k.cell ASC) AS rn
            FROM n CROSS JOIN init k
        ) WHERE rn = 1
    ),
    upd AS MATERIALIZED (
        SELECT a.cell, i, avg(e[i]) AS c, count(*) AS nv
        FROM assigned a, generate_series(1, 64) AS t(i)
        GROUP BY a.cell, i
    ),
    newc AS MATERIALIZED (
        SELECT cell, max(nv) AS n_assigned, list(c ORDER BY i) AS c1
        FROM upd GROUP BY cell
    ),
    norms AS (
        SELECT cell,
               sum(list_reduce(list_transform(range(1, 65),
                       i -> e[i] * e[i]), (a, b) -> a + b)) AS ssq
        FROM assigned GROUP BY cell
    )
    SELECT nc.cell,
           CAST(nc.n_assigned AS BIGINT) AS n_assigned,
           round(s.ssq - nc.n_assigned
                 * list_reduce(list_transform(range(1, 65),
                       i -> nc.c1[i] * nc.c1[i]), (a, b) -> a + b), 2)
               AS inertia,
           round(list_reduce(list_transform(range(1, 65),
                       i -> (nc.c1[i] - it.c0[i]) * (nc.c1[i] - it.c0[i])),
                   (a, b) -> a + b), 6) AS shift_sq
    FROM newc nc
    JOIN init it ON nc.cell = it.cell
    JOIN norms s ON nc.cell = s.cell
    ORDER BY nc.cell
    """,
    tags=("similarity", "kmeans", "clustering", "iterative"),
)
def q243_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means (k=10, init = per-label means, the
    deterministic seed the oracle can replay): assign every vector to
    its nearest centroid, recompute cluster means, and emit per cluster
    the assignment count, the within-cluster inertia, and the squared
    centroid shift — the convergence trace a clustering job monitors
    per round. Completes the codebook-training story whose consumers
    are already in the registry (IVF q73, PQ q242, centroid audit q72).

    Determinism: assignment distances round to 4 digits before the
    argmin with a cell-id tie-break (the q242 discipline — ulp-level
    near-ties cannot flip cluster membership across engines). Inertia
    uses the mean-decomposition Σ‖x−μ‖² = Σ‖x‖² − n·‖μ‖² so it needs
    only per-cluster aggregates — no second pass over the corpus
    against the new centroids.

    Scale posture: init centroids collapse to a 1-row broadcast array;
    assignment is one map-side argmin expression per vector (zero
    corpus shuffle, q73's shape); the update is explode → (cell, dim)
    partial+final means — the shuffle carries k×64 cells, not vectors;
    Σ‖x‖² rides the same groupBy. Iterating = re-running this dataflow
    with c1 as the next init; each round is one corpus scan."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))

    dims0 = (
        n.select(F.col("label").alias("cell"), F.posexplode("e").alias("i0", "val"))
        .groupBy("cell", (F.col("i0") + 1).alias("i"))
        .agg(F.avg("val").alias("c"))
    )
    init = dims0.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda x: x.getField("c"),
        ).alias("c0")
    )
    cents = init.agg(
        F.array_sort(F.collect_list(F.struct("cell", "c0"))).alias("cb")
    )

    def sqdist(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (F.element_at(a, i) - F.element_at(b, i))
                * (F.element_at(a, i) - F.element_at(b, i)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    best = F.array_min(
        F.transform(
            "cb",
            lambda k: F.struct(
                F.round(sqdist(F.col("e"), k["c0"]), 4).alias("d"),
                k["cell"].alias("cell"),
            ),
        )
    )
    assigned = (
        n.crossJoin(F.broadcast(cents))
        .select("vec_id", "e", best["cell"].alias("cell"))
    )

    ssq_row = F.aggregate(
        F.transform(F.col("e"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    upd = (
        assigned.select(
            "cell", ssq_row.alias("ssq"), F.posexplode("e").alias("i0", "val")
        )
        .groupBy("cell", (F.col("i0") + 1).alias("i"))
        .agg(
            F.avg("val").alias("c"),
            F.count(F.lit(1)).alias("nv"),
            # Every dim row of a vector carries the same ssq; dividing
            # by 64 at the final rollup undoes the explode fan-out
            # without a second corpus pass.
            F.sum("ssq").alias("ssq_sum"),
        )
    )
    newc = upd.groupBy("cell").agg(
        F.max("nv").cast("long").alias("n_assigned"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda x: x.getField("c"),
        ).alias("c1"),
        (F.sum("ssq_sum") / 64.0).alias("ssq"),
    )
    norm_sq = F.aggregate(
        F.transform(F.col("c1"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return (
        newc.join(F.broadcast(init), "cell")
        .select(
            "cell",
            "n_assigned",
            F.round(
                F.col("ssq") - F.col("n_assigned") * norm_sq, 2
            ).alias("inertia"),
            F.round(sqdist(F.col("c1"), F.col("c0")), 6).alias("shift_sq"),
        )
        .orderBy("cell")
    )


def _mrl_oracle() -> str:
    def cosk(k: int) -> str:
        return (
            f"round(list_dot_product(e[1:{k}], qe[1:{k}])"
            f" / sqrt(list_dot_product(e[1:{k}], e[1:{k}])"
            f" * list_dot_product(qe[1:{k}], qe[1:{k}])), 6)"
        )

    per = ",\n               ".join(f"{cosk(k)} AS c{k}" for k in (8, 16, 32, 64))
    rows = "\n    UNION ALL\n".join(
        f"    SELECT {k} AS dims, round(avg(abs(c{k} - c64)), 4) AS avg_abs_err,"
        f" round(max(abs(c{k} - c64)), 4) AS max_abs_err,"
        f" round(corr(c{k}, c64), 4) AS pearson FROM per"
        for k in (8, 16, 32, 64)
    )
    return f"""
    WITH n AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    q AS (SELECT e AS qe FROM n WHERE vec_id = 0),
    per AS MATERIALIZED (
        SELECT {per}
        FROM n CROSS JOIN q WHERE vec_id <> 0
    )
{rows}
    ORDER BY dims
    """


@query(
    "q245_matryoshka_fidelity",
    oracle=_mrl_oracle(),
    tags=("similarity", "matryoshka", "truncation", "evaluation"),
)
def q245_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation fidelity: how well do the first
    8/16/32 dimensions of each embedding reproduce the full-64-dim
    cosine against the query vector? Emits per truncation width the
    mean and max absolute cosine error and the Pearson correlation with
    the full-width score — the evaluation a pipeline runs before
    adopting truncated embeddings for the cheap first-stage retrieval
    tier (full width re-ranks the short list only).

    Determinism: every cosine rounds to 6 digits before the error math;
    corr's accumulation-order ulps wash out under round(4) (the q182
    summed-moments discipline — floats feed aggregates, never ranking
    keys).

    Scale posture: ONE corpus scan computes all four cosines per row
    (map-side, query broadcast); the four (avg, max, corr) triples ride
    a single global partial+final aggregate, and the wide→long pivot is
    a 1-row stack. Nothing shuffles but 1-row aggregate states."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    q = n.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))

    def cosk(k: int) -> Column:
        a, b = F.slice(F.col("e"), 1, k), F.slice(F.col("qe"), 1, k)
        return F.round(_cosine(a, b), 6).alias(f"c{k}")

    per = (
        n.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(*[cosk(k) for k in (8, 16, 32, 64)])
    )
    aggs = []
    for k in (8, 16, 32, 64):
        aggs += [
            F.round(F.avg(F.abs(F.col(f"c{k}") - F.col("c64"))), 4).alias(f"a{k}"),
            F.round(F.max(F.abs(F.col(f"c{k}") - F.col("c64"))), 4).alias(f"m{k}"),
            F.round(F.corr(f"c{k}", "c64"), 4).alias(f"r{k}"),
        ]
    wide = per.agg(*aggs)
    stacked = ", ".join(f"{k}, a{k}, m{k}, r{k}" for k in (8, 16, 32, 64))
    return wide.selectExpr(
        f"stack(4, {stacked}) AS (dims, avg_abs_err, max_abs_err, pearson)"
    ).orderBy("dims")


@query(
    "q259_rag_context_assembly",
    oracle="""
    WITH qv AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    cand AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id >= 5
    ),
    scored AS (
        SELECT q.query_id, c.vec_id,
               round(list_dot_product(c.e, q.qe)
                     / sqrt(list_dot_product(c.e, c.e)
                            * list_dot_product(q.qe, q.qe)), 6) AS cosine
        FROM cand c CROSS JOIN qv q
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
        FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rank <= 8),
    with_cost AS (
        SELECT t.query_id, t.rank, t.vec_id AS doc_id, t.cosine,
               (d.n_chars + 3) // 4 AS tokens
        FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    ),
    packed AS (
        SELECT *,
               sum(tokens) OVER (
                   PARTITION BY query_id ORDER BY rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens
        FROM with_cost
    )
    SELECT query_id, rank, doc_id, cosine,
           CAST(tokens AS BIGINT)     AS tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           cum_tokens <= 400          AS included
    FROM packed
    ORDER BY query_id, rank
    """,
    tags=("similarity", "retrieval", "rag", "packing", "budget"),
)
def q259_rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context-window assembly: for each query vector, retrieve the
    top-8 documents by cosine, price each at (n_chars+3) div 4 tokens,
    and include the rank-ordered prefix that fits the 400-token
    context budget — the retrieve-then-pack step between a vector
    index and a prompt template. Emits the full candidate list with
    rank, token cost, running total, and the inclusion decision, so
    the downstream assembler (and the eval harness measuring context
    precision) sees both what went in and what got cut.

    Determinism: cosines round to 6 before ranking with a vec_id
    tie-break (q70); token costs are integer div; the running total is
    an integer sum over the rank order; inclusion is an integer
    compare. Zero float accumulation anywhere past the cosine.

    Scale posture: query vectors broadcast against the corpus
    (map-side scoring, q70's shape); the rank<=8 filter compiles to
    WindowGroupLimit (per-group heap, map-side partial — q237's pin),
    so the per-query window state is 8 rows; the packing cumsum runs
    on ≤8-row partitions. Document costs join at id grain AFTER
    top-k — 40 rows here, never the corpus."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    docs = load_tables(spark, sf_dir)["documents"]
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qe"),
    )
    cand = emb.filter(F.col("vec_id") >= 5).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    scored = cand.crossJoin(F.broadcast(qv)).select(
        "query_id",
        "vec_id",
        F.round(_cosine(F.col("e"), F.col("qe")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 8)
    )
    # doc-grain cost table must not be force-broadcast; the SMALL
    # side here is topk (queries x 8 rows), which AQE broadcasts on
    # its own (the q329 rule).
    with_cost = topk.join(
        docs.select("doc_id", "n_chars"),
        topk["vec_id"] == F.col("doc_id"),
    ).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        "cosine",
        F.expr("(n_chars + 3) div 4").alias("tokens"),
    )
    wp = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        with_cost.withColumn("cum_tokens", F.sum("tokens").over(wp))
        .select(
            "query_id",
            "rank",
            "doc_id",
            "cosine",
            F.col("tokens").cast("long").alias("tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            (F.col("cum_tokens") <= 400).alias("included"),
        )
        .orderBy("query_id", "rank")
    )


_Q270_COS = ("round(list_dot_product({a}, {b}) / sqrt("
             "list_dot_product({a}, {a}) * list_dot_product({b}, {b})), 6)")


@query(
    "q270_ivf_recall_audit",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM n WHERE vec_id < 5),
    corpus AS (SELECT vec_id, label, e FROM n WHERE vec_id >= 5),
    dims AS (
        SELECT label, i, avg(e[i]) AS c
        FROM corpus, generate_series(1, 64) AS t(i)
        GROUP BY label, i
    ),
    centroids AS (
        SELECT label AS cell, list(c ORDER BY i) AS ce FROM dims GROUP BY label
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_Q270_COS.format(a="v.e", b="c.ce")} DESC,
                                c.cell ASC) AS rn
            FROM corpus v CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell, unnest(range(rk, 4)) AS nprobe FROM (
            SELECT q.query_id, c.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_Q270_COS.format(a="q.qe", b="c.ce")} DESC,
                                c.cell ASC) AS rk
            FROM qv q CROSS JOIN centroids c
        ) WHERE rk <= 3
    ),
    scored AS (
        SELECT q.query_id, v.vec_id,
               {_Q270_COS.format(a="v.e", b="q.qe")} AS cosine
        FROM corpus v CROSS JOIN qv q
    ),
    gt AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    ),
    cand AS (
        SELECT p.query_id, p.nprobe, s.vec_id, s.cosine
        FROM probes p
        JOIN assigned a ON a.cell = p.cell
        JOIN scored s ON s.query_id = p.query_id AND s.vec_id = a.vec_id
    ),
    ivf AS (
        SELECT query_id, nprobe, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id, nprobe
                ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM cand
        ) WHERE rn <= 10
    ),
    sizes AS (
        SELECT query_id, nprobe, count(*) AS n_candidates
        FROM cand GROUP BY query_id, nprobe
    )
    SELECT z.query_id, CAST(z.nprobe AS INTEGER) AS nprobe,
           CAST(z.n_candidates AS BIGINT) AS n_candidates,
           CAST(count(g.vec_id) AS BIGINT) AS n_hits,
           round(count(g.vec_id) / 10.0, 4) AS recall_at_10
    FROM sizes z
    JOIN ivf i ON i.query_id = z.query_id AND i.nprobe = z.nprobe
    LEFT JOIN gt g ON g.query_id = i.query_id AND g.vec_id = i.vec_id
    GROUP BY z.query_id, z.nprobe, z.n_candidates
    ORDER BY z.query_id, z.nprobe
    """,
    tags=("similarity", "ann", "ivf", "evaluation", "recall"),
)
def q270_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit: recall@10 of the IVF index (q73's design)
    against brute-force ground truth, swept over nprobe ∈ {1,2,3} —
    the recall/cost curve that decides an ANN deployment's probe
    budget (the eval a vector-search rollout runs before trusting the
    index). Emits per (query, nprobe): candidate-list size (the cost
    proxy) and recall.

    Determinism: every ranking (cell assignment, probe order, ground
    truth, IVF top-10) is on round-6 cosine with an id tie-break
    (q70/q73 discipline); recall is an exact integer count over a
    10-row intersection.

    Scale posture: query vectors and the |cells| codebook broadcast;
    corpus scoring is map-side; both top-10s compile to per-group
    WindowGroupLimit heaps; the probe sweep materializes as rank→
    sequence explode (a cell probed at rank r serves every nprobe ≥ r
    — no re-scoring per sweep point). The intersection joins 10-row
    frames. At 100 TB the audit runs on a query SAMPLE against a
    corpus slice — the dataflow is sampling-invariant."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    )
    qv = n.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    corpus = n.where(F.col("vec_id") >= 5)

    dims = (
        corpus.select("label", F.posexplode("e").alias("i0", "val"))
        .groupBy("label", F.col("i0").alias("i"))
        .agg(F.avg("val").alias("c"))
    )
    centroids = dims.groupBy(F.col("label").alias("cell")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s.getField("c"),
        ).alias("ce")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cell")
    )
    assigned = (
        corpus.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id", "cell", F.round(_cosine(F.col("e"), F.col("ce")), 6).alias("ccos")
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.asc("cell")
    )
    probes = (
        qv.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "cell",
            F.round(_cosine(F.col("qe"), F.col("ce")), 6).alias("qcos"),
        )
        .withColumn("rk", F.row_number().over(w_probe))
        .where(F.col("rk") <= 3)
        .select(
            "query_id",
            "cell",
            F.explode(F.sequence(F.col("rk"), F.lit(3))).alias("nprobe"),
        )
    )
    scored = corpus.crossJoin(F.broadcast(qv)).select(
        "query_id",
        "vec_id",
        F.round(_cosine(F.col("e"), F.col("qe")), 6).alias("cosine"),
    )
    w_gt = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    # Fresh aliases on BOTH columns: gt and ivf share the `scored`
    # lineage, and a same-attribute join condition silently collapses
    # to trivially-true (Spark warns, then mis-joins).
    gt = (
        scored.withColumn("rn", F.row_number().over(w_gt))
        .where(F.col("rn") <= 10)
        .select(
            F.col("query_id").alias("gt_query"),
            F.col("vec_id").alias("gt_vec"),
        )
    )
    cand = probes.join(F.broadcast(assigned), "cell").join(
        scored, ["query_id", "vec_id"]
    )
    w_ivf = Window.partitionBy("query_id", "nprobe").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    ivf = (
        cand.withColumn("rn", F.row_number().over(w_ivf))
        .where(F.col("rn") <= 10)
        .select("query_id", "nprobe", "vec_id")
    )
    sizes = cand.groupBy("query_id", "nprobe").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        ivf.join(
            F.broadcast(gt),
            (F.col("query_id") == F.col("gt_query"))
            & (F.col("vec_id") == F.col("gt_vec")),
            "left",
        )
        .drop("gt_query")
        .groupBy("query_id", "nprobe")
        .agg(F.count("gt_vec").alias("n_hits"))
        .join(F.broadcast(sizes), ["query_id", "nprobe"])
        .select(
            "query_id",
            F.col("nprobe").cast("int").alias("nprobe"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / 10.0, 4).alias("recall_at_10"),
        )
        .orderBy("query_id", "nprobe")
    )


def _q272_sub_cos_sql(qs: int, ds: int) -> str:
    """Rounded cosine between query subvector qs and doc subvector ds
    (1-based 16-dim slices) — oracle text."""
    a = f"q.qe[{(qs - 1) * 16 + 1}:{qs * 16}]"
    b = f"d.de[{(ds - 1) * 16 + 1}:{ds * 16}]"
    return (f"round(list_dot_product({a}, {b}) / sqrt("
            f"list_dot_product({a}, {a}) * list_dot_product({b}, {b})), 4)")


def _q272_oracle() -> str:
    per_q = " + ".join(
        "greatest(" + ", ".join(_q272_sub_cos_sql(qs, ds) for ds in (1, 2, 3, 4)) + ")"
        for qs in (1, 2, 3, 4)
    )
    return f"""
    WITH qv AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    dv AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
        FROM embeddings WHERE vec_id >= 5
    ),
    scored AS (
        SELECT q.query_id, d.vec_id, d.label,
               round({per_q}, 4) AS maxsim
        FROM dv d CROSS JOIN qv q
    )
    SELECT query_id, vec_id, label, maxsim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY maxsim DESC, vec_id ASC) AS rn
        FROM scored
    ) WHERE rn <= 5
    ORDER BY query_id, rn
    """


@query(
    "q272_maxsim_late_interaction",
    oracle=_q272_oracle(),
    tags=("similarity", "retrieval", "maxsim", "late-interaction", "colbert"),
)
def q272_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (MaxSim): both query
    and document vectors decompose into 4 16-dim subvectors ("token
    embeddings"); a document scores Σ over query subvectors of the MAX
    cosine against any document subvector — the fine-grained matcher
    that beats single-vector cosine when different parts of a query
    match different parts of a document. Top-5 documents per query.

    Determinism: each of the 16 subvector cosines rounds to 4 BEFORE
    max/sum (the q242 argmin discipline — ulps cannot flip which
    subvector wins); the 4-term sum is a fixed left-to-right
    expression, identical on both engines; the final score re-rounds
    at 4 and ranks with a vec_id tie-break.

    Scale posture: queries broadcast; MaxSim is one map-side
    expression per (doc, query) — the 16 sub-cosines share the two
    sliced operands via common-subexpression reuse; top-5 compiles to
    WindowGroupLimit. At production scale documents pre-normalize
    their subvectors at write time, halving the per-pair math; the
    dataflow (broadcast probe → map-side score → per-query heap) is
    q70's, with a richer scoring kernel."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    qv = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qe"),
    )
    dv = emb.where(F.col("vec_id") >= 5).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("de")
    )

    def sub(col: str, s: int) -> Column:
        return F.slice(F.col(col), (s - 1) * 16 + 1, 16)

    def sub_cos(qs: int, ds: int) -> Column:
        return F.round(_cosine(sub("qe", qs), sub("de", ds)), 4)

    maxsim = F.round(
        sum(
            (
                F.greatest(*[sub_cos(qs, ds) for ds in (1, 2, 3, 4)])
                for qs in (2, 3, 4)
            ),
            F.greatest(*[sub_cos(1, ds) for ds in (1, 2, 3, 4)]),
        ),
        4,
    )
    scored = dv.crossJoin(F.broadcast(qv)).select(
        "query_id", "vec_id", "label", maxsim.alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("maxsim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("query_id", "vec_id", "label", "maxsim")
        .orderBy("query_id", F.desc("maxsim"), F.asc("vec_id"))
    )


@query(
    "q280_multiprobe_lsh_ann",
    oracle="""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               concat_ws('', CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS sig
        FROM embeddings
    ),
    q AS (SELECT sig AS qsig, e AS qe FROM n WHERE vec_id = 0),
    probes AS (
        SELECT qsig AS psig, 0 AS pdist, qe FROM q
        UNION ALL
        SELECT substr(qsig, 1, CAST(i - 1 AS INTEGER))
               || (CASE WHEN substr(qsig, CAST(i AS INTEGER), 1) = '1'
                   THEN '0' ELSE '1' END)
               || substr(qsig, CAST(i + 1 AS INTEGER)),
               1, qe
        FROM q, unnest(range(1, 7)) t(i)
    )
    SELECT n.vec_id, n.label, p.pdist AS probe_dist,
           round(list_dot_product(n.e, p.qe)
                 / sqrt(list_dot_product(n.e, n.e)
                        * list_dot_product(p.qe, p.qe)), 6) AS cosine
    FROM n JOIN probes p ON n.sig = p.psig AND n.vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("similarity", "lsh", "ann", "multiprobe"),
)
def q280_multiprobe_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB'07): instead of growing
    recall by adding hash TABLES (more memory) the query probes its own
    bucket PLUS the 6 buckets at Hamming distance 1 in signature space
    — the buckets a near neighbor most likely fell into when one
    hyperplane test flipped. Single-bucket LSH (q71) trades recall for
    speed; multi-probe buys most of the recall back at zero index
    cost. Emits the exact-cosine top-10 among probed candidates with
    the probe distance that surfaced each (pdist=0: home bucket).

    Determinism: probe-key construction is pure string arithmetic; the
    candidate set is an exact equi-join; cosine rounds at 6 with the
    lexicographic vec_id tie-break.

    Scale posture: the probe set is 7 rows built from the 1-row query —
    broadcast to the corpus scan, so candidate generation is a
    map-side semi-join with NO corpus shuffle (same shape as q73's
    broadcast codebook); scoring touches only probed-bucket rows and
    top-k is a TakeOrdered. At 1000 executors the 100 TB corpus stays
    partition-local end to end. Reference contract: per-vector
    signature = map slot (``App.config:16``); top-k consolidation =
    reduce slot (``App.config:17``)."""
    n = _sign_buckets(spark, sf_dir)
    q = n.filter(F.col("vec_id") == 0).select(
        F.col("sig").alias("qsig"), F.col("e").alias("qe")
    )

    def flip(i: int):
        return F.concat(
            F.substring("qsig", 1, i - 1),
            F.when(F.substring("qsig", i, 1) == "1", "0").otherwise("1"),
            F.substring("qsig", i + 1, 6 - i),
        )

    probes = q.select(
        F.explode(
            F.array(
                F.struct(F.col("qsig").alias("psig"), F.lit(0).alias("pdist")),
                *[
                    F.struct(flip(i).alias("psig"), F.lit(1).alias("pdist"))
                    for i in range(1, 7)
                ],
            )
        ).alias("p"),
        "qe",
    ).select(F.col("p.psig").alias("psig"), F.col("p.pdist").alias("pdist"), "qe")
    cand = n.filter(F.col("vec_id") != 0).join(
        F.broadcast(probes), F.col("sig") == F.col("psig")
    )
    return (
        cand.select(
            "vec_id",
            "label",
            F.col("pdist").alias("probe_dist"),
            F.round(_cosine(F.col("e"), F.col("qe")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


_MMR_POOL = 30   # candidate pool (relevance top-k)
_MMR_K = 8       # diversified results to select
_MMR_LAMBDA = 0.7

_COS4 = (
    "round(list_dot_product({a}, {b})"
    " / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b})), 4)"
)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: every CTE MATERIALIZED (each round
    references the cumulative selection twice — candidate exclusion +
    similarity join — so inlining compounds, the q103 discipline)."""
    head = f"""
    WITH n AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    q AS MATERIALIZED (SELECT e AS qe FROM n WHERE vec_id = 0),
    cands AS MATERIALIZED (
        SELECT n.vec_id, n.label, n.e,
               {_COS4.format(a="n.e", b="q.qe")} AS rel
        FROM n CROSS JOIN q
        WHERE n.vec_id <> 0
        ORDER BY rel DESC, n.vec_id ASC
        LIMIT {_MMR_POOL}
    ),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               {_COS4.format(a="a.e", b="b.e")} AS sim
        FROM cands a JOIN cands b ON a.vec_id <> b.vec_id
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, 1 AS step, rel AS mmr FROM cands
        ORDER BY rel DESC, vec_id ASC LIMIT 1
    )"""
    rounds = []
    for t in range(2, _MMR_K + 1):
        prev = f"sel{t - 1}"
        rounds.append(f"""
    w{t} AS MATERIALIZED (
        SELECT c.vec_id, round({_MMR_LAMBDA} * c.rel
                   - {round(1 - _MMR_LAMBDA, 10)} * max(p.sim), 4) AS mmr
        FROM cands c
        JOIN pairs p ON p.va = c.vec_id
        JOIN {prev} s ON p.vb = s.vec_id
        WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY c.vec_id, c.rel
        ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
    ),
    sel{t} AS MATERIALIZED (
        SELECT vec_id, step, mmr FROM {prev}
        UNION ALL
        SELECT vec_id, {t} AS step, mmr FROM w{t}
    )""")
    tail = f"""
    SELECT s.step, s.vec_id, c.label, c.rel, s.mmr AS mmr_score
    FROM sel{_MMR_K} s JOIN cands c ON s.vec_id = c.vec_id
    ORDER BY s.step
    """
    return head + "," + ",".join(rounds) + tail


@query(
    "q286_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "retrieval", "mmr", "diversity", "iterative"),
)
def q286_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR'98): from the relevance top-30 against query vec_id 0, pick 8
    results greedily by mmr_i = λ·rel_i − (1−λ)·max_{s∈S} sim(i, s)
    with λ = 0.7 — each pick trades relevance against redundancy with
    everything already selected. This is the diversification stage a
    retrieval stack runs between scoring (q70/q190/q272) and context
    assembly (q259): without it, near-duplicate passages crowd out
    coverage.

    Determinism: all cosines (relevance AND pairwise) round to 4
    BEFORE any argmax — the cross-engine argmax-key discipline — and
    every greedy winner tie-breaks on vec_id; MMR scores are single
    multiply/subtract ops on rounded operands.

    Scale posture: corpus work is ONE map-side scored scan +
    TakeOrdered(30) (no shuffle, the q70 shape); everything after —
    the 30×29 pairwise matrix and 8 greedy rounds — runs at pool
    grain, persisted once, with each round's cumulative selection
    localCheckpoint-ed so plan analysis stays O(1) in rounds (the
    q103 iterative discipline). Pool size, not corpus size, bounds
    the sequential part; that is the standard two-stage
    retrieve-then-rerank split. Reference contract: scoring = map slot
    (``App.config:16``); greedy selection = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
    q = n.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    rel = F.round(_cosine(F.col("e"), F.col("qe")), 4)
    cands = (
        n.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "e", rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .persist()
    )
    a = cands.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"))
    b = cands.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb"))
    sim = F.round(_cosine(F.col("ea"), F.col("eb")), 4)
    pairs = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select("va", "vb", sim.alias("sim"))
        .persist()
    )
    sel = (
        cands.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select("vec_id", F.lit(1).alias("step"), F.col("rel").alias("mmr"))
        .localCheckpoint(eager=True)
    )
    for t in range(2, _MMR_K + 1):
        msim = (
            pairs.join(
                F.broadcast(sel.select(F.col("vec_id").alias("sel_id"))),
                F.col("vb") == F.col("sel_id"),
            )
            .groupBy("va")
            .agg(F.max("sim").alias("ms"))
        )
        winner = (
            cands.join(sel.select("vec_id"), "vec_id", "left_anti")
            .join(msim, F.col("vec_id") == F.col("va"))
            .select(
                "vec_id",
                F.lit(t).alias("step"),
                F.round(
                    _MMR_LAMBDA * F.col("rel")
                    - (1 - _MMR_LAMBDA) * F.col("ms"),
                    4,
                ).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
        )
        sel = sel.unionAll(winner).localCheckpoint(eager=True)
    return (
        sel.join(cands.select("vec_id", "label", "rel"), "vec_id")
        .select("step", "vec_id", "label", "rel", F.col("mmr").alias("mmr_score"))
        .orderBy("step")
    )


_LPT_SHARDS = 8


@query(
    "q290_lpt_shard_balancing",
    oracle=f"""
    WITH cells AS (
        SELECT concat_ws('', CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                            CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                            CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                            CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                            CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                            CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS sig,
               count(*) AS n
        FROM embeddings GROUP BY 1
    ),
    ordered AS (
        SELECT list(CAST(n AS DOUBLE) ORDER BY n DESC, sig ASC) AS sizes,
               list(sig ORDER BY n DESC, sig ASC) AS sigs
        FROM cells
    ),
    folded AS (
        -- acc: first {_LPT_SHARDS} doubles = shard loads, then one
        -- assigned shard id (0-based, as double) per item in LPT order.
        -- Same-type LIST accumulator, every field read from the
        -- UNMODIFIED acc (the q267 struct_pack-shadowing discipline).
        SELECT sigs,
               list_reduce(
                   list_prepend([CAST(0 AS DOUBLE) FOR _ IN range({_LPT_SHARDS})],
                                list_transform(sizes, s -> [s])),
                   (acc, item) -> list_transform(
                       range(1, len(acc) + 2),
                       i -> CASE
                           WHEN i <= {_LPT_SHARDS} THEN
                               acc[CAST(i AS INTEGER)]
                               + CASE WHEN i = list_position(
                                     list_slice(acc, 1, {_LPT_SHARDS}),
                                     list_min(list_slice(acc, 1, {_LPT_SHARDS})))
                                 THEN item[1] ELSE 0.0 END
                           WHEN i <= len(acc) THEN acc[CAST(i AS INTEGER)]
                           ELSE CAST(list_position(
                                    list_slice(acc, 1, {_LPT_SHARDS}),
                                    list_min(list_slice(acc, 1, {_LPT_SHARDS})))
                                    - 1 AS DOUBLE)
                       END)) AS acc
        FROM ordered
    ),
    assigned AS (
        SELECT sigs[i] AS sig,
               CAST(acc[{_LPT_SHARDS} + i] AS BIGINT) AS shard
        FROM folded, unnest(range(1, len(sigs) + 1)) t(i)
    ),
    loads AS (
        SELECT a.shard, sum(c.n) AS shard_load
        FROM assigned a JOIN cells c ON a.sig = c.sig
        GROUP BY a.shard
    )
    SELECT a.sig, CAST(c.n AS BIGINT) AS n_vectors, a.shard,
           CAST(l.shard_load AS BIGINT) AS shard_load
    FROM assigned a
    JOIN cells c ON a.sig = c.sig
    JOIN loads l ON a.shard = l.shard
    ORDER BY a.sig
    """,
    tags=("similarity", "sharding", "lpt", "planning", "serving"),
)
def q290_lpt_shard_balancing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-aware shard balancing for an ANN serving index: the 6-bit
    LSH cells (q71's buckets — naturally SKEWED, unlike q75's uniform
    hash shards) are packed onto 8 shards by Longest-Processing-Time
    greedy: sort cells by size descending, assign each to the
    currently lightest shard (ties: lowest shard id). LPT guarantees
    max-load ≤ 4/3·OPT — the planning step that keeps one hot cell
    from pinning a serving node while hash-sharding would split cells
    and duplicate routing state.

    Determinism: cell sizes are exact counts; the greedy fold runs in
    a total (size desc, sig asc) order; loads are integer-valued
    doubles so min/argmin comparisons are exact; first-index
    tie-breaking matches on both engines.

    Scale posture: cell statistics are one partial+final count (cells
    ≤ 2^bits, corpus-independent); the sequential LPT fold runs at
    CELL grain inside a single-row array fold — the same
    pool-then-fit reduction as q277's PAV (pool at bounded grain, run
    the inherently-sequential algorithm there). The accumulator is a
    same-type list of doubles (loads ++ assignments), every element
    built from the unmodified accumulator — the q267 DuckDB fold
    discipline. Reference contract: per-vector cell assignment = map
    slot (``App.config:16``); the packing fold = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cells = emb.select(_sign6().alias("sig")).groupBy("sig").agg(
        F.count(F.lit(1)).alias("n")
    )
    ordered = cells.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.lit(0.0) - F.col("n")).alias("negn"),
                        F.col("sig").alias("sig"),
                        F.col("n").cast("double").alias("nd"),
                    )
                )
            ),
            lambda s: F.struct(s.getField("sig").alias("sig"), s.getField("nd").alias("nd")),
        ).alias("items")
    )
    k = _LPT_SHARDS
    # acc: k shard loads then one 0-based shard id per processed item.
    folded = ordered.select(
        "items",
        F.aggregate(
            F.col("items"),
            F.array(*[F.lit(0.0) for _ in range(k)]),
            lambda acc, item: F.concat(
                F.transform(
                    F.slice(acc, 1, k),
                    lambda x, i: F.when(
                        i
                        == F.array_position(
                            F.slice(acc, 1, k), F.array_min(F.slice(acc, 1, k))
                        )
                        - 1,
                        x + item.getField("nd"),
                    ).otherwise(x),
                ),
                F.slice(acc, k + 1, F.size(acc) - k),
                F.array(
                    (
                        F.array_position(
                            F.slice(acc, 1, k), F.array_min(F.slice(acc, 1, k))
                        )
                        - 1
                    ).cast("double")
                ),
            ),
        ).alias("acc"),
    )
    assigned = folded.select(
        F.posexplode(
            F.transform(
                F.col("items"),
                lambda item, i: F.struct(
                    item.getField("sig").alias("sig"),
                    F.element_at(F.col("acc"), i + k + 1).cast("long").alias(
                        "shard"
                    ),
                ),
            )
        ).alias("pos", "a")
    ).select(F.col("a.sig").alias("sig"), F.col("a.shard").alias("shard"))
    loads = (
        assigned.join(cells, "sig")
        .groupBy("shard")
        .agg(F.sum("n").alias("shard_load"))
    )
    return (
        assigned.join(F.broadcast(cells), "sig")
        .join(F.broadcast(loads), "shard")
        .select(
            "sig",
            F.col("n").cast("long").alias("n_vectors"),
            "shard",
            F.col("shard_load").cast("long").alias("shard_load"),
        )
        .orderBy("sig")
    )


_NDCG_K = 10
_NDCG_QUERIES = 5  # vec_ids 0..4 serve as queries


@query(
    "q293_ndcg_retrieval_eval",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, label AS q_label, e AS qe
        FROM n WHERE vec_id < {_NDCG_QUERIES}
    ),
    scored AS (
        SELECT q.qid, q.q_label, n.vec_id,
               CASE WHEN n.label = q.q_label THEN 1 ELSE 0 END AS gain,
               round(list_dot_product(n.e, q.qe)
                     / sqrt(list_dot_product(n.e, n.e)
                            * list_dot_product(q.qe, q.qe)), 4) AS cos
        FROM n CROSS JOIN q
        WHERE n.vec_id >= {_NDCG_QUERIES}
    ),
    ranked AS (
        SELECT qid, q_label, gain,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
        FROM scored
    ),
    nrel AS (
        SELECT qid, sum(gain) AS n_rel FROM scored GROUP BY qid
    ),
    dcg AS (
        SELECT qid, q_label,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(gain / log2(rnk + 1.0) ORDER BY rnk)),
                   (a, b) -> a + b) AS dcg
        FROM ranked WHERE rnk <= {_NDCG_K}
        GROUP BY qid, q_label
    ),
    idcg AS (
        SELECT r.qid,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(1.0 / log2(i + 1.0) ORDER BY i)),
                   (a, b) -> a + b) AS idcg
        FROM nrel r, unnest(range(1, {_NDCG_K} + 1)) t(i)
        WHERE i <= least({_NDCG_K}, r.n_rel)
        GROUP BY r.qid
    )
    SELECT d.qid, d.q_label,
           round(d.dcg, 6) AS dcg,
           round(i.idcg, 6) AS idcg,
           round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN idcg i ON d.qid = i.qid
    ORDER BY d.qid
    """,
    tags=("similarity", "retrieval", "evaluation", "ndcg"),
)
def q293_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 retrieval evaluation — the standard graded-ranking
    metric the recall audit (q270) and AUC (q255) don't cover: vectors
    0-4 serve as queries, binary gain = same-label, ranking by exact
    cosine; DCG discounts each hit by log2(rank+1) and normalizes by
    the ideal ordering's DCG. This is the offline eval a retrieval
    stack runs per index/model change; per-query rows (not a single
    mean) keep regressions attributable.

    Determinism: ranks are total-ordered (4dp cosine key + vec_id
    tie); log2 is libm but applied to exact INTEGER+1 operands —
    identical inputs both engines — and the discounted sums fold in
    rank order; final values round at 6.

    Scale posture: scoring is a broadcast of the 5-query table onto
    one corpus scan (map-side, the q70 shape); per-query ranking
    partitions by qid with a group-limit at k=10; DCG folds run at
    ≤k-row grain and IDCG is closed-form from the per-query relevant
    count. Queries × corpus never materializes beyond the scored scan.
    Reference contract: per-vector scoring = map slot
    (``App.config:16``); per-query metric consolidation = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
    q = n.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("e").alias("qe"),
    )
    scored = (
        n.filter(F.col("vec_id") >= _NDCG_QUERIES)
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "q_label",
            "vec_id",
            F.when(F.col("label") == F.col("q_label"), 1).otherwise(0).alias(
                "gain"
            ),
            F.round(_cosine(F.col("e"), F.col("qe")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= _NDCG_K
    )
    nrel = scored.groupBy("qid").agg(F.sum("gain").alias("n_rel"))
    dcg = ranked.groupBy("qid", "q_label").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("rnk"),
                            (
                                F.col("gain") / F.log2(F.col("rnk") + 1.0)
                            ).alias("term"),
                        )
                    )
                ),
                lambda s: s.getField("term"),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("dcg")
    )
    idcg = (
        nrel.select(
            "qid",
            F.explode(F.sequence(F.lit(1), F.lit(_NDCG_K))).alias("i"),
            "n_rel",
        )
        .where(F.col("i") <= F.least(F.lit(_NDCG_K), F.col("n_rel")))
        .groupBy("qid")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("i"),
                                (1.0 / F.log2(F.col("i") + 1.0)).alias("term"),
                            )
                        )
                    ),
                    lambda s: s.getField("term"),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("idcg")
        )
    )
    return (
        dcg.join(F.broadcast(idcg), "qid")
        .select(
            "qid",
            "q_label",
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
        .orderBy("qid")
    )


_SQ_LEVELS = 255  # int8-style quantization levels


@query(
    "q311_sq8_quantization_audit",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    dims AS (
        SELECT i, min(e[CAST(i AS INTEGER)]) AS lo, max(e[CAST(i AS INTEGER)]) AS hi
        FROM n, unnest(range(1, 65)) t(i)
        GROUP BY i
    ),
    scale AS (
        SELECT list(lo ORDER BY i) AS los,
               list((hi - lo) / {_SQ_LEVELS} ORDER BY i) AS steps
        FROM dims
    ),
    quant AS (
        SELECT vec_id, label, e,
               list_transform(range(1, 65),
                   i -> round((e[CAST(i AS INTEGER)] - s.los[CAST(i AS INTEGER)])
                              / s.steps[CAST(i AS INTEGER)])) AS q
        FROM n CROSS JOIN scale s
    ),
    deq AS (
        SELECT vec_id, label, e,
               list_transform(range(1, 65),
                   i -> s.los[CAST(i AS INTEGER)]
                        + q[CAST(i AS INTEGER)] * s.steps[CAST(i AS INTEGER)]) AS d
        FROM quant CROSS JOIN scale s
    ),
    mse AS (
        SELECT vec_id, label,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65),
                       i -> (e[CAST(i AS INTEGER)] - d[CAST(i AS INTEGER)])
                          * (e[CAST(i AS INTEGER)] - d[CAST(i AS INTEGER)]))),
                   (a, b) -> a + b) / 64 AS mse
        FROM deq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(mse), 8)       AS avg_mse,
           round(max(mse), 8)       AS max_mse,
           round(avg(sqrt(mse)), 6) AS avg_rmse
    FROM mse
    """,
    tags=("similarity", "quantization", "sq8", "compression", "audit"),
)
def q311_sq8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8-style) quantization audit — the 4x-compression
    baseline every vector store offers before PQ (q242) and truncation
    (q245): per-dimension min/max over the corpus define a 255-level
    uniform grid; each vector quantizes to grid codes and dequantizes
    back; the audit reports reconstruction MSE/RMSE — the distortion
    budget that decides whether SQ8 suffices or PQ's codebooks are
    needed. (Per-dim scaling is the part people get wrong: a single
    global scale wastes levels on narrow dimensions.)

    Determinism: min/max are exact comparisons; quantization is
    round() of one IEEE affine transform per cell; reconstruction
    error folds in dimension order; outputs round at 8/6.

    Scale posture: the scale table is ONE partial+final aggregate at
    dimension grain (64 rows, broadcast back); quantize/dequantize/
    error is pure map-side array math per vector — the corpus is
    touched twice (train scale, apply) exactly like q222's
    fit-then-transform discipline. Reference contract: per-vector
    encode = map slot (``App.config:16``); scale fit + distortion
    rollup = reduce slot (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("e"))
    dims = (
        n.select(F.posexplode("e").alias("i0", "v"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    scale = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "lo"))),
            lambda s: s.getField("lo"),
        ).alias("los"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "i", ((F.col("hi") - F.col("lo")) / _SQ_LEVELS).alias("st")
                    )
                )
            ),
            lambda s: s.getField("st"),
        ).alias("steps"),
    )
    quant = n.crossJoin(F.broadcast(scale)).select(
        "vec_id",
        "label",
        "e",
        "los",
        "steps",
        F.expr(
            "transform(sequence(1, 64),"
            " i -> round((e[i - 1] - los[i - 1]) / steps[i - 1]))"
        ).alias("q"),
    )
    deq = quant.select(
        "vec_id",
        "label",
        "e",
        F.expr(
            "transform(sequence(1, 64),"
            " i -> los[i - 1] + q[i - 1] * steps[i - 1])"
        ).alias("d"),
    )
    mse = deq.select(
        (
            F.aggregate(
                F.expr(
                    "transform(sequence(1, 64),"
                    " i -> (e[i - 1] - d[i - 1]) * (e[i - 1] - d[i - 1]))"
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / 64
        ).alias("mse")
    )
    return mse.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("mse"), 8).alias("avg_mse"),
        F.round(F.max("mse"), 8).alias("max_mse"),
        F.round(F.avg(F.sqrt("mse")), 6).alias("avg_rmse"),
    )


_HUB_K = 3     # neighbors per query in the bucketed kNN graph
_HUB_TOPN = 15


@query(
    "q312_knn_hubness_audit",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               concat_ws('', CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                             CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS sig
        FROM embeddings
    ),
    pairs AS (
        SELECT a.sig, a.vec_id AS va, b.vec_id AS vb,
               round(list_dot_product(a.e, b.e)
                     / sqrt(list_dot_product(a.e, a.e)
                            * list_dot_product(b.e, b.e)), 4) AS cos
        FROM n a JOIN n b ON a.sig = b.sig AND a.vec_id <> b.vec_id
    ),
    knn AS (
        SELECT va, vb FROM (
            SELECT va, vb, row_number() OVER (
                PARTITION BY sig, va ORDER BY cos DESC, vb ASC) AS rn
            FROM pairs
        ) WHERE rn <= {_HUB_K}
    ),
    occ AS (
        SELECT vb AS vec_id, count(*) AS k_occurrence
        FROM knn GROUP BY vb
    ),
    bsz AS (SELECT sig, count(*) AS n_in_bucket FROM n GROUP BY sig)
    SELECT o.vec_id, n.label,
           CAST(o.k_occurrence AS BIGINT) AS k_occurrence,
           CAST(b.n_in_bucket AS BIGINT)  AS n_in_bucket
    FROM occ o
    JOIN n ON o.vec_id = n.vec_id
    JOIN bsz b ON n.sig = b.sig
    ORDER BY o.k_occurrence DESC, o.vec_id ASC
    LIMIT {_HUB_TOPN}
    """,
    tags=("similarity", "ann", "hubness", "audit", "knn"),
)
def q312_knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN hubness audit (Radovanović et al., JMLR'10): in high
    dimensions some vectors become HUBS — they appear in far more
    k-nearest lists than average — which silently skews kNN
    classification (q169), ANN recall (q270), and near-dup clustering
    (q66). Over the sign-LSH bucketed k=3 neighbor graph (the same
    candidate structure the ANN family serves from), each vector's
    k-occurrence is counted and the 15 heaviest hubs emit with their
    bucket size — the audit that tells you whether hub-aware scoring
    (mutual kNN, local scaling) is warranted before trusting the
    neighbor graph.

    Determinism: candidate edges are exact within buckets; ranking
    keys round to 4 with vec_id tie-break; k-occurrences are exact
    counts.

    Scale posture: candidate pairs form only inside LSH buckets (q71's
    equi-join — never all-pairs); per-query ranking partitions by
    (bucket, query) with a group limit; k-occurrence is one
    partial+final count at vector grain; top-k is a TakeOrdered.
    Reference contract: per-vector neighbor scoring = map slot
    (``App.config:16``); occurrence consolidation = reduce slot
    (``App.config:17``)."""
    n = _sign_buckets(spark, sf_dir)
    a = n.select("sig", F.col("vec_id").alias("va"), F.col("e").alias("ea"))
    b = n.select(
        F.col("sig").alias("sig_b"), F.col("vec_id").alias("vb"), F.col("e").alias("eb")
    )
    pairs = a.join(
        b, (F.col("sig") == F.col("sig_b")) & (F.col("va") != F.col("vb"))
    ).select(
        "sig",
        "va",
        "vb",
        F.round(_cosine(F.col("ea"), F.col("eb")), 4).alias("cos"),
    )
    w = Window.partitionBy("sig", "va").orderBy(F.desc("cos"), F.asc("vb"))
    knn = pairs.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _HUB_K
    )
    occ = knn.groupBy(F.col("vb").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("k_occurrence")
    )
    bsz = n.groupBy("sig").agg(F.count(F.lit(1)).alias("n_in_bucket"))
    return (
        occ.join(n.select("vec_id", "label", "sig"), "vec_id")
        .join(F.broadcast(bsz), "sig")
        .select(
            "vec_id",
            "label",
            F.col("k_occurrence").cast("long").alias("k_occurrence"),
            F.col("n_in_bucket").cast("long").alias("n_in_bucket"),
        )
        .orderBy(F.desc("k_occurrence"), F.asc("vec_id"))
        .limit(_HUB_TOPN)
    )


_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_sign_matrix() -> list[list[float]]:
    """Deterministic ±1 Rademacher matrix (16×64) from md5 channel
    hashes — the same constants are baked into the Spark literal array
    and the oracle SQL text, so both engines project with the
    identical matrix (no RNG, no seed drift)."""
    import hashlib

    rows = []
    for j in range(_JL_OUT_DIM):
        row = []
        for i in range(_JL_IN_DIM):
            h = int(
                hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[:8], 16
            )
            row.append(1.0 if h % 2 == 0 else -1.0)
        rows.append(row)
    return rows


_JL_M = _jl_sign_matrix()
_JL_M_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(f"CAST({v} AS DOUBLE)" for v in row) + "]"
        for row in _JL_M
    )
    + "]"
)


@query(
    "q327_jl_projection_distortion",
    oracle=f"""
    WITH pairs AS (
        SELECT a.embedding AS ea, b.embedding AS eb
        FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
    ),
    mat AS (SELECT {_JL_M_SQL} AS m),
    diffs AS (
        SELECT dx,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(dx, d -> d * d)),
                   (x, y) -> x + y) AS den
        FROM (
            SELECT list_transform(generate_series(1, {_JL_IN_DIM}),
                       i -> CAST(ea[i] AS DOUBLE) - CAST(eb[i] AS DOUBLE)) AS dx
            FROM pairs
        )
        -- identical-vector pairs have den = 0 → NaN ratio; drop them
        -- on BOTH sides (the Spark plan filters den > 0 too)
        WHERE den > 0
    ),
    ratios AS (
        SELECT
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(
                    list_transform(generate_series(0, {_JL_OUT_DIM - 1}),
                        j -> list_reduce(
                            list_prepend(CAST(0.0 AS DOUBLE),
                                list_transform(
                                    generate_series(1, {_JL_IN_DIM}),
                                    i -> dx[i] * m[j + 1][i])),
                            (x, y) -> x + y)),
                    p -> p * p)),
                (x, y) -> x + y)
            / {_JL_OUT_DIM}
            / den AS ratio
        FROM diffs, mat
    )
    SELECT CAST(least(CAST(floor(ratio * 10) AS INTEGER), 30) AS INTEGER)
               AS ratio_bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(ratio), 6) AS min_ratio,
           round(max(ratio), 6) AS max_ratio
    FROM ratios
    GROUP BY ratio_bin
    ORDER BY ratio_bin
    """,
    tags=("llm", "ann", "johnson-lindenstrauss", "random-projection"),
)
def q327_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection distortion audit: project
    the 64-d embeddings to 16-d with a deterministic Rademacher (±1)
    sign matrix and histogram the squared-distance distortion ratio
    ‖P·dx‖²/16 ÷ ‖dx‖² over consecutive-id vector pairs. The decision
    input for "can the ANN index run on 4× cheaper 16-d vectors" —
    JL says the ratio concentrates near 1, this measures how tightly
    for THIS corpus (the round-trip twin of q245's matryoshka
    truncation, which drops dims instead of mixing them).

    Determinism: the sign matrix is md5-channel constants baked into
    both engines; dx, each projection, and both squared norms fold in
    fixed element order with an exact 0.0-prepend seed, so every
    ratio is bit-identical cross-engine before binning; bins floor a
    shared-bit double.

    Scale posture: projection is a map-side expression per pair (the
    16×64 literal lives in the plan, no join); the pair join is a
    shifted-key equi-join; output is a ≤31-bin histogram via
    partial+final aggregation. At 100 TB the projection runs once per
    vector (not per pair) and persists as a 16-float column — 4×
    smaller index pages. Reference contract: per-pair distortion =
    map slot (``App.config:16``); histogram = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    a = emb.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("ea")
    )
    b = emb.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("eb")
    )
    pairs = a.join(b, F.col("ida") + 1 == F.col("idb"))
    dx = F.zip_with(
        F.col("ea"),
        F.col("eb"),
        lambda x, y: x.cast("double") - y.cast("double"),
    )
    # Identical consecutive vectors give den = 0 → NaN ratio (and the
    # oracle's CAST(floor(...)) would error); filter den > 0 on both
    # sides.
    den_of = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda d: d * d), F.lit(0.0), lambda acc, x: acc + x
    )
    diffs = (
        pairs.select(dx.alias("dx"))
        .withColumn("den", den_of(F.col("dx")))
        .where(F.col("den") > 0)
    )
    m_col = F.array(
        *[
            F.array(*[F.lit(v) for v in row])
            for row in _JL_M
        ]
    )
    projs = F.transform(
        F.sequence(F.lit(0), F.lit(_JL_OUT_DIM - 1)),
        lambda j: F.aggregate(
            F.zip_with(
                F.col("dx"),
                F.element_at(m_col, (j + 1).cast("integer")),
                lambda d, s: d * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    num = F.aggregate(
        F.transform(projs, lambda p: p * p),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ratios = diffs.select(
        (num / _JL_OUT_DIM / F.col("den")).alias("ratio")
    )
    return (
        ratios.groupBy(
            F.least(
                F.floor(F.col("ratio") * 10).cast("integer"), F.lit(30)
            ).alias("ratio_bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
        )
        .select(
            F.col("ratio_bin").cast("integer").alias("ratio_bin"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            "min_ratio",
            "max_ratio",
        )
        .orderBy("ratio_bin")
    )


_KNNSV_K = 5
_KNNSV_N_QUERIES = 20
_KNNSV_TOPN = 20


@query(
    "q337_knn_shapley_valuation",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe, label % 2 AS qy
        FROM embeddings WHERE vec_id < {_KNNSV_N_QUERIES}
    ),
    tr AS (
        SELECT vec_id AS tid, embedding AS te, label % 2 AS ty
        FROM embeddings WHERE vec_id >= {_KNNSV_N_QUERIES}
    ),
    scored AS (
        SELECT q.qid, tr.tid, tr.ty,
               CASE WHEN tr.ty = q.qy THEN 1 ELSE 0 END AS hit,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, 64),
                       i -> (CAST(tr.te[i] AS DOUBLE)
                             - CAST(q.qe[i] AS DOUBLE))
                            * (CAST(tr.te[i] AS DOUBLE)
                               - CAST(q.qe[i] AS DOUBLE)))),
                   (x, y) -> x + y), 4) AS dist_r
        FROM tr CROSS JOIN q
    ),
    ranked AS (
        SELECT qid, tid, ty, hit,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist_r, tid) AS rn,
               count(*) OVER (PARTITION BY qid) AS n,
               lead(hit) OVER (PARTITION BY qid
                               ORDER BY dist_r, tid) AS hit_next
        FROM scored
    ),
    terms AS (
        SELECT qid, tid,
               CASE WHEN rn = n
                    THEN CAST(hit AS DOUBLE) / n
                    ELSE CAST(hit - hit_next AS DOUBLE)
                         / greatest({_KNNSV_K}, rn) END AS t,
               rn
        FROM ranked
    ),
    sv AS (
        SELECT qid, tid,
               sum(t) OVER (PARTITION BY qid ORDER BY rn DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS sv
        FROM terms
    ),
    pooled AS (
        -- divide by the COUNTED probe-set size, not the vec_id bound:
        -- if vec_ids are not dense from 0 the two differ, and the
        -- shared literal would hide the mis-scaling (ADVICE r3)
        SELECT tid,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(sv ORDER BY qid)), (x, y) -> x + y)
                   / (SELECT count(*) FROM q) AS mean_sv
        FROM sv GROUP BY tid
    )
    SELECT p.tid AS train_vec_id,
           t.ty AS train_label,
           round(p.mean_sv, 6) + 0.0 AS mean_shapley
    FROM pooled p JOIN tr t ON p.tid = t.tid
    ORDER BY round(p.mean_sv, 6) DESC, p.tid
    LIMIT {_KNNSV_TOPN}
    """,
    tags=("llm", "data-valuation", "shapley", "knn", "curation"),
)
def q337_knn_shapley_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al., VLDB'19): each
    training vector's Shapley value for a K=5 nearest-neighbor
    classifier, computed EXACTLY by the closed-form recursion — sort
    train points by distance to a test query, then
    s₍N₎ = δ_N/N and s₍ᵢ₎ = s₍ᵢ₊₁₎ + (δᵢ − δᵢ₊₁)/max(K, i) — and
    averaged over a 20-query probe set. The training points whose
    removal most hurts the classifier surface at the top; negative
    values flag mislabeled/harmful examples — the principled version
    of "which data is worth keeping" that q299 (uncertainty) and q307
    (coverage) approximate.

    Determinism: distances fold in element order (bit-identical) and
    round to 4 with a tid tie-break BEFORE ranking (the argmin
    discipline); the suffix sum runs in identical descending-rank
    frame order on both engines; the 20 per-query values pool via an
    ORDERED list fold (never an unordered float sum); the final top-20
    sorts on the rounded value with a tid tie-break.

    Scale posture: the probe set is a 20-row broadcast (map-side
    fan-out; the corpus never shuffles for scoring); ranks and the
    recursion run in windows PARTITIONED by query — 20 independent
    sequential scans, never a global gather. At 100 TB the per-query
    candidate set is first shortlisted by the q73/q280 ANN index
    (the recursion's tail contributes O(1/i) — truncation is the
    standard approximation), making each window O(shortlist) instead
    of O(N). Reference contract: per-pair scoring = map slot
    (``App.config:16``); per-query recursion + pooling = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") < _KNNSV_N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        (F.col("label") % 2).alias("qy"),
    )
    tr = emb.where(F.col("vec_id") >= _KNNSV_N_QUERIES).select(
        F.col("vec_id").alias("tid"),
        F.col("embedding").alias("te"),
        (F.col("label") % 2).alias("ty"),
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("te"),
            F.col("qe"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = tr.join(F.broadcast(q)).select(
        "qid",
        "tid",
        "ty",
        F.when(F.col("ty") == F.col("qy"), 1).otherwise(0).alias("hit"),
        F.round(dist, 4).alias("dist_r"),
    )
    wq = Window.partitionBy("qid").orderBy("dist_r", "tid")
    ranked = scored.select(
        "qid",
        "tid",
        "ty",
        "hit",
        F.row_number().over(wq).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("qid"))
        .alias("n"),
        F.lead("hit").over(wq).alias("hit_next"),
    )
    terms = ranked.select(
        "qid",
        "tid",
        "rn",
        F.when(
            F.col("rn") == F.col("n"),
            F.col("hit").cast("double") / F.col("n"),
        )
        .otherwise(
            (F.col("hit") - F.col("hit_next")).cast("double")
            / F.greatest(F.lit(_KNNSV_K), F.col("rn"))
        )
        .alias("t"),
    )
    wsuf = (
        Window.partitionBy("qid")
        .orderBy(F.desc("rn"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sv = terms.select("qid", "tid", F.sum("t").over(wsuf).alias("sv"))
    pooled = (
        sv.groupBy("tid")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("qid", "sv"))),
                    lambda s: s.getField("sv"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("sum_sv")
        )
        .crossJoin(F.broadcast(q.agg(F.count(F.lit(1)).alias("n_q"))))
        .select(
            # counted probe-set size, mirroring the oracle (1-row
            # broadcast; the literal bound would mis-scale the mean
            # on non-dense vec_ids)
            "tid",
            (F.col("sum_sv") / F.col("n_q")).alias("mean_sv"),
        )
    )

    return (
        pooled.join(tr.select("tid", "ty"), "tid")
        .select(
            F.col("tid").alias("train_vec_id"),
            F.col("ty").alias("train_label"),
            round_nz(F.col("mean_sv"), 6).alias("mean_shapley"),
            F.round(F.col("mean_sv"), 6).alias("_key"),
        )
        .orderBy(F.desc("_key"), F.asc("train_vec_id"))
        .limit(_KNNSV_TOPN)
        .drop("_key")
    )


_GD_STEPS = 3
_GD_LR = 0.1
_GD_QSCALE = 1_000_000  # gradients quantized to 1e-6 before the exact sum


def _gd_oracle_sql() -> str:
    """Three unrolled full-batch GD steps in SQL. Each step: per-row
    error from the previous weight list (prepend-0 fold in dim order),
    per-dim INTEGER-quantized gradient sums (exact, order-free), then
    the weight update in one shared-arithmetic expression. Every step
    CTE is MATERIALIZED (the pagerank inlining rule)."""
    dims = "generate_series(1, 65)"
    step_tpl = """
    g{k} AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(CAST(round(err * s.xv * {qs}) AS BIGINT)) AS gq,
               sum(CAST(round(err * err * {qs}) AS BIGINT)) AS lq,
               count(*) AS n
        FROM (
            SELECT e.err,
                   unnest(list_transform({dims},
                       i -> struct_pack(dim := i, xv := e.xa[i]))) AS s
            FROM (
                SELECT xa, y,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform({dims},
                               i -> xa[i] * w.wl[i])), (a, b) -> a + b) - y
                           AS err
                FROM obs CROSS JOIN w{p} w
            ) e
        )
        GROUP BY s.dim
    ),
    w{k} AS MATERIALIZED (
        SELECT list(w.wl[g.dim]
                    - {lr} * (CAST(g.gq AS DOUBLE) / {qs} / g.n)
                    ORDER BY g.dim) AS wl,
               max(CAST(g.lq AS DOUBLE) / {qs} / g.n) AS loss
        FROM g{k} g CROSS JOIN w{p} w
    )"""
    steps = ",".join(
        step_tpl.format(
            k=k, p=k - 1 if k > 1 else 0, qs=_GD_QSCALE, lr=_GD_LR, dims=dims
        )
        for k in range(1, _GD_STEPS + 1)
    )
    selects = " UNION ALL ".join(
        f"SELECT 'loss' AS item, {k} AS idx, round(loss, 6) + 0.0 AS value"
        f" FROM w{k}"
        for k in range(1, _GD_STEPS + 1)
    )
    return f"""
    WITH obs AS (
        SELECT list_prepend(CAST(1.0 AS DOUBLE),
                   list_transform(embedding, x -> CAST(x AS DOUBLE))) AS xa,
               CAST(2 * (label % 2) - 1 AS DOUBLE) AS y
        FROM embeddings
    ),
    w0 AS (SELECT list_transform({dims}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {steps}
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {selects}
        UNION ALL
        SELECT 'w', s.dim, round(s.wv, 6) + 0.0
        FROM (
            SELECT unnest(list_transform({dims},
                i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
            FROM w{_GD_STEPS} w
        )
    ) ORDER BY item, idx
    """


@query(
    "q343_linear_model_gd_steps",
    oracle=_gd_oracle_sql(),
    tags=("llm", "training", "gradient-descent", "ml", "linear-model"),
)
def q343_linear_model_gd_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model training — three full-batch gradient-descent
    steps of a linear classifier (squared loss, 64 features + bias,
    y = ±1 from label parity) where each step is ONE partial+final
    aggregate over the data: the canonical data-parallel training
    loop (compute gradients where the data lives, update the small
    model centrally — the q103 rank-vector shape with a 65-float
    model instead of a rank table). Emits the per-step training loss
    (decreasing) and the final weights.

    Determinism: distributed gradient sums of doubles are
    order-dependent, so each example's per-dimension contribution is
    QUANTIZED to 1e-6 and summed as exact BIGINTs (the deterministic
    twin of fp32 compensated accumulation); the weight update and the
    per-row error fold (dim order, 0.0-prepend seed) are the same
    shared IEEE sequence on both engines, so weights stay
    bit-identical across all three steps.

    Scale posture: per step, the corpus is scanned once, the shuffle
    carries 65 integer cells (map-side combined), and the model state
    is 65 doubles — mini-batching, momentum, and more steps change
    constants, not the dataflow. The oracle unrolls the same three
    steps in materialized CTEs. Reference contract: per-example
    gradient = map slot (``App.config:16``); model update = reduce
    slot (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    obs = emb.select(
        F.concat(
            F.array(F.lit(1.0)),
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
        ).alias("xa"),
        (2 * (F.col("label") % 2) - 1).cast("double").alias("y"),
    ).persist()
    # r15: each step is ONE wide aggregate (65 per-dim gradient-sum
    # columns + loss + n) instead of a posexplode to 65 dim groups —
    # the same exact BIGINT sums per dim with one stage and no
    # exchange; expressions are built as SQL text because a 65-literal
    # Column tree costs hundreds of driver JVM round trips per step
    # (the curation._qc_multi_step discipline).
    from azure_batch_map_reduce_spark.functions.curation import _qc_dlit

    w = [0.0] * 65
    losses = []
    n_rows = None
    for _ in range(_GD_STEPS):
        warr = "array({})".format(", ".join(_qc_dlit(v) for v in w))
        err = (
            f"(aggregate(zip_with(xa, {warr}, (x, wv) -> x * wv), "
            f"{_qc_dlit(0.0)}, (acc, x) -> acc + x) - y)"
        )
        proj = [f"{err} AS err"] + [
            f"element_at(xa, {d}) AS x{d}" for d in range(1, 66)
        ]
        aggs = [
            f"sum(CAST(round(err * x{d} * {_GD_QSCALE}) AS BIGINT))"
            f" AS g{d}"
            for d in range(1, 66)
        ] + [
            f"sum(CAST(round(err * err * {_GD_QSCALE}) AS BIGINT)) AS lq",
            "count(1) AS n",
        ]
        row = (
            obs.selectExpr(*proj)
            .agg(*[F.expr(a) for a in aggs])
            .collect()[0]
        )
        n_rows = row["n"]
        # Mirror the oracle's update arithmetic exactly: binary64 ops in
        # the same order (w − lr·(gq/1e6/n)).
        losses.append(row["lq"] / _GD_QSCALE / n_rows)
        w = [
            w[d - 1] - _GD_LR * (row[f"g{d}"] / _GD_QSCALE / n_rows)
            for d in range(1, 66)
        ]
    obs.unpersist()
    # Final rounding runs Spark-side (F.round = half-up) so the repo
    # keeps ONE rounding convention against DuckDB's round() — Python
    # round() is half-EVEN and diverges at exact half boundaries (the
    # q345 rounding-mode discipline). round_nz normalizes
    # the signed zero exactly like the oracle's `+ 0.0`.
    out_rows = [("loss", k + 1, losses[k]) for k in range(_GD_STEPS)]
    out_rows += [("w", d, w[d - 1]) for d in range(1, 66)]
    return (
        spark.createDataFrame(out_rows, "item string, idx int, raw double")
        .select("item", "idx", round_nz(F.col("raw"), 6).alias("value"))
        .orderBy("item", "idx")
    )


# Deterministic k=2 item factors from md5 channel hashes (baked as
# literals into BOTH engines, the _JL_M discipline).
def _als_item_factors() -> list[tuple[str, float, float]]:
    import hashlib

    out = []
    for t in ("click", "error", "purchase", "signup", "view"):
        h = hashlib.md5(f"als|{t}".encode()).digest()
        out.append(
            (t, round(h[0] / 255 * 2 - 1, 4), round(h[1] / 255 * 2 - 1, 4))
        )
    return out


_ALS_F = _als_item_factors()
_ALS_LAMBDA = 0.1
_ALS_TOP = 20


@query(
    "q378_als_user_factor_step",
    oracle=f"""
    WITH r AS (
        SELECT user_id, event_type,
               round(avg(value), 4) AS rui
        FROM events GROUP BY user_id, event_type
    ),
    fac AS (
        SELECT * FROM (VALUES
            {", ".join(f"('{t}', {f1}, {f2})" for t, f1, f2 in _ALS_F)}
        ) t(event_type, f1, f2)
    ),
    joined AS (
        SELECT r.user_id, r.event_type, r.rui, fac.f1, fac.f2
        FROM r JOIN fac ON r.event_type = fac.event_type
    ),
    folded AS (
        SELECT user_id, count(*) AS n_items,
               list_reduce(
                   list_prepend([CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0],
                       list(
                           [f1 * f1, f1 * f2, f2 * f2, rui * f1, rui * f2]
                           ORDER BY event_type)),
                   (acc, x) -> [acc[1] + x[1], acc[2] + x[2], acc[3] + x[3],
                                acc[4] + x[4], acc[5] + x[5]]) AS m
        FROM joined GROUP BY user_id
    ),
    solved AS (
        SELECT user_id, n_items,
               m[1] + {_ALS_LAMBDA} AS a11, m[2] AS a12,
               m[3] + {_ALS_LAMBDA} AS a22, m[4] AS b1, m[5] AS b2
        FROM folded
    ),
    u AS (
        SELECT user_id, n_items,
               (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12) AS u1,
               (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS u2
        FROM solved
    )
    SELECT user_id,
           CAST(n_items AS BIGINT) AS n_items,
           round(u1, 6) + 0.0 AS u1,
           round(u2, 6) + 0.0 AS u2,
           round(u1 * {_ALS_F[2][1]} + u2 * {_ALS_F[2][2]}, 6) + 0.0
               AS pred_purchase
    FROM u
    ORDER BY round(u1 * {_ALS_F[2][1]} + u2 * {_ALS_F[2][2]}, 6) DESC, user_id
    LIMIT {_ALS_TOP}
    """,
    tags=("recsys", "als", "matrix-factorization", "closed-form"),
)
def q378_als_user_factor_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact ALS half-step (k = 2, λ = 0.1): with item factors
    fixed (deterministic md5-derived literals, the q327 matrix
    discipline), each user's factor solves the ridge normal equations
    (Σfᵢfᵢᵀ + λI)u = Σrᵤᵢfᵢ in CLOSED FORM via the 2×2 inverse — the
    alternating-least-squares building block behind collaborative
    filtering (q212's item-CF neighbor twin), distributed exactly as
    production ALS is: per-user independent small solves after a
    ratings rollup. Emits the top-20 users by predicted affinity for
    the 'purchase' item.

    Determinism: ratings round at 4 BEFORE the solve (avg ulps); the
    5-element moment vector folds in event_type order as a same-type
    DOUBLE-list accumulator (the q267 rule) so every solve sees
    bit-identical moments; the 2×2 inverse is fixed-order arithmetic;
    the ranking uses the ROUNDED prediction with a user_id tie-break.

    Scale posture: one (user, item) rollup (partial+final), a 5-row
    broadcast factor join, then a per-user bounded fold and pure
    map-side algebra — no iteration, no driver participation;
    TakeOrdered(20). A full ALS sweep is this same plan alternating
    sides. Reference contract: rating aggregation = map slot
    (``App.config:16``); per-user solve = reduce slot
    (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    r = ev.groupBy("user_id", "event_type").agg(
        F.round(F.avg("value"), 4).alias("rui")
    )
    fac = spark.createDataFrame(
        _ALS_F, "event_type string, f1 double, f2 double"
    )
    joined = r.join(F.broadcast(fac), "event_type")
    folded = joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "event_type",
                            F.array(
                                F.col("f1") * F.col("f1"),
                                F.col("f1") * F.col("f2"),
                                F.col("f2") * F.col("f2"),
                                F.col("rui") * F.col("f1"),
                                F.col("rui") * F.col("f2"),
                            ).alias("v"),
                        )
                    )
                ),
                lambda s: s.getField("v"),
            ),
            F.array(*(F.lit(0.0) for _ in range(5))),
            lambda acc, x: F.array(
                *(
                    F.element_at(acc, i) + F.element_at(x, i)
                    for i in range(1, 6)
                )
            ),
        ).alias("m"),
    )
    a11 = F.element_at("m", 1) + _ALS_LAMBDA
    a12 = F.element_at("m", 2)
    a22 = F.element_at("m", 3) + _ALS_LAMBDA
    b1 = F.element_at("m", 4)
    b2 = F.element_at("m", 5)
    det = a11 * a22 - a12 * a12
    u1 = (a22 * b1 - a12 * b2) / det
    u2 = (a11 * b2 - a12 * b1) / det

    pf1, pf2 = _ALS_F[2][1], _ALS_F[2][2]
    pred = round_nz(u1 * pf1 + u2 * pf2, 6)
    return (
        folded.select(
            "user_id",
            F.col("n_items").cast("long").alias("n_items"),
            round_nz(u1, 6).alias("u1"),
            round_nz(u2, 6).alias("u2"),
            pred.alias("pred_purchase"),
        )
        .orderBy(F.desc("pred_purchase"), F.asc("user_id"))
        .limit(_ALS_TOP)
    )


_KLD_PROBES = 25  # fixed probe-set size (corpus-size-free, q284 rule)
_KLD_K = 5


@query(
    "q393_knn_label_disagreement",
    oracle=f"""
    WITH p AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id < {_KLD_PROBES}
    ),
    c AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    scored AS (
        SELECT p.vec_id AS probe, p.label AS own,
               c.vec_id AS nb, c.label AS nb_label,
               round(list_dot_product(c.e, p.e)
                     / sqrt(list_dot_product(c.e, c.e)
                            * list_dot_product(p.e, p.e)), 6) AS cosine
        FROM p JOIN c ON c.vec_id <> p.vec_id
    ),
    top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY probe ORDER BY cosine DESC, nb ASC) AS rn
            FROM scored
        ) WHERE rn <= {_KLD_K}
    ),
    votes AS (
        SELECT probe, own, nb_label, count(*) AS v
        FROM top GROUP BY probe, own, nb_label
    ),
    maj AS (
        SELECT * FROM (
            SELECT probe, own, nb_label, v, row_number() OVER (
                PARTITION BY probe ORDER BY v DESC, nb_label ASC) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT m.probe AS vec_id,
           CAST(m.own AS INTEGER) AS label,
           CAST(m.nb_label AS INTEGER) AS majority_label,
           CAST(m.v AS BIGINT) AS n_majority,
           CAST(coalesce(o.v, 0) AS BIGINT) AS n_agree,
           m.nb_label <> m.own AS disagrees
    FROM maj m
    LEFT JOIN votes o ON o.probe = m.probe AND o.nb_label = m.own
    ORDER BY vec_id
    """,
    tags=("similarity", "knn", "label-noise", "audit", "llm"),
)
def q393_knn_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-noise audit (Confident-Learning style): for a fixed
    probe set, does each example's label AGREE with the majority label
    of its 5 cosine nearest neighbors? A disagreeing example is a
    mislabel candidate — the triage list a labeling pipeline reviews
    first, and the data-quality twin of q312's hubness audit (same
    kNN machinery, different question).

    Determinism: cosines follow q70's discipline (float arrays cast to
    double, fixed-order dot products, round 6) with vec_id tie-breaks
    in BOTH the top-k cut and the majority vote (count desc, smaller
    label wins ties) — every ranking is total.

    Scale posture: the probe set is FIXED SIZE (25 — corpus-size-free,
    the q284 rule), so probe×corpus scoring is linear in the corpus and
    embarrassingly parallel; per-probe top-k partitions by probe; votes
    are 25×k rows. At production scale the scoring join swaps for
    q73/q280's bucketed ANN without touching the audit logic.
    Reference contract: per-vector scoring = map slot
    (``App.config:16``); vote rollup = reduce slot (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    p = emb.where(F.col("vec_id") < _KLD_PROBES).select(
        F.col("vec_id").alias("probe"),
        F.col("label").alias("own"),
        _as_double(F.col("embedding")).alias("pe"),
    )
    c = emb.select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nb_label"),
        _as_double(F.col("embedding")).alias("ce"),
    )
    scored = c.crossJoin(F.broadcast(p)).where(
        F.col("nb") != F.col("probe")
    ).select(
        "probe",
        "own",
        "nb",
        "nb_label",
        F.round(_cosine(F.col("ce"), F.col("pe")), 6).alias("cosine"),
    )
    wk = Window.partitionBy("probe").orderBy(
        F.desc("cosine"), F.asc("nb")
    )
    top = scored.withColumn("rn", F.row_number().over(wk)).where(
        F.col("rn") <= _KLD_K
    )
    votes = top.groupBy("probe", "own", "nb_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    wm = Window.partitionBy("probe").orderBy(F.desc("v"), F.asc("nb_label"))
    maj = votes.withColumn("rn", F.row_number().over(wm)).where(
        F.col("rn") == 1
    )
    own_votes = votes.select(
        F.col("probe").alias("o_probe"),
        F.col("nb_label").alias("o_label"),
        F.col("v").alias("own_v"),
    )
    return (
        maj.join(
            own_votes,
            (F.col("probe") == F.col("o_probe"))
            & (F.col("own") == F.col("o_label")),
            "left",
        )
        .select(
            F.col("probe").alias("vec_id"),
            F.col("own").cast("int").alias("label"),
            F.col("nb_label").cast("int").alias("majority_label"),
            F.col("v").cast("long").alias("n_majority"),
            F.coalesce("own_v", F.lit(0)).cast("long").alias("n_agree"),
            (F.col("nb_label") != F.col("own")).alias("disagrees"),
        )
        .orderBy("vec_id")
    )


_CD_SCALE = 1_000_000  # per-dimension fixed-point scale


@query(
    "q397_source_centroid_drift",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS val
        FROM embeddings
    ),
    v AS (
        SELECT d.source, ev.dim,
               CAST(round(CAST(ev.val AS DOUBLE) * {_CD_SCALE}) AS BIGINT)
                   AS vi
        FROM ev JOIN documents d ON d.doc_id = ev.vec_id
    ),
    per_src AS (
        SELECT source, dim, sum(vi) AS s FROM v GROUP BY source, dim
    ),
    nsrc AS (
        SELECT d.source, count(*) AS n_vecs
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        GROUP BY d.source
    ),
    gsum AS (SELECT dim, sum(vi) AS g FROM v GROUP BY dim),
    dots AS (
        SELECT s.source,
               sum(CAST(s.s AS HUGEINT) * g.g) AS num,
               sum(CAST(s.s AS HUGEINT) * s.s) AS a2,
               sum(CAST(g.g AS HUGEINT) * g.g) AS b2
        FROM per_src s JOIN gsum g ON g.dim = s.dim
        GROUP BY s.source
    )
    SELECT d.source,
           CAST(n.n_vecs AS BIGINT) AS n_vecs,
           round(CAST(num AS DOUBLE)
                 / sqrt(CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)), 6) + 0.0
               AS centroid_cosine
    FROM dots d JOIN nsrc n ON n.source = d.source
    ORDER BY d.source
    """,
    tags=("similarity", "embeddings", "drift", "centroid", "llm"),
)
def q397_source_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-centroid drift: the cosine between each
    source's mean embedding and the global mean — the distribution-
    shift monitor a curation pipeline tracks per ingest source (a
    source whose centroid swings away from the corpus signals topic
    drift or a broken upstream encoder, before any downstream eval
    notices). Complements q269's scalar stream-drift with the
    embedding-space version.

    Determinism: each float coordinate maps to fixed-point 1e6 integer
    (exactly, on both engines); per-(source,dim) sums are EXACT
    integers; cosine is scale-invariant so the count divisors cancel;
    and the dot products themselves stay EXACT — Spark decimal(38,0)
    ≡ DuckDB HUGEINT sums of integer products, order-independent — so
    floats appear only in the single closing convert/sqrt/divide,
    rounded at 6 with signed-zero normalization. (A double-fold
    version differed by one 6th-decimal ulp between engines — integer
    dot products make the divergence unrepresentable.)

    Scale posture: the only corpus-size work is ONE explode to
    (source, dim) grain with partial+final integer aggregation —
    bounded output (sources × dims); everything after is arithmetic on
    |sources| rows. Reference contract: per-vector dimension emission
    = map slot (``App.config:16``); centroid rollup = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "source"
    )
    joined = emb.join(
        docs, emb["vec_id"] == docs["doc_id"]
    ).select("source", "vec_id", "embedding")
    v = joined.select(
        "source",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "source",
        (F.col("dim0") + 1).alias("dim"),
        # Cast to DOUBLE before the multiply: Spark would otherwise run
        # float32 arithmetic while DuckDB promotes to double — 150 of
        # 32k coordinates round differently at sf0.001.
        F.round(F.col("val").cast("double") * _CD_SCALE)
        .cast("long")
        .alias("vi"),
    )
    per_src = v.groupBy("source", "dim").agg(F.sum("vi").alias("s"))
    nsrc = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    glob = v.groupBy("dim").agg(F.sum("vi").alias("g"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    dots = (
        per_src.join(glob, "dim")
        .groupBy("source")
        .agg(
            F.sum(dec("s") * dec("g")).alias("num"),
            F.sum(dec("s") * dec("s")).alias("a2"),
            F.sum(dec("g") * dec("g")).alias("b2"),
        )
    )

    return (
        dots.join(nsrc, "source")
        .select(
            "source",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            round_nz(
                F.col("num").cast("double")
                / F.sqrt(
                    F.col("a2").cast("double") * F.col("b2").cast("double")
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("source")
    )


# Fixed-point scale for q414: 1e5 keeps the largest exact integer in
# the pipeline (a_num = n·xx − 2·dot + q) under ~1e14 at every fixture
# SF — two orders of margin below double's 2^53 exact-integer ceiling,
# so the single closing int→double cast is EXACT on both engines.
_SIL_SCALE = 100_000.0

_Q414_ORACLE = """
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
    okl AS (SELECT label FROM embeddings GROUP BY label HAVING count(*) >= 2),
    pts AS (
        SELECT e.vec_id, e.label, d.dim AS dim,
               CAST(round(CAST(e.embedding[d.dim] AS DOUBLE) * 100000)
                    AS BIGINT) AS xi
        FROM embeddings e JOIN okl USING (label) CROSS JOIN dims d
    ),
    xx AS (SELECT vec_id, label, sum(xi * xi) AS xx FROM pts
           GROUP BY vec_id, label),
    cdim AS (SELECT label AS k, dim, sum(xi) AS s FROM pts
             GROUP BY label, dim),
    cstat AS (SELECT label AS k, count(*) AS n, sum(xx) AS q FROM xx
              GROUP BY label),
    dots AS (
        SELECT p.vec_id, p.label, c.k, sum(p.xi * c.s) AS dot
        FROM pts p JOIN cdim c ON p.dim = c.dim
        GROUP BY p.vec_id, p.label, c.k
    ),
    a_ik AS (
        SELECT d.vec_id, d.label, d.k,
               s.n * x.xx - 2 * d.dot + s.q AS a_num,
               s.n AS n
        FROM dots d
        JOIN cstat s ON s.k = d.k
        JOIN xx x ON x.vec_id = d.vec_id
    ),
    ab AS (
        SELECT vec_id, label,
               max(CASE WHEN k = label
                        THEN CAST(a_num AS DOUBLE) / (n - 1) END) AS a,
               min(CASE WHEN k <> label
                        THEN CAST(a_num AS DOUBLE) / n END) AS b
        FROM a_ik GROUP BY vec_id, label
    ),
    si AS (
        SELECT vec_id, label,
               CASE WHEN greatest(a, b) > 0
                    THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
        FROM ab
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_points,
           round(list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                                  list(s ORDER BY vec_id)),
                     (acc, x) -> acc + x) / count(*), 6) + 0.0
               AS mean_silhouette,
           CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_positive
    FROM si
    GROUP BY label
    ORDER BY label
"""


@query(
    "q414_cluster_silhouette_audit",
    oracle=_Q414_ORACLE,
    tags=("similarity", "embeddings", "clustering", "silhouette", "evaluation"),
)
def q414_cluster_silhouette_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster silhouette audit of the embedding space's ``label``
    partition — "are these clusters actually separated, or is the
    labeling noise?" — the cluster-quality gauge a curation pipeline
    runs before trusting label-bucketed dedup (q258 SemDeDup) or IVF
    cells built from the same partition (q73). True silhouette over
    squared-Euclidean dissimilarity via the closed form
    Σ_{j∈k}|x−y_j|² = n_k·(x·x) − 2·x·S_k + Q_k, so NO pairwise
    point-point distances are ever materialized: a(i) = that sum over
    the own cluster / (n−1) (the self term is identically 0), b(i) =
    min over other clusters of the mean, s(i) = (b−a)/max(a,b).
    Released per label: point count, mean silhouette, and how many
    points sit on the correct side (s > 0). Singleton clusters are
    excluded up front (a(i) is undefined there).

    Determinism: coordinates quantize to fixed-point 1e5 integers
    (exactly, both engines — the q397 idiom); n_k, x·x, x·S_k, Q_k and
    every a_num are EXACT integers < 2^53, so the one int→double cast
    is exact; a and b are single IEEE divisions of identical doubles;
    s(i) is elementwise IEEE arithmetic on identical inputs —
    bit-identical cross-engine. The per-label mean folds s(i) in
    vec_id order with an explicit 0.0 seed (Spark ``F.aggregate`` over
    ``array_sort(collect_list)`` ≡ DuckDB ``list_reduce(list_prepend(
    0.0, list(... ORDER BY ...)))`` — the signed-term-safe q409 form),
    then one division and a signed-zero-normalized 6-digit round.

    Scale posture: one explode to point-dim grain; cluster statistics
    (S_k, Q_k, n_k) are label×dim grain and BROADCAST to the
    point-grain join, so the corpus shuffles once for the per-point
    aggregates and never pairs with itself — O(points · labels · dims)
    work, not O(points²). At much larger n_k the exact-integer bound
    grows linearly — rescale the fixed point or lift a_num to
    decimal(38,0) (the q397 posture). Reference contract: per-vector
    statistics = map slot (``App.config:16``); cluster rollup +
    verdict = reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    okl = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("nl"))
        .where(F.col("nl") >= 2)
        .select("label")
    )
    pts = (
        emb.join(F.broadcast(okl), "label")
        .select("vec_id", "label", F.posexplode("embedding").alias("dim0", "val"))
        .select(
            "vec_id",
            "label",
            (F.col("dim0") + 1).alias("dim"),
            F.round(F.col("val").cast("double") * F.lit(_SIL_SCALE))
            .cast("long")
            .alias("xi"),
        )
    )
    xx = pts.groupBy("vec_id", "label").agg(
        F.sum(F.col("xi") * F.col("xi")).alias("xx")
    )
    cdim = pts.groupBy(F.col("label").alias("k"), "dim").agg(
        F.sum("xi").alias("s")
    )
    cstat = xx.groupBy(F.col("label").alias("k")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("xx").alias("q")
    )
    dots = (
        pts.join(F.broadcast(cdim), "dim")
        .groupBy("vec_id", "label", "k")
        .agg(F.sum(F.col("xi") * F.col("s")).alias("dot"))
    )
    a_ik = (
        dots.join(F.broadcast(cstat), "k")
        .join(xx.select("vec_id", "xx"), "vec_id")
        .select(
            "vec_id",
            "label",
            "k",
            "n",
            (
                F.col("n") * F.col("xx") - F.lit(2) * F.col("dot") + F.col("q")
            ).alias("a_num"),
        )
    )
    ab = a_ik.groupBy("vec_id", "label").agg(
        F.max(
            F.when(
                F.col("k") == F.col("label"),
                F.col("a_num").cast("double") / (F.col("n") - 1).cast("double"),
            )
        ).alias("a"),
        F.min(
            F.when(
                F.col("k") != F.col("label"),
                F.col("a_num").cast("double") / F.col("n").cast("double"),
            )
        ).alias("b"),
    )
    si = ab.select(
        "vec_id",
        "label",
        F.when(
            F.greatest("a", "b") > 0,
            (F.col("b") - F.col("a")) / F.greatest("a", "b"),
        )
        .otherwise(F.lit(0.0))
        .alias("s"),
    )
    folded = si.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("vec_id").alias("k"), F.col("s").alias("v"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("_sum"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).cast("long").alias(
            "n_positive"
        ),
    )
    return folded.select(
        "label",
        "n_points",
        round_nz(F.col("_sum") / F.col("n_points").cast("double"), 6).alias(
            "mean_silhouette"
        ),
        "n_positive",
    ).orderBy("label")


# --- q429: grid-accelerated DBSCAN over the embedding projection -------

# Fixed-point scale for the 2-D projection (dims 1-2 of the embedding):
# coords land in roughly ±40k units, so squared distances stay far below
# int64. eps = 0.02 in embedding units; minPts = 4 core-neighbor bar
# (neighbors EXCLUDING the point itself). Probed at every SF: 22/16/5
# clusters with 209/201/204 noise points at sf0.001/0.01/0.1.
_DB_SCALE = 100_000.0
_DB_EPS = 2_000  # 0.02 * scale
_DB_MINPTS = 4

_Q429_ORACLE = f"""
    WITH RECURSIVE pts AS MATERIALIZED (
        SELECT vec_id,
               CAST(round(CAST(embedding[1] AS DOUBLE) * {_DB_SCALE}) AS BIGINT) AS xi,
               CAST(round(CAST(embedding[2] AS DOUBLE) * {_DB_SCALE}) AS BIGINT) AS yi
        FROM embeddings
    ),
    -- brute-force pair scan: the oracle deliberately skips the engine's
    -- grid so the differential PROVES the 3x3 cell join loses no pairs
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS u, b.vec_id AS v
        FROM pts a JOIN pts b
          ON a.vec_id < b.vec_id
         AND (a.xi - b.xi) * (a.xi - b.xi)
             + (a.yi - b.yi) * (a.yi - b.yi) <= {_DB_EPS * _DB_EPS}
    ),
    nb AS MATERIALIZED (
        SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    deg AS MATERIALIZED (
        SELECT p.vec_id, count(n.v) AS n_neighbors
        FROM pts p LEFT JOIN nb n ON n.u = p.vec_id
        GROUP BY p.vec_id
    ),
    core AS MATERIALIZED (
        SELECT vec_id FROM deg WHERE n_neighbors >= {_DB_MINPTS}
    ),
    ce AS MATERIALIZED (
        SELECT n.u, n.v FROM nb n
        JOIN core a ON a.vec_id = n.u
        JOIN core b ON b.vec_id = n.v
    ),
    reach AS (
        SELECT u AS node, u AS label FROM ce
        UNION
        SELECT e.v AS node, r.label FROM reach r JOIN ce e ON e.u = r.node
    ),
    lab AS MATERIALIZED (
        SELECT c.vec_id, coalesce(min(r.label), c.vec_id) AS cluster_id
        FROM core c LEFT JOIN reach r ON r.node = c.vec_id
        GROUP BY c.vec_id
    ),
    border AS MATERIALIZED (
        SELECT n.u AS vec_id, min(l.cluster_id) AS cluster_id
        FROM nb n
        JOIN lab l ON l.vec_id = n.v
        WHERE n.u NOT IN (SELECT vec_id FROM core)
        GROUP BY n.u
    )
    SELECT d.vec_id,
           CAST(d.n_neighbors AS BIGINT) AS n_neighbors,
           CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
                WHEN bl.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(coalesce(cl.cluster_id, bl.cluster_id) AS BIGINT)
               AS cluster_id
    FROM deg d
    LEFT JOIN lab cl ON cl.vec_id = d.vec_id
    LEFT JOIN border bl ON bl.vec_id = d.vec_id
    ORDER BY d.vec_id
"""


@query(
    "q429_grid_dbscan_clusters",
    oracle=_Q429_ORACLE,
    tags=("similarity", "clustering", "dbscan", "density", "embeddings"),
)
def q429_grid_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering over the 2-D embedding projection —
    the clustering family's DENSITY member beside centroid k-means
    (q243/q74) and its silhouette audit (q414): clusters are maximal
    sets of ε-reachable core points (≥ minPts neighbors within ε),
    points ε-near a core without the density bar are border, the rest
    is noise — no k chosen in advance, arbitrary cluster shapes, an
    explicit outlier class (the curation use: island-and-outlier maps
    of an embedding space that centroid methods force into k blobs).

    Engine dataflow is the GRID formulation: points bucket into
    ε-sized cells, candidate pairs come from ONE equi-join on the 3×3
    neighbor-cell keys (cell + 9 exploded offsets — the q211 spatial
    idiom), exact squared integer distance filters candidates, core
    flags come from one neighbor count, and core-core adjacency feeds
    :func:`~azure_batch_map_reduce_spark.functions.dedup.connected_components`
    (min-label propagation, localCheckpoint per round). The ORACLE
    deliberately computes neighbors by brute-force O(n²) pair scan —
    the differential therefore PROVES the grid join drops no pair
    (a cell-boundary bug would surface as a role/cluster mismatch).

    Border points adopt min(cluster of their core neighbors); cluster
    ids are the component's min vec_id — both deterministic. Isolated
    cores (degree ≥ minPts via border-only neighbors — possible when
    every neighbor is sub-bar) self-label.

    Determinism: fixed-point 1e5 integer coords (exact on both
    engines), integer squared distances, integer counts; no floats
    after the coordinate quantization, no libm.

    Scale posture: candidate generation is the banded-equi-join
    discipline (never all-pairs — the oracle's brute-force scan is the
    REFERENCE implementation, not the engine's); cell population is
    bounded by density (ε chosen so cells hold O(minPts) points), so
    the neighbor join is linear in points with a small constant. The
    label-propagation loop converges in ≤ diameter rounds (22 at
    sf0.1's percolated giant cluster — max_iter=60 with the fixpoint
    break). Round count is the scale risk, and BOTH documented
    remedies are implemented and A/B'd: star contraction (q434's
    ``star_contraction_components``, O(log²) rounds) measured 20.1 s
    vs 16.6 s here, and pointer-jumping
    (``connected_components(shortcut=True)``) cut rounds 22 → 12 but
    measured 18.8 vs 17.5 s — at fixture scale the per-round overhead
    dominates, so plain label propagation stays; at 100 TB (rounds
    amortize over real data volume) either remedy applies unchanged.)

    Cache lifecycle: the four persisted
    intermediates (pts/pairs/deg/lab) ALL feed the returned lazy plan
    — deg and lab directly, pts and pairs through the neighbor and
    border joins — so none can be unpersisted here without recomputing
    the candidate join when the caller materializes the result. The
    CALLER owns cleanup: materialize, then ``spark.catalog
    .clearCache()`` (bench.py does exactly this after every query; the
    differential harness runs one query per session). Reference
    contract: per-point cell assignment + neighbor count = map slot
    (``App.config:16``); component closure = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    from azure_batch_map_reduce_spark.functions.dedup import (
        connected_components,
    )
    from azure_batch_map_reduce_spark.streaming.windows import (
        stream_shuffle_partitions,
    )

    # Scale-adaptive query partitioning (r14 optimization round, guide
    # §2.2): the whole eager phase — candidate-pair join, degree
    # aggregate, CC init — shuffles frames bounded by the embeddings
    # input, so size its shuffles from the SOURCE bytes (the same
    # ceil(bytes/64 MB), 8×parallelism-clamped derivation the streaming
    # sizing uses) instead of the corpus-grain session constant.
    # Restored in the finally; the returned plan's tail joins read the
    # persisted/checkpointed intermediates, so nothing heavy executes
    # under the restored conf. A/B (interleaved, warm, sf0.1): honest
    # 11.2→9.2 s min / 12.4→10.6 mean, sink 0.87→0.47, identical rows.
    from azure_batch_map_reduce_spark.session import scoped_shuffle_partitions

    with scoped_shuffle_partitions(
        spark, stream_shuffle_partitions(spark, sf_dir, tables=("embeddings",))
    ):
        return _q429_build(spark, sf_dir, connected_components)


def _q429_build(spark, sf_dir, connected_components) -> DataFrame:
    """q429's dataflow, executed under the caller-scoped shuffle conf."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    pts = emb.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double") * _DB_SCALE)
        .cast("long")
        .alias("xi"),
        F.round(F.element_at("embedding", 2).cast("double") * _DB_SCALE)
        .cast("long")
        .alias("yi"),
    ).withColumns(
        {
            "cx": F.floor(F.col("xi") / F.lit(float(_DB_EPS))).cast("long"),
            "cy": F.floor(F.col("yi") / F.lit(float(_DB_EPS))).cast("long"),
        }
    ).persist()
    cells = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy)"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    offsets = F.expr(f"explode(array({cells}))")
    probe = pts.select(
        F.col("vec_id").alias("u"),
        F.col("xi").alias("ux"),
        F.col("yi").alias("uy"),
        "cx",
        "cy",
        offsets.alias("o"),
    ).select(
        "u",
        "ux",
        "uy",
        (F.col("cx") + F.col("o.dx")).alias("ncx"),
        (F.col("cy") + F.col("o.dy")).alias("ncy"),
    )
    d2 = (F.col("ux") - F.col("xi")) * (F.col("ux") - F.col("xi")) + (
        F.col("uy") - F.col("yi")
    ) * (F.col("uy") - F.col("yi"))
    pairs = (
        probe.join(
            pts.select("vec_id", "xi", "yi", "cx", "cy"),
            (F.col("ncx") == F.col("cx")) & (F.col("ncy") == F.col("cy")),
        )
        .where(F.col("u") < F.col("vec_id"))
        .where(d2 <= _DB_EPS * _DB_EPS)
        .select("u", F.col("vec_id").alias("v"))
        .persist()
    )
    nb = pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = (
        pts.select("vec_id")
        .join(nb, pts["vec_id"] == nb["u"], "left")
        .groupBy("vec_id")
        .agg(F.count(F.col("v")).alias("n_neighbors"))
        .persist()
    )
    core = deg.where(F.col("n_neighbors") >= _DB_MINPTS).select("vec_id")
    ce = (
        nb.join(core.select(F.col("vec_id").alias("u")), "u")
        .join(core.select(F.col("vec_id").alias("v")), "v")
        .select("u", "v")
    )
    labels = connected_components(ce, max_iter=60)
    lab = (
        core.join(labels, core["vec_id"] == labels["node"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("label"), F.col("vec_id")).alias("cluster_id"),
        )
        .persist()
    )
    border = (
        nb.join(
            lab.select(F.col("vec_id").alias("v"), "cluster_id"), "v"
        )
        .join(lab.select(F.col("vec_id").alias("u")), "u", "left_anti")
        .groupBy("u")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    out = (
        deg.join(
            lab.select("vec_id", F.col("cluster_id").alias("_core_cl")),
            "vec_id",
            "left",
        )
        .join(
            border.select(
                F.col("u").alias("vec_id"),
                F.col("cluster_id").alias("_border_cl"),
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
            F.when(F.col("_core_cl").isNotNull(), F.lit("core"))
            .when(F.col("_border_cl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("_core_cl"), F.col("_border_cl"))
            .cast("long")
            .alias("cluster_id"),
        )
        .orderBy("vec_id")
    )
    return out


# --- q432: greedy k-center coreset selection (Gonzalez traversal) ------

_KC_K = 8  # number of centers selected
_KC_SCALE = 100_000.0  # fixed-point per-coordinate scale


def _kcenter_oracle_sql() -> str:
    """Unrolled farthest-point traversal: c0 = min vec_id; each round
    materializes the running min squared distance d{j} and the argmax
    selection s{j+1} (ORDER BY d2 DESC, vec_id LIMIT 1 — the exact
    tie-break the engine uses). All integer arithmetic; every CTE
    MATERIALIZED (d{j} is referenced by both the argmax and the next
    update — the pagerank inlining rule)."""
    dist = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, 64), "
        "i -> (p.xv[i] - c.xv[i]) * (p.xv[i] - c.xv[i]))), (a, b) -> a + b)"
    )
    ctes = [
        f"""pts AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {_KC_SCALE})
                             AS BIGINT)) AS xv
        FROM embeddings
    )""",
        "c0 AS MATERIALIZED (SELECT vec_id, xv FROM pts ORDER BY vec_id LIMIT 1)",
        f"""d0 AS MATERIALIZED (
        SELECT p.vec_id, {dist} AS d2 FROM pts p CROSS JOIN c0 c
    )""",
    ]
    for j in range(1, _KC_K):
        ctes.append(f"""s{j} AS MATERIALIZED (
        SELECT p.vec_id, p.xv, d.d2
        FROM d{j - 1} d JOIN pts p USING (vec_id)
        ORDER BY d.d2 DESC, p.vec_id LIMIT 1
    )""")
        ctes.append(f"""d{j} AS MATERIALIZED (
        SELECT p.vec_id, least(d.d2, {dist}) AS d2
        FROM pts p
        JOIN d{j - 1} d USING (vec_id)
        CROSS JOIN s{j} c
    )""")
    selects = ["SELECT 0 AS iter, vec_id AS center_id, CAST(NULL AS BIGINT) AS radius2 FROM c0"]
    selects += [
        f"SELECT {j}, vec_id, d2 FROM s{j}" for j in range(1, _KC_K)
    ]
    selects.append(
        f"SELECT {_KC_K}, CAST(-1 AS BIGINT), max(d2) FROM d{_KC_K - 1}"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT iter, center_id, radius2 FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY iter"
    )


@query(
    "q432_kcenter_coreset_selection",
    oracle=_kcenter_oracle_sql(),
    tags=("similarity", "coreset", "selection", "k-center", "embeddings"),
)
def q432_kcenter_coreset_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez farthest-point
    traversal) over the embedding table — the GEOMETRIC-coverage
    member of the data-selection family: q307 maximizes set coverage
    of vocabulary features, q299 picks by model uncertainty, q363 by
    value-per-token, q356 by importance ratios; k-center instead picks
    the subset that MINIMIZES the worst-case distance from any corpus
    point to its nearest selected point (the 2-approximation coreset
    used for data pruning and landmark selection in embedding spaces).
    Selection order is the value: each next center is the point
    currently FARTHEST from the selected set, so the emitted radius
    sequence is non-increasing and the final row releases the
    coverage radius of the whole corpus under the 8 chosen landmarks.

    Determinism: coordinates quantize to fixed-point 1e5 integers
    (exact on both engines, the q397 rule — float32 dot products
    diverge); squared distances are exact int64 sums (≤ 64·(8e4)² ≈
    4e11); the argmax tie-breaks on min vec_id over exact integers.
    No floats anywhere in the released values.

    Scale posture: each of the 8 rounds is ONE map over the points
    (running-min update against a 1-row broadcast center) plus one
    TakeOrdered(1) — no corpus shuffle, state is a single 64-int
    vector per round; ``localCheckpoint`` per round truncates the
    8-deep lineage. At 100 TB rounds stay corpus-linear and the
    selected-set broadcast stays K rows — the same dataflow; K grows
    only the broadcast. Reference contract: per-point distance update
    = map slot (``App.config:16``); the argmax gather = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    pts = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _KC_SCALE).cast("long"),
        ).alias("xv"),
    ).persist()
    c0 = pts.orderBy("vec_id").limit(1)
    d2_to = F.aggregate(
        F.zip_with(
            F.col("xv"),
            F.col("cv"),
            lambda x, c: (x - c) * (x - c),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    state = (
        pts.crossJoin(
            F.broadcast(c0.select(F.col("xv").alias("cv")))
        )
        .select("vec_id", "xv", d2_to.alias("d2"))
        .localCheckpoint(eager=True)
    )
    rows = [
        c0.select(
            F.lit(0).alias("iter"),
            F.col("vec_id").alias("center_id"),
            F.lit(None).cast("long").alias("radius2"),
        )
    ]
    for j in range(1, _KC_K):
        sel = (
            state.orderBy(F.col("d2").desc(), F.col("vec_id"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        rows.append(
            sel.select(
                F.lit(j).alias("iter"),
                F.col("vec_id").alias("center_id"),
                F.col("d2").alias("radius2"),
            )
        )
        state = (
            state.crossJoin(
                F.broadcast(sel.select(F.col("xv").alias("cv")))
            )
            .select(
                "vec_id",
                "xv",
                F.least(F.col("d2"), d2_to).alias("d2"),
            )
            .localCheckpoint(eager=True)
        )
    rows.append(
        state.agg(F.max("d2").alias("radius2")).select(
            F.lit(_KC_K).alias("iter"),
            F.lit(-1).cast("long").alias("center_id"),
            "radius2",
        )
    )
    pts.unpersist()
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("iter")


# --- q453: multi-probe LSH recall audit ------------------------------------

_Q453_SWEEP = (1, 3, 5, 7)  # probe budgets: home bucket .. all Hamming-1
_Q453_COS = (
    "round(list_dot_product({a}, {b})"
    " / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b})), 6)"
)


def _q453_sig_sql(e: str) -> str:
    return "concat(" + ", ".join(
        f"CASE WHEN {e}[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, 7)
    ) + ")"


@query(
    "q453_multiprobe_lsh_recall_audit",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    sigs AS (SELECT vec_id, e, {_q453_sig_sql("e")} AS sig FROM n),
    qv AS (SELECT vec_id AS query_id, e AS qe, sig AS qsig
           FROM sigs WHERE vec_id < 5),
    corpus AS (SELECT vec_id, e, sig FROM sigs WHERE vec_id >= 5),
    flips AS (
        SELECT query_id, i,
               concat(substr(qsig, 1, CAST(i - 1 AS INTEGER)),
                      CASE WHEN substr(qsig, CAST(i AS INTEGER), 1) = '1'
                           THEN '0' ELSE '1' END,
                      substr(qsig, CAST(i + 1 AS INTEGER),
                             CAST(6 - i AS INTEGER))) AS psig,
               abs(qe[CAST(i AS INTEGER)]) AS m
        FROM qv, generate_series(1, 6) AS t(i)
    ),
    ranked AS (
        SELECT query_id, psig,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY m ASC, i ASC) + 1 AS rk
        FROM flips
    ),
    probes0 AS (
        SELECT query_id, qsig AS psig, 1 AS rk FROM qv
        UNION ALL
        SELECT query_id, psig, rk FROM ranked
    ),
    probes AS (
        SELECT query_id, psig,
               unnest(list_filter([{", ".join(map(str, _Q453_SWEEP))}],
                                  p -> p >= rk)) AS n_probe
        FROM probes0
    ),
    scored AS (
        SELECT q.query_id, v.vec_id, v.sig,
               {_Q453_COS.format(a="v.e", b="q.qe")} AS cosine
        FROM corpus v CROSS JOIN qv q
    ),
    gt AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    ),
    cand AS (
        SELECT p.query_id, p.n_probe, s.vec_id, s.cosine
        FROM probes p
        JOIN scored s ON s.query_id = p.query_id AND s.sig = p.psig
    ),
    topk AS (
        SELECT query_id, n_probe, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id, n_probe
                ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM cand
        ) WHERE rn <= 10
    ),
    sizes AS (
        SELECT query_id, n_probe, count(*) AS n_candidates
        FROM cand GROUP BY query_id, n_probe
    )
    SELECT z.query_id, CAST(z.n_probe AS INTEGER) AS n_probe,
           CAST(z.n_candidates AS BIGINT) AS n_candidates,
           CAST(count(g.vec_id) AS BIGINT) AS n_hits,
           round(count(g.vec_id) / 10.0, 4) AS recall_at_10
    FROM sizes z
    JOIN topk k ON k.query_id = z.query_id AND k.n_probe = z.n_probe
    LEFT JOIN gt g ON g.query_id = k.query_id AND g.vec_id = k.vec_id
    GROUP BY z.query_id, z.n_probe, z.n_candidates
    ORDER BY z.query_id, z.n_probe
    """,
    tags=("similarity", "ann", "lsh", "multi-probe", "evaluation", "recall"),
)
def q453_multiprobe_lsh_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 audit of the MULTI-PROBE LSH path (q280's design)
    against brute-force ground truth, swept over the probe budget
    n_probe ∈ {_Q453_SWEEP} — the second half of the ANN evaluation
    matrix (q270 audits the IVF path; q280's multi-probe trade-off
    was previously released without its recall curve). Probe ORDER
    is query-aware, per Lv et al.: after the
    home bucket, Hamming-1 flips probe in ascending |q[i]| — the
    hyperplane the query sits closest to is the one a near neighbor
    most likely crossed. Emits per (query, n_probe): candidate count
    (the cost proxy) and recall@10, putting the recall/probe
    trade-off itself on the verified path.

    Determinism: the signature is exact sign arithmetic; probe
    ranking orders raw |coordinate| doubles (comparisons only, no
    summation — bit-identical cross-engine) with the dim index
    tie-break; cosine rounds at 6 with the vec_id tie-break
    (q70/q270 discipline); recall is an exact integer count over a
    10-row intersection divided once (one IEEE division,
    bit-identical).

    Scale posture: the probe table is ≤ 7 rows per query × the sweep
    explode (a bucket probed at rank r serves every budget ≥ r — no
    re-scoring per sweep point, q270's trick); probes and queries
    BROADCAST to the corpus scan, so candidate generation is
    map-side with NO corpus shuffle (q280's plan shape preserved);
    both top-10s are bounded per-group windows. The brute-force
    ground truth is the audit's deliberate cost — at 100 TB it runs
    on a query sample against a corpus slice, and the dataflow is
    sampling-invariant. Reference contract: per-vector signature +
    scoring = map slot (``App.config:16``); recall consolidation =
    reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    base = _sign_buckets(spark, sf_dir)
    qv = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("sig").alias("qsig"),
    )
    corpus = base.where(F.col("vec_id") >= 5)

    flips = qv.select(
        "query_id",
        "qsig",
        "qe",
        F.explode(F.sequence(F.lit(1), F.lit(6))).alias("i"),
    ).select(
        "query_id",
        F.expr(
            "concat(substring(qsig, 1, i - 1),"
            " CASE WHEN substring(qsig, i, 1) = '1' THEN '0' ELSE '1' END,"
            " substring(qsig, i + 1, 6 - i))"
        ).alias("psig"),
        F.abs(F.element_at("qe", F.col("i"))).alias("m"),
        "i",
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("m"), F.asc("i")
    )
    ranked = flips.withColumn(
        "rk", F.row_number().over(w_rank) + 1
    ).select("query_id", "psig", "rk")
    probes = (
        qv.select(
            "query_id", F.col("qsig").alias("psig"), F.lit(1).alias("rk")
        )
        .unionByName(ranked)
        .select(
            "query_id",
            "psig",
            F.explode(
                F.expr(
                    f"filter(array({', '.join(map(str, _Q453_SWEEP))}),"
                    " p -> p >= rk)"
                )
            ).alias("n_probe"),
        )
    )
    scored = corpus.crossJoin(
        F.broadcast(qv.select("query_id", "qe"))
    ).select(
        "query_id",
        "vec_id",
        "sig",
        F.round(_cosine(F.col("e"), F.col("qe")), 6).alias("cosine"),
    )
    w_gt = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    gt = (
        scored.withColumn("rn", F.row_number().over(w_gt))
        .where(F.col("rn") <= 10)
        .select(
            F.col("query_id").alias("gt_query"),
            F.col("vec_id").alias("gt_vec"),
        )
    )
    # Fresh aliases on the probe side: scored and probes both carry
    # query_id, and a same-attribute join condition silently collapses
    # to trivially-true (the q270 trap — Spark warns, then mis-joins).
    cand = scored.join(
        F.broadcast(
            probes.select(
                F.col("query_id").alias("p_query"),
                "psig",
                "n_probe",
            )
        ),
        (F.col("query_id") == F.col("p_query"))
        & (F.col("sig") == F.col("psig")),
    ).drop("p_query", "psig")
    w_topk = Window.partitionBy("query_id", "n_probe").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    topk = (
        cand.withColumn("rn", F.row_number().over(w_topk))
        .where(F.col("rn") <= 10)
        .select("query_id", "n_probe", "vec_id")
    )
    sizes = cand.groupBy("query_id", "n_probe").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        topk.join(
            F.broadcast(gt),
            (F.col("query_id") == F.col("gt_query"))
            & (F.col("vec_id") == F.col("gt_vec")),
            "left",
        )
        .drop("gt_query")
        .groupBy("query_id", "n_probe")
        .agg(F.count("gt_vec").alias("n_hits"))
        .join(F.broadcast(sizes), ["query_id", "n_probe"])
        .select(
            "query_id",
            F.col("n_probe").cast("int").alias("n_probe"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / 10.0, 4).alias("recall_at_10"),
        )
        .orderBy("query_id", "n_probe")
    )
