"""Training-corpus curation operators: PII scrubbing, repetition-based
quality signals, train/test contamination detection, deterministic
centroid clustering, and shard planning for training-data export.

These fill the user-pluggable map/reduce slots of the reference
(``src/AzureBatch/BatchProcessor/App.config:16-17``;
``Program.cs:332-349`` map fan-out, ``Program.cs:351-384`` global
consolidation) with the transformations a large-scale LLM-data pipeline
actually plugs in. Everything is JVM-side builtin expressions — no
Python UDFs — so the hot path stays inside whole-stage codegen.

100 TB posture, per operator:

- PII scrub is a stateless map (no shuffle): it scales linearly and
  pushes straight down onto the scan.
- Repetition signals are per-document array math (map-only) followed by
  one partial+final aggregation on ``source`` — low-cardinality keys,
  map-side combine does almost all the work.
- Contamination explodes word 5-grams and equi-joins test-grams against
  train-grams. At scale you hash each gram to 64 bits first (xxhash64)
  so the shuffle carries 8-byte keys instead of strings, and the
  train side is pre-aggregated to distinct grams before the join.
- Centroid assignment broadcasts the k centroids (tiny) — the corpus
  never shuffles; it's one map plus a groupBy on k keys.
- Shard planning is a pure hash-mod map; the physical export is
  ``df.repartition("shard").write.partitionBy("shard")`` which lines
  the shuffle up with the output layout (one file set per shard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.functions.similarity import _as_double, _cosine
from azure_batch_map_reduce_spark.operators.ranks import (
    bounded_order,
    distributed_row_number,
    distributed_running_sum,
    half_up_ratio,
    half_up_ratio_signed,
    hex_int,
    ntile_from_rank,
    rank_small,
    round_nz,
)
from azure_batch_map_reduce_spark.registry import query
from azure_batch_map_reduce_spark.session import session_store

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "q54_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT source,
               'contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example node 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' ' || text AS raw
        FROM documents
    ),
    scrubbed AS (
        SELECT source, raw,
               regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{IPV4_RE}', '<IP>', 'g') AS clean
        FROM seeded
    )
    SELECT source,
           count(*)                                                    AS n_docs,
           CAST(sum(length(regexp_extract_all(raw, '{EMAIL_RE}'))) AS BIGINT) AS emails_found,
           CAST(sum(length(regexp_extract_all(raw, '{IPV4_RE}'))) AS BIGINT)  AS ips_found,
           CAST(sum(length(raw) - length(clean)) AS BIGINT)            AS chars_removed,
           bool_and(NOT regexp_matches(clean, '{EMAIL_RE}')
                    AND NOT regexp_matches(clean, '{IPV4_RE}'))        AS all_clean
    FROM scrubbed
    GROUP BY source
    """,
    tags=("curation", "pii", "text"),
)
def q54_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, IPv4 addresses) with a self-verifying
    residue check. The fixture word soup carries no PII, so the query
    first *seeds* each document with a deterministic synthetic email and
    IP derived from ``doc_id`` (the oracle performs the identical
    construction), then scrubs with ``regexp_replace`` and proves via
    ``bool_and(no match remains)`` that redaction is complete. Patterns
    are kept in the RE2 ∩ Java-regex common subset so both engines
    compile them identically. Map-only: no shuffle until the final
    per-source rollup."""
    docs = load_tables(spark, sf_dir)["documents"]
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example node 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    seeded = docs.select("source", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    scrubbed = seeded.withColumn("clean", clean)
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("raw", F.lit(EMAIL_RE), 0))).alias(
            "emails_found"
        ),
        F.sum(F.size(F.regexp_extract_all("raw", F.lit(IPV4_RE), 0))).alias(
            "ips_found"
        ),
        F.sum(F.length("raw") - F.length("clean")).alias("chars_removed"),
        F.bool_and(
            ~F.col("clean").rlike(EMAIL_RE) & ~F.col("clean").rlike(IPV4_RE)
        ).alias("all_clean"),
    )


def _bigrams(words: Column) -> Column:
    """Adjacent word pairs; empty (not reversed-sequence) when <2 words."""
    pair = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(words, i), F.element_at(words, i + 1)
    )
    return F.when(
        F.size(words) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(words) - 1), pair),
    ).otherwise(F.array().cast("array<string>"))


@query(
    "q57_repetition_signals",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               string_split(text, ' ') AS w,
               list_transform(range(1, greatest(len(string_split(text, ' ')), 2)),
                              i -> string_split(text, ' ')[i] || ' '
                                   || string_split(text, ' ')[i + 1]) AS bg
        FROM documents
    ),
    sig AS (
        SELECT source,
               1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)    AS dup_word_frac,
               CASE WHEN len(bg) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
               END                                                     AS dup_bigram_frac
        FROM per_doc
    )
    SELECT source,
           count(*)                           AS n_docs,
           round(avg(dup_word_frac), 6)       AS avg_dup_word_frac,
           round(avg(dup_bigram_frac), 6)     AS avg_dup_bigram_frac,
           CAST(sum(CASE WHEN dup_word_frac > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                                              AS n_flagged
    FROM sig
    GROUP BY source
    """,
    tags=("curation", "quality", "text"),
)
def q57_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per-document duplicate-
    word fraction and duplicate-bigram fraction (1 − distinct/total),
    rolled up per source with a flagged-document count (dup-word frac
    > 0.5 → likely boilerplate/spam). All array math — ``array_distinct``
    over the split words and a ``transform``-built adjacent-bigram list —
    runs JVM-side per row; the only shuffle is the tiny per-source
    rollup, which map-side combine reduces to one row per source per
    task."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = F.split(F.col("text"), " ")
    per_doc = docs.select(
        "source", w.alias("w"), _bigrams(F.col("w")).alias("bg")
    )
    dup_word = 1.0 - F.size(F.array_distinct("w")).cast("double") / F.size("w")
    dup_bg = F.when(F.size("bg") == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct("bg")).cast("double") / F.size("bg")
    )
    sig = per_doc.select(
        "source", dup_word.alias("dup_word_frac"), dup_bg.alias("dup_bigram_frac")
    )
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dup_word_frac"), 6).alias("avg_dup_word_frac"),
        F.round(F.avg("dup_bigram_frac"), 6).alias("avg_dup_bigram_frac"),
        F.sum((F.col("dup_word_frac") > 0.5).cast("bigint")).alias("n_flagged"),
    )


@query(
    "q69_contamination_check",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                   AS bucket
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, bucket,
               unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
                      i -> list_aggregate(w[i:i+4], 'string_agg', ' '))) AS gram
        FROM assigned
    ),
    train_grams AS (
        SELECT DISTINCT gram FROM grams WHERE bucket < 80
    ),
    test_grams AS (
        SELECT DISTINCT doc_id, lang, gram FROM grams WHERE bucket >= 90
    ),
    hits AS (
        SELECT t.doc_id, t.lang, t.gram
        FROM test_grams t JOIN train_grams tr USING (gram)
    ),
    test_docs AS (
        SELECT lang, count(DISTINCT doc_id) AS n_test_docs
        FROM assigned WHERE bucket >= 90 GROUP BY lang
    )
    SELECT d.lang,
           d.n_test_docs,
           CAST(coalesce(count(DISTINCT h.doc_id), 0) AS BIGINT) AS n_contaminated,
           CAST(coalesce(count(DISTINCT h.gram), 0) AS BIGINT)   AS n_shared_grams
    FROM test_docs d LEFT JOIN hits h USING (lang)
    GROUP BY d.lang, d.n_test_docs
    """,
    tags=("curation", "contamination", "dedup"),
)
def q69_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination detection: a test-split document is
    contaminated when it shares any word 5-gram with any train-split
    document (the deterministic md5 split of q55 defines membership, so
    the check is replayable). Reports per language: test-doc count,
    contaminated-doc count, and distinct shared grams. The train side
    collapses to DISTINCT grams before the join — at 100 TB you
    additionally hash grams to 64-bit (``xxhash64``) so the shuffle key
    is 8 bytes, and broadcast the (much smaller) test-gram side
    instead."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = F.split(F.col("text"), " ")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")), 1, 8) % 100
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.element_at(F.col("w"), i),
        F.element_at(F.col("w"), i + 1),
        F.element_at(F.col("w"), i + 2),
        F.element_at(F.col("w"), i + 3),
        F.element_at(F.col("w"), i + 4),
    )
    assigned = docs.select(
        "doc_id", "lang", w.alias("w"), bucket.alias("bucket")
    ).withColumn(
        "grams",
        F.when(
            F.size("w") >= 5,
            F.transform(F.sequence(F.lit(1), F.size("w") - 4), gram),
        ).otherwise(F.array().cast("array<string>")),
    )
    grams = assigned.select(
        "doc_id", "lang", "bucket", F.explode("grams").alias("gram")
    )
    train_grams = grams.filter(F.col("bucket") < 80).select("gram").distinct()
    test_grams = (
        grams.filter(F.col("bucket") >= 90)
        .select("doc_id", "lang", "gram")
        .distinct()
    )
    hits = test_grams.join(train_grams, "gram")
    test_docs = (
        assigned.filter(F.col("bucket") >= 90)
        .groupBy("lang")
        .agg(F.count_distinct("doc_id").alias("n_test_docs"))
    )
    per_lang = hits.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("hit_docs"),
        F.count_distinct("gram").alias("hit_grams"),
    )
    return test_docs.join(per_lang, "lang", "left").select(
        "lang",
        "n_test_docs",
        F.coalesce("hit_docs", F.lit(0)).alias("n_contaminated"),
        F.coalesce("hit_grams", F.lit(0)).alias("n_shared_grams"),
    )


@query(
    "q74_centroid_assign",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    scored AS (
        SELECT e.vec_id, c.cid,
               round(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c.ce)
                     / sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                             list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
                            * list_dot_product(c.ce, c.ce)), 6) AS cosine
        FROM embeddings e CROSS JOIN c
    ),
    best AS (
        SELECT vec_id, cid, cosine,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, cid ASC) AS rn
        FROM scored
    )
    SELECT cid                         AS centroid_id,
           count(*)                    AS n_members,
           round(avg(cosine), 6)       AS avg_cosine,
           round(min(cosine), 6)       AS min_cosine
    FROM best WHERE rn = 1
    GROUP BY cid
    """,
    tags=("curation", "clustering", "similarity"),
)
def q74_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic centroid assignment (one Lloyd iteration of
    k-means, k=8): centroids are the eight lowest ``vec_id`` vectors,
    every vector is assigned to its highest-cosine centroid (ties break
    to the lowest centroid id), and the result reports cluster sizes and
    cohesion. Used for corpus curation — per-cluster sampling caps and
    diversity-balanced mixes. The centroid table is 8 rows and is
    broadcast; the corpus side is map-only + a k-key aggregation, so the
    plan has no large shuffle and scales linearly. Full iterative
    k-means is this step in a loop with re-averaged centroids
    (spark.ml KMeans does exactly that at scale)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cent = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("cid"), _as_double(F.col("embedding")).alias("ce")
        )
    )
    scored = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            F.round(_cosine(F.col("e"), F.col("ce")), 6).alias("cosine"),
        )
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy(
                F.col("cosine").desc(), F.col("cid").asc()
            )
        ),
    ).filter(F.col("rn") == 1)
    return best.groupBy(F.col("cid").alias("centroid_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("cosine"), 6).alias("avg_cosine"),
        F.round(F.min("cosine"), 6).alias("min_cosine"),
    )


@query(
    "q75_shard_plan",
    oracle="""
    SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 16
               AS shard,
           count(*) AS n_docs,
           CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1
    """,
    tags=("curation", "export", "sharding"),
)
def q75_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard plan for training-data export: 16 shards
    keyed on a second md5 window (bytes 9–16, independent of the
    split bucket in q55 which uses bytes 1–8), with per-shard document,
    whitespace-token, and character totals — the manifest a trainer
    reads to plan data loading. The physical export is
    ``df.repartition("shard").write.partitionBy("shard").parquet(...)``,
    which aligns the shuffle with the directory layout so each shard is
    one contiguous file set; shard counts stay balanced because the key
    is a hash, not a natural attribute."""
    docs = load_tables(spark, sf_dir)["documents"]
    shard = hex_int(F.md5(F.col("doc_id").cast("string")), 9, 8) % 16
    return docs.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )


@query(
    "q76_embedding_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, label, e,
               list_aggregate(e, 'min') AS mn,
               (list_aggregate(e, 'max') - list_aggregate(e, 'min')) / 255.0 AS sc
        FROM v
    ),
    err AS (
        SELECT vec_id, label,
               CASE WHEN sc = 0 THEN 0.0
                    ELSE list_aggregate(
                        list_transform(e,
                            x -> abs((round((x - mn) / sc) * sc + mn) - x)),
                        'max')
               END AS max_abs_err
        FROM scaled
    )
    SELECT label,
           count(*)                     AS n_vecs,
           round(avg(max_abs_err), 6)   AS avg_max_err,
           round(max(max_abs_err), 6)   AS worst_err
    FROM err
    GROUP BY label
    """,
    tags=("curation", "quantization", "similarity"),
)
def q76_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embedding vectors with a
    reconstruction-error audit: per vector, min/max-range-scale each
    dimension to 256 levels, dequantize, and report the worst absolute
    error per label. This is the 4× memory compression that makes
    100 TB-scale ANN feasible (quantized vectors fit executor memory /
    off-heap caches; the full-precision column stays on disk for
    re-ranking). All arithmetic is higher-order array functions in
    codegen — identical IEEE double ops to the oracle, so the check is
    exact after 6-digit rounding. Map-only + k-label rollup: no large
    shuffle."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    e = _as_double(F.col("embedding"))
    v = emb.select("vec_id", "label", e.alias("e"))
    scaled = v.select(
        "vec_id",
        "label",
        "e",
        F.array_min("e").alias("mn"),
        ((F.array_max("e") - F.array_min("e")) / 255.0).alias("sc"),
    )
    recon_err = F.transform(
        F.col("e"),
        lambda x: F.abs(
            (F.round((x - F.col("mn")) / F.col("sc")) * F.col("sc") + F.col("mn")) - x
        ),
    )
    err = scaled.select(
        "vec_id",
        "label",
        F.when(F.col("sc") == 0, F.lit(0.0))
        .otherwise(F.array_max(recon_err))
        .alias("max_abs_err"),
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("max_abs_err"), 6).alias("avg_max_err"),
        F.round(F.max("max_abs_err"), 6).alias("worst_err"),
    )


@query(
    "q77_mix_plan",
    oracle="""
    WITH per_lang AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS DOUBLE) / count(*) AS target_docs FROM per_lang
    )
    SELECT lang, n_docs, n_tokens,
           round(least(1.0, t.target_docs / n_docs), 6) AS sample_rate,
           CAST(round(least(1.0, t.target_docs / n_docs) * n_docs) AS BIGINT)
               AS planned_docs,
           CAST(round(least(1.0, t.target_docs / n_docs) * n_tokens) AS BIGINT)
               AS planned_tokens
    FROM per_lang CROSS JOIN tot t
    """,
    tags=("curation", "sampling", "mix"),
)
def q77_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix planner: compute the per-language sampling rate that
    rebalances the corpus toward a uniform language mix (rate =
    min(1, target/n) with target = total/|langs|), plus the planned
    document and token budgets — the \"data recipe\" step that precedes
    ``sampleBy`` (q56) in training-set construction. The per-language
    totals are one partial+final aggregation; the global target is a
    1-row broadcast joined back, so the plan is two tiny shuffles
    regardless of corpus size."""
    docs = load_tables(spark, sf_dir)["documents"]
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    tot = per_lang.agg(
        (F.sum("n_docs").cast("double") / F.count(F.lit(1))).alias("target_docs")
    )
    rate = F.round(F.least(F.lit(1.0), F.col("target_docs") / F.col("n_docs")), 6)
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        rate.alias("sample_rate"),
        F.round(
            F.least(F.lit(1.0), F.col("target_docs") / F.col("n_docs"))
            * F.col("n_docs")
        )
        .cast("bigint")
        .alias("planned_docs"),
        F.round(
            F.least(F.lit(1.0), F.col("target_docs") / F.col("n_docs"))
            * F.col("n_tokens")
        )
        .cast("bigint")
        .alias("planned_tokens"),
    )


@query(
    "q102_reservoir_per_group",
    oracle="""
    WITH keyed AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars, rn
    FROM keyed WHERE rn <= 5
    """,
    tags=("curation", "sampling", "reservoir"),
)
def q102_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir: exactly 5 documents per
    language, selected by ranking on an id hash — the eval-set selection
    primitive. Unlike ``sampleBy`` (fraction-based, q56) this yields an
    EXACT count per stratum, and unlike a true random reservoir it is
    reproducible: the same ids win under any partitioning, row order, or
    corpus growth that doesn't add smaller hashes. The window
    partitions by group, so at scale each stratum ranks independently
    across executors; for extreme per-group cardinality you'd pre-filter
    with an approximate hash-threshold first (rank only the candidates
    below it) to keep the sort input tiny."""
    docs = load_tables(spark, sf_dir)["documents"]
    win = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.row_number().over(win).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "q112_priority_sample",
    oracle="""
    SELECT doc_id, n_chars,
           ((2 * ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8))::BIGINT
                 * 1000000 + n_chars) // (2 * n_chars)) / 1000000.0
               AS priority
    FROM documents
    WHERE n_chars > 0
    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8))::BIGINT
                  AS DOUBLE) / n_chars ASC,
             doc_id ASC
    LIMIT 20
    """,
    tags=("curation", "sampling", "weighted"),
)
def q112_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling by priority (Duffield–Lund–Thorup): each
    document gets priority u/w — u a deterministic uniform from an md5
    window over doc_id (bytes 17–24, independent of the q55 split and
    q75 shard windows), w its length — and the k smallest priorities
    form a size-k sample with inclusion probability ∝ weight. Unlike
    pow/log-based A-Res keys, u/w is ONE IEEE division, bit-identical
    across engines, so the sample is reproducible anywhere.

    Scale posture: priority is map-side hash math; the top-k is
    TakeOrdered (per-partition heaps, no global sort). Rerunning on a
    grown corpus keeps every previously-sampled doc whose priority
    still clears the new threshold — the consistent-sampling property
    that makes incremental re-sampling cheap.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    u = hex_int(F.md5(F.col("doc_id").cast("string")), 17, 8)
    prio = u / F.col("n_chars")
    return (
        docs.where(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", prio.alias("prio"))
        .orderBy(F.asc("prio"), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            "n_chars",
            half_up_ratio(u, F.col("n_chars"), 6).alias("priority"),
        )
    )


@query(
    "q119_winsorize",
    oracle="""
    WITH b AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.01) AS lo,
               quantile_cont(o_totalprice, 0.99) AS hi
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(sum(CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           round(sum(least(greatest(o.o_totalprice, b.lo), b.hi)), 2) AS clipped_total,
           round(sum(o.o_totalprice), 2) AS raw_total
    FROM orders o JOIN b ON b.o_orderpriority = o.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
    tags=("curation", "outliers", "winsorize"),
)
def q119_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorization (clip at p1/p99) — the outlier-capping
    pass of a feature/label pipeline, reported as clip counts + the
    before/after totals so the oracle pins both the bounds and the
    clipping arithmetic. Exact interpolated percentiles on both engines
    (Spark `percentile` ≡ DuckDB `quantile_cont`).

    Scale posture: two passes — a per-segment percentile aggregate
    (segment-count rows, broadcast back onto the fact scan) and one
    map-side clip+rollup. Exact percentiles sort within each segment;
    at extreme cardinality swap in percentile_approx and the same plan
    shape holds with bounded error.
    """
    o = load_tables(spark, sf_dir)["orders"]
    b = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.01).alias("lo"),
        F.percentile("o_totalprice", 0.99).alias("hi"),
    )
    x = F.col("o_totalprice")
    return (
        o.join(F.broadcast(b), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((x < F.col("lo")).cast("long")).alias("n_clip_lo"),
            F.sum((x > F.col("hi")).cast("long")).alias("n_clip_hi"),
            F.round(F.sum(F.least(F.greatest(x, F.col("lo")), F.col("hi"))), 2).alias(
                "clipped_total"
            ),
            F.round(F.sum(x), 2).alias("raw_total"),
        )
    )


_PACK_BUDGET = 2048


@query(
    "q123_sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 16 AS shard,
               length(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT shard, doc_id, n_tok,
               CAST(floor((sum(n_tok) OVER (
                   PARTITION BY shard
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / {_PACK_BUDGET}) AS BIGINT) AS seq_id
        FROM toks
    )
    SELECT shard, seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM packed
    GROUP BY shard, seq_id
    """,
    tags=("curation", "packing", "training"),
)
def q123_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-data assembly — concat-and-split:
    within each of 16 hash shards, documents are laid out in a
    deterministic (hash, id) order, token counts cumulated, and each
    document assigned to sequence floor(preceding_tokens / 2048) — the
    standard way pretraining pipelines pack variable-length documents
    into fixed token budgets without a sequential bin-packer. Emits
    per-sequence document and token counts (fill audit).

    Scale posture: packing is per-shard, so the window never sees more
    than corpus/16 — shards scale out with the cluster and the shard
    count is the parallelism dial. The layout order is an md5 window
    (byte window 25-32, independent of the q55 split / q75 shard / q112
    sample windows), so packing is reproducible under any partitioning.
    (Unlike q112's consistent sampling, packing is NOT stable under
    corpus growth — an inserted document shifts every later cumsum in
    its shard; repacking a release is a full per-shard rebuild by
    design, which is how production packers behave too.) One shuffle
    (by shard), one window pass, one rollup.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    h = F.md5(F.col("doc_id").cast("string"))
    toks = docs.select(
        "doc_id",
        (hex_int(h, 25, 8) % 16).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = toks.select(
        "shard",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_BUDGET).alias(
            "seq_id"
        ),
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


@query(
    "q129_curation_funnel",
    oracle="""
    WITH flagged AS (
        SELECT lang,
               row_number() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id ASC
               ) = 1 AS is_canonical,
               length(string_split(text, ' ')) >= 30 AS quality_ok,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                   AS is_train
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_dedup,
           CAST(sum(CASE WHEN is_canonical AND quality_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_quality,
           CAST(sum(CASE WHEN is_canonical AND quality_ok AND is_train
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN is_canonical AND quality_ok AND NOT is_train
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_test
    FROM flagged
    GROUP BY lang
    """,
    tags=("curation", "pipeline", "funnel", "dedup"),
)
def q129_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline as ONE composed dataflow — exact dedup
    (canonical = lowest doc_id per content hash, q60's rule), quality
    gate (≥30 whitespace tokens, q51's signal family), and the q55
    deterministic train/test split — reported as a per-language funnel:
    raw → deduped → quality-passed → train/test. This is the
    sanity-dashboard a data-curation run publishes, and it proves the
    operators compose in one pass rather than as N materialized stages.

    Scale posture: one shuffle on the content hash (the dedup window),
    then every later stage is a flag — conditional aggregation instead
    of chained filters means the funnel counts all levels in a single
    rollup with no re-scan per stage.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    flagged = docs.select(
        "lang",
        (F.row_number().over(w) == 1).alias("is_canonical"),
        (F.size(F.split(F.col("text"), " ")) >= 30).alias("quality_ok"),
        (
            hex_int(F.md5(F.col("doc_id").cast("string")), 1, 8) % 100 < 90
        ).alias("is_train"),
    )
    c, q_, tr = F.col("is_canonical"), F.col("quality_ok"), F.col("is_train")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(c.cast("long")).alias("n_after_dedup"),
        F.sum((c & q_).cast("long")).alias("n_after_quality"),
        F.sum((c & q_ & tr).cast("long")).alias("n_train"),
        F.sum((c & q_ & ~tr).cast("long")).alias("n_test"),
    )


@query(
    "q151_quantile_normalization",
    oracle="""
    WITH binned AS (
        SELECT source, n_chars,
               ntile(10) OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS qbin
        FROM documents
    ),
    per_src AS (
        SELECT source, qbin, count(*) AS n_docs,
               CAST(sum(n_chars) AS DOUBLE) / count(*) AS raw_mean
        FROM binned GROUP BY source, qbin
    ),
    ref AS (
        SELECT qbin, CAST(sum(raw_mean) AS DOUBLE) / count(*) AS norm_value
        FROM per_src GROUP BY qbin
    )
    SELECT p.source, CAST(p.qbin AS INTEGER) AS qbin,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           round(p.raw_mean, 6) AS raw_mean,
           round(r.norm_value, 6) AS norm_value,
           round(r.norm_value - p.raw_mean, 4) + 0.0 AS shift
    FROM per_src p JOIN ref r ON p.qbin = r.qbin
    ORDER BY p.source, qbin
    """,
    tags=("curation", "normalization", "quantile", "mixing"),
)
def q151_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the microarray/batch-effect
    idiom, applied to corpus mixing): each source's documents are ranked
    into 10 within-source quantile bins by length, and every bin is
    re-centered onto the cross-source reference — the mean over sources
    of that bin's per-source mean. A source whose lengths run long gets
    pulled down, a short-doc source gets pulled up, and after the map
    every source has the same length distribution at bin grain. Emits
    per (source, bin): size, raw mean, reference value, and the shift
    the normalization applies.

    Determinism: the ntile order is total (n_chars, doc_id); per-source
    bin means are exact-integer sums with one IEEE division; only the
    tiny bins×1 reference layer averages doubles (rounded well inside
    the comparator's tolerance).

    Scale posture: one window shuffle on source (the natural
    partitioning of a corpus), one partial+final agg to source×bin
    grain (~sources×10 rows), and the reference table broadcasts back —
    nothing after the window touches row grain.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    binned = docs.select(
        "source",
        "n_chars",
        F.ntile(10)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("qbin"),
    )
    per_src = binned.groupBy("source", "qbin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("raw_mean"),
    )
    ref = per_src.groupBy("qbin").agg(
        (F.sum("raw_mean") / F.count(F.lit(1))).alias("norm_value")
    )
    return (
        per_src.join(F.broadcast(ref), "qbin")
        .select(
            "source",
            F.col("qbin").cast("int").alias("qbin"),
            "n_docs",
            F.round("raw_mean", 6).alias("raw_mean"),
            F.round("norm_value", 6).alias("norm_value"),
            round_nz(F.col("norm_value") - F.col("raw_mean"), 4).alias("shift"),
        )
        .orderBy("source", "qbin")
    )


@query(
    "q170_correlated_sample_join",
    oracle="""
    WITH keep AS (
        SELECT o_orderkey AS k
        FROM orders
        WHERE ('0x' || substr(md5('cs|' || CAST(o_orderkey AS VARCHAR)),
                              1, 8))::BIGINT * 5 < 4294967296
    ),
    full_j AS (
        SELECT count(*) AS n,
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT)) AS cents
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    samp_j AS (
        SELECT count(*) AS n,
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT)) AS cents
        FROM orders o
        JOIN keep s ON o.o_orderkey = s.k
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN keep s2 ON l.l_orderkey = s2.k
    )
    SELECT m.metric,
           round(m.actual, 2) AS actual,
           round(m.estimate, 2) AS estimate,
           round((m.estimate - m.actual) / m.actual, 6) + 0.0 AS rel_error
    FROM (
        SELECT 'join_rows' AS metric,
               CAST(f.n AS DOUBLE) AS actual,
               CAST(s.n * 5 AS DOUBLE) AS estimate
        FROM full_j f, samp_j s
        UNION ALL
        SELECT 'join_revenue',
               CAST(f.cents AS DOUBLE) / 100,
               CAST(s.cents * 5 AS DOUBLE) / 100
        FROM full_j f, samp_j s
    ) m
    ORDER BY m.metric
    """,
    tags=("curation", "sampling", "correlated", "join"),
)
def q170_correlated_sample_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated (join-consistent) sampling: both orders AND lineitem
    are sampled with the SAME deterministic 20% predicate on the JOIN
    KEY (salted md5 of orderkey, integer threshold u·5 < 2^32), so the
    join of the samples IS a 20% key-sample of the join — the property
    independent Bernoulli row-sampling destroys (p² pair survival,
    key-fragmented joins). Emits actual vs ×5-scaled estimates for join
    cardinality and revenue with relative errors.

    Key-correlated sampling is the standard trick for cheap pipeline
    dry-runs and join-cardinality estimation at 100 TB: one hash
    predicate pushes into EVERY table sharing the key, sampled inputs
    co-partition exactly like the originals, and scale-up factors stay
    unbiased per key class. Money stays in exact integer cents.

    Scale posture: the sample predicate is map-side hash math (no
    sampling shuffle); the sampled join shuffles 20% of each side.
    """
    t = load_tables(spark, sf_dir)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")

    def keep(col):
        u = hex_int(F.md5(F.concat(F.lit("cs|"), col.cast("string"))), 1, 8)
        return u * 5 < F.lit(4294967296)

    orders, lineitem = t["orders"], t["lineitem"]
    full_j = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents")
        )
    )
    samp_j = (
        orders.filter(keep(F.col("o_orderkey")))
        .join(
            lineitem.filter(keep(F.col("l_orderkey"))),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
    )
    f = full_j.select(
        F.col("n").alias("fn"), F.col("cents").alias("fc")
    ).crossJoin(samp_j.select(F.col("n").alias("sn"), F.col("cents").alias("sc")))
    rows = f.select(
        F.lit("join_rows").alias("metric"),
        F.col("fn").cast("double").alias("actual"),
        (F.col("sn") * 5).cast("double").alias("estimate"),
    ).unionAll(
        f.select(
            F.lit("join_revenue").alias("metric"),
            (F.col("fc").cast("double") / 100).alias("actual"),
            ((F.col("sc") * 5).cast("double") / 100).alias("estimate"),
        )
    )
    return rows.select(
        "metric",
        F.round("actual", 2).alias("actual"),
        F.round("estimate", 2).alias("estimate"),
        round_nz((F.col("estimate") - F.col("actual")) / F.col("actual"), 6).alias(
            "rel_error"
        ),
    ).orderBy("metric")


@query(
    "q171_lift_curve",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT c.c_custkey,
               ('0x' || substr(md5('lift|' || CAST(c.c_custkey AS VARCHAR)),
                               1, 8))::BIGINT AS score,
               CASE WHEN coalesce(s.cents, 0) > 325000000
                    THEN 1 ELSE 0 END AS pos
        FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
    ),
    deciled AS (
        SELECT pos,
               ntile(10) OVER (ORDER BY score DESC, c_custkey) AS decile
        FROM scored
    ),
    agg AS (
        SELECT decile, count(*) AS n, sum(pos) AS n_pos FROM deciled
        GROUP BY decile
    ),
    tot AS (SELECT sum(n) AS nn, sum(n_pos) AS pp FROM agg)
    SELECT a.decile,
           CAST(a.n AS BIGINT) AS n_customers,
           CAST(a.n_pos AS BIGINT) AS n_pos,
           ((2 * sum(a.n_pos) OVER (
                     ORDER BY a.decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1000000 + t.pp) // (2 * t.pp)) / 1000000.0 AS capture,
           ((2 * a.n_pos * t.nn * 1000000 + a.n * t.pp)
                // (2 * a.n * t.pp)) / 1000000.0 AS lift
    FROM agg a CROSS JOIN tot t
    ORDER BY a.decile
    """,
    tags=("curation", "lift", "evaluation", "ranking"),
)
def q171_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the model-evaluation operator run after
    every propensity scoring job: customers rank by a model score (a
    deterministic salted-hash stand-in here), split into score deciles,
    and each decile reports its positive count (high spenders), the
    cumulative capture rate, and lift over the base rate. A useful
    model shows lift≫1 in decile 1; the hash score shows lift≈1
    everywhere — the null baseline the real model must beat.

    All ratios are single divisions of exact integers (spend threshold
    applied to integer cents; capture = cum_pos/total_pos; lift =
    n_pos·N / (n·P)), so decile boundaries and every output value are
    engine-exact. The ntile order (score desc, custkey) is total.

    Scale posture: spend aggregates partial+final on custkey; the
    decile is the window-free sample-sort form (q236 shape):
    distributed_row_number on (score desc, custkey) — range shuffle +
    broadcast offsets — then ntile_from_rank as a map-side expression,
    value-identical to the ntile window. The cumulative capture over
    the 10 decile rows is a triangular broadcast self-join, so the plan
    contains NO window at all, partitioned or otherwise.
    """
    t = load_tables(spark, sf_dir)
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    scored = (
        t["customer"]
        .join(spend, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            hex_int(
                F.md5(F.concat(F.lit("lift|"), F.col("c_custkey").cast("string"))), 1, 8
            )
            .alias("score"),
            F.when(F.coalesce("cents", F.lit(0)) > 325000000, 1)
            .otherwise(0)
            .alias("pos"),
        )
    )
    nrow = scored.agg(F.count(F.lit(1)).alias("_n"))
    ranked = distributed_row_number(
        scored, [F.col("score").desc(), F.col("c_custkey").asc()], out="_rn"
    )
    deciled = ranked.crossJoin(F.broadcast(nrow)).select(
        "pos", ntile_from_rank(F.col("_rn"), F.col("_n"), 10).alias("decile")
    )
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    tot = agg.agg(F.sum("n").alias("nn"), F.sum("n_pos").alias("pp"))
    # Cumulative capture over the 10 decile rows: triangular broadcast
    # self-join (decile' <= decile) instead of a global window — the
    # plan stays window-free end to end.
    earlier = agg.select(
        F.col("decile").alias("_d2"), F.col("n_pos").alias("_np2")
    )
    cum = (
        agg.join(F.broadcast(earlier), F.col("_d2") <= F.col("decile"))
        .groupBy("decile", "n", "n_pos")
        .agg(F.sum("_np2").alias("cum_pos"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n").cast("long").alias("n_customers"),
            F.col("n_pos").cast("long").alias("n_pos"),
            half_up_ratio(F.col("cum_pos"), F.col("pp"), 6).alias(
                "capture"
            ),
            half_up_ratio(
                F.col("n_pos") * F.col("nn"),
                F.col("n") * F.col("pp"),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


def _source_fold() -> Column:
    """Group k-fold assignment of a source, ``md5('fold|' || source)``
    read as a BIGINT mod 5 (q195, q244)."""
    fold = hex_int(F.md5(F.concat(F.lit("fold|"), F.col("source"))), 1, 8) % 5
    return fold.cast("int")


@query(
    "q195_group_aware_split",
    oracle="""
    WITH folded AS (
        SELECT source, doc_id, n_chars,
               CAST(('0x' || substr(md5('fold|' || source), 1, 8))::BIGINT % 5
                    AS INTEGER) AS fold
        FROM documents
    )
    SELECT fold,
           CAST(count(*) AS BIGINT)          AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_chars) AS BIGINT)      AS total_chars,
           CAST((SELECT count(*) FROM (
               SELECT source FROM folded GROUP BY source
               HAVING count(DISTINCT fold) > 1
           )) AS BIGINT)                     AS leaky_sources
    FROM folded
    GROUP BY fold
    ORDER BY fold
    """,
    tags=("curation", "split", "sampling", "leakage"),
)
def q195_group_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 5-fold split: the fold is a function of the SOURCE,
    not the document, so every document from one source lands in the
    same fold — the split discipline that prevents near-duplicate /
    same-provenance leakage between train and eval (q55's per-document
    split cannot guarantee it; q69 detects the leakage this prevents).
    The salted md5 prefix is the same deterministic integer-hash
    construction as q55, keyed 'fold|'. Every row carries
    ``leaky_sources`` — the count of sources spanning >1 fold — which
    must be 0 by construction; the oracle recomputes it independently.

    Scale posture: the fold is map-side hash math; per-fold stats are
    one partial+final aggregation. The leakage audit aggregates at
    source grain (tiny) and broadcasts a single number."""
    docs = load_tables(spark, sf_dir)["documents"]
    folded = docs.select("source", "doc_id", "n_chars", _source_fold().alias("fold"))
    leaky = (
        folded.groupBy("source")
        .agg(F.countDistinct("fold").alias("nf"))
        .where(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).alias("leaky_sources"))
    )
    return (
        folded.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .crossJoin(F.broadcast(leaky))
        .select(
            "fold",
            "n_docs",
            "n_sources",
            F.col("total_chars").cast("long").alias("total_chars"),
            F.col("leaky_sources").cast("long").alias("leaky_sources"),
        )
        .orderBy("fold")
    )


@query(
    "q225_slice_evaluation",
    oracle=f"""
    WITH scored AS (
        SELECT source, lang AS labeled,
               length(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a', 'of', 'and', 'to'])) AS s_en,
               length(list_intersect(list_distinct(string_split(text, ' ')),
                      ['der', 'die', 'das', 'und', 'ist'])) AS s_de,
               length(list_intersect(list_distinct(string_split(text, ' ')),
                      ['le', 'la', 'les', 'et', 'est'])) AS s_fr
        FROM documents
    ),
    pred AS (
        SELECT source, labeled,
               CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
                    WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS detected
        FROM scored
    ),
    overall AS (
        SELECT sum(CASE WHEN detected = labeled THEN 1 ELSE 0 END) AS hits,
               count(*) AS n
        FROM pred
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p.detected = p.labeled THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN p.detected = p.labeled THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS slice_accuracy,
           round(max(o.hits) * 1.0 / max(o.n), 4) AS overall_accuracy,
           (sum(CASE WHEN p.detected = p.labeled THEN 1 ELSE 0 END)
            * max(o.n) * 10 < 8 * count(*) * max(o.hits)) AS underperforming
    FROM pred p CROSS JOIN overall o
    GROUP BY p.source
    ORDER BY p.source
    """,
    tags=("curation", "evaluation", "slicing", "quality"),
)
def q225_slice_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice-based model evaluation: the q52 language-ID heuristic is
    scored per SOURCE slice against its labels, next to the overall
    accuracy, with an exact cross-multiplied flag for slices running
    below 80% of global accuracy — aggregate metrics hide exactly
    these pockets (a model can be 90% overall and 40% on one
    upstream's documents), and slice evaluation is how data-centric
    debugging finds them.

    Scale posture: scoring is map-side set math (q52); the global
    accuracy is a 1-row aggregate broadcast into the per-slice
    rollup; the comparison is integer arithmetic — no float in the
    flag."""
    from azure_batch_map_reduce_spark.functions.text import LANG_MARKERS

    docs = load_tables(spark, sf_dir)["documents"]
    dwords = F.array_distinct(F.split(F.col("text"), " "))

    def score(lang: str):
        return F.size(
            F.array_intersect(
                dwords, F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
            )
        )

    s_en, s_de, s_fr = score("en"), score("de"), score("fr")
    detected = (
        F.when((s_en == 0) & (s_de == 0) & (s_fr == 0), "unknown")
        .when((s_en >= s_de) & (s_en >= s_fr), "en")
        .when(s_de >= s_fr, "de")
        .otherwise("fr")
    )
    pred = docs.select(
        "source",
        F.col("lang").alias("labeled"),
        detected.alias("detected"),
    )
    overall = pred.agg(
        F.sum((F.col("detected") == F.col("labeled")).cast("long")).alias("hits"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        pred.crossJoin(F.broadcast(overall))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("detected") == F.col("labeled")).cast("long")).alias(
                "n_correct"
            ),
            F.max("hits").alias("hits"),
            F.max("n").alias("n"),
        )
        .select(
            "source",
            "n_docs",
            "n_correct",
            F.round(F.col("n_correct") * 1.0 / F.col("n_docs"), 4).alias(
                "slice_accuracy"
            ),
            F.round(F.col("hits") * 1.0 / F.col("n"), 4).alias(
                "overall_accuracy"
            ),
            (
                F.col("n_correct") * F.col("n") * 10
                < 8 * F.col("n_docs") * F.col("hits")
            ).alias("underperforming"),
        )
        .orderBy("source")
    )


@query(
    "q240_temperature_mixing",
    oracle="""
    WITH s AS (
        SELECT source, count(*) AS n_docs,
               sum(length(text)) AS n_chars
        FROM documents
        GROUP BY source
    ),
    t AS (
        SELECT CAST(sum(n_docs) AS DOUBLE)          AS total,
               sum(sqrt(CAST(n_docs AS DOUBLE)))    AS z
        FROM s
    )
    SELECT s.source,
           CAST(s.n_docs AS BIGINT)  AS n_docs,
           CAST(s.n_chars AS BIGINT) AS n_chars,
           round(s.n_docs / t.total, 6)                          AS raw_share,
           round(sqrt(CAST(s.n_docs AS DOUBLE)) / t.z, 6)        AS temp_share,
           round(sqrt(CAST(s.n_docs AS DOUBLE)) * t.total
                 / (t.z * s.n_docs), 6)                          AS sample_boost
    FROM s CROSS JOIN t
    ORDER BY s.source
    """,
    tags=("curation", "mixing", "sampling", "training"),
)
def q240_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing weights (T=2 ⇒ exponent 1/2):
    each source's sampling share is n^(1/T) renormalized — the standard
    rebalancing that keeps huge web crawls from drowning small
    high-quality sources in a training mix (multilingual-LM sampling,
    data-mix tuning). Emits raw vs tempered share and the per-document
    sampling boost each source gets (boost > 1 = upsampled).

    The exponent is exactly 1/2 so the power is ``sqrt`` — IEEE
    correctly-rounded and therefore bit-identical across engines,
    unlike a libm ``pow(n, 0.3)`` (the float-determinism discipline in
    SCALE.md: division and sqrt are exact; pow/ln are
    platform-dependent). The only cross-engine float risk is the
    summation order of z over |sources| values, washed out by round(6).

    Scale posture: one partial+final count per source (the shuffle
    carries |sources| rows), a 1-row totals broadcast cross join, pure
    map-side arithmetic after. The emitted plan *is* the input a
    weighted sampler (q112's Duffield-Lund-Thorup shape) consumes."""
    docs = load_tables(spark, sf_dir)["documents"]
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
    )
    t = s.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("z"),
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(F.col("n_docs") / F.col("total"), 6).alias("raw_share"),
            F.round(
                F.sqrt(F.col("n_docs").cast("double")) / F.col("z"), 6
            ).alias("temp_share"),
            F.round(
                F.sqrt(F.col("n_docs").cast("double"))
                * F.col("total")
                / (F.col("z") * F.col("n_docs")),
                6,
            ).alias("sample_boost"),
        )
        .orderBy("source")
    )


@query(
    "q244_group_kfold_split",
    oracle="""
    WITH folded AS (
        SELECT source,
               CAST(('0x' || substr(md5('fold|' || source), 1, 8))::BIGINT % 5
                    AS INTEGER) AS fold,
               count(*)         AS n_docs,
               sum(length(text)) AS n_chars
        FROM documents
        GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS DOUBLE) AS total,
               count(*)                    AS n_sources_all
        FROM folded
    )
    SELECT f.fold,
           CAST(count(*) AS BIGINT)        AS n_sources,
           CAST(sum(f.n_docs) AS BIGINT)   AS n_docs,
           CAST(sum(f.n_chars) AS BIGINT)  AS n_chars,
           round(sum(f.n_docs) / t.total, 6) AS doc_share,
           (count(*) = count(DISTINCT f.source)) AS no_group_leakage
    FROM folded f CROSS JOIN tot t
    GROUP BY f.fold, t.total
    ORDER BY f.fold
    """,
    tags=("curation", "split", "kfold", "leakage", "evaluation"),
)
def q244_group_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group k-fold assignment (k=5) with a leakage audit: every SOURCE
    lands wholly in one fold — the split discipline that stops
    correlated documents (same crawl domain, same provider) from
    leaking between train and validation, the group analog of q226's
    temporal embargo. Fold = md5 of the source name mod k, so the
    assignment is content-addressed (stable under corpus growth — a new
    snapshot re-derives identical folds, no stored mapping), and the
    oracle replays it bit-for-bit via the shared hex-prefix idiom
    (q156's portable-hash discipline; never engine-native hash()).
    Emits per fold the source/doc/char counts, the doc share (balance
    check — group k-fold trades balance for isolation), and the
    per-fold no-leakage invariant.

    Scale posture: one partial+final aggregate to source grain (the
    shuffle carries |sources| rows), a 1-row totals broadcast, then a
    k-row rollup. The fold column is the partition key a downstream
    training-data writer would `partitionBy` — fold-pruned reads at
    evaluation time."""
    docs = load_tables(spark, sf_dir)["documents"]
    folded = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
    ).withColumn("fold", _source_fold())
    tot = folded.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_sources_all"),
    )
    return (
        folded.crossJoin(F.broadcast(tot))
        .groupBy("fold", "total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.round(F.sum("n_docs") / F.first("total"), 6).alias("doc_share"),
            (F.count(F.lit(1)) == F.countDistinct("source")).alias(
                "no_group_leakage"
            ),
        )
        .drop("total")
        .orderBy("fold")
    )


@query(
    "q252_length_bucket_batching",
    oracle="""
    WITH lens AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
        FROM documents
    ),
    bucketed AS (
        SELECT CASE WHEN n_tok <= 16 THEN 16
                    WHEN n_tok <= 32 THEN 32
                    WHEN n_tok <= 64 THEN 64
                    WHEN n_tok <= 128 THEN 128
                    ELSE 256 END AS bucket,
               n_tok
        FROM lens
    )
    SELECT CAST(bucket AS INTEGER)                          AS bucket,
           CAST(count(*) AS BIGINT)                         AS n_docs,
           CAST((count(*) + 31) // 32 AS BIGINT)            AS n_batches,
           CAST(sum(n_tok) AS BIGINT)                       AS real_tokens,
           CAST(count(*) * bucket AS BIGINT)                AS padded_tokens,
           round(sum(n_tok) / CAST(count(*) * bucket AS DOUBLE), 4)
               AS pack_efficiency
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("curation", "batching", "packing", "training", "padding"),
)
def q252_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly plan: documents sort into
    power-of-two token-length buckets (pad-to-bucket-width batching,
    the alternative to q123's concat-and-split packing when example
    boundaries must survive); emits per bucket the document count,
    32-example batch count, real vs padded token volume, and packing
    efficiency — the padding-waste read that decides bucket boundaries
    before a training run burns accelerator hours on pad tokens.

    Determinism: token counts and bucket edges are exact integers;
    batch count is integer ceiling division; efficiency is one exact
    division under round(4).

    Scale posture: a map-side token count + CASE bucket per document,
    then one partial+final aggregate at bucket grain (5 rows through
    the shuffle). The bucket column is what a writer would
    ``partitionBy`` so each training shard reads one width."""
    docs = load_tables(spark, sf_dir)["documents"]
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != F.lit("")))
    bucket = (
        F.when(n_tok <= 16, 16)
        .when(n_tok <= 32, 32)
        .when(n_tok <= 64, 64)
        .when(n_tok <= 128, 128)
        .otherwise(256)
    )
    bucketed = docs.select(bucket.alias("bucket"), n_tok.alias("n_tok"))
    return (
        bucketed.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            ((F.count(F.lit(1)) + 31) - (F.count(F.lit(1)) + 31) % 32)
            .cast("long").alias("_num"),
            F.sum("n_tok").cast("long").alias("real_tokens"),
            (F.count(F.lit(1)) * F.first("bucket")).cast("long").alias(
                "padded_tokens"
            ),
            F.round(
                F.sum("n_tok")
                / (F.count(F.lit(1)) * F.first("bucket")).cast("double"),
                4,
            ).alias("pack_efficiency"),
        )
        .select(
            "bucket",
            "n_docs",
            (F.col("_num") / 32).cast("long").alias("n_batches"),
            "real_tokens",
            "padded_tokens",
            "pack_efficiency",
        )
        .orderBy("bucket")
    )


@query(
    "q256_bradley_terry_preferences",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, value,
               lag(event_type) OVER w AS pt,
               lag(value)      OVER w AS pv
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY date_trunc('microseconds', ts), event_id)
    ),
    games AS (
        SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS winner,
               least(event_type, pt)    AS lo,
               greatest(event_type, pt) AS hi
        FROM ordered
        WHERE pt IS NOT NULL AND pt <> event_type AND value <> pv
    ),
    wins   AS (SELECT winner AS t, count(*) AS w FROM games GROUP BY winner),
    pair_n AS (SELECT lo, hi, count(*) AS n FROM games GROUP BY lo, hi),
    sides AS (
        SELECT lo AS t, hi AS j, n FROM pair_n
        UNION ALL
        SELECT hi AS t, lo AS j, n FROM pair_n
    ),
    tot AS (SELECT t, sum(n) AS n_games FROM sides GROUP BY t),
    s1 AS (
        SELECT tot.t, tot.n_games, coalesce(w.w, 0) AS n_wins,
               2.0 * coalesce(w.w, 0) / tot.n_games AS s
        FROM tot LEFT JOIN wins w ON w.t = tot.t
    ),
    terms AS (
        SELECT s.t, sd.j, sd.n / (s.s + sj.s) AS term
        FROM sides sd
        JOIN s1 s  ON sd.t = s.t
        JOIN s1 sj ON sd.j = sj.t
    ),
    denom AS (
        SELECT t,
               list_reduce(list_prepend(0.0, list(term ORDER BY j)),
                           (a, b) -> a + b) AS d
        FROM terms GROUP BY t
    )
    SELECT s1.t                         AS event_type,
           CAST(s1.n_games AS BIGINT)   AS n_games,
           CAST(s1.n_wins AS BIGINT)    AS n_wins,
           round(s1.s, 6)               AS strength_iter1,
           round(s1.n_wins / d.d, 6)    AS strength_iter2
    FROM s1 JOIN denom d ON s1.t = d.t
    ORDER BY event_type
    """,
    tags=("curation", "preferences", "bradley-terry", "rlhf", "iterative"),
)
def q256_bradley_terry_preferences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength estimation over implicit preference pairs —
    the aggregation an RLHF/DPO data pipeline runs to turn pairwise
    comparisons into per-item quality scores. Preference pairs are mined
    from the event stream (consecutive events of one user; the
    higher-value event's type "wins"; ties and self-pairs drop), then
    two minorization-maximization iterations from uniform strengths:
    s_i ← W_i / Σ_j n_ij/(s_i+s_j). Iteration 1 closes to 2·W_i/N_i;
    iteration 2 uses the full opponent-aware denominator. Emits per
    type: games, wins, and both iterates (the convergence trace).

    Determinism: pair mining is a lag over the (ts, event_id) total
    order; W/N are exact integers, so s1 is one exact-operand IEEE
    division; s2's denominator folds the per-opponent terms in SORTED
    opponent order via a prepended-zero list_reduce / F.aggregate —
    identical sequential additions on both engines (the q239 fold
    discipline) rather than engine-ordered SUM(). A pair with games
    always has a winner, so s1_i + s1_j > 0 — no zero denominators.

    Scale posture: one user_id shuffle for the lag; everything after
    runs at type-pair grain (≤|types|² rows — bounded, broadcastable);
    the fold arrays are ≤|types| long. MM iterations at vocab grain,
    corpus touched once — the q239 iterative-training shape. Reference
    contract: pluggable reduce slot (``App.config:17``) as the
    strength consolidation step."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("pt"),
        F.lag("value").over(w).alias("pv"),
    )
    games = ordered.where(
        F.col("pt").isNotNull()
        & (F.col("pt") != F.col("event_type"))
        & (F.col("value") != F.col("pv"))
    ).select(
        F.when(F.col("value") > F.col("pv"), F.col("event_type"))
        .otherwise(F.col("pt"))
        .alias("winner"),
        F.least("event_type", "pt").alias("lo"),
        F.greatest("event_type", "pt").alias("hi"),
    )
    wins = games.groupBy(F.col("winner").alias("t")).agg(
        F.count(F.lit(1)).alias("w")
    )
    pair_n = games.groupBy("lo", "hi").agg(F.count(F.lit(1)).alias("n"))
    sides = pair_n.select(
        F.col("lo").alias("t"), F.col("hi").alias("j"), "n"
    ).unionAll(
        pair_n.select(F.col("hi").alias("t"), F.col("lo").alias("j"), "n")
    )
    tot = sides.groupBy("t").agg(F.sum("n").alias("n_games"))
    s1 = (
        tot.join(wins, "t", "left")
        .select(
            "t",
            "n_games",
            F.coalesce(F.col("w"), F.lit(0)).alias("n_wins"),
            (
                2.0 * F.coalesce(F.col("w"), F.lit(0)) / F.col("n_games")
            ).alias("s"),
        )
    )
    terms = (
        sides.join(F.broadcast(s1.select("t", "s")), "t")
        .join(
            F.broadcast(
                s1.select(F.col("t").alias("j"), F.col("s").alias("sj"))
            ),
            "j",
        )
        .select("t", "j", (F.col("n") / (F.col("s") + F.col("sj"))).alias("term"))
    )
    denom = terms.groupBy("t").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("j"), F.col("term")))
                ),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d")
    )
    return (
        s1.join(denom, "t")
        .select(
            F.col("t").alias("event_type"),
            F.col("n_games").cast("long").alias("n_games"),
            F.col("n_wins").cast("long").alias("n_wins"),
            F.round(F.col("s"), 6).alias("strength_iter1"),
            F.round(F.col("n_wins").cast("double") / F.col("d"), 6).alias(
                "strength_iter2"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q261_score_calibration_ece",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(n_chars - 500) / 200.0)), 6) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    binned AS (
        SELECT doc_id, y, score,
               least(CAST(floor(score * 10) AS INTEGER), 9) AS bin
        FROM scored
    ),
    per_bin AS (
        SELECT bin,
               count(*)  AS n,
               sum(y)    AS n_pos,
               list_reduce(list_prepend(0.0, list(score ORDER BY doc_id)),
                           (a, b) -> a + b) / count(*) AS conf
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT count(*) AS total FROM binned),
    gaps AS (
        SELECT bin, n, n_pos, conf,
               CAST(n_pos AS DOUBLE) / n AS acc,
               abs(CAST(n_pos AS DOUBLE) / n - conf) AS gap
        FROM per_bin
    ),
    ece AS (
        SELECT round(list_reduce(
                   list_prepend(0.0,
                       list(n * gap / t.total ORDER BY bin)),
                   (a, b) -> a + b), 6) AS ece
        FROM gaps CROSS JOIN tot t GROUP BY t.total
    )
    SELECT g.bin,
           CAST(g.n AS BIGINT)     AS n_docs,
           CAST(g.n_pos AS BIGINT) AS n_pos,
           round(g.conf, 6)        AS mean_score,
           round(g.acc, 6)         AS pos_rate,
           round(g.gap, 6)         AS calibration_gap,
           e.ece                   AS ece
    FROM gaps g CROSS JOIN ece e
    ORDER BY g.bin
    """,
    tags=("curation", "calibration", "evaluation", "quality", "ece"),
)
def q261_score_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-score calibration audit (reliability diagram + ECE):
    a length-based quality score (the q-size_score sigmoid) is treated
    as a probability that a document is English, bucketed into 10
    confidence bins, and each bin's mean score is compared against its
    empirical positive rate; expected calibration error is the
    doc-weighted mean absolute gap. This is the audit a curation
    pipeline runs on ANY learned quality/toxicity scorer before using
    its scores as sampling weights — miscalibrated scores silently
    skew the corpus mixture.

    Determinism: exp() is libm (ulp skew) but the sigmoid rounds to 6
    before EVERYTHING — binning (floor of rounded·10, capped at 9),
    per-bin mean (folded in doc_id order), and the ECE fold (bin
    order) all consume the rounded score, so a sub-round ulp cannot
    move a document across bins or reorder any accumulation. Counts
    and positive rates are exact integers with one closing division.

    Scale posture: one partial+final aggregate to 10 bins (the fold
    arrays are per-bin document lists — at 100 TB swap the ordered
    fold for plain SUM once the comparator tolerance owns the ulps, or
    pre-aggregate scores at source grain); the total and ECE are
    1-row broadcasts back across 10 rows."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = docs.select(
        "doc_id",
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("n_chars") - 500) / 200.0)), 6
        ).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        "doc_id",
        "y",
        "score",
        F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias(
            "bin"
        ),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        (
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("score")))
                    ),
                    lambda x: x["score"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1))
        ).alias("conf"),
    )
    tot = binned.agg(F.count(F.lit(1)).alias("total"))
    gaps = per_bin.select(
        "bin",
        "n",
        "n_pos",
        "conf",
        (F.col("n_pos").cast("double") / F.col("n")).alias("acc"),
        F.abs(F.col("n_pos").cast("double") / F.col("n") - F.col("conf")).alias(
            "gap"
        ),
    )
    ece = (
        gaps.crossJoin(F.broadcast(tot))
        .groupBy("total")
        .agg(
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("bin"),
                                    (
                                        F.col("n") * F.col("gap") / F.col("total")
                                    ).alias("wgap"),
                                )
                            )
                        ),
                        lambda x: x["wgap"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("ece")
        )
        .select("ece")
    )
    return (
        gaps.crossJoin(F.broadcast(ece))
        .select(
            "bin",
            F.col("n").cast("long").alias("n_docs"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round("conf", 6).alias("mean_score"),
            F.round("acc", 6).alias("pos_rate"),
            F.round("gap", 6).alias("calibration_gap"),
            "ece",
        )
        .orderBy("bin")
    )


@query(
    "q262_corpus_version_diff",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, source, text, n_chars
        FROM documents WHERE doc_id % 5 <> 4
    ),
    v2 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 10 = 3 THEN text || ' [edited]'
                    ELSE text END AS text,
               CASE WHEN doc_id % 10 = 3 THEN n_chars + 9
                    ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 7 <> 6
    ),
    j AS (
        SELECT coalesce(v1.source, v2.source) AS source,
               CASE
                   WHEN v1.doc_id IS NULL THEN 'added'
                   WHEN v2.doc_id IS NULL THEN 'removed'
                   WHEN md5(v1.text) <> md5(v2.text) THEN 'changed'
                   ELSE 'unchanged'
               END AS status,
               coalesce(v2.n_chars, 0) - coalesce(v1.n_chars, 0) AS byte_delta
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT source, status,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(byte_delta) AS BIGINT) AS byte_delta
    FROM j GROUP BY source, status
    ORDER BY source, status
    """,
    tags=("curation", "versioning", "diff", "audit", "snapshot"),
)
def q262_corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning audit run between
    two releases of a training corpus: full-outer-join the versions on
    doc id, classify every document added / removed / changed /
    unchanged (changed = content-hash mismatch, so a renamed or
    re-crawled doc with identical bytes stays 'unchanged'), and roll
    up per (source, status) with net byte deltas. Versions are
    deterministic fixture slices (v1 drops doc_id%5=4, v2 drops
    doc_id%7=6 and edits doc_id%10=3) so the diff exercises all four
    statuses. The per-source 'changed' row count is the re-training
    trigger a pipeline watches; byte_delta is the storage-planning
    read.

    Determinism: integer modular slicing, md5 content identity,
    exact-integer byte deltas — zero floats.

    Scale posture: ONE full outer join at doc-id grain (both sides
    hash-partition on the id; at lake scale both snapshots bucket by
    doc_id and the join is shuffle-free) followed by a partial+final
    rollup to source×status grain. Content hashes compare WITHOUT
    shipping text twice: md5 computes map-side on each branch before
    the join projects text away."""
    docs = load_tables(spark, sf_dir)["documents"]
    v1 = docs.where(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        F.col("source").alias("source1"),
        F.md5("text").alias("h1"),
        F.col("n_chars").alias("c1"),
    )
    v2 = docs.where(F.col("doc_id") % 7 != 6).select(
        "doc_id",
        F.col("source").alias("source2"),
        F.when(
            F.col("doc_id") % 10 == 3, F.md5(F.concat("text", F.lit(" [edited]")))
        ).otherwise(F.md5("text")).alias("h2"),
        F.when(F.col("doc_id") % 10 == 3, F.col("n_chars") + 9)
        .otherwise(F.col("n_chars"))
        .alias("c2"),
    )
    j = v1.join(v2, "doc_id", "full_outer").select(
        F.coalesce("source1", "source2").alias("source"),
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        (
            F.coalesce(F.col("c2"), F.lit(0)) - F.coalesce(F.col("c1"), F.lit(0))
        ).alias("byte_delta"),
    )
    return (
        j.groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("byte_delta").cast("long").alias("byte_delta"),
        )
        .orderBy("source", "status")
    )


@query(
    "q263_token_budget_waterfill",
    oracle="""
    WITH src AS (
        SELECT source, sum((n_chars + 3) // 4) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT sum(tokens) AS total_tokens,
               (sum(tokens) * 2) // 5 AS budget,
               count(*) AS n_src
        FROM src
    ),
    ranked AS (
        SELECT s.source, s.tokens, t.budget, t.n_src,
               sum(s.tokens) OVER (ORDER BY s.tokens, s.source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prefix,
               CAST(row_number() OVER (ORDER BY s.tokens, s.source)
                    AS BIGINT) AS rn
        FROM src s CROSS JOIN tot t
    ),
    capped AS (
        -- the water level lies above the i-1 smallest sources iff
        -- filling everyone else to t_i would overshoot the budget
        SELECT *,
               CASE WHEN prefix - tokens + (n_src - rn + 1) * tokens
                         >= budget
                    THEN (budget - (prefix - tokens)) // (n_src - rn + 1)
               END AS cap_here
        FROM ranked
    ),
    lvl AS (SELECT min(cap_here) AS cap FROM capped WHERE cap_here IS NOT NULL)
    SELECT r.source,
           CAST(r.tokens AS BIGINT) AS tokens,
           CAST(CASE WHEN l.cap IS NULL THEN r.tokens
                     ELSE least(r.tokens, l.cap) END AS BIGINT) AS allocated,
           l.cap IS NOT NULL AND r.tokens > l.cap AS capped,
           CAST(r.budget AS BIGINT) AS budget
    FROM ranked r CROSS JOIN lvl l
    ORDER BY r.source
    """,
    tags=("curation", "mixing", "budget", "waterfill", "allocation"),
)
def q263_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token allocation across sources: given a global
    training budget (40% of corpus tokens), find the per-source cap c
    such that Σ min(tokens_s, c) fills the budget — small sources
    contribute everything, large sources are clipped at the water
    level. This is the fair-share mixture allocator (the alternative
    to q240's temperature weights) a pretraining pipeline uses when no
    source may dominate the mixture. Emits per source: raw tokens, the
    allocation, whether it was clipped, and the budget.

    The cap solves in closed form over the token-sorted source list:
    at the first rank i where filling all remaining sources to
    tokens_i overshoots, c = (budget − prefix_{i−1}) div (n−i+1).
    Every step — token pricing, prefix sums, the cap division, the
    min — is exact integer arithmetic; floor division leaves a
    sub-|sources| remainder unallocated by design (deterministic,
    documented) rather than float-splitting it.

    Scale posture: token totals are one partial+final agg to source
    grain; the sort/prefix/row_number windows run on the |sources|-row
    frame (bounded — a corpus has tens of sources, not millions), and
    the cap broadcasts back. If sources were unbounded (per-domain
    allocation over the open web), the same prefix argument rides
    ranks.distributed_running_sum — the dataflow is already written."""
    docs = load_tables(spark, sf_dir)["documents"]
    src = docs.groupBy("source").agg(
        F.sum(F.expr("(n_chars + 3) div 4")).alias("tokens")
    )
    tot = src.agg(
        F.sum("tokens").alias("total_tokens"),
        F.expr("(sum(tokens) * 2) div 5").alias("budget"),
        F.count(F.lit(1)).alias("n_src"),
    )
    w = bounded_order("tokens", "source")
    ranked = (
        src.crossJoin(F.broadcast(tot))
        .withColumn(
            "prefix",
            F.sum("tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
    )
    capped = ranked.withColumn(
        "cap_here",
        F.when(
            F.col("prefix") - F.col("tokens")
            + (F.col("n_src") - F.col("rn") + 1) * F.col("tokens")
            >= F.col("budget"),
            F.expr("(budget - (prefix - tokens)) div (n_src - rn + 1)"),
        ),
    )
    lvl = capped.agg(F.min("cap_here").alias("cap"))
    return (
        ranked.crossJoin(F.broadcast(lvl))
        .select(
            "source",
            F.col("tokens").cast("long").alias("tokens"),
            F.when(F.col("cap").isNull(), F.col("tokens"))
            .otherwise(F.least("tokens", "cap"))
            .cast("long")
            .alias("allocated"),
            (F.col("cap").isNotNull() & (F.col("tokens") > F.col("cap"))).alias(
                "capped"
            ),
            F.col("budget").cast("long").alias("budget"),
        )
        .orderBy("source")
    )


@query(
    "q264_doremi_mixture_reweight",
    oracle="""
    WITH words AS (
        SELECT doc_id, source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, w,
               row_number() OVER (PARTITION BY doc_id ORDER BY w) AS pos
        FROM words
    ),
    uni AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    n AS (SELECT count(*) AS n FROM words),
    doc_loss AS (
        SELECT p.doc_id, p.source,
               list_reduce(list_prepend(0.0,
                   list(-ln(CAST(u.c AS DOUBLE) / t.n) ORDER BY p.pos)),
                   (a, b) -> a + b) / count(*) AS loss
        FROM pos p JOIN uni u ON p.w = u.w CROSS JOIN n t
        GROUP BY p.doc_id, p.source
    ),
    src AS (
        SELECT source, count(*) AS n_docs,
               sum((SELECT sum((n_chars + 3) // 4) FROM documents d2
                    WHERE d2.doc_id = doc_loss.doc_id)) AS tokens,
               list_reduce(list_prepend(0.0, list(loss ORDER BY doc_id)),
                           (a, b) -> a + b) / count(*) AS mean_loss
        FROM doc_loss GROUP BY source
    ),
    ref AS (
        SELECT sum(n_docs * mean_loss) / sum(n_docs) AS ref_loss,
               sum(tokens) AS total_tokens
        FROM (SELECT * FROM src ORDER BY source)
    ),
    scored AS (
        SELECT s.source, s.n_docs, s.tokens, s.mean_loss,
               CAST(s.tokens AS DOUBLE) / r.total_tokens AS base_w,
               greatest(0.0, s.mean_loss - r.ref_loss) AS excess
        FROM src s CROSS JOIN ref r
    ),
    z AS (
        SELECT list_reduce(list_prepend(0.0,
                   list(base_w * exp(excess) ORDER BY source)),
                   (a, b) -> a + b) AS z
        FROM scored
    )
    SELECT s.source,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.tokens AS BIGINT) AS tokens,
           round(s.mean_loss, 4)    AS mean_loss,
           round(s.base_w, 6)       AS base_weight,
           round(s.excess, 4)       AS excess_loss,
           round(s.base_w * exp(s.excess) / z.z, 6) AS new_weight
    FROM scored s CROSS JOIN z
    ORDER BY s.source
    """,
    tags=("curation", "mixing", "doremi", "reweighting", "language-model"),
)
def q264_doremi_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting, one exponentiated-gradient
    step: each source's proxy loss is its mean per-document unigram
    surprisal (−ln of corpus word frequency, the zero-training
    stand-in for a reference-model loss); sources whose loss exceeds
    the doc-weighted corpus reference get upweighted multiplicatively
    (w′ ∝ tokens-share · exp(excess)), then weights renormalize. This
    is the mixture-optimization step between q240's static temperature
    mixing and a full DoReMi loop. Emits per source: docs, tokens,
    loss, base and updated weights.

    Determinism: unigram counts are exact integers; every float
    accumulation — per-doc surprisal (word order), per-source mean
    (doc order), the reference, and the softmax normalizer (source
    order) — is a prepended-zero ordered fold, never engine-ordered
    SUM; ln/exp libm ulps are absorbed by round(4)/round(6) on pure
    outputs (no rounded value feeds a comparison). The excess clamp
    ``greatest(0, ·)`` yields +0.0, not −0.0.

    Scale posture: one corpus-grain explode; the unigram model joins
    back equi at word grain (vocab-sized state); everything after doc
    grain is |sources| rows. The per-doc fold arrays are
    document-length bounded, per-source fold arrays are doc-count
    bounded — at open-web scale the per-source mean would ride a
    compensated SUM instead (comparator-tolerance owned), same plan."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("w"),
    )
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = words.agg(F.count(F.lit(1)).alias("n"))
    doc_loss = (
        words.join(uni, "w")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id", "source")
        .agg(
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("w"),
                                    (-F.log(F.col("c").cast("double") / F.col("n"))).alias("lp"),
                                )
                            )
                        ),
                        lambda x: x["lp"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1))
            ).alias("loss")
        )
    )
    tokens = docs.select(
        "doc_id", F.expr("(n_chars + 3) div 4").alias("tok")
    )
    src = (
        doc_loss.join(tokens, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("tokens"),
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("doc_id"), F.col("loss")))
                        ),
                        lambda x: x["loss"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1))
            ).alias("mean_loss"),
        )
    )
    ref = src.agg(
        (F.sum(F.col("n_docs") * F.col("mean_loss")) / F.sum("n_docs")).alias(
            "ref_loss"
        ),
        F.sum("tokens").alias("total_tokens"),
    )
    scored = src.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_docs",
        "tokens",
        "mean_loss",
        (F.col("tokens").cast("double") / F.col("total_tokens")).alias("base_w"),
        F.greatest(F.lit(0.0), F.col("mean_loss") - F.col("ref_loss")).alias(
            "excess"
        ),
    )
    z = scored.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("source"),
                            (F.col("base_w") * F.exp(F.col("excess"))).alias("t"),
                        )
                    )
                ),
                lambda x: x["t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z")
    )
    return (
        scored.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("tokens").cast("long").alias("tokens"),
            F.round("mean_loss", 4).alias("mean_loss"),
            F.round("base_w", 6).alias("base_weight"),
            F.round("excess", 4).alias("excess_loss"),
            F.round(
                F.col("base_w") * F.exp(F.col("excess")) / F.col("z"), 6
            ).alias("new_weight"),
        )
        .orderBy("source")
    )


_BOOT_REPS = 20


@query(
    "q265_poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(range({_BOOT_REPS})) AS rep),
    weighted AS (
        SELECT r.rep, d.doc_id, d.n_chars,
               (CASE WHEN ('0x' || substr(md5('boot|' || CAST(r.rep AS VARCHAR)
                           || '|' || CAST(d.doc_id AS VARCHAR) || '|0'), 1, 8))::BIGINT
                          % 4 = 0 THEN 1 ELSE 0 END)
             + (CASE WHEN ('0x' || substr(md5('boot|' || CAST(r.rep AS VARCHAR)
                           || '|' || CAST(d.doc_id AS VARCHAR) || '|1'), 1, 8))::BIGINT
                          % 4 = 0 THEN 1 ELSE 0 END)
             + (CASE WHEN ('0x' || substr(md5('boot|' || CAST(r.rep AS VARCHAR)
                           || '|' || CAST(d.doc_id AS VARCHAR) || '|2'), 1, 8))::BIGINT
                          % 4 = 0 THEN 1 ELSE 0 END)
             + (CASE WHEN ('0x' || substr(md5('boot|' || CAST(r.rep AS VARCHAR)
                           || '|' || CAST(d.doc_id AS VARCHAR) || '|3'), 1, 8))::BIGINT
                          % 4 = 0 THEN 1 ELSE 0 END) AS w
        FROM documents d CROSS JOIN reps r
    ),
    per_rep AS (
        SELECT rep,
               sum(w) AS n_eff,
               ((2 * sum(w * n_chars) * 10000 + sum(w)) // (2 * sum(w)))
                   / 10000.0 AS mean_chars
        FROM weighted GROUP BY rep HAVING sum(w) > 0
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (ORDER BY mean_chars, rep)
                       AS BIGINT) AS rk,
               count(*) OVER () AS m
        FROM per_rep
    ),
    full_mean AS (
        SELECT ((2 * sum(n_chars) * 10000 + count(*)) // (2 * count(*)))
                   / 10000.0 AS point
        FROM documents
    )
    SELECT r.rep, CAST(r.n_eff AS BIGINT) AS n_eff, r.mean_chars,
           f.point AS point_estimate,
           (SELECT min(mean_chars) FROM ranked x
            WHERE x.rk * 10 > x.m)      AS ci_lo,
           (SELECT max(mean_chars) FROM ranked x
            WHERE x.rk * 10 <= 9 * x.m) AS ci_hi
    FROM ranked r CROSS JOIN full_mean f
    ORDER BY r.rep
    """,
    tags=("curation", "bootstrap", "evaluation", "statistics", "sampling"),
)
def q265_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap (the Chamandy et al. / streaming
    bootstrap): classic resampling needs the whole dataset per
    replicate, but drawing each row's per-replicate multiplicity from
    an independent Binomial(4, ¼) ≈ Poisson(1) turns all 20 replicates
    into ONE weighted pass — the only way to bootstrap a 100 TB eval
    metric. Emits each replicate's weighted mean doc length, the full
    -data point estimate, and the [10%, 90%] bootstrap interval by
    replicate rank (integer rank arithmetic, q-MI's edge idiom — no
    float quantile interpolation).

    Determinism: multiplicities are salted-md5 coin flips (exact
    integers, the q156 hash idiom); each replicate's mean is an
    exact-integer weighted sum with one closing division; CI edges
    select members of the rounded replicate-mean set by integer rank
    with a rep tie-break.

    Scale posture: the 20× fan-out is a map-side cross with a literal
    reps axis (the q254 lesson: never a cartesian of two local
    frames); per-replicate sums are one partial+final aggregate at
    rep grain; the 20-row replicate table ranks in a bounded window.
    HAVING n_eff>0 guards the degenerate all-zeros replicate at toy
    corpus sizes."""
    docs = load_tables(spark, sf_dir)["documents"]

    def flip(rep: Column, k: int) -> Column:
        h = F.md5(
            F.concat(
                F.lit("boot|"),
                rep.cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
                F.lit(f"|{k}"),
            )
        )
        return F.when(hex_int(h, 1, 8) % 4 == 0, 1).otherwise(0)

    weighted = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.array(*[F.lit(r) for r in range(_BOOT_REPS)])).alias("rep"),
    ).select(
        "rep",
        "n_chars",
        sum([flip(F.col("rep"), k) for k in range(4)], F.lit(0)).alias("w"),
    )
    per_rep = (
        weighted.groupBy("rep")
        .agg(
            F.sum("w").alias("n_eff"),
            half_up_ratio(
                F.sum(F.col("w") * F.col("n_chars")), F.sum("w"), 4
            ).alias("mean_chars"),
        )
        .where(F.col("n_eff") > 0)
    )
    w_rank = bounded_order("mean_chars", "rep")
    ranked = per_rep.select(
        "rep",
        "n_eff",
        "mean_chars",
        F.row_number().over(w_rank).cast("long").alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    edges = ranked.agg(
        F.min(F.when(F.col("rk") * 10 > F.col("m"), F.col("mean_chars"))).alias(
            "ci_lo"
        ),
        F.max(
            F.when(F.col("rk") * 10 <= 9 * F.col("m"), F.col("mean_chars"))
        ).alias("ci_hi"),
    )
    full_mean = docs.agg(
        half_up_ratio(F.sum("n_chars"), F.count(F.lit(1)), 4).alias("point")
    )
    return (
        ranked.crossJoin(F.broadcast(full_mean))
        .crossJoin(F.broadcast(edges))
        .select(
            "rep",
            F.col("n_eff").cast("long").alias("n_eff"),
            "mean_chars",
            F.col("point").alias("point_estimate"),
            "ci_lo",
            "ci_hi",
        )
        .orderBy("rep")
    )


@query(
    "q266_class_balanced_undersample",
    oracle="""
    WITH sized AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    m AS (SELECT min(n) AS m FROM sized),
    ranked AS (
        SELECT event_type, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5('bal|' || CAST(event_id AS VARCHAR)),
                            event_id) AS rk
        FROM events
    ),
    kept AS (
        SELECT r.event_type, r.event_id
        FROM ranked r CROSS JOIN m WHERE r.rk <= m.m
    )
    SELECT s.event_type,
           CAST(s.n AS BIGINT)              AS n_before,
           CAST(count(k.event_id) AS BIGINT) AS n_kept,
           CAST(sum(k.event_id) AS BIGINT)   AS kept_id_sum,
           CAST(min(k.event_id) AS BIGINT)   AS kept_id_min,
           CAST(max(k.event_id) AS BIGINT)   AS kept_id_max
    FROM sized s JOIN kept k ON s.event_type = k.event_type
    GROUP BY s.event_type, s.n
    ORDER BY s.event_type
    """,
    tags=("curation", "sampling", "class-balance", "undersample", "ranks"),
)
def q266_class_balanced_undersample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced undersampling: every event type is cut to the
    minority class's size by keeping each type's first m rows under a
    deterministic salted-hash shuffle order — the label-balancing step
    before training a classifier on skewed telemetry (and the same
    shape as per-domain corpus capping). The kept set is audited
    exactly: per type, the sum/min/max of kept ids — so the check
    pins WHICH rows survive, not just how many.

    Determinism: the per-type order is (md5 of salted id, id) — total,
    engine-portable, and independent of physical row order; m and all
    audit columns are exact integers.

    Scale posture: the within-type rank does NOT use a per-type window
    — with a handful of types each window partition would be
    corpus/|types| rows through one task. Instead the GLOBAL
    row_number over (type, hash, id) rides the sample-sort
    decomposition (ranks.distributed_row_number — every stage
    parallel), and the within-type rank is global_rank − the type's
    min rank + 1 (a |types|-row broadcast). The oracle states the
    same thing as a plain partitioned window, which is correct at
    oracle grain."""
    ev = load_tables(spark, sf_dir)["events"]
    sized = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    m = sized.agg(F.min("n").alias("m"))
    hashed = ev.select(
        "event_type",
        "event_id",
        F.md5(F.concat(F.lit("bal|"), F.col("event_id").cast("string"))).alias(
            "hk"
        ),
    )
    ranked = distributed_row_number(
        hashed,
        [F.asc("event_type"), F.asc("hk"), F.asc("event_id")],
        out="grn",
    )
    offsets = ranked.groupBy("event_type").agg(F.min("grn").alias("base"))
    kept = (
        ranked.join(F.broadcast(offsets), "event_type")
        .crossJoin(F.broadcast(m))
        .where(F.col("grn") - F.col("base") + 1 <= F.col("m"))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("event_id").cast("long").alias("kept_id_sum"),
            F.min("event_id").cast("long").alias("kept_id_min"),
            F.max("event_id").cast("long").alias("kept_id_max"),
        )
        .join(F.broadcast(sized), "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_before"),
            "n_kept",
            "kept_id_sum",
            "kept_id_min",
            "kept_id_max",
        )
        .orderBy("event_type")
    )


@query(
    "q277_isotonic_calibration",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(n_chars - 500) / 200.0)), 6) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    per_bin AS (
        SELECT least(CAST(floor(score * 10) AS INTEGER), 9) AS bin,
               count(*) AS n, sum(y) AS n_pos
        FROM scored GROUP BY 1
    ),
    iv AS (
        SELECT a.bin AS i, b.bin AS j,
               CAST(sum(m.n_pos) AS DOUBLE) / sum(m.n) AS avg_ij
        FROM per_bin a
        JOIN per_bin b ON a.bin <= b.bin
        JOIN per_bin m ON m.bin BETWEEN a.bin AND b.bin
        GROUP BY a.bin, b.bin
    ),
    mn AS (
        SELECT iv.i, k.bin AS k, min(iv.avg_ij) AS m
        FROM iv JOIN per_bin k ON iv.i <= k.bin AND iv.j >= k.bin
        GROUP BY iv.i, k.bin
    ),
    iso AS (SELECT k AS bin, max(m) AS iso FROM mn GROUP BY k)
    SELECT p.bin,
           CAST(p.n AS BIGINT)     AS n_docs,
           CAST(p.n_pos AS BIGINT) AS n_pos,
           ((2 * p.n_pos * 1000000 + p.n) // (2 * p.n)) / 1000000.0
                                                   AS raw_rate,
           round(i.iso * 1000000) / 1000000.0      AS iso_rate,
           (((2 * p.n_pos * 1000000 + p.n) // (2 * p.n)) / 1000000.0
               <> round(i.iso * 1000000) / 1000000.0) AS adjusted
    FROM per_bin p JOIN iso i ON p.bin = i.bin
    ORDER BY p.bin
    """,
    tags=("curation", "calibration", "isotonic", "evaluation"),
)
def q277_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of a classifier score via
    pool-adjacent-violators, computed with PAV's max-min closed form:
    the fitted rate at bin k equals max over starts i<=k of (min over
    ends j>=k of the pooled positive rate on [i..j]). Same scorer and
    binning as the ECE audit (q261); where q261 only MEASURES
    miscalibration, this produces the corrected per-bin probabilities a
    pipeline substitutes for raw scores (the sklearn
    IsotonicRegression / Zadrozny-Elkan recipe). `adjusted` marks bins
    the pooling changed — a run of adjusted bins is exactly a
    monotonicity violation in the raw scorer.

    Determinism: every interval rate is ONE exact-integer division in
    IEEE doubles (bit-identical cross-engine); min/max selection has no
    accumulation order; rounding at 6 happens after fit. Binning
    consumes the 6-rounded sigmoid exactly as q261 does.

    Scale posture: the corpus collapses to 10 bins in one partial+final
    aggregate; the PAV triangle (interval pooling, min-over-ends,
    max-over-starts) is three joins on the 10-row bin table — O(B³)
    driver-free arithmetic at B=10, independent of corpus size. This is
    the textbook reduction: isotonic regression is sequential, so pool
    FIRST at bounded grain, fit at that grain. Reference contract: the
    per-doc scoring is the map slot (``App.config:16``); bin pooling is
    the reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = docs.select(
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("n_chars") - 500) / 200.0)), 6
        ).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    per_bin = (
        scored.select(
            F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias(
                "bin"
            ),
            "y",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
    )
    a = per_bin.select(F.col("bin").alias("i"))
    b = per_bin.select(F.col("bin").alias("j"))
    m = per_bin.select(
        F.col("bin").alias("mb"), F.col("n").alias("mn"), F.col("n_pos").alias("mp")
    )
    iv = (
        a.join(F.broadcast(b), F.col("i") <= F.col("j"))
        .join(
            F.broadcast(m),
            (F.col("mb") >= F.col("i")) & (F.col("mb") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg(
            (F.sum("mp").cast("double") / F.sum("mn")).alias("avg_ij")
        )
    )
    k = per_bin.select(F.col("bin").alias("k"))
    mn = (
        iv.join(
            F.broadcast(k),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("i", "k")
        .agg(F.min("avg_ij").alias("m"))
    )
    iso = mn.groupBy("k").agg(F.max("m").alias("iso"))
    raw = half_up_ratio(F.col("n_pos"), F.col("n"), 6)
    return (
        per_bin.join(F.broadcast(iso), per_bin["bin"] == iso["k"])
        .select(
            "bin",
            F.col("n").cast("long").alias("n_docs"),
            F.col("n_pos").cast("long").alias("n_pos"),
            raw.alias("raw_rate"),
            # round(x·1e6)/1e6, NOT round(x, 6): scaling in double first
            # and rounding the product at INTEGER grain is the same
            # algorithm DuckDB's 2-arg round runs, and integer-grain
            # halves are exactly representable — so the two engines
            # are bit-identical even when x·1e6 lands on a boundary
            # (Spark's round(x, 6) instead rounds the double's exact
            # BigDecimal expansion, which can disagree there).
            (F.round(F.col("iso") * 1e6) / F.lit(1e6)).alias("iso_rate"),
            (raw != F.round(F.col("iso") * 1e6) / F.lit(1e6)).alias(
                "adjusted"
            ),
        )
        .orderBy("bin")
    )


_MASK_SPAN = 3        # corrupted span length (tokens)
_MASK_DENOM = 20      # 1-in-20 start positions -> ~15% corruption


@query(
    "q288_span_corruption_plan",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    starts AS (
        SELECT doc_id, len(ws) AS n, i
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)
        WHERE ('0x' || substr(md5('mask|' || CAST(doc_id AS VARCHAR)
                                  || '|' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
              % {_MASK_DENOM} = 0
          AND i + {_MASK_SPAN} - 1 <= len(ws)
    ),
    covered AS (
        SELECT DISTINCT doc_id, n, i + o AS pos
        FROM starts, unnest(range(0, {_MASK_SPAN})) t(o)
    ),
    per AS (
        SELECT c.doc_id, c.n,
               count(*) AS n_masked,
               (SELECT count(*) FROM starts s WHERE s.doc_id = c.doc_id)
                   AS n_spans
        FROM covered c GROUP BY c.doc_id, c.n
    )
    SELECT w.doc_id,
           CAST(len(w.ws) AS BIGINT)          AS n_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT)  AS n_spans,
           CAST(coalesce(p.n_masked, 0) AS BIGINT) AS n_masked,
           ((2 * coalesce(p.n_masked, 0) * 10000 + len(w.ws))
                // (2 * len(w.ws))) / 10000.0 AS corruption_rate,
           CAST(coalesce(p.n_masked, 0) + coalesce(p.n_spans, 0) AS BIGINT)
               AS target_len
    FROM w LEFT JOIN per p ON w.doc_id = p.doc_id
    ORDER BY w.doc_id
    """,
    tags=("curation", "training", "masking", "t5", "span-corruption"),
)
def q288_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption masking plan (the T5/UL2 denoising objective's
    data prep): deterministic hash-chosen span starts (1-in-20 of token
    positions, span length 3 → ≈15% corruption, the T5 default) are
    expanded to covered positions, overlaps merged by DISTINCT, and
    each document reports its mask accounting — span count, masked
    tokens, corruption rate, and the encoder-target length (masked
    tokens + one sentinel per span). A trainer shards THIS table to
    materialize corrupted inputs; making the plan a deterministic pure
    function of (doc_id, position) is what lets two pipeline runs —
    or the input and target writers — agree on the same masks with no
    shared state.

    Determinism: mask choice is salted-md5 integer arithmetic per
    (doc, position) — the house derivation discipline (fresh 'mask|'
    salt); all outputs are exact counts and one rounded division.

    Scale posture: pure map-side work per document (explode positions
    → hash filter → distinct within doc) followed by one doc-grain
    rollup; no joins beyond re-attaching the per-doc totals. At
    100 TB the hash filter prunes ~95% of positions before the span
    expansion. Reference contract: per-doc masking = map slot
    (``App.config:16``); accounting rollup = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("ws")
    )
    h = hex_int(
        F.md5(
            F.concat(
                F.lit("mask|"),
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("i").cast("string"),
            )
        ),
        1,
        8,
    )
    starts = (
        w.select(
            "doc_id",
            F.size("ws").alias("n"),
            F.explode(F.sequence(F.lit(1), F.size("ws"))).alias("i"),
        )
        .where((h % _MASK_DENOM == 0) & (F.col("i") + _MASK_SPAN - 1 <= F.col("n")))
    )
    covered = (
        starts.select(
            "doc_id",
            "n",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + _MASK_SPAN - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    n_spans = starts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    per = (
        covered.groupBy("doc_id", "n")
        .agg(F.count(F.lit(1)).alias("n_masked"))
        .join(n_spans, "doc_id")
    )
    base = w.select("doc_id", F.size("ws").alias("n_tokens"))
    ns = F.coalesce(F.col("n_spans"), F.lit(0))
    nm = F.coalesce(F.col("n_masked"), F.lit(0))
    return (
        base.join(per.select("doc_id", "n_spans", "n_masked"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            ns.cast("long").alias("n_spans"),
            nm.cast("long").alias("n_masked"),
            half_up_ratio(nm, F.col("n_tokens"), 4).alias(
                "corruption_rate"
            ),
            (nm + ns).cast("long").alias("target_len"),
        )
        .orderBy("doc_id")
    )


@query(
    "q289_fim_split_plan",
    oracle="""
    WITH w AS (
        SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM documents
    ),
    cuts AS (
        SELECT doc_id, n,
               1 + ('0x' || substr(md5('fim1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % (n - 1) AS c1,
               1 + ('0x' || substr(md5('fim2|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % (n - 1) AS c2
        FROM w WHERE n >= 2
    )
    SELECT doc_id,
           CAST(n AS BIGINT)                          AS n_tokens,
           CAST(least(c1, c2) AS BIGINT)              AS len_prefix,
           CAST(greatest(c1, c2) - least(c1, c2) AS BIGINT) AS len_middle,
           CAST(n - greatest(c1, c2) AS BIGINT)       AS len_suffix,
           ((2 * (greatest(c1, c2) - least(c1, c2)) * 10000 + n)
                // (2 * n)) / 10000.0 AS middle_frac
    FROM cuts
    ORDER BY doc_id
    """,
    tags=("curation", "training", "fim", "split"),
)
def q289_fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle split plan (Bavarian et al., 2022 — the FIM
    transformation behind code-model infilling): two deterministic
    hash-chosen cut points per document split its token stream into
    prefix | middle | suffix; training rearranges to PSM order with the
    middle as the completion target. Emits the per-document length
    accounting (lengths partition the document exactly — the invariant
    tests/test_llm_ops.py pins) and the middle fraction.

    Determinism: cut points are salted-md5 integer arithmetic per
    doc_id (fresh 'fim1|'/'fim2|' salts — independent draws), reduced
    mod (n−1) into [1, n−1]; min/max ordering makes the two draws
    exchangeable.

    Scale posture: strictly map-side — one expression per document, no
    shuffle at all (the sort is presentation-only); the plan table is
    what a sharded trainer joins back to raw text at materialization
    time. Reference contract: per-doc split = map slot
    (``App.config:16``); the rollup is the identity."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = docs.select(
        "doc_id", F.size(F.split(F.lower(F.col("text")), " ")).alias("n")
    ).where(F.col("n") >= 2)

    def cut(salt: str):
        return 1 + hex_int(
            F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8
        ) % (F.col("n") - 1)

    cuts = w.select("doc_id", "n", cut("fim1|").alias("c1"), cut("fim2|").alias("c2"))
    lo = F.least("c1", "c2")
    hi = F.greatest("c1", "c2")
    return cuts.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        lo.cast("long").alias("len_prefix"),
        (hi - lo).cast("long").alias("len_middle"),
        (F.col("n") - hi).cast("long").alias("len_suffix"),
        half_up_ratio(hi - lo, F.col("n"), 4).alias("middle_frac"),
    ).orderBy("doc_id")


# Labeling functions for weak supervision: (name, vote expression).
# Labels: 1 = "engine/tech" doc, 2 = "business" doc, NULL = abstain.
_LF_SQL = (
    ("lf_spark_kw", "CASE WHEN text LIKE '%spark%' THEN 1 END"),
    ("lf_customer_kw", "CASE WHEN text LIKE '%customer%' THEN 2 END"),
    ("lf_long_doc", "CASE WHEN n_chars > 300 THEN 1 END"),
    ("lf_slow_kw", "CASE WHEN text LIKE '%slow%' THEN 2 END"),
)


@query(
    "q291_weak_supervision_lf_summary",
    oracle=f"""
    WITH votes AS (
        {" UNION ALL ".join(f"SELECT doc_id, '{n}' AS lf, {e} AS vote FROM documents" for n, e in _LF_SQL)}
    ),
    cast_votes AS (SELECT * FROM votes WHERE vote IS NOT NULL),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    pairs AS (
        SELECT a.lf, a.doc_id,
               max(CASE WHEN b.lf <> a.lf THEN 1 ELSE 0 END) AS overlapped,
               max(CASE WHEN b.lf <> a.lf AND b.vote <> a.vote
                   THEN 1 ELSE 0 END) AS conflicted
        FROM cast_votes a
        JOIN cast_votes b ON a.doc_id = b.doc_id
        GROUP BY a.lf, a.doc_id
    )
    SELECT p.lf,
           CAST(count(*) AS BIGINT) AS n_votes,
           ((2 * count(*) * 10000 + any_value(nd.n_docs))
                // (2 * any_value(nd.n_docs))) / 10000.0 AS coverage,
           ((2 * sum(p.overlapped) * 10000 + count(*))
                // (2 * count(*))) / 10000.0 AS overlap_rate,
           ((2 * sum(p.conflicted) * 10000 + count(*))
                // (2 * count(*))) / 10000.0 AS conflict_rate
    FROM pairs p CROSS JOIN nd
    GROUP BY p.lf
    ORDER BY p.lf
    """,
    tags=("curation", "weak-supervision", "labeling", "snorkel"),
)
def q291_weak_supervision_lf_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style labeling-function summary (the lf_summary table a
    weak-supervision pipeline inspects before fitting a label model):
    four deterministic LFs vote 1 ("tech"), 2 ("business"), or abstain
    over every document; each LF reports coverage (fraction of corpus
    it votes on), overlap rate (of its votes, how often ANOTHER LF
    also votes), and conflict rate (how often another LF votes
    DIFFERENTLY). High-coverage/low-conflict LFs anchor the label
    model; high-conflict ones get down-weighted or rewritten — this
    table is how you find out which is which without any ground truth.

    Determinism: votes are exact predicates; rates are exact-integer
    divisions rounded at 4.

    Scale posture: one map-side pass emits (doc, lf, vote) triples
    (the unpivot is per-row expression work); overlap/conflict is an
    equi-join on doc_id whose fan-out is bounded by |LFs| (≤4 votes
    per doc, so ≤16 pair rows per doc — linear in corpus, never
    quadratic); the final rollup is |LFs| rows. Reference contract:
    per-doc LF evaluation = map slot (``App.config:16``); summary
    consolidation = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    stack_expr = "stack({}, {}) as (lf, vote)".format(
        len(_LF_SQL),
        ", ".join(f"'{n}', ({e})" for n, e in _LF_SQL),
    )
    votes = docs.select("doc_id", F.expr(stack_expr)).where(
        F.col("vote").isNotNull()
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    a = votes.select("doc_id", "lf", "vote")
    b = votes.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lf").alias("lf_b"),
        F.col("vote").alias("vote_b"),
    )
    pairs = (
        a.join(b, F.col("doc_id") == F.col("doc_id_b"))
        .groupBy("lf", "doc_id")
        .agg(
            F.max(
                F.when(F.col("lf_b") != F.col("lf"), 1).otherwise(0)
            ).alias("overlapped"),
            F.max(
                F.when(
                    (F.col("lf_b") != F.col("lf"))
                    & (F.col("vote_b") != F.col("vote")),
                    1,
                ).otherwise(0)
            ).alias("conflicted"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(nd))
        .groupBy("lf")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_votes"),
            half_up_ratio(
                F.count(F.lit(1)), F.first("n_docs"), 4
            ).alias("coverage"),
            half_up_ratio(
                F.sum("overlapped"), F.count(F.lit(1)), 4
            ).alias("overlap_rate"),
            half_up_ratio(
                F.sum("conflicted"), F.count(F.lit(1)), 4
            ).alias("conflict_rate"),
        )
        .orderBy("lf")
    )


_AL_PER_SOURCE = 2   # diversity cap per source
_AL_BATCH = 16       # labeling batch size


@query(
    "q299_active_learning_batch",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               round(1.0 / (1.0 + exp(-(n_chars - 500) / 200.0)), 6) AS score
        FROM documents
    ),
    margins AS (
        SELECT doc_id, source, score,
               round(abs(score - 0.5), 6) AS margin
        FROM scored
    ),
    diverse AS (
        SELECT doc_id, source, score, margin,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY margin ASC, doc_id ASC) AS rn_src
        FROM margins
    )
    SELECT doc_id, source, score, margin
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY margin ASC, doc_id ASC) AS rn
        FROM diverse WHERE rn_src <= {_AL_PER_SOURCE}
    )
    WHERE rn <= {_AL_BATCH}
    ORDER BY margin, doc_id
    """,
    tags=("curation", "active-learning", "sampling", "labeling"),
)
def q299_active_learning_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based active-learning batch selection with a diversity
    constraint: the documents the quality classifier (q261's scorer)
    is LEAST sure about (|score − 0.5| smallest) are the most
    informative to label next, but uncertainty alone floods the batch
    from whichever source sits nearest the boundary — so selection
    first caps at 2 per source, then takes the global 16 most
    uncertain. This is the loop that turns q261's calibration audit
    and q291's weak labels into a labeling budget.

    Determinism: margins derive from the 6dp-rounded sigmoid; both
    rank stages tie-break on doc_id.

    Scale posture: per-source ranking partitions by source
    (grain-bounded shards; the sample-sort primitive takes over if one
    source dominates); the global stage ranks only the ≤2·|sources|
    survivors — the corpus never reaches an unpartitioned window. The
    per-source cap is also the skew guard. Reference contract:
    per-doc margin = map slot (``App.config:16``); batch selection =
    reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("n_chars") - 500) / 200.0)), 6
        ).alias("score"),
    )
    margins = scored.withColumn(
        "margin", F.round(F.abs(F.col("score") - 0.5), 6)
    )
    w_src = Window.partitionBy("source").orderBy(
        F.asc("margin"), F.asc("doc_id")
    )
    diverse = margins.withColumn("rn_src", F.row_number().over(w_src)).where(
        F.col("rn_src") <= _AL_PER_SOURCE
    )
    w_all = bounded_order(F.asc("margin"), F.asc("doc_id"))
    return (
        diverse.withColumn("rn", F.row_number().over(w_all))
        .where(F.col("rn") <= _AL_BATCH)
        .select("doc_id", "source", "score", "margin")
        .orderBy("margin", "doc_id")
    )


_NEYMAN_BUDGET = 1000  # total samples to allocate


@query(
    "q308_neyman_allocation",
    oracle=f"""
    WITH strata AS (
        SELECT event_type,
               count(*) AS nh,
               sqrt(sum(value * value) / count(*)
                    - (sum(value) / count(*)) * (sum(value) / count(*)))
                   AS sh
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(nh * sh ORDER BY event_type)), (a, b) -> a + b) AS z,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list(nh ORDER BY event_type)), (a, b) -> a + b) AS n_total
        FROM strata
    )
    SELECT s.event_type,
           CAST(s.nh AS BIGINT) AS n_pop,
           round(s.sh, 4) AS stratum_std,
           CAST(round({_NEYMAN_BUDGET} * s.nh * s.sh / z.z) AS BIGINT)
               AS neyman_n,
           CAST(round({_NEYMAN_BUDGET} * CAST(s.nh AS DOUBLE) / z.n_total)
               AS BIGINT) AS proportional_n
    FROM strata s CROSS JOIN z
    ORDER BY s.event_type
    """,
    tags=("curation", "sampling", "stratified", "neyman", "statistics"),
)
def q308_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (optimal) stratified-sample allocation: given a 1000-row
    labeling/inspection budget over event-type strata, allocate
    n_h ∝ N_h·S_h (stratum size × stratum standard deviation) — the
    variance-minimizing split survey statistics prescribes — side by
    side with naive proportional allocation, so the reader sees where
    variability (not just volume) demands samples. This prices q299's
    labeling budget and q56's stratified draw correctly.

    Determinism: population variance from exact sums (one sqrt,
    correctly rounded IEEE); the N·S normalizer folds in stratum
    order; allocations are round() of a single division.

    Scale posture: one partial+final aggregate to |strata| rows;
    everything after is arithmetic on that tiny table with a 1-row
    broadcast normalizer. Reference contract: per-event moment
    accumulation = map slot (``App.config:16``); allocation =
    reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    strata = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sqrt(
            F.sum(F.col("value") * F.col("value")) / F.count(F.lit(1))
            - (F.sum("value") / F.count(F.lit(1)))
            * (F.sum("value") / F.count(F.lit(1)))
        ).alias("sh"),
    )
    z = strata.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("event_type"), (F.col("nh") * F.col("sh")).alias("ns"))
                    )
                ),
                lambda s: s.getField("ns"),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("z"),
        F.sum("nh").alias("n_total"),
    )
    return (
        strata.crossJoin(F.broadcast(z))
        .select(
            "event_type",
            F.col("nh").cast("long").alias("n_pop"),
            F.round("sh", 4).alias("stratum_std"),
            F.round(
                _NEYMAN_BUDGET * F.col("nh") * F.col("sh") / F.col("z"), 0
            ).cast("long").alias("neyman_n"),
            F.round(
                _NEYMAN_BUDGET * F.col("nh").cast("double") / F.col("n_total"), 0
            ).cast("long").alias("proportional_n"),
        )
        .orderBy("event_type")
    )


_COV_K = 8   # documents to select


def _coverage_oracle() -> str:
    """Unrolled greedy max-coverage (MATERIALIZED per round — each
    round references the covered mask twice, the q103/q286 rule)."""
    head = """
    WITH vocab AS MATERIALIZED (
        SELECT w, row_number() OVER (ORDER BY w) - 1 AS idx
        FROM (SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
    ),
    nv AS MATERIALIZED (SELECT count(*) AS nv FROM vocab),
    dm AS MATERIALIZED (
        SELECT t.doc_id, bit_or(1::BIGINT << v.idx) AS mask
        FROM (SELECT DISTINCT doc_id,
                     unnest(string_split(lower(text), ' ')) AS w
              FROM documents) t
        JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
    ),
    s1 AS MATERIALIZED (
        SELECT doc_id, 1 AS step, bit_count(mask) AS gain, mask AS cov
        FROM dm ORDER BY bit_count(mask) DESC, doc_id ASC LIMIT 1
    )"""
    rounds = []
    for t in range(2, _COV_K + 1):
        prev = f"s{t - 1}"
        rounds.append(f"""
    w{t} AS MATERIALIZED (
        SELECT d.doc_id, {t} AS step,
               bit_count(d.mask & ~p.cov) AS gain,
               p.cov | d.mask AS cov
        FROM dm d CROSS JOIN (SELECT cov FROM {prev}
                              WHERE step = {t - 1}) p
        WHERE d.doc_id NOT IN (SELECT doc_id FROM {prev})
        ORDER BY bit_count(d.mask & ~p.cov) DESC, d.doc_id ASC LIMIT 1
    ),
    s{t} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM w{t}
    )""")
    tail = f"""
    SELECT s.step, s.doc_id,
           CAST(s.gain AS BIGINT) AS gain,
           CAST(bit_count(s.cov) AS BIGINT) AS covered_terms,
           ((2 * bit_count(s.cov) * 10000 + nv.nv) // (2 * nv.nv))
               / 10000.0 AS coverage_frac
    FROM s{_COV_K} s CROSS JOIN nv
    ORDER BY s.step
    """
    return head + "," + ",".join(rounds) + tail


@query(
    "q307_submodular_coverage_selection",
    oracle=_coverage_oracle(),
    tags=("curation", "selection", "submodular", "coverage", "iterative"),
)
def q307_submodular_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Submodular data selection by greedy max-coverage: pick 8
    documents that together cover as much of the corpus vocabulary as
    possible — each round selects the document adding the most
    still-uncovered terms (the (1−1/e)-approximate greedy that
    facility-location/coverage-based data-selection methods use to
    build small high-diversity training subsets). Emits each pick with
    its marginal gain and the running coverage fraction — the
    saturation curve that tells you when more data stops helping.

    Determinism: term sets compress to BIGINT bitmasks over the sorted
    vocabulary; a runtime guard rejects vocabularies wider than 63
    terms (``shiftleft`` on a BIGINT wraps mod 64 silently in the JVM
    — and DuckDB wraps too, so the differential could NOT catch the
    corruption); wider vocabularies use an array-of-words mask — same
    plan. Gains are exact popcounts; ties break on doc_id.

    Scale posture: masks are built in one (doc, term) distinct shuffle
    + vocab-grain broadcast join; each greedy round is a map-side
    popcount against a 1-row broadcast covered-mask plus a
    TakeOrdered(1) — corpus touched k times but never shuffled after
    the mask build, with the covered mask localCheckpoint-ed per round
    (the q103/q286 iterative discipline). Lazy-greedy or stochastic
    variants cut the k passes at larger k; the plan shape is
    unchanged. Reference contract: per-doc mask build = map slot
    (``App.config:16``); greedy consolidation = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).distinct()
    vocab = (
        words.select("w")
        .distinct()
        .orderBy("w")
        .select(
            "w",
            (F.row_number().over(bounded_order("w")) - 1).alias("idx"),
        )
    )
    nv = vocab.agg(F.count(F.lit(1)).alias("nv"))
    # Bitmask-width guard: shiftleft(1L, idx) wraps mod 64 in the JVM
    # with no error — and DuckDB's oracle wraps identically, so the
    # differential would stay green on corrupted masks. Fail loudly
    # instead; idx 0..62 keeps the sign bit clear. (1-row bounded
    # collect, same cost class as the per-round localCheckpoints.)
    nv_val = nv.first()["nv"]
    if nv_val > 63:
        raise ValueError(
            f"q307 bitmask coverage supports at most 63 vocabulary terms, "
            f"got {nv_val}; use an array-of-words mask for wider vocabularies"
        )
    dm = (
        words.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.expr("bit_or(shiftleft(cast(1 as bigint), idx))").alias("mask")
        )
        .persist()
    )
    sel = (
        dm.select(
            "doc_id",
            F.lit(1).alias("step"),
            F.expr("bit_count(mask)").alias("gain"),
            F.col("mask").alias("cov"),
        )
        .orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(1)
        .localCheckpoint(eager=True)
    )
    for t in range(2, _COV_K + 1):
        prev_cov = sel.where(F.col("step") == t - 1).select(
            F.col("cov").alias("pcov")
        )
        winner = (
            dm.join(sel.select("doc_id"), "doc_id", "left_anti")
            .crossJoin(F.broadcast(prev_cov))
            .select(
                "doc_id",
                F.lit(t).alias("step"),
                F.expr("bit_count(mask & ~pcov)").alias("gain"),
                F.expr("pcov | mask").alias("cov"),
            )
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
        )
        sel = sel.unionAll(winner).localCheckpoint(eager=True)
    return (
        sel.crossJoin(F.broadcast(nv))
        .select(
            "step",
            "doc_id",
            F.col("gain").cast("long").alias("gain"),
            F.expr("cast(bit_count(cov) as bigint)").alias("covered_terms"),
            half_up_ratio(
                F.expr("bit_count(cov)"), F.col("nv"), 4
            ).alias("coverage_frac"),
        )
        .orderBy("step")
    )


_SHARD_N = 16  # q75's shard fan-out


@query(
    "q313_shard_entropy_balance",
    oracle=f"""
    WITH toks AS (
        SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
                   % {_SHARD_N} AS shard,
               unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    sh AS (
        SELECT shard, w, count(*) AS c FROM toks GROUP BY shard, w
    ),
    sh_tot AS (SELECT shard, sum(c) AS n FROM sh GROUP BY shard),
    sh_ent AS (
        SELECT s.shard,
               -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list((s.c / CAST(t.n AS DOUBLE))
                        * ln(s.c / CAST(t.n AS DOUBLE)) ORDER BY s.w)),
                   (a, b) -> a + b) AS ent,
               any_value(t.n) AS n_tokens
        FROM sh s JOIN sh_tot t ON s.shard = t.shard
        GROUP BY s.shard
    ),
    corpus AS (
        SELECT -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list((c / CAST(tot AS DOUBLE))
                        * ln(c / CAST(tot AS DOUBLE)) ORDER BY w)),
                   (a, b) -> a + b) AS corpus_ent
        FROM (SELECT w, sum(c) AS c FROM sh GROUP BY w),
             (SELECT sum(c) AS tot FROM sh)
        GROUP BY tot
    )
    SELECT s.shard,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           round(s.ent, 6) AS shard_entropy,
           round(c.corpus_ent, 6) AS corpus_entropy,
           round(s.ent - c.corpus_ent, 6) + 0.0 AS entropy_gap
    FROM sh_ent s CROSS JOIN corpus c
    ORDER BY s.shard
    """,
    tags=("curation", "sharding", "entropy", "balance", "audit"),
)
def q313_shard_entropy_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard content-balance audit: each of q75's 16 hash shards
    reports its token-distribution Shannon entropy against the
    corpus-wide entropy. Hash sharding balances SIZES by construction
    (q75 checks that); this checks the shards are also content-IID —
    a shard whose entropy sits well below the corpus's is topically
    concentrated, which turns into correlated gradients when a trainer
    consumes shards sequentially. The gap column is the alarm.

    Determinism: entropies fold per shard in token order over exact
    count ratios; ln takes identical operands both engines; the gap
    rounds with signed-zero normalization.

    Scale posture: one (shard, token) partial+final count — the only
    corpus shuffle; both entropy rollups run at (shards × vocab)
    grain. At 100 TB the same table feeds q75's size manifest and
    this balance audit in one pass. Reference contract: per-doc token
    emission = map slot (``App.config:16``); entropy consolidation =
    reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    shard = hex_int(F.md5(F.col("doc_id").cast("string")), 9, 8) % _SHARD_N
    toks = docs.select(
        shard.alias("shard"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    )
    sh = toks.groupBy("shard", "w").agg(F.count(F.lit(1)).alias("c"))
    sh_tot = sh.groupBy("shard").agg(F.sum("c").alias("n"))

    def entropy_fold(key_col):
        return -F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(key_col, F.col("term")))),
                lambda s: s.getField("term"),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    sh_ent = (
        sh.join(sh_tot, "shard")
        .select(
            "shard",
            "w",
            "n",
            (
                (F.col("c") / F.col("n").cast("double"))
                * F.log(F.col("c") / F.col("n").cast("double"))
            ).alias("term"),
        )
        .groupBy("shard")
        .agg(
            entropy_fold(F.col("w")).alias("ent"),
            F.first("n").alias("n_tokens"),
        )
    )
    corpus_counts = sh.groupBy("w").agg(F.sum("c").alias("c"))
    tot = corpus_counts.agg(F.sum("c").alias("tot"))
    corpus = (
        corpus_counts.crossJoin(F.broadcast(tot))
        .select(
            "w",
            (
                (F.col("c") / F.col("tot").cast("double"))
                * F.log(F.col("c") / F.col("tot").cast("double"))
            ).alias("term"),
        )
        .agg(entropy_fold(F.col("w")).alias("corpus_ent"))
    )

    return (
        sh_ent.crossJoin(F.broadcast(corpus))
        .select(
            "shard",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("ent", 6).alias("shard_entropy"),
            F.round("corpus_ent", 6).alias("corpus_entropy"),
            round_nz(F.col("ent") - F.col("corpus_ent"), 6).alias(
                "entropy_gap"
            ),
        )
        .orderBy("shard")
    )


def _exp_arm() -> Column:
    """A/B arm of a user, ``md5('exp|' || user_id)`` read as a BIGINT
    mod 2: the one assignment q318, q320, q334, q336, q344 and q347
    share."""
    return (
        hex_int(F.md5(F.concat(F.lit("exp|"), F.col("user_id").cast("string"))), 1, 8)
        % 2
    )


@query(
    "q318_cuped_variance_reduction",
    oracle="""
    WITH marks AS (
        -- integer-µs midpoint: interval division decomposes days and
        -- micros separately in DuckDB and diverges from Spark
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
        FROM events
    ),
    user_metrics AS (
        SELECT e.user_id,
               ('0x' || substr(md5('exp|' || CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 AS arm,
               sum(CASE WHEN epoch_us(e.ts) < m.mid_us
                   THEN e.value ELSE 0 END) AS pre,
               sum(CASE WHEN epoch_us(e.ts) >= m.mid_us
                   THEN e.value ELSE 0 END) AS post
        FROM events e CROSS JOIN marks m
        GROUP BY e.user_id, arm
    ),
    moments AS (
        SELECT count(*) AS n,
               sum(pre) / count(*) AS mpre,
               sum(post) / count(*) AS mpost,
               (sum(pre * post) - sum(pre) * sum(post) / count(*))
                   / count(*) AS cov_pp,
               (sum(pre * pre) - sum(pre) * sum(pre) / count(*))
                   / count(*) AS var_pre,
               (sum(post * post) - sum(post) * sum(post) / count(*))
                   / count(*) AS var_post
        FROM user_metrics
    ),
    adj AS (
        SELECT u.arm,
               count(*) AS n_users,
               sum(u.post) / count(*) AS raw_mean,
               sum(u.post - (m.cov_pp / m.var_pre) * (u.pre - m.mpre))
                   / count(*) AS cuped_mean,
               m.cov_pp * m.cov_pp / (m.var_pre * m.var_post) AS rho2
        FROM user_metrics u CROSS JOIN moments m
        GROUP BY u.arm, m.cov_pp, m.var_pre, m.var_post
    )
    SELECT arm,
           CAST(n_users AS BIGINT) AS n_users,
           round(raw_mean, 4)   AS raw_mean,
           round(cuped_mean, 4) AS cuped_mean,
           round(rho2, 4)       AS variance_reduction
    FROM adj
    ORDER BY arm
    """,
    tags=("experimentation", "cuped", "variance-reduction", "ab-test"),
)
def q318_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the standard
    industry A/B variance-reduction technique): users hash-split into
    two arms ('exp|' salt, the q55 assignment discipline); each user's
    pre-period value total (first half of the window) is the
    covariate; the adjusted metric is post − θ(pre − mean(pre)) with
    θ = cov(pre, post)/var(pre), cutting metric variance by ρ² — the
    variance_reduction column — which shrinks experiment durations by
    the same factor. Emits per-arm raw vs CUPED-adjusted means.

    Determinism: assignment is exact hash arithmetic; moments are
    sums of doubles whose partial-aggregation reordering noise
    (~1e-10 relative) sits far below the 4dp output grid — the q311
    tolerance rationale — with every division a single IEEE op.

    Scale posture: one user-grain partial+final aggregate builds
    (pre, post); θ comes from a 1-row moment broadcast; the adjusted
    rollup is a second pass over user grain. No window, no pair
    blow-up. Reference contract: per-event period bucketing = map
    slot (``App.config:16``); moment + arm consolidation = reduce
    slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    marks = events.agg(
        (
            (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2
        ).cast("long").alias("mid_us")
    )
    arm = _exp_arm()
    um = (
        events.crossJoin(F.broadcast(marks))
        .groupBy("user_id", arm.alias("arm"))
        .agg(
            F.sum(
                F.when(
                    F.unix_micros("ts") < F.col("mid_us"), F.col("value")
                ).otherwise(0.0)
            ).alias("pre"),
            F.sum(
                F.when(
                    F.unix_micros("ts") >= F.col("mid_us"), F.col("value")
                ).otherwise(0.0)
            ).alias("post"),
        )
    )
    n = F.count(F.lit(1))
    moments = um.agg(
        (F.sum("pre") / n).alias("mpre"),
        (
            (F.sum(F.col("pre") * F.col("post")) - F.sum("pre") * F.sum("post") / n)
            / n
        ).alias("cov_pp"),
        (
            (F.sum(F.col("pre") * F.col("pre")) - F.sum("pre") * F.sum("pre") / n)
            / n
        ).alias("var_pre"),
        (
            (
                F.sum(F.col("post") * F.col("post"))
                - F.sum("post") * F.sum("post") / n
            )
            / n
        ).alias("var_post"),
    )
    return (
        um.crossJoin(F.broadcast(moments))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.sum("post") / F.count(F.lit(1)), 4).alias("raw_mean"),
            F.round(
                F.sum(
                    F.col("post")
                    - (F.col("cov_pp") / F.col("var_pre"))
                    * (F.col("pre") - F.col("mpre"))
                )
                / F.count(F.lit(1)),
                4,
            ).alias("cuped_mean"),
            F.round(
                F.first(
                    F.col("cov_pp")
                    * F.col("cov_pp")
                    / (F.col("var_pre") * F.col("var_post"))
                ),
                4,
            ).alias("variance_reduction"),
        )
        .orderBy("arm")
    )


_FS_NUMERIC = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_FS_CORR_FLAG = 0.8
_FS_NZV_RATIO = 0.02  # variance/mean^2 below this -> near-constant


@query(
    "q319_feature_screening",
    oracle=f"""
    WITH moments AS (
        SELECT {", ".join(
            f"sum({c}) AS s_{c}, sum({c} * {c}) AS ss_{c}" for c in _FS_NUMERIC
        )}, count(*) AS n
        FROM lineitem
    ),
    stats AS (
        {" UNION ALL ".join(
            f"SELECT '{c}' AS feature, s_{c} / n AS mean,"
            f" ss_{c} / n - (s_{c} / n) * (s_{c} / n) AS var FROM moments"
            for c in _FS_NUMERIC
        )}
    )
    SELECT s.feature,
           round(s.mean, 4) AS mean,
           round(s.var, 4)  AS variance,
           (s.var / (s.mean * s.mean) < {_FS_NZV_RATIO}) AS near_zero_variance
    FROM stats s
    ORDER BY s.feature
    """,
    tags=("curation", "features", "screening", "statistics"),
)
def q319_feature_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature screening over the lineitem numeric columns: per-feature
    mean/variance with a near-zero-variance flag (relative variance
    var/mean² below 2% — the caret/sklearn NZV screen that drops
    features carrying no signal before any model touches them).

    Determinism: exact moment sums at 2dp-decimal inputs; flags
    compare unrounded ratios identically on both engines.

    Scale posture: ALL feature moments ride ONE aggregate pass (a
    single partial+final row of sums — not one scan per feature),
    then unpivot to feature grain. Reference contract: per-row moment
    accumulation = map slot (``App.config:16``); screen consolidation
    = reduce slot (``App.config:17``)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    aggs = []
    for c in _FS_NUMERIC:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    moments = li.agg(*aggs)
    stack = "stack({}, {}) as (feature, mean, var)".format(
        len(_FS_NUMERIC),
        ", ".join(
            f"'{c}', s_{c} / n, ss_{c} / n - (s_{c} / n) * (s_{c} / n)"
            for c in _FS_NUMERIC
        ),
    )
    stats = moments.select(F.expr(stack))
    return stats.select(
        "feature",
        F.round("mean", 4).alias("mean"),
        F.round("var", 4).alias("variance"),
        (
            F.col("var") / (F.col("mean") * F.col("mean")) < _FS_NZV_RATIO
        ).alias("near_zero_variance"),
    ).orderBy("feature")


@query(
    "q320_difference_in_differences",
    oracle="""
    WITH marks AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
        FROM events
    ),
    cells AS (
        SELECT ('0x' || substr(md5('exp|' || CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 AS arm,
               CASE WHEN epoch_us(e.ts) < m.mid_us THEN 0 ELSE 1 END AS period,
               count(*) AS n,
               sum(e.value) / count(*) AS mean_value
        FROM events e CROSS JOIN marks m
        GROUP BY arm, period
    ),
    did AS (
        SELECT ((SELECT mean_value FROM cells WHERE arm = 1 AND period = 1)
                - (SELECT mean_value FROM cells WHERE arm = 1 AND period = 0))
               - ((SELECT mean_value FROM cells WHERE arm = 0 AND period = 1)
                  - (SELECT mean_value FROM cells WHERE arm = 0 AND period = 0))
                   AS did_estimate
    )
    SELECT c.arm, c.period,
           CAST(c.n AS BIGINT) AS n_events,
           round(c.mean_value, 4) AS mean_value,
           round(d.did_estimate, 4) + 0.0 AS did_estimate
    FROM cells c CROSS JOIN did d
    ORDER BY c.arm, c.period
    """,
    tags=("experimentation", "causal", "did", "ab-test"),
)
def q320_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference workhorse when
    assignment isn't randomized per-exposure: the q318 hash arms ×
    pre/post periods form the 2×2 design, and the DiD estimate
    (Δtreated − Δcontrol) cancels both the arms' level difference and
    the common time trend. Emits all four cell means (the parallel-
    trends eyeball check) with the estimate on every row.

    Determinism: q318's exact hash assignment and integer-µs period
    split; cell means are exact-count divisions; the estimate rounds
    with signed-zero normalization (it is a difference of
    differences).

    Scale posture: ONE partial+final aggregate to 4 cells; the
    estimate is arithmetic on that 4-row table (broadcast back).
    Reference contract: per-event cell bucketing = map slot
    (``App.config:16``); cell + estimate consolidation = reduce slot
    (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    marks = events.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("mid_us")
    )
    arm = _exp_arm()
    cells = (
        events.crossJoin(F.broadcast(marks))
        .groupBy(
            arm.alias("arm"),
            F.when(F.unix_micros("ts") < F.col("mid_us"), 0)
            .otherwise(1)
            .alias("period"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("value") / F.count(F.lit(1))).alias("mean_value"),
        )
    )
    pick = lambda a, p: F.max(
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col("mean_value"))
    )
    did = cells.agg(
        ((pick(1, 1) - pick(1, 0)) - (pick(0, 1) - pick(0, 0))).alias(
            "did_estimate"
        )
    )
    return (
        cells.crossJoin(F.broadcast(did))
        .select(
            "arm",
            "period",
            F.col("n").cast("long").alias("n_events"),
            F.round("mean_value", 4).alias("mean_value"),
            round_nz(F.col("did_estimate"), 4).alias("did_estimate"),
        )
        .orderBy("arm", "period")
    )


@query(
    "q321_dataset_card",
    oracle="""
    WITH base AS (
        SELECT count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs,
               count(DISTINCT source) AS n_sources,
               sum(n_chars) AS total_chars,
               sum(len(string_split(text, ' '))) AS total_ws_tokens,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars
        FROM documents
    ),
    dup AS (
        SELECT count(*) AS n_distinct_texts
        FROM (SELECT DISTINCT md5(text) FROM documents)
    )
    SELECT metric, value FROM (
        SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value, 1 AS ord
            FROM base
        UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE), 2 FROM base
        UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE), 3 FROM base
        UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE), 4 FROM base
        UNION ALL SELECT 'total_ws_tokens', CAST(total_ws_tokens AS DOUBLE), 5
            FROM base
        UNION ALL SELECT 'avg_chars_per_doc',
            ((2 * total_chars * 10000 + n_docs) // (2 * n_docs))
                / 10000.0, 6 FROM base
        UNION ALL SELECT 'min_chars', CAST(min_chars AS DOUBLE), 7 FROM base
        UNION ALL SELECT 'max_chars', CAST(max_chars AS DOUBLE), 8 FROM base
        UNION ALL SELECT 'exact_dup_rate',
            ((2 * (b.n_docs - d.n_distinct_texts) * 1000000 + b.n_docs)
                 // (2 * b.n_docs)) / 1000000.0, 9
            FROM base b CROSS JOIN dup d
    ) ORDER BY ord
    """,
    tags=("curation", "profile", "dataset-card", "summary"),
)
def q321_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the one-table corpus summary shipped alongside a
    published dataset (HuggingFace card / Datasheets for Datasets):
    document/language/source counts, character and whitespace-token
    totals, per-doc length envelope, and the exact-duplicate rate —
    the headline numbers every downstream consumer reads first. Each
    statistic exists as a dedicated operator (q50 tokens, q59 profile,
    q60 dedup); this is the roll-up a `describe_corpus()` API returns.

    Determinism: exact counts and extrema; two rounded divisions.

    Scale posture: one partial+final pass for the base stats plus one
    content-hash distinct for the dup rate (hash computed map-side,
    the q60 plan) — two corpus scans total, both shuffle-light.
    Reference contract: per-doc accounting = map slot
    (``App.config:16``); card consolidation = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("total_ws_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    dup = docs.select(F.md5("text").alias("h")).distinct().agg(
        F.count(F.lit(1)).alias("n_distinct_texts")
    )
    joined = base.crossJoin(F.broadcast(dup))
    rows = [
        ("n_docs", F.col("n_docs").cast("double"), 1),
        ("n_langs", F.col("n_langs").cast("double"), 2),
        ("n_sources", F.col("n_sources").cast("double"), 3),
        ("total_chars", F.col("total_chars").cast("double"), 4),
        ("total_ws_tokens", F.col("total_ws_tokens").cast("double"), 5),
        (
            "avg_chars_per_doc",
            half_up_ratio(F.col("total_chars"), F.col("n_docs"), 4),
            6,
        ),
        ("min_chars", F.col("min_chars").cast("double"), 7),
        ("max_chars", F.col("max_chars").cast("double"), 8),
        (
            "exact_dup_rate",
            half_up_ratio(
                F.col("n_docs") - F.col("n_distinct_texts"),
                F.col("n_docs"),
                6,
            ),
            9,
        ),
    ]
    card = joined.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"),
                        v.alias("value"),
                        F.lit(o).alias("ord"),
                    )
                    for m, v, o in rows
                ]
            )
        ).alias("r")
    )
    return (
        card.select(
            F.col("r.metric").alias("metric"), F.col("r.value").alias("value"), F.col("r.ord").alias("ord")
        )
        .orderBy("ord")
        .drop("ord")
        .select("metric", "value")
    )


_KM_BIN_DAYS = 30
_KM_CHURN_GAP_DAYS = 90
_US_PER_DAY = 86_400_000_000


@query(
    "q322_kaplan_meier_survival",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               min(epoch_us(o_orderdate) // {_US_PER_DAY}) AS f_day,
               max(epoch_us(o_orderdate) // {_US_PER_DAY}) AS l_day
        FROM orders GROUP BY o_custkey
    ),
    horizon AS (
        SELECT max(epoch_us(o_orderdate) // {_US_PER_DAY}) AS mx_day FROM orders
    ),
    labeled AS (
        SELECT (p.l_day - p.f_day) // {_KM_BIN_DAYS} AS bin,
               CASE WHEN h.mx_day - p.l_day > {_KM_CHURN_GAP_DAYS}
                    THEN 1 ELSE 0 END AS ev
        FROM per_cust p CROSS JOIN horizon h
    ),
    bins AS (
        SELECT bin, sum(ev) AS deaths, sum(1 - ev) AS censored
        FROM labeled GROUP BY bin
    ),
    tot AS (SELECT sum(deaths + censored) AS n_total FROM bins),
    at_risk AS (
        SELECT b.bin, b.deaths, b.censored,
               t.n_total - coalesce(sum(b.deaths + b.censored) OVER (
                   ORDER BY b.bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM bins b CROSS JOIN tot t
    )
    SELECT CAST(bin * {_KM_BIN_DAYS} AS BIGINT) AS bin_start_days,
           CAST(n_risk AS BIGINT)   AS n_risk,
           CAST(deaths AS BIGINT)   AS deaths,
           CAST(censored AS BIGINT) AS censored,
           round(product(1.0 - CAST(deaths AS DOUBLE) / n_risk) OVER (
               ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0
               AS survival
    FROM at_risk
    ORDER BY bin_start_days
    """,
    tags=("experimentation", "survival", "kaplan-meier", "statistics"),
)
def q322_kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over customer order lifetimes: per
    customer the observation is last-minus-first order day (binned to
    30-day intervals); the "death" event is churn (no order within 90
    days of the corpus horizon), otherwise the lifetime is right-
    censored — the estimator the retention deck actually plots, with
    censoring handled correctly instead of dropped.

    Determinism: day indices are integer µs-divisions; each hazard
    d/n_risk is ONE IEEE division of exact integers (bit-identical
    cross-engine); the cumulative product multiplies those factors in
    ascending-bin frame order on both engines, so the unrounded
    survival is bit-identical before the signed-zero-safe round.

    Scale posture: per-customer extrema and bin counts are partial+
    final aggregates; the KM table itself is BOUNDED grain (lifetime
    range / 30 days ≈ 25 rows no matter the scale factor), so the
    ordered cumulative windows run over a ≤25-row frame — the heavy
    lifting (N customers → 25 bins) all happens in the parallel
    aggregates. Reference contract: per-customer lifetime extraction =
    map slot (``App.config:16``); life-table consolidation = reduce
    slot (``App.config:17``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    day = F.expr(f"unix_micros(o_orderdate) div {_US_PER_DAY}")
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(day).alias("f_day"), F.max(day).alias("l_day")
    )
    horizon = orders.agg(F.max(day).alias("mx_day"))
    labeled = per_cust.crossJoin(F.broadcast(horizon)).select(
        F.expr(f"(l_day - f_day) div {_KM_BIN_DAYS}").alias("bin"),
        F.when(
            F.col("mx_day") - F.col("l_day") > _KM_CHURN_GAP_DAYS, 1
        )
        .otherwise(0)
        .alias("ev"),
    )
    bins = labeled.groupBy("bin").agg(
        F.sum("ev").alias("deaths"), F.sum(1 - F.col("ev")).alias("censored")
    )
    tot = bins.agg(F.sum(F.col("deaths") + F.col("censored")).alias("n_total"))
    # Bounded grain: lifetimes span ~2 years -> <=25 bins; the ordered
    # windows below run over that fixed-size life table, never the
    # customer population (same justification as relational.py's
    # bounded-bin cumulative histogram).
    wprev = bounded_order("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcum = bounded_order("bin").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = bins.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n_total")
        - F.coalesce(
            F.sum(F.col("deaths") + F.col("censored")).over(wprev), F.lit(0)
        ),
    )
    return at_risk.select(
        (F.col("bin") * _KM_BIN_DAYS).cast("long").alias("bin_start_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("deaths").cast("long").alias("deaths"),
        F.col("censored").cast("long").alias("censored"),
        round_nz(
            F.product(
                F.lit(1.0)
                - F.col("deaths").cast("double") / F.col("n_risk")
            ).over(wcum),
            6,
        ).alias("survival"),
    ).orderBy("bin_start_days")


_BH_FDR_Q_NUM = 1  # q = 1/10 kept as a ratio so the step-up
_BH_FDR_Q_DEN = 10  # comparison p*m*10 <= i stays in exact arithmetic


@query(
    "q323_bh_fdr_control",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               (epoch_us(ts) // {_US_PER_DAY}) % 7 AS dow,
               count(*) AS n,
               sum(CAST(round(value * 100) AS BIGINT)) AS s,
               sum(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS ss
        FROM events GROUP BY event_type, dow
    ),
    gstats AS (
        SELECT sum(n) AS gn, sum(s) AS gs, sum(ss) AS gss FROM cells
    ),
    pvals AS (
        SELECT c.event_type, c.dow, c.n,
               CASE WHEN c.n
                         * (CAST(c.s AS DOUBLE) / (100.0 * c.n)
                            - CAST(g.gs AS DOUBLE) / (100.0 * g.gn))
                         * (CAST(c.s AS DOUBLE) / (100.0 * c.n)
                            - CAST(g.gs AS DOUBLE) / (100.0 * g.gn))
                         / (CAST(g.gss AS DOUBLE) / (10000.0 * g.gn)
                            - (CAST(g.gs AS DOUBLE) / (100.0 * g.gn))
                              * (CAST(g.gs AS DOUBLE) / (100.0 * g.gn))) > 0
                    THEN least(1.0,
                        1.0 / (c.n
                         * (CAST(c.s AS DOUBLE) / (100.0 * c.n)
                            - CAST(g.gs AS DOUBLE) / (100.0 * g.gn))
                         * (CAST(c.s AS DOUBLE) / (100.0 * c.n)
                            - CAST(g.gs AS DOUBLE) / (100.0 * g.gn))
                         / (CAST(g.gss AS DOUBLE) / (10000.0 * g.gn)
                            - (CAST(g.gs AS DOUBLE) / (100.0 * g.gn))
                              * (CAST(g.gs AS DOUBLE) / (100.0 * g.gn)))))
                    ELSE 1.0 END AS p
        FROM cells c CROSS JOIN gstats g
    ),
    ranked AS (
        SELECT event_type, dow, n, p,
               row_number() OVER (ORDER BY p, event_type, dow) AS i,
               count(*) OVER () AS m
        FROM pvals
    ),
    cutoff AS (
        SELECT max(CASE WHEN p * m * {_BH_FDR_Q_DEN} <= i * {_BH_FDR_Q_NUM}
                        THEN i ELSE 0 END) AS k
        FROM ranked
    )
    SELECT r.event_type,
           CAST(r.dow AS INTEGER) AS dow,
           CAST(r.n AS BIGINT) AS n_events,
           round(r.p, 6) AS p_chebyshev,
           CAST(r.i AS INTEGER) AS p_rank,
           (r.i <= c.k) AS rejected
    FROM ranked r CROSS JOIN cutoff c
    ORDER BY p_rank
    """,
    tags=("experimentation", "fdr", "multiple-testing", "statistics"),
)
def q323_bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over the (event_type × day-of-
    week) mean-value hypothesis family: each cell tests "does this
    cell's mean spend differ from the global mean", the per-cell
    p-value is the distribution-free Chebyshev bound min(1, 1/z²)
    with z² = n·(μ_cell − μ_global)²/σ²_global (no normal CDF — erf is
    libm-dependent and cross-engine unsafe), and the BH step-up
    procedure rejects the largest prefix of the p-sorted family with
    p₍ᵢ₎ ≤ i·q/m at q = 0.10. The multiple-testing gate every
    metrics-cutting dashboard needs before coloring cells red.

    Determinism: cell moments are exact integer cents (and cents²)
    sums; every downstream quantity is the same fixed sequence of IEEE
    divisions/multiplications on both engines, so p-values are
    bit-identical pre-round; the step-up comparison p·m·10 ≤ i avoids
    the inexact literal 0.1; rank ties break on (event_type, dow).

    Scale posture: the corpus collapses to ≤(types × 7) cells in ONE
    partial+final aggregate; ranking and the step-up cutoff run at
    that bounded family grain (the window spans ≤35 rows by
    construction). Reference contract: per-event cell accumulation =
    map slot (``App.config:16``); family-wise decision = reduce slot
    (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    cents = F.round(F.col("value") * 100).cast("long")
    cells = events.groupBy(
        "event_type",
        (F.expr(f"unix_micros(ts) div {_US_PER_DAY}") % 7).alias("dow"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    glob = cells.agg(
        F.sum("n").alias("gn"), F.sum("s").alias("gs"), F.sum("ss").alias("gss")
    )
    mean_c = F.col("s").cast("double") / (100.0 * F.col("n"))
    mean_g = F.col("gs").cast("double") / (100.0 * F.col("gn"))
    var_g = F.col("gss").cast("double") / (10000.0 * F.col("gn")) - mean_g * mean_g
    z2 = F.col("n") * (mean_c - mean_g) * (mean_c - mean_g) / var_g
    pvals = cells.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "dow",
        "n",
        F.when(z2 > 0, F.least(F.lit(1.0), F.lit(1.0) / z2))
        .otherwise(F.lit(1.0))
        .alias("p"),
    )
    ranked = rank_small(
        pvals,
        key=[
            F.col("p").alias("p_key"),
            F.col("event_type").alias("et_key"),
            F.col("dow").alias("dow_key"),
        ],
        payload=["event_type", "dow", "n", "p"],
        out="i",
    )
    sized = ranked.crossJoin(
        F.broadcast(ranked.agg(F.max("i").alias("m")))
    )
    cutoff = sized.agg(
        F.max(
            F.when(
                F.col("p") * F.col("m") * _BH_FDR_Q_DEN
                <= F.col("i") * _BH_FDR_Q_NUM,
                F.col("i"),
            ).otherwise(0)
        ).alias("k")
    )
    return (
        sized.crossJoin(F.broadcast(cutoff))
        .select(
            "event_type",
            F.col("dow").cast("integer").alias("dow"),
            F.col("n").cast("long").alias("n_events"),
            F.round("p", 6).alias("p_chebyshev"),
            F.col("i").cast("integer").alias("p_rank"),
            (F.col("i") <= F.col("k")).alias("rejected"),
        )
        .orderBy("p_rank")
    )


@query(
    "q324_mcnemar_paired_eval",
    oracle="""
    WITH preds AS (
        SELECT label % 2 AS truth,
               xor(label % 2,
                   CASE WHEN ('0x' || substr(md5('clfA|' ||
                        CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 4 = 0
                     THEN 1 ELSE 0 END) AS pred_a,
               xor(label % 2,
                   CASE WHEN ('0x' || substr(md5('clfB|' ||
                        CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 3 = 0
                     THEN 1 ELSE 0 END) AS pred_b
        FROM embeddings
    ),
    counts AS (
        SELECT count(*) AS n,
               sum(CASE WHEN pred_a = truth AND pred_b = truth
                        THEN 1 ELSE 0 END) AS both_correct,
               sum(CASE WHEN pred_a <> truth AND pred_b <> truth
                        THEN 1 ELSE 0 END) AS both_wrong,
               sum(CASE WHEN pred_a = truth AND pred_b <> truth
                        THEN 1 ELSE 0 END) AS a_only,
               sum(CASE WHEN pred_a <> truth AND pred_b = truth
                        THEN 1 ELSE 0 END) AS b_only
        FROM preds
    )
    SELECT CAST(n AS BIGINT) AS n_examples,
           CAST(both_correct AS BIGINT) AS both_correct,
           CAST(both_wrong AS BIGINT) AS both_wrong,
           CAST(a_only AS BIGINT) AS a_only,
           CAST(b_only AS BIGINT) AS b_only,
           ((2 * (both_correct + a_only) * 1000000 + n) // (2 * n))
               / 1000000.0 AS accuracy_a,
           ((2 * (both_correct + b_only) * 1000000 + n) // (2 * n))
               / 1000000.0 AS accuracy_b,
           ((2 * (abs(a_only - b_only) - 1)
                 * (abs(a_only - b_only) - 1) * 1000000
                 + (a_only + b_only)) // (2 * (a_only + b_only)))
               / 1000000.0 AS mcnemar_chi2
    FROM counts
    """,
    tags=("experimentation", "evaluation", "mcnemar", "paired-test"),
)
def q324_mcnemar_paired_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test over two classifiers scored on the SAME
    examples — the correct significance test for "is model B actually
    better than model A on this eval set" (a two-proportion z-test is
    wrong there: it ignores that the errors are paired). Truth is
    label parity; the two deterministic pseudo-classifiers flip truth
    on disjoint hash channels at 25% / 33% rates, so their discordant
    cells (b = A-only-correct, c = B-only-correct) are non-trivial.
    Emits the full 2×2 concordance table, both accuracies, and the
    continuity-corrected statistic (|b−c|−1)²/(b+c).

    Determinism: predictions are md5-channel hashes (the q320 arm
    pattern); every count is exact; the statistic is one division of
    exact integers.

    Scale posture: map-side prediction + ONE partial+final count
    aggregate to a single row — no shuffle beyond the 5-counter
    combine. Reference contract: per-example scoring = map slot
    (``App.config:16``); concordance consolidation = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]

    def channel(tag: str, mod: int) -> Column:
        h = hex_int(
            F.md5(F.concat(F.lit(tag + "|"), F.col("vec_id").cast("string"))), 1, 8
        )
        return F.when(h % mod == 0, 1).otherwise(0)

    truth = (F.col("label") % 2).alias("truth")
    preds = emb.select(
        truth,
        (F.col("label") % 2).bitwiseXOR(channel("clfA", 4)).alias("pred_a"),
        (F.col("label") % 2).bitwiseXOR(channel("clfB", 3)).alias("pred_b"),
    )
    counts = preds.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("truth"))
                & (F.col("pred_b") == F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("both_correct"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("truth"))
                & (F.col("pred_b") != F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("both_wrong"),
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("truth"))
                & (F.col("pred_b") != F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("a_only"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("truth"))
                & (F.col("pred_b") == F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("b_only"),
    )
    return counts.select(
        F.col("n").cast("long").alias("n_examples"),
        F.col("both_correct").cast("long").alias("both_correct"),
        F.col("both_wrong").cast("long").alias("both_wrong"),
        F.col("a_only").cast("long").alias("a_only"),
        F.col("b_only").cast("long").alias("b_only"),
        half_up_ratio(
            F.col("both_correct") + F.col("a_only"), F.col("n"), 6
        ).alias("accuracy_a"),
        half_up_ratio(
            F.col("both_correct") + F.col("b_only"), F.col("n"), 6
        ).alias("accuracy_b"),
        half_up_ratio(
            (F.abs(F.col("a_only") - F.col("b_only")) - 1)
            * (F.abs(F.col("a_only") - F.col("b_only")) - 1),
            F.col("a_only") + F.col("b_only"),
            6,
        ).alias("mcnemar_chi2"),
    )


_CP_ALPHA_NUM = 9  # nominal coverage 9/10 kept as a ratio for exact
_CP_ALPHA_DEN = 10  # integer rank arithmetic


@query(
    "q333_conformal_prediction",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               event_id,
               ('0x' || substr(md5('cp|' || CAST(event_id AS VARCHAR)),
                               1, 8))::BIGINT % 3 AS split
        FROM events
    ),
    tr AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM base WHERE split = 0
    ),
    med AS (
        SELECT event_type, n AS n_train, cents AS med_cents
        FROM tr WHERE rn = (n + 1) // 2
    ),
    cal AS (
        SELECT b.event_type, abs(b.cents - m.med_cents) AS resid,
               b.event_id
        FROM base b JOIN med m ON b.event_type = m.event_type
        WHERE b.split = 1
    ),
    calr AS (
        SELECT event_type, resid,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY resid, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM cal
    ),
    qhat AS (
        SELECT event_type, n AS n_cal, resid AS qhat_cents
        FROM calr
        WHERE rn = least(({_CP_ALPHA_NUM} * (n + 1) + {_CP_ALPHA_DEN} - 1)
                             // {_CP_ALPHA_DEN}, n)
    ),
    test AS (
        SELECT b.event_type,
               count(*) AS n_test,
               sum(CASE WHEN abs(b.cents - m.med_cents) <= q.qhat_cents
                        THEN 1 ELSE 0 END) AS n_covered
        FROM base b
        JOIN med m  ON b.event_type = m.event_type
        JOIN qhat q ON b.event_type = q.event_type
        WHERE b.split = 2
        GROUP BY b.event_type
    )
    SELECT m.event_type,
           CAST(m.n_train AS BIGINT) AS n_train,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(m.med_cents AS DOUBLE) / 100 AS predicted_median,
           CAST(q.qhat_cents AS DOUBLE) / 100 AS interval_halfwidth,
           CAST(t.n_test AS BIGINT) AS n_test,
           ((2 * t.n_covered * 1000000 + t.n_test) // (2 * t.n_test))
               / 1000000.0 AS empirical_coverage
    FROM med m
    JOIN qhat q ON m.event_type = q.event_type
    JOIN test t ON m.event_type = t.event_type
    ORDER BY m.event_type
    """,
    tags=("experimentation", "conformal", "uncertainty", "ml-eval"),
)
def q333_conformal_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals with a coverage audit — the
    distribution-free uncertainty wrapper every deployed predictor
    should ship with: a 3-way hash split (train/calibration/test), a
    per-type train-median predictor, the conformal quantile q̂ =
    ⌈0.9·(n+1)⌉-th smallest calibration residual, and the test-split
    empirical coverage of median ± q̂ (finite-sample guaranteed
    ≥ 90% under exchangeability — the audit column shows it).

    Determinism: the split is an md5 channel; residuals are exact
    integer cents; the median and q̂ are exact ORDER STATISTICS
    selected by integer rank (ceil done in integer arithmetic), so no
    quantile-interpolation convention can drift between engines.

    Scale posture: both order statistics ride the window-free
    sample-sort rank primitive over (type, residual) — every stage
    parallel, the only gathers are ≤32-row offset tables; the
    coverage pass is one broadcast of the 5-row (median, q̂) table
    into a partial+final count. Reference contract: per-event scoring
    = map slot (``App.config:16``); per-type calibration = reduce
    slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    base = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
        (
            hex_int(
                F.md5(F.concat(F.lit("cp|"), F.col("event_id").cast("string"))), 1, 8
            )
            % 3
        ).alias("split"),
    ).persist()

    def per_group_order_stat(
        df: DataFrame, value_col: str, pick_expr: str, n_alias: str
    ) -> DataFrame:
        """Exact per-type order statistic via ONE global distributed
        rank: local rank = global rn − (type's min rn) + 1; the pick
        row satisfies ``pick_expr`` over (local_rn, n)."""
        ranked = distributed_row_number(
            df,
            order_by=[
                F.col("event_type"),
                F.col(value_col),
                F.col("event_id"),
            ],
        )
        bounds = ranked.groupBy("event_type").agg(
            F.min("rn").alias("_rn0"), F.count(F.lit(1)).alias("n")
        )
        return (
            ranked.join(F.broadcast(bounds), "event_type")
            .withColumn("_lrn", F.col("rn") - F.col("_rn0") + 1)
            .where(F.expr(pick_expr))
            .select(
                "event_type",
                F.col("n").alias(n_alias),
                F.col(value_col),
            )
        )

    med = per_group_order_stat(
        base.where(F.col("split") == 0).select(
            "event_type", "cents", "event_id"
        ),
        "cents",
        "_lrn = (n + 1) div 2",
        "n_train",
    ).withColumnRenamed("cents", "med_cents")

    cal = (
        base.where(F.col("split") == 1)
        .join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") - F.col("med_cents")).alias("resid"),
            "event_id",
        )
    )
    qhat = per_group_order_stat(
        cal,
        "resid",
        f"_lrn = least(({_CP_ALPHA_NUM} * (n + 1) + {_CP_ALPHA_DEN} - 1)"
        f" div {_CP_ALPHA_DEN}, n)",
        "n_cal",
    ).withColumnRenamed("resid", "qhat_cents")

    test = (
        base.where(F.col("split") == 2)
        .join(F.broadcast(med), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_train").alias("n_train"),
            F.max("n_cal").alias("n_cal"),
            F.max("med_cents").alias("med_cents"),
            F.max("qhat_cents").alias("qhat_cents"),
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("med_cents"))
                    <= F.col("qhat_cents"),
                    1,
                ).otherwise(0)
            ).alias("n_covered"),
        )
    )
    out = test.select(
        "event_type",
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_cal").cast("long").alias("n_cal"),
        (F.col("med_cents").cast("double") / 100).alias("predicted_median"),
        (F.col("qhat_cents").cast("double") / 100).alias(
            "interval_halfwidth"
        ),
        F.col("n_test").cast("long").alias("n_test"),
        half_up_ratio(F.col("n_covered"), F.col("n_test"), 6).alias(
            "empirical_coverage"
        ),
    ).orderBy("event_type")
    return out


@query(
    "q334_quantile_treatment_effect",
    oracle="""
    WITH base AS (
        SELECT ('0x' || substr(md5('exp|' || CAST(user_id AS VARCHAR)),
                               1, 8))::BIGINT % 2 AS arm,
               CAST(round(value * 100) AS BIGINT) AS cents,
               event_id
        FROM events
    ),
    ranked AS (
        SELECT arm, cents,
               row_number() OVER (PARTITION BY arm
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY arm) AS n
        FROM base
    ),
    deciles AS (SELECT unnest(generate_series(1, 9)) AS d),
    picks AS (
        SELECT d.d AS decile, r.arm, r.cents
        FROM ranked r
        JOIN deciles d
          ON r.rn = (d.d * r.n + 10 - 1) // 10
    )
    SELECT c.decile,
           CAST(c.cents AS DOUBLE) / 100 AS q_control,
           CAST(t.cents AS DOUBLE) / 100 AS q_treatment,
           CAST(t.cents - c.cents AS DOUBLE) / 100 AS qte
    FROM picks c
    JOIN picks t ON c.decile = t.decile AND t.arm = 1
    WHERE c.arm = 0
    ORDER BY c.decile
    """,
    tags=("experimentation", "causal", "quantile", "qte"),
)
def q334_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects at the deciles — what the mean-only
    DiD (q320) cannot see: a treatment that shifts the tails without
    moving the mean shows up as a sloped QTE curve. Arms reuse q318's
    deterministic user-hash assignment; at each decile d the effect is
    the exact treated-minus-control order-statistic difference
    (type-1/disc quantiles — no interpolation).

    Determinism: exact integer-cents order statistics selected by
    integer ceil-rank (⌈d·n/10⌉); the 9×2 pick table joins on
    (decile, arm); differences are exact integers scaled by 100.

    Scale posture: ONE window-free distributed rank over (arm, value)
    covers both arms; the decile targets join against an 18-row
    broadcast; everything after runs at the 9-row decile grain.
    Reference contract: per-event arm bucketing = map slot
    (``App.config:16``); decile consolidation = reduce slot
    (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    base = events.select(
        _exp_arm().alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )
    ranked = distributed_row_number(
        base, order_by=[F.col("arm"), F.col("cents"), F.col("event_id")]
    )
    bounds = ranked.groupBy("arm").agg(
        F.min("rn").alias("_rn0"), F.count(F.lit(1)).alias("n")
    )
    local = ranked.join(F.broadcast(bounds), "arm").withColumn(
        "_lrn", F.col("rn") - F.col("_rn0") + 1
    )
    targets = (
        bounds.select(
            "arm",
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile"),
        )
        .select(
            "arm",
            "decile",
            F.expr("(decile * n + 10 - 1) div 10").alias("_lrn"),
        )
    )
    picks = local.join(F.broadcast(targets), ["arm", "_lrn"]).select(
        "decile", "arm", "cents"
    )
    c = picks.where(F.col("arm") == 0).select(
        "decile", F.col("cents").alias("c_cents")
    )
    t = picks.where(F.col("arm") == 1).select(
        "decile", F.col("cents").alias("t_cents")
    )
    return (
        c.join(t, "decile")
        .select(
            "decile",
            (F.col("c_cents").cast("double") / 100).alias("q_control"),
            (F.col("t_cents").cast("double") / 100).alias("q_treatment"),
            (
                (F.col("t_cents") - F.col("c_cents")).cast("double") / 100
            ).alias("qte"),
        )
        .orderBy("decile")
    )


@query(
    "q336_uplift_qini_curve",
    oracle="""
    WITH units AS (
        SELECT event_id,
               ('0x' || substr(md5('exp|' || CAST(user_id AS VARCHAR)),
                               1, 8))::BIGINT % 2 AS arm,
               CAST(round(value * 100) AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS responded
        FROM events
    ),
    ranked AS (
        SELECT arm, responded,
               ntile(10) OVER (ORDER BY score DESC, event_id) AS decile
        FROM units
    ),
    cells AS (
        SELECT decile,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_treat,
               sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_ctrl,
               sum(CASE WHEN arm = 1 THEN responded ELSE 0 END) AS resp_treat,
               sum(CASE WHEN arm = 0 THEN responded ELSE 0 END) AS resp_ctrl
        FROM ranked GROUP BY decile
    ),
    curve AS (
        SELECT decile, n_treat, n_ctrl, resp_treat, resp_ctrl,
               sum(resp_treat) OVER w AS cum_rt,
               sum(resp_ctrl)  OVER w AS cum_rc,
               sum(n_treat)    OVER w AS cum_nt,
               sum(n_ctrl)     OVER w AS cum_nc
        FROM cells
        WINDOW w AS (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n_treat AS BIGINT) AS n_treat,
           CAST(n_ctrl AS BIGINT) AS n_ctrl,
           CAST(resp_treat AS BIGINT) AS resp_treat,
           CAST(resp_ctrl AS BIGINT) AS resp_ctrl,
           (CASE WHEN resp_treat * n_ctrl - resp_ctrl * n_treat >= 0
                 THEN (2 * (resp_treat * n_ctrl - resp_ctrl * n_treat)
                           * 1000000 + n_treat * n_ctrl)
                      // (2 * n_treat * n_ctrl)
                 ELSE -((2 * (resp_ctrl * n_treat - resp_treat * n_ctrl)
                             * 1000000 + n_treat * n_ctrl)
                        // (2 * n_treat * n_ctrl)) END) / 1000000.0
               AS uplift,
           (CASE WHEN cum_rt * cum_nc - cum_rc * cum_nt >= 0
                 THEN (2 * (cum_rt * cum_nc - cum_rc * cum_nt) * 1000000
                           + cum_nc) // (2 * cum_nc)
                 ELSE -((2 * (cum_rc * cum_nt - cum_rt * cum_nc) * 1000000
                             + cum_nc) // (2 * cum_nc)) END) / 1000000.0
               AS qini
    FROM curve
    ORDER BY decile
    """,
    tags=("experimentation", "uplift", "qini", "causal", "targeting"),
)
def q336_uplift_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift modeling evaluation — per-decile incremental response and
    the Qini curve: exposure units rank by a targeting score (event
    value), and each decile compares purchase response between the
    q318 user-hash arms (cluster-randomized, as user-keyed rollouts
    are); qini(d) = cumulative treated responders − control responders
    scaled to the treated exposure — the area under this curve is how
    uplift models are actually compared (targeting the top deciles
    should capture most of the incremental lift).

    Determinism: arms and response are exact; the decile assignment is
    the window-free ntile over exact integer cents with an event_id
    tie-break; uplift/qini are fixed sequences of IEEE divisions on
    exact counts, rounded signed-zero-safe (both are differences).

    Scale posture: unit scoring is a stateless map; the global decile
    ranking rides the sample-sort rank primitive + the closed-form
    ntile (every stage parallel); the curve math runs at the 10-row
    decile grain. Reference contract: per-event user accumulation =
    map slot (``App.config:16``); decile curve = reduce slot
    (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    units = events.select(
        _exp_arm().alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("responded"),
        F.round(F.col("value") * 100).cast("long").alias("score"),
        "event_id",
    )
    ranked = distributed_row_number(
        units,
        order_by=[(-F.col("score")).alias("_negscore"), F.col("event_id")],
    )
    n = ranked.agg(F.count(F.lit(1)).alias("_n"))
    cells = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "decile", ntile_from_rank(F.col("rn"), F.col("_n"), 10)
        )
        .groupBy("decile")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_treat"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_ctrl"),
            F.sum(
                F.when(F.col("arm") == 1, F.col("responded")).otherwise(0)
            ).alias("resp_treat"),
            F.sum(
                F.when(F.col("arm") == 0, F.col("responded")).otherwise(0)
            ).alias("resp_ctrl"),
        )
    )
    # Bounded grain: the cumulative window spans exactly 10 decile rows.
    wc = bounded_order("decile").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        cells.withColumn("cum_rt", F.sum("resp_treat").over(wc))
        .withColumn("cum_rc", F.sum("resp_ctrl").over(wc))
        .withColumn("cum_nt", F.sum("n_treat").over(wc))
        .withColumn("cum_nc", F.sum("n_ctrl").over(wc))
    )
    return curve.select(
        F.col("decile").cast("integer").alias("decile"),
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("resp_treat").cast("long").alias("resp_treat"),
        F.col("resp_ctrl").cast("long").alias("resp_ctrl"),
        half_up_ratio_signed(
            F.col("resp_treat") * F.col("n_ctrl")
            - F.col("resp_ctrl") * F.col("n_treat"),
            F.col("n_treat") * F.col("n_ctrl"),
            6,
        ).alias("uplift"),
        half_up_ratio_signed(
            F.col("cum_rt") * F.col("cum_nc")
            - F.col("cum_rc") * F.col("cum_nt"),
            F.col("cum_nc"),
            6,
        ).alias("qini"),
    ).orderBy("decile")


_EPOCH_N = 3
_EPOCH_SHARDS = 8


@query(
    "q338_epoch_shuffle_plan",
    oracle=f"""
    WITH epochs AS (SELECT unnest(generate_series(1, {_EPOCH_N})) AS epoch),
    assigned AS (
        SELECT e.epoch, d.doc_id, d.source,
               ('0x' || substr(md5('shuffle|' || CAST(e.epoch AS VARCHAR)
                    || '|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % {_EPOCH_SHARDS} AS shard
        FROM documents d CROSS JOIN epochs e
    ),
    cells AS (
        SELECT epoch, shard, count(*) AS n_docs,
               count(DISTINCT source) AS n_sources
        FROM assigned GROUP BY epoch, shard
    ),
    moved AS (
        SELECT a1.epoch AS epoch,
               sum(CASE WHEN a1.shard <> a2.shard THEN 1 ELSE 0 END)
                   AS n_moved,
               count(*) AS n_total
        FROM assigned a1
        JOIN assigned a2
          ON a1.doc_id = a2.doc_id AND a2.epoch = a1.epoch + 1
        GROUP BY a1.epoch
    )
    SELECT c.epoch, CAST(c.shard AS INTEGER) AS shard,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(c.n_sources AS BIGINT) AS n_sources,
           ((2 * m.n_moved * 1000000 + m.n_total) // (2 * m.n_total))
               / 1000000.0 AS reshuffle_rate_to_next
    FROM cells c
    LEFT JOIN moved m ON c.epoch = m.epoch
    ORDER BY c.epoch, c.shard
    """,
    tags=("llm", "curation", "shuffle", "training", "epochs"),
)
def q338_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-wise training-shuffle plan: every epoch reassigns each
    document to one of 8 reader shards via a seed=epoch hash channel —
    the deterministic global shuffle a multi-epoch training run needs
    (same data, different order every epoch, reproducible from the
    epoch number alone, no RNG state to checkpoint). The audit emits
    per-(epoch, shard) composition (balanced counts, all sources
    present in every shard) and the epoch-to-epoch reshuffle rate,
    which must sit near 1 − 1/shards ≈ 0.875 — a LOW rate means the
    "shuffle" is recycling last epoch's order, the classic
    data-loader bug that correlates batches across epochs.

    Determinism: assignment is an md5(epoch, doc) channel; counts
    exact; one rounded division per epoch pair.

    Scale posture: assignment is a stateless map replicated per epoch
    (epochs is a 3-row broadcast); the composition audit is
    partial+final on 24 cells; the reshuffle join is an equi-join on
    doc_id between consecutive epochs — at 100 TB the physical
    realization is ``repartition(shards, hash)`` + ``write.partitionBy``
    per epoch, and THIS plan's counts predict its file sizes exactly.
    Reference contract: per-doc shard hashing = map slot
    (``App.config:16``); composition audit = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    epochs = spark.range(1, _EPOCH_N + 1).select(
        F.col("id").cast("integer").alias("epoch")
    )
    assigned = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        "source",
        (
            hex_int(
                F.md5(
                    F.concat(
                        F.lit("shuffle|"),
                        F.col("epoch").cast("string"),
                        F.lit("|"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            )
            % _EPOCH_SHARDS
        ).alias("shard"),
    )
    cells = assigned.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )
    a1 = assigned.select("doc_id", "epoch", F.col("shard").alias("s1"))
    a2 = assigned.select(
        "doc_id",
        (F.col("epoch") - 1).alias("epoch"),
        F.col("shard").alias("s2"),
    )
    moved = (
        a1.join(a2, ["doc_id", "epoch"])
        .groupBy("epoch")
        .agg(
            F.sum(
                F.when(F.col("s1") != F.col("s2"), 1).otherwise(0)
            ).alias("n_moved"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )
    return (
        cells.join(F.broadcast(moved), "epoch", "left")
        .select(
            "epoch",
            F.col("shard").cast("integer").alias("shard"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_sources").cast("long").alias("n_sources"),
            half_up_ratio(F.col("n_moved"), F.col("n_total"), 6).alias(
                "reshuffle_rate_to_next"
            ),
        )
        .orderBy("epoch", "shard")
    )


# Standard normal quantiles as LITERAL constants (z for alpha=0.05
# two-sided and power=0.8) — never computed via erf/ppf, which are
# libm-dependent and cross-engine unsafe.
_PWR_Z_ALPHA = 1.959963984540054
_PWR_Z_BETA = 0.8416212335729143
_PWR_MDE_REL_NUM = 1  # minimum detectable effect = 10% relative lift
_PWR_MDE_REL_DEN = 10


@query(
    "q339_power_analysis_sample_size",
    oracle=f"""
    WITH rates AS (
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS conv
        FROM events
        GROUP BY event_type
    ),
    calc AS (
        SELECT event_type, n_events, n_users,
               CAST(conv AS DOUBLE) / n_events AS p1,
               CAST(conv AS DOUBLE) / n_events
                   * (1.0 + CAST({_PWR_MDE_REL_NUM} AS DOUBLE)
                          / {_PWR_MDE_REL_DEN}) AS p2
        FROM rates
    )
    SELECT event_type,
           CAST(n_events AS BIGINT) AS n_events,
           round(p1, 6) AS baseline_rate,
           round(p2, 6) AS target_rate,
           CAST(ceil(({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                     * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                     * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                     / ((p2 - p1) * (p2 - p1))) AS BIGINT)
               AS required_n_per_arm,
           (n_events >= 2 * ceil(({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                     * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                     * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                     / ((p2 - p1) * (p2 - p1)))) AS currently_powered
    FROM calc
    ORDER BY event_type
    """,
    tags=("experimentation", "power", "sample-size", "ab-test"),
)
def q339_power_analysis_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test power analysis — the question asked BEFORE q141's
    z-test ever runs: for each event family's baseline conversion
    rate (value > 100), how many units per arm does a two-proportion
    test need to detect a 10% relative lift at α=0.05 (two-sided)
    with 80% power, and does the current traffic volume clear it.
    n = (z_α/2 + z_β)²·(p₁q₁ + p₂q₂)/(p₂ − p₁)² with the normal
    quantiles as literal constants (erf⁻¹ is libm-dependent and
    banned by the determinism discipline).

    Determinism: conversion counts exact; the formula is a fixed
    sequence of IEEE arithmetic on both engines; ceil on a
    bit-identical double.

    Scale posture: ONE partial+final aggregate to the event-type
    grain; the formula is per-row arithmetic on 5 rows. Reference
    contract: per-event conversion flagging = map slot
    (``App.config:16``); power roll-up = reduce slot
    (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    rates = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).alias("conv"),
    )
    p1 = F.col("conv").cast("double") / F.col("n_events")
    p2 = p1 * (1.0 + _PWR_MDE_REL_NUM / _PWR_MDE_REL_DEN)
    z2 = (_PWR_Z_ALPHA + _PWR_Z_BETA) ** 2
    required = F.ceil(
        F.lit(z2)
        * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
        / ((p2 - p1) * (p2 - p1))
    )
    return rates.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(p1, 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        required.cast("long").alias("required_n_per_arm"),
        (F.col("n_events") >= 2 * required).alias("currently_powered"),
    ).orderBy("event_type")


@query(
    "q344_welch_t_test",
    oracle="""
    WITH assigned AS (
        SELECT event_type,
               ('0x' || substr(md5('exp|' || CAST(user_id AS VARCHAR)),
                               1, 8))::BIGINT % 2 AS arm,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cells AS (
        SELECT event_type, arm, count(*) AS n,
               sum(cents) AS s, sum(cents * cents) AS ss
        FROM assigned GROUP BY event_type, arm
    ),
    stats AS (
        SELECT event_type, arm, n,
               CAST(s AS DOUBLE) / (100.0 * n) AS mean,
               (CAST(ss AS DOUBLE) / 10000.0
                - (CAST(s AS DOUBLE) / 100.0)
                  * (CAST(s AS DOUBLE) / 100.0) / n) / (n - 1) AS var
        FROM cells
    ),
    wide AS (
        SELECT c.event_type,
               c.n AS n_ctrl, c.mean AS mean_ctrl, c.var AS var_ctrl,
               t.n AS n_treat, t.mean AS mean_treat, t.var AS var_treat
        FROM stats c JOIN stats t
          ON c.event_type = t.event_type AND c.arm = 0 AND t.arm = 1
    )
    SELECT event_type,
           CAST(n_ctrl AS BIGINT) AS n_ctrl,
           CAST(n_treat AS BIGINT) AS n_treat,
           round(mean_treat - mean_ctrl, 6) + 0.0 AS mean_diff,
           round((mean_treat - mean_ctrl)
                 / sqrt(var_treat / n_treat + var_ctrl / n_ctrl), 6) + 0.0
               AS welch_t,
           round((var_treat / n_treat + var_ctrl / n_ctrl)
                 * (var_treat / n_treat + var_ctrl / n_ctrl)
                 / ((var_treat / n_treat) * (var_treat / n_treat)
                        / (n_treat - 1)
                    + (var_ctrl / n_ctrl) * (var_ctrl / n_ctrl)
                        / (n_ctrl - 1)), 2)
               AS satterthwaite_dof
    FROM wide
    ORDER BY event_type
    """,
    tags=("experimentation", "t-test", "welch", "ab-test"),
)
def q344_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event family between the
    q318 hash arms — the variance-honest upgrade of q141's pooled
    z-test (arms need not share a variance), with the Satterthwaite
    effective degrees of freedom. The statistic and dof are reported
    rather than a p-value: the t CDF needs incomplete-beta (libm-
    dependent, banned); the caller compares |t| against the literal
    critical value for the emitted dof.

    Determinism: cell moments are exact cents/cents² integer sums;
    means, variances, the statistic, and the dof are one shared
    sequence of IEEE arithmetic (sqrt is correctly rounded per IEEE);
    differences round signed-zero-safe.

    Scale posture: ONE partial+final aggregate to (type × arm) cells;
    everything after is 10-row arithmetic. Reference contract:
    per-event cell accumulation = map slot (``App.config:16``);
    test evaluation = reduce slot (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    cents = F.round(F.col("value") * 100).cast("long")
    arm = _exp_arm()
    cells = events.groupBy("event_type", arm.alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    mean = F.col("s").cast("double") / (100.0 * F.col("n"))
    var = (
        F.col("ss").cast("double") / 10000.0
        - (F.col("s").cast("double") / 100.0)
        * (F.col("s").cast("double") / 100.0)
        / F.col("n")
    ) / (F.col("n") - 1)
    stats = cells.select(
        "event_type", "arm", "n", mean.alias("mean"), var.alias("var")
    )
    c = stats.where(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_ctrl"),
        F.col("mean").alias("mean_ctrl"),
        F.col("var").alias("var_ctrl"),
    )
    t = stats.where(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_treat"),
        F.col("mean").alias("mean_treat"),
        F.col("var").alias("var_treat"),
    )
    w = c.join(t, "event_type")
    se_t = F.col("var_treat") / F.col("n_treat")
    se_c = F.col("var_ctrl") / F.col("n_ctrl")
    return w.select(
        "event_type",
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("n_treat").cast("long").alias("n_treat"),
        round_nz(F.col("mean_treat") - F.col("mean_ctrl"), 6).alias(
            "mean_diff"
        ),
        round_nz(
            (F.col("mean_treat") - F.col("mean_ctrl"))
            / F.sqrt(se_t + se_c),
            6,
        ).alias("welch_t"),
        F.round(
            (se_t + se_c)
            * (se_t + se_c)
            / (
                se_t * se_t / (F.col("n_treat") - 1)
                + se_c * se_c / (F.col("n_ctrl") - 1)
            ),
            2,
        ).alias("satterthwaite_dof"),
    ).orderBy("event_type")


@query(
    "q345_cohort_ltv_matrix",
    oracle="""
    WITH m AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS midx
        FROM orders
    ),
    firsts AS (
        SELECT o_custkey, min(midx) AS cohort FROM m GROUP BY o_custkey
    ),
    sizes AS (
        SELECT cohort, count(*) AS cohort_size FROM firsts GROUP BY cohort
    ),
    cells AS (
        SELECT f.cohort, m.midx - f.cohort AS age,
               sum(m.cents) AS rev_cents
        FROM m JOIN firsts f ON m.o_custkey = f.o_custkey
        WHERE m.midx - f.cohort <= 11
        GROUP BY f.cohort, age
    ),
    cum AS (
        SELECT cohort, age, rev_cents,
               sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_cents
        FROM cells
    )
    SELECT CAST(c.cohort AS INTEGER) AS cohort_month_idx,
           CAST(c.age AS INTEGER) AS age_months,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(c.cum_cents AS DOUBLE) / 100 AS cum_revenue,
           CAST((2 * c.cum_cents * 100 + s.cohort_size)
                // (2 * s.cohort_size) AS DOUBLE) / 10000
               AS cum_ltv_per_customer
    FROM cum c JOIN sizes s ON c.cohort = s.cohort
    ORDER BY cohort_month_idx, age_months
    """,
    tags=("window", "cohort", "ltv", "retention", "olap"),
)
def q345_cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix — the revenue companion to q131's retention
    triangle: customers cohort by first-order month, and each
    (cohort, age≤11 months) cell reports cumulative revenue and
    cumulative LTV per customer — the table a payback-period model
    reads off directly (which age column crosses acquisition cost).

    Determinism: month indices are integer year×12 arithmetic (no
    cross-engine date_diff convention); revenue is exact integer
    cents; the cumulative window is keyed by cohort over ≤12 ordered
    ages; one rounded division per cell.

    Scale posture: first-order extraction and cell rollup are
    partial+final aggregates; the cumulative window runs at the
    bounded (cohorts × 12) grain; the join back to cohort sizes is a
    broadcast. Reference contract: per-order cohort tagging = map
    slot (``App.config:16``); matrix assembly = reduce slot
    (``App.config:17``)."""
    orders = load_tables(spark, sf_dir)["orders"]
    m = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)
        ).alias("midx"),
    )
    firsts = m.groupBy("o_custkey").agg(F.min("midx").alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        m.join(firsts, "o_custkey")
        .where(F.col("midx") - F.col("cohort") <= 11)
        .groupBy("cohort", (F.col("midx") - F.col("cohort")).alias("age"))
        .agg(F.sum("cents").alias("rev_cents"))
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.withColumn("cum_cents", F.sum("rev_cents").over(wc))
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("integer").alias("cohort_month_idx"),
            F.col("age").cast("integer").alias("age_months"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            (F.col("cum_cents").cast("double") / 100).alias("cum_revenue"),
            # round-half-up in exact integers: round(c/100/size, 4) hits
            # half-boundary 4th decimals where Spark (HALF_UP) and
            # DuckDB (half-even) disagree — (2a+b) div (2b) is the
            # shared-arithmetic form.
            (
                F.expr(
                    "(2 * cum_cents * 100 + cohort_size)"
                    " div (2 * cohort_size)"
                ).cast("double")
                / 10000
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort_month_idx", "age_months")
    )


_SRM_CHI2_CRIT = 3.841  # chi-square(1 dof) at alpha=0.05 — literal constant


@query(
    "q347_srm_check",
    oracle=f"""
    WITH units AS (
        SELECT DISTINCT user_id,
               ('0x' || substr(md5('exp|' || CAST(user_id AS VARCHAR)),
                               1, 8))::BIGINT % 2 AS arm
        FROM events
    ),
    counts AS (
        SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
               count(*) AS n
        FROM units
    )
    SELECT CAST(n0 AS BIGINT) AS n_control,
           CAST(n1 AS BIGINT) AS n_treatment,
           ((2 * n1 * 1000000 + n) // (2 * n)) / 1000000.0
               AS treatment_share,
           round((CAST(n0 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 * (CAST(n0 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 / (CAST(n AS DOUBLE) / 2)
                 + (CAST(n1 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 * (CAST(n1 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 / (CAST(n AS DOUBLE) / 2), 6) AS srm_chi2,
           ((CAST(n0 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 * (CAST(n0 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 / (CAST(n AS DOUBLE) / 2)
                 + (CAST(n1 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 * (CAST(n1 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 / (CAST(n AS DOUBLE) / 2)) > {_SRM_CHI2_CRIT}
               AS srm_detected
    FROM counts
    """,
    tags=("experimentation", "srm", "chi-square", "ab-test", "trust"),
)
def q347_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the trust gate that must pass
    BEFORE any other experiment readout (q141/q318/q320/q344) is
    believed: a chi-square goodness-of-fit of the observed arm counts
    against the designed 50/50 split at the RANDOMIZATION-UNIT grain
    (users, not events — event-grain counts inherit per-user volume
    variance and false-alarm). An SRM means the assignment or logging
    pipeline is biased and every downstream metric is suspect. The
    threshold is the literal χ²(1) critical value, not a computed
    quantile.

    Determinism: exact distinct-user counts; the statistic is one
    shared IEEE sequence; the flag compares the unrounded statistic
    to a literal.

    Scale posture: one distinct + one partial+final count to a single
    row. Reference contract: per-user arm hashing = map slot
    (``App.config:16``); ratio test = reduce slot
    (``App.config:17``)."""
    events = load_tables(spark, sf_dir)["events"]
    units = events.select(
        "user_id",
        _exp_arm().alias("arm"),
    ).distinct()
    counts = units.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.count(F.lit(1)).alias("n"),
    )
    half = F.col("n").cast("double") / 2
    chi2 = (F.col("n0").cast("double") - half) * (
        F.col("n0").cast("double") - half
    ) / half + (F.col("n1").cast("double") - half) * (
        F.col("n1").cast("double") - half
    ) / half
    return counts.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treatment"),
        half_up_ratio(F.col("n1"), F.col("n"), 6).alias(
            "treatment_share"
        ),
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > _SRM_CHI2_CRIT).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: rank statistics + counterfactual evaluation
# (q353-q355). Reference contract: per-row scoring/weighting is the map
# slot (``App.config:16``), the test/estimator consolidation the reduce
# slot (``App.config:17``).


@query(
    "q353_mann_whitney_u",
    oracle="""
    WITH s AS (
        SELECT l_extendedprice AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia,
               CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS ib
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    pv AS (
        SELECT v, sum(ia) AS da, sum(ib) AS db, count(*) AS t
        FROM s GROUP BY v
    ),
    run AS (
        SELECT da, t,
               sum(t) OVER (ORDER BY v) AS ct
        FROM pv
    ),
    agg AS (
        SELECT sum(da * (ct - t + (t + 1) / 2.0))  AS ra,
               sum(t * t * t - t)                  AS ties
        FROM run
    ),
    tot AS (SELECT sum(da) AS na, sum(db) AS nb FROM pv),
    z AS (
        SELECT na, nb,
               ra - na * (na + 1) / 2.0 AS u,
               round((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
                     / sqrt(na * nb / 12.0
                            * ((na + nb + 1)
                               - ties / ((na + nb) * (na + nb - 1.0)))),
                     6) + 0.0 AS zr
        FROM agg, tot
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           round(u, 2) AS u_stat,
           zr AS z,
           abs(zr) > 1.96 AS reject_95
    FROM z
    """,
    tags=("stats", "rank-test", "nonparametric", "experimentation"),
)
def q353_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test with tie-corrected
    normal approximation: do RETURNED line items ('R') carry a
    different price distribution than non-returned ('N')? The
    distribution-free two-sample test an experimentation stack
    reaches for when t-tests' normality assumption fails (the rank
    twin of q344's Welch t and q139's KS distance).

    Determinism: midranks are computed at VALUE grain —
    cum_before + (t+1)/2 — so every rank is an exact half-integer in
    doubles, the rank-sum and tie term Σ(t³−t) are exact-integer
    sums (< 2^53 through sf0.1 with margin), and z is one shared
    division+sqrt chain over identical inputs — bit-identical
    cross-engine; the reject flag compares the ROUNDED z.

    Scale posture: one partial+final agg to distinct-price grain, the
    cumulative tie-aware count rides the window-free
    ``distributed_running_sum`` (range shuffle + broadcast offsets —
    never a global window over data-sized distinct prices), then a
    single 1-row aggregate. The oracle uses a plain SQL window; the
    engine deliberately does not (q139's posture)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    s = li.where(F.col("l_returnflag").isin("R", "N")).select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_returnflag") == "R").cast("int").alias("ia"),
        (F.col("l_returnflag") == "N").cast("int").alias("ib"),
    )
    pv = s.groupBy("v").agg(
        F.sum("ia").alias("da"),
        F.sum("ib").alias("db"),
        F.count(F.lit(1)).alias("t"),
    )
    run = distributed_running_sum(pv, [F.asc("v")], {"ct": "t"})
    agg = run.agg(
        F.sum(
            F.col("da")
            * (F.col("ct") - F.col("t") + (F.col("t") + 1) / F.lit(2.0))
        ).alias("ra"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("ties"),
        F.sum("da").alias("na"),
        F.sum("db").alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")
    u = F.col("ra") - na * (na + 1) / F.lit(2.0)
    zr = round_nz(
        (F.col("ra") - na * (na + 1) / F.lit(2.0) - na * nb / F.lit(2.0))
        / F.sqrt(
            na * nb / F.lit(12.0)
            * (
                (na + nb + 1)
                - F.col("ties") / ((na + nb) * (na + nb - F.lit(1.0)))
            )
        ),
        6,
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u, 2).alias("u_stat"),
        zr.alias("z"),
        (F.abs(zr) > 1.96).alias("reject_95"),
    )


_IPS_N_BUCKETS = 10
_IPS_TOP_K = 3


@query(
    "q354_ips_offpolicy_eval",
    oracle=f"""
    WITH top3 AS (
        SELECT event_type FROM events GROUP BY event_type
        ORDER BY count(*) DESC, event_type LIMIT {_IPS_TOP_K}
    ),
    b AS (
        SELECT user_id % {_IPS_N_BUCKETS} AS bucket, event_type, value
        FROM events
    ),
    mu AS (
        SELECT bucket, event_type, count(*) AS c_ba
        FROM b GROUP BY bucket, event_type
    ),
    cb AS (SELECT bucket, count(*) AS c_b FROM b GROUP BY bucket),
    w AS (
        SELECT b.bucket, b.value,
               CASE WHEN b.event_type IN (SELECT event_type FROM top3)
                    THEN CAST(cb.c_b AS DOUBLE)
                         / ({_IPS_TOP_K}.0 * mu.c_ba)
                    ELSE 0.0 END AS wt
        FROM b
        JOIN mu ON mu.bucket = b.bucket AND mu.event_type = b.event_type
        JOIN cb ON cb.bucket = b.bucket
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_logged,
           round(sum(value * wt) / count(*), 4) AS ips_value,
           round(sum(value * wt) / sum(wt), 4)  AS snips_value,
           round(sum(wt) * sum(wt) / sum(wt * wt), 2) AS effective_n
    FROM w GROUP BY bucket ORDER BY bucket
    """,
    tags=("counterfactual", "off-policy", "ips", "experimentation", "llm"),
)
def q354_ips_offpolicy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy (counterfactual) evaluation from logged feedback:
    treat the events table as bandit logs — context = user bucket,
    action = event type, reward = value — and estimate what a TARGET
    policy (uniform over the global top-3 actions) would earn, without
    running it. IPS (inverse-propensity-scored mean), the
    self-normalized SNIPS variant (lower variance, slight bias), and
    the effective sample size (Σw)²/Σw² that says how much logged
    data actually supports the counterfactual — the standard triple
    for offline evaluation of recommendation/serving policy changes
    before an A/B slot is spent.

    Determinism: the behavior propensity is the empirical frequency
    μ(a|bucket) = c_ba/c_b, so each weight is ONE IEEE division of
    exact integers (c_b/(3·c_ba)); reward×weight sums differ by
    summation-order ulps only and all emitted ratios round at 4/2.
    The top-3 action set breaks count ties by name.

    Scale posture: propensities are a (bucket × action)-grain
    partial+final count joined back as a broadcast (grain ≤
    buckets×|actions|); the target-action set is a ≤3-row semi-join
    input; estimators are one partial+final agg at bucket grain. No
    per-event state, no window. Reference contract: weighting = map
    slot, estimator consolidation = reduce slot
    (``App.config:16-17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    b = ev.select(
        (F.col("user_id") % _IPS_N_BUCKETS).alias("bucket"),
        "event_type",
        "value",
    )
    top3 = (
        b.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("event_type"))
        .limit(_IPS_TOP_K)
        .select("event_type", F.lit(1).alias("in_target"))
    )
    mu = b.groupBy("bucket", "event_type").agg(F.count(F.lit(1)).alias("c_ba"))
    cb = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_b"))
    w = (
        b.join(F.broadcast(mu), ["bucket", "event_type"])
        .join(F.broadcast(cb), "bucket")
        .join(F.broadcast(top3), "event_type", "left")
        .select(
            "bucket",
            "value",
            F.when(
                F.col("in_target").isNotNull(),
                F.col("c_b").cast("double")
                / (F.lit(float(_IPS_TOP_K)) * F.col("c_ba")),
            )
            .otherwise(0.0)
            .alias("wt"),
        )
    )
    return (
        w.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_logged"),
            F.round(
                F.sum(F.col("value") * F.col("wt")) / F.count(F.lit(1)), 4
            ).alias("ips_value"),
            F.round(
                F.sum(F.col("value") * F.col("wt")) / F.sum("wt"), 4
            ).alias("snips_value"),
            F.round(
                F.sum("wt") * F.sum("wt") / F.sum(F.col("wt") * F.col("wt")),
                2,
            ).alias("effective_n"),
        )
        .orderBy("bucket")
    )


@query(
    "q355_spearman_rank_correlation",
    oracle="""
    WITH d AS (
        SELECT doc_id, n_chars AS x,
               length(string_split(text, ' ')) AS y
        FROM documents
    ),
    rx AS (
        SELECT x, count(*) AS t, sum(count(*)) OVER (ORDER BY x) AS ct
        FROM d GROUP BY x
    ),
    mx AS (SELECT x, ct - t + (t + 1) / 2.0 AS mr FROM rx),
    ry AS (
        SELECT y, count(*) AS t, sum(count(*)) OVER (ORDER BY y) AS ct
        FROM d GROUP BY y
    ),
    my AS (SELECT y, ct - t + (t + 1) / 2.0 AS mr FROM ry),
    j AS (
        SELECT mx.mr AS rxv, my.mr AS ryv
        FROM d JOIN mx ON d.x = mx.x JOIN my ON d.y = my.y
    ),
    s AS (
        SELECT count(*) AS n, sum(rxv) AS sx, sum(ryv) AS sy,
               sum(rxv * rxv) AS sxx, sum(ryv * ryv) AS syy,
               sum(rxv * ryv) AS sxy
        FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 6) + 0.0 AS spearman_rho
    FROM s
    """,
    tags=("stats", "rank-test", "correlation", "nonparametric"),
)
def q355_spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document length (chars) and
    whitespace token count — the monotone-association measure that is
    robust to the heavy length tails where Pearson (q182's windowed
    twin) saturates; near-1 here confirms chars-per-token stability,
    a cheap corpus-health signal.

    Determinism: midranks at VALUE grain (exact half-integers, the
    q353 construction), so all five moment sums are exact-integer/
    quarter-fraction sums in doubles (< 2^53 through sf0.1); ρ is one
    shared division+sqrt — bit-identical before the 6dp round
    (round_nz: a near-zero ρ can be a negative epsilon).

    Scale posture: two value-grain aggs (distinct char counts /
    distinct token counts), cumulative tie counts on the window-free
    running sum, two shuffle equi-joins back to doc grain, one
    1-row moment aggregate. The oracle uses plain SQL windows; the
    engine does not."""
    docs = load_tables(spark, sf_dir)["documents"].select(
        F.col("n_chars").alias("x"),
        F.size(F.split("text", " ")).alias("y"),
    )

    def midranks(df, col):
        pv = df.groupBy(col).agg(F.count(F.lit(1)).alias("t"))
        run = distributed_running_sum(pv, [F.asc(col)], {"ct": "t"})
        return run.select(
            col,
            (
                F.col("ct") - F.col("t") + (F.col("t") + 1) / F.lit(2.0)
            ).alias(f"mr_{col}"),
        )
    j = (
        docs.join(midranks(docs, "x"), "x")
        .join(midranks(docs, "y"), "y")
        .select(F.col("mr_x").alias("rxv"), F.col("mr_y").alias("ryv"))
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rxv").alias("sx"),
        F.sum("ryv").alias("sy"),
        F.sum(F.col("rxv") * F.col("rxv")).alias("sxx"),
        F.sum(F.col("ryv") * F.col("ryv")).alias("syy"),
        F.sum(F.col("rxv") * F.col("ryv")).alias("sxy"),
    )
    n = F.col("n")
    return s.select(
        n.cast("long").alias("n_docs"),
        round_nz(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("spearman_rho"),
    )


_DSIR_BUCKETS = 64
_DSIR_TARGET_SOURCE = "src0"
_DSIR_TOP = 50
_DSIR_HASH_DUCK = "(('0x' || substr(md5(tok), 1, 12))::BIGINT % 64)"


@query(
    "q356_dsir_importance_resampling",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    bt AS (
        SELECT doc_id, source, {_DSIR_HASH_DUCK} AS b FROM toks
    ),
    raw AS (SELECT b, count(*) AS c_r FROM bt GROUP BY b),
    tgt AS (
        SELECT b, count(*) AS c_t FROM bt
        WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY b
    ),
    nr AS (SELECT count(*) AS n_r FROM bt),
    nt AS (
        SELECT count(*) AS n_t FROM bt
        WHERE source = '{_DSIR_TARGET_SOURCE}'
    ),
    lr AS (
        SELECT raw.b,
               ln((coalesce(tgt.c_t, 0) + 1)
                  / CAST(nt.n_t + {_DSIR_BUCKETS} AS DOUBLE))
               - ln((raw.c_r + 1)
                    / CAST(nr.n_r + {_DSIR_BUCKETS} AS DOUBLE)) AS w
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b
        CROSS JOIN nr CROSS JOIN nt
    ),
    db AS (
        SELECT doc_id, source, b, count(*) AS c_db
        FROM bt GROUP BY doc_id, source, b
    ),
    dw AS (
        SELECT db.doc_id, db.source,
               CAST(sum(db.c_db) AS BIGINT) AS n_tokens,
               round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(db.c_db * lr.w ORDER BY db.b)),
                   (a, x) -> a + x), 4) + 0.0 AS log_weight
        FROM db JOIN lr ON db.b = lr.b
        GROUP BY db.doc_id, db.source
    )
    SELECT doc_id, source, n_tokens, log_weight
    FROM dw
    ORDER BY log_weight DESC, doc_id
    LIMIT {_DSIR_TOP}
    """,
    tags=("llm", "curation", "selection", "importance-sampling", "dsir"),
)
def q356_dsir_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.
    2023): score every document by how much more likely its hashed
    unigram features are under a TARGET distribution (here the src0
    slice, standing in for the high-quality exemplar set) than under
    the raw corpus, and keep the top-50 — the cheap lexical method
    that selects pretraining data "shaped like" a trusted reference
    without any neural scorer. Weight(doc) = Σ_b c_b·(ln p_tgt(b) −
    ln p_raw(b)) over 64 hashed feature buckets, add-one smoothed.

    Determinism: bucket ids are the shared md5-prefix hash; counts are
    exact; ln() is libm (ulp skew) but each document's ≤64 bucket
    terms fold in BUCKET order via the prepended-zero aggregate (the
    q256/q257 discipline), and the selection ranks the ROUNDED weight
    with a doc_id tie-break (the q337 argmax rule).

    Scale posture: the feature model is 64-row state built by
    partial+final counts (two corpus passes: model, score — the DSIR
    paper's own shape); scoring joins the 64-row log-ratio table as a
    broadcast at (doc, bucket) grain; the 50-row cut is TakeOrdered.
    Nothing data-sized ever sits on one task. Reference contract:
    hashed featurization = map slot (``App.config:16``); weight fold +
    resample cut = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    bt = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("tok"),
    ).select(
        "doc_id",
        "source",
        (hex_int(F.md5("tok"), 1, 12) % _DSIR_BUCKETS).alias("b"),
    )
    raw = bt.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    tgt = (
        bt.where(F.col("source") == _DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    nr = bt.agg(F.count(F.lit(1)).alias("n_r"))
    nt = bt.where(F.col("source") == _DSIR_TARGET_SOURCE).agg(
        F.count(F.lit(1)).alias("n_t")
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                    / (F.col("n_t") + _DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("c_r") + 1)
                    / (F.col("n_r") + _DSIR_BUCKETS).cast("double")
                )
            ).alias("w"),
        )
    )
    db = bt.groupBy("doc_id", "source", "b").agg(
        F.count(F.lit(1)).alias("c_db")
    )
    dw = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c_db").cast("long").alias("n_tokens"),
            round_nz(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("b"),
                                    (F.col("c_db") * F.col("w")).alias("t"),
                                )
                            )
                        ),
                        lambda s: s.getField("t"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                4,
            ).alias("log_weight"),
        )
    )
    return (
        dw.select("doc_id", "source", "n_tokens", "log_weight")
        .orderBy(F.desc("log_weight"), F.asc("doc_id"))
        .limit(_DSIR_TOP)
    )


_LRA_BUDGET = 1000


@query(
    "q359_largest_remainder_allocation",
    oracle=f"""
    WITH s AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_docs) AS n FROM s),
    q AS (
        SELECT source, n_docs,
               ({_LRA_BUDGET} * n_docs) // tot.n AS base,
               ({_LRA_BUDGET} * n_docs) % tot.n  AS rem
        FROM s CROSS JOIN tot
    ),
    short AS (
        SELECT {_LRA_BUDGET} - sum(base) AS k FROM q
    ),
    ranked AS (
        SELECT source, n_docs, base, rem,
               row_number() OVER (ORDER BY rem DESC, source) AS rk
        FROM q
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.base AS BIGINT) AS base_alloc,
           CAST(CASE WHEN r.rk <= short.k THEN 1 ELSE 0 END AS BIGINT)
               AS extra,
           CAST(r.base + CASE WHEN r.rk <= short.k THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked r CROSS JOIN short
    ORDER BY r.source
    """,
    tags=("curation", "sampling", "allocation", "integer-exact"),
)
def q359_largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation of an exact sample
    budget across sources: each source gets ⌊K·n_s/N⌋, and the
    leftover seats go to the largest fractional remainders — the
    allocation that sums to EXACTLY K with every share within one of
    its exact proportional entitlement (the proportional complement
    to q308's variance-optimal Neyman split; proportional is what a
    mixture spec usually pins).

    Determinism: pure integer arithmetic — quotas are integer
    div/mod, the remainder ranking breaks ties by source name, and
    the invariant Σalloc = K is tested exactly.

    Scale posture: one partial+final count to |sources| grain; the
    remainder rank is a bounded_order window over ≤|sources| rows;
    the shortfall is a 1-row broadcast. Reference contract: counting
    = map slot, seat assignment = reduce slot (``App.config:16-17``)."""
    s = (
        load_tables(spark, sf_dir)["documents"]
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = s.agg(F.sum("n_docs").alias("n"))
    q = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"({_LRA_BUDGET} * n_docs) div n").alias("base"),
        (F.lit(_LRA_BUDGET) * F.col("n_docs") % F.col("n")).alias("rem"),
    )
    short = q.agg((F.lit(_LRA_BUDGET) - F.sum("base")).alias("k"))
    ranked = q.withColumn(
        "rk", F.row_number().over(bounded_order(F.desc("rem"), F.asc("source")))
    )
    extra = F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
    return (
        ranked.crossJoin(F.broadcast(short))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("base").cast("long").alias("base_alloc"),
            extra.cast("long").alias("extra"),
            (F.col("base") + extra).cast("long").alias("alloc"),
        )
        .orderBy("source")
    )


_KNAP_BUDGET = 20_000  # token budget for the greedy selection


@query(
    "q363_token_budget_knapsack",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS toks,
               len(list_distinct(string_split(text, ' '))) AS uniq
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source, toks,
               (2 * uniq * 10000 + toks) // (2 * toks) AS density_s
        FROM d WHERE toks > 0
    ),
    ranked AS (
        SELECT doc_id, source, toks, density_s,
               sum(toks) OVER (ORDER BY density_s DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cum_toks
        FROM scored
    ),
    sel AS (
        SELECT source, toks FROM ranked WHERE cum_toks <= {_KNAP_BUDGET}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(toks) AS BIGINT) AS tokens_selected
    FROM sel GROUP BY source ORDER BY source
    """,
    tags=("llm", "curation", "selection", "knapsack", "budget"),
)
def q363_token_budget_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy value-per-token data selection under a GLOBAL token
    budget (the fractional-knapsack heuristic every budgeted curation
    run uses): score each document by lexical density (distinct/total
    tokens — a stand-in for any quality score), take documents in
    density order until the next whole document would exceed the
    budget, and report the per-source composition of the selected
    set. Complements q263 (water-filling PER-SOURCE budgets) and
    q307 (coverage objective): this is the single-constraint
    value-density objective.

    Determinism: density is a ratio of exact integers scaled to 1e4
    and rounded half-up ENTIRELY in integer arithmetic —
    ``(2*uniq*10000 + toks) div (2*toks)`` on both engines — because
    ratios like 13/32 land exactly on 4th-decimal halves where
    Spark's HALF_UP and DuckDB's half-even `round()` disagree (the
    q345 trap; density is the greedy ORDERING key, so one flip would
    change which docs fit the budget). Tie-broken by doc_id, so the
    greedy order is total; the running token total is an exact
    integer cumulative; selection is a pure cum <= budget predicate
    (whole documents only).

    Scale posture: scoring is a stateless map; the budget cut rides
    the window-free ``distributed_running_sum`` over the
    (density, doc_id) order — range shuffle + broadcast offsets,
    never a global window over doc-grain rows; the rollup is
    |sources|-grain. The oracle uses a plain SQL window; the engine
    does not. Reference contract: scoring = map slot
    (``App.config:16``); budgeted cut = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    ws = F.split("text", " ")
    toks = F.size(ws).cast("long")
    uniq = F.size(F.array_distinct(ws)).cast("long")
    scored = (
        docs.select(
            "doc_id",
            "source",
            toks.alias("toks"),
            (F.lit(2) * uniq * F.lit(10_000) + toks).alias("_num"),
        )
        .where(F.col("toks") > 0)
        .select(
            "doc_id",
            "source",
            "toks",
            F.expr("_num div (2 * toks)").alias("density_s"),
        )
    )
    ranked = distributed_running_sum(
        scored,
        [F.asc(F.lit(0) - F.col("density_s")), F.asc("doc_id")],
        {"cum_toks": "toks"},
    )
    return (
        ranked.where(F.col("cum_toks") <= _KNAP_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("toks").cast("long").alias("tokens_selected"),
        )
        .orderBy("source")
    )


_SP_LATE_US = 60 * 86_400_000_000  # late-shipment threshold (60 d, µs)


@query(
    "q366_simpson_paradox_detector",
    oracle=f"""
    WITH marked AS (
        SELECT o.o_orderkey,
               CAST(year(o.o_orderdate) AS VARCHAR) AS stratum,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS urgent,
               CASE WHEN EXISTS (
                   SELECT 1 FROM lineitem l
                   WHERE l.l_orderkey = o.o_orderkey
                     AND epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
                         > {_SP_LATE_US}
               ) THEN 1 ELSE 0 END AS late
        FROM orders o
    ),
    cells AS (
        SELECT stratum,
               sum(urgent) AS n_u, sum(urgent * late) AS late_u,
               sum(1 - urgent) AS n_o, sum((1 - urgent) * late) AS late_o
        FROM marked GROUP BY stratum
        UNION ALL
        SELECT 'POOLED',
               sum(urgent), sum(urgent * late),
               sum(1 - urgent), sum((1 - urgent) * late)
        FROM marked
    ),
    signed AS (
        SELECT stratum, n_u, late_u, n_o, late_o,
               sign(late_u * n_o - late_o * n_u) AS direction
        FROM cells
    ),
    pooled AS (
        SELECT direction AS pooled_dir FROM signed WHERE stratum = 'POOLED'
    )
    SELECT s.stratum,
           CAST(s.n_u AS BIGINT) AS n_urgent,
           CAST(s.late_u AS BIGINT) AS late_urgent,
           CAST(s.n_o AS BIGINT) AS n_other,
           CAST(s.late_o AS BIGINT) AS late_other,
           CAST((1000000 * s.late_u) // s.n_u
                - (1000000 * s.late_o) // s.n_o AS BIGINT) AS rate_diff_ppm,
           CAST(s.direction AS INTEGER) AS direction,
           s.direction * p.pooled_dir < 0 AS opposes_pooled
    FROM signed s CROSS JOIN pooled p
    ORDER BY s.stratum
    """,
    tags=("stats", "experimentation", "simpson", "audit"),
)
def q366_simpson_paradox_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: is the pooled association between
    order urgency and late shipment OPPOSITE to the per-year
    associations? The aggregation forensic every experimentation /
    observational-metrics stack runs before trusting a pooled rate
    comparison (confounding by stratum mix inverts conclusions; the
    stratified complement of q320's DiD and q347's SRM gate).

    Determinism: the association direction is an exact integer
    cross-multiplication sign — sign(late_u·n_o − late_o·n_u), never
    a float rate compare; displayed rate differences are floor-scaled
    integer ppm; the lateness flag is exact µs arithmetic (Spark
    unix_micros ≡ DuckDB epoch_us).

    Scale posture: lateness is ONE left-semi-shaped existence check
    per order (the q330 plan) folded into a 0/1 column; everything
    after is a |years|+1-grain partial+final aggregate plus a 1-row
    pooled broadcast. Reference contract: per-order marking = map
    slot (``App.config:16``); stratum/pooled contrast = reduce slot
    (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    late_keys = (
        t["lineitem"]
        .select("l_orderkey", "l_shipdate")
        .join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(
            F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate")
            > _SP_LATE_US
        )
        .select("o_orderkey")
        .distinct()
    )
    marked = (
        o.join(
            late_keys.withColumn("is_late", F.lit(1)), "o_orderkey", "left"
        )
        .select(
            F.year("o_orderdate").cast("string").alias("stratum"),
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("int")
            .alias("urgent"),
            F.coalesce("is_late", F.lit(0)).alias("late"),
        )
    )
    def cells(df, label=None):
        g = df.groupBy(
            F.lit(label).alias("stratum") if label else F.col("stratum")
        )
        return g.agg(
            F.sum("urgent").alias("n_u"),
            F.sum(F.col("urgent") * F.col("late")).alias("late_u"),
            F.sum(1 - F.col("urgent")).alias("n_o"),
            F.sum((1 - F.col("urgent")) * F.col("late")).alias("late_o"),
        )
    signed = (
        cells(marked)
        .unionAll(cells(marked, "POOLED"))
        .withColumn(
            "direction",
            F.signum(
                (F.col("late_u") * F.col("n_o"))
                - (F.col("late_o") * F.col("n_u"))
            ).cast("int"),
        )
    )
    pooled = signed.where(F.col("stratum") == "POOLED").select(
        F.col("direction").alias("pooled_dir")
    )
    return (
        signed.crossJoin(F.broadcast(pooled))
        .select(
            "stratum",
            F.col("n_u").cast("long").alias("n_urgent"),
            F.col("late_u").cast("long").alias("late_urgent"),
            F.col("n_o").cast("long").alias("n_other"),
            F.col("late_o").cast("long").alias("late_other"),
            (
                F.expr("(1000000 * late_u) div n_u")
                - F.expr("(1000000 * late_o) div n_o")
            ).cast("long").alias("rate_diff_ppm"),
            "direction",
            (F.col("direction") * F.col("pooled_dir") < 0).alias(
                "opposes_pooled"
            ),
        )
        .orderBy("stratum")
    )


_HRW_BEFORE = tuple(f"s{i}" for i in range(8))
_HRW_AFTER = _HRW_BEFORE + ("s8",)


def _hrw_case_sql(shards, h):
    """CASE chain picking the max-weight shard (first match breaks the
    astronomically-unlikely hash tie deterministically)."""
    mx = "greatest(" + ", ".join(h(s) for s in shards) + ")"
    whens = " ".join(
        f"WHEN {h(s)} = {mx} THEN '{s}'" for s in shards
    )
    return f"CASE {whens} END"


def _hrw_duck(s):
    return (
        f"(('0x' || substr(md5('hrw|{s}|' || CAST(doc_id AS VARCHAR)), "
        f"1, 12))::BIGINT)"
    )


def _hrw_spark(s):
    return (
        f"cast(conv(substring(md5(concat('hrw|{s}|', "
        f"cast(doc_id as string))), 1, 12), 16, 10) as bigint)"
    )


@query(
    "q367_rendezvous_hash_churn",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id,
               {_hrw_case_sql(_HRW_BEFORE, _hrw_duck)} AS before_shard,
               {_hrw_case_sql(_HRW_AFTER, _hrw_duck)} AS after_shard
        FROM documents
    ),
    shards AS (
        SELECT unnest(['{"', '".join(_HRW_AFTER)}']) AS shard
    )
    SELECT s.shard,
           CAST(count(*) FILTER (WHERE a.before_shard = s.shard)
                AS BIGINT) AS n_before,
           CAST(count(*) FILTER (WHERE a.after_shard = s.shard)
                AS BIGINT) AS n_after,
           CAST(count(*) FILTER (WHERE a.after_shard = s.shard
                                 AND a.before_shard <> s.shard)
                AS BIGINT) AS moved_in,
           CAST(count(*) FILTER (WHERE a.before_shard = s.shard
                                 AND a.after_shard <> s.shard)
                AS BIGINT) AS moved_out
    FROM shards s CROSS JOIN assigned a
    GROUP BY s.shard
    ORDER BY s.shard
    """,
    tags=("sharding", "consistent-hashing", "rendezvous", "infra"),
)
def q367_rendezvous_hash_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing shard assignment and
    its scale-out churn: every document goes to the shard maximizing
    hash(shard, doc); adding a ninth shard reassigns ONLY the
    documents the new shard now wins — in expectation 1/9 of the
    corpus, and provably nothing moves BETWEEN surviving shards (the
    minimal-disruption property that makes HRW/consistent hashing the
    standard for caches, shard maps, and embedding-index placement —
    contrast q75's static mod-N plan, where adding a shard moves
    ~8/9 of everything). Emits per shard: population before/after,
    inflow, outflow.

    Determinism: weights are the shared 48-bit md5 prefix; the engine
    argmax is array_position-of-array_max (FIRST occurrence wins —
    the same shard-order tie-break as the oracle's first-match CASE
    chain); all outputs are exact counts. The no-lateral-movement
    property is pinned by an invariant test (moved_in = 0 for every
    surviving shard).

    Scale posture: assignment is a stateless map-side expression, and
    the 9 weights are materialized ONCE as columns before the two
    argmaxes — Catalyst does not CSE repeated md5 calls (the q309
    rule), so the first-cut CASE-chain form re-evaluated the digest
    per branch and per downstream aggregate across THREE scans of the
    assignment frame; this shape computes 9 digests per row in one
    scan (measured ~1.4× end-to-end at sf0.1, 1.45 → 1.0 s). Churn
    pivots in ONE corpus pass: each doc emits two (shard, counter)
    structs (before→{n_before, moved_out}, after→{n_after, moved_in})
    that explode and roll up at |shards| grain, partial+final. The
    oracle's shard × doc cross join is oracle-only convenience.
    Reference contract: per-doc placement = map slot
    (``App.config:16``); churn accounting = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    hashed = docs.select(
        *[F.expr(_hrw_spark(s)).alias(f"h{i}") for i, s in enumerate(_HRW_AFTER)]
    )
    names = F.array(*[F.lit(s) for s in _HRW_AFTER])
    arr_b = F.array(*[F.col(f"h{i}") for i in range(len(_HRW_BEFORE))])
    arr_a = F.array(*[F.col(f"h{i}") for i in range(len(_HRW_AFTER))])
    asg = hashed.select(
        F.element_at(
            names, F.array_position(arr_b, F.array_max(arr_b)).cast("int")
        ).alias("before_shard"),
        F.element_at(
            names, F.array_position(arr_a, F.array_max(arr_a)).cast("int")
        ).alias("after_shard"),
    )
    moved = (F.col("before_shard") != F.col("after_shard")).cast("long")
    pairs = asg.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("before_shard").alias("shard"),
                    F.lit(1).cast("long").alias("nb"),
                    F.lit(0).cast("long").alias("na"),
                    F.lit(0).cast("long").alias("mi"),
                    moved.alias("mo"),
                ),
                F.struct(
                    F.col("after_shard").alias("shard"),
                    F.lit(0).cast("long").alias("nb"),
                    F.lit(1).cast("long").alias("na"),
                    moved.alias("mi"),
                    F.lit(0).cast("long").alias("mo"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    agg = pairs.groupBy("shard").agg(
        F.sum("nb").alias("n_before"),
        F.sum("na").alias("n_after"),
        F.sum("mi").alias("moved_in"),
        F.sum("mo").alias("moved_out"),
    )
    shards = spark.createDataFrame(
        [(s,) for s in _HRW_AFTER], "shard string"
    )
    return (
        shards.join(F.broadcast(agg), "shard", "left")
        .select(
            "shard",
            F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.coalesce("moved_in", F.lit(0)).cast("long").alias("moved_in"),
            F.coalesce("moved_out", F.lit(0)).cast("long").alias("moved_out"),
        )
        .orderBy("shard")
    )


_EB_MIN_TRIALS = 5
_EB_TOP = 20


@query(
    "q374_empirical_bayes_shrinkage",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
               count(*) AS n
        FROM events GROUP BY user_id
    ),
    eligible AS (
        SELECT user_id, x, n, x / CAST(n AS DOUBLE) AS r
        FROM per_user WHERE n >= {_EB_MIN_TRIALS}
    ),
    prior AS (
        SELECT sum(x) / CAST(sum(n) AS DOUBLE) AS m,
               (sum(r * r) - count(*)
                    * pow(sum(r) / count(*), 2)) / (count(*) - 1) AS v
        FROM eligible
    ),
    ab AS (
        SELECT m, v,
               m * (m * (1 - m) / v - 1) AS alpha,
               (1 - m) * (m * (1 - m) / v - 1) AS beta
        FROM prior
    )
    SELECT e.user_id,
           CAST(e.x AS BIGINT) AS conversions,
           CAST(e.n AS BIGINT) AS trials,
           ((2 * e.x * 1000000 + e.n) // (2 * e.n)) / 1000000.0 AS raw_rate,
           round((e.x + ab.alpha) / (e.n + ab.alpha + ab.beta), 6)
               AS shrunk_rate
    FROM eligible e CROSS JOIN ab
    ORDER BY round((e.x + ab.alpha) / (e.n + ab.alpha + ab.beta), 6) DESC,
             e.user_id
    LIMIT {_EB_TOP}
    """,
    tags=("stats", "empirical-bayes", "shrinkage", "rates"),
)
def q374_empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-user conversion
    rates: fit a Beta prior by method of moments from the observed
    rate distribution (pooled mean, between-user variance), then
    shrink each user's rate toward it — (x+α)/(n+α+β) — so
    small-sample users stop topping rate leaderboards on noise (the
    standard fix for CTR/quality-score ranking, and what q299's
    uncertainty sampling should consume instead of raw rates). Emits
    the top-20 by shrunk rate with raw rates alongside.

    Determinism: x and n are exact counts; raw_rate is the exact
    integer ratio x/n rounded half-up IN INTEGER ARITHMETIC on both
    engines — ``((2*x*1e6 + n) div (2*n)) / 1e6`` — because odd/128
    ratios sit exactly on 6th-decimal halves where Spark's HALF_UP
    and DuckDB's half-even disagree (the q345 trap). The prior
    moments are float sums of exact-ratio doubles (summation-order
    ulps only); the shrink's round() halves are unreachable (alpha/
    beta irrational); the ranking uses the ROUNDED shrunk rate with
    a user_id tie-break (the q337 argmax rule).

    Scale posture: one partial+final rollup to user grain, a 1-row
    prior broadcast, map-side shrinkage, TakeOrdered(20). Reference
    contract: per-user counting = map slot (``App.config:16``);
    prior fit + shrink = reduce slot (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
        F.count(F.lit(1)).alias("n"),
    )
    eligible = per_user.where(F.col("n") >= _EB_MIN_TRIALS).withColumn(
        "r", F.col("x") / F.col("n").cast("double")
    )
    prior = eligible.agg(
        (F.sum("x") / F.sum("n").cast("double")).alias("m"),
        (
            (
                F.sum(F.col("r") * F.col("r"))
                - F.count(F.lit(1))
                * F.pow(F.sum("r") / F.count(F.lit(1)), 2)
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("v"),
    )
    ab = prior.select(
        (F.col("m") * (F.col("m") * (1 - F.col("m")) / F.col("v") - 1)).alias(
            "alpha"
        ),
        (
            (1 - F.col("m"))
            * (F.col("m") * (1 - F.col("m")) / F.col("v") - 1)
        ).alias("beta"),
    )
    shrunk = F.round(
        (F.col("x") + F.col("alpha"))
        / (F.col("n") + F.col("alpha") + F.col("beta")),
        6,
    )
    return (
        eligible.crossJoin(F.broadcast(ab))
        .select(
            "user_id",
            F.col("x").cast("long").alias("conversions"),
            F.col("n").cast("long").alias("trials"),
            (
                F.expr("(2 * x * 1000000 + n) div (2 * n)") / F.lit(1e6)
            ).alias("raw_rate"),
            shrunk.alias("shrunk_rate"),
        )
        .orderBy(F.desc("shrunk_rate"), F.asc("user_id"))
        .limit(_EB_TOP)
    )


_FK_RATERS = 3
_FK_NOISE_MOD = 5  # rater flips the true label on 1-in-5 md5 buckets


@query(
    "q375_fleiss_kappa_agreement",
    oracle=f"""
    WITH votes AS (
        SELECT e.vec_id, r.rater,
               CASE WHEN ('0x' || substr(md5('rater' || r.rater || '|' ||
                          CAST(e.vec_id AS VARCHAR)), 1, 12))::BIGINT
                         % {_FK_NOISE_MOD} = 0
                    THEN 1 - (e.label % 2) ELSE e.label % 2 END AS vote
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(1, {_FK_RATERS} + 1)) AS rater) r
    ),
    counts AS (
        SELECT vec_id,
               sum(vote) AS n1,
               {_FK_RATERS} - sum(vote) AS n0
        FROM votes GROUP BY vec_id
    ),
    pi AS (
        SELECT vec_id,
               (n1 * n1 + n0 * n0 - {_FK_RATERS})
                   / CAST({_FK_RATERS} * ({_FK_RATERS} - 1) AS DOUBLE) AS p_i
        FROM counts
    ),
    agg AS (
        SELECT count(*) AS n_subj,
               sum(p_i) AS sum_pi,
               sum(n1) / CAST(count(*) * {_FK_RATERS} AS DOUBLE) AS p1
        FROM pi JOIN counts USING (vec_id)
    )
    SELECT CAST(n_subj AS BIGINT) AS n_subjects,
           CAST({_FK_RATERS} AS INTEGER) AS n_raters,
           round(sum_pi / n_subj, 6) AS p_bar,
           round(p1 * p1 + (1 - p1) * (1 - p1), 6) AS p_expected,
           round((sum_pi / n_subj - (p1 * p1 + (1 - p1) * (1 - p1)))
                 / (1 - (p1 * p1 + (1 - p1) * (1 - p1))), 6) + 0.0
               AS fleiss_kappa
    FROM agg
    """,
    tags=("stats", "agreement", "fleiss-kappa", "annotation", "llm"),
)
def q375_fleiss_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa inter-annotator agreement over a deterministic
    3-rater panel: each pseudo-rater reports the item's binary label
    with 1-in-5 md5-bucketed flips (the q332/q358 deterministic-
    corruption discipline standing in for real annotator noise), and
    kappa = (P̄ − Pe)/(1 − Pe) measures agreement beyond chance — the
    gate every labeling/RLHF-preference pipeline applies before
    trusting a batch of human (or LLM-judge) annotations (q256's
    preference pairs assume exactly this kind of upstream check).

    Determinism: vote counts are exact integers; per-item agreement
    P_i is an exact-integer expression over n₁/n₀; the two float
    reductions (ΣP_i, marginal p₁) sum exact ratios with only
    summation-order ulps, absorbed by round(6) with signed-zero
    normalization on kappa (near-zero kappa can be a negative
    epsilon).

    Scale posture: the rater panel is a 3-row broadcast fan-out
    (map-side vote synthesis), one rollup to item grain, one 1-row
    aggregate. Reference contract: per-item voting = map slot
    (``App.config:16``); agreement consolidation = reduce slot
    (``App.config:17``)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    raters = spark.createDataFrame(
        [(r,) for r in range(1, _FK_RATERS + 1)], "rater int"
    )
    flip = (
        hex_int(
            F.md5(
                F.concat(
                    F.lit("rater"),
                    F.col("rater").cast("string"),
                    F.lit("|"),
                    F.col("vec_id").cast("string"),
                )
            ),
            1,
            12,
        )
        % _FK_NOISE_MOD
        == 0
    )
    votes = (
        emb.select("vec_id", (F.col("label") % 2).alias("y"))
        .crossJoin(F.broadcast(raters))
        .select(
            "vec_id",
            F.when(flip, 1 - F.col("y")).otherwise(F.col("y")).alias("vote"),
        )
    )
    counts = votes.groupBy("vec_id").agg(
        F.sum("vote").alias("n1"),
        (F.lit(_FK_RATERS) - F.sum("vote")).alias("n0"),
    )
    p_i = (
        F.col("n1") * F.col("n1") + F.col("n0") * F.col("n0") - _FK_RATERS
    ) / F.lit(float(_FK_RATERS * (_FK_RATERS - 1)))
    agg = counts.agg(
        F.count(F.lit(1)).alias("n_subj"),
        F.sum(p_i).alias("sum_pi"),
        (
            F.sum("n1") / (F.count(F.lit(1)) * _FK_RATERS).cast("double")
        ).alias("p1"),
    )
    pe = F.col("p1") * F.col("p1") + (1 - F.col("p1")) * (1 - F.col("p1"))
    pbar = F.col("sum_pi") / F.col("n_subj")
    return agg.select(
        F.col("n_subj").cast("long").alias("n_subjects"),
        F.lit(_FK_RATERS).cast("int").alias("n_raters"),
        F.round(pbar, 6).alias("p_bar"),
        F.round(pe, 6).alias("p_expected"),
        round_nz((pbar - pe) / (1 - pe), 6).alias("fleiss_kappa"),
    )


# F(4, inf) 95% critical value (literal, the q339/q372 discipline).
_ANOVA_F_CRIT = 2.372


@query(
    "q379_oneway_anova",
    oracle=f"""
    WITH g AS (
        SELECT event_type, count(*) AS n, sum(value) AS s,
               sum(value * value) AS ss
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT sum(n) AS nn, sum(s) AS st, count(*) AS k FROM g
    ),
    parts AS (
        SELECT tot.k, tot.nn,
               sum(g.n * pow(g.s / g.n - tot.st / tot.nn, 2)) AS ssb,
               sum(g.ss - g.n * pow(g.s / g.n, 2)) AS ssw
        FROM g CROSS JOIN tot GROUP BY tot.k, tot.nn
    )
    SELECT CAST(k AS INTEGER) AS n_groups,
           CAST(nn AS BIGINT) AS n_obs,
           round(ssb, 4) AS ss_between,
           round(ssw, 4) AS ss_within,
           round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS f_stat,
           round((ssb / (k - 1)) / (ssw / (nn - k)), 6) > {_ANOVA_F_CRIT}
               AS reject_equal_means
    FROM parts
    """,
    tags=("stats", "anova", "experimentation", "hypothesis-test"),
)
def q379_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: do mean event values differ across event types?
    Between/within sum-of-squares decomposition and the F statistic
    against the literal F(k−1, ∞) 95% critical value — the k-group
    generalization of q344's Welch t (which only compares two), and
    the gate before any per-group mean comparison is read as signal.

    Determinism: the decomposition needs only per-group (n, Σx, Σx²)
    — three partial+final sums whose order ulps wash out at the 4/6dp
    rounds; the reject flag compares the ROUNDED F (the q353 rule).

    Scale posture: one |groups|-grain aggregate, a 1-row total, and
    |groups| rows of arithmetic — the textbook two-pass-free ANOVA
    (Σx² identity instead of residual passes). Reference contract:
    group moments = map slot (``App.config:16``); decomposition =
    reduce slot (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).alias("k"),
    )
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "nn")
        .agg(
            F.sum(
                F.col("n")
                * F.pow(
                    F.col("s") / F.col("n") - F.col("st") / F.col("nn"), 2
                )
            ).alias("ssb"),
            F.sum(
                F.col("ss") - F.col("n") * F.pow(F.col("s") / F.col("n"), 2)
            ).alias("ssw"),
        )
    )
    f_stat = F.round(
        (F.col("ssb") / (F.col("k") - 1))
        / (F.col("ssw") / (F.col("nn") - F.col("k"))),
        6,
    )
    return parts.select(
        F.col("k").cast("int").alias("n_groups"),
        F.col("nn").cast("long").alias("n_obs"),
        F.round("ssb", 4).alias("ss_between"),
        F.round("ssw", 4).alias("ss_within"),
        f_stat.alias("f_stat"),
        (f_stat > _ANOVA_F_CRIT).alias("reject_equal_means"),
    )


@query(
    "q380_gini_concentration",
    oracle="""
    WITH pc AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS i
        FROM pc
    ),
    agg AS (
        SELECT count(*) AS n, sum(cents) AS tot,
               sum(i * cents) AS iw
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(tot AS BIGINT) AS total_cents,
           round(2.0 * iw / (n * CAST(tot AS DOUBLE))
                 - (n + 1.0) / n, 6) + 0.0 AS gini
    FROM agg
    """,
    tags=("stats", "gini", "concentration", "inequality"),
)
def q380_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration:
    G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the rank-ordered per-
    customer totals — the single-number inequality measure that
    complements q153's Pareto coverage (top-x% share) and q105's
    skew profile; the same statistic applied to per-source token
    counts is the corpus-balance number a dataset card (q321) quotes.

    Determinism: money is integer cents summed as longs; the rank
    rides the window-free distributed row_number with a custkey
    tie-break; Σi·x is an exact integer sum (< 2^63 through sf100);
    the final expression is two divisions rounded with signed-zero
    normalization (perfect equality gives a −0.0-prone epsilon).

    Scale posture: one custkey-grain rollup, the sample-sort rank
    (range shuffle + broadcast offsets — never a global window), one
    1-row moment aggregate. Reference contract: per-customer totals
    = map slot (``App.config:16``); rank + Gini consolidation =
    reduce slot (``App.config:17``)."""
    o = load_tables(spark, sf_dir)["orders"]
    pc = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = distributed_row_number(
        pc, [F.asc("cents"), F.asc("o_custkey")], out="i"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).alias("iw"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("tot").cast("long").alias("total_cents"),
        round_nz(
            2.0 * F.col("iw") / (F.col("n") * F.col("tot").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@query(
    "q382_count_overdispersion",
    oracle="""
    WITH per_user AS (
        SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS ss FROM per_user
    ),
    stats AS (
        SELECT n,
               s / CAST(n AS DOUBLE) AS m,
               (ss - n * pow(s / CAST(n AS DOUBLE), 2)) / (n - 1) AS v
        FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(m, 4) AS mean_events,
           round(v, 4) AS var_events,
           round(v / m, 4) AS dispersion_index,
           round(v / m, 4) > 1.0 AS overdispersed,
           round(CASE WHEN v > m THEN m * m / (v - m) ELSE NULL END, 4)
               AS nb_r,
           round(CASE WHEN v > m THEN m / v ELSE NULL END, 4) AS nb_p
    FROM stats
    """,
    tags=("stats", "count-model", "overdispersion", "negative-binomial"),
)
def q382_count_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-model overdispersion check with negative-binomial
    method-of-moments fit: per-user event counts should be Poisson
    (variance = mean) under memoryless behavior; the dispersion index
    v/m > 1 says they cluster (heavy users — the reality every usage
    model must handle), and the NB parameters r = m²/(v−m),
    p = m/v are the drop-in correction. The count-distribution gate
    before any per-user rate modeling (q374's shrinkage prior
    implicitly assumes this check was read).

    Determinism: counts are exact; mean/variance come from the one-
    pass Σ/Σ² identity (order ulps under the 4dp round); the
    overdispersion flag compares the ROUNDED index; NB parameters are
    null when v ≤ m (Poisson or under-dispersed — no NB fit exists),
    identically on both engines.

    Scale posture: one user-grain rollup and one 1-row moment
    aggregate. Reference contract: per-user counting = map slot
    (``App.config:16``); moments + fit = reduce slot
    (``App.config:17``)."""
    ev = load_tables(spark, sf_dir)["events"]
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    m = F.col("s") / F.col("n").cast("double")
    v = (F.col("ss") - F.col("n") * F.pow(m, 2)) / (F.col("n") - 1)
    disp = F.round(v / m, 4)
    return mom.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(m, 4).alias("mean_events"),
        F.round(v, 4).alias("var_events"),
        disp.alias("dispersion_index"),
        (disp > 1.0).alias("overdispersed"),
        F.round(
            F.when(v > m, m * m / (v - m)).otherwise(F.lit(None)), 4
        ).alias("nb_r"),
        F.round(F.when(v > m, m / v).otherwise(F.lit(None)), 4).alias("nb_p"),
    )


@query(
    "q383_propensity_score_matching",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS y,
               round(1 / (1 + exp(-((n_chars - 500) / 200.0))), 6) AS s,
               (('0x' || substr(md5('psm|' || CAST(doc_id AS VARCHAR)),
                               1, 12))::BIGINT % 5 = 0) AS treated
        FROM documents
    ),
    keyed AS (
        SELECT *, CAST(round(s * 1000000) AS BIGINT) * 1000000 + doc_id
                      AS key
        FROM base
    ),
    t AS (SELECT * FROM keyed WHERE treated),
    c AS (SELECT * FROM keyed WHERE NOT treated),
    prevm AS (
        SELECT t.doc_id, t.lang, t.s, t.y, c.s AS ps, c.y AS py
        FROM t ASOF LEFT JOIN c ON t.lang = c.lang AND c.key <= t.key
    ),
    nextm AS (
        SELECT t.doc_id, c.s AS ns, c.y AS ny
        FROM t ASOF LEFT JOIN c ON t.lang = c.lang AND c.key >= t.key
    ),
    chosen AS (
        SELECT p.lang, p.y,
               CASE WHEN p.ps IS NULL THEN n.ny
                    WHEN n.ns IS NULL THEN p.py
                    WHEN round(p.s - p.ps, 6) <= round(n.ns - p.s, 6)
                        THEN p.py
                    ELSE n.ny END AS ym
        FROM prevm p JOIN nextm n ON p.doc_id = n.doc_id
    ),
    ctl AS (
        SELECT lang, avg(CAST(y AS DOUBLE)) AS cbar
        FROM keyed WHERE NOT treated GROUP BY lang
    )
    SELECT ch.lang,
           CAST(count(*) AS BIGINT) AS n_treated,
           round(avg(CAST(ch.y AS DOUBLE)) - ctl.cbar, 4) + 0.0
               AS naive_diff,
           round(avg(CAST(ch.y - ch.ym AS DOUBLE)), 4) + 0.0
               AS att_matched
    FROM chosen ch JOIN ctl ON ch.lang = ctl.lang
    GROUP BY ch.lang, ctl.cbar
    ORDER BY ch.lang
    """,
    tags=("causal", "matching", "propensity", "experimentation"),
)
def q383_propensity_score_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching: each md5-assigned 'treated' document
    is matched (with replacement, within language) to the control
    whose propensity score — a logistic of the n_chars confounder —
    is NEAREST, and the average treated-minus-matched outcome (token
    count) is the ATT. The naive treated-vs-all-controls difference
    rides alongside: matching on the confounder's score is what
    collapses it toward zero under this null treatment. Completes the
    causal toolkit around q318 (CUPED), q320 (DiD), q334 (QTE), and
    q336 (uplift) with the observational-matching member.

    Determinism: scores round at 6 before everything; the nearest
    match decomposes into BACKWARD + FORWARD as-of joins on an exact
    integer (score·10⁶, doc_id) key (unique by construction — doc_id
    occupies the low 10⁶ band; the bound holds through sf1) using the
    engine's union+window as-of primitive against DuckDB's native
    ASOF JOIN (the q157 parity pairing), with the nearer side chosen
    on rounded distances, ties to the backward match.

    Scale posture: two as-of joins = two (lang-keyed) shuffles,
    linear in rows (never a score cross join); aggregates at
    |langs| grain. Reference contract: scoring = map slot
    (``App.config:16``); match + contrast = reduce slot
    (``App.config:17``)."""
    from azure_batch_map_reduce_spark.operators.joins import asof_join

    docs = load_tables(spark, sf_dir)["documents"]
    s = F.round(
        1 / (1 + F.exp(-((F.col("n_chars") - 500) / F.lit(200.0)))), 6
    )
    treated_flag = (
        hex_int(F.md5(F.concat(F.lit("psm|"), F.col("doc_id").cast("string"))), 1, 12)
        % 5
        == 0
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("y"),
        s.alias("s"),
        treated_flag.alias("treated"),
    ).withColumn(
        "key",
        F.round(F.col("s") * 1_000_000).cast("long") * 1_000_000
        + F.col("doc_id"),
    )
    t = base.where("treated").select("doc_id", "lang", "key", "s", "y")
    c = base.where(~F.col("treated")).select(
        "lang", "key", F.col("s").alias("cs"), F.col("y").alias("cy")
    )
    prevm = asof_join(
        t, c, on="key", by="lang", value_cols=["cs", "cy"]
    ).select(
        "doc_id", "lang", "s", "y",
        F.col("cs").alias("ps"), F.col("cy").alias("py"),
    )
    t_neg = t.withColumn("key", -F.col("key"))
    c_neg = c.withColumn("key", -F.col("key"))
    nextm = asof_join(
        t_neg, c_neg, on="key", by="lang", value_cols=["cs", "cy"]
    ).select(
        F.col("doc_id").alias("n_doc"),
        F.col("cs").alias("ns"), F.col("cy").alias("ny"),
    )
    chosen = (
        prevm.join(nextm, F.col("doc_id") == F.col("n_doc"))
        .select(
            "lang",
            "y",
            F.when(F.col("ps").isNull(), F.col("ny"))
            .when(F.col("ns").isNull(), F.col("py"))
            .when(
                F.round(F.col("s") - F.col("ps"), 6)
                <= F.round(F.col("ns") - F.col("s"), 6),
                F.col("py"),
            )
            .otherwise(F.col("ny"))
            .alias("ym"),
        )
    )
    ctl = (
        base.where(~F.col("treated"))
        .groupBy("lang")
        .agg(F.avg(F.col("y").cast("double")).alias("cbar"))
    )
    return (
        chosen.join(F.broadcast(ctl), "lang")
        .groupBy("lang", "cbar")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_treated"),
            round_nz(
                F.avg(F.col("y").cast("double")) - F.first("cbar"), 4
            ).alias("naive_diff"),
            round_nz(
                F.avg((F.col("y") - F.col("ym")).cast("double")), 4
            ).alias("att_matched"),
        )
        .select("lang", "n_treated", "naive_diff", "att_matched")
        .orderBy("lang")
    )


@query(
    "q394_k_anonymity_audit",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
               count(*) AS k
        FROM customer
        GROUP BY 1, 2, 3
    ),
    tot AS (SELECT sum(k) AS n_rows FROM qi),
    bucketed AS (
        SELECT CASE WHEN k = 1 THEN 'k=1'
                    WHEN k < 5 THEN 'k=2-4'
                    ELSE 'k>=5' END AS risk_bucket,
               count(*) AS n_groups, sum(k) AS n_rows
        FROM qi GROUP BY 1
    )
    SELECT b.risk_bucket,
           CAST(b.n_groups AS BIGINT) AS n_groups,
           CAST(b.n_rows AS BIGINT) AS n_rows,
           CAST((1000000 * b.n_rows) // t.n_rows AS BIGINT) AS rows_ppm
    FROM bucketed b CROSS JOIN tot t
    ORDER BY b.risk_bucket
    """,
    tags=("privacy", "k-anonymity", "audit", "curation"),
)
def q394_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier tuple (nation, market segment, account-balance
    band of 1000): how many identity groups — and how many ROWS — sit
    at k=1 (unique, re-identifiable), k=2-4 (fragile), k≥5
    (conventionally safe)? The privacy gate a release pipeline runs
    before publishing "anonymized" extracts, complementing q54's PII
    scrub (scrubbing direct identifiers does nothing about
    quasi-identifier uniqueness — this measures that residual risk).

    Determinism: the balance band is exact integer cents floor-divided
    by 100000 (never float floor); group sizes, bucket tallies, and
    the ppm share are exact integer arithmetic throughout.

    Scale posture: ONE partial+final aggregate to quasi-identifier
    grain (the group-by IS the audit), a 3-row bucket rollup, and a
    1-row total broadcast — no joins over fact-sized data. Reference
    contract: per-row QI projection = map slot (``App.config:16``);
    risk rollup = reduce slot (``App.config:17``)."""
    cust = load_tables(spark, sf_dir)["customer"]
    qi = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(round(c_acctbal * 100) AS BIGINT) div 100000"
        ).alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    tot = qi.agg(F.sum("k").alias("total_rows"))
    bucketed = qi.groupBy(
        F.when(F.col("k") == 1, "k=1")
        .when(F.col("k") < 5, "k=2-4")
        .otherwise("k>=5")
        .alias("risk_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("k").cast("long").alias("n_rows"),
    )
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .select(
            "risk_bucket",
            "n_groups",
            "n_rows",
            F.expr("(1000000 * n_rows) div total_rows")
            .cast("long")
            .alias("rows_ppm"),
        )
        .orderBy("risk_bucket")
    )


_DP_EPS_EACH = 0.25          # per-release budget; two releases compose
_DP_SCALE = 1.0 / _DP_EPS_EACH  # Laplace b = sensitivity/epsilon, sens=1


@query(
    "q407_dp_noisy_count_release",
    oracle="""
    WITH g AS (
        SELECT c_nationkey,
               count(*) AS n_customers,
               sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS n_high_bal
        FROM customer
        GROUP BY c_nationkey
    ),
    noised AS (
        SELECT c_nationkey, n_customers, n_high_bal,
               (CAST(('0x' || substr(md5('dpc|' || CAST(c_nationkey AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 0.5) / 4294967296.0 AS uc,
               (CAST(('0x' || substr(md5('dph|' || CAST(c_nationkey AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 0.5) / 4294967296.0 AS uh
    FROM g
    )
    SELECT c_nationkey,
           CAST(n_customers AS BIGINT) AS n_customers,
           round(n_customers - 4.0 * sign(uc - 0.5) * ln(1.0 - 2.0 * abs(uc - 0.5)), 6) + 0.0 AS noisy_n_customers,
           CAST(n_high_bal AS BIGINT) AS n_high_bal,
           round(n_high_bal - 4.0 * sign(uh - 0.5) * ln(1.0 - 2.0 * abs(uh - 0.5)), 6) + 0.0 AS noisy_n_high_bal,
           CAST(0.5 AS DOUBLE) AS epsilon_total
    FROM noised
    ORDER BY c_nationkey
    """,
    tags=("privacy", "differential-privacy", "laplace", "release", "curation"),
)
def q407_dp_noisy_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private release of per-nation customer counts
    via the Laplace mechanism: two count statistics per group (all
    customers; high-balance customers, acctbal > 5000) each released
    at ε=0.25 with sensitivity 1 (one customer = one row in exactly
    one nation, contributing ≤1 to each stat), composing sequentially
    to the reported ε_total=0.5 budget. This is the publish gate a
    corpus pipeline runs before shipping dataset-card statistics
    (q321) over data containing individuals — completing the privacy
    family: q54 scrubs direct identifiers, q394 measures residual
    quasi-identifier risk, q209 erases on request, and this exercises
    the Laplace release mechanism's arithmetic.

    **This query verifies the mechanism's MATH, not a privacy
    guarantee.** Two properties of this test harness void actual
    differential privacy: (1) the noise is a deterministic, publicly
    recomputable function of the released group key (salted md5 of
    c_nationkey) — required so both engines draw identical noise for
    the differential check, but an adversary can recompute and subtract
    it; (2) the exact true counts ship in the same result as the
    in-result calibration audit (the q254/q270 audit pattern). A
    production release would draw noise from a secret-seeded CSPRNG
    and publish the noisy columns ONLY; what this query pins is that
    the inverse-CDF Laplace arithmetic at ε=0.25 per stat (sequential
    composition to ε_total=0.5, sensitivity 1: one customer = one row
    in exactly one nation, contributing ≤1 to each stat) is
    bit-reproducible cross-engine.

    Determinism: the Laplace draw is the inverse CDF applied to a
    hash-uniform — u = (first 8 md5 hex chars of the salted group key
    + 0.5) / 2^32, noise = -(1/ε)·sign(u-½)·ln(1-2|u-½|). Every step
    up to the ln is exact IEEE (x+0.5 needs 33 bits, division is by a
    power of two, u-½ and 1-2|u-½| are multiples of 2^-33), so both
    engines hand bit-identical arguments to ln; the single libm call
    lands on a 6-digit round with group-grain row counts, the same
    exposure class as the entropy queries. round_nz + oracle `+0.0`
    guard the signed-zero comparator rule (a noisy count CAN be
    negative — standard for unclamped DP releases, documented here
    rather than clamped so the audit shows the mechanism raw).

    Scale posture: ONE partial+final count aggregate to group grain
    (map-side combine does the data-sized work); noise is a handful
    of scalar expressions ON the group-grain rows — no joins, no
    windows, no second scan. At 100 TB the release grain stays tiny
    regardless of fact size; widening to contingency tables or
    histograms (q106/q120) reuses the same salted-hash draw per cell.
    Reference contract: per-row projection = map slot
    (``App.config:16``); the count consolidation = reduce slot
    (``App.config:17``, ``Program.cs:351-384``).
    """
    cust = load_tables(spark, sf_dir)["customer"]
    g = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0))
        .cast("long")
        .alias("n_high_bal"),
    )

    def laplace(salt: str) -> Column:
        h = F.md5(F.concat(F.lit(salt), F.col("c_nationkey").cast("string")))
        x = hex_int(h, 1, 8).cast("double")
        u = (x + F.lit(0.5)) / F.lit(4294967296.0)
        v = u - F.lit(0.5)
        return (
            -F.lit(_DP_SCALE)
            * F.signum(v)
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(v))
        )

    return (
        g.select(
            "c_nationkey",
            "n_customers",
            round_nz(F.col("n_customers") + laplace("dpc|"), 6).alias(
                "noisy_n_customers"
            ),
            "n_high_bal",
            round_nz(F.col("n_high_bal") + laplace("dph|"), 6).alias(
                "noisy_n_high_bal"
            ),
            F.lit(0.5).alias("epsilon_total"),
        )
        .orderBy("c_nationkey")
    )


_IPF_ROUNDS = 3
_IPF_ORACLE_LEVELS = "".join(
    f"""
s{r} AS MATERIALIZED (
    SELECT seg, list_reduce(list({'n' if r == 1 else 'n * w'} ORDER BY nat),
                            (a, b) -> a + b) AS m
    FROM {'grid0' if r == 1 else f'g{2 * r - 2}'} GROUP BY seg
),
g{2 * r - 1} AS MATERIALIZED (
    SELECT g.nat, g.seg, g.n_customers, g.n,
           {'(t.total / 5.0) / s.m' if r == 1 else 'g.w * (t.total / 5.0) / s.m'} AS w
    FROM {'grid0' if r == 1 else f'g{2 * r - 2}'} g JOIN s{r} s USING (seg) CROSS JOIN tot t
),
c{r} AS MATERIALIZED (
    SELECT nat, list_reduce(list(n * w ORDER BY seg), (a, b) -> a + b) AS m
    FROM g{2 * r - 1} GROUP BY nat
),
g{2 * r} AS MATERIALIZED (
    SELECT g.nat, g.seg, g.n_customers, g.n, g.w * (t.total / 25.0) / c.m AS w
    FROM g{2 * r - 1} g JOIN c{r} c USING (nat) CROSS JOIN tot t
),"""
    for r in range(1, _IPF_ROUNDS + 1)
)


@query(
    "q409_ipf_raking_weights",
    oracle=f"""
    WITH grid0 AS MATERIALIZED (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               count(*) AS n_customers, CAST(count(*) AS DOUBLE) AS n
        FROM customer GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (
        SELECT CAST(sum(n_customers) AS DOUBLE) AS total FROM grid0
    ),{_IPF_ORACLE_LEVELS}
    final AS (SELECT * FROM g{2 * _IPF_ROUNDS})
    SELECT nat AS c_nationkey, seg AS c_mktsegment,
           CAST(n_customers AS BIGINT) AS n_customers,
           round(w, 6) + 0.0 AS raked_weight,
           round(n * w, 6) + 0.0 AS raked_mass
    FROM final
    ORDER BY c_nationkey, c_mktsegment
    """,
    tags=("curation", "mixture", "raking", "ipf", "iterative"),
)
def q409_ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of per-cell sampling
    weights so the (nation × market-segment) customer grid matches
    BOTH equal-share marginal targets (total/5 per segment, total/25
    per nation) — the classic survey-weighting algorithm, and the
    corpus-rebalancing primitive that complements the mixture family:
    DoReMi (q264) reweights one axis from proxy losses, DSIR (q356)
    reweights by importance ratios, Neyman (q308) allocates a sample
    budget — raking is what you run when the TARGET is a joint
    marginal specification (e.g. "equal language share AND equal
    source share") and the observed grid must be deformed minimally
    (min KL) to honor it. Three alternating scaling rounds (segment
    axis then nation axis) leave segment masses within ~0.4% of
    target on the fixture — convergence behavior, not a pinned bound.

    Determinism: each marginal sum is a SEQUENTIAL fold over the
    cell list sorted by the opposite key (Spark: `F.aggregate` over
    `array_sort(collect_list(struct(key, val)))` seeded 0.0; DuckDB:
    `list_reduce(list(val ORDER BY key))` seeded with the first
    element — identical because 0.0 + x is exact for the positive
    first term), so both engines add the SAME doubles in the SAME
    order and every scaling ratio is bit-identical; the equal-share
    targets are single exact IEEE divisions of the integer total.
    Float sums via plain SUM() would differ by summation-order ulps
    and compound over rounds (the q397 lesson applied prospectively).

    Scale posture: ONE partial+final count aggregate reduces the
    fact table to grid grain (|nations|×|segments| ≤ 125 cells);
    all six scalings run on that bounded grain with 5/25-row
    broadcast marginal joins, `localCheckpoint(eager)` per scaling
    keeping the iterative plan shallow (the q103/q286 rule). At
    100 TB the grid for realistic axes (language × source) is still
    thousands of cells — the fact table is scanned exactly once.
    Reference contract: per-row cell projection = map slot
    (``App.config:16``); the alternating consolidations = staged
    reduce slots under the DAG barrier (``Program.cs:351-384``).
    """
    cust = load_tables(spark, sf_dir)["customer"]
    grid = (
        cust.groupBy(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("n", F.col("n_customers").cast("double"))
    )
    tot = grid.agg(F.sum("n_customers").cast("double").alias("total"))
    grid = grid.crossJoin(F.broadcast(tot)).localCheckpoint(eager=True)

    def fold_sum(order_key: str, val: Column) -> Column:
        arr = F.array_sort(
            F.collect_list(F.struct(F.col(order_key).alias("k"), val.alias("v")))
        )
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x["v"])

    for r in range(1, _IPF_ROUNDS + 1):
        mass = F.col("n") if r == 1 else F.col("n") * F.col("w")
        seg_m = grid.groupBy("seg").agg(fold_sum("nat", mass).alias("m"))
        scaled = (
            grid.join(F.broadcast(seg_m), "seg")
            .withColumn(
                "w",
                (F.col("total") / F.lit(5.0)) / F.col("m")
                if r == 1
                else F.col("w") * (F.col("total") / F.lit(5.0)) / F.col("m"),
            )
            .drop("m")
            .localCheckpoint(eager=True)
        )
        nat_m = scaled.groupBy("nat").agg(
            fold_sum("seg", F.col("n") * F.col("w")).alias("m")
        )
        grid = (
            scaled.join(F.broadcast(nat_m), "nat")
            .withColumn(
                "w", F.col("w") * (F.col("total") / F.lit(25.0)) / F.col("m")
            )
            .drop("m")
            .localCheckpoint(eager=True)
        )

    return (
        grid.select(
            F.col("nat").alias("c_nationkey"),
            F.col("seg").alias("c_mktsegment"),
            F.col("n_customers").cast("long").alias("n_customers"),
            round_nz(F.col("w"), 6).alias("raked_weight"),
            round_nz(F.col("n") * F.col("w"), 6).alias("raked_mass"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


_PERM_K = 200  # randomization-test resamples (deterministic, salted)


@query(
    "q418_randomization_test",
    oracle=f"""
    WITH pool AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    obs AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pool,
               abs(CAST(sum(CASE WHEN source = 'src0' THEN v END) AS DOUBLE)
                     / sum(CASE WHEN source = 'src0' THEN 1 END)
                   - CAST(sum(CASE WHEN source = 'src1' THEN v END) AS DOUBLE)
                     / sum(CASE WHEN source = 'src1' THEN 1 END)) AS t_obs
        FROM pool
    ),
    assigned AS (
        SELECT k.k, p.v,
               ('0x' || substr(md5('q418:' || CAST(k.k AS VARCHAR) || ':'
                                   || CAST(p.doc_id AS VARCHAR)), 1, 8)
               )::BIGINT % 2 AS bit
        FROM pool p CROSS JOIN (SELECT unnest(generate_series(1, {_PERM_K}))
                                AS k) k
    ),
    perm AS (
        SELECT k,
               abs(CAST(sum(CASE WHEN bit = 0 THEN v END) AS DOUBLE)
                     / sum(CASE WHEN bit = 0 THEN 1 END)
                   - CAST(sum(CASE WHEN bit = 1 THEN v END) AS DOUBLE)
                     / sum(CASE WHEN bit = 1 THEN 1 END)) AS t_k
        FROM assigned GROUP BY k
    )
    SELECT o.n_pool,
           round(o.t_obs, 6) + 0.0 AS t_obs,
           CAST({_PERM_K} AS BIGINT) AS n_perms,
           CAST(sum(CASE WHEN p.t_k >= o.t_obs THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ge,
           ((2 * (1 + sum(CASE WHEN p.t_k >= o.t_obs THEN 1 ELSE 0 END))
               * 10000 + ({_PERM_K} + 1)) // (2 * ({_PERM_K} + 1))) / 10000.0
               AS p_value
    FROM perm p CROSS JOIN obs o
    GROUP BY o.n_pool, o.t_obs
    """,
    tags=("stats", "randomization", "permutation", "hypothesis-test", "curation"),
)
def q418_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic randomization (permutation-style) test of whether
    two sources differ in mean document length — the
    distribution-free significance check a curation pipeline runs
    before acting on a per-source quality gap (complements q131's
    parametric ANOVA and q265's Poisson-bootstrap CIs with the
    resampling-inference class the family lacked). The pooled src0 ∪
    src1 docs are re-assigned 200 times by a salted-md5 coin
    (random-REASSIGNMENT form: binomial splits, valid under the null
    of exchangeability; the fixed-margin permutation variant needs a
    full sort per resample — see Scale posture); the p-value is the
    add-one-smoothed fraction of resamples whose |mean difference|
    reaches the observed one.

    Determinism: assignment bits are exact integer md5 windows (the
    q55/q407 idiom, salted per resample); every group sum/count is an
    exact integer; each mean is ONE IEEE division of exact-in-double
    integers, the |difference| is elementwise IEEE on identical
    inputs, and the ≥-comparison of bit-identical doubles is
    engine-independent; the released p-value is an integer half-up
    ratio. No libm anywhere.

    Scale posture: the resample grid is pool × K rows built by an
    in-plan ``sequence`` explode (no driver loop, no crossJoin of two
    data-sized tables — K is a constant), aggregated partial+final to
    K grain; the observed statistic is a 1-row broadcast onto the
    K-row frame. At 100 TB the grid multiplies the POOL, so either
    sample the pool first (q112's priority sample) or sketch the
    per-resample sums; the fixed-margin variant would add a
    distributed rank per resample (q171's sample-sort primitive).
    Reference contract: per-doc assignment = map slot
    (``App.config:16``); per-resample consolidation = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    pool = docs.where(F.col("source").isin("src0", "src1")).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("v")
    )
    obs = pool.agg(
        F.count(F.lit(1)).cast("long").alias("n_pool"),
        F.abs(
            F.sum(F.when(F.col("source") == "src0", F.col("v")))
            .cast("double")
            / F.sum(F.when(F.col("source") == "src0", 1)).cast("double")
            - F.sum(F.when(F.col("source") == "src1", F.col("v")))
            .cast("double")
            / F.sum(F.when(F.col("source") == "src1", 1)).cast("double")
        ).alias("t_obs"),
    )
    bit = (
        hex_int(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit("q418"),
                    F.col("k").cast("string"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            8,
        )
        % 2
    )
    assigned = pool.select(
        "doc_id",
        "v",
        F.explode(F.sequence(F.lit(1), F.lit(_PERM_K))).alias("k"),
    ).select("k", "v", bit.alias("bit"))
    perm = assigned.groupBy("k").agg(
        F.abs(
            F.sum(F.when(F.col("bit") == 0, F.col("v"))).cast("double")
            / F.sum(F.when(F.col("bit") == 0, 1)).cast("double")
            - F.sum(F.when(F.col("bit") == 1, F.col("v"))).cast("double")
            / F.sum(F.when(F.col("bit") == 1, 1)).cast("double")
        ).alias("t_k")
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .groupBy("n_pool", "t_obs")
        .agg(
            F.sum(F.when(F.col("t_k") >= F.col("t_obs"), 1).otherwise(0))
            .cast("long")
            .alias("n_ge")
        )
        .select(
            "n_pool",
            round_nz(F.col("t_obs"), 6).alias("t_obs"),
            F.lit(_PERM_K).cast("long").alias("n_perms"),
            "n_ge",
            half_up_ratio(
                F.lit(1) + F.col("n_ge"), F.lit(_PERM_K + 1), 4
            ).alias("p_value"),
        )
    )


# --- q422: unbiased pass@k evaluation -------------------------------

_PASS_AT_KS = (1, 5, 10)

# decimal(38,0) cliff for the k=10 falling-factorial release: half_up's
# numerator is 2·den·10⁶ with den ≈ n¹⁰, which exceeds 10³⁸ at
# n ≈ 1480 (Spark decimal overflow) while DuckDB HUGEINT errors at
# n ≈ 1545 — the same silent-vs-raise divergence class as q413's
# f1·(f1−1). The query therefore pins its verified domain to
# n ≤ _PASS_AT_K_MAX_N on BOTH engines; an at-scale harness with more
# samples per problem would compute the k=10 ratio with a per-factor
# division fold (decimal(38,18) running quotient) instead.
_PASS_AT_K_MAX_N = 1000


def pass_at_k_columns(ks: tuple[int, ...] = _PASS_AT_KS) -> list[Column]:
    """The pass@k release columns over an (n, c) problem-grain frame —
    SHARED by q422 and its property test, so the test exercises the
    production decimal chain rather than a copy of it."""
    from functools import reduce as _reduce

    one = F.lit(1).cast("decimal(38,0)")

    def fall(base: Column, k: int) -> Column:
        # Falling factorial Π_{i<k}(base − i), widened per factor
        # before the multiply (int64 products would wrap silently).
        return _reduce(
            lambda acc, i: acc * (base - F.lit(i)).cast("decimal(38,0)"),
            range(k),
            one,
        )

    cols = []
    for k in ks:
        num = F.when(
            F.col("n") - F.col("c") < k, F.lit(0).cast("decimal(38,0)")
        ).otherwise(fall(F.col("n") - F.col("c"), k))
        den = fall(F.col("n"), k)
        cols.append(half_up_ratio(den - num, den, 6).alias(f"pass_at_{k}"))
    return cols


def _pass_at_k_sql(k: int) -> str:
    """DuckDB pass@k ppm-fraction: 1 − C(n−c,k)/C(n,k) computed as the
    falling-factorial ratio Π(n−c−i)/Π(n−i) in HUGEINT, released with
    the half-up integer idiom (never a rounded float quotient)."""
    num = (
        "CASE WHEN n - c < {k} THEN CAST(0 AS HUGEINT) ELSE "
        "list_reduce(list_transform(generate_series(0, {k} - 1), "
        "i -> CAST(n - c - i AS HUGEINT)), (a, b) -> a * b) END"
    ).format(k=k)
    den = (
        "list_reduce(list_transform(generate_series(0, {k} - 1), "
        "i -> CAST(n - i AS HUGEINT)), (a, b) -> a * b)"
    ).format(k=k)
    return (
        f"((2 * (({den}) - ({num})) * 1000000 + ({den}))"
        f" // (2 * ({den}))) / 1000000.0 AS pass_at_{k}"
    )


_Q422_ORACLE = f"""
    WITH s AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events
        GROUP BY user_id
        HAVING count(*) BETWEEN 10 AND {_PASS_AT_K_MAX_N}
    )
    SELECT user_id, n AS n_samples, c AS n_correct,
           {_pass_at_k_sql(1)},
           {_pass_at_k_sql(5)},
           {_pass_at_k_sql(10)}
    FROM s
    ORDER BY user_id
"""


@query(
    "q422_pass_at_k_eval",
    oracle=_Q422_ORACLE,
    tags=("eval", "pass-at-k", "combinatorics", "llm"),
)
def q422_pass_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k estimation — THE functional-correctness metric
    of LLM code/reasoning evals (HumanEval's estimator): for a problem
    with n sampled attempts of which c passed, pass@k =
    1 − C(n−c, k)/C(n, k), the probability that at least one of k
    drawn attempts passes. The naive 1−(1−c/n)^k is biased; the
    combinatorial form is exact. Computed here at k = 1, 5, 10 per
    problem over a deterministic fixture mapping (problem = user_id,
    attempts = that user's events, pass = event_type 'purchase' —
    documented stand-ins; the estimator is the operator). Problems
    with n < 10 are excluded so every reported k is well-defined.

    Determinism: the binomial RATIO telescopes to the falling-
    factorial ratio prod_i<k(n−c−i) / prod_i<k(n−i) — both products
    exact integers (≤ n^10 ≈ 10^29 at fixture user grains, held in
    decimal(38,0) / HUGEINT, widened BEFORE multiplying — the q413
    rule), with C(n−c,k) = 0 exactly when n−c < k (the guard keeps
    negative factors out of the product). Release is the half-up
    integer idiom at 6 digits (``ranks.half_up_ratio``) — no float
    quotient anywhere, bit-identical cross-engine.

    Scale posture: ONE partial+final count aggregate to problem grain,
    then pure scalar expressions — the same shape as q407's release
    stage; nothing wider than (problem, n, c) ever shuffles. At a
    real eval harness's scale (millions of problems × hundreds of
    samples) this is a map-side count plus k-bounded scalar math.
    The verified domain is pinned to n ≤ 1000 samples per problem on
    both engines (see ``_PASS_AT_K_MAX_N``: the k=10 decimal release
    overflows 10³⁸ near n ≈ 1480 — Spark would NULL where DuckDB
    raises); fixture grains top out near n ≈ 100. Reference contract:
    per-attempt grading = map slot (``App.config:16``); per-problem
    consolidation = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    events = load_tables(spark, sf_dir)["events"]
    s = (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
        .where((F.col("n") >= 10) & (F.col("n") <= _PASS_AT_K_MAX_N))
    )
    cols = [
        F.col("user_id"),
        F.col("n").alias("n_samples"),
        F.col("c").alias("n_correct"),
        *pass_at_k_columns(),
    ]
    return s.select(*cols).orderBy("user_id")


# --- q424: context-window packing audit -------------------------------

_PACK_CONTEXT = 512


_Q424_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text),
                                                       '[^a-z]+'),
                                    x -> x <> '')) AS BIGINT) AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks,
               CAST(sum(toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum_end
        FROM d
    ),
    spans AS (
        SELECT doc_id, toks, cum_end - toks AS strt, cum_end,
               (cum_end - toks) // {_PACK_CONTEXT} AS c0,
               (cum_end - 1) // {_PACK_CONTEXT} AS c1
        FROM c WHERE toks > 0
    ),
    x AS (
        SELECT *, unnest(generate_series(c0, c1)) AS chunk_id FROM spans
    )
    SELECT chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs_touching,
           CAST(sum(CASE WHEN c0 = chunk_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_starting,
           CAST(sum(CASE WHEN c1 > chunk_id
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boundary_crossers,
           CAST(sum(least(cum_end, (chunk_id + 1) * {_PACK_CONTEXT})
                    - greatest(strt, chunk_id * {_PACK_CONTEXT}))
                AS BIGINT) AS tokens_in_chunk,
           CAST((1000000 * sum(least(cum_end, (chunk_id + 1) * {_PACK_CONTEXT})
                               - greatest(strt, chunk_id * {_PACK_CONTEXT})))
                // {_PACK_CONTEXT} AS BIGINT) AS utilization_ppm
    FROM x
    GROUP BY chunk_id
    ORDER BY chunk_id
"""


@query(
    "q424_context_window_packing",
    oracle=_Q424_ORACLE,
    tags=("training", "packing", "context-window", "llm"),
)
def q424_context_window_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing audit — the token-level complement to
    q123's sequence packing: q123 ASSIGNS whole documents to
    sequences (doc grain, per-shard cumsum ÷ budget — no document
    ever splits) and audits fill; this operator models the other
    standard assembly mode, where the concatenated token STREAM is
    cut at exact window boundaries and documents DO split — the mode
    whose cost is attention contamination rather than padding waste,
    which is exactly what it audits. Documents concatenate in a fixed
    epoch order (doc_id — q338's shuffle plan supplies a permuted
    order in production) and the stream is cut into fixed 512-token
    context windows (``_PACK_CONTEXT``). Per chunk:
    how many documents touch it, start in it, CROSS its right
    boundary (the attention-contamination rows a real pipeline masks
    or discards), the tokens it holds, and utilization ppm (< 10⁶
    only on the tail chunk — concat packing wastes nothing inside the
    stream, which is exactly why it is the default over padded
    per-doc batches).

    Determinism: token counts are exact integers (the q413 tokenizer);
    chunk assignment is integer division on an exact global running
    sum; every released figure is integer arithmetic (utilization is
    floor-ppm). No floats anywhere.

    Scale posture: the global cumulative sum is
    ``ranks.distributed_running_sum`` — range-partition + partition-
    local window + broadcast offsets, NO global single-partition
    window (zero WindowExec warnings); the span explode emits
    n_docs + n_chunks rows (each doc spans ≥1 chunks, adjacent
    overlaps only), so the fan-out is linear in corpus size with a
    1/{ctx} chunk-grain result. At 100 TB this is the same shape the
    epoch planner (q338) and shard balancer (q290) already use.
    Reference contract: per-doc token accounting = map slot
    (``App.config:16``); stream cut + chunk rollup = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    d = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            )
        )
        .cast("long")
        .alias("toks"),
    )
    return pack_chunk_audit(d)


def pack_chunk_audit(d: DataFrame) -> DataFrame:
    """q424's core on any (doc_id, toks) frame — factored out so unit
    tests can drive it with synthetic multi-chunk documents (the
    fixture's docs all fit inside one 512-token window, which is
    exactly where the crosser-counting bug class hides)."""
    r = distributed_running_sum(d, [F.col("doc_id")], {"cum_end": "toks"})
    ctx = F.lit(_PACK_CONTEXT)
    spans = r.where(F.col("toks") > 0).select(
        "doc_id",
        "toks",
        (F.col("cum_end") - F.col("toks")).alias("strt"),
        F.col("cum_end").cast("long").alias("cum_end"),
        F.expr(f"(cum_end - toks) div {_PACK_CONTEXT}").alias("c0"),
        F.expr(f"(cum_end - 1) div {_PACK_CONTEXT}").alias("c1"),
    )
    x = spans.select(
        "*", F.explode(F.sequence("c0", "c1")).alias("chunk_id")
    )
    in_chunk = F.least(
        F.col("cum_end"), (F.col("chunk_id") + 1) * ctx
    ) - F.greatest(F.col("strt"), F.col("chunk_id") * ctx)
    return (
        x.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_touching"),
            F.sum(F.when(F.col("c0") == F.col("chunk_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_starting"),
            # c1 > chunk_id alone (not ALSO c0 == chunk_id): a document
            # spanning 3+ chunks crosses the right boundary of every
            # chunk it traverses, not just the one it starts in —
            # starting-only counting under-reports crossers as soon as
            # any doc exceeds one window (round-10 review finding).
            F.sum(
                F.when(F.col("c1") > F.col("chunk_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_boundary_crossers"),
            F.sum(in_chunk).cast("long").alias("tokens_in_chunk"),
        )
        # Derived from the aggregated token count (not a re-stated sum
        # expression) so the two released figures cannot drift apart.
        .withColumn(
            "utilization_ppm",
            F.expr(f"(1000000 * tokens_in_chunk) div {_PACK_CONTEXT}").cast(
                "long"
            ),
        )
        .orderBy("chunk_id")
    )


# --- q431: randomized-response local-DP frequency estimation -----------

_RR_P_NUM, _RR_P_DEN = 3, 4  # report the true value with p = 3/4
_RR_WINDOW = 1_000_000  # md5 uniform window for the keep/replace coin


@query(
    "q431_randomized_response_frequency",
    oracle=f"""
    WITH langs AS MATERIALIZED (
        SELECT lang, row_number() OVER (ORDER BY lang) AS rnk
        FROM (SELECT DISTINCT lang FROM documents)
    ),
    nl AS MATERIALIZED (SELECT count(*) AS L FROM langs),
    drawn AS MATERIALIZED (
        SELECT d.doc_id, d.lang,
               ('0x' || substr(md5('rr1|' || CAST(d.doc_id AS VARCHAR)),
                               1, 8))::BIGINT % {_RR_WINDOW}
                   < {_RR_WINDOW * _RR_P_NUM // _RR_P_DEN} AS keep,
               ('0x' || substr(md5('rr2|' || CAST(d.doc_id AS VARCHAR)),
                               1, 8))::BIGINT % (SELECT L FROM nl) + 1
                   AS ridx
        FROM documents d
    ),
    reported AS MATERIALIZED (
        SELECT CASE WHEN d.keep THEN d.lang ELSE l.lang END AS lang
        FROM drawn d JOIN langs l ON l.rnk = d.ridx
    ),
    rc AS (SELECT lang, count(*) AS n_reported FROM reported GROUP BY lang),
    tc AS (SELECT lang, count(*) AS n_true FROM documents GROUP BY lang),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT t.lang,
           CAST(t.n_true AS BIGINT) AS n_true,
           CAST(coalesce(r.n_reported, 0) AS BIGINT) AS n_reported,
           (CASE WHEN {_RR_P_DEN} * nl.L * coalesce(r.n_reported, 0)
                      - tot.n >= 0
                 THEN (2 * ({_RR_P_DEN} * nl.L * coalesce(r.n_reported, 0)
                            - tot.n) * 1000000
                       + ({_RR_P_NUM} * nl.L))
                      // (2 * ({_RR_P_NUM} * nl.L))
                 ELSE -((2 * (tot.n
                              - {_RR_P_DEN} * nl.L * coalesce(r.n_reported, 0))
                             * 1000000
                         + ({_RR_P_NUM} * nl.L))
                        // (2 * ({_RR_P_NUM} * nl.L)))
            END) / 1000000.0 AS n_est
    FROM tc t
    LEFT JOIN rc r USING (lang)
    CROSS JOIN nl CROSS JOIN tot
    ORDER BY t.lang
    """,
    tags=("privacy", "local-dp", "randomized-response", "curation"),
)
def q431_randomized_response_frequency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOCAL differential privacy — generalized randomized response
    (k-RR) over the language attribute, completing the privacy family
    with the mechanism that runs where the DATA lives: q54 scrubs, q394
    audits residual risk, q209 erases, q407 adds CENTRAL Laplace noise
    to released aggregates; here each record itself lies with
    calibrated probability (report the true lang w.p. p = 3/4, else a
    uniform draw over the L langs) and the aggregator DEBIASES the
    reported histogram back to an unbiased frequency estimate:
    E[r_v] = p·n_v + n·(1−p)/L  ⇒  n̂_v = (L·r_v/p − n·(1−p)·L/(L·p))
    = (4·L·r_v − n) / (3·L) at p = 3/4 — exact integer arithmetic,
    released through the signed half-up idiom (estimates CAN
    undershoot zero for rare values).

    Like q407, this verifies the MECHANISM'S MATH, not a privacy
    guarantee: the per-record coins are deterministic salted-md5 draws
    (replayable by construction — that is what makes the differential
    possible) and the true histogram is co-released for the
    estimator-error readout, both of which void the ε guarantee a
    production deployment would get from real randomness and
    suppression of the truth.

    Determinism: md5 windows → exact integer coins; the debiasing is a
    ratio of exact integers (``half_up_ratio_signed``); no floats
    before the single closing scale-back, no libm at all.

    Scale posture: ONE corpus scan; the shuffle carries (lang) keys —
    L ≤ 5 groups; the lang-index table is an L-row broadcast both
    ways. At 100 TB this is the cheapest shape an aggregation can
    take (map-side combine does nearly all the work), which is the
    point of local DP: the server-side workload is a plain histogram.
    Reference contract: per-record perturbation = map slot
    (``App.config:16``); debiased rollup = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang")
    langs = rank_small(
        docs.select("lang").distinct(),
        [F.col("lang").alias("_k")],
        ["lang"],
    )
    nl = langs.agg(F.count(F.lit(1)).alias("L"))
    h = lambda salt: hex_int(  # noqa: E731
        F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8
    )
    thresh = _RR_WINDOW * _RR_P_NUM // _RR_P_DEN
    drawn = docs.crossJoin(F.broadcast(nl)).select(
        "doc_id",
        "lang",
        (h("rr1|") % _RR_WINDOW < thresh).alias("keep"),
        (h("rr2|") % F.col("L") + 1).alias("ridx"),
    )
    reported = drawn.join(
        F.broadcast(langs.select(F.col("lang").alias("rlang"), "rnk")),
        drawn["ridx"] == F.col("rnk"),
    ).select(
        F.when(F.col("keep"), F.col("lang"))
        .otherwise(F.col("rlang"))
        .alias("lang")
    )
    rc = reported.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_reported")
    )
    tc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_true"))
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    num = (
        F.lit(_RR_P_DEN) * F.col("L") * F.coalesce(F.col("n_reported"), F.lit(0))
        - F.col("n")
    )
    den = F.lit(_RR_P_NUM) * F.col("L")
    return (
        tc.join(rc, "lang", "left")
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n_true").cast("long").alias("n_true"),
            F.coalesce(F.col("n_reported"), F.lit(0))
            .cast("long")
            .alias("n_reported"),
            half_up_ratio_signed(num, den, 6).alias("n_est"),
        )
        .orderBy("lang")
    )


# --- q433: quality-classifier training (libm-free logistic GD) ---------

_QC_STEPS = 3
_QC_LR = 0.5  # exact binary64 literal on both engines
_QC_QSCALE = 1_000_000  # per-example gradients quantized before the sum
_QC_STOPS = ("scan", "column", "window", "order", "sort")
_QC_THRESH = 300  # label rule: y = 1 iff n_chars > 300 (median ~312)


def _hup(nc: int, n: int) -> float:
    """The released accuracy ``nc / n`` rounded half-up at 6 digits, in
    integer arithmetic."""
    return ((2 * nc * _QC_QSCALE + n) // (2 * n)) / 1000000.0


def _qc_obs_sql(
    with_source: bool = False, with_id: bool = False, name: str = "obs"
) -> str:
    stops = ", ".join(f"'{w}'" for w in _QC_STOPS)
    src = "source," if with_source else ""
    src = f"doc_id, {src}" if with_id else src
    return f"""
    {name} AS MATERIALIZED (
        SELECT {src} list_value(
                   CAST(1.0 AS DOUBLE),
                   (n_chars - {_QC_THRESH}) / CAST(100.0 AS DOUBLE),
                   CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / len(string_split(text, ' '))
                       - CAST(5.0 AS DOUBLE),
                   CAST(len(list_filter(string_split(lower(text), ' '),
                            w -> list_contains([{stops}], w))) AS DOUBLE)
                       / len(string_split(text, ' '))) AS xa,
               CASE WHEN n_chars > {_QC_THRESH} THEN CAST(1.0 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS y
        FROM documents
    )"""


_QC_DIMS = "generate_series(1, 4)"
_QC_ZFOLD = (
    f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform({_QC_DIMS}, i -> xa[i] * w.wl[i])), (a, b) -> a + b)"
)


def _qc_steps_sql(
    n_steps: int = _QC_STEPS,
    subset: bool = False,
    prefix: str = "",
    filt: str = "",
    lr: float = _QC_LR,
    obs_name: str = "obs",
    lrs: list | None = None,
    dims_n: int = 4,
) -> str:
    """The unrolled GD step CTEs g{{k}}/w{{k}} (shared by q433's
    training release, q437's cartography, and q441's cross-validation
    — ONE definition of the weight path, so the oracles cannot drift
    apart). ``subset`` trains step k on the deterministic half-corpus
    ``doc_id % 2 = k % 2`` (q437's variability driver — obs must
    then carry doc_id); ``filt`` applies one
    CONSTANT SQL predicate to every step's scan (q441's train-fold
    restriction, e.g. `` WHERE doc_id % 3 <> 0``); ``prefix`` renames
    the CTE chain ({{prefix}}g1/{{prefix}}w1…) so several independent
    weight paths can coexist in one oracle (the caller defines
    {{prefix}}w0); ``lr`` overrides the learning rate (q462's
    hyperparameter race — exact binary64 literals only); ``lrs``
    overrides it PER STEP (q475's schedule — same literal rule).
    q433 keeps the bare full-batch default, so its
    release is unchanged."""
    dims = f"generate_series(1, {dims_n})"
    z_fold = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({dims}, i -> xa[i] * w.wl[i])), (a, b) -> a + b)"
    )
    step_tpl = """
    {px}g{k} AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(CAST(round((p - y) * s.xv * {qs}) AS BIGINT)) AS gq,
               sum(CASE WHEN (z > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS n_correct,
               count(*) AS n
        FROM (
            SELECT e.p, e.y, e.z,
                   unnest(list_transform({dims},
                       i -> struct_pack(dim := i, xv := e.xa[i]))) AS s
            FROM (
                SELECT z, y,
                       CAST(0.5 AS DOUBLE)
                           + z / (CAST(2.0 AS DOUBLE)
                                  * (CAST(1.0 AS DOUBLE) + abs(z))) AS p,
                       xa
                FROM (
                    SELECT xa, y, {zf} AS z
                    FROM {obs} CROSS JOIN {px}w{p} w{filt}
                )
            ) e
        )
        GROUP BY s.dim
    ),
    {px}w{k} AS MATERIALIZED (
        SELECT list(w.wl[g.dim]
                    - {lr} * (CAST(g.gq AS DOUBLE) / {qs} / g.n)
                    ORDER BY g.dim) AS wl,
               max(g.n_correct) AS n_correct,
               max(g.n) AS n
        FROM {px}g{k} g CROSS JOIN {px}w{p} w
    )"""
    return ",".join(
        step_tpl.format(
            k=k,
            p=k - 1 if k > 1 else 0,
            qs=_QC_QSCALE,
            lr=lrs[k - 1] if lrs is not None else lr,
            dims=dims,
            zf=z_fold,
            px=prefix,
            obs=obs_name,
            filt=f" WHERE doc_id % 2 = {k % 2}" if subset else filt,
        )
        for k in range(1, n_steps + 1)
    )


def _qc_oracle_sql() -> str:
    """Three unrolled GD steps of the fast-sigmoid logistic trainer.
    Each step: per-row margin z from the previous weights (prepend-0
    fold in dim order), pre-update accuracy count, per-dim quantized
    gradient sums, then the shared-arithmetic weight update. Every
    step CTE MATERIALIZED (the q343/pagerank rule)."""
    dims = _QC_DIMS
    z_fold = _QC_ZFOLD
    steps = _qc_steps_sql()
    final_acc = f"""
    fin AS MATERIALIZED (
        SELECT sum(CASE WHEN ({z_fold} > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS n_correct,
               count(*) AS n
        FROM obs CROSS JOIN w{_QC_STEPS} w
    )"""
    acc_rows = " UNION ALL ".join(
        f"SELECT 'acc' AS item, {k} AS idx,"
        f" ((2 * n_correct * 1000000 + n) // (2 * n)) / 1000000.0 AS value"
        f" FROM w{k}"
        for k in range(1, _QC_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql()},
    w0 AS (SELECT list_transform({dims}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {steps},
    {final_acc}
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {acc_rows}
        UNION ALL
        SELECT 'acc', {_QC_STEPS + 1},
               ((2 * n_correct * 1000000 + n) // (2 * n)) / 1000000.0
        FROM fin
        UNION ALL
        SELECT 'w', s.dim, round(s.wv, 6) + 0.0
        FROM (
            SELECT unnest(list_transform({dims},
                i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
            FROM w{_QC_STEPS} w
        )
    ) ORDER BY item, idx
    """


def _qc_obs(
    spark: SparkSession,
    sf_dir: str,
    with_source: bool = False,
    with_id: bool = False,
) -> DataFrame:
    """Feature/label frame for the quality-classifier family (the
    Spark twin of ``_qc_obs_sql``): xa = [bias, centered length,
    centered avg word length, stopword ratio], y = the n_chars > 300
    keep-label. ``with_source`` carries the source column through for
    q437's per-source cartography rollup; ``with_id`` carries doc_id
    for the subset-varied weight path."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in _QC_STOPS])
    cols = ["source"] if with_source else []
    if with_id:
        cols = ["doc_id", *cols]
    return docs.select(
        *cols,
        F.array(
            F.lit(1.0),
            (F.col("n_chars") - _QC_THRESH) / F.lit(100.0),
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.size(words)
            - F.lit(5.0),
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda w: F.array_contains(stop_arr, w),
                )
            ).cast("double")
            / F.size(words),
        ).alias("xa"),
        F.when(F.col("n_chars") > _QC_THRESH, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )


# --- session-shared feature frame ----------------------------------------
#
# Eighteen trainer-family queries (q433/q437/q439/q441/q442/q448/q449/
# q450/q451/q459/q462/q463/q473/q474/q475/q476/q477/q478) consume the
# SAME deterministic feature frame: two text splits, a stopword filter
# and a regexp per document (guide §2.3 "project before the exchange" /
# §5 caching: the frame is reused, recomputing it is the expensive
# part). `_qc_obs_shared` builds the SUPERSET frame (doc_id, source, xa,
# y) once per Spark application and sf_dir through
# `session.session_store`, localCheckpoints it (truncating lineage and
# surviving the per-query `spark.catalog.clearCache()`), and slices it
# per consumer. Sharing changes no released value: every column
# expression is deterministic per row, and every downstream sum is over
# BIGINT-quantized cells (the repo's rounding contract).
#
# SIZE-AWARE (the §8c7 lesson): the frame is ~60 B/doc — checkpoint only
# while the doc count stays a comfortable fraction of the heap
# (≤ _QC_CACHE_MAX_DOCS ≈ 120 MB of rows); beyond that, store the lazy
# frame (a map fused into the parquet scan) and let each consumer's own
# persist() policy decide, which is how a 100 TB training session should
# behave anyway: features are the lightweight proxy (guide §8.4), rebuilt
# or spilled per phase, never a second copy of the corpus.

_QC_CACHE_MAX_DOCS = 2_000_000


def _qc_obs_shared(
    spark: SparkSession,
    sf_dir: str,
    with_source: bool = False,
    with_id: bool = False,
) -> DataFrame:
    """:func:`_qc_obs` resolved through the session store: one superset
    build per (application, sf_dir), sliced to the shape the caller
    asked for (same columns, same order as the raw builder)."""

    def build() -> DataFrame:
        df = _qc_obs(spark, sf_dir, with_source=True, with_id=True)
        # count() over the parquet scan resolves from footer metadata —
        # one cheap job, paid once per session.
        n_docs = load_tables(spark, sf_dir)["documents"].count()
        if n_docs <= _QC_CACHE_MAX_DOCS:
            df = df.localCheckpoint(eager=True)
        return df

    df = session_store(spark, "qc", sf_dir, "obs", build)
    cols = ["xa", "y"]
    if with_source:
        cols = ["source", *cols]
    if with_id:
        cols = ["doc_id", *cols]
    return df.select(*cols)


def _qc_margin(w: list) -> "Column":
    """Per-row margin z = w·x as the shared fold (weights baked as
    literals, zip_with product, 0.0-seed left fold in dim order — the
    exact IEEE sequence the oracle's list_reduce mirrors)."""
    wlit = F.array(*[F.lit(v) for v in w])
    return F.aggregate(
        F.zip_with(F.col("xa"), wlit, lambda x, wv: x * wv),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _qc_train(
    obs: DataFrame,
    n_steps: int = _QC_STEPS,
    subset: bool = False,
    lr: float = _QC_LR,
    w0: list | None = None,
    lrs: list | None = None,
    dims_n: int = 4,
) -> tuple[list, list, int]:
    """Run ``n_steps`` quantized-gradient steps over ``obs`` (xa, y);
    returns ``(path, accs, n)`` — ``path[k]`` is the weight vector
    AFTER step k+1 (the oracle's w{k+1} list), ``accs[k]`` the
    (n_correct, n) measured with the PRE-update weights of step k+1.
    ``subset`` trains step k on the half-corpus ``doc_id % 2 = k % 2``
    (obs must carry doc_id; accuracy counts are then subset-grain).
    One definition of the training loop, shared by q433's release and
    q437's cartography (the Spark twin of ``_qc_steps_sql``)."""
    w = [0.0] * dims_n if w0 is None else list(w0)
    path: list = []
    accs: list = []
    n_rows = None
    for k in range(1, n_steps + 1):
        # Each step is ONE wide aggregate over the frame (the
        # _qc_multi_step template with a single spec): one stage and
        # no exchange per step. The subset filter becomes the spec's
        # slice predicate (gated integer sums over the superset equal
        # sums over the filtered frame).
        g = _qc_multi_step(
            obs,
            [
                {
                    "name": 0,
                    "w": w,
                    "inc_sql": (
                        f"(doc_id % 2) = {k % 2}" if subset else None
                    ),
                    "dims_n": dims_n,
                }
            ],
        )[0]
        n_rows = g["n"]
        accs.append((g["nc"], n_rows))
        step_lr = lrs[k - 1] if lrs is not None else lr
        w = _qc_update(w, g["gq"], n_rows, step_lr)
        path.append(list(w))
    return path, accs, n_rows


# --- shared default weight path + fused steps ------------------------------
#
# Two job-count levers for the trainer family. At fixture scale each
# per-step Spark job on the 5000-row checkpointed feature frame is
# almost pure scheduling overhead, so wall time ≈ job count × per-job
# latency; at 100 TB the same changes remove genuinely redundant corpus
# scans.
#
# 1. `_qc_train_shared_path` — the DEFAULT full-corpus training path
#    (lr=_QC_LR, 4 dims, no subset/schedule) is one deterministic
#    artifact consumed verbatim by six queries (q433 and its releases,
#    q449, q451, q474 to 4 steps, q477's teacher). Each step k is one
#    session-store entry ("step", k), built by one warm-started
#    `_qc_train` step from step k-1, so a caller that needs more steps
#    continues from the stored ones. Model-grain state only (tuples of
#    4 doubles + exact integer counts): nothing persists across
#    processes, nothing is keyed on data content, and every stored
#    value is bit-identical to a fresh `_qc_train` run (one template,
#    one arithmetic sequence — pinned by test).
#
# 2. `_qc_multi_step` — ONE fused scan computing the q433 step
#    aggregates for MANY (weights, feature-mask, row-slice) specs at
#    once: per spec and dimension the quantized BIGINT gradient sum,
#    plus the exact correct/total counts at the spec's weights. The
#    per-row arithmetic is _qc_train's exactly (same fold, same
#    rational sigmoid, same half-up quantization — integer sums are
#    order-free, so conditional aggregation over the superset frame
#    equals per-slice aggregation); q441's three folds, q462's four
#    mask candidates and q473's four shards are INDEPENDENT models, so
#    their per-step scans fuse (guide §2.4: one pass instead of N) and
#    a round's evaluation fuses into the NEXT round's step scan (the
#    step aggregate's counts at weights w ARE the evaluation of w).


def _qc_train_shared_path(
    spark: SparkSession, sf_dir: str, n_steps: int = _QC_STEPS
) -> tuple[list, list, int]:
    """The default-config training path through the session store:
    returns ``(path, accs, n)`` exactly as
    ``_qc_train(_qc_obs_shared(...), n_steps)`` would. Steps are stored
    as tuples and handed out as fresh lists, so a caller's in-place
    edit cannot reach the path other queries read."""

    def step(k: int) -> tuple:
        def build() -> tuple:
            w0 = list(step(k - 1)[0]) if k > 1 else None
            path, accs, n = _qc_train(
                _qc_obs_shared(spark, sf_dir), n_steps=1, w0=w0
            )
            return tuple(path[0]), accs[0], n

        return session_store(spark, "qc", sf_dir, ("step", k), build)

    steps = [step(k) for k in range(1, n_steps + 1)]
    path = [list(w) for w, _, _ in steps]
    return path, [acc for _, acc, _ in steps], steps[-1][2]


def _qc_dlit(v: float) -> str:
    """The exact binary64 literal as SQL text: repr() round-trips the
    double exactly and the CAST constant-folds to the same Literal
    the Column API's ``F.lit(v)`` built (a bare SQL ``0.5`` would be
    DECIMAL, never use one for a double)."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _qc_multi_step(
    frame: DataFrame, specs: list[dict], with_grads: bool = True
) -> dict:
    """ONE fused scan evaluating every spec's q433 step aggregates.

    Each spec: ``{"name": str, "w": list, "xa_sql": str | None (SQL
    for the feature array; default the frame's xa), "inc_sql": str |
    None (SQL row-slice predicate), "dims_n": int (default 4)}``.
    Returns ``{name: {"gq": {dim: int}, "nc": int, "n": int}}`` —
    ``nc``/``n`` are the correct/total counts at the spec's weights
    (the pre-update accuracy of this step ≡ the post-update
    evaluation of the previous one), ``gq`` the quantized per-dim
    gradient sums (omitted when ``with_grads=False``). A spec that
    selects no rows raises ``ValueError`` naming it."""
    # Project each spec's margin fold ONCE per row, then aggregate
    # simple column references — the fold would otherwise be
    # re-evaluated inside every aggregate expression (6× per spec),
    # bloating both per-row work and codegen. Same expressions, same
    # per-row IEEE sequence, just named.
    #
    # The expressions are built as SQL TEXT, not Column objects: a
    # profiled 4-spec call spent 0.55 s in driver-side Column
    # construction (one JVM round trip per operator node — hundreds
    # per call) vs 0.08 s executing; selectExpr/expr parse the same
    # trees in a handful of calls (guide §5 — the driver should do
    # almost no work). Double literals render as
    # CAST('<repr>' AS DOUBLE): repr round-trips binary64 exactly and
    # the cast constant-folds to the identical literal the Column API
    # produced, so the per-row IEEE sequence cannot move (pinned by
    # the fused-vs-per-slice equivalence test and the oracle at all
    # three SFs).
    proj = ["y"]
    aggs = []
    for i, s in enumerate(specs):
        xa = s.get("xa_sql", "xa")
        inc = s.get("inc_sql")
        dims_n = s.get("dims_n", 4)
        warr = "array({})".format(
            ", ".join(_qc_dlit(v) for v in s["w"])
        )
        z = (
            f"aggregate(zip_with({xa}, {warr}, (x, wv) -> x * wv), "
            f"{_qc_dlit(0.0)}, (acc, x) -> acc + x)"
        )
        proj.append(f"{z} AS s{i}_z")
        if inc is not None:
            proj.append(f"({inc}) AS s{i}_inc")
        if with_grads:
            for d in range(1, dims_n + 1):
                proj.append(f"element_at({xa}, {d}) AS s{i}_x{d}")
        zc = f"s{i}_z"
        pc = (
            f"({_qc_dlit(0.5)} + {zc} / ({_qc_dlit(2.0)} * "
            f"({_qc_dlit(1.0)} + abs({zc}))))"
        )
        correct = f"(({zc} > 0) = (y = {_qc_dlit(1.0)}))"
        if with_grads:
            for d in range(1, dims_n + 1):
                g = (
                    f"CAST(round(({pc} - y) * s{i}_x{d} * {_QC_QSCALE}) "
                    f"AS BIGINT)"
                )
                if inc is not None:
                    g = f"CASE WHEN s{i}_inc THEN {g} END"
                aggs.append(f"sum({g}) AS s{i}_g{d}")
        cond = correct if inc is None else f"(s{i}_inc AND {correct})"
        aggs.append(
            f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS s{i}_nc"
        )
        aggs.append(
            f"count(1) AS s{i}_n"
            if inc is None
            else f"sum(CASE WHEN s{i}_inc THEN 1 ELSE 0 END) AS s{i}_n"
        )
    row = (
        frame.selectExpr(*proj)
        .agg(*[F.expr(a) for a in aggs])
        .collect()[0]
    )
    out = {}
    for i, s in enumerate(specs):
        # An empty slice leaves the sums NULL, and every weight update
        # and accuracy built from this result divides by n.
        if not row[f"s{i}_n"]:
            raise ValueError(
                f"_qc_multi_step: spec {s['name']!r} selects no rows"
            )
        ent = {
            "nc": int(row[f"s{i}_nc"]),
            "n": int(row[f"s{i}_n"]),
        }
        if with_grads:
            ent["gq"] = {
                d: int(row[f"s{i}_g{d}"])
                for d in range(1, s.get("dims_n", 4) + 1)
            }
        out[s["name"]] = ent
    return out


def _qc_update(w: list, gq: dict, n: int, lr: float = _QC_LR) -> list:
    """The shared weight update — the exact binary64 sequence
    _qc_train and the oracle's step CTEs use."""
    return [
        w[d - 1] - lr * (gq[d] / _QC_QSCALE / n)
        for d in range(1, len(w) + 1)
    ]


@query(
    "q433_quality_classifier_training",
    oracle=_qc_oracle_sql(),
    tags=("llm", "training", "classifier", "quality", "curation"),
)
def q433_quality_classifier_training(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-classifier TRAINING over document features — the
    GPT-3/CCNet curation idiom where a small binary classifier learns
    to separate "keep" from "drop" documents and its scores then gate
    the corpus (q51 SCORES quality by fixed rules; q257 gates by LM
    perplexity; this trains the model itself). Three full-batch
    gradient steps of a logistic-style classifier on four per-doc
    features (bias, centered length, centered avg word length,
    stopword ratio) against the deterministic keep-label
    ``n_chars > 300``; emits the pre-update training accuracy of every
    step, the final post-training accuracy, and the final weights —
    the accuracy sequence climbs 0.49 → 0.99+ at every SF (probed),
    which is the operator's point: the training DYNAMICS are on the
    verified path, not just one static score.

    The activation is the RATIONAL fast sigmoid σ̃(z) = 0.5 +
    z/(2(1+|z|)) — same shape, range, and monotonicity as the
    logistic, but built from one division instead of exp, so every
    per-row probability is a short shared IEEE sequence on both
    engines and the operator needs NO libm call at all (the q407
    single-ln exposure class, eliminated rather than tolerated).
    Gradient = (σ̃(z) − y)·x, the logistic-loss form with the
    substituted activation.

    Determinism: the q343 discipline end to end — per-example
    per-dimension gradient contributions QUANTIZED to 1e-6 and summed
    as exact BIGINTs (order-free), the weight update w − lr·(gq/1e6/n)
    the same binary64 sequence on both engines, accuracies as exact
    integer counts through the half-up idiom, final weights rounded
    at 6 with signed-zero normalization.

    Scale posture: per step ONE corpus scan whose shuffle carries 4
    integer cells (map-side combined) — the canonical data-parallel
    training loop; model state is 4 doubles. Features derive from the
    raw text in-plan (no precomputed table), so at 100 TB the
    feature+gradient map fuses into the scan. Reference contract:
    per-example gradient = map slot (``App.config:16``); model update
    = reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir)
    # Session-shared default path (r15): the 3 training scans run once
    # per application across the six default-path consumers.
    path, accs, n_rows = _qc_train_shared_path(spark, sf_dir)
    w = path[-1]
    ev = _qc_multi_step(obs, [{"name": 0, "w": w}], with_grads=False)[0]
    fin = {"n_correct": ev["nc"], "n": ev["n"]}
    acc_rows = [
        ("acc", k + 1, int(nc), int(n)) for k, (nc, n) in enumerate(accs)
    ]
    acc_rows.append(("acc", _QC_STEPS + 1, int(fin["n_correct"]), int(fin["n"])))
    acc_df = spark.createDataFrame(
        acc_rows, "item string, idx int, num long, den long"
    ).select("item", "idx", half_up_ratio(F.col("num"), F.col("den"), 6).alias("value"))
    w_df = spark.createDataFrame(
        [("w", d, w[d - 1]) for d in range(1, 5)],
        "item string, idx int, raw double",
    ).select("item", "idx", round_nz(F.col("raw"), 6).alias("value"))
    return acc_df.unionByName(w_df).orderBy("item", "idx")


# --- q437: dataset cartography (training-dynamics curation) ------------

_CARTO_STEPS = 6  # subset-varied steps; snapshots = steps 2..6
_CARTO_SKIP = 1  # step-1 snapshot is warmup (Data-Maps convention)
_CARTO_CONF = 0.60  # low-variability split: conf >= bar → easy
_CARTO_VBAR = 0.030  # variability bar: vari >= bar → ambiguous
_CARTO_SNAPS = tuple(range(_CARTO_SKIP + 1, _CARTO_STEPS + 1))


def _carto_fold(terms: list[str]) -> str:
    """Left-associated nested sum string — the EXACT IEEE addition
    order the Spark side mirrors (functools.reduce over Column +)."""
    s = terms[0]
    for t in terms[1:]:
        s = f"({s} + {t})"
    return s


def _carto_oracle_sql() -> str:
    """Weight path via the SHARED step CTEs (subset-varied, r11
    verdict task 5), then per-doc confidence toward the true label
    under each post-warmup snapshot w2..w6, the across-snapshot
    mean/std (left-fold association shared with the engine), and the
    per-(source, category) rollup with quantized-integer means."""
    snaps = _CARTO_SNAPS
    k_n = float(len(snaps))
    folds = {
        k: (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform({_QC_DIMS}, i -> xa[i] * w{k}.wl[i])), "
            f"(a, b) -> a + b)"
        )
        for k in snaps
    }
    joins = " ".join(f"CROSS JOIN w{k}" for k in snaps)
    zcols = ", ".join(f"{folds[k]} AS z{k}" for k in snaps)
    pcols = ", ".join(
        f"CAST(0.5 AS DOUBLE) + z{k} / (CAST(2.0 AS DOUBLE)"
        f" * (CAST(1.0 AS DOUBLE) + abs(z{k}))) AS p{k}"
        for k in snaps
    )
    ccols = ", ".join(
        f"CASE WHEN y = 1.0 THEN p{k} ELSE 1 - p{k} END AS c{k}"
        for k in snaps
    )
    conf = f"{_carto_fold([f'c{k}' for k in snaps])} / CAST({k_n} AS DOUBLE)"
    dev = _carto_fold([f"(c{k} - conf) * (c{k} - conf)" for k in snaps])
    return f"""
    WITH {_qc_obs_sql(with_source=True, with_id=True)},
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_qc_steps_sql(_CARTO_STEPS, subset=True)},
    zz AS (
        SELECT source, y, {zcols}
        FROM obs {joins}
    ),
    pp AS (
        SELECT source, y, {pcols}
        FROM zz
    ),
    cc AS (
        SELECT source, {ccols}
        FROM pp
    ),
    stats0 AS (
        SELECT source, {", ".join(f"c{k}" for k in snaps)},
               {conf} AS conf
        FROM cc
    ),
    stats AS (
        SELECT source, conf,
               sqrt(({dev}) / CAST({k_n} AS DOUBLE)) AS vari
        FROM stats0
    ),
    catted AS (
        SELECT source,
               CASE WHEN vari >= {_CARTO_VBAR} THEN 'ambiguous'
                    WHEN conf >= {_CARTO_CONF} THEN 'easy'
                    ELSE 'hard' END AS category,
               CAST(round(conf * {_QC_QSCALE}) AS BIGINT) AS conf_q,
               CAST(round(vari * {_QC_QSCALE}) AS BIGINT) AS var_q
        FROM stats
    )
    SELECT source, category,
           CAST(count(*) AS BIGINT) AS n_docs,
           ((2 * sum(conf_q) * 1000000 + count(*) * {_QC_QSCALE})
            // (2 * (count(*) * {_QC_QSCALE}))) / 1000000.0
               AS mean_confidence,
           ((2 * sum(var_q) * 1000000 + count(*) * {_QC_QSCALE})
            // (2 * (count(*) * {_QC_QSCALE}))) / 1000000.0
               AS mean_variability
    FROM catted
    GROUP BY source, category
    ORDER BY source, category
    """


@query(
    "q437_dataset_cartography",
    oracle=_carto_oracle_sql(),
    tags=("llm", "curation", "cartography", "training-dynamics"),
)
def q437_dataset_cartography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset cartography (Swayamdipta et al., "Data Maps") — the
    training-DYNAMICS member of the selection family: where q307/q299/
    q432 pick by static features, geometry, or one model's
    uncertainty, cartography watches HOW each example behaves ACROSS
    training — per-doc confidence toward the true label under the
    shared trainer's post-warmup weight snapshots (``_qc_train`` /
    ``_qc_steps_sql``, one definition for both this and q433's
    queries), its across-snapshot mean ("confidence") and standard
    deviation ("variability") — and maps the corpus into
    easy-to-learn / ambiguous / hard-to-learn regions per source, the
    triage a curation pipeline uses to find mislabeled (hard) and
    most-informative (ambiguous) slices.

    Both axes are EXERCISED: the weight path is
    the shared trainer run for 6 steps with step k trained on the
    deterministic half-corpus ``doc_id % 2 = k % 2`` (the
    subset-varied mode of ``_qc_steps_sql`` / ``_qc_train`` — still
    one definition for both oracles), snapshots are the POST-WARMUP
    steps w2..w6 (the Data-Maps convention of skipping the raw first
    step, without which every doc's trajectory starts at the
    untrained 0.5 and σ measures distance-from-scratch instead of
    training dynamics), and the region rule keys on BOTH axes:
    ambiguous = σ ≥ 0.030, else easy/hard split at confidence 0.60.
    Probed non-empty at every SF (easy/amb/hard = 79/359/62 at
    sf0.001, 79/360/61 at sf0.01, 837/3560/603 at sf0.1). Fixture
    honesty, updated: this full-batch rational-sigmoid trajectory is
    smooth, so σ spans only [0.01, 0.034] (probed p5..max) — the
    RANKING is informative (low-σ docs are the stuck-near-0.5 hard
    core, high-σ docs actually moved) but the absolute spread stays
    small; real multi-epoch stochastic training widens it without
    changing this dataflow. q433's own release is UNCHANGED (it keeps
    the 3-step full-batch default).

    Determinism: the weight path is the shared bit-identical
    sequence; per-doc confidences are short shared IEEE chains (the
    fast sigmoid, one division); the across-snapshot mean and
    deviation sums use ONE left-fold association emitted into both
    engines (``_carto_fold`` / functools.reduce); the std's sqrt is
    IEEE correctly-rounded (not a libm estimate); per-doc stats
    QUANTIZE to 1e-6 integers before the order-free mean sums, and
    the released means go through the half-up integer idiom.

    Scale posture: after the training passes (6 half-corpus scans),
    cartography is ONE corpus map — five scalar margin folds per row,
    no joins, no windows — plus a partial+final rollup on the bounded
    (source × 3-category) grain. Reference contract: per-example
    snapshot scoring = map slot (``App.config:16``); the region
    rollup = reduce slot (``App.config:17``, ``Program.cs:351-384``).
    """
    from functools import reduce

    obs = _qc_obs_shared(spark, sf_dir, with_source=True, with_id=True).persist()
    path, _, _ = _qc_train(
        obs.select("doc_id", "xa", "y"), _CARTO_STEPS, subset=True
    )
    snaps = list(_CARTO_SNAPS)
    ps = []
    for k in snaps:
        z = _qc_margin(path[k - 1])
        ps.append(
            (
                F.lit(0.5)
                + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
            ).alias(f"p{k}")
        )
    pp = obs.select("source", "y", *ps)
    cs = [
        F.when(F.col("y") == 1.0, F.col(f"p{k}")).otherwise(
            1 - F.col(f"p{k}")
        ).alias(f"c{k}")
        for k in snaps
    ]
    cc = pp.select("source", *cs)
    k_n = float(len(snaps))
    conf = reduce(
        lambda a, b: a + b, [F.col(f"c{k}") for k in snaps]
    ) / F.lit(k_n)
    stats = cc.select(
        "source", conf.alias("conf"), *[f"c{k}" for k in snaps]
    )
    devs = [
        (F.col(f"c{k}") - F.col("conf"))
        * (F.col(f"c{k}") - F.col("conf"))
        for k in snaps
    ]
    stats = stats.select(
        "source",
        "conf",
        F.sqrt(reduce(lambda a, b: a + b, devs) / F.lit(k_n)).alias("vari"),
    )
    catted = stats.select(
        "source",
        F.when(F.col("vari") >= _CARTO_VBAR, F.lit("ambiguous"))
        .when(F.col("conf") >= _CARTO_CONF, F.lit("easy"))
        .otherwise(F.lit("hard"))
        .alias("category"),
        F.round(F.col("conf") * _QC_QSCALE).cast("long").alias("conf_q"),
        F.round(F.col("vari") * _QC_QSCALE).cast("long").alias("var_q"),
    )
    obs.unpersist()
    return (
        catted.groupBy("source", "category")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("conf_q").alias("sconf"),
            F.sum("var_q").alias("svar"),
        )
        .select(
            "source",
            "category",
            F.col("n_docs").cast("long").alias("n_docs"),
            half_up_ratio(
                F.col("sconf"), F.col("n_docs") * F.lit(_QC_QSCALE), 6
            ).alias("mean_confidence"),
            half_up_ratio(
                F.col("svar"), F.col("n_docs") * F.lit(_QC_QSCALE), 6
            ).alias("mean_variability"),
        )
        .orderBy("source", "category")
    )


# --- q438: discrete-geometric (integer) DP noise release ----------------

_DG_WINDOW = 0xFFFFFFFF  # 32-bit md5 windows for the two geometric draws


@query(
    "q438_discrete_geometric_release",
    oracle=f"""
    WITH g AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    draws AS (
        SELECT event_type, n,
               (32 - length(bin(('0x' || substr(md5('dg1|' || event_type),
                                                1, 8))::BIGINT))) AS g1,
               (32 - length(bin(('0x' || substr(md5('dg2|' || event_type),
                                                1, 8))::BIGINT))) AS g2
        FROM g
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_true,
           CAST(g1 - g2 AS BIGINT) AS noise,
           CAST(n + g1 - g2 AS BIGINT) AS n_noisy
    FROM draws
    ORDER BY event_type
    """,
    tags=("privacy", "dp", "discrete-geometric", "integer-noise"),
)
def q438_discrete_geometric_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete-geometric (two-sided geometric) noisy-count release —
    the INTEGER DP mechanism completing the privacy family's noise
    axis: q407 adds continuous Laplace (one ln per draw), q431
    randomizes at the record; here the released count is n + (G₁ −
    G₂) with G₁, G₂ iid Geometric(1/2) — the construction whose
    difference is exactly the two-sided geometric (discrete Laplace)
    distribution, the mechanism integer-valued deployments (census-
    style tabulations) use because counts must STAY integers and the
    guarantee analysis is exact, with ε = ln 2 per unit sensitivity
    at this α = 1/2.

    The geometric draw itself needs NO libm and no floats anywhere:
    P(leading-zero-count of a uniform 32-bit word = j) = 2^-(j+1), so
    G = 32 − length(bin(u)) over an md5 window IS a Geometric(1/2)
    sample computed in pure integer/string ops (u = 0, probability
    2⁻³², clamps at 31 — documented). The clamp makes the released
    noise a TRUNCATED two-sided geometric, so the ε = ln 2 accounting
    below is for the untruncated ideal mechanism; the truncation
    deviates with probability 2⁻³² per draw, which a production
    deployment absorbs as a δ-style slack (the code is unaffected;
    the accounting caveat lives here explicitly).
    Like q407/q431 this verifies
    the MECHANISM'S MATH only: deterministic salted draws and the
    co-released true counts void the privacy guarantee a production
    deployment gets from real randomness.

    Determinism: md5 windows → exact integers; ``length(bin(·))`` is
    verified to agree between engines on the full domain including
    the u = 0 edge; the release is integer arithmetic end to end —
    the operator has NO floating-point at all, unique even within
    the privacy family.

    Scale posture: one partial+final count aggregate; noise is
    group-grain scalar math on a 5-row frame. Reference contract:
    count = map+reduce slots (``App.config:16-17``); the noise is
    post-aggregation driver-free column math."""
    events = load_tables(spark, sf_dir)["events"]
    g = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    def geo(salt: str) -> Column:
        u = hex_int(F.md5(F.concat(F.lit(salt), F.col("event_type"))), 1, 8)
        return F.lit(32) - F.length(F.bin(u))

    noise = (geo("dg1|") - geo("dg2|")).cast("long")
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_true"),
        noise.alias("noise"),
        (F.col("n") + noise).cast("long").alias("n_noisy"),
    ).orderBy("event_type")


# --- q439: DP-SGD clipped-gradient private training ---------------------

_DP_STEPS = 3  # gradient steps (the q433 grain)
_DP_LR = 0.5  # exact binary64 literal on both engines
_DP_CLIP_Q = 1_000_000  # clip bound C = 1.0 in 1e-6 gradient units
_DP_NOISE_Q = 10_000  # discrete-geometric noise multiplier (1e-2 units)


def _dpsgd_noise(step: int) -> list[int]:
    """Per-dim summed-gradient noise for one step: q438's md5
    leading-zero Geometric(1/2) difference, scaled to ``_DP_NOISE_Q``
    quantized units — the EXACT integer the oracle's SQL computes
    (``bin(u)`` string length = bit_length for u > 0, 1 for u = 0)."""
    import hashlib

    def geo(salt: str) -> int:
        u = int(hashlib.md5(salt.encode()).hexdigest()[:8], 16)
        return 32 - (u.bit_length() if u > 0 else 1)

    return [
        _DP_NOISE_Q
        * (geo(f"dpsgd|{step}|{d}|1") - geo(f"dpsgd|{step}|{d}|2"))
        for d in range(1, 5)
    ]


def _dpsgd_examples(obs: DataFrame, w: list) -> DataFrame:
    """Per-example frame under weights ``w``: quantized BIGINT gradient
    vector ``gq``, its exact squared norm ``s2``, ceil-sqrt ``su``
    (floor-sqrt via IEEE double — exact input since s2 < 2^53 — with a
    one-step integer correction, then +1 if still below), the clip
    flag, and the CLIPPED vector ``cl`` = sign(g)·⌊|g|·Cq/su⌋ — floor
    division against the CEIL sqrt guarantees ‖cl‖ ≤ ‖g‖·Cq/‖g‖ = Cq
    exactly (the invariant test pins it per example). Shared by the
    training loop and the invariant test."""
    c2 = _DP_CLIP_Q * _DP_CLIP_Q
    z = _qc_margin(w)
    p = F.lit(0.5) + F.col("z") / (
        F.lit(2.0) * (F.lit(1.0) + F.abs(F.col("z")))
    )
    return (
        obs.select("xa", "y", z.alias("z"))
        .select("xa", "y", "z", p.alias("p"))
        .select(
            "y",
            "z",
            F.transform(
                "xa",
                lambda x: F.round(
                    (F.col("p") - F.col("y")) * x * _QC_QSCALE
                ).cast("long"),
            ).alias("gq"),
        )
        .select(
            "y",
            "z",
            "gq",
            F.aggregate(
                F.transform("gq", lambda v: v * v),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("s2"),
        )
        .select(
            "y",
            "z",
            "gq",
            "s2",
            F.floor(F.sqrt(F.col("s2").cast("double")))
            .cast("long")
            .alias("s0"),
        )
        .select(
            "y",
            "z",
            "gq",
            "s2",
            F.when(
                (F.col("s0") + 1) * (F.col("s0") + 1) <= F.col("s2"),
                F.col("s0") + 1,
            )
            .when(F.col("s0") * F.col("s0") > F.col("s2"), F.col("s0") - 1)
            .otherwise(F.col("s0"))
            .alias("sfl"),
        )
        .select(
            "y",
            "z",
            "gq",
            "s2",
            (
                F.col("sfl")
                + F.when(
                    F.col("sfl") * F.col("sfl") < F.col("s2"), 1
                ).otherwise(0)
            ).alias("su"),
        )
        .select(
            "y",
            "z",
            "s2",
            (F.col("s2") > F.lit(c2)).alias("is_clip"),
            F.when(F.col("s2") <= F.lit(c2), F.col("gq"))
            .otherwise(
                F.expr(
                    f"transform(gq, v -> CASE WHEN v >= 0"
                    f" THEN (v * {_DP_CLIP_Q}) div su"
                    f" ELSE -(((-v) * {_DP_CLIP_Q}) div su) END)"
                )
            )
            .alias("cl"),
        )
    )


def _dpsgd_step_frame(ex: DataFrame) -> DataFrame:
    """One corpus scan's aggregate: per-dim summed CLIPPED quantized
    gradients as columns ``cq1..cq4``, clip count, pre-update accuracy
    count, n. r15: ONE wide global aggregate (per-dim columns) instead
    of posexplode + groupBy(dim) — the same exact integer sums per dim
    (``sum(element_at(cl, d))`` sums the same multiset the dim group
    held) with one stage and no exchange."""
    return ex.agg(
        *[
            F.expr(f"sum(element_at(cl, {d}))").alias(f"cq{d}")
            for d in range(1, 5)
        ],
        F.sum(F.when(F.col("is_clip"), 1).otherwise(0)).alias("n_clip"),
        F.sum(
            F.when((F.col("z") > 0) == (F.col("y") == 1.0), 1).otherwise(0)
        ).alias("n_correct"),
        F.count(F.lit(1)).alias("n"),
    )


def _dpsgd_steps_sql() -> str:
    """Unrolled DP-SGD step CTEs: per example the quantized gradient
    list, exact integer squared norm, corrected floor-sqrt → ceil-sqrt,
    the floor-division clip, then the per-dim sum + the md5
    discrete-geometric noise inside the weight update."""
    dims = _QC_DIMS
    z_fold = _QC_ZFOLD
    c2 = _DP_CLIP_Q * _DP_CLIP_Q
    step_tpl = """
    g{k} AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(s.cv) AS cq,
               sum(CASE WHEN is_clip THEN 1 ELSE 0 END) AS n_clip,
               sum(CASE WHEN (z > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS n_correct,
               count(*) AS n
        FROM (
            SELECT y, z, is_clip,
                   unnest(list_transform({dims},
                       i -> struct_pack(dim := i, cv := cl[i]))) AS s
            FROM (
                SELECT y, z, s2 > {c2} AS is_clip,
                       CASE WHEN s2 <= {c2} THEN gq
                            ELSE list_transform(gq, v -> CASE WHEN v >= 0
                                 THEN (v * {cq}) // su
                                 ELSE -(((-v) * {cq}) // su) END)
                       END AS cl
                FROM (
                    SELECT y, z, gq, s2,
                           sfl + CASE WHEN sfl * sfl < s2 THEN 1 ELSE 0 END
                               AS su
                    FROM (
                        SELECT y, z, gq, s2,
                               CASE WHEN (s0 + 1) * (s0 + 1) <= s2 THEN s0 + 1
                                    WHEN s0 * s0 > s2 THEN s0 - 1
                                    ELSE s0 END AS sfl
                        FROM (
                            SELECT y, z, gq, s2,
                                   CAST(floor(sqrt(CAST(s2 AS DOUBLE)))
                                        AS BIGINT) AS s0
                            FROM (
                                SELECT y, z, gq,
                                       list_reduce(list_prepend(
                                           CAST(0 AS BIGINT),
                                           list_transform({dims},
                                               i -> gq[i] * gq[i])),
                                           (a, b) -> a + b) AS s2
                                FROM (
                                    SELECT y, z,
                                           list_transform({dims},
                                               i -> CAST(round((p - y)
                                                   * xa[i] * {qs})
                                                   AS BIGINT)) AS gq
                                    FROM (
                                        SELECT z, y,
                                               CAST(0.5 AS DOUBLE)
                                                   + z / (CAST(2.0 AS DOUBLE)
                                                       * (CAST(1.0 AS DOUBLE)
                                                          + abs(z))) AS p,
                                               xa
                                        FROM (
                                            SELECT xa, y, {zf} AS z
                                            FROM obs CROSS JOIN w{p} w
                                        )
                                    )
                                )
                            )
                        )
                    )
                )
            ) e
        )
        GROUP BY s.dim
    ),
    w{k} AS MATERIALIZED (
        SELECT list(w.wl[g.dim]
                    - {lr} * (CAST(g.cq
                        + {nq} * (
                            (32 - length(bin(('0x' || substr(
                                md5('dpsgd|{k}|' || g.dim || '|1'),
                                1, 8))::BIGINT)))
                          - (32 - length(bin(('0x' || substr(
                                md5('dpsgd|{k}|' || g.dim || '|2'),
                                1, 8))::BIGINT)))
                        ) AS DOUBLE) / {qs} / g.n)
                    ORDER BY g.dim) AS wl,
               max(g.n_correct) AS n_correct,
               max(g.n_clip) AS n_clip,
               max(g.n) AS n
        FROM g{k} g CROSS JOIN w{p} w
    )"""
    return ",".join(
        step_tpl.format(
            k=k,
            p=k - 1 if k > 1 else 0,
            qs=_QC_QSCALE,
            lr=_DP_LR,
            cq=_DP_CLIP_Q,
            c2=c2,
            nq=_DP_NOISE_Q,
            dims=dims,
            zf=z_fold,
        )
        for k in range(1, _DP_STEPS + 1)
    )


def _dpsgd_oracle_sql() -> str:
    dims = _QC_DIMS
    z_fold = _QC_ZFOLD
    acc_rows = " UNION ALL ".join(
        f"SELECT 'acc' AS item, {k} AS idx,"
        f" ((2 * n_correct * 1000000 + n) // (2 * n)) / 1000000.0 AS value"
        f" FROM w{k}"
        for k in range(1, _DP_STEPS + 1)
    )
    clip_rows = " UNION ALL ".join(
        f"SELECT 'clip_frac', {k},"
        f" ((2 * n_clip * 1000000 + n) // (2 * n)) / 1000000.0"
        f" FROM w{k}"
        for k in range(1, _DP_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql()},
    w0 AS (SELECT list_transform({dims}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_dpsgd_steps_sql()},
    fin AS MATERIALIZED (
        SELECT sum(CASE WHEN ({z_fold} > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS n_correct,
               count(*) AS n
        FROM obs CROSS JOIN w{_DP_STEPS} w
    )
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {acc_rows}
        UNION ALL
        SELECT 'acc', {_DP_STEPS + 1},
               ((2 * n_correct * 1000000 + n) // (2 * n)) / 1000000.0
        FROM fin
        UNION ALL
        {clip_rows}
        UNION ALL
        SELECT 'w', s.dim, round(s.wv, 6) + 0.0
        FROM (
            SELECT unnest(list_transform({dims},
                i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
            FROM w{_DP_STEPS} w
        )
    ) ORDER BY item, idx
    """


@query(
    "q439_dpsgd_private_training",
    oracle=_dpsgd_oracle_sql(),
    tags=("privacy", "dp", "training", "clipping", "curation"),
)
def q439_dpsgd_private_training(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DP-SGD-style clipped-gradient training — the composition the
    privacy and training families were missing:
    q433 trains on RAW per-example gradients; q407/q438 noise COUNTS;
    private ML ships per-example gradient CLIPPING (bounding each
    example's influence = the sensitivity bound) + integer noise on
    the SUMMED gradient, then the standard update. Three full-batch
    steps of the q433 fast-sigmoid logistic trainer where each
    example's quantized BIGINT gradient vector is clipped to L2 norm
    C = 1.0 EXACTLY in integer arithmetic — squared norm as an exact
    BIGINT sum, ceil-sqrt via corrected floor-sqrt (+1 when still
    below), clipped component = sign(g)·⌊|g|·Cq/ceil‖g‖⌋, so
    ‖clipped‖ ≤ Cq·‖g‖/‖g‖ = Cq with NO floating-point in the bound
    (the invariant test pins it per example) — and each step's summed
    gradient gets q438's md5 discrete-geometric noise (two-sided
    Geometric(1/2) difference, ``_DP_NOISE_Q`` = 1e-2 units/draw)
    before the weight update. Released: per-step pre-update accuracy
    + final accuracy (climbs ~0.49 → 0.99+ at every SF — clipping and
    noise at these scales leave the dynamics intact, which is the
    operator's demonstration), per-step clip fraction (~0.33 at step
    1 — the untrained gradient exceeds C for a third of the corpus —
    then 0 once gradients shrink), and the final weights.

    Like q407/q431/q438 this verifies the MECHANISM'S MATH only:
    deterministic salted draws and co-released exact accuracies void
    the (ε, δ) guarantee a production deployment gets from real
    randomness and from not publishing side information; the ε
    accounting for the untruncated two-sided geometric at α = 1/2 is
    ln 2 per unit sensitivity per release, composed over
    3 steps × 4 dims via basic composition.

    Determinism: per-example gradients quantized to exact BIGINTs
    (the q343 discipline); the clip path is integer-only (the
    floor-sqrt seed reads an IEEE double sqrt whose input s2 < 2^53
    is exactly representable, and the ±1 correction makes the integer
    result exact regardless of the last-ulp direction); noise draws
    are md5-window integer ops (q438's mechanism, verified on the
    u = 0 edge); the weight update mirrors the oracle's binary64
    sequence; releases use the half-up integer idiom and
    ``round_nz``.

    Scale posture: per step ONE corpus scan — feature map, gradient,
    norm, and clip all fuse into the scan (no joins, no windows, no
    per-example shuffle) — whose shuffle carries 4 integer cells plus
    a clip counter, map-side combined; model state is 4 doubles via a
    4-row parameter-server collect, exactly q433's dataflow with
    clip+noise as extra scalar math. Reference contract: per-example
    clipped gradient = map slot (``App.config:16``); noisy
    aggregation + update = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir).persist()
    w = [0.0] * 4
    accs: list = []
    clips: list = []
    n_rows = None
    for k in range(1, _DP_STEPS + 1):
        row = _dpsgd_step_frame(_dpsgd_examples(obs, w)).collect()[0]
        n_rows = row["n"]
        accs.append((row["n_correct"], n_rows))
        clips.append((row["n_clip"], n_rows))
        cq = {d: row[f"cq{d}"] for d in range(1, 5)}
        nz = _dpsgd_noise(k)
        # Mirror the oracle's update arithmetic exactly (q343 rule).
        w = [
            w[d - 1] - _DP_LR * ((cq[d] + nz[d - 1]) / _QC_QSCALE / n_rows)
            for d in range(1, 5)
        ]
    fin = _qc_multi_step(obs, [{"name": 0, "w": w}], with_grads=False)[0]
    obs.unpersist()
    ratio_rows = [
        ("acc", k + 1, int(nc), int(n)) for k, (nc, n) in enumerate(accs)
    ]
    ratio_rows.append(("acc", _DP_STEPS + 1, fin["nc"], fin["n"]))
    ratio_rows.extend(
        ("clip_frac", k + 1, int(nc), int(n))
        for k, (nc, n) in enumerate(clips)
    )
    ratio_df = spark.createDataFrame(
        ratio_rows, "item string, idx int, num long, den long"
    ).select(
        "item",
        "idx",
        half_up_ratio(F.col("num"), F.col("den"), 6).alias("value"),
    )
    w_df = spark.createDataFrame(
        [("w", d, w[d - 1]) for d in range(1, 5)],
        "item string, idx int, raw double",
    ).select("item", "idx", round_nz(F.col("raw"), 6).alias("value"))
    return ratio_df.unionByName(w_df).orderBy("item", "idx")


# --- q441: k-fold cross-validated training -------------------------------

_CV_FOLDS = 3  # deterministic folds by doc_id % 3


def _cv_oracle_sql() -> str:
    """Three independent weight paths via the SHARED step CTEs (prefix
    f0/f1/f2, each scan restricted to the train folds), then held-out
    accuracy per fold and the micro-averaged CV accuracy."""
    z_fold = _QC_ZFOLD
    parts = [_qc_obs_sql(with_id=True)]
    evs = []
    for f in range(_CV_FOLDS):
        parts.append(
            f"f{f}w0 AS (SELECT list_transform({_QC_DIMS},"
            f" i -> CAST(0.0 AS DOUBLE)) AS wl)"
        )
        parts.append(
            _qc_steps_sql(
                prefix=f"f{f}",
                filt=f" WHERE doc_id % {_CV_FOLDS} <> {f}",
            )
        )
        evs.append(f"""
    ev{f} AS MATERIALIZED (
        SELECT sum(CASE WHEN ({z_fold} > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS nc,
               count(*) AS n
        FROM obs CROSS JOIN f{f}w{_QC_STEPS} w
        WHERE doc_id % {_CV_FOLDS} = {f}
    )""")
    fold_rows = " UNION ALL ".join(
        f"SELECT 'fold_acc' AS item, {f + 1} AS idx,"
        f" ((2 * nc * 1000000 + n) // (2 * n)) / 1000000.0 AS value"
        f" FROM ev{f}"
        for f in range(_CV_FOLDS)
    )
    tot_nc = " + ".join(f"e{f}.nc" for f in range(_CV_FOLDS))
    tot_n = " + ".join(f"e{f}.n" for f in range(_CV_FOLDS))
    froms = ", ".join(f"ev{f} e{f}" for f in range(_CV_FOLDS))
    return f"""
    WITH {",".join(parts)},
    {",".join(evs)}
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {fold_rows}
        UNION ALL
        SELECT 'cv_acc', {_CV_FOLDS + 1},
               ((2 * ({tot_nc}) * 1000000 + ({tot_n}))
                // (2 * ({tot_n}))) / 1000000.0
        FROM {froms}
    ) ORDER BY item, idx
    """


@query(
    "q441_kfold_cv_training",
    oracle=_cv_oracle_sql(),
    tags=("llm", "training", "cross-validation", "evaluation", "curation"),
)
def q441_kfold_cv_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated training — the train/eval SEPARATION the
    training family was missing: q433/q439 release TRAINING accuracy
    (optimistically biased by construction), q244 builds group-k-fold
    SPLITS but never trains on them; this trains the shared
    fast-sigmoid classifier three times, each run on two of three
    deterministic folds (``doc_id % 3``), scores each model on its
    HELD-OUT fold only, and releases the per-fold held-out accuracies
    plus the micro-averaged CV accuracy (total held-out correct /
    total held-out) — the unbiased generalization estimate a curation
    pipeline quotes before trusting a gate model. Held-out accuracy
    lands ≈ 0.99 at every SF (the keep-label is genuinely learnable
    from the features), confirming the q433 gate generalizes rather
    than memorizes.

    Determinism: each fold's weight path is the SHARED step template
    (``_qc_steps_sql`` with a constant fold predicate — one
    definition, three instantiations) with the q343 quantized-
    gradient discipline; fold membership is exact integer modulo;
    held-out accuracies are exact integer counts through the half-up
    idiom; the micro average is an exact integer ratio (no mean of
    rounded ratios).

    Scale posture: K × steps = 9 corpus scans, each a fused
    feature+gradient map with a 4-integer-cell shuffle (q433's step
    shape) — at 100 TB each fold's filter prunes at the scan since
    fold membership derives from doc_id (no shuffle to materialize
    folds); evaluation is K more map-only scans into 1-row
    aggregates. Model state = 3 × 4 doubles via parameter-server
    collects. Reference contract: per-example gradient/score = map
    slot (``App.config:16``); fold update + accuracy rollup = reduce
    slot (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir, with_id=True)
    # Fused fold training (r15, guide §2.4): the K folds are
    # INDEPENDENT models over doc_id-derived slices of one frame, so
    # each step's K gradient scans collapse into ONE conditional-
    # aggregate scan (integer sums are order-free — slice-gated sums
    # over the superset equal per-slice sums), and the K held-out
    # evaluations into one more. 12 jobs -> 4; per-row arithmetic,
    # update sequence and released integers are bit-identical (the
    # shared-template discipline, pinned by the oracle at all SFs).
    ws = {f: [0.0] * 4 for f in range(_CV_FOLDS)}
    train_inc = {
        f: f"(doc_id % {_CV_FOLDS}) != {f}" for f in range(_CV_FOLDS)
    }
    for _step in range(_QC_STEPS):
        g = _qc_multi_step(
            obs,
            [
                {"name": f, "w": ws[f], "inc_sql": train_inc[f]}
                for f in range(_CV_FOLDS)
            ],
        )
        ws = {
            f: _qc_update(ws[f], g[f]["gq"], g[f]["n"])
            for f in range(_CV_FOLDS)
        }
    ev = _qc_multi_step(
        obs,
        [
            {
                "name": f,
                "w": ws[f],
                "inc_sql": f"(doc_id % {_CV_FOLDS}) = {f}",
            }
            for f in range(_CV_FOLDS)
        ],
        with_grads=False,
    )
    fold_rows: list = []
    tot_nc = 0
    tot_n = 0
    for f in range(_CV_FOLDS):
        fold_rows.append(
            ("fold_acc", f + 1, ev[f]["nc"], ev[f]["n"])
        )
        tot_nc += ev[f]["nc"]
        tot_n += ev[f]["n"]
    fold_rows.append(("cv_acc", _CV_FOLDS + 1, tot_nc, tot_n))
    return (
        spark.createDataFrame(
            fold_rows, "item string, idx int, num long, den long"
        )
        .select(
            "item",
            "idx",
            half_up_ratio(F.col("num"), F.col("den"), 6).alias("value"),
        )
        .orderBy("item", "idx")
    )


# --- q442: confident-learning label-noise estimation ---------------------

_CL_FLIP_MOD = 17  # inject: flip the label of every doc_id % 17 == 0


def _cl_oracle_sql() -> str:
    """Obs with the deterministic label flip, the SHARED 3-step weight
    path trained on the NOISY labels, per-doc quantized confidence,
    integer cross-multiplied class thresholds, and the confident-joint
    rollup."""
    z_fold = _QC_ZFOLD
    return f"""
    WITH {_qc_obs_sql(with_id=True, name="obs0")},
    obs AS MATERIALIZED (
        SELECT doc_id, xa,
               CASE WHEN doc_id % {_CL_FLIP_MOD} = 0
                    THEN CAST(1.0 AS DOUBLE) - y ELSE y END AS y
        FROM obs0
    ),
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_qc_steps_sql()},
    sc AS MATERIALIZED (
        SELECT y,
               CAST(round((CAST(0.5 AS DOUBLE)
                   + z / (CAST(2.0 AS DOUBLE)
                          * (CAST(1.0 AS DOUBLE) + abs(z))))
                   * {_QC_QSCALE}) AS BIGINT) AS pq
        FROM (
            SELECT y, {z_fold} AS z
            FROM obs CROSS JOIN w{_QC_STEPS} w
        )
    ),
    th AS MATERIALIZED (
        SELECT sum(CASE WHEN y = 1.0 THEN pq ELSE 0 END) AS t1n,
               sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS t1d,
               sum(CASE WHEN y = 0.0 THEN {_QC_QSCALE} - pq ELSE 0 END)
                   AS t0n,
               sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS t0d
        FROM sc
    ),
    lab AS (
        SELECT CAST(y AS BIGINT) AS given_label,
               CASE WHEN e1 AND e0 THEN
                        CASE WHEN pq > {_QC_QSCALE} - pq THEN 1 ELSE 0 END
                    WHEN e1 THEN 1
                    WHEN e0 THEN 0
                    ELSE -1 END AS inferred_label
        FROM (
            SELECT y, pq,
                   pq * t1d >= t1n AS e1,
                   ({_QC_QSCALE} - pq) * t0d >= t0n AS e0
            FROM sc CROSS JOIN th
        )
    ),
    conf AS (
        SELECT given_label, inferred_label, count(*) AS n_docs
        FROM lab GROUP BY 1, 2
    ),
    tt AS (SELECT given_label, sum(n_docs) AS ng FROM conf GROUP BY 1)
    SELECT c.given_label, c.inferred_label,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           ((2 * c.n_docs * 1000000 + t.ng) // (2 * t.ng)) / 1000000.0
               AS share_of_given
    FROM conf c JOIN tt t USING (given_label)
    ORDER BY given_label, inferred_label
    """


@query(
    "q442_confident_learning_noise",
    oracle=_cl_oracle_sql(),
    tags=("llm", "curation", "label-noise", "confident-learning"),
)
def q442_confident_learning_noise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confident-learning label-noise estimation (Northcutt et al.,
    cleanlab's core) — the label-QUALITY member of the curation
    family: q433 trains a gate assuming labels are right, q437 maps
    which examples are hard; confident learning estimates the joint
    distribution of (given label, latent true label) by counting each
    example into C[given][inferred] when the model's predicted
    probability for a class clears that class's self-confidence
    threshold t_c = mean predicted probability among examples LABELED
    c — the off-diagonal mass IS the estimated label-noise rate, and
    the flagged examples are the relabel/drop candidates.

    The operator is self-validating: it first INJECTS deterministic
    label noise (flipping every ``doc_id % 17 == 0`` label, ≈ 5.9%),
    trains the shared fast-sigmoid classifier on the NOISY labels
    (the realistic regime — a practitioner never has the clean
    labels), and the released confident joint then recovers noise of
    the injected order: off-diagonal share ≈ 4-6% per class at every
    SF (probed; the invariant test pins recovery within 3× of the
    true rate, plus that the flagged set actually overlaps the
    injected flips).

    Determinism: the weight path is the shared bit-identical step
    template trained on the flipped labels; per-doc confidences
    QUANTIZE to 1e-6 BIGINTs; class thresholds are never divided out
    — eligibility uses the exact integer cross-multiplication
    ``pq · |c| ≥ Σpq`` (no float mean, no rounding boundary at all);
    argmax among eligible classes compares exact integers with the
    deterministic tie to class 0; the released share uses the
    half-up idiom. NOTE for >9e12-example corpora the cross-product
    needs a decimal widen (documented, not reachable at any fixture
    SF).

    Scale posture: training is q433's per-step one-scan dataflow;
    scoring is ONE corpus map (margin fold + quantize); thresholds
    are a 1-row aggregate broadcast back via crossJoin (the bounded-
    aggregate idiom); the joint is a partial+final rollup on the
    bounded (2 × 3)-cell grain. Reference contract: per-example
    score = map slot (``App.config:16``); threshold + joint rollup =
    reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    obs0 = _qc_obs_shared(spark, sf_dir, with_id=True)
    obs = obs0.select(
        "doc_id",
        "xa",
        F.when(
            F.col("doc_id") % _CL_FLIP_MOD == 0, F.lit(1.0) - F.col("y")
        )
        .otherwise(F.col("y"))
        .alias("y"),
    ).persist()
    path, _, _ = _qc_train(obs.select("xa", "y"))
    z = _qc_margin(path[-1])
    p = F.lit(0.5) + F.col("z") / (
        F.lit(2.0) * (F.lit(1.0) + F.abs(F.col("z")))
    )
    sc = (
        obs.select("y", z.alias("z"))
        .select("y", F.round(p * _QC_QSCALE).cast("long").alias("pq"))
    )
    th = sc.agg(
        F.sum(F.when(F.col("y") == 1.0, F.col("pq")).otherwise(0)).alias(
            "t1n"
        ),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("t1d"),
        F.sum(
            F.when(
                F.col("y") == 0.0, F.lit(_QC_QSCALE) - F.col("pq")
            ).otherwise(0)
        ).alias("t0n"),
        F.sum(F.when(F.col("y") == 0.0, 1).otherwise(0)).alias("t0d"),
    )
    e1 = F.col("pq") * F.col("t1d") >= F.col("t1n")
    e0 = (F.lit(_QC_QSCALE) - F.col("pq")) * F.col("t0d") >= F.col("t0n")
    lab = sc.crossJoin(F.broadcast(th)).select(
        F.col("y").cast("long").alias("given_label"),
        F.when(
            e1 & e0,
            F.when(
                F.col("pq") > F.lit(_QC_QSCALE) - F.col("pq"), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .when(e1, F.lit(1))
        .when(e0, F.lit(0))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("inferred_label"),
    )
    conf = lab.groupBy("given_label", "inferred_label").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tt = conf.groupBy("given_label").agg(F.sum("n_docs").alias("ng"))
    return (
        conf.join(F.broadcast(tt), "given_label")
        .select(
            "given_label",
            "inferred_label",
            F.col("n_docs").cast("long").alias("n_docs"),
            half_up_ratio(F.col("n_docs"), F.col("ng"), 6).alias(
                "share_of_given"
            ),
        )
        .orderBy("given_label", "inferred_label")
    )


# --- q448: TracIn gradient-influence data valuation ----------------------

_TI_PROBE_MOD = 10  # probe slice: doc_id % 10 == 0; train = the rest
_TI_TOPN = 20  # released head of the influence ranking


def _tracin_oracle_sql() -> str:
    """Weight path via the SHARED step CTEs restricted to the train
    slice, then per step the probe slice's summed quantized gradient
    vector and every train doc's quantized gradient, folded into the
    exact integer influence sum."""
    zf = _QC_ZFOLD
    gdim = ", ".join(
        f"CAST(round((p - y) * xa[{d}] * {_QC_QSCALE}) AS BIGINT) AS g{d}"
        for d in range(1, 5)
    )
    steps = []
    for k in range(1, _QC_STEPS + 1):
        p = k - 1
        steps.append(f"""
    tg{k} AS MATERIALIZED (
        SELECT doc_id, {gdim}
        FROM (
            SELECT doc_id, y, xa,
                   CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
                       * (CAST(1.0 AS DOUBLE) + abs(z))) AS p
            FROM (
                SELECT doc_id, y, xa, {zf} AS z
                FROM obs CROSS JOIN w{p} w
                WHERE doc_id % {_TI_PROBE_MOD} <> 0
            )
        )
    ),
    pg{k} AS MATERIALIZED (
        SELECT sum(g1) AS p1, sum(g2) AS p2, sum(g3) AS p3, sum(g4) AS p4
        FROM (
            SELECT {gdim}
            FROM (
                SELECT y, xa,
                       CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
                           * (CAST(1.0 AS DOUBLE) + abs(z))) AS p
                FROM (
                    SELECT y, xa, {zf} AS z
                    FROM obs CROSS JOIN w{p} w
                    WHERE doc_id % {_TI_PROBE_MOD} = 0
                )
            )
        )
    )""")
    infl = " + ".join(
        f"(t{k}.g1 * p{k}.p1 + t{k}.g2 * p{k}.p2"
        f" + t{k}.g3 * p{k}.p3 + t{k}.g4 * p{k}.p4)"
        for k in range(1, _QC_STEPS + 1)
    )
    joins = " ".join(
        f"JOIN tg{k} t{k} USING (doc_id) CROSS JOIN pg{k} p{k}"
        for k in range(2, _QC_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql(with_id=True)},
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_qc_steps_sql(filt=f" WHERE doc_id % {_TI_PROBE_MOD} <> 0")},
    {",".join(steps)},
    infl AS (
        SELECT t1.doc_id, {infl} AS influence_q
        FROM tg1 t1 CROSS JOIN pg1 p1 {joins}
    ),
    top AS (
        SELECT doc_id, influence_q,
               row_number() OVER (ORDER BY influence_q DESC, doc_id ASC)
                   AS rank
        FROM infl
    )
    SELECT CAST(rank AS BIGINT) AS rank,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(influence_q AS BIGINT) AS influence_q
    FROM top WHERE rank <= {_TI_TOPN}
    ORDER BY rank
    """


@query(
    "q448_tracin_gradient_influence",
    oracle=_tracin_oracle_sql(),
    tags=("llm", "curation", "data-valuation", "influence", "tracin"),
)
def q448_tracin_gradient_influence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TracIn gradient-influence data valuation (Pruthi et al. 2020)
    — the GRADIENT member of the attribution family beside q337's
    kNN-Shapley (geometry) and q437's cartography (dynamics): a
    training example's influence on a probe set is the sum over
    training steps of the dot product between its per-example
    gradient and the probe set's summed gradient, both taken at that
    step's pre-update weights. High positive influence = the examples
    whose updates pushed the model hardest in the probe's own
    gradient direction (the probe-aligned curriculum core);
    strongly negative = examples training AGAINST the probe slice
    (mislabeled/conflicting-data candidates). Released: the top-20
    most probe-aligned training documents with their EXACT integer
    influence scores.

    Setup: probe slice = ``doc_id % 10 == 0`` (held out of
    training), weight path = the shared step template restricted to
    the train slice (``_qc_steps_sql(filt=...)`` — the q441
    mechanism, one definition); per step both the per-train-doc
    gradient and the probe's summed gradient are quantized to 1e-6
    BIGINTs, so every influence score is an EXACT integer
    (Σₖ gᵢ(k)·G_probe(k) in 1e-12 units) — no rounding anywhere in
    the released column.

    Determinism: quantized-integer gradients (q343 discipline), exact
    BIGINT dot products and sums (order-free), global top-20 by the
    total order (influence DESC, doc_id ASC) — Catalyst plans the
    limit as TakeOrdered (no global sort materialization), and the
    final rank is assigned on the 20-row bounded frame.

    Scale posture (r15): ONE fused probe-slice aggregate computes all
    three checkpoints' summed gradients (12 exact integer cells, one
    job) whose collected values become literals of ONE train-slice
    scan that evaluates every step's dot product and the total
    influence per doc — no joins, no crossJoins, doc-grain with no
    shuffle; the release is TakeOrdered top-20. Model state = 4
    doubles per step via the shared parameter-server collects.
    Reference contract: per-example gradient = map slot
    (``App.config:16``); probe aggregation + influence ranking =
    reduce slots (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir, with_id=True)
    train = obs.where(F.col("doc_id") % _TI_PROBE_MOD != 0)
    path, _, _ = _qc_train(train.select("xa", "y"))
    weights = [[0.0] * 4, *path[:-1]]  # pre-update weights per step

    # r15: all three checkpoints' weights are known up front, so the
    # three probe-slice aggregates FUSE into one fused scan (the
    # _qc_multi_step idiom — 12 exact integer sums in one job) whose
    # collected values become LITERALS of a single train-slice pass
    # computing every step's dot product and the total influence at
    # once: 3 probe scans + 3 train-grain frames + 2 doc_id joins + 3
    # broadcast crossJoins collapse to 1 fused probe aggregate + 1
    # train scan (same exact BIGINT products and left-assoc sums).
    probe_g = _qc_multi_step(
        obs,
        [
            {
                "name": k,
                "w": w,
                "inc_sql": f"(doc_id % {_TI_PROBE_MOD}) = 0",
            }
            for k, w in enumerate(weights)
        ],
    )
    proj = ["doc_id", "y"]
    for k, w in enumerate(weights):
        warr = "array({})".format(", ".join(_qc_dlit(v) for v in w))
        proj.append(
            f"aggregate(zip_with(xa, {warr}, (x, wv) -> x * wv), "
            f"{_qc_dlit(0.0)}, (acc, x) -> acc + x) AS z{k}"
        )
    proj += [f"element_at(xa, {d}) AS x{d}" for d in range(1, 5)]
    terms = []
    for k in range(len(weights)):
        pk = (
            f"({_qc_dlit(0.5)} + z{k} / ({_qc_dlit(2.0)} * "
            f"({_qc_dlit(1.0)} + abs(z{k}))))"
        )
        dots = " + ".join(
            f"CAST(round(({pk} - y) * x{d} * {_QC_QSCALE}) AS BIGINT)"
            f" * {probe_g[k]['gq'][d]}L"
            for d in range(1, 5)
        )
        terms.append(f"(CAST(0 AS BIGINT) + {dots})")
    total = train.selectExpr(*proj).selectExpr(
        "doc_id",
        "(CAST(0 AS BIGINT) + {}) AS influence_q".format(
            " + ".join(terms)
        ),
    )
    top = total.orderBy(
        F.col("influence_q").desc(), F.col("doc_id").asc()
    ).limit(_TI_TOPN)
    out = (
        top.withColumn(
            "rank",
            F.row_number().over(
                bounded_order(
                    F.col("influence_q").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("influence_q").cast("long").alias("influence_q"),
        )
        .orderBy("rank")
    )
    return out


# --- q449: worst-group training audit (group-DRO evaluation) --------------


def _dro_oracle_sql() -> str:
    """Shared weight path, then per checkpoint (pre-update w0..w2 and
    the final w3) the per-source accuracy table, its worst row (min
    accuracy, ties to the smaller source name — the exact double
    division is bit-identical cross-engine), and the overall
    accuracy."""
    zf = _QC_ZFOLD
    chks = []
    for k in range(_QC_STEPS + 1):
        chks.append(f"""
    sa{k} AS MATERIALIZED (
        SELECT source,
               sum(CASE WHEN ({zf} > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS nc,
               count(*) AS n
        FROM obs CROSS JOIN w{k} w
        GROUP BY source
    ),
    worst{k} AS MATERIALIZED (
        SELECT source, nc, n FROM sa{k}
        ORDER BY CAST(nc AS DOUBLE) / n ASC, source ASC LIMIT 1
    ),
    tot{k} AS MATERIALIZED (
        SELECT sum(nc) AS nc, sum(n) AS n FROM sa{k}
    )""")
    rows = " UNION ALL ".join(
        f"SELECT {k} AS checkpoint, w.source AS worst_source,"
        f" ((2 * w.nc * 1000000 + w.n) // (2 * w.n)) / 1000000.0"
        f"     AS worst_acc,"
        f" ((2 * t.nc * 1000000 + t.n) // (2 * t.n)) / 1000000.0"
        f"     AS overall_acc"
        f" FROM worst{k} w CROSS JOIN tot{k} t"
        for k in range(_QC_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql(with_source=True)},
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_qc_steps_sql()},
    {",".join(chks)}
    SELECT CAST(checkpoint AS BIGINT) AS checkpoint, worst_source,
           worst_acc, overall_acc
    FROM ({rows})
    ORDER BY checkpoint
    """


@query(
    "q449_worst_group_training_audit",
    oracle=_dro_oracle_sql(),
    tags=("llm", "training", "robustness", "group-dro", "curation"),
)
def q449_worst_group_training_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Worst-group training audit (the group-DRO evaluation loop,
    Sagawa et al.) — the ROBUSTNESS member of the training family:
    average accuracy (q433's release) can climb while a subgroup is
    left behind, which is exactly what distributionally-robust
    training monitors; this operator scores every checkpoint of the
    shared weight path (untrained w0, post-step w1..w3) against EVERY
    source's slice and releases, per checkpoint, the worst source,
    its accuracy, and the overall accuracy — the worst-vs-average gap
    trajectory a curation pipeline watches to decide whether a gate
    model needs group reweighting (q264's DoReMi being the remedy
    member).

    Determinism: the weight path is the shared bit-identical
    template; per-source counts are exact integers; the worst-group
    argmin compares the IEEE double nc/n (identical division on both
    engines) with a source-name tie-break; released accuracies use
    the half-up integer idiom.

    Scale posture: per checkpoint ONE corpus scan into a bounded
    (source)-grain partial+final aggregate; the argmin and overall
    rollup are bounded-grain math; checkpoints reuse the training
    scans' session (4 extra map-only passes total). Reference
    contract: per-example scoring = map slot (``App.config:16``);
    group rollup + argmin = reduce slots (``App.config:17``,
    ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir, with_source=True)
    # Session-shared default path + ONE fused checkpoint scan (r15):
    # all four checkpoints' weights are known up front, so the four
    # per-checkpoint (source)-grain scans collapse into one scan with
    # a correct-count column per checkpoint — exact integer counts,
    # identical values, 5 jobs -> 1 (plus the once-per-session path).
    path, _, _ = _qc_train_shared_path(spark, sf_dir)
    weights = [[0.0] * 4, *path]
    nc_cols = []
    for k, w in enumerate(weights):
        z = _qc_margin(w)
        nc_cols.append(
            F.sum(
                F.when((z > 0) == (F.col("y") == 1.0), 1).otherwise(0)
            ).alias(f"nc{k}")
        )
    sa = (
        obs.groupBy("source")
        .agg(*nc_cols, F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out_rows = []
    for k in range(len(weights)):
        worst = min(
            sa, key=lambda r, k=k: (r[f"nc{k}"] / r["n"], r["source"])
        )
        tn = sum(r["n"] for r in sa)
        tc = sum(r[f"nc{k}"] for r in sa)
        out_rows.append(
            (
                k,
                worst["source"],
                int(worst[f"nc{k}"]),
                int(worst["n"]),
                int(tc),
                int(tn),
            )
        )
    return (
        spark.createDataFrame(
            out_rows,
            "checkpoint long, worst_source string,"
            " wnc long, wn long, tnc long, tn long",
        )
        .select(
            "checkpoint",
            "worst_source",
            half_up_ratio(F.col("wnc"), F.col("wn"), 6).alias("worst_acc"),
            half_up_ratio(F.col("tnc"), F.col("tn"), 6).alias(
                "overall_acc"
            ),
        )
        .orderBy("checkpoint")
    )


# --- q450: temperature-scaling calibration fit ----------------------------

_TS_GRID = (0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0)  # exact binary64
_TS_VAL_MOD = 3  # calibration slice: doc_id % 3 == 0; train = the rest
_TS_BQ = 1_000_000_000  # per-row Brier quantization (1e-9 units)


def _temp_oracle_sql() -> str:
    """Train-slice weight path (shared CTEs), then ONE val-slice scan
    exploded over the bounded temperature grid: per T the exact
    quantized Brier sum, the argmin by integer compare (ties to the
    smaller T), released per-T with the selection flag."""
    zf = _QC_ZFOLD
    grid = ", ".join(f"CAST({t} AS DOUBLE)" for t in _TS_GRID)
    return f"""
    WITH {_qc_obs_sql(with_id=True)},
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_qc_steps_sql(filt=f" WHERE doc_id % {_TS_VAL_MOD} <> 0")},
    val AS MATERIALIZED (
        SELECT y, {zf} AS z
        FROM obs CROSS JOIN w{_QC_STEPS} w
        WHERE doc_id % {_TS_VAL_MOD} = 0
    ),
    gr AS MATERIALIZED (
        SELECT t, y,
               CAST(0.5 AS DOUBLE) + (z / t) / (CAST(2.0 AS DOUBLE)
                   * (CAST(1.0 AS DOUBLE) + abs(z / t))) AS p
        FROM (SELECT y, z, unnest([{grid}]) AS t FROM val)
    ),
    br AS MATERIALIZED (
        SELECT t,
               sum(CAST(round((p - y) * (p - y) * {_TS_BQ}) AS BIGINT))
                   AS bq,
               count(*) AS n
        FROM gr GROUP BY t
    ),
    best AS MATERIALIZED (
        SELECT t AS t_best FROM br
        ORDER BY bq ASC, t ASC LIMIT 1
    )
    SELECT b.t AS temperature,
           ((2 * b.bq * 1000000 + b.n * {_TS_BQ})
            // (2 * (b.n * {_TS_BQ}))) / 1000000.0 AS brier,
           b.t = s.t_best AS selected
    FROM br b CROSS JOIN best s
    ORDER BY temperature
    """


@query(
    "q450_temperature_scaling_calibration",
    oracle=_temp_oracle_sql(),
    tags=("llm", "calibration", "temperature-scaling", "evaluation"),
)
def q450_temperature_scaling_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaling calibration fit (Guo et al. 2017) — the
    post-hoc calibration FIT the evaluation family was missing: q261
    MEASURES miscalibration (ECE) of given scores and q277 refits a
    monotone map (isotonic); temperature scaling is the one-parameter
    repair modern classifiers actually ship — divide the logit by T
    and pick the T that best calibrates a held-out slice. This trains
    the shared classifier on the train folds, scores the held-out
    calibration slice under every T in a bounded 8-value grid (exact
    binary64 temperatures), and releases the per-T BRIER score with
    the argmin selection — Brier instead of NLL deliberately: squared
    error is libm-FREE (NLL's per-row log would put a million ln
    calls on the verified path), strictly proper, and selects the
    same well-calibrated region.

    Fixture honesty: the fast-sigmoid classifier is OVERCONFIDENT-
    shaped on this easily-separable label, so the selected T at every
    SF is the grid's calibration-softening optimum (probed: T = 1.0
    at sf0.001/0.01 where margins are moderate); the invariant test
    pins the selection = exact argmin and the Brier convexity shape
    rather than a particular T.

    Determinism: the weight path is the shared template; z/T is one
    IEEE division per (row, T) with exact-binary64 T literals; per-row
    Brier contributions QUANTIZE to 1e-9 BIGINTs before order-free
    sums; the argmin compares exact integers (ties to the smaller T);
    the released mean goes through the half-up idiom.

    Scale posture: training is q433's per-step one-scan loop on the
    train slice; calibration is ONE val-slice scan exploded over the
    bounded 8-row grid (≤ 8 rows/doc, map-fused), one partial+final
    aggregate on the 8-cell grain, and a 1-row broadcast for the
    selection flag. Reference contract: per-example scoring = map
    slot (``App.config:16``); per-T rollup + argmin = reduce slots
    (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir, with_id=True).persist()
    train = obs.where((F.col("doc_id") % _TS_VAL_MOD) != 0)
    path, _, _ = _qc_train(train.select("xa", "y"))
    z = _qc_margin(path[-1])
    val = obs.where((F.col("doc_id") % _TS_VAL_MOD) == 0).select(
        "y", z.alias("z")
    )
    gr = val.select(
        "y",
        "z",
        F.explode(F.array(*[F.lit(float(t)) for t in _TS_GRID])).alias("t"),
    ).select(
        "t",
        "y",
        (
            F.lit(0.5)
            + (F.col("z") / F.col("t"))
            / (
                F.lit(2.0)
                * (F.lit(1.0) + F.abs(F.col("z") / F.col("t")))
            )
        ).alias("p"),
    )
    br = gr.groupBy("t").agg(
        F.sum(
            F.round(
                (F.col("p") - F.col("y"))
                * (F.col("p") - F.col("y"))
                * _TS_BQ
            ).cast("long")
        ).alias("bq"),
        F.count(F.lit(1)).alias("n"),
    )
    best = br.orderBy(F.col("bq").asc(), F.col("t").asc()).limit(1).select(
        F.col("t").alias("t_best")
    )
    out = (
        br.crossJoin(F.broadcast(best))
        .select(
            F.col("t").alias("temperature"),
            half_up_ratio(
                F.col("bq"), F.col("n") * F.lit(_TS_BQ), 6
            ).alias("brier"),
            (F.col("t") == F.col("t_best")).alias("selected"),
        )
        .orderBy("temperature")
    )
    obs.unpersist()
    return out


# --- q451: gradient-noise scale (critical batch size) ---------------------


def _gns_oracle_sql() -> str:
    """Shared weight path; per step the per-dim per-example gradient
    sums S1_d and square sums S2_d (exact integers — DuckDB sums are
    HUGEINT), then the simple noise scale
    B = (n·Σ_d S2_d − Σ_d S1_d²) / Σ_d S1_d² via the half-up idiom."""
    zf = _QC_ZFOLD
    steps = []
    for k in range(1, _QC_STEPS + 1):
        p = k - 1
        steps.append(f"""
    gs{k} AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(s.gq) AS s1,
               sum(s.gq * s.gq) AS s2,
               count(*) AS n
        FROM (
            SELECT unnest(list_transform({_QC_DIMS},
                i -> struct_pack(dim := i,
                    gq := CAST(round((p - y) * xa[i] * {_QC_QSCALE})
                              AS BIGINT)))) AS s
            FROM (
                SELECT y, xa,
                       CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
                           * (CAST(1.0 AS DOUBLE) + abs(z))) AS p
                FROM (
                    SELECT xa, y, {zf} AS z
                    FROM obs CROSS JOIN w{p} w
                )
            )
        )
        GROUP BY s.dim
    ),
    ns{k} AS MATERIALIZED (
        SELECT max(n) AS n,
               max(n) * sum(s2) - sum(s1 * s1) AS tr_q,
               sum(s1 * s1) AS g2_q
        FROM gs{k}
    )""")
    rows = " UNION ALL ".join(
        f"SELECT {k} AS step,"
        f" CASE WHEN g2_q = 0 THEN NULL"
        f"      ELSE ((2 * tr_q * 1000000 + g2_q) // (2 * g2_q)) / 1000000.0"
        f" END AS noise_scale,"
        f" ((2 * tr_q * 1000000 + (n * CAST(n AS HUGEINT) * {_QC_QSCALE}"
        f"      * {_QC_QSCALE})) // (2 * (n * CAST(n AS HUGEINT)"
        f"      * {_QC_QSCALE} * {_QC_QSCALE}))) / 1000000.0"
        f"     AS trace_sigma"
        f" FROM ns{k}"
        for k in range(1, _QC_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql()},
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_qc_steps_sql()},
    {",".join(steps)}
    SELECT CAST(step AS BIGINT) AS step, noise_scale, trace_sigma
    FROM ({rows})
    ORDER BY step
    """


@query(
    "q451_gradient_noise_scale",
    oracle=_gns_oracle_sql(),
    tags=("llm", "training", "batch-size", "noise-scale", "curation"),
)
def q451_gradient_noise_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gradient-noise scale (McCandlish et al., "An Empirical Model of
    Large-Batch Training") — the BATCH-SIZE diagnostic of the training
    family: the simple noise scale B ≈ tr(Σ)/|G|² (per-example
    gradient variance over the squared mean gradient) predicts the
    critical batch size past which data parallelism stops paying;
    production training plans read it per step to schedule batch
    ramps. Released per step of the shared weight path: the noise
    scale and the raw variance trace (in squared 1e-6 gradient
    units, normalized by n² and the quantization scale). The
    trajectory RISES as training converges (probed: 1.18 → 1.38 at
    sf0.001, 1.21 → 1.42 at sf0.1, while the variance trace falls
    0.46 → 0.16) — the mean gradient shrinks toward the optimum
    faster than the per-example spread, the regime where bigger
    batches stop paying; three full-batch steps on a cleanly
    separable label move it modestly, stochastic long training moves
    it orders of magnitude, same dataflow.

    Determinism: per-example per-dim gradients QUANTIZED to 1e-6
    BIGINTs (the q343 discipline); S1/S2 are exact integer sums;
    the variance trace n·ΣS2 − ΣS1² and mean-square ΣS1² are exact
    integer cross-products carried in decimal(38,0)/HUGEINT (S1² at
    sf0.1 exceeds int64 — the q390 widening rule); both released
    ratios go through the half-up idiom (quotients bounded: the
    noise scale is ≤ ~10⁶ at fixture gradients, within the int64
    quotient limit). Two near-convergence edges are explicit: a
    literally zero summed gradient (g2_q = 0)
    releases NULL on both engines instead of a div-by-zero error /
    engine-split null, and the half-up idiom's int64 quotient limit
    means a noise scale beyond ~9.2e18/10⁶ ≈ 9.2e12 would wrap
    silently negative (per ranks.py) — that regime is ~10⁷× beyond
    the released trajectory and signals a numerically dead mean
    gradient, the condition the NULL guard flags one step later.

    Scale posture: per step ONE corpus scan (the q433 fused
    feature+gradient map) into a 4-cell partial+final aggregate
    carrying (S1, S2, n) — no new shuffles vs q433; the noise-scale
    math is 4-row driver-free column arithmetic. Reference contract:
    per-example gradient = map slot (``App.config:16``); moment
    aggregation + ratio = reduce slots (``App.config:17``,
    ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir)
    # Session-shared default path (r15): the moment frame below is the
    # query's own lazy release plan; only the training scans ride the
    # shared store.
    path, _, _ = _qc_train_shared_path(spark, sf_dir)
    out = None
    for k, w in enumerate([[0.0] * 4, *path[:-1]], start=1):
        # r15: per-dim first/second gradient moments as columns of ONE
        # wide aggregate (SQL text, the _qc_multi_step discipline)
        # instead of posexplode + groupBy(dim) + a second aggregate —
        # the cross-dim folds (Σ s2_d, Σ s1_d²) become scalar decimal
        # sums over the same exact integers (order-free).
        warr = "array({})".format(", ".join(_qc_dlit(v) for v in w))
        zsql = (
            f"aggregate(zip_with(xa, {warr}, (x, wv) -> x * wv), "
            f"{_qc_dlit(0.0)}, (acc, x) -> acc + x)"
        )
        psql = (
            f"({_qc_dlit(0.5)} + z / ({_qc_dlit(2.0)} * "
            f"({_qc_dlit(1.0)} + abs(z))))"
        )
        step = obs.selectExpr(
            "y", f"{zsql} AS z", *[f"element_at(xa, {d}) AS x{d}" for d in range(1, 5)]
        ).selectExpr(
            *[
                f"CAST(round(({psql} - y) * x{d} * {_QC_QSCALE})"
                f" AS BIGINT) AS gq{d}"
                for d in range(1, 5)
            ]
        )
        gs = step.agg(
            *[F.expr(f"sum(gq{d})").alias(f"s1_{d}") for d in range(1, 5)],
            *[
                F.expr(f"sum(gq{d} * gq{d})").alias(f"s2_{d}")
                for d in range(1, 5)
            ],
            F.count(F.lit(1)).alias("n"),
        )
        dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        s2sum = dec("s2_1") + dec("s2_2") + dec("s2_3") + dec("s2_4")
        g2sum = (
            dec("s1_1") * dec("s1_1")
            + dec("s1_2") * dec("s1_2")
            + dec("s1_3") * dec("s1_3")
            + dec("s1_4") * dec("s1_4")
        )
        ns = gs.select(
            F.col("n").alias("n"),
            (F.col("n").cast("decimal(38,0)") * s2sum - g2sum).alias(
                "tr_q"
            ),
            g2sum.alias("g2_q"),
        ).select(
            F.lit(k).cast("long").alias("step"),
            # Zero-gradient guard: if every summed
            # per-dim gradient is exactly zero, DuckDB's integer // by
            # zero errors and Spark's div yields null — release NULL
            # explicitly on BOTH engines instead. Unreachable at
            # fixture gradients; the guard makes the degenerate-
            # convergence edge well-defined rather than engine-split.
            F.when(
                F.col("g2_q") == F.lit(0).cast("decimal(38,0)"),
                F.lit(None).cast("double"),
            )
            .otherwise(half_up_ratio(F.col("tr_q"), F.col("g2_q"), 6))
            .alias("noise_scale"),
            half_up_ratio(
                F.col("tr_q"),
                dec("n")
                * dec("n")
                * F.lit(_QC_QSCALE).cast("decimal(38,0)")
                * F.lit(_QC_QSCALE).cast("decimal(38,0)"),
                6,
            ).alias("trace_sigma"),
        )
        out = ns if out is None else out.unionByName(ns)
    obs.unpersist()
    return out.orderBy("step")


# --- q455: exponential-mechanism DP median (pure-integer selection) -------

_EM_CAP = 50  # weight-exponent cap: w = 2^max(cap + u - u_max, 0); the
# fixture's 30-day domain keeps every exponent >= 20, so the cap's
# truncation (weights 2^50-deep below the mode collapse to 1) is
# unreachable here and bounds rho*W inside decimal(38,0)/HUGEINT.
_EM_DENOM = 1 << 60  # the 60-bit md5 draw's denominator


@query(
    "q455_exponential_mechanism_dp_median",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, count(*) AS cnt
        FROM events GROUP BY 1
    ),
    nn AS (SELECT count(*) AS nd FROM daily),
    cand AS (SELECT cnt AS v, count(*) AS m FROM daily GROUP BY 1),
    ranked AS (
        SELECT v, m,
               coalesce(sum(m) OVER (ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS below
        FROM cand
    ),
    util AS (
        SELECT v, m, below,
               -abs(below - (nd - below - m)) AS u
        FROM ranked CROSS JOIN nn
    ),
    umax AS (SELECT max(u) AS mu FROM util),
    wts AS (
        SELECT v, m, u,
               (1::BIGINT << CAST(greatest({_EM_CAP} + u - mu, 0)
                                  AS INTEGER)) AS w
        FROM util CROSS JOIN umax
    ),
    cum AS (
        SELECT v, m, u, w,
               sum(w) OVER (ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM wts
    ),
    tot AS (SELECT sum(w) AS tw FROM wts),
    draw AS (
        SELECT ('0x' || substr(md5('q455|dp-median'), 1, 15))::BIGINT AS rho
    ),
    thr AS (
        SELECT (CAST(rho AS HUGEINT) * CAST(tw AS HUGEINT))
                   // {_EM_DENOM} AS t
        FROM draw CROSS JOIN tot
    ),
    med AS (
        SELECT min(v) AS true_med FROM (
            SELECT v, sum(m) OVER (ORDER BY v ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
            FROM cand
        ) x CROSS JOIN nn
        WHERE cd >= (nd + 1) // 2
    )
    SELECT CAST(c.v AS BIGINT) AS cnt_value,
           CAST(c.m AS BIGINT) AS n_days,
           CAST(c.u AS BIGINT) AS utility,
           CAST(c.w AS BIGINT) AS w_num,
           CAST(c.cw AS BIGINT) AS cum_w,
           (c.cw > t.t AND c.cw - c.w <= t.t) AS selected,
           (c.v = (SELECT true_med FROM med)) AS is_true_median
    FROM cum c CROSS JOIN thr t
    ORDER BY cnt_value
    """,
    tags=("privacy", "dp", "exponential-mechanism", "median", "selection"),
)
def q455_exponential_mechanism_dp_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exponential-mechanism DP MEDIAN — the SELECTION mechanism
    completing the privacy family (q407 central Laplace on counts,
    q438 discrete-geometric integer noise, q431 local randomized
    response; this is McSherry-Talwar selection from a candidate set,
    the mechanism census-style releases use for non-numeric or
    rank-based statistics). Candidates are the distinct daily event
    counts; utility u(v) = -|#days below v - #days above v| (the
    standard median utility, sensitivity 1); weights are BASE-2
    exponentials w = 2^(u - u_max + cap) clamped at exponent 0 — so
    the whole mechanism, draw included, is PURE INTEGER arithmetic
    with NO floating point anywhere (the q438 property, extended from
    noise to selection): selection picks the first candidate in value
    order whose cumulative weight exceeds (ρ·W) >> 60 for a 60-bit
    md5 uniform ρ. Released: the full bounded candidate table with
    utilities, weights, cumulative weights, the selected flag, and
    the true-median flag — the audit view a DP release reviewer needs.

    Mechanism-math-only disclaimer (the q407/q438 rule): the salted
    md5 draw is DETERMINISTIC and the true utilities/weights are
    co-released, which voids any actual privacy guarantee — what the
    differential verifies is the mechanism arithmetic. With base-2
    weights and sensitivity-1 utility the idealized guarantee is
    ε = 2·ln 2 per release; the exponent cap deviates from the ideal
    only for candidates ≥ {_EM_CAP} utility units below the mode
    (weight floor 1 instead of 2^-d — unreachable on the fixture's
    30-day domain where depths stay ≤ 30).

    Determinism: counts, ranks, utilities, weights, cumulative sums,
    the threshold product and the comparison are all exact integers;
    both engines read the same md5 hex window.

    Scale posture: one events scan to day grain (partial+final), then
    every downstream frame is the ≤|distinct-counts| candidate grain
    (audited bounded — ``bounded_order`` windows); the threshold is a
    1-row broadcast. At 100 TB the day-grain aggregate is the only
    data-sized stage. Reference contract: day rollup = map slot
    (``App.config:16``); candidate scoring + selection = reduce slots
    (``App.config:17``, ``Program.cs:351-384``)."""
    events = load_tables(spark, sf_dir)["events"]
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    nn = daily.agg(F.count(F.lit(1)).alias("nd"))
    cand = daily.groupBy(F.col("cnt").alias("v")).agg(
        F.count(F.lit(1)).alias("m")
    )
    w_below = bounded_order(F.asc("v")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    util = (
        cand.withColumn(
            "below", F.coalesce(F.sum("m").over(w_below), F.lit(0))
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "v",
            "m",
            (
                -F.abs(
                    F.col("below")
                    - (F.col("nd") - F.col("below") - F.col("m"))
                )
            ).alias("u"),
        )
    )
    umax = util.agg(F.max("u").alias("mu"))
    wts = util.crossJoin(F.broadcast(umax)).select(
        "v",
        "m",
        "u",
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT),"
            f" CAST(greatest({_EM_CAP} + u - mu, 0) AS INT))"
        ).alias("w"),
    )
    w_cum = bounded_order(F.asc("v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = wts.withColumn("cw", F.sum("w").over(w_cum))
    tot = wts.agg(F.sum("w").alias("tw"))
    rho = hex_int(F.md5(F.lit("q455|dp-median")), 1, 15)
    thr = tot.select(
        F.call_function(
            "div",
            rho.cast("decimal(38,0)") * F.col("tw").cast("decimal(38,0)"),
            F.lit(_EM_DENOM).cast("decimal(38,0)"),
        ).alias("t")
    )
    med = (
        cand.withColumn("cd", F.sum("m").over(w_cum))
        .crossJoin(F.broadcast(nn))
        .where(F.col("cd") >= F.expr("(nd + 1) div 2"))
        .agg(F.min("v").alias("true_med"))
    )
    return (
        cum.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("v").cast("long").alias("cnt_value"),
            F.col("m").cast("long").alias("n_days"),
            F.col("u").cast("long").alias("utility"),
            F.col("w").cast("long").alias("w_num"),
            F.col("cw").cast("long").alias("cum_w"),
            (
                (F.col("cw") > F.col("t"))
                & (F.col("cw") - F.col("w") <= F.col("t"))
            ).alias("selected"),
            (F.col("v") == F.col("true_med")).alias("is_true_median"),
        )
        .orderBy("cnt_value")
    )


# --- q459: momentum (heavy-ball) training step ----------------------------

_MOM_STEPS = 4
_MOM_BETA_NUM = 9  # beta = 0.9 carried exactly: V_k = 9*V_{k-1} + 10^k*gq_k
# so v_k = V_k / 10^k with V_k an exact BIGINT (<= ~1.5e13 at sf0.1 for
# 4 steps - no overflow; more steps would widen to decimal(38,0)).


def _mom_oracle_sql() -> str:
    dims = _QC_DIMS
    z_fold = _QC_ZFOLD
    qs = _QC_QSCALE
    lr = _QC_LR
    steps = []
    for k in range(1, _MOM_STEPS + 1):
        p = k - 1
        tenk = 10**k
        # mg{k} mirrors _qc_steps_sql's gradient CTE verbatim (same
        # fused scan, quantized per-example gradients) against the
        # momentum weight path mw{p}.
        steps.append(f"""
    mg{k} AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(CAST(round((p - y) * s.xv * {qs}) AS BIGINT)) AS gq,
               sum(CASE WHEN (z > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS n_correct,
               count(*) AS n
        FROM (
            SELECT e.p, e.y, e.z,
                   unnest(list_transform({dims},
                       i -> struct_pack(dim := i, xv := e.xa[i]))) AS s
            FROM (
                SELECT z, y,
                       CAST(0.5 AS DOUBLE)
                           + z / (CAST(2.0 AS DOUBLE)
                                  * (CAST(1.0 AS DOUBLE) + abs(z))) AS p,
                       xa
                FROM (
                    SELECT xa, y, {z_fold} AS z
                    FROM obs CROSS JOIN mw{p} w
                )
            ) e
        )
        GROUP BY s.dim
    ),
    mv{k} AS MATERIALIZED (
        SELECT list({_MOM_BETA_NUM} * v.vl[g.dim] + {tenk} * g.gq
                    ORDER BY g.dim) AS vl,
               max(g.n_correct) AS n_correct,
               max(g.n) AS n
        FROM mg{k} g CROSS JOIN mv{p} v
    ),
    mw{k} AS MATERIALIZED (
        SELECT list(w.wl[g.dim]
                    - {lr} * (CAST(v.vl[g.dim] AS DOUBLE)
                              / {tenk} / {qs} / g.n)
                    ORDER BY g.dim) AS wl
        FROM mg{k} g CROSS JOIN mw{p} w CROSS JOIN mv{k} v
    )""")
    acc_rows = " UNION ALL ".join(
        f"SELECT 'acc' AS item, {k} AS idx,"
        f" ((2 * n_correct * 1000000 + n) // (2 * n)) / 1000000.0 AS value"
        f" FROM mv{k}"
        for k in range(1, _MOM_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql()},
    mw0 AS (SELECT list_transform({dims}, i -> CAST(0.0 AS DOUBLE)) AS wl),
    mv0 AS (SELECT list_transform({dims}, i -> CAST(0 AS BIGINT)) AS vl),
    {",".join(steps)},
    fin AS MATERIALIZED (
        SELECT sum(CASE WHEN ({z_fold} > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS n_correct,
               count(*) AS n
        FROM obs CROSS JOIN mw{_MOM_STEPS} w
    )
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {acc_rows}
        UNION ALL
        SELECT 'acc', {_MOM_STEPS + 1},
               ((2 * n_correct * 1000000 + n) // (2 * n)) / 1000000.0
        FROM fin
        UNION ALL
        SELECT 'w', s.dim, round(s.wv, 6) + 0.0
        FROM (
            SELECT unnest(list_transform({dims},
                i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
            FROM mw{_MOM_STEPS} w
        )
        UNION ALL
        SELECT 'v', s.dim,
               (CASE WHEN s.vv >= 0
                     THEN (2 * CAST(s.vv AS HUGEINT) * 1000000
                           + {10**_MOM_STEPS * qs})
                          // (2 * CAST({10**_MOM_STEPS * qs} AS HUGEINT))
                     ELSE -((2 * CAST(-s.vv AS HUGEINT) * 1000000
                             + {10**_MOM_STEPS * qs})
                            // (2 * CAST({10**_MOM_STEPS * qs} AS HUGEINT)))
                END) / 1000000.0 + 0.0
        FROM (
            SELECT unnest(list_transform({dims},
                i -> struct_pack(dim := i, vv := v.vl[i]))) AS s
            FROM mv{_MOM_STEPS} v
        )
    ) ORDER BY item, idx
    """


@query(
    "q459_momentum_training",
    oracle=_mom_oracle_sql(),
    tags=("llm", "training", "optimizer", "momentum", "curation"),
)
def q459_momentum_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-ball MOMENTUM training — the optimizer-STATE member of
    the training family (q433 plain GD, q439 DP-SGD's clipped+noised
    gradients, q441's fold restriction; this adds the velocity buffer
    every production optimizer carries): v_k = β·v_{{k-1}} + g_k,
    w_k = w_{{k-1}} − lr·v_k with β = 0.9 over {_MOM_STEPS} full-batch
    steps of the shared fast-sigmoid classifier. Released: the
    per-step pre-update accuracy trajectory, the final weights, and
    the final per-dim velocity — optimizer state itself on the
    verified path.

    Exactness: β = 0.9 is carried EXACTLY by integer bookkeeping —
    V_k = 9·V_{{k-1}} + 10^k·gq_k keeps the velocity an exact BIGINT
    in (gradient-quantum / 10^k) units (the q343 quantization
    discipline applied to optimizer state; ≤ ~1.5e13 at sf0.1 for 4
    steps, far inside int64 — more steps would widen per the q390
    rule), and the weight update divides it back out in ONE shared
    IEEE sequence (V/10^k/qs/n) identical on both engines. The
    gradient scan is verbatim q433's fused map (quantized per-example
    gradients, map-side combined).

    Determinism: all state transitions are exact integers; the only
    floats are the shared-text margin fold and weight updates (one
    op sequence both engines); releases round signed-zero-safe.

    Scale posture: identical to q433 — per step ONE fused corpus scan
    shuffling 4 integer cells, model+velocity state as a bounded
    parameter-server collect (model-grain, never data-grain).
    Reference contract: per-example gradient = map slot
    (``App.config:16``); velocity/weight update = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir)
    w = [0.0] * 4
    vint = [0] * 4
    accs: list = []
    n_rows = None
    for k in range(1, _MOM_STEPS + 1):
        # r15: one wide aggregate per step (the shared _qc_multi_step
        # template — same quantized BIGINT sums, one stage, no
        # per-dim explode/exchange); the velocity bookkeeping stays
        # exact driver-side integer math.
        g = _qc_multi_step(obs, [{"name": 0, "w": w}])[0]
        n_rows = g["n"]
        accs.append((g["nc"], n_rows))
        gq = g["gq"]
        tenk = 10**k
        vint = [
            _MOM_BETA_NUM * vint[d - 1] + tenk * gq[d] for d in range(1, 5)
        ]
        # Mirror the oracle's update text exactly (q343 rule): the
        # Python divisions run the same IEEE sequence as the SQL's.
        w = [
            w[d - 1] - _QC_LR * (vint[d - 1] / tenk / _QC_QSCALE / n_rows)
            for d in range(1, 5)
        ]
    fin = _qc_multi_step(obs, [{"name": 0, "w": w}], with_grads=False)[0]
    fin = {"n_correct": fin["nc"], "n": fin["n"]}

    acc_rows = [
        ("acc", k + 1, int(nc), int(n)) for k, (nc, n) in enumerate(accs)
    ]
    acc_rows.append(
        ("acc", _MOM_STEPS + 1, int(fin["n_correct"]), int(fin["n"]))
    )
    acc_df = spark.createDataFrame(
        acc_rows, "item string, idx int, num long, den long"
    ).select(
        "item",
        "idx",
        half_up_ratio(F.col("num"), F.col("den"), 6).alias("value"),
    )
    w_df = spark.createDataFrame(
        [("w", d, w[d - 1]) for d in range(1, 5)],
        "item string, idx int, raw double",
    ).select("item", "idx", round_nz(F.col("raw"), 6).alias("value"))
    # Velocity is an exact integer over the exact denominator
    # 10^steps * qscale - release through the SIGNED half-up idiom,
    # not a rounded double ratio (the q345 trap; caught by the
    # rounding-contract test).
    v_df = spark.createDataFrame(
        [("v", d, vint[d - 1]) for d in range(1, 5)],
        "item string, idx int, vq long",
    ).select(
        "item",
        "idx",
        half_up_ratio_signed(
            F.col("vq"), F.lit(10**_MOM_STEPS * _QC_QSCALE), 6
        ).alias("value"),
    )
    return acc_df.unionByName(w_df).unionByName(v_df).orderBy("item", "idx")


# --- q461: license/provenance propagation through window packing ----------

_LIC_NAMES = ("cc-by", "cc-by-nc", "mit")


def _lic_case_sql(src: str) -> str:
    return (
        f"CASE ('0x' || substr(md5('lic|' || {src}), 1, 8))::BIGINT % 3"
        f" WHEN 0 THEN '{_LIC_NAMES[0]}'"
        f" WHEN 1 THEN '{_LIC_NAMES[1]}'"
        f" ELSE '{_LIC_NAMES[2]}' END"
    )


@query(
    "q461_license_propagation_packing",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               {_lic_case_sql("source")} AS license,
               CAST(len(list_filter(string_split_regex(lower(text),
                                                       '[^a-z]+'),
                                    x -> x <> '')) AS BIGINT) AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, license, toks,
               CAST(sum(toks) OVER (ORDER BY source, doc_id) AS BIGINT)
                   AS cum_end
        FROM d
    ),
    spans AS (
        SELECT doc_id, source, license, toks, cum_end - toks AS strt,
               cum_end,
               (cum_end - toks) // {_PACK_CONTEXT} AS c0,
               (cum_end - 1) // {_PACK_CONTEXT} AS c1
        FROM c WHERE toks > 0
    ),
    x AS (
        SELECT *, unnest(generate_series(c0, c1)) AS chunk_id FROM spans
    ),
    win AS MATERIALIZED (
        SELECT chunk_id,
               array_to_string(list_sort(list_distinct(list(license))),
                               '+') AS license_profile,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(sum(least(cum_end, (chunk_id + 1) * {_PACK_CONTEXT})
                        - greatest(strt, chunk_id * {_PACK_CONTEXT}))
                    AS BIGINT) AS toks
        FROM x
        GROUP BY chunk_id
    ),
    tot AS (SELECT count(*) AS nw FROM win)
    SELECT license_profile,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           CAST(max(n_sources) AS BIGINT) AS max_sources,
           contains(license_profile, '+') AS mixed,
           contains(license_profile, 'cc-by-nc') AS has_nc,
           ((2 * count(*) * 1000000 + t.nw) // (2 * t.nw)) / 1000000.0
               AS window_share
    FROM win CROSS JOIN tot t
    GROUP BY license_profile, t.nw
    ORDER BY license_profile
    """,
    tags=("training", "packing", "provenance", "license", "lineage", "llm"),
)
def q461_license_propagation_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LICENSE/PROVENANCE propagation through context-window packing —
    the lineage operator a compliance review runs on assembled
    training data: q424 audits the token-stream cut's attention
    contamination; this propagates each document's license (a
    deterministic md5 3-way split of its source — the fixture carries
    no license column, so the mapping is synthetic and documented) to
    every 512-token window it touches, and rolls the corpus up by
    LICENSE PROFILE: for each distinct sorted license set, how many
    windows carry exactly that set, their token mass, the worst
    source fan-in, whether the profile is MIXED (a window spanning
    docs under different licenses — the row a cc-by-nc obligation
    contaminates), and the window share. The release is the
    compliance table: "N% of packed windows mix cc-by-nc into
    otherwise-permissive data".

    Determinism: the license split is salted md5 mod 3; window
    assignment is integer division on the exact global running sum
    (q424's machinery); profiles are sorted-distinct joins; shares
    use the half-up idiom.

    Scale posture: identical to q424 — ``distributed_running_sum``
    (range-partition + local window + broadcast offsets, zero global
    windows), a linear span explode, one window-grain aggregate, then
    a ≤2^|licenses| bounded profile rollup. Reference contract:
    per-doc license tagging = map slot (``App.config:16``); window
    assembly + compliance rollup = reduce slots (``App.config:17``,
    ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    lic = F.element_at(
        F.array(*[F.lit(x) for x in _LIC_NAMES]),
        (
            hex_int(F.md5(F.concat(F.lit("lic|"), F.col("source"))), 1, 8)
            % 3
            + 1
        ).cast("int"),
    )
    d = docs.select(
        "doc_id",
        "source",
        lic.alias("license"),
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            )
        )
        .cast("long")
        .alias("toks"),
    )
    # Concatenate in (source, doc_id) order — the per-source-shard
    # pack order real pipelines use; license mixing then happens only
    # at shard boundaries, which is exactly the compliance question
    # (doc_id order interleaves sources and every window trivially
    # mixes all licenses — probed, degenerate).
    r = distributed_running_sum(
        d, [F.col("source"), F.col("doc_id")], {"cum_end": "toks"}
    )
    ctx = _PACK_CONTEXT
    spans = r.where(F.col("toks") > 0).select(
        "doc_id",
        "source",
        "license",
        "toks",
        (F.col("cum_end") - F.col("toks")).alias("strt"),
        F.col("cum_end").cast("long").alias("cum_end"),
        F.expr(f"(cum_end - toks) div {ctx}").alias("c0"),
        F.expr(f"(cum_end - 1) div {ctx}").alias("c1"),
    )
    x = spans.select(
        "*", F.explode(F.sequence("c0", "c1")).alias("chunk_id")
    )
    overlap = F.least(
        F.col("cum_end"), (F.col("chunk_id") + 1) * F.lit(ctx)
    ) - F.greatest(F.col("strt"), F.col("chunk_id") * F.lit(ctx))
    win = x.groupBy("chunk_id").agg(
        F.array_join(
            F.array_sort(F.array_distinct(F.collect_list("license"))), "+"
        ).alias("license_profile"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(overlap).cast("long").alias("toks"),
    )
    tot = win.agg(F.count(F.lit(1)).alias("nw"))
    return (
        win.crossJoin(F.broadcast(tot))
        .groupBy("license_profile", "nw")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.max("n_sources").cast("long").alias("max_sources"),
        )
        .select(
            "license_profile",
            "n_windows",
            "n_tokens",
            "max_sources",
            F.col("license_profile").contains("+").alias("mixed"),
            F.col("license_profile").contains("cc-by-nc").alias("has_nc"),
            half_up_ratio(F.col("n_windows"), F.col("nw"), 6).alias(
                "window_share"
            ),
        )
        .orderBy("license_profile")
    )

# --- q462: successive-halving feature-subset race --------------------------

# Candidate model configs = feature masks over the 4 shared features
# (1 = keep dim, 0 = zero it out). The fixture's label is a length
# threshold, so configs carrying dim 2 (centered length) separate
# decisively from those without it at every SF — a NON-VACUOUS
# elimination (the q388 lesson; an lr race was probed first and the
# objective is too separable for lr to matter).
_SH_MASKS = (
    ("bias+len", (1, 1, 0, 0)),
    ("bias+awl", (1, 0, 1, 0)),
    ("bias+stop", (1, 0, 0, 1)),
    ("all", (1, 1, 1, 1)),
)


def _sh_mask_sql(mask: tuple) -> str:
    cells = ", ".join(
        f"xa[{d + 1}]" if keep else "CAST(0.0 AS DOUBLE)"
        for d, keep in enumerate(mask)
    )
    return f"list_value({cells})"


def _sh_oracle_sql() -> str:
    chains = []
    evals = []
    cands = []
    for i, (name, mask) in enumerate(_SH_MASKS):
        px = f"h{i}_"
        chains.append(
            f"obs{i} AS MATERIALIZED (SELECT {_sh_mask_sql(mask)} AS xa,"
            f" y FROM obs)"
        )
        chains.append(
            f"{px}w0 AS (SELECT list_transform({_QC_DIMS},"
            f" i -> CAST(0.0 AS DOUBLE)) AS wl)"
        )
        chains.append(_qc_steps_sql(3, prefix=px, obs_name=f"obs{i}"))
        zf = _QC_ZFOLD.replace("xa[i]", "xa[i]")  # shared fold text
        evals.append(f"""
    {px}fin AS MATERIALIZED (
        SELECT sum(CASE WHEN ({zf} > 0) = (y = 1.0)
                   THEN 1 ELSE 0 END) AS n_correct,
               count(*) AS n
        FROM obs{i} CROSS JOIN {px}w3 w
    )""")
        cands.append(
            f"SELECT '{name}' AS config,"
            f" (SELECT n_correct FROM {px}w2) AS acc1,"
            f" (SELECT n_correct FROM {px}w3) AS acc2,"
            f" (SELECT n_correct FROM {px}fin) AS acc3,"
            f" (SELECT n FROM {px}fin) AS n"
        )
    return f"""
    WITH {_qc_obs_sql()},
    {",".join(chains)},
    {",".join(evals)},
    cand AS MATERIALIZED (
        SELECT *,
               row_number() OVER (ORDER BY acc1 DESC, config ASC) AS r1
        FROM ({" UNION ALL ".join(cands)})
    ),
    cand2 AS MATERIALIZED (
        SELECT *,
               row_number() OVER (ORDER BY acc2 DESC, config ASC) AS r2
        FROM cand WHERE r1 <= 2
    )
    SELECT rnd, config, acc, survived FROM (
        SELECT 1 AS rnd, config,
               ((2 * acc1 * 1000000 + n) // (2 * n)) / 1000000.0 AS acc,
               r1 <= 2 AS survived
        FROM cand
        UNION ALL
        SELECT 2, config,
               ((2 * acc2 * 1000000 + n) // (2 * n)) / 1000000.0,
               r2 = 1
        FROM cand2
        UNION ALL
        SELECT 3, config,
               ((2 * acc3 * 1000000 + n) // (2 * n)) / 1000000.0,
               TRUE
        FROM cand2 WHERE r2 = 1
    )
    ORDER BY rnd, config
    """


@query(
    "q462_successive_halving_feature_race",
    oracle=_sh_oracle_sql(),
    tags=("llm", "training", "hyperparameter", "successive-halving",
          "model-selection", "curation"),
)
def q462_successive_halving_feature_race(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SUCCESSIVE HALVING over model configurations — the
    hyperparameter/model-SEARCH member of the training family (q433
    trains one config; q441 cross-validates one; this races
    {len(_SH_MASKS)} feature-subset configs under the
    Jamieson-Talwalkar elimination schedule at the heart of
    Hyperband): every config takes one full-batch step, the top half
    by accuracy survives, survivors take another step, the winner
    finishes a third. Released per round: each live candidate's
    config name, post-step accuracy, and survival — the elimination
    bracket on the verified path. The candidates are feature MASKS
    (an lr race was probed first: the objective is separable enough
    that every lr ties — the mask race separates decisively at every
    SF because only configs carrying the length feature can learn
    the length-threshold label).

    Determinism: all four weight paths reuse the SHARED step template
    (obs-name override) so each path is bit-exact q433 arithmetic on
    its masked features; rankings compare exact integer
    correct-counts with the config name as tie-break; released
    accuracies use the half-up idiom.

    Engine-vs-oracle cost note: the ENGINE runs the real halving
    schedule (4+2+1 = 7 gradient scans, survivors warm-starting from
    their round-N weights); the ORACLE, unable to conditionally
    instantiate CTEs, materializes all 12 steps and applies the
    elimination in the final select — same released rows,
    deliberately different compute shape.

    Scale posture: q433's dataflow × live candidates; the bracket
    bounds total scans at Σ n/2^k — successive halving's point.
    Reference contract: per-example gradient = map slot
    (``App.config:16``); elimination = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    base = _qc_obs_shared(spark, sf_dir)

    # Fused bracket (r15, guide §2.4): the four mask candidates are
    # INDEPENDENT models over ONE frame, so each round's per-candidate
    # gradient scans fuse into one conditional-aggregate scan, and a
    # round's post-step evaluations fuse into the NEXT round's step
    # scan (the step aggregate's correct-count at weights w IS the
    # evaluation of w). The oracle materializes all 12 steps anyway,
    # so the speculative gradients computed for candidates that are
    # then eliminated change nothing released. 14 jobs -> 4; per-row
    # arithmetic is the exact shared template (masked cells as inline
    # expressions instead of materialized frames — same values).
    def xa_of(mask: tuple) -> str:
        return "array({})".format(
            ", ".join(
                f"element_at(xa, {d + 1})" if keep else _qc_dlit(0.0)
                for d, keep in enumerate(mask)
            )
        )

    xa_by = dict((name, xa_of(mask)) for name, mask in _SH_MASKS)
    names = [n for n, _ in _SH_MASKS]
    g1 = _qc_multi_step(
        base,
        [{"name": n, "w": [0.0] * 4, "xa_sql": xa_by[n]} for n in names],
    )
    state = {n: _qc_update([0.0] * 4, g1[n]["gq"], g1[n]["n"]) for n in names}
    g2 = _qc_multi_step(
        base,
        [{"name": n, "w": state[n], "xa_sql": xa_by[n]} for n in names],
    )
    acc1 = {n: (g2[n]["nc"], g2[n]["n"]) for n in names}
    surv1 = sorted(names, key=lambda n: (-acc1[n][0], n))[:2]
    for n in surv1:
        state[n] = _qc_update(state[n], g2[n]["gq"], g2[n]["n"])
    g3 = _qc_multi_step(
        base,
        [{"name": n, "w": state[n], "xa_sql": xa_by[n]} for n in surv1],
    )
    acc2 = {n: (g3[n]["nc"], g3[n]["n"]) for n in surv1}
    winner = sorted(surv1, key=lambda n: (-acc2[n][0], n))[0]
    w3 = _qc_update(state[winner], g3[winner]["gq"], g3[winner]["n"])
    e3 = _qc_multi_step(
        base,
        [{"name": winner, "w": w3, "xa_sql": xa_by[winner]}],
        with_grads=False,
    )
    acc3 = {winner: (e3[winner]["nc"], e3[winner]["n"])}
    rows = (
        [(1, n, acc1[n][0], acc1[n][1], n in surv1) for n in names]
        + [(2, n, acc2[n][0], acc2[n][1], n == winner) for n in surv1]
        + [(3, winner, acc3[winner][0], acc3[winner][1], True)]
    )
    return (
        spark.createDataFrame(
            rows,
            "rnd int, config string, nc long, n long, survived boolean",
        )
        .select(
            "rnd",
            "config",
            half_up_ratio(F.col("nc"), F.col("n"), 6).alias("acc"),
            "survived",
        )
        .orderBy("rnd", "config")
    )


# --- q463: gradient-matching data selection (CRAIG-style) ------------------

_GM_K = 10  # selected coreset size (greedy rounds)


def _gm_oracle_sql() -> str:
    qs = _QC_QSCALE
    steps = []
    for t in range(1, _GM_K + 1):
        prev_picks = " UNION ALL ".join(
            f"SELECT doc_id FROM s{j}" for j in range(1, t)
        )
        excl = (
            f"AND g.doc_id NOT IN ({prev_picks})" if t > 1 else ""
        )
        steps.append(f"""
    s{t} AS MATERIALIZED (
        SELECT g.doc_id, g.g1, g.g2, g.g3, g.g4,
               (CAST(g.g1 AS HUGEINT) * r.r1
                + CAST(g.g2 AS HUGEINT) * r.r2
                + CAST(g.g3 AS HUGEINT) * r.r3
                + CAST(g.g4 AS HUGEINT) * r.r4) AS dot
        FROM gdoc g CROSS JOIN r{t - 1} r
        WHERE TRUE {excl}
        ORDER BY dot DESC, g.doc_id ASC
        LIMIT 1
    ),
    r{t} AS MATERIALIZED (
        SELECT r.r1 - m.m * s.g1 AS r1,
               r.r2 - m.m * s.g2 AS r2,
               r.r3 - m.m * s.g3 AS r3,
               r.r4 - m.m * s.g4 AS r4
        FROM r{t - 1} r CROSS JOIN s{t} s CROSS JOIN mm m
    )""")
    rows = " UNION ALL ".join(
        f"SELECT {t} AS rnd, s.doc_id,"
        f" CAST(s.dot // {qs} AS BIGINT) AS dot_scaled,"
        f" CAST((CAST(r.r1 AS HUGEINT) * r.r1 + CAST(r.r2 AS HUGEINT) * r.r2"
        f"       + CAST(r.r3 AS HUGEINT) * r.r3"
        f"       + CAST(r.r4 AS HUGEINT) * r.r4) // {qs} AS BIGINT)"
        f"     AS resid_norm2_scaled"
        f" FROM s{t} s CROSS JOIN r{t} r"
        for t in range(1, _GM_K + 1)
    )
    return f"""
    WITH {_qc_obs_sql(with_id=True)},
    gdoc AS MATERIALIZED (
        SELECT doc_id,
               CAST(round((0.5 - y) * xa[1] * {qs}) AS BIGINT) AS g1,
               CAST(round((0.5 - y) * xa[2] * {qs}) AS BIGINT) AS g2,
               CAST(round((0.5 - y) * xa[3] * {qs}) AS BIGINT) AS g3,
               CAST(round((0.5 - y) * xa[4] * {qs}) AS BIGINT) AS g4
        FROM obs
    ),
    mm AS (SELECT count(*) // {_GM_K} AS m FROM gdoc),
    r0 AS MATERIALIZED (
        SELECT sum(g1) AS r1, sum(g2) AS r2, sum(g3) AS r3, sum(g4) AS r4
        FROM gdoc
    ),
    n0 AS (
        SELECT CAST((CAST(r1 AS HUGEINT) * r1 + CAST(r2 AS HUGEINT) * r2
                     + CAST(r3 AS HUGEINT) * r3 + CAST(r4 AS HUGEINT) * r4)
                    // {qs} AS BIGINT) AS full_norm2
        FROM r0
    ),
    {",".join(steps)}
    SELECT CAST(x.rnd AS BIGINT) AS rnd, x.doc_id, x.dot_scaled,
           x.resid_norm2_scaled, n0.full_norm2
    FROM ({rows}) x CROSS JOIN n0
    ORDER BY rnd
    """


@query(
    "q463_gradient_matching_selection",
    oracle=_gm_oracle_sql(),
    tags=("llm", "training", "data-selection", "coreset", "curation"),
)
def q463_gradient_matching_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gradient-matching DATA SELECTION (CRAIG / GradMatch style) —
    the curation family's optimization-aware selector: q432 picks a
    geometric k-center coreset, q363 a value-per-token knapsack; this
    greedily picks the {_GM_K} documents whose SCALED gradient sum
    best matches the full-corpus gradient at the shared classifier's
    init (matching pursuit: each round takes the doc with the largest
    exact-integer dot product against the current residual, then
    subtracts m·g_doc with m = n div {_GM_K}). Released per round:
    the pick, its matching dot product, the residual norm²
    trajectory, and the full-gradient norm² — training on the
    selection approximates training on the corpus to the released
    residual.

    Determinism: per-example gradients quantize to 1e-6 BIGINTs at
    the deterministic init (z = 0 → p = 0.5 exactly — no libm
    anywhere); dots and norms are exact HUGEINT/decimal(38,0)
    cross-products (r² exceeds int64 — the q390 widening rule),
    released floor-scaled by 1e6; argmax ties break on doc_id.

    Scale posture: ONE corpus scan builds the per-doc gradient frame
    (persisted, doc grain); each greedy round is a TakeOrdered(1)
    over it with the 4-cell residual as broadcast literals — the
    residual is parameter-server state (the q433 rule), and the
    round count is the constant k. Reference contract: per-doc
    gradient = map slot (``App.config:16``); greedy matching = reduce
    slot (``App.config:17``, ``Program.cs:351-384``)."""
    qs = _QC_QSCALE
    obs = _qc_obs_shared(spark, sf_dir, with_id=True)
    gdoc = obs.select(
        "doc_id",
        *[
            F.round(
                (F.lit(0.5) - F.col("y"))
                * F.element_at("xa", d)
                * qs
            )
            .cast("long")
            .alias(f"g{d}")
            for d in range(1, 5)
        ],
    ).persist()
    tot = gdoc.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"g{d}").alias(f"r{d}") for d in range(1, 5)],
    ).collect()[0]
    n = int(tot["n"])
    m = n // _GM_K
    r = [int(tot[f"r{d}"]) for d in range(1, 5)]
    full_norm2 = sum(v * v for v in r) // qs
    picked: list = []
    out: list = []
    for t in range(1, _GM_K + 1):
        dot = sum(
            F.col(f"g{d}").cast("decimal(38,0)") * F.lit(r[d - 1]).cast("decimal(38,0)")
            for d in range(1, 5)
        )
        cand = gdoc
        if picked:
            cand = cand.where(~F.col("doc_id").isin(*picked))
        row = (
            cand.select("doc_id", "g1", "g2", "g3", "g4", dot.alias("dot"))
            .orderBy(F.desc("dot"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )[0]
        picked.append(int(row["doc_id"]))
        r = [r[d - 1] - m * int(row[f"g{d}"]) for d in range(1, 5)]
        # DuckDB `//` truncates toward zero; Python `//` floors. The dot
        # is positive at current fixture SFs, but a negative max dot not
        # divisible by qs would diverge by 1 cross-engine — release with
        # the signed truncating idiom (the ranks.py floor-vs-truncate
        # rule; norm² terms are nonnegative so plain // is exact there).
        dot_val = int(row["dot"])
        dot_scaled = dot_val // qs if dot_val >= 0 else -((-dot_val) // qs)
        out.append(
            (
                t,
                int(row["doc_id"]),
                dot_scaled,
                sum(v * v for v in r) // qs,
                full_norm2,
            )
        )
    gdoc.unpersist()
    return spark.createDataFrame(
        out,
        "rnd long, doc_id long, dot_scaled long,"
        " resid_norm2_scaled long, full_norm2 long",
    ).orderBy("rnd")


# --- q468: out-of-fold target encoding (leakage-safe features) -------------

_TE_FOLDS = 3


@query(
    "q468_out_of_fold_target_encoding",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN n_chars > {_QC_THRESH} THEN 1 ELSE 0 END AS y,
               doc_id % {_TE_FOLDS} AS fold
        FROM documents
    ),
    per_lang AS (
        SELECT lang, count(*) AS n_lang, sum(y) AS y_lang FROM d GROUP BY 1
    ),
    per_cell AS (
        SELECT lang, fold, count(*) AS n_cell, sum(y) AS y_cell
        FROM d GROUP BY 1, 2
    )
    SELECT c.lang, CAST(c.fold AS INTEGER) AS fold,
           CAST(c.n_cell AS BIGINT) AS n_docs,
           CAST(l.n_lang - c.n_cell AS BIGINT) AS oof_n,
           CAST(l.y_lang - c.y_cell AS BIGINT) AS oof_pos,
           CASE WHEN l.n_lang = c.n_cell THEN NULL
                ELSE ((2 * (l.y_lang - c.y_cell) * 1000000
                       + (l.n_lang - c.n_cell))
                      // (2 * (l.n_lang - c.n_cell))) / 1000000.0
           END AS oof_encoding,
           ((2 * l.y_lang * 1000000 + l.n_lang) // (2 * l.n_lang))
               / 1000000.0 AS naive_encoding
    FROM per_cell c JOIN per_lang l USING (lang)
    ORDER BY c.lang, c.fold
    """,
    tags=("features", "target-encoding", "leakage", "folds", "curation"),
)
def q468_out_of_fold_target_encoding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OUT-OF-FOLD target encoding — the leakage-safe feature-
    engineering operator (q222 pins the fit-transform split for
    discretization; q441 holds folds out for EVALUATION; this holds
    them out for FEATURE CONSTRUCTION): the mean-target encoding of a
    categorical column (lang) computed, for each fold, over the OTHER
    folds only — the standard defense against target leakage, where a
    category's encoding would otherwise carry each row's own label
    into training. Released per (lang, fold): fold size, out-of-fold
    support and positive count, the OOF encoding, and the naive
    full-data encoding beside it — the leakage audit is the released
    DIFFERENCE (the naive column includes the fold's own labels; the
    OOF one provably cannot).

    Determinism: the label is the exact q433 threshold rule; folds
    are doc_id % {_TE_FOLDS}; the OOF totals are per-category totals
    MINUS per-cell totals (one identity, no per-row anti-joins);
    encodings use the half-up idiom on exact integer ratios.

    Scale posture: two partial+final aggregates to (lang) and
    (lang, fold) grain — both bounded — and a broadcast join between
    them; the subtraction identity means the corpus is scanned ONCE,
    never once per fold. Reference contract: per-doc labeling = map
    slot (``App.config:16``); encoding tables = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    d = docs.select(
        "lang",
        (F.col("doc_id") % _TE_FOLDS).cast("int").alias("fold"),
        F.when(F.col("n_chars") > _QC_THRESH, 1).otherwise(0).alias("y"),
    )
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lang"), F.sum("y").alias("y_lang")
    )
    per_cell = d.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_cell"), F.sum("y").alias("y_cell")
    )
    return (
        per_cell.join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "fold",
            F.col("n_cell").cast("long").alias("n_docs"),
            (F.col("n_lang") - F.col("n_cell")).cast("long").alias("oof_n"),
            (F.col("y_lang") - F.col("y_cell"))
            .cast("long")
            .alias("oof_pos"),
            # Degenerate-cell guard (the q451 discipline): a lang whose
            # docs all share one fold has no out-of-fold support —
            # release NULL on both engines, never divide by zero.
            F.when(
                F.col("n_lang") == F.col("n_cell"), F.lit(None)
            )
            .otherwise(
                half_up_ratio(
                    F.col("y_lang") - F.col("y_cell"),
                    F.col("n_lang") - F.col("n_cell"),
                    6,
                )
            )
            .alias("oof_encoding"),
            half_up_ratio(F.col("y_lang"), F.col("n_lang"), 6).alias(
                "naive_encoding"
            ),
        )
        .orderBy("lang", "fold")
    )


# --- q473: federated averaging (FedAvg) round ------------------------------

_FED_SHARDS = 4
_FED_LOCAL_STEPS = 2


def _fed_oracle_sql() -> str:
    qs = _QC_QSCALE
    shard_ctes = []
    for k in range(_FED_SHARDS):
        shard_ctes.append(
            f"f{k}_w0 AS (SELECT list_transform({_QC_DIMS},"
            f" i -> CAST(0.0 AS DOUBLE)) AS wl)"
        )
        shard_ctes.append(
            _qc_steps_sql(
                n_steps=_FED_LOCAL_STEPS,
                prefix=f"f{k}_",
                filt=f" WHERE doc_id % {_FED_SHARDS} = {k}",
            )
        )
        # Post-local-training accuracy on the shard's own data.
        shard_ctes.append(f"""
    f{k}_fin AS MATERIALIZED (
        SELECT sum(CASE WHEN ({_QC_ZFOLD} > 0) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS n_correct,
               count(*) AS n
        FROM obs CROSS JOIN f{k}_w{_FED_LOCAL_STEPS} w
        WHERE doc_id % {_FED_SHARDS} = {k}
    )""")
    # Sample-weighted average in a FIXED left-associative IEEE order
    # (shard 0 first) — the Spark side mirrors the same sequence.
    num = "CAST(f0_fin.n AS DOUBLE) * f0_w.wl[i]"
    den = "f0_fin.n"
    for k in range(1, _FED_SHARDS):
        num = f"({num} + f{k}_fin.n * f{k}_w.wl[i])"
        den = f"{den} + f{k}_fin.n"
    favg_from = " CROSS JOIN ".join(
        f"f{k}_w{_FED_LOCAL_STEPS} f{k}_w" for k in range(_FED_SHARDS)
    ) + " CROSS JOIN " + " CROSS JOIN ".join(
        f"f{k}_fin" for k in range(_FED_SHARDS)
    )
    shard_rows = " UNION ALL ".join(
        f"SELECT 'shard_acc' AS item, {k} AS idx,"
        f" ((2 * n_correct * {qs} + n) // (2 * n)) / 1000000.0 AS value"
        f" FROM f{k}_fin"
        f" UNION ALL SELECT 'shard_n', {k}, CAST(n AS DOUBLE)"
        f" FROM f{k}_fin"
        for k in range(_FED_SHARDS)
    )
    return f"""
    WITH {_qc_obs_sql(with_id=True)},
    {",".join(shard_ctes)},
    favg AS MATERIALIZED (
        SELECT list_transform({_QC_DIMS},
            i -> {num} / CAST({den} AS DOUBLE)) AS wl
        FROM {favg_from}
    ),
    gfin AS MATERIALIZED (
        SELECT sum(CASE WHEN ({_QC_ZFOLD} > 0) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS n_correct,
               count(*) AS n
        FROM obs CROSS JOIN favg w
    )
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {shard_rows}
        UNION ALL
        SELECT 'avg_acc', 0,
               ((2 * n_correct * {qs} + n) // (2 * n)) / 1000000.0
        FROM gfin
        UNION ALL
        SELECT 'w_avg', s.dim, round(s.wv, 6) + 0.0
        FROM (
            SELECT unnest(list_transform({_QC_DIMS},
                i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
            FROM favg w
        )
    ) ORDER BY item, idx
    """


@query(
    "q473_federated_averaging_round",
    oracle=_fed_oracle_sql(),
    tags=("llm", "training", "federated", "fedavg", "distributed",
          "curation"),
)
def q473_federated_averaging_round(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One FEDERATED-AVERAGING round (McMahan et al. 2017) over the
    shared quality classifier — the communication-efficient member of
    the training family (q433 trains centrally every step; q459 adds
    momentum; this trains {_FED_SHARDS} disjoint shards LOCALLY for
    {_FED_LOCAL_STEPS} steps each and synchronizes ONCE by
    sample-weighted model averaging — the data-parallel regime where
    gradients are too expensive to ship every step). Released: each
    shard's size and post-local-training accuracy on its own data,
    the averaged model's global accuracy, and the averaged weights —
    at the fixtures the averaged model's global accuracy lands in the
    high-90s (probed), the FedAvg claim on IID shards.

    Determinism: shards are doc_id % {_FED_SHARDS} (data-derived);
    every local step is the exact q433 arithmetic (quantized BIGINT
    gradient sums, shared-sequence weight update — ONE definition via
    ``_qc_steps_sql``); the weighted average runs in a FIXED
    left-associative IEEE order mirrored on both engines; accuracies
    release via the half-up idiom, weights via round_nz.

    Scale posture: per local step ONE filtered corpus scan shuffling
    4 integer cells per shard; the sync ships {_FED_SHARDS} 4-double
    vectors — parameter-server grain (the q433 rule). At 100 TB this
    is the shape that beats per-step synchronization: local compute
    scales with executors, the average is O(shards·dims) on the
    driver. Reference contract: shard training = map slots
    (``App.config:16``); the weighted average + global eval = reduce
    slot (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir, with_id=True)
    # Fused shard training (r15, guide §2.4): the shards are DISJOINT
    # doc_id slices training INDEPENDENT models, so each local step's
    # four per-shard scans fuse into one conditional-aggregate scan,
    # and the four post-training shard evaluations fuse with the
    # global averaged-model evaluation into one more. 13 jobs -> 3;
    # per-row arithmetic, update sequence and the fixed
    # left-associative weighted average are bit-identical.
    shard_inc = {
        k: f"(doc_id % {_FED_SHARDS}) = {k}" for k in range(_FED_SHARDS)
    }
    ws = {k: [0.0] * 4 for k in range(_FED_SHARDS)}
    shard_n = {}
    for _step in range(_FED_LOCAL_STEPS):
        g = _qc_multi_step(
            obs,
            [
                {"name": k, "w": ws[k], "inc_sql": shard_inc[k]}
                for k in range(_FED_SHARDS)
            ],
        )
        ws = {
            k: _qc_update(ws[k], g[k]["gq"], g[k]["n"])
            for k in range(_FED_SHARDS)
        }
        shard_n = {k: g[k]["n"] for k in range(_FED_SHARDS)}
    shard_w = [ws[k] for k in range(_FED_SHARDS)]
    # Mirror the oracle's fixed left-associative weighted average (the
    # shard sizes are already known from the step scans — same exact
    # integers the eval scan re-counts).
    w_avg = []
    for i in range(4):
        num = float(shard_n[0]) * shard_w[0][i]
        den = shard_n[0]
        for k in range(1, _FED_SHARDS):
            num = num + shard_n[k] * shard_w[k][i]
            den = den + shard_n[k]
        w_avg.append(num / float(den))
    ev = _qc_multi_step(
        obs,
        [
            {"name": k, "w": ws[k], "inc_sql": shard_inc[k]}
            for k in range(_FED_SHARDS)
        ]
        + [{"name": "g", "w": w_avg}],
        with_grads=False,
    )
    shard_stats = [
        (ev[k]["nc"], ev[k]["n"]) for k in range(_FED_SHARDS)
    ]
    gfin = {"n_correct": ev["g"]["nc"], "n": ev["g"]["n"]}

    rows = []
    for k, (nc, n) in enumerate(shard_stats):
        rows.append(("shard_acc", k, _hup(nc, n)))
        rows.append(("shard_n", k, float(n)))
    rows.append(("avg_acc", 0, _hup(int(gfin["n_correct"]), int(gfin["n"]))))
    out = spark.createDataFrame(
        rows, "item string, idx int, value double"
    )
    wrows = spark.createDataFrame(
        [(i + 1, w_avg[i]) for i in range(4)], "idx int, wv double"
    ).select(
        F.lit("w_avg").alias("item"),
        "idx",
        round_nz(F.col("wv"), 6).alias("value"),
    )
    return out.unionByName(wrows).orderBy("item", "idx")


# --- q474: Polyak/SWA tail-averaged iterate --------------------------------

_SWA_STEPS = 4
_SWA_TAIL = 3  # average the last 3 iterates


def _swa_oracle_sql() -> str:
    qs = _QC_QSCALE
    first = _SWA_STEPS - _SWA_TAIL + 1
    num = f"w{first}.wl[i]"
    for k in range(first + 1, _SWA_STEPS + 1):
        num = f"({num} + w{k}.wl[i])"
    tail_from = " CROSS JOIN ".join(
        f"w{k} w{k}" for k in range(first, _SWA_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql()},
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE))
               AS wl),
    {_qc_steps_sql(n_steps=_SWA_STEPS)},
    swa AS MATERIALIZED (
        SELECT list_transform({_QC_DIMS},
            i -> {num} / CAST({_SWA_TAIL} AS DOUBLE)) AS wl
        FROM {tail_from}
    ),
    fin_last AS MATERIALIZED (
        SELECT sum(CASE WHEN ({_QC_ZFOLD} > 0) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS n_correct, count(*) AS n
        FROM obs CROSS JOIN w{_SWA_STEPS} w
    ),
    fin_swa AS MATERIALIZED (
        SELECT sum(CASE WHEN ({_QC_ZFOLD} > 0) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS n_correct, count(*) AS n
        FROM obs CROSS JOIN swa w
    )
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        SELECT 'acc_final' AS item, 0 AS idx,
               ((2 * n_correct * {qs} + n) // (2 * n)) / 1000000.0 AS value
        FROM fin_last
        UNION ALL
        SELECT 'acc_swa', 0,
               ((2 * n_correct * {qs} + n) // (2 * n)) / 1000000.0
        FROM fin_swa
        UNION ALL
        SELECT 'w_final', s.dim, round(s.wv, 6) + 0.0
        FROM (SELECT unnest(list_transform({_QC_DIMS},
                  i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
              FROM w{_SWA_STEPS} w)
        UNION ALL
        SELECT 'w_swa', s.dim, round(s.wv, 6) + 0.0
        FROM (SELECT unnest(list_transform({_QC_DIMS},
                  i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
              FROM swa w)
    ) ORDER BY item, idx
    """


@query(
    "q474_polyak_tail_averaging",
    oracle=_swa_oracle_sql(),
    tags=("llm", "training", "averaging", "swa", "polyak", "curation"),
)
def q474_polyak_tail_averaging(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Polyak / stochastic-weight-averaging TAIL AVERAGE of the GD
    trajectory — the checkpoint-averaging member of the optimizer
    family (q433 releases the last iterate; q459 smooths the STEP
    with momentum; this smooths the ITERATE: the released model is
    the mean of the last {_SWA_TAIL} of {_SWA_STEPS} iterates, the
    SWA/EMA idiom every large-model trainer ships). Released: global
    accuracy of the final iterate vs the tail average, and both
    weight vectors — the averaged model trades none of the fixture
    accuracy (probed) while damping the oscillating length dimension,
    which is the method's claim.

    Determinism: the weight path is the exact q433 arithmetic (ONE
    definition via ``_qc_steps_sql``); the tail mean is a fixed
    left-associative 3-term sum / 3.0 mirrored on both engines;
    accuracies half-up, weights round_nz.

    Scale posture: the {_SWA_STEPS}-step trajectory is the q433 loop
    (one fused corpus scan per step, 4-cell shuffles); averaging is
    O(dims) driver work; the two accuracy passes are one corpus scan
    each. Checkpoint averaging at 100 TB is exactly this: model-grain
    state ops, zero extra data passes beyond the final evals.
    Reference contract: per-example gradient = map slot
    (``App.config:16``); iterate average + eval = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir)
    # Session-shared default path, extended to 4 steps (r15): steps
    # 1-3 come from the cache when a sibling already trained them;
    # the two accuracy passes fuse into ONE scan (both weight vectors
    # are known — the counts are independent exact-integer aggregates).
    path, _accs, _n = _qc_train_shared_path(
        spark, sf_dir, n_steps=_SWA_STEPS
    )
    w_last = path[-1]
    tail = path[_SWA_STEPS - _SWA_TAIL:]
    w_swa = []
    for i in range(4):
        num = tail[0][i]
        for t in tail[1:]:
            num = num + t[i]
        w_swa.append(num / float(_SWA_TAIL))

    ev = _qc_multi_step(
        obs,
        [
            {"name": "last", "w": w_last},
            {"name": "swa", "w": w_swa},
        ],
        with_grads=False,
    )
    nc_l, n_l = ev["last"]["nc"], ev["last"]["n"]
    nc_s, n_s = ev["swa"]["nc"], ev["swa"]["n"]

    out = spark.createDataFrame(
        [
            ("acc_final", 0, _hup(nc_l, n_l)),
            ("acc_swa", 0, _hup(nc_s, n_s)),
        ],
        "item string, idx int, value double",
    )
    wrows = spark.createDataFrame(
        [("w_final", i + 1, w_last[i]) for i in range(4)]
        + [("w_swa", i + 1, w_swa[i]) for i in range(4)],
        "item string, idx int, wv double",
    ).select("item", "idx", round_nz(F.col("wv"), 6).alias("value"))
    return out.unionByName(wrows).orderBy("item", "idx")


# --- q475: learning-rate schedule (warmup -> decay) ------------------------

# Exact dyadic binary64 literals (the q462 literal rule): 2 warmup
# steps toward the q433 base rate 0.5, then dyadic decay.
_LRS_SCHED = [0.25, 0.5, 0.375, 0.25]


def _lrs_oracle_sql() -> str:
    qs = _QC_QSCALE
    k = len(_LRS_SCHED)
    acc_rows = " UNION ALL ".join(
        f"SELECT 'acc' AS item, {j} AS idx,"
        f" ((2 * n_correct * {qs} + n) // (2 * n)) / 1000000.0 AS value"
        f" FROM w{j}"
        for j in range(1, k + 1)
    )
    lr_rows = " UNION ALL ".join(
        f"SELECT 'lr', {j}, CAST({_LRS_SCHED[j - 1]} AS DOUBLE)"
        for j in range(1, k + 1)
    )
    return f"""
    WITH {_qc_obs_sql()},
    w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE))
               AS wl),
    {_qc_steps_sql(n_steps=k, lrs=_LRS_SCHED)},
    fin AS MATERIALIZED (
        SELECT sum(CASE WHEN ({_QC_ZFOLD} > 0) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS n_correct, count(*) AS n
        FROM obs CROSS JOIN w{k} w
    )
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {acc_rows}
        UNION ALL
        SELECT 'acc', {k + 1},
               ((2 * n_correct * {qs} + n) // (2 * n)) / 1000000.0
        FROM fin
        UNION ALL
        {lr_rows}
        UNION ALL
        SELECT 'w', s.dim, round(s.wv, 6) + 0.0
        FROM (SELECT unnest(list_transform({_QC_DIMS},
                  i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
              FROM w{k} w)
    ) ORDER BY item, idx
    """


@query(
    "q475_lr_schedule_training",
    oracle=_lrs_oracle_sql(),
    tags=("llm", "training", "schedule", "warmup", "curation"),
)
def q475_lr_schedule_training(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Learning-rate SCHEDULED training (linear warmup → decay) —
    the schedule member of the optimizer family (q433 trains at a
    constant rate, q459 smooths the step with momentum, q474 smooths
    the iterate; this varies THE RATE per step, the warmup-then-decay
    idiom every transformer run ships): {len(_LRS_SCHED)} steps at
    rates {_LRS_SCHED} — half-rate warmup first (the large-batch
    stability trick), peak at the q433 base, then dyadic decay.
    Released: the schedule itself, every step's pre-update accuracy,
    the final accuracy, and the final weights — a wrong schedule
    (skipped warmup, no decay) shifts every released cell.

    Determinism: rates are exact dyadic binary64 literals rendered
    into BOTH engines' step arithmetic (the q462 literal rule); each
    step is the exact q433 quantized-gradient sequence with the
    step's own rate (ONE template, ``_qc_steps_sql(lrs=...)``);
    accuracies half-up, weights round_nz.

    Scale posture: identical to q433 — per step ONE fused corpus
    scan shuffling 4 integer cells; the schedule is driver-side
    metadata. Reference contract: per-example gradient = map slot
    (``App.config:16``); scheduled update = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir)
    k = len(_LRS_SCHED)
    path, accs, _n = _qc_train(obs, n_steps=k, lrs=_LRS_SCHED)
    w_fin = path[-1]
    ev = _qc_multi_step(
        obs, [{"name": 0, "w": w_fin}], with_grads=False
    )[0]
    fin = {"n_correct": ev["nc"], "n": ev["n"]}

    rows = [("acc", j + 1, _hup(nc, n)) for j, (nc, n) in enumerate(accs)]
    rows.append(("acc", k + 1, _hup(int(fin["n_correct"]), int(fin["n"]))))
    rows += [("lr", j + 1, _LRS_SCHED[j]) for j in range(k)]
    out = spark.createDataFrame(rows, "item string, idx int, value double")
    wrows = spark.createDataFrame(
        [(i + 1, w_fin[i]) for i in range(4)], "idx int, wv double"
    ).select(
        F.lit("w").alias("item"), "idx",
        round_nz(F.col("wv"), 6).alias("value"),
    )
    return out.unionByName(wrows).orderBy("item", "idx")


# --- q476: gradient-accumulation equivalence audit -------------------------

_GA_MICRO = 4  # micro-batches, deliberately UNEQUAL (40/30/20/10%
# of doc_id % 10) so the naive mean-of-means contrast is non-vacuous:
# equal buckets make mean-of-means EQUAL the full mean mathematically
# (the q388 vacuous-pass class, probed and avoided).
_GA_CUTS = [(0, 4), (4, 7), (7, 9), (9, 10)]  # [lo, hi) on doc_id % 10


def _ga_oracle_sql() -> str:
    qs = _QC_QSCALE
    micro_ctes = ",".join(
        f"""
    m{b} AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(CAST(round((CAST(0.5 AS DOUBLE) - y) * s.xv * {qs})
                   AS BIGINT)) AS gq,
               count(DISTINCT doc_id) AS n
        FROM (
            SELECT doc_id, y,
                   unnest(list_transform({_QC_DIMS},
                       i -> struct_pack(dim := i, xv := xa[i]))) AS s
            FROM obs WHERE doc_id % 10 >= {_GA_CUTS[b][0]}
                  AND doc_id % 10 < {_GA_CUTS[b][1]}
        )
        GROUP BY s.dim
    )"""
        for b in range(_GA_MICRO)
    )
    acc_num = "CAST(m0.gq AS HUGEINT)"
    mean_num = "CAST(m0.gq AS DOUBLE) / {qs} / m0.n".format(qs=qs)
    for b in range(1, _GA_MICRO):
        acc_num = f"({acc_num} + m{b}.gq)"
        mean_num = f"({mean_num} + CAST(m{b}.gq AS DOUBLE) / {qs} / m{b}.n)"
    micro_from = " CROSS JOIN ".join(
        f"m{b} m{b}" for b in range(_GA_MICRO)
    )
    return f"""
    WITH {_qc_obs_sql(with_id=True)},
    {micro_ctes},
    full_g AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(CAST(round((CAST(0.5 AS DOUBLE) - y) * s.xv * {qs})
                   AS BIGINT)) AS gq,
               count(DISTINCT doc_id) AS n
        FROM (
            SELECT doc_id, y,
                   unnest(list_transform({_QC_DIMS},
                       i -> struct_pack(dim := i, xv := xa[i]))) AS s
            FROM obs
        )
        GROUP BY s.dim
    ),
    acc AS MATERIALIZED (
        SELECT m0.dim AS dim,
               CAST({acc_num} AS BIGINT) AS gq_accum,
               {mean_num} / {_GA_MICRO} AS mean_of_means
        FROM {micro_from}
        WHERE m0.dim = m1.dim AND m1.dim = m2.dim AND m2.dim = m3.dim
    )
    SELECT CAST(f.dim AS INTEGER) AS dim,
           CAST(f.gq AS BIGINT) AS gq_full,
           CAST(a.gq_accum AS BIGINT) AS gq_accum,
           CAST(f.gq - a.gq_accum AS BIGINT) AS accum_error,
           (CASE WHEN f.gq >= 0
                 THEN (2 * f.gq * 1000000 + {qs} * f.n)
                      // (2 * {qs} * f.n)
                 ELSE -((2 * (-f.gq) * 1000000 + {qs} * f.n)
                        // (2 * {qs} * f.n)) END) / 1000000.0
               AS mean_full,
           round(a.mean_of_means, 6) + 0.0 AS mean_of_means,
           round(a.mean_of_means
                 - CAST(f.gq AS DOUBLE) / {qs} / f.n, 6) + 0.0
               AS mean_bias
    FROM full_g f JOIN acc a ON a.dim = f.dim
    ORDER BY dim
    """


@query(
    "q476_gradient_accumulation_audit",
    oracle=_ga_oracle_sql(),
    tags=("llm", "training", "gradient-accumulation", "numerics",
          "curation"),
)
def q476_gradient_accumulation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GRADIENT-ACCUMULATION equivalence audit — the numerics member
    of the training family (q433 quantizes per-example gradients to
    BIGINTs before summing; THIS operator demonstrates the property
    that quantization buys): the init-gradient of the shared
    classifier is computed (a) in one full-batch pass and (b) as
    {_GA_MICRO} accumulated micro-batch partial sums, and the two
    BIGINT paths agree EXACTLY (accum_error = 0 per dimension,
    released on the verified path) — integer sums are associative,
    so gradient accumulation is free. The released CONTRAST is the
    naive float path a framework must avoid: averaging per-micro-
    batch MEANS (mean-of-means) biases the gradient whenever
    micro-batches are unequal — the released mean_bias is the exact
    discrepancy against the true full-batch mean.

    At init z = 0 → σ̃ = 0.5 exactly (the q433/q463 init trick), so
    per-example gradients are (0.5 − y)·x quantized — no libm.

    Determinism: both gradient paths are exact integer arithmetic
    (HUGEINT-widened accumulation, the q390 rule); the float means
    round at 6 with signed-zero normalization (mean_bias can be a
    negative epsilon — the round_nz class).

    Scale posture: the audit is ONE partial+final wide aggregate over
    one corpus scan (r15 — the full-batch and all micro-batch partial
    sums are slice-gated columns of the same aggregate, folded
    driver-free in-plan); at 1000 executors THIS IS the
    map-side-combine argument: quantized integer partials merge in
    any order, shape, or batch size with zero drift. Reference
    contract: per-example gradient = map slot (``App.config:16``);
    accumulation = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir, with_id=True)
    qs = _QC_QSCALE

    # r15: the full-batch gradient and the four micro-batch partial
    # sums all fuse into ONE wide aggregate over one corpus scan
    # (previously 5 posexplode+groupBy(dim) subtrees joined 4 times on
    # dim — Catalyst does not share aggregate subtrees, so the sink
    # re-scanned the frame five times). Slice-gated integer sums over
    # the superset equal per-slice sums exactly; the doc counts keep
    # the original count(DISTINCT ...) form, gated per micro-batch.
    # The released doubles reproduce the same left-associative IEEE
    # sequence the joined form evaluated.
    def g_of(d: int, gate: str | None) -> str:
        g = (
            f"CAST(round(({_qc_dlit(0.5)} - y) * element_at(xa, {d})"
            f" * {qs}) AS BIGINT)"
        )
        return f"sum({g})" if gate is None else f"sum(CASE WHEN {gate} THEN {g} END)"

    gates = [
        f"((doc_id % 10) >= {_GA_CUTS[b][0]}"
        f" AND (doc_id % 10) < {_GA_CUTS[b][1]})"
        for b in range(_GA_MICRO)
    ]
    aggs = []
    for d in range(1, 5):
        aggs.append(f"{g_of(d, None)} AS gq_full_{d}")
        aggs += [
            f"{g_of(d, gates[b])} AS gq{b}_{d}" for b in range(_GA_MICRO)
        ]
    aggs.append("count(DISTINCT doc_id) AS n_full")
    aggs += [
        f"count(DISTINCT CASE WHEN {gates[b]} THEN doc_id END) AS n{b}"
        for b in range(_GA_MICRO)
    ]
    one = obs.agg(*[F.expr(a) for a in aggs])
    cols = []
    for d in range(1, 5):
        acc_expr = F.col(f"gq0_{d}").cast("decimal(38,0)")
        mean_expr = F.col(f"gq0_{d}").cast("double") / qs / F.col("n0")
        for b in range(1, _GA_MICRO):
            acc_expr = acc_expr + F.col(f"gq{b}_{d}")
            mean_expr = mean_expr + F.col(f"gq{b}_{d}").cast(
                "double"
            ) / qs / F.col(f"n{b}")
        mom = mean_expr / _GA_MICRO
        cols += [
            F.col(f"gq_full_{d}").alias(f"gf_{d}"),
            acc_expr.cast("long").alias(f"ga_{d}"),
            (F.col(f"gq_full_{d}") - acc_expr.cast("long")).alias(
                f"ae_{d}"
            ),
            half_up_ratio_signed(
                F.col(f"gq_full_{d}"), F.lit(qs) * F.col("n_full"), 6
            ).alias(f"mf_{d}"),
            round_nz(mom, 6).alias(f"mm_{d}"),
            round_nz(
                mom
                - F.col(f"gq_full_{d}").cast("double")
                / qs
                / F.col("n_full"),
                6,
            ).alias(f"mb_{d}"),
        ]
    stack = "stack(4, {}) AS (dim, gq_full, gq_accum, accum_error, mean_full, mean_of_means, mean_bias)".format(
        ", ".join(
            f"{d}, gf_{d}, ga_{d}, ae_{d}, mf_{d}, mm_{d}, mb_{d}"
            for d in range(1, 5)
        )
    )
    # stack's dim literals are INT, matching the old (pos+1) cast.
    return one.select(*cols).selectExpr(stack).orderBy("dim")


# --- q477: knowledge distillation (teacher -> 2-feature student) ----------

_KD_TEACHER_STEPS = 3
_KD_STUDENT_STEPS = 2
_KD_SDIMS = 2  # student keeps [bias, centered length] only


def _kd_zfold(dims_n: int, xa: str = "xa") -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dims_n}),"
        f" i -> {xa}[i] * w.wl[i])), (a, b) -> a + b)"
    )


def _kd_oracle_sql() -> str:
    qs = _QC_QSCALE
    zt = _kd_zfold(4)
    zs = _kd_zfold(_KD_SDIMS)
    return f"""
    WITH {_qc_obs_sql()},
    t_w0 AS (SELECT list_transform({_QC_DIMS}, i -> CAST(0.0 AS DOUBLE))
                 AS wl),
    {_qc_steps_sql(n_steps=_KD_TEACHER_STEPS, prefix="t_")},
    obs2 AS MATERIALIZED (
        SELECT list_value(xa[1], xa[2]) AS xa,
               CAST(0.5 AS DOUBLE)
                   + z_t / (CAST(2.0 AS DOUBLE)
                            * (CAST(1.0 AS DOUBLE) + abs(z_t))) AS y,
               yhard, z_t
        FROM (
            SELECT xa, y AS yhard, {zt} AS z_t
            FROM obs CROSS JOIN t_w{_KD_TEACHER_STEPS} w
        )
    ),
    s_w0 AS (SELECT list_transform(generate_series(1, {_KD_SDIMS}),
                 i -> CAST(0.0 AS DOUBLE)) AS wl),
    {_qc_steps_sql(n_steps=_KD_STUDENT_STEPS, prefix="s_",
                   obs_name="obs2", dims_n=_KD_SDIMS)},
    ev AS MATERIALIZED (
        SELECT sum(CASE WHEN (z_s > 0) = (yhard = 1.0)
                        THEN 1 ELSE 0 END) AS s_correct,
               sum(CASE WHEN (z_t > 0) = (yhard = 1.0)
                        THEN 1 ELSE 0 END) AS t_correct,
               sum(CASE WHEN (z_s > 0) = (z_t > 0)
                        THEN 1 ELSE 0 END) AS agree,
               count(*) AS n
        FROM (
            SELECT o.yhard, o.z_t, {zs} AS z_s
            FROM obs2 o CROSS JOIN s_w{_KD_STUDENT_STEPS} w
        )
    )
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        SELECT 'acc_teacher' AS item, 0 AS idx,
               ((2 * t_correct * {qs} + n) // (2 * n)) / 1000000.0 AS value
        FROM ev
        UNION ALL
        SELECT 'acc_student', 0,
               ((2 * s_correct * {qs} + n) // (2 * n)) / 1000000.0 FROM ev
        UNION ALL
        SELECT 'agreement', 0,
               ((2 * agree * {qs} + n) // (2 * n)) / 1000000.0 FROM ev
        UNION ALL
        SELECT 'w_student', s.dim, round(s.wv, 6) + 0.0
        FROM (SELECT unnest(list_transform(generate_series(1, {_KD_SDIMS}),
                  i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
              FROM s_w{_KD_STUDENT_STEPS} w)
    ) ORDER BY item, idx
    """


@query(
    "q477_knowledge_distillation",
    oracle=_kd_oracle_sql(),
    tags=("llm", "training", "distillation", "compression", "curation"),
)
def q477_knowledge_distillation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KNOWLEDGE DISTILLATION (Hinton et al. 2015) on the shared
    classifier — the model-compression member of the training family:
    the 4-feature teacher trains {_KD_TEACHER_STEPS} q433 steps on
    hard labels, then a {_KD_SDIMS}-feature STUDENT (bias + centered
    length only) trains {_KD_STUDENT_STEPS} steps against the
    teacher's SOFT targets σ̃(z_t) — the gradient (σ̃(z_s) − p_t)·x
    is the distillation loss's, carrying the teacher's confidence
    into the smaller model instead of 0/1 labels. Released: teacher
    and student accuracy against the true labels, student-teacher
    agreement, and the student weights — the fixture student recovers
    most of the teacher's accuracy from half the features (probed),
    which is distillation's claim.

    Determinism: the teacher path is the exact q433 arithmetic; soft
    targets are the rational fast-sigmoid (no libm) of bit-identical
    folds; student steps reuse the SAME template at dims_n=2 with
    y := soft target (quantized-gradient BIGINT sums); accuracies and
    agreement release half-up, weights round_nz.

    Scale posture: teacher and student are both the q433 loop — one
    fused corpus scan per step, model-grain state; the soft-target
    frame adds ONE column to the scan, never a second pass. At 100 TB
    distillation-from-logits is exactly this shape: the teacher's
    forward pass fuses into the student's gradient scan. Reference
    contract: per-example gradients = map slot (``App.config:16``);
    model updates + eval = reduce slots (``App.config:17``,
    ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir).persist()
    # The teacher IS the shared default path (r15) — same steps, same
    # arithmetic; the student loop below stays query-specific.
    tpath, _taccs, _n = _qc_train_shared_path(
        spark, sf_dir, n_steps=_KD_TEACHER_STEPS
    )
    w_t = tpath[-1]
    zt = _qc_margin(w_t)
    # Two-stage select: z_t must exist before the soft-target
    # expression references it.
    obs2 = (
        obs.select("xa", F.col("y").alias("yhard"), zt.alias("z_t"))
        .select(
            F.array(
                F.element_at("xa", 1), F.element_at("xa", 2)
            ).alias("xa"),
            (
                F.lit(0.5)
                + F.col("z_t")
                / (F.lit(2.0) * (F.lit(1.0) + F.abs(F.col("z_t"))))
            ).alias("y"),
            "yhard",
            "z_t",
        )
        .persist()
    )
    spath, _saccs, _sn = _qc_train(
        obs2, n_steps=_KD_STUDENT_STEPS, dims_n=_KD_SDIMS
    )
    w_s = spath[-1]
    zs = _qc_margin(w_s)
    ev = (
        obs2.select("yhard", "z_t", zs.alias("z_s"))
        .agg(
            F.sum(
                F.when(
                    (F.col("z_s") > 0) == (F.col("yhard") == 1.0), 1
                ).otherwise(0)
            ).alias("s_correct"),
            F.sum(
                F.when(
                    (F.col("z_t") > 0) == (F.col("yhard") == 1.0), 1
                ).otherwise(0)
            ).alias("t_correct"),
            F.sum(
                F.when((F.col("z_s") > 0) == (F.col("z_t") > 0), 1).otherwise(
                    0
                )
            ).alias("agree"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    obs2.unpersist()
    obs.unpersist()

    n = int(ev["n"])
    out = spark.createDataFrame(
        [
            ("acc_teacher", 0, _hup(int(ev["t_correct"]), n)),
            ("acc_student", 0, _hup(int(ev["s_correct"]), n)),
            ("agreement", 0, _hup(int(ev["agree"]), n)),
        ],
        "item string, idx int, value double",
    )
    wrows = spark.createDataFrame(
        [(i + 1, w_s[i]) for i in range(_KD_SDIMS)], "idx int, wv double"
    ).select(
        F.lit("w_student").alias("item"),
        "idx",
        round_nz(F.col("wv"), 6).alias("value"),
    )
    return out.unionByName(wrows).orderBy("item", "idx")


# --- q478: DPO-style preference-pair optimization --------------------------

_DPO_BETA = 2.0  # exact binary64 literal
_DPO_LR = 0.5
_DPO_STEPS = 2
_DPO_DFOLD = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, 4), i -> xd[i] * w.wl[i])),"
    " (a, b) -> a + b)"
)


def _dpo_oracle_sql() -> str:
    qs = _QC_QSCALE
    b, lr = _DPO_BETA, _DPO_LR
    step_tpl = f"""
    g{{k}} AS MATERIALIZED (
        SELECT s.dim AS dim,
               sum(CAST(round(-(CAST(0.5 AS DOUBLE)
                       + nd / (CAST(2.0 AS DOUBLE)
                               * (CAST(1.0 AS DOUBLE) + abs(nd))))
                       * s.xv * {qs}) AS BIGINT)) AS gq,
               sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS n_ranked,
               count(*) AS n
        FROM (
            SELECT e.d, -{b} * e.d AS nd,
                   unnest(list_transform(generate_series(1, 4),
                       i -> struct_pack(dim := i, xv := e.xd[i]))) AS s
            FROM (
                SELECT xd, {_DPO_DFOLD} AS d
                FROM pairs CROSS JOIN w{{p}} w
            ) e
        )
        GROUP BY s.dim
    ),
    w{{k}} AS MATERIALIZED (
        SELECT list(w.wl[g.dim]
                    - {lr} * (CAST(g.gq AS DOUBLE) / {qs} / g.n)
                    ORDER BY g.dim) AS wl,
               max(g.n_ranked) AS n_ranked,
               max(g.n) AS n
        FROM g{{k}} g CROSS JOIN w{{p}} w
    )"""
    steps = ",".join(
        step_tpl.format(k=k, p=k - 1) for k in range(1, _DPO_STEPS + 1)
    )
    acc_rows = " UNION ALL ".join(
        f"SELECT 'rank_acc' AS item, {k} AS idx,"
        f" ((2 * n_ranked * {qs} + n) // (2 * n)) / 1000000.0 AS value"
        f" FROM w{k}"
        for k in range(1, _DPO_STEPS + 1)
    )
    return f"""
    WITH {_qc_obs_sql(with_id=True)},
    pairs AS MATERIALIZED (
        SELECT list_transform(generate_series(1, 4),
                   i -> CASE WHEN a.y = 1.0 THEN a.xa[i] - b.xa[i]
                             ELSE b.xa[i] - a.xa[i] END) AS xd
        FROM obs a JOIN obs b ON b.doc_id = a.doc_id + 1
        WHERE a.y <> b.y
    ),
    w0 AS (SELECT list_transform(generate_series(1, 4),
               i -> CAST(0.0 AS DOUBLE)) AS wl),
    {steps},
    fin AS MATERIALIZED (
        SELECT sum(CASE WHEN {_DPO_DFOLD} > 0 THEN 1 ELSE 0 END)
                   AS n_ranked,
               count(*) AS n
        FROM pairs CROSS JOIN w{_DPO_STEPS} w
    )
    SELECT item, CAST(idx AS INTEGER) AS idx, value FROM (
        {acc_rows}
        UNION ALL
        SELECT 'rank_acc', {_DPO_STEPS + 1},
               ((2 * n_ranked * {qs} + n) // (2 * n)) / 1000000.0 FROM fin
        UNION ALL
        SELECT 'pair_n', 0, CAST(n AS DOUBLE) FROM fin
        UNION ALL
        SELECT 'w', s.dim, round(s.wv, 6) + 0.0
        FROM (SELECT unnest(list_transform(generate_series(1, 4),
                  i -> struct_pack(dim := i, wv := w.wl[i]))) AS s
              FROM w{_DPO_STEPS} w)
    ) ORDER BY item, idx
    """


@query(
    "q478_dpo_preference_step",
    oracle=_dpo_oracle_sql(),
    tags=("llm", "training", "preferences", "dpo", "rlhf", "curation"),
)
def q478_dpo_preference_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DPO-STYLE preference optimization (Rafailov et al. 2023) on
    deterministic preference pairs — the alignment member of the
    training family (q256 fits Bradley-Terry strengths to pairs; this
    OPTIMIZES a model against them, the direct-preference objective
    that replaced the RLHF reward-model loop): adjacent-doc_id pairs
    with opposite quality labels form (chosen, rejected); the loss
    −log σ(β·(s_w(x_c) − s_w(x_r))) differentiates to
    −σ(−β·d)·(x_c − x_r), taken here with the rational fast sigmoid
    (libm-free, the q433 activation) for {_DPO_STEPS} full-batch
    steps at β = {_DPO_BETA}. Released: each step's pre-update
    pairwise ranking accuracy (0 at the zero init — no direction yet
    — then high after one step, probed), the final ranking accuracy,
    the pair count, and the weights.

    Determinism: pairing is an equi-join on doc_id adjacency with an
    exact label-inequality filter (no windows, no sampling);
    per-pair per-dim gradients quantize to BIGINTs; updates are the
    shared q433 arithmetic; accuracies half-up, weights round_nz.

    Scale posture: pair construction is ONE self-equi-join
    co-partitioned on doc_id (shifted key — the q166 adjacency
    idiom); each step is one fused pair scan shuffling 4 integer
    cells; model state is 4 doubles — the q433 parameter-server
    shape on pair grain. Reference contract: per-pair gradient = map
    slot (``App.config:16``); update + ranking eval = reduce slots
    (``App.config:17``, ``Program.cs:351-384``)."""
    obs = _qc_obs_shared(spark, sf_dir, with_id=True)
    a = obs.select(
        F.col("doc_id").alias("id_a"),
        F.col("xa").alias("xa_a"),
        F.col("y").alias("y_a"),
    )
    bb = obs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("xa").alias("xa_b"),
        F.col("y").alias("y_b"),
    )
    pairs = (
        a.join(bb, "id_a")
        .where(F.col("y_a") != F.col("y_b"))
        .select(
            F.when(
                F.col("y_a") == 1.0,
                F.zip_with(
                    "xa_a", "xa_b", lambda c, r: c - r
                ),
            )
            .otherwise(
                F.zip_with("xa_b", "xa_a", lambda c, r: c - r)
            )
            .alias("xd")
        )
        .persist()
    )

    def dfold_sql(w: list) -> str:
        warr = "array({})".format(", ".join(_qc_dlit(v) for v in w))
        return (
            f"aggregate(zip_with(xd, {warr}, (x, wv) -> x * wv), "
            f"{_qc_dlit(0.0)}, (acc, x) -> acc + x)"
        )

    def dpo_step(w: list, with_grads: bool = True) -> dict:
        # r15: one wide aggregate per step (the _qc_multi_step SQL-
        # text discipline on pair grain) — same quantized BIGINT
        # sums, one stage, no per-dim explode/exchange. The fast
        # sigmoid's argument renders as the SAME pre-negated literal
        # the Column build used (Python folds -beta before lit()).
        proj = [f"{dfold_sql(w)} AS d"]
        if with_grads:
            proj += [f"element_at(xd, {d}) AS x{d}" for d in range(1, 5)]
        frame = pairs.selectExpr(*proj)
        aggs = []
        if with_grads:
            nd = f"({_qc_dlit(-_DPO_BETA)} * d)"
            sig = (
                f"({_qc_dlit(0.5)} + {nd} / ({_qc_dlit(2.0)} * "
                f"({_qc_dlit(1.0)} + abs({nd}))))"
            )
            frame = frame.selectExpr("*", f"{sig} AS sig")
            aggs += [
                f"sum(CAST(round(-sig * x{d} * {_QC_QSCALE}) AS BIGINT))"
                f" AS g{d}"
                for d in range(1, 5)
            ]
        aggs.append("sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS n_ranked")
        aggs.append("count(1) AS n")
        return frame.agg(*[F.expr(a) for a in aggs]).collect()[0]

    w = [0.0] * 4
    accs: list = []
    n_pairs = 0
    for _k in range(1, _DPO_STEPS + 1):
        row = dpo_step(w)
        n_pairs = int(row["n"])
        accs.append(int(row["n_ranked"]))
        gq = {d: int(row[f"g{d}"]) for d in range(1, 5)}
        w = [
            w[d - 1] - _DPO_LR * (gq[d] / _QC_QSCALE / n_pairs)
            for d in range(1, 5)
        ]
    fin = dpo_step(w, with_grads=False)
    pairs.unpersist()

    rows_out = [
        ("rank_acc", k + 1, _hup(accs[k], n_pairs))
        for k in range(_DPO_STEPS)
    ]
    rows_out.append(
        (
            "rank_acc",
            _DPO_STEPS + 1,
            _hup(int(fin["n_ranked"]), int(fin["n"])),
        )
    )
    rows_out.append(("pair_n", 0, float(n_pairs)))
    out = spark.createDataFrame(
        rows_out, "item string, idx int, value double"
    )
    wrows = spark.createDataFrame(
        [(i + 1, w[i]) for i in range(4)], "idx int, wv double"
    ).select(
        F.lit("w").alias("item"), "idx",
        round_nz(F.col("wv"), 6).alias("value"),
    )
    return out.unionByName(wrows).orderBy("item", "idx")


# --- q479: MoE top-1 routing load-balance + capacity audit -----------------

_MOE_E = 8           # experts
_MOE_CAP_NUM = 5     # capacity factor 5/4 = 1.25, exact rational
_MOE_CAP_DEN = 4


def _moe_oracle_sql() -> str:
    e = _MOE_E
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT ('0x' || substr(md5(w), 1, 8))::BIGINT % {e} AS expert
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w <> ''
    ),
    loads AS MATERIALIZED (
        SELECT expert, count(*) AS n_tokens FROM toks GROUP BY 1
    ),
    tot AS (
        SELECT sum(n_tokens) AS t,
               -- ceil(1.25 * T / E) in exact integers
               ({_MOE_CAP_NUM} * sum(n_tokens)
                + {_MOE_CAP_DEN} * {e} - 1)
                   // ({_MOE_CAP_DEN} * {e}) AS cap
        FROM loads
    ),
    summary AS (
        SELECT sum(CAST(n_tokens AS HUGEINT) * n_tokens) AS sq FROM loads
    )
    SELECT CAST(l.expert AS INTEGER) AS expert,
           CAST(l.n_tokens AS BIGINT) AS n_tokens,
           ((2 * l.n_tokens * 1000000 + t.t) // (2 * t.t)) / 1000000.0
               AS load_share,
           CAST(t.cap AS BIGINT) AS capacity,
           CAST(greatest(l.n_tokens - t.cap, 0) AS BIGINT) AS n_overflow,
           ((2 * {e} * s.sq * 1000000 + CAST(t.t AS HUGEINT) * t.t)
            // (2 * CAST(t.t AS HUGEINT) * t.t)) / 1000000.0
               AS balance_loss
    FROM loads l CROSS JOIN tot t CROSS JOIN summary s
    ORDER BY expert
    """


@query(
    "q479_moe_routing_capacity_audit",
    oracle=_moe_oracle_sql(),
    tags=("llm", "moe", "routing", "capacity", "load-balance",
          "curation"),
)
def q479_moe_routing_capacity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mixture-of-experts TOP-1 ROUTING audit (Switch Transformer,
    Fedus et al. 2021) — the sharded-compute member of the pipeline
    family: corpus tokens route to {_MOE_E} experts by a
    content-derived hash (the data-engineering skeleton of a learned
    router: deterministic per token, skewed exactly as the token
    distribution is), and the audit releases per expert the load, its
    share, the CAPACITY at factor {_MOE_CAP_NUM}/{_MOE_CAP_DEN}
    (ceil(1.25·T/E), exact integer ceiling), and the OVERFLOW — the
    tokens a capacity-bounded expert would drop, the number that
    decides whether a routing scheme trains or starves. The released
    balance_loss is the Switch aux statistic E·Σ f_e² (= E·Σn_e²/T²,
    its hash-router form where router mass equals realized load): 1.0
    at perfect balance, E at collapse — the fixture lands just above
    1 (probed), hash routing's whole point.

    Determinism: routing is md5-derived (the q437/q441 salted-hash
    idiom, byte-identical cross-engine on identical strings); counts,
    capacity, and overflow are exact integers (the ceiling as
    (a + b − 1) div b); shares and the loss release via the half-up
    idiom with HUGEINT/decimal widening for Σn² · T² (the q390 rule).

    Scale posture: ONE corpus explode + ONE (expert)-keyed
    partial+final aggregate — expert grain is a CONSTANT {_MOE_E}, so
    every released quantity lives at bounded grain; no windows, no
    second pass. At 100 TB this is the audit you run BEFORE buying
    the all-to-all: overflow percentages at expert grain are the
    dispatch plan's cost model. Reference contract: token routing =
    map slot (``App.config:16``); per-expert rollup = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    e = _MOE_E
    toks = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .where(F.col("w") != "")
        .select(
            (hex_int(F.md5(F.col("w")), 1, 8) % e).alias("expert")
        )
    )
    loads = toks.groupBy("expert").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    tot = loads.agg(F.sum("n_tokens").alias("t")).select(
        "t",
        F.floor(
            (
                F.lit(_MOE_CAP_NUM) * F.col("t")
                + F.lit(_MOE_CAP_DEN * e - 1)
            )
            / F.lit(_MOE_CAP_DEN * e)
        )
        .cast("long")
        .alias("cap"),
    )
    summary = loads.agg(
        F.sum(
            F.col("n_tokens").cast("decimal(38,0)") * F.col("n_tokens")
        ).alias("sq")
    )
    return (
        loads.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(summary))
        .select(
            F.col("expert").cast("int").alias("expert"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            half_up_ratio(F.col("n_tokens"), F.col("t"), 6).alias(
                "load_share"
            ),
            F.col("cap").cast("long").alias("capacity"),
            F.greatest(
                F.col("n_tokens") - F.col("cap"), F.lit(0)
            ).cast("long").alias("n_overflow"),
            half_up_ratio(
                F.lit(e) * F.col("sq"),
                F.col("t").cast("decimal(38,0)") * F.col("t"),
                6,
            ).alias("balance_loss"),
        )
        .orderBy("expert")
    )
