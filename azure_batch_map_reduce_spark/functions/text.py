"""Text-analysis operators for an LLM-data pipeline: token counting,
quality scoring, language ID, document fingerprinting.

Everything is built-in expression work (split / transform / aggregate /
regexp) — JVM-side, codegen-friendly, no Python in the row path — so the
same plans run over a 100 TB `documents` corpus. Each query has a DuckDB
oracle; both engines evaluate the *same* deterministic formulas.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.operators.ranks import (
    bounded_order,
    half_up_ratio,
    hex_int,
    rank_small,
    round_nz,
)
from azure_batch_map_reduce_spark.registry import REGISTRY, query
from azure_batch_map_reduce_spark.session import session_store

# Distinct-marker-word language scoring: deterministic, vocabulary-based.
# (The fixture text is synthetic word soup; the point is the operator
# shape — replace marker lists with real frequency tables in production.)
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")


def _words(col: Column) -> Column:
    return F.split(col, " ")


@query(
    "q50_token_stats",
    oracle="""
    SELECT lang,
           count(*)                                                       AS n_docs,
           CAST(sum(length(string_split(text, ' '))) AS BIGINT)           AS total_ws_tokens,
           round(avg(length(string_split(text, ' '))), 2)                 AS avg_ws_tokens,
           CAST(sum(length(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS total_re_tokens,
           CAST(max(length(text)) AS BIGINT)                              AS max_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "tokenize"),
)
def q50_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace split and a BPE-ish regex
    tokenizer — aggregated per language."""
    docs = load_tables(spark, sf_dir)["documents"]
    ws_tokens = F.size(_words(F.col("text")))
    re_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws_tokens).cast("long").alias("total_ws_tokens"),
        F.round(F.avg(ws_tokens), 2).alias("avg_ws_tokens"),
        F.sum(re_tokens).cast("long").alias("total_re_tokens"),
        F.max(F.length("text")).cast("long").alias("max_chars"),
    )


@query(
    "q51_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT)               AS n_chars_actual,
               length(string_split(text, ' '))            AS n_words,
               length(list_intersect(list_distinct(string_split(text, ' ')),
                                     {list(STOPWORDS)}))  AS n_stop
        FROM documents
    )
    SELECT doc_id, lang, source, n_chars_actual,
           CAST(n_words AS BIGINT)                                        AS n_words,
           ((2 * n_chars_actual * 10000 + n_words) // (2 * n_words))
               / 10000.0                                                  AS avg_word_len,
           round(CAST(n_stop AS DOUBLE) / 10, 4)                          AS stopword_coverage,
           round(least(CAST(n_words AS DOUBLE) / 100, 1.0) * 0.5
                 + (CAST(n_stop AS DOUBLE) / 10) * 0.5, 4)                AS quality
    FROM t
    WHERE doc_id < 200
    """,
    tags=("text", "quality"),
)
def q51_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: length, word count, mean word
    length, stopword-list coverage, and a composite [0,1] quality score
    (the filter signal a pretraining pipeline thresholds on)."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = _words(F.col("text"))
    n_words = F.size(words)
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words), F.array(*[F.lit(w) for w in STOPWORDS])
        )
    )
    n_chars_actual = F.length("text").cast("long")
    stop_cov = n_stop.cast("double") / 10
    quality = F.least(n_words.cast("double") / 100, F.lit(1.0)) * 0.5 + stop_cov * 0.5
    return docs.filter(F.col("doc_id") < 200).select(
        "doc_id",
        "lang",
        "source",
        n_chars_actual.alias("n_chars_actual"),
        n_words.cast("long").alias("n_words"),
        half_up_ratio(n_chars_actual, n_words, 4).alias("avg_word_len"),
        F.round(stop_cov, 4).alias("stopword_coverage"),
        F.round(quality, 4).alias("quality"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = list(LANG_MARKERS[lang])
    return (
        f"length(list_intersect(list_distinct(string_split(text, ' ')), {markers}))"
    )


@query(
    "q52_langid",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang AS labeled_lang,
               {_lang_score_sql('en')} AS s_en,
               {_lang_score_sql('de')} AS s_de,
               {_lang_score_sql('fr')} AS s_fr
        FROM documents
    )
    SELECT doc_id, labeled_lang,
           CAST(s_en AS INTEGER) AS s_en,
           CAST(s_de AS INTEGER) AS s_de,
           CAST(s_fr AS INTEGER) AS s_fr,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
                WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS detected_lang
    FROM s
    """,
    tags=("text", "langid"),
)
def q52_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score the document's distinct-word set
    against per-language marker vocabularies, argmax with a fixed
    tie-break order. Pure set intersection — no model, no UDF."""
    docs = load_tables(spark, sf_dir)["documents"]
    dwords = F.array_distinct(_words(F.col("text")))

    def score(lang: str) -> Column:
        return F.size(
            F.array_intersect(dwords, F.array(*[F.lit(w) for w in LANG_MARKERS[lang]]))
        )

    s_en, s_de, s_fr = score("en"), score("de"), score("fr")
    detected = (
        F.when((s_en == 0) & (s_de == 0) & (s_fr == 0), "unknown")
        .when((s_en >= s_de) & (s_en >= s_fr), "en")
        .when(s_de >= s_fr, "de")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        s_en.alias("s_en"),
        s_de.alias("s_de"),
        s_fr.alias("s_fr"),
        detected.alias("detected_lang"),
    )


@query(
    "q53_fingerprint",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    )
    SELECT doc_id,
           sha256(array_to_string(words, ' '))        AS full_sha,
           list_aggregate(
               list_transform(generate_series(1, length(words) - 2),
                              i -> sha256(concat_ws(' ', words[i], words[i+1], words[i+2]))),
               'min')                                  AS min_shingle_sha
    FROM w
    WHERE doc_id < 100
    """,
    tags=("text", "fingerprint"),
)
def q53_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content sha plus a min-hash over
    word-trigram shingles (the 1-permutation MinHash sketch) — detects
    near-identical documents that differ in a few words."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = _words(F.col("text"))
    shingle_shas = F.transform(
        F.sequence(F.lit(1), F.size(words) - 2),
        lambda i: F.sha2(
            F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
            256,
        ),
    )
    return docs.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.sha2(F.array_join(words, " "), 256).alias("full_sha"),
        F.array_min(shingle_shas).alias("min_shingle_sha"),
    )


@query(
    "q55_deterministic_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*)             AS n_docs,
           count(DISTINCT lang) AS n_langs
    FROM assigned
    GROUP BY 1
    """,
    tags=("text", "sampling", "split"),
)
def q55_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split keyed on a content-
    independent stable id hash (md5 of doc_id) — the reproducible-split
    requirement of every training pipeline: re-running over re-
    partitioned, re-ordered, or incrementally-grown data never moves a
    document between splits (``rand()`` would). The md5 arithmetic is
    engine-neutral, so the oracle replays the assignment EXACTLY —
    stronger than a statistical check."""
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")), 1, 8) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
    )


@query(
    "q56_stratified_sample",
    oracle="""
    SELECT lang, TRUE AS frac_ok
    FROM documents
    GROUP BY lang
    HAVING count(*) >= 20
    """,
    tags=("text", "sampling", "stratified"),
)
def q56_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (``sampleBy``, seeded): 30% per language —
    the class-balancing primitive for training-set construction. Spark's
    sampler is engine-internal, so exact rows aren't SQL-replayable; the
    check is statistical and self-verifying: each stratum's realized
    fraction must land in a wide Chernoff-safe band around 0.3. Only
    strata with ≥20 docs are asserted (tiny strata are all noise);
    sampling is one pass, no shuffle, and composes with any downstream
    operator."""
    docs = load_tables(spark, sf_dir)["documents"]
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    sampled = docs.sampleBy("lang", {l: 0.3 for l in langs}, seed=42)
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    got = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))
    return (
        totals.join(got, "lang", "left")
        .filter(F.col("n_total") >= 20)
        .select(
            "lang",
            (
                (F.coalesce(F.col("n_sampled"), F.lit(0)) / F.col("n_total"))
                .between(0.10, 0.50)
            ).alias("frac_ok"),
        )
    )


@query(
    "q78_tfidf_keywords",
    oracle="""
    WITH words AS (
        SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
        SELECT source, word, count(*) AS tf
        FROM words GROUP BY source, word
    ),
    df AS (
        SELECT word, count(DISTINCT source) AS df FROM words GROUP BY word
    ),
    n AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
    scored AS (
        SELECT t.source, t.word,
               round(t.tf * ln(CAST(n.n_sources AS DOUBLE) / d.df), 6) AS score
        FROM tf t JOIN df d USING (word) CROSS JOIN n
    ),
    ranked AS (
        SELECT source, word, score,
               row_number() OVER (PARTITION BY source
                                  ORDER BY score DESC, word ASC) AS rn
        FROM scored
    )
    SELECT source, word, score, rn FROM ranked WHERE rn <= 3
    """,
    tags=("text", "tfidf", "keywords"),
)
def q78_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per source by
    tf·ln(N/df), ties broken lexicographically — the signature/topic
    summarization step of corpus curation (what does each crawl source
    actually contain?). Term frequencies and document frequencies are
    two partial+final aggregations over the exploded words; the df table
    is words-sized (vocabulary, small) and broadcast back onto tf; the
    final top-k is a per-source window. At 100 TB the vocabulary join
    stays a broadcast (vocab ≪ corpus) and the explode never
    materializes — it streams through the partial aggregation."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = words.groupBy("word").agg(F.count_distinct("source").alias("df"))
    n = docs.agg(F.count_distinct("source").alias("n_sources"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_sources").cast("double") / F.col("df")), 6
            ).alias("score"),
        )
    )
    win = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("word"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .select("source", "word", "score", "rn")
    )


# BM25 parameters (Robertson/Okapi defaults).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("data", "model", "training")


def _bm25_oracle() -> str:
    """BM25 scoring in ANSI/DuckDB SQL: same tokenization (lowercase,
    non-alpha split, empties dropped) and the same closed-form score as
    the Spark side, so both engines compute identical doubles."""
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
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS
    )
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
    )
    SELECT d.doc_id, round({score_terms}, 6) AS bm25
    FROM d CROSS JOIN stats
    WHERE {" + ".join(f"d.tf_{t}" for t in _BM25_TERMS)} > 0
    ORDER BY bm25 DESC, d.doc_id ASC
    LIMIT 10
    """


def bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every document matching the fixed query terms
    — the shared scoring core of q107 (sparse retrieval) and q190
    (hybrid RRF fusion). See :func:`q107_bm25_retrieval` for the scale
    posture."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )

    def eq(term):  # 1-arg lambda: a 2-arg signature would mean (elem, index)
        return lambda x: x == F.lit(term)

    # Tokenize ONCE into a named column (the tf/dl expressions would
    # otherwise each re-run split+filter), and persist the narrow
    # (doc_id, dl, tf_*) frame — it feeds both the stats aggregate and
    # the scoring pass, and at any scale it is 5 numbers per doc, tiny
    # next to re-tokenizing the corpus twice.
    # Tiny parquet bin-packs to one partition — fan out so the regex
    # tokenization runs on all cores (same move as q150's shingling).
    toked = docs.repartition(32, "doc_id").select("doc_id", toks.alias("toks"))
    d = toked.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            F.size(F.filter("toks", eq(t))).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    ).persist()
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    idf = {
        t: F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5) + 1
        )
        for t in _BM25_TERMS
    }
    score = None
    for t in _BM25_TERMS:
        tf = F.col(f"tf_{t}")
        part = (
            idf[t]
            * tf
            * (_BM25_K1 + 1)
            / (tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")))
        )
        score = part if score is None else score + part
    any_tf = None
    for t in _BM25_TERMS:
        any_tf = F.col(f"tf_{t}") if any_tf is None else any_tf + F.col(f"tf_{t}")
    return (
        d.crossJoin(F.broadcast(stats))
        .where(any_tf > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
    )


@query(
    "q107_bm25_retrieval",
    oracle=_bm25_oracle(),
    tags=("text", "retrieval", "bm25", "ranking"),
)
def q107_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) lexical retrieval for the fixed query
    {data, model, training}: top-10 documents by score. Complements
    q78's TF-IDF (corpus keywording) and q79's dense retrieval with the
    standard sparse-ranking baseline.

    Scale posture: term frequencies come from `filter()` over the
    token array per fixed query term — map-side higher-order functions,
    no explode/shuffle of tokens. Corpus stats (N, avgdl, per-term df)
    are ONE 1-row aggregate broadcast back; scoring is then pure
    map-side math and the top-10 is TakeOrdered. Two scans of
    `documents` total (stats + score), zero data-sized shuffles.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        bm25_scores(docs)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "q113_token_entropy",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    cnt AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok)
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS token_entropy
    FROM cnt
    GROUP BY source
    """,
    tags=("text", "entropy", "statistics"),
)
def q113_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the unigram distribution per source — the
    corpus-diversity signal (low entropy ⇒ templated/repetitive source,
    a standard pre-training quality filter), plus vocabulary size and
    token count.

    Scale posture: uses the identity H = ln(N) − Σc·ln(c)/N so entropy
    falls out of ONE (source, token) count plus one per-source rollup —
    no join of counts back onto totals and no global pass. The
    (source, token) shuffle is the only data-sized exchange and it
    map-side combines; token explosion stays within the stage that
    consumes it, so nothing token-level is ever persisted.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    cnt = (
        docs.select("source", F.explode(toks).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return cnt.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        n.alias("n_tokens"),
        F.round(
            F.log(n.cast("double")) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            6,
        ).alias("token_entropy"),
    )


@query(
    "q124_vocab_coverage",
    oracle="""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt),
    ranked AS (
        SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rnk
        FROM cnt
        ORDER BY c DESC, tok ASC
        LIMIT 100
    )
    SELECT r.tok, CAST(r.c AS BIGINT) AS freq,
           CAST(r.rnk AS INTEGER) AS rnk,
           round(sum(r.c) OVER (ORDER BY r.rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t.n, 6
           ) AS cum_coverage
    FROM ranked r CROSS JOIN tot t
    """,
    tags=("text", "vocabulary", "coverage"),
)
def q124_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction with coverage audit: the 100 most frequent
    corpus tokens, each with its rank and the cumulative share of all
    token occurrences covered so far — the curve a tokenizer build
    reads to choose vocabulary size (where coverage plateaus).

    Scale posture: one (token) count shuffle with map-side combine,
    TakeOrdered for the top-100, and only THEN a global window — over
    exactly 100 rows, never the corpus. The corpus total rides along as
    a 1-row broadcast cross join.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    cnt = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.agg(F.sum("c").cast("double").alias("n"))
    ranked = (
        cnt.orderBy(F.desc("c"), F.asc("tok"))
        .limit(100)
        .select(
            "tok", "c", F.row_number().over(
                bounded_order(F.desc("c"), F.asc("tok"))
            ).alias("rnk"),
        )
    )
    wcum = bounded_order("rnk").rowsBetween(Window.unboundedPreceding, 0)
    return ranked.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.col("c").cast("long").alias("freq"),
        F.col("rnk").cast("int").alias("rnk"),
        F.round(F.sum("c").over(wcum) / F.col("n"), 6).alias("cum_coverage"),
    )


@query(
    "q135_skipgram_pairs",
    oracle="""
    WITH w AS (
        SELECT string_split(text, ' ') AS ws FROM documents
    ),
    pairs AS (
        SELECT unnest(
            list_concat(
                CASE WHEN len(ws) >= 2 THEN
                    list_transform(range(1, len(ws)), i -> ws[i] || '|' || ws[i + 1])
                ELSE [] END,
                CASE WHEN len(ws) >= 3 THEN
                    list_transform(range(1, len(ws) - 1), i -> ws[i] || '|' || ws[i + 2])
                ELSE [] END
            )
        ) AS pair
        FROM w
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
    """,
    tags=("text", "skipgram", "cooccurrence"),
)
def q135_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (forward offsets 1 and 2): the
    (center|context) pair frequencies that train word embeddings and
    feed PMI collocation mining; top-20 pairs corpus-wide.

    Scale posture: pair generation is per-document array math
    (transform over an index sequence — no self-join of positions, no
    Python), so the only shuffle is the pair-count aggregation, whose
    map-side combine collapses the heavy hitters before the exchange;
    the top-20 is TakeOrdered. Guarded sequences (size checks) avoid
    Spark's descending-sequence footgun on short documents.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    ws = F.split(F.col("text"), " ")

    def offset_pairs(o: int):
        return F.when(
            F.size(ws) >= o + 1,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - o),
                lambda i: F.concat_ws(
                    "|", F.element_at(ws, i), F.element_at(ws, i + F.lit(o))
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    pairs = docs.select(
        F.explode(F.concat(offset_pairs(1), offset_pairs(2))).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@query(
    "q143_bigram_surprisal",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    pos AS (
        SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        FROM w WHERE len(ws) >= 2
    ),
    bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM pos),
    vocab AS (
        SELECT count(DISTINCT u) AS v
        FROM (SELECT unnest(ws) AS u FROM w)
    ),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    scored AS (
        SELECT b.doc_id,
               ln(CAST(c.c1 + v.v AS DOUBLE) / (p.c12 + 1)) / ln(2.0) AS s
        FROM bg b
        JOIN c12 p USING (w1, w2)
        JOIN c1 c USING (w1)
        CROSS JOIN vocab v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(s), 6) AS avg_surprisal
    FROM scored
    GROUP BY doc_id
    ORDER BY avg_surprisal DESC, doc_id ASC
    LIMIT 10
    """,
    tags=("text", "language-model", "surprisal", "quality"),
)
def q143_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model surprisal per document: train add-one-
    smoothed bigram statistics on the corpus itself, then score each
    document's mean −log₂ p(w₂|w₁) — high-surprisal documents read as
    out-of-distribution (gibberish, wrong language, boilerplate-free)
    and this self-scored perplexity proxy is a standard pretraining
    quality filter; top-10 most surprising documents.

    Scale posture: bigram extraction is per-document array math (no
    position self-join); the model tables c(w1) and c(w1,w2) live at
    vocabulary grain — bounded, so both broadcast back onto the bigram
    stream and scoring is map-side. The only big shuffles are the two
    model-count aggregations (map-side combined) and the per-doc
    average. Smoothed probability is one exact-integer division inside
    the log on both engines.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    ws = F.split(F.col("text"), " ")
    pairs = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    vocab = docs.select(F.explode(ws).alias("u")).agg(
        F.countDistinct("u").alias("v")
    )
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        bg.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                F.log((F.col("c1") + F.col("v")).cast("double") / (F.col("c12") + 1))
                / F.log(F.lit(2.0))
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("s"), 6).alias("avg_surprisal"),
        )
        .orderBy(F.desc("avg_surprisal"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "q146_source_vocab_jaccard",
    oracle="""
    WITH sv AS (
        SELECT DISTINCT source, w
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    sizes AS (SELECT source, count(*) AS sz FROM sv GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.sz AS BIGINT) AS vocab_a, CAST(sb.sz AS BIGINT) AS vocab_b,
           ((2 * n_common * 1000000 + (sa.sz + sb.sz - n_common))
                // (2 * (sa.sz + sb.sz - n_common))) / 1000000.0
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    ORDER BY src_a, src_b
    """,
    tags=("text", "similarity", "jaccard", "vocabulary"),
)
def q146_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between document sources: Jaccard
    similarity of the distinct-word sets of every source pair — the
    corpus-composition diagnostic that flags two "different" crawls
    actually drawing from the same text distribution (a dedup /
    data-mix planning signal at corpus grain).

    Scale posture: the corpus collapses to (source, word) grain first —
    bounded by sources × vocabulary — so the pair join runs on the
    reduced set with the word as the join key; set sizes are a
    sources-grain table joined by broadcast. Jaccard is one division
    of exact integers.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    sv = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    sizes = sv.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sv.alias("a"), sv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("vocab_a").cast("long").alias("vocab_a"),
            F.col("vocab_b").cast("long").alias("vocab_b"),
            half_up_ratio(
                F.col("n_common"),
                F.col("vocab_a") + F.col("vocab_b") - F.col("n_common"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


MG_K = 50  # Misra-Gries summary size; guarantees recall of items > n/K


@query(
    "q158_heavy_hitters",
    oracle="""
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
    n AS (SELECT sum(cnt) AS total FROM c)
    SELECT c.tok, CAST(c.cnt AS BIGINT) AS cnt,
           ((2 * c.cnt * 1000000 + n.total) // (2 * n.total)) / 1000000.0
               AS share
    FROM c, n WHERE c.cnt * 50 > n.total
    ORDER BY cnt DESC, tok
    """,
    tags=("text", "sketch", "heavy-hitters", "misra-gries"),
)
def q158_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (tokens with frequency > n/50) via a Misra-Gries
    prefilter + exact verification — the sketch-as-prefilter pattern
    that keeps the oracle exact. Stage 1 builds a bounded MG(50)
    summary per PARTITION in one mapInPandas pass (add counts; when
    more than K counters survive, subtract the (K+1)-th largest from
    all and drop non-positives). Any token with global count > n/K must
    exceed n_p/K in at least one partition (averaging argument) and
    MG(K) provably retains every such local heavy hitter, so the union
    of partial summaries is a guaranteed superset of the answer.
    Stage 2 counts ONLY candidate tokens exactly (broadcast semi-join)
    and applies the integer threshold ``cnt·50 > n``.

    Scale posture: the full token stream is never shuffled — stage 1 is
    map-only with O(K) state per partition, and the exact pass shuffles
    only candidate tokens (≤ K·partitions distinct keys). The oracle
    runs the full groupBy the sketch exists to avoid.
    """
    import pandas as pd
    from collections.abc import Iterator

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))

    def mg_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["tok"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > MG_K:
                vals = sorted(counters.values(), reverse=True)
                sub = vals[MG_K]
                counters = {t: c - sub for t, c in counters.items() if c > sub}
        if counters:
            yield pd.DataFrame(
                {"tok": list(counters), "w": list(counters.values())}
            )

    cands = toks.mapInPandas(mg_partial, "tok string, w long").select(
        "tok"
    ).distinct()
    counts = (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 50 > F.col("total"))
        .select(
            "tok",
            "cnt",
            half_up_ratio(F.col("cnt"), F.col("total"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.col("cnt").desc(), "tok")
    )


@query(
    "q175_pmi_collocations",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bigrams AS (
        SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))])
               AS bg
        FROM words WHERE len(w) >= 2
    ),
    uni AS (
        SELECT unnest(w) AS tok FROM words
    ),
    cxy AS (SELECT bg, count(*) AS c FROM bigrams GROUP BY bg),
    cx AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    n AS (SELECT sum(c) AS nb FROM cxy),
    nu AS (SELECT sum(c) AS nw FROM cx),
    scored AS (
        SELECT cxy.bg, cxy.c AS c_xy, a.c AS c_x, b.c AS c_y,
               round(ln((CAST(cxy.c AS DOUBLE) * nu.nw * nu.nw)
                        / (CAST(n.nb AS DOUBLE) * a.c * b.c)), 6) AS pmi
        FROM cxy
        JOIN cx a ON a.tok = string_split(cxy.bg, ' ')[1]
        JOIN cx b ON b.tok = string_split(cxy.bg, ' ')[2]
        CROSS JOIN n CROSS JOIN nu
        WHERE cxy.c >= 100
    )
    SELECT bg, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(c_x AS BIGINT) AS c_x, CAST(c_y AS BIGINT) AS c_y, pmi
    FROM scored
    ORDER BY pmi DESC, bg
    LIMIT 15
    """,
    tags=("text", "pmi", "collocations", "ngram"),
)
def q175_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information: adjacent
    word pairs scoring ln(P(x,y)/(P(x)P(y))) — with P(x,y)=c_xy/N_bg and
    unigram probabilities over the word stream — surface phrases whose
    parts co-occur far above chance (the phrase-detection pass used
    before vocabulary building in LLM pipelines; q135's skip-grams count
    windows, PMI adds the significance score). Min count 100 guards the
    low-frequency PMI blowup; top-15 ranked on the ROUNDED score so a
    1-ulp libm ``ln`` difference can't flip the cut.

    Scale posture: bigram and unigram counts are two partial+final
    aggregations over exploded token streams; the scoring join hits
    count tables only (vocab-bounded, broadcast), and top-k plans as
    TakeOrderedAndProject — no global sort.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select(F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    bigrams = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("w", i), F.element_at("w", i + 1)
                ),
            )
        ).alias("bg")
    )
    uni = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    cxy = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_xy"))
    cx = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_bg = cxy.agg(F.sum("c_xy").alias("nb"))
    n_w = cx.agg(F.sum("c").alias("nw"))
    scored = (
        cxy.filter(F.col("c_xy") >= 100)
        .withColumn("x", F.split("bg", " ")[0])
        .withColumn("y", F.split("bg", " ")[1])
        .join(
            F.broadcast(cx.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))),
            "x",
        )
        .join(
            F.broadcast(cx.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))),
            "y",
        )
        .crossJoin(F.broadcast(n_bg))
        .crossJoin(F.broadcast(n_w))
        .select(
            "bg",
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("nw") * F.col("nw"))
                    / (F.col("nb").cast("double") * F.col("c_x") * F.col("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "bg").limit(15)


@query(
    "q184_zipf_token_slope",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    freq AS (
        SELECT word, count(*) AS cnt FROM tok WHERE word <> '' GROUP BY word
    ),
    top AS (
        SELECT cnt, word FROM freq ORDER BY cnt DESC, word ASC LIMIT 1000
    ),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word ASC) AS rnk
        FROM top
    ),
    pts AS (
        SELECT ln(CAST(rnk AS DOUBLE)) AS lx, ln(CAST(cnt AS DOUBLE)) AS ly
        FROM ranked
    )
    SELECT CAST(count(*) AS BIGINT)           AS n_points,
           round(regr_slope(ly, lx), 4)       AS zipf_slope,
           round(regr_intercept(ly, lx), 4)   AS zipf_intercept,
           round(regr_r2(ly, lx), 4)          AS r2
    FROM pts
    """,
    tags=("text", "statistics", "zipf", "regression"),
)
def q184_zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency distribution: OLS
    of ln(frequency) against ln(rank) for the top-1000 tokens. A natural
    corpus fits slope ≈ −1; synthetic or templated text (or a tokenizer
    bug) shows up as a flat or kinked slope — a one-row corpus health
    metric curation pipelines watch per snapshot.

    Scale posture: token counting is explode → partial+final count (the
    shuffle carries one row per DISTINCT token, not per token
    occurrence); the top-1000 cut is TakeOrdered (per-partition heaps,
    no global sort of the vocabulary); the ranking window then runs on
    exactly 1000 rows, so its single-partition sort is free at any
    corpus size. ``ln`` feeds only SUMMED regression moments — never a
    ranking key — so libm ulp differences wash out under round(4)
    (contrast the float-key traps noted in the verify skill)."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select(F.explode(F.split("text", " ")).alias("word")).where(
        F.col("word") != ""
    )
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    top = freq.orderBy(F.desc("cnt"), F.asc("word")).limit(1000)
    ranked = top.withColumn(
        "rnk", F.row_number().over(bounded_order(F.desc("cnt"), F.asc("word")))
    )
    pts = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("lx"),
        F.log(F.col("cnt").cast("double")).alias("ly"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.regr_slope("ly", "lx"), 4).alias("zipf_slope"),
        F.round(F.regr_intercept("ly", "lx"), 4).alias("zipf_intercept"),
        F.round(F.regr_r2("ly", "lx"), 4).alias("r2"),
    )


@query(
    "q187_url_domain_mix",
    oracle="""
    WITH seeded AS (
        SELECT source,
               'see https://site' || CAST(doc_id % 40 AS VARCHAR)
                   || CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END
                   || '/page' || CAST(doc_id % 7 AS VARCHAR)
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' and http://mirror' || CAST(doc_id % 11 AS VARCHAR) || '.net/x'
                           ELSE '' END
                   || ' ' || text AS body
        FROM documents
    ),
    urls AS (
        SELECT source,
               unnest(regexp_extract_all(body, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain
        FROM seeded
    )
    SELECT source, domain,
           CAST(count(*) AS BIGINT) AS n_refs,
           CAST(count(DISTINCT domain) OVER (PARTITION BY source) AS BIGINT)
               AS n_domains_in_source
    FROM urls
    GROUP BY source, domain
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY count(*) DESC, domain) <= 5
    ORDER BY source, n_refs DESC, domain
    """,
    tags=("text", "url", "curation", "extraction"),
)
def q187_url_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source URL-domain mix: extract every http(s) URL's domain
    and report each source's top-5 referenced domains plus its domain
    diversity — the provenance-concentration signal a web-corpus
    curator watches (one domain dominating a source flags scraped
    boilerplate). The fixture text carries no URLs, so each document is
    seeded with 1-2 deterministic synthetic URLs derived from doc_id
    (the oracle performs the identical construction) — same pattern as
    q54's PII seeding.

    The regex stays in the RE2 ∩ Java common subset; extraction is
    ``regexp_extract_all`` group 1 on both engines. Scale posture:
    extraction is map-side; the per-(source, domain) count is
    partial+final; top-5 is a per-source window over the AGGREGATED
    frame (|sources|×|domains| rows, corpus-independent)."""
    docs = load_tables(spark, sf_dir)["documents"]
    body = F.concat(
        F.lit("see https://site"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".org")).otherwise(F.lit(".com")),
        F.lit("/page"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" and http://mirror"),
                (F.col("doc_id") % 11).cast("string"),
                F.lit(".net/x"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" "),
        F.col("text"),
    )
    urls = docs.select("source", body.alias("body")).select(
        "source",
        F.explode(
            F.expr(r"regexp_extract_all(body, 'https?://([A-Za-z0-9.-]+)', 1)")
        ).alias("domain"),
    )
    counts = urls.groupBy("source", "domain").agg(
        F.count(F.lit(1)).alias("n_refs")
    )
    w_src = Window.partitionBy("source")
    w_rank = w_src.orderBy(F.desc("n_refs"), F.asc("domain"))
    return (
        counts.withColumn(
            "n_domains_in_source", F.count(F.lit(1)).over(w_src)
        )
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= 5)
        .select(
            "source",
            "domain",
            "n_refs",
            F.col("n_domains_in_source").cast("long").alias("n_domains_in_source"),
        )
        .orderBy("source", F.desc("n_refs"), "domain")
    )


@query(
    "q202_vocab_dictionary",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    vocab AS (
        SELECT word,
               count(*)                 AS tf,
               count(DISTINCT doc_id)   AS df
        FROM tok WHERE word <> ''
        GROUP BY word
    )
    SELECT CAST(row_number() OVER (ORDER BY tf DESC, word) - 1 AS BIGINT)
               AS token_id,
           word,
           CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df
    FROM vocab
    QUALIFY token_id < 200
    ORDER BY token_id
    """,
    tags=("text", "vocabulary", "dictionary", "training"),
)
def q202_vocab_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary dictionary build: assign contiguous token ids in
    frequency order (most-frequent = id 0, word-lexicographic
    tie-break) with term and document frequencies — the token→id
    mapping a training pipeline freezes before numericalizing a
    corpus; truncated to the top-200 ids here (the vocab-size cap
    every tokenizer applies).

    Scale posture: counting is explode → partial+final (shuffle is one
    row per distinct token); the id assignment takes the top-V by
    TakeOrdered (per-partition heaps) and only THEN numbers the V
    survivors via a sorted-array aggregate (``rank_small``) — the full
    vocabulary is never globally sorted and no window appears in the
    plan. df comes from the same shuffle via countDistinct. An uncapped
    dictionary at web scale would swap this for
    ``distributed_row_number`` over a tf-sorted write."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.repartition(32, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    vocab = tok.groupBy("word").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )

    top = vocab.orderBy(F.desc("tf"), F.asc("word")).limit(200)
    return (
        rank_small(
            top,
            key=[(-F.col("tf")).alias("_ntf"), F.col("word").alias("_w")],
            payload=["word", "tf", "df"],
            out="_rn",
        )
        .select(
            (F.col("_rn") - 1).cast("long").alias("token_id"),
            "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
        )
        .orderBy("token_id")
    )


@query(
    "q215_token_offsets",
    oracle="""
    WITH tok AS (
        SELECT doc_id, text,
               unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
        WHERE doc_id < 50
    ),
    offs AS (
        SELECT doc_id, text, word, pos,
               CAST(coalesce(sum(length(word) + 1) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_off
        FROM tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                          AS n_tokens,
           bool_and(substr(text, CAST(start_off + 1 AS INTEGER),
                           length(word)) = word)             AS offsets_valid,
           CAST(max(start_off + length(word)) AS BIGINT)     AS last_end,
           CAST(max(length(text)) AS BIGINT)                 AS text_len
    FROM offs
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "spans", "offsets", "annotation"),
)
def q215_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token span offsets: every token gets its exact (start, end)
    character offsets via a running length sum — the span table an
    annotation/NER pipeline aligns labels against. SELF-VERIFYING: the
    result re-slices the original text at each computed offset and
    proves it reproduces the token (``offsets_valid``), and the last
    token's end must equal the text length — the query carries its own
    correctness witness, so a tokenizer/offset drift can never pass
    silently.

    Scale posture: one shuffle on doc_id shared by the offset window
    and the rollup; the span table is the explode of the corpus — at
    100 TB it stays partitioned by doc and is usually consumed fused
    with its producer, never materialized wide."""
    docs = load_tables(spark, sf_dir)["documents"].where(F.col("doc_id") < 50)
    tok = docs.select(
        "doc_id",
        "text",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = tok.select(
        "doc_id",
        "text",
        "word",
        F.coalesce(F.sum(F.length("word") + 1).over(w), F.lit(0))
        .cast("long")
        .alias("start_off"),
    )
    return (
        offs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.bool_and(
                F.expr(
                    "substr(text, cast(start_off + 1 as int), length(word))"
                )
                == F.col("word")
            ).alias("offsets_valid"),
            F.max(F.col("start_off") + F.length("word"))
            .cast("long")
            .alias("last_end"),
            F.max(F.length("text")).cast("long").alias("text_len"),
        )
        .orderBy("doc_id")
    )


@query(
    "q220_numericalize_corpus",
    oracle="""
    WITH tok_all AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    vocab AS (
        SELECT word, count(*) AS tf FROM tok_all WHERE word <> '' GROUP BY word
    ),
    top AS (
        SELECT word, tf FROM vocab ORDER BY tf DESC, word ASC LIMIT 200
    ),
    dict AS (
        SELECT word,
               row_number() OVER (ORDER BY tf DESC, word ASC) - 1 AS token_id
        FROM top
    ),
    ids AS (
        SELECT t.doc_id, t.pos,
               CAST(coalesce(d.token_id, -1) AS INTEGER) AS id
        FROM tok_all t LEFT JOIN dict d ON t.word = d.word
        WHERE t.doc_id < 50 AND t.word <> ''
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                         AS n_tokens,
           CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4)                       AS oov_rate,
           array_to_string((list(id ORDER BY pos))[1:10], ',') AS first_ids
    FROM ids
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "training", "numericalize", "vocabulary"),
)
def q220_numericalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus numericalization: tokens map to ids through the frozen
    frequency dictionary (q202's construction, id −1 for OOV) and each
    document re-assembles as an ORDERED id sequence — the text→tensor
    step of a training pipeline, with per-document OOV rate as the
    vocabulary-fit signal (a rising OOV rate on new data means the
    frozen vocab no longer fits the distribution).

    Order preservation is the subtle part at scale: the token→id join
    destroys row order, so ids carry their position and re-sort INSIDE
    the collect (collect_list of (pos,id) structs → array_sort →
    project), never relying on shuffle arrival order — same
    discipline as q193's ordered LISTAGG. The id prefix serializes to
    a comma-joined STRING: the driver's comparator cannot hash list
    cells (CORRECTNESS_r04 q274/q281), and flat text is the
    reference's reduce-slot output shape (``App.config:20``,
    ``Program.cs:358-359``).

    Scale posture: the dictionary is vocab-capped and broadcast; the
    corpus explode joins it map-side, so the only real shuffle is the
    per-document regroup — partitioned by doc_id, the grain the
    output is consumed at."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok_all = docs.repartition(32, "doc_id").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).where(F.col("word") != "")
    vocab = tok_all.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    top = vocab.orderBy(F.desc("tf"), F.asc("word")).limit(200)
    dict_df = top.withColumn(
        "token_id",
        F.row_number().over(bounded_order(F.desc("tf"), F.asc("word"))) - 1,
    ).select("word", "token_id")
    ids = (
        tok_all.where(F.col("doc_id") < 50)
        .join(F.broadcast(dict_df), "word", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("token_id"), F.lit(-1)).cast("int").alias("id"),
        )
    )
    packed = ids.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((F.col("id") == -1).cast("long")).alias("n_oov"),
        F.concat_ws(
            ",",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("id")))
                    ),
                    lambda s: s["id"],
                ),
                1,
                10,
            ).cast("array<string>"),
        ).alias("first_ids"),
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov") * 1.0 / F.col("n_tokens"), 4).alias("oov_rate"),
        "first_ids",
    ).orderBy("doc_id")


@query(
    "q221_feature_hashing",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text <> ''
    ),
    hashed AS (
        SELECT doc_id, word,
               ('0x' || substr(md5('feat|' || word), 1, 8))::BIGINT % 64 AS bucket
        FROM tok WHERE word <> ''
    ),
    per_bucket AS (
        SELECT doc_id, bucket,
               count(*) AS n_words_in_bucket
        FROM hashed GROUP BY doc_id, bucket
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_doc_hits,
           CAST(sum(n_words_in_bucket) AS BIGINT) AS n_word_hits,
           CAST(sum(CASE WHEN n_words_in_bucket > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_collided_docs,
           round(avg(n_words_in_bucket), 4) AS avg_words_per_hit
    FROM per_bucket
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("text", "features", "hashing-trick", "ml"),
)
def q221_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: distinct words map straight to a fixed
    64-bucket feature space through a salted hash — no dictionary to
    build, broadcast, or keep in sync (the stateless alternative to
    q202/q220's frozen vocab), at the price of collisions, which this
    query MEASURES per bucket (docs whose bucket holds >1 distinct
    word have collided features). Reading this histogram against the
    OOV rate of q220 is exactly how the vocab-vs-hashing tradeoff is
    decided.

    Scale posture: stateless map-side hash math — the one featurizer
    that needs no fit step at all, so it parallelizes perfectly and
    never drifts between train and serve. The rollup is bounded at 64
    keys."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = (
        docs.where(F.col("text") != "")
        .repartition(32, "doc_id")
        .select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word"))
        .where(F.col("word") != "")
    )
    hashed = tok.select(
        "doc_id",
        (
            hex_int(F.md5(F.concat(F.lit("feat|"), F.col("word"))), 1, 8)
            % 64
        ).alias("bucket"),
    )
    per_bucket = hashed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_words_in_bucket")
    )
    return (
        per_bucket.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_doc_hits"),
            F.sum("n_words_in_bucket").cast("long").alias("n_word_hits"),
            F.sum((F.col("n_words_in_bucket") > 1).cast("long")).alias(
                "n_collided_docs"
            ),
            F.round(F.avg("n_words_in_bucket"), 4).alias("avg_words_per_hit"),
        )
        .orderBy("bucket")
    )


@query(
    "q230_mergeable_corpus_stats",
    oracle="""
    WITH toked AS (
        SELECT doc_id, doc_id % 2 AS half,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    per_half AS (
        SELECT half,
               count(*) AS n_docs,
               CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN len(list_filter(toks, x -> x = 'data')) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS df_data,
               CAST(sum(CASE WHEN len(list_filter(toks, x -> x = 'model')) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS df_model
        FROM toked GROUP BY half
    ),
    merged AS (
        SELECT sum(n_docs) AS n_docs, sum(total_tokens) AS total_tokens,
               sum(df_data) AS df_data, sum(df_model) AS df_model
        FROM per_half
    ),
    direct AS (
        SELECT count(*) AS n_docs,
               CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN len(list_filter(toks, x -> x = 'data')) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS df_data,
               CAST(sum(CASE WHEN len(list_filter(toks, x -> x = 'model')) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS df_model
        FROM toked
    )
    SELECT CAST(m.n_docs AS BIGINT)      AS n_docs,
           CAST(m.total_tokens AS BIGINT) AS total_tokens,
           CAST(m.df_data AS BIGINT)     AS df_data,
           CAST(m.df_model AS BIGINT)    AS df_model,
           m.n_docs = d.n_docs AND m.total_tokens = d.total_tokens
           AND m.df_data = d.df_data AND m.df_model = d.df_model
               AS merge_equals_direct
    FROM merged m CROSS JOIN direct d
    """,
    tags=("text", "retrieval", "mergeable", "statistics"),
)
def q230_mergeable_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability proof for retrieval corpus statistics: the BM25
    inputs (document count, token total, per-term document
    frequencies) computed per sub-corpus and SUMMED must equal the
    direct whole-corpus computation — verified in the result itself
    (``merge_equals_direct``). This is the property that lets a 100 TB
    corpus maintain its retrieval stats incrementally: new shards
    compute their own counts and merge by addition, no recompute (the
    same partial+final algebra q38 proves for sketches, here for the
    q107/q190 scoring inputs).

    Scale posture: integer counters only — associative, commutative,
    exact; the merge is a 2-row sum."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )

    def has(term):
        def pred(x):  # 1-arg: a 2-arg signature would bind the index
            return x == F.lit(term)

        return (F.size(F.filter("toks", pred)) > 0).cast("long")

    toked = docs.repartition(32, "doc_id").select(
        "doc_id", (F.col("doc_id") % 2).alias("half"), toks.alias("toks")
    )
    stats_cols = lambda df, keys: df.groupBy(*keys).agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("total_tokens"),
        F.sum(has("data")).cast("long").alias("df_data"),
        F.sum(has("model")).cast("long").alias("df_model"),
    )
    per_half = stats_cols(toked, ["half"])
    merged = per_half.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("df_data").alias("df_data"),
        F.sum("df_model").alias("df_model"),
    )
    direct = stats_cols(toked, []).select(
        F.col("n_docs").alias("d_n_docs"),
        F.col("total_tokens").alias("d_total_tokens"),
        F.col("df_data").alias("d_df_data"),
        F.col("df_model").alias("d_df_model"),
    )
    return merged.crossJoin(direct).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("df_data").cast("long").alias("df_data"),
        F.col("df_model").cast("long").alias("df_model"),
        (
            (F.col("n_docs") == F.col("d_n_docs"))
            & (F.col("total_tokens") == F.col("d_total_tokens"))
            & (F.col("df_data") == F.col("d_df_data"))
            & (F.col("df_model") == F.col("d_df_model"))
        ).alias("merge_equals_direct"),
    )


def _bpe_oracle() -> str:
    """DuckDB twin of the 3-round BPE trainer. CTEs are MATERIALIZED:
    each round's word table is referenced by the next round AND by its
    pair counter, and inlined repetition compounds exponentially (the
    PageRank-unrolling trap recorded in the verify skill)."""
    words = """
    words AS MATERIALIZED (
        SELECT w, count(*) AS freq
        FROM (
            SELECT unnest(list_filter(
                       string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '')) AS w
            FROM documents
        )
        GROUP BY w
    ),
    wf0 AS MATERIALIZED (
        SELECT w, freq, regexp_replace(w, '(.)', '|\\1', 'g') AS s FROM words
    )"""
    round_tpl = """
    pc{i} AS MATERIALIZED (
        SELECT p.l AS l, p.r AS r, sum(freq) AS cnt
        FROM (
            SELECT freq,
                   unnest(list_transform(
                       range(1, len(syms)),
                       i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS p
            FROM (
                SELECT freq,
                       list_filter(string_split(s, '|'), x -> x <> '') AS syms
                FROM wf{i}
            )
        )
        GROUP BY p.l, p.r
    ),
    b{i} AS MATERIALIZED (
        SELECT l, r, cnt FROM pc{i} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    ),
    wf{j} AS MATERIALIZED (
        SELECT w, freq,
               list_reduce(
                   list_prepend('', list_filter(string_split(s, '|'),
                                                x -> x <> '')),
                   (acc, x) -> CASE WHEN x = b.r
                                     AND ends_with(acc, '|' || b.l)
                               THEN acc || x
                               ELSE acc || '|' || x END) AS s
        FROM wf{i} CROSS JOIN b{i} b
    )"""
    rounds = ",".join(round_tpl.format(i=i, j=i + 1) for i in range(3))
    finals = "\n    UNION ALL\n".join(
        f"    SELECT {i + 1} AS iter, l AS lhs, r AS rhs, l || r AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(3)
    )
    return f"WITH {words},{rounds}\n{finals}\n    ORDER BY iter"


def bpe_merge_symbols(s, l, r):
    """One greedy left-to-right BPE merge pass over a leading-delimited
    symbol string ('abc' → '|a|b|c'): fold the symbol list with an
    accumulator that is the rebuilt string — when the accumulator's LAST
    symbol equals ``l`` and the incoming symbol equals ``r``, append
    ``r`` without a delimiter (merging them); otherwise append '|'+sym.
    ``ends_with(acc, '|'+l)`` tests exact last-symbol equality because
    '|' delimits and symbols are [a-z]+ only.

    Why a fold and not a literal replace: replace of '|l|r' corrupts a
    longer merged symbol that merely STARTS with r ('|s|th' matches
    needle '|s|t'), and the trailing-sentinel variant ('|l|r|'→'|lr|')
    misses symbol-ADJACENT occurrences because consecutive matches
    share the delimiter character the first replacement consumed
    ('aththb' would keep its second 'th'). The fold is exactly greedy:
    a just-merged symbol can't immediately re-merge (its full text no
    longer equals ``l``), runs of an (a,a) pair alternate correctly,
    and both engines evaluate the identical sequential lambda
    (F.aggregate here, list_reduce with a prepended '' seed in the
    DuckDB oracle). Unit-tested in tests/test_llm_ops.py against both
    failure shapes."""
    syms = F.filter(F.split(s, "[|]"), lambda x: x != F.lit(""))
    return F.aggregate(
        syms,
        F.lit(""),
        lambda acc, x: F.when(
            (x == r) & acc.endswith(F.concat(F.lit("|"), l)),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit("|"), x)),
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """The 3-round BPE trainer shared by q239 and q246: returns the
    three rounds' merge rows ``(iter, lhs, rhs, merged, pair_count)``
    and the word frame ``(w, freq, s)`` after the third merge.

    Each round counts adjacent symbol pairs at word-type grain, adopts
    the most frequent pair (ties: lexicographic on the pair) and
    rewrites every word with :func:`bpe_merge_symbols`."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Persisted: every merge round's pair counter re-derives from this
    # word-type table, and Catalyst does NOT reuse the histogram
    # exchange across the three rounds' separate aggregates (7 corpus
    # scans observed uncached). The cache is O(|vocab|), the same
    # materialization a production BPE trainer keeps pinned. Lifetime:
    # a query fn returns an un-materialized DataFrame, so it cannot
    # unpersist after its own action — the runners (bench.py, the
    # oracle differential) clearCache() after each query instead.
    wf = words.withColumn(
        "s", F.regexp_replace(F.col("w"), "(.)", r"|$1")
    ).persist()

    def pair_counts(frame: DataFrame) -> DataFrame:
        syms = F.filter(F.split(F.col("s"), "[|]"), lambda x: x != F.lit(""))
        prs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("l"),
                    F.element_at(syms, i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        return (
            frame.select("freq", F.explode(prs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )

    merges = []
    for i in range(3):
        best = pair_counts(wf).orderBy(
            F.desc("cnt"), F.asc("l"), F.asc("r")
        ).limit(1)
        merges.append(
            best.select(
                F.lit(i + 1).alias("iter"),
                F.col("l").alias("lhs"),
                F.col("r").alias("rhs"),
                F.concat(F.col("l"), F.col("r")).alias("merged"),
                F.col("cnt").cast("long").alias("pair_count"),
            )
        )
        wf = wf.crossJoin(F.broadcast(best)).select(
            "w",
            "freq",
            bpe_merge_symbols(F.col("s"), F.col("l"), F.col("r")).alias("s"),
        )
    return merges, wf


@query(
    "q239_bpe_merge_training",
    oracle=_bpe_oracle(),
    tags=("text", "tokenizer", "bpe", "training", "iterative"),
)
def q239_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training, 3 merge rounds: count
    adjacent symbol-pair frequencies over the corpus, adopt the most
    frequent pair as a merge (ties: lexicographic on the pair), rewrite
    the vocabulary, repeat. Emits each round's learned merge with its
    pair count — the merge table a BPE tokenizer ships.

    Words are represented as '|'-PREFIXED symbol strings ('abc' →
    '|a|b|c'); a merge round rewrites each word with the greedy
    left-to-right fold in :func:`bpe_merge_symbols` (see its docstring
    for why literal replace — with or without a trailing sentinel — is
    subtly wrong). Both engines run the identical sequential lambda, so
    parity is exact (integer counts, string ops, zero floats).

    Scale posture: the corpus is touched ONCE (explode → word-histogram
    shuffle with map-side combine) — the same word-type-grain
    optimization production BPE trainers use. Every merge round then
    runs at vocabulary grain: pair counting is explode → partial+final
    sum per distinct word (not per occurrence), the winning pair is a
    TakeOrdered(1), and the rewrite is a 1-row broadcast cross join +
    map-side replace. A 100 TB corpus costs one shuffle; rounds cost
    O(|vocab|) each. Reference contract: the pluggable map slot
    (``App.config:16``) is the per-word rewrite; the reduce slot
    (``App.config:17``) is the pair-count consolidation."""
    merges, _ = _bpe_train(spark, sf_dir)
    return merges[0].unionAll(merges[1]).unionAll(merges[2]).orderBy("iter")


def _bpe_apply_oracle() -> str:
    """Shares q239's training CTE chain, then APPLIES the 3 learned
    merges to every word and measures the corpus compression."""
    train = _bpe_oracle()
    # Strip q239's final SELECT (everything after the last CTE) and
    # reuse the WITH chain up through wf3.
    head = train[: train.rindex("    SELECT 1 AS iter")].rstrip().rstrip(",")
    return head + """,
    stats AS (
        SELECT
            sum(freq * length(w))                      AS n_chars,
            sum(freq * len(list_filter(string_split(s, '|'),
                                       x -> x <> '')))  AS n_symbols,
            sum(freq)                                   AS n_words
        FROM wf3
    )
    SELECT CAST(n_words AS BIGINT)   AS n_words,
           CAST(n_chars AS BIGINT)   AS n_chars,
           CAST(n_symbols AS BIGINT) AS n_symbols,
           ((2 * n_chars * 10000 + n_symbols) // (2 * n_symbols))
               / 10000.0 AS chars_per_symbol,
           ((2 * (n_chars - n_symbols) * 10000 + n_chars)
                // (2 * n_chars)) / 10000.0 AS compression
    FROM stats
    """


@query(
    "q246_bpe_compression_rate",
    oracle=_bpe_apply_oracle(),
    tags=("text", "tokenizer", "bpe", "evaluation", "training"),
)
def q246_bpe_compression_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply q239's three learned BPE merges to the whole corpus and
    measure what they bought: occurrence-weighted symbol count vs
    character count, chars-per-symbol, and the fractional compression —
    the tokenizer-efficiency metric (≈ tokens-per-byte) that decides
    how many merges a vocabulary build should run. Composes the trainer
    (fit) with its transform exactly as a production pipeline does:
    same merge table, applied corpus-wide.

    Scale posture: identical to q239 (one corpus shuffle to word types;
    merge rounds at vocab grain) plus a single occurrence-weighted
    final aggregate — frequencies multiply back so no per-occurrence
    row ever materializes."""
    _, wf = _bpe_train(spark, sf_dir)
    n_sym = F.size(F.filter(F.split(F.col("s"), "[|]"), lambda x: x != F.lit("")))
    stats = wf.agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.sum(F.col("freq") * F.length("w")).cast("long").alias("n_chars"),
        F.sum(F.col("freq") * n_sym).cast("long").alias("n_symbols"),
    )
    return stats.select(
        "n_words",
        "n_chars",
        "n_symbols",
        half_up_ratio(F.col("n_chars"), F.col("n_symbols"), 4).alias(
            "chars_per_symbol"
        ),
        half_up_ratio(
            F.col("n_chars") - F.col("n_symbols"), F.col("n_chars"), 4
        ).alias("compression"),
    )


@query(
    "q248_vocab_kl_drift",
    oracle="""
    WITH tok AS (
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    cnt AS (
        SELECT w,
               sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS cb
        FROM tok GROUP BY w
    ),
    tot AS (
        SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb,
               CAST(count(*) AS DOUBLE) AS v
        FROM cnt
    ),
    terms AS (
        SELECT (ca + 1) / (na + v) AS pa, (cb + 1) / (nb + v) AS pb
        FROM cnt CROSS JOIN tot
    )
    SELECT CAST(t.v AS BIGINT)                              AS vocab_size,
           CAST(t.na AS BIGINT)                             AS tokens_a,
           CAST(t.nb AS BIGINT)                             AS tokens_b,
           round(sum(pa * ln(pa / pb)), 4)                  AS kl_a_to_b,
           round(sum(pb * ln(pb / pa)), 4)                  AS kl_b_to_a,
           round(sum((pa - pb) * ln(pa / pb)), 4)           AS j_divergence
    FROM terms CROSS JOIN tot t
    GROUP BY t.v, t.na, t.nb
    """,
    tags=("text", "drift", "kl-divergence", "curation", "monitoring"),
)
def q248_vocab_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary distribution drift between two corpus snapshots (the
    even/odd doc_id halves stand in for consecutive crawls): add-one-
    smoothed unigram distributions compared by KL divergence both ways
    plus Jeffreys' J-divergence — the distribution-shift monitor a
    curation pipeline runs per snapshot before retraining decisions
    (q154's PSI is the binned-numeric sibling; this is the
    full-vocabulary categorical form).

    Determinism: counts are exact integers; smoothing and the
    probability ratios are single IEEE divisions; ``ln`` appears only
    inside SUMMED terms (never a ranking key), so libm/accumulation
    ulps wash out under round(4) — the q184 Zipf-fit discipline.

    Scale posture: one explode → (word) count shuffle with map-side
    combine carrying BOTH half-counts per distinct word (a conditional
    sum, not two scans); totals are a 1-row broadcast; the KL terms
    reduce in the same final aggregate. Cost is one corpus pass at any
    scale."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select(
        F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b").alias("half"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("w"),
    )
    cnt = tok.groupBy("w").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).alias("cb"),
    )
    tot = cnt.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    pa = (F.col("ca") + 1) / (F.col("na") + F.col("v"))
    pb = (F.col("cb") + 1) / (F.col("nb") + F.col("v"))
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "na", "nb", "v", pa.alias("pa"), pb.alias("pb")
    )
    return terms.groupBy(
        F.col("v").cast("long").alias("vocab_size"),
        F.col("na").cast("long").alias("tokens_a"),
        F.col("nb").cast("long").alias("tokens_b"),
    ).agg(
        F.round(F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb"))), 4).alias(
            "kl_a_to_b"
        ),
        F.round(F.sum(F.col("pb") * F.log(F.col("pb") / F.col("pa"))), 4).alias(
            "kl_b_to_a"
        ),
        F.round(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))),
            4,
        ).alias("j_divergence"),
    )


@query(
    "q257_bigram_lm_filter",
    oracle="""
    WITH words AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> x <> '') AS arr
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, unnest(range(1, len(arr))) AS pos, arr
        FROM words WHERE len(arr) >= 2
    ),
    bigr AS (
        SELECT doc_id, source, pos, arr[pos] AS w1, arr[pos + 1] AS w2
        FROM pos
    ),
    c2 AS (SELECT w1, w2, count(*) AS c FROM bigr GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c FROM bigr GROUP BY w1),
    v AS (
        SELECT count(DISTINCT w) AS v
        FROM (SELECT w1 AS w FROM bigr UNION ALL SELECT w2 FROM bigr)
    ),
    terms AS (
        SELECT b.doc_id, b.source, b.pos,
               ln((c2.c + 1.0) / (c1.c + v.v)) AS lp
        FROM bigr b
        JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        JOIN c1 ON b.w1 = c1.w1
        CROSS JOIN v
    )
    SELECT doc_id, source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
                             (a, b) -> a + b) / count(*), 4) AS avg_logprob,
           round(list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
                             (a, b) -> a + b) / count(*), 4) >= -3.4 AS keep
    FROM terms
    GROUP BY doc_id, source
    ORDER BY doc_id
    """,
    tags=("text", "language-model", "perplexity", "curation", "filtering"),
)
def q257_bigram_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity filtering (the CCNet/KenLM curation idiom):
    train an add-one-smoothed bigram language model ON the corpus
    itself, score every document by its mean bigram log-probability,
    and flag low-likelihood documents for the drop list — the standard
    statistical-quality gate a pretraining pipeline runs before any
    neural scoring. Emits per doc: bigram count, mean log-prob, and
    the keep decision at the −3.4 threshold (≈ the corpus's lower
    quartile, probed in DuckDB first per the selectivity discipline).

    Determinism: bigram/context/vocab counts are exact integers;
    P(w2|w1) = (c₂+1)/(c₁+V) is one IEEE division per bigram type;
    ln() is libm (ulp-level engine skew) but each document's term sum
    folds in POSITION order via the prepended-zero aggregate /
    list_reduce (the q256 discipline), so accumulation order is
    engine-identical and round(4) absorbs the ulps; the keep flag
    compares the ROUNDED score so both engines decide on the same
    value.

    Scale posture: one corpus-grain explode to bigram occurrences;
    model tables (c₂ bigram-type, c₁ context-type) join back equi on
    the bigram key — vocab-grain state, map-side joinable when the
    model is broadcastable and a plain shuffle join beyond; V is a
    1-row broadcast. The per-doc fold arrays are document-length
    bounded. Training-corpus scoring touches the corpus exactly twice
    (count, score) — the two-pass shape of a production LM filter.
    Reference contract: map slot (``App.config:16``) = per-doc
    scoring; reduce slot (``App.config:17``) = model-count
    consolidation."""
    # No scan spread here: this frame BRANCHES (model build + scoring
    # paths), and a repartition re-executes per branch — measured 1.7×
    # slower than the single-split scan at sf0.1.
    docs = load_tables(spark, sf_dir)["documents"]
    arr = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    words = docs.select("doc_id", "source", arr.alias("arr")).where(
        F.size("arr") >= 2
    )
    bigr = words.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("arr") - 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.element_at(F.col("arr"), i).alias("w1"),
                    F.element_at(F.col("arr"), i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "source", "b.pos", "b.w1", "b.w2")
    # Deliberately NOT persisted/derived-from-c2 (measured r7): the
    # four model aggregates run as PARALLEL single-task branches over
    # the one-split fixture scan and overlap almost fully — caching c2
    # and folding c1/V from it serializes the chain (1.26 → 1.50 s at
    # sf0.1) and spreading the scan re-executes per branch (→ 1.75 s).
    # At 100 TB the multi-split scan parallelizes each branch anyway.
    c2 = bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bigr.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        bigr.select(F.col("w1").alias("w"))
        .unionAll(bigr.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("v"))
    )
    terms = (
        bigr.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "source",
            "pos",
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    folded = terms.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("lp")))
                    ),
                    lambda x: x["lp"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1))
        ).alias("alp"),
    )
    return folded.select(
        "doc_id",
        "source",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("alp", 4).alias("avg_logprob"),
        (F.round("alp", 4) >= -3.4).alias("keep"),
    ).orderBy("doc_id")


_SEG_W = 3            # words per pseudo-line segment
_SEG_MIN_DF = 3       # absolute boilerplate floor
_SEG_DF_FRAC = 0.005  # relative boilerplate threshold (frac of corpus docs)
_SEG_KEEP_FRAC = 0.7  # doc survives if this fraction of segments is clean


@query(
    "q273_segment_boilerplate_removal",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    seg AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(ws, i * {_SEG_W} + 1,
                                          i * {_SEG_W} + {_SEG_W}), ' ') AS s
        FROM (
            SELECT doc_id, ws,
                   unnest(range(0, (len(ws) + {_SEG_W} - 1) // {_SEG_W})) AS i
            FROM w
        )
    ),
    dfq AS (SELECT s, count(*) AS df FROM seg GROUP BY s),
    boiler AS (
        SELECT s FROM dfq CROSS JOIN nd
        WHERE df >= greatest({_SEG_MIN_DF},
                             CAST(ceil({_SEG_DF_FRAC} * n_docs) AS BIGINT))
    ),
    per AS (
        SELECT seg.doc_id,
               count(*) AS n_segments,
               sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        FROM seg LEFT JOIN boiler b ON seg.s = b.s
        GROUP BY seg.doc_id
    )
    SELECT doc_id,
           CAST(n_segments AS BIGINT) AS n_segments,
           CAST(n_boiler AS BIGINT)   AS n_boiler,
           round(1.0 - CAST(n_boiler AS DOUBLE) / n_segments, 4) AS retained_frac,
           (round(1.0 - CAST(n_boiler AS DOUBLE) / n_segments, 4)
               >= {_SEG_KEEP_FRAC}) AS keep
    FROM per
    ORDER BY doc_id
    """,
    tags=("text", "curation", "boilerplate", "dedup"),
)
def q273_segment_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style frequency-based boilerplate removal, adapted to the
    fixture's unpunctuated word-stream texts: each document is cut into
    consecutive 3-word "pseudo-line" segments (the deterministic stand-in
    for CCNet's paragraph/line grain); a segment appearing in >=
    max(3, 0.5% of corpus docs) distinct documents is boilerplate (nav
    chrome, license headers, share buttons in a real web corpus); each
    doc reports its clean-segment fraction and a keep flag at 70%.

    Determinism: pure integer/string work — segmentation is integer
    stride math, the threshold is integer-ceil of a fixed fraction, and
    the single float (retained_frac) is one exact-integer division
    rounded at 4.

    Scale posture: segment doc-frequency is a partial+final count at
    segment grain (the shuffled key is the segment text — at 100 TB,
    hash it to 8 bytes first, same plan); the boilerplate set joins
    back by segment key (its size is corpus-frequency-capped from
    BELOW, so it is the small, broadcastable tail of the df
    distribution); per-doc rollup re-shuffles on doc_id once. The
    corpus-size scalar is a 1-row broadcast. Reference contract: the
    per-doc segmentation is the pluggable map slot (``App.config:16``),
    the df consolidation the reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("ws")
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    seg = (
        w.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size("ws") + _SEG_W - 1) / _SEG_W) - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("ws"), i * _SEG_W + 1, _SEG_W), " "
                    ),
                )
            ).alias("s"),
        )
        .distinct()
    )
    dfq = seg.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    boiler = dfq.crossJoin(F.broadcast(nd)).where(
        F.col("df")
        >= F.greatest(
            F.lit(_SEG_MIN_DF),
            F.ceil(F.lit(_SEG_DF_FRAC) * F.col("n_docs")),
        )
    ).select("s", F.lit(1).alias("is_boiler"))
    per = (
        seg.join(boiler, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(
                F.when(F.col("is_boiler").isNotNull(), 1).otherwise(0)
            ).alias("n_boiler"),
        )
    )
    retained = F.round(
        1.0 - F.col("n_boiler").cast("double") / F.col("n_segments"), 4
    )
    return per.select(
        "doc_id",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        retained.alias("retained_frac"),
        (retained >= _SEG_KEEP_FRAC).alias("keep"),
    ).orderBy("doc_id")


_IDX_TOP_TERMS = 12   # index-head page: most frequent terms
_IDX_MAX_POSTINGS = 50  # postings page size per term


@query(
    "q274_positional_inverted_index",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, ws[p + 1] AS term, p AS pos
        FROM (
            SELECT doc_id, ws, unnest(range(0, len(ws))) AS p
            FROM (
                SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents
            )
        )
    ),
    top_terms AS (
        SELECT term, count(*) AS cf, count(DISTINCT doc_id) AS df
        FROM occ GROUP BY term
        ORDER BY cf DESC, term ASC LIMIT {_IDX_TOP_TERMS}
    ),
    postings AS (
        SELECT o.term, o.doc_id, count(*) AS tf,
               array_to_string(list(o.pos ORDER BY o.pos), ',') AS positions
        FROM occ o JOIN top_terms t ON o.term = t.term
        GROUP BY o.term, o.doc_id
    )
    SELECT p.term,
           CAST(t.df AS BIGINT) AS df,
           CAST(t.cf AS BIGINT) AS cf,
           p.doc_id,
           CAST(p.tf AS BIGINT) AS tf,
           p.positions
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY term ORDER BY doc_id ASC) AS rn
        FROM postings
    ) p JOIN top_terms t ON p.term = t.term
    WHERE p.rn <= {_IDX_MAX_POSTINGS}
    ORDER BY p.term, p.doc_id
    """,
    tags=("text", "retrieval", "index", "postings"),
)
def q274_positional_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index build — the core data structure behind
    BM25/phrase search (q107 computes scores directly; this materializes
    the index itself): token occurrences with 0-based positions roll up
    to per-(term, doc) postings {tf, sorted position list}, annotated
    with term-level df/cf. Output is bounded to the index HEAD — the 12
    most frequent terms (ties lexicographic) with their first 50
    postings by doc_id — the "hot page" a serving shard keeps pinned.

    Determinism: integer positions, exact counts, lexicographic ties;
    position lists are sorted on both engines and serialized to a
    comma-joined STRING — the driver's comparator sorts raw pandas
    frames, and list cells crash its factorize (CORRECTNESS_r04), so
    the output contract is flat/hashable (which is also the reference's
    reduce-slot shape: a flat text file, ``App.config:20``,
    ``Program.cs:358-359``).

    Scale posture: occurrence extraction is map-side explode; postings
    build is ONE shuffle on (term, doc_id) with partial aggregation;
    term stats (df/cf) are a second aggregate at term grain that the
    head filter reduces to a broadcastable 12-row table BEFORE the
    postings join, so the big posting shuffle only materializes for
    head terms. Per-term postings ranking partitions by term and is
    page-capped. At 100 TB the same plan shards by term-hash — posting
    lists never concentrate on one node because the (term, doc) grain,
    not the term grain, is the shuffle key. Reference contract: per-doc
    tokenize = map slot (``App.config:16``); postings consolidation =
    reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    occ = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "term"),
    )
    top_terms = (
        occ.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("cf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(_IDX_TOP_TERMS)
    )
    postings = (
        occ.join(F.broadcast(top_terms.select("term")), "term")
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list("pos")).cast("array<string>")
            ).alias("positions"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.asc("doc_id"))
    return (
        postings.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _IDX_MAX_POSTINGS)
        .join(F.broadcast(top_terms), "term")
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
            "doc_id",
            F.col("tf").cast("long").alias("tf"),
            "positions",
        )
        .orderBy("term", "doc_id")
    )


_KMV_K = 64               # sketch size (minimum hash values kept)
_KMV_M = 1_000_000_007    # hash modulus (fits BIGINT after *131 step)


@query(
    "q276_kmv_overlap_estimate",
    oracle=f"""
    WITH bg AS (
        SELECT DISTINCT source, ws[i + 1] || ' ' || ws[i + 2] AS b
        FROM (
            SELECT source, ws, unnest(range(0, len(ws) - 1)) AS i
            FROM (
                SELECT source, string_split(lower(text), ' ') AS ws
                FROM documents
            )
        )
    ),
    h AS (
        SELECT DISTINCT source,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                list_transform(string_split(b, ''),
                                               c -> CAST(ascii(c) AS BIGINT))),
                   (acc, c) -> (acc * 131 + c) % {_KMV_M}) AS hv
        FROM bg
    ),
    sk AS (
        SELECT source, list_slice(list_sort(list(hv)), 1, {_KMV_K}) AS sketch,
               count(*) AS n_exact
        FROM h GROUP BY source
    ),
    ex AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_inter
        FROM bg a JOIN bg b ON a.b = b.b AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               a.sketch AS ska, b.sketch AS skb,
               a.n_exact AS na, b.n_exact AS nb,
               least({_KMV_K}, len(a.sketch)) AS ka,
               least({_KMV_K}, len(b.sketch)) AS kb
        FROM sk a JOIN sk b ON a.source < b.source
    ),
    est AS (
        SELECT source_a, source_b, na, nb,
               ((2 * (ka - 1) * {_KMV_M} * 100 + ska[ka])
                    // (2 * ska[ka])) / 100.0 AS est_distinct_a,
               ((2 * (kb - 1) * {_KMV_M} * 100 + skb[kb])
                    // (2 * skb[kb])) / 100.0 AS est_distinct_b,
               len(list_intersect(
                   list_intersect(
                       list_slice(list_sort(list_distinct(ska || skb)),
                                  1, {_KMV_K}),
                       ska), skb)) AS n_shared
        FROM pairs
    ),
    scaled AS (
        SELECT e.source_a, e.source_b,
               e.est_distinct_a, e.est_distinct_b,
               (2 * e.n_shared * 10000 + {_KMV_K})
                   // (2 * {_KMV_K}) AS m_est,
               (2 * x.n_inter * 10000 + (e.na + e.nb - x.n_inter))
                   // (2 * (e.na + e.nb - x.n_inter)) AS m_exact
        FROM est e JOIN ex x
          ON e.source_a = x.source_a AND e.source_b = x.source_b
    )
    SELECT source_a, source_b,
           est_distinct_a, est_distinct_b,
           m_est / 10000.0 AS est_jaccard,
           m_exact / 10000.0 AS exact_jaccard,
           abs(m_est - m_exact) / 10000.0 AS abs_err
    FROM scaled
    ORDER BY source_a, source_b
    """,
    tags=("text", "sketch", "kmv", "jaccard", "dedup"),
)
def q276_kmv_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values (KMV / bottom-k) sketches per source over the
    distinct word-bigram space, with pairwise set-OVERLAP estimation —
    the capability the rest of the sketch family lacks: HLL (q156) and
    CMS (q254) answer cardinality/frequency but cannot intersect; a
    bottom-k sketch is a uniform sample of the hashed universe, so the
    k-smallest of a UNION of two sketches estimates Jaccard as the
    fraction of those values present in both (Beyer et al., SIGMOD'07).
    Emits per source pair: KMV distinct estimates, estimated vs exact
    Jaccard, and the absolute error — the audit column that tells an
    operator whether k=64 suffices before scaling out.

    abs_err semantics (changed round 6, applied identically to engine
    and oracle): ``|round(est,4) - round(exact,4)|`` — the difference
    of the already-rounded published columns — not the former
    ``round(|est - exact|, 4)``. At a boundary case the emitted value
    can differ by 1e-4 from pre-r6 BENCH/driver outputs; a driver-row
    mismatch against an OLD recorded hash is this semantic shift, not
    a regression.

    Determinism: the hash is an explicit polynomial fold ((acc*131 +
    ascii) mod 1e9+7) evaluated as the SAME sequential lambda on both
    engines (seed prepended on the DuckDB side because list_reduce
    seeds with the first element); estimates are exact-integer
    divisions in IEEE doubles, the one float op that is bit-identical
    cross-engine (SCALE.md determinism note).

    Scale posture: sketch build is partial+final — distinct (source,
    bigram) shuffle, then a per-source bounded sort keeping 64 values;
    the sketch table is |sources| rows × 64 ints, broadcastable at any
    corpus size, and pairwise estimation is array math on that tiny
    table (never touches the corpus). The EXACT Jaccard path is the
    audit: an equi-join on the bigram key — drop it in production and
    the query reads each document exactly once. Reference contract:
    per-doc shingle+hash = map slot (``App.config:16``); bottom-k
    consolidation = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    ws = docs.select("source", F.split(F.lower(F.col("text")), " ").alias("ws"))
    bg = (
        ws.select(
            "source",
            F.explode(
                F.when(
                    F.size("ws") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - 1),
                        lambda i: F.concat(
                            F.element_at(F.col("ws"), i),
                            F.lit(" "),
                            F.element_at(F.col("ws"), i + 1),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("b"),
        )
        .distinct()
    )
    hv = F.aggregate(
        F.split(F.col("b"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 131 + F.ascii(c)) % _KMV_M,
    )
    h = bg.select("source", hv.alias("hv")).distinct()
    sk = h.groupBy("source").agg(
        F.slice(F.array_sort(F.collect_list("hv")), 1, _KMV_K).alias("sketch"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    ex = (
        bg.alias("a")
        .join(
            bg.alias("b"),
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    a = sk.select(
        F.col("source").alias("source_a"),
        F.col("sketch").alias("ska"),
        F.col("n_exact").alias("na"),
    )
    b = sk.select(
        F.col("source").alias("source_b"),
        F.col("sketch").alias("skb"),
        F.col("n_exact").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    ka = F.least(F.lit(_KMV_K), F.size("ska"))
    kb = F.least(F.lit(_KMV_K), F.size("skb"))
    u64 = F.slice(F.array_sort(F.array_union("ska", "skb")), 1, _KMV_K)
    est = pairs.select(
        "source_a",
        "source_b",
        "na",
        "nb",
        half_up_ratio(
            (ka - 1).cast("long") * _KMV_M, F.element_at("ska", ka), 2
        ).alias("est_distinct_a"),
        half_up_ratio(
            (kb - 1).cast("long") * _KMV_M, F.element_at("skb", kb), 2
        ).alias("est_distinct_b"),
        F.size(
            F.array_intersect(F.array_intersect(u64, F.col("ska")), F.col("skb"))
        ).alias("n_shared"),
    )
    m_est = F.expr(f"(2 * n_shared * 10000 + {_KMV_K}) div (2 * {_KMV_K})")
    m_exact = F.expr(
        "(2 * n_inter * 10000 + (na + nb - n_inter))"
        " div (2 * (na + nb - n_inter))"
    )
    return (
        est.join(F.broadcast(ex), ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            "est_distinct_a",
            "est_distinct_b",
            (m_est / F.lit(10000.0)).alias("est_jaccard"),
            (m_exact / F.lit(10000.0)).alias("exact_jaccard"),
            (F.abs(m_est - m_exact) / F.lit(10000.0)).alias("abs_err"),
        )
        .orderBy("source_a", "source_b")
    )


# Phrase gazetteer: surface form -> (entity id, entity type). Multi-word
# spans up to 3 tokens; stands in for a production entity dictionary
# (locations, products, org names) matched against token streams.
_GAZETTEER = (
    ("hash join", "HASH_JOIN", "operator"),
    ("sort merge", "SORT_MERGE", "operator"),
    ("table scan", "TABLE_SCAN", "operator"),
    ("group agg", "GROUP_AGG", "operator"),
    ("stream window", "STREAM_WINDOW", "operator"),
    ("merge join key", "MERGE_JOIN_KEY", "operator"),
)
_GAZ_TOPN = 20


@query(
    "q281_gazetteer_span_match",
    oracle=f"""
    WITH dict AS (
        SELECT * FROM (VALUES
            {",".join(f"('{p}', '{e}', '{t}', {len(p.split())})" for p, e, t in _GAZETTEER)}
        ) t(phrase, entity, etype, n_words)
    ),
    w AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    spans AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(ws, CAST(i + 1 AS INTEGER),
                                          CAST(i + n AS INTEGER)), ' ') AS phrase
        FROM w, unnest(range(0, len(ws) - 1)) t(i), (VALUES (2), (3)) g(n)
        WHERE i + n <= len(ws)
    ),
    hits AS (
        SELECT s.doc_id, d.entity, d.etype,
               count(*) AS n_mentions,
               array_to_string(list(s.pos ORDER BY s.pos), ',') AS positions
        FROM spans s JOIN dict d ON s.phrase = d.phrase
        GROUP BY s.doc_id, d.entity, d.etype
    )
    SELECT doc_id, entity, etype,
           CAST(n_mentions AS BIGINT) AS n_mentions, positions
    FROM hits
    ORDER BY n_mentions DESC, doc_id ASC, entity ASC
    LIMIT {_GAZ_TOPN}
    """,
    tags=("text", "ner", "gazetteer", "span", "dictionary"),
)
def q281_gazetteer_span_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based entity span matching (gazetteer NER — the
    Aho-Corasick-style tagging step of entity linking pipelines,
    expressed relationally): every 2- and 3-token span of every
    document joins against a phrase dictionary; matches aggregate to
    (doc, entity) with mention counts and 0-based token start
    positions. Emits the 20 heaviest taggings (mentions desc, doc,
    entity) — the review queue a curation pass inspects.

    Determinism: spans are integer stride math over the token array;
    matching is exact string equality; positions sort ascending on
    both engines and serialize to a comma-joined STRING (the driver's
    comparator cannot hash list cells — CORRECTNESS_r04 q274/q281 —
    and flat text is the reference's reduce-slot shape anyway,
    ``App.config:20``, ``Program.cs:358-359``); the top-20 tie-break
    is total.

    Scale posture: span extraction is map-side explode (k·n spans per
    n-token doc, k=2 span widths); the dictionary — like any real
    gazetteer, orders of magnitude smaller than the corpus — joins as
    a BROADCAST, so candidate matching never shuffles the corpus; the
    only shuffle is the (doc, entity)-grain rollup of actual HITS,
    which is match-sparse by construction. Top-k is a TakeOrdered.
    At 100 TB: identical plan, dictionary still broadcast. Reference
    contract: per-doc span scan = map slot (``App.config:16``); hit
    consolidation = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    dict_df = spark.createDataFrame(
        [(p, e, t, len(p.split())) for p, e, t in _GAZETTEER],
        "phrase string, entity string, etype string, n_words int",
    )
    w = docs.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("ws"))
    # Closure factory, NOT a default-arg lambda: a second lambda
    # parameter silently binds to the ELEMENT INDEX in Spark
    # higher-order functions (verify-skill trap).
    def _span_fn(n: int):
        return lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice(F.col("ws"), i + 1, n), " ").alias("phrase"),
        )

    span_parts = []
    for n in (2, 3):
        span_parts.append(
            w.select(
                "doc_id",
                F.explode(
                    F.when(
                        F.size("ws") >= n,
                        F.transform(
                            F.sequence(F.lit(0), F.size("ws") - n),
                            _span_fn(n),
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<pos:bigint,phrase:string>>"
                        )
                    )
                ).alias("sp"),
            ).select("doc_id", F.col("sp.pos").alias("pos"), F.col("sp.phrase").alias("phrase"))
        )
    spans = span_parts[0].unionAll(span_parts[1])
    hits = (
        spans.join(F.broadcast(dict_df), "phrase")
        .groupBy("doc_id", "entity", "etype")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list("pos")).cast("array<string>")
            ).alias("positions"),
        )
    )
    return (
        hits.select(
            "doc_id",
            "entity",
            "etype",
            F.col("n_mentions").cast("long").alias("n_mentions"),
            "positions",
        )
        .orderBy(F.desc("n_mentions"), F.asc("doc_id"), F.asc("entity"))
        .limit(_GAZ_TOPN)
    )


_WFQ_STEPS = 40


@query(
    "q282_wfq_interleave_schedule",
    oracle=f"""
    WITH toks AS (
        SELECT source, sum(len(string_split(lower(text), ' '))) AS n_tokens
        FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT d.doc_id, d.source,
               row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS r,
               sqrt(CAST(t.n_tokens AS DOUBLE)) AS w
        FROM documents d JOIN toks t ON d.source = t.source
    ),
    vtimed AS (
        SELECT doc_id, source, r, CAST(r AS DOUBLE) / w AS vt FROM ranked
    ),
    ordered AS (
        SELECT doc_id, source, r, vt,
               row_number() OVER (ORDER BY vt, source, doc_id) AS step
        FROM vtimed
    )
    SELECT step, source, doc_id,
           CAST(r AS BIGINT) AS in_source_rank,
           round(vt, 6) AS virtual_time
    FROM ordered WHERE step <= {_WFQ_STEPS}
    ORDER BY step
    """,
    tags=("curation", "training", "schedule", "mixing", "wfq"),
)
def q282_wfq_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-fair-queueing interleave of sources into a global
    training order — the step AFTER mixture-weight computation (q240
    temperature mixing, q264 DoReMi decide HOW MUCH of each source;
    this decides WHEN each document is seen): each source's documents
    get virtual finish times r/w (in-source rank over weight =
    sqrt of source token mass), and the global schedule is the merge
    by virtual time — sources emit proportionally to weight at every
    prefix, the property round-robin lacks for unequal weights. Emits
    the first 40 steps.

    Determinism: ranks are integers; sqrt and the r/w division are
    both IEEE correctly-rounded single ops (bit-identical
    cross-engine, the SCALE.md float discipline); ties in vt break by
    (source, doc_id).

    Scale posture: token mass is a partial+final aggregate at source
    grain, broadcast back; in-source ranking partitions by source
    (grain-bounded per source shard — at 100 TB swap for the
    sample-sort rank primitive per source, operators/ranks.py); the
    top-40 of the merged order is a TakeOrdered, and the step number
    is a row_number over ONLY those 40 survivors — no global window
    ever sees the corpus. Reference contract: per-doc virtual-time
    assignment = map slot (``App.config:16``); global merge = reduce
    slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower(F.col("text")), " "))).alias("n_tokens")
    )
    ranked = docs.join(F.broadcast(toks), "source").select(
        "doc_id",
        "source",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("r"),
        F.sqrt(F.col("n_tokens").cast("double")).alias("w"),
    )
    vtimed = ranked.select(
        "doc_id", "source", "r", (F.col("r").cast("double") / F.col("w")).alias("vt")
    )
    top = vtimed.orderBy("vt", "source", "doc_id").limit(_WFQ_STEPS)
    step = F.row_number().over(
        bounded_order("vt", "source", "doc_id")
    )
    return top.select(
        step.alias("step"),
        "source",
        "doc_id",
        F.col("r").cast("long").alias("in_source_rank"),
        F.round("vt", 6).alias("virtual_time"),
    ).orderBy("step")


_NOVELTY_BATCH = 50


@query(
    "q283_ngram_novelty_curve",
    oracle=f"""
    WITH bg AS (
        SELECT DISTINCT doc_id // {_NOVELTY_BATCH} AS batch,
               ws[i + 1] || ' ' || ws[i + 2] AS b
        FROM (
            SELECT doc_id, ws, unnest(range(0, len(ws) - 1)) AS i
            FROM (
                SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents
            )
        )
    ),
    first_seen AS (SELECT b, min(batch) AS fs FROM bg GROUP BY b),
    per_batch AS (
        SELECT batch, count(*) AS n_bigrams FROM bg GROUP BY batch
    ),
    news AS (
        SELECT fs AS batch, count(*) AS n_new FROM first_seen GROUP BY fs
    )
    SELECT p.batch,
           CAST(p.n_bigrams AS BIGINT) AS n_bigrams,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
           ((2 * coalesce(n.n_new, 0) * 10000 + p.n_bigrams)
                // (2 * p.n_bigrams)) / 10000.0 AS novelty_rate
    FROM per_batch p LEFT JOIN news n ON p.batch = n.batch
    ORDER BY p.batch
    """,
    tags=("text", "dedup", "novelty", "curation", "monitoring"),
)
def q283_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: documents arrive in doc_id order in
    batches of 50; each batch reports the fraction of its distinct
    word-bigrams never seen in ANY earlier batch. The curve is how a
    crawl/ingest pipeline decides when a source is exhausted (novelty
    decays toward the template floor) and is the longitudinal
    companion to pairwise near-dup detection (q62/q260): those find
    WHICH documents repeat, this tracks how fast the corpus stops
    teaching anything new.

    Determinism: integer batch assignment (doc_id // 50), exact
    distinct counts, one exact-integer division rounded at 4.

    Scale posture: two partial+final aggregates at bigram grain —
    distinct (batch, bigram), then min(batch) per bigram (first-seen)
    — followed by batch-grain rollups; nothing is ever quadratic and
    no batch's state depends on replaying prior batches (first-seen
    is an associative MIN, so the same query runs incrementally as
    new batches land, the q100 pattern). At 100 TB hash the bigram
    key to 8 bytes to shrink both shuffles. Reference contract:
    per-doc shingling = map slot (``App.config:16``); first-seen
    consolidation = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    ws = docs.select(
        (F.col("doc_id") / _NOVELTY_BATCH).cast("long").alias("batch"),
        F.split(F.lower(F.col("text")), " ").alias("ws"),
    )
    bg = (
        ws.select(
            "batch",
            F.explode(
                F.when(
                    F.size("ws") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - 1),
                        lambda i: F.concat(
                            F.element_at(F.col("ws"), i),
                            F.lit(" "),
                            F.element_at(F.col("ws"), i + 1),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("b"),
        )
        .distinct()
    )
    first_seen = bg.groupBy("b").agg(F.min("batch").alias("fs"))
    per_batch = bg.groupBy("batch").agg(F.count(F.lit(1)).alias("n_bigrams"))
    news = first_seen.groupBy(F.col("fs").alias("batch")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    n_new = F.coalesce(F.col("n_new"), F.lit(0))
    return (
        per_batch.join(news, "batch", "left")
        .select(
            "batch",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            n_new.cast("long").alias("n_new"),
            half_up_ratio(n_new, F.col("n_bigrams"), 4).alias(
                "novelty_rate"
            ),
        )
        .orderBy("batch")
    )


@query(
    "q300_speculative_draft_acceptance",
    oracle="""
    WITH bigr AS (
        SELECT source, ws[i + 1] AS w1, ws[i + 2] AS w2
        FROM (
            SELECT source, ws, unnest(range(0, len(ws) - 1)) AS i
            FROM (SELECT source, string_split(lower(text), ' ') AS ws
                  FROM documents)
        )
    ),
    cnt AS (SELECT w1, w2, count(*) AS c FROM bigr GROUP BY w1, w2),
    mx AS (SELECT w1, max(c) AS mc FROM cnt GROUP BY w1),
    draft AS (
        SELECT c.w1, min(c.w2) AS draft_w2
        FROM cnt c JOIN mx ON c.w1 = mx.w1 AND c.c = mx.mc
        GROUP BY c.w1
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(sum(CASE WHEN b.w2 = d.draft_w2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_accepted,
           ((2 * sum(CASE WHEN b.w2 = d.draft_w2 THEN 1 ELSE 0 END) * 10000
                 + count(*)) // (2 * count(*))) / 10000.0
               AS acceptance_rate,
           ((2 * (count(*) + sum(CASE WHEN b.w2 = d.draft_w2
                                      THEN 1 ELSE 0 END)) * 10000
                 + count(*)) // (2 * count(*))) / 10000.0
               AS est_speedup
    FROM bigr b JOIN draft d ON b.w1 = d.w1
    GROUP BY b.source
    ORDER BY b.source
    """,
    tags=("text", "inference", "speculative-decoding", "lm"),
)
def q300_speculative_draft_acceptance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding acceptance-rate estimation from corpus
    statistics: a bigram draft model proposes, for every token, the
    corpus-wide most frequent continuation (ties: lexicographically
    smallest); the acceptance rate is how often the actual next token
    matches — the α that determines whether speculative decoding pays
    off for this corpus, and the per-source breakdown shows where a
    draft model transfers (est_speedup = 1 + α is the 1-token-draft
    expected tokens-per-verify-step). This is the measurement a
    serving stack runs BEFORE spending on a draft model — on the
    corpus, with no model in the loop.

    Determinism: exact counts; the draft argmax resolves ties by
    max-count-then-min-token (two grouped aggregates — no float
    comparison anywhere); rates are exact-integer divisions rounded 4.

    Scale posture: the corpus explodes once to bigram occurrences; the
    draft table is a (vocab-grain) double aggregate that joins back by
    the preceding-token key — broadcastable for any real vocabulary;
    acceptance rolls up at source grain. No corpus-sized state beyond
    the two shuffles. Reference contract: per-doc bigram emission =
    map slot (``App.config:16``); model + acceptance consolidation =
    reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    ws = docs.select("source", F.split(F.lower(F.col("text")), " ").alias("ws"))
    bigr = ws.select(
        "source",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), i).alias("w1"),
                        F.element_at(F.col("ws"), i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("b"),
    ).select("source", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    cnt = bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    mx = cnt.groupBy("w1").agg(F.max("c").alias("mc")).select(
        F.col("w1").alias("mw1"), "mc"
    )
    draft = (
        cnt.join(mx, (F.col("w1") == F.col("mw1")) & (F.col("c") == F.col("mc")))
        .groupBy(F.col("w1").alias("dw1"))
        .agg(F.min("w2").alias("draft_w2"))
    )
    accepted = F.sum(
        F.when(F.col("w2") == F.col("draft_w2"), 1).otherwise(0)
    )
    return (
        bigr.join(F.broadcast(draft), bigr["w1"] == draft["dw1"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_positions"),
            accepted.cast("long").alias("n_accepted"),
            half_up_ratio(accepted, F.count(F.lit(1)), 4).alias(
                "acceptance_rate"
            ),
            half_up_ratio(
                F.count(F.lit(1)) + accepted, F.count(F.lit(1)), 4
            ).alias("est_speedup"),
        )
        .orderBy("source")
    )


_PHRASE = ("hash", "join")
_PHRASE_TOPN = 25


@query(
    "q303_phrase_query_positional",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, ws[p + 1] AS term, p AS pos
        FROM (
            SELECT doc_id, ws, unnest(range(0, len(ws))) AS p
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents)
        )
        WHERE ws[p + 1] IN ('{_PHRASE[0]}', '{_PHRASE[1]}')
    ),
    pa AS (
        SELECT doc_id, list(pos ORDER BY pos) AS ps, count(*) AS tf
        FROM occ WHERE term = '{_PHRASE[0]}' GROUP BY doc_id
    ),
    pb AS (
        SELECT doc_id, list(pos ORDER BY pos) AS ps, count(*) AS tf
        FROM occ WHERE term = '{_PHRASE[1]}' GROUP BY doc_id
    ),
    hits AS (
        SELECT a.doc_id,
               len(list_intersect(list_transform(a.ps, x -> x + 1), b.ps))
                   AS n_phrase,
               a.tf AS tf_a, b.tf AS tf_b
        FROM pa a JOIN pb b ON a.doc_id = b.doc_id
    )
    SELECT doc_id,
           CAST(n_phrase AS BIGINT) AS n_phrase,
           CAST(tf_a AS BIGINT) AS tf_{_PHRASE[0]},
           CAST(tf_b AS BIGINT) AS tf_{_PHRASE[1]}
    FROM hits WHERE n_phrase >= 1
    ORDER BY n_phrase DESC, doc_id ASC
    LIMIT {_PHRASE_TOPN}
    """,
    tags=("text", "retrieval", "phrase", "positional", "index"),
)
def q303_phrase_query_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query — the operation the positional inverted
    index (q274) exists to serve: find documents containing the exact
    phrase "hash join" by intersecting the two terms' position lists
    with an offset (positions(hash)+1 ∩ positions(join)), counting
    true phrase occurrences per document; top-25 by phrase frequency.
    BM25 (q107) and bag-of-words retrieval cannot distinguish
    "hash join" from "join ... hash" — positional adjacency can.

    Determinism: integer positions, exact set intersection,
    (n_phrase desc, doc_id) total order.

    Scale posture: the term filter pushes down to the scan (only the
    two query terms' occurrences survive the explode — at 100 TB this
    reads the pre-built q274 index instead of re-tokenizing); per-doc
    position lists aggregate in one shuffle at (doc, term) grain and
    the adjacency intersection is per-doc array math; top-k is a
    TakeOrdered. Reference contract: per-doc position extraction =
    map slot (``App.config:16``); phrase-match consolidation = reduce
    slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    occ = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "term"),
    ).where(F.col("term").isin(*_PHRASE))
    pa = (
        occ.where(F.col("term") == _PHRASE[0])
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("ps_a"),
            F.count(F.lit(1)).alias("tf_a"),
        )
    )
    pb = (
        occ.where(F.col("term") == _PHRASE[1])
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("ps_b"),
            F.count(F.lit(1)).alias("tf_b"),
        )
    )
    n_phrase = F.size(
        F.array_intersect(
            F.transform(F.col("ps_a"), lambda x: x + 1), F.col("ps_b")
        )
    )
    return (
        pa.join(pb, "doc_id")
        .select(
            "doc_id",
            n_phrase.cast("long").alias("n_phrase"),
            F.col("tf_a").cast("long").alias(f"tf_{_PHRASE[0]}"),
            F.col("tf_b").cast("long").alias(f"tf_{_PHRASE[1]}"),
        )
        .where(F.col("n_phrase") >= 1)
        .orderBy(F.desc("n_phrase"), F.asc("doc_id"))
        .limit(_PHRASE_TOPN)
    )


_NEG_POW_NUM = 3  # unigram^(3/4): integer-ratio exponent
_NEG_POW_DEN = 4
_NEG_TOPN = 20


@query(
    "q306_negative_sampling_table",
    oracle=f"""
    WITH cnt AS (
        SELECT w, count(*) AS c FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
        ) GROUP BY w
    ),
    pw AS (
        SELECT w, c, pow(CAST(c AS DOUBLE), {_NEG_POW_NUM}.0 / {_NEG_POW_DEN})
                   AS cp
        FROM cnt
    ),
    z AS (
        SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(cp ORDER BY w)), (a, b) -> a + b) AS z
        FROM pw
    )
    SELECT p.w AS token,
           CAST(p.c AS BIGINT) AS count,
           round(p.cp / z.z, 6) AS p_negative,
           ((2 * p.c * 1000000 + (SELECT sum(c) FROM cnt))
                // (2 * (SELECT sum(c) FROM cnt))) / 1000000.0
               AS p_unigram
    FROM pw p CROSS JOIN z
    ORDER BY p.c DESC, p.w ASC
    LIMIT {_NEG_TOPN}
    """,
    tags=("text", "training", "negative-sampling", "word2vec"),
)
def q306_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling distribution table (word2vec/contrastive
    training): tokens are drawn as negatives with probability
    ∝ count^(3/4) — the Mikolov exponent that damps head tokens and
    boosts the tail relative to the raw unigram distribution (both
    columns emitted so the flattening is visible). A trainer
    materializes this table once and samples from it billions of
    times; computing it is one vocabulary-grain aggregate.

    Determinism: pow(c, 0.75) takes exact integer operands identically
    on both engines; the normalizer folds in token order; outputs
    round at 6 with count-then-token ordering.

    Scale posture: one corpus explode → vocab-grain partial+final
    count; the power/normalize math runs at vocab grain with a 1-row
    normalizer broadcast. Reference contract: per-doc token emission =
    map slot (``App.config:16``); distribution consolidation = reduce
    slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    cnt = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pw = cnt.withColumn(
        "cp", F.pow(F.col("c").cast("double"), _NEG_POW_NUM / _NEG_POW_DEN)
    )
    z = pw.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("w"), F.col("cp")))),
                lambda s: s.getField("cp"),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("z")
    )
    tot = cnt.agg(F.sum("c").alias("tot"))
    return (
        pw.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("token"),
            F.col("c").cast("long").alias("count"),
            F.round(F.col("cp") / F.col("z"), 6).alias("p_negative"),
            half_up_ratio(F.col("c"), F.col("tot"), 6).alias(
                "p_unigram"
            ),
        )
        .orderBy(F.desc("count"), F.asc("token"))
        .limit(_NEG_TOPN)
    )


_PFX_MAX_DEPTH = 8


@query(
    "q325_prefix_cache_sharing",
    oracle=f"""
    WITH ks AS (SELECT unnest(generate_series(1, {_PFX_MAX_DEPTH})) AS k),
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pfx AS (
        SELECT ks.k,
               array_to_string(list_slice(t.toks, 1, ks.k), ' ') AS prefix
        FROM tok t CROSS JOIN ks
        WHERE len(t.toks) >= ks.k
    ),
    grp AS (SELECT k, prefix, count(*) AS cnt FROM pfx GROUP BY k, prefix),
    agg AS (
        SELECT k,
               sum(cnt) AS n_docs,
               count(*) AS distinct_prefixes,
               sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS docs_sharing,
               sum((cnt - 1) * k) AS reusable_tokens
        FROM grp GROUP BY k
    )
    SELECT CAST(k AS INTEGER) AS prefix_len,
           CAST(n_docs AS BIGINT) AS n_docs_at_depth,
           CAST(distinct_prefixes AS BIGINT) AS distinct_prefixes,
           CAST(docs_sharing AS BIGINT) AS docs_sharing,
           CAST(reusable_tokens AS BIGINT) AS reusable_tokens,
           ((2 * reusable_tokens * 1000000 + n_docs * k)
                // (2 * n_docs * k)) / 1000000.0 AS cache_hit_ratio
    FROM agg
    ORDER BY prefix_len
    """,
    tags=("llm", "serving", "kv-cache", "prefix", "text"),
)
def q325_prefix_cache_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-prefix-cache sharing audit — the inference-serving planner's
    first question about a corpus: at token-prefix depth k (1–8
    whitespace tokens), how many documents share their prefix with at
    least one other, and what fraction of prefix tokens a shared
    radix-tree cache (vLLM/SGLang automatic prefix caching) would
    serve from cache if requests were grouped by prefix. reusable(k) =
    Σ over prefix groups (cnt−1)·k; the hit ratio divides by the k·n
    prefix tokens processed at that depth.

    Determinism: exact counts; one rounded division of exact integers.

    Scale posture: the corpus explodes to ≤8 (depth, prefix) rows per
    doc, aggregates partial+final on the compound key, then collapses
    to EIGHT depth rows. At 100 TB the prefix string shuffle key is
    replaced by xxhash64(prefix) (8-byte keys, same counts) — the
    q69 contamination-gram discipline. Reference contract: per-doc
    prefix emission = map slot (``App.config:16``); depth roll-up =
    reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    pfx = (
        docs.select(F.split(F.col("text"), " ").alias("toks"))
        .select(
            F.explode(
                F.sequence(F.lit(1), F.lit(_PFX_MAX_DEPTH))
            ).alias("k"),
            F.col("toks"),
        )
        .where(F.size("toks") >= F.col("k"))
        .select(
            "k",
            F.array_join(F.expr("slice(toks, 1, k)"), " ").alias("prefix"),
        )
    )
    grp = pfx.groupBy("k", "prefix").agg(F.count(F.lit(1)).alias("cnt"))
    agg = grp.groupBy("k").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("distinct_prefixes"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
            "docs_sharing"
        ),
        F.sum((F.col("cnt") - 1) * F.col("k")).alias("reusable_tokens"),
    )
    return agg.select(
        F.col("k").cast("integer").alias("prefix_len"),
        F.col("n_docs").cast("long").alias("n_docs_at_depth"),
        F.col("distinct_prefixes").cast("long").alias("distinct_prefixes"),
        F.col("docs_sharing").cast("long").alias("docs_sharing"),
        F.col("reusable_tokens").cast("long").alias("reusable_tokens"),
        half_up_ratio(
            F.col("reusable_tokens"), F.col("n_docs") * F.col("k"), 6
        ).alias("cache_hit_ratio"),
    ).orderBy("prefix_len")


_SUBWORD_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@query(
    "q326_tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
           CAST(sum(len(regexp_extract_all(text, '{_SUBWORD_RE}')))
                AS BIGINT) AS total_subwords,
           ((2 * sum(n_chars) * 1000000
                 + sum(len(regexp_extract_all(text, '{_SUBWORD_RE}'))))
                // (2 * sum(len(regexp_extract_all(text, '{_SUBWORD_RE}')))))
               / 1000000.0 AS chars_per_subword,
           ((2 * sum(len(regexp_extract_all(text, '{_SUBWORD_RE}')))
                 * 1000000 + sum(len(string_split(text, ' '))))
                // (2 * sum(len(string_split(text, ' ')))))
               / 1000000.0 AS fertility
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "tokenizer", "fertility", "text"),
)
def q326_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the multilingual-tokenizer
    health metric (tokens emitted per whitespace word) plus its dual
    (characters per token): a language whose fertility is 2× the
    corpus median pays 2× the context budget for the same content,
    the standard argument for retraining the vocabulary before a
    multilingual run. The subword proxy is the BPE-ish pre-tokenizer
    split (letter runs | single digits | single punctuation).

    Determinism: token counts are exact integers; two rounded
    divisions per language.

    Scale posture: regex counting is a stateless map; ONE partial+
    final aggregate on the low-cardinality ``lang`` key — map-side
    combine does virtually all the reduction. Reference contract:
    per-doc token accounting = map slot (``App.config:16``); language
    roll-up = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    subwords = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_SUBWORD_RE), 0)
    )
    words = F.size(F.split(F.col("text"), " "))
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(words).alias("total_words"),
        F.sum(subwords).alias("total_subwords"),
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.col("total_words").cast("long").alias("total_words"),
        F.col("total_subwords").cast("long").alias("total_subwords"),
        half_up_ratio(
            F.col("total_chars"), F.col("total_subwords"), 6
        ).alias("chars_per_subword"),
        half_up_ratio(
            F.col("total_subwords"), F.col("total_words"), 6
        ).alias("fertility"),
    ).orderBy("lang")


_TYPO_RATE_MOD = 100   # corrupt 1% of token occurrences
_TYPO_MIN_LEN = 3      # never corrupt 1-2 char tokens
_SS_FREQ_MULT = 50     # frequent <=> cnt * 50 > total (scale-free)
_SS_RATIO = 10         # correction needs cnt_f >= 10 * cnt_r


@query(
    "q332_symspell_typo_correction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, s.tok AS tok, s.p AS pos FROM (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, ' '),
                       (t, i) -> struct_pack(tok := t, p := i))) AS s
            FROM documents)
    ),
    stream AS (
        SELECT CASE WHEN ('0x' || substr(md5('typo|' || CAST(doc_id AS VARCHAR)
                        || '|' || CAST(pos AS VARCHAR)), 1, 8))::BIGINT
                        % {_TYPO_RATE_MOD} = 0
                    AND len(tok) >= {_TYPO_MIN_LEN}
               THEN substr(tok, 1, CAST(('0x' || substr(md5('pos|'
                        || CAST(doc_id AS VARCHAR) || '|'
                        || CAST(pos AS VARCHAR)), 1, 8))::BIGINT
                        % len(tok) AS INTEGER))
                    || substr(tok, CAST(('0x' || substr(md5('pos|'
                        || CAST(doc_id AS VARCHAR) || '|'
                        || CAST(pos AS VARCHAR)), 1, 8))::BIGINT
                        % len(tok) AS INTEGER) + 2, len(tok))
               ELSE tok END AS tok
        FROM toks
    ),
    counts AS (SELECT tok, count(*) AS cnt FROM stream GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM counts),
    vocab AS (
        SELECT c.tok, c.cnt,
               (c.cnt * {_SS_FREQ_MULT} > t.total) AS is_freq
        FROM counts c CROSS JOIN tot t
    ),
    rare AS (SELECT tok, cnt FROM vocab WHERE NOT is_freq),
    freq AS (SELECT tok, cnt FROM vocab WHERE is_freq),
    rv AS (
        SELECT tok, cnt, s.v AS v, s.p AS p FROM (
            SELECT tok, cnt,
                   unnest(list_transform(generate_series(1, len(tok)),
                       i -> struct_pack(v := substr(tok, 1, i - 1)
                                || substr(tok, i + 1, len(tok)), p := i))) AS s
            FROM rare)
    ),
    fv AS (
        SELECT tok, cnt, s.v AS v, s.p AS p FROM (
            SELECT tok, cnt,
                   unnest(list_transform(generate_series(1, len(tok)),
                       i -> struct_pack(v := substr(tok, 1, i - 1)
                                || substr(tok, i + 1, len(tok)), p := i))) AS s
            FROM freq)
    ),
    cands AS (
        SELECT rv.tok AS r, f.tok AS f, rv.cnt AS cnt_r, f.cnt AS cnt_f
        FROM rv JOIN freq f ON rv.v = f.tok
        UNION
        SELECT r.tok, fv.tok, r.cnt, fv.cnt
        FROM fv JOIN rare r ON fv.v = r.tok
        UNION
        SELECT rv.tok, fv.tok, rv.cnt, fv.cnt
        FROM rv JOIN fv ON rv.v = fv.v AND rv.p = fv.p
        WHERE len(rv.tok) = len(fv.tok) AND rv.tok <> fv.tok
    ),
    scored AS (
        SELECT r, f, cnt_r, cnt_f,
               row_number() OVER (PARTITION BY r
                                  ORDER BY cnt_f DESC, f) AS rk
        FROM cands
        WHERE cnt_f >= {_SS_RATIO} * cnt_r
    )
    SELECT r AS typo, f AS correction,
           CAST(cnt_r AS BIGINT) AS typo_count,
           CAST(cnt_f AS BIGINT) AS correction_count
    FROM scored WHERE rk = 1
    ORDER BY typo
    """,
    tags=("llm", "text", "symspell", "spell-correction", "dedup"),
)
def q332_symspell_typo_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style spell-correction table: find, for every rare
    token within edit distance 1 of a frequent token, its best
    correction — via the deletion-neighborhood blocking join (Garbe's
    SymSpell), never a quadratic edit-distance scan. ed(r,f)=1 holds
    iff f is a 1-deletion of r, r is a 1-deletion of f, or they share
    a 1-deletion variant at the SAME position (substitution); the
    position condition matters — "ab"/"ba" share variant "a" at
    different positions but are distance 2. The fixture vocabulary is
    clean, so the query first injects deterministic 1% character-
    deletion noise (md5 occurrence channel — the documented corpus-
    corruption harness), then provably recovers the corrections: a
    rare form maps to a frequent form with ≥10× its count.

    Determinism: corruption is md5(doc,pos)-channel; counts exact;
    the frequent/rare split is the scale-free integer test
    cnt·50 > total; best-correction ties break (count desc, word).

    Scale posture: corruption is a stateless map; token counting is
    partial+final; ALL candidate joins run at VOCABULARY grain
    (tokens × word-length deletion variants — thousands of rows at
    100 TB, not billions) with equi-keys (variant) or (variant, pos),
    so the corpus is touched exactly twice (count + nothing else).
    Reference contract: per-doc token emission = map slot
    (``App.config:16``); vocabulary join + correction pick = reduce
    slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")

    def chan(tag: str) -> Column:
        return hex_int(
            F.md5(
                F.concat(
                    F.lit(tag + "|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            8,
        )

    del_idx = chan("pos") % F.length("tok")  # 0-based deletion index
    stream = toks.select(
        F.when(
            (chan("typo") % _TYPO_RATE_MOD == 0)
            & (F.length("tok") >= _TYPO_MIN_LEN),
            F.concat(
                F.col("tok").substr(F.lit(1), del_idx),
                F.col("tok").substr(del_idx + 2, F.length("tok")),
            ),
        )
        .otherwise(F.col("tok"))
        .alias("tok")
    )
    counts = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"))
    vocab = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        "cnt",
        (F.col("cnt") * _SS_FREQ_MULT > F.col("total")).alias("is_freq"),
    )
    rare = vocab.filter(~F.col("is_freq")).select("tok", "cnt")
    freq = vocab.filter(F.col("is_freq")).select("tok", "cnt")

    def variants(df: DataFrame) -> DataFrame:
        return df.select(
            "tok",
            "cnt",
            F.expr(
                "posexplode(transform(sequence(1, length(tok)),"
                " i -> concat(substring(tok, 1, i - 1),"
                " substring(tok, i + 1, length(tok)))))"
            ).alias("p0", "v"),
        ).select("tok", "cnt", (F.col("p0") + 1).alias("p"), "v")

    rv = variants(rare)
    fv = variants(freq)
    ca = rv.join(
        freq.select(F.col("tok").alias("f"), F.col("cnt").alias("cnt_f")),
        rv["v"] == F.col("f"),
    ).select(F.col("tok").alias("r"), F.col("cnt").alias("cnt_r"), "f", "cnt_f")
    cb = fv.join(
        rare.select(F.col("tok").alias("r"), F.col("cnt").alias("cnt_r")),
        fv["v"] == F.col("r"),
    ).select("r", "cnt_r", F.col("tok").alias("f"), F.col("cnt").alias("cnt_f"))
    cc = (
        rv.select(
            F.col("tok").alias("r"), F.col("cnt").alias("cnt_r"), "v", "p"
        )
        .join(
            fv.select(
                F.col("tok").alias("f"), F.col("cnt").alias("cnt_f"), "v", "p"
            ),
            ["v", "p"],
        )
        .where(
            (F.length("r") == F.length("f")) & (F.col("r") != F.col("f"))
        )
        .select("r", "cnt_r", "f", "cnt_f")
    )
    cands = ca.unionByName(cb).unionByName(cc).distinct()
    w = Window.partitionBy("r").orderBy(F.desc("cnt_f"), F.asc("f"))
    return (
        cands.where(F.col("cnt_f") >= _SS_RATIO * F.col("cnt_r"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("r").alias("typo"),
            F.col("f").alias("correction"),
            F.col("cnt_r").cast("long").alias("typo_count"),
            F.col("cnt_f").cast("long").alias("correction_count"),
        )
        .orderBy("typo")
    )


@query(
    "q346_incremental_index_maintenance",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    base_idx AS (
        SELECT word, count(DISTINCT doc_id) AS df, count(*) AS cf
        FROM toks WHERE doc_id % 10 <> 0 GROUP BY word
    ),
    delta_idx AS (
        SELECT word, count(DISTINCT doc_id) AS df, count(*) AS cf
        FROM toks WHERE doc_id % 10 = 0 GROUP BY word
    ),
    merged AS (
        SELECT coalesce(b.word, d.word) AS word,
               coalesce(b.df, 0) + coalesce(d.df, 0) AS df,
               coalesce(b.cf, 0) + coalesce(d.cf, 0) AS cf
        FROM base_idx b FULL OUTER JOIN delta_idx d USING (word)
    ),
    rebuild AS (
        SELECT word, count(DISTINCT doc_id) AS df, count(*) AS cf
        FROM toks GROUP BY word
    )
    SELECT m.word,
           CAST(m.df AS BIGINT) AS doc_freq,
           CAST(m.cf AS BIGINT) AS term_count,
           (m.df = r.df AND m.cf = r.cf) AS matches_rebuild
    FROM merged m JOIN rebuild r ON m.word = r.word
    ORDER BY m.cf DESC, m.word
    LIMIT 20
    """,
    tags=("text", "index", "incremental", "ivm", "retrieval"),
)
def q346_incremental_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental inverted-index maintenance — the L8/L9 gather shape
    applied to index freshness: a delta batch (10% of documents)
    indexes on its own, merges into the standing base index with a
    keyed full-outer ADD (document frequency and term count are both
    mergeable counters), and the result is audited cell-by-cell
    against a from-scratch rebuild — the equivalence that makes
    incremental view maintenance trustworthy. Valid because doc sets
    are DISJOINT by the split, so count(DISTINCT doc) adds exactly.

    Determinism: all counters exact; tie-break (count desc, word) on
    the top-20 cut.

    Scale posture: only the DELTA is tokenized per refresh at
    production scale (the base index is stored state — here both
    sides rebuild from the fixture for the audit); the merge is a
    keyed outer join at vocabulary grain; the rollup is partial+final
    with map-side combine. Reference contract: per-doc posting
    emission = map slot (``App.config:16``); index merge = reduce
    slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).persist()

    def idx(df: DataFrame) -> DataFrame:
        return df.groupBy("word").agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
        )

    base = idx(toks.where(F.col("doc_id") % 10 != 0)).select(
        "word", F.col("df").alias("df_b"), F.col("cf").alias("cf_b")
    )
    delta = idx(toks.where(F.col("doc_id") % 10 == 0)).select(
        "word", F.col("df").alias("df_d"), F.col("cf").alias("cf_d")
    )
    merged = (
        base.join(delta, "word", "full_outer")
        .select(
            "word",
            (
                F.coalesce("df_b", F.lit(0)) + F.coalesce("df_d", F.lit(0))
            ).alias("df"),
            (
                F.coalesce("cf_b", F.lit(0)) + F.coalesce("cf_d", F.lit(0))
            ).alias("cf"),
        )
    )
    rebuild = idx(toks).select(
        "word", F.col("df").alias("df_r"), F.col("cf").alias("cf_r")
    )
    return (
        merged.join(rebuild, "word")
        .select(
            "word",
            F.col("df").cast("long").alias("doc_freq"),
            F.col("cf").cast("long").alias("term_count"),
            (
                (F.col("df") == F.col("df_r"))
                & (F.col("cf") == F.col("cf_r"))
            ).alias("matches_rebuild"),
        )
        .orderBy(F.desc("term_count"), F.asc("word"))
        .limit(20)
    )


# Deterministic corruption classes for the encoding audit: every 17th
# doc gets a U+FFFD replacement char, the next a BEL control byte, the
# next the classic 'Ã©' UTF-8-as-Latin-1 digraph. chr() codepoints are
# used on both engines so no raw bytes live in source text.
_ENC_REPL = "�"
_ENC_CTRL = "\x07"
_ENC_MOJI = "Ã©"  # 'Ã©'


@query(
    "q358_encoding_corruption_audit",
    oracle=f"""
    WITH corrupted AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 17 = 0 THEN text || ' ' || chr(65533)
                    WHEN doc_id % 17 = 1 THEN text || ' ' || chr(7)
                    WHEN doc_id % 17 = 2
                        THEN text || ' ' || chr(195) || chr(169)
                    ELSE text END AS t
        FROM documents
    ),
    flags AS (
        SELECT source,
               CASE WHEN strpos(t, chr(65533)) > 0 THEN 1 ELSE 0 END AS f_repl,
               CASE WHEN regexp_matches(t, '[\\x00-\\x08\\x0b-\\x1f]')
                    THEN 1 ELSE 0 END AS f_ctrl,
               CASE WHEN strpos(t, chr(195) || chr(169)) > 0
                      OR strpos(t, chr(226) || chr(8364)) > 0
                    THEN 1 ELSE 0 END AS f_moji
        FROM corrupted
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_repl) AS BIGINT) AS n_replacement,
           CAST(sum(f_ctrl) AS BIGINT) AS n_control,
           CAST(sum(f_moji) AS BIGINT) AS n_mojibake,
           CAST((1000000 * sum(CASE WHEN f_repl + f_ctrl + f_moji = 0
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS clean_ppm
    FROM flags
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "quality", "encoding", "audit", "llm"),
)
def q358_encoding_corruption_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-corruption audit for a text corpus: per source, how
    many documents carry U+FFFD replacement characters (lossy decode),
    C0 control bytes (binary bleed-through), or the classic
    UTF-8-read-as-Latin-1 mojibake digraphs ('Ã©', 'â€¦') — the three
    signatures a web-crawl quality gate screens before tokenization
    (corrupt encodings poison BPE merges and inflate vocab with junk).
    The fixture corpus is clean ASCII, so corruption is INJECTED
    deterministically first (every 17th doc per class — the q332
    deterministic-corruption discipline) and the detector must find
    exactly those.

    Determinism: corruption and detection are pure string ops on
    shared codepoints (chr() on both engines — no raw bytes in source
    text); counts are integers; the clean rate is a floor-scaled
    integer ppm.

    Scale posture: one stateless map over documents (flags are
    per-row expressions — whole-stage codegen territory), one
    |sources|-grain partial+final rollup. This is the cheapest kind
    of corpus pass and the plan shows it. Reference contract: per-doc
    flagging = map slot, rollup = reduce slot (``App.config:16-17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    t = (
        F.when(F.col("doc_id") % 17 == 0, F.concat("text", F.lit(" " + _ENC_REPL)))
        .when(F.col("doc_id") % 17 == 1, F.concat("text", F.lit(" " + _ENC_CTRL)))
        .when(F.col("doc_id") % 17 == 2, F.concat("text", F.lit(" " + _ENC_MOJI)))
        .otherwise(F.col("text"))
    )
    flags = docs.select(
        "source",
        (F.instr(t, _ENC_REPL) > 0).cast("int").alias("f_repl"),
        t.rlike("[\\x00-\\x08\\x0b-\\x1f]").cast("int").alias("f_ctrl"),
        (
            (F.instr(t, _ENC_MOJI) > 0)
            | (F.instr(t, "â€") > 0)
        ).cast("int").alias("f_moji"),
    )
    clean = F.when(
        F.col("f_repl") + F.col("f_ctrl") + F.col("f_moji") == 0, 1
    ).otherwise(0)
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("f_repl").cast("long").alias("n_replacement"),
            F.sum("f_ctrl").cast("long").alias("n_control"),
            F.sum("f_moji").cast("long").alias("n_mojibake"),
            F.expr(
                "cast((1000000 * sum(case when f_repl + f_ctrl + f_moji = 0 "
                "then 1 else 0 end)) div count(1) as bigint)"
            ).alias("clean_ppm"),
        )
        .orderBy("source")
    )


# q107's BM25 query terms {data, model, training} include words absent
# from the fixture vocabulary (cf = 0 -> ln(0) errors in DuckDB, null in
# Spark); query likelihood needs cf > 0, so the fixed query uses three
# terms probed present at every SF (selectivity discipline).
_QL_TERMS = ("data", "spark", "join")
_QL_MU = 200.0


@query(
    "q360_query_likelihood_dirichlet",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws
        FROM documents
    ),
    tf AS (
        SELECT doc_id, len(ws) AS dl,
               {", ".join(
                   f"len(list_filter(ws, x -> x = '{t}')) AS tf_{t}"
                   for t in _QL_TERMS)}
        FROM d
    ),
    coll AS (
        SELECT CAST(sum(dl) AS DOUBLE) AS cl,
               {", ".join(
                   f"CAST(sum(tf_{t}) AS DOUBLE) AS cf_{t}"
                   for t in _QL_TERMS)}
        FROM tf
    )
    SELECT tf.doc_id,
           CAST(tf.dl AS BIGINT) AS doc_len,
           round({" + ".join(
               f"ln((tf.tf_{t} + {_QL_MU} * (coll.cf_{t} / coll.cl))"
               f" / (tf.dl + {_QL_MU}))"
               for t in _QL_TERMS)}, 6) AS ql_score
    FROM tf CROSS JOIN coll
    ORDER BY ql_score DESC, tf.doc_id
    LIMIT 10
    """,
    tags=("text", "retrieval", "language-model", "dirichlet", "llm"),
)
def q360_query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty)
    for a fixed query {data, spark, join} — deliberately a DIFFERENT
    term set from q107's BM25 query ({data, model, training}), because
    'model'/'training' have collection frequency 0 in this fixture and
    DuckDB's ln(0) is a hard error (the SKILL ln-probe rule); every
    QL term is chosen for nonzero cf:
    score(d) = Σ_w ln((tf + μ·p(w|C)) / (|d| + μ)), μ = 200 — the
    language-modeling ranking baseline that complements BM25 (sparse
    heuristic) and q79 (dense): three retrieval families over one
    corpus lets an eval harness (q293's nDCG) compare them directly.

    Determinism: term frequencies are map-side array filters (exact
    ints); the collection model is one 1-row aggregate; the 3-term
    score sums ln() terms in FIXED expression order (engine-identical
    accumulation; libm ulps absorbed by round(6)); the top-10 ranks
    the ROUNDED score with a doc_id tie-break.

    Scale posture: exactly q107's shape — two corpus scans (collection
    stats, scoring), stats broadcast back as one row, scoring pure
    map-side, TakeOrdered(10). Zero token-level shuffles: the filter
    runs inside the row. Reference contract: per-doc scoring = map
    slot (``App.config:16``); ranked cut = reduce slot
    (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    ws = F.split(F.lower(F.col("text")), " ")
    # Per-term tf via a closure FACTORY — a default-arg lambda
    # (lambda x, t=t: ...) is the 2-arg higher-order-function form and
    # binds t to the ELEMENT INDEX (SKILL trap).

    def tf_of(term):
        return F.size(F.filter(ws, lambda x: x == F.lit(term)))

    tf = docs.select(
        "doc_id",
        F.size(ws).alias("dl"),
        *[tf_of(t).alias(f"tf_{t}") for t in _QL_TERMS],
    )
    coll = tf.agg(
        F.sum("dl").cast("double").alias("cl"),
        *[F.sum(f"tf_{t}").cast("double").alias(f"cf_{t}") for t in _QL_TERMS],
    )
    score = None
    for t in _QL_TERMS:
        term = F.log(
            (F.col(f"tf_{t}") + _QL_MU * (F.col(f"cf_{t}") / F.col("cl")))
            / (F.col("dl") + _QL_MU)
        )
        score = term if score is None else score + term
    return (
        tf.crossJoin(F.broadcast(coll))
        .select(
            "doc_id",
            F.col("dl").cast("long").alias("doc_len"),
            F.round(score, 6).alias("ql_score"),
        )
        .orderBy(F.desc("ql_score"), F.asc("doc_id"))
        .limit(10)
    )


_KN_D = 0.75  # absolute discount


@query(
    "q368_kneser_ney_bigram_lm",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    bg AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2
        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
              FROM toks)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (
        SELECT w1, sum(c) AS c1, count(*) AS fanout FROM c12 GROUP BY w1
    ),
    cont AS (SELECT w2, count(*) AS n_prec FROM c12 GROUP BY w2),
    t AS (SELECT count(*) AS n_types FROM c12)
    SELECT x.w1, x.w2,
           CAST(x.c AS BIGINT) AS c_bigram,
           CAST(c1.c1 AS BIGINT) AS c_unigram,
           round(greatest(x.c - {_KN_D}, 0) / c1.c1
                 + ({_KN_D} * c1.fanout / c1.c1)
                   * (cont.n_prec / CAST(t.n_types AS DOUBLE)),
                 6) AS p_kn
    FROM c12 x
    JOIN c1 ON x.w1 = c1.w1
    JOIN cont ON x.w2 = cont.w2
    CROSS JOIN t
    ORDER BY x.c DESC, x.w1, x.w2
    LIMIT 20
    """,
    tags=("text", "language-model", "kneser-ney", "smoothing", "llm"),
)
def q368_kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram language model (absolute
    discount d = 0.75): P(w2|w1) = max(c12−d, 0)/c1 +
    (d·|fanout(w1)|/c1)·P_cont(w2), where the continuation
    probability P_cont counts how many DISTINCT contexts precede w2 —
    the smoothing insight ("Francisco" is frequent but only ever
    follows "San") that makes KN the standard n-gram smoother, and
    the upgrade over q257's add-one LM whose mass assignment this
    replaces. Emits the top-20 bigrams with their component counts.

    Determinism: all model state is exact integer counts; p_kn is a
    fixed-order arithmetic expression over exact operands (one
    greatest(), three divisions, identical text both engines) rounded
    at 6; the top-20 ranks by exact count with a bigram tie-break.

    Scale posture: the model is three partial+final aggregates at
    bigram-type / context-type / continuation-type grain — vocab²-
    bounded state, never corpus-grain after the first explode; the
    probability join touches type-grain tables only and the 20-row
    cut is TakeOrdered. Exactly the shape a KenLM-style training job
    distributes. Reference contract: bigram extraction = map slot
    (``App.config:16``); smoothing consolidation = reduce slot
    (``App.config:17``)."""
    # Spread the single-split fixture scan before the CPU-heavy bigram
    # explode (no-op at scale where the source has many splits).
    docs = load_tables(spark, sf_dir)["documents"].repartition(32, "doc_id")
    ws = F.split(F.lower(F.col("text")), " ")
    bg = docs.select(
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.struct(
                        F.element_at(ws, i).alias("w1"),
                        F.element_at(ws, i + 1).alias("w2"),
                    ),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # Persisted (the q239 rule): c12 feeds FOUR separate aggregate
    # subtrees (c1, cont, n_types, and the final join) and Catalyst
    # does not reuse exchanges across them — uncached, the corpus
    # explodes into bigram pairs four times (4 parquet scans observed).
    # The cache is bigram-TYPE grain, vocab²-bounded; lifetime follows
    # the wf convention above (runners clearCache() per query).
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).persist()
    c1 = c12.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("fanout")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n_prec"))
    t = c12.agg(F.count(F.lit(1)).alias("n_types"))
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c_bigram"),
            F.col("c1").cast("long").alias("c_unigram"),
            F.round(
                F.greatest(F.col("c") - _KN_D, F.lit(0.0)) / F.col("c1")
                + (_KN_D * F.col("fanout") / F.col("c1"))
                * (F.col("n_prec") / F.col("n_types").cast("double")),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.desc("c_bigram"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


_VARINT_TOP = 30


@query(
    "q369_postings_delta_varint_size",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    gaps AS (
        SELECT term, doc_id,
               doc_id - lag(doc_id)
                   OVER (PARTITION BY term ORDER BY doc_id) AS gap
        FROM toks
    ),
    sized AS (
        SELECT term,
               count(*) AS df,
               sum(CASE WHEN coalesce(gap, doc_id + 1) < 128 THEN 1
                        WHEN coalesce(gap, doc_id + 1) < 16384 THEN 2
                        WHEN coalesce(gap, doc_id + 1) < 2097152 THEN 3
                        ELSE 4 END) AS delta_bytes
        FROM gaps GROUP BY term
    )
    SELECT term,
           CAST(df AS BIGINT) AS df,
           CAST(delta_bytes AS BIGINT) AS delta_bytes,
           CAST(8 * df AS BIGINT) AS raw_bytes,
           CAST((1000000 * (8 * df - delta_bytes)) // (8 * df) AS BIGINT)
               AS savings_ppm
    FROM sized
    ORDER BY df DESC, term
    LIMIT {_VARINT_TOP}
    """,
    tags=("text", "index", "compression", "varint", "storage"),
)
def q369_postings_delta_varint_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list delta + varint size estimation: for the 30
    highest-DF terms, the byte cost of storing each term's sorted
    doc-id list as varint-encoded GAPS (first entry encodes doc_id+1)
    versus raw 8-byte ids — the storage calculus behind every
    inverted index (q274/q303/q346 build the lists; this prices
    them), and the reason dense postings compress ~8× (gaps of hot
    terms are small). Savings are floor-scaled integer ppm.

    Determinism: gaps are exact integer differences from a lag over a
    total (term, doc_id) order; varint width is a pure CASE on
    128/16384/2097152 thresholds; every output is an integer.

    Scale posture: one distinct (term, doc) shuffle, then the lag
    window is PARTITIONED BY TERM (data-partitioned — hot-term skew
    is bounded by df and handled by AQE; at extreme skew, split hot
    terms' lists by doc-range and add per-range carry gaps). The
    rollup is term-grain; the 30-row cut is TakeOrdered. Reference
    contract: per-doc term emission = map slot (``App.config:16``);
    sizing consolidation = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).distinct()
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = toks.withColumn(
        "gap", F.coalesce(F.col("doc_id") - F.lag("doc_id").over(w),
                          F.col("doc_id") + 1)
    )
    vbytes = (
        F.when(F.col("gap") < 128, 1)
        .when(F.col("gap") < 16384, 2)
        .when(F.col("gap") < 2097152, 3)
        .otherwise(4)
    )
    sized = gaps.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(vbytes).alias("delta_bytes"),
    )
    return (
        sized.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("delta_bytes").cast("long").alias("delta_bytes"),
            (8 * F.col("df")).cast("long").alias("raw_bytes"),
            F.expr(
                "cast((1000000 * (8 * df - delta_bytes)) div (8 * df) as bigint)"
            ).alias("savings_ppm"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_VARINT_TOP)
    )


def _tdi_oracle() -> str:
    """Team-draft interleave oracle: the two ranker subqueries are the
    REGISTERED q107/q360 oracles verbatim (nested-WITH subqueries), so
    the composition inherits their verified semantics; the draft fold
    encodes (doc, team) pairs in one flat BIGINT list (same-type
    accumulator, the q267 rule)."""
    bm = REGISTRY["q107_bm25_retrieval"].oracle
    ql = REGISTRY["q360_query_likelihood_dirichlet"].oracle
    picked = "list_transform(range(1, len(acc) // 2 + 1), i -> acc[2 * i - 1])"
    cand = lambda side: (  # noqa: E731
        f"list_filter({side}, e -> NOT list_contains({picked}, e))[1]"
    )
    step = f"""
        CASE
          WHEN (len(acc) // 2) % 2 = 0 THEN
            CASE WHEN {cand('a')} IS NOT NULL
                 THEN list_append(list_append(acc, {cand('a')}), 0)
                 WHEN {cand('b')} IS NOT NULL
                 THEN list_append(list_append(acc, {cand('b')}), 1)
                 ELSE acc END
          ELSE
            CASE WHEN {cand('b')} IS NOT NULL
                 THEN list_append(list_append(acc, {cand('b')}), 1)
                 WHEN {cand('a')} IS NOT NULL
                 THEN list_append(list_append(acc, {cand('a')}), 0)
                 ELSE acc END
        END"""
    return f"""
    WITH aq AS (SELECT * FROM ({bm})),
    bq AS (SELECT * FROM ({ql})),
    arrs AS (
        SELECT (SELECT list(doc_id ORDER BY bm25 DESC, doc_id) FROM aq) AS a,
               (SELECT list(doc_id ORDER BY ql_score DESC, doc_id) FROM bq)
                   AS b
    ),
    folded AS (
        SELECT list_reduce(
            list_prepend(CAST([] AS BIGINT[]),
                         list_transform(range(20), z -> CAST([0] AS BIGINT[]))),
            (acc, x) -> {step}) AS acc
        FROM arrs
    )
    SELECT CAST(i AS INTEGER) AS position,
           acc[2 * i - 1] AS doc_id,
           CAST(acc[2 * i] AS INTEGER) AS team
    FROM folded, unnest(range(1, len(acc) // 2 + 1)) t(i)
    ORDER BY position
    """


@query(
    "q377_team_draft_interleave",
    oracle=_tdi_oracle(),
    tags=("retrieval", "evaluation", "interleaving", "ir"),
)
def q377_team_draft_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Team-draft interleaving of two rankers (Radlinski et al.) —
    BM25 (q107) vs Dirichlet query likelihood (q360). The two rankers
    answer DIFFERENT fixed queries ({data, model, training} vs
    {data, spark, join} — q360's terms need nonzero collection
    frequency); the draft exercises the interleave mechanics over
    their top-10 lists, not an A/B of one shared query. Teams
    alternate picks (A first, deterministically — the
    production coin flip is per-impression), each taking its
    highest-ranked not-yet-picked document, falling back to the other
    list when exhausted. The interleaved list is what an online
    ranker comparison SERVES; clicks on team-A vs team-B documents
    then decide the winner with per-impression sensitivity no offline
    metric (q293's nDCG) matches. Composes two verified operators —
    the oracle embeds their REGISTERED oracle texts as subqueries.

    Determinism: both input rankings order by (rounded score desc,
    doc_id); the draft is a 20-step fold over a flat [doc, team, ...]
    BIGINT accumulator (same-type list, the q267 rule) with identical
    pick logic on both engines — pure integer list operations.

    Scale posture: the ranker subplans keep their own posture (two
    corpus scans + TakeOrdered each); the draft folds over two
    10-element arrays on a 1-row frame. Reference contract: the two
    rankers are map-slot programs; the interleave is the reduce slot
    (``App.config:16-17``)."""
    a_df = REGISTRY["q107_bm25_retrieval"].fn(spark, sf_dir)
    b_df = REGISTRY["q360_query_likelihood_dirichlet"].fn(spark, sf_dir)

    def ordered_ids(df, score):
        return df.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.lit(0.0) - F.col(score)).alias("k"),
                            F.col("doc_id").alias("d"),
                        )
                    )
                ),
                lambda s: s.getField("d"),
            ).alias("ids")
        )

    arrs = (
        ordered_ids(a_df, "bm25")
        .select(F.col("ids").alias("a"))
        .crossJoin(
            F.broadcast(
                ordered_ids(b_df, "ql_score").select(F.col("ids").alias("b"))
            )
        )
    )

    def picked(acc):
        # guard: on the empty accumulator sequence(1, 0) is a
        # DESCENDING [1, 0] (SKILL trap) and element_at(acc, 1) throws
        return F.when(
            F.size(acc) >= 2,
            F.transform(
                F.sequence(F.lit(1), (F.size(acc) / 2).cast("integer")),
                lambda i: F.element_at(acc, (2 * i - 1).cast("integer")),
            ),
        ).otherwise(F.array().cast("array<long>"))

    def cand(side, acc):
        # try_element_at: the filtered list is EMPTY when the side is
        # exhausted (plain element_at throws on index 1 of []).
        return F.try_element_at(
            F.filter(
                F.col(side),
                lambda e: ~F.array_contains(picked(acc), e),
            ),
            F.lit(1),
        )

    def take(acc, first, second, t_first, t_second):
        c1, c2 = cand(first, acc), cand(second, acc)
        return (
            F.when(
                c1.isNotNull(),
                F.concat(acc, F.array(c1, F.lit(t_first).cast("long"))),
            )
            .when(
                c2.isNotNull(),
                F.concat(acc, F.array(c2, F.lit(t_second).cast("long"))),
            )
            .otherwise(acc)
        )

    fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(20)),
        F.array().cast("array<long>"),
        lambda acc, _: F.when(
            ((F.size(acc) / 2).cast("int") % 2) == 0,
            take(acc, "a", "b", 0, 1),
        ).otherwise(take(acc, "b", "a", 1, 0)),
    )
    folded = arrs.select(fold.alias("acc"))
    return (
        folded.select(
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), (F.size("acc") / 2).cast("integer")),
                    lambda i: F.struct(
                        F.element_at(F.col("acc"), (2 * i - 1).cast("integer")).alias("d"),
                        F.element_at(F.col("acc"), (2 * i).cast("integer")).alias("t"),
                    ),
                )
            ).alias("pos0", "p")
        )
        .select(
            (F.col("pos0") + 1).cast("int").alias("position"),
            F.col("p.d").alias("doc_id"),
            F.col("p.t").cast("int").alias("team"),
        )
        .orderBy("position")
    )


_HEAPS_CHECKPOINTS = (50, 100, 200, 300, 400, 500)


@query(
    "q381_heaps_law_fit",
    oracle=f"""
    WITH firsts AS (
        SELECT tok, min(doc_id) AS first_doc
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents
        )
        GROUP BY tok
    ),
    toks_per_doc AS (
        SELECT doc_id, len(string_split(lower(text), ' ')) AS nt
        FROM documents
    ),
    cps AS (
        SELECT unnest([{", ".join(str(c) for c in _HEAPS_CHECKPOINTS)}])
            AS cp
    ),
    curve AS (
        SELECT cp,
               (SELECT sum(nt) FROM toks_per_doc WHERE doc_id < cp)
                   AS n_tokens,
               (SELECT count(*) FROM firsts WHERE first_doc < cp) AS vocab
        FROM cps
    ),
    pts AS (
        SELECT cp, n_tokens, vocab,
               ln(CAST(n_tokens AS DOUBLE)) AS lx,
               ln(CAST(vocab AS DOUBLE)) AS ly
        FROM curve WHERE n_tokens > 0 AND vocab > 0
    ),
    fit AS (
        SELECT count(*) AS k, sum(lx) AS sx, sum(ly) AS sy,
               sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
        FROM pts
    )
    SELECT p.cp AS checkpoint_docs,
           CAST(p.n_tokens AS BIGINT) AS n_tokens,
           CAST(p.vocab AS BIGINT) AS vocab,
           round((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 4) AS heaps_beta,
           round(exp((f.sy - (f.k * f.sxy - f.sx * f.sy)
                             / (f.k * f.sxx - f.sx * f.sx) * f.sx) / f.k),
                 4) AS heaps_k
    FROM pts p CROSS JOIN fit f
    ORDER BY p.cp
    """,
    tags=("text", "corpus-linguistics", "heaps-law", "vocabulary", "llm"),
)
def q381_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) ≈ K·n^β estimated by
    log-log least squares over the cumulative (tokens seen, distinct
    vocabulary) curve at fixed document checkpoints — the growth
    exponent that predicts how much NEW vocabulary (and thus tokenizer
    pressure, q124/q202's concern) further crawling will bring; the
    growth-side companion to q184's Zipf frequency slope.

    Determinism: the curve is exact-integer (first-occurrence doc per
    token via MIN, prefix sums by doc_id threshold); ln/exp are libm
    on identical exact inputs with the OLS in one fixed-order
    expression, rounded at 4 (the q138/q184 regression discipline).

    Scale posture: one (token → min doc) partial+final aggregate, a
    per-doc token-count rollup, and a ≤|checkpoints|-row curve join —
    the corpus is never re-scanned per checkpoint (the threshold
    comparisons run on the two tiny aggregates). Reference contract:
    first-occurrence extraction = map slot (``App.config:16``); curve
    + fit = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    tpd = docs.select(
        "doc_id", F.size(F.split(F.lower(F.col("text")), " ")).alias("nt")
    )
    cps = spark.createDataFrame(
        [(c,) for c in _HEAPS_CHECKPOINTS], "cp int"
    )
    n_tok = (
        tpd.crossJoin(F.broadcast(cps))
        .where(F.col("doc_id") < F.col("cp"))
        .groupBy("cp")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    vocab = (
        firsts.crossJoin(F.broadcast(cps))
        .where(F.col("first_doc") < F.col("cp"))
        .groupBy("cp")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    pts = (
        n_tok.join(vocab, "cp")
        .where((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
        .select(
            "cp",
            "n_tokens",
            "vocab",
            F.log(F.col("n_tokens").cast("double")).alias("lx"),
            F.log(F.col("vocab").cast("double")).alias("ly"),
        )
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("cp").alias("checkpoint_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            F.round(beta, 4).alias("heaps_beta"),
            F.round(
                F.exp((F.col("sy") - beta * F.col("sx")) / F.col("k")), 4
            ).alias("heaps_k"),
        )
        .orderBy("checkpoint_docs")
    )


_GT_MAX_C = 10


@query(
    "q395_good_turing_counts",
    oracle=f"""
    WITH tok AS (
        SELECT string_split(lower(text), ' ') AS ws FROM documents
    ),
    bg AS (
        SELECT ws[i] || ' ' || ws[i + 1] AS b
        FROM tok, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    tf AS (
        SELECT b, count(*) AS c FROM bg GROUP BY b
    ),
    nc AS (
        SELECT c, count(*) AS n_c FROM tf
        WHERE c <= {_GT_MAX_C} + 1 GROUP BY c
    ),
    tot AS (SELECT sum(c) AS n_tokens FROM tf)
    SELECT a.c,
           CAST(a.n_c AS BIGINT) AS n_c,
           CAST(coalesce(b.n_c, 0) AS BIGINT) AS n_c_plus_1,
           CAST((1000000 * (a.c + 1) * coalesce(b.n_c, 0)) // a.n_c
                AS BIGINT) AS c_star_ppm,
           CAST((1000000 * a.c * a.n_c) // t.n_tokens AS BIGINT)
               AS mass_ppm
    FROM nc a
    LEFT JOIN nc b ON b.c = a.c + 1
    CROSS JOIN tot t
    WHERE a.c <= {_GT_MAX_C}
    ORDER BY a.c
    """,
    tags=("text", "language-model", "good-turing", "smoothing", "llm"),
)
def q395_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts table over BIGRAM types: for each
    raw bigram count c = 1..10, the number of types N_c, the adjusted
    count c* = (c+1)·N_{c+1}/N_c, and the probability mass c·N_c/N —
    the frequency-of-frequencies statistic under every smoothing
    scheme (q368's Kneser-Ney absolute discount is calibrated from
    exactly these N_1/N_2 cells, and N_1/N estimates the unseen-event
    mass). Bigram grain (not unigram) is deliberate: the fixture's
    unigram counts bottom out near 26 even at sf0.01, leaving every
    N_{c<=11} cell empty and the operator vacuous — bigram types are
    sparse enough that the low-count cells are populated at every
    fixture scale (probed: N_1=9..10 at sf0.001/0.01, 9 populated
    cells at sf0.1 — and it is also the grain q368's discount
    actually smooths).
    ``tests/test_llm_ops.py::test_q395_count_of_counts_nonempty``
    pins the non-degeneracy.

    Determinism: type counts and count-of-counts are exact integers;
    c* and the mass columns are floor integer division to ppm — no
    float anywhere.

    Scale posture: one corpus explode to bigram grain, ONE
    partial+final rollup to bigram-type grain, a second rollup to
    count-of-counts grain (≤ max count rows) and a scalar total — the
    classic two-level aggregation, all map-side combinable. Reference
    contract: bigram emission = map slot (``App.config:16``);
    count-of-counts rollup = reduce slot (``App.config:17``)."""
    # Spread the single-split fixture scan before the CPU-heavy bigram
    # explode (no-op at scale where the source has many splits).
    docs = load_tables(spark, sf_dir)["documents"].repartition(32, "doc_id")
    ws = F.split(F.lower(F.col("text")), " ")
    tf = (
        docs.select(
            F.explode(
                F.when(
                    F.size(ws) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(ws) - 1),
                        lambda i: F.struct(
                            F.element_at(ws, i).alias("w1"),
                            F.element_at(ws, i + 1).alias("w2"),
                        ),
                    ),
                )
            ).alias("p")
        )
        .where((F.col("p.w1") != "") & (F.col("p.w2") != ""))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nc = (
        tf.where(F.col("c") <= _GT_MAX_C + 1)
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    tot = tf.agg(F.sum("c").alias("n_tokens"))
    b = nc.select((F.col("c") - 1).alias("c"), F.col("n_c").alias("n_c1"))
    return (
        nc.where(F.col("c") <= _GT_MAX_C)
        .join(F.broadcast(b), "c", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            F.col("n_c").cast("long").alias("n_c"),
            F.coalesce("n_c1", F.lit(0)).cast("long").alias("n_c_plus_1"),
            F.expr("(1000000 * (c + 1) * coalesce(n_c1, 0)) div n_c")
            .cast("long")
            .alias("c_star_ppm"),
            F.expr("(1000000 * c * n_c) div n_tokens")
            .cast("long")
            .alias("mass_ppm"),
        )
        .orderBy("c")
    )


_MSTTR_W = 30  # segment width (tokens); trailing partial segment drops


@query(
    "q398_msttr_lexical_diversity",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS w,
               generate_subscripts(string_split(lower(text), ' '), 1) AS pos
        FROM documents
    ),
    numbered AS (
        SELECT doc_id, w,
               row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                   AS tpos
        FROM tok WHERE w <> ''
    ),
    segs AS (
        SELECT doc_id, tpos // {_MSTTR_W} AS seg,
               count(*) AS n_tok, count(DISTINCT w) AS n_types
        FROM numbered
        GROUP BY doc_id, tpos // {_MSTTR_W}
        HAVING count(*) = {_MSTTR_W}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST((1000000 * sum(n_types)) // ({_MSTTR_W} * count(*))
                AS BIGINT) AS msttr_ppm
    FROM segs
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "lexical-diversity", "quality", "llm"),
)
def q398_msttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental type-token ratio (MSTTR-30): each document's
    token stream splits into consecutive 30-token segments (trailing
    partial segment dropped, per the standard definition), each
    segment scores distinct/30, and the document reports the mean —
    the length-robust lexical-diversity measure that raw TTR is not
    (TTR decays with length; MSTTR compares fairly across documents,
    which is why curation stacks use it next to q57's repetition
    signals and q381's Heaps fit).

    Determinism: token positions are exact; segment membership is
    integer floor division; with a FIXED segment width the mean of
    per-segment ratios collapses to the exact integer identity
    Σtypes/(30·K), floored to ppm — no float anywhere.

    Scale posture: one corpus explode with a per-document position
    (the window partitions by doc_id — never global), one
    partial+final rollup to (doc, segment) grain with a distinct
    inside, one rollup to doc grain. Reference contract: token
    emission = map slot (``App.config:16``); segment rollup = reduce
    slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos", "w"
        ),
    ).where(F.col("w") != "")
    win = Window.partitionBy("doc_id").orderBy("pos")
    numbered = tok.select(
        "doc_id", "w", (F.row_number().over(win) - 1).alias("tpos")
    )
    segs = (
        numbered.groupBy(
            "doc_id", (F.col("tpos") / _MSTTR_W).cast("long").alias("seg")
        )
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.countDistinct("w").alias("n_types"),
        )
        .where(F.col("n_tok") == _MSTTR_W)
    )
    return (
        segs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.expr(
                f"(1000000 * sum(n_types)) div ({_MSTTR_W} * count(*))"
            )
            .cast("long")
            .alias("msttr_ppm"),
        )
        .orderBy("doc_id")
    )


_DUP_N = 8  # n-gram width for the intra-document duplication audit


@query(
    "q400_duplicate_ngram_fraction",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               string_split(lower(text), ' ') AS ws
        FROM documents
    ),
    pos AS (
        SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - {_DUP_N} + 1)) AS i
        FROM tok WHERE len(ws) >= {_DUP_N}
    ),
    grams AS (
        SELECT doc_id,
               list_aggregate(ws[CAST(i AS INTEGER):
                                 CAST(i + {_DUP_N} - 1 AS INTEGER)],
                              'string_agg', ' ') AS g
        FROM pos
    ),
    per_doc AS (
        SELECT doc_id, count(*) AS n_ngrams,
               count(DISTINCT g) AS n_distinct,
               max(cnt) AS max_repeat
        FROM (SELECT doc_id, g, count(*) AS cnt
              FROM grams GROUP BY doc_id, g)
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_ngrams AS BIGINT) AS n_ngrams,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(max_repeat AS BIGINT) AS max_repeat,
           CAST((1000000 * (n_ngrams - n_distinct)) // n_ngrams
                AS BIGINT) AS dup_ppm
    FROM per_doc
    ORDER BY doc_id
    """,
    tags=("text", "dedup", "quality", "repetition", "llm"),
)
def q400_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document duplicate 8-gram fraction (the Gopher/RefinedWeb
    repetition gate): per document, how many of its 8-token windows are
    repeats of an earlier window? High dup_ppm marks boilerplate
    loops, template spam, and decoding pathologies that per-CORPUS
    dedup (q60-q68) cannot see because the repetition lives inside one
    document. Complements q57's short-range repetition signals with
    the long-window measure quality pipelines actually gate on.

    Determinism: windows are exact position arithmetic over the token
    array; counts are exact integers; the fraction is floor integer
    division to ppm.

    Scale posture: one map-side explode to (doc, window) grain — the
    8-gram text itself never shuffles wider than the doc's own
    windows; partial+final aggregation to (doc, gram) then doc grain.
    At 100 TB the gram column would hash to 64 bits before the
    shuffle (q260's trick); kept as text here for oracle parity.
    Reference contract: window emission = map slot
    (``App.config:16``); per-doc rollup = reduce slot
    (``App.config:17``)."""
    # Spread the single-split fixture scan before the CPU-heavy n-gram
    # explode (no-op at scale where the source has many splits).
    docs = load_tables(spark, sf_dir)["documents"].repartition(32, "doc_id")
    ws = F.split(F.lower(F.col("text")), " ")
    grams = (
        docs.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= _DUP_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.size("ws") - F.lit(_DUP_N - 1)
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice("ws", i, _DUP_N)
                    ),
                )
            ).alias("g"),
        )
    )
    per_gram = grams.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_ngrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("cnt").cast("long").alias("max_repeat"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_distinct",
            "max_repeat",
            F.expr("(1000000 * (n_ngrams - n_distinct)) div n_ngrams")
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


_Q413_ORACLE = """
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    c AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
    p AS (
        SELECT source,
               count(*) AS d_observed,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               CAST(sum(c) AS BIGINT) AS n_tokens
        FROM c GROUP BY source
    )
    SELECT source, d_observed, f1, f2, n_tokens,
           d_observed
             + ((2 * (CAST(f1 AS HUGEINT) * (f1 - 1)) * 10000 + 2 * (f2 + 1))
                 // (2 * CAST(2 * (f2 + 1) AS HUGEINT))) / 10000.0 AS chao1,
           ((2 * (n_tokens - f1) * 10000 + n_tokens)
                 // (2 * n_tokens)) / 10000.0 AS coverage
    FROM p
    ORDER BY source
"""


@query(
    "q413_chao1_vocab_richness",
    oracle=_Q413_ORACLE,
    tags=("text", "vocabulary", "richness", "chao1", "coverage", "estimation"),
)
def q413_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimation of each source's vocabulary —
    "how many distinct tokens does this source REALLY have, beyond the
    ones the sample surfaced?" — the corpus-coverage question a
    training-mix planner asks before trusting per-source vocabulary
    stats (complements q146's observed-vocab Jaccard and q395's
    Good-Turing count smoothing). Per source: observed distinct
    tokens D, singleton count f1, doubleton count f2, the
    bias-corrected Chao1 lower bound D + f1(f1−1)/(2(f2+1)) (defined
    even at f2=0), and the Good-Turing sample coverage 1 − f1/N as
    the companion "how complete is this sample" gauge.

    Determinism: token counts are exact integers; both released
    ratios are integer half-up rounds via ``ranks.half_up_ratio``
    (oracle: the paired ``(2·a·10^k + b) // (2·b)`` form), and chao1
    adds an exact ≤2^53 integer to the rounded ratio — bit-identical
    cross-engine, no libm anywhere. The f1·(f1−1) count product is
    widened BEFORE the multiply on both engines (Spark
    decimal(38,0)·decimal, DuckDB ``CAST(f1 AS HUGEINT) * (f1-1)``) —
    an int64 product would silently wrap on Spark past f1≈3.0e9
    singletons while DuckDB raises, a latent cross-engine divergence.

    Scale posture: one explode to token grain, then two partial+final
    hash aggregates ((source, tok) → source); the frequency-of-
    frequency profile is f1/f2 only, so nothing wider than the
    (source, token) count map ever shuffles, and the released grain
    is #sources. At 100 TB this is the same two-stage shape as the
    portable sketches (q156/q285). Reference contract: tokenize =
    map slot (``App.config:16``); count consolidation = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    per = counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("d_observed"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    return per.select(
        "source",
        "d_observed",
        "f1",
        "f2",
        "n_tokens",
        (
            F.col("d_observed")
            + half_up_ratio(
                # Widen f1 BEFORE the product: int64 f1*(f1-1) wraps
                # silently past f1~3.0e9.
                F.col("f1").cast("decimal(38,0)")
                * (F.col("f1") - F.lit(1)).cast("decimal(38,0)"),
                F.lit(2) * (F.col("f2") + F.lit(1)),
                4,
            )
        ).alias("chao1"),
        half_up_ratio(F.col("n_tokens") - F.col("f1"), F.col("n_tokens"), 4).alias(
            "coverage"
        ),
    ).orderBy("source")


_Q416_ORACLE = """
    WITH per_doc AS (
        SELECT source,
               CAST(length(regexp_extract_all(lower(text), '[a-z]+'))
                    AS BIGINT) AS w,
               CAST(length(regexp_extract_all(text, '[.!?]'))
                    AS BIGINT) AS s,
               CAST(length(regexp_extract_all(lower(text), '[aeiou]+'))
                    AS BIGINT) AS y
        FROM documents
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS words,
               greatest(CAST(sum(s) AS BIGINT), 1) AS sentences,
               CAST(sum(y) AS BIGINT) AS syllables
        FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, words, sentences, syllables,
           ((2 * words * 10000 + sentences) // (2 * sentences)) / 10000.0
               AS words_per_sentence,
           ((2 * syllables * 10000 + words) // (2 * words)) / 10000.0
               AS syllables_per_word,
           round(206.835
                 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) + 0.0
               AS flesch_reading_ease
    FROM agg
    ORDER BY source
"""


@query(
    "q416_readability_scores",
    oracle=_Q416_ORACLE,
    tags=("text", "readability", "quality", "flesch", "curation"),
)
def q416_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease scoring — the classic
    text-difficulty gauge a curation pipeline uses to tier corpora by
    complexity (alongside q51's surface signals and q257's perplexity
    gate): 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word),
    with a vowel-RUN count as the standard dictionary-free syllable
    proxy, sentences counted as terminal-punctuation marks (floored at
    1 per source so the ratio is total), and words as alphabetic runs.
    Released per source: the raw counts, both ratios, and the score.

    Determinism: all three counts are exact integers
    (``regexp_count`` ≡ DuckDB ``len(regexp_extract_all)`` on
    identical patterns); the released ratios are integer half-up
    rounds (``ranks.half_up_ratio`` / the paired ``//`` form); the
    Flesch combination is elementwise IEEE arithmetic on two exact
    int→double divisions — no libm — rounded at 6 with signed-zero
    normalization (the score CAN go negative on dense text).

    Scale posture: per-document counting is a map-only projection
    (three regex scans per doc, no explode — the token stream is never
    materialized, unlike q413 which needs per-token grain); one
    partial+final aggregate to source grain. At 100 TB this is the
    cheapest shape a corpus statistic can have. Reference contract:
    per-doc counting = map slot (``App.config:16``); source rollup =
    reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    per_doc = docs.select(
        "source",
        F.regexp_count(F.lower(F.col("text")), F.lit("[a-z]+"))
        .cast("long")
        .alias("w"),
        F.regexp_count(F.col("text"), F.lit("[.!?]")).cast("long").alias("s"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiou]+"))
        .cast("long")
        .alias("y"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.greatest(F.sum("s").cast("long"), F.lit(1)).alias("sentences"),
        F.sum("y").cast("long").alias("syllables"),
    )

    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        half_up_ratio(F.col("words"), F.col("sentences"), 4).alias(
            "words_per_sentence"
        ),
        half_up_ratio(F.col("syllables"), F.col("words"), 4).alias(
            "syllables_per_word"
        ),
        round_nz(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sentences").cast("double"))
            - F.lit(84.6)
            * (
                F.col("syllables").cast("double")
                / F.col("words").cast("double")
            ),
            6,
        ).alias("flesch_reading_ease"),
    ).orderBy("source")


_Q417_ORACLE = """
    WITH tok AS (
        SELECT source, doc_id, string_split(lower(text), ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT source, n, g FROM (
            SELECT t.source, nn.n,
                   unnest(generate_series(1, len(t.ws) - nn.n + 1)) AS i,
                   t.ws
            FROM tok t CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) nn
            WHERE len(t.ws) >= nn.n
        ) p,
        LATERAL (SELECT list_aggregate(
                     p.ws[CAST(p.i AS INTEGER):CAST(p.i + p.n - 1 AS INTEGER)],
                     'string_agg', ' ') AS g)
    )
    SELECT source, CAST(n AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS total_ngrams,
           CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
           ((2 * count(DISTINCT g) * 10000 + count(*)) // (2 * count(*)))
               / 10000.0 AS distinct_ratio
    FROM grams
    GROUP BY source, n
    ORDER BY source, n
"""


@query(
    "q417_distinct_ngram_diversity",
    oracle=_Q417_ORACLE,
    tags=("text", "diversity", "ngram", "evaluation", "llm"),
)
def q417_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n lexical-diversity metrics per source — distinct-1/2/3
    (unique n-grams over total n-grams, the standard generation-
    diversity gauge from the dialogue-generation literature): low
    distinct-n flags a mode-collapsed or template-heavy source before
    it floods a training mix (corpus-level complement to q400's
    INTRA-document repetition and q398's MSTTR). Long format, one row
    per (source, n) with the raw counts and the ratio.

    Determinism: grams are exact strings from the q400 space-split
    window idiom; counts are exact integers; the released ratio is the
    integer half-up form — no floats beyond the final scale division.

    Scale posture: one explode to gram grain per n (windows of the
    doc's own token array — the gram stream shuffles once, keyed
    (source, n, gram), for the distinct count; totals ride the same
    partial+final aggregate). At 100 TB hash grams to 64 bits before
    the shuffle (q260's trick, kept as text for oracle parity) or
    substitute the KMV sketch (q276) for the distinct side. Reference
    contract: window emission = map slot (``App.config:16``);
    diversity rollup = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"].repartition(32, "doc_id")
    ws = F.split(F.lower(F.col("text")), " ")
    # Persist the tokenized frame: all three gram widths branch from it,
    # and without the persist each branch re-runs the scan+split
    # (A/B at sf0.1, reproduced twice: 1.63→1.23 s and 1.42→0.88 s —
    # the q368-side outcome of the persist-vs-overlap empirical call).
    base = docs.select("source", ws.alias("ws")).persist()

    # Closure factory, NOT a default-arg lambda: `lambda i, n=n:` is the
    # 2-arg higher-order-function form whose second argument silently
    # binds to the ELEMENT INDEX (the q281 trap).
    def window_at(n: int):
        return lambda i: F.concat_ws(" ", F.slice("ws", i, n))

    grams = None
    for n in (1, 2, 3):
        g = (
            base.where(F.size("ws") >= n)
            .select(
                "source",
                F.lit(n).cast("long").alias("n"),
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - F.lit(n - 1)),
                        window_at(n),
                    )
                ).alias("g"),
            )
        )
        grams = g if grams is None else grams.unionByName(g)
    per = grams.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("total_ngrams"),
        F.count_distinct(F.col("g")).cast("long").alias("distinct_ngrams"),
    )
    out = (
        per.select(
            "source",
            "n",
            "total_ngrams",
            "distinct_ngrams",
            half_up_ratio(
                F.col("distinct_ngrams"), F.col("total_ngrams"), 4
            ).alias("distinct_ratio"),
        )
        .orderBy("source", "n")
        # Materialize the (sources × 3)-row result so the persisted
        # token frame can be released before returning (q399's rule).
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    return out


_Q419_ORACLE = """
    WITH mx AS (SELECT max(doc_id) AS mid FROM documents),
    tok AS (
        SELECT d.doc_id,
               least(9, (d.doc_id * 10) // (mx.mid + 1)) AS bucket,
               list_filter(string_split_regex(lower(d.text), '[^a-z]+'),
                           x -> x <> '') AS ws
        FROM documents d CROSS JOIN mx
    ),
    toks AS (
        SELECT bucket,
               list_aggregate(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)],
                              'string_agg', ' ') AS tok
        FROM (SELECT bucket, ws,
                     unnest(generate_series(1, len(ws) - 2)) AS i
              FROM tok WHERE len(ws) >= 3)
    ),
    tc AS (SELECT bucket, count(*) AS n FROM toks GROUP BY bucket),
    fb AS (SELECT tok, min(bucket) AS b FROM toks GROUP BY tok),
    vb AS (SELECT b AS bucket, count(*) AS v FROM fb GROUP BY b),
    spine AS (SELECT unnest(generate_series(0, 9)) AS bucket),
    cum AS (
        SELECT s.bucket,
               sum(coalesce(tc.n, 0)) OVER w AS n_tokens_cum,
               sum(coalesce(vb.v, 0)) OVER w AS vocab_cum
        FROM spine s
        LEFT JOIN tc ON tc.bucket = s.bucket
        LEFT JOIN vb ON vb.bucket = s.bucket
        WINDOW w AS (ORDER BY s.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pts AS (
        SELECT bucket, n_tokens_cum, vocab_cum,
               ln(CAST(n_tokens_cum AS DOUBLE)) AS x,
               ln(CAST(vocab_cum AS DOUBLE)) AS y
        FROM cum WHERE n_tokens_cum > 0
    ),
    fold AS (
        SELECT CAST(count(*) AS DOUBLE) AS m,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(x ORDER BY bucket)), (a, e) -> a + e) AS sx,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(y ORDER BY bucket)), (a, e) -> a + e) AS sy,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(x * y ORDER BY bucket)), (a, e) -> a + e) AS sxy,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(x * x ORDER BY bucket)), (a, e) -> a + e) AS sxx
        FROM pts
    )
    SELECT p.bucket,
           CAST(p.n_tokens_cum AS BIGINT) AS n_tokens_cum,
           CAST(p.vocab_cum AS BIGINT) AS vocab_cum,
           round((f.m * f.sxy - f.sx * f.sy)
                 / (f.m * f.sxx - f.sx * f.sx), 6) + 0.0 AS heaps_beta
    FROM pts p CROSS JOIN fold f
    ORDER BY p.bucket
"""


@query(
    "q419_heaps_law_vocab_growth",
    oracle=_Q419_ORACLE,
    tags=("text", "vocabulary", "scaling-law", "heaps", "estimation"),
)
def q419_heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve and exponent — "how fast
    does this corpus keep yielding NEW tokens as it grows?" — the
    scaling-law companion to q413's point-estimate (Chao1 asks how
    much vocabulary is left; Heaps' V(N) ≈ K·N^β says how fast more
    corpus buys it, the quantity a data-mix planner extrapolates
    before scaling a source 100×). Docs are split into 10 cumulative
    ingestion checkpoints by doc_id range; per checkpoint the running
    unit total N and running distinct-vocabulary size V are exact
    integers (a unit counts toward V at its FIRST bucket — min-bucket
    per unit, so the corpus never pairs with itself); β is the
    log-log OLS slope over the 10 (ln N, ln V) points. The vocabulary
    UNIT is the word TRIGRAM: the fixture's unigram vocabulary is 31
    words, all seen in checkpoint 0 (V constant, β exactly 0 — the r6
    vacuous-fixture rule), while the trigram vocabulary grows 6.5×
    across the checkpoints and exercises the whole curve; on a real
    corpus the same query runs at any gram width.

    Determinism: checkpoint assignment is integer arithmetic off a
    1-row broadcast max(doc_id) (no data-sized window); N/V are exact
    integers; the two ln calls per checkpoint see bit-identical
    exact-in-double integer arguments (the accepted single-libm
    class); the four OLS sums fold SEQUENTIALLY over bucket-sorted
    10-element lists with an explicit 0.0 seed (the signed-safe q409
    form — plain SUM() would drift by summation order), and the slope
    is elementwise IEEE on identical sums, rounded at 6 with
    signed-zero normalization.

    Scale posture: one token explode feeding two partial+final
    aggregates (bucket grain and token grain — the (tok, min bucket)
    map is vocabulary-sized, the same shuffle class as q413); the
    cumulative/OLS stage runs on a 10-row frame through the declared
    bounded window (``ranks.bounded_order``). At 100 TB the
    checkpoint key comes from ingest partition ranges instead of
    max(doc_id). Reference contract: tokenize+assign = map slot
    (``App.config:16``); vocabulary consolidation = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    mx = docs.agg(F.max("doc_id").alias("mid"))
    tok = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.lit(9), F.expr("(doc_id * 10) div (mid + 1)")
            ).alias("bucket"),
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            ).alias("ws"),
        )
    )
    toks = tok.where(F.size("ws") >= 3).select(
        "bucket",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - F.lit(2)),
                lambda i: F.concat_ws(" ", F.slice("ws", i, 3)),
            )
        ).alias("tok"),
    )
    tc = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    fb = toks.groupBy("tok").agg(F.min("bucket").alias("b"))
    vb = fb.groupBy(F.col("b").alias("bucket")).agg(
        F.count(F.lit(1)).alias("v")
    )
    spine = spark.range(0, 10).select(F.col("id").alias("bucket"))
    w = bounded_order("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        spine.join(tc, "bucket", "left")
        .join(vb, "bucket", "left")
        .select(
            "bucket",
            F.sum(F.coalesce(F.col("n"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("n_tokens_cum"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("vocab_cum"),
        )
        .where(F.col("n_tokens_cum") > 0)
    )
    pts = cum.select(
        "bucket",
        "n_tokens_cum",
        "vocab_cum",
        F.log(F.col("n_tokens_cum").cast("double")).alias("x"),
        F.log(F.col("vocab_cum").cast("double")).alias("y"),
    )

    def fold(expr_name: str) -> Column:
        return F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("bucket").alias("k"), F.col(expr_name).alias("v"))
                )
            ),
            F.lit(0.0),
            lambda a, e: a + e["v"],
        )

    folded = pts.select(
        "bucket", "x", "y", (F.col("x") * F.col("y")).alias("xy"),
        (F.col("x") * F.col("x")).alias("xx"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        fold("x").alias("sx"),
        fold("y").alias("sy"),
        fold("xy").alias("sxy"),
        fold("xx").alias("sxx"),
    )
    return (
        pts.crossJoin(F.broadcast(folded))
        .select(
            "bucket",
            "n_tokens_cum",
            "vocab_cum",
            round_nz(
                (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("heaps_beta"),
        )
        .orderBy("bucket")
    )


# --- q427: green-list text-watermark detection -------------------------

# A 150-token chain over the fixture vocabulary in which EVERY adjacent
# bigram is "green" under the detection hash (first hex digit of
# md5('wm:' || prev || ':' || cur) even). Constructed offline by greedy
# search — md5 is the same function everywhere, so both engines verify
# (rather than trust) its greenness; it decorates the doc_id % 5 == 0
# slice as the known-watermarked ground truth.
_WM_CHAIN = (
    "spark column fast merge small vector fast key spark value data part"
    " query the big group part sort batch dup line slow vector customer"
    " join scan vector big group part table agg fast merge small vector"
    " fast key spark value data part query the big group part sort batch"
    " dup line slow vector customer join scan vector big group part table"
    " agg fast merge small vector fast key spark value data part query"
    " the big group part sort batch dup line slow vector customer join"
    " scan vector big group part table agg fast merge small vector fast"
    " key spark value data part query the big group part sort batch dup"
    " line slow vector customer join scan vector big group part table agg"
    " fast merge small vector fast key spark value data part query the"
    " big group part sort batch dup line slow vector customer join scan"
    " vector big group part"
)

_WM_Z_FLAG = 3.0


_Q427_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               doc_id % 5 = 0 AS watermarked,
               CASE WHEN doc_id % 5 = 0
                    THEN lower(text) || ' ' || '{_WM_CHAIN}'
                    ELSE lower(text) END AS t
        FROM documents
    ),
    toks AS (
        SELECT doc_id, watermarked,
               list_filter(string_split_regex(t, '[^a-z]+'),
                           x -> x <> '') AS ws
        FROM d
    ),
    bg AS (
        SELECT doc_id, watermarked,
               unnest(ws[1:len(ws) - 1]) AS prev,
               unnest(ws[2:len(ws)]) AS cur
        FROM toks WHERE len(ws) >= 2
    ),
    scored AS (
        SELECT doc_id, watermarked,
               CAST(count(*) AS BIGINT) AS n_scored,
               CAST(sum(CASE WHEN substr(md5('wm:' || prev || ':' || cur),
                                         1, 1) IN ('0','2','4','6','8',
                                                   'a','c','e')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_green
        FROM bg GROUP BY doc_id, watermarked
    )
    SELECT doc_id, n_scored, n_green,
           round(CAST(2 * n_green - n_scored AS DOUBLE)
                 / sqrt(CAST(n_scored AS DOUBLE)), 6) + 0.0 AS z_score,
           watermarked,
           (CAST(2 * n_green - n_scored AS DOUBLE)
            / sqrt(CAST(n_scored AS DOUBLE))) > {_WM_Z_FLAG} AS flagged
    FROM scored
    ORDER BY doc_id
"""


@query(
    "q427_text_watermark_detection",
    oracle=_Q427_ORACLE,
    tags=("text", "watermark", "detection", "provenance", "llm"),
)
def q427_text_watermark_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Green-list text-watermark detection (the Kirchenbauer-style
    soft-watermark detector) — the AI-generated-text provenance audit
    a training-data pipeline runs so model output doesn't silently
    re-enter the training mix (a different mechanism from q257's
    perplexity gate: watermark detection is a HYPOTHESIS TEST against
    a known generator bias, not a fluency score). Each bigram
    (prev, cur) is "green" if the first hex digit of
    ``md5('wm:' || prev || ':' || cur)`` is even — under H0
    (unwatermarked text) greens are Bernoulli(1/2), so the per-doc
    statistic z = (2g − n)/√n is standard normal; watermarked text
    biases token choice toward green continuations and z explodes.
    The drill follows the q332/q426 deterministic-decoration
    precedent: docs with doc_id % 5 == 0 get a 150-token all-green
    chain appended (long enough that the added ~149/√(n+149)
    exceeds the z > 3 bar with margin even for the longest fixture
    docs at every SF — a 60-token draft left the sf0.01/sf0.1
    minimum watermarked z at 2.7–2.8, BELOW the flag) (``_WM_CHAIN``, constructed offline but VERIFIED
    by both engines' own md5 — nothing is trusted), so ground truth
    is known and the detector must separate the slices across the
    z > 3 threshold.

    Determinism: tokenization and bigram pairing are exact; greenness
    is a salted-md5 nibble test (the house uniform-draw pattern,
    q407/q418); z is one subtraction, one IEEE sqrt, one IEEE
    division — bit-identical — rounded at 6 with signed-zero
    normalization only for DISPLAY (the flag compares the raw
    double on both engines).

    Scale posture: one bigram explode (the q257/q368 corpus shape) →
    one partial+final aggregate to doc grain → scalar math; nothing
    wider than (doc, prev, cur) shuffles and the released grain is
    #docs. Reference contract: per-doc scoring = map slot
    (``App.config:16``); corpus rollup = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    wm = F.col("doc_id") % 5 == 0
    t = F.when(
        wm, F.concat(F.lower(F.col("text")), F.lit(" " + _WM_CHAIN))
    ).otherwise(F.lower(F.col("text")))
    toks = docs.select(
        "doc_id",
        wm.alias("watermarked"),
        F.filter(F.split(t, "[^a-z]+"), lambda x: x != F.lit("")).alias(
            "ws"
        ),
    ).where(F.size("ws") >= 2)
    bg = toks.select(
        "doc_id",
        "watermarked",
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.size("ws") - 1),
                F.slice("ws", 2, F.size("ws") - 1),
                lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
            )
        ).alias("pc"),
    ).select("doc_id", "watermarked", "pc.prev", "pc.cur")
    is_green = F.substring(
        F.md5(F.concat_ws("", F.lit("wm:"), F.col("prev"), F.lit(":"), F.col("cur"))),
        1,
        1,
    ).isin(list("02468ace"))
    scored = bg.groupBy("doc_id", "watermarked").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.when(is_green, 1).otherwise(0)).cast("long").alias("n_green"),
    )
    z_raw = (
        (F.lit(2) * F.col("n_green") - F.col("n_scored")).cast("double")
        / F.sqrt(F.col("n_scored").cast("double"))
    )
    return scored.select(
        "doc_id",
        "n_scored",
        "n_green",
        round_nz(z_raw, 6).alias("z_score"),
        "watermarked",
        (z_raw > F.lit(_WM_Z_FLAG)).alias("flagged"),
    ).orderBy("doc_id")


# --- q436: deleted-interpolation EM for the LM mixture weight ----------

_DI_ITERS = 3
_DI_QSCALE = 1_000_000
_DI_L0 = 0.5


def _di_oracle_sql() -> str:
    """Three unrolled EM iterations: l{k} holds the scalar mixture
    weight after iteration k. Posteriors quantize to 1e-6 integers
    before the (order-free) sum; the λ update is the same shared
    binary64 sequence the engine mirrors. All model/held CTEs
    MATERIALIZED (each feeds every iteration)."""
    ctes = ["""toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    big AS MATERIALIZED (
        SELECT doc_id,
               unnest([struct_pack(v := w[i], x := w[i+1])
                       for i in range(1, len(w))]) AS s
        FROM toks WHERE len(w) >= 2
    ),
    tr_bi AS MATERIALIZED (
        SELECT s.v AS v, s.x AS x, count(*) AS c FROM big
        WHERE doc_id % 2 = 0 GROUP BY s.v, s.x
    ),
    tr_ctx AS MATERIALIZED (
        SELECT v, sum(c) AS c FROM tr_bi GROUP BY v
    ),
    tr_uni AS MATERIALIZED (
        SELECT x, sum(c) AS c FROM tr_bi GROUP BY x
    ),
    tr_n AS MATERIALIZED (SELECT sum(c) AS n FROM tr_bi),
    held AS MATERIALIZED (
        SELECT s.v AS v, s.x AS x, count(*) AS c FROM big
        WHERE doc_id % 2 = 1 GROUP BY s.v, s.x
    ),
    probs AS MATERIALIZED (
        SELECT h.c,
               CAST(coalesce(b.c, 0) AS DOUBLE)
                   / CAST(coalesce(cx.c, 1) AS DOUBLE) AS pb,
               CAST(coalesce(u.c, 0) AS DOUBLE) / n.n AS pu
        FROM held h
        LEFT JOIN tr_bi b ON b.v = h.v AND b.x = h.x
        LEFT JOIN tr_ctx cx ON cx.v = h.v
        LEFT JOIN tr_uni u ON u.x = h.x
        CROSS JOIN tr_n n
    )""",
        f"l0 AS (SELECT CAST({_DI_L0} AS DOUBLE) AS lam)",
    ]
    for k in range(1, _DI_ITERS + 1):
        ctes.append(f"""g{k} AS MATERIALIZED (
        SELECT sum(CAST(round(l.lam * p.pb
                              / (l.lam * p.pb + (1 - l.lam) * p.pu)
                              * {_DI_QSCALE}) AS BIGINT) * p.c) AS gq,
               sum(p.c) AS t
        FROM probs p CROSS JOIN l{k - 1} l
        WHERE l.lam * p.pb + (1 - l.lam) * p.pu > 0
    ),
    l{k} AS (SELECT CAST(gq AS DOUBLE) / {_DI_QSCALE} / t AS lam FROM g{k})""")
    sel = [
        f"SELECT 0 AS iter, round(lam, 6) + 0.0 AS lambda_bi,"
        f" (SELECT CAST(sum(c) AS BIGINT) FROM held) AS heldout_bigrams"
        f" FROM l0"
    ]
    sel += [
        f"SELECT {k}, round(lam, 6) + 0.0,"
        f" (SELECT CAST(sum(c) AS BIGINT) FROM held) FROM l{k}"
        for k in range(1, _DI_ITERS + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT iter, lambda_bi, heldout_bigrams FROM ("
        + " UNION ALL ".join(sel)
        + ") ORDER BY iter"
    )


@query(
    "q436_deleted_interpolation_em",
    oracle=_di_oracle_sql(),
    tags=("text", "language-model", "em", "smoothing", "llm"),
)
def q436_deleted_interpolation_em(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deleted-interpolation EM — LEARNING the Jelinek-Mercer mixture
    weight λ between the bigram and unigram models on held-out data,
    the missing trainer beside the smoothing family's fixed-weight
    members (q368 interpolated KN uses a fixed discount, q395
    Good-Turing adjusts counts, q257 applies a trained LM): train
    counts come from even doc_ids, EM runs over the odd half's bigram
    tokens — per token the posterior γ = λ·p_bi/(λ·p_bi+(1−λ)·p_uni)
    that the bigram component generated it, then λ ← mean(γ). Three
    iterations from λ₀ = 0.5; on this word-soup corpus λ correctly
    DRIFTS DOWN (≈0.494/0.493/0.499 after one step per SF — the
    fixture has no real bigram structure, so EM discounts the bigram
    model), monotonically across all three steps — pinned, the q414
    "reads the fixture truthfully" discipline.

    Held-out tokens whose probability is zero under BOTH components
    (unseen word and unseen context) drop out of the E-step on both
    engines (den > 0 guard); the denominator count T is therefore
    λ-independent and released alongside.

    Determinism: p_bi and p_uni are single exact-integer divisions;
    γ is a short shared IEEE sequence (multiply/add/divide — no
    libm); per-token posteriors QUANTIZE to 1e-6 integers before the
    order-free exact sum (the q343/q433 discipline), and the λ update
    gq/1e6/T is the same binary64 sequence on both engines, so the λ
    path is bit-identical.

    Scale posture: ONE corpus explode to bigram grain feeds both
    halves; all EM iterations run on the BOUNDED (held-out distinct
    bigram × 1) frame (≤ vocab² ≈ 961 rows) against broadcast count
    tables — per iteration one aggregate over ~1k rows, regardless of
    corpus size. Reference contract: per-token posterior = map slot
    (``App.config:16``); the λ re-estimate = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = F.split(F.col("text"), " ")
    big = (
        docs.select("doc_id", w.alias("w"))
        .where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                    lambda a, b: F.struct(a.alias("v"), b.alias("x")),
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.v").alias("v"), F.col("s.x").alias("x"))
    )
    tr_bi = (
        big.where(F.col("doc_id") % 2 == 0)
        .groupBy("v", "x")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    tr_ctx = tr_bi.groupBy("v").agg(F.sum("c").alias("c"))
    tr_uni = tr_bi.groupBy("x").agg(F.sum("c").alias("c"))
    tr_n = tr_bi.agg(F.sum("c").alias("n"))
    held = (
        big.where(F.col("doc_id") % 2 == 1)
        .groupBy("v", "x")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probs = (
        held.join(
            F.broadcast(
                tr_bi.select("v", "x", F.col("c").alias("cb"))
            ),
            ["v", "x"],
            "left",
        )
        .join(
            F.broadcast(tr_ctx.select("v", F.col("c").alias("cc"))),
            "v",
            "left",
        )
        .join(
            F.broadcast(tr_uni.select("x", F.col("c").alias("cu"))),
            "x",
            "left",
        )
        .crossJoin(F.broadcast(tr_n))
        .select(
            "c",
            (
                F.coalesce("cb", F.lit(0)).cast("double")
                / F.coalesce("cc", F.lit(1)).cast("double")
            ).alias("pb"),
            (F.coalesce("cu", F.lit(0)).cast("double") / F.col("n")).alias(
                "pu"
            ),
        )
        .persist()
    )
    lam = _DI_L0
    path = [lam]
    t_held = None
    for _ in range(_DI_ITERS):
        den = F.lit(lam) * F.col("pb") + (1 - F.lit(lam)) * F.col("pu")
        g = F.lit(lam) * F.col("pb") / den
        row = (
            probs.where(den > 0)
            .agg(
                F.sum(
                    F.round(g * _DI_QSCALE).cast("long") * F.col("c")
                ).alias("gq"),
                F.sum("c").alias("t"),
            )
            .collect()[0]
        )
        t_held = row["t"]
        lam = row["gq"] / _DI_QSCALE / row["t"]
        path.append(lam)
    # r15: sum the persisted probs frame, not `held` — the left
    # broadcast joins preserve held's rows and its `c` exactly (one
    # model row per key), so this is the same integer without
    # re-running the corpus explode a second time.
    total_held = probs.agg(F.sum("c")).collect()[0][0]
    tr_bi.unpersist()
    probs.unpersist()
    return (
        spark.createDataFrame(
            [(k, path[k], int(total_held)) for k in range(len(path))],
            "iter int, raw double, heldout_bigrams long",
        )
        .select(
            "iter",
            round_nz(F.col("raw"), 6).alias("lambda_bi"),
            "heldout_bigrams",
        )
        .orderBy("iter")
    )


# --- q440: char-trigram Naive-Bayes language-ID TRAINING ----------------

_NB_QSCALE = 1_000_000  # log-score quantization (integer units of 1e-6)


def _nb_langid_oracle_sql() -> str:
    """Shared-shape oracle: gram explode, add-one-smoothed per-(lang,
    gram) quantized log scores over the COMPLETE gram×lang grid, per-
    doc integer score sums, the two-aggregate deterministic argmax
    (max score, then min lang among ties), and the confusion rollup."""
    qs = _NB_QSCALE
    return f"""
    WITH g AS MATERIALIZED (
        SELECT doc_id, lang AS lang_true, substr(text, CAST(i AS INTEGER), 3) AS gram
        FROM (
            SELECT doc_id, lang, text,
                   unnest(generate_series(1, length(text) - 2)) AS i
            FROM documents WHERE length(text) >= 3
        )
    ),
    cnts AS MATERIALIZED (
        SELECT lang_true AS lang, gram, count(*) AS c FROM g GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (SELECT lang, sum(c) AS t FROM cnts GROUP BY 1),
    vocab AS MATERIALIZED (SELECT count(DISTINCT gram) AS v FROM g),
    grams AS MATERIALIZED (SELECT DISTINCT gram FROM g),
    prior AS MATERIALIZED (
        SELECT lang,
               CAST(round(1000000.0
                   * ln(CAST(cnt_l AS DOUBLE) / CAST(n AS DOUBLE)))
                   AS BIGINT) AS pq
        FROM (
            SELECT lang, count(*) AS cnt_l,
                   (SELECT count(*) FROM documents) AS n
            FROM documents GROUP BY lang
        )
    ),
    model AS MATERIALIZED (
        SELECT gr.gram, t.lang,
               CAST(round(1000000.0
                   * ln((coalesce(c.c, 0) + 1)
                        / CAST(t.t + v.v AS DOUBLE))) AS BIGINT) AS qlog
        FROM grams gr
        CROSS JOIN tot t
        CROSS JOIN vocab v
        LEFT JOIN cnts c ON c.lang = t.lang AND c.gram = gr.gram
    ),
    sc AS MATERIALIZED (
        SELECT s.doc_id, s.lang_true, s.lang, s.s0 + p.pq AS score
        FROM (
            SELECT g.doc_id, g.lang_true, m.lang, sum(m.qlog) AS s0
            FROM g JOIN model m ON m.gram = g.gram
            GROUP BY 1, 2, 3
        ) s
        JOIN prior p ON p.lang = s.lang
    ),
    best AS MATERIALIZED (
        SELECT doc_id, max(score) AS smax FROM sc GROUP BY 1
    ),
    pred AS MATERIALIZED (
        SELECT sc.doc_id, sc.lang_true, min(sc.lang) AS pred_lang
        FROM sc
        JOIN best b ON b.doc_id = sc.doc_id AND sc.score = b.smax
        GROUP BY 1, 2
    ),
    conf AS (
        SELECT lang_true, pred_lang, count(*) AS n_docs
        FROM pred GROUP BY 1, 2
    ),
    tt AS (SELECT lang_true, sum(n_docs) AS n_true FROM conf GROUP BY 1)
    SELECT c.lang_true, c.pred_lang,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           ((2 * c.n_docs * {qs} + t.n_true) // (2 * t.n_true))
               / 1000000.0 AS share_of_true
    FROM conf c JOIN tt t USING (lang_true)
    ORDER BY lang_true, pred_lang
    """


@query(
    "q440_naive_bayes_langid_training",
    oracle=_nb_langid_oracle_sql(),
    tags=("llm", "training", "language-id", "naive-bayes", "text"),
)
def q440_naive_bayes_langid_training(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Char-trigram Naive-Bayes language-ID TRAINING — the fastText/
    CCNet gate trained in-plan: every pipeline
    stage that consumes the corpus's ``lang`` column (q281's routing,
    q326's per-lang stats, q412's blocking) TRUSTS a lang-ID some
    model produced; this operator trains that model — add-one-smoothed
    multinomial NB over character trigrams — scores every document,
    and releases the (true, predicted) confusion matrix with per-true
    shares, the classification complement to q433's regression-style
    quality gate.

    Fixture honesty (probed, the q437 discipline): the synthetic
    corpus draws every document from ONE shared token vocabulary, so
    the ``lang`` label is nearly text-independent — training accuracy
    is 0.542/0.576/0.360 at sf0.001/0.01/0.1 against a majority-class
    baseline of 0.386/0.436/0.412 (the small-SF lift is trigram
    memorization; at sf0.1 the label is genuinely unlearnable from
    text). An "accuracy > 0.9" bar would assume separable
    languages; the invariant test pins what the fixture supports —
    accuracy strictly above the 1/|langs| = 0.2 uniform baseline at
    every SF, corpus conservation, and every lang predicted — and the
    confusion matrix itself is on the verified path, so a real corpus
    swap gets the full differential for free.

    Determinism: all counts exact integers; each log score is ONE
    libm ln on bit-identical IEEE ratios of exact integers (the q407
    single-ln exposure class), QUANTIZED to 1e-6 integer units before
    any sum — per-doc scores are then exact BIGINT sums of quantized
    cells (order-free); argmax is the two-aggregate idiom (max score
    per doc, then min lang among exact-integer ties) — no window, no
    engine-specific arg_max tie behavior; the released share uses the
    half-up integer idiom.

    Scale posture: the gram explode is one corpus map (positions via
    ``sequence``, fused into the scan); the model is bounded —
    |charset|³ × |langs| rows worst case — built by partial+final
    aggregates and BROADCAST to the scoring join (no corpus shuffle on
    the gram key); per-doc scores are one (doc, lang) partial+final
    aggregate; the argmax is doc-grain. The corpus is scanned twice
    (model build + scoring) — at 100 TB the model build is the
    classic shared-pass candidate (persist here, a sampled or
    incremental model in production). Reference contract: per-doc
    gram counts + scoring = map slot (``App.config:16``); model
    aggregation + confusion rollup = reduce slots (``App.config:17``,
    ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    grams = (
        docs.where(F.length("text") >= 3)
        .select(
            "doc_id",
            F.col("lang").alias("lang_true"),
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            ).alias("gram"),
        )
        .persist()
    )
    cnts = (
        grams.groupBy(F.col("lang_true").alias("lang"), "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnts.groupBy("lang").agg(F.sum("c").alias("t"))
    vocab = grams.agg(F.countDistinct("gram").alias("v"))
    gram_dim = grams.select("gram").distinct()
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("n"))
    prior = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt_l"))
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "lang",
            F.round(
                F.lit(1000000.0)
                * F.log(
                    F.col("cnt_l").cast("double") / F.col("n").cast("double")
                )
            )
            .cast("long")
            .alias("pq"),
        )
    )
    model = (
        gram_dim.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(cnts), ["lang", "gram"], "left")
        .select(
            "gram",
            "lang",
            F.round(
                F.lit(1000000.0)
                * F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("t") + F.col("v")).cast("double")
                )
            )
            .cast("long")
            .alias("qlog"),
        )
    )
    sc = (
        grams.join(F.broadcast(model), "gram")
        .groupBy("doc_id", "lang_true", "lang")
        .agg(F.sum("qlog").alias("s0"))
        .join(F.broadcast(prior), "lang")
        .select(
            "doc_id",
            "lang_true",
            "lang",
            (F.col("s0") + F.col("pq")).alias("score"),
        )
        .persist()
    )
    best = sc.groupBy("doc_id").agg(F.max("score").alias("smax"))
    pred = (
        sc.join(best, "doc_id")
        .where(F.col("score") == F.col("smax"))
        .groupBy("doc_id", "lang_true")
        .agg(F.min("lang").alias("pred_lang"))
    )
    conf = pred.groupBy("lang_true", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tt = conf.groupBy("lang_true").agg(F.sum("n_docs").alias("n_true"))
    return (
        conf.join(F.broadcast(tt), "lang_true")
        .select(
            "lang_true",
            "pred_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            half_up_ratio(F.col("n_docs"), F.col("n_true"), 6).alias(
                "share_of_true"
            ),
        )
        .orderBy("lang_true", "pred_lang")
    )


# --- q443: unigram-LM (SentencePiece-style) Viterbi segmentation --------

_ULM_MAXLEN = 3  # candidate piece lengths 1..3
_ULM_HUGE = 1_000_000_000_000_000  # unreachable-cost sentinel


def _ulm_fold_expr(engine: str) -> str:
    """The per-doc Viterbi DP as ONE fold expression, emitted for both
    engines from one template (same candidate order, same tie-break:
    least cost, ties to the SHORTEST piece via CASE order). The
    accumulator is a rolling 6-element BIGINT list
    [c(i-3), t(i-3), c(i-2), t(i-2), c(i-1), t(i-1)] — O(1) state per
    position, O(n) per doc. DuckDB's list_reduce needs element type =
    accumulator type, so the position stream is encoded as singleton
    lists (the q267 same-type-list rule); Spark's aggregate() takes
    the heterogeneous fold directly."""
    if engine == "spark":
        at = lambda arr, idx: f"element_at({arr}, {idx})"  # noqa: E731
        i = "i"
        seq = "sequence(1, n)"
        init = (
            "array(CAST({h} AS BIGINT), CAST(0 AS BIGINT),"
            " CAST({h} AS BIGINT), CAST(0 AS BIGINT),"
            " CAST(0 AS BIGINT), CAST(0 AS BIGINT))"
        ).format(h=_ULM_HUGE)
        cat = "array({c}, {t})"
        fold = "aggregate({seq}, {init}, (acc, i) -> {body})"
    else:
        at = lambda arr, idx: f"{arr}[{idx}]"  # noqa: E731
        i = "x[1]"
        seq = (
            "list_transform(generate_series(1, n),"
            " j -> [CAST(j AS BIGINT)])"
        )
        init = (
            "[CAST({h} AS BIGINT), CAST(0 AS BIGINT),"
            " CAST({h} AS BIGINT), CAST(0 AS BIGINT),"
            " CAST(0 AS BIGINT), CAST(0 AS BIGINT)]"
        ).format(h=_ULM_HUGE)
        cat = "[{c}, {t}]"
        fold = "list_reduce(list_prepend({init}, {seq}), (acc, x) -> {body})"
    c1 = f"{at('acc', 5)} + {at('e1', i)}"
    c2 = (
        f"CASE WHEN {i} >= 2 THEN {at('acc', 3)} + {at('e2', f'{i} - 1')}"
        f" ELSE CAST({_ULM_HUGE} AS BIGINT) END"
    )
    c3 = (
        f"CASE WHEN {i} >= 3 THEN {at('acc', 1)} + {at('e3', f'{i} - 2')}"
        f" ELSE CAST({_ULM_HUGE} AS BIGINT) END"
    )
    cost = f"least({c1}, {c2}, {c3})"
    tok = (
        f"CASE WHEN ({c1}) <= ({c2}) AND ({c1}) <= ({c3})"
        f" THEN {at('acc', 6)} + 1"
        f" WHEN ({c2}) <= ({c3}) THEN {at('acc', 4)} + 1"
        f" ELSE {at('acc', 2)} + 1 END"
    )
    if engine == "spark":
        body = (
            f"concat(slice(acc, 3, 4), {cat.format(c=cost, t=tok)})"
        )
    else:
        body = (
            f"list_concat(acc[3:6], {cat.format(c=cost, t=tok)})"
        )
    return fold.format(seq=seq, init=init, body=body)


# Per-document DP block bound. The q447 cost
# table and backtrack are immutable-list folds — O(n²) ELEMENT COPIES
# in document length — so an unbounded doc makes a single task's
# compute quadratic (a 100 kB doc would copy ~10¹⁰ cells). Splitting
# each doc's END-INDEXED cost arrays into ≤_ULM_BLOCK-char blocks
# BEFORE the DP bounds per-task work at O(n·B) while the MODEL stays
# exactly the full-document lattice (counts are gathered before the
# split). Semantics: a token boundary is forced at every block edge —
# with pieces ≤ 3 chars that perturbs only the boundary neighborhood
# (measured at sf0.01, B=64: +0.88% tokens, +0.66% corpus cost vs
# the unblocked DP) — the same trade SentencePiece makes by
# pre-splitting sentences before training. B=64 chosen by sf0.1 A/B
# (q447 wall: unblocked 47-50 s, B=128 29-36 s, B=64 ≈21 s, B=32
# ≈21 s — the DP stops dominating below 64; SCALE.md §8c4). Shared
# by q443 (E-step scorer) and q447 (M-step recount) so the
# Σ-usage = Σ-tokens cross-check stays exact.
_ULM_BLOCK = 64

def _ulm_block_ctes(model_cte: str, arr_cte: str, blk_cte: str) -> str:
    """CTE-pair template: gather per-doc end-indexed cost arrays from
    ``pl`` joined to ``model_cte``, then split them into ≤_ULM_BLOCK
    DP blocks — ONE text used for the initial model (q443/q447) and
    the re-estimated model (q452's second E-step), so the two
    constructions cannot drift apart."""
    b = _ULM_BLOCK
    return f"""
    {arr_cte} AS MATERIALIZED (
        SELECT doc_id, source,
               list(qc ORDER BY i) FILTER (WHERE l = 1) AS e1,
               list(qc ORDER BY i) FILTER (WHERE l = 2) AS e2,
               list(qc ORDER BY i) FILTER (WHERE l = 3) AS e3,
               max(i) AS n
        FROM pl JOIN {model_cte} USING (piece)
        GROUP BY doc_id, source
    ),
    {blk_cte} AS MATERIALIZED (
        SELECT doc_id, source,
               kk * {b} AS g0,
               least({b}, n - kk * {b}) AS n,
               e1[kk * {b} + 1 : kk * {b} + {b}] AS e1,
               e2[kk * {b} + 1 : kk * {b} + {b}] AS e2,
               e3[kk * {b} + 1 : kk * {b} + {b}] AS e3
        FROM (
            SELECT doc_id, source, n, e1, e2, e3,
                   unnest(generate_series(0, (n - 1) // {b})) AS kk
            FROM {arr_cte}
        )
    )"""


# The lattice CTEs (positions → candidate pieces → smoothed model →
# per-doc end-indexed cost arrays → ≤_ULM_BLOCK-char DP blocks) — ONE
# definition shared by q443's segmentation release, q447's hard-EM
# M-step, and q452's EM round 2, so the oracles cannot drift apart.
_ULM_LATTICE_CTES = f"""
    exp AS MATERIALIZED (
        SELECT doc_id, source, text, n,
               unnest(generate_series(1, n)) AS i
        FROM (SELECT doc_id, source, text, length(text) AS n
              FROM documents
              WHERE length(text) >= 1)
    ),
    pl AS MATERIALIZED (
        SELECT doc_id, source, i, l,
               substr(text, CAST(i - l + 1 AS INTEGER),
                      CAST(l AS INTEGER)) AS piece
        FROM (SELECT doc_id, source, text, i,
                     unnest([1, 2, 3]) AS l
              FROM exp)
        WHERE l <= i
    ),
    cnts AS MATERIALIZED (SELECT piece, count(*) AS c FROM pl GROUP BY 1),
    mtot AS MATERIALIZED (SELECT sum(c) AS tot, count(*) AS v FROM cnts),
    model AS MATERIALIZED (
        SELECT piece,
               CAST(round(1000000.0
                   * ln(CAST(tot + v AS DOUBLE) / (c + 1))) AS BIGINT) AS qc
        FROM cnts CROSS JOIN mtot
    ),
    {_ulm_block_ctes("model", "arr", "blk")}"""


def _ulm_oracle_sql() -> str:
    qs = 1_000_000
    return f"""
    WITH {_ULM_LATTICE_CTES},
    dp AS MATERIALIZED (
        SELECT doc_id, source, n, {_ulm_fold_expr("duckdb")} AS st
        FROM blk
    ),
    per_doc AS (
        SELECT doc_id, source, n, st[5] AS cost_q, st[6] AS toks FROM dp
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_chars,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           ((2 * sum(toks) * {qs} + sum(n)) // (2 * sum(n)))
               / 1000000.0 AS tokens_per_char,
           ((2 * sum(cost_q) * {qs} + sum(toks) * {qs})
            // (2 * sum(toks) * {qs})) / 1000000.0 AS mean_nats_per_token
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


def _ulm_pl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc, position, length) candidate-piece explode — Spark
    twin of the ``pl`` CTE. Pure builder: callers go through
    :func:`_ulm_component` ("pl"), which localCheckpoints the frame
    once per session so the explode never re-runs."""
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "source", "text", F.length("text").alias("n"))
        # Empty-doc guard: Spark's sequence(1, 0)
        # is the DESCENDING [1, 0] while DuckDB's generate_series(1, 0)
        # is empty, so a length-0 doc would inject an empty-string
        # piece into the Spark-side vocabulary and shift every smoothed
        # cost corpus-wide. Matches q440's >= 3 / q445's >= 40 guards;
        # the CTE twin carries the same predicate.
        .where(F.col("n") >= 1)
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "text",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        )
        .select(
            "doc_id",
            "source",
            "text",
            "i",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("l"),
        )
        .where(F.col("l") <= F.col("i"))
        .select(
            "doc_id",
            "source",
            "i",
            "l",
            F.expr("substring(text, i - l + 1, l)").alias("piece"),
        )
    )


def _ulm_cnts(pl: DataFrame) -> DataFrame:
    """Candidate-piece counts (the ``cnts`` CTE): the model VOCABULARY
    — every corpus substring of length 1-3."""
    return pl.groupBy("piece").agg(F.count(F.lit(1)).alias("c"))


def _ulm_model0(cnts: DataFrame) -> DataFrame:
    """Initial add-one-smoothed quantized model (the ``model`` CTE):
    qc = round(1e6 · ln((tot + v) / (c + 1))) per candidate piece."""
    mtot = cnts.agg(F.sum("c").alias("tot"), F.count(F.lit(1)).alias("v"))
    return cnts.crossJoin(F.broadcast(mtot)).select(
        "piece",
        F.round(
            F.lit(1000000.0)
            * F.log(
                (F.col("tot") + F.col("v")).cast("double")
                / (F.col("c") + 1)
            )
        )
        .cast("long")
        .alias("qc"),
    )


def _ulm_block_arrays(pl: DataFrame, model: DataFrame) -> DataFrame:
    """Spark twin of :func:`_ulm_block_ctes`: gather per-doc
    end-indexed cost arrays from ``pl`` joined to ``model`` (columns
    piece, qc), then split into ≤``_ULM_BLOCK``-char DP blocks.
    Returns BLOCK grain: (doc_id, source, g0, n, e1, e2, e3) where g0
    is the block's global char offset and n ≤ _ULM_BLOCK the
    block-local length."""

    def gather(lv: int) -> Column:
        return F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("l") == lv, F.struct("i", "qc"))
                )
            ),
            lambda x: x["qc"],
        ).alias(f"e{lv}")

    arr = (
        pl.join(F.broadcast(model), "piece")
        .groupBy("doc_id", "source")
        .agg(gather(1), gather(2), gather(3), F.max("i").alias("n"))
    )
    blk_len = _ULM_BLOCK
    return arr.select(
        "doc_id",
        "source",
        "n",
        "e1",
        "e2",
        "e3",
        F.explode(
            F.expr(f"sequence(0, (n - 1) div {blk_len})")
        ).alias("kk"),
    ).select(
        "doc_id",
        "source",
        (F.col("kk") * blk_len).cast("int").alias("g0"),
        F.least(F.lit(blk_len), F.col("n") - F.col("kk") * blk_len)
        .cast("int")
        .alias("n"),
        F.expr(f"slice(e1, kk * {blk_len} + 1, {blk_len})").alias("e1"),
        F.expr(f"slice(e2, kk * {blk_len} + 1, {blk_len})").alias("e2"),
        F.expr(f"slice(e3, kk * {blk_len} + 1, {blk_len})").alias("e3"),
    )


# --- session-shared lattice build -----------------------------------------
#
# q443/q447/q452/q454/q470 all derive from the SAME deterministic frames:
# the candidate explode (pl), the vocabulary counts (cnts), the blocked
# cost arrays under the initial model (blk0), the Viterbi usage recount
# (used) and the blocked arrays under the re-estimated model (blk1, and
# usedK/blkK for later EM rounds). `_ulm_component` builds each one
# LAZILY through `session.session_store` (family "ulm", one build per
# Spark application and sf_dir) and localCheckpoint(eager)s it, which
# truncates lineage and survives the per-query
# `spark.catalog.clearCache()` in bench.py/oracle.py (it clears only the
# SQL CacheManager). Checkpointed blocks are MEMORY_AND_DISK at bounded
# grain: positions×3 for pl, vocab for cnts/used, blocks for blk0/blk1.
# Sharing does not change any released value: every component is
# deterministic on this runtime, and the oracle side shares one CTE
# text.

# Checkpoint the candidate explode only while its row storage
# (~120 B/char × chars) stays a comfortable fraction of the default
# 8 GB heap; beyond this, recompute it per consumer (SCALE.md §8c7).
_ULM_PL_CACHE_MAX_CHARS = 20_000_000


def _ulm_component(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazily build, checkpoint, and store one shared lattice
    component: "pl", "cnts", "blk0", "used", "blk1", or "usedK"/"blkK"
    for later EM rounds. The cheap vocab-bounded model projections
    (model0/model1) are rebuilt from checkpointed inputs at each use —
    they cost one broadcast-sized scan and storing them would only add
    storage."""
    import re

    if name == "used1":
        name = "used"

    def comp(dep: str) -> DataFrame:
        return _ulm_component(spark, sf_dir, dep)

    def build() -> DataFrame:
        if name == "pl":
            # SIZE-AWARE checkpoint policy (r14 100x-drill finding,
            # SCALE.md §8c7): pl is the position×3 candidate explode —
            # the one data-sized frame here. At 100x (75M rows, ~25M
            # chars) materializing it into executor storage STARVED the
            # downstream DP stage (usage pass 22 s lazy → 76 s with pl
            # checkpointed; memory pressure, not compute), while at
            # fixture scale the checkpoint saves q454's second gather
            # (~7 s at sf0.1). So: checkpoint when the corpus is small
            # enough that ~120 B/char of row storage stays a fraction of
            # the heap (≤ _ULM_PL_CACHE_MAX_CHARS ≈ 2.4 GB), recompute
            # otherwise — at real scale the explode is ALWAYS recomputed,
            # a cheap map fused into the parquet scan. The policy affects
            # only wall time; released values are identical either way.
            n_chars = (
                load_tables(spark, sf_dir)["documents"]
                .agg(F.sum("n_chars"))
                .collect()[0][0]
                or 0
            )
            df = _ulm_pl(spark, sf_dir)
            if n_chars <= _ULM_PL_CACHE_MAX_CHARS:
                df = df.localCheckpoint(eager=True)
            return df
        if name == "cnts":
            df = _ulm_cnts(comp("pl"))
        elif name == "blk0":
            df = _ulm_block_arrays(comp("pl"), _ulm_model0(comp("cnts")))
        elif name == "used":
            df = _ulm_usage(spark, sf_dir, comp("blk0"))
        elif (m := re.fullmatch(r"used(\d+)", name)) is not None:
            # k-th usage recount: the optimal-segmentation count under
            # the (k-1)-th re-estimated model — q470's later EM rounds.
            df = _ulm_usage(spark, sf_dir, comp(f"blk{int(m.group(1)) - 1}"))
        elif (m := re.fullmatch(r"blk(\d+)", name)) is not None:
            # k-th blocked arrays: under the model re-estimated from
            # the k-th usage recount.
            df = _ulm_block_arrays(
                comp("pl"),
                _ulm_model1(comp("cnts"), comp(f"used{m.group(1)}")),
            )
        else:  # pragma: no cover - programming error
            raise KeyError(name)
        return df.localCheckpoint(eager=True)

    return session_store(spark, "ulm", sf_dir, name, build)


def _ulm_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked cost arrays under the INITIAL model — the composition
    q443/q447 consume (see the component helpers above; the model is
    built from FULL documents before the block split). Session-shared
    via :func:`_ulm_component`."""
    return _ulm_component(spark, sf_dir, "blk0")


@query(
    "q443_unigram_lm_viterbi_segmentation",
    oracle=_ulm_oracle_sql(),
    tags=("llm", "tokenizer", "unigram-lm", "viterbi", "text"),
)
def q443_unigram_lm_viterbi_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM tokenizer Viterbi segmentation (Kudo 2018 — the
    SentencePiece model) — the tokenizer family's LATTICE member:
    q239 trains BPE by greedy pair merging, q326 measures fertility of
    a fixed tokenizer; the unigram LM instead scores EVERY
    segmentation of a document over a piece vocabulary and picks the
    max-likelihood one — this operator builds the candidate vocabulary
    (all corpus substrings of length 1–3, add-one-smoothed unigram
    costs), runs the exact Viterbi DP per document, and releases
    per-source segmentation stats: token counts, tokens-per-char
    (the fertility of the OPTIMAL segmentation), and mean cost per
    token — the E-step core of SentencePiece's EM trainer.

    The DP is a single in-plan fold: per document, per-position piece
    costs are gathered into three end-indexed arrays (one equi-join
    against the bounded model — never a per-position lookup), then a
    rolling 6-element BIGINT accumulator [cost/tokens for i−3, i−2,
    i−1] advances position by position (O(1) state, O(n) work — NOT
    the O(n²) list-append encoding), with ties broken to the shortest
    piece by CASE order. Both engines run the SAME fold emitted from
    one template (``_ulm_fold_expr``).

    Determinism: piece costs are single-ln draws on bit-identical
    integer ratios QUANTIZED to 1e-6 BIGINTs (the q440 exposure
    class); the DP is then pure integer arithmetic — min/plus over
    exact BIGINTs with an exact tie rule — so the per-doc cost and
    token count are exactly equal on both engines; releases use the
    half-up integer idiom.

    Scale posture: the (i, l) explode is ≤ 3 rows per char — one
    corpus map; the model is bounded (|charset|³ worst case) and
    BROADCAST to the cost join; array gathering is one (doc)-grain
    partial+final aggregate; the DP fold is map-side per-block
    compute fused above it (the shared lattice splits docs at
    ``_ULM_BLOCK`` chars — O(1) state per fold either way, but the
    bound keeps q447's full-table sibling linear and the two
    releases consistent; token boundaries are forced at block edges,
    +0.88% tokens at the fixture). The release is a bounded
    source-grain rollup. No per-position shuffles anywhere.
    Reference contract: per-doc lattice + DP = map slot
    (``App.config:16``); vocabulary counts + release rollup = reduce
    slots (``App.config:17``, ``Program.cs:351-384``)."""
    arr = _ulm_arr(spark, sf_dir)
    per_doc = arr.select(
        "doc_id",
        "source",
        "n",
        F.expr(_ulm_fold_expr("spark")).alias("st"),
    ).select(
        "doc_id",
        "source",
        "n",
        F.element_at("st", 5).alias("cost_q"),
        F.element_at("st", 6).alias("toks"),
    )
    qs = 1_000_000
    return (
        per_doc.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n").alias("n_chars"),
            F.sum("toks").alias("n_tokens"),
            F.sum("cost_q").alias("cost_sum"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            half_up_ratio(F.col("n_tokens"), F.col("n_chars"), 6).alias(
                "tokens_per_char"
            ),
            half_up_ratio(
                F.col("cost_sum"), F.col("n_tokens") * F.lit(qs), 6
            ).alias("mean_nats_per_token"),
        )
        .orderBy("source")
    )


# --- q447: unigram-LM hard-EM M-step (Viterbi piece usage) ---------------

_ULM_TOPN = 20  # released head of the usage-ranked piece table


def _ulm_cost_table_expr(engine: str) -> str:
    """Forward DP emitting the FULL cost table c_0..c_n as a BIGINT
    list (q443's rolling fold keeps O(1) state but discards the table;
    backtracking needs all of it). Same candidate order and tie rule
    as q443. O(n²) element copies per doc (list append) — bounded by
    document length, never by corpus size."""
    h = f"CAST({_ULM_HUGE} AS BIGINT)"
    if engine == "spark":
        at = lambda a, i: f"element_at({a}, {i})"  # noqa: E731
        i = "i"
        c1 = f"{at('acc', i)} + {at('e1', i)}"
        c2 = (
            f"CASE WHEN {i} >= 2 THEN {at('acc', f'{i} - 1')}"
            f" + {at('e2', f'{i} - 1')} ELSE {h} END"
        )
        c3 = (
            f"CASE WHEN {i} >= 3 THEN {at('acc', f'{i} - 2')}"
            f" + {at('e3', f'{i} - 2')} ELSE {h} END"
        )
        return (
            f"aggregate(sequence(1, n), array(CAST(0 AS BIGINT)),"
            f" (acc, i) -> concat(acc, array(least({c1}, {c2}, {c3}))))"
        )
    i = "x[1]"
    c1 = f"acc[{i}] + e1[{i}]"
    c2 = (
        f"CASE WHEN {i} >= 2 THEN acc[{i} - 1] + e2[{i} - 1]"
        f" ELSE {h} END"
    )
    c3 = (
        f"CASE WHEN {i} >= 3 THEN acc[{i} - 2] + e3[{i} - 2]"
        f" ELSE {h} END"
    )
    return (
        f"list_reduce(list_prepend([CAST(0 AS BIGINT)],"
        f" list_transform(generate_series(1, n), j -> [CAST(j AS BIGINT)])),"
        f" (acc, x) -> list_concat(acc, [least({c1}, {c2}, {c3})]))"
    )


def _ulm_lstar_expr(engine: str) -> str:
    """Per-position chosen-length array l*[1..n], computed VECTORIZED
    against the finished cost table (a list_transform/transform — no
    fold): at each position the three candidates are recomputed
    exactly as the forward pass built them, with the same
    shortest-piece tie rule. Keeping this OUT of the backtrack fold
    matters twice over: the walk's lambda stays tiny (a large
    candidate lambda inside list_reduce segfaults DuckDB 1.0 at
    ~200-doc chunks — reproduced, bisected), and the O(n) candidate
    math runs once instead of once per walk step."""
    h = f"CAST({_ULM_HUGE} AS BIGINT)"
    if engine == "spark":
        at = lambda a, i: f"element_at({a}, CAST({i} AS INT))"  # noqa: E731
        c1 = f"{at('costs', 'i')} + {at('e1', 'i')}"
        c2 = (
            f"CASE WHEN i >= 2 THEN {at('costs', 'i - 1')}"
            f" + {at('e2', 'i - 1')} ELSE {h} END"
        )
        c3 = (
            f"CASE WHEN i >= 3 THEN {at('costs', 'i - 2')}"
            f" + {at('e3', 'i - 2')} ELSE {h} END"
        )
        return (
            f"transform(sequence(1, n), i -> CAST("
            f"CASE WHEN ({c1}) <= ({c2}) AND ({c1}) <= ({c3}) THEN 1"
            f" WHEN ({c2}) <= ({c3}) THEN 2 ELSE 3 END AS BIGINT))"
        )
    c1 = "costs[CAST(i AS INTEGER)] + e1[CAST(i AS INTEGER)]"
    c2 = (
        f"CASE WHEN i >= 2 THEN costs[CAST(i - 1 AS INTEGER)]"
        f" + e2[CAST(i - 1 AS INTEGER)] ELSE {h} END"
    )
    c3 = (
        f"CASE WHEN i >= 3 THEN costs[CAST(i - 2 AS INTEGER)]"
        f" + e3[CAST(i - 2 AS INTEGER)] ELSE {h} END"
    )
    return (
        f"list_transform(generate_series(1, n), i -> CAST("
        f"CASE WHEN ({c1}) <= ({c2}) AND ({c1}) <= ({c3}) THEN 1"
        f" WHEN ({c2}) <= ({c3}) THEN 2 ELSE 3 END AS BIGINT))"
    )


def _ulm_backtrack_expr(engine: str) -> str:
    """Backward path walk over the precomputed l* array: acc is the
    boundary list NEWEST-FIRST starting [n]; each step reads the
    current boundary p at the FIXED index 1, prepends p − l*[p], and
    no-ops once p = 0 — the released list is therefore ascending
    (0 … n) after zero-padding at the front. n iterations bound the
    walk. Two DuckDB 1.0 list_reduce bugs shaped this lambda
    (bisected at ~200-doc chunk volume; the q267 accumulator-bug
    family, new members): (a) indexing the accumulator at
    ``len(acc)`` reads CORRUPT values — p therefore lives at the
    FIXED index 1 via prepend-encoding; (b) a CASE branch that
    returns the accumulator UNCHANGED segfaults outright — the fold
    therefore ALWAYS prepends, padding finished walks with zeros
    that the hi > lo pair filter drops."""
    if engine == "spark":
        p = "element_at(acc, 1)"
        step = (
            f"CASE WHEN {p} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE {p} - element_at(ls, CAST({p} AS INT)) END"
        )
        return (
            f"aggregate(sequence(1, n), array(CAST(n AS BIGINT)),"
            f" (acc, j) -> concat(array({step}), acc))"
        )
    p = "acc[1]"
    step = (
        f"CASE WHEN {p} = 0 THEN CAST(0 AS BIGINT)"
        f" ELSE {p} - ls[CAST({p} AS INTEGER)] END"
    )
    return (
        f"list_reduce(list_prepend([CAST(n AS BIGINT)],"
        f" list_transform(generate_series(1, n), j -> [CAST(j AS BIGINT)])),"
        f" (acc, x) -> list_prepend({step}, acc))"
    )


def _ulm_usage_ctes(
    blk: str = "blk", out: str = "used", sfx: str = ""
) -> str:
    """CTEs reconstructing every document's optimal piece sequence
    under a model (full-table forward pass over ``blk``, vectorized
    l*, backtrack walk) and recounting corpus-wide piece usage —
    shared verbatim by q447's release and q452's M-step, and
    parametrized (r14) so q470's EM loop can unroll one usage pass
    per round with distinct CTE names. Defaults render the exact
    pre-r14 text."""
    return f"""
    ct{sfx} AS MATERIALIZED (
        SELECT a.doc_id, a.source, d.text, a.g0, a.n, a.e1, a.e2, a.e3,
               {_ulm_cost_table_expr("duckdb")} AS costs
        FROM {blk} a JOIN documents d USING (doc_id)
    ),
    lt{sfx} AS MATERIALIZED (
        SELECT doc_id, text, g0, n, {_ulm_lstar_expr("duckdb")} AS ls
        FROM ct{sfx}
    ),
    bt{sfx} AS MATERIALIZED (
        SELECT doc_id, text, g0, {_ulm_backtrack_expr("duckdb")} AS b
        FROM lt{sfx}
    ),
    pieces{sfx} AS MATERIALIZED (
        SELECT doc_id,
               substr(text, CAST(g0 + s.lo + 1 AS INTEGER),
                      CAST(s.hi - s.lo AS INTEGER)) AS piece
        FROM (
            SELECT doc_id, text, g0,
                   unnest(list_transform(generate_series(1, len(b) - 1),
                       i -> struct_pack(hi := b[CAST(i + 1 AS INTEGER)],
                                        lo := b[CAST(i AS INTEGER)]))) AS s
            FROM bt{sfx}
        )
        WHERE s.hi > s.lo
    ),
    {out} AS MATERIALIZED (
        SELECT piece, count(*) AS n_used FROM pieces{sfx} GROUP BY 1
    )"""


def _ulm_mstep_oracle_sql() -> str:
    return f"""
    WITH {_ULM_LATTICE_CTES},
    {_ulm_usage_ctes()},
    t2 AS (SELECT sum(n_used) AS t FROM used),
    rk AS (
        SELECT piece, n_used,
               row_number() OVER (ORDER BY n_used DESC, piece ASC) AS rank
        FROM used
    )
    SELECT CAST(rank AS BIGINT) AS rank, piece,
           CAST(n_used AS BIGINT) AS n_used,
           ((2 * n_used * 1000000 + t.t) // (2 * t.t)) / 1000000.0
               AS usage_share
    FROM rk CROSS JOIN t2 t
    WHERE rank <= {_ULM_TOPN}
    ORDER BY rank
    """


def _ulm_usage(spark: SparkSession, sf_dir: str, blk: DataFrame) -> DataFrame:
    """Spark twin of :func:`_ulm_usage_ctes`: per-block full-cost-table
    forward pass, vectorized l*, backtrack walk reconstructing the
    optimal piece sequence in-plan, then the corpus-wide usage recount
    → (piece, n_used). Shared by q447's release and q452's M-step."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    ct = blk.join(docs, "doc_id").select(
        "doc_id",
        "text",
        "g0",
        "n",
        "e1",
        "e2",
        "e3",
        F.expr(_ulm_cost_table_expr("spark")).alias("costs"),
    )
    lt = ct.select(
        "doc_id",
        "text",
        "g0",
        "n",
        F.expr(_ulm_lstar_expr("spark")).alias("ls"),
    )
    bt = lt.select(
        "doc_id",
        "text",
        "g0",
        F.expr(_ulm_backtrack_expr("spark")).alias("b"),
    )
    pieces = (
        bt.select(
            "doc_id",
            "text",
            "g0",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(b) - 1),"
                    " i -> named_struct('hi', element_at(b, i + 1),"
                    " 'lo', element_at(b, i)))"
                )
            ).alias("s"),
        )
        .where(F.col("s.hi") > F.col("s.lo"))
        .select(
            "doc_id",
            F.expr("substring(text, g0 + s.lo + 1, s.hi - s.lo)").alias(
                "piece"
            ),
        )
    )
    return pieces.groupBy("piece").agg(F.count(F.lit(1)).alias("n_used"))


@query(
    "q447_unigram_lm_hard_em_mstep",
    oracle=_ulm_mstep_oracle_sql(),
    tags=("llm", "tokenizer", "unigram-lm", "em", "viterbi", "text"),
)
def q447_unigram_lm_hard_em_mstep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM hard-EM M-step — the piece-usage recount that makes
    q443 a TRAINER, not just a scorer: SentencePiece's EM loop
    alternates (E) Viterbi-segment the corpus under the current piece
    model with (M) re-estimate piece probabilities from the counts
    the optimal segmentations actually used. This operator runs the
    full step: the shared lattice (``_ULM_LATTICE_CTES`` /
    ``_ulm_arr`` — one definition with q443), a forward DP that keeps
    the FULL cost table, exact backtracking that reconstructs every
    document's optimal piece sequence in-plan (a bounded fold — no
    UDF, no driver loop), and the corpus-wide usage recount; released
    is the usage-ranked head of the new piece table (top {_ULM_TOPN}
    with exact counts and half-up shares) — the next model's heaviest
    pieces, on the verified path.

    Determinism: the cost table and backtrack use the SAME candidate
    order and shortest-piece tie rule as q443's forward pass (the
    reconstruction provably walks a cost-optimal path); all DP state
    is exact BIGINTs over the 1e-6-quantized ln costs (the q440
    exposure class); the released ranking tie-breaks by piece string
    (byte order on both engines); shares use the half-up idiom;
    rank is a ``bounded_order`` window (vocab ≤ |charset|³ — an
    audited bounded grain).

    Scale posture: identical shuffle profile to q443 (one corpus
    map + bounded broadcast model + doc-grain gather) plus one
    (piece)-keyed recount aggregate. The full-cost-table DP is O(B²)
    in ELEMENT COPIES per ≤``_ULM_BLOCK``-char block (immutable-list
    fold), i.e. O(n·B) per document — the "chunk long docs
    upstream" mitigation made ENGINE-NATIVE: the shared lattice
    splits every doc's end-indexed arrays at the block bound before
    the DP, so per-task compute is bounded for ANY document length
    (sf0.1 A/B: 47-50 s unblocked → ≈21 s at B=64; SCALE.md §8c4).
    Reference contract: per-doc segmentation = map slot
    (``App.config:16``); usage recount + rank = reduce slots
    (``App.config:17``, ``Program.cs:351-384``)."""
    used = _ulm_component(spark, sf_dir, "used")
    t2 = used.agg(F.sum("n_used").alias("t"))
    rk = used.withColumn(
        "rank",
        F.row_number().over(
            bounded_order(F.col("n_used").desc(), F.col("piece").asc())
        ),
    ).where(F.col("rank") <= _ULM_TOPN)
    return (
        rk.crossJoin(F.broadcast(t2))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "piece",
            F.col("n_used").cast("long").alias("n_used"),
            half_up_ratio(F.col("n_used"), F.col("t"), 6).alias(
                "usage_share"
            ),
        )
        .orderBy("rank")
    )


# --- q452: unigram-LM EM round 2 (monotone second E-step) ----------------

_ULM_TOPM = 50  # model-head size for the vocab-churn release


def _ulm_model1_ctes(
    used: str = "used", model: str = "model1", tot: str = "m1tot"
) -> str:
    """Re-estimated model CTEs (M-step output → smoothed costs over
    the FULL candidate vocabulary) — shared by q452's second E-step
    and q454's prune evaluation so the re-estimation cannot drift;
    parametrized (r14) so q470's EM loop can re-estimate once per
    round with distinct CTE names. Defaults render the exact pre-r14
    text."""
    return f"""
    {tot} AS MATERIALIZED (
        SELECT (SELECT sum(n_used) FROM {used}) AS t1,
               (SELECT count(*) FROM cnts) AS v
    ),
    {model} AS MATERIALIZED (
        SELECT c.piece,
               CAST(round(1000000.0 * ln(CAST(t1 + v AS DOUBLE)
                   / (coalesce(u.n_used, 0) + 1))) AS BIGINT) AS qc
        FROM cnts c
        LEFT JOIN {used} u USING (piece)
        CROSS JOIN {tot}
    )"""


def _ulm_model1(cnts: DataFrame, used: DataFrame) -> DataFrame:
    """Spark twin of :func:`_ulm_model1_ctes`: add-one-smoothed
    quantized costs over the FULL candidate vocabulary from the
    M-step's usage counts (unused pieces smooth to the ceiling)."""
    m1tot = used.agg(F.sum("n_used").alias("t1")).crossJoin(
        F.broadcast(cnts.agg(F.count(F.lit(1)).alias("v")))
    )
    return (
        cnts.join(used, "piece", "left")
        .crossJoin(F.broadcast(m1tot))
        .select(
            "piece",
            F.round(
                F.lit(1000000.0)
                * F.log(
                    (F.col("t1") + F.col("v")).cast("double")
                    / (F.coalesce(F.col("n_used"), F.lit(0)) + 1)
                )
            )
            .cast("long")
            .alias("qc"),
        )
    )


def _ulm_em2_oracle_sql() -> str:
    qs = 1_000_000
    return f"""
    WITH {_ULM_LATTICE_CTES},
    {_ulm_usage_ctes()},
    dp0 AS MATERIALIZED (
        SELECT {_ulm_fold_expr("duckdb")} AS st FROM blk
    ),
    it1 AS MATERIALIZED (
        SELECT sum(st[5]) AS cost_q, sum(st[6]) AS toks FROM dp0
    ),
    {_ulm_model1_ctes()},
    rescore AS MATERIALIZED (
        SELECT sum(u.n_used * m.qc) AS c21
        FROM used u JOIN model1 m USING (piece)
    ),
    {_ulm_block_ctes("model1", "arr1", "blk1")},
    dp1 AS MATERIALIZED (
        SELECT {_ulm_fold_expr("duckdb")} AS st FROM blk1
    ),
    it2 AS MATERIALIZED (
        SELECT sum(st[5]) AS cost_q, sum(st[6]) AS toks FROM dp1
    ),
    top0 AS (SELECT piece FROM model
             ORDER BY qc ASC, piece ASC LIMIT {_ULM_TOPM}),
    top1 AS (SELECT piece FROM model1
             ORDER BY qc ASC, piece ASC LIMIT {_ULM_TOPM}),
    churn AS MATERIALIZED (
        SELECT {_ULM_TOPM} - count(*) AS ch
        FROM top0 JOIN top1 USING (piece)
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS iteration,
               CAST(cost_q AS BIGINT) AS cost_q,
               CAST(NULL AS BIGINT) AS rescored_prev_cost_q,
               CAST(toks AS BIGINT) AS n_tokens,
               ((2 * cost_q * {qs} + toks * {qs})
                // (2 * toks * {qs})) / 1000000.0 AS mean_nats_per_token,
               CAST(NULL AS BIGINT) AS top_vocab_churn
        FROM it1
        UNION ALL
        SELECT CAST(2 AS BIGINT),
               CAST(i2.cost_q AS BIGINT),
               CAST(r.c21 AS BIGINT),
               CAST(i2.toks AS BIGINT),
               ((2 * i2.cost_q * {qs} + i2.toks * {qs})
                // (2 * i2.toks * {qs})) / 1000000.0,
               CAST(c.ch AS BIGINT)
        FROM it2 i2 CROSS JOIN rescore r CROSS JOIN churn c
    )
    ORDER BY iteration
    """


@query(
    "q452_unigram_lm_em_round2",
    oracle=_ulm_em2_oracle_sql(),
    tags=("llm", "tokenizer", "unigram-lm", "em", "viterbi", "text"),
)
def q452_unigram_lm_em_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM EM ROUND 2 — closing the training loop: q443
    scores the corpus under the initial candidate model
    (E-step 1), q447 re-estimates piece probabilities from the optimal
    segmentations' usage counts (M-step); this operator feeds that
    re-estimated model into a SECOND E-step and releases the
    per-iteration trajectory on the verified path: corpus cost and
    token count under each model, the OLD segmentation re-scored under
    the NEW model, and the model-head vocabulary churn (how many of
    the {_ULM_TOPM} most-probable pieces changed between models).

    EM monotonicity, made EXACT by quantization (the q436 posterior-
    quantization discipline): both models quantize costs to 1e-6
    BIGINTs, so the Viterbi DP is pure integer min/plus — and the old
    segmentation is one feasible point of the same blocked
    segmentation space the second E-step searches, so
    cost(seg2 | model1) ≤ cost(seg1 | model1) holds as an exact
    integer inequality (released as cost_q ≤ rescored_prev_cost_q on
    the iteration-2 row; pinned by an invariant test). The add-one
    smoothing means the M-step is not the unsmoothed cost argmin, so
    the cross-model comparison cost(seg1|model1) vs cost(seg1|model0)
    is NOT asserted — the provable inequality is the within-model one,
    stated exactly. rescored_prev_cost_q needs no second backtrack:
    cost(seg1 | model1) = Σ_p n_used(p) · qc1(p) over q447's usage
    table.

    Determinism: model1's smoothed costs are single-ln draws on
    bit-identical IEEE ratios of exact integers (the q440/q443
    exposure class), quantized before any sum; every released number
    is exact integer math or the half-up idiom; the churn join is on
    unique piece strings with a total (qc, piece) order.

    Scale posture: one candidate explode (persisted, reused by both
    models' array gathers), the model aggregates and both model joins
    are vocab-bounded broadcasts, the usage recount is q447's
    (piece)-keyed aggregate, and the second E-step is the same
    blocked O(n·B) map work as the first — per-document compute stays
    bounded by ``_ULM_BLOCK``. The release is a 2-row fold of 1-row
    aggregates (broadcast cross joins). Reference contract: per-doc
    segmentation = map slot (``App.config:16``); usage recount, model
    re-estimation and the released trajectory = reduce slots
    (``App.config:17``, ``Program.cs:351-384``)."""
    qs = 1_000_000
    cnts = _ulm_component(spark, sf_dir, "cnts")
    model0 = _ulm_model0(cnts)
    blk0 = _ulm_component(spark, sf_dir, "blk0")
    it1 = blk0.select(F.expr(_ulm_fold_expr("spark")).alias("st")).agg(
        F.sum(F.element_at("st", 5)).alias("cost_q"),
        F.sum(F.element_at("st", 6)).alias("toks"),
    )
    used = _ulm_component(spark, sf_dir, "used")
    model1 = _ulm_model1(cnts, used)
    rescore = used.join(F.broadcast(model1), "piece").agg(
        F.sum(F.col("n_used") * F.col("qc")).alias("c21")
    )
    it2 = (
        _ulm_component(spark, sf_dir, "blk1")
        .select(F.expr(_ulm_fold_expr("spark")).alias("st"))
        .agg(
            F.sum(F.element_at("st", 5)).alias("cost_q"),
            F.sum(F.element_at("st", 6)).alias("toks"),
        )
    )
    top0 = (
        model0.orderBy(F.col("qc").asc(), F.col("piece").asc())
        .limit(_ULM_TOPM)
        .select("piece")
    )
    top1 = (
        model1.orderBy(F.col("qc").asc(), F.col("piece").asc())
        .limit(_ULM_TOPM)
        .select("piece")
    )
    churn = top0.join(top1, "piece").agg(
        (F.lit(_ULM_TOPM) - F.count(F.lit(1))).alias("ch")
    )
    row1 = it1.select(
        F.lit(1).cast("long").alias("iteration"),
        F.col("cost_q").cast("long").alias("cost_q"),
        F.lit(None).cast("long").alias("rescored_prev_cost_q"),
        F.col("toks").cast("long").alias("n_tokens"),
        half_up_ratio(F.col("cost_q"), F.col("toks") * qs, 6).alias(
            "mean_nats_per_token"
        ),
        F.lit(None).cast("long").alias("top_vocab_churn"),
    )
    row2 = (
        it2.crossJoin(F.broadcast(rescore))
        .crossJoin(F.broadcast(churn))
        .select(
            F.lit(2).cast("long").alias("iteration"),
            F.col("cost_q").cast("long").alias("cost_q"),
            F.col("c21").cast("long").alias("rescored_prev_cost_q"),
            F.col("toks").cast("long").alias("n_tokens"),
            half_up_ratio(F.col("cost_q"), F.col("toks") * qs, 6).alias(
                "mean_nats_per_token"
            ),
            F.col("ch").cast("long").alias("top_vocab_churn"),
        )
    )
    return row1.unionByName(row2).orderBy("iteration")


# --- q454: unigram-LM vocabulary pruning (the SentencePiece prune step) ---

_ULM_KEEP = 200  # multi-char pieces retained (rank cut, the q388 lesson)


def _ulm_pruned_block_arrays(
    spark: SparkSession, sf_dir: str, kept: DataFrame
) -> DataFrame:
    """q454's blk2 — blocked cost arrays under the PRUNED model —
    derived from the session-shared blk1 plus a SPARSE kept-position
    overlay instead of a full re-gather ("decide with small rows").

    Why this is exact: model2 equals model1 on every kept piece and on
    every single-char piece, and is the +∞ sentinel elsewhere; the
    model join keeps every pl row on both sides (the model's piece set
    IS pl's piece set), so blk2's arrays have IDENTICAL SHAPE to
    blk1's and differ only in value — e1 is unchanged (all single
    chars kept at their model1 cost), and e2/e3 entries are blk1's
    value where the 2-/3-gram at that position is kept and the
    sentinel otherwise. So instead of re-running the full
    position-grain gather (pl ⋈ model2 → collect_list → array_sort →
    block explode — 3.6 s at sf0.1, the query's dominant stage), scan
    pl once through a broadcast semi-join against the ≤{_ULM_KEEP}-row
    keep set (only kept positions survive — a tiny shuffle), aggregate
    their block-local offsets per (doc, block), and MASK the
    checkpointed blk1 arrays elementwise. Index mapping (end-indexed
    arrays, block size B): a kept (i, l=2) lives in block
    kk = (i-2) div B at local offset i-1-kk·B; a kept (i, l=3) in
    kk = (i-3) div B at i-2-kk·B — the exact slice arithmetic of
    ``_ulm_block_arrays``, reproduced entry-for-entry (unread
    block-edge entries included), so the downstream DP fold is
    bit-identical. Scale posture: the overlay scan is a map fused
    into pl's source (pl itself is recomputed, not stored, at real
    scale) followed by a ~0-selectivity broadcast filter; the mask is
    a map over blk1 — no position-grain shuffle remains."""
    b = _ULM_BLOCK
    pl = _ulm_component(spark, sf_dir, "pl")
    blk1 = _ulm_component(spark, sf_dir, "blk1")
    kp = (
        pl.where(F.col("l") >= 2)
        .join(F.broadcast(kept), "piece")
        .select(
            "doc_id",
            F.expr(
                f"CAST((CASE WHEN l = 2 THEN (i - 2) div {b}"
                f" ELSE (i - 3) div {b} END) * {b} AS INT)"
            ).alias("g0"),
            F.expr(
                f"CASE WHEN l = 2 THEN i - 1 - ((i - 2) div {b}) * {b}"
                f" ELSE i - 2 - ((i - 3) div {b}) * {b} END"
            ).alias("j"),
            "l",
        )
        .groupBy("doc_id", "g0")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("l") == 2, F.col("j")))
            ).alias("k2"),
            F.sort_array(
                F.collect_list(F.when(F.col("l") == 3, F.col("j")))
            ).alias("k3"),
        )
    )
    huge = F.lit(_ULM_HUGE).cast("long")

    def masked(e: str, k: str):
        # array_contains(NULL, v) is NULL -> the otherwise() branch, so
        # blocks with no kept positions (left-join miss) go all-HUGE.
        return F.transform(
            F.col(e),
            lambda x, i: F.when(
                F.array_contains(F.col(k), i + F.lit(1)), x
            ).otherwise(huge),
        ).alias(e)

    return blk1.join(kp, ["doc_id", "g0"], "left").select(
        "doc_id",
        "source",
        "g0",
        "n",
        "e1",
        masked("e2", "k2"),
        masked("e3", "k3"),
    )


def _ulm_prune_oracle_sql() -> str:
    qs = 1_000_000
    return f"""
    WITH {_ULM_LATTICE_CTES},
    {_ulm_usage_ctes()},
    {_ulm_model1_ctes()},
    {_ulm_block_ctes("model1", "arr1", "blk1")},
    dp1 AS MATERIALIZED (
        SELECT {_ulm_fold_expr("duckdb")} AS st FROM blk1
    ),
    it_full AS MATERIALIZED (
        SELECT sum(st[5]) AS cost_q, sum(st[6]) AS toks FROM dp1
    ),
    kept AS MATERIALIZED (
        SELECT piece FROM (
            SELECT piece,
                   row_number() OVER (
                       ORDER BY n_used DESC, piece ASC) AS rk
            FROM used WHERE length(piece) >= 2
        ) WHERE rk <= {_ULM_KEEP}
    ),
    model2 AS MATERIALIZED (
        SELECT m.piece,
               CASE WHEN length(m.piece) = 1 OR k.piece IS NOT NULL
                    THEN m.qc
                    ELSE CAST({_ULM_HUGE} AS BIGINT) END AS qc
        FROM model1 m LEFT JOIN kept k USING (piece)
    ),
    {_ulm_block_ctes("model2", "arr2", "blk2")},
    dp2 AS MATERIALIZED (
        SELECT {_ulm_fold_expr("duckdb")} AS st FROM blk2
    ),
    it_pruned AS MATERIALIZED (
        SELECT sum(st[5]) AS cost_q, sum(st[6]) AS toks FROM dp2
    ),
    mass AS MATERIALIZED (
        SELECT sum(CASE WHEN length(u.piece) >= 2 AND k.piece IS NULL
                        THEN u.n_used ELSE 0 END) AS pruned_used,
               sum(u.n_used) AS total_used
        FROM used u LEFT JOIN kept k USING (piece)
    ),
    avail AS MATERIALIZED (
        SELECT (SELECT count(*) FROM cnts WHERE length(piece) >= 2)
                   AS full_multi,
               (SELECT count(*) FROM kept) AS kept_multi
    )
    SELECT * FROM (
        SELECT CAST('full_model1' AS VARCHAR) AS variant,
               CAST(a.full_multi AS BIGINT) AS n_multi_pieces,
               CAST(i.cost_q AS BIGINT) AS cost_q,
               CAST(i.toks AS BIGINT) AS n_tokens,
               ((2 * i.cost_q * {qs} + i.toks * {qs})
                // (2 * i.toks * {qs})) / 1000000.0
                   AS mean_nats_per_token,
               CAST(NULL AS DOUBLE) AS pruned_usage_share
        FROM it_full i CROSS JOIN avail a
        UNION ALL
        SELECT CAST('pruned_top{_ULM_KEEP}' AS VARCHAR),
               CAST(a.kept_multi AS BIGINT),
               CAST(i.cost_q AS BIGINT),
               CAST(i.toks AS BIGINT),
               ((2 * i.cost_q * {qs} + i.toks * {qs})
                // (2 * i.toks * {qs})) / 1000000.0,
               ((2 * m.pruned_used * {qs} + m.total_used)
                // (2 * m.total_used)) / 1000000.0
        FROM it_pruned i CROSS JOIN avail a CROSS JOIN mass m
    )
    ORDER BY variant
    """


@query(
    "q454_unigram_lm_vocab_pruning",
    oracle=_ulm_prune_oracle_sql(),
    tags=("llm", "tokenizer", "unigram-lm", "pruning", "viterbi", "text"),
)
def q454_unigram_lm_vocab_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM VOCABULARY PRUNING — the third phase of the
    SentencePiece trainer (seed vocabulary → EM rounds → prune to the
    target size): keep every single-char piece (segmentability
    guarantee) plus the top {_ULM_KEEP} multi-char pieces by M-step
    usage (rank cut, not a threshold — the q388 lesson), price every
    other piece at the unreachable-cost sentinel, and re-run the
    blocked Viterbi E-step. Released per variant (full re-estimated
    model vs pruned): available multi-char vocabulary, corpus cost,
    token count, mean cost per token, and the pruned pieces' usage
    share — the LOSS-INCREASE-per-vocab-saving curve point that
    SentencePiece ranks prune candidates by.

    Exact monotonicity (pinned): pruning only RESTRICTS the
    segmentation space — model2 equals model1 on every kept piece and
    is +∞ elsewhere, so cost(pruned) ≥ cost(full) as an exact integer
    inequality. Deliberately NOT re-smoothed after pruning: the prune
    metric compares like with like (the re-smooth belongs to the next
    EM round, q452's machinery). Single-char pieces always exist
    (every char occurs as its own candidate), so the pruned DP is
    never forced through the sentinel — the all-singletons path costs
    ≤ 64·max(qc) ≈ 8e8 << the 1e15 sentinel per block.

    Determinism: the keep set is an exact integer rank cut with the
    piece tie-break; everything downstream is the q443/q452 integer
    DP; releases use the half-up idiom.

    Scale posture: q452's dataflow plus one vocab-bounded rank
    (``bounded_order`` grain) and one more blocked O(n·B) E-step —
    per-document compute stays bounded; the keep set and both models
    broadcast. Reference contract: per-doc segmentation = map slot
    (``App.config:16``); usage rank, prune and the released
    comparison = reduce slots (``App.config:17``,
    ``Program.cs:351-384``)."""
    qs = 1_000_000
    cnts = _ulm_component(spark, sf_dir, "cnts")
    used = _ulm_component(spark, sf_dir, "used")
    it_full = (
        _ulm_component(spark, sf_dir, "blk1")
        .select(F.expr(_ulm_fold_expr("spark")).alias("st"))
        .agg(
            F.sum(F.element_at("st", 5)).alias("cost_q"),
            F.sum(F.element_at("st", 6)).alias("toks"),
        )
    )
    kept = (
        used.where(F.length("piece") >= 2)
        .withColumn(
            "rk",
            F.row_number().over(
                bounded_order(F.col("n_used").desc(), F.col("piece").asc())
            ),
        )
        .where(F.col("rk") <= _ULM_KEEP)
        .select("piece")
    )
    # blk2 derives from blk1 + a sparse kept-position overlay (see
    # _ulm_pruned_block_arrays) — the explicit model2 frame the
    # pre-r15 shape joined against pl is algebraically folded into
    # the mask, so the position-grain gather runs once per session
    # (blk1), not once more here.
    it_pruned = (
        _ulm_pruned_block_arrays(spark, sf_dir, kept)
        .select(F.expr(_ulm_fold_expr("spark")).alias("st"))
        .agg(
            F.sum(F.element_at("st", 5)).alias("cost_q"),
            F.sum(F.element_at("st", 6)).alias("toks"),
        )
    )
    mass = (
        used.join(
            F.broadcast(kept.withColumn("is_kept", F.lit(1))),
            "piece",
            "left",
        )
        .agg(
            F.sum(
                F.when(
                    (F.length("piece") >= 2) & F.col("is_kept").isNull(),
                    F.col("n_used"),
                ).otherwise(F.lit(0))
            ).alias("pruned_used"),
            F.sum("n_used").alias("total_used"),
        )
    )
    avail = cnts.where(F.length("piece") >= 2).agg(
        F.count(F.lit(1)).alias("full_multi")
    ).crossJoin(
        F.broadcast(kept.agg(F.count(F.lit(1)).alias("kept_multi")))
    )
    row_full = it_full.crossJoin(F.broadcast(avail)).select(
        F.lit("full_model1").alias("variant"),
        F.col("full_multi").cast("long").alias("n_multi_pieces"),
        F.col("cost_q").cast("long").alias("cost_q"),
        F.col("toks").cast("long").alias("n_tokens"),
        half_up_ratio(F.col("cost_q"), F.col("toks") * qs, 6).alias(
            "mean_nats_per_token"
        ),
        F.lit(None).cast("double").alias("pruned_usage_share"),
    )
    row_pruned = (
        it_pruned.crossJoin(F.broadcast(avail))
        .crossJoin(F.broadcast(mass))
        .select(
            F.lit(f"pruned_top{_ULM_KEEP}").alias("variant"),
            F.col("kept_multi").cast("long").alias("n_multi_pieces"),
            F.col("cost_q").cast("long").alias("cost_q"),
            F.col("toks").cast("long").alias("n_tokens"),
            half_up_ratio(F.col("cost_q"), F.col("toks") * qs, 6).alias(
                "mean_nats_per_token"
            ),
            half_up_ratio(F.col("pruned_used"), F.col("total_used"), 6).alias(
                "pruned_usage_share"
            ),
        )
    )
    return row_full.unionByName(row_pruned).orderBy("variant")


# --- q470: unigram-LM EM trained to a convergence gate --------------------

_ULM_EM_MAX = 5       # EM round budget (hard cap)
_ULM_EM_GATE_PML = 15  # stop when delta < 1.5% of prev cost (per mille)


def _ulm_emc_oracle_sql() -> str:
    qs = 1_000_000
    k = _ULM_EM_MAX
    ctes = [
        _ULM_LATTICE_CTES,
        _ulm_usage_ctes(),
        _ulm_model1_ctes(),
        _ulm_block_ctes("model1", "arr1", "blk1"),
    ]
    for r in range(3, k + 1):
        m = r - 1
        ctes.append(
            _ulm_usage_ctes(blk=f"blk{r - 2}", out=f"used{m}", sfx=str(m))
        )
        ctes.append(
            _ulm_model1_ctes(
                used=f"used{m}", model=f"model{m}", tot=f"m{m}tot"
            )
        )
        ctes.append(_ulm_block_ctes(f"model{m}", f"arr{m}", f"blk{m}"))
    blks = ["blk"] + [f"blk{i}" for i in range(1, k)]
    cost_rows = " UNION ALL ".join(
        f"SELECT {i + 1} AS r, sum(st[5]) AS cq, sum(st[6]) AS tk FROM"
        f" (SELECT {_ulm_fold_expr('duckdb')} AS st FROM {b})"
        for i, b in enumerate(blks)
    )
    return f"""
    WITH {",".join(ctes)},
    cc AS MATERIALIZED ({cost_rows}),
    dd AS (
        SELECT r, cq, tk, lag(cq) OVER (ORDER BY r) AS pcq FROM cc
    ),
    ee AS (
        SELECT r, cq, tk, pcq - cq AS delta,
               CASE WHEN pcq IS NOT NULL
                     AND (pcq - cq) * 1000 < pcq * {_ULM_EM_GATE_PML}
                    THEN 1 ELSE 0 END AS conv
        FROM dd
    ),
    stop AS (
        SELECT coalesce(min(r) FILTER (WHERE conv = 1), {k}) AS sr FROM ee
    )
    SELECT CAST(r AS BIGINT) AS iteration,
           CAST(cq AS BIGINT) AS cost_q,
           CAST(tk AS BIGINT) AS n_tokens,
           CAST(delta AS BIGINT) AS delta_cost_q,
           ((2 * cq * {qs} + tk * {qs}) // (2 * tk * {qs})) / 1000000.0
               AS mean_nats_per_token,
           CAST(conv AS BIGINT) AS converged
    FROM ee CROSS JOIN stop
    WHERE r <= sr
    ORDER BY r
    """


@query(
    "q470_unigram_lm_em_convergence",
    oracle=_ulm_emc_oracle_sql(),
    tags=("llm", "tokenizer", "unigram-lm", "em", "training",
          "convergence"),
)
def q470_unigram_lm_em_convergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM hard-EM trained TO CONVERGENCE — the loop that
    makes q443 (E-step) / q447 (M-step) / q452 (round 2) a finished
    trainer: alternate Viterbi-segment /
    usage-recount / re-smooth until the exact-integer gate fires —
    round r stops the run when (cost_{{r-1}} − cost_r)·1000 <
    cost_{{r-1}}·{_ULM_EM_GATE_PML} (a {_ULM_EM_GATE_PML / 10}%
    relative-improvement floor, computed entirely in BIGINTs — no
    float ever enters the stopping decision) — or the
    {_ULM_EM_MAX}-round budget runs out. Released per EXECUTED round:
    the exact corpus cost, token count, cost delta, mean nats/token,
    and the gate verdict. At all three fixture SFs the gate fires at
    round 4 (deltas 19%→1.9%→1.4%), one short of the cap — the stop
    is demonstrably the GATE, not the budget. Hard-EM monotonicity
    (cost strictly decreasing, the q452 exact inequality) holds at
    every released step and is pinned by an invariant test.

    Determinism: every per-round cost is the exact BIGINT sum of the
    shared blocked Viterbi fold (the q443/q447/q452/q454 lattice —
    one definition, so the trainer cannot drift from the steps it
    composes); deltas and the gate are pure integer arithmetic;
    means use the half-up idiom.

    Scale posture: EVERY round rides the session-shared lattice store
    (`_ulm_component` — usedK/blkK components, built once per corpus
    snapshot, §8c6); each later round is ONE usage recount + ONE
    vocab-bounded re-smooth + ONE blocked array gather, checkpointed
    in the store (the q103 iterative-lineage rule, memoized so a
    second trainer run reuses the rounds). Per round the driver sees exactly
    one 2-cell row (cost, tokens) — parameter-server grain (the q433
    rule); the corpus is never collected. The oracle unrolls the
    full {_ULM_EM_MAX}-round budget statically and releases the same
    executed prefix. Reference contract: per-doc segmentation = map
    slot (``App.config:16``); usage recount, re-estimation and the
    stopping rule = reduce slots (``App.config:17``,
    ``Program.cs:351-384``)."""
    blk = _ulm_component(spark, sf_dir, "blk0")
    out: list = []
    prev: int | None = None
    r = 1
    while True:
        row = (
            blk.select(F.expr(_ulm_fold_expr("spark")).alias("st"))
            .agg(
                F.sum(F.element_at("st", 5)).alias("cq"),
                F.sum(F.element_at("st", 6)).alias("tk"),
            )
            .collect()[0]
        )
        cq, tk = int(row["cq"]), int(row["tk"])
        delta = None if prev is None else prev - cq
        conv = (
            delta is not None
            and delta * 1000 < prev * _ULM_EM_GATE_PML
        )
        out.append((r, cq, tk, delta, 1 if conv else 0))
        if conv or r >= _ULM_EM_MAX:
            break
        # Every round's usage recount and re-modeled arrays live in
        # the session-shared store (usedK/blkK components) — a second
        # trainer run, or a sibling query consuming the same round,
        # reuses them instead of rebuilding (the §8c6 session rule).
        blk = _ulm_component(spark, sf_dir, f"blk{r}")
        prev = cq
        r += 1
    qs = 1_000_000
    return (
        spark.createDataFrame(
            out,
            "iteration long, cost_q long, n_tokens long,"
            " delta_cost_q long, converged long",
        )
        .select(
            "iteration",
            "cost_q",
            "n_tokens",
            "delta_cost_q",
            half_up_ratio(F.col("cost_q"), F.col("n_tokens") * qs, 6).alias(
                "mean_nats_per_token"
            ),
            "converged",
        )
        .orderBy("iteration")
    )


# --- q458: RM3 pseudo-relevance feedback query expansion ------------------

_RM3_FB = 10      # feedback depth (first-pass docs)
_RM3_EXP = 5      # expansion terms
_RM3_LAMBDA = 0.6  # original-query interpolation weight
_RM3_MINLEN = 4   # expansion candidate min length (stoplist substitute)

# Shared formula text (the _OLS3 discipline): identical strings run in
# Spark F.expr and DuckDB so every libm-touching score term is ONE IEEE
# op sequence on both engines, quantized to 1e-6 BIGINTs BEFORE any
# order-sensitive sum.
_RM3_S1 = " + ".join(
    f"ln((tf_{t} + 200.0 * (cf_{t} / cl)) / (dl + 200.0))"
    for t in _QL_TERMS
)
_RM3_DELTA = (
    "CAST(round(1000000.0 * qw * (ln(c + 200.0 * (cfw / cl))"
    " - ln(200.0 * (cfw / cl)))) AS BIGINT)"
)
_RM3_S0 = (
    "CAST(round(1000000.0 * qw * ln(200.0 * (cfw / cl))) AS BIGINT)"
)
_RM3_DL = "CAST(round(1000000.0 * ln(dl + 200.0)) AS BIGINT)"


def _rm3_oracle_sql() -> str:
    orig = ", ".join(f"'{t}'" for t in _QL_TERMS)
    return f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    tf AS MATERIALIZED (
        SELECT doc_id, len(ws) AS dl,
               {", ".join(
                   f"len(list_filter(ws, x -> x = '{t}')) AS tf_{t}"
                   for t in _QL_TERMS)}
        FROM d
    ),
    coll AS MATERIALIZED (
        SELECT CAST(sum(dl) AS DOUBLE) AS cl,
               {", ".join(
                   f"CAST(sum(tf_{t}) AS DOUBLE) AS cf_{t}"
                   for t in _QL_TERMS)}
        FROM tf
    ),
    fb AS MATERIALIZED (
        SELECT doc_id, dl FROM (
            SELECT tf.doc_id, tf.dl, round({_RM3_S1}, 6) AS s
            FROM tf CROSS JOIN coll
            ORDER BY s DESC, tf.doc_id ASC LIMIT {_RM3_FB}
        )
    ),
    fbtok AS MATERIALIZED (
        SELECT w, sum((2 * c * 1000000 + dl) // (2 * dl)) AS rw
        FROM (
            SELECT f.doc_id, u.w, f.dl, count(*) AS c
            FROM fb f
            JOIN (SELECT doc_id, unnest(ws) AS w FROM d) u USING (doc_id)
            WHERE length(u.w) >= {_RM3_MINLEN} AND u.w NOT IN ({orig})
            GROUP BY f.doc_id, u.w, f.dl
        )
        GROUP BY w
    ),
    expt AS MATERIALIZED (
        SELECT w, rw FROM (
            SELECT w, rw,
                   row_number() OVER (ORDER BY rw DESC, w ASC) AS rk
            FROM fbtok
        ) WHERE rk <= {_RM3_EXP}
    ),
    qmodel AS MATERIALIZED (
        SELECT w, {_RM3_LAMBDA} / {len(_QL_TERMS)} AS qw
        FROM (VALUES {", ".join(f"('{t}')" for t in _QL_TERMS)}) v(w)
        UNION ALL
        SELECT w, {round(1 - _RM3_LAMBDA, 10)}
                  * (CAST(rw AS DOUBLE)
                     / (SELECT CAST(sum(rw) AS DOUBLE) FROM expt))
        FROM expt
    ),
    toks AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w FROM d),
    dln AS MATERIALIZED (SELECT doc_id, len(ws) AS dl FROM d),
    cln AS (SELECT CAST(sum(dl) AS DOUBLE) AS cl FROM dln),
    cf AS MATERIALIZED (
        SELECT q.w, q.qw, CAST(count(*) AS DOUBLE) AS cfw
        FROM qmodel q JOIN toks t ON t.w = q.w
        GROUP BY q.w, q.qw
    ),
    s0 AS (
        SELECT sum({_RM3_S0}) AS s0q FROM cf CROSS JOIN cln
    ),
    delta AS MATERIALIZED (
        SELECT tfm.doc_id, sum({_RM3_DELTA}) AS dq
        FROM (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2) tfm
        JOIN cf ON cf.w = tfm.w
        CROSS JOIN cln
        GROUP BY tfm.doc_id
    ),
    exps AS (
        SELECT string_agg(w, ',' ORDER BY rw DESC, w ASC) AS terms
        FROM expt
    )
    SELECT s.doc_id,
           CAST(s.dl AS BIGINT) AS doc_len,
           s.sq / 1000000.0 AS rm3_score,
           e.terms AS expansion_terms
    FROM (
        SELECT dln.doc_id, dln.dl,
               s0.s0q - {_RM3_DL} + coalesce(delta.dq, 0) AS sq
        FROM dln CROSS JOIN s0 LEFT JOIN delta USING (doc_id)
    ) s CROSS JOIN exps e
    ORDER BY s.sq DESC, s.doc_id ASC
    LIMIT 10
    """


@query(
    "q458_rm3_pseudo_relevance_feedback",
    oracle=_rm3_oracle_sql(),
    tags=("text", "retrieval", "rm3", "query-expansion", "feedback", "llm"),
)
def q458_rm3_pseudo_relevance_feedback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft relevance
    models, the Abdul-Jaleel RM3 interpolation) — the FEEDBACK-LOOP
    member the retrieval family lacked: q107/q360/q79 rank with a
    fixed query, q190 fuses rankers, q286 diversifies; RM3 instead
    reads the first pass's top {_RM3_FB} documents, estimates a
    relevance language model from them, expands the query with its
    top {_RM3_EXP} terms (min length {_RM3_MINLEN}, originals
    excluded — the stoplist substitute), interpolates at
    λ = {_RM3_LAMBDA}, and RE-SCORES the corpus under the expanded
    Dirichlet query model. Released: the re-ranked top 10 with the
    expansion-term list on every row (the terms themselves are on the
    verified path).

    Determinism: relevance-model weights quantize per feedback doc
    BEFORE summing (exact half-up of tf/|d| at 1e-6 — the q436
    quantize-before-sum discipline), so the expansion rank cut is an
    integer order; second-pass scoring uses the sparse decomposition
    score = Σ_w qw·ln(μp_w) − ln(|d|+μ) + Σ_{{matched}} qw·(ln(tf+μp_w)
    − ln(μp_w)) with every libm-touching term evaluated from SHARED
    formula text (one IEEE op sequence) and quantized to 1e-6 BIGINTs
    before the order-free sums — the final ranking compares exact
    integers. Expansion terms come from feedback documents, so their
    collection frequency is provably nonzero (the ln(0) probe rule).

    Scale posture: two corpus scans for the first pass (q360's
    shape), one token explode for the relevance model restricted to
    the {_RM3_FB} broadcast feedback docs, and the second pass is the
    SPARSE form — one (doc, term) aggregate semi-joined to the
    8-term broadcast query model, so re-scoring touches only matching
    postings (the production query-expansion dataflow); top-10 is a
    TakeOrdered. Reference contract: per-doc scoring = map slot
    (``App.config:16``); feedback-model estimation + re-ranked cut =
    reduce slots (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    d = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("ws")
    )

    def tf_of(term):
        return F.size(F.filter(F.col("ws"), lambda x: x == F.lit(term)))

    tf = d.select(
        "doc_id",
        F.size("ws").alias("dl"),
        *[tf_of(t).alias(f"tf_{t}") for t in _QL_TERMS],
    )
    coll = tf.agg(
        F.sum("dl").cast("double").alias("cl"),
        *[
            F.sum(f"tf_{t}").cast("double").alias(f"cf_{t}")
            for t in _QL_TERMS
        ],
    )
    fb = (
        tf.crossJoin(F.broadcast(coll))
        .select(
            "doc_id", "dl", F.round(F.expr(_RM3_S1), 6).alias("s")
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_RM3_FB)
        .select("doc_id", "dl")
    )
    fbtok = (
        d.join(F.broadcast(fb), "doc_id")
        .select("doc_id", "dl", F.explode("ws").alias("w"))
        .where(
            (F.length("w") >= _RM3_MINLEN) & ~F.col("w").isin(*_QL_TERMS)
        )
        .groupBy("doc_id", "w", "dl")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "w", F.expr("(2 * c * 1000000 + dl) div (2 * dl)").alias("cq")
        )
        .groupBy("w")
        .agg(F.sum("cq").alias("rw"))
    )
    expt = (
        fbtok.orderBy(F.desc("rw"), F.asc("w")).limit(_RM3_EXP).persist()
    )
    rw_tot = expt.agg(F.sum("rw").alias("tot"))
    orig = spark.createDataFrame(
        [(t,) for t in _QL_TERMS], "w string"
    ).select("w", F.lit(_RM3_LAMBDA / len(_QL_TERMS)).alias("qw"))
    qmodel = orig.unionByName(
        expt.crossJoin(F.broadcast(rw_tot)).select(
            "w",
            (
                F.lit(round(1 - _RM3_LAMBDA, 10))
                * (F.col("rw").cast("double") / F.col("tot").cast("double"))
            ).alias("qw"),
        )
    )
    toks = d.select("doc_id", F.explode("ws").alias("w"))
    dln = d.select("doc_id", F.size("ws").alias("dl"))
    cln = dln.agg(F.sum("dl").cast("double").alias("cl"))
    cf = (
        qmodel.join(toks, "w")
        .groupBy("w", "qw")
        .agg(F.count(F.lit(1)).cast("double").alias("cfw"))
    )
    s0 = cf.crossJoin(F.broadcast(cln)).agg(
        F.sum(F.expr(_RM3_S0)).alias("s0q")
    )
    tfm = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    delta = (
        tfm.join(F.broadcast(cf), "w")
        .crossJoin(F.broadcast(cln))
        .select("doc_id", F.expr(_RM3_DELTA).alias("dq1"))
        .groupBy("doc_id")
        .agg(F.sum("dq1").alias("dq"))
    )
    exps = expt.agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("rw")).alias("nrw"), "w"))
                ),
                lambda x: x.getField("w"),
            ),
            ",",
        ).alias("terms")
    )
    scored = (
        dln.crossJoin(F.broadcast(s0))
        .join(delta, "doc_id", "left")
        .select(
            "doc_id",
            "dl",
            (
                F.col("s0q")
                - F.expr(_RM3_DL)
                + F.coalesce(F.col("dq"), F.lit(0))
            ).alias("sq"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(exps))
        .orderBy(F.desc("sq"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            F.col("dl").cast("long").alias("doc_len"),
            (F.col("sq") / 1000000.0).alias("rm3_score"),
            F.col("terms").alias("expansion_terms"),
        )
    )


# --- q460: greedy bigram-LM decoding (deterministic generation) -----------

_DECODE_STEPS = 12


def _decode_oracle_sql() -> str:
    steps = []
    for k in range(1, _DECODE_STEPS + 1):
        steps.append(f"""
    s{k} AS MATERIALIZED (
        SELECT b.w2 AS tok, b.c AS c, c1.tot AS tot
        FROM bg b
        JOIN s{k - 1} p ON b.w1 = p.tok
        JOIN c1 ON c1.w1 = b.w1
        ORDER BY b.c DESC, b.w2 ASC
        LIMIT 1
    )""")
    rows = " UNION ALL ".join(
        f"SELECT {k} AS step, tok, CAST(c AS BIGINT) AS pair_count,"
        f" ((2 * c * 1000000 + tot) // (2 * tot)) / 1000000.0 AS prob"
        f" FROM s{k}"
        for k in range(1, _DECODE_STEPS + 1)
    )
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT string_split(lower(text), ' ') AS ws FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS c
        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
              FROM toks)
        GROUP BY 1, 2
    ),
    c1 AS MATERIALIZED (SELECT w1, sum(c) AS tot FROM bg GROUP BY 1),
    s0 AS MATERIALIZED (
        SELECT w2 AS tok FROM bg GROUP BY w2
        ORDER BY sum(c) DESC, w2 ASC LIMIT 1
    ),
    {",".join(steps)}
    SELECT CAST(step AS BIGINT) AS step, tok, pair_count, prob
    FROM ({rows})
    ORDER BY step
    """


def _bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(w1, w2, c)``: every adjacent lower-cased word pair of the
    corpus with its count — the bigram model q460, q471 and q472
    decode from."""
    docs = load_tables(spark, sf_dir)["documents"]
    ws = F.split(F.lower(F.col("text")), " ")
    return (
        docs.select(ws.alias("ws"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


@query(
    "q460_greedy_bigram_decoding",
    oracle=_decode_oracle_sql(),
    tags=("text", "language-model", "decoding", "generation", "llm"),
)
def q460_greedy_bigram_decoding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy DECODING from the corpus bigram model — the GENERATION
    member of the language-model family (q368 smooths the bigram
    model, q257 scores with it, q300 estimates speculative acceptance
    from it; this one actually DECODES): start at the corpus's most
    frequent token and take {_DECODE_STEPS} argmax steps
    tok_{{t+1}} = argmax_w c(tok_t, w). Released per step: the token,
    its bigram count, and its probability among the predecessor's
    successors — the greedy chain a draft model or an autocomplete
    surface would emit. The fixture's chain honestly enters a 6-token
    cycle ("join key filter hash vector small …") — exactly what
    greedy decoding does on a peaked model, and why production
    decoders add sampling; the deterministic argmax IS the verified
    surface.

    Determinism: counts are exact integers; every argmax orders
    (count DESC, token ASC) — a total order; probabilities use the
    half-up idiom.

    Scale posture: the bigram model is ONE partial+final aggregate
    (persisted — it feeds
    two separate aggregate subtrees, the q239 exchange-reuse rule);
    the GREEDY POLICY TABLE — per predecessor its argmax successor,
    that pair's count, and the predecessor's total — is ONE more
    partial+final aggregate (`min(struct(-c, w2))`, window-free),
    collected ONCE at model grain (distinct predecessors, 4 small
    cells each — the q433 parameter-server rule; previously each of
    the {_DECODE_STEPS} steps was its own 1-row collect + rescan of
    the persisted frame = {_DECODE_STEPS + 1} sequential Spark jobs).
    The chain walk is a driver-side dict lookup over that single
    collect. An N-step decode at 100 TB touches the corpus exactly
    once and runs exactly THREE jobs (policy, start, release)
    regardless of N. Reference contract: bigram counting = map slot
    (``App.config:16``); the sequential argmax chain = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    bg = (
        _bigram_counts(spark, sf_dir)
        # Model grain: observed bigram support (vocab²-bounded; 931 rows
        # at sf0.1). coalesce(1) keeps the map-side partial aggregation
        # fully distributed and lands only the FINAL agg + the two
        # downstream policy/start aggregates on single tasks — 32 tiny
        # scheduled tasks per stage cost more than the data here. For a
        # corpus whose bigram support outgrows one task, raise the
        # target; the plan shape is unchanged.
        .coalesce(1)
        .persist()
    )
    # Greedy policy table: per w1 its argmax successor under the total
    # order (c DESC, w2 ASC) — encoded window-free as min(struct(-c, w2))
    # (negating the integer count flips the order; string ties then break
    # ascending inside the struct comparison) — plus the w1 total. ONE
    # aggregate, ONE model-grain collect; the 12-step walk is then a
    # driver-side dict chase, not 12 Spark jobs.
    policy = {
        r["w1"]: (r["tok"], int(r["c"]), int(r["tot"]))
        for r in (
            bg.groupBy("w1")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("w2"))
                ).alias("m"),
                F.sum("c").alias("tot"),
            )
            .select(
                "w1",
                F.col("m.w2").alias("tok"),
                (-F.col("m.nc")).alias("c"),
                "tot",
            )
            .collect()
        )
    }
    start = (
        bg.groupBy("w2")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("w2"))
        .limit(1)
        .collect()[0]["w2"]
    )
    bg.unpersist()
    cur = start
    out: list = []
    for k in range(1, _DECODE_STEPS + 1):
        tok, c, tot = policy[cur]
        out.append((k, tok, c, tot))
        cur = tok

    return (
        spark.createDataFrame(
            out, "step long, tok string, pair_count long, tot long"
        )
        .select(
            "step",
            "tok",
            "pair_count",
            half_up_ratio(F.col("pair_count"), F.col("tot"), 6).alias(
                "prob"
            ),
        )
        .orderBy("step")
    )


# --- q472: nucleus (top-p) successor-set audit ----------------------------

_NUC_P_NUM, _NUC_P_DEN = 8, 10  # p = 0.8, kept as an exact rational
_NUC_TOPN = 10                  # released head: most-productive contexts


def _nucleus_oracle_sql() -> str:
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT string_split(lower(text), ' ') AS ws FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS c
        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
              FROM toks)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT w1, w2, c,
               sum(c) OVER (PARTITION BY w1 ORDER BY c DESC, w2 ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS ccum,
               sum(c) OVER (PARTITION BY w1) AS tot,
               count(*) OVER (PARTITION BY w1) AS n_succ
        FROM bg
    ),
    nuc AS (
        SELECT w1, max(tot) AS tot, max(n_succ) AS n_succ,
               count(*) FILTER (WHERE (ccum - c) * {_NUC_P_DEN}
                                      < tot * {_NUC_P_NUM})
                   AS nucleus_size,
               max(ccum) FILTER (WHERE (ccum - c) * {_NUC_P_DEN}
                                       < tot * {_NUC_P_NUM})
                   AS nucleus_mass_c
        FROM cum GROUP BY w1
    )
    SELECT w1 AS token,
           CAST(n_succ AS BIGINT) AS n_successors,
           CAST(tot AS BIGINT) AS total_count,
           CAST(nucleus_size AS BIGINT) AS nucleus_size,
           ((2 * nucleus_mass_c * 1000000 + tot) // (2 * tot))
               / 1000000.0 AS nucleus_mass
    FROM nuc
    ORDER BY total_count DESC, token ASC
    LIMIT {_NUC_TOPN}
    """


@query(
    "q472_nucleus_successor_audit",
    oracle=_nucleus_oracle_sql(),
    tags=("text", "language-model", "decoding", "nucleus", "top-p",
          "llm"),
)
def q472_nucleus_successor_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nucleus (top-p) SUCCESSOR-SET audit over the corpus bigram
    model — the sampling-side complement of q460's greedy argmax and
    q471's beam: nucleus sampling (Holtzman et al. 2020) draws from
    the smallest successor set whose cumulative probability reaches
    p, and THIS operator releases that set's exact size and mass per
    context — the deterministic skeleton of the sampler (which
    successors are in play, and how peaked the distribution is)
    without ever drawing a random number. Per top-{_NUC_TOPN}
    predecessor (by total continuation count): successor count,
    total count, nucleus size at p = {_NUC_P_NUM}/{_NUC_P_DEN}, and
    the nucleus's exact probability mass. A flat context (nucleus
    ≈ 0.8·n_succ) tells a decoder temperature will matter; a peaked
    one (nucleus of 1-2) decodes greedily anyway.

    Determinism: membership is the exact integer test
    (ccum_excl·{_NUC_P_DEN} < tot·{_NUC_P_NUM}) over the total order
    (count DESC, token ASC); masses release via the half-up idiom.

    Scale posture: ONE corpus explode + bigram aggregate, then
    vocab-grain windows PARTITIONED BY the predecessor (bounded,
    data-keyed — co-partitioned with the aggregate's own shuffle) and
    a vocab-grain rollup; the release is a TakeOrdered({_NUC_TOPN}).
    No global windows, no second corpus pass. Reference contract:
    bigram counting = map slot (``App.config:16``); nucleus rollup =
    reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    bg = _bigram_counts(spark, sf_dir)
    wcum = (
        Window.partitionBy("w1")
        .orderBy(F.desc("c"), F.asc("w2"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("w1")
    cum = bg.select(
        "w1",
        "c",
        F.sum("c").over(wcum).alias("ccum"),
        F.sum("c").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n_succ"),
    )
    in_nuc = (F.col("ccum") - F.col("c")) * _NUC_P_DEN < F.col(
        "tot"
    ) * _NUC_P_NUM
    nuc = cum.groupBy("w1").agg(
        F.max("tot").alias("tot"),
        F.max("n_succ").alias("n_succ"),
        F.sum(F.when(in_nuc, 1).otherwise(0)).alias("nucleus_size"),
        F.max(F.when(in_nuc, F.col("ccum"))).alias("nucleus_mass_c"),
    )
    return (
        nuc.orderBy(F.desc("tot"), F.asc("w1"))
        .limit(_NUC_TOPN)
        .select(
            F.col("w1").alias("token"),
            F.col("n_succ").cast("long").alias("n_successors"),
            F.col("tot").cast("long").alias("total_count"),
            F.col("nucleus_size").cast("long").alias("nucleus_size"),
            half_up_ratio(F.col("nucleus_mass_c"), F.col("tot"), 6).alias(
                "nucleus_mass"
            ),
        )
    )


# --- q471: beam-search decoding over the smoothed bigram model ------------

_BEAM_B = 3  # beam width
_BEAM_L = 6  # decode steps


def _beam_oracle_sql() -> str:
    steps = []
    for k in range(1, _BEAM_L + 1):
        steps.append(f"""
    b{k} AS MATERIALIZED (
        SELECT b.seq || ',' || m.w2 AS seq, m.w2 AS last,
               b.cq + m.qc AS cq
        FROM b{k - 1} b JOIN model m ON m.w1 = b.last
        ORDER BY cq ASC, seq ASC LIMIT {_BEAM_B}
    )""")
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT string_split(lower(text), ' ') AS ws FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS c
        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
              FROM toks)
        GROUP BY 1, 2
    ),
    vv AS (SELECT count(DISTINCT w2) AS v FROM bg),
    c1 AS (SELECT w1, sum(c) AS tot FROM bg GROUP BY 1),
    model AS MATERIALIZED (
        SELECT b.w1, b.w2,
               CAST(round(1000000.0 * ln(CAST(t.tot + vv.v AS DOUBLE)
                   / (b.c + 1))) AS BIGINT) AS qc
        FROM bg b JOIN c1 t ON t.w1 = b.w1 CROSS JOIN vv
    ),
    s0 AS MATERIALIZED (
        SELECT w2 AS tok FROM bg GROUP BY w2
        ORDER BY sum(c) DESC, w2 ASC LIMIT 1
    ),
    b0 AS (SELECT tok AS seq, tok AS last, CAST(0 AS BIGINT) AS cq
           FROM s0),
    {",".join(steps)}
    SELECT CAST(row_number() OVER (ORDER BY cq ASC, seq ASC) AS BIGINT)
               AS rank,
           seq AS sequence, last AS last_token, cq AS cost_q
    FROM b{_BEAM_L}
    ORDER BY rank
    """


@query(
    "q471_beam_search_decoding",
    oracle=_beam_oracle_sql(),
    tags=("text", "language-model", "decoding", "beam-search", "llm"),
)
def q471_beam_search_decoding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BEAM-SEARCH decoding over the add-one-smoothed corpus bigram
    model — the decode family's search member (q460 walks the greedy
    argmax chain; q472 audits the sampler's nucleus; this keeps the
    {_BEAM_B} lowest-cost partial sequences alive for {_BEAM_L}
    expansion steps): from the corpus's most frequent start token,
    every step expands each beam to every observed successor, scores
    seq cost + smoothed piece cost, and keeps the global top-{_BEAM_B}
    under the total order (cost ASC, sequence ASC). Released: the
    final beams with their exact integer costs — at the fixtures the
    runner-up beams genuinely diverge from the greedy path (probed),
    which is beam search's whole point.

    Determinism: smoothed costs quantize single-ln draws on
    bit-identical integer ratios to 1e-6 BIGINTs (the q440/q443
    exposure class — the SAME formula as the ULM initial model);
    beam state and ranking are then exact integer sums with a
    sequence-string tie-break — a total order at every step.

    Scale posture: ONE corpus explode + bigram aggregate builds the
    model; the Spark side collects the observed-successor cost table
    ONCE at model grain (the q460 policy-table rule — vocab²-observed
    rows, 931 at sf0.1) and walks the beam driver-side: beam state is
    {_BEAM_B} tuples, never data-sized, and the job count is constant
    in {_BEAM_L}. The oracle unrolls the identical expansion as
    {_BEAM_L} top-{_BEAM_B} CTEs. Reference contract: bigram counting
    = map slot (``App.config:16``); beam expansion + rank = reduce
    slot (``App.config:17``, ``Program.cs:351-384``)."""
    bg = _bigram_counts(spark, sf_dir).coalesce(1).persist()
    vv = bg.agg(F.countDistinct("w2").alias("v"))
    c1 = bg.groupBy("w1").agg(F.sum("c").alias("tot"))
    model_rows = (
        bg.join(c1, "w1")
        .crossJoin(F.broadcast(vv))
        .select(
            "w1",
            "w2",
            F.round(
                F.lit(1000000.0)
                * F.log(
                    (F.col("tot") + F.col("v")).cast("double")
                    / (F.col("c") + 1)
                )
            )
            .cast("long")
            .alias("qc"),
        )
        .collect()
    )
    succ: dict[str, list] = {}
    for r in model_rows:
        succ.setdefault(r["w1"], []).append((r["w2"], int(r["qc"])))
    start = (
        bg.groupBy("w2")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("w2"))
        .limit(1)
        .collect()[0]["w2"]
    )
    bg.unpersist()
    beams = [(start, start, 0)]  # (seq, last, cost_q)
    for _ in range(_BEAM_L):
        cand = [
            (f"{seq},{w2}", w2, cq + qc)
            for seq, last, cq in beams
            for w2, qc in succ.get(last, [])
        ]
        cand.sort(key=lambda t: (t[2], t[0]))
        beams = cand[:_BEAM_B]
    out = [
        (i + 1, seq, last, cq)
        for i, (seq, last, cq) in enumerate(
            sorted(beams, key=lambda t: (t[2], t[0]))
        )
    ]
    return spark.createDataFrame(
        out, "rank long, sequence string, last_token string, cost_q long"
    ).orderBy("rank")
