"""Deduplication operators: exact, normalized, MinHash+LSH near-dup,
SimHash, character-n-gram Jaccard, embedding-cosine near-dup.

Design (100 TB posture):
- Exact dedup is a hash-groupBy on ``sha2(text)`` — one shuffle keyed by
  a 256-bit digest, no skew (uniform key space), map-side partial agg.
- MinHash is computed from *word ids*, not raw strings, via explicitly
  parameterized affine permutations ``(a*id + b) mod p`` so the identical
  arithmetic runs on Spark and on the DuckDB oracle (engine hash builtins
  differ and would break differential testing). The vocabulary id
  assignment here uses a rank over distinct words; at 100 TB you'd swap
  in a precomputed/broadcast vocabulary or a shared hash function — the
  banding/verification dataflow is unchanged.
- LSH banding turns all-pairs O(n²) into per-bucket pairs: band signature
  groupBy (shuffle on band key), pairs generated inside buckets only,
  then verified with exact Jaccard. This is the scale path; the
  verification join touches only candidate pairs.
- Embedding near-dup buckets by ``label`` (stand-in for an IVF/LSH cell
  id) and compares only within buckets.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from azure_batch_map_reduce_spark.catalog import load_tables, read_table, scratch_dir
from azure_batch_map_reduce_spark.functions.similarity import _as_double, _dot
from azure_batch_map_reduce_spark.operators.ranks import (
    half_up_ratio,
    hex_int,
    round_nz,
)
from azure_batch_map_reduce_spark.registry import REGISTRY, query

# 16 fixed affine permutations for MinHash: (a, b) applied as
# (a*wid + b) % P. P is the Mersenne prime 2^31-1; constants are
# arbitrary odd/prime-ish values, hardcoded so both engines agree.
MINHASH_P = 2_147_483_647
MINHASH_PERMS: list[tuple[int, int]] = [
    (1_203_114_875, 613_981_173),
    (1_636_259_313, 793_603_183),
    (426_244_251, 1_034_437_501),
    (979_956_331, 814_242_543),
    (1_444_621_287, 250_840_447),
    (754_406_883, 1_855_878_311),
    (1_600_616_677, 685_490_599),
    (321_478_523, 1_181_965_451),
    (855_058_193, 1_725_393_997),
    (1_972_681_969, 573_340_517),
    (513_850_717, 1_427_486_009),
    (1_090_930_541, 954_864_883),
    (667_214_909, 1_535_789_219),
    (1_838_929_057, 362_946_071),
    (233_911_573, 1_648_205_863),
    (1_308_767_483, 498_619_333),
]
N_BANDS, ROWS_PER_BAND = 4, 4  # 16 = 4 × 4; tuned for jaccard ≈ 0.9


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a small single-split scan across the cores so CPU-heavy
    per-row work (md5, shingling) parallelizes. At 100 TB the source
    arrives in thousands of splits and this is a no-op."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


@query(
    "q60_exact_dedup",
    oracle="""
    SELECT sha256(text)            AS content_sha,
           min(doc_id)             AS rep_doc_id,
           count(*)                AS n_copies,
           CAST(min(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY sha256(text)
    """,
    tags=("dedup", "exact"),
)
def q60_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id as
    the deterministic representative (dropDuplicates would keep an
    arbitrary row — not reproducible across runs/partitionings)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.groupBy(F.sha2("text", 256).alias("content_sha")).agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").cast("long").alias("n_chars"),
    )


@query(
    "q61_normalized_dedup",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS norm_sha
        FROM documents
    )
    SELECT norm_sha, min(doc_id) AS rep_doc_id, count(*) AS n_copies
    FROM norm
    GROUP BY norm_sha
    """,
    tags=("dedup", "exact"),
)
def q61_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-dedup: lowercase, trim, collapse whitespace
    before hashing — catches trivially-reformatted copies."""
    docs = load_tables(spark, sf_dir)["documents"]
    norm = F.sha2(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), 256)
    return docs.groupBy(norm.alias("norm_sha")).agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _minhash_exprs(wid: Column) -> list[Column]:
    return [
        F.min((F.lit(a) * wid + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]


def _minhash_sql_cols() -> str:
    return ",\n".join(
        f"min(({a} * wid + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )


def _band_key_sql(band: int) -> str:
    cols = ", ".join(f"m{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
    return f"concat_ws('_', {cols})"


# Engine-neutral shingle→int hash: first 12 hex chars of md5 (48 bits,
# no BIGINT overflow), reduced mod P so the affine products stay < 2^62
# (Spark 4 runs ANSI mode — silent wraparound would instead error).
_HASH_SQL = "(('0x' || substr(md5({expr}), 1, 12))::BIGINT % 2147483647)"


def _hash48(col: Column) -> Column:
    return hex_int(F.md5(col), 1, 12) % MINHASH_P


# Word-trigram shingle sets: the right granularity for near-dup detection
# (word *sets* collapse over this corpus's ~50-word vocabulary; trigram
# jaccard between unrelated docs is ≈0, planted near-dups score ≥0.9).
_SHINGLE_CTE = f"""
    w AS (SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, length(string_split(text, ' ')) - 2),
                     i -> concat_ws(' ', string_split(text, ' ')[i],
                                         string_split(text, ' ')[i+1],
                                         string_split(text, ' ')[i+2]))) AS sh
          FROM documents),
    ids AS (SELECT doc_id, {_HASH_SQL.format(expr="s")} AS wid
            FROM (SELECT doc_id, unnest(sh) AS s FROM w)),
    mh AS (SELECT doc_id, {_minhash_sql_cols()} FROM ids GROUP BY doc_id)
"""

def _trigram_rows(docs: DataFrame) -> DataFrame:
    """One row per word-trigram shingle: posexplode the words once, then
    lead() twice over (doc_id, pos). An array-lambda formulation
    (transform over sequence) re-evaluates split(text) for every element
    after Catalyst collapses projections — ~10× slower; this form splits
    each document exactly once and the window sort reuses the doc_id
    partitioning."""
    win = Window.partitionBy("doc_id").orderBy("pos")
    return (
        # Fan out first: the tiny parquet bin-packs to ONE partition and
        # would run split+posexplode serially; the window's doc_id
        # shuffle then reuses this partitioning instead of adding one.
        docs.repartition(32, "doc_id")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .select(
            "doc_id",
            "word",
            F.lead("word", 1).over(win).alias("w1"),
            F.lead("word", 2).over(win).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "word", "w1", "w2").alias("s"))
    )


# Shared CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the full
# MinHash/LSH pipeline in oracle SQL, reused by q62 (pairs) and q66
# (clusters over the pairs).
_PAIRS_CTES = f"""{_SHINGLE_CTE},
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS bkey FROM mh" for b in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                                  AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT c.doc_a, c.doc_b,
                   ((2 * length(list_intersect(wa.sh, wb.sh)) * 10000
                         + length(list_distinct(list_concat(wa.sh, wb.sh))))
                        // (2 * length(list_distinct(list_concat(wa.sh, wb.sh)))))
                       / 10000.0 AS jaccard
            FROM cand c
            JOIN w wa ON wa.doc_id = c.doc_a
            JOIN w wb ON wb.doc_id = c.doc_b
        ) WHERE jaccard >= 0.8
    )"""


@query(
    "q62_minhash_lsh_neardup",
    oracle=f"""
    WITH {_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    tags=("dedup", "minhash", "lsh"),
)
def q62_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs: word-trigram shingles →
    md5-derived 48-bit shingle ids (no vocabulary join, fully
    distributed) → 16 affine minhashes → 4 bands of 4 → bucket-join
    candidates → exact-Jaccard verification at ≥ 0.8. Only bucket-mates
    are ever paired, so cost scales with true-duplicate density, not n²."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    return neardup_pairs(docs)


def _band_frame(mh: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys from a signature table.

    Bands via explode of an inline array — ONE pass over mh; a union of
    per-band selects would recompute the whole minhash subtree N_BANDS
    times (Spark unions don't share common subplans)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    return mh.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def _minhash_signatures(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The MinHash/LSH signature stage: ``(mh, w)`` — per doc, the 16
    affine minhashes ``m0..m15`` of its md5-derived trigram ids, and
    its trigram set ``sh``.

    ``w`` comes back persisted: every caller joins it on both sides of
    a pair, and ``mh`` is computed from its cached sets (q396 and q399
    unpersist it only after their eager checkpoint). ``mh`` comes back
    unpersisted; a caller that branches on it persists it. Deliberately TWO aggregations, not one fused: mixing
    the 16 codegen'd min() columns with collect_set in a single agg
    forces the whole aggregate onto the ObjectHashAggregate path
    (measured ~2× slower cold than the two split aggs, which each use
    their best implementation)."""
    w = _trigram_rows(docs).groupBy("doc_id").agg(F.collect_set("s").alias("sh"))
    w = w.persist()
    # MinHash over the distinct set ≡ over the duplicate shingles (min is
    # idempotent), so the minhashes read the persisted sets instead of
    # rebuilding the trigram rows.
    ids = w.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", _hash48(F.col("s")).alias("wid")
    )
    mh = ids.groupBy("doc_id").agg(*_minhash_exprs(F.col("wid")))
    return mh, w


def _band_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """(doc_a, doc_b) with doc_a < doc_b for every LSH bucket a band
    row of ``left`` shares with a band row of ``right`` (one row per
    shared band; callers dedup)."""
    a, b = left.alias("a"), right.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))


def _jaccard_verified(cand: DataFrame, w: DataFrame, a: str, b: str) -> DataFrame:
    """The candidate pairs ``(a, b)`` whose trigram sets have exact
    Jaccard ≥ 0.8, with ``jaccard`` rounded half-up at 4 digits."""
    wa = w.select(F.col("doc_id").alias(a), F.col("sh").alias("sh_a"))
    wb = w.select(F.col("doc_id").alias(b), F.col("sh").alias("sh_b"))
    jac = half_up_ratio(
        F.size(F.array_intersect("sh_a", "sh_b")),
        F.size(F.array_union("sh_a", "sh_b")),
        4,
    )
    return (
        cand.join(wa, a)
        .join(wb, b)
        .select(a, b, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


def neardup_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-duplicate pairs at jaccard ≥ 0.8 via
    the MinHash/LSH pipeline described in :func:`q62_minhash_lsh_neardup`."""
    mh, w = _minhash_signatures(docs)
    # Persisted: the signature table feeds both sides of the bands
    # self-join and would otherwise be recomputed per branch. This is
    # the signature table a production LSH pipeline materializes; size
    # is O(n_docs), not O(corpus bytes).
    bands = _band_frame(mh.persist())
    cand = _band_join(bands, bands).distinct()
    return _jaccard_verified(cand, w, "doc_a", "doc_b")


def _simhash_sql_bits() -> str:
    terms = []
    for j, (a, b) in enumerate(MINHASH_PERMS):
        terms.append(
            f"CASE WHEN sum(CASE WHEN (({a} * wid + {b}) % {MINHASH_P}) % 2 = 1 "
            f"THEN 1 ELSE -1 END) > 0 THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


@query(
    "q63_simhash",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id, CAST({_simhash_sql_bits()} AS BIGINT) AS simhash
    FROM ids
    GROUP BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def q63_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each bit is the sign of the sum of
    ±1 votes from the document's shingle ids under a fixed bit-hash.
    Near-dups differ in few bits (compare by hamming distance)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    return simhash_frame(docs)


def simhash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) with the 16-bit fingerprint of q63."""
    # Distinct shingles per doc: SimHash votes count each shingle once.
    ids = (
        _trigram_rows(docs)
        .distinct()
        .select("doc_id", _hash48(F.col("s")).alias("wid"))
    )
    wid = F.col("wid")
    bit_terms = None
    for j, (a, b) in enumerate(MINHASH_PERMS):
        vote = F.when(((F.lit(a) * wid + F.lit(b)) % MINHASH_P) % 2 == 1, 1).otherwise(-1)
        term = F.when(F.sum(vote) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bit_terms = term if bit_terms is None else bit_terms + term
    return ids.groupBy("doc_id").agg(bit_terms.cast("long").alias("simhash"))


@query(
    "q64_ngram_jaccard_topk",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, source,
               list_distinct(list_transform(generate_series(1, length(substring(text, 1, 120)) - 3),
                             i -> {_HASH_SQL.format(expr="substring(substring(text, 1, 120), i, 4)")})) AS grams
        FROM documents
    ),
    g AS (SELECT doc_id, source, grams, length(grams) AS ng FROM raw),
    pairs AS (
        SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
               ((2 * length(list_intersect(a.grams, b.grams)) * 10000
                     + (a.ng + b.ng - length(list_intersect(a.grams, b.grams))))
                    // (2 * (a.ng + b.ng
                             - length(list_intersect(a.grams, b.grams)))))
                   / 10000.0 AS jaccard
        FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT source, doc_a, doc_b, jaccard
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY jaccard DESC, doc_a ASC, doc_b ASC) AS rn
        FROM pairs
    ) WHERE rn <= 3
    """,
    tags=("dedup", "ngram"),
)
def q64_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram Jaccard similarity, all pairs *within a source
    bucket* (the pair space is bounded per bucket, never global), top-3
    most-similar pairs per source.

    The O(pairs) hot path works on 48-bit gram HASHES, not strings:
    integer array_intersect beats string set ops several-fold, and the
    union size comes from |A|+|B|-|A∩B| with per-doc cardinalities
    carried through the join — ONE set operation per pair instead of
    two over string arrays (measured ~10× on the 622k-pair sf0.1
    bucket). The hash is the same engine-neutral md5 form both engines
    compute, so the oracle replays identical jaccards even if a
    collision ever merged two grams."""
    docs = load_tables(spark, sf_dir)["documents"]
    # SQL-expression transform: F.substring takes only literal positions,
    # so the per-index slice lives in an expr lambda.
    hash48_sql = (
        "conv(substring(md5(substring(substring(text, 1, 120), i, 4)), 1, 12), 16, 10)"
        f" % {MINHASH_P}"
    )
    g = docs.select(
        "doc_id",
        "source",
        F.expr(
            "array_distinct(transform(sequence(1, length(substring(text, 1, 120)) - 3),"
            f" i -> CAST({hash48_sql} AS BIGINT)))"
        ).alias("grams"),
    ).withColumn("ng", F.size("grams"))
    a = g.select(
        F.col("source"), F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("grams_a"), F.col("ng").alias("na"),
    )
    b = g.select(
        F.col("source").alias("source_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("grams_b"), F.col("ng").alias("nb"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    pairs = a.join(
        b, (F.col("source") == F.col("source_b")) & (F.col("doc_a") < F.col("doc_b"))
    ).select(
        "source",
        "doc_a",
        "doc_b",
        half_up_ratio(
            inter, F.col("na") + F.col("nb") - inter, 4
        ).alias("jaccard"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "q65_embedding_neardup",
    oracle="""
    WITH n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    pairs AS (
        SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.e, b.e)
                     / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cosine
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label, vec_a, vec_b, cosine
    FROM pairs
    WHERE cosine >= 0.3
    """,
    tags=("dedup", "embedding"),
)
def q65_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed by label (the
    IVF-cell stand-in): pairs are only formed inside a bucket, so the
    join is equi on the bucket key — no global cross product.

    Perf: each vector's L2 norm is computed ONCE per row (O(n) work) and
    carried as a scalar through the join, so the per-pair hot path is a
    single dot product + one scalar divide instead of three dot products
    — mathematically identical cosine, 3× less higher-order-function
    evaluation over O(pairs) rows. (Normalizing the array itself would
    be undone by Catalyst's projection collapse — the norm would inline
    into the transform lambda and re-evaluate per element; a scalar
    column survives collapse evaluated once.)"""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    ).withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    a = n.select(
        F.col("label"), F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"), F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("label").alias("label_b"), F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"), F.col("nrm").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).select(
        "label",
        "vec_a",
        "vec_b",
        F.round(
            _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= 0.3)


# Catalyst's per-type defaultSize, mirrored for the Python side
# (pyspark's type objects do not expose it); unknown types take the
# StringType default of 20 B.
_FIELD_DEFAULT_BYTES = {
    "boolean": 1,
    "byte": 1,
    "short": 2,
    "integer": 4,
    "date": 4,
    "float": 4,
    "long": 8,
    "double": 8,
    "timestamp": 8,
    "timestamp_ntz": 8,
    "string": 20,
    "binary": 100,
}


def _loop_shuffle_partitions(
    spark: SparkSession, n_edges: int, schema=None
) -> int:
    """Shuffle-partition count for an iterative graph loop, derived
    from the MEASURED edge count × estimated row width (~64 MB per
    partition), clamped to [1, 8 × defaultParallelism] — the same
    input-size derivation as the streaming state sizing. A fixed
    session constant is sized for corpus-grain queries; an
    O(diameter)-round loop over a bounded edge set pays that constant's
    scheduling overhead every round (guide §2.2).

    Row width: derived from the frame's schema
    when given — UnsafeRow overhead (8 B header word + null bits) plus
    each field's estimated width (mirroring Catalyst's defaultSize per
    type) — with a 48 B floor covering shuffle serialization overhead;
    the floor keeps the fixture-scale counts identical to the prior
    flat 48 B/row constant while wide edge schemas now scale the
    estimate instead of under-deriving."""
    row_bytes = 48
    if schema is not None:
        est = 16 + sum(
            _FIELD_DEFAULT_BYTES.get(f.dataType.typeName(), 20)
            for f in schema.fields
        )
        row_bytes = max(row_bytes, est)
    n = max(1, -(-n_edges * row_bytes // (64 * 1024 * 1024)))
    return min(n, max(8 * spark.sparkContext.defaultParallelism, 1))


def connected_components(
    edges: DataFrame, max_iter: int = 25, shortcut: bool = False
) -> DataFrame:
    """Label-propagation connected components over an undirected edge
    list ``(u, v)``; returns ``(node, label)`` with label = the minimum
    node id in the component.

    Each iteration is one join + one min-aggregation: every node adopts
    the smallest label among itself and its neighbors. With
    ``shortcut=True`` each round additionally POINTER-JUMPS —
    ``label(node) ← label(label(node))`` via one more self-join — which
    cuts rounds from O(diameter) to O(log diameter) at the price of a
    heavier round; opt in for long-diameter graphs (q429's percolated
    geometric cluster: 22 rounds → 6, A/B'd at sf0.1), leave off for
    the shallow near-dup graphs (2-3 rounds) where the extra join is
    pure overhead. The fixpoint is the identical min-labeling either
    way (property-tested). Labels are
    monotonically non-increasing, so ``sum(label)`` strictly decreases
    until the fixpoint — the loop exits when it stabilizes (rounds needed
    = graph diameter; near-dup clusters are dense, so 2-3 in practice).
    At 100 TB you would swap in the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond") to
    bound rounds at O(log²n) on pathological chains; the per-round
    dataflow — join on neighbor, min-combine — is identical.
    """
    # Persist the symmetrized edge list: it feeds EVERY iteration's join,
    # and without it each round would re-derive the upstream pipeline
    # that produced the edges (for near-dup input, the full MinHash/LSH
    # dataflow) — turning an O(diameter) loop into O(diameter × pipeline).
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    spark = sym.sparkSession
    # localCheckpoint (NOT persist) per round: persist caches data but
    # keeps lineage, so each round's plan embeds every previous round's
    # tree — at sf0.1 the CC loop needed enough rounds that plan-tree
    # STRING generation alone OOMed an 8g driver (the q103 iterative-
    # DataFrame trap, resurfaced). Eager localCheckpoint materializes
    # the (|nodes|)-row label vector and cuts the plan back to a leaf.
    labels = (
        sym.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    # Scale-adaptive loop partitioning: sym is
    # persisted and already materialized by the labels build, so the
    # count is a cache read. The session conf is restored after the
    # loop; every round's result is localCheckpointed, so no lazy
    # subtree of the returned frame re-executes under the restored
    # conf. Label values are partitioning-independent (min is
    # commutative/associative), which the differential re-verifies.
    from azure_batch_map_reduce_spark.session import scoped_shuffle_partitions

    loop_parts = _loop_shuffle_partitions(spark, sym.count(), sym.schema)
    with scoped_shuffle_partitions(spark, loop_parts):
        for _ in range(max_iter):
            nbr = sym.join(labels, sym["v"] == labels["node"]).select(
                sym["u"].alias("node"), "label"
            )
            labels = nbr.union(labels).groupBy("node").agg(
                F.min("label").alias("label")
            )
            if shortcut:
                lab2 = labels.select(
                    F.col("node").alias("_n2"), F.col("label").alias("_l2")
                )
                labels = labels.join(
                    lab2, labels["label"] == F.col("_n2"), "left"
                ).select(
                    "node",
                    F.coalesce(F.col("_l2"), F.col("label")).alias("label"),
                )
            labels = labels.localCheckpoint(eager=True)
            cur_sum = labels.agg(F.sum("label")).first()[0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    sym.unpersist()
    return labels


@query(
    "q66_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT u AS node, u AS label FROM edges
        UNION
        SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(label) AS cluster_rep FROM reach GROUP BY node)
    SELECT cluster_rep, count(*) AS cluster_size
    FROM lab GROUP BY cluster_rep
    """,
    tags=("dedup", "clustering", "graph"),
)
def q66_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: the q62 pair list is only half the dedup
    story — transitive closure turns pairs into groups (A≈B, B≈C ⇒ one
    cluster {A,B,C}) so a pipeline keeps exactly one representative per
    cluster, not one per pair. Pairs → undirected edges → iterative
    min-label propagation (:func:`connected_components`); output is one
    row per cluster with its representative (min doc_id) and size. The
    oracle computes the same closure with a recursive CTE — feasible for
    DuckDB single-node, while the Spark side stays a bounded loop of
    distributed joins (the reference could express neither: its DAG is a
    fixed two-stage fan-out, ``Program.cs:322-387``)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    edges = neardup_pairs(docs).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels = connected_components(edges)
    return labels.groupBy(F.col("label").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )


@query("q67_ml_minhash_lsh", oracle=None, tags=("dedup", "minhash", "spark-ml"))
def q67_ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.ml composition of the same near-dup pipeline (SURVEY §2.2k):
    Tokenizer → NGram(3) → HashingTF (binary trigram-shingle features) →
    MinHashLSH(seed) → approxSimilarityJoin at Jaccard distance ≤ 0.2
    (same trigram feature space and 0.8 similarity bar as q62 — word
    SETS would collapse over this corpus's ~50-word vocabulary). Rows-only check:
    candidate RECALL depends on the library's internal hash seeds, so the
    found-pair set is not SQL-replayable — but PRECISION is verified in
    the output itself: `exact_jaccard` recomputes word-set Jaccard with
    array ops, independent of spark.ml. Complements q62, which builds
    the identical dataflow from first principles with engine-neutral
    hashes so DuckDB can replay all of it."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id").select(
        "doc_id", "text"
    )
    tok = Tokenizer(inputCol="text", outputCol="words")
    words = tok.transform(docs)
    ngram = NGram(n=3, inputCol="words", outputCol="shingles")
    shingled = ngram.transform(words)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", binary=True, numFeatures=1 << 18
    )
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = (
        model.approxSimilarityJoin(feats, feats, 0.2, distCol="jaccard_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 4).alias("ml_jaccard"),
            F.array_distinct(F.col("datasetA.shingles")).alias("wa"),
            F.array_distinct(F.col("datasetB.shingles")).alias("wb"),
        )
    )
    exact = F.round(
        F.size(F.array_intersect("wa", "wb")).cast("double")
        / F.size(F.array_union("wa", "wb")),
        4,
    )
    return pairs.select("doc_a", "doc_b", "ml_jaccard", exact.alias("exact_jaccard"))


@query(
    "q68_simhash_hamming_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sh AS (
        SELECT doc_id, CAST({_simhash_sql_bits()} AS BIGINT) AS simhash
        FROM ids GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, simhash, b, (simhash >> (4 * b)) & 15 AS bv
        FROM sh, generate_series(0, 3) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
                        b.doc_id AS doc_b, b.simhash AS sb
        FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
                                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    """,
    tags=("dedup", "simhash", "hamming"),
)
def q68_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash as a complete dedup METHOD (q63 only fingerprints): the
    16-bit fingerprint splits into 4 bands of 4 bits; docs sharing any
    band bucket become candidates (pigeonhole: hamming ≤ 3 ⇒ at least
    one band identical, so recall at the ≤3 threshold is total); pairs
    verify with an exact popcount on the XOR. Pair generation is an
    equi-join on (band, value) — never all-pairs — and the verification
    touches candidates only; fingerprints are 2 bytes/doc through the
    shuffle, the cheapest of the near-dup families."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    sh = simhash_frame(docs).persist()
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("b"),
    ).withColumn("bv", F.expr("shiftright(simhash, b * 4)").bitwiseAND(15))
    a, b_ = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sa"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


_INCR_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS bkey FROM mh"
    for b in range(N_BANDS)
)


@query(
    "q100_incremental_neardup",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    bands AS ({_INCR_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS other_doc
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey
         AND a.doc_id % 10 = 7
         AND b.doc_id <> a.doc_id
         AND NOT (b.doc_id % 10 = 7 AND b.doc_id < a.doc_id)
    )
    SELECT batch_doc, other_doc, jaccard FROM (
        SELECT c.batch_doc, c.other_doc,
               ((2 * length(list_intersect(wa.sh, wb.sh)) * 10000
                     + length(list_distinct(list_concat(wa.sh, wb.sh))))
                    // (2 * length(list_distinct(list_concat(wa.sh, wb.sh)))))
                   / 10000.0 AS jaccard
        FROM cand c
        JOIN w wa ON wa.doc_id = c.batch_doc
        JOIN w wb ON wb.doc_id = c.other_doc
    ) WHERE jaccard >= 0.8
    """,
    tags=("dedup", "minhash", "incremental"),
)
def q100_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection — the ingestion-time shape: a new
    batch (docs with ``doc_id % 10 = 7``, ~10%) is checked against the
    existing corpus AND within itself, without recomputing corpus×corpus
    pairs. Only batch-side band keys probe the index, so per-ingest cost
    is O(batch × bucket-mates), not O(corpus²); batch-batch pairs are
    oriented ``a < b`` once, batch-index pairs keep the batch doc first.
    In production the index signatures (``mh``) and shingle sets (``w``)
    are precomputed tables maintained by each ingest — here both sides
    are derived in-query so the oracle can replay them."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    mh, w = _minhash_signatures(docs)
    bands = _band_frame(mh.persist())
    is_batch = lambda c: c % 10 == 7  # noqa: E731
    a = bands.filter(is_batch(F.col("doc_id"))).alias("a")
    b_ = bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("b.doc_id") != F.col("a.doc_id"))
            & ~(is_batch(F.col("b.doc_id")) & (F.col("b.doc_id") < F.col("a.doc_id"))),
        )
        .select(
            F.col("a.doc_id").alias("batch_doc"), F.col("b.doc_id").alias("other_doc")
        )
        .distinct()
    )
    return _jaccard_verified(cand, w, "batch_doc", "other_doc")


@query(
    "q111_fuzzy_blocked_join",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
        SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM blocked a
    JOIN blocked b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    tags=("dedup", "fuzzy", "join", "blocking"),
)
def q111_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join with blocking — the record-linkage
    primitive: candidate part-name pairs within edit distance 4,
    restricted to pairs sharing a block key (the name's noun, its
    second token) so the quadratic comparison never crosses blocks.
    Canonical ordering (a < b) emits each pair once.

    Scale posture: the match runs on the DISTINCT name set, not the raw
    rows — dedup first, then link, is what bounds the pair space. The
    equi-join on the block key is an ordinary hash join; the
    levenshtein residual evaluates only within blocks, so cost is
    Σ block² instead of N². Hot blocks are the skew risk — the q105
    profile tells you which, and salting or a length sub-key splits
    them. Levenshtein is JVM-side codegen, no Python in the pair loop.
    """
    part = load_tables(spark, sf_dir)["part"]
    names = part.select("p_name").distinct()
    blocked = names.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("blk")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 4)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
        )
    )


PPJOIN_TAU = 0.6  # Jaccard threshold for the prefix-filtered join


def _ppjoin_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ts): each document's distinct word-trigram shingles as
    xxhash64 longs, sorted — the persisted set frame of the PPJoin
    self-joins (q150, q228). Documents under three words are dropped.

    Tiny parquet inputs bin-pack to ONE partition, so the frame fans out
    before the shingling expression runs. Shingles are hashed to int64
    immediately: prefix rows, join keys and the verify arrays all
    shuffle as longs instead of ~25-char strings (collision odds over a
    ~30k vocab are ~1e-11 — irrelevant next to the 8× shuffle-width
    saving). The sorted hash order is the global token order the
    prefix filter needs."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .repartition(32, "doc_id")
    )
    return words.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 2),
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ",
                            F.element_at("w", i),
                            F.element_at("w", i + 1),
                            F.element_at("w", i + 2),
                        )
                    ),
                )
            )
        ).alias("ts"),
    ).persist()


def _pair_shingles(cands: DataFrame, shingled: DataFrame) -> DataFrame:
    """Candidate pairs ``(doc_i, doc_j)`` joined back to both documents'
    shingle arrays ``ts_i`` and ``ts_j`` for exact verification."""
    return cands.join(
        shingled.select(F.col("doc_id").alias("doc_i"), F.col("ts").alias("ts_i")),
        "doc_i",
    ).join(
        shingled.select(F.col("doc_id").alias("doc_j"), F.col("ts").alias("ts_j")),
        "doc_j",
    )


@query(
    "q150_prefix_filter_simjoin",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
        SELECT doc_id, list_sort(list_distinct(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in range(1, len(w) - 1)])) AS ts
        FROM words WHERE len(w) >= 3
    )
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
           CAST(len(a.ts) AS BIGINT) AS n_i,
           CAST(len(b.ts) AS BIGINT) AS n_j,
           CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_common,
           ((2 * len(list_intersect(a.ts, b.ts)) * 1000000
                 + (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))))
                // (2 * (len(a.ts) + len(b.ts)
                         - len(list_intersect(a.ts, b.ts)))))
               / 1000000.0 AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.6
    ORDER BY doc_i, doc_j
    """,
    tags=("dedup", "simjoin", "prefix-filter", "ppjoin"),
)
def q150_prefix_filter_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with AllPairs/PPJoin prefix filtering:
    find all document pairs whose word-TRIGRAM shingle sets have Jaccard
    ≥ 0.6, WITHOUT comparing all O(n²) pairs. Each doc's shingles carry
    a common global total order (their int64 hash — the arrays arrive
    pre-sorted); only the first ``n - ⌈τ·n⌉ + 1`` shingles (the
    *prefix*, a plain array slice) generate join candidates — two sets
    with Jaccard ≥ τ provably share at least one prefix token under any
    fixed global ordering. Candidates are then verified with the exact
    intersection size.

    The prefix length uses pure integer arithmetic (``⌈3n/5⌉`` as
    ``(3n+4) div 5``) — ``ceil(0.6*n)`` in floats overshoots for
    multiples of 5 (0.6 is inexact in binary).

    Trigram (not bigram) shingles matter at scale here: the fixture's
    ~31-word vocabulary gives only ~960 possible bigrams, so every
    bigram bucket holds ~1/960th of the corpus and candidate volume
    grows quadratically; ~30k possible trigrams keep document frequency
    (and thus bucket size) flat as the corpus grows. The PPJoin length
    filter (3·max(n_i,n_j) ≤ 5·min) prunes candidates before the
    distinct.

    Scale posture: candidate generation shuffles only prefix tokens
    (hash order spreads bucket load uniformly; at corpus scales where a
    few ultra-common shingles dominate, switch the slice back to a
    rarest-first document-frequency order to keep them out of
    prefixes); the O(n²) blow-up of the naive approach (the oracle runs
    that shape) never materializes. Verification joins the candidate
    PAIR list (tiny)
    against the shingle arrays twice. Compare q62 (MinHash LSH):
    prefix filtering is exact-recall, LSH is probabilistic.
    """
    shingled = _ppjoin_shingles(spark, sf_dir)
    # Prefix filtering is correct under ANY fixed global total order of
    # tokens — two sets with J >= tau provably share an element of their
    # first n - ceil(tau*n) + 1 tokens in that order. The shingle arrays
    # are already sorted by their int64 hash, so the prefix is a plain
    # SLICE: no document-frequency pass, no broadcast join, no per-doc
    # window sort. (Rarest-first ordering would shrink candidate buckets
    # further, but its two extra aggregations + window cost more than
    # the verification it saves on this corpus shape — the slice variant
    # measured ~2× faster end-to-end at sf0.1.)
    # Prefix length p = n - ceil(tau*n) + 1, integer-exact for tau=3/5.
    prefix = shingled.select(
        "doc_id",
        F.size("ts").alias("n"),
        F.explode(
            F.expr("slice(ts, 1, size(ts) - ((3*size(ts) + 4) div 5) + 1)")
        ).alias("tok"),
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # PPJoin length filter: J >= 3/5 forces 3*max(n_i,n_j) <= 5*min
        .filter(
            (F.col("a.n") * 3 <= F.col("b.n") * 5)
            & (F.col("b.n") * 3 <= F.col("a.n") * 5)
        )
        .select(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .distinct()
    )
    verified = (
        _pair_shingles(cands, shingled)
        .withColumn(
            "n_common", F.size(F.array_intersect("ts_i", "ts_j")).cast("long")
        )
        .withColumn("n_i", F.size("ts_i").cast("long"))
        .withColumn("n_j", F.size("ts_j").cast("long"))
        .withColumn(
            "jacc_raw",
            F.col("n_common").cast("double")
            / (F.col("n_i") + F.col("n_j") - F.col("n_common")),
        )
        .filter(F.col("jacc_raw") >= PPJOIN_TAU)
    )
    return verified.select(
        "doc_i",
        "doc_j",
        "n_i",
        "n_j",
        "n_common",
        half_up_ratio(
            F.col("n_common"),
            F.col("n_i") + F.col("n_j") - F.col("n_common"),
            6,
        ).alias("jaccard"),
    ).orderBy("doc_i", "doc_j")


@query(
    "q181_golden_record",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, lang, n_chars,
               sha256(text) AS dup_key,
               row_number() OVER (
                   PARTITION BY sha256(text)
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS rn,
               count(*) OVER (PARTITION BY sha256(text)) AS grp_n
        FROM documents
    )
    SELECT dup_key,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor_doc_id,
           max(CASE WHEN rn = 1 THEN source END)                 AS survivor_source,
           CAST(count(*) AS BIGINT)                              AS n_members,
           CAST(count(DISTINCT source) AS BIGINT)                AS n_sources,
           CAST(sum(n_chars) AS BIGINT)                          AS total_chars
    FROM ranked
    WHERE grp_n > 1
    GROUP BY dup_key
    ORDER BY n_members DESC, dup_key
    """,
    tags=("dedup", "survivorship", "golden-record"),
)
def q181_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record consolidation: duplicate documents
    (exact content key) collapse to ONE canonical survivor chosen by a
    deterministic rule — longest content wins, ties to the lowest
    ``doc_id`` — while the group's lineage (member count, distinct
    sources, total bytes) is preserved. This is the record-consolidation
    step a curation pipeline runs after candidate duplicate detection,
    distinct from plain dedup: it *merges* metadata instead of merely
    discarding rows.

    Scale posture: one shuffle keyed by the 32-byte content hash
    (window + aggregation share the same partitioning, so Catalyst
    reuses a single Exchange); per-group work is O(group size). Skewed
    mega-groups (a boilerplate page duplicated millions of times) are
    the known hazard at 100 TB — cap group fan-in upstream with a
    per-key limit, or pre-aggregate per (key, salt)."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("dup_key").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.sha2("text", 256).alias("dup_key"),
    ).withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("dup_key")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("survivor_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("source"))).alias("survivor_source"),
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .where(F.col("n_members") > 1)
        .orderBy(F.desc("n_members"), F.asc("dup_key"))
    )


@query(
    "q228_dedup_threshold_sweep",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
        SELECT doc_id, list_sort(list_distinct(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in range(1, len(w) - 1)])) AS ts
        FROM words WHERE len(w) >= 3
    ),
    pairs AS (
        SELECT CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
               / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
                   AS jaccard
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.ts, b.ts)) * 2
              > len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))
    )
    SELECT t.threshold,
           CAST(count(CASE WHEN p.jaccard >= t.threshold THEN 1 END) AS BIGINT)
               AS n_pairs
    FROM (VALUES (0.6), (0.7), (0.8), (0.9)) t(threshold)
    LEFT JOIN pairs p ON TRUE
    GROUP BY t.threshold
    ORDER BY t.threshold
    """,
    tags=("dedup", "simjoin", "threshold", "tuning"),
)
def q228_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating curve: near-duplicate PAIR counts at four
    Jaccard thresholds from one pass — the sensitivity sweep that
    picks the dedup aggressiveness (too low merges distinct docs, too
    high leaves templated near-copies in; the knee of this curve is
    the defensible setting). Candidates come from the τ=0.5 prefix
    filter ONCE; each exact pair Jaccard then increments every
    threshold bucket it clears, so widening the sweep costs nothing.

    Scale posture: identical to q150 (the prefix filter does the
    pruning at the LOOSEST threshold; counts per band are a bounded
    rollup). The jaccard-vs-threshold comparison cross-multiplies
    integer set sizes — no float enters any band decision."""
    shingled = _ppjoin_shingles(spark, sf_dir)
    # Prefix at tau=0.5: p = n - ceil(n/2) + 1 = n div 2 + 1
    prefix = shingled.select(
        "doc_id",
        F.size("ts").alias("n"),
        F.explode(F.expr("slice(ts, 1, size(ts) div 2 + 1)")).alias("tok"),
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            (F.col("a.n") <= F.col("b.n") * 2)
            & (F.col("b.n") <= F.col("a.n") * 2)
        )
        .select(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .distinct()
    )
    inter = F.size(F.array_intersect("ts_i", "ts_j")).cast("long")
    uni = (
        F.size("ts_i").cast("long") + F.size("ts_j").cast("long") - inter
    )
    pairs = (
        _pair_shingles(cands, shingled)
        .select(inter.alias("i"), uni.alias("u"))
        .where(F.col("i") * 2 > F.col("u"))
    )
    thresholds = pairs.sparkSession.createDataFrame(
        [(0.6,), (0.7,), (0.8,), (0.9,)], "threshold double"
    )
    # Cross-multiplied integer band test: jaccard >= t  ⇔  10·i >= 10·t·u
    # with t ∈ {0.6,0.7,0.8,0.9} ⇔ 10·i >= k·u for integer k = 10t.
    return (
        F.broadcast(thresholds)
        .join(pairs, F.expr("i * 10 >= cast(round(threshold * 10) as bigint) * u"), "left")
        .groupBy("threshold")
        .agg(F.count("i").alias("n_pairs"))
        .orderBy("threshold")
    )


def _cluster_profile_oracle() -> str:
    """Wraps q66's transitive-closure oracle as a CTE and profiles the
    cluster-size distribution (nested WITH is legal in a CTE body)."""
    q66 = REGISTRY["q66_neardup_clusters"].oracle
    return f"""
    WITH clusters AS ({q66}),
    sized AS (
        SELECT CAST(cluster_size AS BIGINT)      AS cluster_size,
               CAST(count(*) AS BIGINT)          AS n_clusters,
               CAST(sum(cluster_size) AS BIGINT) AS n_docs
        FROM clusters GROUP BY cluster_size
    ),
    tot AS (SELECT count(*) AS total FROM documents),
    dup AS (SELECT coalesce(sum(n_docs), 0) AS in_clusters FROM sized)
    SELECT * FROM (
        SELECT cluster_size, n_clusters, n_docs FROM sized
        UNION ALL
        SELECT CAST(1 AS BIGINT),
               CAST(t.total - d.in_clusters AS BIGINT),
               CAST(t.total - d.in_clusters AS BIGINT)
        FROM tot t CROSS JOIN dup d
    )
    ORDER BY cluster_size
    """


@query(
    "q250_dedup_cluster_profile",
    oracle=_cluster_profile_oracle(),
    tags=("dedup", "clusters", "profiling", "curation"),
)
def q250_dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster-size distribution with singleton
    accounting: how many clusters of each size the corpus contains,
    including the size-1 row for documents with no near-duplicate —
    the dedup planning read (sum of (size−1)·n_clusters over sizes ≥ 2
    is exactly the row count deduplication will remove; a fat tail of
    giant clusters flags boilerplate/template contamination before the
    purge runs). Composes q66's transitive closure — same dataflow,
    same oracle CTE — with a size-grain rollup and a total-count
    broadcast for the singleton remainder.

    Scale posture: everything past q66's bounded label-propagation
    loop is a |clusters|-grain aggregate plus a 1-row cross join; the
    singleton count is derived by subtraction, never by materializing
    an anti-join of the corpus against the pair list."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    edges = neardup_pairs(docs).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    clusters = connected_components(edges).groupBy(
        F.col("label").alias("cluster_rep")
    ).agg(F.count(F.lit(1)).alias("cluster_size"))
    sized = clusters.groupBy(
        F.col("cluster_size").cast("long").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("total"))
    dup = sized.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("in_clusters")
    )
    singleton = (
        tot.crossJoin(F.broadcast(dup))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("total") - F.col("in_clusters")).cast("long").alias("n_clusters"),
            (F.col("total") - F.col("in_clusters")).cast("long").alias("n_docs"),
        )
    )
    return sized.unionAll(singleton).orderBy("cluster_size")


@query(
    "q258_semantic_cluster_dedup",
    oracle="""
    WITH RECURSIVE n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e)
              / sqrt(list_dot_product(a.e, a.e)
                     * list_dot_product(b.e, b.e)), 6) >= 0.3
    ),
    edges AS (SELECT va AS u, vb AS v FROM pairs
              UNION SELECT vb, va FROM pairs),
    reach AS (
        SELECT u AS node, u AS lab0 FROM edges
        UNION
        SELECT e.v, r.lab0 FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab0) AS grp FROM reach GROUP BY node),
    flat AS (
        SELECT vec_id, label,
               unnest(list_transform(range(1, len(e) + 1),
                      i -> struct_pack(dim := i, v := e[i]))) AS s
        FROM n
    ),
    f2 AS (SELECT vec_id, label, s.dim AS dim, s.v AS v FROM flat),
    cent AS (
        SELECT label, dim,
               list_reduce(list_prepend(0.0, list(v ORDER BY vec_id)),
                           (a, b) -> a + b) / count(*) AS c
        FROM f2 GROUP BY label, dim
    ),
    cvec AS (SELECT label, list(c ORDER BY dim) AS cl FROM cent GROUP BY label),
    dist AS (
        SELECT n.vec_id, n.label,
               round(list_reduce(list_prepend(0.0,
                     list_transform(range(1, len(n.e) + 1),
                                    i -> (n.e[i] - cv.cl[i])
                                         * (n.e[i] - cv.cl[i]))),
                     (a, b) -> a + b), 4) AS d2
        FROM n JOIN cvec cv ON n.label = cv.label
    ),
    member AS (
        SELECT c.grp, d.label, d.vec_id, d.d2
        FROM comp c JOIN dist d ON c.node = d.vec_id
    ),
    gstats AS (
        SELECT grp, label, count(*) AS group_size, max(d2) AS keeper_dist
        FROM member GROUP BY grp, label
    ),
    keeper AS (
        SELECT m.grp, min(m.vec_id) AS keeper_vec_id
        FROM member m
        JOIN gstats g ON m.grp = g.grp AND m.d2 = g.keeper_dist
        GROUP BY m.grp
    )
    SELECT g.label, g.grp AS group_rep,
           CAST(g.group_size AS BIGINT)     AS group_size,
           CAST(g.group_size - 1 AS BIGINT) AS n_removed,
           k.keeper_vec_id, g.keeper_dist
    FROM gstats g JOIN keeper k ON g.grp = k.grp
    ORDER BY label, group_rep
    """,
    tags=("dedup", "embedding", "semantic", "clustering", "semdedup"),
)
def q258_semantic_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): form
    near-duplicate groups from within-cluster cosine pairs (label = the
    cluster assignment, the q65 bucketing), close them transitively,
    and keep per group the member FARTHEST from its cluster centroid —
    SemDeDup's representative choice (the edge of the semantic
    neighborhood carries the most residual information). Emits each dup
    group with its size, removal count, keeper, and the keeper's
    centroid distance — the purge list a semantic-dedup pass hands the
    curation pipeline.

    Determinism: pair edges threshold on round-6 cosine (q65); the
    per-(cluster, dim) centroid folds member values in vec_id order
    and the per-vector distance folds dims in dim order (prepended-zero
    fold on both engines — bit-identical centroids, unlike a bare
    AVG whose partial-agg order is engine-chosen); distances round to
    4 with the min-vec_id tie on the argmax resolved by a two-step
    max-then-filter (portable where struct-valued arg_max is not).

    Scale posture: pairs form only inside a cluster (equi-join on the
    cluster key — never all-pairs); transitive closure is the bounded
    label-propagation loop (dup clusters are dense, 2-3 rounds);
    centroids are (clusters × dims) grain and broadcast back as
    arrays; the argmax is a group-grain aggregate. At 100 TB the
    cluster key comes from k-means/IVF assignment (q243/q73) instead
    of a stored label — same dataflow."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.select(
        "vec_id",
        "label",
        _as_double(F.col("embedding")).alias("e"),
    ).withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    a = n.select(
        "label",
        F.col("vec_id").alias("va"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("label") == F.col("label_b")) & (F.col("va") < F.col("vb"))
    ).where(
        F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
        >= 0.3
    )
    comp = connected_components(
        pairs.select(F.col("va").alias("u"), F.col("vb").alias("v"))
    ).select(F.col("node"), F.col("label").alias("grp"))
    flat = n.select(
        "vec_id", "label", F.posexplode("e").alias("dim0", "v")
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "v")
    cent = flat.groupBy("label", "dim").agg(
        (
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("vec_id"), F.col("v")))
                    ),
                    lambda x: x["v"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1))
        ).alias("c")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("c")))),
            lambda x: x["c"],
        ).alias("cl")
    )
    dist = n.join(F.broadcast(cvec), "label").select(
        "vec_id",
        "label",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("e"), F.col("cl"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("d2"),
    )
    member = comp.join(dist, comp["node"] == dist["vec_id"]).select(
        "grp", "label", "vec_id", "d2"
    )
    gstats = member.groupBy("grp", "label").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.max("d2").alias("keeper_dist"),
    )
    keeper = (
        member.join(
            F.broadcast(gstats.select("grp", "keeper_dist")),
            ["grp"],
        )
        .where(F.col("d2") == F.col("keeper_dist"))
        .groupBy("grp")
        .agg(F.min("vec_id").alias("keeper_vec_id"))
    )
    return (
        gstats.join(F.broadcast(keeper), "grp")
        .select(
            "label",
            F.col("grp").alias("group_rep"),
            F.col("group_size").cast("long").alias("group_size"),
            (F.col("group_size") - 1).cast("long").alias("n_removed"),
            "keeper_vec_id",
            "keeper_dist",
        )
        .orderBy("label", "group_rep")
    )


_SHINGLE_K = 24      # shingle length (chars)
_SHINGLE_STRIDE = 8  # sampling stride
_SHINGLE_DF_CAP = 50  # shingles in more docs than this are boilerplate
_SHINGLE_MIN_SHARED = 3


@query(
    "q260_substring_shingle_overlap",
    oracle=f"""
    WITH sh AS (
        -- shingle keyed by its 48-bit md5 prefix: same plan, ~1/3 the
        -- shuffle width of the raw 24-char key (the 100 TB note in the
        -- docstring, now applied); any collision is identical on both
        -- engines (same hash), so the differential stays exact
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(substr(lower(text), CAST(p AS INTEGER),
                                          {_SHINGLE_K})), 1, 12))::BIGINT AS s
        FROM (
            SELECT doc_id, lower(text) AS text,
                   unnest(range(1, length(text) - {_SHINGLE_K} + 2,
                                {_SHINGLE_STRIDE})) AS p
            FROM documents
            WHERE length(text) >= {_SHINGLE_K}
        )
    ),
    df AS (
        SELECT s FROM sh GROUP BY s
        HAVING count(*) <= {_SHINGLE_DF_CAP}
    ),
    kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df ON sh.s = df.s),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {_SHINGLE_MIN_SHARED}
    )
    SELECT s.doc_a, s.doc_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(za.n_sh AS BIGINT)    AS n_sh_a,
           CAST(zb.n_sh AS BIGINT)    AS n_sh_b,
           ((2 * s.n_shared * 10000 + least(za.n_sh, zb.n_sh))
                // (2 * least(za.n_sh, zb.n_sh))) / 10000.0
               AS containment
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_a
    JOIN sizes zb ON zb.doc_id = s.doc_b
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "shingle", "substring", "containment", "text"),
)
def q260_substring_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-substring overlap detection (the exact-substring-dedup
    idiom used on code/web corpora, e.g. The Stack's dedup): every
    document contributes its distinct 24-char shingles sampled every 8
    chars; shingles occurring in more than 50 documents are dropped as
    boilerplate (the document-frequency cap that BOTH kills the
    template noise a web corpus is full of AND bounds the join skew);
    document pairs sharing >= 3 surviving shingles emit with their
    shared count and containment n_shared/min(|A|,|B|).

    Determinism: pure string arithmetic end to end — substr positions
    are integer stride math, matching is exact equality on the shared
    48-bit md5-prefix shingle key (collisions, if any, are identical
    cross-engine), and
    the single float op (containment) is one exact-integer division
    rounded at 4.

    Scale posture: candidate generation is an equi-join on the shingle
    key — never all-pairs; the DF cap is the skew guard (a shingle's
    join fan-out is capped at 50², and the cap itself is a
    partial+final count at shingle grain); per-doc DISTINCT runs
    map-heavy before the join. At 100 TB, swap the raw 24-char key
    for its 8-byte hash to shrink shuffle width — same plan shape
    (the reference's pluggable map slot ``App.config:16`` is exactly
    this per-doc shingle extraction)."""
    docs = load_tables(spark, sf_dir)["documents"]
    lowered = docs.select(
        "doc_id", F.lower(F.col("text")).alias("t")
    ).where(F.length("t") >= _SHINGLE_K)
    sh = (
        lowered.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length("t") - _SHINGLE_K + 1,
                    F.lit(_SHINGLE_STRIDE),
                )
            ).alias("p"),
            "t",
        )
        .select(
            "doc_id",
            # 48-bit hash key (see oracle note): narrower shuffle, same plan
            hex_int(F.md5(F.substring(F.col("t"), F.col("p"), _SHINGLE_K)), 1, 12)
            .alias("s"),
        )
        .distinct()
    )
    df_keep = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= _SHINGLE_DF_CAP
    )
    kept = sh.join(df_keep.select("s"), "s")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    shared = (
        a.join(
            b,
            (F.col("sa") == F.col("sb")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _SHINGLE_MIN_SHARED)
    )
    # The sizes table is DOC-grain (one row per surviving document) —
    # at 100 TB that is billions of rows and must never be broadcast.
    # `shared` (pairs surviving the >=3-shared filter) is the small
    # side; no hint on either — AQE picks shuffle vs broadcast from
    # runtime sizes, and the plan pin (tests/test_plans.py) asserts no
    # forced BroadcastExchange of the doc-grain side.
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"),
                         F.col("n_sh").alias("n_sh_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"),
                         F.col("n_sh").alias("n_sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_sh_a").cast("long").alias("n_sh_a"),
            F.col("n_sh_b").cast("long").alias("n_sh_b"),
            half_up_ratio(
                F.col("n_shared"), F.least("n_sh_a", "n_sh_b"), 4
            ).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q271_dedup_transitive_safety",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT u AS node, u AS lab0 FROM edges
        UNION
        SELECT e.v AS node, r.lab0 FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab0) AS grp FROM reach GROUP BY node),
    sized AS (
        SELECT grp, count(*) AS cluster_size FROM comp GROUP BY grp
        HAVING count(*) >= 2
    ),
    direct AS (
        SELECT ca.grp, count(*) AS n_direct
        FROM pairs p
        JOIN comp ca ON ca.node = p.doc_a
        GROUP BY ca.grp
    )
    SELECT s.grp AS cluster_rep,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(d.n_direct AS BIGINT)     AS n_direct,
           CAST(s.cluster_size * (s.cluster_size - 1) // 2 AS BIGINT)
               AS n_possible,
           CAST((1000000 * (s.cluster_size * (s.cluster_size - 1) // 2
                            - d.n_direct))
                // (s.cluster_size * (s.cluster_size - 1) // 2)
                AS BIGINT) AS indirect_ppm
    FROM sized s JOIN direct d ON s.grp = d.grp
    ORDER BY cluster_rep
    """,
    tags=("dedup", "clustering", "audit", "transitivity"),
)
def q271_dedup_transitive_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure contamination audit for near-dup clusters:
    per cluster, how many member pairs are NOT directly similar
    (friend-of-friend members pulled in only through chains). A high
    indirect fraction means the dedup purge would delete documents
    that never actually matched anything it keeps — the known failure
    mode of closing MinHash edges transitively (semantic drift through
    chains), and the audit that decides between cluster-level and
    edge-level dedup policies. Emits per multi-member cluster: size,
    direct-edge count, possible-pair count, and the indirect share in
    exact integer ppm (k/n ratios land on round() half-boundaries —
    the q117 lesson — so the share is floor-scaled integer division,
    never a rounded float).

    Scale posture: reuses q66's bounded label-propagation closure and
    banded-LSH pair generation (equi-join candidates only); the audit
    itself is two |clusters|-grain aggregates and one broadcast join —
    the direct-edge recount joins each PAIR to its cluster label at
    pair grain, never expanding all member pairs."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    prs = neardup_pairs(docs).select("doc_a", "doc_b")
    comp = connected_components(
        prs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).select("node", F.col("label").alias("grp"))
    sized = (
        comp.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .where(F.col("cluster_size") >= 2)
    )
    direct = (
        prs.join(
            # comp is cluster-member (doc) grain — grows with duplicate
            # mass; unhinted equi-join (the q329/q260 rule).
            comp.select(F.col("node").alias("doc_a"), "grp"),
            "doc_a",
        )
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_direct"))
    )
    possible = F.expr("cluster_size * (cluster_size - 1) div 2")
    return (
        sized.join(direct, "grp")
        .select(
            F.col("grp").alias("cluster_rep"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_direct").cast("long").alias("n_direct"),
            possible.cast("long").alias("n_possible"),
            F.expr(
                "(1000000 * (cluster_size * (cluster_size - 1) div 2"
                " - n_direct)) div (cluster_size * (cluster_size - 1) div 2)"
            ).cast("long").alias("indirect_ppm"),
        )
        .orderBy("cluster_rep")
    )


_FS_M = {"segment": 0.95, "acctbal_band": 0.9, "name_suffix": 0.8}


@query(
    "q278_fellegi_sunter_weights",
    oracle=f"""
    WITH fields AS (
        SELECT c_nationkey AS blk, 'segment' AS field,
               c_mktsegment AS val FROM customer
        UNION ALL
        SELECT c_nationkey, 'acctbal_band',
               CAST(CAST(floor(c_acctbal / 1000) AS INTEGER) AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT c_nationkey, 'name_suffix',
               substr(c_name, length(c_name) - 1, 2)
        FROM customer
    ),
    blocks AS (
        SELECT c_nationkey AS blk, count(*) AS s FROM customer
        GROUP BY c_nationkey
    ),
    n_pairs AS (
        SELECT sum(s * (s - 1) // 2) AS np FROM blocks
    ),
    agree AS (
        SELECT field, sum(c * (c - 1) // 2) AS na
        FROM (
            SELECT field, blk, val, count(*) AS c
            FROM fields GROUP BY field, blk, val
        )
        GROUP BY field
    ),
    m AS (
        SELECT * FROM (VALUES
            ('segment', {_FS_M["segment"]}),
            ('acctbal_band', {_FS_M["acctbal_band"]}),
            ('name_suffix', {_FS_M["name_suffix"]})) t(field, m)
    )
    SELECT a.field,
           CAST(p.np AS BIGINT) AS n_pairs,
           CAST(a.na AS BIGINT) AS n_agree,
           ((2 * a.na * 1000000 + p.np) // (2 * p.np)) / 1000000.0 AS u,
           m.m                                        AS m,
           round(log2(m.m / (CAST(a.na AS DOUBLE) / p.np)), 4)
                                                      AS weight_agree,
           round(log2((1 - m.m)
                      / (1 - CAST(a.na AS DOUBLE) / p.np)), 4)
                                                      AS weight_disagree
    FROM agree a CROSS JOIN n_pairs p JOIN m ON a.field = m.field
    ORDER BY a.field
    """,
    tags=("dedup", "entity-resolution", "fellegi-sunter", "linkage"),
)
def q278_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage weight estimation (the model behind
    Splink/production ER): for each comparison field — market segment,
    account-balance band, name suffix — estimate u (the probability
    two NON-matching records agree by chance) from the blocked-pair
    population, pair it with a fixed prior m (agreement probability
    among true matches), and emit the log2 agreement/disagreement
    weights that score candidate pairs. Complements q111 (fuzzy
    candidate join) and q181 (golden record): this is the step that
    LEARNS the scoring weights those consumers apply.

    The u estimate uses the pair-free identity: the number of blocked
    pairs agreeing on field f equals sum over (block, value) groups of
    C(count, 2) — so NO pair is ever materialized; blocking on nation
    makes u an estimate over the match-plausible population, per
    standard practice.

    Determinism: counts are exact integers (C(n,2) in integer math); u
    is one exact-integer IEEE division; log2 is libm but rounds at 4
    with operands far from rounding boundaries (pinned by the
    differential at two scales).

    Scale posture: two partial+final aggregates — (field, block, value)
    grain then field grain (3 rows); the pair population size is a
    1-row broadcast. A naive formulation joins the blocked pairs
    (quadratic in block size); this one never leaves linear counting —
    the difference between feasible and not at 100 TB. Reference
    contract: per-record field extraction = map slot
    (``App.config:16``); agreement consolidation = reduce slot
    (``App.config:17``)."""
    cust = load_tables(spark, sf_dir)["customer"]
    fields = cust.select(
        F.col("c_nationkey").alias("blk"),
        F.expr(
            "stack(3, "
            "'segment', c_mktsegment, "
            "'acctbal_band', cast(cast(floor(c_acctbal / 1000) as int) as string), "
            "'name_suffix', substr(c_name, length(c_name) - 1, 2)"
            ") as (field, val)"
        ),
    )
    blocks = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("s"))
    n_pairs = blocks.agg(
        F.sum((F.col("s") * (F.col("s") - 1)).cast("long") / 2).cast("long").alias("np")
    )
    agree = (
        fields.groupBy("field", "blk", "val")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("field")
        .agg(
            F.sum((F.col("c") * (F.col("c") - 1)).cast("long") / 2)
            .cast("long")
            .alias("na")
        )
    )
    m_rows = [(k, v) for k, v in sorted(_FS_M.items())]
    m_df = spark.createDataFrame(m_rows, "field string, m double")
    u = F.col("na").cast("double") / F.col("np")
    return (
        agree.crossJoin(F.broadcast(n_pairs))
        .join(F.broadcast(m_df), "field")
        .select(
            "field",
            F.col("np").cast("long").alias("n_pairs"),
            F.col("na").cast("long").alias("n_agree"),
            half_up_ratio(F.col("na"), F.col("np"), 6).alias("u"),
            "m",
            F.round(F.log2(F.col("m") / u), 4).alias("weight_agree"),
            F.round(F.log2((1 - F.col("m")) / (1 - u)), 4).alias(
                "weight_disagree"
            ),
        )
        .orderBy("field")
    )


# LSH parameter grid: (bands, rows) factorizations of a 24-hash
# signature. The S-curve P(s) = 1 - (1 - s^r)^b trades precision
# against recall along this grid.
_SCURVE_CONFIGS = ((1, 24), (2, 12), (3, 8), (4, 6), (6, 4), (8, 3), (12, 2), (24, 1))

# Fixed ABSOLUTE per-source sample size for the tuning histogram: the
# within-source pair join is Θ(m²) per source, so a constant m makes
# the histogram job corpus-size-free (a constant-RATE sample would keep
# the job quadratic in corpus size — the round-3 bug).
_SCURVE_SAMPLE_M = 32


@query(
    "q284_lsh_s_curve_tuning",
    oracle=f"""
    WITH sampled AS (
        SELECT doc_id, source, text FROM documents
        QUALIFY row_number() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) <= {_SCURVE_SAMPLE_M}
    ),
    raw AS (
        SELECT doc_id, source,
               list_distinct(list_transform(generate_series(1, length(substring(text, 1, 120)) - 3),
                             i -> {_HASH_SQL.format(expr="substring(substring(text, 1, 120), i, 4)")})) AS grams
        FROM sampled
    ),
    g AS (SELECT doc_id, source, grams, length(grams) AS ng FROM raw),
    hist AS (
        SELECT ((2 * length(list_intersect(a.grams, b.grams)) * 100
                     + (a.ng + b.ng - length(list_intersect(a.grams, b.grams))))
                    // (2 * (a.ng + b.ng
                             - length(list_intersect(a.grams, b.grams)))))
                   / 100.0 AS s,
               count(*) AS n
        FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1
    ),
    configs AS (
        SELECT * FROM (VALUES
            {",".join(f"({b}, {r})" for b, r in _SCURVE_CONFIGS)}
        ) t(bands, rows_per_band)
    ),
    probs AS (
        SELECT c.bands, c.rows_per_band, h.s, h.n,
               1.0 - list_reduce(
                   list_prepend(1.0, list_transform(range(1, c.bands + 1),
                       z -> 1.0 - list_reduce(
                           list_prepend(1.0, list_transform(range(1, c.rows_per_band + 1),
                                                            y -> h.s)),
                           (acc, x) -> acc * x))),
                   (acc, x) -> acc * x) AS p
        FROM configs c CROSS JOIN hist h
    ),
    cfg AS (
        -- literals CAST to DOUBLE: DuckDB otherwise folds DECIMAL(2,1)
        -- and truncates 0.5*0.5 to 0.2 at scale 1
        SELECT bands, rows_per_band,
               round(1.0 - list_reduce(
                   list_prepend(CAST(1.0 AS DOUBLE), list_transform(range(1, bands + 1),
                       z -> 1.0 - list_reduce(
                           list_prepend(CAST(1.0 AS DOUBLE),
                               list_transform(range(1, rows_per_band + 1),
                                              y -> CAST(0.5 AS DOUBLE))),
                           (acc, x) -> acc * x))),
                   (acc, x) -> acc * x), 6) AS p_at_050,
               round(pow(1.0 / bands, 1.0 / rows_per_band), 4)
                   AS approx_threshold
        FROM configs
    ),
    agg AS (
        SELECT bands, rows_per_band,
               CAST(sum(n) AS BIGINT) AS n_pairs_total,
               round(list_reduce(list_prepend(0.0, list(n * p ORDER BY s)),
                                 (a, b) -> a + b), 2) AS expected_detected
        FROM probs
        GROUP BY bands, rows_per_band
    )
    SELECT a.bands, a.rows_per_band, a.n_pairs_total, a.expected_detected,
           c.p_at_050, c.approx_threshold
    FROM agg a JOIN cfg c
      ON a.bands = c.bands AND a.rows_per_band = c.rows_per_band
    ORDER BY a.bands
    """,
    tags=("dedup", "lsh", "minhash", "tuning", "s-curve"),
)
def q284_lsh_s_curve_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter tuning from the corpus's OWN similarity
    distribution: the observed within-source pair Jaccards (q64's
    engine-neutral gram-hash pair space) collapse to a 2dp histogram,
    and for every (bands, rows) factorization of a 24-hash signature
    the S-curve P(s) = 1 − (1 − s^r)^b integrates against that
    histogram — expected candidate-pair volume per config, the
    detection probability at s = 0.5, and the analytic threshold
    (1/b)^(1/r). This answers the question q228's empirical sweep
    (which re-RUNS dedup per threshold) answers, analytically, before
    any LSH job is launched — the difference between tuning on 100 TB
    and tuning on a histogram.

    Determinism: s^r and (1−s^r)^b are integer-exponent powers
    evaluated as sequential multiplication folds (identical order both
    engines — no libm pow in any value that feeds a comparison); the
    histogram integral folds in s order; only the display-only
    approx_threshold uses pow, rounded at 4.

    Scale posture: the histogram is fed from a FIXED-SIZE deterministic
    per-source sample — the m documents with the smallest md5(doc_id)
    per source (m = 32) — so the within-source pair join is Θ(m²) per
    source regardless of corpus size: the whole histogram job is
    corpus-size-free, not merely rate-reduced (a constant-rate sample
    keeps the join quadratic in corpus size). Gram extraction runs
    only on the ≤ m·|sources| sampled docs; pair similarity is
    computed once and immediately collapsed to a ≤101-row histogram;
    the config × histogram grid is ≤808 rows of arithmetic. The
    per-source top-m itself is a rank-k selection (row_number within
    source); at extreme per-source cardinality swap it for the
    sample-sort rank primitive (q285/q305) — the pair join, the
    quadratic part, stays bounded either way. Reference
    contract: pair scoring = map slot (``App.config:16``); histogram +
    S-curve integral = reduce slot (``App.config:17``)."""
    # Fixed-size per-source sample: the tuning histogram needs the
    # SHAPE of the similarity distribution, not every pair. Top-m by
    # md5(doc_id) is deterministic, uniform-ish in doc ordering, and
    # engine-identical (lowercase hex compare both sides).
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "source", "text")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _SCURVE_SAMPLE_M)
        .drop("rk")
    )
    hash48_sql = (
        "conv(substring(md5(substring(substring(text, 1, 120), i, 4)), 1, 12), 16, 10)"
        f" % {MINHASH_P}"
    )
    g = docs.select(
        "doc_id",
        "source",
        F.expr(
            "array_distinct(transform(sequence(1, length(substring(text, 1, 120)) - 3),"
            f" i -> CAST({hash48_sql} AS BIGINT)))"
        ).alias("grams"),
    ).withColumn("ng", F.size("grams"))
    a = g.select(
        F.col("source"),
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("grams_a"),
        F.col("ng").alias("na"),
    )
    b = g.select(
        F.col("source").alias("source_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("grams_b"),
        F.col("ng").alias("nb"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    hist = (
        a.join(
            b,
            (F.col("source") == F.col("source_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            half_up_ratio(
                inter, F.col("na") + F.col("nb") - inter, 2
            ).alias("s")
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    configs = spark.createDataFrame(
        list(_SCURVE_CONFIGS), "bands int, rows_per_band int"
    )

    def int_pow(base, exp_col):
        # base^k via a sequential multiplication fold — engine-identical
        # accumulation, no libm pow in the value path.
        return F.aggregate(
            F.transform(F.sequence(F.lit(1), exp_col), lambda _: base),
            F.lit(1.0),
            lambda acc, x: acc * x,
        )

    cfg = configs.select(
        "bands",
        "rows_per_band",
        F.round(
            1.0
            - int_pow(
                1.0 - int_pow(F.lit(0.5), F.col("rows_per_band")),
                F.col("bands"),
            ),
            6,
        ).alias("p_at_050"),
        F.round(
            F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 4
        ).alias("approx_threshold"),
    )
    probs = configs.crossJoin(F.broadcast(hist)).select(
        "bands",
        "rows_per_band",
        "s",
        "n",
        (
            1.0
            - int_pow(
                1.0 - int_pow(F.col("s"), F.col("rows_per_band")),
                F.col("bands"),
            )
        ).alias("p"),
    )
    agg = probs.groupBy("bands", "rows_per_band").agg(
        F.sum("n").cast("long").alias("n_pairs_total"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("s"), (F.col("n") * F.col("p")).alias("np"))
                        )
                    ),
                    lambda x: x["np"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            2,
        ).alias("expected_detected"),
    )
    return (
        agg.join(F.broadcast(cfg), ["bands", "rows_per_band"])
        .select(
            "bands",
            "rows_per_band",
            "n_pairs_total",
            "expected_detected",
            "p_at_050",
            "approx_threshold",
        )
        .orderBy("bands")
    )


_WIN_K = 8       # char-gram length
_WIN_W = 4       # winnowing window (grams)
_WIN_PREFIX = 200
_WIN_DF_CAP = 50
_WIN_MIN_SHARED = 10


@query(
    "q297_winnowing_fingerprints",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(substring(lower(text), 1, {_WIN_PREFIX})) - {_WIN_K} + 1),
                   i -> {_HASH_SQL.format(expr=f"substring(substring(lower(text), 1, {_WIN_PREFIX}), i, {_WIN_K})")}) AS hs
        FROM documents
        WHERE length(text) >= {_WIN_K + _WIN_W - 1}
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               list_min(list_slice(hs, CAST(i AS INTEGER),
                                   CAST(i + {_WIN_W} - 1 AS INTEGER))) AS f
        FROM (
            SELECT doc_id, hs,
                   unnest(range(1, len(hs) - {_WIN_W} + 2)) AS i
            FROM g WHERE len(hs) >= {_WIN_W}
        )
    ),
    keep AS (
        SELECT f FROM fp GROUP BY f HAVING count(*) <= {_WIN_DF_CAP}
    ),
    kept AS (SELECT fp.doc_id, fp.f FROM fp JOIN keep k ON fp.f = k.f),
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {_WIN_MIN_SHARED}
    )
    SELECT s.doc_a, s.doc_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(za.n_fp AS BIGINT) AS n_fp_a,
           CAST(zb.n_fp AS BIGINT) AS n_fp_b,
           ((2 * s.n_shared * 10000 + least(za.n_fp, zb.n_fp))
                // (2 * least(za.n_fp, zb.n_fp))) / 10000.0 AS overlap
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_a
    JOIN sizes zb ON zb.doc_id = s.doc_b
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "winnowing", "fingerprint", "moss", "text"),
)
def q297_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every 8-char gram of the
    200-char prefix, then keep only each 4-gram window's MINIMUM hash.
    Winnowing guarantees any shared substring of length ≥ k+w−1 = 11
    chars yields a shared fingerprint, while storing ~2/(w+1) of the
    gram hashes — the density/guarantee trade q260's fixed-stride
    sampling cannot make (stride sampling can MISS an aligned-off
    match; winnowing provably cannot). Pairs sharing ≥ 10 surviving
    fingerprints emit with containment overlap (the synthetic word-soup
    fixture shares short runs everywhere, so the match bar sits well
    above noise); a 50-doc
    document-frequency cap drops boilerplate fingerprints and bounds
    join skew.

    Determinism: the gram hash is the engine-neutral md5 window
    (q64's derivation); window minima are exact integer comparisons;
    overlap is one exact-integer division rounded at 4.

    Scale posture: fingerprint selection is pure map-side array math
    per document (the local-min structure never crosses documents);
    candidate pairs form only through the fingerprint equi-join with
    the df cap as skew guard — the q260 plan shape at ~1/3 the
    shuffled key volume thanks to winnowing's density bound.
    Reference contract: per-doc winnowing = map slot
    (``App.config:16``); fingerprint-match consolidation = reduce
    slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    hash48_sql = (
        f"conv(substring(md5(substring(substring(lower(text), 1, {_WIN_PREFIX}), i, {_WIN_K})), 1, 12), 16, 10)"
        f" % {MINHASH_P}"
    )
    g = docs.where(F.length("text") >= _WIN_K + _WIN_W - 1).select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, length(substring(lower(text), 1, {_WIN_PREFIX})) - {_WIN_K} + 1),"
            f" i -> CAST({hash48_sql} AS BIGINT))"
        ).alias("hs"),
    )
    fp = (
        g.where(F.size("hs") >= _WIN_W)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - _WIN_W + 1),
                    lambda i: F.array_min(
                        F.slice(F.col("hs"), i, _WIN_W)
                    ),
                )
            ).alias("f"),
        )
        .distinct()
    )
    keep = fp.groupBy("f").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= _WIN_DF_CAP
    )
    kept = fp.join(keep.select("f"), "f")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "f")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("f").alias("f_b"))
    shared = (
        a.join(b, (F.col("f") == F.col("f_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    return (
        shared.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_fp_a").cast("long").alias("n_fp_a"),
            F.col("n_fp_b").cast("long").alias("n_fp_b"),
            half_up_ratio(
                F.col("n_shared"), F.least("n_fp_a", "n_fp_b"), 4
            ).alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    )


_CHUNK_W = 8  # words per dedup chunk


@query(
    "q357_chunk_first_occurrence_dedup",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS w
        FROM documents
    ),
    occ AS (
        SELECT doc_id, source, p,
               array_to_string(w[(p - 1) * {_CHUNK_W} + 1 :
                                 p * {_CHUNK_W}], ' ') AS seg,
               doc_id * 1000 + p AS k
        FROM (
            SELECT doc_id, source, w,
                   unnest(generate_series(1, length(w) // {_CHUNK_W})) AS p
            FROM words
        )
    ),
    firsts AS (SELECT seg, min(k) AS first_k FROM occ GROUP BY seg),
    marked AS (
        SELECT o.source,
               CASE WHEN o.k = f.first_k THEN 1 ELSE 0 END AS kept
        FROM occ o JOIN firsts f ON o.seg = f.seg
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(kept) AS BIGINT) AS n_retained,
           CAST((1000000 * (count(*) - sum(kept))) // count(*) AS BIGINT)
               AS dedup_ppm
    FROM marked
    GROUP BY source
    ORDER BY source
    """,
    tags=("dedup", "chunk", "storage", "first-occurrence"),
)
def q357_chunk_first_occurrence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level first-occurrence dedup (the storage-dedup /
    exact-substring-dedup policy, chunk grain): cut every document
    into consecutive 8-word chunks, keep only each distinct chunk's
    GLOBALLY FIRST occurrence (smallest (doc_id, position)), and
    report per source how much volume dedup would reclaim — the
    chunk-store accounting that decides whether content-addressed
    storage pays for a corpus, and the per-source attribution of who
    contributes the duplicated bytes. Complements q260 (pair
    detection) and q273 (frequency-based boilerplate): this one is a
    POLICY with a conserved-volume invariant, not a detector.

    Determinism: segmentation is integer stride math; the first
    occurrence is an exact integer argmin (doc_id·1000 + position —
    positions are < 1000 by the 8-word stride over bounded docs);
    outputs are counts and a floor-scaled integer ppm (the q271
    lesson — never a rounded float ratio of integers).

    Scale posture: occurrences explode map-side; the argmin is one
    partial+final MIN at chunk-text grain (at 100 TB, swap the raw
    8-word key for its 64-bit hash to shrink the shuffle — q260's
    note); the ownership check is an equi-join on the chunk key; the
    rollup is |sources|-grain. No pair joins anywhere. Reference
    contract: chunking = map slot (``App.config:16``), ownership +
    accounting = reduce slot (``App.config:17``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    occ = (
        words.select(
            "doc_id",
            "source",
            # Guard the sequence: Spark's sequence(1, 0) is a
            # DESCENDING [1, 0] while DuckDB's generate_series(1, 0)
            # is empty (SKILL trap) — sub-chunk docs must emit nothing.
            F.explode(
                F.when(
                    F.size("w") >= _CHUNK_W,
                    F.sequence(
                        F.lit(1),
                        F.floor(F.size("w") / F.lit(_CHUNK_W)).cast("int"),
                    ),
                )
            ).alias("p"),
            "w",
        )
        .select(
            "source",
            F.array_join(
                F.slice(F.col("w"), (F.col("p") - 1) * _CHUNK_W + 1, _CHUNK_W),
                " ",
            ).alias("seg"),
            (F.col("doc_id") * 1000 + F.col("p")).alias("k"),
        )
    )
    firsts = occ.groupBy("seg").agg(F.min("k").alias("first_k"))
    marked = occ.join(firsts, "seg").select(
        "source",
        F.when(F.col("k") == F.col("first_k"), 1).otherwise(0).alias("kept"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("kept").cast("long").alias("n_retained"),
            F.expr(
                "cast((1000000 * (count(1) - sum(kept))) div count(1) as bigint)"
            ).alias("dedup_ppm"),
        )
        .orderBy("source")
    )


_LEAK_TEST_MOD = 10  # md5 bucket 0 of 10 -> test split


@query(
    "q371_split_leakage_audit",
    oracle=f"""
    WITH {_PAIRS_CTES},
    split AS (
        SELECT doc_id,
               CASE WHEN ('0x' || substr(md5('split|' ||
                          CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                         % {_LEAK_TEST_MOD} = 0
                    THEN 'test' ELSE 'train' END AS part
        FROM documents
    ),
    tagged AS (
        SELECT p.doc_a, p.doc_b, sa.part AS part_a, sb.part AS part_b
        FROM pairs p
        JOIN split sa ON sa.doc_id = p.doc_a
        JOIN split sb ON sb.doc_id = p.doc_b
    ),
    leaked AS (
        SELECT DISTINCT CASE WHEN part_a = 'test' THEN doc_a
                             ELSE doc_b END AS test_doc
        FROM tagged WHERE part_a <> part_b
    ),
    nt AS (SELECT count(*) AS n_test FROM split WHERE part = 'test')
    SELECT CAST((SELECT count(*) FROM tagged) AS BIGINT) AS n_pairs,
           CAST((SELECT count(*) FROM tagged WHERE part_a <> part_b)
                AS BIGINT) AS n_cross_pairs,
           CAST(nt.n_test AS BIGINT) AS n_test_docs,
           CAST((SELECT count(*) FROM leaked) AS BIGINT)
               AS n_leaked_test_docs,
           CAST((1000000 * (SELECT count(*) FROM leaked)) // nt.n_test
                AS BIGINT) AS leak_ppm
    FROM nt
    """,
    tags=("dedup", "split", "leakage", "contamination", "llm"),
)
def q371_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate leakage audit: after a deterministic
    train/test split (md5 bucket of doc_id), how many near-duplicate
    pairs (q62's banded MinHash machinery, Jaccard ≥ 0.8) CROSS the
    split boundary — i.e., test documents whose near-twin sits in
    train. The eval-integrity gate a pretraining pipeline runs
    ALONGSIDE benchmark decontamination (q69 checks against external
    benchmarks; this checks the corpus against its own held-out
    slice — the leak that silently inflates held-out perplexity/eval
    wins). Emits pair counts by boundary relation, the leaked
    test-doc count, and the leak rate in floor-scaled integer ppm.

    Determinism: the split is the shared 48-bit md5 bucket; pair
    generation is q62's engine-pinned shingle/minhash/band pipeline;
    all outputs are exact integers.

    Scale posture: candidate pairs come from the banded equi-join
    (never all-pairs); the split tag is a map-side expression joined
    at pair grain; the audit is two tiny aggregates. The fix for a
    leaked doc — move it, not drop it — is why the leaked set is
    emitted at doc grain internally. Reference contract: per-doc
    split+shingle = map slot (``App.config:16``); boundary audit =
    reduce slot (``App.config:17``)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    prs = neardup_pairs(docs).select("doc_a", "doc_b")
    part = (
        F.when(
            hex_int(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 12
            )
            % _LEAK_TEST_MOD
            == 0,
            "test",
        ).otherwise("train")
    )
    split = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", part.alias("part")
    )
    tagged = (
        prs.join(
            split.select(
                F.col("doc_id").alias("doc_a"), F.col("part").alias("part_a")
            ),
            "doc_a",
        )
        .join(
            split.select(
                F.col("doc_id").alias("doc_b"), F.col("part").alias("part_b")
            ),
            "doc_b",
        )
    )
    leaked = (
        tagged.where(F.col("part_a") != F.col("part_b"))
        .select(
            F.when(F.col("part_a") == "test", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc")
        )
        .distinct()
    )
    counts = tagged.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("part_a") != F.col("part_b"), 1).otherwise(0)
        ).alias("n_cross_pairs"),
    )
    nt = split.where(F.col("part") == "test").agg(
        F.count(F.lit(1)).alias("n_test")
    )
    nl = leaked.agg(F.count(F.lit(1)).alias("n_leaked"))
    return (
        counts.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nl))
        .select(
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_cross_pairs").cast("long").alias("n_cross_pairs"),
            F.col("n_test").cast("long").alias("n_test_docs"),
            F.col("n_leaked").cast("long").alias("n_leaked_test_docs"),
            F.expr(
                "cast((1000000 * n_leaked) div n_test as bigint)"
            ).alias("leak_ppm"),
        )
    )


@query(
    "q384_neardup_modularity",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT u AS node, u AS lab0 FROM edges
        UNION
        SELECT e.v AS node, r.lab0 FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab0) AS grp FROM reach GROUP BY node),
    m AS (SELECT count(*) AS m FROM pairs),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT doc_a AS node FROM pairs
              UNION ALL SELECT doc_b FROM pairs)
        GROUP BY node
    ),
    intra AS (
        SELECT ca.grp, count(*) AS e_c
        FROM pairs p
        JOIN comp ca ON ca.node = p.doc_a
        JOIN comp cb ON cb.node = p.doc_b
        WHERE ca.grp = cb.grp
        GROUP BY ca.grp
    ),
    dsum AS (
        SELECT c.grp, count(*) AS n_nodes, sum(d.d) AS d_c
        FROM comp c JOIN deg d ON d.node = c.node
        GROUP BY c.grp
    )
    SELECT ds.grp AS community,
           CAST(ds.n_nodes AS BIGINT) AS n_nodes,
           CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
           CAST(ds.d_c AS BIGINT) AS degree_sum,
           round(coalesce(i.e_c, 0) / CAST(m.m AS DOUBLE)
                 - pow(ds.d_c / (2.0 * m.m), 2), 6) + 0.0
               AS modularity_term
    FROM dsum ds LEFT JOIN intra i ON ds.grp = i.grp CROSS JOIN m
    ORDER BY community
    """,
    tags=("dedup", "graph", "modularity", "clustering", "audit"),
)
def q384_neardup_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-duplicate communities: per
    connected component of the MinHash pair graph, its contribution
    e_c/m − (d_c/2m)² — the community-quality number that says
    whether the dedup clusters are denser than a degree-preserving
    random graph would make them (low modularity ⇒ the components
    are hash-collision chains, the q271 transitive-contamination
    signal expressed as the standard graph statistic). Completes the
    graph family (PageRank q103, triangles q109, components q66,
    Adamic-Adar q296) with its quality metric.

    Determinism: edges, degrees, and intra-community counts are exact
    integers from q62's engine-pinned pair generation and q66's
    bounded label propagation; each term is fixed-order arithmetic on
    exact operands rounded at 6 with signed-zero normalization (a
    hub-heavy community's term can be a negative epsilon).

    Scale posture: pair generation is banded equi-join (never
    all-pairs); the closure is the bounded label-propagation loop;
    degrees and intra counts are pair-grain aggregates joined at
    component grain; m is a 1-row broadcast. Reference contract:
    edge emission = map slot (``App.config:16``); community rollup =
    reduce slot (``App.config:17``)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    prs = neardup_pairs(docs).select("doc_a", "doc_b").persist()
    comp = connected_components(
        prs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).select("node", F.col("label").alias("grp"))
    m = prs.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        prs.select(F.col("doc_a").alias("node"))
        .unionAll(prs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ca = comp.select(F.col("node").alias("doc_a"), F.col("grp").alias("ga"))
    cb = comp.select(F.col("node").alias("doc_b"), F.col("grp").alias("gb"))
    intra = (
        prs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(F.col("ga") == F.col("gb"))
        .groupBy(F.col("ga").alias("grp"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    dsum = (
        comp.join(deg, "node")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("d_c"),
        )
    )
    out = (
        dsum.join(intra, "grp", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("grp").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("e_c", F.lit(0)).cast("long").alias("intra_edges"),
            F.col("d_c").cast("long").alias("degree_sum"),
            round_nz(
                F.coalesce("e_c", F.lit(0)) / F.col("m").cast("double")
                - F.pow(F.col("d_c") / (2.0 * F.col("m")), 2),
                6,
            ).alias("modularity_term"),
        )
        .orderBy("community")
    )
    # The result is bounded community grain: materialize it eagerly so
    # the pair frame's cached blocks can be released NOW instead of
    # leaking into the long-lived bench/driver session (matching
    # connected_components' own persist/unpersist discipline).
    out = out.localCheckpoint(eager=True)
    prs.unpersist()
    return out


@query(
    "q389_rouge2_neardup_recall",
    oracle=f"""
    WITH {_PAIRS_CTES},
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg_pos AS (
        SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 1)) AS i
        FROM toks WHERE len(ws) > 1
    ),
    bgs AS (
        SELECT DISTINCT doc_id,
               ws[CAST(i AS INTEGER)] || ' ' ||
               ws[CAST(i + 1 AS INTEGER)] AS bg
        FROM bg_pos
        WHERE ws[CAST(i AS INTEGER)] <> ''
          AND ws[CAST(i + 1 AS INTEGER)] <> ''
    ),
    refn AS (SELECT doc_id, count(*) AS nref FROM bgs GROUP BY doc_id),
    ov AS (
        SELECT p.doc_a, p.doc_b, count(*) AS n_overlap
        FROM pairs p
        JOIN bgs ba ON ba.doc_id = p.doc_a
        JOIN bgs bb ON bb.doc_id = p.doc_b AND bb.bg = ba.bg
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST(r.nref AS BIGINT) AS n_ref_bigrams,
           CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST((1000000 * coalesce(o.n_overlap, 0)) // r.nref
                AS BIGINT) AS rouge2_recall_ppm
    FROM pairs p
    JOIN refn r ON r.doc_id = p.doc_a
    LEFT JOIN ov o ON o.doc_a = p.doc_a AND o.doc_b = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """,
    tags=("dedup", "rouge", "similarity", "text", "llm"),
)
def q389_rouge2_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 recall over the near-duplicate candidate pairs: for each
    q62 MinHash pair, the fraction of the REFERENCE document's distinct
    bigrams that the candidate also contains — the summarization-eval
    metric repurposed as a dedup second opinion (MinHash certifies
    unigram-set Jaccard; ROUGE-2 checks whether local word ORDER also
    survives, separating true near-copies from bag-of-words twins).

    Determinism: bigrams are exact position arithmetic over the
    whitespace token array; overlap counts distinct-bigram set
    intersections (exact integers); the recall is floor integer
    division to ppm — no float anywhere.

    Scale posture: the pair list comes from the banded equi-join
    (never all-pairs); bigram extraction is a map-side explode; the
    overlap join touches ONLY candidate-pair bigrams (pair-grain
    fan-out, bounded by near-dup pair count × doc length), with
    partial aggregation on (doc_a, doc_b). Reference contract:
    per-doc bigram emission = map slot (``App.config:16``); per-pair
    overlap rollup = reduce slot (``App.config:17``)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    prs = neardup_pairs(docs).select("doc_a", "doc_b")
    ws = F.split("text", " ")
    bigrams = (
        docs.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") > 1)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("ws"), 1, F.size("ws") - 1),
                    F.slice(F.col("ws"), 2, F.size("ws") - 1),
                    lambda x, y: F.concat(x, F.lit(" "), y),
                )
            ).alias("bg"),
        )
        .where(~F.col("bg").startswith(" ") & ~F.col("bg").endswith(" "))
        .distinct()
    )
    refn = bigrams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nref"))
    ba = bigrams.select(F.col("doc_id").alias("doc_a"), "bg")
    bb = bigrams.select(F.col("doc_id").alias("doc_b"), "bg")
    ov = (
        prs.join(ba, "doc_a")
        .join(bb, ["doc_b", "bg"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        prs.join(
            refn.select(F.col("doc_id").alias("doc_a"), "nref"), "doc_a"
        )
        .join(ov, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.col("nref").cast("long").alias("n_ref_bigrams"),
            F.coalesce("n_overlap", F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            F.expr("(1000000 * coalesce(n_overlap, 0)) div nref")
            .cast("long")
            .alias("rouge2_recall_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


_BQ_SAMPLE = 200  # doc_id < N audit sample (fixed size, q284 rule)


@query(
    "q396_blocking_quality_metrics",
    oracle=f"""
    WITH sample AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_BQ_SAMPLE}
    ),
    w AS (SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, length(string_split(text, ' ')) - 2),
                     i -> concat_ws(' ', string_split(text, ' ')[i],
                                         string_split(text, ' ')[i+1],
                                         string_split(text, ' ')[i+2]))) AS sh
          FROM sample),
    ids AS (SELECT doc_id, {_HASH_SQL.format(expr="s")} AS wid
            FROM (SELECT doc_id, unnest(sh) AS s FROM w)),
    mh AS (SELECT doc_id, {_minhash_sql_cols()} FROM ids GROUP BY doc_id),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS bkey FROM mh" for b in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                                  AND a.doc_id < b.doc_id
    ),
    truth AS (
        SELECT wa.doc_id AS doc_a, wb.doc_id AS doc_b
        FROM w wa JOIN w wb ON wa.doc_id < wb.doc_id
        WHERE 5 * length(list_intersect(wa.sh, wb.sh))
              >= 4 * length(list_distinct(list_concat(wa.sh, wb.sh)))
    ),
    found AS (
        SELECT t.doc_a FROM truth t
        JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ),
    m AS (
        SELECT (SELECT count(*) FROM sample) AS n_docs,
               (SELECT count(*) FROM cand) AS n_candidates,
               (SELECT count(*) FROM truth) AS n_true,
               (SELECT count(*) FROM found) AS n_true_found
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_all_pairs,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true_pairs,
           CAST(n_true_found AS BIGINT) AS n_true_found,
           CAST((1000000 * (n_docs * (n_docs - 1) // 2 - n_candidates))
                // (n_docs * (n_docs - 1) // 2) AS BIGINT)
               AS reduction_ratio_ppm,
           CAST(CASE WHEN n_true = 0 THEN 1000000
                     ELSE (1000000 * n_true_found) // n_true END
                AS BIGINT) AS pairs_completeness_ppm
    FROM m
    """,
    tags=("dedup", "entity-resolution", "blocking", "evaluation"),
)
def q396_blocking_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation (Christen's reduction ratio + pairs
    completeness) of the q62 LSH banding scheme, measured on a fixed
    200-document audit sample where exhaustive ground truth is
    affordable: reduction ratio = how many of the all-pairs comparisons
    blocking avoided; pairs completeness = what fraction of TRUE
    near-dup pairs (exact trigram Jaccard ≥ 0.8 over ALL sample pairs)
    the bands still surfaced. The recall side of the dedup story — q62
    verifies precision inside candidates, q284 predicts recall from the
    S-curve; this MEASURES it against exhaustive truth.

    Determinism: the truth predicate is the pure-integer cross-multiply
    ``5·|∩| ≥ 4·|∪|`` (no rounded Jaccard anywhere); candidates come
    from the engine-pinned md5 minhash bands; all metrics are exact
    integers with floor-ppm division.

    Scale posture: the exhaustive all-pairs truth join is confined to
    the FIXED-SIZE sample (≤200·199/2 pairs — corpus-size-free, the
    q284 rule); banding on the sample reuses the q62 machinery
    (map-side signatures, band equi-join). The audit is how a 100 TB
    pipeline validates its blocking config before the full run, on a
    pinned sample. Reference contract: signature build = map slot
    (``App.config:16``); metric rollup = reduce slot
    (``App.config:17``)."""
    docs = _spread(
        load_tables(spark, sf_dir)["documents"].where(
            F.col("doc_id") < _BQ_SAMPLE
        ),
        "doc_id",
    )
    mh, w = _minhash_signatures(docs)
    bands = _band_frame(mh)
    cand = _band_join(bands, bands).distinct().persist()
    wa = w.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    wb = w.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    truth = (
        wa.join(wb, F.col("doc_a") < F.col("doc_b"))
        .where(
            F.lit(5) * F.size(F.array_intersect("sh_a", "sh_b"))
            >= F.lit(4)
            * F.size(F.array_union("sh_a", "sh_b"))
        )
        .select("doc_a", "doc_b")
        .persist()
    )
    found = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_docs = docs.count()
    m = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_true_found")))
        .select(
            F.lit(n_docs).cast("long").alias("n_docs"),
            F.lit(n_docs * (n_docs - 1) // 2)
            .cast("long")
            .alias("n_all_pairs"),
            F.col("n_candidates").cast("long"),
            F.col("n_true").cast("long").alias("n_true_pairs"),
            F.col("n_true_found").cast("long"),
            F.expr(
                f"(1000000 * ({n_docs * (n_docs - 1) // 2} - n_candidates))"
                f" div {n_docs * (n_docs - 1) // 2}"
            )
            .cast("long")
            .alias("reduction_ratio_ppm"),
            F.when(F.col("n_true") == 0, F.lit(1_000_000))
            .otherwise(
                F.expr("(1000000 * n_true_found) div n_true")
            )
            .cast("long")
            .alias("pairs_completeness_ppm"),
        )
    )
    out = m.localCheckpoint(eager=True)
    for frame in (w, cand, truth):
        frame.unpersist()
    return out


_INC_DELTA_MOD = 10  # doc_id % MOD == 7 plays the newly-ingested batch


def _inc_band_candidates(bands: DataFrame) -> DataFrame:
    """Delta-sided candidate pairs for incremental near-dup (q399).

    Probes the bucket index FROM the delta slice only: two equi-joins
    whose build side is |delta| band rows (delta-vs-all and
    base-vs-delta). A single self-join with an OR-filter above it would
    materialize base-vs-base bucket pairs first and filter after —
    exactly the cost incremental maintenance exists to avoid. Shared
    with ``tests/test_plans.py::test_q399_band_probe_is_delta_sided``,
    which pins this plan shape.
    """
    is_delta = lambda c: F.col(c) % _INC_DELTA_MOD == 7
    d_bands = bands.where(is_delta("doc_id"))
    base_bands = bands.where(~is_delta("doc_id"))
    p1 = _band_join(d_bands, bands)
    p2 = _band_join(base_bands, d_bands)
    return p1.unionAll(p2).distinct()


@query(
    "q399_incremental_neardup_maintenance",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS bkey FROM mh" for b in range(N_BANDS))}
    ),
    delta AS (
        SELECT doc_id FROM documents WHERE doc_id % {_INC_DELTA_MOD} = 7
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                                  AND a.doc_id < b.doc_id
        WHERE a.doc_id IN (SELECT doc_id FROM delta)
           OR b.doc_id IN (SELECT doc_id FROM delta)
    )
    SELECT c.doc_a, c.doc_b,
           c.doc_a % {_INC_DELTA_MOD} = 7 AS delta_a,
           c.doc_b % {_INC_DELTA_MOD} = 7 AS delta_b,
           CAST((1000000 * length(list_intersect(wa.sh, wb.sh)))
                // length(list_distinct(list_concat(wa.sh, wb.sh)))
               AS BIGINT) AS jaccard_ppm
    FROM cand c
    JOIN w wa ON wa.doc_id = c.doc_a
    JOIN w wb ON wb.doc_id = c.doc_b
    WHERE 5 * length(list_intersect(wa.sh, wb.sh))
          >= 4 * length(list_distinct(list_concat(wa.sh, wb.sh)))
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "incremental", "minhash", "lsh", "llm"),
)
def q399_incremental_neardup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-duplicate maintenance: when a delta batch
    arrives (here the deterministic slice doc_id % 10 = 7), emit ONLY
    the near-dup pairs that INVOLVE a delta document — new-vs-base and
    new-vs-new — never re-comparing base-vs-base pairs the previous run
    already settled. This is how q62's dedup actually runs in
    production: signatures and band buckets are durable state, each
    ingest probes its own signatures against the bucket index, and the
    pair log grows append-only (the IVM pattern of q346/q361 applied
    to the dedup graph).

    Determinism: the delta membership is integer modulus; candidates
    come from the engine-pinned md5 minhash bands; verification is the
    pure-integer cross-multiply ``5·|∩| ≥ 4·|∪|`` with floor-ppm
    Jaccard — no float anywhere.

    Scale posture: the band lookup is TWO equi-joins whose probe side
    is the |delta| band rows (delta-vs-all and base-vs-delta), so
    base-vs-base bucket pairs are never materialized — cost scales
    with ingest size times bucket occupancy, the whole point of
    incremental maintenance; shingle sets join back only for
    surviving candidates. Pinned in
    ``tests/test_plans.py::test_q399_band_probe_is_delta_sided``.
    Reference contract: signature build = map slot
    (``App.config:16``); pair append = reduce slot
    (``App.config:17``)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    mh, w = _minhash_signatures(docs)
    bands = _band_frame(mh.persist()).persist()
    is_delta = lambda c: F.col(c) % _INC_DELTA_MOD == 7
    cand = _inc_band_candidates(bands)
    wa = w.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    wb = w.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    out = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .where(F.lit(5) * inter >= F.lit(4) * uni)
        .select(
            "doc_a",
            "doc_b",
            is_delta("doc_a").alias("delta_a"),
            is_delta("doc_b").alias("delta_b"),
            (
                (F.lit(1_000_000) * inter.cast("long"))
                .cast("long")
            ).alias("_num"),
            uni.cast("long").alias("_den"),
        )
        .select(
            "doc_a",
            "doc_b",
            "delta_a",
            "delta_b",
            F.expr("_num div _den").cast("long").alias("jaccard_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )
    out = out.localCheckpoint(eager=True)
    for frame in (mh, w, bands):
        frame.unpersist()
    return out


_Q412_ORACLE = """
    WITH d AS (
        SELECT doc_id, lang, lower(text) AS t,
               substr(lower(text), 1, 16) AS blk
        FROM documents
        WHERE strlen(text) = length(text)
    ),
    s AS (
        SELECT lang, blk
        FROM d GROUP BY lang, blk
        HAVING count(*) BETWEEN 2 AND 50
    ),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
               CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist,
               CAST(greatest(length(a.t), length(b.t)) AS BIGINT) AS max_len
        FROM d a
        JOIN s USING (lang, blk)
        JOIN d b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, lang, dist, max_len,
           (1000000 * dist) // max_len AS edit_ppm
    FROM p
    WHERE dist * 10 <= max_len
    ORDER BY doc_a, doc_b
"""


@query(
    "q412_blocked_edit_distance_neardup",
    oracle=_Q412_ORACLE,
    tags=("dedup", "fuzzy", "levenshtein", "blocking"),
)
def q412_blocked_edit_distance_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Edit-distance fuzzy near-dup detection with blocked candidate
    generation — the record-linkage-style complement to the repo's
    set-similarity family (MinHash q62 catches reordered content;
    character edit distance catches small in-place mutations —
    typo-grade plagiarism, template fills, OCR noise). Pairs are
    generated only inside blocks keyed by (lang, first 16 chars of
    normalized text), sized 2..50 (the q260 boilerplate-cap rule:
    bounds any hot block's fan-out at 50² and drops degenerate
    template prefixes), then verified with exact Levenshtein distance
    under a RELATIVE threshold — dist ≤ 10% of the longer doc, in
    pure integer arithmetic. Emitted: the pair, its distance, the
    longer length, and the ppm-scaled relative distance (integer
    div, the q399 jaccard_ppm idiom).

    The contract is ASCII-normalized text (octet_length = char
    length): Spark's ``levenshtein`` counts CHARACTER edits while
    DuckDB's counts BYTE edits, so the operator pins the domain where
    the two agree — production multilingual use would normalize or
    transliterate first; the blocking/verification dataflow is
    unchanged. q420 is that multilingual on-ramp: NFC composition +
    accent folding (Arrow-batched ``unicodedata`` vs DuckDB
    ``nfc_normalize``/``strip_accents``) maps decorated non-ASCII
    text into this verified domain and re-runs this exact dataflow.

    Determinism: block keys are exact strings; Levenshtein on two
    exact strings is exact integer; the threshold and ppm are integer
    arithmetic — no floats anywhere.

    Scale posture: ONE shuffle on the block key co-partitions both
    join sides; candidate pairs exist only inside capped blocks
    (never all-pairs); the O(len²) distance kernel runs only on
    surviving candidates. At 100 TB the prefix block is a
    high-selectivity equi-key, and Spark's 3-arg
    ``levenshtein(l, r, threshold)`` bounds the kernel early-exit
    (kept 2-arg here for engine parity). Reference contract: per-doc
    normalization = map slot (``App.config:16``); per-block pair
    verification = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    d = (
        docs.where(F.octet_length("text") == F.length("text"))
        .select(
            "doc_id",
            "lang",
            F.lower(F.col("text")).alias("t"),
            F.substring(F.lower(F.col("text")), 1, 16).alias("blk"),
        )
    )
    ok_blocks = (
        d.groupBy("lang", "blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= 2) & (F.col("n") <= 50))
        .select("lang", "blk")
    )
    sized = d.join(ok_blocks, ["lang", "blk"])
    a = sized.select(
        "lang", "blk", F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")
    )
    b = sized.select(
        "lang", "blk", F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")
    )
    dist = F.levenshtein("ta", "tb").cast("long")
    max_len = F.greatest(F.length("ta"), F.length("tb")).cast("long")
    return (
        a.join(b, ["lang", "blk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "lang",
            dist.alias("dist"),
            max_len.alias("max_len"),
        )
        .where(F.col("dist") * 10 <= F.col("max_len"))
        .withColumn(
            "edit_ppm",
            F.expr("(1000000 * dist) div max_len").cast("long"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q415_canonical_doc_selection",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT u AS node, u AS label FROM edges
        UNION
        SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(label) AS cluster_rep FROM reach GROUP BY node),
    members AS (
        SELECT l.node AS doc_id, l.cluster_rep,
               CAST(d.n_chars AS BIGINT) AS n_chars,
               row_number() OVER (
                   PARTITION BY l.cluster_rep
                   ORDER BY d.n_chars DESC, l.node ASC
               ) AS rn
        FROM lab l JOIN documents d ON d.doc_id = l.node
    ),
    canon AS (SELECT cluster_rep, doc_id AS canonical_id FROM members
              WHERE rn = 1)
    SELECT m.doc_id, m.cluster_rep, c.canonical_id, m.n_chars,
           m.doc_id = c.canonical_id AS keep
    FROM members m JOIN canon c ON c.cluster_rep = m.cluster_rep
    ORDER BY m.doc_id
    """,
    tags=("dedup", "clustering", "canonical", "curation"),
)
def q415_canonical_doc_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's LAST MILE: q62 finds near-dup pairs, q66
    closes them into clusters — this turns clusters into an executable
    keep/drop plan. Per clustered document: its cluster, the cluster's
    CANONICAL representative (longest text wins, ties to the lowest
    doc_id — the keep-the-most-content policy a corpus pipeline
    actually applies, richer than q66's min-id label), and the keep
    verdict. Docs in no cluster are untouched by dedup and carry no
    row. Downstream, ``keep = false`` rows are the anti-join list that
    materializes the deduplicated corpus.

    Determinism: cluster labels are min-ids from the q66 fixpoint
    (exact integers); the canonical argmax orders by exact
    (n_chars DESC, doc_id ASC) — a total order, engine-independent.

    Scale posture: inherits q62/q66's banded-LSH + bounded-round
    label-propagation costs; the selection itself adds one
    members-grain join to documents (pruned to doc_id, n_chars) and
    one cluster-grain argmax (``max_by`` on an exact composite key —
    partial+final, no window over the corpus). Cluster count and
    membership are sparse (only near-dup docs appear), so every
    post-closure frame is |clustered docs|-sized, not corpus-sized.
    Reference contract: per-doc signature = map slot
    (``App.config:16``); cluster consolidation + plan emission =
    reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    edges = neardup_pairs(docs).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels = connected_components(edges)
    members = labels.join(
        docs.select("doc_id", F.col("n_chars").cast("long").alias("n_chars")),
        labels["node"] == F.col("doc_id"),
    ).select(
        "doc_id", F.col("label").alias("cluster_rep"), "n_chars"
    )
    canon = members.groupBy("cluster_rep").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("n_chars"), -F.col("doc_id"))
        ).alias("canonical_id")
    )
    return (
        members.join(canon, "cluster_rep")
        .select(
            "doc_id",
            "cluster_rep",
            "canonical_id",
            "n_chars",
            (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --- q420: Unicode normalization on-ramp for the fuzzy-dedup family ---


@pandas_udf(StringType())
def _nfc_udf(s: pd.Series) -> pd.Series:
    """NFC canonical composition, Arrow-batched (CPython unicodedata —
    the independent implementation paired against DuckDB's utf8proc
    ``nfc_normalize`` in q420's differential)."""
    return s.map(
        lambda x: x if x is None else unicodedata.normalize("NFC", x)
    )


@pandas_udf(StringType())
def _fold_accents_udf(s: pd.Series) -> pd.Series:
    """Accent folding: NFD decomposition, then drop combining marks
    (paired with DuckDB ``strip_accents``). Maps accented Latin text
    into the byte-safe ASCII domain where char-edit and byte-edit
    Levenshtein agree."""

    def fold(x: str | None) -> str | None:
        if x is None:
            return None
        return "".join(
            c
            for c in unicodedata.normalize("NFD", x)
            if not unicodedata.combining(c)
        )

    return s.map(fold)


_Q420_ORACLE = """
    WITH base AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 2 = 0
                    THEN translate(lower(text), 'ae', chr(225) || chr(233))
                    ELSE replace(replace(lower(text),
                                         'a', 'a' || chr(769)),
                                 'e', 'e' || chr(769))
               END AS deco
        FROM documents
    ),
    n AS (
        SELECT doc_id, lang, deco,
               nfc_normalize(deco) AS nfc,
               strip_accents(nfc_normalize(deco)) AS norm
        FROM base
    ),
    d AS (
        SELECT doc_id, lang, norm,
               substr(norm, 1, 16) AS blk,
               CAST(length(deco) - length(nfc) AS BIGINT) AS marks_composed,
               CAST(strlen(nfc) - strlen(norm) AS BIGINT) AS bytes_folded
        FROM n
    ),
    s AS (
        SELECT lang, blk
        FROM d GROUP BY lang, blk
        HAVING count(*) BETWEEN 2 AND 50
    ),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
               CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS dist,
               CAST(greatest(length(a.norm), length(b.norm)) AS BIGINT)
                   AS max_len,
               a.marks_composed AS marks_composed_a,
               b.marks_composed AS marks_composed_b,
               a.bytes_folded AS bytes_folded_a,
               b.bytes_folded AS bytes_folded_b
        FROM d a
        JOIN s USING (lang, blk)
        JOIN d b ON a.lang = b.lang AND a.blk = b.blk
                AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, lang, dist, max_len,
           (1000000 * dist) // max_len AS edit_ppm,
           marks_composed_a, marks_composed_b,
           bytes_folded_a, bytes_folded_b
    FROM p
    WHERE dist * 10 <= max_len
    ORDER BY doc_a, doc_b
"""


@query(
    "q420_unicode_normalized_neardup",
    oracle=_Q420_ORACLE,
    tags=("dedup", "fuzzy", "unicode", "normalization", "levenshtein"),
)
def q420_unicode_normalized_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unicode-normalization on-ramp for the fuzzy-matching family —
    the operator that widens q412's verified domain past its ASCII
    pin. The corpus is deterministically
    decorated with non-ASCII text in two CANONICALLY-EQUIVALENT but
    byte-different encodings — even doc_ids get precomposed accents
    (a -> U+00E1, e -> U+00E9), odd doc_ids get the decomposed forms
    (a/e + combining acute U+0301) — so every raw string is non-ASCII
    and q412's ``octet_length = length`` gate would drop the ENTIRE
    corpus. The normalization pipeline recovers it: NFC canonical
    composition (decomposed sequences collapse to their precomposed
    code points), then accent folding (NFD + strip combining marks)
    maps the text into the byte-safe domain where Spark's
    character-edit and DuckDB's byte-edit ``levenshtein`` agree, and
    the q412 blocked-Levenshtein dataflow runs unchanged on the
    normalized column. Emitted per surviving pair: the q412 columns
    plus per-side Unicode evidence — ``marks_composed`` (combining
    marks NFC removed; >0 exactly on odd, decomposed-decorated docs)
    and ``bytes_folded`` (UTF-8 bytes released by accent folding; >0
    wherever the doc contained a/e).

    Spark side: Arrow-batched ``pandas_udf`` over ``unicodedata``
    (NFC, then NFD + drop ``unicodedata.combining`` marks); oracle
    side: DuckDB ``nfc_normalize()`` + ``strip_accents()`` — two
    INDEPENDENT Unicode implementations (CPython's unicodedata vs
    utf8proc), so the differential genuinely verifies the
    normalization semantics, not one library against itself.

    Determinism: the decoration is integer-parity + literal char
    substitution; NFC/NFD on the decorated alphabet (Latin + U+0301)
    is defined by the Unicode standard identically in both
    libraries; block keys, Levenshtein, threshold, and ppm are the
    exact-integer q412 machinery — no floats anywhere.

    Scale posture: identical to q412 — ONE equi-shuffle on the
    (lang, 16-char-prefix) block key, blocks capped 2..50, the
    O(len²) kernel only on capped candidates. The normalization UDFs
    are map-side Arrow batches (no shuffle); at 100 TB the
    normalized column would be materialized ONCE at ingest (q399's
    durable-state pattern) rather than recomputed per probe — here
    both self-join branches recompute it, matching q412's
    two-branch shape. Reference contract: per-doc normalization =
    map slot (``App.config:16``); per-block pair verification =
    reduce slot (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    t0 = F.lower(F.col("text"))
    # Explicit escapes on purpose: precomposed U+00E1/U+00E9 here,
    # base char + combining acute U+0301 below — visually identical
    # glyph sequences in most editors.
    composed = F.translate(t0, "ae", "\u00e1\u00e9")
    decomposed = F.replace(
        F.replace(t0, F.lit("a"), F.lit("a\u0301")),
        F.lit("e"),
        F.lit("e\u0301"),
    )
    deco = F.when(F.col("doc_id") % 2 == 0, composed).otherwise(decomposed)
    nfc = _nfc_udf(deco)
    norm = _fold_accents_udf(nfc)
    d = docs.select(
        "doc_id",
        "lang",
        norm.alias("norm"),
        F.substring(norm, 1, 16).alias("blk"),
        (F.length(deco) - F.length(nfc)).cast("long").alias("marks_composed"),
        (F.octet_length(nfc) - F.octet_length(norm))
        .cast("long")
        .alias("bytes_folded"),
        # persist(): the normalized frame feeds BOTH self-join branches
        # (a, b) plus the block-size filter — uncached, the two Arrow
        # UDFs re-run per branch. A/B'd twice at sf0.1 per the
        # empirical-call rule: 3.05/3.41 s uncached vs 1.44/1.40 s
        # persisted (min-of-3 each, separate invocations, r10). The
        # bench clears cache between queries; at 100 TB this column is
        # materialized once at ingest instead (see docstring).
    ).persist()
    ok_blocks = (
        d.groupBy("lang", "blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= 2) & (F.col("n") <= 50))
        .select("lang", "blk")
    )
    sized = d.join(ok_blocks, ["lang", "blk"])
    a = sized.select(
        "lang",
        "blk",
        F.col("doc_id").alias("doc_a"),
        F.col("norm").alias("na"),
        F.col("marks_composed").alias("marks_composed_a"),
        F.col("bytes_folded").alias("bytes_folded_a"),
    )
    b = sized.select(
        "lang",
        "blk",
        F.col("doc_id").alias("doc_b"),
        F.col("norm").alias("nb"),
        F.col("marks_composed").alias("marks_composed_b"),
        F.col("bytes_folded").alias("bytes_folded_b"),
    )
    dist = F.levenshtein("na", "nb").cast("long")
    max_len = F.greatest(F.length("na"), F.length("nb")).cast("long")
    return (
        a.join(b, ["lang", "blk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "lang",
            dist.alias("dist"),
            max_len.alias("max_len"),
            "marks_composed_a",
            "marks_composed_b",
            "bytes_folded_a",
            "bytes_folded_b",
        )
        .where(F.col("dist") * 10 <= F.col("max_len"))
        .select(
            "doc_a",
            "doc_b",
            "lang",
            "dist",
            "max_len",
            F.expr("(1000000 * dist) div max_len").cast("long").alias("edit_ppm"),
            "marks_composed_a",
            "marks_composed_b",
            "bytes_folded_a",
            "bytes_folded_b",
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q421_dedup_corpus_materialization",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT u AS node, u AS label FROM edges
        UNION
        SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(label) AS cluster_rep FROM reach GROUP BY node),
    members AS (
        SELECT l.node AS doc_id,
               row_number() OVER (
                   PARTITION BY l.cluster_rep
                   ORDER BY d.n_chars DESC, l.node ASC
               ) AS rn
        FROM lab l JOIN documents d ON d.doc_id = l.node
    )
    SELECT d.doc_id, d.lang, d.source,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           sha256(d.text) AS content_sha
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM members WHERE rn <> 1)
    ORDER BY d.doc_id
    """,
    tags=("dedup", "sink", "materialization", "curation"),
)
def q421_dedup_corpus_materialization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dedup family's ACTUAL SINK: q62 finds
    near-dup pairs, q66 clusters them, q415 emits the keep/drop plan —
    this EXECUTES the plan. The drop list (q415's ``keep = false``
    rows) anti-joins against ``documents`` and the surviving corpus is
    written through a real parquet round-trip — the reference's L15
    download-sink contract (``Program.cs:474-497``) applied to the
    flagship pipeline, with q408's round-trip discipline: the returned
    frame is a LAZY SCAN of the written table, so the verified path
    includes the writer, the committed files, and the reader — not
    just the plan that fed them. Each survivor row carries
    ``sha256(text)`` computed ON the written copy, proving content
    (not just membership) survived the round-trip byte-exactly.

    Determinism: the drop list inherits q415's exact total order
    (n_chars DESC, doc_id ASC within each min-id cluster); the
    anti-join and the digest are exact; no floats anywhere.

    Scale posture: the drop list is |clustered docs|-sized (sparse —
    only near-dup docs appear), so the anti-join broadcasts the drop
    side while the corpus streams map-side; the write is one
    partitioned parquet emit (at 100 TB: ``partitionBy`` on a stable
    key + the q118 compaction pass); the returned scan prunes to the
    five survivor columns. The digest runs in the writer's map tasks
    — no extra pass. Reference contract: plan execution = reduce slot
    (``App.config:17``); download sink = ``Program.cs:474-497``
    (write at 488-493)."""
    docs = load_tables(spark, sf_dir)["documents"]
    plan = q415_canonical_doc_selection(spark, sf_dir)
    drop = plan.where(~F.col("keep")).select("doc_id")
    survivors = docs.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )
    d = scratch_dir("spark_graft_dedup_corpus_")
    survivors.write.mode("overwrite").parquet(d)
    return read_table(spark, d).orderBy("doc_id")


# --- q426: phonetic (Soundex) blocking for typo-variant linkage -------

# American Soundex letter->code map (H/W-transparency variant, matching
# Spark's builtin): 26 lowercase letters -> digit / '0' (vowel+y,
# resets runs) / '-' (h/w, transparent to runs).
_SDX_FROM = "bfpvcgjkqszxdtlmnraeiouyhw"
_SDX_TO = "1" * 4 + "2" * 8 + "3" * 2 + "4" + "5" * 2 + "6" + "0" * 6 + "--"

# Hand-rolled Soundex as a DuckDB character fold — the INDEPENDENT
# implementation paired against Spark's builtin in q426's differential
# (same two-implementations discipline as q420's unicodedata/utf8proc
# pairing). Accumulator is 'RESULT|last_effective_code'; vowels reset
# the run, h/w are transparent, result capped at 4.
#
# DuckDB 1.0.0 quirk (found by the hypothesis face-off test): a
# list_reduce lambda branch that returns ``acc`` VERBATIM can, in a
# vector that also contains single-element-list rows (1-letter words,
# where the lambda never runs), leak the earlier row's fold result
# into later rows — e.g. ['x','abba'] folded both to 'X000'. Every
# branch below therefore RECONSTRUCTS the accumulator from its parts
# instead of passing it through; semantics identical, evaluation safe.
_SDX_SQL = f"""rpad(string_split(list_reduce(
    list_prepend(
        upper(substr({{w}}, 1, 1)) || '|'
            || replace(translate(substr({{w}}, 1, 1),
                                 '{_SDX_FROM}', '{_SDX_TO}'), '-', ''),
        string_split(substr({{w}}, 2), '')
    ),
    (acc, c) -> CASE
        WHEN translate(c, '{_SDX_FROM}', '{_SDX_TO}') = '-'
            THEN string_split(acc, '|')[1] || '|'
                 || string_split(acc, '|')[2]
        WHEN translate(c, '{_SDX_FROM}', '{_SDX_TO}') = '0'
            THEN string_split(acc, '|')[1] || '|'
        WHEN translate(c, '{_SDX_FROM}', '{_SDX_TO}')
             = string_split(acc, '|')[2]
            THEN string_split(acc, '|')[1] || '|'
                 || string_split(acc, '|')[2]
        ELSE (CASE WHEN length(string_split(acc, '|')[1]) < 4
                   THEN string_split(acc, '|')[1]
                        || translate(c, '{_SDX_FROM}', '{_SDX_TO}')
                   ELSE string_split(acc, '|')[1] END)
             || '|' || translate(c, '{_SDX_FROM}', '{_SDX_TO}')
    END), '|')[1], 4, '0')"""

# First non-initial vowel position (or a large sentinel), shared logic:
# the deterministic typo rotates that vowel a->e->i->o->u->a, which
# provably preserves the Soundex code (non-initial vowels only reset
# coding runs; their identity never reaches the output).
_Q426_VOWEL_POS = """least(
    CASE WHEN strpos(substr({w}, 2), 'a') > 0
         THEN strpos(substr({w}, 2), 'a') + 1 ELSE 99 END,
    CASE WHEN strpos(substr({w}, 2), 'e') > 0
         THEN strpos(substr({w}, 2), 'e') + 1 ELSE 99 END,
    CASE WHEN strpos(substr({w}, 2), 'i') > 0
         THEN strpos(substr({w}, 2), 'i') + 1 ELSE 99 END,
    CASE WHEN strpos(substr({w}, 2), 'o') > 0
         THEN strpos(substr({w}, 2), 'o') + 1 ELSE 99 END,
    CASE WHEN strpos(substr({w}, 2), 'u') > 0
         THEN strpos(substr({w}, 2), 'u') + 1 ELSE 99 END)"""


_Q426_ORACLE = f"""
    WITH vocab AS (
        SELECT DISTINCT unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'),
                   x -> x <> '')) AS w
        FROM documents
    ),
    vv AS (SELECT w FROM vocab WHERE length(w) >= 3),
    pos AS (
        SELECT w, {_Q426_VOWEL_POS.format(w="w")} AS p FROM vv
    ),
    typos AS (
        SELECT w AS src,
               substr(w, 1, p - 1)
                   || translate(substr(w, p, 1), 'aeiou', 'eioua')
                   || substr(w, p + 1) AS typo
        FROM pos WHERE p < 99
    ),
    o AS (SELECT w, {_SDX_SQL.format(w="w")} AS code FROM vv),
    t AS (SELECT src, typo, {_SDX_SQL.format(w="typo")} AS code
          FROM typos),
    pairs AS (
        SELECT t.typo, o.w AS candidate, t.code,
               CAST(levenshtein(t.typo, o.w) AS BIGINT) AS dist,
               t.src = o.w AS is_source
        FROM t JOIN o ON o.code = t.code
        WHERE levenshtein(t.typo, o.w) <= 1 AND t.typo <> o.w
    )
    SELECT typo, candidate, code, dist, is_source
    FROM pairs
    ORDER BY typo, candidate
"""


@query(
    "q426_phonetic_blocking_linkage",
    oracle=_Q426_ORACLE,
    tags=("dedup", "linkage", "phonetic", "soundex", "blocking"),
)
def q426_phonetic_blocking_linkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phonetic (Soundex) blocking for typo-variant linkage — the
    record-linkage family's third blocking scheme beside q412's
    literal prefix blocks and q62's MinHash bands: candidates share a
    SOUND class, so vowel-level corruptions that break prefix/shingle
    blocking land in the same bucket for free. The drill follows
    q332's deterministic-corruption precedent: every vocabulary word
    (len ≥ 3) with a non-initial vowel gets one synthetic typo — that
    vowel rotated a→e→i→o→u→a — which PROVABLY preserves the Soundex
    code (non-initial vowels only reset coding runs; their identity
    never reaches the code), so phonetic blocking must recover every
    typo's source, verified by ``is_source`` and pinned complete in
    tests. Within a block, exact Levenshtein ≤ 1 confirms candidates.

    Two independent Soundex implementations face off in the
    differential (the q420 discipline): Spark's builtin ``soundex()``
    vs a from-scratch DuckDB character fold (``_SDX_SQL`` — the
    H/W-transparency variant; cross-validated word-for-word on the
    canonical Ashcraft/Tymczak/Pfister test set and the full fixture
    vocabulary before registration).

    Determinism: the typo injection is pure string arithmetic at a
    computed position; Soundex is a deterministic fold; block keys
    are exact 4-char strings; Levenshtein on ASCII is exact integer.
    No hashing, no floats.

    Scale posture: vocabulary-grain throughout — one distinct-word
    aggregate from the corpus explode, then joins on the 4-char code
    whose blocks are capped by the code space (6859 × 26 codes);
    at 100 TB the vocabulary table is the same bounded frame the BPE
    (q239) and typo-correction (q332) operators already maintain.
    Reference contract: per-word encoding = map slot
    (``App.config:16``); block join = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    vocab = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("w")
        )
        .distinct()
        .where(F.length("w") >= 3)
    )

    def vowel_pos(w: Column) -> Column:
        rest = F.substring(w, 2, 1_000_000)
        cands = [
            F.when(F.instr(rest, v) > 0, F.instr(rest, v) + 1).otherwise(99)
            for v in "aeiou"
        ]
        return F.least(*cands)

    pos = vocab.select("w", vowel_pos(F.col("w")).alias("p"))
    typos = pos.where(F.col("p") < 99).select(
        F.col("w").alias("src"),
        F.concat(
            F.expr("substring(w, 1, p - 1)"),
            F.translate(F.expr("substring(w, p, 1)"), "aeiou", "eioua"),
            F.expr("substring(w, p + 1)"),
        ).alias("typo"),
    )
    o = vocab.select("w", F.soundex("w").alias("code"))
    t = typos.select("src", "typo", F.soundex("typo").alias("code"))
    return (
        t.join(o, "code")
        .where(
            (F.levenshtein("typo", "w") <= 1) & (F.col("typo") != F.col("w"))
        )
        .select(
            "typo",
            F.col("w").alias("candidate"),
            "code",
            F.levenshtein("typo", "w").cast("long").alias("dist"),
            (F.col("src") == F.col("w")).alias("is_source"),
        )
        .orderBy("typo", "candidate")
    )


# --- q434: star-contraction connected components ------------------------


def star_contraction_components(
    edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Connected components by ALTERNATING large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — the O(log² n)-round algorithm
    :func:`connected_components`'s docstring names as the 100 TB swap,
    now implemented: label propagation needs diameter rounds (22 on
    q429's percolated sf0.1 cluster), star contraction collapses the
    same graphs in a handful.

    Round structure (validated against union-find on 300 random
    graphs before this landed):

    - **large-star**: over the symmetrized neighborhood of each node
      ``u`` with minimum ``m = min(N(u) ∪ {u})``, re-point every
      strictly LARGER neighbor at ``m`` — emit ``(v, m)`` for
      ``v ∈ N(u), v > u``.
    - **small-star**: orient each edge to ``(hi, lo)``; per ``hi``
      with ``m = min(N_small(hi))``, emit ``(x, m)`` for every
      ``x ∈ N_small(hi) ∪ {hi}, x ≠ m``.

    At the fixpoint the edge set IS the component map: one
    ``(node, component_min)`` edge per non-root node. Returns
    ``(node, label)`` with roots self-labeled — the exact contract of
    :func:`connected_components` (equivalence property-tested).

    Each round is two joins + two min-aggregations over a SHRINKING
    edge set, ``localCheckpoint``-ed (the q103 lineage rule);
    convergence = edge multiset stable (count + union-distinct count,
    exact — no checksum heuristics).
    """
    E = (
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_cnt = E.count()
    # Scale-adaptive loop partitioning — same derivation and rationale
    # as connected_components: each round shuffles a SHRINKING edge set
    # several times, so size the rounds' shuffles from the measured
    # initial edge count instead of the session's corpus-grain constant
    # (restored after the loop; every round's frame is checkpointed, so
    # nothing lazy escapes). min/distinct are partitioning-independent.
    from azure_batch_map_reduce_spark.session import scoped_shuffle_partitions

    spark = edges.sparkSession
    loop_parts = _loop_shuffle_partitions(spark, prev_cnt, E.schema)
    with scoped_shuffle_partitions(spark, loop_parts):
        for _ in range(max_iter):
            sym = E.unionAll(
                E.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            m1 = sym.groupBy("a").agg(
                F.least(F.min("b"), F.first("a")).alias("m")
            )
            e1 = (
                sym.join(m1, "a")
                .where(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .where(F.col("a") != F.col("b"))
                .distinct()
            )
            nbr2 = e1.select(
                F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
            ).where(F.col("hi") != F.col("lo")).distinct()
            m2 = nbr2.groupBy("hi").agg(F.min("lo").alias("m"))
            e2 = (
                nbr2.join(m2, "hi")
                .where(F.col("lo") != F.col("m"))
                .select(F.col("lo").alias("a"), F.col("m").alias("b"))
                .unionAll(
                    m2.select(F.col("hi").alias("a"), F.col("m").alias("b"))
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
            cur_cnt = e2.count()
            if cur_cnt == prev_cnt:
                both = E.unionAll(e2).distinct().count()
                if both == cur_cnt:
                    E = e2
                    break
            prev_cnt = cur_cnt
            E = e2
        else:
            raise RuntimeError(
                f"star contraction did not converge in {max_iter} rounds"
            )
    nodes = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    ).distinct()
    return nodes.join(
        E.select(F.col("a").alias("node"), F.col("b").alias("label")),
        "node",
        "left",
    ).select("node", F.coalesce("label", "node").alias("label"))


@query(
    "q434_star_contraction_components",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT u AS node, u AS label FROM edges
        UNION
        SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node, CAST(min(label) AS BIGINT) AS cluster_rep
    FROM reach GROUP BY node ORDER BY node
    """,
    tags=("dedup", "clustering", "graph", "scale", "star-contraction"),
)
def q434_star_contraction_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate components via STAR CONTRACTION — the same
    transitive closure as q66 computed by the round-bounded algorithm
    instead of diameter-bounded label propagation, and released at
    NODE grain (doc → cluster representative, the join-ready shape
    q415/q421 consume) where q66 rolls up to cluster sizes. Putting
    the O(log² n) algorithm itself on the oracle-verified path is the
    point: every prior round's scale story cited it as the documented
    swap; now a differential proves the implementation collapses the
    real near-dup graph to the identical labeling (and the
    equivalence property test pins it against
    :func:`connected_components` on arbitrary graphs).

    Determinism: pure integer min/comparisons; the fixpoint is unique
    regardless of round count.

    Scale posture: each round is two joins + two min-aggregations on
    a shrinking edge list — no neighborhoods ever materialize beyond
    degree-grain aggregates, and round count is O(log² n) on
    pathological chains (vs diameter for label propagation — 22
    rounds on q429's sf0.1 cluster, a handful here). Convergence is
    detected by exact edge-set stability, not a checksum. Reference
    contract: per-node star re-pointing = map slot
    (``App.config:16``); the min gathers = reduce slot
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = _spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    edges = neardup_pairs(docs).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels = star_contraction_components(edges)
    return labels.select(
        "node", F.col("label").cast("long").alias("cluster_rep")
    ).orderBy("node")


# --- q445: exact-substring duplicate coverage (cross-doc) ----------------

_ESD_K = 40  # window length in chars (probed: ~9% coverage, stable)


@query(
    "q445_exact_substring_dup_coverage",
    oracle=f"""
    WITH g AS MATERIALIZED (
        SELECT doc_id, source,
               ('0x' || substr(md5(substr(text, CAST(i AS INTEGER),
                                          {_ESD_K})), 1, 15))::BIGINT AS gh
        FROM (
            SELECT doc_id, source, text,
                   unnest(generate_series(1, length(text) - {_ESD_K} + 1))
                       AS i
            FROM documents WHERE length(text) >= {_ESD_K}
        )
    ),
    d AS MATERIALIZED (
        SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    tot AS (
        SELECT source, count(*) AS n_pos, count(DISTINCT doc_id) AS n_docs
        FROM g GROUP BY source
    ),
    dup AS (
        SELECT source, count(*) AS n_dup_pos,
               count(DISTINCT gh) AS n_dup_grams
        FROM g JOIN d USING (gh) GROUP BY source
    )
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.n_pos AS BIGINT) AS n_positions,
           CAST(coalesce(u.n_dup_pos, 0) AS BIGINT) AS n_dup_positions,
           CAST(coalesce(u.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           ((2 * coalesce(u.n_dup_pos, 0) * 1000000 + t.n_pos)
            // (2 * t.n_pos)) / 1000000.0 AS dup_coverage
    FROM tot t LEFT JOIN dup u USING (source)
    ORDER BY source
    """,
    tags=("dedup", "exact-substring", "contamination", "text"),
)
def q445_exact_substring_dup_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring duplicate coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") — the
    EXACT cross-document member of the dedup family: MinHash/SimHash/
    shingle members (q62/q63/q260) estimate whole-document similarity,
    q400 measures WITHIN-doc repetition; the exact-substring method
    instead finds every {_ESD_K}-char window that appears verbatim in
    ≥ 2 distinct documents — the spans that method would cut — and
    releases per-source coverage: how much of each source's text sits
    under cross-document exact duplication (probed ≈ 9% at k = 40,
    stable across SFs; k = 20 inflates to 33% at sf0.1 from
    token-soup coincidences, which is why k is 40).

    The suffix-array formulation of the paper is replaced by the
    shuffle-native equivalent: fixed-k windows by position (one
    corpus map), grouped on a 60-bit md5 window HASH — both engines
    hash the same strings to the same 60-bit keys, so the derived
    tables are identical even in the (2⁻⁶⁰-scale) collision case,
    and the shuffle carries 8-byte keys instead of {_ESD_K}-char
    strings (the 100 TB width win).

    Determinism: md5-prefix integers, exact counts, half-up coverage
    ratio; left-join zero-fill for sources with no duplicated window
    (not reachable at fixture SFs but the correct identity).

    Scale posture: one corpus map (windows fused into the scan), ONE
    gram-keyed partial+final aggregate (the method's inherent
    shuffle — the suffix-array alternative sorts the corpus, the same
    O(n log n) movement), one equi-join of windows against the
    duplicated-key set on the narrow hash key, then a bounded
    source-grain rollup. No windows, no cartesians. Reference
    contract: window hashing = map slot (``App.config:16``);
    duplicate detection + coverage rollup = reduce slots
    (``App.config:17``, ``Program.cs:351-384``)."""
    docs = load_tables(spark, sf_dir)["documents"]
    g = (
        docs.where(F.length("text") >= _ESD_K)
        .select(
            "doc_id",
            "source",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - _ESD_K + 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            "source",
            hex_int(F.md5(F.expr(f"substring(text, i, {_ESD_K})")), 1, 15)
            .alias("gh"),
        )
        .persist()
    )
    d = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    tot = g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    dup = (
        g.join(d, "gh")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_dup_pos"),
            F.countDistinct("gh").alias("n_dup_grams"),
        )
    )
    return (
        tot.join(dup, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_pos").cast("long").alias("n_positions"),
            F.coalesce(F.col("n_dup_pos"), F.lit(0))
            .cast("long")
            .alias("n_dup_positions"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0))
            .cast("long")
            .alias("n_dup_grams"),
            half_up_ratio(
                F.coalesce(F.col("n_dup_pos"), F.lit(0)),
                F.col("n_pos"),
                6,
            ).alias("dup_coverage"),
        )
        .orderBy("source")
    )
