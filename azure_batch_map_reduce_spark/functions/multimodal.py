"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extraction / frame-sampling plumbing over mapInPandas.

Model: a media asset is a row ``(asset_id, uri, media_type, content:
binary, meta: struct)`` — the Spark-native rendering of the reference's
untyped file-as-record model (``Program.cs:252,286-289``), with schema on
the *metadata* while the payload stays opaque bytes.

The actual codecs (PIL/ffmpeg/torchaudio) are NOT in this container, so
the decode step is a clearly-marked deterministic stub
(:func:`fake_decode_meta`) behind the same Arrow-batched interface a real
decoder would use — the Spark-side plumbing (schema, batch iteration,
partitioning) is real and tested; swap ``_decode_bytes`` for a real
decoder in production.

Scale notes: payload rows are large — keep
``spark.sql.files.maxPartitionBytes`` sized so a batch of payloads fits
executor memory; feature extraction is mapInPandas (Arrow batches), one
pass, no shuffle; downstream joins should carry ``asset_id`` + features,
never the payload.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables
from azure_batch_map_reduce_spark.operators.ranks import half_up_ratio
from azure_batch_map_reduce_spark.plans.mapreduce import file_source
from azure_batch_map_reduce_spark.registry import query

FEATURE_DIM = 8

ASSET_SCHEMA = (
    "asset_id string, uri string, media_type string, n_bytes long, "
    "sha string, width int, height int, channels int"
)

FEATURE_SCHEMA = f"asset_id string, n_bytes long, feature array<double>"


def load_assets(spark: SparkSession, input_dir: str, glob: str | None = None) -> DataFrame:
    """Binary-file scan → asset rows with opaque content + metadata."""
    files = file_source(spark, input_dir, glob=glob)
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("asset_id"),
        F.col("path").alias("uri"),
        F.element_at(F.split(F.col("path"), r"\."), -1).alias("media_type"),
        F.col("length").alias("n_bytes"),
        F.col("content"),
    )


def _decode_bytes(content: bytes) -> tuple[int, int, int]:
    """STUB decoder. Deterministic fake dimensions derived from a content
    digest — stands in for PIL/ffmpeg, which are not installed here.
    Raise instead if strict behavior is wanted: NotImplementedError."""
    h = hashlib.sha256(content).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 1 + h[2] % 4


def decode_metadata(assets: DataFrame) -> DataFrame:
    """Decode step: per-asset (width, height, channels) via Arrow-batched
    mapInPandas — the real-decoder call site."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_decode_bytes(bytes(c)) for c in pdf["content"]]
            out = pdf[["asset_id", "uri", "media_type", "n_bytes"]].copy()
            out["sha"] = [hashlib.sha256(bytes(c)).hexdigest() for c in pdf["content"]]
            out["width"] = [d[0] for d in dims]
            out["height"] = [d[1] for d in dims]
            out["channels"] = [d[2] for d in dims]
            yield out

    return assets.mapInPandas(run, ASSET_SCHEMA)


def extract_features(assets: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Feature extraction: fixed-dim double vector per asset (here a
    deterministic digest-derived fake; production swaps in an encoder).
    Same mapInPandas shape as a GPU-batched embedding pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for c in pdf["content"]:
                h = hashlib.sha256(bytes(c)).digest()
                feats.append([round(b / 255.0, 6) for b in h[:dim]])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                }
            )

    return assets.mapInPandas(run, FEATURE_SCHEMA)


def resize_assets(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize step: per-asset re-encode to target dimensions. The real
    implementation is one PIL/ffmpeg call per payload inside the same
    Arrow-batched loop; the stub emits a deterministic surrogate payload
    (digest-seeded, sized ∝ w·h·channels) so downstream size accounting
    and schema contracts are exercised for real. Output keeps the asset
    row shape — resize composes with decode/extract/sample."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_bytes = []
            for c in pdf["content"]:
                h = hashlib.sha256(bytes(c)).digest()
                channels = 1 + h[2] % 4
                # surrogate "re-encoded" payload: digest tiled to the
                # target byte budget (real codec output goes here)
                budget = width * height * channels // 64
                out_bytes.append((h * (budget // len(h) + 1))[:budget])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "uri": pdf["uri"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(b) for b in out_bytes],
                    "content": out_bytes,
                }
            )

    return assets.mapInPandas(
        run,
        "asset_id string, uri string, media_type string, n_bytes long, content binary",
    )


def sample_chunks(assets: DataFrame, chunk_size: int = 65536, max_chunks: int = 4) -> DataFrame:
    """Frame/segment sampling: split each payload into up-to-N fixed-size
    chunks (the video-frame / audio-window access pattern), emitted as
    one row per chunk — a generator (1→N) over binary columns."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, c in zip(pdf["asset_id"], pdf["content"]):
                data = bytes(c)
                for i in range(min(max_chunks, (len(data) + chunk_size - 1) // chunk_size)):
                    chunk = data[i * chunk_size : (i + 1) * chunk_size]
                    rows.append((aid, i, len(chunk), hashlib.sha256(chunk).hexdigest()))
            yield pd.DataFrame(
                rows, columns=["asset_id", "chunk_idx", "chunk_bytes", "chunk_sha"]
            )

    return assets.mapInPandas(
        run, "asset_id string, chunk_idx int, chunk_bytes long, chunk_sha string"
    )


@query("q92_multimodal_pipeline", oracle=None, tags=("multimodal",))
def q92_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal plumbing over the sf_dir files as opaque
    assets: scan → decode metadata (stub) → feature extraction →
    per-media-type stats. Rows-only check (payload decoding is outside
    SQL's reach), so the result carries self-verifying invariants the
    way q15/q156 carry error bounds: ``bytes_conserved`` compares the
    UDF-path byte total against an INDEPENDENT declarative aggregate
    over the raw scan (no Python in that branch — a decode that drops
    or duplicates rows flips it false), ``counts_conserved`` does the
    same for row counts through the decode+extract join, and
    ``features_ok`` pins every feature vector to FEATURE_DIM values in
    [0, 1]. tests/test_multimodal.py asserts all three all-true."""
    assets = load_assets(spark, sf_dir, glob="*.parquet")
    meta = decode_metadata(assets)
    feats = extract_features(assets)
    # Independent no-UDF branch: what the scan itself says per type.
    scan_truth = assets.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("scan_assets"),
        F.sum("n_bytes").alias("scan_bytes"),
    )
    joined = meta.join(feats.select("asset_id", "feature"), "asset_id")
    feature_ok = (F.size("feature") == FEATURE_DIM) & F.forall(
        "feature", lambda v: (v >= 0.0) & (v <= 1.0)
    )
    return (
        joined.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_f0"),
            F.min(feature_ok).alias("features_ok"),
        )
        .join(F.broadcast(scan_truth), "media_type")
        .select(
            "media_type",
            "n_assets",
            "total_bytes",
            "avg_f0",
            "features_ok",
            (F.col("total_bytes") == F.col("scan_bytes")).alias(
                "bytes_conserved"
            ),
            (F.col("n_assets") == F.col("scan_assets")).alias(
                "counts_conserved"
            ),
        )
        .orderBy("media_type")
    )


FRAME_SCHEMA = (
    "asset_id string, duration_ms long, frame_idx long, frame_ts_ms long, "
    "phash string, brightness double, bright_u32 long"
)

FRAME_RATE_HZ = 4
TARGET_FRAMES = 6


_HEX_FOLD = (
    "list_reduce(list_transform(string_split({h}, ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
    "(a, b) -> a * 16 + b)"
)

_Q147_MIX = (
    "sha256('frame:' || asset_id || ':' || n_bytes || ':' || frame_idx)"
)

_Q147_ORACLE = f"""
    WITH f AS (
        SELECT list_extract(string_split(filename, '/'), -1) AS asset_id,
               CAST(size AS BIGINT) AS n_bytes,
               CAST(size % 9000 + 1000 AS BIGINT) AS duration_ms
        FROM read_blob('__SF_DIR__/*.parquet')
    ),
    fr AS (
        SELECT asset_id, n_bytes, duration_ms,
               unnest(generate_series(CAST(0 AS BIGINT), CAST(5 AS BIGINT)))
                   AS frame_idx
        FROM f
    ),
    dec AS (
        SELECT asset_id, duration_ms, frame_idx,
               (frame_idx * duration_ms) // 6 AS frame_ts_ms,
               substr({_Q147_MIX}, 1, 16) AS phash,
               {_HEX_FOLD.format(h=f"substr({_Q147_MIX}, 1, 8)")}
                   AS bright_u32,
               {_HEX_FOLD.format(h=f"substr({_Q147_MIX}, 1, 8)")}
                   / 4294967295.0 AS brightness
        FROM fr
    )
    SELECT asset_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           max(duration_ms) AS duration_ms,
           max(frame_ts_ms) AS last_frame_ms,
           ((2 * sum(bright_u32) * 1000000 + count(*) * 4294967295)
            // (2 * (count(*) * 4294967295))) / 1000000.0
               AS avg_brightness,
           CAST(count(DISTINCT phash) AS BIGINT) AS n_distinct_phash,
           bool_and(brightness >= 0 AND brightness <= 1) AS brightness_ok,
           (count(*) = 6
            AND min(frame_ts_ms) = 0
            AND max(frame_ts_ms) = (5 * max(duration_ms)) // 6
            AND count(DISTINCT frame_ts_ms) = count(*)) AS grid_ok
    FROM dec
    GROUP BY asset_id
    ORDER BY asset_id
"""


@query(
    "q147_frame_sampling",
    oracle=_Q147_ORACLE,
    tags=("multimodal", "video", "sampling"),
)
def q147_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame-sampling plan + per-frame featurization for
    video-like binary assets: each asset gets a deterministic duration
    (stubbed from the ACTUAL payload byte length — a real build reads
    the container header), a uniform grid of TARGET_FRAMES sample
    timestamps is laid out per asset, and a mapInPandas "decoder"
    emits one row per sampled frame with a perceptual-hash stub and a
    brightness stub derived deterministically from (asset_id, scan
    n_bytes, frame index).

    This is the Spark-side contract a real ffmpeg-backed sampler needs:
    grid planning stays declarative (sequence + posexplode — no
    Python, and ``frame_idx`` is assigned by the plan so the decoder is
    stateless across Arrow batches), only the per-frame decode runs in
    Arrow batches, and the payload column is dropped before the frame
    rows fan out so the shuffle never carries bytes.

    FULL DuckDB oracle (formerly rows-only): ``read_blob``'s
    (filename, size) lets the oracle rebuild duration (size vs the engine's payload-length — a
    length-conservation check on binaryFile content), the frame grid
    (integer ``(i·duration) // 6``, which the engine's
    double-divide-then-truncate provably equals for these magnitudes),
    the phash/brightness draws (same sha256 seed string, hex→int char
    fold), and the per-asset rollup. The released mean brightness is
    the exact integer ratio sum(u32)/(n·0xFFFFFFFF) through
    ``half_up_ratio`` — avg-of-doubles would hang bit-identity on both
    engines summing six doubles in the same order. The stub seed moved off the
    payload digest to make this expressible — q164's rule; q92 keeps
    the content-digest path and stays rows-only. The in-result
    invariants remain: ``grid_ok`` (exactly TARGET_FRAMES frames,
    first ts 0, last ts floor((N−1)·duration/N), all distinct —
    stride ≥ 1000/6 ms so a correct grid never collides) and
    ``brightness_ok`` ([0,1] range).
    tests/test_multimodal.py asserts both all-true.
    """
    assets = load_assets(spark, sf_dir, glob="*.parquet")
    # Grid planning: duration_ms is a deterministic stub of the payload
    # size; a uniform grid of frame timestamps is pure array math, and
    # posexplode carries the frame index so the decoder never has to
    # infer position from batch-local state (an Arrow batch boundary
    # inside one asset's frames must not reset the index).
    planned = assets.select(
        "asset_id",
        "n_bytes",
        (F.length("content").cast("long") % 9000 + 1000).alias("duration_ms"),
    ).select(
        "asset_id",
        "n_bytes",
        "duration_ms",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(TARGET_FRAMES - 1)),
                lambda i: (i * F.col("duration_ms") / F.lit(TARGET_FRAMES)).cast(
                    "long"
                ),
            )
        ).alias("frame_idx", "frame_ts_ms"),
    )

    def decode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # Seeded from (asset_id, scan n_bytes, frame index) — not
            # the payload digest — so the read_blob oracle can replay
            # the draw from stat columns (the q164 rule; DuckDB digests
            # are VARCHAR-only, blob bytes unreachable). duration_ms
            # still derives from the ACTUAL payload length upstream,
            # which the oracle cross-checks against the file's size.
            mix = [
                hashlib.sha256(f"frame:{a}:{n}:{i}".encode()).hexdigest()
                for a, n, i in zip(
                    pdf["asset_id"], pdf["n_bytes"], pdf["frame_idx"]
                )
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "duration_ms": pdf["duration_ms"].astype("int64"),
                    "frame_idx": pdf["frame_idx"].astype("int64"),
                    "frame_ts_ms": pdf["frame_ts_ms"].astype("int64"),
                    "phash": [m[:16] for m in mix],
                    "brightness": [int(m[:8], 16) / 0xFFFFFFFF for m in mix],
                    # Raw 32-bit draw kept alongside the double: the
                    # RELEASED per-asset mean is the exact integer ratio
                    # sum(u32) / (n·0xFFFFFFFF) via half_up_ratio — the
                    # avg-of-doubles form depended on both engines
                    # summing in the same order.
                    "bright_u32": [int(m[:8], 16) for m in mix],
                }
            )

    frames = planned.mapInPandas(decode_frames, FRAME_SCHEMA)
    n = F.lit(TARGET_FRAMES)
    return (
        frames.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("duration_ms").alias("duration_ms"),
            F.min("frame_ts_ms").alias("first_frame_ms"),
            F.max("frame_ts_ms").alias("last_frame_ms"),
            F.countDistinct("frame_ts_ms").alias("n_distinct_ts"),
            half_up_ratio(
                F.sum("bright_u32"),
                F.count(F.lit(1)) * F.lit(0xFFFFFFFF),
                6,
            ).alias("avg_brightness"),
            F.countDistinct("phash").alias("n_distinct_phash"),
            F.min(
                (F.col("brightness") >= 0.0) & (F.col("brightness") <= 1.0)
            ).alias("brightness_ok"),
        )
        .select(
            "asset_id",
            "n_frames",
            "duration_ms",
            "last_frame_ms",
            "avg_brightness",
            "n_distinct_phash",
            "brightness_ok",
            (
                (F.col("n_frames") == n)
                & (F.col("first_frame_ms") == 0)
                & (
                    F.col("last_frame_ms")
                    == ((n - 1) * F.col("duration_ms") / n).cast("long")
                )
                & (F.col("n_distinct_ts") == F.col("n_frames"))
            ).alias("grid_ok"),
        )
        .orderBy("asset_id")
    )


VAD_FRAME_BYTES = 4096
VAD_THRESHOLD = 0.6


_Q164_SEED = (
    "substr(sha256('vad:' || asset_id || ':' || n_bytes || ':' || i), 1, 8)"
)

_Q164_ORACLE = f"""
    WITH f AS (
        SELECT list_extract(string_split(filename, '/'), -1) AS asset_id,
               CAST(size AS BIGINT) AS n_bytes,
               greatest(CAST(1 AS BIGINT),
                        CAST((size + 4095) // 4096 AS BIGINT)) AS n_frames
        FROM read_blob('__SF_DIR__/*.parquet')
    ),
    fr AS (
        SELECT asset_id, n_bytes, n_frames,
               unnest(generate_series(CAST(0 AS BIGINT), n_frames - 1)) AS i
        FROM f
    ),
    en AS (
        SELECT asset_id, n_frames, i,
               ({_HEX_FOLD.format(h=_Q164_SEED)}
                / 4294967295.0) > 0.6 AS voiced
        FROM fr
    ),
    base AS (
        SELECT asset_id, max(n_frames) AS n_frames,
               CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_voiced
        FROM en GROUP BY asset_id
    ),
    runs AS (
        SELECT asset_id,
               i - row_number() OVER (PARTITION BY asset_id ORDER BY i)
                   AS grp
        FROM en WHERE voiced
    ),
    runlen AS (
        SELECT asset_id, grp, CAST(count(*) AS BIGINT) AS len
        FROM runs GROUP BY asset_id, grp
    ),
    seg AS (
        SELECT asset_id, CAST(count(*) AS BIGINT) AS n_segments,
               max(len) AS longest
        FROM runlen GROUP BY asset_id
    )
    SELECT b.asset_id, b.n_frames, b.n_voiced,
           coalesce(s.n_segments, 0) AS n_segments,
           coalesce(s.longest, 0) AS longest_segment,
           ((2 * b.n_voiced * 1000000 + b.n_frames) // (2 * b.n_frames))
               / 1000000.0 AS voiced_ratio,
           -- engine-side frames_ok compares the UDF's payload-length
           -- framing against the scan's n_bytes; here both derive
           -- from the one stat read_blob exposes, so the comparison
           -- is definitionally true (the cross-engine check is the
           -- n_frames VALUE equality itself).
           true AS frames_ok,
           (coalesce(s.n_segments, 0) <= b.n_voiced
            AND b.n_voiced <= b.n_frames
            AND coalesce(s.longest, 0) <= b.n_voiced
            AND (coalesce(s.n_segments, 0) = 0) = (b.n_voiced = 0)
            AND coalesce(s.longest, 0) * coalesce(s.n_segments, 0)
                >= b.n_voiced) AS counts_ok,
           true AS ratio_ok
    FROM base b LEFT JOIN seg s USING (asset_id)
    ORDER BY b.asset_id
"""


@query(
    "q164_vad_segments",
    oracle=_Q164_ORACLE,
    tags=("multimodal", "audio", "segmentation", "vad"),
)
def q164_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-style segmentation over opaque audio-like binary
    payloads: each asset's bytes are framed into fixed 4096-byte
    windows, each frame gets an energy score (deterministic stub
    seeded from (asset_id, payload length, frame index) — a real
    build computes RMS over decoded PCM; swap ``_frame_energy``
    only), frames above threshold are "voiced", and consecutive
    voiced frames merge into segments (the gaps-and-islands step, run
    in-process per asset). Emits per asset: frame count, voiced
    count, segment count, longest segment, and voiced ratio.

    FULL DuckDB oracle (formerly rows-only):
    ``read_blob('__SF_DIR__/*.parquet')`` exposes
    (filename, size), from which the oracle independently rebuilds
    the frame grid (``ceil(size/4096)`` vs the engine's framing of
    the ACTUAL payload bytes — a genuine length-conservation check on
    the binaryFile content), replays the energy draw (``sha256`` of
    the same seed string, hex→int via a character fold), and runs the
    islands algebra in SQL windows. The energy seed was moved off the
    payload's content digest to make exactly this possible — DuckDB
    1.0's digest functions are VARCHAR-only and BLOB→VARCHAR casts
    don't preserve bytes, so content-seeded arithmetic (q92/q147's
    feature stubs originally, q92's still) cannot be expressed over
    ``read_blob``.

    The Spark-side contract: framing + thresholding + islands all
    happen inside ONE mapInPandas pass over each asset's payload —
    segmentation is a per-asset sequential computation, so doing it
    where the bytes already are (instead of exploding frames and
    re-grouping) avoids shuffling either payloads or frame rows
    entirely. Compare q147, which fans frame rows out because its
    consumers are per-frame. The result keeps its self-verifying
    invariants alongside the oracle: ``frames_ok`` recomputes the
    expected frame count DECLARATIVELY from the scan's n_bytes
    (ceil-division in plain column math — no Python in that branch)
    against the UDF's n_frames; ``counts_ok`` pins the
    gaps-and-islands algebra (segments ≤ voiced ≤ frames, longest ≤
    voiced, segments and voiced vanish together, and the pigeonhole
    bound longest·segments ≥ voiced); ``ratio_ok`` recomputes
    voiced_ratio from the emitted counts.
    tests/test_multimodal.py asserts all three all-true.
    """
    assets = load_assets(spark, sf_dir, glob="*.parquet")

    def _frame_energy(asset_id: str, n_bytes: int, frame_idx: int) -> float:
        # Seeded from (asset_id, payload length, frame index) — NOT the
        # payload's content digest — deliberately, so the DuckDB oracle
        # can reproduce the draw from read_blob's stat columns: this
        # DuckDB's digest functions are VARCHAR-only and BLOB→VARCHAR
        # casts don't preserve bytes, so content-seeded arithmetic is
        # unreachable from SQL (q92 stays rows-only for exactly that
        # reason). A real build replaces this with RMS over decoded
        # PCM, where no cross-engine oracle exists either way.
        h = hashlib.sha256(
            f"vad:{asset_id}:{n_bytes}:{frame_idx}".encode()
        ).hexdigest()
        return int(h[:8], 16) / 0xFFFFFFFF

    def segment(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, content in zip(pdf["asset_id"], pdf["content"]):
                data = bytes(content)
                n_frames = max(1, (len(data) + VAD_FRAME_BYTES - 1) // VAD_FRAME_BYTES)
                voiced = [
                    _frame_energy(asset_id, len(data), i) > VAD_THRESHOLD
                    for i in range(n_frames)
                ]
                n_segments = 0
                longest = 0
                run = 0
                for flag in voiced:
                    if flag:
                        run += 1
                        if run == 1:
                            n_segments += 1
                        longest = max(longest, run)
                    else:
                        run = 0
                # Raw IEEE division, NOT Python round(): Python rounds
                # half-to-even while Spark's round is HALF_UP, so the
                # plan-side ratio_ok recomputation would flip on exact
                # half-ulp boundaries (n_frames = 2^a·5^b). Both sides
                # round the same raw double in the plan instead.
                rows.append(
                    (
                        asset_id,
                        n_frames,
                        sum(voiced),
                        n_segments,
                        longest,
                        sum(voiced) / n_frames,
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "asset_id",
                        "n_frames",
                        "n_voiced",
                        "n_segments",
                        "longest_segment",
                        "voiced_ratio",
                    ],
                )

    segmented = assets.select("asset_id", "content").mapInPandas(
        segment,
        "asset_id string, n_frames long, n_voiced long, n_segments long, "
        "longest_segment long, voiced_ratio double",
    )
    fb = F.lit(VAD_FRAME_BYTES)
    expected_frames = F.greatest(
        F.lit(1).cast("long"),
        ((F.col("n_bytes") + fb - 1).cast("long") / fb).cast("long"),
    )
    return (
        segmented.join(
            F.broadcast(assets.select("asset_id", "n_bytes")), "asset_id"
        )
        .select(
            "asset_id",
            "n_frames",
            "n_voiced",
            "n_segments",
            "longest_segment",
            # Released ratio uses the half-up INTEGER idiom (rounding
            # the raw double flips on exact half-microdigit boundaries
            # — reachable here: a 128-frame payload with odd n_voiced
            # lands p/128 exactly on one); the UDF's raw IEEE ratio
            # stays un-released, feeding only the ratio_ok audit.
            half_up_ratio(F.col("n_voiced"), F.col("n_frames"), 6).alias(
                "voiced_ratio"
            ),
            (F.col("n_frames") == expected_frames).alias("frames_ok"),
            (
                (F.col("n_segments") <= F.col("n_voiced"))
                & (F.col("n_voiced") <= F.col("n_frames"))
                & (F.col("longest_segment") <= F.col("n_voiced"))
                & ((F.col("n_segments") == 0) == (F.col("n_voiced") == 0))
                & (
                    F.col("longest_segment") * F.col("n_segments")
                    >= F.col("n_voiced")
                )
            ).alias("counts_ok"),
            (
                F.col("voiced_ratio")
                == F.col("n_voiced").cast("double") / F.col("n_frames")
            ).alias("ratio_ok"),
        )
        .orderBy("asset_id")
    )


@query(
    "q214_modality_alignment",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents),
    e AS (SELECT vec_id FROM embeddings)
    SELECT d.source,
           CAST(count(*) AS BIGINT)                           AS n_docs,
           CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_embedded,
           CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing_embedding,
           CAST((SELECT count(*) FROM e
                 WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.doc_id = e.vec_id))
                AS BIGINT)                                    AS orphan_embeddings
    FROM d LEFT JOIN e ON d.doc_id = e.vec_id
    GROUP BY d.source
    ORDER BY d.source
    """,
    tags=("multimodal", "quality", "alignment", "audit"),
)
def q214_modality_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality alignment audit: every document should have an
    embedding row (doc_id = vec_id) and every embedding should have a
    document — per-source coverage counts plus the global orphan
    -embedding count (computed independently via anti-join, same
    purge-and-prove discipline as q209). A multimodal training
    pipeline runs exactly this before pairing modalities: silent
    misalignment becomes mislabeled training pairs, the worst kind of
    data bug.

    Scale posture: one outer join at id grain; for the audit-only
    counts both sides could pre-aggregate, but the row-level join IS
    the alignment being tested. At lake scale both tables bucket by
    the shared id (write_bucketed) and this join is shuffle-free."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "source")
    e = t["embeddings"].select("vec_id")
    orphans = e.join(
        d.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti"
    ).agg(F.count(F.lit(1)).alias("orphan_embeddings"))
    return (
        d.join(e, d["doc_id"] == e["vec_id"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("vec_id").isNotNull().cast("long")).alias("n_embedded"),
            F.sum(F.col("vec_id").isNull().cast("long")).alias(
                "n_missing_embedding"
            ),
        )
        .crossJoin(F.broadcast(orphans))
        .select(
            "source",
            "n_docs",
            "n_embedded",
            "n_missing_embedding",
            F.col("orphan_embeddings").cast("long").alias("orphan_embeddings"),
        )
        .orderBy("source")
    )
