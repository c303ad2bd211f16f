"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata (extension surface; the reference is
numeric-timeseries only).

Design:
  * A multimodal asset is ``struct<data: binary, mime: string, meta:
    map<string,string>>`` — or a flat (data, mime) pair of columns. Bytes
    stay opaque to the engine; Catalyst never interprets them.
  * Decode / feature-extract / resize / frame-sample run as Arrow-batched
    ``mapInPandas`` operators: one Python worker per partition, whole
    column batches across the Arrow boundary, never row-at-a-time.
  * Image decode and resize take an injected codec (``decode_fn``,
    ``resize_fn``); the defaults are real pure-Python decoders for
    the formats stdlib can handle (uncompressed 24-bit BMP, non-interlaced
    8-bit PNG, GIF first frame, baseline JPEG, 16-bit PCM WAV —
    ``h2outility_spark.codecs``, sniffed by magic bytes). Formats that
    need ffmpeg-class libraries (WebP/MP4/MP3), absent in this container,
    raise NotImplementedError at the decode site with the magic bytes
    named; swap in a real decoder on a cluster with the libs installed.

Scale notes: binary payloads dominate partition size — size partitions by
bytes (``spark.sql.files.maxPartitionBytes``), never by row count; keep
payloads out of shuffles (extract features first, shuffle the small
feature vectors, join back by id if needed).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from h2outility_spark.operators.dedup import _bucket_pairs

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("sha1", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
    ]
)


def extract_image_features(
    assets: DataFrame,
    decode_fn: Callable[[bytes], tuple[int, int, float]] | None = None,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``decode_fn=None`` sniffs the format and uses the built-in pure-Python
    codecs (uncompressed 24-bit BMP; non-interlaced 8-bit PNG via stdlib
    zlib; GIF; baseline JPEG — codecs.sniff_image_decoder); payloads in
    formats that need an external codec library raise NotImplementedError
    at the decode site.
    """
    if decode_fn is None:
        from h2outility_spark.codecs import sniff_image_decoder

        def decode_fn(b: bytes) -> tuple[int, int, float]:  # noqa: ANN001
            try:
                return sniff_image_decoder(b)
            except ValueError as e:
                if "unsupported image format" in str(e):
                    raise NotImplementedError(
                        f"no built-in decoder for payload starting {b[:4]!r}: BMP, "
                        "8-bit PNG, GIF and baseline JPEG decode stdlib-only; WebP/"
                        "video need ffmpeg-class libs (absent here) — inject decode_fn"
                    ) from e
                raise

    fn = decode_fn

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            data = pdf["data"]
            # NULL/empty payload -> null features (schema is nullable for
            # exactly this); a missing asset must not abort the job. An
            # UNDECODABLE payload still raises: silently nulling real bytes
            # would hide corruption.
            decoded = [(None, None, None) if not b else fn(b) for b in data]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": [len(b) if b is not None else 0 for b in data],
                    "sha1": [hashlib.sha1(b or b"").hexdigest() for b in data],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "mean_luma": [d[2] for d in decoded],
                }
            )

    return assets.select(F.col("asset_id"), F.col("data")).mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


def frame_sample_plan(assets: DataFrame) -> DataFrame:
    """Video frame-sampling *plan*: emits (asset_id, frame_index) rows, every
    30th frame, for a downstream decoder, derived from declared frame counts in metadata.
    Pure Catalyst (sequence + explode) — the expensive decode happens later,
    against only the sampled indices."""
    n_frames = F.coalesce(F.element_at(F.col("meta"), "n_frames").cast("int"), F.lit(0))
    return assets.select(
        F.col("asset_id"),
        F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(30))).alias("frame_index"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(
    assets: DataFrame,
    max_side: int = 256,
    resize_fn: Callable[[bytes, int], tuple[bytes, int, int]] | None = None,
) -> DataFrame:
    """Arrow-batched image resize (bounding-box to ``max_side``): the
    standard normalization pass before vision-model training.

    Same codec contract as ``extract_image_features``: ``resize_fn=None``
    sniffs BMP/PNG and resizes with the matching built-in (staying in the
    input format); other formats raise at the codec site. The output keeps
    payloads in the SELECT path only — downstream writers partition by
    bytes; nothing here shuffles the binary column.
    """
    if resize_fn is None:
        from h2outility_spark.codecs import sniff_image_resizer

        def resize_fn(b: bytes, side_: int) -> tuple[bytes, int, int]:  # noqa: ANN001
            try:
                return sniff_image_resizer(b, side_)
            except ValueError as e:
                if "unsupported image format" in str(e):
                    raise NotImplementedError(
                        f"no built-in resizer for payload starting {b[:4]!r}: BMP, "
                        "8-bit PNG, GIF and baseline JPEG resize stdlib-only; inject "
                        "resize_fn for other formats"
                    ) from e
                raise

    fn, side = resize_fn, max_side

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL/empty payload passes through as null output row parts
            resized = [
                (None, None, None) if not b else fn(b, side) for b in pdf["data"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "data": [r[0] for r in resized],
                    "width": [r[1] for r in resized],
                    "height": [r[2] for r in resized],
                }
            )

    return assets.select(F.col("asset_id"), F.col("data")).mapInPandas(batches, RESIZED_SCHEMA)


def audio_chunk_plan(assets: DataFrame) -> DataFrame:
    """Audio chunking *plan*: (asset_id, chunk_start_ms) rows covering the
    declared ``duration_ms`` metadata in 2-second strides — like
    ``frame_sample_plan``, pure Catalyst (sequence + explode); the decoder
    later touches only the planned chunks."""
    dur = F.coalesce(F.element_at(F.col("meta"), "duration_ms").cast("long"), F.lit(0))
    return assets.select(
        F.col("asset_id"),
        F.explode(
            F.sequence(F.lit(0), F.greatest(dur - 1, F.lit(0)), F.lit(2_000))
        ).alias("chunk_start_ms"),
    )


AUDIO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("window_idx", T.IntegerType(), True),
        T.StructField("start_ms", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zcr", T.DoubleType(), True),
    ]
)


_AUDIO_WINDOW_MS = 100


def extract_audio_frames(assets: DataFrame) -> DataFrame:
    """Windowed audio features — one output row per (asset, 100 ms window) with
    RMS level and zero-crossing rate: the front-end for VAD, silence
    trimming, and speech-quality gating in audio-corpus pipelines.
    The codec is the stdlib 16-bit PCM WAV path
    (codecs.wav_window_features); NULL/empty payloads produce no windows
    rather than aborting the batch. The explode happens inside
    ``mapInPandas``, so the binary column never enters a shuffle — output
    is already the narrow numeric frame."""
    from h2outility_spark.codecs import wav_window_features

    def fn(b: bytes, ms: int) -> list:  # noqa: ANN001
        if b[:4] == b"RIFF":
            return wav_window_features(b, ms)
        raise NotImplementedError(
            f"no built-in decoder for payload starting {b[:4]!r}: only PCM WAV decodes stdlib-only"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, widx, starts, rms, zcr = [], [], [], [], []
            for aid, b in zip(pdf["asset_id"], pdf["data"]):
                if not b:
                    continue
                for w, s, r, z in fn(b, _AUDIO_WINDOW_MS):
                    ids.append(aid)
                    widx.append(w)
                    starts.append(s)
                    rms.append(r)
                    zcr.append(z)
            yield pd.DataFrame(
                {"asset_id": ids, "window_idx": widx, "start_ms": starts, "rms": rms, "zcr": zcr}
            )

    return assets.select(F.col("asset_id"), F.col("data")).mapInPandas(batches, AUDIO_FRAMES_SCHEMA)


def audio_activity_segments(assets: DataFrame) -> DataFrame:
    """Energy-based voice-activity segmentation: 100 ms windows at or above
    RMS 0.05 are merged into maximal runs (gaps-and-islands on
    ``window_idx`` — the same gap grouping as the QC islands operator,
    W3) and emitted as (asset_id, segment, start_ms, end_ms, n_windows,
    mean_rms). The speech/silence splitter an audio-corpus pipeline runs
    before transcription or chunking.

    All segmentation happens JVM-side on the narrow frame
    ``extract_audio_frames`` produced — one window shuffle keyed by
    asset, no Python past the codec."""
    from pyspark.sql import Window as W

    frames = extract_audio_frames(assets)
    active = frames.filter(F.col("rms") >= 0.05)
    w = W.partitionBy("asset_id").orderBy("window_idx")
    runs = active.withColumn(
        "segment", F.col("window_idx") - F.row_number().over(w)
    )
    return (
        runs.groupBy("asset_id", "segment")
        .agg(
            F.min("start_ms").alias("start_ms"),
            (F.max("start_ms") + F.lit(_AUDIO_WINDOW_MS)).alias("end_ms"),
            F.count(F.lit(1)).cast("int").alias("n_windows"),
            F.round(F.avg("rms"), 6).alias("mean_rms"),
        )
        .drop("segment")
    )


def image_dhash(assets: DataFrame) -> DataFrame:
    """Perceptual fingerprint per image: (asset_id, dhash) with the 64-bit
    difference hash (codecs.dhash64; BMP/PNG/GIF/JPEG built-in). NULL payloads
    yield NULL hashes. The binary column stays inside mapInPandas; only
    the 8-byte hash continues into the pipeline. ``asset_id`` keeps its
    INPUT type (string asset keys are as common as numeric ones — think
    URL or content-hash ids), only ``dhash`` is pinned to long."""
    from h2outility_spark.codecs import dhash64

    id_ddl = assets.schema["asset_id"].dataType.simpleString()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    # signed-64 view keeps the LongType column exact
                    "dhash": [
                        None if not b else (dhash64(b) ^ 0x8000000000000000) - 0x8000000000000000
                        for b in pdf["data"]
                    ],
                }
            )

    return assets.select(F.col("asset_id"), F.col("data")).mapInPandas(
        batches, f"`asset_id` {id_ddl}, dhash long"
    )


def image_neardup_pairs(assets: DataFrame) -> DataFrame:
    """Near-duplicate image pairs (Hamming distance <= 3) by perceptual
    hash: band each 64-bit dHash into four 16-bit keys. Pigeonhole
    guarantee: at Hamming distance <= 3 the differing bits occupy at most
    3 bands, so at least one band matches exactly and the pair is ALWAYS a
    candidate. Candidates come from the band-bucket self-join the MinHash
    and SimHash paths share (``dedup._bucket_pairs``), never all pairs;
    the exact Hamming distance is then verified JVM-side with
    ``bit_count(xor)``."""
    banded = image_dhash(assets).filter(F.col("dhash").isNotNull()).select(
        F.col("asset_id").alias("id"),
        F.col("dhash").alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("dhash"), s).bitwiseAND(F.lit(0xFFFF))
                    for s in (0, 16, 32, 48)
                ]
            )
        ).alias("band", "band_key"),
    )
    return _bucket_pairs(banded).select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= 3)
