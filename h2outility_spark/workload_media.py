"""Multimodal family: frame-sampling and audio-chunking plans, and queries
over SYNTHESIZED binary assets — the container ships no image/audio
corpora, so each query builds deterministic BMP / JPEG / 16-bit-PCM-WAV
payloads from the ``documents`` id space with pure arithmetic pixel/sample
functions, pushes them through the REAL stdlib codecs (``codecs.decode_bmp``
/ ``codecs.wav_window_features`` inside the ``operators.multimodal``
mapInPandas operators), and checks the decoded result against a DuckDB
oracle that recomputes the expected values from the same arithmetic — so a
driver row here certifies the whole binary path: encode → Arrow batch →
decode → feature → JVM-side aggregation.

Reference parity note: the reference's I/O surface is ODM/CSV/REST; this
module is part of the LLM-data-pipeline extension surface (SURVEY.md §6),
not a §2 row.

Scale notes: the fixtures are built per-row inside ``mapInPandas`` (no
driver-side loop, no collect); everything downstream of the codec is the
operators' normal banded-join / window machinery, already plan-audited.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from h2outility_spark.operators import multimodal
from h2outility_spark.workload import _t, query


# ---------------------------------------------------------------------------
# Multimodal (binary-asset plumbing; Catalyst-only plan stage)
# ---------------------------------------------------------------------------

@query(
    "frame_sample",
    oracle="""
    SELECT asset_id, CAST(frame_index AS INT) AS frame_index
    FROM (SELECT doc_id AS asset_id,
                 unnest(generate_series(0, greatest((n_chars % 300 + 30) - 1, 0), 30)) AS frame_index
          FROM documents)
    """,
    description=(
        "Video frame-sampling plan: every-30th frame index per asset from declared "
        "n_frames metadata (sequence + explode, pure Catalyst) — the decode stage later "
        "touches only these (asset, frame) pairs"
    ),
)
def q_frame_sample(spark, sf_dir):
    from h2outility_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit(None).cast("binary").alias("data"),
        F.lit("video/mp4").alias("mime"),
        F.create_map(
            F.lit("n_frames"), ((F.col("n_chars") % 300) + 30).cast("string")
        ).alias("meta"),
    )
    return multimodal.frame_sample_plan(assets)


@query(
    "audio_chunks",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(unnest(generate_series(0, greatest((n_chars * 40 + 1000) - 1, 0), 2000)) AS BIGINT)
             AS chunk_start_ms
    FROM documents
    """,
    description=(
        "Audio chunking plan: 2 s stride offsets covering each asset's declared "
        "duration_ms metadata (documents stand in as assets; duration derived "
        "deterministically from n_chars) — sequence + explode, pure Catalyst; the "
        "decode stage later touches only planned (asset, offset) pairs"
    ),
)
def q_audio_chunks(spark, sf_dir):
    from h2outility_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.create_map(
            F.lit("duration_ms"),
            ((F.col("n_chars") * 40 + 1000).cast("long")).cast("string"),
        ).alias("meta"),
    )
    return multimodal.audio_chunk_plan(assets)


# ---------------------------------------------------------------------------
# Image fixtures: 9x8 gray BMPs (exactly the dHash grid, so the
# nearest-neighbor resample is the identity and every hash bit is the pure
# integer comparison the oracle mirrors)
# ---------------------------------------------------------------------------


def _gray_plain(aid: int, x: int, y: int) -> int:
    return (aid * 31 + x * 7 + y * 13) % 251


def _gray_grouped(aid: int, x: int, y: int) -> int:
    g = ((aid % 12) * 19 + x * 7 + y * 13) % 251
    if x == 0 and y == 0 and (aid // 12) % 2 == 1:
        g = (g + 100) % 251  # single-pixel perturbation: flips <=1 hash bit
    return g


def _bmp_assets(ids_df, gray_fn, mixed_formats: bool = False):
    """(asset_id) -> (asset_id, data) with a real image payload whose
    pixel (x, y) is the gray level ``gray_fn(asset_id, x, y)`` (R=G=B, so
    luma == g/255 and luma comparisons == integer comparisons).
    ``mixed_formats=True`` alternates the CONTAINER per asset (even ids
    BMP, odd ids PNG) while keeping the pixels identical — downstream
    hashes must not change, which is exactly the format-independence
    claim dhash64 makes."""

    def batches(it):
        from h2outility_spark.codecs import encode_bmp, encode_png

        for pdf in it:
            payloads = []
            for aid in pdf["asset_id"]:
                a = int(aid)
                rows = [[(gray_fn(a, x, y),) * 3 for x in range(9)] for y in range(8)]
                enc = encode_png if (mixed_formats and a % 2 == 1) else encode_bmp
                payloads.append(enc(rows))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "data": payloads})

    return ids_df.mapInPandas(batches, "asset_id long, data binary")


#: The arithmetic twin of codecs.dhash64 on a 9x8 gray image: bit (gy, gx)
#: is g(gx) < g(gx+1), assembled MSB-first, then viewed as signed 64-bit
#: (bit 0 of the MSB-first stream carries weight -2^63).
def _dhash_sql(ids_cte: str, gray_sql: str) -> str:
    return f"""
    WITH ids AS ({ids_cte}),
    bits AS (
      SELECT i.asset_id, g.gy, x.gx,
             CASE WHEN ({gray_sql.replace('GX', 'x.gx')})
                     < ({gray_sql.replace('GX', '(x.gx + 1)')}) THEN 1 ELSE 0 END AS b
      FROM ids i, generate_series(0, 7) g(gy), generate_series(0, 7) x(gx)
    ),
    hashes AS (
      SELECT asset_id,
             CAST(sum(CASE WHEN b = 1 AND gy = 0 AND gx = 0 THEN -9223372036854775807 - 1
                           WHEN b = 1 THEN (CAST(1 AS BIGINT) << (63 - (gy * 8 + gx)))
                           ELSE 0 END) AS BIGINT) AS dhash
      FROM bits GROUP BY asset_id
    )
    """


_PLAIN_GRAY_SQL = "(i.asset_id * 31 + GX * 7 + gy * 13) % 251"


# Grouped fixture: base pattern from asset_id % 12; odd (asset_id // 12)
# assets get +100 (mod 251) on pixel (0, 0), which only the (gy=0, gx=0)
# comparison sees.
_GROUPED_GRAY_SQL = (
    "(((i.asset_id % 12) * 19 + GX * 7 + gy * 13) % 251"
    " + CASE WHEN GX = 0 AND gy = 0 AND (i.asset_id // 12) % 2 = 1 THEN 100 ELSE 0 END) % 251"
)


@query(
    "image_dhash",
    oracle=_dhash_sql(
        "SELECT doc_id AS asset_id FROM documents WHERE doc_id < 192", _PLAIN_GRAY_SQL
    )
    + "SELECT asset_id, dhash FROM hashes",
    description=(
        "64-bit perceptual difference hash per image through the REAL codec "
        "path, MIXED CONTAINERS (even ids BMP, odd ids PNG, identical pixels; "
        "9x8 gray fixtures): the single arithmetic oracle proves both decoders "
        "AND dhash64's format-independence claim in one hash"
    ),
)
def q_image_dhash(spark, sf_dir):
    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 192)
    )
    return multimodal.image_dhash(_bmp_assets(ids, _gray_plain, mixed_formats=True))


@query(
    "image_neardup",
    oracle=_dhash_sql(
        "SELECT doc_id AS asset_id FROM documents WHERE doc_id < 96", _GROUPED_GRAY_SQL
    )
    + """
    SELECT a.asset_id AS id_a, b.asset_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
    FROM hashes a JOIN hashes b ON a.asset_id < b.asset_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """,
    description=(
        "Perceptual near-duplicate image pairs at Hamming <= 3 (pigeonhole-exact "
        "regime for the 4x16-bit banding): grouped fixtures share a base pattern "
        "per asset_id % 12 with a one-pixel perturbation; the brute-force oracle "
        "proves the banded join loses nothing"
    ),
)
def q_image_neardup(spark, sf_dir):
    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 96)
    )
    return multimodal.image_neardup_pairs(_bmp_assets(ids, _gray_grouped))


# ---------------------------------------------------------------------------
# Audio fixtures: 1 kHz 16-bit PCM WAVs with per-window constant (active)
# or alternating-sign (quiet) samples, so RMS and ZCR are exact closed
# forms the oracle can state
# ---------------------------------------------------------------------------

_SR = 1000  # 1 kHz -> 100-sample windows at window_ms=100
_QUIET = 1000  # rms 1000/32768 ~ 0.0305, below the 0.05 VAD threshold


def _wav_assets(spark, sf_dir):
    """(asset_id, data) real PCM WAVs: asset ``a`` has ``8 + a % 9``
    100 ms windows; window ``w`` is ACTIVE (constant amplitude
    ``3277 + (a % 7) * 1000``, ZCR 0) iff ``(a + w) % 7 < 4``, else quiet
    (alternating ±1000 -> RMS ~0.0305, ZCR exactly 1)."""
    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 150)
    )

    def batches(it):
        import struct

        for pdf in it:
            payloads = []
            for aid in pdf["asset_id"]:
                a = int(aid)
                amp = 3277 + (a % 7) * 1000
                samples: list[int] = []
                for w in range(8 + a % 9):
                    if (a + w) % 7 < 4:
                        samples.extend([amp] * 100)
                    else:
                        samples.extend(_QUIET if i % 2 == 0 else -_QUIET for i in range(100))
                data = struct.pack(f"<{len(samples)}h", *samples)
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVE"
                    + b"fmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, _SR, _SR * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                payloads.append(hdr + data)
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "data": payloads})

    return ids.mapInPandas(batches, "asset_id long, data binary")


_WAV_IDS_CTE = """
    a AS (SELECT doc_id AS asset_id, 8 + doc_id % 9 AS n_w,
                 CAST(3277 + (doc_id % 7) * 1000 AS DOUBLE) AS amp
          FROM documents WHERE doc_id < 150),
    w AS (SELECT asset_id, amp, unnest(generate_series(0, n_w - 1)) AS widx FROM a)
"""


@query(
    "audio_window_features",
    oracle="WITH "
    + _WAV_IDS_CTE
    + """
    SELECT asset_id,
           CAST(widx AS INT) AS window_idx,
           CAST(widx * 100 AS INT) AS start_ms,
           round(CASE WHEN (asset_id + widx) % 7 < 4 THEN amp ELSE 1000.0 END / 32768, 6) AS rms,
           CAST(CASE WHEN (asset_id + widx) % 7 < 4 THEN 0.0 ELSE 1.0 END AS DOUBLE) AS zcr
    FROM w
    """,
    description=(
        "Windowed RMS + zero-crossing rate per 100 ms window through the REAL "
        "PCM-WAV decode path (synthesized fixtures with closed-form features); "
        "the front-end for VAD / silence trimming / speech-quality gates"
    ),
)
def q_audio_window_features(spark, sf_dir):
    return multimodal.extract_audio_frames(_wav_assets(spark, sf_dir))


@query(
    "audio_vad_segments",
    oracle="WITH "
    + _WAV_IDS_CTE
    + """,
    act AS (SELECT * FROM w WHERE (asset_id + widx) % 7 < 4),
    runs AS (SELECT asset_id, amp, widx,
                    widx - row_number() OVER (PARTITION BY asset_id ORDER BY widx) AS seg
             FROM act)
    SELECT asset_id,
           CAST(min(widx) * 100 AS INT) AS start_ms,
           CAST(max(widx) * 100 + 100 AS INT) AS end_ms,
           CAST(count(*) AS INT) AS n_windows,
           round(amp / 32768, 6) AS mean_rms
    FROM runs GROUP BY asset_id, seg, amp
    """,
    description=(
        "Energy-based voice-activity segments: windows above the 0.05 RMS "
        "threshold merged into maximal runs (gaps-and-islands), through the real "
        "WAV decode; the speech/silence splitter before transcription/chunking"
    ),
)
def q_audio_vad_segments(spark, sf_dir):
    return multimodal.audio_activity_segments(_wav_assets(spark, sf_dir))


# ---------------------------------------------------------------------------
# JPEG path: flat-color fixtures whose gray levels are chosen so baseline
# JPEG quantization is EXACT (8*(v-128) divisible by the scaled DC quantum),
# making the lossy codec's output SQL-stateable
# ---------------------------------------------------------------------------


@query(
    "image_features_jpeg",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(16 + (doc_id % 3) * 8 AS INT) AS width,
           CAST(8 + (doc_id % 5) * 8 AS INT) AS height,
           round(CAST(128 + 5 * ((doc_id % 20) - 10) AS DOUBLE) / 255, 6) AS mean_luma
    FROM documents WHERE doc_id < 160
    """,
    description=(
        "Image feature extraction through the REAL baseline-JPEG encode->decode "
        "path (flat fixtures at quantization-exact gray levels, multi-MCU sizes); "
        "a green row certifies marker parse, Huffman entropy decode, IDCT and "
        "color conversion end to end"
    ),
)
def q_image_features_jpeg(spark, sf_dir):
    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 160)
    )

    def batches(it):
        from h2outility_spark.codecs import encode_jpeg

        for pdf in it:
            payloads = []
            for aid in pdf["asset_id"]:
                a = int(aid)
                v = 128 + 5 * ((a % 20) - 10)
                w, h = 16 + (a % 3) * 8, 8 + (a % 5) * 8
                payloads.append(encode_jpeg([[(v, v, v)] * w for _ in range(h)]))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "data": payloads})

    assets = ids.mapInPandas(batches, "asset_id long, data binary")
    feats = multimodal.extract_image_features(assets)
    return feats.select("asset_id", "width", "height", "mean_luma")


# -- image resize through the real codec -------------------------------------

#: 24x16 gray BMPs resized to max_side 16 -> 16x10 (nearest neighbor,
#: integer source-index arithmetic mirrored exactly in SQL). The mean
#: luma of the RESIZED image is the mean of the sampled source pixels —
#: g(id, x, y) = (id*29 + x*5 + y*11) % 241, R=G=B so luma = g/255.
_RESIZE_W, _RESIZE_H, _RESIZE_SIDE = 24, 16, 16  # -> out 16x10

RESIZE_FEATURES_ORACLE = """
WITH ids AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id < 128),
-- nearest-neighbor source indices for the 16x10 output: src = min(in-1, out_idx*in//out)
px AS (
  SELECT i.asset_id, r.r AS oy, c.c AS ox,
         (i.asset_id * 29 + least(23, c.c * 24 // 16) * 5 + least(15, r.r * 16 // 10) * 11) % 241 AS g
  FROM ids i, generate_series(0, 9) r(r), generate_series(0, 15) c(c)
)
SELECT asset_id,
       CAST(16 AS INT) AS width,
       CAST(10 AS INT) AS height,
       round(sum(CAST(g AS DOUBLE) / 255) / 160, 6) AS mean_luma
FROM px GROUP BY asset_id
"""


@query(
    "image_resize_features",
    oracle=RESIZE_FEATURES_ORACLE,
    description=(
        "Full image-resize round trip through the stdlib codec (decode -> "
        "nearest-neighbor downsample -> encode -> decode) vs pure index "
        "arithmetic"
    ),
)
def q_image_resize_features(spark, sf_dir):
    """Resize real BMPs through the stdlib nearest-neighbor codec, then
    decode the RESIZED payloads and hash-check their dims + mean luma —
    certifies the full resize round trip (decode -> downsample -> encode
    -> decode) against pure index arithmetic."""
    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 128)
    )

    def batches(it):
        from h2outility_spark.codecs import encode_bmp

        for pdf in it:
            payloads = []
            for aid in pdf["asset_id"]:
                a = int(aid)
                rows = [
                    [((a * 29 + x * 5 + y * 11) % 241,) * 3 for x in range(_RESIZE_W)]
                    for y in range(_RESIZE_H)
                ]
                payloads.append(encode_bmp(rows))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "data": payloads})

    assets = ids.mapInPandas(batches, "asset_id long, data binary")
    resized = multimodal.resize_images(assets, max_side=_RESIZE_SIDE)
    feats = multimodal.extract_image_features(resized)
    return feats.select("asset_id", "width", "height", "mean_luma")
