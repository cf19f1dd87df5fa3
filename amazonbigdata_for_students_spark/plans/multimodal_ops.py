"""Multimodal-column queries (north star: image/audio/video as opaque
binary + typed metadata).

The container has no media codecs, so the *content* is deterministic fake
media (documents.text encoded to bytes) — but every Spark-side mechanism
under test is real: binary columns, typed metadata, per-row decode in
Arrow batches (the one helper functions.multimodal.map_rows, each query
keeping only its per-row body and output DDL), byte-budget partitioning,
UDTF-style frame expansion.
The DuckDB oracles recompute digests/lengths/frame grids straight from the
documents table, so the binary plumbing is hash-checked end to end.
"""

from __future__ import annotations

import io
import os
import wave

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import multimodal
from ..sources import readers
from .registry import query


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: content is the
    UTF-8 text bytes; kind/mime/width/height/duration are typed metadata
    derived from stable columns (never from randomness — distributed
    re-execution must agree)."""
    docs = readers.load_table(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.encode("text", "UTF-8").alias("content"),
        F.when(kind == "image", (F.col("n_chars") % 64 + 1).cast("int")).alias("width"),
        F.when(kind == "image", (F.col("n_chars") % 48 + 1).cast("int")).alias("height"),
        F.when(kind != "image", (F.col("n_chars") * 10).cast("int")).alias("duration_ms"),
    )


@query(
    "mm_feature_extract",
    oracle="""
    SELECT doc_id AS media_id,
           sha256(text) AS content_sha256,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
    tags=("U1", "F8"),
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode / feature-extract over binary media in Arrow batches through
    the one per-row helper map_rows (functions.multimodal.extract_features):
    the FakeDecoder stands in for the codec, and the digest + byte-length
    columns are recomputed by the oracle from the source text — so batch
    shape, binary round-trip, and UDF signature are all verified. The float
    feature vector is dropped from the checked result (cross-engine
    float-array hashing is not meaningful)."""
    media = multimodal.repartition_by_bytes(media_table(spark, sf_dir))
    feats = multimodal.extract_features(media, multimodal.FakeDecoder())
    return feats.select("media_id", "content_sha256", "n_bytes")


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           unnest(range(0, n_chars * 10 + 1, 1000)) AS frame_ms
    FROM documents
    WHERE doc_id % 3 = 2
    """,
    tags=("U4", "F7"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: UDTF-style expansion of each video
    row into its frame-timestamp grid (one row per second of media). The
    expansion is pure Spark (explode over sequence — no Python in the
    row-multiplying path); the real frame decode remains the Decoder's
    job."""
    media = media_table(spark, sf_dir)
    return multimodal.frame_sample_stub(media, every_ms=1000).select(
        "media_id", "frame_ms"
    )


@query(
    "mm_wav_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
           CAST(1 + (doc_id % 2) AS BIGINT) AS n_channels,
           CAST((n_chars * 1000) // (8000 + (doc_id % 4) * 4000) AS BIGINT)
             AS duration_ms
    FROM documents
    WHERE doc_id % 3 = 1
    """,
    tags=("U1", "F8"),
)
def mm_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode through the Decoder seam: synthesize a valid
    RIFF/WAV PCM file per audio doc (functions.multimodal.synth_wav —
    rate/channels/frames derived from stable doc columns, samples tiling
    the text bytes), then parse the BYTES back with the stdlib WavDecoder
    in Arrow batches through map_rows. The oracle recomputes
    rate/channels/duration from the same doc columns, so a header
    mis-write or mis-parse fails the hash — unlike the FakeDecoder
    queries, this one round-trips an actual codec."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 1
    )
    dec = multimodal.WavDecoder()

    def stats(doc_id, text, n_chars):
        yield (doc_id, *dec.decode_wav_stats(multimodal.doc_wav(doc_id, text, n_chars)))

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        stats,
        "media_id long, sample_rate long, n_channels long, duration_ms long",
    )


@query(
    "mm_size_stats",
    oracle="""
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
           ELSE 'video' END AS kind,
           count(*) AS n,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           max(octet_length(encode(text))) AS max_bytes
    FROM documents
    GROUP BY 1
    """,
    tags=("F8", "A3"),
)
def mm_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget accounting per media kind — the aggregate behind
    repartition_by_bytes' sizing decision, expressed declaratively so it
    runs JVM-side (length() on binary, no Python)."""
    media = media_table(spark, sf_dir)
    return media.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.max(F.length("content")).alias("max_bytes"),
    )


@query(
    "mm_resize_grid",
    oracle="""
    WITH img AS (
      SELECT doc_id, text, n_chars,
             n_chars % 64 + 1 AS w, n_chars % 48 + 1 AS h
      FROM documents WHERE doc_id % 3 = 0 AND n_chars > 0
    )
    SELECT doc_id AS media_id,
           CAST(16 AS BIGINT) AS out_w, CAST(12 AS BIGINT) AS out_h,
           CAST(list_sum(flatten(list_transform(range(0, 12), y ->
             list_transform(range(0, 16), x ->
               ord(substring(text,
                 CAST((((y * h) // 12) * w + ((x * w) // 16)) % n_chars AS INTEGER) + 1,
                 1)))))) AS BIGINT) AS px_checksum
    FROM img
    """,
    tags=("U1", "F7", "F4"),
)
def mm_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE plumbing — the missing quarter of the decode /
    feature-extract / resize / frame-sample family: nearest-neighbor
    downsample of each image's pixel buffer to a fixed 16x12 thumbnail
    in Arrow batches through map_rows (numpy gather per image — a real
    codec's decoded array plugs into the same seam). The pixel buffer is
    the deterministic fake media (content bytes tiled row-major into the
    metadata's w x h), source indices use pure integer math
    ((y*h)//12, (x*w)//16), and the oracle recomputes the sampled-pixel
    checksum straight from the text — so batch shape, byte round-trip,
    and the resize index mapping are all hash-verified."""
    media = media_table(spark, sf_dir).filter(
        (F.col("kind") == "image") & (F.length("content") > 0)
    )
    OW, OH = 16, 12

    def thumbnail(media_id, content, w, h):
        img = np.resize(np.frombuffer(content, dtype=np.uint8), (h, w))  # row-major modular tiling
        thumb = img[np.ix_((np.arange(OH) * h) // OH, (np.arange(OW) * w) // OW)]
        yield media_id, OW, OH, int(thumb.sum(dtype=np.int64))

    return multimodal.map_rows(
        media.select("media_id", "content", "width", "height"),
        thumbnail,
        "media_id long, out_w long, out_h long, px_checksum long",
    )


@query(
    "mm_binary_file_scan",
    oracle="""
    SELECT doc_id AS media_id,
           sha256(text) AS content_sha256,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    WHERE doc_id % 7 = 3
    """,
    tags=("S11", "F8", "U1"),
)
def mm_binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media ingestion through Spark's real `binaryFile` source — the
    production entry point for raw image/audio files: one opaque file per
    media object, read back as (path, modificationTime, length, content)
    with media_id recovered from the file path. The fixture (one .bin per
    documents row with doc_id % 7 = 3, bytes = UTF-8 text) is written by
    the executors through map_rows — no row ever passes through the driver,
    the same layout a distributed media-landing job produces on shared
    storage. The oracle recomputes digest + byte length from the source
    table, so path parsing, the source's length metadata, and the binary
    content round-trip are all hash-checked. At 100 TB this scan
    parallelizes per-file (maxPartitionBytes packing) and carries only
    (path, content) columns — the digest/feature pass never shuffles."""
    from .sources_ops import _fixture

    def build(d: str) -> None:
        files_dir = os.path.join(d, "files")
        os.makedirs(files_dir)
        docs = readers.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 3)

        def write_file(doc_id, text):
            with open(os.path.join(files_dir, f"{doc_id}.bin"), "wb") as f:
                f.write((text or "").encode("utf-8"))
            yield (1,)

        wrote = (
            multimodal.map_rows(docs.select("doc_id", "text"), write_file, "n long")
            .agg(F.sum("n"))
            .collect()[0][0]
        )
        if not wrote:
            raise RuntimeError(f"binary media fixture wrote 0 files under {files_dir}")

    d = _fixture(sf_dir, "binary_media", build, tables=("documents",))
    files_dir = os.path.join(d, "files")
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(files_dir)
        .select(
            F.regexp_extract("path", r"(\d+)\.bin$", 1).cast("long").alias("media_id"),
            F.sha2("content", 256).alias("content_sha256"),
            F.col("length").alias("n_bytes"),
        )
    )


@query(
    "mm_ppm_stats",
    oracle="""
    WITH img AS (
      SELECT doc_id, text, n_chars,
             CAST(n_chars % 64 + 1 AS BIGINT) AS w,
             CAST(n_chars % 48 + 1 AS BIGINT) AS h
      FROM documents WHERE doc_id % 3 = 0 AND n_chars > 0
    )
    SELECT doc_id AS media_id, w AS width, h AS height,
           CAST((3 * w * h // n_chars) * list_sum(list_transform(range(1, n_chars + 1),
                  i -> ord(substring(text, CAST(i AS INTEGER), 1))))
                + COALESCE(list_sum(list_transform(range(1, CAST(3 * w * h % n_chars AS INTEGER) + 1),
                  i -> ord(substring(text, CAST(i AS INTEGER), 1)))), 0)
                AS BIGINT) AS px_sum
    FROM img
    """,
    tags=("U1", "F8", "F4"),
)
def mm_ppm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the Decoder seam — the image counterpart
    of mm_wav_stats: synthesize a valid binary PPM (P6) per image doc
    (raster = text bytes tiled to w*h*3, dimensions from stable columns),
    then parse the BYTES back with the stdlib PpmDecoder in Arrow
    batches through map_rows: header tokenization, raster read, and an
    integer pixel-byte sum. The oracle recomputes width/height/sum
    straight from the doc columns (tiling = whole cycles of the text's
    byte sum + a prefix), so a mis-written header, a short raster, or an
    off-by-one in the parse all fail the hash."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("n_chars") > 0)
    )
    dec = multimodal.PpmDecoder()

    def stats(doc_id, text, n_chars):
        yield (doc_id, *dec.decode_ppm_stats(multimodal.doc_ppm(text, n_chars)))

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        stats,
        "media_id long, width long, height long, px_sum long",
    )


@query(
    "mm_wav_decimate",
    oracle="""
    SELECT doc_id AS media_id,
           CAST((8000 + (doc_id % 4) * 4000) // 2 AS BIGINT) AS out_rate,
           CAST((n_chars + 1) // 2 AS BIGINT) AS out_frames,
           CAST((((n_chars + 1) // 2) * 1000) // ((8000 + (doc_id % 4) * 4000) // 2) AS BIGINT)
             AS out_duration_ms,
           true AS roundtrip_ok
    FROM documents
    WHERE doc_id % 3 = 1
    """,
    tags=("U1", "U4"),
)
def mm_wav_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resampling through the REAL codec path: decode the synthesized
    PCM, decimate 2:1 (keep even frames — the integer-factor resample that
    needs no interpolation), re-encode at half rate with the stdlib writer,
    then decode the RE-ENCODED bytes and verify they reproduce the
    decimated samples exactly (roundtrip_ok). This is the media-transform
    shape (decode → array op → encode) every multimodal pipeline stage
    follows, in Arrow batches through map_rows; the oracle pins the output
    rate/frame/duration arithmetic, and the round-trip boolean is the
    codec-integrity audit the hash gate enforces."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 1
    )

    def decimate(doc_id, text, n_chars):
        wav = multimodal.doc_wav(doc_id, text, n_chars)
        with wave.open(io.BytesIO(wav), "rb") as r:
            rate, ch, frames = r.getframerate(), r.getnchannels(), r.getnframes()
            pcm = np.frombuffer(r.readframes(frames), dtype="<i2").reshape(frames, ch)
        dec = pcm[::2]  # keep even frames: 2:1 decimation
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(rate // 2)
            w.writeframes(dec.tobytes())
        with wave.open(io.BytesIO(buf.getvalue()), "rb") as r2:
            rate2, frames2 = r2.getframerate(), r2.getnframes()
            pcm2 = np.frombuffer(r2.readframes(frames2), dtype="<i2").reshape(frames2, ch)
        ok = bool(frames2 == dec.shape[0] and np.array_equal(pcm2, dec))
        yield doc_id, rate2, frames2, (frames2 * 1000) // rate2, ok

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        decimate,
        "media_id long, out_rate long, out_frames long, out_duration_ms long, roundtrip_ok boolean",
    )


_PATCH = 8  # ViT-style square patch edge, in pixels


@query(
    "mm_patchify_vit",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, text, n_chars,
             CAST(n_chars % 64 + 1 AS BIGINT) AS w,
             CAST(n_chars % 48 + 1 AS BIGINT) AS h
      FROM documents WHERE doc_id % 3 = 0 AND n_chars > 0
    ),
    grid AS (
      SELECT doc_id, text, n_chars, w, h, gy.py, gx.px
      FROM img,
           unnest(range(0, (h + {_PATCH - 1}) // {_PATCH})) AS gy(py),
           unnest(range(0, (w + {_PATCH - 1}) // {_PATCH})) AS gx(px)
    )
    SELECT doc_id AS media_id,
           CAST(py AS BIGINT) AS patch_row,
           CAST(px AS BIGINT) AS patch_col,
           CAST(least(h, (py + 1) * {_PATCH}) - py * {_PATCH} AS BIGINT)
             * CAST(least(w, (px + 1) * {_PATCH}) - px * {_PATCH} AS BIGINT) AS n_px,
           CAST(list_sum(flatten(list_transform(
                  range(CAST(py * {_PATCH} AS INTEGER), CAST(least(h, (py + 1) * {_PATCH}) AS INTEGER)),
                  y -> flatten(list_transform(
                    range(CAST(px * {_PATCH} AS INTEGER), CAST(least(w, (px + 1) * {_PATCH}) AS INTEGER)),
                    x -> list_transform(range(0, 3),
                      c -> ord(substring(text, CAST((3 * (y * w + x) + c) % n_chars AS INTEGER) + 1, 1)))))))) AS BIGINT)
             AS patch_sum
    FROM grid
    """,
    tags=("U1", "U4", "F4"),
)
def mm_patchify_vit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style image patchification — the preprocessing row-expansion a
    vision-transformer training pipeline runs: decode each image, split
    the raster into {PATCH}x{PATCH} patches (edge patches truncated, like
    torch.unfold with exact cover), emit one row per patch with its pixel
    count and integer byte sum (the stand-in for the patch embedding —
    the real projection slots into the same batch shape). Decoding goes
    through the REAL stdlib PPM codec's full-raster path
    (PpmDecoder.decode_ppm_raster) in Arrow batches through map_rows;
    per-patch sums are numpy slice reductions. The oracle recomputes
    every patch sum from the text-tiling definition of the synthetic
    raster, so a wrong stride, a mis-shaped reshape, or an edge-patch
    off-by-one all hash-mismatch. At 100 TB this is the canonical decode
    fan-out: rows multiply by the patch grid INSIDE the scan stage (no
    shuffle added), Arrow batch size bounds executor memory, and the
    byte-budget repartition upstream keeps partitions even."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("n_chars") > 0)
    )
    dec = multimodal.PpmDecoder()
    p = _PATCH

    def patches(doc_id, text, n_chars):
        pw, ph, raster = dec.decode_ppm_raster(multimodal.doc_ppm(text, n_chars))
        for py in range((ph + p - 1) // p):
            for px in range((pw + p - 1) // p):
                tile = raster[py * p : (py + 1) * p, px * p : (px + 1) * p, :]
                yield doc_id, py, px, tile.shape[0] * tile.shape[1], int(tile.sum(dtype=np.int64))

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        patches,
        "media_id long, patch_row long, patch_col long, n_px long, patch_sum long",
    )


@query(
    "mm_image_ahash",
    oracle="""
    WITH img AS (
      SELECT doc_id, text, n_chars,
             CAST(n_chars % 64 + 1 AS BIGINT) AS w,
             CAST(n_chars % 48 + 1 AS BIGINT) AS h
      FROM documents WHERE doc_id % 3 = 0 AND n_chars > 0
    ),
    -- per-pixel byte lookup: byte(k) = ord(text[(k % n_chars) + 1])
    blocks AS (
      SELECT doc_id, w, h, bi.i AS by, bj.j AS bx,
             (bi.i * h) // 8 AS y0, ((bi.i + 1) * h) // 8 AS y1,
             (bj.j * w) // 8 AS x0, ((bj.j + 1) * w) // 8 AS x1,
             text, n_chars
      FROM img,
           unnest(range(0, 8)) AS bi(i),
           unnest(range(0, 8)) AS bj(j)
    ),
    bsum AS (
      SELECT doc_id, by, bx,
             CAST((y1 - y0) * (x1 - x0) * 3 AS BIGINT) AS n_b,
             CAST(coalesce(list_sum(flatten(list_transform(
               range(CAST(y0 AS INTEGER), CAST(y1 AS INTEGER)), y ->
                 flatten(list_transform(range(CAST(x0 AS INTEGER), CAST(x1 AS INTEGER)), x ->
                   list_transform(range(0, 3), c ->
                     ord(substring(text, CAST((3 * (y * w + x) + c) % n_chars AS INTEGER) + 1, 1)))))))), 0) AS BIGINT) AS s_b
      FROM blocks
    ),
    tot AS (
      SELECT doc_id,
             CAST(sum(s_b) AS BIGINT) AS s_t,
             CAST(sum(n_b) AS BIGINT) AS n_t
      FROM bsum GROUP BY doc_id
    ),
    bits AS (
      SELECT b.doc_id, b.by, b.bx,
             CASE WHEN b.n_b > 0 AND b.s_b * t.n_t > t.s_t * b.n_b THEN 1 ELSE 0 END AS bit
      FROM bsum b JOIN tot t USING (doc_id)
    )
    SELECT doc_id AS media_id,
           string_agg(CAST(bit AS VARCHAR), '' ORDER BY by, bx) AS ahash_bits,
           CAST(sum(bit) AS BIGINT) AS n_bright
    FROM bits
    GROUP BY doc_id
    """,
    tags=("U1", "F8", "U6"),
)
def mm_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (average hash) — the image-dedup
    fingerprint a multimodal corpus build runs before training (near-dup
    posters/thumbnails collapse to identical aHashes; pairs then go
    through the SAME banded Hamming machinery as vec_binary_hamming_topk
    and the SimHash dedups). Standard aHash: partition the raster into
    an 8x8 block grid (variable block sizes via integer boundaries
    i*h DIV 8 — exact for any dimensions), bit = block brighter than the
    image mean. The mean comparison never touches floats: block_sum *
    total_n > total_sum * block_n cross-multiplies in int64, so the
    64-bit fingerprint is bit-identical across engines and the oracle
    hash-gates every bit (emitted as the bit string, row-major). Decode
    runs through the REAL stdlib PPM codec in Arrow batches through
    map_rows; per-block sums are numpy slice reductions. At 100 TB
    this is a map-only scan fan-out — 64 small rows per image inside the
    scan stage, then one per-image aggregate."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("n_chars") > 0)
    )
    dec = multimodal.PpmDecoder()

    def ahash(doc_id, text, n_chars):
        w, h, raster = dec.decode_ppm_raster(multimodal.doc_ppm(text, n_chars))
        r64 = raster.astype(np.int64)
        s_t = int(r64.sum())
        n_t = h * w * 3
        bits = []
        for by in range(8):
            y0, y1 = (by * h) // 8, ((by + 1) * h) // 8
            for bx in range(8):
                x0, x1 = (bx * w) // 8, ((bx + 1) * w) // 8
                blk = r64[y0:y1, x0:x1, :]
                n_b = blk.size
                s_b = int(blk.sum())
                bits.append("1" if n_b > 0 and s_b * n_t > s_t * n_b else "0")
        yield doc_id, "".join(bits), bits.count("1")

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        ahash,
        "media_id long, ahash_bits string, n_bright long",
    )


_FRAME_CHARS = 100  # chars per synthetic video frame
_SCENE_DELTA = 200  # |signature diff| that counts as a cut


@query(
    "mm_scene_change",
    oracle=f"""
    WITH vid AS (
      SELECT doc_id, text, n_chars FROM documents
      WHERE doc_id % 3 = 2 AND n_chars > 0
    ),
    frames AS (
      SELECT doc_id, f.k AS frame_idx,
             CAST(list_sum(list_transform(
               range(CAST(f.k * {_FRAME_CHARS} AS INTEGER),
                     CAST(least(n_chars, (f.k + 1) * {_FRAME_CHARS}) AS INTEGER)),
               i -> ord(substring(text, CAST(i AS INTEGER) + 1, 1)))) AS BIGINT) AS sig
      FROM vid,
           unnest(range(0, (n_chars + {_FRAME_CHARS - 1}) // {_FRAME_CHARS})) AS f(k)
    ),
    diffs AS (
      SELECT doc_id, frame_idx, sig,
             abs(sig - lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx)) AS d
      FROM frames
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(count(CASE WHEN d > {_SCENE_DELTA} THEN 1 END) AS BIGINT) AS n_cuts
    FROM diffs
    GROUP BY doc_id
    """,
    tags=("U4", "W2", "F4"),
)
def mm_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change (shot-boundary) detection over the video modality —
    the keyframe-selection step a video training pipeline runs before
    expensive per-frame encoding: frame the byte stream into fixed-size
    frames, one integer signature per frame (byte sum — the stand-in
    for a perceptual frame feature), and flag cuts where the
    frame-over-frame signature delta exceeds a threshold. The
    row-multiplying frame expansion happens JVM-side inside the scan
    stage (explode over sequence — no Python), the lag runs per-video
    (frames-per-doc-sized window partitions, never global), and every
    value is an exact int64 — frame grid, signatures, deltas, and cut
    counts all hash-match. At 100 TB this is the same scan-stage
    fan-out shape as mm_frame_sample, with state = one signature per
    stream."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 2) & (F.col("n_chars") > 0)
    )
    n_frames = F.expr(f"(n_chars + {_FRAME_CHARS - 1}) div {_FRAME_CHARS}")
    frames = docs.select(
        "doc_id",
        "text",
        "n_chars",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        F.aggregate(
            F.transform(
                F.sequence(
                    F.col("frame_idx") * _FRAME_CHARS,
                    F.least(
                        F.col("n_chars"), (F.col("frame_idx") + 1) * _FRAME_CHARS
                    )
                    - 1,
                ),
                lambda i: F.ascii(F.col("text").substr(i + 1, F.lit(1))),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sig"),
    )
    from pyspark.sql import Window as PW

    w = PW.partitionBy("doc_id").orderBy("frame_idx")
    diffs = frames.withColumn(
        "d", F.abs(F.col("sig") - F.lag("sig").over(w))
    )
    return diffs.groupBy(F.col("doc_id").alias("media_id")).agg(
        F.count("*").alias("n_frames"),
        F.count(F.when(F.col("d") > _SCENE_DELTA, 1)).alias("n_cuts"),
    )


# Fixed-point Goertzel constants: 2*cos(2*pi*k/64) in Q14. Computed once at
# import and baked into BOTH the executor closure and the oracle SQL text,
# so engine libm differences cannot appear — the recurrence itself is pure
# BIGINT with truncating division (verified identical in Spark and DuckDB).
import math as _math

_GZ_N = 64  # analysis window (frames)
_GZ_C_LOW = round(2 * _math.cos(2 * _math.pi * 4 / _GZ_N) * 16384)  # bin 4
_GZ_C_HIGH = round(2 * _math.cos(2 * _math.pi * 13 / _GZ_N) * 16384)  # bin 13


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero division — SQL div/// semantics, NOT Python //."""
    q = abs(a) // b
    return q if (a >= 0) == (b > 0) else -q


@query(
    "mm_goertzel_tone",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, text, n_chars FROM documents
      WHERE doc_id % 3 = 2 AND n_chars > 0
    ),
    s AS (
      SELECT doc_id, [ascii(c) for c in string_split(text, '')] AS b,
             CAST(least(n_chars, {_GZ_N}) AS BIGINT) AS n
      FROM d
    ),
    x AS (
      SELECT doc_id, n,
             [CAST(b[(2*(k-1)) % len(b) + 1]
                   + 256 * b[(2*(k-1)+1) % len(b) + 1] AS BIGINT)
              for k in generate_series(1, n)] AS xs
      FROM s
    ),
    st AS (
      SELECT doc_id, n, xs, CAST(1 AS BIGINT) AS t,
             xs[1] AS s1a, CAST(0 AS BIGINT) AS s2a,
             xs[1] AS s1b, CAST(0 AS BIGINT) AS s2b
      FROM x
      UNION ALL
      SELECT doc_id, n, xs, t + 1,
             xs[t+1] + ({_GZ_C_LOW} * s1a) // 16384 - s2a, s1a,
             xs[t+1] + ({_GZ_C_HIGH} * s1b) // 16384 - s2b, s1b
      FROM st WHERE t < n
    ),
    fin AS (SELECT * FROM st WHERE t = n)
    SELECT doc_id AS media_id, n AS n_samples,
           s1a*s1a + s2a*s2a - (({_GZ_C_LOW} * s1a) // 16384) * s2a AS p_low,
           s1b*s1b + s2b*s2b - (({_GZ_C_HIGH} * s1b) // 16384) * s2b AS p_high,
           CASE WHEN s1a*s1a + s2a*s2a - (({_GZ_C_LOW} * s1a) // 16384) * s2a
                  >= s1b*s1b + s2b*s2b - (({_GZ_C_HIGH} * s1b) // 16384) * s2b
                THEN 'low' ELSE 'high' END AS dominant_band
    FROM fin
    """,
    tags=("U1", "U4", "F4"),
)
def mm_goertzel_tone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral tone detection on the audio lane — fixed-point Goertzel
    (the DSP kernel behind DTMF/pilot-tone detectors) over the first 64
    PCM frames of each synthesized mono WAV, through the REAL stdlib
    codec: synth -> wave-decode -> integer recurrence
    s_t = x_t + (c*s_{{t-1}}) div 2^14 - s_{{t-2}} for two Q14-quantized
    bins, then band powers and the dominant band. Everything after the
    decode is BIGINT arithmetic with truncate-toward-zero division, so
    the result is bit-exact across engines and across re-execution — the
    determinism discipline any sampled-media fingerprint needs at scale.
    The oracle rebuilds the identical sample stream from the documents
    bytes (PCM tiles the UTF-8 text; printable-ASCII corpus, so
    char ascii == byte) and runs the same recurrence as a 64-step
    recursive CTE. Arrow batches through map_rows; per-doc cost is O(64) —
    scan-bound at any scale, no shuffle at all."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 2) & (F.col("n_chars") > 0)
    )
    c_low, c_high, N = _GZ_C_LOW, _GZ_C_HIGH, _GZ_N

    def tone(doc_id, text, n_chars):
        wav = multimodal.doc_wav(doc_id, text, n_chars, mono=True)
        with wave.open(io.BytesIO(wav), "rb") as r:
            pcm = np.frombuffer(r.readframes(r.getnframes()), dtype="<i2")
        xs = [int(v) for v in pcm[:N]]
        s1a = s2a = s1b = s2b = 0
        for i, v in enumerate(xs):
            if i == 0:
                s1a = s1b = v
                continue
            na = v + _tdiv(c_low * s1a, 16384) - s2a
            nb = v + _tdiv(c_high * s1b, 16384) - s2b
            s2a, s1a = s1a, na
            s2b, s1b = s1b, nb
        p_low = s1a * s1a + s2a * s2a - _tdiv(c_low * s1a, 16384) * s2a
        p_high = s1b * s1b + s2b * s2b - _tdiv(c_high * s1b, 16384) * s2b
        yield doc_id, len(xs), p_low, p_high, "low" if p_low >= p_high else "high"

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        tone,
        "media_id long, n_samples long, p_low long, p_high long, dominant_band string",
    )


@query(
    "mm_image_dhash",
    oracle="""
    WITH img AS (
      SELECT doc_id, text, n_chars,
             CAST(n_chars % 64 + 1 AS BIGINT) AS w,
             CAST(n_chars % 48 + 1 AS BIGINT) AS h
      FROM documents WHERE doc_id % 3 = 0 AND n_chars > 0
    ),
    cells AS (
      SELECT doc_id, w, h, bi.i AS cy, bj.j AS cx,
             (bi.i * h) // 8 AS y0, ((bi.i + 1) * h) // 8 AS y1,
             (bj.j * w) // 9 AS x0, ((bj.j + 1) * w) // 9 AS x1,
             text, n_chars
      FROM img,
           unnest(range(0, 8)) AS bi(i),
           unnest(range(0, 9)) AS bj(j)
    ),
    csum AS (
      SELECT doc_id, cy, cx,
             CAST((y1 - y0) * (x1 - x0) * 3 AS BIGINT) AS n_c,
             CAST(coalesce(list_sum(flatten(list_transform(
               range(CAST(y0 AS INTEGER), CAST(y1 AS INTEGER)), y ->
                 flatten(list_transform(range(CAST(x0 AS INTEGER), CAST(x1 AS INTEGER)), x ->
                   list_transform(range(0, 3), c ->
                     ord(substring(text, CAST((3 * (y * w + x) + c) % n_chars AS INTEGER) + 1, 1)))))))), 0) AS BIGINT) AS s_c
      FROM cells
    ),
    bits AS (
      SELECT l.doc_id, l.cy, l.cx,
             CASE WHEN l.n_c > 0 AND r.n_c > 0
                       AND l.s_c * r.n_c > r.s_c * l.n_c
                  THEN 1 ELSE 0 END AS bit
      FROM csum l JOIN csum r
        ON l.doc_id = r.doc_id AND l.cy = r.cy AND r.cx = l.cx + 1
      WHERE l.cx < 8
    )
    SELECT doc_id AS media_id,
           string_agg(CAST(bit AS VARCHAR), '' ORDER BY cy, cx) AS dhash_bits,
           CAST(sum(bit) AS BIGINT) AS n_set
    FROM bits
    GROUP BY doc_id
    """,
    tags=("U1", "F8", "U6"),
)
def mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference hash (dHash) — aHash's gradient sibling and the
    second standard perceptual fingerprint (robust to global
    brightness/contrast shifts that flip aHash bits, because each bit
    compares ADJACENT cell means instead of the global mean): resample
    to an 8x9 mean grid, bit(y, x) = cell(y, x) brighter than
    cell(y, x+1), 64 bits row-major. A corpus build keeps both hashes —
    images near-dup when EITHER Hamming distance is small — feeding the
    same banded Hamming machinery as vec_binary_hamming_topk.

    Exactness: integer cell boundaries (i*h DIV 8, j*w DIV 9 — cells
    may be empty for tiny rasters; a bit is set only when BOTH cells
    are non-empty), and the mean comparison cross-multiplies in int64
    (s_l*n_r > s_r*n_l) so no division ever happens. Decode runs the
    real stdlib PPM codec in Arrow batches through map_rows; cell sums are
    numpy slice reductions. Map-only at any scale."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("n_chars") > 0)
    )
    dec = multimodal.PpmDecoder()

    def dhash(doc_id, text, n_chars):
        w, h, raster = dec.decode_ppm_raster(multimodal.doc_ppm(text, n_chars))
        r64 = raster.astype(np.int64)
        bits = []
        for cy in range(8):
            y0, y1 = (cy * h) // 8, ((cy + 1) * h) // 8
            sums = []
            for cx in range(9):
                x0, x1 = (cx * w) // 9, ((cx + 1) * w) // 9
                blk = r64[y0:y1, x0:x1, :]
                sums.append((int(blk.sum()), blk.size))
            for cx in range(8):
                (s_l, n_l), (s_r, n_r) = sums[cx], sums[cx + 1]
                bits.append("1" if n_l > 0 and n_r > 0 and s_l * n_r > s_r * n_l else "0")
        yield doc_id, "".join(bits), bits.count("1")

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        dhash,
        "media_id long, dhash_bits string, n_set long",
    )


_SILENCE_THRESHOLD = 16384  # |int16| < 2^14 counts as silence (VAD gate)


@query(
    "mm_wav_silence_ratio",
    oracle=f"""
    WITH au AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS L,
             1 + (doc_id % 2) AS ch
      FROM documents
      WHERE doc_id % 3 = 1 AND octet_length(encode(text)) > 0),
    samp AS (
      SELECT doc_id,
             CAST(L * ch AS BIGINT) AS n_samples,
             CAST(sum(CASE WHEN ord(substr(text,
                        CAST((2 * k + 1) % L AS INT) + 1, 1)) <= 63
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
      FROM au, unnest(range(0, L * ch)) AS u(k)
      GROUP BY 1, 2)
    SELECT doc_id AS media_id, n_samples, n_silent,
           CAST(n_silent * 1000000 // n_samples AS BIGINT) AS silence_ppm
    FROM samp
    """,
    tags=("U1", "F8", "A3"),
)
def mm_wav_silence_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style silence detection through the REAL codec: synthesize
    each audio doc's RIFF/WAV PCM (samples tile the text bytes, frames =
    n_chars — the mm_wav_stats media), decode the BYTES back with the
    stdlib wave reader, and count samples with |s| < 2^14 — the
    silence-trim gate every speech-dataset pipeline runs before feature
    extraction. The oracle reconstructs the same PCM arithmetic straight
    from the text bytes (sample k's high byte is text[(2k+1) mod L], so
    for the fixtures' ASCII text silence <=> that byte <= 63): a header
    mis-write, frame mis-count, or endianness slip anywhere in the
    synth/decode round-trip flips the hash.

    Scale: one map_rows pass over the audio docs (Arrow batches, media
    never leaves the scan stage); output is 3 integers per file. The
    decode loop is per-file Python over bounded PCM (n_chars*ch
    samples) — the codec seam a production deployment swaps for a
    vectorized VAD."""
    docs = readers.load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 1) & (F.length("text") > 0)
    )
    dec = multimodal.WavDecoder()

    def silence(doc_id, text, n_chars):
        wav = multimodal.doc_wav(doc_id, text, n_chars)
        n, silent = dec.decode_wav_silence(wav, _SILENCE_THRESHOLD)
        yield doc_id, n, silent, silent * 1_000_000 // n if n else 0

    return multimodal.map_rows(
        docs.select("doc_id", "text", "n_chars"),
        silence,
        "media_id long, n_samples long, n_silent long, silence_ppm long",
    )
