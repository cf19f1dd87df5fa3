"""Multimodal (image/audio/video) column plumbing (north star).

Media are opaque `binary` columns plus typed metadata. The Spark-side
plumbing — schemas, partition sizing, the one per-row Arrow transform
(`map_rows`), UDF signatures — is real and tested; the actual codec calls
are stubbed behind `Decoder` because the image/audio libraries are not in
this container (a production deployment injects e.g. a Pillow/ffmpeg-backed
Decoder with the same interface). `FakeDecoder` is deterministic so tests
pin exact values.

Scale notes: media rows are large and variable-sized — the loader
repartitions by byte budget (not row count), and `map_rows` streams
Arrow batches so an executor never holds more than
spark.sql.execution.arrow.maxRecordsPerBatch rows of media at once.
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),  # images/video
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),  # audio/video
    ]
)

FEATURE_DDL = "media_id long not null, content_sha256 string, n_bytes long, feature array<float>"


class Decoder:
    """Codec seam. Production injects a real implementation; this base
    raises so a missing codec is an explicit error, not silent garbage."""

    def decode_features(self, kind: str, mime: str, content: bytes, dim: int) -> np.ndarray:
        raise NotImplementedError(
            "no media codec available in this environment; inject a Decoder "
            "(e.g. Pillow/torchaudio-backed) or use FakeDecoder for tests"
        )


@dataclass
class FakeDecoder(Decoder):
    """Deterministic stand-in: features derived from the content digest —
    stable across processes, so distributed results are reproducible."""

    def decode_features(self, kind: str, mime: str, content: bytes, dim: int) -> np.ndarray:
        digest = hashlib.sha256(content or b"").digest()
        raw = np.frombuffer((digest * (dim * 4 // len(digest) + 1))[: dim * 4], dtype=np.uint32)
        return (raw / np.float64(2**32)).astype(np.float32)


class WavDecoder(Decoder):
    """REAL audio decode for RIFF/WAV PCM bytes using only the stdlib
    (`wave` over an in-memory buffer) — proof the Decoder seam carries an
    actual codec, not just the deterministic fake. decode_features returns
    [duration_s, sample_rate, n_channels, rms] zero-padded to dim."""

    def decode_wav_stats(self, content: bytes) -> tuple[int, int, int]:
        """(sample_rate, n_channels, duration_ms) parsed from the header;
        duration uses exact integer math (frames*1000 // rate) so an SQL
        oracle reproduces it bit-for-bit."""
        with wave.open(io.BytesIO(content), "rb") as w:
            rate = w.getframerate()
            ch = w.getnchannels()
            frames = w.getnframes()
        return rate, ch, (frames * 1000) // rate

    def decode_wav_silence(
        self, content: bytes, threshold: int = 16384
    ) -> tuple[int, int]:
        """(n_samples, n_silent): silence = |sample| < threshold over the
        decoded 16-bit PCM — the VAD-style gate speech pipelines run
        before feature extraction. Pure integer comparisons so an SQL
        oracle that reconstructs the PCM source reproduces it exactly."""
        with wave.open(io.BytesIO(content), "rb") as w:
            pcm = w.readframes(w.getnframes())
        n = len(pcm) // 2
        silent = 0
        for i in range(n):
            s16 = int.from_bytes(pcm[2 * i : 2 * i + 2], "little", signed=True)
            if -threshold < s16 < threshold:
                silent += 1
        return n, silent

    def decode_features(self, kind: str, mime: str, content: bytes, dim: int) -> np.ndarray:
        with wave.open(io.BytesIO(content or b""), "rb") as w:
            rate = w.getframerate()
            ch = w.getnchannels()
            frames = w.getnframes()
            pcm = np.frombuffer(w.readframes(frames), dtype="<i2")
        rms = float(np.sqrt(np.mean((pcm / 32768.0) ** 2))) if pcm.size else 0.0
        head = np.array([frames / rate if rate else 0.0, rate, ch, rms], dtype=np.float32)
        out = np.zeros(dim, dtype=np.float32)
        out[: min(dim, head.size)] = head[:dim]
        return out


class PpmDecoder(Decoder):
    """REAL image decode for binary PPM (P6) bytes using only the stdlib —
    the image-modality counterpart of WavDecoder. P6 layout: ASCII header
    ``P6 <width> <height> <maxval>`` (whitespace/comment separated),
    then width*height*3 raw RGB bytes."""

    def decode_ppm_stats(self, content: bytes) -> tuple[int, int, int]:
        """(width, height, pixel_byte_sum) from a real header parse +
        full-raster read; integer-exact so an SQL oracle reproduces it."""
        width, height, _maxval, body = self._parse(content)
        need = width * height * 3
        if len(body) < need:
            raise ValueError(f"PPM truncated: want {need} bytes, have {len(body)}")
        return width, height, int(sum(body[:need]))

    def decode_ppm_raster(self, content: bytes) -> tuple[int, int, np.ndarray]:
        """(width, height, raster) where raster is the full (h, w, 3)
        uint8 RGB array — the entry point for patch/crop/resize ops that
        need pixels, not just summary stats."""
        width, height, _maxval, body = self._parse(content)
        need = width * height * 3
        if len(body) < need:
            raise ValueError(f"PPM truncated: want {need} bytes, have {len(body)}")
        return width, height, np.frombuffer(body[:need], dtype=np.uint8).reshape(
            height, width, 3
        )

    def decode_features(self, kind: str, mime: str, content: bytes, dim: int) -> np.ndarray:
        width, height, _maxval, body = self._parse(content)
        px = np.frombuffer(body[: width * height * 3], dtype=np.uint8)
        head = np.array(
            [width, height, float(px.mean()) if px.size else 0.0], dtype=np.float32
        )
        out = np.zeros(dim, dtype=np.float32)
        out[: min(dim, head.size)] = head[:dim]
        return out

    @staticmethod
    def _parse(content: bytes) -> tuple[int, int, int, bytes]:
        if not content.startswith(b"P6"):
            raise ValueError("not a P6 PPM")
        # Tokenize the header: three ints after the magic, '#' comments
        # allowed, single whitespace byte terminates the maxval token.
        pos, vals = 2, []
        while len(vals) < 3:
            while pos < len(content) and content[pos : pos + 1].isspace():
                pos += 1
            if content[pos : pos + 1] == b"#":
                while pos < len(content) and content[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(content) and not content[pos : pos + 1].isspace():
                pos += 1
            vals.append(int(content[start:pos]))
        return vals[0], vals[1], vals[2], content[pos + 1 :]


def synth_ppm(width: int, height: int, seed_bytes: bytes) -> bytes:
    """Deterministic binary PPM (P6): a raster whose RGB bytes tile
    seed_bytes — a real, parseable image built from stable inputs."""
    need = width * height * 3
    seed = seed_bytes or b"\x00\x01"
    body = (seed * (need // len(seed) + 1))[:need]
    return f"P6\n{width} {height}\n255\n".encode("ascii") + body


def synth_wav(sample_rate: int, n_channels: int, n_frames: int, seed_bytes: bytes) -> bytes:
    """Deterministic 16-bit PCM WAV: n_frames frames whose samples tile
    seed_bytes — a real, `wave`-readable file built from stable inputs so
    distributed re-execution produces identical media."""
    need = n_frames * n_channels * 2
    seed = seed_bytes or b"\x00\x01"
    pcm = (seed * (need // len(seed) + 1))[:need]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm)
    return buf.getvalue()


def doc_ppm(text: str | None, n_chars: int) -> bytes:
    """The image of one documents row: a (n_chars % 64 + 1) x
    (n_chars % 48 + 1) PPM whose raster tiles the text's UTF-8 bytes —
    the dimensions the image oracles recompute from the same columns."""
    return synth_ppm(n_chars % 64 + 1, n_chars % 48 + 1, (text or "").encode("utf-8"))


def doc_wav(doc_id: int, text: str | None, n_chars: int, mono: bool = False) -> bytes:
    """The audio of one documents row: n_chars PCM frames tiling the text's
    UTF-8 bytes, at 8000 + (doc_id % 4) * 4000 Hz with 1 + doc_id % 2
    channels, or 8000 Hz mono with `mono`."""
    rate, ch = (8000, 1) if mono else (8000 + doc_id % 4 * 4000, 1 + doc_id % 2)
    return synth_wav(rate, ch, n_chars, (text or "").encode("utf-8"))


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]], ddl: str) -> DataFrame:
    """The lane's one per-row Python transform: `fn(*row)` receives one row
    of `df` as Python values (None for null) and yields zero or more
    output tuples in the column order of the DDL string `ddl`. One
    mapInArrow node: each Arrow batch is read with to_pylist and answered
    with one RecordBatch typed by `ddl`, so no pandas frame is built either
    way; the node is narrow, so the decode stays in the scan stage."""
    schema = to_arrow_schema(T.StructType.fromDDL(ddl))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows = [out for row in zip(*(c.to_pylist() for c in b.columns)) for out in fn(*row)]
            cols = list(zip(*rows)) or [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
            )

    return df.mapInArrow(run, ddl)


def extract_features(
    media: DataFrame, decoder: Decoder, dim: int = 16
) -> DataFrame:
    """Decode/feature-extract through `map_rows`: one fixed-width feature
    row per media row. The decoder rides the closure (shipped once per
    task)."""

    def features(media_id, kind, mime, content):
        c = content or b""
        feature = decoder.decode_features(kind, mime, content, dim)
        yield media_id, hashlib.sha256(c).hexdigest(), len(c), feature

    return map_rows(media.select("media_id", "kind", "mime", "content"), features, FEATURE_DDL)


def repartition_by_bytes(
    media: DataFrame, target_partition_bytes: int = 128 << 20
) -> DataFrame:
    """Size partitions by media bytes, not row count: a fixed row budget
    puts 10 4K-video rows and 10 icon rows in equal partitions and skews
    task runtimes wildly. One total-bytes pass (cheap aggregate on an
    already-loaded column) sets the partition count."""
    total = media.agg(F.sum(F.length("content")).alias("b")).collect()[0].b or 0
    n = max(1, int(total / target_partition_bytes))
    return media.repartition(n)


def frame_sample_stub(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: expands each video row into frame
    timestamps (0, every_ms, ... duration_ms) — the real frame decode is
    the Decoder's job; the row expansion + partitioning is Spark's and is
    fully real here (UDTF-style explode, no Python)."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ms",
            F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))),
        )
        .select("media_id", "mime", "frame_ms")
    )
