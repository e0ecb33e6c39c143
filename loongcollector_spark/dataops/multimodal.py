"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched ``mapInArrow`` stages
(``operators.base.payload_rows``).

Two tiers:
- **REAL decode** for formats needing no external codecs: P6 PPM images and
  PCM WAV audio (pure bytes/numpy + stdlib ``wave``) — decode and
  feature-extract are fully implemented and oracle-checked
  (multimodal_decode).
- **Stub** for compressed formats (JPEG/PNG/MP3 — PIL/librosa/ffmpeg are not
  in this container): ``extract_media_features`` computes deterministic
  byte-level pseudo-features; ``decode_media_features`` degrades unknown
  magic bytes to nulls. The Spark-side plumbing — schema, Arrow batch shape,
  UDF signature, partition behavior — is identical for both tiers, so
  swapping a stub for a codec is a one-function change.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField

from ..operators.base import payload_rows

# metadata columns a multimodal table carries next to the blob
MEDIA_META_SCHEMA = "struct<kind:string,width:int,height:int,sample_rate:int>"


def attach_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Test fixture: fabricate a binary ``media`` column (utf-8 bytes of the
    text — a deterministic fake payload) + typed metadata."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("media"),
        F.expr(
            "named_struct('kind', 'image', 'width', cast(n_chars % 640 as int), "
            "'height', cast(n_chars % 480 as int), 'sample_rate', cast(null as int))"
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder: a real implementation would be e.g.
    ``PIL.Image.open(io.BytesIO(payload))`` → (width, height, mode-features).
    Raises nothing here; returns deterministic pseudo-features."""
    if payload is None:
        return (0, -1, 0)
    n = len(payload)
    first = payload[0] if n else -1
    checksum = sum(payload) % 65536
    return (n, first, checksum)


def extract_media_features(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Arrow-batched feature extraction over the binary column. One
    ``mapInArrow`` pass (``payload_rows``), no per-row Spark round trips.
    Output adds (n_bytes, first_byte, checksum)."""
    return payload_rows(
        df,
        [media_col],
        df.columns,
        [
            StructField("n_bytes", LongType()),
            StructField("first_byte", IntegerType()),
            StructField("checksum", IntegerType()),
        ],
        lambda r: [_decode_stub(r[media_col])],
    )


# --- REAL decoders (pure stdlib/numpy — no external codecs needed) ----------
#
# PPM (P6) and WAV (PCM) are fully decodable with bytes + the stdlib `wave`
# module, so for these two formats the decode / feature-extract path is REAL
# end-to-end; only compressed formats (JPEG/PNG/MP3/...) remain behind the
# stub above.

PPM_MAGIC = b"P6"
WAV_MAGIC = b"RIFF"


def make_ppm(width: int, height: int, r: int, g: int, b: int) -> bytes:
    """Deterministic solid-color P6 PPM (test/oracle fixture)."""
    header = f"P6\n{width} {height}\n255\n".encode()
    return header + bytes([r, g, b]) * (width * height)


def decode_ppm(payload: bytes):
    """P6 PPM → (width, height, pixel ndarray HxWx3 uint8)."""
    import numpy as np

    if not payload.startswith(PPM_MAGIC):
        raise ValueError("not a P6 PPM")
    parts = payload.split(b"\n", 3)
    width, height = map(int, parts[1].split())
    maxval = int(parts[2])
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    pix = np.frombuffer(parts[3], dtype=np.uint8, count=width * height * 3)
    return width, height, pix.reshape(height, width, 3)


def make_wav(sample_rate: int, n_samples: int, amplitude: int) -> bytes:
    """Deterministic alternating ±amplitude square wave, 16-bit mono PCM
    (RMS == amplitude exactly)."""
    import io
    import wave

    import numpy as np

    samples = np.empty(n_samples, dtype=np.int16)
    samples[0::2] = amplitude
    samples[1::2] = -amplitude
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes):
    """WAV PCM16 mono → (sample_rate, samples ndarray int16)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        raw = w.readframes(n)
    return rate, np.frombuffer(raw, dtype=np.int16)


def attach_real_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture: deterministic REAL media per doc — PPM image for every row,
    WAV audio for doc_id%3==0 rows (parameters derived from doc_id so an
    oracle can predict every decoded feature in closed form)."""
    from pyspark.sql.types import BinaryType, StringType

    def rows_of(r: dict) -> list[tuple]:
        i = r[id_col]
        if i % 3 == 0:
            wav = make_wav(8000 + (i % 4) * 1000, 64 + i % 32 * 2, 100 + i % 100)
            return [(wav, "audio")]
        ppm = make_ppm(8 + i % 16, 4 + i % 8, i * 3 % 256, i * 5 % 256, i * 7 % 256)
        return [(ppm, "image")]

    return payload_rows(
        df,
        [id_col],
        [id_col],
        [StructField("media", BinaryType()), StructField("kind", StringType())],
        rows_of,
    )


def decode_media_features(df: DataFrame, media_col: str = "media") -> DataFrame:
    """REAL decode + feature extraction over the binary column, dispatched on
    magic bytes: P6 PPM → (width, height, mean_r/g/b), RIFF WAV →
    (sample_rate, n_samples, rms); anything else → nulls with
    media_format='unknown'. One Arrow ``mapInArrow`` pass."""
    from pyspark.sql.types import DoubleType, StringType

    def rows_of(r: dict) -> list[tuple]:
        import numpy as np

        b = r[media_col] or b""
        if b.startswith(PPM_MAGIC):
            w, h, pix = decode_ppm(b)
            m = pix.reshape(-1, 3).mean(axis=0)
            return [("ppm", w, h, round(float(m[0]), 4), round(float(m[1]), 4),
                     round(float(m[2]), 4), None, None, None)]
        if b.startswith(WAV_MAGIC):
            rate, samples = decode_wav(b)
            rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
            return [("wav", None, None, None, None, None, rate, len(samples), round(rms, 4))]
        return [("unknown",) + (None,) * 8]

    return payload_rows(
        df,
        [media_col],
        df.columns,
        [
            StructField("media_format", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("rms", DoubleType()),
        ],
        rows_of,
    )
