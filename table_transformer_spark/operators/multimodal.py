"""Multimodal column operators: opaque ``binary`` payloads + typed
metadata, with decode / resize / frame-sample / feature-extraction as
Arrow-batched UDFs.

The Spark-side plumbing here is real — schemas, batch shapes, UDF
signatures, partitioning — while the codec layer is explicitly stubbed
(this container ships no image/audio libraries).  Each decode:

* first tries the real library (``PIL``) behind an import-guard, and
  raises ``NotImplementedError`` with a clear message when a real media
  payload arrives without it;
* falls back to the deterministic fixture codec (zlib-JSON pages) so
  the full pipeline stays testable end-to-end.

Swapping in real codecs changes only the ``_decode_*`` bodies — batch
iteration, Arrow transfer, and output schemas are production shaped.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import map_rows
from ..serde import decode_zlib_json

__all__ = [
    "media_metadata",
    "decode_dimensions",
    "thumbnail_plan",
    "frame_sample",
    "media_embedding",
]

try:  # real image codec, absent in this container
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

_FIXTURE_MAGIC = b"\x78"  # zlib header byte of the fixture payloads


def _decode_fixture(payload: bytes) -> dict:
    return decode_zlib_json(payload)


def _decode_image(payload: bytes) -> dict:
    """Decode a media payload to {width, height, mode}.

    Fixture payloads (zlib-JSON pages) decode with the fixture codec;
    anything else takes the real PIL branch when PIL is importable
    (exercised by the ``importorskip`` test when the library exists)
    and raises ``NotImplementedError`` with a clear message when it is
    not — never guesses.
    """
    b = bytes(payload)
    if b[:1] == _FIXTURE_MAGIC:
        page = _decode_fixture(b)
        return {"width": int(page["width"]), "height": int(page["height"]),
                "mode": "fixture"}
    if not _HAS_PIL:
        raise NotImplementedError(
            "real image decode needs PIL; only fixture payloads are "
            "decodable in this environment")
    import io
    with Image.open(io.BytesIO(b)) as img:
        return {"width": int(img.width), "height": int(img.height),
                "mode": str(img.mode)}


def media_metadata(media: DataFrame) -> DataFrame:
    """Cheap metadata without decoding: byte size + content digest —
    pure column algebra, pushdown-friendly."""
    return media.select(
        "media_ref",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"))


_DIM_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mode", T.StringType()),
])


def decode_dimensions(media: DataFrame) -> DataFrame:
    """Decode stage: (media_ref, payload) → typed dimensions."""
    def decode(rec):
        yield {"media_ref": rec.media_ref, **_decode_image(rec.payload)}

    return map_rows(media.select("media_ref", "payload"), decode,
                    _DIM_SCHEMA)


def thumbnail_plan(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """Resize planning (aspect-preserving longest-side clamp — the
    MaxResize rule, src/inference.py:27-38) as pure column algebra over
    decoded dimensions; the pixel resample itself is codec work."""
    dims = decode_dimensions(media)
    longest = F.greatest("width", "height")
    scale = F.when(longest > max_dim,
                   F.lit(float(max_dim)) / longest).otherwise(F.lit(1.0))
    return dims.select(
        "media_ref", "width", "height",
        F.round(scale, 6).alias("scale"),
        # bround = round-half-even, matching Python's int(round(...))
        # in the reference MaxResize (floor would be off by one on
        # most inputs)
        F.bround(F.col("width") * scale, 0).cast("int")
        .alias("out_width"),
        F.bround(F.col("height") * scale, 0).cast("int")
        .alias("out_height"))


_FRAME_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_digest", T.StringType()),
])


def frame_sample(media: DataFrame, every_n: int = 2,
                 max_frames: int = 4) -> DataFrame:
    """Frame sampling shape for video-like payloads: one payload row in,
    N frame rows out (one ``map_rows`` pass).  Frames are
    deterministic digests here (STUB — a real build decodes with
    pyav/ffmpeg in the same per-row function)."""
    def sample(rec):
        b = bytes(rec.payload)
        for i in range(0, max_frames * every_n, every_n):
            digest = hashlib.sha256(b + i.to_bytes(4, "big"))
            yield {"media_ref": rec.media_ref, "frame_idx": i,
                   "frame_digest": digest.hexdigest()}

    return map_rows(media.select("media_ref", "payload"), sample,
                    _FRAME_SCHEMA)


_EMB_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def media_embedding(media: DataFrame, dim: int = 32) -> DataFrame:
    """Feature extraction shape: payload → unit-norm float vector.
    Deterministic hash-seeded embedding (STUB for a vision encoder);
    batch shape (B, dim) float32, exactly what a real encoder returns."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # <-- a real encoder loads its weights once, here -->
        for pdf in batches:
            refs = list(pdf["media_ref"])
            mats = np.empty((len(refs), dim), dtype=np.float32)
            for i, payload in enumerate(pdf["payload"]):
                seed = int.from_bytes(
                    hashlib.sha256(bytes(payload)).digest()[:8], "big")
                rng = np.random.default_rng(seed)
                v = rng.standard_normal(dim).astype(np.float32)
                mats[i] = v / np.linalg.norm(v)
            yield pd.DataFrame({"media_ref": refs,
                                "embedding": list(map(list, mats))})

    return media.select("media_ref", "payload").mapInPandas(
        run, schema=_EMB_SCHEMA)
