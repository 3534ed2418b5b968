"""Multimodal column handling: opaque binary payloads + typed metadata.

Images/audio/video are opaque `binary` columns with a typed metadata
struct; decode and feature extraction run as Arrow-batched
`mapInPandas` UDFs (the only sane shape for per-blob Python work:
the batch boundary amortizes serialization, and the plumbing —
schema, partitioning, batch iteration — is identical to what a real
libjpeg/ffmpeg-backed implementation would use).

The actual media libs are not in this container, so the byte-level
decoders are STUBS: `decode_image(..., fake=True)` produces a
deterministic fake (dimensions + features derived from the blob's
xxhash/md5), and `fake=False` raises NotImplementedError at the
clearly-marked point where libjpeg/PIL would be called. Everything
Spark-side is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def synth_media_df(corpus: DataFrame) -> DataFrame:
    """Materialize the corpus's media spans as a media table with
    deterministic synthetic payloads (payload = utf-8 of the ref —
    stands in for real bytes; the pipeline treats it as opaque)."""
    media = corpus.select(
        F.explode(
            F.filter(F.col("spans"), lambda s: s["kind"] == "image")
        ).alias("s")
    )
    return media.select(
        F.col("s.media_ref").alias("media_ref"),
        F.lit("image").alias("kind"),
        F.encode(F.col("s.media_ref"), "utf-8").alias("payload"),
        F.lit("image/x-synthetic").alias("mime"),
    )


def _fake_decode(payload: bytes, n_features: int) -> tuple:
    """Deterministic fake decode: dims/features from the blob digest."""
    d = hashlib.blake2b(payload or b"", digest_size=16).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    feats = [(b - 128) / 128.0 for b in d[: min(n_features, 16)]]
    while len(feats) < n_features:
        feats.append(feats[len(feats) % 16])
    return width, height, feats


def _real_decode_fn(n_features: int):
    """Pillow-backed decode, resolved once per executor batch — the
    env-gated real path (INTEGRATION.md): install `pillow` in the
    executor Python env to activate; without it the import failure
    surfaces as NotImplementedError naming the dependency."""
    try:
        import io

        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "real image decode requires Pillow (PIL), not present in "
            "this container — pip install pillow in the executor env "
            "(see INTEGRATION.md)"
        ) from e

    def decode(raw: bytes) -> tuple:
        # one missing/corrupt blob must not kill a large media job:
        # undecodable rows surface as null dims/features (the schema is
        # nullable) and are countable downstream, mirroring the
        # quarantine philosophy of the NT decoder
        try:
            img = Image.open(io.BytesIO(raw))
            w, h = img.size
            # cheap, deterministic visual feature: 4x4 grayscale
            # thumbnail pixel means scaled to [-1, 1), cycled
            px = list(img.convert("L").resize((4, 4)).getdata())
        except Exception:  # noqa: BLE001 - PIL raises many types
            return None, None, None
        feats = [(p - 128) / 128.0 for p in px]
        feats = (feats * ((n_features // len(feats)) + 1))[:n_features]
        return w, h, feats

    return decode


def decode_image_features(
    media: DataFrame, n_features: int = 8, fake: bool = True
) -> DataFrame:
    """media table -> IMAGE_FEATURES_SCHEMA via Arrow-batched
    mapInPandas (one Python roundtrip per ~10k blobs, not per blob).
    fake=True (default in this container) derives deterministic
    dims/features from the payload digest; fake=False decodes with
    Pillow when installed (tests/test_dataops.py gates both ways)."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        decode = (
            (lambda raw: _fake_decode(raw, n_features))
            if fake
            else _real_decode_fn(n_features)
        )
        for pdf in it:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                w, h, feats = decode(raw)
                rows.append((ref, w, h, len(raw), feats))
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "width", "height", "n_bytes", "features"],
            )

    return media.select("media_ref", "payload").mapInPandas(
        batches, IMAGE_FEATURES_SCHEMA
    )
