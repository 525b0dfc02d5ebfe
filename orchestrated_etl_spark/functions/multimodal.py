"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The pattern for 100 TB multimodal pipelines: media bytes travel as a
`binary` column next to typed metadata columns; decode / feature-extract /
resize / frame-sample run as Arrow-batched Pandas functions over
``mapInPandas`` so each task processes whole record batches without
row-at-a-time Python overhead. Partitioning follows the *metadata* (cheap
to shuffle); bytes are only moved when a stage actually consumes them —
project them out otherwise.

No real decoder (PIL / torchaudio / ffmpeg) is wired in: the decode stage
``decoded_metadata`` runs `_fake_meta_from_digest`, a deterministic
stand-in used by tests and the oracle-checked query — it derives "decoded"
properties purely from the md5 of the bytes, so an independent engine can
reproduce them. A real decoder replaces that one call.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def to_binary(col: Column | str) -> Column:
    """UTF-8 bytes of a string column — the fixtures' stand-in for real
    media payloads (schema/partitioning/UDF plumbing is identical)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.encode(c, "UTF-8")


def binary_metadata(df: DataFrame, id_col: str, bin_col: Column) -> DataFrame:
    """Typed metadata extracted JVM-side (no Python): byte length, md5
    digest, magic-prefix hex — the cheap columns every media pipeline
    partitions and filters on before ever decoding."""
    return df.select(
        F.col(id_col),
        F.length(bin_col).alias("byte_len"),
        F.md5(bin_col).alias("digest"),
        F.lower(F.hex(F.substring(bin_col, 1, 4))).alias("magic_hex"),
    )


def _fake_meta_from_digest(digest: str) -> tuple[int, int, int]:
    """Deterministic fake 'decode': width/height/frames from md5 nibbles.
    Mirrors the SQL in the oracle (strpos-based nibble decode) so the
    Python path is independently checkable."""
    nib = [int(c, 16) for c in digest[:3]]
    return 16 * (1 + nib[0]), 16 * (1 + nib[1]), 1 + nib[2]


def decoded_metadata(
    df: DataFrame, id_col: str, bin_col: str
) -> DataFrame:
    """The mapInPandas decode stage: Arrow batches in, decoded-metadata
    batches out. Swap `_fake_meta_from_digest` for a real decoder call;
    batch shape, schema, and partitioning are production-real."""

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raw = pdf[bin_col]
            digests = raw.map(lambda b: hashlib.md5(bytes(b)).hexdigest())
            meta = digests.map(_fake_meta_from_digest)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "byte_len": raw.map(len).astype("int64"),
                    "digest": digests,
                    "width": meta.map(lambda m: m[0]).astype("int32"),
                    "height": meta.map(lambda m: m[1]).astype("int32"),
                    "n_frames": meta.map(lambda m: m[2]).astype("int32"),
                }
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(bin_col)
    ).mapInPandas(decode_batches, DECODED_META_SCHEMA)


def frame_sample(df: DataFrame, id_col: str, n_frames_col: str, every: int) -> DataFrame:
    """Frame sampling plumbing: one output row per sampled frame index
    (0, every, 2·every, ...) — the explode pattern a video pipeline uses
    before per-frame decode. JVM-side sequence+explode; no Python.

    A zero/negative frame count (corrupt asset from a real decoder)
    yields an EMPTY array — without the guard, ``sequence(0, -1, +step)``
    throws 'illegal sequence boundaries' and fails the whole stage for
    one bad document (round-14 review; the fake decoder always emits
    >= 1, so this is real-decoder hardening)."""
    idx = F.when(
        F.col(n_frames_col) >= 1,
        F.sequence(F.lit(0), F.col(n_frames_col) - 1, F.lit(every)),
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        F.col(id_col), F.explode(idx).alias("frame_idx")
    )


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, out_w int, out_h int, resized int"
)


def resized_metadata(df: DataFrame, id_col: str, bin_col: str, target: int = 256) -> DataFrame:
    """The resize stage (STUB decode, real plumbing): fit the fake-decoded
    (width, height) into a target×target box preserving aspect ratio with
    pure integer arithmetic (floor(d·target / long_side)), never upscaling.
    Swap the digest-derived dimensions for a real decoder + PIL resize;
    batch shape and schema stay the same."""

    def resize_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            digests = pdf[bin_col].map(lambda b: hashlib.md5(bytes(b)).hexdigest())
            meta = digests.map(_fake_meta_from_digest)
            w = meta.map(lambda m: m[0]).astype("int64")
            h = meta.map(lambda m: m[1]).astype("int64")
            long_side = pd.concat([w, h], axis=1).max(axis=1)
            need = long_side > target
            out_w = w.where(~need, (w * target) // long_side).astype("int32")
            out_h = h.where(~need, (h * target) // long_side).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "out_w": out_w,
                    "out_h": out_h,
                    "resized": need.astype("int32"),
                }
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        resize_batches, RESIZED_SCHEMA
    )


FAKE_EMBED_SCHEMA = "doc_id long, embedding array<double>"


def fake_embeddings(df: DataFrame, id_col: str, bin_col: str, dim: int = 8) -> DataFrame:
    """The feature-extract stage (STUB model, real plumbing): an
    'embedding' from the payload digest's first `dim` nibbles, scaled to
    [0, 1]. Swap for a real encoder (CLIP et al.) behind the same
    mapInPandas signature; downstream similarity search is unchanged."""

    def embed_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            digests = pdf[bin_col].map(lambda b: hashlib.md5(bytes(b)).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "embedding": digests.map(
                        lambda d: [int(c, 16) / 15.0 for c in d[:dim]]
                    ),
                }
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        embed_batches, FAKE_EMBED_SCHEMA
    )
