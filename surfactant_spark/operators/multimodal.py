"""Multimodal (binary-column) operators.

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The Spark-side plumbing — schema, Arrow batch shape,
partition-preserving mapInPandas — is real and tested; the actual
codec decode is stubbed behind ``NotImplementedError`` (no image/audio
libraries in this container) with a deterministic fake feature
extractor so pipelines are exercisable end-to-end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .dedup import blocked_pairs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def decode_image(payload: bytes) -> "np.ndarray":
    """Real codec decode — requires an imaging library not present in
    this container. The Spark plumbing around it is complete; swap this
    body for PIL/libvips in deployment."""
    raise NotImplementedError("image codec not available in this environment")


def fake_features(payload: bytes, dim: int = 16) -> list:
    """Deterministic stand-in feature vector: a byte-histogram sketch
    seeded by content hash. Exercises the exact batch/schema path the
    real extractor would use."""
    if payload is None:
        return [0.0] * dim
    h = hashlib.sha256(payload).digest()
    arr = np.frombuffer(payload[:4096], dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype("float32") if arr.size else np.zeros(dim, "float32")
    norm = float(hist.sum()) or 1.0
    seed = np.frombuffer(h[:dim], dtype=np.uint8).astype("float32") / 255.0
    return [float(x) for x in (hist / norm + 0.001 * seed)]


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(p) for p in payloads],
                "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
                "features": [fake_features(p) for p in payloads],
            }
        )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads. The batch
    size is governed by spark.sql.execution.arrow.maxRecordsPerBatch at
    scale. Codec decode is the textbook compute-amplified pass, so a
    corpus that arrives as one scan split is spread to session
    parallelism first (session.spread_partitions — a no-op on a real
    multi-split scan, where this stays a narrow, shuffle-free plan)."""
    from ..session import spread_partitions

    return spread_partitions(media).select("media_id", "kind", "payload").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque media payloads so
    the multimodal path is exercisable with the driver corpus."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing: explode virtual frame indices from
    metadata (n_frames) and keep every n-th — decode itself is stubbed."""
    return (
        media.where(F.col("meta.n_frames").isNotNull())
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.col("meta.n_frames") - 1)).alias("frame_idx"),
        )
        .where(F.col("frame_idx") % every_n == 0)
    )


# ---------------------------------------------------------------------------
# byte-signature near-duplicate detection (pHash-shaped, codec-free)
# ---------------------------------------------------------------------------
SIG_BLOCKS = 16
SIG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sig", T.LongType(), True),
    ]
)


def byte_signature(payload: bytes, n_blocks: int = SIG_BLOCKS) -> int:
    """Pure per-row twin of the Arrow batch path (and the python
    reference the tests pin): split the payload into ``n_blocks``
    equal-ish blocks (floor boundaries), bit j = 1 iff block j's byte
    sum is at least its proportional share of the total — the
    perceptual-hash SHAPE (blockwise brightness vs global mean)
    computed honestly on raw bytes, no codec. Exact integer
    cross-multiplication, no division."""
    n = len(payload)
    if n == 0:
        return 0
    total = sum(payload)
    sig = 0
    for j in range(n_blocks):
        a = j * n // n_blocks
        b = (j + 1) * n // n_blocks
        blk = payload[a:b]
        if len(blk) and sum(blk) * n >= total * len(blk):
            sig |= 1 << j
    return sig


def _signature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        sigs, sizes = [], []
        for payload in pdf["payload"]:
            if payload is None:
                sigs.append(None)
                sizes.append(None)
                continue
            b = bytes(payload)
            n = len(b)
            sizes.append(n)
            if n == 0:
                sigs.append(0)
                continue
            arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            total = int(arr.sum())
            bounds = [(j * n // SIG_BLOCKS) for j in range(SIG_BLOCKS + 1)]
            sig = 0
            for j in range(SIG_BLOCKS):
                blk = arr[bounds[j] : bounds[j + 1]]
                if blk.size and int(blk.sum()) * n >= total * int(blk.size):
                    sig |= 1 << j
            sigs.append(sig)
        yield pd.DataFrame(
            {"media_id": pdf["media_id"], "n_bytes": sizes, "sig": sigs}
        )


def byte_signatures(media: DataFrame) -> DataFrame:
    """(media_id, n_bytes, sig) via an Arrow-batched mapInPandas pass —
    the real multimodal compute path (numpy over raw payload bytes,
    no row-at-a-time Python); exact integers end to end, so the
    signature algebra is replayable in SQL from the hex encoding."""
    return media.select("media_id", "payload").mapInPandas(
        _signature_batches, schema=SIG_SCHEMA
    )


def media_near_dup(
    media: DataFrame, max_hamming: int = 2, max_bucket: int = 64
) -> DataFrame:
    """Near-duplicate binary payloads by signature hamming distance —
    the media twin of the simhash text family: 16-bit signatures split
    into 3 bands (6/5/5 bits; <= ``max_hamming`` = 2 errors can ruin
    at most two bands, so every true pair collides in >= 1 band —
    pigeonhole-complete), :func:`dedup.blocked_pairs` on the band
    bucket with ubiquitous buckets dropped at ``max_bucket`` (a
    documented recall trade), XOR+popcount verify.
    Returns (id1, id2, sig1, sig2, hamming)."""
    sigs = byte_signatures(media).where(F.col("sig").isNotNull()).localCheckpoint(
        eager=True
    )
    bands = [
        (F.col("sig").bitwiseAND(F.lit(63))).alias("bv"),
        (F.shiftright("sig", 6).bitwiseAND(F.lit(31))).alias("bv"),
        (F.shiftright("sig", 11).bitwiseAND(F.lit(31))).alias("bv"),
    ]
    exploded = None
    for bi, bv in enumerate(bands):
        part = sigs.select(
            "media_id", "sig", F.lit(bi).alias("band"), bv
        )
        exploded = part if exploded is None else exploded.unionByName(part)
    cand, _ = blocked_pairs(
        exploded, "media_id", ("band", "bv"), max_bucket, carry=("sig",)
    )
    cand = cand.select("id1", "id2", "sig1", "sig2").dropDuplicates()
    ham = F.bit_count(
        F.col("sig1").bitwiseXOR(F.col("sig2"))
    ).cast("long")
    return cand.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming)
