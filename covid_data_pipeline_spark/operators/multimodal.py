"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side contract is real and tested: schema (binary payload +
typed metadata struct), Arrow-batched ``mapInPandas`` operators,
partition-count preservation, and deterministic fake decoders where the
actual media libraries (PIL/ffmpeg/torchaudio) are unavailable in this
environment.

Decode internals are STUBBED — ``decode_image`` raises
NotImplementedError unless ``fake=True``, which produces deterministic
pseudo-features derived from the payload bytes so downstream operators
(dedup over media fingerprints, embedding joins) are testable.

Scale notes: media bytes never pass through Python row-at-a-time — every
operator is an Arrow-batched iterator over pandas frames; the session's
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds memory per batch.
Set it when the session is built, so batch_bytes ≈ payload × records
stays well under executor memory: Spark reads it when an action plans,
so an operator cannot scope it to its own plan. Payload columns should
be pruned early: all metadata-only queries must select away the binary
column before any shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata accompanying each media payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), True),  # image/audio/video
        T.StructField("format", T.StringType(), True),  # png/wav/mp4/...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_SCHEMA, True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload_sha", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _fake_features(payload: bytes, n: int = 8) -> list[float]:
    """Deterministic pseudo-features from payload bytes (sha256-seeded) —
    stands in for a real CNN/CLIP encoder so the distributed plumbing is
    testable without media libraries."""
    h = hashlib.sha256(payload or b"").digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(n)]


def decode_and_featurize_images(
    df: DataFrame,
    fake: bool = False,
    feature_dim: int = 8,
) -> DataFrame:
    """Decode image payloads and emit feature vectors via mapInPandas.

    ``fake=False`` raises NotImplementedError inside the task (real
    decoder needs PIL/opencv — not in this container). ``fake=True``
    computes deterministic sha-derived features; the Spark plumbing
    (Arrow batching, schema, partitioning) is identical either way.
    """
    def op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real image decode requires PIL/opencv (unavailable); "
                    "pass fake=True for the deterministic stub"
                )
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload_sha": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "n_bytes": payloads.map(lambda b: len(b or b"")),
                    "features": payloads.map(
                        lambda b: _fake_features(b, feature_dim)
                    ),
                }
            )

    return df.select("media_id", "payload").mapInPandas(op, IMAGE_FEATURES_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled timestamp
    (media_id, frame_ts_ms) — pure built-ins (sequence+explode) over
    duration metadata; actual frame extraction would join payload back
    through a mapInPandas decoder (stubbed like decode_and_featurize).
    """
    return (
        df.select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms).cast("long"),
                )
            ).alias("frame_ts_ms"),
        )
    )


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    fake: bool = False,
) -> DataFrame:
    """Resize image payloads via mapInPandas; output keeps the MEDIA
    schema with ``meta.width/height`` set to the target and the payload
    replaced by the resized bytes.

    ``fake=False`` raises NotImplementedError in the task (needs
    PIL/opencv); ``fake=True`` passes payload bytes through and rewrites
    only the metadata, so the Arrow plumbing and schema evolution are
    exercised end-to-end either way.
    """

    def op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real image resize requires PIL/opencv (unavailable); "
                    "pass fake=True for the pass-through stub"
                )
            metas = pdf["meta"].map(
                lambda m: {
                    **(dict(m) if m is not None else {}),
                    "width": width,
                    "height": height,
                }
            )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": pdf["payload"], "meta": metas}
            )

    return df.select("media_id", "payload", "meta").mapInPandas(op, MEDIA_SCHEMA)


def chunk_audio_plan(
    df: DataFrame, chunk_ms: int = 10_000, overlap_ms: int = 0
) -> DataFrame:
    """Audio chunking *plan*: one row per (media_id, chunk_start_ms,
    chunk_end_ms) window over the duration metadata — the standard
    pre-step for chunked transcription/embedding. Pure built-ins; actual
    sample slicing joins payload through a mapInPandas decoder (stubbed
    here, like image decode). Zero-duration media yields no chunks."""
    step = chunk_ms - overlap_ms
    if step <= 0:
        raise ValueError("chunk_ms must exceed overlap_ms")
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    starts = F.when(
        dur > 0,
        F.sequence(F.lit(0).cast("long"), (dur - 1).cast("long"), F.lit(step).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    return df.select(
        "media_id", F.explode(starts).alias("chunk_start_ms"), dur.alias("__dur")
    ).select(
        "media_id",
        "chunk_start_ms",
        F.least(F.col("chunk_start_ms") + chunk_ms, F.col("__dur")).alias(
            "chunk_end_ms"
        ),
    )


def media_fingerprint(df: DataFrame) -> DataFrame:
    """Exact-dup fingerprint for media: sha2 over payload bytes — JVM
    built-in, no Python. The media arm of exact dedup."""
    return df.select(
        "media_id",
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
        F.length(F.col("payload")).alias("n_bytes"),
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def _fake_gray32(payload: bytes):
    """Deterministic fake decode: payload bytes tiled/truncated into a
    32×32 grayscale grid. LOCALITY-PRESERVING (unlike a content hash):
    two payloads sharing most bytes yield mostly-equal pixel grids, so
    the REAL perceptual-hash math downstream produces nearby hashes —
    exactly the behavior a real decoder gives near-identical images."""
    import numpy as np

    if not payload:
        return np.zeros((32, 32), dtype=np.uint8)
    buf = np.frombuffer(payload, dtype=np.uint8)
    reps = -(-1024 // len(buf))  # ceil
    return np.tile(buf, reps)[:1024].reshape(32, 32)


def media_phash(df: DataFrame, fake: bool = False) -> DataFrame:
    """64-bit block-mean perceptual hash per media row (Yang et al.'s
    block-mean image hashing): decode to 32×32 grayscale, take the 64
    means of the 8×8 grid of 4×4 blocks, threshold each against their
    MEDIAN → one bit each, packed into a signed BIGINT. Small visual
    edits flip few block means past the median, so Hamming distance is
    a perceptual similarity — feed the result straight into
    ``operators/dedup.py::simhash_candidate_pairs(sig_col="phash")``
    for banded near-dup pairs (the multimodal arm of the dedup stack,
    no new join machinery).

    Only the DECODE is environment-stubbed (no PIL/opencv here):
    ``fake=True`` substitutes the locality-preserving byte-grid decode;
    the hash arithmetic is the real algorithm either way. Arrow-batched
    ``mapInPandas``; NULL payloads hash NULL."""

    def op(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real image decode needs PIL/opencv; "
                    "pass fake=True for the deterministic stub"
                )
            hashes = []
            for payload in pdf["payload"]:
                if payload is None:
                    hashes.append(None)
                    continue
                g = _fake_gray32(bytes(payload)).astype(np.float64)
                means = g.reshape(8, 4, 8, 4).mean(axis=(1, 3)).ravel()
                med = float(np.median(means))
                bits = 0
                for i, m in enumerate(means):
                    if m > med:
                        bits |= 1 << i
                # wrap to signed 64-bit (bit 63 set => negative long)
                if bits >= 1 << 63:
                    bits -= 1 << 64
                hashes.append(bits)
            # positional lists on both columns (a pandas Series joins by
            # INDEX and could misalign), and an EXPLICIT nullable-Int64
            # hash column: a plain list mixing 64-bit ints with None
            # coerces to float64, silently rounding away the low ~10
            # bits of every hash (a float64 mantissa holds 53 bits)
            yield pd.DataFrame(
                {
                    "media_id": list(pdf["media_id"]),
                    "phash": pd.array(hashes, dtype="Int64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(op, PHASH_SCHEMA)
