"""Multimodal column plumbing — image/audio/video as opaque binary
columns with typed metadata (training-data-pipeline extension surface;
no analog in the reference, whose corpus is text-only).

Design: media payloads are ``binary`` columns; decode / feature-extract
/ resize / frame-sample run as Arrow-batched ``mapInPandas`` stages so
each worker touches only its partition's bytes — the schema,
partitioning and batch shape are the real, tested engine surface.  The
actual codecs (PIL/ffmpeg/torchaudio) are NOT in this container, so the
decode step is stubbed: :func:`decode_media` raises
``NotImplementedError`` by contract, and the tested path uses the
deterministic fake feature extractor (byte histograms) which exercises
identical plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), True),   # image|audio|video
    T.StructField("payload", T.BinaryType(), True),       # opaque encoded bytes
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("features", T.ArrayType(T.FloatType()), True),
])


def decode_media(payload: bytes, media_type: str):  # pragma: no cover
    """Decode an encoded media payload to pixels / samples / frames.

    STUB: the image/audio libraries are not available in this
    environment.  A deployment implements this with PIL / soundfile /
    pyav and keeps the surrounding plumbing unchanged.
    """
    raise NotImplementedError(
        "media codecs are not bundled in this environment; "
        "plug PIL/soundfile/pyav into decode_media()")


def _byte_histograms_batch(payloads: list[bytes], bins: int) -> np.ndarray:
    """All rows of one Arrow batch in a single vectorized pass: flatten
    every payload into one uint8 buffer, bin with integer arithmetic
    (exact match to np.histogram's uniform edges over [0,256)), and
    accumulate per-row counts with one bincount over row*bins+bin keys.
    Replaces a per-row np.histogram loop that dominated the stage."""
    n = len(payloads)
    lengths = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
    total = int(lengths.sum())
    if total == 0:
        return np.zeros((n, bins), dtype=np.float32)
    flat = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
    row_ids = np.repeat(np.arange(n, dtype=np.int64), lengths)
    bin_idx = (flat * bins) >> 8  # uniform bins over [0, 256)
    counts = np.bincount(row_ids * bins + bin_idx,
                         minlength=n * bins).reshape(n, bins)
    return (counts / np.maximum(lengths, 1)[:, None]).astype(np.float32)


def extract_features(media: DataFrame, bins: int = FEATURE_DIM) -> DataFrame:
    """Feature-extraction stage over a media table: ``mapInPandas`` so
    each Arrow batch of binary payloads is processed vectorized, one
    model/codec init per task.  This is the exact plan shape a real
    image-embedding stage uses at 100 TB (scan -> narrow map, no
    shuffle)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p if p is not None else b"" for p in pdf["payload"]]
            feats = _byte_histograms_batch(payloads, bins)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": np.fromiter((len(p) for p in payloads),
                                       dtype=np.int64, count=len(payloads)),
                "features": list(feats),
            })

    # prune to the three consumed columns BEFORE the Arrow transfer
    # (r14 review): mapInPandas serializes every input column per
    # batch — on a wide media table the unused metadata is pure
    # transfer overhead on the hot path (perceptual_simhash below
    # already does this)
    return (media.select("media_id", "media_type", "payload")
            .mapInPandas(op, schema=FEATURES_SCHEMA))


PERCEPTUAL_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("fp", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), False),
])


def perceptual_simhash(media: DataFrame, bits: int = 32,
                       window: int = 8, stride: int = 4) -> DataFrame:
    """Perceptual fingerprint of an opaque media payload: SimHash over
    strided byte windows — bit b of the fingerprint is the sign of the
    vote sum, over every *window*-byte slice at offsets 0, stride,
    2*stride, ..., of (+1 if bit b of the slice's 48-bit md5-prefix
    hash else -1).

    Truncation/re-encode resilience comes from the vote structure: a
    corrupted copy shares most strided windows with its original, so
    most bit majorities survive and the two fingerprints land within a
    small hamming distance, while unrelated payloads get independent
    window hashes and an expected distance of bits/2.  This is the
    byte-stream analog of text SimHash (operators/dedup.py) and stands
    in for a real perceptual hash (pHash/chromaprint) exactly like the
    byte-histogram features stand in for CNN embeddings — same narrow
    mapInPandas plan shape, no codec needed.

    Integer-exact by construction (md5 prefix + integer votes), so a
    DuckDB oracle reproduces it bit-for-bit on text-byte payloads —
    contract/embedding.py multimodal_dedup_near value-checks the near-dup
    pipeline end to end.  Scale: narrow map riding the scan (no
    shuffle); downstream pairing is hamming-blocked
    (dedup.hamming_pairs), never all-pairs."""
    if not 1 <= bits <= 48:
        # the vote source is a 48-bit md5 prefix: bit positions past
        # 47 are ALWAYS 0, so votes there are uniformly -1 and the
        # high fingerprint bits freeze at 0 — silently shrinking the
        # expected unrelated-pair hamming distance (and bit 63 would
        # wrap into the int64 sign); refuse instead (r14 review)
        raise ValueError(
            f"bits ({bits}) must be 1..48 (the md5-prefix hash width)")
    import hashlib

    bit_w = np.arange(bits, dtype=np.int64)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps, lens = [], []
            for p in pdf["payload"]:
                p = bytes(p) if p is not None else b""
                lens.append(len(p))
                if len(p) >= window:
                    n_wins = (len(p) - window) // stride + 1
                    wins = [p[i * stride:i * stride + window]
                            for i in range(n_wins)]
                elif p:
                    # a sub-window payload still gets a non-degenerate
                    # fingerprint: ONE window spanning the whole
                    # payload — zero windows would vote fp=0 for every
                    # short payload, pairing unrelated media at
                    # hamming 0 (the empty payload alone keeps fp 0)
                    wins = [p]
                else:
                    wins = []
                votes = np.zeros(bits, dtype=np.int64)
                for w in wins:
                    h = int(hashlib.md5(w).hexdigest()[:12], 16)
                    votes += np.where((h >> bit_w) & 1 == 1, 1, -1)
                fps.append(int(((votes > 0).astype(np.int64)
                                << bit_w).sum()))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "fp": pd.array(fps, dtype="int64"),
                "n_bytes": pd.array(lens, dtype="int64"),
            })

    return media.select("media_id", "payload").mapInPandas(
        op, schema=PERCEPTUAL_SCHEMA)


RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), True),
])


def resize_images(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize stage: image rows are decoded, resampled to
    (target_w, target_h) and re-encoded; non-image rows pass through
    untouched.  Narrow ``mapInPandas`` — one codec init per task, no
    shuffle, the exact plan shape of a production thumbnail stage.

    The resample itself is STUBBED (no PIL in this container) with a
    deterministic truncate/zero-pad to ``target_w*target_h`` bytes —
    the fake raster keeps the byte-count contract (payload size ==
    W*H) so schema, batch shape and metadata are fully testable; a
    deployment swaps the two marked lines for
    ``decode_media`` + ``Image.resize``.
    """
    target = target_w * target_h

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload, out_w, out_h = [], [], []
            for p, mt, w, h in zip(pdf["payload"], pdf["media_type"],
                                   pdf["width"], pdf["height"]):
                p = p if p is not None else b""
                if mt == "image":
                    # STUB resample: deployment = decode_media(p, mt)
                    # then Image.resize((target_w, target_h)).tobytes()
                    p = p[:target] + b"\x00" * max(0, target - len(p))
                    w, h = target_w, target_h
                out_payload.append(p)
                out_w.append(w)
                out_h.append(h)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "width": pd.array(out_w, dtype="Int32"),
                "height": pd.array(out_h, dtype="Int32"),
                "payload": out_payload,
            })

    return media.mapInPandas(op, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame_bytes", T.LongType(), False),
    T.StructField("n_frames", T.LongType(), False),
    T.StructField("frame_payload", T.BinaryType(), True),
])


def sample_frames(media: DataFrame, frame_size: int = 256,
                  stride: int = 2) -> DataFrame:
    """Frame-sampling stage: each video payload fans out to every
    *stride*-th frame — the UDTF-shaped ``mapInPandas`` (rows out >
    rows in) a video pipeline uses before per-frame embedding.

    Frame extraction is STUBBED (no pyav here): a "frame" is the next
    ``frame_size``-byte slice of the payload, deterministic and
    metadata-faithful (n_frames = ceil(bytes/frame_size)); a deployment
    replaces the slicing with container demux + keyframe decode and
    keeps the fan-out plan shape.

    Scale note: output partitioning inherits the input's — no shuffle;
    downstream per-frame work sees ~len/stride/frame_size times the
    rows, so size ``maxRecordsPerBatch`` for the EXPANDED batch.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, totals, frames = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = p if p is not None else b""
                n_frames = max(1, -(-len(p) // frame_size))
                for i in range(0, n_frames, stride):
                    chunk = p[i * frame_size:(i + 1) * frame_size]
                    ids.append(mid)
                    idxs.append(i)
                    sizes.append(len(chunk))
                    totals.append(n_frames)
                    frames.append(chunk)
            yield pd.DataFrame({
                "media_id": ids,
                "frame_idx": pd.array(idxs, dtype="int32"),
                "frame_bytes": pd.array(sizes, dtype="int64"),
                "n_frames": pd.array(totals, dtype="int64"),
                "frame_payload": frames,
            })

    return media.mapInPandas(op, schema=FRAMES_SCHEMA)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents fixture: the
    text bytes become the opaque payload.  Exercises the full binary
    pipeline deterministically (no media fixture exists)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
         .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
         .otherwise(F.lit("video")).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
