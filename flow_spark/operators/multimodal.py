"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The container has no image/audio libraries, so DECODERS ARE STUBBED — a
clearly-marked NotImplementedError path plus a deterministic fake used by
tests/queries.  Everything Spark-side is real: BinaryType columns, Arrow
batch shapes, mapInPandas plumbing, partition sizing.

Schema convention for a multimodal table:

    asset_id long, media_type string, payload binary,
    meta map<string,string>   -- e.g. {"mime": "image/png", "w": "640"}

At 100 TB the payloads dominate: keep them in their own parquet column
(never in a struct with hot columns) so column pruning skips the bytes
unless the operator needs them; partition by size so Arrow batches stay
inside executor memory (`spark.sql.files.maxPartitionBytes`).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "asset_id long, byte_len long, first_byte int, sha_prefix string, n_frames int"
)


def decode_image(payload: bytes):  # pragma: no cover - stub
    """Decode an image payload to HxWxC. STUB: pillow/opencv not in image."""
    raise NotImplementedError(
        "image decode requires pillow/opencv (not in this container); "
        "production would decode inside extract_features' batch loop"
    )


def fake_decode_frames(payload: bytes, frame_size: int = 1000) -> int:
    """Deterministic stand-in for a video frame-sampler: number of
    frame_size-byte 'frames' the payload would yield (ceil)."""
    return (len(payload) + frame_size - 1) // frame_size


def extract_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Real plumbing (Arrow batches of binary columns, per-batch vectorized
    work); the decode itself is the deterministic fake. The iterator shape
    keeps memory at one Arrow batch regardless of partition size.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "byte_len": payloads.map(len),
                    "first_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                    "sha_prefix": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()[:8]
                    ),
                    "n_frames": payloads.map(fake_decode_frames),
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "asset_id long, frame_idx int, frame_len int, frame_md5 string"


def sample_frames(
    df: DataFrame,
    frame_size: int = 500,
    every_n: int = 2,
    payload_col: str = "payload",
) -> DataFrame:
    """Video-style frame sampling: explode each payload into every Nth
    frame_size-byte 'frame' (1 input row -> many output rows — the batch
    shape a real ffmpeg sampler has).  The frame extraction is the
    deterministic fake (byte slicing); the mapInPandas plumbing, schema
    and fan-out are the real thing.  Skew note: one huge video -> many
    frames from one input row; mapInPandas emits per Arrow batch, so a
    repartition AFTER sampling rebalances downstream work.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, md5s = [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf[payload_col]):
                b = bytes(payload)
                n = fake_decode_frames(b, frame_size)
                for i in range(0, n, every_n):
                    frame = b[i * frame_size : (i + 1) * frame_size]
                    ids.append(aid)
                    idxs.append(i)
                    lens.append(len(frame))
                    md5s.append(hashlib.md5(frame).hexdigest()[:8])
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "frame_len": lens, "frame_md5": md5s}
            )

    return df.mapInPandas(run, schema=FRAME_SCHEMA)


def resize_payload(df: DataFrame, size: int = 256, payload_col: str = "payload") -> DataFrame:
    """Image-resize stand-in: normalize every payload to exactly `size`
    bytes (truncate / space-pad).  Real resize would decode+interpolate in
    the same Arrow-batched loop (see decode_image stub); the binary ->
    binary column contract, schema and batching are identical.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf[payload_col].map(
                lambda b: bytes(b)[:size].ljust(size, b" ")
            )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": resized,
                    "new_len": resized.map(len),
                    "payload_md5": resized.map(
                        lambda b: hashlib.md5(b).hexdigest()[:8]
                    ),
                }
            )

    return df.mapInPandas(
        run, schema="asset_id long, payload binary, new_len int, payload_md5 string"
    )


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as a fake media payload so the
    multimodal plumbing is exercised by the fixture corpus."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text/fake").alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("meta"),
    )


BLOCK_FEATURES = 8
_BLOCK_SCHEMA = "asset_id long, " + ", ".join(
    f"f{b} long" for b in range(BLOCK_FEATURES)
)


def blockmean_embedding(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Fake-decode -> fixed-size feature vector: bytes as intensities,
    8 equal spans, integer mean per span (sum // span_len).

    This is the media-embedding extractor's exact production shape — Arrow
    batch in, numpy per batch, fixed-width vector out — with the decode
    step replaced by the deterministic byte interpretation (per the
    no-codec-libs gate).  All-integer arithmetic so the features are
    engine-exact and the pipeline stays oracle-checkable end-to-end.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": pdf["asset_id"]}
            feats = [[] for _ in range(BLOCK_FEATURES)]
            for payload in pdf[payload_col]:
                a = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = len(a)
                for b in range(BLOCK_FEATURES):
                    lo, hi = b * n // BLOCK_FEATURES, (b + 1) * n // BLOCK_FEATURES
                    span = a[lo:hi]
                    feats[b].append(int(span.sum()) // max(len(span), 1))
            for b in range(BLOCK_FEATURES):
                out[f"f{b}"] = feats[b]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=_BLOCK_SCHEMA)


SCENE_CUT_SCHEMA = "asset_id long, frame_idx int, delta long"


def scene_cuts(
    df: DataFrame,
    frame_size: int = 100,
    threshold: int = 300,
    payload_col: str = "payload",
) -> DataFrame:
    """Video scene-boundary detection, fake-decode edition: each payload
    splits into frame_size-byte 'frames', per-frame feature = the exact
    byte-intensity sum, and a cut is flagged wherever consecutive frames
    differ by more than `threshold` — the shot-segmentation pass a video
    curation pipeline runs before per-scene sampling.  The per-frame
    feature is the deterministic fake (a real pipeline plugs a decoder +
    histogram/embedding here); the mapInPandas batch shape, the
    1-row -> N-cuts fan-out, and the exact integer thresholding are the
    real thing.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            idxs: list = []
            deltas: list = []
            for aid, payload in zip(pdf["asset_id"], pdf[payload_col]):
                b = bytes(payload)
                n = fake_decode_frames(b, frame_size)
                feats = [
                    sum(b[i * frame_size : (i + 1) * frame_size])
                    for i in range(n)
                ]
                for i in range(1, n):
                    d = abs(feats[i] - feats[i - 1])
                    if d > threshold:
                        ids.append(aid)
                        idxs.append(i)
                        deltas.append(d)
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "delta": pd.Series(deltas, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=SCENE_CUT_SCHEMA)
