"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched pandas iterators (north-star surface).

Pattern: image/audio/video bytes travel as a ``binary`` column next to
typed metadata; decode / feature-extract / resize / frame-sample run as
``mapInPandas`` stages — Arrow moves each partition to Python in
columnar batches (no per-row pickling), and the output schema is
declared up front so Catalyst can keep planning around the stage.

The media decoding is STUBBED: ``extract_features`` computes real,
deterministic byte-level features (size, sha256, a fake width/height
derived from the digest) through the same batch plumbing a cv2/PIL
decoder would use, so every multimodal query's output is
environment-independent and oracle-replayable. A real decoder would
replace ``_decode_stub`` and nothing else.

Scale notes: mapInPandas processes a partition as an iterator of
batches, so memory is bounded by spark.sql.execution.arrow
.maxRecordsPerBatch regardless of blob sizes; repartition upstream by a
size-balancing key when blob sizes are heavily skewed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def attach_fake_payload(docs: DataFrame) -> DataFrame:
    """Deterministic stand-in payload: the document text as UTF-8 bytes.

    At scale the payload column comes from the lakehouse (parquet binary
    / object-store pointers); this keeps the downstream plumbing real
    while the container lacks media files.
    """
    return docs.select(
        "doc_id",
        F.lit("image/fake").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def _decode_stub(payload: bytes) -> tuple[int, int]:
    """Deterministic fake of a decoder's (width, height): derived from
    the payload digest so tests are stable and the oracle can reproduce
    it (width = first 2 digest bytes mod 640, height = next 2 mod 480)."""
    d = hashlib.sha256(payload).digest()
    return (d[0] << 8 | d[1]) % 640, (d[2] << 8 | d[3]) % 480


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def _resize_stub(w: int, h: int, max_dim: int) -> tuple[int, int]:
    """Aspect-preserving thumbnail dims in pure integer arithmetic (so
    the oracle can replay it): no-op when already within max_dim, else
    scale the long edge to max_dim with floor division."""
    m = max(w, h)
    if m <= max_dim:
        return w, h
    return w * max_dim // m, h * max_dim // m


def resize_images(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """Resize stage: decode dims (stub), compute thumbnail dims, pass
    payload metadata through — the same mapInPandas shape a real
    PIL.thumbnail/cv2.resize stage has (it would additionally re-encode
    the payload; the dims contract is what downstream planning sees)."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            dims = [_decode_stub(bytes(p)) for p in pdf["payload"]]
            new_dims = [_resize_stub(w, h, max_dim) for w, h in dims]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "new_width": [w for w, _ in new_dims],
                    "new_height": [h for _, h in new_dims],
                }
            )

    return media.mapInPandas(batches, schema=RESIZE_SCHEMA)


def sample_frames(media: DataFrame, frame_bytes: int = 16, every: int = 4) -> DataFrame:
    """Frame-sampling stage: treat the payload as a fake fixed-rate video
    (one frame per ``frame_bytes`` bytes), keep every ``every``-th frame,
    emit one output row per sampled frame with a content digest.

    The explode-in-Python shape (N input rows → variable output rows) is
    exactly what a real ffmpeg/pyav frame sampler produces; memory stays
    bounded because mapInPandas hands partitions over as an iterator of
    Arrow batches regardless of per-payload fan-out."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids: list[int] = []
            idxs: list[int] = []
            shas: list[str] = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                for i in range(0, len(b) // frame_bytes, every):
                    ids.append(doc_id)
                    idxs.append(i)
                    shas.append(
                        hashlib.sha256(b[i * frame_bytes : (i + 1) * frame_bytes]).hexdigest()
                    )
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_sha": shas})

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Byte + decode features via mapInPandas over Arrow batches. The
    dimensions are ``_decode_stub``'s deterministic fakes derived from
    the payload digest."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            dims = [_decode_stub(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(bytes(p)) for p in payloads],
                    "sha256": [hashlib.sha256(bytes(p)).hexdigest() for p in payloads],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)
