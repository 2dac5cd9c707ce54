"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride Spark as ``binary`` columns with a metadata struct;
decode / feature-extract run as Arrow-batched pandas functions over
``mapInPandas`` — the Spark-side plumbing (schema, batching, partition
shape) is real and tested, while the actual codec calls are STUBBED
(deterministic fake geometry from the payload length, inside
:func:`decode_batch`) because no image/audio libraries exist in this
environment. Swap the stub for PIL/torchvision/ffmpeg calls in a real
deployment; nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the decode stage: id + payload stats + fake geometry.
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def attach_binary_payload(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of the text stand in for
    an image blob, plus typed metadata (content type, byte size)."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("content_type"),
            F.octet_length(F.col(text_col)).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_batch(
    media: DataFrame, batch_size: int = 1024
) -> DataFrame:
    """Decode payloads via Arrow-batched ``mapInPandas``.

    Each python worker receives arrow record batches, loops the stub
    decoder over the binary column, and emits typed rows — the exact shape
    a real image/audio decode pipeline uses at scale (per-partition
    batching, no driver collect, columnar transfer).
    """

    # NOTE: the worker-side closure must be self-contained (builtins +
    # pandas only). Referencing module globals (e.g. a decoder helper)
    # would make cloudpickle serialize them *by module reference*, and
    # executors that don't have this package on PYTHONPATH would fail
    # with ModuleNotFoundError. Same rule a real cluster deployment
    # follows unless the package is shipped via addPyFile/--py-files.
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                # STUB geometry; a real decoder would read it from e.g.
                # PIL.Image.open(io.BytesIO(b)).width/.height/.n_frames
                out.append((doc_id, n, n % 640, (n * 7) % 480, 1 + n % 3))
            yield _pd.DataFrame(
                out, columns=["doc_id", "n_bytes", "width", "height", "n_frames"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        decode, schema=DECODED_SCHEMA
    )


#: Output schema of the resize stage: payload back as binary (real
#: pipelines chain decode -> transform -> re-encode without leaving
#: the executor).
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("out_w", T.LongType()),
        T.StructField("out_h", T.LongType()),
    ]
)


def resize_batch(
    media: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """STUB resize via ``mapInPandas``: emits a truncated/padded payload
    standing in for re-encoded pixels (real body: PIL ``img.resize``).
    The plumbing — binary in, binary out, geometry clamped to the target
    box preserving aspect — is the real pipeline shape."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                w, h = n % 640, (n * 7) % 480  # stub decode geometry
                scale = min(
                    target_w / w if w else 1.0, target_h / h if h else 1.0
                )
                ow, oh = int(w * scale), int(h * scale)
                fake = (b * ((target_w * target_h) // max(n, 1) + 1))[
                    : max(ow, 1) * max(oh, 1) % 4096
                ]
                out.append((doc_id, fake, ow, oh))
            yield _pd.DataFrame(
                out, columns=["doc_id", "payload", "out_w", "out_h"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        resize, schema=RESIZED_SCHEMA
    )


#: One row per sampled frame.
FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """STUB video frame sampling: the stub decoder reports 1-3 frames per
    payload; emit one row per ``every_n``-th frame (real body: ffmpeg
    seek+decode). Row-explosion happens executor-side inside the pandas
    batch — no driver involvement, partitioning preserved."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(bytes(payload))
                n_frames = 1 + n % 3  # stub decode
                for i in range(0, n_frames, every_n):
                    out.append((doc_id, i, n // n_frames))
            yield _pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "frame_bytes"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        sample, schema=FRAMES_SCHEMA
    )


#: Fake feature vectors (double for cross-engine exactness in tests;
#: a real extractor emits float32).
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """STUB feature extraction: deterministic pseudo-embedding from the
    payload bytes (real body: a vision/audio encoder forward pass).
    feature[i] = ((n_bytes * 31 + i) % 97) / 97.0 — arithmetic on both
    engines, so the oracle can recompute it exactly."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            ids, vecs = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(bytes(payload))
                ids.append(doc_id)
                vecs.append([((n * 31 + i) % 97) / 97.0 for i in range(dim)])
            yield _pd.DataFrame({"doc_id": ids, "features": vecs})

    return media.select("doc_id", "payload").mapInPandas(
        extract, schema=FEATURES_SCHEMA
    )


#: Windowed audio stats: one row per fixed-size sample window.
AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_idx", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.LongType()),
    ]
)


def audio_window_stats(
    media: DataFrame, window_samples: int = 256
) -> DataFrame:
    """STUB audio analysis: treat the payload bytes as unsigned 8-bit
    PCM samples and emit per-window RMS + peak (real body: soundfile/
    librosa decode then the same windowed reduction). The window
    explosion and the numeric reduction both run executor-side inside
    the Arrow batch — the exact shape a real waveform featurizer has;
    only the decode call is fake."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = _np.frombuffer(bytes(payload), dtype=_np.uint8)
                for w in range(0, len(samples), window_samples):
                    chunk = samples[w : w + window_samples].astype("float64")
                    out.append(
                        (
                            doc_id,
                            w // window_samples,
                            len(chunk),
                            round(float(_np.sqrt((chunk**2).mean())), 6),
                            int(chunk.max()),
                        )
                    )
            yield _pd.DataFrame(
                out,
                columns=[
                    "doc_id", "window_idx", "n_samples", "rms", "peak",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        stats, schema=AUDIO_SCHEMA
    )
