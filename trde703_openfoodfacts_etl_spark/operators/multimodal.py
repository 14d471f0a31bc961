"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partition-friendly
layout, Arrow batch shapes, mapInPandas signatures; only the codec kernels
are stubbed (no image/audio codec library is a dependency) behind
clearly-marked deterministic fakes.

Design for 100 TB: media bytes live in their own column so Parquet column
pruning skips them unless the query touches them; decode/feature steps are
``mapInPandas`` (streaming Arrow batches, bounded memory via
spark.sql.execution.arrow.maxRecordsPerBatch) — never collect, never
per-row Python. The ``mapInPandas`` function calls
:func:`~trde703_openfoodfacts_etl_spark.forget_zip_importers` first, as
every Python function the package hands to Spark does.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import forget_zip_importers


def media_from_documents(docs):
    """Derive a deterministic media table FROM the documents table: every
    column is a pure Spark-native expression of (doc_id, text), so an
    independent SQL engine can reproduce the exact same table and verify
    the decode output.

    payload = UTF-8 bytes of the first 2048 characters of the ASCII-stripped
    text (an opaque stand-in for real image/audio bytes);
    kind/width/height/duration are arithmetic on doc_id. The decode path downstream treats payload as opaque bytes —
    the mapInPandas plumbing is identical to the real-codec case.
    """
    ascii_text = F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"[^\x20-\x7e]", "")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("mime"),
        F.when(kind != "audio", (F.lit(64) + F.pmod(F.col("doc_id") * 7, F.lit(1856))).cast("int"))
        .alias("width"),
        F.when(kind != "audio", (F.lit(64) + F.pmod(F.col("doc_id") * 13, F.lit(1016))).cast("int"))
        .alias("height"),
        F.when(kind != "image", (F.lit(1000) + F.pmod(F.col("doc_id") * 17, F.lit(59000))).cast("int"))
        .alias("duration_ms"),
        F.encode(F.substring(ascii_text, 1, 2048), "UTF-8").alias("payload"),
    )


def _decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB: real impl would be PIL/opencv decode. Deterministic fake:
    payload bytes tiled into a (8, 8, 3) uint8 'thumbnail'."""
    arr = np.frombuffer(payload[:192].ljust(192, b"\0"), dtype=np.uint8)
    return arr.reshape(8, 8, 3)


def decode_features(df):
    """image/audio → fixed-width feature vector via mapInPandas.

    Output schema: media_id, kind, feat array<float> (16-dim). The decode
    kernel is stubbed (deterministic); the distributed plumbing — binary
    Arrow transfer, per-batch numpy, schema contract — is real.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("feat", T.ArrayType(T.FloatType()), True),
            # exact-integer feature (sum of the first 192 payload bytes):
            # float-free, so an external oracle can verify the decode path
            # bit-for-bit
            T.StructField("byte_sum", T.LongType(), True),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        for pdf in batches:
            feats = []
            byte_sums = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                if payload is None:
                    feats.append(None)
                    byte_sums.append(None)
                    continue
                byte_sums.append(
                    int(np.frombuffer(payload[:192], dtype=np.uint8).sum())
                )
                if kind == "image":
                    thumb = _decode_image_stub(payload)
                    f = thumb.mean(axis=(0, 1)).tolist() + thumb.std(axis=(0, 1)).tolist()
                    f = (f * 3)[:16]
                else:
                    # STUB: audio/video feature extraction (librosa/ffmpeg absent)
                    arr = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8)
                    f = arr.astype(np.float32).reshape(16, 4).mean(axis=1).tolist()
                feats.append([float(x) for x in f])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feat": feats,
                    "byte_sum": pd.array(byte_sums, dtype="Int64"),
                }
            )

    return df.mapInPandas(op, out_schema)
