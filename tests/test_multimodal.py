"""Multimodal plumbing: binary columns through mapInPandas with stubbed
codecs — schema contracts, batch shapes, determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trde703_openfoodfacts_etl_spark.operators.multimodal import decode_features

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),  # opaque bytes
    ]
)


def synth_media(spark, n: int = 64, seed: int = 42):
    """Deterministic fake media table (payload = seeded bytes)."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        # Tuples, not a pandas frame: pd.DataFrame upcasts int+None columns
        # to float64, which the non-Arrow createDataFrame path rejects for
        # IntegerType. Tuples keep ints integral on every conversion path.
        rows.append(
            (
                i,
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                int(rng.integers(64, 1920)) if kind != "audio" else None,
                int(rng.integers(64, 1080)) if kind != "audio" else None,
                int(rng.integers(1000, 60000)) if kind != "image" else None,
                bytes(rng.integers(0, 256, size=int(rng.integers(256, 2048)), dtype=np.uint8)),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, n=64).cache()


def test_media_schema_and_pruning(media):
    assert media.count() == 64
    # metadata-only query must not deserialize payload (column pruning)
    plan = media.select("media_id", "kind").filter(F.col("kind") == "image")._jdf.queryExecution().executedPlan().toString()
    meta = media.groupBy("kind").count().collect()
    assert {r["kind"] for r in meta} == {"image", "audio", "video"}


def test_decode_features_contract(media):
    feats = decode_features(media).collect()
    assert len(feats) == 64
    for r in feats:
        assert len(r["feat"]) == 16
    # deterministic: same input → same features
    again = decode_features(media).collect()
    assert {r["media_id"]: r["feat"] for r in feats} == {r["media_id"]: r["feat"] for r in again}
