"""The manifest introspection tool."""

from __future__ import annotations

import json
import subprocess
import sys

from trde703_openfoodfacts_etl_spark.inspect_cli import inspect_lake
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable

from helpers import make_events


def test_inspect_lake_manifest_only(spark, tmp_path):
    from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    apply_batch(lake, make_events(spark, [("I", 1, "c1", 0, "user", "a", None, 100)]), 0)
    apply_batch(lake, make_events(spark, [("D", 2, "c1", 0, None, None, None, 200)]), 1)
    rpt = inspect_lake(str(tmp_path / "lake"))
    assert rpt["snapshots"] == 3 and rpt["current_snapshot"] == 2
    assert rpt["streams"] == {"default": 1}
    assert sum(b["tombstones"] for b in rpt["buckets"].values()) == 1
    assert rpt["watermark_ts"] and rpt["watermark_ts"] > 0
    # CLI smoke (no Spark session needed)
    out = subprocess.run(
        [sys.executable, "-m", "trde703_openfoodfacts_etl_spark.inspect_cli",
         "--lake", str(tmp_path / "lake"), "--json"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0
    assert json.loads(out.stdout)["current_snapshot"] == 2
