"""ManifestIO seam: the lake runs unchanged against a non-filesystem
catalog backend — manifests live in a dict (standing in for an object
store / catalog service with conditional-PUT semantics), data files stay
on local disk through Spark's own FS layer."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch  # noqa: E402
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA  # noqa: E402
from trde703_openfoodfacts_etl_spark.sources.fileio import LocalManifestIO  # noqa: E402
from trde703_openfoodfacts_etl_spark.sources.lake import (  # noqa: E402
    LakeTable,
    SnapshotConflict,
)

from helpers import assert_states_equal, lake_state_pdf, make_events  # noqa: E402


class InMemoryCatalogIO(LocalManifestIO):
    """Manifest JSON in a dict with conditional-PUT CAS; everything else
    (data-file listing, footer stats, vacuum walks) delegates to local FS —
    exactly the split a real object-store deployment has."""

    def __init__(self):
        self.objects: dict[str, dict] = {}
        self.cas_conflicts = 0

    def _is_manifest(self, path: str) -> bool:
        return path.endswith(".json") and "manifests" in path

    def list_names(self, dir_path: str) -> list[str]:
        if os.path.basename(dir_path.rstrip("/")) == "manifests":
            return [os.path.basename(p) for p in self.objects
                    if os.path.dirname(p) == dir_path.rstrip("/")]
        return super().list_names(dir_path)

    def read_json(self, path: str) -> dict:
        if self._is_manifest(path):
            return self.objects[path]
        return super().read_json(path)

    def write_json_if_absent(self, path: str, obj: dict) -> None:
        if self._is_manifest(path):
            if path in self.objects:  # conditional PUT: If-None-Match failed
                self.cas_conflicts += 1
                raise FileExistsError(path)
            self.objects[path] = obj
            return
        super().write_json_if_absent(path, obj)

    def remove(self, path: str) -> None:
        if self._is_manifest(path):
            del self.objects[path]
            return
        super().remove(path)


def test_lake_runs_on_custom_catalog_backend(spark, tmp_path):
    io = InMemoryCatalogIO()
    root = str(tmp_path / "lake_mem")
    lake = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4, io=io)

    batch = make_events(spark, [
        ("I", 1, "c1", 0, "user", "hi", None, 10),
        ("I", 2, "c1", 1, "assistant", "yo", None, 11),
        ("U", 3, "c1", 1, "assistant", "yo v2", None, 12),
        ("I", 4, "c2", 0, "user", "hey", None, 13),
    ])
    apply_batch(lake, batch, batch_id=1)
    # NO manifest json ever touched the filesystem
    assert not [f for f in os.listdir(os.path.join(root, "manifests")) if f.endswith(".json")]
    assert len(io.objects) >= 2  # init + commit

    got = lake_state_pdf(lake)
    assert list(got["text"]) == ["hi", "yo v2", "hey"]

    # delete + second batch through the same backend
    batch2 = make_events(spark, [("D", 5, "c1", 0, "user", None, None, 20)])
    apply_batch(lake, batch2, batch_id=2)
    assert list(lake_state_pdf(lake)["text"]) == ["yo v2", "hey"]

    # CAS: re-committing an existing snapshot id conflicts (object-store
    # conditional-PUT semantics)
    head = lake.snapshot()
    with pytest.raises(SnapshotConflict):
        lake._write_snapshot(head)
    assert io.cas_conflicts == 1

    # exactly-once: replaying batch 1 through the custom backend is a no-op
    res = apply_batch(lake, batch, batch_id=1)
    assert res.get("skipped_replay") is True
    assert list(lake_state_pdf(lake)["text"]) == ["yo v2", "hey"]


def test_vacuum_through_custom_backend(spark, tmp_path):
    io = InMemoryCatalogIO()
    root = str(tmp_path / "lake_mem2")
    lake = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=2, io=io)
    for i, txt in enumerate(["a", "b", "c"], start=1):
        apply_batch(lake, make_events(spark, [("U", i, "c1", 0, "user", txt, None, 10 + i)]), i)
    n_manifests_before = len(io.objects)
    removed = lake.vacuum(keep_snapshots=1)
    assert removed, "older-epoch data files should have been vacuumed"
    assert len(io.objects) < n_manifests_before  # old manifests dropped from the catalog
    assert list(lake_state_pdf(lake)["text"]) == ["c"]


def test_list_segments_skips_hidden_and_inflight_paths(tmp_path):
    """A concurrent Spark writer stages uncommitted task files under
    _temporary/ and drops markers like _SUCCESS; the WAL listing feeds
    EXPLICIT-path reads that bypass Spark's hidden-file filter, so it must
    apply the same hidden-path convention itself (dot/underscore-prefixed
    components) or a concurrent append leaks mid-write files into a batch."""
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import list_segments

    wal = tmp_path / "wal"
    (wal / "segment=0").mkdir(parents=True)
    (wal / "segment=0" / "part-00000.parquet").write_bytes(b"x")
    (wal / "segment=0" / ".part-00001.parquet.crc").write_bytes(b"x")
    (wal / "segment=0" / "_committing.parquet").write_bytes(b"x")
    (wal / "_temporary" / "0" / "task_1").mkdir(parents=True)
    (wal / "_temporary" / "0" / "task_1" / "part-00000.parquet").write_bytes(b"x")
    (wal / "_SUCCESS").write_bytes(b"")
    got = list_segments(str(wal))
    assert got == [str(wal / "segment=0" / "part-00000.parquet")]


def test_list_segments_refuses_non_parquet_data_files(tmp_path):
    """The WAL is parquet only: a non-hidden file of another format next to
    valid segments makes the listing raise, naming the file, so neither
    driver skips it silently. Hidden files stay skipped."""
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import list_segments

    wal = tmp_path / "wal"
    (wal / "segment=0").mkdir(parents=True)
    (wal / "segment=0" / "part-00000.parquet").write_bytes(b"x")
    (wal / "segment=0" / ".part-00000.parquet.crc").write_bytes(b"x")
    (wal / "_SUCCESS").write_bytes(b"")
    (wal / "segment=3.parquet").write_bytes(b"x")
    assert len(list_segments(str(wal))) == 2

    for foreign in ("segment=1.orc", "segment=2.jsonl"):
        (wal / foreign).write_bytes(b"x")
        with pytest.raises(ValueError, match=foreign):
            list_segments(str(wal))
        (wal / foreign).unlink()


def test_parquet_stats_reads_tombstones_and_max_lsn_from_footer(tmp_path):
    """Tombstones are the _row_hash null count (row groups that are all
    tombstones carry only a null count, no min/max); a footer without
    statistics is an error, not a silent zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({
        "conv_id": ["a", "b", "c", "d"],
        "_lsn": pa.array([7, 3, 9, 5], pa.int64()),
        "_row_hash": pa.array([11, None, None, None], pa.int64()),
    })
    path = str(tmp_path / "f.parquet")
    pq.write_table(t, path, row_group_size=2)  # row group 2 is all NULL
    rows, nbytes, tombstones, max_lsn = LocalManifestIO().parquet_stats(path)
    assert (rows, tombstones, max_lsn) == (4, 3, 9) and nbytes == os.path.getsize(path)

    pq.write_table(t, path, write_statistics=False)
    with pytest.raises(ValueError, match="footer statistics"):
        LocalManifestIO().parquet_stats(path)
