"""The shared merge-on-read delta layout: a MOR batch writes one key-sorted
file per write task, every bucket the batch touched lists it, and every
read path keeps exactly the rows of the buckets that still list it — after
a partial compaction, under a copy-on-write batch, under bucket pruning,
time travel and ``changes()`` — while vacuum keeps a shared file as long as
any kept snapshot names it."""

from __future__ import annotations

import os
import shutil

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from trde703_openfoodfacts_etl_spark.inspect_cli import inspect_lake
from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import (
    LakeTable,
    bucket_expr,
    distinct_files,
)
from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

from helpers import assert_states_equal, duckdb_replay_oracle, make_events

NUM_BUCKETS = 8
STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@pytest.fixture(scope="module")
def wal_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("walshared") / "wal"
    generate_segments(str(d), n_convs=80, n_events=3_000, n_segments=3, seed=53)
    return str(d)


def _state(df) -> pd.DataFrame:
    return df.select(*STATE_COLS).orderBy("conv_id", "turn_idx").toPandas()


def _bucket_of(spark, convs) -> dict[str, int]:
    return {
        r["conv_id"]: r["b"]
        for r in spark.createDataFrame([(c,) for c in sorted(set(convs))], "conv_id string")
        .select("conv_id", bucket_expr(NUM_BUCKETS).alias("b"))
        .collect()
    }


def _delta_paths(snap) -> dict[str, set[int]]:
    """Delta file path → the buckets that list it."""
    return {
        path: listing
        for path, (fe, listing) in distinct_files(snap).items()
        if fe.get("delta")
    }


def _data_files(root) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(os.path.join(root, "data"))
        for f in fs
        if f.endswith(".parquet")
    )


def _assert_reads_match(spark, lake, oracle, snapshot_id=None):
    """The full read and every single-bucket read against the oracle."""
    assert_states_equal(_state(lake.read(snapshot_id=snapshot_id)), oracle)
    bucket = oracle["conv_id"].map(_bucket_of(spark, oracle["conv_id"]))
    for b in range(NUM_BUCKETS):
        assert_states_equal(
            _state(lake.read(snapshot_id=snapshot_id, buckets=[b])), oracle[bucket == b]
        )
    assert_states_equal(
        _state(lake.read(snapshot_id=snapshot_id, buckets=[1, 5])),
        oracle[bucket.isin([1, 5])],
    )


def test_mor_batch_writes_one_file_per_write_task(spark, tmp_path, wal_dir):
    """With partition coalescing off the delta write runs one task per
    shuffle partition: each task writes one key-sorted file straight under
    the epoch dir, each touched bucket lists every file, and the batch
    metrics, inspect_cli and the compaction policy count each file or
    batch once."""
    root = str(tmp_path / "lake")
    lake = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=NUM_BUCKETS)
    (res,) = _run_uncoalesced(spark, lake, wal_dir, max_batches=1)

    seg = sorted(os.listdir(wal_dir))[0]
    keys = duckdb.sql(
        f"SELECT DISTINCT conv_id, turn_idx FROM '{os.path.join(wal_dir, seg)}'"
    ).df()
    touched = set(_bucket_of(spark, keys["conv_id"]).values())

    snap = lake.snapshot()
    listed = _delta_paths(snap)
    assert 1 < len(listed) <= 8  # one file per non-empty write task
    assert sorted(listed) == _data_files(root)  # no schema-only leftovers
    assert {os.path.dirname(p) for p in listed} == {
        os.path.dirname(next(iter(listed)))
    }  # one epoch dir, no _bucket= subdirs
    assert all(bs == touched for bs in listed.values())
    assert set(map(int, snap["buckets"])) == touched
    entries = {path: fe for path, (fe, _) in distinct_files(snap).items()}
    assert res["delta_files"] == len(listed)
    assert res["buckets_touched"] == len(touched)
    assert res["rows_written"] == sum(fe["rows"] for fe in entries.values()) == len(keys)
    for path in listed:
        got = pq.read_table(os.path.join(root, path), columns=["conv_id", "turn_idx"])
        pairs = list(zip(*(got.column(c).to_pylist() for c in ("conv_id", "turn_idx"))))
        assert pairs == sorted(pairs)
    rpt = inspect_lake(root)
    assert rpt["files"] == len(listed)
    assert rpt["bytes"] == sum(fe["bytes"] for fe in entries.values())
    per_bucket = sum(b["bytes"] for b in rpt["buckets"].values())
    assert abs(per_bucket - rpt["bytes"]) <= len(touched)  # shares, rounded
    # one batch is one write per touched bucket, however many files it wrote
    assert lake.delta_pressure() == {b: 1 for b in touched}
    assert lake.maybe_compact(max_delta_files=4) is None
    assert_states_equal(
        _state(lake.read()), duckdb_replay_oracle(os.path.join(wal_dir, seg))
    )


def _run_uncoalesced(spark, lake, wal, **kw):
    """``run_incremental`` in MOR mode with partition coalescing off, so
    each delta batch is written by one task per shuffle partition."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return run_incremental(lake, wal, mode="mor", **kw)
    finally:
        spark.conf.set(key, before)


def test_compaction_policy_counts_batches_not_files(spark, tmp_path, wal_dir):
    """``delta_pressure`` grows by one per delta batch whatever the number
    of files each batch wrote, and a compacted bucket counts its base as
    one more write."""
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA,
                            num_buckets=NUM_BUCKETS)
    _run_uncoalesced(spark, lake, wal_dir, max_batches=2)
    assert len(_delta_paths(lake.snapshot())) > 2  # each batch wrote several files
    pressure = lake.delta_pressure()
    assert pressure and set(pressure.values()) <= {1, 2} and 2 in pressure.values()
    assert lake.maybe_compact(max_delta_files=2) is None
    folded = sorted(b for b, n in pressure.items() if n == 2)
    snap = lake.maybe_compact(max_delta_files=1)
    assert snap["metrics"]["compacted_buckets"] == folded
    assert all(b not in lake.delta_pressure() for b in folded)

    _run_uncoalesced(spark, lake, wal_dir)  # the third batch
    after = lake.delta_pressure()
    assert all(after[b] == 2 for b in folded if b in after)  # base + one batch
    assert_states_equal(_state(lake.read()), duckdb_replay_oracle(f"{wal_dir}/*.parquet"))


def _cow_segment(spark, wal, out_dir, oracle, b_update, b_delete) -> str:
    """A segment next to ``wal``'s that updates a key of bucket ``b_update``,
    and deletes a key of bucket ``b_delete`` and inserts a new one there, all
    later than the WAL."""
    bof = _bucket_of(spark, oracle["conv_id"])
    first = {}
    for r in oracle.sort_values(["conv_id", "turn_idx"]).itertuples(index=False):
        first.setdefault(bof[r.conv_id], (r.conv_id, int(r.turn_idx)))
    (cu, tu), (cd, td) = first[b_update], first[b_delete]
    pdf = make_events(spark, [
        ("U", 10**9, cu, tu, "user", "rewritten", None, 10**8),
        ("D", 10**9 + 1, cd, td, None, None, None, 10**8),
        ("I", 10**9 + 2, cd, 9_999, "user", "new", None, 10**8),
    ]).toPandas()
    os.makedirs(out_dir)
    path = os.path.join(out_dir, "segment-000.parquet")
    schema = pq.read_schema(os.path.join(wal, sorted(os.listdir(wal))[0]))
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)
    return out_dir


def _expected_changes(old: pd.DataFrame, new: pd.DataFrame) -> set[tuple]:
    j = old.merge(new, on=["conv_id", "turn_idx"], how="outer",
                  suffixes=("_o", "_n"), indicator=True)
    out = set()
    for r in j.to_dict("records"):
        if r["_merge"] == "right_only":
            out.add((r["conv_id"], r["turn_idx"], "insert"))
        elif r["_merge"] == "left_only":
            out.add((r["conv_id"], r["turn_idx"], "delete"))
        elif any(
            not (pd.isna(r[f"{c}_o"]) and pd.isna(r[f"{c}_n"])) and r[f"{c}_o"] != r[f"{c}_n"]
            for c in ("role", "text", "tool", "ts")
        ):
            out.add((r["conv_id"], r["turn_idx"], "update"))
    return out


def test_partial_compact_and_cow_over_shared_deltas_match_oracle(spark, tmp_path, wal_dir):
    """Shared delta files stay exact when only some of the buckets that
    list them move on: a partial compaction and a copy-on-write batch over
    the MOR lake. Full reads, bucket-pruned reads, time travel to the
    pre-compact snapshot and ``changes()`` all match the DuckDB oracle."""
    shutil.copytree(wal_dir, str(tmp_path / "wal"))
    wal = str(tmp_path / "wal")
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA,
                            num_buckets=NUM_BUCKETS)
    run_incremental(lake, wal, mode="mor")
    oracle = duckdb_replay_oracle(f"{wal}/*.parquet")
    s_mor = lake.snapshot()["snapshot_id"]
    assert all(len(bs) == NUM_BUCKETS for bs in _delta_paths(lake.snapshot()).values())

    lake.compact(buckets=[0, 1, 2])
    listed = _delta_paths(lake.snapshot())
    assert listed and all(bs == set(range(3, NUM_BUCKETS)) for bs in listed.values())
    _assert_reads_match(spark, lake, oracle)
    assert lake.changes(s_mor).count() == 0

    cow = _cow_segment(spark, wal, str(tmp_path / "wal_cow"), oracle, 3, 4)
    run_incremental(lake, cow, stream_id="cow", mode="cow")
    listed = _delta_paths(lake.snapshot())
    assert listed and all(bs == set(range(5, NUM_BUCKETS)) for bs in listed.values())
    oracle2 = duckdb_replay_oracle(f"{tmp_path}/wal*/*.parquet")
    _assert_reads_match(spark, lake, oracle2)
    _assert_reads_match(spark, lake, oracle, snapshot_id=s_mor)  # time travel

    got = {
        (r["conv_id"], r["turn_idx"], r["change_type"])
        for r in lake.changes(s_mor).collect()
    }
    want = _expected_changes(oracle, oracle2)
    assert len(want) == 3 and got == want


def test_vacuum_keeps_a_shared_file_while_a_kept_snapshot_names_it(spark, tmp_path, wal_dir):
    root = str(tmp_path / "lake")
    lake = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=NUM_BUCKETS)
    run_incremental(lake, wal_dir, max_batches=1, mode="mor")
    oracle = duckdb_replay_oracle(os.path.join(wal_dir, sorted(os.listdir(wal_dir))[0]))
    shared = sorted(_delta_paths(lake.snapshot()))
    on_disk = [os.path.join(root, p) for p in shared]
    sidecars = [os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
                for p in on_disk]
    assert all(map(os.path.exists, on_disk + sidecars))

    lake.compact(buckets=[0])  # the other buckets still list the shared files
    assert lake.vacuum(keep_snapshots=1) == []
    assert all(map(os.path.exists, on_disk))
    assert_states_equal(_state(lake.read()), oracle)

    lake.compact()  # no bucket of the head lists them any more
    assert not _delta_paths(lake.snapshot())
    lake.vacuum(keep_snapshots=2)  # the previous snapshot still names them
    assert all(map(os.path.exists, on_disk))
    removed = lake.vacuum(keep_snapshots=1)
    assert set(shared) <= set(removed)
    assert not any(map(os.path.exists, on_disk + sidecars))
    assert not os.path.exists(os.path.dirname(on_disk[0]))  # the epoch dir went too
    assert_states_equal(_state(lake.read()), oracle)


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_fully_gated_batch_leaves_no_data_file(spark, tmp_path, mode):
    """Every event fails the quality gate: the batch commits an empty
    snapshot and leaves no file or epoch dir behind (with no partitionBy,
    Spark's first write task writes a schema-only file for zero rows)."""
    root = str(tmp_path / "lake")
    lake = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    res = apply_batch(lake, make_events(spark, [
        ("I", 1, None, 0, "user", "no key", None, 10),
        ("I", 2, "", 0, "user", "empty key", None, 11),
        ("I", 3, "c1", None, "user", "no turn", None, 12),
        ("X", 4, "c1", 0, "user", "bad op", None, 13),
    ]), batch_id=0, mode=mode)
    assert res["buckets_rewritten"] == 0 and "delta_files" not in res
    snap = lake.snapshot()
    assert snap["snapshot_id"] == 1 and snap["buckets"] == {}
    assert snap["metrics"]["empty_batch"] and snap["metrics"]["events_in"] == 4
    assert os.listdir(os.path.join(root, "data")) == []
    assert lake.read().count() == 0
