"""The DuckDB last-writer-wins checker against a hand-built WAL."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def ts(sec):
    return T0 + dt.timedelta(seconds=sec)


def us(sec):
    return int(ts(sec).timestamp()) * 1_000_000


#: (op, lsn, conv_id, turn_idx, role, text, tool, ts_sec)
SEGMENT_1 = [
    ("I", 1, "c1", 0, "user", "hello", None, 10),
    ("U", 2, "c1", 0, "user", "hello again", None, 20),   # winner of (c1, 0)
    ("I", 3, "c2", 0, "tool", "run", "search", 10),
    ("D", 4, "c2", 0, None, None, None, 30),              # delete ...
    ("I", 5, "c3", 1, "assistant", "bye", None, 15),
    ("D", 6, "c3", 1, None, None, None, 40),              # final delete: dropped
]
SEGMENT_2 = [
    ("U", 7, "c1", 0, "user", "stale", None, 5),          # late: older ts, loses
    ("I", 8, "c2", 0, "tool", "again", "code", 50),       # ... then re-insert wins
    ("U", 2, "c1", 0, "user", "hello again", None, 20),   # redelivered lsn 2
    ("I", 9, "c4", 2, "system", None, None, 60),          # NULL text survives
]
EXPECTED = [
    ("c1", 0, "user", "hello again", None, us(20)),
    ("c2", 0, "tool", "again", "code", us(50)),
    ("c4", 2, "system", None, None, us(60)),
]

SCHEMA = pa.schema([
    ("op", pa.string()), ("lsn", pa.int64()), ("conv_id", pa.string()),
    ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def write_wal(root):
    for i, rows in enumerate([SEGMENT_1, SEGMENT_2]):
        d = os.path.join(root, f"segment={i}")
        os.makedirs(d)
        cols = list(zip(*[r[:7] + (ts(r[7]),) for r in rows]))
        pq.write_table(pa.table(cols, schema=SCHEMA), os.path.join(d, "part-0.parquet"))
    return os.path.join(root, "*", "*.parquet")


def test_wal_lww_matches_the_hand_resolved_state(tmp_path):
    got = checks.wal_lww_checksum(write_wal(str(tmp_path)))
    assert got == checks.row_checksum(EXPECTED)
    assert got[0] == 3


def test_checksum_sees_a_changed_value_and_ignores_order():
    base = checks.row_checksum(EXPECTED)
    assert checks.row_checksum(list(reversed(EXPECTED))) == base
    changed = [EXPECTED[0][:3] + ("hello", None, us(20))] + EXPECTED[1:]
    assert checks.row_checksum(changed) != base
    assert checks.row_checksum(EXPECTED[:2])[0] == 2

