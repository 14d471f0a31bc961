"""Semantics tests for the temporal join operators (operators/asof.py) and
the embedding near-dup pair operator: hand-built inputs with known answers,
independent of the DuckDB-oracle gates in test_entry."""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parity_references import cosine_neardup_pairs, interval_join  # noqa: E402
from trde703_openfoodfacts_etl_spark.operators.asof import asof_join  # noqa: E402


def _ts(sec: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


def _left(spark):
    return spark.createDataFrame(
        [("k1", _ts(1), 100), ("k1", _ts(5), 101), ("k1", _ts(10), 102),
         ("k2", _ts(3), 103),  # key with no right rows at/before
         ("k3", _ts(9), 104)],  # key entirely absent on the right
        "key string, ts timestamp, ev int",
    )


def _right(spark):
    return spark.createDataFrame(
        [("k1", _ts(0), "s0"), ("k1", _ts(5), "s5"), ("k1", _ts(7), "s7"),
         ("k2", _ts(8), "s8")],
        "key string, rts timestamp, state string",
    )


def test_asof_inclusive(spark):
    out = asof_join(_left(spark), _right(spark), on="key", left_ts="ts", right_ts="rts")
    got = {(r.key, r.ev): r.state for r in out.collect()}
    assert got == {
        ("k1", 100): "s0",   # ts=1 -> right ts=0
        ("k1", 101): "s5",   # ts=5 -> inclusive: sees right row AT 5
        ("k1", 102): "s7",   # ts=10 -> latest at 7
        ("k2", 103): None,   # right row exists but only at ts=8 > 3
        ("k3", 104): None,   # no right rows for key
    }
    assert out.count() == 5  # left-outer: every left row exactly once


def test_asof_preserves_left_columns(spark):
    out = asof_join(_left(spark), _right(spark), on="key", left_ts="ts", right_ts="rts")
    assert set(out.columns) == {"key", "ts", "ev", "state"}


def test_asof_plan_size_does_not_grow_with_left_width(spark):
    """The right side's NULL fill for left-only columns is one projection:
    a left input with 60 payload columns builds an analyzed plan with as
    many Project nodes as a left input with one."""
    import re

    def n_projects(width):
        left = _left(spark).select(
            "key", "ts", *[(F.col("ev") + i).alias(f"p{i}") for i in range(width)]
        )
        out = asof_join(left, _right(spark), on="key", left_ts="ts", right_ts="rts")
        plan = out._jdf.queryExecution().analyzed().toString()
        return len(re.findall(r"(?m)^[\s:+\-]*Project \[", plan)), out

    narrow, _ = n_projects(1)
    wide, out = n_projects(60)
    assert wide == narrow
    got = {(r.key, r.p59): r.state for r in out.collect()}
    assert got[("k1", 160)] == "s5" and got[("k3", 163)] is None


def test_interval_join_exact_once(spark):
    # interval longer than the bucket: the pair must still appear exactly once
    left = spark.createDataFrame(
        [(1, _ts(50)), (2, _ts(150)), (3, _ts(250)), (4, _ts(9999))],
        "event_id int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts(40), _ts(260)),    # spans 3 buckets at bucket=100s, catches 1,2,3
         (20, _ts(149), _ts(151)),   # catches only 2
         (30, _ts(300), _ts(400))],  # catches nothing
        "iv_id int, start timestamp, fin timestamp",
    )
    out = interval_join(left, right, "ts", "start", "fin", bucket_seconds=100)
    pairs = sorted((r.event_id, r.iv_id) for r in out.collect())
    assert pairs == [(1, 10), (2, 10), (2, 20), (3, 10)]


def test_interval_join_inclusive_bounds(spark):
    left = spark.createDataFrame([(1, _ts(100)), (2, _ts(200))], "event_id int, ts timestamp")
    right = spark.createDataFrame(
        [(10, _ts(100), _ts(200))], "iv_id int, start timestamp, fin timestamp"
    )
    out = interval_join(left, right, "ts", "start", "fin", bucket_seconds=50)
    assert out.count() == 2  # both endpoints inclusive


def test_cosine_neardup_blocked(spark):
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.01], "a"),   # ~parallel to 1, same block -> pair
        (3, [0.0, 1.0], "a"),    # orthogonal -> no pair
        (4, [1.0, 0.0], "b"),    # parallel to 1 but different block -> excluded
        (5, [1.0, 0.0], "b"),
        (6, [1.0, 0.02], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = cosine_neardup_pairs(df, threshold=0.99, block_col="label")
    pairs = sorted((r.id_a, r.id_b) for r in out.collect())
    assert pairs == [(1, 2), (4, 5), (4, 6), (5, 6)]
    # unblocked cross-join baseline finds the cross-block pair too
    out_all = cosine_neardup_pairs(df, threshold=0.99, block_col=None)
    assert (1, 4) in {(r.id_a, r.id_b) for r in out_all.collect()}


def test_cosine_neardup_matmul_matches_declarative(spark):
    """The BLAS-matmul kernel and the JVM higher-order-function form must
    produce the same pair set (and cosines to ~1e-9) on real data."""
    from trde703_openfoodfacts_etl_spark.operators.similarity import (
        cosine_neardup_pairs_matmul,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    decl = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_pairs(e, threshold=0.3, block_col="label").collect()
    }
    mm = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_pairs_matmul(e, threshold=0.3, block_col="label").collect()
    }
    assert set(decl) == set(mm) and len(mm) > 0
    for k in decl:
        assert abs(decl[k] - mm[k]) < 1e-6


def test_interval_join_plan_has_no_nested_loop(spark):
    left = spark.createDataFrame([(1, _ts(50))], "event_id int, ts timestamp")
    right = spark.createDataFrame(
        [(10, _ts(40), _ts(60))], "iv_id int, start timestamp, fin timestamp"
    )
    plan = (
        interval_join(left, right, "ts", "start", "fin", bucket_seconds=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan, plan


def test_asof_null_right_ts_never_matches(spark):
    right = spark.createDataFrame(
        [("k1", None, "phantom"), ("k1", _ts(2), "real")],
        "key string, rts timestamp, state string",
    )
    left = spark.createDataFrame([("k1", _ts(1), 1), ("k1", _ts(3), 2)],
                                 "key string, ts timestamp, ev int")
    got = {r.ev: r.state for r in
           asof_join(left, right, on="key", left_ts="ts", right_ts="rts").collect()}
    # ts=1: nothing precedes it (the NULL-ts row must NOT act as -infinity)
    assert got == {1: None, 2: "real"}


def test_asof_carries_rows_atomically(spark):
    """A matched right row with a legitimately-NULL payload column must not
    have that column back-filled from an older right row."""
    right = spark.createDataFrame(
        [("k1", _ts(1), 100, "a"), ("k1", _ts(2), None, "b")],
        "key string, rts timestamp, price int, tag string",
    )
    left = spark.createDataFrame([("k1", _ts(3), 1)], "key string, ts timestamp, ev int")
    row = asof_join(left, right, on="key", left_ts="ts", right_ts="rts").collect()[0]
    assert row.tag == "b" and row.price is None  # ts=2 row, NOT price from ts=1


def test_interval_join_drops_inverted_and_null_intervals(spark):
    """A right row with end < start (bad data / sentinel timestamps) or a
    NULL bound must vanish cheaply — it can never satisfy the range
    predicate, and without the pre-filter sequence(start, stop) would
    explode it into |Δbucket|+1 rows before the filter."""
    left = spark.createDataFrame([(1, _ts(50))], "event_id int, ts timestamp")
    right = spark.createDataFrame(
        [(10, _ts(40), _ts(60)),            # sane: matches
         (20, _ts(10_000_000), _ts(0)),     # inverted by ~10^7 s: must NOT explode
         (30, None, _ts(60)),               # NULL start
         (40, _ts(40), None)],              # NULL end
        "iv_id int, start timestamp, fin timestamp",
    )
    out = interval_join(left, right, "ts", "start", "fin", bucket_seconds=60)
    assert [(r.event_id, r.iv_id) for r in out.collect()] == [(1, 10)]
    # the explode's input is pre-filtered: a Filter sits BELOW the Generate
    # (plans print root-first, children after), so the inverted row never
    # reaches the sequence explode
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" in plan and "Filter" in plan
    assert plan.index("Filter", plan.index("Generate")) > plan.index("Generate")


def test_cosine_neardup_matmul_drops_null_blocks(spark):
    """NULL-block rows must emit no pairs from the matmul kernel, matching
    the declarative equi-join form (a.label = b.label drops NULLs)."""
    from trde703_openfoodfacts_etl_spark.operators.similarity import (
        cosine_neardup_pairs_matmul,
    )

    rows = [
        (1, [1.0, 0.0], None), (2, [1.0, 0.001], None),  # near-dup but NULL block
        (3, [1.0, 0.0], "a"), (4, [1.0, 0.002], "a"),
        (5, [1.0, 0.0], "b"),  # a single-row block emits no pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    mm = sorted((r.id_a, r.id_b) for r in
                cosine_neardup_pairs_matmul(df, threshold=0.99, block_col="label").collect())
    decl = sorted((r.id_a, r.id_b) for r in
                  cosine_neardup_pairs(df, threshold=0.99, block_col="label").collect())
    assert mm == decl == [(3, 4)]


def test_interval_join_string_bounds_non_canonical_format(spark):
    """String-typed interval bounds in non-canonical-but-castable formats
    must behave like their timestamp casts everywhere (bucketing, the
    inverted-interval pre-filter, and the exact range predicate) — a raw
    lexicographic comparison would misorder '2024-1-9' vs '2024-01-10'
    and silently drop the valid interval."""
    left = spark.createDataFrame(
        [(1, _ts(0).replace(month=1, day=9, hour=12))], "event_id int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, "2024-1-9", "2024-01-10"),     # valid 1-day interval; lexicographically inverted
         (20, "2024-01-10", "2024-1-9")],    # actually inverted: must drop
        "iv_id int, start string, fin string",
    )
    out = interval_join(left, right, "ts", "start", "fin", bucket_seconds=86400)
    assert [(r.event_id, r.iv_id) for r in out.collect()] == [(1, 10)]


# ---------------------------------------------------------------------------
# q39 count-form equivalence (r6 optimization): the bucketed-rank-count plan
# must equal the pair-enumerating interval_join aggregate on adversarial
# inputs — exact window-boundary pairs, sub-bucket-boundary timestamps,
# signup self-pairs, a type with no matches, and a null timestamp.
# ---------------------------------------------------------------------------


def _q39_reference(ev):
    """The original pair-enumerating q39 aggregate (ground truth)."""
    windows = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("w_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
        )
    )
    j = interval_join(
        ev.select("event_id", "ts", "event_type"), windows,
        "ts", "w_start", "w_end", bucket_seconds=1800,
    )
    return (
        j.filter(F.col("event_id") != F.col("w_id"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("event_id").alias("n_events"),
            F.countDistinct("w_id").alias("n_windows"),
        )
        .orderBy("event_type")
    )


def test_q39_count_form_matches_pair_enumeration(spark, tmp_path):
    from trde703_openfoodfacts_etl_spark.plans.analytics import q39_interval_join

    W = 1800  # window seconds
    SUB = W / 16  # q39's sub-bucket width, to hit sub-bucket boundaries
    rows = [
        # signup at t=0: window [0, 1800]
        (0, _ts(0), "signup"),
        (1, _ts(900), "click"),          # mid-window
        (2, _ts(1800), "click"),         # EXACT upper boundary (inclusive)
        (3, _ts(1801), "click"),         # just outside
        (4, _ts(0), "view"),             # exact lower boundary (inclusive)
        # second signup inside the first window: self-pair exclusion +
        # signup-as-event counting
        (5, _ts(1700), "signup"),
        (6, _ts(int(SUB) * 3), "click"),   # exact sub-bucket boundary
        (7, _ts(-5), "purchase"),        # before every window: no match
        (8, None, "click"),              # null ts: matches nothing
        (9, _ts(3500), "view"),          # inside signup-5's window only
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    d = str(tmp_path / "evdir")
    ev.write.parquet(os.path.join(d, "events.parquet"))

    got = {r["event_type"]: (r["n_pairs"], r["n_events"], r["n_windows"])
           for r in q39_interval_join(spark, d).collect()}
    want = {r["event_type"]: (r["n_pairs"], r["n_events"], r["n_windows"])
            for r in _q39_reference(spark.read.parquet(os.path.join(d, "events.parquet"))).collect()}
    assert got == want and len(want) >= 3


def test_q39_count_form_matches_on_random_events(spark, tmp_path):
    """Randomized cross-check: 2k events over a 6h span (dense windows,
    many cross-bucket ranges), seeded for determinism."""
    import random

    rng = random.Random(42)
    types = ["signup", "click", "view", "purchase"]
    rows = [
        (i, _ts(rng.randint(0, 6 * 3600)), types[rng.randrange(len(types))])
        for i in range(2000)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    d = str(tmp_path / "evdir")
    ev.write.parquet(os.path.join(d, "events.parquet"))

    from trde703_openfoodfacts_etl_spark.plans.analytics import q39_interval_join

    got = sorted(map(tuple, q39_interval_join(spark, d).collect()))
    want = sorted(map(tuple, _q39_reference(
        spark.read.parquet(os.path.join(d, "events.parquet"))).collect()))
    assert got == want


def test_asof_right_tiebreak_matches_pre_dedup(spark):
    """r6: right_tiebreak folds the right-side max_by dedup into the window
    sort. The result must equal deduping upstream with max_by(payload,
    tiebreak)."""
    import pyspark.sql.functions as SF

    left = spark.createDataFrame(
        [("k1", _ts(1)), ("k1", _ts(5)), ("k1", _ts(9)), ("k2", _ts(4)), ("k3", _ts(2))],
        "key string, ts timestamp",
    )
    # duplicate (key, rts) pairs with different payloads/tiebreaks
    right = spark.createDataFrame(
        [("k1", _ts(0), 10, "a"), ("k1", _ts(0), 12, "b"), ("k1", _ts(0), 11, "c"),
         ("k1", _ts(5), 20, "d"), ("k1", _ts(5), 21, "e"),
         ("k2", _ts(4), 30, "f"), ("k2", _ts(4), 29, "g")],
        "key string, rts timestamp, tb int, state string",
    )
    latest = (
        right.groupBy("key", "rts")
        .agg(SF.max_by(SF.struct("tb", "state"), "tb").alias("s"))
        .select("key", "rts", SF.col("s.tb").alias("tb"), SF.col("s.state").alias("state"))
    )
    got = asof_join(
        left, right, on="key", left_ts="ts", right_ts="rts",
        payload_cols=["tb", "state"], right_tiebreak="tb",
    ).orderBy("key", "ts").collect()
    want = asof_join(
        left, latest, on="key", left_ts="ts", right_ts="rts",
        payload_cols=["tb", "state"],
    ).orderBy("key", "ts").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_range_count_is_zero_past_the_span(spark):
    """A probe whose low bucket falls in the k-bucket extension above the
    last point finds its LUT row with the full prefix count as _Plo and no
    _Phi; its count must be 0, not minus the number of points."""
    from trde703_openfoodfacts_etl_spark.plans.analytics import (
        _attach_range_count,
        _range_count_lut,
    )

    # sub-buckets of 10 µs, ranges 40 µs wide (k = 4); points in buckets 0-2
    pts = spark.createDataFrame([(5,), (15,), (25,)], "t long")
    lut = _range_count_lut(pts, [], 10, 40)
    probes = spark.createDataFrame(
        [(0, 0, 40), (1, 45, 85), (2, 62, 102)], "id int, _lo long, _hi long"
    )
    got = {r["id"]: r["_rc"] for r in _attach_range_count(probes, lut, [], 10).collect()}
    assert got == {0: 3, 1: 0, 2: 0}
