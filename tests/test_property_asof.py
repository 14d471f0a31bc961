"""Property-based as-of join correctness: for ANY random left/right frames
— duplicate timestamps, keys missing on either side, unsorted input — the
union+window asof_join equals pandas.merge_asof computed per key (an
independent reference implementation)."""

from __future__ import annotations

import datetime as dt
import os
import sys

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trde703_openfoodfacts_etl_spark.operators.asof import asof_join  # noqa: E402


def _ts(sec: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


# right side: unique (key, ts) per the operator's contract (dedupe upstream)
left_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key (small → collisions)
        st.integers(min_value=0, max_value=30),   # ts seconds (ties likely)
    ),
    min_size=1,
    max_size=12,
)
right_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda r: (r[0], r[1]),
)


def _pandas_asof(left_rows, right_rows) -> dict:
    l = pd.DataFrame(
        {"key": [k for k, _ in left_rows], "ts": [_ts(s) for _, s in left_rows],
         "ev": range(len(left_rows))}
    ).sort_values("ts", kind="stable")
    r = pd.DataFrame(
        {"key": [k for k, _ in right_rows], "rts": [_ts(s) for _, s in right_rows],
         "state": [f"s{k}_{s}" for k, s in right_rows]}
    ).sort_values("rts", kind="stable")
    if len(r) == 0:
        return {int(e): None for e in l["ev"]}
    m = pd.merge_asof(
        l, r, left_on="ts", right_on="rts", by="key",
        direction="backward", allow_exact_matches=True,
    )
    return {int(row.ev): (None if pd.isna(row.state) else row.state) for row in m.itertuples()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(left=left_strategy, right=right_strategy)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    l = spark.createDataFrame(
        [(k, _ts(s), i) for i, (k, s) in enumerate(left)],
        "key int, ts timestamp, ev int",
    )
    r_rows = [(k, _ts(s), f"s{k}_{s}") for k, s in right]
    r = spark.createDataFrame(r_rows or [(None, None, None)],
                              "key int, rts timestamp, state string")
    if not r_rows:
        r = r.filter("key is not null")
    out = asof_join(l, r, on="key", left_ts="ts", right_ts="rts")
    got = {int(row.ev): row.state for row in out.collect()}
    want = _pandas_asof(left, right)
    assert got == want


interval_left = st.lists(
    st.integers(min_value=0, max_value=40), min_size=1, max_size=10
)
interval_right = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),   # start
        st.integers(min_value=0, max_value=25),   # length
    ),
    min_size=0,
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(lts=interval_left, ivs=interval_right, bucket=st.sampled_from([3, 7, 100]))
def test_interval_join_matches_naive(spark, lts, ivs, bucket):
    """Bucketed interval join == the naive all-pairs range check, for ANY
    timestamps, interval layouts (touching, nested, zero-length, disjoint)
    and bucket width (smaller, comparable, and larger than the intervals)."""
    from parity_references import interval_join

    left = spark.createDataFrame(
        [(i, _ts(s)) for i, s in enumerate(lts)], "event_id int, ts timestamp"
    )
    rows = [(j, _ts(s), _ts(s + ln)) for j, (s, ln) in enumerate(ivs)]
    right = spark.createDataFrame(
        rows or [(None, None, None)], "iv_id int, start timestamp, fin timestamp"
    )
    if not rows:
        right = right.filter("iv_id is not null")
    got = sorted(
        (r.event_id, r.iv_id)
        for r in interval_join(left, right, "ts", "start", "fin", bucket_seconds=bucket).collect()
    )
    want = sorted(
        (i, j)
        for i, s in enumerate(lts)
        for j, (rs, ln) in enumerate(ivs)
        if rs <= s <= rs + ln
    )
    assert got == want
