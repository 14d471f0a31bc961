"""As-of join, which Spark lacks as a built-in.

It is a composition of existing DataFrame ops (the brief's preferred path
for custom operators) — no UDFs, no nested-loop joins, no driver-side
iteration — so Catalyst/AQE keep optimizing around it.

As-of join (each left row matched to the latest right row with
``right_ts <= left_ts`` for the same key) is the classic point-in-time
lookup the reference's SCD2 dimension reads answer via
``effective_from/effective_to`` scans (etl/bronze_to_silver.py:255-263);
here it is a single union + per-key window — **one shuffle on the key**,
never a join explosion:

    union(left tagged 1, right tagged 0)
      -> window partitionBy(key) orderBy(ts, side) rows unbounded preceding
      -> last(right_payload, ignoreNulls) carries the as-of state forward
      -> keep left rows

At 100 TB this is shuffle-optimal: volume is |left| + |right| rows exactly
once, partitioned by key; a sort-merge or broadcast as-of would still need
the same exchange plus an O(matches) join. A hot key costs O(key size) in
one task.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_TS = "__asof_ts"


def asof_join(
    left,
    right,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str] | None = None,
    right_tiebreak: str | None = None,
):
    """For every left row, attach the latest right row with
    ``right[right_ts] <= left[left_ts]`` sharing the key columns ``on``.
    Right payload columns are null when no right row precedes the left row
    (left-outer as-of semantics, matching DuckDB's ``LEFT ASOF JOIN``).

    ``right`` must be unique per (key, right_ts) — dedupe upstream if not,
    or the carried row among ties is unspecified. ``right_tiebreak`` (a
    right column name) lifts that requirement WITHOUT the upstream dedup's
    extra shuffle+aggregate: right rows tied on (key, right_ts) order by
    the tiebreak ascending and the LAST one wins, i.e. the carried row is
    exactly ``max_by(payload, tiebreak)`` per (key, ts) — associativity of
    "latest wins" folds the dedup into the window's existing sort (r6:
    removed a full shuffle of the right side from q38). The tiebreak only
    orders right rows among themselves; left-vs-right order at equal ts
    stays decided by the side flag. Right rows with a NULL
    ``right_ts`` never match (DuckDB ASOF / pandas merge_asof semantics).
    Left rows with a NULL ``left_ts`` always get a NULL payload (no match):
    they sort nulls-first in the window, before every right row. This
    matches DuckDB ASOF; pandas ``merge_asof`` would instead raise on NULL
    keys.
    """
    from pyspark.sql import types as T

    keys = [on] if isinstance(on, str) else list(on)
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in set(keys) | {right_ts}]
    clash = set(payload_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join: right payload columns {sorted(clash)} collide with "
            "left columns — rename one side before joining"
        )

    # The whole right payload is carried as ONE struct, so the window's
    # last(ignoreNulls) moves right ROWS atomically — per-column carry would
    # back-fill a legitimately-NULL payload column from an older right row,
    # silently mixing columns of different versions.
    _PAY = "__asof_payload"
    pay_type = T.StructType([T.StructField(c, right.schema[c].dataType) for c in payload_cols])
    _TB = "__asof_tiebreak"
    l_tagged = (
        left.withColumn(_SIDE, F.lit(1))
        .withColumn(_TS, F.col(left_ts).cast("timestamp"))
        .withColumn(_PAY, F.lit(None).cast(pay_type))
    )
    r_tagged = (
        right.filter(F.col(right_ts).isNotNull())  # NULL right_ts: no match
        .withColumn(_SIDE, F.lit(0))
        .withColumn(_TS, F.col(right_ts).cast("timestamp"))
        .withColumn(_PAY, F.struct(*[F.col(c) for c in payload_cols]))
    )
    if right_tiebreak is not None:
        l_tagged = l_tagged.withColumn(
            _TB, F.lit(None).cast(right.schema[right_tiebreak].dataType)
        )
        r_tagged = r_tagged.withColumn(_TB, F.col(right_tiebreak))
    r_keep = [*keys, _SIDE, _TS, _PAY] + ([_TB] if right_tiebreak is not None else [])
    # right rows carry NULLs for the left-only columns: one select, so the
    # plan does not grow with the width of the left schema
    r_tagged = r_tagged.select(*[
        F.col(f.name) if f.name in r_keep else F.lit(None).cast(f.dataType).alias(f.name)
        for f in l_tagged.schema.fields
    ])
    cols = l_tagged.columns
    u = l_tagged.unionByName(r_tagged)

    # Inclusive: a right row at the same ts is visible to the left row
    # (side 0 sorts before side 1). The optional tiebreak orders equal-ts
    # right rows among themselves (nulls-first asc, so left rows' NULL
    # tiebreak never reorders them vs each other).
    order = [F.col(_TS).asc(), F.col(_SIDE).asc()]
    if right_tiebreak is not None:
        order.append(F.col(_TB).asc_nulls_first())
    w = W.partitionBy(*keys).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    filled = u.select(
        *[c for c in cols if c != _PAY],
        F.last(_PAY, ignorenulls=True).over(w).alias(_PAY),
    )
    return filled.filter(F.col(_SIDE) == 1).select(
        *[c for c in cols if c not in (_PAY, _SIDE, _TS, _TB)],
        *[F.col(_PAY)[c].alias(c) for c in payload_cols],
    )
