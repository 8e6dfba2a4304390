"""As-of (point-in-time) join — an operator Spark lacks natively.

For each left row, attach the latest right row with ``right.ts <=
left.ts`` per key (the time-series "last known value" join: trades →
quotes, events → dimension snapshots).

Spark-first implementation: the classical union trick instead of a
range join —

  1. tag left rows (is_left=1) and right rows (is_left=0),
  2. union them on the key/timestamp axis (ONE shuffle, on the key),
  3. per key, ordered by (ts, is_left) — right rows sort before left
     rows at equal timestamps, so ties resolve to "at or before" —
     carry the last non-null right payload forward with
     ``last(..., ignorenulls=True)`` over an unbounded-preceding frame
     (the payload is ONE struct so every carried field comes from the
     same matched right row, even when some right fields are NULL),
  4. keep the left rows.

Cost: one shuffle of |L| + |R| rows on the key, then a per-partition
sort — same asymptotics as a co-partitioned merge join, with no
O(|L| x |R|) range-join blowup.  At 100 TB both sides would be stored
bucketed by the key so even that single exchange disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_IS_LEFT = "__asof_is_left"
_PAYLOAD = "__asof_payload"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str,
    value_cols: tuple[str, ...],
    right_ts_alias: str = "asof_ts",
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """Left as-of join: every left row, plus the latest right
    ``value_cols`` (and the matched right timestamp as
    ``right_ts_alias``) where ``right.ts_col <= left.ts_col`` on the
    same key; NULLs when no right row precedes the left row.

    ``right`` must be unique per (key, ts) — pre-aggregate it otherwise
    (a duplicate would make "the" as-of value ambiguous).

    ``direction`` (the pandas ``merge_asof`` axis): 'backward' (default
    — the LATEST right row at or before the left timestamp) or
    'forward' (the EARLIEST right row at or after it) — same union
    trick, traversed in the opposite order.  ``tolerance`` is a SQL
    scalar literal bounding the match's staleness: a number when
    ``ts_col`` is numeric, an interval literal (``"INTERVAL '30'
    MINUTE"``) for timestamps; a match farther than that NULLs out
    (the left row is kept), exactly pandas' semantics.  Both are plain
    column logic over the same single-shuffle plan.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
        )
    keys = list(key_cols)
    lcols = left.columns
    # output columns must not collide with left's (two same-named
    # columns would make every downstream reference ambiguous — same
    # validation as range_join)
    clashes = (set(value_cols) | {right_ts_alias}) & set(lcols)
    if clashes:
        raise ValueError(
            f"value_cols/right_ts_alias collide with left columns: {sorted(clashes)}"
        )
    # a NULL right timestamp satisfies no `right.ts <= left.ts`
    # predicate, but asc ordering sorts NULLS FIRST — unfiltered it
    # would be carried as a phantom as-of match for rows with no true
    # predecessor
    from ivm_extension_spark.operators.colops import null_lit_exprs, q

    right = right.filter(f"{q(ts_col)} IS NOT NULL")
    payload_sql = (
        "named_struct("
        + ", ".join(f"'{v}', {q(v)}" for v in value_cols)
        + f", '__ts', {q(ts_col)})"
    )
    payload_ddl = (
        "struct<"
        + ",".join(
            [f"{v}:{right.schema[v].dataType.simpleString()}" for v in value_cols]
            + [f"__ts:{right.schema[ts_col].dataType.simpleString()}"]
        )
        + ">"
    )

    l = left.selectExpr(
        "*",
        f"1 AS {_IS_LEFT}",
        f"CAST(NULL AS {payload_ddl}) AS {_PAYLOAD}",
    )
    r = right.selectExpr(
        *[q(k) for k in keys],
        q(ts_col),
        f"0 AS {_IS_LEFT}",
        f"{payload_sql} AS {_PAYLOAD}",
        *null_lit_exprs(left, [c for c in lcols if c not in (*keys, ts_col)]),
    )

    unioned = l.unionByName(r)
    # backward walks time ascending (carry the latest preceding right
    # row); forward walks it descending (carry the earliest following
    # one).  Right rows sort before left rows at equal timestamps in
    # BOTH orders, so ties resolve inclusively ("at or before"/"at or
    # after").  NULLS FIRST in both orders: a left row with a NULL
    # timestamp matches nothing, so it must sort before every right
    # row (asc defaults to NULLS FIRST; desc defaults to NULLS LAST,
    # which would hand NULL-ts left rows the extremal right payload).
    ts_dir = "ASC NULLS FIRST" if direction == "backward" else "DESC NULLS FIRST"
    part = (
        f"PARTITION BY {', '.join(q(k) for k in keys)} " if keys else ""
    )
    over = (
        f"OVER ({part}ORDER BY {q(ts_col)} {ts_dir}, {_IS_LEFT} ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    carried = unioned.selectExpr(
        *[q(c) for c in lcols],
        _IS_LEFT,
        f"last({_PAYLOAD}, true) {over} AS `__c`",
    )
    if tolerance is not None:
        gap = (
            f"{ts_col} - __c.__ts"
            if direction == "backward"
            else f"__c.__ts - {ts_col}"
        )
        carried = carried.withColumn(
            "__c", F.when(F.expr(f"{gap} <= {tolerance}"), F.col("__c"))
        )
    return carried.filter(f"{_IS_LEFT} = 1").selectExpr(
        *[q(c) for c in lcols],
        *[f"`__c`.{q(v)} AS {q(v)}" for v in value_cols],
        f"`__c`.`__ts` AS {q(right_ts_alias)}",
    )


def asof_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    key_cols: tuple[str, ...],
    ts_col: str,
    value_cols: tuple[str, ...],
    right_ts_alias: str = "asof_ts",
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """Δ(asof_join) — partial recompute confined to AFFECTED KEYS.

    An as-of match is a per-key computation: an inserted right row can
    steal the match of any left row of its key at or after its
    timestamp, a deleted right row re-matches them backward to the
    previous snapshot — but no row of an UNTOUCHED key can change.  So
    the exact delta region is the key partitions present in either
    delta: restrict both sides (old AND post-delta) to the broadcast
    affected-key set, recompute the as-of there, and emit the minimal
    CDC as a bag diff (one fused ±1-tagged aggregation,
    merge.bag_diff_cdc — each side's as-of recompute runs once).

    Scale shape: the big sides are only ever NULL-SAFE-semi-joined
    against the broadcast affected-key set — never shuffled in full —
    and the per-key union-sort recompute runs over the affected
    partitions only: O(|affected partitions|) per batch, the same
    pruning a key-bucketed store gives a MERGE INTO.  Deltas carry the
    bool multiplicity; output = view columns + the multiplicity bool.
    """
    from ivm_extension_spark.operators.colops import keyed_join
    from ivm_extension_spark.operators.merge import (
        apply_delta_to_table,
        bag_diff_cdc,
    )
    from ivm_extension_spark.operators.rewrite import MULT_COL

    if d_left is None and d_right is None:
        raise ValueError("at least one side needs a delta")
    keys = list(key_cols)
    parts = [d.select(*keys) for d in (d_left, d_right) if d is not None]
    ak = parts[0]
    for p in parts[1:]:
        ak = ak.unionByName(p)
    ak = ak.distinct().localCheckpoint(eager=True)

    def _affected(df: DataFrame) -> DataFrame:
        # NULL-safe: a NULL key is a real as-of group (window partitions
        # group NULLs), so NULL-key delta rows must restrict it too
        return keyed_join(df, ak, keys, "left_semi")

    # the two affected-side restrictions are independent plans — pin
    # them CONCURRENTLY so the narrow checkpoint jobs overlap (pin.py)
    from ivm_extension_spark.operators.pin import build_all, pin_all

    l_a, r_a = pin_all(_affected(left), _affected(right))
    l_new = apply_delta_to_table(l_a, d_left) if d_left is not None else l_a
    r_new = apply_delta_to_table(r_a, d_right) if d_right is not None else r_a

    # the old-side and new-side recomputes are independent constructions
    # over the pinned restrictions — build them concurrently (pin.build_all)
    old, new = build_all(
        lambda: asof_join(
            l_a, r_a, key_cols, ts_col, value_cols, right_ts_alias,
            direction, tolerance,
        ),
        lambda: asof_join(
            l_new, r_new, key_cols, ts_col, value_cols, right_ts_alias,
            direction, tolerance,
        ),
    )
    return bag_diff_cdc(old, new, MULT_COL)
