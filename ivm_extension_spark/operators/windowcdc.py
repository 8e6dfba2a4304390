"""Maintained window-function views — affected-partition partial
recompute.

Window functions (running totals, ranks, lead/lag) are not
delta-maintainable value-to-value: one inserted row shifts every later
row's frame in its partition.  But a window computation is PER
PARTITION: no row of an untouched ``PARTITION BY`` key can change.  So
the exact delta region is the partition keys present in the base-table
delta — the same affected-key argument as the as-of join CDC
(operators/asof.py, whose delta rule this generalizes to any windowed
projection):

    ΔV = [ W(σ_affected(T'))  −  W(σ_affected(T)) ]      (bag diff)

with W the windowed projection, σ_affected the null-safe semi join
against the broadcast affected-key set, and the bag diff fused into a
single ±1-tagged aggregation (merge.bag_diff_cdc) so each side's window
recompute runs once, not once per diff direction.

Scale shape: the base is only ever NULL-SAFE-semi-joined against the
broadcast affected-key set — never shuffled in full — and the window
recompute runs over the affected partitions only: O(|affected
partitions|) per batch, the pruning a key-bucketed store gives a MERGE
INTO.  Determinism contract: the caller's window ordering must be a
TOTAL order within each partition (include a unique tiebreaker column),
otherwise W itself is nondeterministic and no maintenance scheme — nor
a recompute — produces stable results.  (User-facing statement of this
contract, incl. the duplicate-row caveat for multi-window projections:
README.md "Window-view contract".)

Reference parity note: window functions are outside the reference's
surface (README.md:33-36 — SURVEY.md §2c "window functions: not
incremental; exclude from IVM surface"); this operator closes that
exclusion the same way the engine's other beyond-reference rules do,
with the multiplicity-tagged CDC contract shared by every delta rule.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F


def multi_window_view_delta(
    table: DataFrame,
    delta: DataFrame,
    lists: tuple[tuple[str, ...], ...],
    compute: Callable[[DataFrame, tuple[str, ...]], DataFrame],
    mult_col: str = "_duckdb_ivm_multiplicity",
) -> DataFrame:
    """Δ of a window view whose OVER clauses use SEVERAL distinct
    PARTITION BY lists, maintained as ONE fused unit (round 8 — replaces
    the round-7 cascade of per-list intermediate IMMVs, whose cost was
    one full upsert/merge/CDC lifecycle per list per batch).

    Select items cannot reference each other's aliases, so every window
    computes over the SAME input relation and there is no stage
    dependency — the only multi-list question is the delta region:

    - a row's output changes iff it is itself in Δ or ANY of its window
      values changed; window w over list L changes exactly for rows
      whose L-key partition contains a Δ row.  Emission set
      C = ∪_i σ(k_i ∈ A_i) with A_i the distinct L_i keys of Δ.
    - to recompute window w_j for a C row its WHOLE L_j partition must
      be present, so the compute input is the closure
      R = ∪_j σ(k_j ∈ B_j) with B_j the distinct L_j keys of C rows
      (old rows and Δ rows).  Rows in R∖C contribute base values only
      and are never emitted.

    ΔV = [compute(R') |_C  −  compute(R) |_C]   (bag diff, R' = R ± Δ)

    ``compute`` maps (relation, carry_columns) to the windowed
    projection, forwarding the carry columns unchanged — the emission
    flag rides through it (window partition columns may not survive the
    user's select list).

    Scale shape: the base table is scanned narrowly twice (the A-flag
    pass deriving B, and the B-flag pass building R), each a chain of
    broadcast NULL-SAFE left joins against delta-derived key sets —
    never shuffled in full; the window recompute runs over the closure
    partitions only.  The fan-out-consumed relations (Δ, the emission
    keys, the closure R) are EAGER-pinned — each feeds several
    concurrent subjobs, and a lazy shared checkpoint re-runs its base
    scan once per consumer (SCALE_NOTES r8); the per-list key sets stay
    lazy (their recompute is a distinct over the already-pinned input).
    """
    from ivm_extension_spark.operators.merge import (
        apply_delta_to_table,
        bag_diff_cdc,
    )

    from ivm_extension_spark.operators.colops import keyed_join, q

    def _flag_pass(
        df: DataFrame, keysets: list[DataFrame], prefix: str
    ) -> tuple[DataFrame, list[str]]:
        flags: list[str] = []
        for n, (L, ks) in enumerate(zip(lists, keysets)):
            fname = f"__mw_{prefix}{n}"
            kd = ks.selectExpr(*[q(c) for c in L], f"true AS {q(fname)}")
            df = keyed_join(df, kd, L, "left")
            flags.append(fname)
        return df, flags

    def _any(flags: list[str]):
        return F.expr(" OR ".join(f"coalesce({q(f)}, false)" for f in flags))

    # pin the delta ONCE, eagerly: the A_i key-set derivations below are
    # consumed by concurrent broadcast-build subjobs, and a lazy shared
    # plan races — each build re-runs the delta's source scan (the same
    # fan-out-consumer rule as the theta prefix pins, SCALE_NOTES r8)
    delta = delta.localCheckpoint(eager=True)
    a_sets = [
        delta.select(*L).distinct().localCheckpoint(eager=False) for L in lists
    ]
    # B_j: L_j keys of every emitted row — affected OLD rows plus Δ rows
    all_cols = list(dict.fromkeys(c for L in lists for c in L))
    t_a, aflags = _flag_pass(table.select(*all_cols), a_sets, "a")
    # ckeys feeds one broadcast-build subjob PER list (b_sets) — those
    # builds launch concurrently, and a lazy shared checkpoint re-runs
    # the A-flag base scan once per build (the fan-out-consumer rule,
    # SCALE_NOTES r8) — so pin it eagerly: one scan, however many lists
    ckeys = (
        t_a.filter(_any(aflags))
        .select(*all_cols)
        .unionByName(delta.select(*all_cols))
        .localCheckpoint(eager=True)
    )
    b_sets = [ckeys.select(*L).distinct().localCheckpoint(eager=False) for L in lists]
    t_b, bflags = _flag_pass(table, b_sets, "b")
    # r_t fans out to the old-side recompute and (via r_new) the new
    # side — concurrent consumers again, so eager (same rule)
    r_t = t_b.filter(_any(bflags)).drop(*bflags).localCheckpoint(eager=True)
    r_new = apply_delta_to_table(r_t, delta)

    def _emitted(df: DataFrame) -> DataFrame:
        fdf, eflags = _flag_pass(df, a_sets, "e")
        fdf = fdf.withColumn("__mw_emit", _any(eflags)).drop(*eflags)
        out = compute(fdf, ("__mw_emit",))
        return out.filter(F.col("__mw_emit")).drop("__mw_emit")

    # the old- and new-side emitted recomputes are independent
    # constructions over the pinned r_t — build them concurrently
    from ivm_extension_spark.operators.pin import build_all

    old, new = build_all(lambda: _emitted(r_t), lambda: _emitted(r_new))
    return bag_diff_cdc(old, new, mult_col)


def window_view_delta(
    table: DataFrame,
    delta: DataFrame,
    partition_cols: tuple[str, ...],
    compute: Callable[[DataFrame], DataFrame],
    mult_col: str = "_duckdb_ivm_multiplicity",
) -> DataFrame:
    """Δ of ``compute(table)`` under ``delta``, confined to the affected
    ``partition_cols`` keys.  ``compute`` maps the (restricted) base
    relation to the windowed projection; it must be partition-local:
    every window it uses partitions by (at least) ``partition_cols``, so
    restricting its input to whole partitions commutes with it.  Returns
    view columns + the bool multiplicity."""
    from ivm_extension_spark.operators.colops import keyed_join
    from ivm_extension_spark.operators.merge import (
        apply_delta_to_table,
        bag_diff_cdc,
    )

    keys = list(partition_cols)
    # EAGER pins: t_a feeds the old- and new-side window recomputes —
    # independent stage subtrees of the same job that run concurrently,
    # so a lazy shared checkpoint races and the affected-partition scan
    # runs twice (the fan-out-consumer rule, SCALE_NOTES r8).  The pin
    # lands on Δ itself, not on the derived key set: Δ fans out to the
    # affected-key broadcast build AND the new-side delta application,
    # while the key set has ONE
    # consumer — pinning Δ covers every consumer at the same job count
    # (r9 optimization; the key distinct is a narrow op over the pinned
    # blocks inside t_a's broadcast build)
    delta = delta.localCheckpoint(eager=True)
    ak = delta.select(*keys).distinct()
    t_a = keyed_join(table, ak, keys, "left_semi").localCheckpoint(eager=True)
    t_new = apply_delta_to_table(t_a, delta)
    # old- and new-side window recomputes: independent constructions
    # over the pinned t_a — build them concurrently (pin.build_all)
    from ivm_extension_spark.operators.pin import build_all

    old, new = build_all(lambda: compute(t_a), lambda: compute(t_new))
    return bag_diff_cdc(old, new, mult_col)
