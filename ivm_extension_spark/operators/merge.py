"""The ⊎ (upsert) operator: V' = V ⊎ ΔV.

The reference computes ΔV but never merges it back — its poster states
the algebra (re-aggregate ``V UNION ALL ΔV``) and lists "upsert op for
deleted deltas" under Future Work (SURVEY.md section 1.1).  This module
implements it with signed-weight re-aggregation:

- aggregate views: group the union of V (weight +1) and ΔV (+1 insert /
  -1 delete) by the view keys; each SUM/COUNT column merges as
  SUM(col * weight).  A hidden ``__ivm_count`` count(*) companion is
  threaded through every aggregate view so fully-deleted groups are
  dropped (net count 0) even for sum-only views.  AVG merges via hidden
  SUM/COUNT companions.  MIN/MAX merge on insert-only deltas
  (least/greatest); deletes require re-scan state the poster itself
  defers — we raise with a pointer to ``full_refresh``.
- counted multisets: :func:`recount` is the one signed re-count
  S ⊎ Δ over (columns, count) rows, with non-positive counts dropped.
  Projection-view state (bag semantics), base tables folding their
  deltas, the CDC diff of two relations and the auxiliary value
  multisets (operators/auxstate.py) all go through it.

Scale notes: the merge is one shuffle on the view keys (the view state
is already key-partitioned if written bucketed); map-side partial
aggregation applies because everything is expressed as SUM.  Once the
state is large, the caller picks the patch form instead (grouped:
:func:`_patch_combine`; counted: the touched-split form of
:func:`recount`): ΔV's keys are broadcast and the state is only scanned
narrowly, never exchanged — the shape of a lakehouse MERGE INTO, and the
signed-weight algebra here is exactly what that MERGE would express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ivm_extension_spark.operators import colops
from ivm_extension_spark.operators.colops import q
from ivm_extension_spark.operators.rewrite import MULT_COL, IVMError
from ivm_extension_spark.plans.viewdef import (
    ORDERED_AGGS,
    VARIANCE_AGGS,
    Aggregate,
    ViewDef,
)

HIDDEN_COUNT = "__ivm_count"
_SIGN = "__ivm_sign"


def variance_oracle_sql(fn: str, s: str, q: str, n: str) -> str:
    """A variance-family aggregate recomposed from its exact linear
    companions ``s`` = SUM(x), ``q`` = SUM(x*x), ``n`` = COUNT(x), given
    as SQL column names or expressions.

    The arithmetic is one fixed IEEE-754 expression tree (cast to double
    → q − s·s/n → divide → clamp at 0 → sqrt), used by every read here
    and by the oracle engine: the same tree over the same exact integer
    companions gives bit-identical doubles.  The clamp guards the tiny
    negative residue the formula can leave for near-constant inputs."""
    pop = fn.endswith("_pop")
    denom = f"CAST({n} AS DOUBLE)" if pop else f"(CAST({n} AS DOUBLE) - 1.0)"
    core = (
        f"greatest((CAST({q} AS DOUBLE) - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE) "
        f"/ CAST({n} AS DOUBLE)) / {denom}, 0.0)"
    )
    if fn.startswith("stddev"):
        core = f"sqrt({core})"
    return f"CASE WHEN {n} >= {1 if pop else 2} THEN {core} ELSE CAST(NULL AS DOUBLE) END"


def internal_view(view: ViewDef) -> ViewDef:
    """Augment an aggregate view with the hidden companions merging needs:

    - ``__ivm_count`` = count(*) for net-zero group elimination,
    - for each avg(e): hidden sum(e) / count(e) so AVG re-merges exactly.

    SELECT DISTINCT views lower to exactly this shape: the select items
    are the group keys and the hidden count is the tuple's multiset
    count — a tuple is visible while it is positive.

    Projection-only (non-DISTINCT) views pass through unchanged.
    """
    if not view.is_aggregate and not view.distinct:
        return view
    import dataclasses

    aggs = list(view.aggregates)
    extra: list[Aggregate] = []
    for a in view.aggregates:
        if a.fn == "avg":
            extra.append(Aggregate("sum", a.expr, f"__ivm_avgsum_{a.alias}"))
            extra.append(Aggregate("count", a.expr, f"__ivm_avgcnt_{a.alias}"))
        elif a.fn in VARIANCE_AGGS:
            # exact linear companions: SUM(x), SUM(x*x), COUNT(x) — every
            # delta/merge rule treats them as ordinary sums/counts, and
            # finalize() recomposes the variance on read
            extra.append(Aggregate("sum", a.expr, f"__ivm_vs_{a.alias}"))
            extra.append(
                Aggregate("sum", f"({a.expr}) * ({a.expr})", f"__ivm_vq_{a.alias}")
            )
            extra.append(Aggregate("count", a.expr, f"__ivm_vn_{a.alias}"))
    extra.append(Aggregate("count", "*", HIDDEN_COUNT))
    # the DISTINCT flag is consumed by this lowering (select items become
    # group keys of the hidden count) — the internal view must not carry it
    return dataclasses.replace(
        view,
        aggregates=tuple(aggs + extra),
        output_order=tuple([*view.output_order, *(e.alias for e in extra)]),
        distinct=False,
    )


def finalize(df: DataFrame, view: ViewDef) -> DataFrame:
    """Strip hidden companion columns, recomputing AVG from its hidden
    sum/count so merged averages are exact.  HAVING applies here — to the
    public view only, never to ΔV (which carries the multiplicity column):
    maintained state stays pre-HAVING so a group can enter/leave the
    visible result as later deltas move it across the threshold."""
    is_delta = MULT_COL in df.columns
    if view.grouping_sets and not is_delta:
        return _read_transforms(_finalize_grouping_sets(df, view), view)
    cols = []
    for alias in view.output_order:
        agg = view.aggregate_by_alias(alias)
        if agg is not None and agg.fn == "avg":
            # avgcnt == 0 (a live group whose avg inputs are all NULL —
            # avg() over them is NULL): guard the division, or Spark 4's
            # default ANSI mode throws DIVIDE_BY_ZERO on every read
            cnt = q(f"__ivm_avgcnt_{alias}")
            cols.append(
                f"CASE WHEN {cnt} > 0 THEN {q(f'__ivm_avgsum_{alias}')} / {cnt}"
                f" END AS {q(alias)}"
            )
        elif agg is not None and agg.fn in VARIANCE_AGGS:
            cols.append(
                variance_oracle_sql(
                    agg.fn,
                    q(f"__ivm_vs_{alias}"),
                    q(f"__ivm_vq_{alias}"),
                    q(f"__ivm_vn_{alias}"),
                )
                + f" AS {q(alias)}"
            )
        else:
            cols.append(q(alias))
    if is_delta:
        cols.append(q(MULT_COL))
    out = df.selectExpr(*cols)
    if is_delta:
        return out
    if view.having:
        out = out.filter(F.expr(view.having))
    if view.read_windows:
        # windows over the AGGREGATE view's own output — global ones
        # included — recomputed on read over the post-HAVING state (SQL
        # evaluates window functions after GROUP BY/HAVING).  The state
        # is the bounded delta region, so this is O(|state|) per read
        # and the maintained columns never include a rank.
        for e, a in view.read_windows:
            out = out.withColumn(a, F.expr(e))
        if view.public_order:
            out = out.select(*[F.col(a) for a in view.public_order])
    if view.qualify:
        # window predicates can't sit in a filter directly: materialize
        # the boolean, filter, drop.  State is pre-QUALIFY (ranks move
        # under deltas), so this is purely a read transform; Spark plans
        # rank-comparison qualifies as WindowGroupLimit (partial top-N
        # per partition before the exchange).
        out = (
            out.withColumn("__ivm_qualify", F.expr(view.qualify))
            .filter(F.col("__ivm_qualify"))
            .drop("__ivm_qualify")
        )
    return _read_transforms(out, view)


def _read_transforms(out: DataFrame, view: ViewDef) -> DataFrame:
    """ORDER BY / LIMIT on the public view.  Maintained state is always
    the full pre-limit relation (a row's rank can move under later
    deltas); with a LIMIT the read plans as TakeOrderedAndProject —
    per-partition partial top-k, no global sort (plan-audited)."""
    if view.order_by:
        out = out.orderBy(
            *[
                F.expr(e).asc() if d == "asc" else F.expr(e).desc()
                for e, d in view.order_by
            ]
        )
    if view.limit is not None:
        out = out.limit(view.limit)
    return out


def grouping_level(state: DataFrame, view: ViewDef, gs: tuple[str, ...]) -> DataFrame:
    """ONE grouping-set level re-aggregated from (a slice of) the
    finest-grouping state, rolled-up keys NULL-padded, pre-HAVING.
    Exposed for :meth:`engine.IVMEngine.merge_view_cdc`, which builds
    per-level CDC from affected state slices."""
    keys = [a for _, a in view.select]
    aggs = []
    for a in view.aggregates:
        if a.alias.startswith("__ivm_"):
            continue
        if a.fn in ("sum",):
            aggs.append(F.sum(F.col(a.alias)).alias(a.alias))
        elif a.fn == "count":
            # coalesce: the grand-total set over an EMPTY state is one
            # row (global-aggregate semantics) where COUNT must be 0
            aggs.append(
                F.coalesce(F.sum(F.col(a.alias)), F.lit(0))
                .cast("long")
                .alias(a.alias)
            )
        elif a.fn == "min":
            aggs.append(F.min(F.col(a.alias)).alias(a.alias))
        elif a.fn == "max":
            aggs.append(F.max(F.col(a.alias)).alias(a.alias))
        elif a.fn == "avg":
            # same ANSI zero-divisor guard as finalize: a level whose
            # avg inputs are all NULL reads as NULL, not DIVIDE_BY_ZERO
            s = F.sum(F.col(f"__ivm_avgsum_{a.alias}"))
            c = F.sum(F.col(f"__ivm_avgcnt_{a.alias}"))
            aggs.append(F.when(c > 0, s / c).alias(a.alias))
        elif a.fn in VARIANCE_AGGS:
            # the hidden companions are plain sums — additive across
            # the finest groups, so each rollup level recomposes exactly
            s, sq, n = (
                f"sum({q(f'__ivm_{p}_{a.alias}')})" for p in ("vs", "vq", "vn")
            )
            aggs.append(
                F.expr(f"{variance_oracle_sql(a.fn, s, sq, n)} AS {q(a.alias)}")
            )
        else:  # pragma: no cover — rejected in ViewDef.__post_init__
            raise NotImplementedError(a.fn)
    lvl = state.groupBy(*[F.col(k) for k in gs]).agg(*aggs)
    pads = [
        F.col(k) if k in gs else F.lit(None).cast(state.schema[k].dataType).alias(k)
        for k in keys
    ]
    return lvl.select(
        *[p.alias(k) for p, k in zip(pads, keys)],
        *[F.col(a) for a in view.output_order if a not in keys],
    ).select(*[F.col(a) for a in view.output_order])


def _finalize_grouping_sets(state: DataFrame, view: ViewDef) -> DataFrame:
    """Expand ROLLUP/CUBE/GROUPING SETS from the finest-grouping state:
    one re-aggregation per listed set, rolled-up keys NULL-padded, all
    levels unioned.  The state is O(finest groups) — tiny next to the
    base data — so every level is an aggregation of already-aggregated
    rows; sum/count re-add, min/max re-extremize, avg recomposes from
    its hidden sum/count companions.  (ΔV stays at the finest grouping:
    deltas compose there, and the expansion is a pure read transform.)"""
    levels = [grouping_level(state, view, gs) for gs in view.grouping_sets]
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    if view.having:
        out = out.filter(F.expr(view.having))
    return out


def merge(
    state: DataFrame,
    delta_v: DataFrame,
    view: ViewDef,
    derived: dict[str, DataFrame] | None = None,
    strategy: str = "shuffle",
) -> DataFrame:
    """V ⊎ ΔV.  ``state`` and ``delta_v`` must be in *internal* shape
    (hidden companions included); use :func:`finalize` for the public
    result.

    ``derived`` maps aggregate aliases to exact re-derived per-group
    values from auxiliary value state (operators/auxstate.py) — when
    present, MIN/MAX/COUNT(DISTINCT) merge exactly even under deletes;
    without it those aggregates reject delete-bearing deltas.

    ``strategy`` picks how the state absorbs ΔV:

    - ``"shuffle"``: union V and ΔV, re-aggregate on the view keys —
      ONE exchange of O(|V| + |ΔV|).
    - ``"patch"``: fold ΔV to one row per touched key (O(|ΔV|) work),
      broadcast it, and combine it into the state without exchanging
      the state — it is only scanned narrowly, so shuffled bytes per
      batch drop from O(|V|) to O(|ΔV|), the shape that matters when
      |V| is itself huge.  Grouped state LEFT-joins the fold and takes
      brand-new groups by an anti join (:func:`_patch_combine`);
      projection views take the touched-split form of :func:`recount`.

    Global aggregates (no keys) always take their dedicated path.
    """
    if view.is_aggregate:
        return _merge_aggregate(state, delta_v, view, derived or {}, strategy)
    return _merge_bag(state, delta_v, view, strategy)


def _folds(iview: ViewDef) -> list:
    """One fold per aggregate over signed rows (``_SIGN`` ±1, state rows
    +1) to one row per key — the shuffle merge's regroup and the patch
    merge's ΔV fold.  MIN/MAX fold insert-side rows only: a delete-bearing
    batch either raised (no aux state) or has its value overwritten by
    ``auxstate.patch_merged``.  The other non-additive columns keep any
    row's value: AVG/variance are recomputed from their hidden companions
    in :func:`finalize`, DISTINCT sums and order statistics are
    overwritten by the aux patch."""
    folds = []
    for a in iview.aggregates:
        c = q(a.alias)
        if a.fn in ("sum", "count", "count_distinct"):
            # COUNT(DISTINCT) is not additive across batches; merging it as
            # a sum is exact only through the aux patch that overwrites it
            e = f"sum({c} * {_SIGN})"
            if a.fn != "sum":
                e = f"CAST({e} AS BIGINT)"
        elif a.fn in ("min", "max"):
            e = f"{a.fn}(CASE WHEN {_SIGN} > 0 THEN {c} END)"
        else:
            e = f"first({c})"
        folds.append(F.expr(f"{e} AS {c}"))
    return folds


def _patch_combine(
    state: DataFrame, delta_v: DataFrame, iview: ViewDef, keys: list[str]
) -> DataFrame:
    """Combine ΔV into grouped state without exchanging the state (see
    :func:`merge`, strategy="patch").  Returns rows in internal shape,
    pre net-zero-group filtering."""
    keyq = [q(k) for k in keys]
    aggs = [a.alias for a in iview.aggregates]
    # one row per touched key; eager checkpoint — O(|ΔV|) rows reused by
    # the combine join, the touched-key probe, and the anti join
    dvagg = (
        colops.signed(delta_v, MULT_COL, _SIGN)
        .groupBy(*keyq)
        .agg(*_folds(iview))
        .localCheckpoint(eager=True)
    )
    dren = dvagg.selectExpr(*keyq, *[f"{q(a)} AS {q('__ivm_dv_' + a)}" for a in aggs])
    joined = colops.keyed_join(state, dren, keys, "left")
    combined = []
    for a in iview.aggregates:
        s, dd = q(a.alias), q(f"__ivm_dv_{a.alias}")
        if a.fn in ("sum", "count", "count_distinct"):
            na = f"coalesce({s} + {dd}, {s}, {dd})"
        elif a.fn in ("min", "max"):
            # least/greatest skip a NULL operand
            na = f"{'least' if a.fn == 'min' else 'greatest'}({s}, {dd})"
        else:
            na = s
        combined.append(f"{na} AS {s}")
    existing = joined.selectExpr(*keyq, *combined)
    # brand-new groups: fold keys with no state row.  The state-side
    # probe is a broadcast SEMI join (state scanned narrowly, never
    # exchanged) whose result is O(|ΔV|); the fold anti-joins against it.
    touched = colops.keyed_join(state.selectExpr(*keyq), dvagg, keys, "left_semi")
    return existing.unionByName(colops.keyed_join(dvagg, touched, keys, "left_anti"))


def _merge_aggregate(
    state: DataFrame,
    delta_v: DataFrame,
    view: ViewDef,
    derived: dict[str, DataFrame],
    strategy: str = "shuffle",
) -> DataFrame:
    from ivm_extension_spark.operators import auxstate

    iview = view if any(a.alias == HIDDEN_COUNT for a in view.aggregates) else internal_view(view)
    key_aliases = [a for _, a in iview.select]
    agg_aliases = [a.alias for a in iview.aggregates]

    # the delete-probe is an eager job — run it only when some aggregate
    # actually distinguishes insert-only batches (MIN/MAX/COUNT DISTINCT
    # without derived aux state); SUM/COUNT/AVG views skip it entirely
    needs_probe = any(
        a.fn in ("min", "max", "count_distinct") and a.alias not in derived
        for a in iview.aggregates
    )
    has_delete = (
        needs_probe and delta_v.filter(~F.col(MULT_COL)).limit(1).count() > 0
    )
    for a in iview.aggregates:
        if a.fn in ("sum_distinct", "avg_distinct") and a.alias not in derived:
            # like the order statistics: a distinct sum/mean is a function
            # of the group's value SET — not combinable value-to-value even
            # insert-only (overlapping values across batches double-count)
            raise IVMError(
                f"{a.fn.upper()} merge requires the auxiliary value "
                "relation — maintain the view through IVMEngine (which "
                "keeps it automatically) or use full_refresh()"
            )
        if a.fn in ORDERED_AGGS and a.alias not in derived:
            # unlike MIN/MAX, order statistics can't combine value-to-value
            # even on insert-only batches (the new median/mode depends on
            # the whole value multiset, not the extremes)
            raise IVMError(
                f"{a.fn.upper()} merge requires the auxiliary value "
                "relation — maintain the view through IVMEngine (which "
                "keeps it automatically) or use full_refresh()"
            )
        if a.fn in ("min", "max") and has_delete and a.alias not in derived:
            raise IVMError(
                f"{a.fn.upper()} merge under deletes needs auxiliary value "
                "state — maintain the view through IVMEngine (which keeps "
                "it automatically) or use full_refresh() for this batch"
            )
        if a.fn == "count_distinct" and has_delete and a.alias not in derived:
            raise IVMError(
                "COUNT(DISTINCT) merge under deletes requires per-value counts; "
                "maintain the view through IVMEngine or use full_refresh()"
            )

    if strategy == "patch" and key_aliases:
        out = _patch_combine(state, delta_v, iview, key_aliases)
    else:
        s = state.selectExpr("*", f"1 AS {_SIGN}")
        d = colops.signed(delta_v, MULT_COL, _SIGN)
        out = (
            s.unionByName(d)
            .groupBy(*[q(k) for k in key_aliases])
            .agg(*_folds(iview))
        )
    if key_aliases:
        out = out.filter(F.col(HIDDEN_COUNT) > 0)  # net-zero groups disappear
    else:
        # a global aggregate always returns exactly ONE row (SQL semantics,
        # matched by full refresh); when the net count reaches zero every
        # aggregate reverts to its empty-input value: 0 for COUNT /
        # COUNT(DISTINCT), NULL for SUM/MIN/MAX/AVG companions
        # one fused select: every rewrite reads the ORIGINAL columns
        # (HIDDEN_COUNT is rewritten last in iview.aggregates, so the
        # old per-aggregate withColumn loop also fed each rewrite the
        # original alive test — same values, N fewer analysis passes)
        alive = F.coalesce(F.col(HIDDEN_COUNT), F.lit(0)) > 0
        rewritten = {}
        for a in iview.aggregates:
            if a.fn in ("count", "count_distinct"):
                empty_v = F.lit(0).cast("long")
            else:
                empty_v = F.lit(None).cast(out.schema[a.alias].dataType)
            rewritten[a.alias] = F.when(alive, F.col(a.alias)).otherwise(empty_v)
        out = out.select(
            *[
                rewritten[c].alias(c) if c in rewritten else F.col(c)
                for c in out.columns
            ]
        )
    out = out.selectExpr(*[q(a) for a in (*key_aliases, *agg_aliases)])
    return auxstate.patch_merged(out, iview, derived)


_N = "__ivm_n"
_DELTA_WEIGHT = f"CASE WHEN {q(MULT_COL)} THEN 1 ELSE -1 END"


def _counted(df: DataFrame, cols: list[str], weight: str) -> DataFrame:
    """``cols`` of ``df`` plus the count column ``_N`` = ``weight`` (SQL)."""
    return df.selectExpr(*[q(c) for c in cols], f"{weight} AS {q(_N)}")


def _regroup(df: DataFrame, cols: list[str], n_col: str = _N) -> DataFrame:
    """One row per distinct ``cols`` tuple with its summed count."""
    n = q(n_col)
    return df.groupBy(*[q(c) for c in cols]).agg(
        F.expr(f"CAST(sum({n}) AS BIGINT) AS {n}")
    )


def _exploded(counts: DataFrame, cols: list[str]) -> DataFrame:
    """A counted multiset back as rows: each tuple repeated ``_N`` times."""
    return counts.selectExpr(
        *[q(c) for c in cols], f"explode(sequence(1, {q(_N)})) AS `__ivm_i`"
    ).drop("__ivm_i")


def recount(
    state: DataFrame,
    delta: DataFrame,
    cols: list[str],
    n_col: str = _N,
    split: bool = False,
    signed: bool = False,
) -> DataFrame:
    """The signed re-count S ⊎ Δ — the one ⊎ over a counted multiset.

    ``state`` and ``delta`` hold ``cols`` plus a count column ``n_col``
    (the delta's counts signed).  Returns one row per distinct tuple with
    its net count, non-positive counts dropped (``signed``: only zero
    counts — a signed diff, not a multiset).  Groupings and joins are
    NULL-safe.  Two forms, chosen by the caller:

    - full (default): one union and one regroup — ONE exchange of
      O(|S| + |Δ|).
    - touched split (``split``): state rows whose tuple is absent from
      the delta pass through a NARROW broadcast anti join, and only the
      semi-joined touched slice is re-counted with the delta.  The state
      is never exchanged: the shape for a state far larger than its
      delta.  The delta is read three times, so the caller passes it
      folded and pinned.
    """
    def net(df: DataFrame) -> DataFrame:
        keep = f"{q(n_col)} {'!=' if signed else '>'} 0"
        return _regroup(df, cols, n_col).filter(keep)

    if not split:
        return net(state.unionByName(delta))
    untouched = colops.keyed_join(state, delta, cols, "left_anti")
    touched = colops.keyed_join(state, delta, cols, "left_semi")
    return untouched.unionByName(net(touched.unionByName(delta)))


def _merge_bag(
    state: DataFrame, delta_v: DataFrame, view: ViewDef, strategy: str = "shuffle"
) -> DataFrame:
    """Projection-view bag merge: the state's rows count +1 each, ΔV's
    ±1, and :func:`recount` re-counts them — the full form for
    ``"shuffle"``; for ``"patch"`` ΔV is first folded to one net count
    per tuple and the touched-split form re-counts only the state rows of
    those tuples, never exchanging the state."""
    cols = list(view.output_order)
    d = _counted(delta_v, cols, _DELTA_WEIGHT)
    split = strategy == "patch"
    if split:
        d = _regroup(d, cols).localCheckpoint(eager=True)
    return _exploded(recount(_counted(state, cols, "1"), d, cols, split=split), cols)


def bag_diff_cdc(
    old: DataFrame, new: DataFrame, mult_col: str = MULT_COL
) -> DataFrame:
    """CDC bag diff in ONE aggregation:
    ``new.exceptAll(old)`` tagged True ⊎ ``old.exceptAll(new)`` tagged
    False, but fused.  The naive two-``exceptAll`` union evaluates BOTH
    input plans twice (each exceptAll is its own union+count+replicate
    subtree — Spark's RewriteExceptAll cannot share work across the two
    calls), which for the window/as-of delta rules means four window
    recomputes per batch where two suffice.  Here ``new`` counts +1 and
    ``old`` −1 in one signed :func:`recount`, and rows with a non-zero
    net count are replicated |net| times carrying ``sign(net) > 0`` as
    the multiplicity — exactly the multiset the two exceptAlls produce.
    NULL/NaN grouping equality matches exceptAll's comparison rules."""
    cols = list(old.columns)
    net = recount(
        _counted(new, cols, "1"), _counted(old, cols, "-1"), cols, signed=True
    )
    n = q(_N)
    return net.selectExpr(
        *[q(c) for c in cols],
        f"explode(array_repeat({n} > 0, CAST(abs({n}) AS INT))) AS {q(mult_col)}",
    )


def apply_delta_to_table(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply a delta table to its base table (bag semantics): the ground
    truth T' = T ∪ Δ⁺ ∖ Δ⁻ used by full refresh and the IVM invariant
    tests (merge(q(T), ΔV) == q(T')) — the full form of :func:`recount`."""
    cols = list(base.columns)
    d = _counted(delta, cols, _DELTA_WEIGHT)
    return _exploded(recount(_counted(base, cols, "1"), d, cols), cols)
