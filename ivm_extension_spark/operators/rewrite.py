"""The IVM rewrite: turn a ViewDef into its delta plan (a DataFrame).

This is the Spark-first re-expression of the reference's whole core
(ivm_rewrite_rule.hpp:28-359, a DuckDB optimizer-extension that edits the
optimized logical plan node-by-node).  We never touch plans: the delta
query is *declared* with DataFrame operations and Catalyst does predicate
pushdown / column pruning / physical planning (SURVEY.md section 4 —
zero custom rules needed).

Node-for-node parity with the reference rewrite:

- scan swap  (ivm_rewrite_rule.hpp:100-220): read ``delta_<table>``
  instead of the base table; hard error if the delta is missing
  (reference behavior at :110-116).  Filter/column pushdown onto the
  delta scan (:140, :150-205) is Catalyst's job — free.
- filter     (:277-281): applied unchanged — the delta rule for
  selection is the identity.
- projection (:254-276): multiplicity column selected through.
- aggregate  (:221-253): ``_duckdb_ivm_multiplicity`` added as an extra
  group key so inserts and deletes aggregate into separate groups;
  aggregate functions run unchanged over the delta rows.
- top node   (:62-87): multiplicity appended as the last output column.

Beyond the reference (its poster's "future work"): the inner-join delta
rule  Δ(L ⋈ R) = ΔL⋈R  ∪  L⋈ΔR  ∪  ΔL⋈ΔR  generalized to n tables
(every non-empty subset of delta substitutions), with signed weights
multiplied across sides.  Delta sides are broadcast by default — at
scale ΔT is small relative to T, so every branch becomes a broadcast
hash join and the 100-TB base table is only ever scanned, never
shuffled.

LEFT/FULL OUTER and SEMI/ANTI joins (WHERE [NOT] EXISTS / IN-subquery
views, lowered by the SQL front) are bindings onto the counting-join
rule in ``countjoin.py`` — per-key match counts, NULL-pad terms and
zero crossings, written once for every join family.  The two-table
rules project both sides to positional names plus the equi-pair keys
(``countjoin.equi``); the chain positions reuse its crossings
(``countjoin.key_crossings``).  Base sides are only ever probed by
broadcast delta-derived key sets, never shuffled.  When only the
leftmost table has a delta, any inner/left chain is linear in it and ΔV
is a plain substitution (ΔL joined through unchanged).
"""

from __future__ import annotations

import re
from itertools import product
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from ivm_extension_spark.operators import colops, countjoin as cj
from ivm_extension_spark.operators.colops import q
from ivm_extension_spark.operators.pin import build_all, pin_all, pin_async
from ivm_extension_spark.operators.thetajoin import sub_outside_literals
from ivm_extension_spark.plans.sqlfront import _split_conjuncts
from ivm_extension_spark.plans.viewdef import Aggregate, ViewDef

MULT_COL = "_duckdb_ivm_multiplicity"
_SIGN = "__ivm_sign"


class IVMError(RuntimeError):
    """Engine-level error (missing delta table, unsupported shape, ...)."""


def _agg_expr(agg: Aggregate):
    e = F.expr(agg.expr) if agg.expr != "*" else None
    if agg.fn == "sum":
        out = F.sum(e)
    elif agg.fn == "count":
        out = F.count(F.lit(1)) if e is None else F.count(e)
    elif agg.fn == "avg":
        out = F.avg(e)
    elif agg.fn == "min":
        out = F.min(e)
    elif agg.fn == "max":
        out = F.max(e)
    elif agg.fn == "count_distinct":
        out = F.count_distinct(e)
    elif agg.fn == "sum_distinct":
        out = F.sum_distinct(e)
    elif agg.fn == "avg_distinct":
        # no pyspark.sql.functions twin — textual DISTINCT inside avg
        out = F.expr(f"avg(DISTINCT {agg.expr})")
    elif agg.fn == "var_pop":
        out = F.var_pop(e)
    elif agg.fn == "var_samp":
        out = F.var_samp(e)
    elif agg.fn == "stddev_pop":
        out = F.stddev_pop(e)
    elif agg.fn == "stddev_samp":
        out = F.stddev_samp(e)
    elif agg.fn == "median":
        out = F.median(e)
    elif agg.fn == "mode":
        # deterministic: ties break to the SMALLEST value — the engine-wide
        # mode semantics (matched by the aux-relation derive and oracles)
        out = F.mode(e, deterministic=True)
    elif agg.fn == "percentile":
        out = F.percentile(e, F.lit(agg.fraction))
    else:  # pragma: no cover - guarded by Aggregate.__post_init__
        raise NotImplementedError(agg.fn)
    return out.alias(agg.alias)


def _signed_delta(delta: DataFrame, sign_col: str) -> DataFrame:
    """delta table (bool multiplicity) -> signed weight column, bool dropped.

    Internally the engine works with signed weights (+1 insert / -1
    delete); the bool survives only at the API surface (SURVEY.md
    section 1.4 mapping table).
    """
    from ivm_extension_spark.operators import colops

    return colops.signed(delta, MULT_COL, sign_col)


def _delta_source(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    broadcast_deltas: bool,
) -> DataFrame:
    """Build the delta source relation with a single ``__ivm_sign`` column.

    Single table: the delta scan itself.  Joins: union of all branches
    where at least one side is a delta (up to 2^n - 1 branches for n
    tables).  A joined table with no registered delta is simply
    unchanged (Δ=∅): every branch marking it delta is empty and is
    skipped — so a fact⋈dim⋈dim view with a delta only on the fact
    table generates exactly one branch.  If NO table has a delta the
    hard error mirrors the reference (ivm_rewrite_rule.hpp:110-116).
    """
    tables = view.tables
    if len(tables) == 1:
        return _signed_delta(get_delta(tables[0]), _SIGN)

    def _has_delta(t: str) -> bool:
        try:
            get_delta(t)
            return True
        except IVMError:
            return False

    with_delta = {t for t in tables if _has_delta(t)}
    if not with_delta:
        get_delta(tables[0])  # re-raise the reference's missing-delta error

    if any(j.how != "inner" for j in view.joins):
        if with_delta == {tables[0]} and all(j.how != "full" for j in view.joins):
            # every inner/left chain is linear in its leftmost argument
            # when the other sides are unchanged: ΔV's source is just ΔL
            # joined through the chain as-is.  (FULL OUTER is NOT linear
            # in either side — its anti parts count matches both ways.)
            acc = _signed_delta(get_delta(tables[0]), _SIGN).alias(tables[0])
            for join in view.joins:
                acc = acc.join(
                    get_table(join.table).alias(join.table),
                    on=F.expr(join.on),
                    how=join.how,
                )
            return acc
        theta_i = (
            next(
                (
                    n
                    for n, j in enumerate(view.joins)
                    if j.how in ("left", "full", "semi", "anti")
                    and _has_theta_conjunct(
                        j.on,
                        list(tables[: n + 1]),
                        [c for t in tables[: n + 1] for c in get_table(t).columns],
                        j.table,
                        get_table(j.table).columns,
                    )
                ),
                None,
            )
            if len(tables) > 2
            else None
        )
        if theta_i is not None:
            suffix = view.joins[theta_i + 1 :]
            if all(j.how != "full" for j in suffix) and not (
                with_delta & {j.table for j in suffix}
            ):
                # theta (non-equi) LEFT/FULL/SEMI/ANTI at chain position
                # theta_i: compositional — the prefix P is itself a
                # maintainable join view, so ΔP comes from the ordinary
                # chain rules and Δ(P ⟕θ C) from the two-relation theta
                # algebra with (P, ΔP, C, ΔC); a deltaless FULL-free
                # suffix then folds in linearly (every inner/left/semi/
                # anti join is linear in its left argument).
                return _theta_mid_chain_delta(
                    view, get_table, get_delta, broadcast_deltas, with_delta, theta_i
                )
            # FULL suffix join(s) and/or suffix-table deltas after the
            # theta position: virtualize the theta core as a single base
            # relation with its own exact delta and let the ordinary
            # chain rules handle the suffix (incl. FULL flips and
            # multi-delta sequential worlds) recursively.
            return _theta_chain_general_delta(
                view, get_table, get_delta, broadcast_deltas, with_delta, theta_i
            )
        if with_delta == {tables[0]} and len(tables) > 2:
            # chain with FULL join(s) and the delta on the leftmost table:
            # fold the pre-FULL prefix linearly with aliases intact, then
            # FLATTEN to bare columns so _fold_suffix can run with
            # pin=True — each branch feeds both the Δm key fold and the
            # output union at every FULL, and without the checkpoint the
            # delta-joined prefix plan would execute twice per FULL
            # (mirrors _chain_single_delta's hand-off).  The composed old
            # left is still only probed by broadcast Δ-key sets, never
            # shuffled.
            joins = view.joins
            first_full = next(n for n, j in enumerate(joins) if j.how == "full")
            b0 = _signed_delta(get_delta(tables[0]), _SIGN).alias(tables[0])
            refs0 = [(tables[0], c) for c in get_table(tables[0]).columns]
            for j in joins[:first_full]:
                b0 = b0.join(
                    get_table(j.table).alias(j.table), on=F.expr(j.on), how=j.how
                )
                if j.how not in ("semi", "anti"):
                    refs0 += [(j.table, c) for c in get_table(j.table).columns]
            reserved0 = {
                c
                for j in joins[first_full:]
                for c in get_table(j.table).columns
            }
            uniq0, renames0 = _uniquify_flat(refs0, reserved0)
            flat0 = b0.select(
                *[F.col(f"{t}.{c}").alias(name) for t, c, name in uniq0],
                F.col(_SIGN),
            )
            flat_tabs = [tables[0]] + [j.table for j in joins[:first_full]]
            branches, refs = _fold_suffix(
                _flatten_suffix_view(view, flat_tabs, first_full, renames0),
                get_table,
                F.broadcast if broadcast_deltas else (lambda df: df),
                [flat0],
                [(None, name) for _, _, name in uniq0],
                first_full,
                pin=True,
                old_left_map={name: f"{t}.{c}" for t, c, name in uniq0},
            )
            back0 = {name: c for _, c, name in uniq0 if name != c}
            out_names0 = [back0.get(n, n) for _, n in refs] + [_SIGN]
            return _flatten_refs(branches, refs).toDF(*out_names0)
        if len(tables) == 2:
            how = view.joins[0].how
            if how in ("semi", "anti"):
                return _semi_anti_delta(
                    view, get_table, get_delta, anti=how == "anti"
                )
            return _outer_join_delta(
                view, get_table, get_delta, full=how == "full"
            )
        if len(with_delta) == 1:
            (dt,) = with_delta
            i = tables.index(dt)
            # a FULL join anywhere is fine for a single-table delta: in
            # the PREFIX it is just part of the unchanged relation, at
            # the delta position _chain_single_delta runs the two-sided
            # anti machinery, and in the SUFFIX _fold_suffix adds the
            # R-preserved flip branches
            if i > 0:
                return _chain_single_delta(
                    view, get_table, get_delta, broadcast_deltas, i
                )
        if (
            len(tables) > 2
            and view.joins[0].how == "full"
            and with_delta <= {tables[0], tables[1]}
        ):
            # FULL OUTER leading a chain, deltas confined to its two sides:
            # ΔV = Δ(T0 ⟗ T1) ∘ suffix — non-FULL suffix joins are linear
            # in their left argument (NULL keys from the outer padding
            # propagate exactly as recomputation would: left pads,
            # inner/semi drop); FULL suffix joins get their flip branches
            # from _fold_suffix.
            import dataclasses

            core = _outer_join_delta(
                dataclasses.replace(view, joins=(view.joins[0],)),
                get_table,
                get_delta,
                full=True,
            )
            core_refs: list[tuple[str | None, str]] = [
                (None, c) for c in core.columns if c != _SIGN
            ]
            branches, refs = _fold_suffix(
                view,
                get_table,
                F.broadcast if broadcast_deltas else (lambda df: df),
                [core],
                core_refs,
                1,
                pin=True,
            )
            return _flatten_refs(branches, refs)
        # every single-delta placement returned above (leftmost: 150/163/197;
        # interior/rightmost: 197/218), so only the multi-delta general case
        # remains — the sequential-worlds decomposition covers it
        return _sequential_worlds_delta(
            view, get_table, get_delta, broadcast_deltas, with_delta
        )

    branches: list[DataFrame] = []
    for combo in product((False, True), repeat=len(tables)):
        if not any(combo):
            continue  # the all-base branch is V itself, not part of ΔV
        if any(is_d and t not in with_delta for t, is_d in zip(tables, combo)):
            continue  # Δ=∅ for a deltaless table: the branch is empty
        sides: list[DataFrame] = []
        for tname, is_delta in zip(tables, combo):
            # alias each side with its table name so join conditions may
            # use qualified columns (f.k = d1.k) when names collide
            if is_delta:
                d = _signed_delta(get_delta(tname), f"__w_{tname}").alias(tname)
                sides.append(F.broadcast(d) if broadcast_deltas else d)
            else:
                sides.append(
                    get_table(tname).withColumn(f"__w_{tname}", F.lit(1)).alias(tname)
                )
        acc = sides[0]
        for join, side in zip(view.joins, sides[1:]):
            acc = acc.join(side, on=F.expr(join.on), how="inner")
        sign_sql = " * ".join(["1"] + [q(f"__w_{t}") for t in tables])
        acc = acc.withColumn(_SIGN, F.expr(sign_sql)).drop(
            *[f"__w_{t}" for t in tables]
        )
        branches.append(acc)
    out = branches[0]
    for b in branches[1:]:
        # positional union: every branch is built with the identical
        # column order (same table order, same per-side projections), and
        # unlike unionByName it tolerates join columns that share a name
        # across tables (f.k = d.k) — a name-keyed union would reject the
        # duplicate column outright
        out = out.union(b)
    return out


def _split_depth0(s: str, rx) -> list[str] | None:
    """Split ``s`` on regex matches occurring at paren/quote depth 0."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    i = last = 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = rx.match(s, i)
            if m and m.end() > i:
                parts.append(s[last : i])
                last = i = m.end()
                continue
        i += 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


# a single '=' that is not part of  <=  >=  !=  ==  <=>
_EQ_RX = re.compile(r"(?<![<>!=])=(?![=>])")


def _uniquify_flat(
    refs: list[tuple[str, str]], reserved: frozenset[str] | set[str] = frozenset()
) -> tuple[list[tuple[str, str, str]], dict[tuple[str, str], str]]:
    """Assign each (table, col) a UNIQUE bare output name for branch
    flattening.  Tables in a chain often share column names (f.k = d.k,
    d.gk = g.gk): aliasing both to bare ``k`` — or flattening a name a
    yet-to-be-joined suffix table also exposes (``reserved``) — makes
    every later reference ambiguous, so such columns get a synthetic
    name; ``renames`` maps exactly those pairs so join-condition
    rewriting can follow."""
    seen: set[str] = set(reserved)
    out: list[tuple[str, str, str]] = []
    renames: dict[tuple[str, str], str] = {}
    for n, (t, c) in enumerate(refs):
        name = c
        if c in seen:
            name = f"__fl{n}_{c}"
            renames[(t, c)] = name
        seen.add(name)
        out.append((t, c, name))
    return out, renames


def _strip_qualifiers(
    cond: str, tables, renames: dict[tuple[str, str], str] | None = None
) -> str:
    """Rewrite ``<table>.<col>`` references for tables whose columns have
    been flattened to bare names (suffix-FULL folding): the raw ON text
    is legal with qualified references, but a flattened branch no longer
    carries alias metadata.  Columns renamed during flattening (name
    collisions across tables) follow their synthetic name."""
    renames = renames or {}
    for t in tables:
        cond = re.sub(
            rf"\b{re.escape(t)}\s*\.\s*(\w+)",
            lambda m, _t=t: renames.get((_t, m.group(1)), m.group(1)),
            cond,
        )
    return cond


def _flatten_suffix_view(
    view: ViewDef,
    flat_tables,
    from_idx: int,
    renames: dict[tuple[str, str], str] | None = None,
) -> ViewDef:
    """A copy of ``view`` whose joins from ``from_idx`` on have the
    flattened tables' qualifiers stripped from their conditions."""
    import dataclasses

    new_joins = tuple(
        j
        if n < from_idx
        else dataclasses.replace(
            j, on=_strip_qualifiers(j.on, flat_tables, renames)
        )
        for n, j in enumerate(view.joins)
    )
    return dataclasses.replace(view, joins=new_joins)


def _equi_pairs(
    cond: str,
    lname: str | list[str],
    rname: str,
    lcols: list[str],
    rcols: list[str],
) -> list[tuple[str, str]] | None:
    """Parse a join condition into conjunctive equi pairs (lexpr, rexpr),
    classifying each equality side by table qualifier or bare-column
    membership.  ``lname`` may be a list of table names when the left
    side is a join prefix (chain maintenance).  Returns None when the
    condition is not a pure conjunctive equi-join (theta/OR/ambiguous) —
    callers then fall back or reject, depending on what the delta rule
    needs."""
    lnames = [lname] if isinstance(lname, str) else list(lname)

    def side(e: str) -> str | None:
        if any(re.search(rf"\b{re.escape(n)}\s*\.", e) for n in lnames):
            return None if re.search(rf"\b{re.escape(rname)}\s*\.", e) else "l"
        if re.search(rf"\b{re.escape(rname)}\s*\.", e):
            return "r"
        bare = e.strip()
        in_l, in_r = bare in lcols, bare in rcols
        if in_l != in_r:
            return "l" if in_l else "r"
        return None

    def resolve_bare(e: str, other: str) -> str | None:
        # pairwise disambiguation: a bare column that exists on BOTH
        # sides is still classifiable when the other equality side has
        # already claimed a table — 'gk = g.gk' (prefix-flattened d.gk)
        # puts the bare gk on the left because g took the right role
        bare = e.strip()
        if other == "r" and bare in lcols:
            return "l"
        if other == "l" and bare in rcols:
            return "r"
        return None

    pairs: list[tuple[str, str]] = []
    for conj in _split_conjuncts(cond):
        sides = _split_depth0(conj, _EQ_RX)
        if len(sides) != 2:
            return None
        a, b = sides
        sa, sb = side(a), side(b)
        if sa is None and sb is not None:
            sa = resolve_bare(a, sb)
        elif sb is None and sa is not None:
            sb = resolve_bare(b, sa)
        if sa == "l" and sb == "r":
            pairs.append((a, b))
        elif sa == "r" and sb == "l":
            pairs.append((b, a))
        else:
            return None
    return pairs or None


def _has_theta_conjunct(
    on: str,
    lnames: list[str],
    lcols: list[str],
    rname: str,
    rcols: list[str],
) -> bool:
    """True iff ``on`` has a conjunct that is neither an equi pair nor a
    build-side-local predicate — i.e. a genuinely TWO-SIDED non-equi
    (theta) condition.  Build-side-local conjuncts (``g.label = 'p'``)
    stay on the classic chain rules, which push them into R before
    counting (the supported EXISTS shape)."""
    for conj in _split_conjuncts(on):
        if _equi_pairs(conj, lnames, rname, lcols, rcols):
            continue
        mentions_l = any(
            re.search(rf"\b{re.escape(n)}\s*\.", conj) for n in lnames
        ) or any(
            re.search(rf"\b{re.escape(c)}\b", conj) and c not in rcols
            for c in lcols
        )
        if mentions_l:
            return True
    return False


def _theta_two_table_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    how: str,
) -> DataFrame:
    """Δ of a two-table LEFT/FULL/SEMI/ANTI join whose condition has no
    conjunctive equi pairs — the general theta algebra
    (operators/thetajoin.py), every branch probing one base relation
    with a BROADCAST delta-derived set (O(|base|·|Δ|) comparisons, no
    base shuffle).  The condition is rewritten to bare column names;
    the thetajoin operators rename both sides to fresh exprIds
    internally, so delta-derived probes are safe."""
    from ivm_extension_spark.operators import thetajoin as tj

    join = view.joins[0]
    lname, rname = view.tables
    L, R = get_table(lname), get_table(rname)
    cond = sub_outside_literals(
        rf"\b(?:{re.escape(lname)}|{re.escape(rname)})\s*\.\s*", "", join.on
    )

    def _maybe_raw(name: str) -> DataFrame | None:
        try:
            return get_delta(name)
        except IVMError:
            return None

    dl, dr = _maybe_raw(lname), _maybe_raw(rname)
    if dl is None and dr is None:
        raise IVMError(f"no delta registered for either of {lname}/{rname}")
    fn = {
        "left": tj.theta_left_join_delta,
        "full": tj.theta_full_join_delta,
        "semi": tj.theta_semi_join_delta,
        "anti": tj.theta_anti_join_delta,
    }[how]
    try:
        dv = fn(L, R, dl, dr, cond)
    except ValueError as e:
        raise IVMError(
            f"theta {how}-join maintenance: {e} (general theta maintenance "
            "requires disjoint column names across the two sides)"
        ) from None
    out_cols = L.columns if how in ("semi", "anti") else [*L.columns, *R.columns]
    return _signed_delta(dv, _SIGN).select(*out_cols, _SIGN)


def _drop_conjuncts(where: str | None, cols: set[str]) -> str | None:
    """The AND-conjuncts of ``where`` that reference NO column in
    ``cols`` (word-boundary match), re-joined — or None if none remain.

    This is the consistency-critical push rule shared by all three
    theta chain sites: what the suffix rule pushes below its prefix
    checkpoint, what the mid-chain rule keeps on the core, and what the
    general (virtual-core) rule both filters B with and hands down —
    B and ΔB MUST be filtered by the same predicate, so the rule lives
    in exactly one place."""
    if not where:
        return None
    keep = [
        conj
        for conj in _split_conjuncts(where)
        if not any(re.search(rf"\b{re.escape(c)}\b", conj) for c in cols)
    ]
    return " AND ".join(f"({c})" for c in keep) if keep else None


def _theta_chain_suffix_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    broadcast_deltas: bool,
    with_delta: set[str],
) -> DataFrame:
    """Δ of a chain whose LAST join is a theta (non-equi) LEFT/FULL/
    SEMI/ANTI join: V = P ⟕θ C where P is the chain prefix.  The rule
    is compositional — ΔP comes from the prefix's own delta rules (the
    prefix is an ordinary maintainable join view), and Δ(P ⟕θ C) from
    the two-relation theta algebra with (P, ΔP, C, ΔC).  P is the OLD
    prefix (base tables only) and is checkpointed once: the theta rule
    probes it only with broadcast delta-derived sets, never shuffles it.
    At scale P is the prefix relation a maintenance engine would persist
    as internal state (or a view of its own under cascading IVM)."""
    import dataclasses

    from ivm_extension_spark.operators import thetajoin as tj

    last = view.joins[-1]
    prefix = dataclasses.replace(view, joins=view.joins[:-1])
    pre_tabs = prefix.tables
    # only tables the prefix PROJECTS contribute columns: a semi/anti
    # join inside the prefix emits left columns only
    vis_tabs = [view.source] + [
        j.table for j in prefix.joins if j.how not in ("semi", "anti")
    ]
    pcols = [c for t in vis_tabs for c in get_table(t).columns]
    if len(set(pcols)) != len(pcols):
        dups = sorted({c for c in pcols if pcols.count(c) > 1})
        raise IVMError(
            f"theta {last.how}-join chain maintenance requires unique "
            f"column names across the prefix tables, got duplicates "
            f"{dups} — rename them or use an equi condition"
        )
    C = get_table(last.table)
    cond = sub_outside_literals(
        rf"\b(?:{'|'.join(re.escape(t) for t in view.tables)})\s*\.\s*",
        "",
        last.on,
    )

    # the view's WHERE is applied above ΔV by the caller, but the P
    # checkpoint below is an optimizer barrier — a predicate over prefix
    # columns only would otherwise be evaluated AFTER materializing the
    # full unfiltered prefix.  σ over preserved-side columns commutes
    # with LEFT/SEMI/ANTI theta (matched and NULL-padded rows carry real
    # P columns), so pre-filter P and ΔP by the prefix-local conjuncts
    # (the caller's re-filter is then a no-op).  NOT valid for FULL: a
    # right row whose only matches fail the predicate must surface as
    # right-preserved, and right-preserved rows have NULL prefix columns.
    pre_pred = (
        _drop_conjuncts(view.where, set(C.columns))
        if last.how != "full"
        else None
    )

    P = get_table(view.source).alias(view.source)
    for j in prefix.joins:
        P = P.join(get_table(j.table).alias(j.table), on=F.expr(j.on), how=j.how)
    P = P.select(*pcols)
    if pre_pred:
        P = P.filter(F.expr(pre_pred))
    # EAGER: the theta delta rule probes P from several concurrent
    # broadcast-build subjobs; a lazy checkpoint races — every build
    # that starts before the first lands recomputes the whole prefix
    # join (profiled r8 on the range lifecycle: six full scans for one).
    # P and ΔP are independent plans — pin them CONCURRENTLY (pin.py)
    # so the two checkpoint jobs and their planning prologues overlap.
    dP: DataFrame | None = None
    if with_delta & set(pre_tabs):
        dP = _delta_source(prefix, get_table, get_delta, broadcast_deltas).select(
            *pcols, _SIGN
        )
        if pre_pred:
            dP = dP.filter(F.expr(pre_pred))
        dP = colops.mult_from_sign(dP, _SIGN, MULT_COL)
    P, dP = pin_all(P, dP)
    dC: DataFrame | None = None
    if last.table in with_delta:
        dC = get_delta(last.table)

    fn = {
        "left": tj.theta_left_join_delta,
        "full": tj.theta_full_join_delta,
        "semi": tj.theta_semi_join_delta,
        "anti": tj.theta_anti_join_delta,
    }[last.how]
    try:
        dv = fn(P, C, dP, dC, cond)
    except ValueError as e:
        raise IVMError(
            f"theta {last.how}-join chain maintenance: {e} (general theta "
            "maintenance requires disjoint column names across the sides)"
        ) from None
    out_cols = pcols if last.how in ("semi", "anti") else [*pcols, *C.columns]
    return _signed_delta(dv, _SIGN).select(*out_cols, _SIGN)


def _theta_mid_chain_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    broadcast_deltas: bool,
    with_delta: set[str],
    i: int,
) -> DataFrame:
    """Δ of a chain with a theta (non-equi) LEFT/FULL/SEMI/ANTI join at
    position ``i`` followed by a deltaless, FULL-free suffix: the chain
    truncated after the theta join is the maintainable core (its delta
    from :func:`_theta_chain_suffix_delta`), and every inner/left/semi/
    anti suffix join is LINEAR in its left argument, so ΔV = Δ(core)
    joined through the suffix as-is.  Suffix join conditions are
    rewritten to bare names for the core side (the core delta is a
    flattened relation, not aliased per table)."""
    import dataclasses

    core_tabs = view.tables[: i + 2]  # source + joins[0..i] tables
    core_view = dataclasses.replace(view, joins=view.joins[: i + 1])
    # the core rule pushes prefix-local WHERE conjuncts below its
    # checkpoint; a conjunct mentioning a SUFFIX table's column must not
    # reach it (the caller applies the full WHERE above ΔV regardless)
    suffix_cols = {
        c for j in view.joins[i + 1 :] for c in get_table(j.table).columns
    }
    if view.where and suffix_cols:
        core_view = dataclasses.replace(
            core_view, where=_drop_conjuncts(view.where, suffix_cols)
        )
    acc = _theta_chain_suffix_delta(
        core_view, get_table, get_delta, broadcast_deltas, with_delta
    )
    strip = rf"\b(?:{'|'.join(re.escape(t) for t in core_tabs)})\s*\.\s*"
    for j in view.joins[i + 1 :]:
        acc = acc.join(
            get_table(j.table).alias(j.table),
            on=F.expr(sub_outside_literals(strip, "", j.on)),
            how=j.how,
        )
    return acc


def _theta_chain_general_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    broadcast_deltas: bool,
    with_delta: set[str],
    i: int,
) -> DataFrame:
    """Δ of a chain with a theta (non-equi) LEFT/FULL/SEMI/ANTI join at
    position ``i`` whose SUFFIX contains FULL join(s) and/or delta
    tables — the shapes :func:`_theta_mid_chain_delta`'s linear fold
    cannot express.  The rule virtualizes: the chain truncated after the
    theta join is a maintainable relation B (flattened to bare unique
    columns), its exact delta ΔB comes from
    :func:`_theta_chain_suffix_delta`, and the whole view is re-read as
    ``B ⊗ suffix`` — an ordinary chain over base tables — which this
    module's existing rules (single-delta folds, FULL flip branches,
    multi-delta sequential worlds) maintain via a recursive
    :func:`_delta_source` call with B served as a virtual table.

    Consistency contract: B is σ_pre(core) where σ_pre is the
    prefix-local WHERE conjuncts the theta chain rule pushes below its
    checkpoint (no push for a FULL theta), so B's old state and ΔB
    describe the SAME relation; the caller re-applies the full WHERE
    above ΔV, where it commutes (conjuncts over core columns kill
    NULL-padded suffix-preserved rows in recompute and in ΔV alike).

    Scale shape: B is checkpointed once (the state a maintenance engine
    would persist — or a cascaded view of its own); ΔB is checkpointed
    so downstream branch fan-out (sequential worlds references each
    delta several times) re-reads rather than re-derives the theta
    branches.  B is only ever probed by the downstream rules the way any
    base table is: broadcast delta keys, never shuffled."""
    import dataclasses

    core_tabs = list(view.tables[: i + 2])  # source + joins[0..i] tables
    core_joins = view.joins[: i + 1]
    suffix = view.joins[i + 1 :]
    last = core_joins[-1]

    # visible core columns: semi/anti joins emit left columns only
    vis_tabs = [view.source] + [
        j.table for j in core_joins[:-1] if j.how not in ("semi", "anti")
    ]
    core_cols = [c for t in vis_tabs for c in get_table(t).columns]
    if last.how not in ("semi", "anti"):
        core_cols += get_table(last.table).columns
    if len(set(core_cols)) != len(core_cols):
        dups = sorted({c for c in core_cols if core_cols.count(c) > 1})
        raise IVMError(
            f"theta {last.how}-join chain maintenance requires unique "
            f"column names across the core tables, got duplicates "
            f"{dups} — rename them or use an equi condition"
        )
    suffix_cols = {c for j in suffix for c in get_table(j.table).columns}
    clash = sorted(set(core_cols) & suffix_cols)
    if clash:
        raise IVMError(
            f"theta {last.how}-join chain maintenance requires column names "
            f"disjoint between the theta core and the suffix tables, got "
            f"duplicates {clash} — rename them or use an equi condition"
        )

    # prune suffix-column conjuncts off the core's WHERE (the caller
    # applies the full WHERE above ΔV regardless), exactly as the
    # mid-chain rule does.  With a FULL join in the SUFFIX no conjunct
    # may be pushed below it at all: suffix-preserved rows carry
    # NULL-padded core columns, and a null-tolerant conjunct
    # (``x IS NULL OR …``) evaluates differently on them than on the
    # pre-join core — B must then be the UNFILTERED core, with the
    # whole WHERE applied above ΔV exactly where recomputation applies
    # it.  (FULL-free suffixes preserve the core side, so core columns
    # are identical in either placement and any conjunct commutes.)
    core_where = None if any(j.how == "full" for j in suffix) else view.where
    if core_where and suffix_cols:
        core_where = _drop_conjuncts(core_where, suffix_cols)
    core_view = dataclasses.replace(view, joins=core_joins, where=core_where)

    # σ_pre: the exact filter _theta_chain_suffix_delta pushes below its
    # prefix checkpoint — prefix-local conjuncts, never for a FULL theta.
    # B must be the SAME σ_pre-filtered relation ΔB maintains, so both
    # derivations go through the one shared _drop_conjuncts rule.
    pre_pred = (
        _drop_conjuncts(core_where, set(get_table(last.table).columns))
        if last.how != "full"
        else None
    )

    # materialize B through compute_view so a structured theta core join
    # takes the dyadic/banded equi route (see the routing section) — the
    # raw Catalyst join here used to be the one BroadcastNestedLoopJoin
    # left on a theta-chain DELTA path, and it re-ran on every branch
    # fan-out that touched the checkpoint before it was materialized
    B = compute_view(
        dataclasses.replace(
            view,
            joins=core_joins,
            where=pre_pred,
            select=tuple((c, c) for c in core_cols),
            aggregates=(),
            group_by=(),
            output_order=tuple(core_cols),
            having=None,
            qualify=None,
            distinct=False,
            grouping_sets=(),
            order_by=(),
            limit=None,
        ),
        get_table,
        # EAGER: the downstream rules probe B from several concurrent
        # broadcast-build subjobs (FULL flip counts, sequential worlds);
        # a lazy checkpoint races and recomputes the theta core join
        # once per build that starts before the first materializes.
        # Pinned ASYNC (pin.py): ΔB's construction below runs the core
        # delta rule — its own eager pins (P/ΔP, the fused A/C joins)
        # plus hundreds of py4j plan-building round-trips — all of which
        # can proceed while B's checkpoint job runs on the cluster.
    )
    fut_B = pin_async(B)

    dB: DataFrame | None = None
    if with_delta & set(core_tabs):
        dB = (
            _theta_chain_suffix_delta(
                core_view, get_table, get_delta, broadcast_deltas, with_delta
            )
            .selectExpr(*[q(c) for c in core_cols], f"{_SIGN} > 0 AS {q(MULT_COL)}")
            .localCheckpoint(eager=True)  # same fan-out-consumer argument
        )
    B = fut_B.result()

    # the virtual core shadows its name in vget_table/vget_delta — a
    # clash (a user table called __theta_core, or this rule's own
    # recursion on double-theta chains, whose virtual view already
    # contains the name) would silently resolve to the WRONG relation,
    # so pick the first fresh name instead
    vname = "__theta_core"
    n = 0
    while vname in view.tables:
        n += 1
        vname = f"__theta_core_{n}"
    strip = rf"\b(?:{'|'.join(re.escape(t) for t in core_tabs)})\s*\.\s*"
    vjoins = tuple(
        dataclasses.replace(j, on=sub_outside_literals(strip, "", j.on))
        for j in suffix
    )
    vview = dataclasses.replace(view, source=vname, joins=vjoins, where=None)

    def vget_table(t: str) -> DataFrame:
        return B if t == vname else get_table(t)

    def vget_delta(t: str) -> DataFrame:
        if t == vname:
            if dB is None:
                raise IVMError(f"no delta registered for table '{vname}'")
            return dB
        return get_delta(t)

    return _delta_source(vview, vget_table, vget_delta, broadcast_deltas)


def _outer_join_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    full: bool = False,
) -> DataFrame:
    """Δ(L ⟕ R) / Δ(L ⟗ R) for a two-table outer join with deltas on
    either or both sides: a binding of the conjunctive equi pairs onto
    the counting-join rule (countjoin.outer_delta over countjoin.equi).
    A condition without equi pairs takes the general theta algebra."""
    join = view.joins[0]
    lname, rname = view.tables
    L, R = get_table(lname), get_table(rname)
    pairs = _equi_pairs(join.on, lname, rname, L.columns, R.columns)
    if pairs is None:
        # general theta condition: no equi axis exists, fall through to
        # the broadcast-delta theta algebra (operators/thetajoin.py).
        # Structured conditions have cheaper dedicated paths the caller
        # may prefer (banded: rangejoin; one-sided: ineqjoin).
        return _theta_two_table_delta(
            view, get_table, get_delta, "full" if full else "left"
        )
    (lp, dlp), (rp, drp) = _equi_operands(view, get_table, get_delta, pairs)
    dv = cj.outer_delta(lp, rp, dlp, drp, cj.equi(len(pairs)), full)
    out = dv.selectExpr(
        *[f"`__l{i}` AS {q(c)}" for i, c in enumerate(L.columns)],
        *[f"`__r{i}` AS {q(c)}" for i, c in enumerate(R.columns)],
        f"CASE WHEN {q(MULT_COL)} THEN 1 ELSE -1 END AS {_SIGN}",
    )
    # positional union under an empty, optimized-away L × R branch: the
    # output keeps the view's table qualifiers, so ``f.k`` and ``d.k``
    # in the view's select still resolve
    anchor = (
        L.alias(lname).limit(0).crossJoin(R.alias(rname).limit(0))
        .select(f"{lname}.*", f"{rname}.*", F.lit(1).alias(_SIGN))
    )
    return anchor.union(out)


def _equi_operands(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    pairs: list[tuple[str, str]],
    rlocal: tuple[str, ...] | list[str] = (),
) -> list[tuple[DataFrame, DataFrame | None]]:
    """(base, delta-or-None) of each side of a two-table equi join,
    projected for countjoin.equi: disjoint positional names ``__l{i}`` /
    ``__r{i}`` plus the equi-pair expressions as ``__k{n}``; deltas keep
    their multiplicity bool.  R-local conjuncts filter R and ΔR first
    (they only shrink what counts as a match)."""
    pred = " AND ".join(f"({c})" for c in rlocal)
    out = []
    for name, tag, exprs in (
        (view.tables[0], "l", [pe for pe, _ in pairs]),
        (view.tables[1], "r", [be for _, be in pairs]),
    ):
        cols = get_table(name).columns

        def proj(df: DataFrame, extra: list[str]) -> DataFrame:
            df = df.alias(name)
            if pred and tag == "r":
                df = df.filter(pred)
            return df.selectExpr(
                *[f"{q(name)}.{q(c)} AS `__{tag}{i}`" for i, c in enumerate(cols)],
                *[f"{e} AS `__k{n}`" for n, e in enumerate(exprs)],
                *extra,
            )

        try:
            delta = proj(get_delta(name), [q(MULT_COL)])
        except IVMError:
            delta = None
        out.append((proj(get_table(name), []), delta))
    return out


def _sequential_worlds_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    broadcast_deltas: bool,
    with_delta: set[str],
) -> DataFrame:
    """ΔV for a non-inner chain with deltas on SEVERAL tables at once,
    as one plan: compose the single-table delta rules through
    *sequential worlds*.

        ΔV = Δ_{T_{i1}}V(world_0) ⊎ Δ_{T_{i2}}V(world_1) ⊎ ...

    where world_k presents the first k delta tables ALREADY advanced
    (T' = T ⊎ ΔT, built lazily with the bag-apply operator — no state is
    mutated, the advance lives inside the plan).  Each step sees exactly
    one delta, so it routes through the ordinary single-delta chain
    machinery; signed ΔV rows are linear under ⊎, so the union of the
    step deltas IS the batch delta.  This is the plan-level form of the
    sequential decomposition engine.maintain() used to perform against
    materialized state — now a single ivm_upsert covers every chain
    shape and delta combination.

    Scale note: a later step's world re-derives earlier advanced tables
    lazily (one bag-apply re-aggregation per advanced table per step) —
    at k simultaneous delta tables that is O(k²) advanced-table
    subplans.  k is small (tables in one view); for the common k=1 and
    the two-table / leading-FULL cases the dedicated one-shot rules are
    used instead (routed before this fallback).
    """
    tables = view.tables
    thunks: list = []
    done: list[str] = []
    for dt in [t for t in tables if t in with_delta]:
        advanced = frozenset(done)

        def gt(n: str, _adv=advanced) -> DataFrame:
            base = get_table(n)
            if n in _adv:
                from ivm_extension_spark.operators.merge import (
                    apply_delta_to_table,
                )

                return apply_delta_to_table(base, get_delta(n))
            return base

        def gd(n: str, _dt=dt) -> DataFrame:
            if n != _dt:
                raise IVMError(f"no delta for table {n!r} (sequential world)")
            return get_delta(n)

        # each world's step delta is an independent construction (its
        # world is fixed by `advanced`; the single-delta machinery never
        # mutates shared state) — build them CONCURRENTLY (pin.build_all)
        thunks.append(
            lambda _gt=gt, _gd=gd: _delta_source(view, _gt, _gd, broadcast_deltas)
        )
        done.append(dt)
    parts: list[DataFrame] = build_all(*thunks)

    # uniform positional flatten: every part projects the same
    # (table, column) refs — qualified when the part kept its aliases,
    # bare when it was already flattened
    refs: list[tuple[str, str]] = [
        (tables[0], c) for c in get_table(tables[0]).columns
    ]
    for j in view.joins:
        if j.how not in ("semi", "anti"):
            refs += [(j.table, c) for c in get_table(j.table).columns]
    flat_cols = [c for _, c in refs] + [_SIGN]
    flat: list[DataFrame] = []
    for p in parts:
        if p.columns == flat_cols:
            # already flattened by the single-delta machinery, in exactly
            # this refs order (its out_refs are built the same way) —
            # selecting by name would trip over duplicated join-key names
            flat.append(p)
            continue
        flat.append(
            p.select(
                *[F.col(f"{t}.{c}").alias(c) for t, c in refs], F.col(_SIGN)
            )
        )
    out = flat[0]
    for b in flat[1:]:
        out = out.union(b)
    return out


def _old_left(view: ViewDef, get_table: Callable[[str], DataFrame], upto: int) -> DataFrame:
    """The composed left side T0 ∘ ... ∘ T_upto of the chain with its
    PRE-delta base tables — the build side for suffix-FULL match
    counting (``get_table`` always returns the unchanged snapshot;
    deltas live in separate relations)."""
    acc = get_table(view.tables[0]).alias(view.tables[0])
    for j in view.joins[:upto]:
        acc = acc.join(get_table(j.table).alias(j.table), on=F.expr(j.on), how=j.how)
    return acc


def _null_row(df: DataFrame, cols: list[str], alias: str | None = None) -> DataFrame:
    """A BROADCAST single-row relation of ``df``'s ``cols`` as typed
    NULLs, aliased ``alias``: crossJoined onto a branch it NULL-pads
    those columns, and qualified references through the alias still
    resolve in later join conditions."""
    nr = df.sparkSession.range(1).selectExpr(*colops.null_lit_exprs(df, cols))
    return F.broadcast(nr.alias(alias) if alias else nr)


def _fold_suffix(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    bc,
    branches: list[DataFrame],
    left_refs: list[tuple[str | None, str]],
    jidx: int,
    pin: bool = False,
    old_left_map: dict[str, str] | None = None,
) -> tuple[list[DataFrame], list[tuple[str | None, str]]]:
    """Fold ``view.joins[jidx:]`` onto the ΔX branch list, FULL OUTER
    included.

    ``branches`` together form ΔX, the delta of the composed left side
    (each branch carries ``__ivm_sign``); ``left_refs`` lists the
    (table_alias_or_None, column) pairs the left side exposes in output
    order — None marks an already-flattened bare column.

    Non-FULL joins are linear in their left argument when the right side
    is unchanged, so they fold into each branch as-is.  A FULL join at
    position k preserves its right side too:

    - the ΔX-side terms fold as LEFT (a ΔX row matches R or carries NULL
      padding, exactly as recomputation would), and
    - R-preserved rows flip where their key's match count in the
      composed left crosses zero — ``countjoin.key_crossings`` over ΔX
      (all branches) against the OLD composed left (:func:`_old_left`);
      gains retract the NULL-padded R row, losses emit it.  The flip
      branch NULL-pads every left column and keeps folding through the
      remaining suffix like any other branch.

    Restriction: the FULL condition must be a conjunctive equi-join, and
    (because ΔX columns may already be flattened) its left key
    expressions must resolve against bare or still-aliased columns.
    """
    joins = view.joins
    left_refs = list(left_refs)
    for k in range(jidx, len(joins)):
        j = joins[k]
        R = get_table(j.table)
        if j.how != "full":
            branches = [
                b.join(R.alias(j.table), on=F.expr(j.on), how=j.how)
                for b in branches
            ]
            if j.how not in ("semi", "anti"):
                left_refs += [(j.table, c) for c in R.columns]
            continue
        if pin:
            # each branch feeds BOTH the Δm key fold and the output union;
            # without pinning, its plan (delta joined through the prefix)
            # would execute twice.  Branches are delta-sized — the
            # checkpoint is O(|Δ|).  Only safe on flattened (bare-column)
            # branches: checkpointing drops alias metadata.
            #
            # FUSED: all branches materialize in ONE eager job — a
            # tagged union checkpointed once, split back by narrow
            # filters over the checkpointed blocks — instead of k
            # sequential checkpoint jobs (branch schemas are identical
            # at pin time: the same flattened out_refs + sign).
            if len(branches) == 1:
                branches = [branches[0].localCheckpoint(eager=True)]
            else:
                tagged = None
                for n, b in enumerate(branches):
                    t = b.withColumn("__bix", F.lit(n))
                    tagged = t if tagged is None else tagged.unionByName(t)
                tagged = tagged.localCheckpoint(eager=True)
                branches = [
                    tagged.filter(F.col("__bix") == n).drop("__bix")
                    for n in range(len(branches))
                ]
        lnames = sorted({t for t, _ in left_refs if t})
        lcols = [c for _, c in left_refs]
        pairs = _equi_pairs(j.on, lnames or ["__none__"], j.table, lcols, R.columns)
        if pairs is None:
            raise IVMError(
                "FULL OUTER in a chain suffix requires a conjunctive "
                f"equi-join condition with unambiguous sides, got {j.on!r}"
            )
        knames = [f"__k{n}" for n in range(len(pairs))]
        dm = None
        for b in branches:
            keys = b.select(
                *[F.expr(pe).alias(kn) for (pe, _), kn in zip(pairs, knames)],
                F.col(_SIGN),
            )
            dm = keys if dm is None else dm.unionByName(keys)
        # the old composed left carries the ORIGINAL qualified columns —
        # flattened/renamed left key names must be translated back for
        # the probe (old_left_map: flat name -> qualified original)
        omap = old_left_map or {}
        old = _old_left(view, get_table, k).select(
            *[
                F.expr(omap.get(pe.strip(), pe)).alias(kn)
                for (pe, _), kn in zip(pairs, knames)
            ]
        )
        flips = cj.key_crossings(dm, old, _SIGN).alias("__fl")
        flip_cond = None
        for (_, be), kn in zip(pairs, knames):
            c = F.expr(be) == F.col(f"__fl.{kn}")
            flip_cond = c if flip_cond is None else flip_cond & c
        # a key ENTERING the matched set retracts the NULL-padded R row
        t_flip = (
            R.alias(j.table)
            .join(bc(flips), on=flip_cond, how="inner")
            .withColumn(_SIGN, -F.col("__fl.__flip"))
            .drop("__flip", *knames)
        )
        bare = [c for t, c in left_refs if t is None]
        if bare:
            t_flip = t_flip.crossJoin(_null_row(branches[0], bare))
        for tname in dict.fromkeys(t for t, _ in left_refs if t):
            tdf = get_table(tname)
            t_flip = t_flip.crossJoin(_null_row(tdf, tdf.columns, tname))
        # build the fold condition from the parsed pairs with explicit
        # plan binding: a flattened branch exposes bare left columns, and
        # when R shares the name (gk = g.gk) a textual F.expr(j.on) is
        # ambiguous once both sides are in scope
        Ra = R.alias(j.table)

        def _fold_cond(b: DataFrame) -> Column:
            cond = None
            for pe, be in pairs:
                pe_s, be_s = pe.strip(), be.strip()
                lt = (
                    b[pe_s]
                    if re.fullmatch(r"\w+", pe_s) and pe_s in b.columns
                    else F.expr(pe)
                )
                rm = re.fullmatch(
                    rf"(?:{re.escape(j.table)}\s*\.\s*)?(\w+)", be_s
                )
                rt = Ra[rm.group(1)] if rm else F.expr(be)
                c = lt == rt
                cond = c if cond is None else cond & c
            return cond

        branches = [
            b.join(Ra, on=_fold_cond(b), how="left") for b in branches
        ] + [t_flip]
        left_refs += [(j.table, c) for c in R.columns]
    return branches, left_refs


def _flatten_refs(
    branches: list[DataFrame], refs: list[tuple[str | None, str]]
) -> DataFrame:
    """Positional union of branches projected to bare columns in ``refs``
    order (+ the sign column)."""
    flat = [
        b.select(
            *[
                (F.col(f"{t}.{c}") if t else F.col(c)).alias(c)
                for t, c in refs
            ],
            F.col(_SIGN),
        )
        for b in branches
    ]
    out = flat[0]
    for b in flat[1:]:
        out = out.union(b)
    return out


def _chain_single_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    broadcast_deltas: bool,
    i: int,
) -> DataFrame:
    """ΔV source for a left-deep chain T0 ∘ T1 ∘ ... with the delta on a
    single non-leftmost table Ti (the dimension-update case the two-table
    rule alone can't reach).  Decomposition:

        V   = (P ∘_i Ti) ∘ suffix,   P = T0 ∘ ... ∘ T_{i-1} (unchanged)
        ΔV  = Δ(P ∘_i Ti) ∘ suffix

    The suffix folds in unchanged, because every join in it is linear in
    its left argument when the right side is unchanged (Δ(X ∘ Y) =
    ΔX ∘ Y for inner/left/semi/anti Y) — NULL-padded rows from the left
    propagate correctly: a NULL join key finds no match, so left joins
    extend the NULL padding and inner/semi joins drop the row, exactly
    as the recomputed view would.  Δ(P ∘_i Ti) by join_i's kind:

    - inner: linear in Ti → the single branch P ⋈ ΔTi.
    - left / semi / anti: P is unchanged, so only the countjoin.py
      term 2 remains beside P ⋈ ΔTi (left only) — P rows whose key's
      match count in Ti crosses zero (``countjoin.key_crossings``) gain
      or lose their NULL-padded (left), semi or anti row.
    - full: the left terms plus the Ti-preserved term — ΔTi rows whose
      key matches nothing in P carry their own NULL-padded prefix row
      in/out with their sign (P is unchanged, so Ti-side membership
      can't flip, only arrive/leave with ΔTi itself).  A FULL join in
      the PREFIX is fine (the prefix is an unchanged relation); a FULL
      join in the SUFFIX hands the flattened branches to _fold_suffix,
      which adds the R-preserved flip terms at each FULL position.

    Scale shape: P and Ti are never shuffled — ΔTi and the flip-key set
    are BROADCAST; the only aggregations are over O(|Δ| + affected
    keys).  Join conditions at and after position i must use bare
    (unambiguous) column names or qualify only prefix tables; the flip
    rule additionally needs join_i to be a conjunctive equi-join.
    """
    tables = view.tables
    joins = view.joins
    bc = F.broadcast if broadcast_deltas else (lambda df: df)

    P = get_table(tables[0]).alias(tables[0])
    prefs = [(tables[0], c) for c in get_table(tables[0]).columns]
    for j in joins[: i - 1]:
        P = P.join(get_table(j.table).alias(j.table), on=F.expr(j.on), how=j.how)
        if j.how not in ("semi", "anti"):
            prefs += [(j.table, c) for c in get_table(j.table).columns]
    pcols = [c for _, c in prefs]

    join_i = joins[i - 1]
    rname = join_i.table
    R = get_table(rname)
    dR = _signed_delta(get_delta(rname), _SIGN)

    # inner part: P ⋈ ΔTi (the prefix side is unchanged, weight 1).
    # Branches keep their per-table aliases so qualified column
    # references in SUFFIX join conditions still resolve; the suffix is
    # therefore folded into each branch and the union happens last.
    # Semi/anti positions have no inner part: Ti contributes no columns,
    # only membership, which changes via the flip rule below.
    branches = []
    if join_i.how in ("inner", "left", "full"):
        branches.append(P.join(bc(dR.alias(rname)), on=F.expr(join_i.on), how="inner"))

    if join_i.how in ("left", "semi", "anti", "full"):
        # split the condition like the two-table semi/anti rule: equi
        # pairs drive the match counting, Ti-local predicates are pushed
        # into Ti/ΔTi first (they only shrink what counts as a match)
        pairs: list[tuple[str, str]] = []
        rlocal: list[str] = []
        for conj in _split_conjuncts(join_i.on):
            p = _equi_pairs(conj, list(tables[:i]), rname, pcols, R.columns)
            if p:
                pairs += p
                continue
            mentions_p = any(
                re.search(rf"\b{re.escape(n)}\s*\.", conj) for n in tables[:i]
            ) or any(
                re.search(rf"\b{re.escape(c)}\b", conj) and c not in R.columns
                for c in pcols
            )
            if not mentions_p:
                rlocal.append(conj)
                continue
            raise IVMError(
                f"{join_i.how}-join chain maintenance requires conjunctive "
                "equi pairs plus optional delta-side-local predicates at the "
                f"delta position, got {conj!r}"
            )
        if not pairs:
            raise IVMError(
                f"{join_i.how}-join chain maintenance needs at least one "
                f"equi pair in {join_i.on!r}"
            )
        R_m, dR_m = R, dR
        if rlocal:
            if join_i.how == "full":
                raise IVMError(
                    "FULL-join chain maintenance requires a pure conjunctive "
                    f"equi-join at the delta position, got extra {rlocal!r}"
                )
            pred = " AND ".join(f"({c})" for c in rlocal)
            R_m = R.alias(rname).filter(F.expr(pred))
            dR_m = dR.alias(rname).filter(F.expr(pred))
        knames = [f"__k{n}" for n in range(len(pairs))]
        kexprs = [f"{be} AS {q(k)}" for (_, be), k in zip(pairs, knames)]
        flips = cj.key_crossings(
            dR_m.alias(rname).selectExpr(*kexprs, _SIGN),
            R_m.alias(rname).selectExpr(*kexprs),
            _SIGN,
        ).alias("__fl")
        flip_cond = None
        for (pe, _), k in zip(pairs, knames):
            c = F.expr(pe) == F.col(f"__fl.{k}")
            flip_cond = c if flip_cond is None else (flip_cond & c)
        matched = P.join(bc(flips), on=flip_cond, how="inner")
        # a key ENTERING Ti's matched set retracts the NULL-padded row
        # (LEFT/FULL) or the anti row, and emits the semi row
        sign = F.col("__fl.__flip") if join_i.how == "semi" else -F.col("__fl.__flip")
        t2 = matched.withColumn(_SIGN, sign).drop("__flip", *knames)
        if join_i.how in ("left", "full"):
            # NULL-padded Ti columns, aliased as Ti so qualified suffix
            # conditions resolve
            t2 = t2.crossJoin(_null_row(R, R.columns, rname))
        branches.append(t2)

    if join_i.how == "full":
        # Ti-preserved term: ΔTi rows whose key has NO match in the
        # (unchanged) prefix carry their NULL-padded prefix row in/out
        # with their own sign.  The prefix is probed by the broadcast
        # ΔTi key set (narrow scan), never shuffled.
        dr_keys = (
            dR.alias(rname)
            .selectExpr(*[f"{be} AS {q(k)}" for (_, be), k in zip(pairs, knames)])
            .distinct()
        )
        p_matched = (
            P.selectExpr(*[f"{pe} AS {q(k)}" for (pe, _), k in zip(pairs, knames)])
            .join(bc(dr_keys), on=knames, how="leftsemi")
            .distinct()
            .selectExpr(*[f"{q(k)} AS {q('__pm_' + k)}" for k in knames])
        )
        anti_cond = None
        for (_, be), k in zip(pairs, knames):
            c = F.expr(be) == F.col(f"__pm_{k}")
            anti_cond = c if anti_cond is None else anti_cond & c
        t3 = dR.alias(rname).join(bc(p_matched), on=anti_cond, how="left_anti")
        # NULL-padded prefix columns: one broadcast single-NULL-row
        # relation per prefix table, so qualified suffix conditions resolve
        for tname in dict.fromkeys(t for t, _ in prefs):
            tdf = get_table(tname)
            t3 = t3.crossJoin(_null_row(tdf, tdf.columns, tname))
        branches.append(t3)

    # fold the suffix.  Up to the first FULL (if any) every join is
    # linear in its left argument, so it folds into each branch with its
    # table alias intact (qualified suffix conditions resolve).  From a
    # FULL onward the branches are flattened to bare columns and handed
    # to _fold_suffix, which adds the R-preserved flip branches.
    suffix = joins[i:]
    first_full = next(
        (n for n, j in enumerate(suffix) if j.how == "full"), None
    )
    fold_upto = len(joins) if first_full is None else i + first_full

    out_refs = [
        *prefs,
        *([(rname, c) for c in R.columns] if join_i.how not in ("semi", "anti") else []),
        *[
            (j.table, c)
            for j in joins[i:fold_upto]
            if j.how not in ("semi", "anti")
            for c in get_table(j.table).columns
        ],
    ]

    if first_full is None:
        flat: list[DataFrame] = []
        for b in branches:
            for j in joins[i:fold_upto]:
                b = b.join(
                    get_table(j.table).alias(j.table), on=F.expr(j.on), how=j.how
                )
            # qualified select (join keys share names across tables), bare
            # aliases so the positional union lines up
            flat.append(
                b.select(
                    *[F.col(f"{t}.{c}").alias(c) for t, c in out_refs],
                    F.col(_SIGN),
                )
            )
        out = flat[0]
        for b in flat[1:]:
            out = out.union(b)  # positional: every branch is out_cols + _SIGN
        return out

    # FULL in the suffix: flatten each branch to UNIQUE bare names (chain
    # tables routinely share join-key names — f.k = d.k, d.gk = g.gk —
    # and _fold_suffix must reference every flattened column
    # unambiguously even after the remaining suffix tables join in), then
    # hand off with the stripped conditions following the renames; the
    # positional toDF at the end restores the original output names
    reserved = {
        c for j in joins[fold_upto:] for c in get_table(j.table).columns
    }
    uniq, renames = _uniquify_flat(out_refs, reserved)
    flat = []
    for b in branches:
        for j in joins[i:fold_upto]:
            b = b.join(get_table(j.table).alias(j.table), on=F.expr(j.on), how=j.how)
        flat.append(
            b.select(
                *[F.col(f"{t}.{c}").alias(name) for t, c, name in uniq],
                F.col(_SIGN),
            )
        )
    flat_tabs = list(dict.fromkeys(t for t, _ in out_refs))
    branches2, refs2 = _fold_suffix(
        _flatten_suffix_view(view, flat_tabs, fold_upto, renames),
        get_table,
        F.broadcast if broadcast_deltas else (lambda df: df),
        flat,
        [(None, name) for _, _, name in uniq],
        fold_upto,
        pin=True,
        old_left_map={name: f"{t}.{c}" for t, c, name in uniq},
    )
    back = {name: c for _, c, name in uniq if name != c}
    out_names = [back.get(n, n) for _, n in refs2] + [_SIGN]
    return _flatten_refs(branches2, refs2).toDF(*out_names)


def _semi_anti_delta(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    anti: bool = False,
) -> DataFrame:
    """Δ(L ⋉ R) / Δ(L ▷ R) for a two-table semi/anti join with deltas on
    either or both sides: a binding of the equi pairs onto the
    counting-join rule (countjoin.semi_anti_delta over countjoin.equi).

    The join condition must be a conjunction of equi pairs plus optional
    R-local predicates (the EXISTS-subquery shape: ``l_orderkey =
    o_orderkey AND l_commitdate < l_receiptdate``); R-local conjuncts
    are pushed into R and ΔR before counting.  A two-sided non-equi
    conjunct takes the general theta algebra.
    """
    join = view.joins[0]
    lname, rname = view.tables
    lcols = get_table(lname).columns
    rcols = get_table(rname).columns

    pairs: list[tuple[str, str]] = []
    rlocal: list[str] = []
    theta = False
    for conj in _split_conjuncts(join.on):
        p = _equi_pairs(conj, lname, rname, lcols, rcols)
        if p:
            pairs += p
            continue
        # R-local predicate: no reference to the preserved side
        mentions_l = re.search(rf"\b{re.escape(lname)}\s*\.", conj) or any(
            re.search(rf"\b{re.escape(c)}\b", conj) and c not in rcols
            for c in lcols
        )
        if not mentions_l:
            rlocal.append(conj)
            continue
        theta = True  # two-sided non-equi conjunct
    if theta:
        # no usable equi axis — the general theta algebra handles the
        # whole condition (including any equi/R-local conjuncts) via
        # broadcast-delta probes (operators/thetajoin.py)
        return _theta_two_table_delta(
            view, get_table, get_delta, "anti" if anti else "semi"
        )
    if not pairs:
        raise IVMError(
            f"semi/anti-join maintenance needs at least one equi pair in {join.on!r}"
        )
    (lp, dlp), (rp, drp) = _equi_operands(
        view, get_table, get_delta, pairs, rlocal
    )
    dv = cj.semi_anti_delta(lp, rp, dlp, drp, cj.equi(len(pairs)), anti)
    return dv.selectExpr(
        *[f"`__l{i}` AS {q(c)}" for i, c in enumerate(lcols)],
        f"CASE WHEN {q(MULT_COL)} THEN 1 ELSE -1 END AS {_SIGN}",
    ).alias(lname)


def _group_cols(view: ViewDef):
    """Grouping columns: the select list's non-aggregate items, plus any
    GROUP BY expression not already covered by a select item (grouped but
    not projected — legal SQL, the extra key simply isn't output)."""
    cols = [F.expr(e).alias(a) for e, a in view.select]
    covered = {e.strip().lower() for e, _ in view.select} | {
        a.strip().lower() for _, a in view.select
    }
    for g in view.group_by:
        if g.strip().lower() not in covered:
            cols.append(F.expr(g).alias(g))
    return cols


def delta_plan(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
    get_delta: Callable[[str], DataFrame],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Compute ΔV: the incremental change to ``view`` given the current
    delta tables.  Output schema: view columns in select order +
    ``_duckdb_ivm_multiplicity`` boolean last (ivm_extension.cpp:79-81).

    Aggregate views return one row per (group keys x multiplicity value
    present) — inserts and deletes are aggregated separately, exactly the
    reference's golden behavior (tests/ivm.test:76-82, SURVEY.md 2d).
    """
    if view.window_lists:
        # multi-PARTITION-BY window views: ONE fused affected-region
        # recompute (operators/windowcdc.py multi_window_view_delta) —
        # all windows compute in a single projection; the delta region
        # is the union of each list's affected partitions, closed under
        # every list for the recompute input.
        from ivm_extension_spark.operators.windowcdc import multi_window_view_delta

        def _compute_multi(df: DataFrame, carry: tuple[str, ...]) -> DataFrame:
            if view.where:
                df = df.filter(F.expr(view.where))
            return df.select(
                *[F.expr(e).alias(a) for e, a in view.select], *carry
            )

        delta = get_delta(view.source)
        if view.where:
            # row-local WHERE: prune delta rows that cannot affect the
            # view before key-set extraction (same rationale as the
            # single-list branch below)
            delta = delta.filter(F.expr(view.where))
        return multi_window_view_delta(
            get_table(view.source),
            delta,
            view.window_lists,
            _compute_multi,
            mult_col=MULT_COL,
        )

    if view.window_partition:
        # window views: affected-partition partial recompute — the
        # window value of every row in a touched PARTITION BY key may
        # change, and no other row can (operators/windowcdc.py).  The
        # WHERE lives inside the recompute (row-local filters commute
        # with whole-partition restriction).
        from ivm_extension_spark.operators.windowcdc import window_view_delta

        def _compute(df: DataFrame) -> DataFrame:
            if view.where:
                df = df.filter(F.expr(view.where))
            return df.selectExpr(*[f"{e} AS {q(a)}" for e, a in view.select])

        delta = get_delta(view.source)
        if view.where:
            # the WHERE is row-local over source columns (window views
            # are single-table by construction), so a delta row failing
            # it cannot change the view — pruning it BEFORE the
            # affected-key extraction keeps the broadcast key set and
            # the partition recompute sized to rows that matter (a
            # selective view otherwise pays the whole delta's keys)
            delta = delta.filter(F.expr(view.where))
        return window_view_delta(
            get_table(view.source),
            delta,
            view.window_partition,
            _compute,
            mult_col=MULT_COL,
        )

    src = _delta_source(view, get_table, get_delta, broadcast_deltas)
    src = colops.mult_from_sign(src, _SIGN, MULT_COL)

    if view.where:
        src = src.filter(F.expr(view.where))

    if view.is_aggregate:
        keys = _group_cols(view)
        grouped = src.groupBy(*keys, F.col(MULT_COL))
        aggs = [_agg_expr(a) for a in view.aggregates]
        out = grouped.agg(*aggs)
    else:
        out = src.selectExpr(
            *[f"{e} AS {q(a)}" for e, a in view.select], q(MULT_COL)
        )

    return out.selectExpr(*[q(a) for a in view.output_order], q(MULT_COL))


# --------------------------------------------------------------------------
# CREATE-time structured-theta routing
#
# The DELTA rules for theta conditions are broadcast-delta-shaped and fine
# (thetajoin.py module doc), but the PLAIN materialization of a theta view
# (initial CREATE, full refresh, invariant checks) used to hand Catalyst the
# raw non-equi condition — a BroadcastNestedLoopJoin on large×large inputs.
# When the ON clause is STRUCTURED, a cheap equi plan exists and compute_view
# routes to it:
#
#   one-sided comparison  l_expr <op> r_expr   → ineqjoin.py (dyadic
#       segment-tree decomposition: pure hash joins on (level, node))
#   point-in-interval     lo ≤ p AND p ≤ hi    → rangejoin.py (banded bins)
#   anything else (OR, two-sided exprs, non-comparisons) → Catalyst fallback,
#       the documented shape for arbitrary theta (thetajoin.py)
#
# Routing never changes semantics: the FULL original ON clause is re-checked
# on every candidate pair (extra_cond), the binned structure only bounds
# which pairs are generated.  Conditions with an equi conjunct are NOT
# routed — Catalyst already extracts the equi key and hash-joins with the
# theta part as a residual.

# a single comparison operator at depth 0; excludes  <>  !=  <=>  and the
# lambda arrow ->
_CMP_RX = re.compile(r"<=(?!>)|>=|<(?![=>])|(?<![<>=!-])>")
_FLIP_OP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}


def _split_cmp(conj: str) -> tuple[str, str, str] | None:
    """``(lhs, op, rhs)`` when ``conj`` is a single depth-0 comparison
    (quotes and parens respected), else None."""
    s = conj
    op = None
    lhs = ""
    depth = 0
    quote: str | None = None
    i = last = 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = _CMP_RX.match(s, i)
            if m:
                if op is not None:
                    return None
                op = m.group(0)
                lhs = s[last:i]
                last = i = m.end()
                continue
        i += 1
    if op is None:
        return None
    lhs, rhs = lhs.strip(), s[last:].strip()
    if not lhs or not rhs:
        return None
    return lhs, op, rhs


_BETWEEN_RX = re.compile(r"\s+between\s+", re.IGNORECASE)
_AND_WORD_RX = re.compile(r"\s+and\s+", re.IGNORECASE)


def _between_cmps(conj: str) -> list[tuple[str, str, str]] | None:
    """``p BETWEEN lo AND hi`` as its two comparisons ``p >= lo`` and
    ``p <= hi`` (depth 0, quotes respected; NOT BETWEEN excluded), else
    None."""
    parts = _split_depth0(conj, _BETWEEN_RX)
    if len(parts) != 2 or re.search(r"\bnot$", parts[0], re.IGNORECASE):
        return None
    bounds = _split_depth0(parts[1], _AND_WORD_RX)
    if len(bounds) != 2:
        return None
    return [(parts[0], ">=", bounds[0]), (parts[0], "<=", bounds[1])]


def _expr_side(
    e: str, lnames: list[str], lcols: list[str], rname: str, rcols: list[str]
) -> str | None:
    """Which relation an expression references: 'l', 'r', or None when
    it references both / neither / ambiguously (string literals masked;
    requires the router's disjoint-bare-names precondition)."""
    from ivm_extension_spark.operators.thetajoin import _LITERAL_RX

    has_l = any(re.search(rf"\b{re.escape(n)}\s*\.", e) for n in lnames)
    has_r = bool(re.search(rf"\b{re.escape(rname)}\s*\.", e))
    toks = set(re.findall(r"\b[A-Za-z_]\w*\b", _LITERAL_RX.sub("''", e)))
    if toks & set(lcols) & set(rcols):
        return None
    l_side = has_l or bool(toks & set(lcols))
    r_side = has_r or bool(toks & set(rcols))
    if l_side and r_side:
        return None
    if l_side:
        return "l"
    if r_side:
        return "r"
    return None


def _classify_theta(
    on: str, lnames: list[str], lcols: list[str], rname: str, rcols: list[str]
) -> dict | None:
    """Classify a two-relation theta ON clause for CREATE-time routing.
    Returns None when any conjunct is an equi pair (Catalyst already
    hash-joins those, theta residual and all) or no one-sided comparison
    exists; otherwise ``{'ineqs': [(lexpr, op, rexpr), ...], 'range':
    (point, lo, hi, point_side) | None}`` with every inequality
    normalized to left-relation-expression-first."""
    ineqs: list[tuple[str, str, str]] = []
    for conj in _split_conjuncts(on):
        if _equi_pairs(conj, lnames, rname, lcols, rcols):
            return None
        for cmp_ in _between_cmps(conj) or [_split_cmp(conj)]:
            if not cmp_:
                continue
            lhs, op, rhs = cmp_
            sl = _expr_side(lhs, lnames, lcols, rname, rcols)
            sr = _expr_side(rhs, lnames, lcols, rname, rcols)
            if sl == "l" and sr == "r":
                ineqs.append((lhs, op, rhs))
            elif sl == "r" and sr == "l":
                ineqs.append((rhs, _FLIP_OP[op], lhs))
    if not ineqs:
        return None
    rng = None
    by_l: dict[str, list[tuple[str, str]]] = {}
    by_r: dict[str, list[tuple[str, str]]] = {}
    for le, op, re_ in ineqs:
        by_l.setdefault(le, []).append((op, re_))
        by_r.setdefault(re_, []).append((op, le))
    # the same LEFT expr bounded both ways → points live on the left
    for pe, pairs in by_l.items():
        lo = [x for (o, x) in pairs if o in (">", ">=")]
        hi = [x for (o, x) in pairs if o in ("<", "<=")]
        if lo and hi:
            rng = (pe, lo[0], hi[0], "l")
            break
    if rng is None:
        # the same RIGHT expr bounded both ways → points on the right;
        # normalized (lexpr op pe) means lexpr is the LO bound when op
        # is <-family (lexpr ≤ pe) and the HI bound when >-family
        for pe, pairs in by_r.items():
            lo = [x for (o, x) in pairs if o in ("<", "<=")]
            hi = [x for (o, x) in pairs if o in (">", ">=")]
            if lo and hi:
                rng = (pe, lo[0], hi[0], "r")
                break
    return {"ineqs": ineqs, "range": rng}


# Routing is only a WIN when both sides are large: with a side under
# this many rows, Catalyst broadcasts it and the nested-loop join is
# LINEAR work (|big| · |small| comparisons, one narrow pass, no explode,
# no extra jobs) — measured 4x faster than the dyadic plan on the
# 3-row-dimension theta lifecycles.  The BNLJ disaster this routing
# exists for is big×big, where no broadcast fits.  Probed with
# limit-bounded counts (never a full count of a big relation).
_ROUTE_MIN_ROWS = 10_000


def _routed_theta_join(
    acc: DataFrame, lnames: list[str], R: DataFrame, join
) -> DataFrame | None:
    """Route a structured theta join at materialization time (see the
    section comment above).  Returns the joined DataFrame with BARE
    flattened columns — the caller must strip the joined tables'
    qualifiers from all downstream expressions — or None when the
    condition is not routable (the caller then falls back to the
    general Catalyst join)."""
    from pyspark.sql.types import NumericType

    from ivm_extension_spark.operators import ineqjoin as iq
    from ivm_extension_spark.operators import rangejoin as rj

    lcols, rcols = acc.columns, R.columns
    if len(set(lcols)) != len(lcols) or (set(lcols) & set(rcols)):
        return None
    cls = _classify_theta(join.on, lnames, lcols, join.table, rcols)
    if cls is None:
        return None

    def small(df: DataFrame) -> bool:
        return (
            df.select(F.lit(1)).limit(_ROUTE_MIN_ROWS + 1).count()
            <= _ROUTE_MIN_ROWS
        )

    # dimension side first: almost always the cheap probe that settles it
    if small(R) or small(acc):
        return None
    tables = [*lnames, join.table]
    cond = _strip_qualifiers(join.on, tables)

    def numeric(df: DataFrame, e: str) -> bool:
        try:
            dt = df.select(F.expr(e).alias("__t")).schema[0].dataType
        except Exception:
            return False
        return isinstance(dt, NumericType)

    rng = cls["range"]
    routable_range = rng is not None and (
        join.how in ("inner", "full") or (join.how == "left" and rng[3] == "l")
    )
    if routable_range:
        pe, lo, hi = (_strip_qualifiers(x, tables) for x in rng[:3])
        points, intervals = (acc, R) if rng[3] == "l" else (R, acc)
        if numeric(points, pe) and numeric(intervals, lo) and numeric(intervals, hi):
            bw = rj.auto_range_bin_width(points, intervals, pe, lo, hi)
            return rj.range_join(
                points, intervals, pe, lo, hi, bw, how=join.how, extra_cond=cond
            )
    if rng is not None:
        # an interval condition we can't hand to range_join (LEFT
        # preserving the interval side, or semi/anti): the single-axis
        # dyadic plan would stream every half-space pair through the
        # residual filter — strictly worse than Catalyst's loop here
        return None
    lexpr, op, rexpr = cls["ineqs"][0]
    lexpr = _strip_qualifiers(lexpr, tables)
    rexpr = _strip_qualifiers(rexpr, tables)
    if not (numeric(acc, lexpr) and numeric(R, rexpr)):
        return None
    bw, nb, orig = iq.auto_dyadic_bins(acc, R, lexpr, rexpr)
    fns = {
        "inner": iq.ineq_join,
        "left": iq.ineq_left_join,
        "full": iq.ineq_full_join,
        "semi": iq.ineq_semi_join,
        "anti": iq.ineq_anti_join,
    }
    return fns[join.how](
        acc, R, lexpr, rexpr, op,
        bin_width=bw, max_bins=nb, origin=orig, extra_cond=cond,
    )


def _strip_view_qualifiers(view: ViewDef, tables: list[str], from_join_idx: int):
    """A copy of ``view`` whose downstream expressions (joins from
    ``from_join_idx`` on, WHERE, select/aggregate/group expressions)
    have the given tables' qualifiers stripped — applied after a routed
    structured-theta join flattens the accumulated relation to bare
    columns (the router checked global name disjointness, so stripping
    cannot introduce ambiguity; same contract as _flatten_suffix_view
    for suffix-FULL folding)."""
    import dataclasses

    v = _flatten_suffix_view(view, tables, from_join_idx)
    return dataclasses.replace(
        v,
        where=_strip_qualifiers(v.where, tables) if v.where else None,
        select=tuple((_strip_qualifiers(e, tables), a) for e, a in v.select),
        aggregates=tuple(
            dataclasses.replace(
                a, expr=a.expr if a.expr == "*" else _strip_qualifiers(a.expr, tables)
            )
            for a in v.aggregates
        ),
        group_by=tuple(_strip_qualifiers(g, tables) for g in v.group_by),
    )


def compute_view(
    view: ViewDef,
    get_table: Callable[[str], DataFrame],
) -> DataFrame:
    """Run the view query over the base tables (no deltas) — used for the
    initial materialization of V and for full-refresh / invariant checks.
    Structured theta joins (one-sided inequality / point-in-interval)
    are routed to the dyadic / banded equi plans instead of Catalyst's
    nested-loop fallback — see the routing section comment above."""
    acc = get_table(view.source).alias(view.source)
    lnames = [view.source]
    for idx in range(len(view.joins)):
        join = view.joins[idx]
        R = get_table(join.table).alias(join.table)
        routed = None
        if _equi_pairs(join.on, lnames, join.table, acc.columns, R.columns) is None:
            try:
                routed = _routed_theta_join(acc, lnames, R, join)
            except Exception:
                # the router runs eager stats jobs; any failure falls
                # back to the semantically identical Catalyst join
                routed = None
        if routed is not None:
            acc = routed
            view = _strip_view_qualifiers(view, [*lnames, join.table], idx + 1)
        else:
            acc = acc.join(R, on=F.expr(join.on), how=join.how)
        lnames.append(join.table)
    if view.where:
        acc = acc.filter(F.expr(view.where))
    if view.is_aggregate:
        out = acc.groupBy(*_group_cols(view)).agg(*[_agg_expr(a) for a in view.aggregates])
    else:
        out = acc.selectExpr(*[f"{e} AS {q(a)}" for e, a in view.select])
    return out.selectExpr(*[q(a) for a in view.output_order])
