"""IVMEngine — the user-facing API (the reference's pragma surface, in Python).

Reference entry points and their equivalents here
(ivm_extension.cpp:95-139, SURVEY.md section 2b):

- ``PRAGMA ivm_upsert(cat, schema, view)``  →  ``engine.ivm_upsert(view)``
  computes ΔV, caches it as the ``delta_<view>`` relation, returns it as
  a DataFrame (view columns + ``_duckdb_ivm_multiplicity`` last).
- ``DoIVM(...)`` table function              →  internal ``delta_plan``;
  Spark needs no table-function indirection.
- ``CREATE IMMV AS <select>`` (unfinished parser prototype,
  ivm_parser.cpp:14-84)                      →  ``engine.create_immv(name, sql)``
  which parses the restricted grammar and materializes the initial state.

Plus what the reference never built: ``merge_view`` (the ⊎ upsert),
``full_refresh``, and ``apply_delta`` to advance the base tables.

Divergence (documented, SURVEY.md section 2d): where the reference
*errors* if the base query returns zero rows under the view's WHERE
clause (README.md:38-39, its known bug), this engine returns the correct
empty result.  Re-running ``ivm_upsert`` overwrites the cached delta
view instead of erroring on an existing ``delta_<view>`` table.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ivm_extension_spark.operators import auxstate, merge as merge_ops
from ivm_extension_spark.operators import pin
from ivm_extension_spark.operators.pin import pin_async
from ivm_extension_spark.operators.rewrite import (
    MULT_COL,
    IVMError,
    compute_view,
    delta_plan,
)
from ivm_extension_spark.plans.sqlfront import (
    parse_view_sql,
    split_union_all,
    split_window_over_join,
    split_window_stages,
)
from ivm_extension_spark.plans.viewdef import ViewDef
from ivm_extension_spark.sources.parquet import read_parquet

_PARTITION_RX = re.compile(
    r"partition\s+by\s+(.+?)(?:\s+order\s+by\b|\))", re.IGNORECASE | re.DOTALL
)


class BaseFoldError(IVMError):
    """``merge_and_advance``: the view merge COMMITTED but the base fold
    did not — the base table and its registered delta are untouched, so
    recovery must redo only the fold, never the merge."""


def _qualify_partition_keys(qualify: str) -> list[str] | None:
    """PARTITION BY keys of a QUALIFY expression's rank window(s), or
    None when they cannot be resolved to plain columns (expression keys,
    multiple windows disagreeing on their partition, or any window with
    NO partition at all — an unpartitioned rank makes visibility global,
    so partition-restricted CDC would miss cross-partition evictions)."""
    n_windows = len(re.findall(r"\bover\s*\(", qualify, re.IGNORECASE))
    found = _PARTITION_RX.findall(qualify)
    if not found or len(found) != n_windows:
        return None
    parts = [tuple(p.strip() for p in f.split(",")) for f in found]
    if len(set(parts)) != 1 or not all(
        re.fullmatch(r"\w+", k) for k in parts[0]
    ):
        return None
    return list(parts[0])


class IVMEngine:
    """Catalog + rewrite driver.  One engine per logical schema.

    Delta relations are broadcast in every join branch — the IVM scale
    assumption is |ΔT| << |T|, which turns every delta-join branch into
    a broadcast hash join (no shuffle of the base fact table).  The
    counting-join rule behind LEFT/FULL/SEMI/ANTI joins
    (operators/countjoin.py) broadcasts its delta-derived sides too.

    ``merge_strategy`` controls how grouped-aggregate state absorbs ΔV:

    - ``"auto"`` (default): adaptive — shuffle-merge while the tracked
      state row count is below ``patch_min_state_rows`` (a small state's
      exchange costs less than the patch path's extra jobs; measured at
      sf0.1), patch-merge once the state outgrows it (the 100-TB
      steady state, where exchanging the state is the thing that must
      never happen).  Same policy shape as the aux-state advance.
    - ``"patch"``: fold ΔV to one row per touched key, broadcast it onto
      the state (LEFT join + anti part for new groups).  The state is
      never exchanged — shuffled bytes per batch are O(|ΔV|), not
      O(|V|), which is what keeps a 100-TB view maintainable.
    - ``"shuffle"``: classic union + re-aggregate on the view keys.
    """

    def __init__(
        self,
        spark: SparkSession,
        merge_strategy: str = "auto",
        patch_min_state_rows: int = 1_000_000,
        keep_history: int = 0,
        state_store=None,
    ) -> None:
        if merge_strategy not in ("auto", "patch", "shuffle"):
            raise ValueError(f"merge_strategy must be auto/patch/shuffle, got {merge_strategy!r}")
        if keep_history < 0:
            raise ValueError(f"keep_history must be >= 0, got {keep_history}")
        self.spark = spark
        # optional lakehouse-shaped state backend (sources/lakehouse.py):
        # view state lives as versioned key-bucketed parquet snapshots and
        # each merge commits ONLY the touched buckets (MERGE INTO
        # emulation) instead of holding checkpoint blocks in the session
        self._state_store = state_store
        self.merge_strategy = merge_strategy
        self.patch_min_state_rows = patch_min_state_rows
        self._state_rows: dict[str, int] = {}  # measured post-merge (auto mode)
        # advanced-but-uncommitted aux relations: _advance_aux stages here,
        # merge_view commits together with the new state (retry safety)
        self._pending_aux: dict[str, tuple[DataFrame, int]] = {}
        self._tables: dict[str, DataFrame] = {}
        self._deltas: dict[str, DataFrame] = {}
        self._views: dict[str, ViewDef] = {}
        self._iviews: dict[str, ViewDef] = {}  # internal (hidden companions)
        self._state: dict[str, DataFrame] = {}  # materialized V (internal shape)
        self._delta_views: dict[str, DataFrame] = {}  # cached ΔV (internal shape)
        # per-view tagged value multiset (operators/auxstate.py) that makes
        # MIN/MAX/COUNT(DISTINCT) exactly maintainable under deletes, plus
        # alias -> (lane, value type) metadata for re-derivation
        self._aux: dict[str, DataFrame] = {}
        self._aux_meta: dict[str, dict[str, tuple]] = {}
        self._aux_rows: dict[str, int] = {}  # row count of the checkpointed aux
        self._merge_counts: dict[str, int] = {}  # merges since materialization
        # strategy the last merge of EACH view took (stats() reads by name;
        # the engine-global _last_merge_strategy is kept for test hooks but
        # reflects the most recent merge of ANY view)
        self._merge_strategy_by_view: dict[str, str] = {}
        # version history (time travel): list of (version, state handle) per
        # view, newest last; populated only when keep_history > 0.  States
        # are checkpointed, so a handle pins its blocks — bounded by the
        # keep_history window.  At lakehouse scale this maps to table-format
        # snapshots; here it reproduces the exact view a batch trained on.
        self.keep_history = keep_history
        self._history: dict[str, list[tuple[int, DataFrame]]] = {}
        # UNION ALL views: per-branch ViewDefs (delta rule is linear)
        self._union_branches: dict[str, list[ViewDef]] = {}
        # sketch views (Bloom/HLL/CMS/hist — operators/sketches.py):
        # driven through the same create/upsert/merge surface as
        # ordinary IMMVs, state in the same store
        self._sketch_specs: dict[str, "SketchSpec"] = {}
        # delta sources a trusted producer declared INSERT-ONLY (e.g. the
        # stream adapter stamping the multiplicity itself) — lets the
        # monotone sketch kinds skip their per-batch delete-probe job.
        # Cleared whenever the source's delta registration changes.
        self._insert_only_deltas: set[str] = set()
        # window-over-join composites (round 9): outer window view name →
        # (inner join view, snapshot table).  The engine auto-assembles
        # the cascade a user previously hand-built: the inner is an
        # ordinary maintained PROJECTION join view (its ΔV IS row-level
        # CDC), the snapshot table is its public state, and the outer
        # window view hangs off the snapshot.
        self._composites: dict[str, tuple[str, str]] = {}

    # -- catalog -----------------------------------------------------------

    def register_table(self, name: str, df_or_path: DataFrame | str) -> None:
        df = (
            read_parquet(self.spark, df_or_path)
            if isinstance(df_or_path, str)
            else df_or_path
        )
        self._tables[name] = df

    def register_delta(self, name: str, df: DataFrame) -> None:
        """Register ``delta_<name>``: base columns + _duckdb_ivm_multiplicity
        BOOL appended last (README.md:18-23 convention)."""
        if name not in self._tables:
            raise IVMError(f"base table {name!r} is not registered")
        if MULT_COL not in df.columns:
            raise IVMError(f"delta for {name!r} lacks the {MULT_COL} column")
        mult_field = df.schema[MULT_COL]
        if not isinstance(mult_field.dataType, T.BooleanType):
            raise IVMError(f"{MULT_COL} must be BOOLEAN, got {mult_field.dataType}")
        base_cols = self._tables[name].columns
        missing = [c for c in base_cols if c not in df.columns]
        if missing:
            raise IVMError(f"delta for {name!r} is missing base columns {missing}")
        from ivm_extension_spark.operators.colops import q

        self._insert_only_deltas.discard(name)  # new delta: no assumption
        self._deltas[name] = df.selectExpr(*[q(c) for c in (*base_cols, MULT_COL)])

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            raise IVMError(f"table {name!r} is not registered")
        return self._tables[name]

    def delta(self, name: str) -> DataFrame:
        # mirror of the reference's hard failure when delta_<t> is absent
        # (ivm_rewrite_rule.hpp:110-116)
        if name not in self._deltas:
            raise IVMError(f"Delta table delta_{name} does not exist")
        return self._deltas[name]

    def view(self, name: str) -> ViewDef:
        if name not in self._views:
            raise IVMError(f"view {name!r} is not registered")
        return self._views[name]

    def list_tables(self) -> list[str]:
        return sorted(self._tables)

    def list_views(self) -> list[str]:
        return sorted({*self._views, *self._sketch_specs})

    def drop_view(self, name: str) -> None:
        """Drop a view and all its materialized/auxiliary state (the
        reference's tests DROP delta tables between cases — here the
        whole view lifecycle is engine-owned).  Sketch views drop their
        spec + state."""
        if name in self._sketch_specs:
            self._sketch_specs.pop(name)
            for d in (self._state, self._delta_views, self._merge_counts):
                d.pop(name, None)
            return
        self.view(name)
        for d in (
            self._views,
            self._iviews,
            self._state,
            self._delta_views,
            self._aux,
            self._aux_meta,
            self._union_branches,
            self._history,
            self._merge_counts,
            self._state_rows,
            self._aux_rows,
            self._pending_aux,
        ):
            d.pop(name, None)
        comp = self._composites.pop(name, None)
        if comp is not None:
            # a composite window view owns its inner join view and
            # snapshot table — dropping the outer drops the whole cascade
            inner, snap = comp
            self.drop_view(inner)
            self._tables.pop(snap, None)
            self._deltas.pop(snap, None)

    def drop_table(self, name: str) -> None:
        self.table(name)
        # a UNION ALL view's registered ViewDef is only its first branch —
        # consult every branch for references, like maintain_all/stats do
        users = [
            v
            for v, vd in self._views.items()
            if any(
                name in b.tables
                for b in self._union_branches.get(v, [vd])
            )
        ] + [  # sketch views depend on their source like any view
            n for n, s in self._sketch_specs.items() if s.source == name
        ]
        if users:
            raise IVMError(
                f"table {name!r} is referenced by views {users}; drop them first"
            )
        self._tables.pop(name)
        self._deltas.pop(name, None)

    # -- view lifecycle ----------------------------------------------------

    def create_immv(
        self,
        name: str,
        sql: str | None = None,
        view: ViewDef | None = None,
        materialize: bool = True,
    ) -> DataFrame | None:
        """Register a maintainable view (the intent of the reference's
        unfinished ``CREATE IMMV AS`` parser path, ivm_parser.cpp:14-84)
        and materialize its initial state V = q(T)."""
        if (sql is None) == (view is None):
            raise ValueError("pass exactly one of sql= or view=")
        if name in self._sketch_specs:
            # ivm_upsert/merge_view/read_view route by _sketch_specs first,
            # so a same-named SQL view would be silently shadowed
            raise IVMError(f"view {name!r} already exists as a sketch view")
        if name in self._views:
            # redefinition = implicit drop + create: without it the new
            # definition inherits the old view's merge counter, retained
            # history, aux multisets and (worst) window-cascade wiring —
            # ivm_upsert would drive orphaned inner stages of the OLD view
            self.drop_view(name)
        if sql is not None:
            parts = split_union_all(sql)
            if len(parts) > 1:
                return self._create_union_immv(name, parts, materialize)
            composed = split_window_over_join(sql)
            if composed is not None:
                return self._create_composite_window(name, composed, materialize)
            staged = split_window_stages(sql)
            if staged is not None:
                # multi-PARTITION-BY window view: maintained as ONE fused
                # unit (windowcdc.multi_window_view_delta) — all windows
                # compute in a single projection; the delta region is the
                # union of each list's affected partitions.  (Round 8 —
                # replaces the round-7 cascade of per-list intermediate
                # IMMVs, which paid a full lifecycle per list per batch.)
                source, where, items, lists = staged
                vdef = ViewDef(
                    name=name,
                    source=source,
                    select=tuple((e, a) for e, a, _ in items),
                    where=where,
                    window_lists=tuple(lists),
                )
            else:
                vdef = parse_view_sql(name, sql)
        else:
            vdef = view
        vdef = self._expand_star(vdef)
        for t in vdef.tables:
            if t not in self._tables:
                raise IVMError(f"view {name!r} references unregistered table {t!r}")
        self._views[name] = vdef
        self._iviews[name] = merge_ops.internal_view(vdef)
        if materialize:
            self._init_aux(name, vdef)
            state = self._materialize_state(name)
            state = self._store_state_initial(name, state)
            self._state[name] = state
            return merge_ops.finalize(state, vdef)
        return None

    def create_sketch_immv(
        self,
        name: str,
        kind: str,
        source: str,
        value_col: str,
        group_cols: tuple[str, ...] = (),
        **params,
    ) -> DataFrame:
        """Register a maintainable SKETCH view (operators/sketches.py —
        Bloom bit/counting, HLL, CMS, histogram quantiles) and
        materialize its initial state.  Drive it like any IMMV:
        ``ivm_upsert`` computes ΔV = sketch(Δ) (signed for the linear
        kinds), ``merge_view`` folds it in by the kind's algebra
        (bit_or / max / signed sum) — the base is never rescanned, and
        with a state store attached only the touched buckets commit
        (crash-safe staging included).  The public view is the state
        relation; estimates are read-side functions over it."""
        from ivm_extension_spark.operators.sketches import SketchSpec

        if name in self._views or name in self._sketch_specs:
            raise IVMError(f"view {name!r} already exists")
        if source not in self._tables:
            raise IVMError(f"sketch view {name!r} references unregistered table {source!r}")
        spec = SketchSpec(
            kind=kind,
            source=source,
            value_col=value_col,
            group_cols=tuple(group_cols),
            params=params,
        )
        self._sketch_specs[name] = spec
        state = spec.compute(self.table(source))
        state = self._store_state_initial(name, state)
        if not getattr(state, "_ivm_pinned", False):
            state = state.localCheckpoint(eager=True)
            state._ivm_pinned = True
        self._state[name] = state
        return state

    def _merge_sketch(self, name: str, delta_v: DataFrame | None) -> DataFrame:
        spec = self._sketch_specs[name]
        dv = delta_v if delta_v is not None else self._delta_views.get(name)
        if dv is None:
            dv = spec.delta_state(self.delta(spec.source), MULT_COL)
        has_store = self._state_store is not None and name in self._state_store
        if has_store and not getattr(dv, "_ivm_materialized", False):
            # store path only: ΔV feeds the merge AND the touched-bucket
            # set — O(touched coordinates), pin once.  Without a store ΔV
            # has exactly one consumer (the merge), so the state
            # checkpoint below materializes it in the SAME job — a
            # separate eager pin would just be one more job launch per
            # micro-batch (the streaming sketch keys pay it per batch).
            dv = dv.localCheckpoint(eager=True)
            dv._ivm_materialized = True
        new_state = spec.merge(self._state[name], dv)
        if self._state_store is not None and name in self._state_store:
            from ivm_extension_spark.sources.lakehouse import bucket_expr

            keys = spec.state_keys()
            touched = sorted(
                r[0]
                for r in dv.select(
                    bucket_expr(keys, self._state_store.n_buckets).alias("b")
                )
                .distinct()
                .collect()
            )
            self._state_store.commit(name, new_state, keys, touched)
            new_state = self._state_store.read(name)
        else:
            new_state = new_state.localCheckpoint(eager=True)
        new_state._ivm_pinned = True
        self._state[name] = new_state
        self._delta_views.pop(name, None)
        self._merge_counts[name] = self._merge_counts.get(name, 0) + 1
        return new_state

    def _store_keys(self, name: str) -> list[str]:
        """Bucketing keys for the lakehouse state store: the view's group
        keys (aggregate state has one row per group) or, for bag views,
        every output column."""
        if name in self._sketch_specs:
            return self._sketch_specs[name].state_keys()
        iview = self._iviews[name]
        if iview.is_aggregate:
            return [a for _, a in iview.select]
        return list(iview.output_order)

    def _store_state_initial(self, name: str, state: DataFrame) -> DataFrame:
        """With a state store attached, snapshot the initial state (v1,
        all buckets) and hand back the store-backed scan — parquet files
        are immutable, so no checkpoint is needed."""
        if self._state_store is None:
            return state
        self._state_store.write_full(name, state, self._store_keys(name))
        state = self._state_store.read(name)
        state._ivm_pinned = True
        return state

    def _create_union_immv(
        self, name: str, parts: list[str], materialize: bool
    ) -> DataFrame | None:
        """UNION ALL view: V = B1 ∪ B2 ∪ ... over projection branches.
        The delta rule is linear — Δ(B1 ∪ B2) = ΔB1 ∪ ΔB2 — so each
        branch is rewritten independently and branches whose tables have
        no registered delta contribute nothing.  Branches must be
        non-aggregate (an aggregate over a union is a different view
        shape: maintain the branches and aggregate on read, or cascade).
        Bare UNION (distinct union) is rejected: its dedup crosses
        branches — write UNION ALL plus an outer SELECT DISTINCT view
        over the cascade CDC if set semantics are needed.
        """
        branches = [
            self._expand_star(parse_view_sql(f"{name}#{i}", p))
            for i, p in enumerate(parts)
        ]
        first = branches[0]
        for b in branches:
            if b.is_aggregate or b.distinct or b.qualify:
                raise NotImplementedError(
                    "UNION ALL view branches must be plain projections "
                    "(no aggregates / DISTINCT / QUALIFY)"
                )
            if b.output_order != first.output_order:
                raise IVMError(
                    "UNION ALL branches must project identical column "
                    f"names/order, got {first.output_order} vs {b.output_order}"
                )
            for t in b.tables:
                if t not in self._tables:
                    raise IVMError(
                        f"view {name!r} references unregistered table {t!r}"
                    )
        self._union_branches[name] = branches
        self._views[name] = first
        self._iviews[name] = first
        if materialize:
            state = self._compute_union(branches)
            state = self._store_state_initial(name, state)
            self._state[name] = state
            self._aux_meta[name] = {}
            return merge_ops.finalize(state, first)
        return None

    def _compute_union(self, branches: list[ViewDef]) -> DataFrame:
        out = compute_view(branches[0], self.table)
        for b in branches[1:]:
            out = out.unionByName(compute_view(b, self.table))
        return out

    def _create_composite_window(
        self, name: str, composed: tuple[str, str | None, str], materialize: bool
    ) -> DataFrame | None:
        """WINDOW view over a JOIN, auto-composed (round 9; closes the
        single-table restriction of the window-view contract).  Three
        engine-owned pieces:

        - ``__<name>_j``   — an ordinary maintained PROJECTION join view
          carrying exactly the base columns the window select list
          references (plus nothing: pruned against the source schemas).
          Being aggregate-free, its ΔV IS row-level CDC.
        - ``__<name>_snap`` — a registered table holding the inner
          view's public state (the snapshot a hand-built cascade keeps).
        - ``<name>``       — the window view (single- or multi-list) over
          the snapshot, routed through the ordinary create path.

        Lifecycle: ``ivm_upsert(name)`` derives Δsnap = finalize(Δinner)
        WITHOUT committing the inner (a pure preview, like every other
        upsert); ``merge_view(name)`` merges the outer, then advances the
        inner view and the snapshot (:meth:`_advance_composite`).  The
        WHERE clause lives in the inner view (SQL evaluates WHERE before
        window functions), so the snapshot — and every affected-
        partition recompute — holds post-filter rows only.
        """
        if not materialize:
            raise IVMError(
                "window-over-join views are engine-composed cascades and "
                "require materialize=True (the snapshot IS state)"
            )
        from_clause, where, select_body = composed
        inner, snap = f"__{name}_j", f"__{name}_snap"
        probe = parse_view_sql(inner, f"SELECT * FROM {from_clause}")
        avail: list[str] = []
        for t in probe.tables:
            if t not in self._tables:
                raise IVMError(
                    f"view {name!r} references unregistered table {t!r}"
                )
            avail.extend(self.table(t).columns)
        idents = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", select_body))
        needed = [c for c in dict.fromkeys(avail) if c in idents]
        if not needed:
            raise IVMError(
                f"window-over-join view {name!r} references no base columns"
            )
        inner_sql = f"SELECT {', '.join(needed)} FROM {from_clause}"
        if where:
            inner_sql += f" WHERE {where}"
        self.create_immv(inner, sql=inner_sql)
        try:
            self._tables[snap] = merge_ops.finalize(
                self._state[inner], self._views[inner]
            )
            out = self.create_immv(name, sql=f"SELECT {select_body} FROM {snap}")
        except Exception:
            # no dangling inner/snapshot when the outer is rejected
            # (e.g. a global window over a raw relation)
            self.drop_view(inner)
            self._tables.pop(snap, None)
            raise
        self._composites[name] = (inner, snap)
        return out

    def _ensure_composite_delta(self, name: str) -> None:
        """Derive and register the snapshot's delta for a composite
        window view: Δsnap = finalize(Δinner) — row-level CDC because the
        inner is a pure projection join view.  The inner ΔV is pinned
        (it feeds the snapshot delta's several window-rule consumers AND
        the inner's own later merge) and cached, so preview (upsert) and
        merge share one computation.  No state advances here."""
        inner, snap = self._composites[name]
        if snap in self._deltas:
            return
        inner_vdef = self._views[inner]
        if all(t not in self._deltas for t in inner_vdef.tables):
            # reference-style missing-delta error via the first base table
            self.delta(inner_vdef.tables[0])
        inner_dv = self._materialized_delta(inner, force=True)
        self.register_delta(snap, merge_ops.finalize(inner_dv, inner_vdef))

    def _advance_composite(self, name: str) -> None:
        """Post-merge epilogue for a composite window view: the outer
        state has committed against the OLD snapshot + Δsnap, so advance
        the inner join view with its cached ΔV and republish the
        snapshot as the inner's new public state.  Consumes Δsnap; the
        base-table deltas stay registered (maintain/apply_delta own
        them, like every other view)."""
        inner, snap = self._composites[name]
        if snap not in self._deltas:
            return
        self._deltas.pop(snap)
        self.merge_view(inner)
        self._tables[snap] = merge_ops.finalize(
            self._state[inner], self._views[inner]
        )

    def _init_aux(self, name: str, vdef: ViewDef) -> None:
        """Materialize the view's tagged aux relation (ONE shuffle / ONE
        checkpoint job for all MIN/MAX/COUNT DISTINCT aggregates)."""
        meta = auxstate.agg_meta(vdef, self.table)
        self._aux_meta[name] = meta
        if meta:
            # LAZY checkpoint fused with the row count: the count scans
            # every partition, materializing the checkpoint as its side
            # effect — one Spark job where eager-then-count launched two
            # (the merge-path fusing applied to view creation); the aux
            # fan-out (derive_frames) only happens after the count
            aux = auxstate.init_aux(vdef, self.table, meta).localCheckpoint(
                eager=False
            )
            self._aux[name] = aux
            self._aux_rows[name] = aux.count()

    def _materialize_state(self, name: str) -> DataFrame:
        """Initial V in internal shape.  When the view carries
        MIN/MAX/COUNT(DISTINCT) aggregates their values are derived from
        the (just-checkpointed) aux relation instead of re-aggregating
        the base: compute_view's COUNT(DISTINCT) plans an Expand +
        two-shuffle distinct aggregation over the full source — work
        init_aux has already done once as the per-(group, value) fold.
        This keeps initial materialization at ONE pass over the base
        data (aux build) plus a cheap groupBy for the SUM/COUNT lanes,
        patched together with broadcast joins on the group keys
        (null-safe: group keys may be NULL)."""
        iview = self._iviews[name]
        meta = self._aux_meta.get(name) or {}
        aux_aggs = auxstate.aux_aggregates(iview)
        if not (meta and aux_aggs and iview.select and name in self._aux):
            # global aggregates (no group keys) keep the plain path: the
            # empty-input row must still appear, which a join can't produce
            return compute_view(iview, self.table)
        import dataclasses

        aux_aliases = {a.alias for a in aux_aggs}
        stripped = dataclasses.replace(
            iview,
            aggregates=tuple(
                a for a in iview.aggregates if a.alias not in aux_aliases
            ),
            output_order=tuple(
                o for o in iview.output_order if o not in aux_aliases
            ),
        )
        state = compute_view(stripped, self.table)
        frames = auxstate.derive_frames(aux_aggs, self._aux[name], meta)
        seen: set[int] = set()
        for d in frames.values():
            if id(d) in seen:
                continue
            seen.add(id(d))
            aliases = [a for a, f in frames.items() if f is d]
            keys = [c for c in d.columns if c not in aliases]
            missing = [k for k in keys if k not in state.columns]
            if missing:
                # same shape auxstate.patch_merged rejects at merge time:
                # the aux relation is keyed by ALL group keys, but the view
                # doesn't project them, so state rows can't be patched —
                # fail at create time with the clean error, not a later
                # unresolved-column AnalysisException
                raise IVMError(
                    f"cannot maintain {aliases}: group keys {missing} are "
                    "not projected by the view (unprojected GROUP BY keys "
                    "are not supported for MIN/MAX/COUNT DISTINCT views)"
                )
            from ivm_extension_spark.operators import colops
            from ivm_extension_spark.operators.colops import q as _q

            renamed = d.selectExpr(
                *[f"{_q(k)} AS {_q('__ivm_dk_' + k)}" for k in keys],
                *[_q(a) for a in aliases],
            )
            state = state.join(
                F.broadcast(renamed), colops.ns_eq(keys, "__ivm_dk_"), "left"
            ).drop(*[f"__ivm_dk_{k}" for k in keys])
        return state.select(*[F.col(o) for o in iview.output_order])

    def _expand_star(self, vdef: ViewDef) -> ViewDef:
        if not any(e == "*" for e, _ in vdef.select):
            return vdef
        # semi/anti-joined tables contribute no output columns
        visible = [vdef.source] + [
            j.table for j in vdef.joins if j.how not in ("semi", "anti")
        ]
        cols: list[tuple[str, str]] = []
        for e, a in vdef.select:
            if e == "*":
                for t in visible:
                    for c in self.table(t).columns:
                        cols.append((c, c))
            else:
                cols.append((e, a))
        # rebuild output order: replace the single "*" slot with expansion
        new_order: list[str] = []
        for a in vdef.output_order:
            if a == "*":
                new_order.extend(
                    c for t in visible for c in self.table(t).columns
                )
            else:
                new_order.append(a)
        import dataclasses

        return dataclasses.replace(
            vdef, select=tuple(cols), output_order=tuple(new_order)
        )

    # -- the IVM surface ---------------------------------------------------

    def ivm_upsert(self, name: str) -> DataFrame:
        """Compute ΔV for ``name`` (the reference's
        ``PRAGMA ivm_upsert``).  Returns view columns + multiplicity;
        caches the internal-shape ΔV for a subsequent merge_view()."""
        if name in self._sketch_specs:
            spec = self._sketch_specs[name]
            dv = spec.delta_state(
                self.delta(spec.source),
                MULT_COL,
                insert_only=spec.source in self._insert_only_deltas,
            )
            self._delta_views[name] = dv
            return dv
        vdef = self.view(name)
        dv = self._delta_plan_for(name)
        self._delta_views[name] = dv
        return merge_ops.finalize(dv, vdef)

    def _delta_plan_for(self, name: str) -> DataFrame:
        if name in self._composites:
            self._ensure_composite_delta(name)
        if name in self._union_branches:
            parts = [
                delta_plan(b, self.table, self.delta)
                for b in self._union_branches[name]
                if any(t in self._deltas for t in b.tables)
            ]
            if not parts:
                # reference-style missing-delta error via the first table
                self.delta(self._union_branches[name][0].tables[0])
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        return delta_plan(self._iviews[name], self.table, self.delta)

    def _materialized_delta(self, name: str, force: bool = False) -> DataFrame:
        """ΔV, materialized when that pays (reference parity: the pragma
        INSERTs the DoIVM result into a real ``delta_<view>`` table,
        ivm_extension.cpp:100-104).  ΔV is O(|Δ| + affected groups) —
        small by the IVM scale assumption — so checkpointing it lets
        every merge-side consumer (delete-probe, merge union, cascade
        CDC) reuse one result instead of re-running the delta plan's
        counting/join subqueries.  For single-pass delta plans consumed
        exactly once (inner-join or single-table views with SUM/COUNT/AVG
        aggregates: no probe, no counting terms) the checkpoint job is
        pure overhead and ΔV stays lazy.  ``ivm_upsert`` always stays
        lazy so the user-visible ΔV keeps its declarative plan
        (pushdown/broadcast shapes remain auditable)."""
        dv = self._delta_views.get(name)
        if dv is not None and getattr(dv, "_ivm_materialized", False):
            return dv
        if dv is None:
            dv = self._delta_plan_for(name)
        vdef = self._views[name]
        # when the aux advance will run (aux aggregates + a registered
        # delta), _merge_aggregate's delete-probe is skipped for exactly
        # the aux-covered aliases — ΔV then has ONE consumer (the merge
        # union / patch fold) and the pin would be a wasted job per batch
        # (the TF-IDF dfreq/ndocs views pay it twice per batch otherwise)
        aux_covered = bool(auxstate.aux_aggregates(vdef)) and any(
            t in self._deltas for t in vdef.tables
        )
        multi_consumer = (
            force
            or any(j.how != "inner" for j in vdef.joins)
            or (
                not aux_covered
                and any(
                    a.fn
                    in ("min", "max", "count_distinct", "sum_distinct", "avg_distinct")
                    for a in vdef.aggregates
                )
            )
        )
        if multi_consumer:
            dv = dv.localCheckpoint(eager=True)
            dv._ivm_materialized = True
            self._delta_views[name] = dv
        return dv

    def merge_view(self, name: str, delta_v: DataFrame | None = None) -> DataFrame:
        """V' = V ⊎ ΔV (the upsert the reference's poster leaves as future
        work).  Updates the materialized state; returns the public view."""
        if name in self._sketch_specs:
            if name not in self._state:
                raise IVMError(f"view {name!r} was not materialized (create_immv)")
            return self._merge_sketch(name, delta_v)
        vdef = self.view(name)  # unknown names: 'is not registered'
        if name not in self._state:
            raise IVMError(f"view {name!r} was not materialized (create_immv)")
        strategy = self.merge_strategy
        if strategy == "auto":
            # adaptive (mirrors the aux-state advance policy): the patch
            # path spends a few fixed jobs (state pin, ΔV fold checkpoint,
            # broadcast builds) to avoid exchanging the state — a clear
            # win once |V| is large, pure overhead while |V| is small.
            # State size is measured on the checkpointed state after each
            # merge (a block-scan count, not a recompute).
            strategy = (
                "patch"
                if self._state_rows.get(name, 0) >= self.patch_min_state_rows
                else "shuffle"
            )
        st_fut = None
        if strategy == "patch" and self._iviews[name].select:
            # the patch path scans the state narrowly TWICE (combine join +
            # touched-key probe) — pin it first so the second scan reads
            # checkpointed blocks, not a re-run of the initial aggregation.
            # Pinned ASYNC (pin.py): the state plan is independent of ΔV
            # (state reads bases/checkpoints, ΔV reads bases+deltas), so
            # its checkpoint job overlaps the ΔV materialization and the
            # aux advance below instead of serializing before the merge.
            st = self._state[name]
            if not getattr(st, "_ivm_pinned", False):
                st_fut = pin_async(st)
        touched_fut = None
        try:
            dv = delta_v if delta_v is not None else self._materialized_delta(name)
            if self._state_store is not None and name in self._state_store:
                if not getattr(dv, "_ivm_materialized", False):
                    # the store path executes ΔV twice (touched-bucket collect
                    # + the commit's filtered write) — pin it so a lazy or
                    # non-deterministic delta plan cannot produce a touched set
                    # that disagrees with the rows the commit writes
                    dv = dv.localCheckpoint(eager=True)
                    dv._ivm_materialized = True
                # the touched-bucket collect only needs the pinned ΔV — start
                # it NOW on a thread so its job overlaps the aux advance and
                # the merge-plan construction instead of serializing right
                # before the commit (guide §2.6; resolved before the commit)
                from ivm_extension_spark.sources.lakehouse import bucket_expr

                _keys = self._store_keys(name)
                _probe = dv.select(
                    bucket_expr(_keys, self._state_store.n_buckets).alias("b")
                ).distinct()
                touched_fut = pin.submit(
                    lambda: sorted(r[0] for r in _probe.collect())
                )
            derived = self._advance_aux(name)
            if st_fut is not None:
                st, st_fut = st_fut.result(), None  # adopted: not ours to free
                st._ivm_pinned = True
                self._state[name] = st
            self._last_merge_strategy = strategy  # observable for tests/telemetry
            new_state = merge_ops.merge(
                self._state[name], dv, self._iviews[name], derived, strategy
            )
            pending_hist = None
            if self.keep_history:
                # pin the outgoing state (its lazy plan would otherwise be
                # re-evaluated against bases that have since advanced); the
                # history APPEND is deferred until the commit/checkpoint below
                # succeeded — appending first would record the same version
                # twice on a failed-then-retried merge and evict a genuinely
                # older version early
                old = self._state[name]
                if not getattr(old, "_ivm_pinned", False):
                    old = old.localCheckpoint(eager=True)
                    old._ivm_pinned = True
                pending_hist = (self._merge_counts.get(name, 0), old)
            touched = touched_fut.result() if touched_fut is not None else None
        except BaseException:
            # nothing is committed yet: wait for the touched-bucket probe
            # and the state pin before re-raising (no work may outlive a
            # failed call), and free a pin the merge never adopted
            if touched_fut is not None:
                touched_fut.exception()
            if st_fut is not None and st_fut.exception() is None:
                pin.release(st_fut.result())
            raise
        if self._state_store is not None and name in self._state_store:
            # MERGE INTO path: commit ONLY the buckets ΔV touched (their
            # post-merge content filtered out of the merged plan); every
            # other bucket's files carry over untouched into the new
            # snapshot.  The store-backed scan replaces the checkpoint —
            # parquet files are immutable, so lineage is already cut.
            keys = self._store_keys(name)
            self._state_store.commit(name, new_state, keys, touched)
            new_state = self._state_store.read(name)
        else:
            # checkpoint: cuts lineage growth across repeated merges AND
            # pins the state so streaming micro-batch sources can be
            # released.  Under the auto strategy the next batch needs the
            # state row count anyway, so the checkpoint is taken LAZY and
            # the count action materializes it — one Spark job where an
            # eager checkpoint followed by a count would launch two.
            fuse_count = self.merge_strategy == "auto"
            new_state = new_state.localCheckpoint(eager=not fuse_count)
            if fuse_count:
                n_rows = new_state.count()  # materializes the checkpoint
        new_state._ivm_pinned = True
        if pending_hist is not None:
            hist = self._history.setdefault(name, [])
            hist.append(pending_hist)
            del hist[: max(0, len(hist) - self.keep_history)]
        self._state[name] = new_state
        if self.merge_strategy == "auto":
            # measured on the just-checkpointed state; feeds the adaptive
            # strategy for the NEXT batch.  Store path: the manifest's
            # add-file statistics (parquet footer counts recorded at
            # commit, lakehouse.row_count) — zero Spark jobs; a pre-stats
            # manifest falls back to counting the scan
            if self._state_store is None or name not in self._state_store:
                self._state_rows[name] = n_rows
            else:
                sc = self._state_store.row_count(name)
                self._state_rows[name] = (
                    sc if sc is not None else new_state.count()
                )
        pend = self._pending_aux.pop(name, None)
        if pend is not None:
            # commit the advanced aux multiset only now, atomically with
            # the state swap — a merge that failed earlier left both as-is
            self._aux[name], self._aux_rows[name] = pend
        self._delta_views.pop(name, None)
        self._merge_counts[name] = self._merge_counts.get(name, 0) + 1
        # recorded only after the state swap committed, so stats() never
        # reports a strategy for a merge that failed mid-way
        self._merge_strategy_by_view[name] = strategy
        if name in self._composites:
            # outer committed → advance the inner join view + snapshot
            self._advance_composite(name)
        return merge_ops.finalize(new_state, vdef)

    def merge_views(
        self, names: "list[str] | tuple[str, ...]", parallelism: int | None = None
    ) -> list[DataFrame]:
        """Merge several INDEPENDENT views concurrently and return their
        public states in input order — the multi-view batch drive.

        Spark's scheduler is thread-safe and built for exactly this:
        each view's merge is a chain of small jobs (delta materialize,
        aux advance, state merge+checkpoint), and driving N independent
        views sequentially leaves the cluster idle between one view's
        jobs while the next view's plan sits unsubmitted.  Submitting
        from a thread per view interleaves the job chains — on the
        TF-IDF triple (tf / dfreq / ndocs) the per-batch drive measured
        7.2s sequential → 4.1s concurrent at sf0.1 local[32], and on a
        real cluster the win grows with executor count (the jobs are
        individually narrow).

        The views must be pairwise independent: none may consume
        another's CDC or snapshot (cascades need their topological
        order — :meth:`maintain_all` provides it).  Engine bookkeeping
        is per-view-name keyed and the state store is one directory per
        view, so concurrent drives of DISTINCT names do not contend.
        """
        names = list(names)
        if len(set(names)) != len(names):
            raise IVMError("merge_views requires distinct view names")
        return pin.build_all(
            *[lambda n=n: self.merge_view(n) for n in names], limit=parallelism
        )

    def merge_view_cdc(self, name: str) -> DataFrame:
        """Merge like :meth:`merge_view`, but return the *view-state CDC*
        instead of the new state: the public rows the merge removed
        (multiplicity false) plus the rows it produced (true), restricted
        to the groups ΔV touched.

        This is the cascading-IVM primitive (DBSP-style view
        composition): the CDC is a valid delta table for a DOWNSTREAM
        view whose base table is this view's public snapshot — register
        it with ``register_delta(<snapshot>, cdc)``, maintain the outer
        view, then ``apply_delta(<snapshot>)`` to advance the snapshot.
        The poster's motivating TPC-H Q13 (two-level aggregation) runs
        end-to-end this way.

        Scale shape: the affected-group key set is O(|ΔV|) and is
        broadcast; both old and new state are semi-joined against it —
        never shuffled, never fully rescanned.
        """
        vdef = self.view(name)
        if name not in self._state:
            raise IVMError(f"view {name!r} was not materialized (create_immv)")
        if vdef.read_windows:
            # a read-window (e.g. a GLOBAL rank over the state) can move
            # for EVERY row when one group changes — CDC restricted to
            # the ΔV-touched groups would silently miss those moves
            raise IVMError(
                f"view {name!r} carries read-windows (recomputed on read); "
                "their values move outside the ΔV-touched groups, so "
                "affected-group CDC is unsound — cascade from the "
                "pre-window aggregate view instead"
            )
        dv = self._materialized_delta(name, force=True)
        if vdef.qualify or vdef.limit is not None:
            return self._cdc_rank_filtered(name, vdef, dv)
        if vdef.grouping_sets:
            return self._cdc_grouping_sets(name, vdef, dv)
        old_pub = merge_ops.finalize(self._state[name], vdef)
        if not vdef.is_aggregate and not vdef.distinct:
            # projection views: ΔV is already row-level CDC
            self.merge_view(name, delta_v=dv)
            return merge_ops.finalize(dv, vdef)
        keys = (
            [a for _, a in vdef.select] if vdef.is_aggregate else list(vdef.output_order)
        )
        affected = dv.select(*keys)
        self.merge_view(name)
        new_pub = merge_ops.finalize(self._state[name], vdef)
        # NULL-safe semi: a NULL-valued group key is a legitimate group
        # (GROUP BY treats NULLs equal) and its CDC rows must not be
        # dropped by plain-equality join semantics
        old_rows = self._nullsafe_semi(old_pub, affected, keys).withColumn(
            MULT_COL, F.lit(False)
        )
        new_rows = self._nullsafe_semi(new_pub, affected, keys).withColumn(
            MULT_COL, F.lit(True)
        )
        return old_rows.unionByName(new_rows)

    def _nullsafe_semi(
        self, df: DataFrame, probe: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Semi-join ``df`` against ``probe`` on ``keys`` with NULL-safe
        equality (rollup levels and NULL-valued group keys must match),
        the probe broadcast."""
        from ivm_extension_spark.operators import colops

        p = F.broadcast(colops.renamed(probe, keys, "__cdc_pk_").distinct())
        return df.join(p, colops.ns_eq(keys, "__cdc_pk_"), "leftsemi")

    def _cdc_rank_filtered(self, name: str, vdef, dv: DataFrame) -> DataFrame:
        """CDC for QUALIFY / ORDER BY+LIMIT views.  Rank visibility moves
        only within the rank window's partition — the whole view for a
        global LIMIT — so the CDC is old-vs-new VISIBLE rows restricted
        to ΔV's partition-key set.  That restores the locality the plain
        affected-key join lacks (a delta on key A can evict key B from
        the top-N, but only within A's partition): cost is O(|ΔV
        partitions| x N), and for a global LIMIT both snapshots are
        already ≤ LIMIT rows."""
        pkeys: list[str] = []
        if vdef.limit is None:
            parsed = _qualify_partition_keys(vdef.qualify)
            if parsed is None or not all(k in dv.columns for k in parsed):
                raise IVMError(
                    "merge_view_cdc over this QUALIFY view is not "
                    "supported: the rank window's PARTITION BY keys could "
                    "not be resolved to plain view columns, so the "
                    "affected-partition restriction cannot be built "
                    f"(qualify: {vdef.qualify!r}).  Maintain the "
                    "pre-filter view and rank in the downstream read"
                )
            pkeys = parsed
        old_pub = merge_ops.finalize(self._state[name], vdef)
        self.merge_view(name)
        new_pub = merge_ops.finalize(self._state[name], vdef)
        if pkeys:
            affected = dv.select(*pkeys)
            old_pub = self._nullsafe_semi(old_pub, affected, pkeys)
            new_pub = self._nullsafe_semi(new_pub, affected, pkeys)
        return old_pub.withColumn(MULT_COL, F.lit(False)).unionByName(
            new_pub.withColumn(MULT_COL, F.lit(True))
        )

    def _cdc_grouping_sets(self, name: str, vdef, dv: DataFrame) -> DataFrame:
        """CDC for ROLLUP/CUBE/GROUPING SETS views: per listed set, the
        affected coarse groups are ΔV's finest keys PROJECTED onto the
        set's columns (so rolled-up/NULL-padded rows are reached through
        the projection, not a doomed equality join on padded keys); the
        state slices behind those coarse groups re-aggregate to the old
        and new level rows.  Each slice holds whole coarse groups, so the
        re-aggregation is exact, and the grand-total set uses the full
        (O(groups)) state — it IS one group."""
        old_state = self._state[name]
        self.merge_view(name)
        new_state = self._state[name]
        out: DataFrame | None = None
        for gs in vdef.grouping_sets:
            gcols = list(gs)
            if gcols:
                o_slice = self._nullsafe_semi(old_state, dv.select(*gcols), gcols)
                n_slice = self._nullsafe_semi(new_state, dv.select(*gcols), gcols)
            else:
                o_slice, n_slice = old_state, new_state
            o = merge_ops.grouping_level(o_slice, vdef, gs)
            n = merge_ops.grouping_level(n_slice, vdef, gs)
            if vdef.having:
                o = o.filter(F.expr(vdef.having))
                n = n.filter(F.expr(vdef.having))
            pair = o.withColumn(MULT_COL, F.lit(False)).unionByName(
                n.withColumn(MULT_COL, F.lit(True))
            )
            out = pair if out is None else out.unionByName(pair)
        return out

    def maintain_all(self) -> dict[str, DataFrame]:
        """Advance EVERY view affected by the registered deltas, then fold
        the deltas into their base tables — the multi-view batch verb.

        All views merge against the PRE-delta base world (their delta
        rules require it), then the deltas are applied once.  Delta plans
        for every affected view are built up front, so a view whose shape
        is rejected (e.g. a theta outer/semi/anti chain over tables that
        share a column name) raises BEFORE any state has advanced: the
        catalog is never left half-merged.

        Returns {view name -> new public view}.  USER cascades (views
        over a maintained view's snapshot) stay manual via
        merge_view_cdc — their delta is the upstream merge's CDC, not a
        base-table delta.  Sketch views advance from their source's
        delta; multi-PARTITION-BY window views are ordinary fused views
        here (one delta plan, one merge).
        """
        def _tables(v: str) -> tuple[str, ...]:
            if v in self._composites:
                # a composite window view is affected through its INNER
                # join view's base tables (the snapshot delta is derived)
                return self._views[self._composites[v][0]].tables
            if v in self._union_branches:
                return tuple(
                    t for b in self._union_branches[v] for t in b.tables
                )
            return self._views[v].tables

        # composite INNERS advance inside their outer's merge epilogue —
        # driving them standalone here would double-apply their delta
        comp_inner = {i for i, _ in self._composites.values()}
        affected = [
            v
            for v in self._views
            if v not in comp_inner
            and v in self._state  # ΔV-only views (materialize=False) have no
            # state to advance: skip them — their next ivm_upsert simply
            # runs against the post-apply base with fresh deltas.  Checked
            # up front so merge_view can never raise 'was not materialized'
            # after earlier views have already merged (never-half-merged).
            and any(t in self._deltas for t in _tables(v))
        ]
        sketch_affected = [
            n
            for n, s in self._sketch_specs.items()
            if n in self._state and s.source in self._deltas
        ]
        plans = {v: self._delta_plan_for(v) for v in affected}  # may raise
        sk_plans = {  # monotone kinds raise here on delete-bearing deltas
            n: self._sketch_specs[n].delta_state(
                self.delta(self._sketch_specs[n].source),
                MULT_COL,
                insert_only=self._sketch_specs[n].source
                in self._insert_only_deltas,
            )
            for n in sketch_affected
        }
        for v in affected:
            self._delta_views[v] = plans[v]
        for n in sketch_affected:
            self._delta_views[n] = sk_plans[n]
        ordered = affected + sketch_affected
        # affected views are pairwise independent by construction (user
        # cascades stay manual; composite inners advance inside their
        # outer's epilogue) — merge them concurrently, same thread-per-
        # view drive as merge_views; then the independent per-table base
        # folds (distinct engine keys), concurrent by the same argument
        out = dict(zip(ordered, pin.build_all(
            *[lambda v=v: self.merge_view(v) for v in ordered], limit=8
        )))
        pin.build_all(
            *[lambda t=t: self.apply_delta(t) for t in self._deltas], limit=8
        )
        return out

    def _advance_aux(self, name: str) -> dict[str, DataFrame]:
        """Advance the view's auxiliary value multisets with the current
        delta tables and re-derive exact MIN/MAX/COUNT(DISTINCT) values.
        Returns {aggregate alias -> (keys..., value)} for the merge patch."""
        vdef = self._views[name]
        aux_aggs = auxstate.aux_aggregates(vdef)
        if not aux_aggs:
            return {}
        if all(t not in self._deltas for t in vdef.tables):
            # deltas already consumed / registered elsewhere: the caller is
            # merging an external ΔV; fall back to the delete-rejecting path.
            # (A *partial* delta — some joined tables unchanged — is the
            # normal fact/dim case and advances the aux state fine: the
            # delta source simply skips branches for deltaless tables.)
            return {}
        meta = self._aux_meta[name]
        # Δaux is O(|Δ| distinct values) — checkpoint it once so the three
        # consumers inside merge_aux (anti-probe, semi-probe, union branch)
        # reuse one result instead of re-running the delta-source scan.
        # Taken LAZY with the size probe as the materializing action:
        # one job where a checkpoint followed by a count would launch two
        # (the same fusing merge_view applies to the state checkpoint).
        da = auxstate.delta_aux(
            vdef, self.table, self.delta, meta
        ).localCheckpoint(eager=False)
        n_da = da.count()  # materializes the checkpoint
        # adaptive advance: the touched-key split (broadcast semi/anti,
        # state never exchanged) wins when Δaux is small relative to the
        # state multiset — the IVM steady state, and the case that matters
        # at 100 TB.  For bulk deltas touching a large key fraction the
        # probe overhead exceeds the exchange it saves (measured ~1.3x
        # slower at a 10% touch rate, sf0.1), so fall back to the plain
        # union + re-count.  Both counts are jobs over checkpointed
        # blocks — milliseconds, once per batch.
        state_n = self._aux_rows.get(name)
        use_split = state_n is not None and n_da * 16 <= state_n
        # lazy checkpoint + count: the staged-commit count is needed
        # anyway, so it doubles as the materializing action (one job)
        new_aux = auxstate.merge_aux(
            self._aux[name], da, broadcast_delta=use_split
        ).localCheckpoint(eager=False)
        # do NOT assign self._aux yet: merge_view commits the advanced aux
        # together with the new state at the END, so a failed merge leaves
        # the engine unchanged and is safely retryable (a mid-merge
        # assignment would double-advance the multiset on replay)
        self._pending_aux[name] = (new_aux, new_aux.count())
        # re-derive only the TOUCHED groups: Δaux's group-key set is
        # O(|Δ|) and broadcast; the aux slice behind it is scanned
        # narrowly, so the per-batch derive is O(touched values), not a
        # full O(state) re-aggregation (patch_merged's hit marker keeps
        # untouched groups' state values).  Global aggregates (no group
        # keys) derive from the whole relation — it IS one group.
        group_keys = [
            c
            for c in da.columns
            if c
            not in (
                auxstate.AGG_COL,
                auxstate.VCNT_COL,
                *auxstate.LANE_COLS.values(),
            )
        ]
        slice_aux = new_aux
        if group_keys:
            # adaptive (same shape as the advance/merge policies): the
            # slice pays a broadcast semi join over the aux relation to
            # shrink the derive input — a clear win when the batch touches
            # a small fraction of the groups (the IVM steady state), pure
            # overhead when most groups are touched (tiny group domains,
            # bulk loads).  Group count is the measured post-merge state
            # size; the touched count is a cheap job over checkpointed Δaux.
            n_groups = self._state_rows.get(name)
            touched = da.select(*group_keys).distinct()
            self._last_derive_sliced = False  # observable for tests/telemetry
            if n_groups and touched.count() * 2 <= n_groups:
                self._last_derive_sliced = True
                cond = None
                for k in group_keys:
                    t = F.col(f"__ivm_a.{k}").eqNullSafe(F.col(f"__ivm_t.{k}"))
                    cond = t if cond is None else cond & t
                slice_aux = (
                    new_aux.alias("__ivm_a")
                    .join(
                        F.broadcast(touched.alias("__ivm_t")), cond, "leftsemi"
                    )
                )
        # shared frames: ONE pass over the (sliced) aux relation for the
        # simple fns, ONE window pass for the percentile family, ONE
        # broadcast patch join per distinct frame (dedup by identity)
        return auxstate.derive_frames(aux_aggs, slice_aux, meta)

    def stats(self, name: str) -> dict:
        """Operational telemetry for one view — what an operator pages on:
        state/aux sizes as MEASURED at the last checkpoint (no job is
        run; None until the auto strategy or an aux advance measured
        them), the merge strategy the last batch actually took, and the
        number of merges applied since materialization."""
        if name in self._sketch_specs:
            spec = self._sketch_specs[name]
            return {
                "materialized": name in self._state,
                "kind": f"sketch:{spec.kind}",
                "merges_applied": self._merge_counts.get(name, 0),
                "tables": [spec.source],
                "pending_deltas": [spec.source] if spec.source in self._deltas else [],
            }
        self.view(name)  # raises for unknown views
        return {
            "materialized": name in self._state,
            "state_rows": self._state_rows.get(name),
            "aux_rows": self._aux_rows.get(name),
            "aux_aggregates": sorted(self._aux_meta.get(name) or {}),
            "last_merge_strategy": self._merge_strategy_by_view.get(name),
            "merges_applied": self._merge_counts.get(name, 0),
            "versions": self.list_versions(name) if name in self._state else [],
            "tables": list(
                dict.fromkeys(
                    t
                    for b in self._union_branches.get(name, [self._views[name]])
                    for t in b.tables
                )
            ),
            "pending_deltas": sorted(
                t
                for t in self._deltas
                if t
                in {
                    tt
                    for b in self._union_branches.get(name, [self._views[name]])
                    for tt in b.tables
                }
            ),
        }

    def read_view(self, name: str, version: int | None = None) -> DataFrame:
        """The public view — current state, or (with ``keep_history`` set
        on the engine) the snapshot as of an earlier ``version``.  A
        view's version is its merge counter: 0 after materialization, +1
        per merge; ``list_versions`` enumerates what is retained."""
        if name not in self._state:
            raise IVMError(f"view {name!r} has no materialized state")
        if name in self._sketch_specs:
            if version is not None and version != self._merge_counts.get(name, 0):
                raise IVMError(
                    f"sketch view {name!r} does not retain version history"
                )
            return self._state[name]  # the state relation IS the view
        if version is None or version == self._merge_counts.get(name, 0):
            return merge_ops.finalize(self._state[name], self.view(name))
        for v, st in self._history.get(name, []):
            if v == version:
                return merge_ops.finalize(st, self.view(name))
        raise IVMError(
            f"view {name!r} has no retained version {version} "
            f"(retained: {self.list_versions(name)})"
        )

    def read_gapfill(
        self,
        name: str,
        step_seconds: int,
        value_cols: dict[str, str],
        bucket_col: str,
        keys: list[str] | None = None,
        version: int | None = None,
        emit_is_gap: bool = True,
    ) -> DataFrame:
        """Gap-filled read over a maintained bucket-aggregate view — the
        hypertable-rollup composition (IVM × time-series): the view
        maintains ``GROUP BY <keys>, <epoch bucket>`` aggregates under
        inserts AND deletes with the plain group-by delta rule, and the
        densification (operators/timeseries.gap_fill: locf / linear /
        null fills by the predecessor-explode rule) is applied on READ
        over the merged state — the same finalize-on-read treatment
        HAVING and read-windows get, and for the same reason: gap rows
        are DERIVED (a dense grid materialized into state is exactly
        what gap_fill avoids computing), and one late observation
        landing inside a gap flips its neighbors' fill values — state
        stays minimal and exact, the fill is always consistent with it.

        Unlike read-windows (global ranks move everywhere), gap-fill is
        KEY-LOCAL: a delta only reshapes the timelines of the keys it
        touches, so callers tracking affected keys can pre-filter the
        read.  Full-read cost is O(state + emitted gaps), two shuffles,
        no join.  ``bucket_col`` must be one of the view's group keys
        (an integer epoch bucket, e.g. ``(unix_timestamp(ts) div 900) *
        900``); ``value_cols`` maps aggregate output columns to fill
        methods; ``keys`` defaults to the remaining group keys."""
        from ivm_extension_spark.operators.timeseries import gap_fill

        # sketch views live only in _sketch_specs, so this check must
        # precede self.view() or the user gets a misleading
        # "not registered" for a view list_views() plainly shows
        if name in self._sketch_specs:
            raise IVMError(
                f"view {name!r} is a sketch view — gap-fill reads need a "
                "bucket-aggregate view (GROUP BY keys + epoch bucket)"
            )
        vdef = self.view(name)
        if vdef.grouping_sets:
            raise IVMError(
                f"view {name!r} uses ROLLUP/CUBE/GROUPING SETS: its read "
                "mixes aggregation levels (NULL-padded keys), which a "
                "per-key gap-fill would treat as ordinary partitions — "
                "gap-fill the finest-level view and roll up afterwards"
            )
        if not vdef.is_aggregate:
            raise IVMError(
                f"view {name!r} is not an aggregate view: gap-fill reads "
                "densify a maintained GROUP BY <keys>, <bucket> rollup — "
                "create the view with the bucket expression as a group key"
            )
        group_aliases = [a for _, a in vdef.select]
        if bucket_col not in group_aliases:
            raise IVMError(
                f"bucket_col {bucket_col!r} is not a group key of view "
                f"{name!r} (group keys: {group_aliases})"
            )
        agg_aliases = {a.alias for a in vdef.aggregates}
        unknown = [c for c in value_cols if c not in agg_aliases]
        if unknown:
            raise IVMError(
                f"value_cols {unknown} are not aggregate outputs of view "
                f"{name!r} (aggregates: {sorted(agg_aliases)}); group keys "
                "cannot be gap-filled"
            )
        if keys is None:
            keys = [a for a in group_aliases if a != bucket_col]
        pub = self.read_view(name, version=version)
        return gap_fill(
            pub,
            keys,
            step_seconds,
            value_cols,
            bucket_col=bucket_col,
            emit_is_gap=emit_is_gap,
        )

    def list_versions(self, name: str) -> list[int]:
        """Versions readable for ``name``: retained history + current."""
        if name in self._sketch_specs:  # sketches retain no history
            return (
                [self._merge_counts.get(name, 0)] if name in self._state else []
            )
        self.view(name)
        out = [v for v, _ in self._history.get(name, [])]
        if name in self._state:
            out.append(self._merge_counts.get(name, 0))
        return out

    def full_refresh(self, name: str) -> DataFrame:
        """Recompute V from the *current* base tables (escape hatch for the
        non-maintainable cases: MIN/MAX/COUNT DISTINCT under deletes).

        A refresh is a real state transition, so the new state must land
        everywhere a merge would have written it: the attached state
        store gets a full snapshot (every bucket — a later touched-bucket
        commit must not carry stale pre-refresh buckets forward), the
        cached ΔV is dropped (it was computed against pre-refresh bases;
        replaying it into the refreshed state would double-apply), and
        the adaptive-strategy row count is re-measured."""
        if name in self._sketch_specs:
            spec = self._sketch_specs[name]
            state = spec.compute(self.table(spec.source))
            if self._state_store is not None and name in self._state_store:
                self._state_store.write_full(name, state, spec.state_keys())
                state = self._state_store.read(name)
            else:
                state = state.localCheckpoint(eager=True)
            state._ivm_pinned = True
            self._state[name] = state
            self._delta_views.pop(name, None)
            return state
        vdef = self.view(name)
        if name in self._union_branches:
            state = self._compute_union(self._union_branches[name])
        else:
            self._init_aux(name, vdef)
            state = self._materialize_state(name)
        if self._state_store is not None and name in self._state_store:
            self._state_store.write_full(name, state, self._store_keys(name))
            state = self._state_store.read(name)
        else:
            state = state.localCheckpoint(eager=True)
        state._ivm_pinned = True
        self._state[name] = state
        self._delta_views.pop(name, None)
        self._pending_aux.pop(name, None)  # fresh aux was just re-initialized
        if self.merge_strategy == "auto":
            self._state_rows[name] = state.count()
        return merge_ops.finalize(state, vdef)

    def discard_delta(self, name: str) -> None:
        """Clear delta_<name> WITHOUT folding it into the base table.

        For stream-fed SKETCH state only: sketch merges never consult
        the base relation, so a micro-batch delta is fully consumed by
        ``merge_view`` and folding it would rewrite an ever-growing base
        every batch (O(stream) work for state nobody reads).  Using this
        under ordinary views desynchronizes them from their base —
        ``full_refresh`` and later delta rules would compute against a
        world the state never saw."""
        self.delta(name)  # reference-style missing-delta error
        self._deltas.pop(name, None)

    def apply_delta(self, name: str) -> DataFrame:
        """Fold delta_<name> into the base table (bag semantics) and clear
        the delta — advances the engine to the post-delta world."""
        new_base = merge_ops.apply_delta_to_table(self.table(name), self.delta(name))
        new_base = new_base.localCheckpoint(eager=True)
        self._tables[name] = new_base
        self._deltas.pop(name, None)
        return new_base

    def merge_and_advance(self, name: str, table: str) -> DataFrame:
        """``merge_view(name)`` ∥ ``apply_delta(table)`` — the per-batch
        tail of every multi-batch drive.  The two are independent: the
        merge's ΔV plan captured the PRE-fold base relation (rebinding
        ``self._tables`` never mutates an existing plan), and the fold
        never reads view state — so their blocking checkpoint jobs can
        overlap (guide §2.6, the same thread-per-unit submission
        ``merge_views`` uses across views).  All engine-dict mutations
        for the fold happen on the caller thread only after BOTH
        finished, so a concurrent ``_advance_aux`` still sees the
        registered delta.

        Failure contract (what a streaming replay needs to know):
        merge failed → nothing committed, full redo is safe;
        merge committed but the fold failed → ``BaseFoldError`` — the
        base and delta are untouched, so the caller must redo ONLY the
        fold (`register_delta` + `apply_delta`), never the merge."""
        fold_plan = merge_ops.apply_delta_to_table(
            self.table(table), self.delta(table)
        )
        f_merge = pin.submit(lambda: self.merge_view(name))
        f_base = pin.submit(lambda: fold_plan.localCheckpoint(eager=True))
        try:
            out = f_merge.result()
        except BaseException:
            # merge failure: world unchanged — let the fold finish and
            # drop its checkpoint before re-raising
            if f_base.exception() is None:
                pin.release(f_base.result())
            raise
        try:
            new_base = f_base.result()
        except Exception as e:
            raise BaseFoldError(
                f"base fold for {table!r} failed after the merge of "
                f"{name!r} committed; redo only the fold"
            ) from e
        self._tables[table] = new_base
        self._deltas.pop(table, None)
        return out

    # -- SQL front door (reference entry-point parity) ---------------------

    def execute(self, sql: str) -> DataFrame | None:
        """Text entry points matching the reference's three surfaces:

        - ``CREATE IMMV <name> AS <select>`` — the parser-extension path
          the reference left unfinished (ivm_parser.cpp:14-52 detects and
          strips the prefix but returns an empty result; its regex
          helpers even match ``CREATE MATERIALIZED VIEW``,
          ivm_parser_helpers.cpp:8 — both spellings accepted here).
        - ``PRAGMA ivm_upsert('catalog','schema','view')`` — the
          reference's live entry point (ivm_extension.cpp:95-110).  The
          catalog/schema qualifiers are accepted and ignored (this
          engine's namespace is flat, SURVEY.md §1.4); a single-argument
          form ``PRAGMA ivm_upsert('view')`` works too.  Returns ΔV.
        - anything else: run via ``spark.sql`` with every registered
          table and materialized view exposed as a temp view — plain
          read-only queries compose with maintained state.
        """
        import re

        s = sql.strip().rstrip(";").strip()
        m = re.match(
            r"(?is)^create\s+(?:immv|materialized\s+view)\s+([A-Za-z_]\w*)\s+as\s+(.+)$",
            s,
        )
        if m:
            return self.create_immv(m.group(1), sql=m.group(2))
        m = re.match(r"(?is)^pragma\s+ivm_upsert\s*\(\s*(.+?)\s*\)$", s)
        if m:
            args = [a.strip().strip("'\"") for a in m.group(1).split(",")]
            return self.ivm_upsert(args[-1])
        for t, df in self._tables.items():
            df.createOrReplaceTempView(t)
        for v in self._state:
            self.read_view(v).createOrReplaceTempView(v)
        return self.spark.sql(s)

    # -- persistence -------------------------------------------------------

    def save(self, path: str) -> None:
        """Persist the engine's maintained state to ``path``: view
        definitions (JSON catalog) + per-view internal-shape state and
        aux relations as parquet.  Base tables are NOT copied — they are
        the lakehouse's own tables and are re-registered on load.

        At production scale the state tables would live as key-bucketed
        lakehouse tables; this is the same layout with the bucketing left
        to the storage layer.  The reference has no persistence at all —
        its ``delta_<view>`` tables die with the DuckDB process unless the
        user's catalog is file-backed.

        Commit cost (a streaming maintainer pays it per micro-batch): one
        write per state and aux relation plus one for the catalog, and one
        more for the in-progress sentinel only when ``path`` already holds
        a save.  Both catalog rows are built JVM-side
        (:meth:`_write_catalog`): a row built from Python data is a
        pickled local RDD run through a Python worker, about 1 s per
        write on a 4-core host against about 0.2 s for the same one-row
        parquet from ``spark.range``."""
        import json

        catalog = {
            "views": {n: v.to_dict() for n, v in self._views.items()},
            "union_branches": {
                n: [b.to_dict() for b in bs]
                for n, bs in self._union_branches.items()
            },
            "sketches": {
                n: s.to_dict() for n, s in self._sketch_specs.items()
            },
            "composites": {n: list(p) for n, p in self._composites.items()},
            "materialized": sorted(self._state),
            "aux": sorted(self._aux),
            "aux_rows": dict(self._aux_rows),
            "state_rows": dict(self._state_rows),
            "merge_counts": dict(self._merge_counts),
            "keep_history": self.keep_history,
        }
        # tombstone FIRST when saving over an EXISTING save: the old
        # catalog must not stay readable next to a mix of new and old
        # state dirs (a crash mid-save would otherwise load the old
        # catalog over partially overwritten state/aux — an aux relation
        # one generation out of sync silently corrupts later
        # MIN/MAX/DISTINCT maintenance).  The sentinel makes a torn save
        # fail LOUDLY at load instead.  A fresh path needs none: a crash
        # there leaves no catalog, and load fails on that already.  The
        # existence check is a metadata call (no Spark job) under the
        # session's Hadoop conf, the one the parquet writes below use.
        cat_path = self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
            f"{path}/catalog"
        )
        fs = cat_path.getFileSystem(
            self.spark._jsparkSession.sessionState().newHadoopConf()
        )
        if fs.exists(cat_path):
            self._write_catalog(path, json.dumps({"in_progress": True}))
        for n in self._state:
            self._state[n].write.mode("overwrite").parquet(f"{path}/state/{n}")
        for n in self._aux:
            self._aux[n].write.mode("overwrite").parquet(f"{path}/aux/{n}")
        # catalog LAST: a crashed save leaves no catalog (fresh dir) or the
        # in-progress sentinel (existing dir) → load fails loudly rather
        # than reading a torn state
        self._write_catalog(path, json.dumps(catalog))

    def _write_catalog(self, path: str, text: str) -> None:
        """Overwrite ``{path}/catalog`` with one parquet file holding one
        ``catalog_json`` row — the layout :meth:`load` reads.  The row is
        a literal over a one-partition ``range``, so the write is a plain
        JVM job with no Python worker.  The ``CASE WHEN`` keeps the column
        nullable, so the file schema is the ``catalog_json string`` one
        earlier saves were written with (a bare literal writes it
        ``required``)."""
        self.spark.range(0, 1, 1, 1).select(
            F.when(F.col("id") == 0, F.lit(text)).alias("catalog_json")
        ).write.mode("overwrite").parquet(f"{path}/catalog")

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        tables: dict[str, DataFrame | str],
        merge_strategy: str = "auto",
    ) -> "IVMEngine":
        """Rebuild an engine from :meth:`save` output.  ``tables`` maps
        base-table names to DataFrames/paths (the current lakehouse
        state — it must correspond to the world the saved view states
        reflect, i.e. all previously applied deltas folded in).  Aux
        metadata is re-derived from the schemas, not deserialized."""
        import json

        eng = cls(spark, merge_strategy=merge_strategy)
        for t, src in tables.items():
            eng.register_table(t, src)
        row = spark.read.parquet(f"{path}/catalog").collect()[0]
        catalog = json.loads(row["catalog_json"])
        if catalog.get("in_progress"):
            raise IVMError(
                f"save at {path!r} is torn (crashed mid-save over a "
                "previous save): state dirs may mix generations — "
                "re-save from a live engine or restore from a backup"
            )
        # version numbering must survive the round trip: a post-load merge
        # continues from the saved counter instead of reissuing version 0.
        # History SNAPSHOTS are not persisted (only current state is), so
        # old versions are unreadable after load — but keep_history is
        # restored so retention resumes for post-load merges.
        eng._merge_counts.update(
            {n: int(v) for n, v in catalog.get("merge_counts", {}).items()}
        )
        eng.keep_history = int(catalog.get("keep_history", 0))
        from ivm_extension_spark.operators.sketches import SketchSpec

        for n, d in catalog.get("sketches", {}).items():
            spec = SketchSpec.from_dict(d)
            if spec.source not in eng._tables:
                raise IVMError(
                    f"saved sketch view {n!r} references table "
                    f"{spec.source!r}: pass it in tables="
                )
            eng._sketch_specs[n] = spec
        if catalog.get("window_cascades"):
            # pre-r8 format: multi-list window views persisted as a cascade
            # of engine-internal stages.  The fused representation cannot
            # adopt the stage states (their schemas carry intermediate
            # columns) — fail loudly; recreating the view from its SQL is a
            # one-call migration.
            raise IVMError(
                "saved catalog uses the pre-r8 window-cascade format for "
                f"views {sorted(catalog['window_cascades'])}; recreate them "
                "with create_immv (multi-PARTITION-BY window views are now "
                "maintained as one fused view)"
            )
        composites = {
            n: (p[0], p[1]) for n, p in catalog.get("composites", {}).items()
        }
        # composite snapshot tables are DERIVED (inner view's public
        # state) — rebuilt below from the loaded inner states, never
        # passed in tables=
        snap_names = {s for _, s in composites.values()}
        for n, d in catalog["views"].items():
            vdef = ViewDef.from_dict(d)
            for t in vdef.tables:
                if t not in eng._tables and t not in snap_names:
                    raise IVMError(
                        f"saved view {n!r} references table {t!r}: pass it in tables="
                    )
            eng._views[n] = vdef
            eng._iviews[n] = merge_ops.internal_view(vdef)
        for n, bs in catalog["union_branches"].items():
            branches = [ViewDef.from_dict(b) for b in bs]
            eng._union_branches[n] = branches
            eng._iviews[n] = branches[0]
        for n in catalog["materialized"]:
            eng._state[n] = spark.read.parquet(f"{path}/state/{n}")
            if n in catalog.get("state_rows", {}):
                eng._state_rows[n] = int(catalog["state_rows"][n])
        for n in catalog["aux"]:
            eng._aux[n] = spark.read.parquet(f"{path}/aux/{n}")
            eng._aux_rows[n] = int(catalog["aux_rows"][n])
            eng._aux_meta[n] = auxstate.agg_meta(eng._views[n], eng.table)
        for n in catalog["views"]:
            if n not in eng._aux_meta:
                eng._aux_meta[n] = {}
        for n, (inner, snap) in composites.items():
            eng._composites[n] = (inner, snap)
            eng._tables[snap] = merge_ops.finalize(
                eng._state[inner], eng._views[inner]
            )
        return eng

    def maintain(self, name: str) -> DataFrame:
        """Advance view ``name`` through ALL registered deltas and return
        the new public view — upsert + merge + apply in one call, the
        engine's "process this batch" verb.

        This is ivm_upsert → merge_view → apply_delta per table for every
        shape the delta rules cover — including multi-table delta batches
        on outer/semi/anti chains, which the rewrite folds in one ΔV
        (operators/rewrite.py, ``_fold_joins``).

        Note this CONSUMES the deltas (bases advance, delta registrations
        clear), unlike ivm_upsert/merge_view which leave the base world
        untouched.  At lakehouse scale each apply_delta step is the
        storage layer's MERGE INTO on the base table.
        """
        if name in self._sketch_specs:
            src = self._sketch_specs[name].source
            self.ivm_upsert(name)  # missing-delta error surfaces here
            out = self.merge_view(name)
            self.apply_delta(src)
            return out
        vdef = self.view(name)
        # a UNION ALL view's registered ViewDef is only its first
        # branch — consult every branch (like maintain_all/drop_table)
        # or a branch-2-only delta raises a bogus missing-delta error
        # and a consumed branch-2 delta stays registered, DOUBLE-
        # applying on the next maintain
        if name in self._composites:
            # the user-facing base tables of a composite window view are
            # the INNER join view's (its snapshot delta is derived, and
            # consumed by the merge epilogue — never user-applied)
            vtabs = dict.fromkeys(
                self._views[self._composites[name][0]].tables
            )
        else:
            vtabs = dict.fromkeys(
                t
                for b in self._union_branches.get(name, [vdef])
                for t in b.tables
            )
        tabs = [t for t in vtabs if t in self._deltas]
        if not tabs:
            self.delta(next(iter(vtabs)))  # reference-style missing-delta error
        self.ivm_upsert(name)
        out = self.merge_view(name)
        # the per-table base folds are independent eager checkpoints over
        # DISTINCT engine keys — drive them concurrently, the same
        # thread-per-unit submission as merge_views (engine bookkeeping
        # is per-name keyed; Spark's scheduler is thread-safe)
        pin.build_all(*[lambda t=t: self.apply_delta(t) for t in tabs])
        return out


def merge(state: DataFrame, delta_v: DataFrame, view: ViewDef) -> DataFrame:
    return merge_ops.merge(state, delta_v, view)
