"""The three maintenance drives and what they record.

- ``agg_trickle``: closed loop, one client.  Small batches (about 0.1%
  of each base) go through ``maintain_all`` into a catalog of aggregate
  views; every view is read after each batch.
- ``join_bulk``: closed loop, one client.  Larger batches (about 5%)
  with deltas on both sides go through ``maintain(name)`` into join
  views, one engine per view (``maintain`` folds the delta into its
  engine's base, so views cannot share one).  Every view is then
  ``full_refresh``ed.
- ``stream_cdc``: open loop.  A generator thread lands CDC parquet files
  at a fixed rate; one ``StreamingViewMaintainer`` per view reads the
  directory, each with its own engine and ``state_dir`` snapshots.

Each drive fills a ``Record``: latency samples, failures and the
correctness gate, which compares every view with a recompute in plain
Spark SQL over the true final tables.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from data import MULT, World
from tracing import Tracer

INF = math.inf
# customer, orders and lineitem at this share of their sf0.1 row counts
SCALE = 0.1


@dataclass
class Record:
    """What one run measured.  Latency lists hold seconds, ``INF`` for a
    failed operation."""

    setup_s: float = 0.0
    batch_s: list[float] = field(default_factory=list)
    batch_traced: list[bool] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    refresh_s: list[float] = field(default_factory=list)
    fresh_s: list[float] = field(default_factory=list)
    delta_rows: int = 0
    maint_s: float = 0.0
    horizon_s: float = 0.0  # wall time of the measured phase
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    gate: dict[str, bool] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)  # wall s per phase

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(what)


def _why(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e)[:200]}"


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    seconds: float
    nproc: int
    workdir: str
    tracer: Tracer | None
    rec: Record = field(default_factory=Record)

    def span(self, name: str, view: str | None = None):
        """A tracer span when this stretch is traced, else a no-op."""
        if self.tracer is not None and self.tracer.on:
            return self.tracer.span(name, view=view)
        return contextlib.nullcontext()


# -- engine instrumentation ------------------------------------------------


def commit_clock(eng, stamps: dict[str, float]) -> None:
    """Record when each view's merge returns (its new state is visible):
    the end point of a freshness sample.  No py4j call, so it is the same
    in traced and untraced runs."""
    orig = eng.merge_view

    def merge_view(name, *a, **kw):
        out = orig(name, *a, **kw)
        stamps[name] = time.perf_counter()
        return out

    eng.merge_view = merge_view


def trace_engine(tr: Tracer, eng) -> None:
    """Spans on one engine instance's public verbs and construction calls."""

    def merge_stats(sp, _out, args):
        st = eng.stats(args[0])
        sp.attrs["strategy"] = st.get("last_merge_strategy")
        sp.attrs["state_rows"] = st.get("state_rows")
        sp.attrs["aux_rows"] = st.get("aux_rows")

    tr.wrap(eng, "create_immv", "engine.create")
    tr.wrap(eng, "maintain", "engine.maintain")
    tr.wrap(eng, "maintain_all", "engine.maintain", view_arg=False)
    tr.wrap(eng, "_delta_plan_for", "rewrite.upsert")
    tr.wrap(eng, "merge_view", "merge", after=merge_stats)
    tr.wrap(eng, "apply_delta", "engine.apply_delta")
    tr.wrap(eng, "full_refresh", "engine.refresh")
    tr.wrap(eng, "save", "engine.save", view_arg=False)


def trace_store(tr: Tracer, store) -> None:
    """Spans on ``LakehouseStore.commit`` with the bytes and files written."""

    def written(sp, _out, args):
        view = args[0]
        m = store.manifest(view)
        vdir = os.path.join(store.root, view, "files", f"v{m['version']:06d}")
        n_bytes = n_files = 0
        for d, _, files in os.walk(vdir):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(d, f))
        sp.attrs["bytes"] = n_bytes
        sp.attrs["files"] = n_files

    tr.wrap(store, "commit", "store.commit", after=written)


# -- shared steps ----------------------------------------------------------


def pct(xs: list[float], q: float, horizon: float) -> float:
    """Percentile ``q`` (0..1, linear interpolation) where a failed sample
    (INF) ranks above every finite one and reads as ``horizon``, which no
    finite sample exceeds."""
    if not xs:
        return horizon
    ys = sorted(horizon if x == INF else x for x in xs)
    pos = q * (len(ys) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(ys) - 1)
    return ys[lo] + (ys[hi] - ys[lo]) * (pos - lo)


def read(eng, name: str, lookup: str | None) -> None:
    """One reader access: a key lookup on a large view, else a full collect."""
    df = eng.read_view(name)
    if lookup is not None:
        df = df.filter(lookup)
    df.collect()


def timed_read(ctx: Ctx, eng, views: dict[str, str | None]) -> None:
    """One reader sample: each view of ``views`` read once (``views`` maps
    a view to its key lookup, or None for a full collect)."""
    t0 = time.perf_counter()
    failed = False
    for name, lookup in views.items():
        try:
            with ctx.span("engine.read", view=name):
                read(eng, name, lookup)
        except Exception as e:  # a failed read is a measured outcome
            failed = True
            ctx.rec.fail(f"read {name}: {_why(e)}")
            continue
        ctx.rec.ok()
    ctx.rec.read_s.append(INF if failed else time.perf_counter() - t0)


REFRESH_ROUNDS = 3


def refresh_all(ctx: Ctx, pairs: list[tuple[object, str]]) -> None:
    """``full_refresh`` every view, ``REFRESH_ROUNDS`` times over the same
    final base.  One sample is one round: the recompute of the whole
    catalog, the work a batch would otherwise maintain.  (Per-view samples
    mix views of different cost, and their median jumps between them.)
    A first, unrecorded and untraced round warms the refresh plans, which
    no earlier step runs."""
    t0 = time.perf_counter()
    if ctx.tracer is not None:
        ctx.tracer.on = False
    for eng, name in pairs:
        with contextlib.suppress(Exception):  # a failure repeats, and counts, below
            eng.full_refresh(name)
    if ctx.tracer is not None:
        ctx.tracer.on = True
    for _ in range(REFRESH_ROUNDS):
        t1 = time.perf_counter()
        failed = False
        for eng, name in pairs:
            try:
                eng.full_refresh(name)
            except Exception as e:
                failed = True
                ctx.rec.fail(f"refresh {name}: {_why(e)}")
                continue
            ctx.rec.ok()
        ctx.rec.refresh_s.append(INF if failed else time.perf_counter() - t1)
    ctx.rec.phases["refresh"] = time.perf_counter() - t0


def _fingerprint(df: DataFrame, cols: list[str]) -> tuple:
    """(rows, sum of h1, sum of h2) over per-row hashes of the row's JSON
    form, doubles rounded to 6 places.  Sums are order-insensitive, and
    JSON keeps NULLs apart from absent values, so equal fingerprints mean
    equal multisets up to a 2^-64-scale hash collision.  One job, no
    shuffle of rows."""
    norm = []
    for f in df.select(*cols).schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        norm.append(c.alias(f.name))
    j = F.to_json(F.struct(*norm))
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(j).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64(j, F.lit("perfbench")).cast("decimal(38,0)")).alias("h2"),
    ).first()
    return (row["n"], row["h1"], row["h2"])


def same_multiset(got: DataFrame, want: DataFrame) -> bool:
    """Order-insensitive multiset equality of two relations."""
    cols = want.columns
    if sorted(got.columns) != sorted(cols):
        return False
    return _fingerprint(got, cols) == _fingerprint(want, cols)


def gate(ctx: Ctx, world: World, views: dict[str, tuple[object, str, tuple[str, ...]]]) -> None:
    """Every view's ``read_view`` must equal its SQL recomputed over the
    true final tables.  A mismatch or error is a failure, reported by name."""
    spark = ctx.spark
    t0 = time.perf_counter()
    for t in {t for _, _, ts in views.values() for t in ts}:
        world.current(t).localCheckpoint(eager=True).createOrReplaceTempView(t)
    for name, (eng, sql, _) in views.items():
        try:
            ok = same_multiset(eng.read_view(name), spark.sql(sql))
        except Exception as e:
            ctx.rec.gate[name] = False
            ctx.rec.fail(f"gate {name}: {_why(e)}")
            continue
        ctx.rec.gate[name] = ok
        if ok:
            ctx.rec.ok()
        else:
            ctx.rec.fail(f"gate {name}: view differs from recompute")
    ctx.rec.phases["gate"] = time.perf_counter() - t0


def _build(ctx: Ctx, groups, bases, make_engine, traced: bool) -> dict:
    """Fresh engines with every view created: {view: engine}.  ``groups``
    maps an engine name to the {view: (sql, tables)} it holds."""
    out = {}
    for group, members in groups.items():
        eng = make_engine(group)
        if traced:
            trace_engine(ctx.tracer, eng)
        for t in dict.fromkeys(t for _, ts in members.values() for t in ts):
            eng.register_table(t, bases[t])
        for name, (sql, _) in members.items():
            eng.create_immv(name, sql=sql)
            out[name] = eng
    return out


def set_up(ctx: Ctx, world: World, groups, make_engine, repeats: int) -> tuple[dict, float]:
    """Generate and pin the base tables, then build the engines and views
    ``repeats`` times and keep the last build.  Returns (engines, seconds):
    generation plus the median build."""
    t0 = time.perf_counter()
    bases = {
        t: world.base(t, ctx.nproc).localCheckpoint(eager=True) for t in world.specs
    }
    gen_s = time.perf_counter() - t0
    builds = []
    for i in range(repeats):
        t1 = time.perf_counter()
        engines = _build(
            ctx, groups, bases, make_engine,
            traced=ctx.tracer is not None and i == repeats - 1,
        )
        builds.append(time.perf_counter() - t1)
    return engines, gen_s + statistics.median(builds)


# -- agg_trickle -------------------------------------------------------------

AGG_VIEWS = {
    "supp_rev": (
        "SELECT l_suppkey, sum(l_extendedprice) AS rev, count(*) AS n "
        "FROM lineitem GROUP BY l_suppkey",
        ("lineitem",),
    ),
    "cust_avg": (
        "SELECT o_custkey, avg(o_totalprice) AS avg_price, count(*) AS n "
        "FROM orders GROUP BY o_custkey",
        ("orders",),
    ),
    "seg_rev": (
        "SELECT c_mktsegment, o_orderstatus, sum(l_extendedprice) AS rev, "
        "count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment, o_orderstatus",
        ("lineitem", "orders", "customer"),
    ),
    "flag_range": (
        "SELECT l_returnflag, l_linestatus, min(l_extendedprice) AS lo, "
        "max(l_extendedprice) AS hi, count(DISTINCT l_partkey) AS parts "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        ("lineitem",),
    ),
}
# changes (one delete + one insert each) per batch: about 0.1% of each base
AGG_CHANGES = {"lineitem": 30, "orders": 8, "customer": 1}
AGG_WARMUP = 2
# views whose state outgrows a full collect are read by key
AGG_LOOKUP = {"cust_avg": "o_custkey = {k}"}


def agg_trickle(ctx: Ctx) -> None:
    rec = ctx.rec
    tables = ("lineitem", "orders", "customer")
    world = World(ctx.spark, ctx.seed, tables, SCALE)
    from ivm_extension_spark import IVMEngine

    engines, build_s = set_up(
        ctx, world, {"catalog": AGG_VIEWS}, lambda _g: IVMEngine(ctx.spark), repeats=3
    )
    eng = engines["supp_rev"]
    stamps: dict[str, float] = {}
    commit_clock(eng, stamps)
    n_cust = world.specs["customer"].rows

    def batch(b: int, measured: bool) -> None:
        deltas = {t: world.delta(t, k) for t, k in AGG_CHANGES.items()}
        # a traced run traces every other measured batch, the first included
        traced = ctx.tracer is not None and measured and (b - AGG_WARMUP) % 2 == 0
        if ctx.tracer is not None:
            ctx.tracer.on = traced
            ctx.tracer.batch = b
        t0 = time.perf_counter()
        try:
            with ctx.span("batch") as sp:
                if sp is not None:
                    ctx.tracer.batch_span = sp.id
                for t, (df, _) in deltas.items():
                    eng.register_delta(t, df)
                eng.maintain_all()
            dt = time.perf_counter() - t0
            err = None
        except Exception as e:
            dt, err = INF, e
        if ctx.tracer is not None:
            ctx.tracer.batch_span = None
        lookups = {v: None for v in AGG_VIEWS}
        for v, look in AGG_LOOKUP.items():
            lookups[v] = look.format(k=world.rng.randrange(n_cust) + 1)
        if not measured:
            if err is not None:
                raise err
            for v in AGG_VIEWS:  # warm the read path as well
                read(eng, v, lookups[v])
            return
        rows = sum(n for _, n in deltas.values())
        rec.batch_s.append(dt)
        rec.batch_traced.append(traced)
        if err is None:
            rec.ok()
            rec.delta_rows += rows
            rec.maint_s += dt
            for v in AGG_VIEWS:
                rec.fresh_s.append(stamps[v] - t0)
        else:
            rec.fail(f"batch {b}: {_why(err)}")
            rec.fresh_s.extend([INF] * len(AGG_VIEWS))
        # one sample reads the whole catalog: per-view samples mix views
        # of different cost, and their median jumps between them
        timed_read(ctx, eng, lookups)

    t_w = time.perf_counter()
    for b in range(AGG_WARMUP):
        batch(b, measured=False)
    rec.setup_s = build_s + (time.perf_counter() - t_w)
    t_start = time.perf_counter()
    b = AGG_WARMUP
    while time.perf_counter() - t_start < ctx.seconds:
        batch(b, measured=True)
        b += 1
    rec.horizon_s = time.perf_counter() - t_start
    rec.phases.update(setup=rec.setup_s, warmup=t_start - t_w, measured=rec.horizon_s)
    if ctx.tracer is not None:
        ctx.tracer.on = True
        ctx.tracer.batch = None
    gate(ctx, world, {v: (eng, sql, ts) for v, (sql, ts) in AGG_VIEWS.items()})
    refresh_all(ctx, [(eng, v) for v in AGG_VIEWS])


# -- join_bulk ---------------------------------------------------------------

JOIN_VIEWS = {
    "oc_left": (
        "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment "
        "FROM orders LEFT JOIN customer ON o_custkey = c_custkey",
        ("orders", "customer"),
    ),
    "co_full": (
        "SELECT c_custkey, c_name, o_orderkey, o_totalprice "
        "FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey",
        ("orders", "customer"),
    ),
    "c_anti": (
        "SELECT c_mktsegment, count(*) AS n_cust FROM customer "
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_totalprice > 400000) GROUP BY c_mktsegment",
        ("orders", "customer"),
    ),
    "op_theta": (
        "SELECT o_orderkey, o_totalprice, p_id FROM orders "
        "JOIN promos ON o_totalprice < p_cutoff",
        ("orders", "promos"),
    ),
    "ob_band": (
        "SELECT o_orderkey, o_totalprice, b_id FROM orders "
        "JOIN bands ON o_totalprice >= b_lo AND o_totalprice <= b_hi",
        ("orders", "bands"),
    ),
    "lx_fine": (
        "SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty, count(*) AS n "
        "FROM lineitem_x GROUP BY l_orderkey, l_linenumber",
        ("lineitem_x",),
    ),
}
JOIN_FRAC = 0.025  # changes per batch: 2.5% deletes + 2.5% inserts = 5% rows
JOIN_WARMUP = 1
JOIN_LOOKUP = {
    "oc_left": "o_orderkey = {k}",
    "co_full": "o_orderkey = {k}",
    "op_theta": "o_orderkey = {k}",
    "ob_band": "o_orderkey = {k}",
    "lx_fine": "l_orderkey = {k}",
}


def join_bulk(ctx: Ctx) -> None:
    rec = ctx.rec
    tables = ("orders", "customer", "promos", "bands", "lineitem_x")
    world = World(ctx.spark, ctx.seed, tables, SCALE)
    from ivm_extension_spark import IVMEngine

    engines, build_s = set_up(
        ctx,
        world,
        {v: {v: spec} for v, spec in JOIN_VIEWS.items()},
        lambda _g: IVMEngine(ctx.spark),
        repeats=1,  # its creates pay the theta routing probes
    )
    stamps: dict[str, float] = {}
    for v in JOIN_VIEWS:
        commit_clock(engines[v], stamps)
    n_ord = world.specs["orders"].rows

    def batch(b: int, measured: bool) -> None:
        deltas = {
            t: world.delta(t, max(1, int(world.specs[t].rows * JOIN_FRAC)))
            for t in tables
        }
        # pinned once, outside the timed samples, so every view's engine
        # reads the same materialized delta rows
        deltas = {t: (df.localCheckpoint(eager=True), n) for t, (df, n) in deltas.items()}
        traced = ctx.tracer is not None and measured and (b - JOIN_WARMUP) % 2 == 0
        if ctx.tracer is not None:
            ctx.tracer.on = traced
            ctx.tracer.batch = b
        for v, (_, ts) in JOIN_VIEWS.items():
            eng = engines[v]
            t0 = time.perf_counter()
            try:
                with ctx.span("batch", view=v) as sp:
                    if sp is not None:
                        ctx.tracer.batch_span = sp.id
                    for t in ts:
                        eng.register_delta(t, deltas[t][0])
                    eng.maintain(v)
                dt, err = time.perf_counter() - t0, None
            except Exception as e:
                dt, err = INF, e
            if ctx.tracer is not None:
                ctx.tracer.batch_span = None
            look = JOIN_LOOKUP.get(v)
            look = look.format(k=world.rng.randrange(n_ord) + 1) if look else None
            if not measured:
                if err is not None:
                    raise err
                read(eng, v, look)  # warm the read path as well
                continue
            rec.batch_s.append(dt)
            rec.batch_traced.append(traced)
            if err is None:
                rec.ok()
                rec.delta_rows += sum(deltas[t][1] for t in ts)
                rec.maint_s += dt
                rec.fresh_s.append(stamps[v] - t0)
            else:
                rec.fail(f"batch {b} {v}: {_why(err)}")
                rec.fresh_s.append(INF)
            timed_read(ctx, eng, {v: look})

    t_w = time.perf_counter()
    for b in range(JOIN_WARMUP):
        batch(b, measured=False)
    rec.setup_s = build_s + (time.perf_counter() - t_w)
    t_start = time.perf_counter()
    b = JOIN_WARMUP
    while time.perf_counter() - t_start < ctx.seconds:
        batch(b, measured=True)
        b += 1
    rec.horizon_s = time.perf_counter() - t_start
    rec.phases.update(setup=rec.setup_s, warmup=t_start - t_w, measured=rec.horizon_s)
    if ctx.tracer is not None:
        ctx.tracer.on = True
        ctx.tracer.batch = None
    gate(ctx, world, {v: (engines[v], sql, ts) for v, (sql, ts) in JOIN_VIEWS.items()})
    refresh_all(ctx, [(engines[v], v) for v in JOIN_VIEWS])


# -- stream_cdc ---------------------------------------------------------------

STREAM_VIEWS = {
    "status_rev": (
        "SELECT o_orderstatus, o_orderpriority, sum(o_totalprice) AS rev, "
        "count(*) AS n FROM orders GROUP BY o_orderstatus, o_orderpriority",
        ("orders",),
    ),
    "seg_rev": (
        "SELECT c_mktsegment, sum(o_totalprice) AS rev, count(*) AS n "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
        ("orders", "customer"),
    ),
}
STREAM_STORE_VIEW = "status_rev"  # its engine keeps state in a LakehouseStore
STREAM_RATE = 2.0  # CDC files per second
STREAM_CHANGES = 40  # changes per file (40 deletes + 40 inserts)
STREAM_WARMUP_FILES = 2
STREAM_DRAIN_S = 30.0
STREAM_READ_EVERY_S = 0.5


def _cdc_files(world: World, n_files: int) -> list[tuple[object, int, list[int], list[bool]]]:
    """Precomputed CDC files as Arrow tables: [(table, rows, ids, mults)]."""
    draws = [world.draw("orders", STREAM_CHANGES) for _ in range(n_files)]
    flat = [(f, i, m) for f, (ids, ms) in enumerate(draws) for i, m in zip(ids, ms)]
    spec = world.specs["orders"]
    df = world.spark.createDataFrame(flat, f"__f int, id bigint, {MULT} boolean")
    tbl = df.selectExpr("__f", *spec.exprs(), MULT).toArrow()
    import pyarrow.compute as pc

    out = []
    for f, (ids, ms) in enumerate(draws):
        part = tbl.filter(pc.equal(tbl["__f"], f)).drop_columns(["__f"])
        out.append((part, part.num_rows, ids, ms))
    return out


def stream_cdc(ctx: Ctx) -> None:
    import pyarrow.parquet as pq

    from ivm_extension_spark import IVMEngine
    from ivm_extension_spark.sources.lakehouse import LakehouseStore
    from ivm_extension_spark.streaming import StreamingViewMaintainer

    rec, spark, tr = ctx.rec, ctx.spark, ctx.tracer
    tables = ("orders", "customer")
    world = World(spark, ctx.seed, tables, SCALE)
    root = os.path.join(ctx.workdir, "stream")
    n_stores = itertools.count()

    def make_engine(group: str) -> IVMEngine:
        if group != STREAM_STORE_VIEW:
            return IVMEngine(spark)
        store = LakehouseStore(spark, os.path.join(root, f"store-{next(n_stores)}"))
        return IVMEngine(spark, state_store=store)

    engines, build_s = set_up(
        ctx, world, {v: {v: spec} for v, spec in STREAM_VIEWS.items()}, make_engine, repeats=3
    )
    if tr is not None:
        trace_store(tr, engines[STREAM_STORE_VIEW]._state_store)

    t_setup = time.perf_counter()
    n_measured = int(math.ceil(STREAM_RATE * ctx.seconds))
    n_files = STREAM_WARMUP_FILES + n_measured
    before = world.snapshot()
    files = _cdc_files(world, n_files)
    # the world replays only the files that land (see below)
    world.restore(before)
    cdc_dir = os.path.join(root, "cdc")
    os.makedirs(cdc_dir, exist_ok=True)
    schema = world.rows_of("orders", [], []).schema

    landed: dict[int, float] = {}  # file -> due time (perf_counter)
    late: list[float] = []
    absorbed: dict[str, dict[int, float]] = {v: {} for v in STREAM_VIEWS}
    batch_samples: list[tuple[str, float, bool, int]] = []  # view, s, traced, rows
    errors: dict[str, str] = {}
    lock = threading.Lock()

    def land(i: int, due: float) -> None:
        tbl = files[i][0]
        tmp = os.path.join(cdc_dir, f".cdc-{i:06d}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(cdc_dir, f"cdc-{i:06d}.parquet"))
        now = time.perf_counter()
        with lock:
            landed[i] = due
            late.append(max(0.0, now - due))

    def batch_files(ckpt: str, batch_id: int) -> list[int]:
        """CDC file numbers of one micro-batch, from the file source's
        metadata log in the query checkpoint (plain file reads: no py4j
        call, no Spark job).  Every tenth entry is a compacted log."""
        log = os.path.join(ckpt, "sources", "0", str(batch_id))
        if not os.path.exists(log):
            log += ".compact"
        out = []
        with open(log) as f:
            for line in f:
                if not line.startswith("{"):
                    continue  # the version header
                e = json.loads(line)
                name = os.path.basename(e["path"])
                if e.get("batchId") == batch_id and name.startswith("cdc-"):
                    out.append(int(name[4:10]))
        return out

    def hook(view: str, m, ckpt: str) -> None:
        orig = m._process_batch

        def process(batch_df, batch_id):
            ids = batch_files(ckpt, batch_id)
            traced = tr is not None and tr.on
            t0 = time.perf_counter()
            try:
                if traced:
                    with tr.span("stream.batch", view=view, layer="batch") as sp:
                        sp.attrs["batch_id"] = batch_id
                        orig(batch_df, batch_id)
                else:
                    orig(batch_df, batch_id)
            except Exception as e:
                with lock:
                    errors[view] = _why(e)
                    batch_samples.append((view, INF, traced, 0))
                raise
            t1 = time.perf_counter()
            with lock:
                for i in ids:
                    absorbed[view][i] = t1
                if ids:
                    rows = sum(files[i][1] for i in ids)
                    batch_samples.append((view, t1 - t0, traced, rows))

        m._process_batch = process

    queries = {}
    try:
        for v in STREAM_VIEWS:
            m = StreamingViewMaintainer(
                engines[v], v, "orders", state_dir=os.path.join(root, f"state-{v}")
            )
            ckpt = os.path.join(root, f"ckpt-{v}")
            hook(v, m, ckpt)
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1000)
                .parquet(cdc_dir)
            )
            queries[v] = m.start(stream, ckpt, trigger_available_now=False)

        def all_absorbed(upto: int, deadline: float) -> None:
            while time.perf_counter() < deadline:
                with lock:
                    done = all(
                        v in errors or all(i in absorbed[v] for i in range(upto))
                        for v in STREAM_VIEWS
                    )
                if done or any(not q.isActive for q in queries.values()):
                    return
                time.sleep(0.05)

        # warm-up: the first files pay JIT and codegen for every view
        if tr is not None:
            tr.on = False
        for i in range(STREAM_WARMUP_FILES):
            land(i, time.perf_counter())
            all_absorbed(i + 1, time.perf_counter() + STREAM_DRAIN_S)
        if errors:
            raise RuntimeError(f"stream warm-up failed: {errors}")
        for v in STREAM_VIEWS:  # warm the read path as well
            read(engines[v], v, None)
        with lock:
            batch_samples.clear()
            late.clear()
        rec.setup_s = build_s + (time.perf_counter() - t_setup)

        # measured phase: files land on schedule; the main thread reads views
        stop = threading.Event()
        t_start = time.perf_counter()
        period = 1.0 / STREAM_RATE
        gen_err: list[BaseException] = []

        def generate() -> None:
            try:
                for j in range(n_measured):
                    due = t_start + j * period
                    wait = due - time.perf_counter()
                    if wait > 0 and stop.wait(wait):
                        return
                    land(STREAM_WARMUP_FILES + j, due)
            except BaseException as e:  # reported by the main thread
                gen_err.append(e)

        gen = threading.Thread(target=generate, name="cdc-generator", daemon=True)
        gen.start()
        backlog_peak = 0
        views = list(STREAM_VIEWS)
        k = 0
        try:
            while gen.is_alive():
                if tr is not None:
                    tr.on = int((time.perf_counter() - t_start) / 2.0) % 2 == 1
                v = views[k % len(views)]
                k += 1
                timed_read(ctx, engines[v], {v: None})
                with lock:
                    n_land = len(landed)
                    backlog = max(n_land - len(absorbed[w]) for w in views)
                backlog_peak = max(backlog_peak, backlog)
                time.sleep(STREAM_READ_EVERY_S)
        finally:
            stop.set()
            gen.join(timeout=30)
        if gen_err:
            raise gen_err[0]
        if tr is not None:
            tr.on = True
        all_absorbed(
            STREAM_WARMUP_FILES + n_measured, time.perf_counter() + STREAM_DRAIN_S
        )
        rec.horizon_s = time.perf_counter() - t_start
        rec.phases.update(setup=rec.setup_s, measured=rec.horizon_s)
    finally:
        for q in queries.values():
            try:
                q.stop()
            except Exception:  # an already failed query has nothing to stop
                pass
    for v, q in queries.items():
        exc = q.exception()
        if exc is not None and v not in errors:
            errors[v] = str(exc)[:200]

    # samples: one per (view, measured file), from its due time to the
    # commit of the micro-batch that carried it
    measured = range(STREAM_WARMUP_FILES, STREAM_WARMUP_FILES + n_measured)
    for v in STREAM_VIEWS:
        for i in measured:
            t_commit = absorbed[v].get(i)
            if t_commit is None:
                rec.fresh_s.append(INF)
                rec.fail(f"{v} never absorbed cdc-{i:06d}")
            else:
                rec.fresh_s.append(t_commit - landed[i])
                rec.ok()
    for v, msg in errors.items():
        rec.fail(f"stream {v}: {msg}")
    for _, dt, traced, rows in batch_samples:
        rec.batch_s.append(dt)
        rec.batch_traced.append(traced)
        if dt != INF:
            rec.delta_rows += rows
            rec.maint_s += dt

    # the true final table: the initial rows plus every file that landed
    for i in sorted(landed):
        world.replay("orders", files[i][2], files[i][3])
    gate(ctx, world, {v: (engines[v], sql, ts) for v, (sql, ts) in STREAM_VIEWS.items()})
    refresh_all(ctx, [(engines[v], v) for v in STREAM_VIEWS])

    if tr is not None:
        progress = []
        with tr.disarmed():
            for q in queries.values():
                progress.extend(q.recentProgress)
        trig = [
            p["durationMs"].get("triggerExecution", 0) / 1000.0
            for p in progress
            if p.get("numInputRows", 0) > 0
        ]
        rec.layer["stream.trigger.s"] = statistics.median(trig) if trig else 0.0
        rec.layer["stream.batches"] = float(len(batch_samples))
        rec.layer["stream.backlog_files"] = float(backlog_peak)
        rec.layer["stream.gen_late_s"] = max(late) if late else 0.0
    shutil.rmtree(root, ignore_errors=True)


WORKLOADS = {"agg_trickle": agg_trickle, "join_bulk": join_bulk, "stream_cdc": stream_cdc}
