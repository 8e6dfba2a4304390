"""Dump the ``.explain("formatted")`` plans of the state-side steps of a
batch: the view merge, the aux-state advance and the base fold.

Each plan is the one the engine checkpoints: the tool wraps
``DataFrame.localCheckpoint`` and keeps the last frame checkpointed by
``IVMEngine.merge_view`` (the merged state), ``_advance_aux`` (the
advanced aux relation) and ``apply_delta`` (the folded base), so it
dumps the same steps on any tree.  Keys:

- ``fold_base``: ``apply_delta`` of lineitem;
- ``merge_{grouped,bag,minmax}_{shuffle,patch}``: a SUM/COUNT view, a
  projection view and the MIN/MAX/COUNT(DISTINCT) view below, each
  merged on both paths;
- ``aux_advance_{split,full}``: the aux advance of that MIN/MAX view
  under a narrow delta (touched split) and a bulk one (full re-count).

Usage: python scripts/dump_merge_plan.py <outdir> <suffix>
Writes ``<outdir>/<key>_dv_<suffix>.txt``; compare two such directories
with ``python scripts/dump_delta_plan.py --compare A B``.
Data: ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.001).
"""

from __future__ import annotations

import inspect
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

VIEWS = {
    "grouped": "SELECT l_suppkey, sum(l_extendedprice) AS rev, count(*) AS n "
    "FROM lineitem GROUP BY l_suppkey",
    "bag": "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem "
    "WHERE l_quantity > 25",
    "minmax": "SELECT l_returnflag, l_linestatus, min(l_extendedprice) AS lo, "
    "max(l_extendedprice) AS hi, count(DISTINCT l_partkey) AS parts "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus",
}
WATCH = ("merge_view", "_advance_aux", "apply_delta")


def main() -> int:
    from pyspark.sql import SparkSession, functions as F

    from ivm_extension_spark import IVMEngine, engine
    from ivm_extension_spark.operators.rewrite import MULT_COL

    outdir, suffix = Path(sys.argv[1]), sys.argv[2]
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dump-merge-plan")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "2g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    captured: dict[str, str] = {}
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    orig = frame_cls.localCheckpoint

    def spy(self, *a, **kw):
        caller = sys._getframe(1).f_code.co_name
        if caller in WATCH:
            captured[caller] = self._sc._jvm.PythonSQLUtils.explainString(
                self._jdf.queryExecution(), "formatted"
            )
        return orig(self, *a, **kw)

    def write(key: str, caller: str) -> None:
        (outdir / f"{key}_dv_{suffix}.txt").write_text(captured.pop(caller))
        print(f"wrote {outdir / f'{key}_dv_{suffix}.txt'}")

    def batch(views, every: int, patch: bool) -> IVMEngine:
        """One engine over lineitem with ``views``, deleting and
        re-inserting every ``every``-th order's lines."""
        if "merge_strategy" in inspect.signature(IVMEngine).parameters:
            # older trees took the merge path as an engine option
            eng = IVMEngine(spark, merge_strategy="patch" if patch else "auto")
        else:
            engine.PATCH_MIN_STATE_ROWS = 0 if patch else 1_000_000
            eng = IVMEngine(spark)
        eng.register_table("lineitem", f"{sf_dir}/lineitem.parquet")
        for v in views:
            eng.create_immv(v, sql=VIEWS[v])
        eng.register_delta(
            "lineitem",
            eng.table("lineitem")
            .filter(F.expr(f"l_orderkey % {every} = 0"))
            .withColumn(MULT_COL, F.expr("l_linenumber % 2 = 0")),
        )
        return eng

    frame_cls.localCheckpoint = spy
    try:
        eng = batch(VIEWS, every=97, patch=False)
        for v in VIEWS:
            eng.merge_view(v)
            write(f"merge_{v}_shuffle", "merge_view")
            if v == "minmax":
                write("aux_advance_split", "_advance_aux")
        eng.apply_delta("lineitem")
        write("fold_base", "apply_delta")
        eng = batch(["minmax"], every=2, patch=False)
        eng.merge_view("minmax")
        write("aux_advance_full", "_advance_aux")
        eng = batch(VIEWS, every=97, patch=True)
        for v in VIEWS:
            eng.merge_view(v)
            write(f"merge_{v}_patch", "merge_view")
    finally:
        frame_cls.localCheckpoint = orig
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
