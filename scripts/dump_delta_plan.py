"""Dump the PRE-PIN ΔV ``.explain("formatted")`` of a lifecycle key.

The per-key ``*_after.txt`` dumps of a merged lifecycle show only the
pinned result (`Scan ExistingRDD`), which proves nothing about the
delta rule's join tree.  This tool intercepts ``IVMEngine.ivm_upsert``
while the DECLARED query runs and dumps the ΔV plan the rule actually
built (the LAST upsert of the run — steady state for multi-batch
drives).  Same normalization caveats as dump_plan.py: exprIds and RDD
ids differ run to run; compare shape-normalized.  Diagnostic only.

``--compare A B`` reduces two dumps (files, or two directories of
``<key>_dv_<suffix>.txt`` dumps paired by key) to their operator trees
and exits non-zero on any difference.  The reduction keeps each node's
name, join kind, build side and depth; it drops node ids, ``#n``
exprIds, RDD ids, ``Statistics(...)``, codegen markers and expression
text.  An AQE dump is reduced to its Final Plan — the tree that
executed; the Initial Plan is the pre-statistics guess AQE replaced.

Usage: python scripts/dump_delta_plan.py <outdir> <suffix> <key> [key ...]
       python scripts/dump_delta_plan.py --compare A B
"""

from __future__ import annotations

import difflib
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_NODE_RX = re.compile(r"^([\s:|+-]*?)(?:\* )?([A-Za-z].*?)\s*\(\d+\)(?:,.*)?$")


def operator_tree(text: str) -> list[str]:
    """One indented ``node`` line per operator of a formatted physical
    plan's tree."""
    lines = text.split("\n\n", 1)[0].splitlines()
    if any("== Final Plan ==" in ln for ln in lines):
        start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln)
        end = next(
            (i for i, ln in enumerate(lines) if "== Initial Plan ==" in ln),
            len(lines),
        )
        lines = lines[start + 1 : end]
    tree = []
    for ln in lines:
        m = _NODE_RX.match(ln)
        if m:
            node = re.sub(r"#\d+|\[\d+\]", "", m.group(2)).strip()
            tree.append((len(m.group(1)) // 3, node))
    base = min((d for d, _ in tree), default=0)
    return ["  " * (d - base) + n for d, n in tree]


def _pairs(a: Path, b: Path) -> list[tuple[str, Path, Path]]:
    if a.is_file() and b.is_file():
        return [(a.name, a, b)]

    def by_key(d: Path) -> dict[str, Path]:
        return {f.name.rsplit("_dv_", 1)[0]: f for f in sorted(d.glob("*_dv_*.txt"))}

    ka, kb = by_key(a), by_key(b)
    missing = sorted(set(ka) ^ set(kb))
    if missing:
        raise SystemExit(f"keys present on one side only: {missing}")
    return [(k, ka[k], kb[k]) for k in sorted(ka)]


def compare(a: Path, b: Path) -> int:
    """Print one verdict per key; non-zero exit on any difference."""
    bad = 0
    for key, fa, fb in _pairs(a, b):
        ta, tb = operator_tree(fa.read_text()), operator_tree(fb.read_text())
        if ta == tb:
            print(f"identical  {key}: {len(ta)} nodes")
            continue
        bad += 1
        print(f"DIFFERENT  {key}: {len(ta)} vs {len(tb)} nodes")
        for ln in difflib.unified_diff(ta, tb, str(fa), str(fb), lineterm="", n=1):
            print(f"  {ln}")
    return 1 if bad else 0


def main() -> int:
    if sys.argv[1:2] == ["--compare"] and len(sys.argv) == 4:
        return compare(Path(sys.argv[2]), Path(sys.argv[3]))
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from ivm_extension_spark import engine as engmod

    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    keys = sys.argv[3:]
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dump-delta-plan")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    captured: dict = {}
    orig = engmod.IVMEngine.ivm_upsert

    def spy(self, name):
        dv = orig(self, name)
        captured["dv"] = dv
        return dv

    engmod.IVMEngine.ivm_upsert = spy

    # keys that drive an operator-level rule directly (no engine
    # upsert): spy every public *_delta function of the rule modules —
    # the OUTERMOST rule returns last, so the final capture is its ΔV
    from ivm_extension_spark.operators import (
        asof as _asof,
        ineqjoin as _ineq,
        rangejoin as _range,
        thetajoin as _theta,
        windowcdc as _wcdc,
    )

    undo = []
    for mod in (_theta, _ineq, _range, _asof, _wcdc):
        for fname in list(vars(mod)):
            fobj = vars(mod)[fname]
            if fname.endswith("_delta") and callable(fobj):

                def wrap(f=fobj):
                    def inner(*a, **kw):
                        dv = f(*a, **kw)
                        captured["dv"] = dv
                        return dv

                    return inner

                setattr(mod, fname, wrap())
                undo.append((mod, fname, fobj))
    try:
        for key in keys:
            captured.clear()
            qs[key](spark, sf_dir)
            if "dv" not in captured:
                print(f"SKIP {key}: no ivm_upsert observed", file=sys.stderr)
                continue
            dv = captured["dv"]
            plan = dv._sc._jvm.PythonSQLUtils.explainString(
                dv._jdf.queryExecution(), "formatted"
            )
            (outdir / f"{key}_dv_{suffix}.txt").write_text(plan)
            print(f"wrote {outdir / f'{key}_dv_{suffix}.txt'}")
    finally:
        engmod.IVMEngine.ivm_upsert = orig
        for mod, fname, fobj in undo:
            setattr(mod, fname, fobj)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
