"""The traced run's round-trip and job counts must repeat exactly for a
fixed seed, or a later change cannot rest a claim on them.

Runs the benchmark twice with tracing on and compares every count window
(layer, batch, round trips, jobs).  About a minute on 4 cores:

    python3 -m pytest perfbench/test_counts.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7


def _windows(workload: str) -> dict[tuple, list[tuple[int, int]]]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"]
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed{SEED}.jsonl")
    out: dict[tuple, list[tuple[int, int]]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["kind"] == "window":
                out[(rec["layer"], rec["batch"])].append((rec["rt"], rec["jobs"]))
    return {k: sorted(v) for k, v in out.items()}


def test_agg_trickle_counts_repeat():
    first = _windows("agg_trickle")
    second = _windows("agg_trickle")
    assert any(layer == "batch" for layer, _ in first), sorted(first)
    assert first == second
