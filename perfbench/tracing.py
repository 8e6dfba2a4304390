"""Benchmark-side tracing: spans and counts around the engine's public calls.

Nothing here changes the engine.  A traced run replaces a few bound
methods on the benchmark's own ``IVMEngine`` and ``LakehouseStore``
instances, the streaming maintainer's foreachBatch callback and
``sqlfront.parse_view_sql`` (as the engine module imported it) with
wrappers that record a span per call.

Counts:

- ``py4j.rt``: calls to the gateway client's ``send_command``, counted
  while the counter is armed.  The tracer's own reads (job ids, the
  status store) run with it disarmed on their thread, so the instrument
  never counts itself.  Object-release messages, which py4j's finalizer
  thread sends whenever Python frees a Java reference, are left out: they
  are off the calling thread and their timing follows the garbage
  collector, so counting them would make the count vary run to run.
- ``spark.jobs``: the DAG scheduler's next job id, one disarmed read at
  each edge of a count window.

A count window belongs to one layer: it opens when the layer goes from
no active span to one and closes when its last active span ends.  Calls
a layer makes concurrently (``maintain_all`` merges views on pool
threads) therefore share one window, attributed to the enclosing batch,
while each per-view span keeps its own time.

Spark's status store gives, after the run, every job's interval, task
count and stages' shuffle bytes; ``summarize`` joins them to the batch
spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from py4j import protocol

_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float | None = None
    parent: int | None = None
    batch: int | None = None
    view: str | None = None
    attrs: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "start": round(self.start, 6),
            "end": None if self.end is None else round(self.end, 6),
            "parent": self.parent,
            "batch": self.batch,
            "view": self.view,
            **self.attrs,
        }


@dataclass
class Window:
    """One count window of a layer: round trips and jobs between its edges."""

    layer: str
    batch: int | None
    rt0: int
    job0: int
    rt: int = 0
    jobs: int = 0


class Tracer:
    """Spans plus armed py4j round-trip and Spark job counters."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.windows: list[Window] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._rt = 0
        self._active: dict[str, tuple[int, Window]] = {}
        self.on = True  # wrappers record spans only while on
        self.batch: int | None = None  # current closed-loop batch number
        self.batch_span: int | None = None
        client = spark.sparkContext._gateway._gateway_client
        self._client = client
        self._send = client.send_command
        client.send_command = self._counted_send
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    # -- counters -----------------------------------------------------------

    def _counted_send(self, command, *args, **kwargs):
        if not command.startswith(_RELEASE) and not getattr(self._local, "off", False):
            with self._lock:
                self._rt += 1
        return self._send(command, *args, **kwargs)

    @contextlib.contextmanager
    def disarmed(self):
        prev = getattr(self._local, "off", False)
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = prev

    def job_id(self) -> int:
        with self.disarmed():
            return int(self._dag.nextJobId())

    def close(self) -> None:
        self._client.send_command = self._send

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, view: str | None = None, layer: str | None = None, **attrs):
        """Record a span; ``layer`` (default: the span name) names the
        count window it joins."""
        stack = self._stack()
        parent = stack[-1] if stack else self.batch_span
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), parent=parent,
                      batch=self.batch, view=view, attrs=dict(attrs))
            self.spans.append(sp)
        self._enter(layer or name)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            self._exit(layer or name)

    def _enter(self, layer: str) -> None:
        with self._lock:
            cur = self._active.get(layer)
            if cur is not None:
                self._active[layer] = (cur[0] + 1, cur[1])
                return
            rt0 = self._rt
        job0 = self.job_id()
        with self._lock:
            cur = self._active.get(layer)
            if cur is not None:  # another thread opened it meanwhile
                self._active[layer] = (cur[0] + 1, cur[1])
                return
            w = Window(layer, self.batch, rt0, job0)
            self._active[layer] = (1, w)

    def _exit(self, layer: str) -> None:
        with self._lock:
            depth, w = self._active[layer]
            if depth > 1:
                self._active[layer] = (depth - 1, w)
                return
            del self._active[layer]
            w.rt = self._rt - w.rt0
        w.jobs = self.job_id() - w.job0
        with self._lock:
            self.windows.append(w)

    def wrap(self, obj, method: str, name: str, view_arg: bool = True, after=None) -> None:
        """Replace ``obj.method`` with a spanned call.  ``after(span,
        result, args)`` may add attributes once the call returned."""
        orig = getattr(obj, method)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.on:
                return orig(*args, **kwargs)
            view = args[0] if view_arg and args and isinstance(args[0], str) else None
            with self.span(name, view=view) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    with self.disarmed():
                        after(sp, out, args)
                return out

        setattr(obj, method, traced)

    # -- job timeline ---------------------------------------------------------

    def job_timeline(self) -> tuple[list[dict], dict[int, int]]:
        """Every retained job from Spark's status store, and shuffle bytes
        written per stage, read with the counter disarmed."""
        sc = self.spark.sparkContext
        with self.disarmed():
            jvm = sc._jvm
            store = sc._jsc.sc().statusStore()
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala_mod = getattr(
                getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
                "MODULE$",
            )
            mapper.registerModule(scala_mod)
            jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
            empty = sc._gateway.new_array(jvm.double, 0)
            stages = json.loads(
                mapper.writeValueAsString(store.stageList(None, False, False, empty, None))
            )
        shuffle: dict[int, int] = {}
        for s in stages:  # one entry per stage attempt
            shuffle[s["stageId"]] = shuffle.get(s["stageId"], 0) + int(s.get("shuffleWriteBytes") or 0)
        return jobs, shuffle

    def dump(self, path: str) -> None:
        """Spans, then count windows, one JSON object per line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({"kind": "span", **sp.to_json()}) + "\n")
            for w in self.windows:
                f.write(json.dumps({"kind": "window", "layer": w.layer, "batch": w.batch,
                                    "rt": w.rt, "jobs": w.jobs}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def summarize(tr: Tracer) -> dict[str, float]:
    """Per-layer figures of one traced run.

    ``*.s``: median duration of the layer's spans (one per call, per view).
    ``*.rt`` / ``*.jobs``: median over the layer's count windows.
    ``py4j.rt``, ``spark.*`` and ``driver.jobless_frac``: median over the
    batch spans, from their count windows and Spark's job timeline.
    """
    spans = [s for s in tr.spans if s.end is not None]

    def dur(name: str) -> list[float]:
        return [s.end - s.start for s in spans if s.name == name]

    def win(layer: str, attr: str) -> float:
        return _med(getattr(w, attr) for w in tr.windows if w.layer == layer)

    out: dict[str, float] = {}
    for name in ("rewrite.upsert", "merge", "engine.create", "engine.maintain",
                 "engine.apply_delta", "engine.read", "engine.refresh", "engine.save",
                 "plans.parse", "store.commit"):
        out[f"{name}.s"] = _med(dur(name))
    for layer in ("rewrite.upsert", "merge"):
        out[f"{layer}.rt"] = win(layer, "rt")
        out[f"{layer}.jobs"] = win(layer, "jobs")
    for layer in ("engine.apply_delta", "engine.read", "engine.refresh"):
        out[f"{layer}.jobs"] = win(layer, "jobs")
    out["py4j.rt"] = win("batch", "rt")
    out["spark.jobs"] = win("batch", "jobs")

    jobs, stage_shuffle = tr.job_timeline()
    intervals = [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    tasks, shuffle, jobless = [], [], []
    for b in spans:
        if b.name not in ("batch", "stream.batch") or b.end <= b.start:
            continue
        inside = [
            j for j in jobs
            if j.get("submissionTime")
            and b.start * 1000 - 1 <= j["submissionTime"] <= b.end * 1000 + 1
        ]
        tasks.append(sum(int(j.get("numCompletedTasks") or 0) for j in inside))
        shuffle.append(sum(
            stage_shuffle.get(sid, 0) for j in inside for sid in j.get("stageIds", [])
        ))
        jobless.append(1.0 - _covered(intervals, b.start, b.end) / (b.end - b.start))
    out["spark.tasks"] = _med(tasks)
    out["spark.shuffle_bytes"] = _med(shuffle)
    out["driver.jobless_frac"] = _med(jobless)
    return out
