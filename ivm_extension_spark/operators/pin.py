"""Concurrent eager pins — overlap independent ``localCheckpoint`` jobs.

An eager ``localCheckpoint`` blocks the driver for one Spark job *plus*
that job's whole driver-side prologue (analysis, optimization, physical
planning, AQE stage scheduling).  A delta rule that pins several
INDEPENDENT relations back-to-back therefore serializes not just the
narrow cluster jobs but the planning gaps between them — profiled on
the round-9 state at sf0.1/local[32], 40–67 % of several lifecycle
keys' wall time is driver gap, not task time.

``pin_all`` submits each pin from its own thread so the planning and
the jobs interleave — the optimization guide's "overlap independent
jobs" rule (§2.6) applied WITHIN one delta rule, the same thread-per-
unit submission :meth:`engine.IVMEngine.merge_views` already uses
across views.  Spark's scheduler and Catalyst are thread-safe (the
property merge_views relies on); job descriptions are thread-local so
UI labels stay correct.

``pin_async`` returns a future so a caller can keep CONSTRUCTING the
next relation (hundreds of py4j round-trips — pure driver latency)
while the previous one's checkpoint job runs on the cluster.

All submissions run on ONE process-wide reusable worker pool.  In
py4j's pinned-thread mode (PySpark's default) every Python thread that
talks to the JVM gets a dedicated socket plus a paired JVM thread,
released only when Python GC collects the dead thread's locals — so a
fresh ``ThreadPoolExecutor`` per delta rule costs a socket connect,
auth handshake and JVM thread create/destroy per branch, tens of
thousands of times across a bench run, and leaves a trail of
not-yet-collected JVM threads behind (guide §7.3: "hundreds of
identical client threads point at a leak").  The pool below reuses
idle workers LIFO (warm connection first) and spawns a new worker only
when none is idle — submissions never queue behind a bounded worker
count, so nested ``pin_all``/``build_all`` calls (a branch thunk that
itself pins) cannot deadlock.  A worker left idle for ``_IDLE_EXIT_S``
exits, so the pool does not keep the size of its widest fan-out
forever.  No local properties are set anywhere in
this package, so worker reuse cannot leak job descriptions between
callers.
"""

from __future__ import annotations

import queue
import threading
from concurrent.futures import Future, wait

from pyspark.sql import DataFrame


# far longer than the gap between two micro-batches: a steady stream of
# batches keeps reusing its warm workers
_IDLE_EXIT_S = 300.0


class _Worker:
    __slots__ = ("inbox", "thread")

    def __init__(self, pool: "_SubmitPool", n: int) -> None:
        self.inbox: "queue.SimpleQueue" = queue.SimpleQueue()
        self.thread = threading.Thread(
            target=self._loop, args=(pool,), daemon=True, name=f"ivm-pin-{n}"
        )
        self.thread.start()

    def _loop(self, pool: "_SubmitPool") -> None:
        while True:
            try:
                fn, fut = self.inbox.get(timeout=_IDLE_EXIT_S)
            except queue.Empty:
                if pool._retire(self):
                    return
                continue  # a submit popped this worker; its task is on the way
            try:
                result, exc = fn(), None
            except BaseException as e:  # delivered to the waiter below
                result, exc = None, e
            # recycle BEFORE delivering: a waiter that immediately
            # submits follow-up work finds this (now idle) warm worker
            pool._recycle(self)
            if exc is not None:
                fut.set_exception(exc)
            else:
                fut.set_result(result)


class _SubmitPool:
    """Grow-on-demand, never-queueing pool of reusable daemon workers;
    ``_spawned`` counts every worker ever started."""

    def __init__(self) -> None:
        self._idle: "list[_Worker]" = []
        self._lock = threading.Lock()
        self._spawned = 0

    def submit(self, fn) -> "Future":
        fut: "Future" = Future()
        fut.set_running_or_notify_cancel()
        with self._lock:
            w = self._idle.pop() if self._idle else None
            if w is None:
                self._spawned += 1
                n = self._spawned
        if w is None:
            w = _Worker(self, n)
        w.inbox.put((fn, fut))
        return fut

    def _recycle(self, w: "_Worker") -> None:
        with self._lock:
            self._idle.append(w)

    def _retire(self, w: "_Worker") -> bool:
        """Drop an idle worker; False when a submit already popped it."""
        with self._lock:
            if w in self._idle:
                self._idle.remove(w)
                return True
            return False


_POOL = _SubmitPool()


def submit(fn) -> "Future":
    """Run ``fn()`` on the shared reusable worker pool; returns a Future."""
    return _POOL.submit(fn)


def pin_all(*dfs: "DataFrame | None") -> "list[DataFrame | None]":
    """Eagerly ``localCheckpoint`` every non-None input CONCURRENTLY and
    return the pinned frames in input order (None passes through).
    Inputs must be mutually independent plans — none may consume
    another's result."""
    pinned = iter(build_all(
        *[lambda d=d: d.localCheckpoint(eager=True) for d in dfs if d is not None]
    ))
    return [None if d is None else next(pinned) for d in dfs]


def pin_async(df: DataFrame) -> "Future[DataFrame]":
    """Start an eager ``localCheckpoint`` of ``df`` on a background
    thread and return the future — call ``.result()`` where the pinned
    frame is first needed.  Lets the driver build the next (independent)
    plan while this one's checkpoint job runs."""
    return _POOL.submit(lambda: df.localCheckpoint(eager=True))


def release(df: DataFrame) -> None:
    """Free the blocks of an eager ``localCheckpoint`` now.
    ``DataFrame.unpersist`` only touches the cache manager; the blocks
    belong to the RDD under the checkpoint's ``LogicalRDD`` plan, which
    is otherwise dropped only when the JVM collects it."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def build_all(*thunks, limit: "int | None" = None):
    """Run independent plan-CONSTRUCTION thunks concurrently and return
    their results in input order.

    Profiled on the round-9 state: 40–65 % of the deep lifecycle keys'
    wall time is jobless driver work — py4j round-trips plus the eager
    per-call Catalyst analysis every Dataset transformation performs.
    A delta rule that derives several INDEPENDENT branches (matched
    terms, anti terms, sequential worlds) pays that construction
    serially even though no branch reads another's result.  Each thunk
    runs on its own thread: py4j calls release the GIL at the socket
    and the JVM analyzes concurrently, so the constructions overlap the
    same way ``pin_all`` overlaps checkpoint jobs (guide §2.6 applied
    to the planning prologue itself).  A thunk that also pins (an eager
    ``localCheckpoint`` inside a branch) overlaps its job with the
    sibling constructions for free.

    Thunks must be mutually independent and must not mutate shared
    state; results keep input order, so downstream unions are
    byte-identical to the serial construction.

    ``limit`` caps how many thunks run at once: the calling thread
    takes a slot BEFORE each submission and a worker gives it back only
    after it is idle again, so one fan-out never holds more than
    ``limit`` workers.  A failure re-raises only after EVERY submitted
    sibling has finished (no work outlives the call) — the first
    failure in input order wins."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    slots = threading.Semaphore(limit) if limit else None
    futs = []
    for t in thunks:
        if slots is not None:
            slots.acquire()
        f = _POOL.submit(t)
        if slots is not None:
            # done callbacks run after the worker recycled itself
            f.add_done_callback(lambda _: slots.release())
        futs.append(f)
    wait(futs)
    return [f.result() for f in futs]
