"""Focused tests for operators/pin.build_all — the concurrent
plan-construction helper the theta/ineq/outer delta rules use (round 9).
Pure-Python: the contract under test is ordering, error propagation and
actual overlap, independent of Spark."""

import threading
import time

import pytest

from ivm_extension_spark.operators.pin import build_all


def test_build_all_preserves_input_order():
    out = build_all(lambda: "a", lambda: "b", lambda: "c")
    assert out == ["a", "b", "c"]


def test_build_all_zero_and_single_thunk_run_inline():
    assert build_all() == []
    tid = build_all(lambda: threading.get_ident())
    assert tid == [threading.get_ident()]  # no thread spawned for one


def test_build_all_propagates_the_failing_thunk_error():
    def boom():
        raise ValueError("branch failed")

    with pytest.raises(ValueError, match="branch failed"):
        build_all(lambda: 1, boom, lambda: 2)


def test_pool_reuses_workers_across_calls():
    # round-10: submissions run on a shared reusable pool — a fresh
    # thread (= a fresh pinned py4j socket + JVM thread in real use) per
    # call was the churn the round-9 verdict flagged.  Two sequential
    # build_all calls must run on the SAME worker threads.
    first = set(build_all(lambda: threading.get_ident(), lambda: threading.get_ident()))
    second = set(build_all(lambda: threading.get_ident(), lambda: threading.get_ident()))
    assert first == second


def test_pool_nested_submissions_do_not_deadlock():
    # a branch thunk may itself pin/build (nested build_all) — the pool
    # must never queue a nested submission behind its own caller
    def outer(i):
        return sum(build_all(lambda: i, lambda: i * 10))

    t0 = time.perf_counter()
    assert build_all(lambda: outer(1), lambda: outer(2), lambda: outer(3)) == [
        11,
        22,
        33,
    ]
    assert time.perf_counter() - t0 < 5


def test_build_all_runs_thunks_concurrently():
    # each thunk waits on the OTHER's start event: serial execution
    # would deadlock (the timeout would fail the assert), concurrent
    # execution finishes immediately
    e1, e2 = threading.Event(), threading.Event()

    def t1():
        e1.set()
        assert e2.wait(timeout=10)
        return 1

    def t2():
        e2.set()
        assert e1.wait(timeout=10)
        return 2

    t0 = time.perf_counter()
    assert build_all(t1, t2) == [1, 2]
    assert time.perf_counter() - t0 < 5


def test_build_all_waits_for_every_sibling_before_raising():
    # a failed fan-out must not leave work running: the slow sibling has
    # finished by the time the error reaches the caller, and of two
    # failures the first in INPUT order wins (not the first in time)
    done = threading.Event()

    def slow():
        time.sleep(0.5)
        done.set()

    def late_fail():
        time.sleep(0.2)
        raise ValueError("first in input order")

    def early_fail():
        raise KeyError("first in time")

    with pytest.raises(ValueError, match="first in input order"):
        build_all(late_fail, early_fail, slow)
    assert done.is_set()


def test_build_all_limit_caps_running_thunks_and_workers(monkeypatch):
    from ivm_extension_spark.operators import pin

    monkeypatch.setattr(pin, "_POOL", pin._SubmitPool())
    lock = threading.Lock()
    running = peak = 0

    def thunk():
        nonlocal running, peak
        with lock:
            running += 1
            peak = max(peak, running)
        time.sleep(0.05)
        with lock:
            running -= 1

    build_all(*[thunk] * 6, limit=2)
    assert peak <= 2
    assert pin._POOL._spawned <= 2
