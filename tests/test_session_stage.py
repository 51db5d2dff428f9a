"""util.session_stage: build once per key and Spark application, drop
an older application's entries, and build once under concurrent
callers. Pure Python: the sessions are stubs exposing only
``sparkContext.applicationId``."""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

from h3ron_spark.util import session_stage


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_second_call_reuses_the_built_value():
    spark = _session("app-reuse")
    calls = []

    def build():
        calls.append(1)
        # a build may stage another key (the lock is re-entrant)
        inner = session_stage(spark, "inner", lambda: ["inner"])
        return {"inner": inner}

    first = session_stage(spark, "k", build)
    second = session_stage(spark, "k", lambda: calls.append("rebuilt"))
    assert second is first
    assert calls == [1]
    assert session_stage(spark, "inner", lambda: None) is first["inner"]


def test_other_application_drops_older_entries():
    old, new = _session("app-old"), _session("app-new")
    a = session_stage(old, "k", lambda: object())
    b = session_stage(new, "k", lambda: object())
    assert b is not a
    # the old application's entry is gone: asking again rebuilds it
    # (and in turn drops the new application's entry)
    c = session_stage(old, "k", lambda: object())
    assert c is not a
    assert session_stage(new, "k", lambda: "rebuilt") == "rebuilt"


def test_concurrent_callers_build_once():
    spark = _session("app-threads")
    n_threads = 8
    calls = []
    results = [None] * n_threads
    start = threading.Barrier(n_threads)

    def build():
        calls.append(1)
        time.sleep(0.05)  # widen the window a lost check-then-act needs
        return object()

    def worker(i):
        start.wait(timeout=10)
        results[i] = session_stage(spark, "shared", build)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old_interval)
    assert len(calls) == 1
    assert results[0] is not None
    assert all(r is results[0] for r in results)
