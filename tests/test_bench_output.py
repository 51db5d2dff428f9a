"""The bench CLI's output contract: the last stdout line is the full
result record, one JSON object carrying the per-query timings and the
machine-state and floor stamps that make a capture adjudicable on its
own. Pure-python tests over bench.build_result; no Spark.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import BENCH_QUERIES, build_result  # noqa: E402


def _one_line(result: dict) -> dict:
    """The record as bench.py prints it: one JSON line that parses
    back to the same dict."""
    line = json.dumps(result)
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed == result
    return parsed


def test_full_result_schema():
    result = _one_line(build_result({"q1": 1.5, "q2": 2.25}, "0.1"))
    assert result["metric"] == "h3ron_spark_bench_total"
    assert result["value"] == 3.75
    assert result["unit"] == "sec"
    assert result["sf"] == 0.1
    assert result["queries"] == {"q1": 1.5, "q2": 2.25}


def test_machine_state_fields_in_result():
    """VERDICT r5 #4: the bench JSON self-documents machine state
    (loadavg + cold/warm) so capture-vs-capture discrepancies are
    adjudicable from the artifact alone."""
    machine = {
        "loadavg_start": [1.23, 0.98, 0.76],
        "loadavg_end": [31.5, 12.2, 5.4],
        "pass_totals": [120.5, 92.1, 90.4],
        "cold_start": False,
    }
    timings = {n: 1.234 for n in BENCH_QUERIES}
    result = _one_line(build_result(timings, "0.1", machine=machine))
    assert result["machine"] == machine
    assert result["queries"] == timings
    # no-machine path unchanged (subset/scale runs, old tests)
    assert "machine" not in build_result({"q": 1.0}, "0.1")


def test_floor_fields_in_result():
    """VERDICT r7 #4: full-suite records carry GC-fenced isolated
    floors for the B1-B6 headliners so regression detection compares
    floor-to-floor; subset runs (no floors) must not grow an empty
    key."""
    from bench import FLOOR_QUERIES

    floors = {n: 1.111 for n in FLOOR_QUERIES}
    machine = {
        "loadavg_start": [1.0, 1.0, 1.0],
        "loadavg_end": [2.0, 2.0, 2.0],
        "pass_totals": [100.0, 90.0, 90.0],
        "cold_start": False,
    }
    timings = {n: 1.234 for n in BENCH_QUERIES}
    result = _one_line(
        build_result(timings, "0.1", machine=machine, floors=floors)
    )
    assert result["floors"] == floors
    # every floor query is a B workload that exists in the suite
    assert set(FLOOR_QUERIES) <= set(BENCH_QUERIES)
    # subset/scale runs pass floors={} -> key absent, schema unchanged
    assert "floors" not in build_result({"q": 1.0}, "0.1", floors={})


def test_floor_queries_cover_top10_wall_time():
    """VERDICT r8 #2: the floors pass covers B1-B6 plus the top-10
    wall-time rows of the r8 capture, so every headline number in the
    round record has a GC-fenced, loadavg-stamped floor."""
    from bench import FLOOR_QUERIES

    top10 = {
        "dedup_editdistance_join", "mm_jpeg_decode", "ann_ivfpq_rerank",
        "stream_hll_distinct", "ann_pq_adc_topk", "ann_ivfpq_topk",
        "graph_sssp_frontier", "graph_pagerank",
        "sketch_bloom_decontaminate",
    }
    assert top10 <= set(FLOOR_QUERIES)
    # germany_route floors only when its graph file (and thus its
    # suite row) exists — FLOOR_QUERIES must stay a suite subset
    assert set(FLOOR_QUERIES) <= set(BENCH_QUERIES)


def test_floor_load_in_result():
    """VERDICT r8 #2 + ADVICE r8: per-floor loadavg stamps ride in
    the record beside the floors they stamp."""
    from bench import FLOOR_QUERIES

    floors = {n: 1.111 for n in FLOOR_QUERIES}
    fload = {n: 0.4 for n in FLOOR_QUERIES}
    machine = {
        "loadavg_start": [1.0, 1.0, 1.0],
        "loadavg_end": [2.0, 2.0, 2.0],
        "pass_totals": [100.0, 90.0, 90.0],
        "cold_start": False,
        "noisy": False,
    }
    timings = {n: 1.234 for n in BENCH_QUERIES}
    result = _one_line(
        build_result(
            timings, "0.1", machine=machine, floors=floors, floor_load=fload
        )
    )
    assert result["floors"] == floors
    assert result["floor_load"] == fload
    assert result["machine"]["noisy"] is False
    # partial-floor path (ADVICE r8): a failed floor drops BOTH dicts'
    # entries, never leaving a stamp without a floor
    assert "floor_load" not in build_result({"q": 1.0}, "0.1", floor_load={})


def test_floor_steal_full_record_only():
    """CPU-steal stamps (the co-tenant signal self-load cannot
    pollute): per-floor steal rides in the record beside the
    capture-wide machine.steal_pct; an empty stamp dict adds no
    key."""
    from bench import FLOOR_QUERIES

    floors = {n: 1.111 for n in FLOOR_QUERIES}
    fload = {n: 0.4 for n in FLOOR_QUERIES}
    fsteal = {n: 0.12 for n in FLOOR_QUERIES}
    machine = {
        "loadavg_start": [1.0, 1.0, 1.0],
        "loadavg_end": [2.0, 2.0, 2.0],
        "pass_totals": [100.0, 90.0, 90.0],
        "cold_start": False,
        "noisy": False,
        "steal_pct": 0.07,
    }
    timings = {n: 1.234 for n in BENCH_QUERIES}
    result = _one_line(
        build_result(
            timings, "0.1", machine=machine, floors=floors,
            floor_load=fload, floor_steal=fsteal,
        )
    )
    assert result["floor_steal"] == fsteal
    assert result["machine"]["steal_pct"] == 0.07
    assert "floor_steal" not in build_result({"q": 1.0}, "0.1", floor_steal={})


def test_cpu_steal_helpers():
    from bench import _cpu_times, _steal_pct

    cur = _cpu_times()
    assert cur is not None and cur[1] > 0  # Linux CI
    assert _steal_pct(None, cur) is None
    assert _steal_pct((100, 1000), (110, 2000)) == 1.0
    assert _steal_pct((100, 1000), (100, 1000)) is None  # no elapsed ticks


def test_degraded_floor_reasons():
    """VERDICT r9 #3 / r10 #3: a floor above its own in-suite minimum
    is definitionally machine noise ("inverted"); a floor measured
    under >0.5% hypervisor steal is co-tenant-contaminated ("steal").
    BENCH_r10.json shipped 7 inverted floors — one a paper 2.06x vs
    baseline — with the adjudication living only in prose."""
    from bench import DEGRADED_STEAL_PCT, degraded_floor_reasons

    floors = {"a": 2.0, "b": 1.0, "c": 1.0, "d": 1.0}
    suite = {"a": 1.5, "b": 1.2, "c": 0.9, "d": 1.2}
    steal = {"b": 0.7, "c": 0.6, "d": DEGRADED_STEAL_PCT}
    assert degraded_floor_reasons("a", floors, suite, steal) == ["inverted"]
    assert degraded_floor_reasons("b", floors, suite, steal) == ["steal"]
    assert degraded_floor_reasons("c", floors, suite, steal) == [
        "inverted", "steal",
    ]
    # at exactly the threshold, and floor <= suite min: clean
    assert degraded_floor_reasons("d", floors, suite, steal) == []
    # missing stamps / missing suite row never flag
    assert degraded_floor_reasons("zz", floors, suite, steal) == []


def test_floor_degraded_field_in_result():
    """The degraded flags must be PRESENT (possibly {}) whenever
    floors are — an unflagged inverted floor in BENCH_r{N}.json is
    exactly the r10 failure mode. Subset runs (no floors) must not
    grow the key."""
    from bench import FLOOR_QUERIES

    floors = {n: 1.111 for n in FLOOR_QUERIES}
    degraded = {FLOOR_QUERIES[0]: ["inverted"],
                FLOOR_QUERIES[1]: ["inverted", "steal"]}
    timings = {n: 1.234 for n in BENCH_QUERIES}
    machine = {"loadavg_start": [1.0, 1.0, 1.0], "noisy": False}
    result = _one_line(
        build_result(
            timings, "0.1", machine=machine, floors=floors,
            floor_degraded=degraded,
        )
    )
    assert result["floor_degraded"] == degraded

    # floors present + nothing degraded -> explicit empty dict
    clean = build_result(timings, "0.1", floors=floors)
    assert clean["floor_degraded"] == {}

    # no floors (subset/scale run) -> key absent
    assert "floor_degraded" not in build_result({"q": 1.0}, "0.1")
    assert "floor_degraded" not in build_result(
        {"q": 1.0}, "0.1", floor_degraded={}
    )


def test_clean_capture_keeps_floor_stamps():
    """A clean capture (empty degraded dict) keeps floors, floor_load
    and the explicit empty degraded dict, with every query row."""
    from bench import FLOOR_QUERIES

    timings = {n: 1.234 for n in BENCH_QUERIES}
    floors = {n: 1.111 for n in FLOOR_QUERIES}
    fload = {n: 0.4 for n in FLOOR_QUERIES}
    machine = {"loadavg_start": [0.4, 0.5, 0.6], "noisy": False,
               "steal_pct": 0.05}
    result = _one_line(
        build_result(
            timings, "0.1", machine=machine, floors=floors,
            floor_load=fload, floor_degraded={},
        )
    )
    assert result["floors"] == floors
    assert result["floor_load"] == fload
    assert result["floor_degraded"] == {}
    assert result["queries"] == timings
