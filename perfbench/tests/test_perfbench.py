"""Pure-Python tests of the benchmark's own arithmetic and metadata.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    for name in names:
        assert stats.METRIC_NAME.fullmatch(name), name
        assert len(name) <= 64
    assert len(set(names)) == len(names)


def test_benchmark_json_matches_the_runner():
    spec = _benchmark_json()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.METRIC_NAME.fullmatch(m["name"])
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(11, 400):
        samples = [float(i) for i in range(n)]
        p, value = stats.tail_percentile(samples)
        beyond = sum(1 for s in samples if s > value)
        assert beyond >= 10, (n, p)
        # one percentile higher would leave fewer than ten beyond
        rank_next = math.ceil((p + 1) * n / 100)
        if p < 99:
            assert n - rank_next < 10, (n, p)


def test_tail_percentile_examples():
    assert stats.tail_percentile([1.0] * 10) is None
    assert stats.tail_percentile(list(range(100))) == (90, 89)
    assert stats.tail_percentile(list(range(20))) == (50, 9)
    # unsorted input is sorted first
    assert stats.tail_percentile(list(reversed(range(20)))) == (50, 9)


def _span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps the first child
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped at 10
        _span(4, 1, 1.5, 2.5),  # grandchild: only its parent loses time
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_self_times_sum_to_root_wall_when_children_nest():
    spans = [
        _span(0, None, 0.0, 4.0),
        _span(1, 0, 0.0, 1.0),
        _span(2, 0, 1.0, 3.5),
        _span(3, 2, 1.5, 2.0),
    ]
    assert sum(stats.self_times(spans).values()) == pytest.approx(4.0)


def test_unaccounted_share():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 0.0, 1.0), _span(2, 0, 1.0, 1.9)]
    assert stats.unaccounted_share(spans[0], spans) == pytest.approx(0.05)


def test_unaccounted_share_against_outside_wall_time():
    query = _span(0, None, 0.0, 2.0, "query")
    build, plan = _span(1, 0, 0.0, 0.5, "build"), _span(2, 0, 0.5, 0.6, "plan")
    execute = _span(3, 0, 0.6, 2.0, "execute")
    # all children present, wall measured around the call a bit longer
    assert stats.unaccounted_share(query, [query, build, plan, execute], 2.01) < 0.01
    # a missing execute span shows against the outside clock
    share = stats.unaccounted_share(query, [query, build, plan], 2.01)
    assert share > stats.RECONCILE_MARGIN
    # so does an execute span recorded under another parent
    moved = dict(execute, parent=99)
    assert stats.unaccounted_share(query, [query, build, plan, moved], 2.01) > stats.RECONCILE_MARGIN
    # and a query span that itself misses part of the wall time
    assert stats.unaccounted_share(query, [query, build, plan, execute], 2.5) == pytest.approx(0.2)


def test_every_wrapped_layer_reports_a_share():
    for _, _, span in tracing.LAYER_FUNCTIONS:
        assert span + "_share" in run.PER_LAYER


def test_parse_sql_metric():
    assert tracing.parse_sql_metric("100,000") == 100000
    assert tracing.parse_sql_metric("0.0 B") == 0
    assert tracing.parse_sql_metric("12 ms") == pytest.approx(0.012)
    text = "total (min, med, max (stageId: taskId))\n781.8 KiB (195.5 KiB, 195.5 KiB (stage 4.0: task 9))"
    assert tracing.parse_sql_metric(text) == pytest.approx(781.8 * 1024)
    assert tracing.parse_sql_metric("total (min, med, max)\n4.7 s (1.0 s, 1.2 s)") == pytest.approx(4.7)


def test_summaries_add_up_stage_and_node_metrics():
    stages = [
        {"status": "COMPLETE", "numCompleteTasks": 4, "numFailedTasks": 0, "executorRunTime": 1500,
         "executorCpuTime": 2_000_000_000, "jvmGcTime": 10, "shuffleReadBytes": 5, "shuffleWriteBytes": 7,
         "memoryBytesSpilled": 1, "diskBytesSpilled": 2, "outputBytes": 3},
        {"status": "SKIPPED", "numCompleteTasks": 0, "numFailedTasks": 0, "executorRunTime": 0,
         "executorCpuTime": 0, "jvmGcTime": 0, "shuffleReadBytes": 0, "shuffleWriteBytes": 0,
         "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "outputBytes": 0},
    ]
    s = tracing.summarize_stages(stages)
    assert s["scheduler.stages"] == 1 and s["scheduler.tasks"] == 4
    assert s["executor.run_s"] == pytest.approx(1.5) and s["executor.cpu_s"] == pytest.approx(2.0)
    assert s["spill.bytes"] == 3
    sql = [{"nodes": [
        {"name": "ArrowEvalPython", "metrics": {
            tracing.PYTHON_SENT: 10.0, tracing.PYTHON_RETURNED: 4.0, "number of output rows": 3.0}},
        {"name": "Filter", "metrics": {"number of output rows": 99.0}},
        {"name": "BroadcastExchange", "metrics": {tracing.BROADCAST_COLLECT: 0.25}},
    ]}]
    q = tracing.summarize_sql(sql)
    assert q["functions.arrow_rows"] == 3 and q["functions.arrow_bytes_sent"] == 10
    assert q["broadcast.collect_s"] == pytest.approx(0.25)


def test_frames_differ_is_order_insensitive():
    pd = pytest.importorskip("pandas")
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
    b = pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})
    assert run.frames_differ(a, b) is None
    assert run.digest(a) == run.digest(b)
    c = pd.DataFrame({"k": [1, 2], "v": [0.25, 0.75]})
    assert "v[1]" in run.frames_differ(a, c)


def test_datagen_is_seeded(tmp_path):
    pa = pytest.importorskip("pyarrow")
    import pyarrow.parquet as pq

    import datagen

    a = datagen.generate(str(tmp_path / "a"), 5, scale=0.001)
    b = datagen.generate(str(tmp_path / "b"), 5, scale=0.001)
    c = datagen.generate(str(tmp_path / "c"), 6, scale=0.001)
    assert a.endswith("sf0.001")
    ev = [pq.read_table(os.path.join(d, "events.parquet")) for d in (a, b, c)]
    assert ev[0].equals(ev[1])
    assert not ev[0].equals(ev[2])
    # ts has the unit of the project's test tables (TIMESTAMP(MICROS)),
    # so the queries take the same read path on both
    assert ev[0].schema.field("ts").type == pa.timestamp("us")
    # the key set is kept whatever the seed
    ids = sorted(ev[2].column("event_id").to_pylist())
    assert ids == list(range(ev[2].num_rows))
