"""h3ron_spark benchmark: one workload of registry queries, one client.

    python3 perfbench/run.py --workload h3_columnar --seed 42 --seconds 17 --trace 0

Run from the root of a source checkout. The run generates its input
tables from ``--seed`` under ``.perfbench_work/``, opens one
SparkSession with ``h3ron_spark.session.get_spark`` on half the CPUs
(``spark_cores``) and runs the workload's queries one after another (a
closed loop with one client):

1. set-up: one cold ``get_spark()`` call, which launches the gateway
   JVM and warms the Python workers (``setup_s``): the cost every
   process that uses the engine pays once;
2. the first pass in the fresh session, which is also the output
   check: each query is collected once (timed: ``first_pass_s``), then
   compared, untimed, with its DuckDB oracle, or else must be non-empty
   and give the same digest when collected again;
3. the warm passes, each query consumed by the noop sink as
   ``bench.py`` does: ``round(seconds / nominal pass)`` of them, at
   least three, so every run of a workload takes the same number of
   samples and one slow pass does not move a median.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the same warm passes alternate untraced and traced
(untraced first), and the line carries the per-layer metrics of the
traced ones. Every measurement is taken outside the engine, around
calls into its public functions. Human-readable detail goes to stderr;
the spans of a traced run are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import numpy as np

import datagen
import stats
import tracing as T

WORKLOADS = {
    # The paper's core path, every query backed by h3core kernels in
    # Arrow UDFs: cell encode and rollup (B1), polyfill filter (B4),
    # raster (B6) and compaction (D4).
    "h3_columnar": {
        "nominal_pass_s": 5.6,
        "queries": [
            "geo_cell_rollup",
            "geo_polyfill_filter",
            "geo_raster_cells",
            "h3_compact_dataframe",
        ],
    },
    # Short relational queries plus an iterative graph query and a
    # stateful streaming query: many small jobs, most of the pass spent
    # inside the registry calls rather than on executor CPU.
    "query_fleet": {
        "nominal_pass_s": 5.8,
        "queries": [
            "rel_pricing_summary",
            "rel_event_sessions",
            "dedup_exact",
            "geo_stay_detection",
            "graph_pagerank",
            "stream_cell_transitions",
        ],
    },
}

MIN_WARM_PASSES = 3
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
}

PER_LAYER = {
    "h3core.latlng_to_cell_ns": "ns",
    "h3core.cell_to_parent_ns": "ns",
    "h3core.grid_disk_k3_ns": "ns",
    "h3core.cell_to_children_ns": "ns",
    "h3core.compact_ns": "ns",
    "functions.arrow_rows": "count",
    "functions.arrow_bytes_sent": "B",
    "functions.arrow_bytes_returned": "B",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "driver.py4j_calls": "count",
    "plan.analyze_s": "s",
    "plan.optimize_s": "s",
    "exec.wall_s": "s",
    "codegen.compiles": "count",
    "codegen.compiles_warm": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.read_bytes": "B",
    "shuffle.write_bytes": "B",
    "spill.bytes": "B",
    "broadcast.collect_s": "s",
    "operators.compact_dataframe_share": "ratio",
    "operators.cells_in_rect_share": "ratio",
    "graph.pagerank_share": "ratio",
    "raster.raster_to_cells_share": "ratio",
    "streaming.batches": "count",
    "streaming.batch_share": "ratio",
    "streaming.commit_share": "ratio",
    "output.bytes": "B",
    "trace.overhead_s": "s",
    "trace.unaccounted_max": "ratio",
}

# Time inside a layer, reported as its share of the traced pass: the
# wrapped public functions (tracing.LAYER_FUNCTIONS) and the streaming
# micro-batches (trigger execution; WAL commit plus offset commit).
LAYER_SHARES = [span for _, _, span in T.LAYER_FUNCTIONS] + ["streaming.batch", "streaming.commit"]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def spark_cores() -> int:
    """Task slots for the session: half the CPUs this process may use.

    One client drives one session, so the other half is left to what
    runs beside the task threads: the Python worker each Arrow UDF task
    feeds, the JVM's JIT and GC threads, and the driver. With a slot per
    CPU those outnumber the CPUs, and on a shared host the figures then
    follow the scheduler and the neighbours rather than the engine.
    """
    return max(1, len(os.sched_getaffinity(0)) // 2)


# --------------------------------------------------------------- output check


def _normalize(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == "bool" or (
            pdf[c].dtype == "object" and len(pdf) and isinstance(pdf[c].iloc[0], bool)
        ):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def frames_differ(spark_pdf, duck_pdf) -> str | None:
    """Why two result frames differ (order-insensitive), or None."""
    if len(spark_pdf) != len(duck_pdf):
        return f"row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    for col in a.columns:
        x, y = a[col].to_numpy(), b[col].to_numpy()
        if x.dtype.kind == "f" and y.dtype.kind == "f":
            same = np.isclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True)
        elif x.dtype.kind in "iub" and y.dtype.kind in "iub":
            same = x == y
        else:
            same = np.array([u == v for u, v in zip(x.tolist(), y.tolist())], dtype=bool)
        if not same.all():
            i = int(np.argmin(same))
            return f"{col}[{i}]: {x[i]!r} != oracle {y[i]!r}"
    return None


def digest(pdf) -> str:
    text = _normalize(pdf).to_csv(index=False, float_format="%.9g")
    return hashlib.sha256(text.encode()).hexdigest()


def check_outputs(spark, registry, oracles, names, sf_dir):
    """Collect every query once and check its result. Returns the
    failures as {query: reason} and the seconds each collection took
    (registry call plus ``toPandas``; None if it raised)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    failures, seconds = {}, dict.fromkeys(names)
    for name in names:
        try:
            t0 = time.perf_counter()
            pdf = registry[name](spark, sf_dir).toPandas()
            seconds[name] = time.perf_counter() - t0
            if len(pdf) == 0:
                failures[name] = "empty result"
            elif name in oracles:
                why = frames_differ(pdf, con.execute(oracles[name]).fetchdf())
                if why:
                    failures[name] = why
            elif digest(pdf) != digest(registry[name](spark, sf_dir).toPandas()):
                failures[name] = "result digest changed between two runs"
        except Exception as e:  # a failing query is a reported result
            failures[name] = f"raised {type(e).__name__}: {str(e)[:200]}"
    con.close()
    return failures, seconds


# ------------------------------------------------------------------ the run


class Run:
    def __init__(self, args, root: str) -> None:
        self.args = args
        self.root = root
        self.names = WORKLOADS[args.workload]["queries"]
        self.work = os.path.join(
            root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.reconciled = True
        self.tracer = self.counter = self.status = self.streams = None

    # ---- environment and session

    def prepare_env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )

    def conf(self) -> dict:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            # keep every job, stage and SQL execution of the run in the
            # status stores, so the trace can attribute them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    def setup(self) -> float:
        from h3ron_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="h3ron_spark-perfbench", extra_conf=self.conf())
        secs = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return secs

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def shutdown(self) -> None:
        """Stop the session and the gateway JVM, then wait for the JVM
        and the Python workers it forked to end."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        kids = []
        if self.spark is not None:
            try:
                kids = _descendants(self.jvm_pid())
                self.spark.stop()
            except Exception as e:
                log(f"session stop failed: {e!r}")
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(kids)

    # ---- passes

    def _gc(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()

    def run_query(self, name: str, sf_dir: str, registry, traced: bool) -> float | None:
        """One query through the noop sink; wall seconds, None on failure."""
        self.attempted += 1
        fn = registry[name]
        t0 = time.perf_counter()
        try:
            if not traced:
                fn(self.spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                span = self._traced_query(fn, name, sf_dir)
        except Exception as e:  # a failing query is a reported result
            self.failed += 1
            self.failures.setdefault(name, f"raised {type(e).__name__}: {str(e)[:200]}")
            return None
        wall = time.perf_counter() - t0
        if traced:
            # wall time taken outside the spans, which the spans must
            # account for (see layer_metrics)
            span["wall_s"] = wall
        return wall

    def _traced_query(self, fn, name: str, sf_dir: str) -> dict:
        tr, counter = self.tracer, self.counter
        with tr.span("query", query=name) as q:
            counter.active = True
            try:
                with tr.span("build"):
                    df = fn(self.spark, sf_dir)
            finally:
                counter.active = False
            with tr.span("plan") as p:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                p["phases_ms"] = {
                    k: v["endTimeMs"] - v["startTimeMs"]
                    for k, v in self.status.to_json(qe.tracker().phases()).items()
                }
            counter.active = True
            try:
                with tr.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
            finally:
                counter.active = False
            q["py4j_calls"] = counter.count
        return q

    def run_pass(self, kind: str, sf_dir: str, registry, traced: bool = False) -> dict:
        self._gc()
        per_query = {}
        if traced:
            self.tracer.active = True
            self.counter.count = 0
            codegen0, sql0 = self.status.codegen_compiles(), self.status.sql_count()
        t0 = time.perf_counter()
        ctx = self.tracer.span("pass", kind=kind) if traced else contextlib.nullcontext()
        with ctx as span:
            for name in self.names:
                per_query[name] = self.run_query(name, sf_dir, registry, traced)
        total = time.perf_counter() - t0
        if traced:
            self.tracer.active = False
            self.status.drain()
            span["py4j_calls"] = self.counter.count
            span["codegen"] = self.status.codegen_compiles() - codegen0
            span["sql_range"] = (sql0, self.status.sql_count())
            span["drained"] = time.time()
            span["wall_s"] = total
        return {"kind": kind, "total": total, "queries": per_query, "span": span}

    # ---- main flows

    def execute(self) -> dict:
        import bench  # the steal and loadavg stamps are bench.py's

        from h3ron_spark import queries as Q

        args = self.args
        self.prepare_env()
        stamp0 = {"loadavg": list(os.getloadavg()), "cpu": bench._cpu_times()}
        sf_dir = datagen.generate(os.path.join(self.work, "data"), args.seed)
        registry, oracles = Q.queries(), Q.oracles()
        unknown = [n for n in self.names if n not in registry]
        if unknown:
            raise SystemExit(f"unknown queries in workload: {unknown}")

        setup_s = self.setup()
        log(f"setup_s: {setup_s:.3f}")
        if args.trace:
            self.install_tracing()

        codegen0 = self.status.codegen_compiles() if args.trace else 0
        t_check = time.perf_counter()
        check_failures, first = check_outputs(self.spark, registry, oracles, self.names, sf_dir)
        t_check = time.perf_counter() - t_check
        first_codegen = self.status.codegen_compiles() - codegen0 if args.trace else 0
        self.attempted += len(self.names)
        self.failed += len(check_failures)
        for name, why in check_failures.items():
            self.failures.setdefault(name, why)

        passes = max(MIN_WARM_PASSES, round(args.seconds / WORKLOADS[args.workload]["nominal_pass_s"]))
        warm, traced = [], []
        for i in range(passes):
            # a traced run makes the same passes, every second one traced
            if args.trace and i % 2:
                traced.append(self.run_pass("traced", sf_dir, registry, traced=True))
            else:
                warm.append(self.run_pass("warm", sf_dir, registry))

        rss_mb = _vm_hwm_kb(self.jvm_pid()) / 1024.0
        self._gc()
        rt = self.spark._jvm.java.lang.Runtime.getRuntime()
        live_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "queries": self.names,
            "setup_s": setup_s,
            "first_pass_queries_s": first,
            "check_s": t_check,
            "driver_peak_rss_mb": rss_mb,
            "driver_live_heap_mb": live_mb,
            "warm_pass_s": [p["total"] for p in warm],
            "warm_queries_s": {
                n: [p["queries"][n] for p in warm] for n in self.names
            },
            "stamp": {
                "loadavg_start": stamp0["loadavg"],
                "loadavg_end": list(os.getloadavg()),
                "steal_pct": bench._steal_pct(stamp0["cpu"], bench._cpu_times()),
            },
        }
        if args.trace:
            metrics, trace_detail = self.layer_metrics(sf_dir, args.seed, first_codegen, warm, traced)
            detail.update(trace_detail)
        else:
            metrics = self.end_to_end(setup_s, first, warm, detail)
        detail["failed_frac"] = self.failed / max(1, self.attempted)
        detail["failures"] = self.failures
        return {"metrics": metrics, "detail": detail}

    def end_to_end(self, setup_s, first, warm, detail) -> dict:
        samples = [t for p in warm for t in p["queries"].values() if t is not None]
        # detail only (see METRICS.md); None when too few queries
        # succeeded for the figure
        tail = stats.tail_percentile(samples)
        detail["query_samples"] = len(samples)
        detail["query_p50_s"] = statistics.median(samples) if samples else None
        detail["query_tail_percentile"], detail["query_tail_s"] = tail or (None, None)
        values = {
            "setup_s": setup_s,
            "first_pass_s": sum(t for t in first.values() if t is not None),
            "pass_s": statistics.median([p["total"] for p in warm]),
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    # ---- tracing

    def install_tracing(self) -> None:
        self.tracer = T.Tracer()
        T.install_layer_wrappers(self.tracer)
        self.counter = T.Py4jCounter(self.spark)
        self.status = T.JvmStatus(self.spark)
        self.streams = T.StreamProgress()

    def layer_metrics(self, sf_dir, seed, first_codegen, warm, traced):
        tr, status = self.tracer, self.status
        status.drain()
        jobs, stages = status.jobs(), status.stages()
        spans = tr.spans
        by_parent: dict = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def descendants(span):
            out, todo = [], [span]
            while todo:
                for c in by_parent.get(todo.pop()["id"], []):
                    out.append(c)
                    todo.append(c)
            return out

        per_pass, layer_seconds = [], []
        for p in traced:
            ps = p["span"]
            sub = descendants(ps)
            m = {name: 0.0 for name in PER_LAYER}
            builds = [s for s in sub if s["name"] == "build"]
            m["queries.build_s"] = sum(s["end"] - s["start"] for s in builds)
            m["queries.build_jobs"] = float(sum(
                1 for j in jobs for b in builds if T.in_window(j["submissionTime"], b["start"], b["end"])
            ))
            m["driver.py4j_calls"] = float(ps["py4j_calls"])
            layer_s = dict.fromkeys(LAYER_SHARES, 0.0)
            for s in sub:
                if s["name"] == "plan":
                    m["plan.analyze_s"] += s["phases_ms"].get("analysis", 0) / 1e3
                    m["plan.optimize_s"] += s["phases_ms"].get("optimization", 0) / 1e3
                elif s["name"] == "execute":
                    m["exec.wall_s"] += s["end"] - s["start"]
                elif s["name"] in layer_s:
                    layer_s[s["name"]] += s["end"] - s["start"]
            m["codegen.compiles_warm"] = float(ps.get("codegen", 0))
            m["scheduler.jobs"] = float(sum(
                1 for j in jobs if T.in_window(j["submissionTime"], ps["start"], ps["end"])
            ))
            m.update(T.summarize_stages(
                [s for s in stages if T.in_window(s.get("submissionTime"), ps["start"], ps["end"])]
            ))
            lo, hi = ps["sql_range"]
            m.update(T.summarize_sql(status.sql_node_metrics(lo, hi - lo)))
            batches = [b for b in self.streams.batches if ps["start"] <= b["time"] <= ps["drained"]]
            m["streaming.batches"] = float(len(batches))
            layer_s["streaming.batch"] = sum(
                b["duration_ms"].get("triggerExecution", 0) for b in batches
            ) / 1e3
            layer_s["streaming.commit"] = sum(
                b["duration_ms"].get("walCommit", 0) + b["duration_ms"].get("commitOffsets", 0)
                for b in batches
            ) / 1e3
            for name, secs in layer_s.items():
                m[name + "_share"] = secs / p["total"]
            layer_seconds.append(layer_s)
            per_pass.append(m)

        metrics = {name: statistics.fmean(m[name] for m in per_pass) for name in PER_LAYER}
        metrics["codegen.compiles"] = float(first_codegen)
        metrics.update(T.kernel_ns_per_cell(os.path.join(sf_dir, "events.parquet"), seed))
        # the first warm pass still warms up the noop-sink plans, so the
        # traced passes are compared with the untraced ones after it
        metrics["trace.overhead_s"] = statistics.median(
            [p["total"] for p in traced]
        ) - statistics.median([p["total"] for p in warm[1:] or warm])
        # Reconcile the spans with wall time taken outside them: each
        # query's build/plan/execute children against run_query's own
        # clock, each pass's query spans against the pass total. Every
        # wrapped layer span must sit inside a registry call.
        shares = {}
        for s in spans:
            if "wall_s" in s:
                key = s.get("query", s["name"])
                share = stats.unaccounted_share(s, spans, s["wall_s"])
                shares[key] = max(share, shares.get(key, 0.0))
        layer_names = {span for _, _, span in T.LAYER_FUNCTIONS}
        by_id = {s["id"]: s for s in spans}
        misnested = sum(
            1 for s in spans
            if s["name"] in layer_names
            and by_id.get(s["parent"], {}).get("name") not in layer_names | {"build"}
        )
        metrics["trace.unaccounted_max"] = max(shares.values()) if shares else 0.0
        if metrics["trace.unaccounted_max"] > stats.RECONCILE_MARGIN or misnested:
            self.reconciled = False
            self.failures["trace"] = (
                f"spans leave {metrics['trace.unaccounted_max']:.1%} of a wall time "
                f"unaccounted (margin {stats.RECONCILE_MARGIN:.0%}); "
                f"{misnested} layer spans outside a registry call"
            )

        selfs = stats.self_times(spans)
        self_by_name: dict[str, float] = {}
        for s in spans:
            self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + selfs[s["id"]]
        out_dir = os.path.join(self.root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(out_dir, f"spans-{self.args.workload}-s{seed}.json")
        with open(spans_path, "w") as f:
            json.dump({"spans": spans, "stream_batches": self.streams.batches}, f)
        detail = {
            "traced_pass_s": [p["total"] for p in traced],
            "layer_s": layer_seconds,
            "span_self_s": self_by_name,
            "reconcile_margin": stats.RECONCILE_MARGIN,
            "reconciled": self.reconciled,
            "unaccounted_by_span": shares,
            "misnested_layer_spans": misnested,
            "spans_file": os.path.relpath(spans_path, self.root),
        }
        return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}, detail


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _vm_hwm_kb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    raise RuntimeError("VmHWM not found")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "h3ron_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(root, "bench.py")
    ):
        log("perfbench: run from the root of an h3ron_spark source checkout")
        return 2
    sys.path.insert(0, root)

    run = Run(args, root)
    t0 = time.perf_counter()
    try:
        out = run.execute()
    finally:
        t1 = time.perf_counter()
        run.shutdown()
        shutil.rmtree(run.work, ignore_errors=True)
        log(f"perfbench: run {t1 - t0:.1f} s, shutdown {time.perf_counter() - t1:.1f} s")
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass
    detail = out["detail"]
    log(f"perfbench detail: {json.dumps(detail, default=str)}")
    for name, m in out["metrics"].items():
        log(f"  {name:36s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": run.failed == 0 and run.reconciled,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out["metrics"],
    }, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
