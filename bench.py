"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries are consumed with a noop sink (full materialization, no
driver collect) so the measurement is the distributed plan, not
toPandas serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from h3ron_spark import queries as Q  # noqa: E402
from h3ron_spark.session import get_spark  # noqa: E402

# Headline benchmark queries (subset of the registry; grows per round).
# geo_* map to BASELINE.md's B1-B6 reference workloads.
BENCH_QUERIES = [
    "rel_pricing_summary",
    "rel_top_revenue_orders",
    "rel_nation_order_stats",
    "rel_event_sessions",
    "rel_supplier_part_pricing",
    "h3_bits_accessors",
    "h3_parent_rollup",
    "h3_compact_dataframe",
    "h3_uncompact_join",
    "geo_cell_rollup",      # B1 index-agg
    "geo_disk_explode",     # B2 disk-explode
    "geo_compact_events",   # B3 compact
    "geo_polyfill_filter",  # B4 polyfill-filter
    "geo_route_line",       # B5 route
    "geo_raster_cells",     # B6 raster
    "text_document_stats",
    "text_quality_by_source",
    "text_token_counts",
    "dedup_exact",
    "dedup_paragraphs",
    "text_decontaminate",
    "text_vocab_topk",
    "text_unigram_logprob",
    "pipeline_pack_sequences",
    "pipeline_mixture_epoch",
    "pipeline_quality_gate",
    "dedup_minhash_lsh",
    "dedup_minhash_clusters",
    "dedup_embedding_clusters",
    "dedup_substring_spans",
    "dedup_substring_coverage",
    "rel_events_asof",
    "rel_event_funnel",
    "rel_event_anomalies",
    "rel_events_rolling_window",
    "rel_pricing_cube",
    "pipeline_curated_sink",
    "text_tfidf_keywords",
    "text_quality_classifier",
    "text_source_divergence",
    "text_bigram_logprob",
    "pipeline_corpus_curation",
    "ann_topk_cosine",
    "ann_blocked_exact_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank",
    "ann_ivf_sampled_topk",
    "dedup_embedding_cosine",
    "sketch_hll_distinct",
    "pipeline_weighted_sample",
    "dedup_source_overlap",
    "sketch_hll_merged",
    "text_cms_heavy_hitters",
    "rel_range_join",
    "rel_skew_salted_topk",
    "sketch_bloom_decontaminate",
    "mm_jpeg_decode",
    "sketch_hdr_quantiles",
    "stream_hll_distinct",
    "rel_zorder_scan",
    "mm_avi_decode",
    "mm_frame_features",
    "rel_events_json",
    "rel_events_variant",
    "rel_event_pivot",
    "sketch_kmv_setops",
    "pipeline_drift_report",
    "geo_trajectory_similarity",
    "dedup_editdistance_join",
    "geo_stay_detection",
    "text_redact_pii",
    "text_chunk_documents",
    "rel_events_gapfill",
    "graph_pagerank",
    "graph_triangles",
    "pipeline_incremental_rollup",
    "rel_scd2_history",
    "rel_cohort_retention",
    # beyond-broadcast SSSP: 5.76M-edge synthetic torus (1200^2 x 4
    # directions at sf>=0.1) — the regime where the broadcast
    # Dijkstra's collected adjacency would be several GiB
    "graph_sssp_frontier",

]

# The reference's own route_germany benchmark (BASELINE.md row 1) on
# its committed 312k-edge graph file — included when its input is
# present.
if "golden_germany_route" not in Q.unavailable():
    BENCH_QUERIES.append("golden_germany_route")

# The B1-B6 baseline workloads PLUS the top-10 wall-time queries
# (VERDICT r8 #1): every round record carries a GC-fenced isolated
# floor for these alongside the in-suite minimum (see the floors
# pass in main()); BASELINE.md geomean comparisons use floor vs
# floor. The r8 driver capture (loadavg 7.9 at start) inflated
# untouched queries 1.4-5x non-uniformly — with floors only on
# B1-B6, the other 77 queries had no noise-immune number in the
# artifact and the round's perf adjudication fell back to builder
# re-measures. Floors + per-floor loadavg stamps make the committed
# BENCH_r{N}.json self-adjudicating for every headline row.
FLOOR_QUERIES = [
    "geo_cell_rollup",      # B1
    "geo_disk_explode",     # B2
    "geo_compact_events",   # B3
    "geo_polyfill_filter",  # B4
    "geo_route_line",       # B5
    "geo_raster_cells",     # B6
    # top-10 wall-time rows of the r8 capture (VERDICT r8 #2 list)
    "dedup_editdistance_join",
    "mm_jpeg_decode",
    "ann_ivfpq_rerank",
    "stream_hll_distinct",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "graph_sssp_frontier",
    "graph_pagerank",
    "sketch_bloom_decontaminate",
]
if "golden_germany_route" in BENCH_QUERIES:
    FLOOR_QUERIES.append("golden_germany_route")


def _cpu_times() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat, or None off-Linux.
    CPU steal is the one co-tenant signal self-load cannot pollute:
    loadavg during a local[32] capture reads 5-13 from the bench's
    OWN executors (see BASELINE.md round 9), but steal ticks only
    accrue when the hypervisor runs someone else on our cores."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # denominator: user..steal only (first 8 fields) — guest and
        # guest_nice are already folded into user/nice by the kernel,
        # so summing them again would double-count guest time and
        # understate steal_pct on hosts running VMs (ADVICE r9)
        return steal, sum(vals[:8])
    except Exception:
        return None


def _steal_pct(before, after) -> float | None:
    if before is None or after is None:
        return None
    dt = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / dt, 2) if dt > 0 else None


# A floor whose steal stamp exceeds this is co-tenant-contaminated by
# the pinned adjudication protocol (BASELINE.md round 9: clean rounds
# stamp <= ~0.4%; the r10 driver capture's bad floors stamped 1-5.5%).
DEGRADED_STEAL_PCT = 0.5


def degraded_floor_reasons(
    name: str,
    floors: dict[str, float],
    suite_best: dict[str, float],
    floor_steal: dict[str, float],
) -> list[str]:
    """Why a floor is NOT a trustworthy per-query minimum (VERDICT r9
    #3 / r10 #3): "inverted" = the GC-fenced isolated floor came out
    ABOVE the same query's in-suite minimum, which is definitionally
    machine noise (the floor protocol only removes noise sources);
    "steal" = the hypervisor ran a co-tenant on our cores during the
    measurement. BENCH_r10.json carried 7 inverted floors — one a
    paper 2.06x vs baseline — with the adjudication living only in
    prose; this flag puts it in the artifact itself."""
    reasons = []
    f = floors.get(name)
    if f is not None and name in suite_best and f > suite_best[name]:
        reasons.append("inverted")
    st = floor_steal.get(name)
    if st is not None and st > DEGRADED_STEAL_PCT:
        reasons.append("steal")
    return reasons


def _measure_floor(spark, registry, name, sf_dir):
    """One GC-fenced min-of-2 floor measurement with loadavg + steal
    stamps. Returns (floor_sec, loadavg1, steal_pct|None); raises on
    query failure (caller decides whether that discards the floor)."""
    try:
        spark._jvm.System.gc()
    except Exception:
        pass
    load = round(os.getloadavg()[0], 1)
    cpu0 = _cpu_times()
    fbest = None
    for _ in range(2):
        t0 = time.perf_counter()
        registry[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        fbest = dt if fbest is None else min(fbest, dt)
    return fbest, load, _steal_pct(cpu0, _cpu_times())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="h3ron_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = Q.queries()

    bench_queries = BENCH_QUERIES
    # scale runs (BASELINE.md sf1 table) pick their own subset
    override = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if override:
        bench_queries = [q.strip() for q in override.split(",") if q.strip()]
        unknown = [q for q in bench_queries if q not in registry]
        if unknown:
            # fail loudly: a silently dropped name would record a
            # partial total that reads as a complete scale run
            raise SystemExit(f"unknown bench queries: {unknown}")
    timings: dict[str, float] = {}
    # three runs per query, report the min: the first execution of
    # each plan shape is dominated by Catalyst analysis + whole-stage
    # codegen JIT (measured up to 4x the steady-state on small SFs) —
    # a long-lived cluster session pays that once, so steady-state is
    # the number that scales — and min-of-3 additionally shields the
    # official record from co-tenant machine noise (r2 recorded a
    # 2.4x outlier on geo_route_line whose isolated steady-state was
    # FASTER than the r1 baseline)
    # INTERLEAVED passes (suite x runs, not query x runs): r3 showed
    # three back-to-back runs of one query can all land inside the
    # same co-tenant noise window — full-suite passes spread each
    # query's samples minutes apart, so the per-query min is a real
    # steady-state floor
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    loadavg_start = list(os.getloadavg())
    cpu_start = _cpu_times()
    best: dict[str, float] = {}
    pass_totals: list[float] = []
    for _ in range(max(1, runs)):
        # pass-boundary GC hint (measurement hygiene, OUTSIDE any
        # per-query timer): the r7 fixture de-thinning made one
        # mid-suite query allocate ~13M join rows, and the resulting
        # old-gen fragmentation carried into LATER passes' timings of
        # unrelated early-suite queries (geo_disk_explode measured
        # 3.4 s in-suite vs 1.7 s isolated, reproducibly). Collecting
        # at the pass seam lets min-of-N approximate each query's
        # steady state instead of its neighbors' garbage.
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        pass_t0 = time.perf_counter()
        for name in bench_queries:
            if name not in registry:
                continue
            fn = registry[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if name not in best or dt < best[name]:
                best[name] = dt
        pass_totals.append(round(time.perf_counter() - pass_t0, 3))
    for name, dt in best.items():
        timings[name] = round(dt, 3)

    # isolated floors for the B1-B6 headliners (VERDICT r7 "Next
    # round" #4): in-suite minimums still read up to ~1.6x the
    # per-query floor when a GC-heavy neighbor ran earlier in the
    # pass (geo_disk_explode 2.77 in-suite vs 1.74 isolated, r7), so
    # regression detection needs floor-to-floor numbers IN the round
    # record. Measured after the interleaved passes (plans warm),
    # each query GC-fenced and min-of-2 — the same protocol as the
    # r7 dedicated idle floor run. Skipped on subset overrides (those
    # are debug/scale runs with their own protocol).
    floors: dict[str, float] = {}
    floor_load: dict[str, float] = {}
    floor_steal: dict[str, float] = {}
    floor_degraded: dict[str, list[str]] = {}
    if not override:
        for name in FLOOR_QUERIES:
            if name not in registry:
                continue
            # per-floor 1-min loadavg stamp (VERDICT r8 #2): a floor
            # taken at load 8 is not comparable to one taken at load
            # 0.4 — the stamp makes each number self-describing.
            # NOTE self-load: after the interleaved passes the
            # bench's own executors keep this in a ~5-13 band even
            # on an idle box — the steal stamp is the unpolluted
            # co-tenant signal.
            # per-floor try/except (ADVICE r8): a transient failure
            # in ONE floor measurement (executor loss after the long
            # suite) must not discard the completed suite timings —
            # record the floors that succeeded and keep going
            try:
                fbest, load, st = _measure_floor(spark, registry, name, sf_dir)
            except Exception as exc:  # noqa: BLE001
                print(f"floor {name} failed: {exc!r}", file=sys.stderr)
                continue
            floors[name] = round(fbest, 3)
            floor_load[name] = load
            if st is not None:
                floor_steal[name] = st

        # degraded-floor retry (VERDICT r9 #3 / r10 #3): a floor that
        # came out above its own in-suite minimum, or under >0.5%
        # hypervisor steal, was measured in a bad window — re-measure
        # it ONCE after the rest of the floors pass (minutes later, a
        # different co-tenant window) and keep the better number with
        # the stamps of the run that produced it.
        for name in [n for n in floors
                     if degraded_floor_reasons(n, floors, timings,
                                               floor_steal)]:
            try:
                fbest, load, st = _measure_floor(spark, registry, name, sf_dir)
            except Exception as exc:  # noqa: BLE001
                print(f"floor retry {name} failed: {exc!r}", file=sys.stderr)
                continue
            if fbest < floors[name]:
                floors[name] = round(fbest, 3)
                floor_load[name] = load
                if st is not None:
                    floor_steal[name] = st
                else:
                    floor_steal.pop(name, None)

        # whatever is STILL degraded after the retry is flagged in the
        # artifact itself — no more unflagged inverted floors
        # adjudicated in prose (BENCH_r10.json shipped 7, one of them
        # a paper 2.06x vs baseline)
        floor_degraded = {
            n: r for n in floors
            if (r := degraded_floor_reasons(n, floors, timings, floor_steal))
        }

    # machine-state self-documentation (VERDICT r5 "Next round" #4):
    # loadavg before/after bounds co-tenant contention during the
    # capture, and pass-1-vs-best flags a cold start — so a 105-vs-90
    # discrepancy between two captures is adjudicable from the
    # artifact alone, without a judge re-run
    best_total = sum(best.values())
    machine = {
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "pass_totals": pass_totals,
        # None (json null) when only one pass ran: a single pass has
        # no warm floor to compare against, so every timing in it is
        # a first-execution number and the flag would otherwise read
        # "warm" in exactly the capture it matters most for
        "cold_start": (
            bool(best_total > 0 and pass_totals[0] > 1.5 * best_total)
            if len(pass_totals) > 1
            else None
        ),
        # noisy-capture self-description (VERDICT r8 #7): a capture
        # started on a loaded box (loadavg > 2) is flagged in the
        # artifact itself, so a future BENCH_r{N}.json taken co-tenant
        # is adjudicated as such without a judge re-run
        "noisy": bool(loadavg_start[0] > 2.0),
    }
    # hypervisor steal over the WHOLE capture: >1-2% sustained means
    # a co-tenant VM held our cores and wall times are inflated
    # regardless of how idle loadavg looked at the start
    steal = _steal_pct(cpu_start, _cpu_times())
    if steal is not None:
        machine["steal_pct"] = steal
    result = build_result(
        timings,
        sf,
        machine=machine,
        floors=floors,
        floor_load=floor_load,
        floor_steal=floor_steal,
        floor_degraded=floor_degraded,
    )
    # stop Spark BEFORE printing: nothing (progress bars, shutdown
    # warnings) may land on the stream after the JSON lines, because
    # the driver records only the LAST ~2000 chars of output
    spark.stop()

    # full record -> BENCH_LAST.local.json (authoritative;
    # BENCH_r04.json proved the 81-query dict cannot fit the driver's
    # 2000-char tail capture: the query names alone are 1.5k chars).
    # The path is UNTRACKED by design (VERDICT r6: every capture —
    # builder, driver, judge — clobbers the last one, so a committed
    # copy sat permanently "modified" in git status; only the
    # per-round BENCH_r{N}.json records belong in history). Subset
    # runs (SPARK_GRAFT_BENCH_QUERIES debug/scale overrides) must not
    # clobber the official full-suite record.
    if not override:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LAST.local.json"), "w") as f:
            json.dump(result, f)

    # full line first (complete in any un-clipped log), then — as the
    # FINAL line — a compact JSON guaranteed to fit the tail capture
    print(json.dumps(result))
    print(json.dumps(build_compact(result), separators=(",", ":")))


# B1-B6 + graph headliners lead the compact line; the remaining slots
# go most-expensive-first (the rows a perf reviewer looks at first)
COMPACT_PRIORITY = [
    "geo_cell_rollup", "geo_disk_explode", "geo_compact_events",
    "geo_polyfill_filter", "geo_route_line", "geo_raster_cells",
    "golden_germany_route", "graph_sssp_frontier", "graph_pagerank",
]
COMPACT_BUDGET = 1800  # chars; driver tail capture holds ~2000
# The per-query dict is the driver's ONLY perf signal (PERF_r{N}.json
# diffs it): r11's noisy capture carried 16 floor_degraded entries,
# the fixed fields ate the budget, and only 3 query rows survived —
# the driver then reported 20 phantom "dropped_from_bench" rows
# (VERDICT r11 "What's wrong" #1). Guarantee at least this many rows
# by shedding floor stamps (all live complete in BENCH_LAST.local.json
# and the committed official artifact) before shrinking the dict.
COMPACT_MIN_QUERY_ROWS = 20


def build_result(
    timings: dict[str, float],
    sf: str,
    machine: dict | None = None,
    floors: dict | None = None,
    floor_load: dict | None = None,
    floor_steal: dict | None = None,
    floor_degraded: dict | None = None,
) -> dict:
    result = {
        "metric": "h3ron_spark_bench_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if machine:
        result["machine"] = machine
    if floors:
        result["floors"] = floors
    if floor_load:
        # 1-min loadavg stamped immediately before each floor's
        # measurement — floors are only comparable floor-to-floor
        # when both stamps are idle-range (VERDICT r8 #2)
        result["floor_load"] = floor_load
    if floor_steal:
        # hypervisor steal%% measured ACROSS each floor (the
        # co-tenant signal loadavg cannot give on a box the bench
        # itself saturates) — full record only; the compact line
        # carries the capture-wide machine.steal_pct
        result["floor_steal"] = floor_steal
    if floors:
        # ALWAYS present when floors are (possibly {} = "every floor
        # clean"): name -> ["inverted" and/or "steal"] for floors that
        # are still bad after their one retry window. A reader of the
        # artifact no longer needs prose to know which floor rows are
        # machine-state (VERDICT r9 #3 / r10 #3).
        result["floor_degraded"] = dict(floor_degraded or {})
    return result


def build_compact(result: dict) -> dict:
    """Compact sibling of the full result: same schema, queries filled
    in priority order under a hard serialized-size budget so the final
    stdout line always survives a bounded tail capture intact."""
    timings = result["queries"]
    ordered = [n for n in COMPACT_PRIORITY if n in timings] + sorted(
        (n for n in timings if n not in COMPACT_PRIORITY),
        key=lambda n: -timings[n],
    )
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        "n_queries": len(timings),
        "queries_file": "BENCH_LAST.local.json",
        "queries": {},
    }
    if "machine" in result:
        compact["machine"] = result["machine"]
    if "floors" in result:
        compact["floors"] = result["floors"]
    if "floor_load" in result:
        compact["floor_load"] = result["floor_load"]
    if "floor_degraded" in result:
        # the degraded flags ride in the tail-captured line too — the
        # driver's BENCH_r{N}.json records only the compact line, and
        # an unflagged inverted floor THERE is exactly the r10 failure
        compact["floor_degraded"] = result["floor_degraded"]
    # Fill the query dict under the budget; if fewer than
    # COMPACT_MIN_QUERY_ROWS rows fit, shed the next floor-stamp field
    # and refill. Shed order: loadavg stamps first (lowest adjudication
    # value), then floors, then the degraded flags — all three live
    # complete in BENCH_LAST.local.json and the committed per-round
    # official artifact; the per-query dict exists ONLY here, so it
    # wins the budget fight (VERDICT r11 #1: 16 degraded flags starved
    # it to 3 rows and the driver diffed 20 phantom drops).
    target = min(COMPACT_MIN_QUERY_ROWS, len(ordered))
    for shed in (None, "floor_load", "floors", "floor_degraded"):
        if shed is not None:
            if shed not in compact:
                continue
            compact.pop(shed)
            if shed == "floor_degraded":
                # keep the contamination signal itself: a reader of a
                # shed compact line must still see HOW MANY floors
                # were bad (the full list is in the untracked/official
                # records)
                n_bad = len(result.get("floor_degraded", {}) or {})
                if n_bad:
                    compact["n_floor_degraded"] = n_bad
        compact["queries"] = {}
        for name in ordered:
            compact["queries"][name] = timings[name]
            if len(json.dumps(compact, separators=(",", ":"))) > COMPACT_BUDGET:
                del compact["queries"][name]
                break
        if len(compact["queries"]) >= target:
            break
    compact["n_shown"] = len(compact["queries"])
    return compact


if __name__ == "__main__":
    main()
