"""Routed-read latency probe (r13, VERDICT r12 task 6).

Serving regressions need to be attributable the way plan drift is —
per ROUTE, not per benchmark sweep. For each special exact family
(C19 count-distinct, C20 quantiles, C21 top-k, C22 dispersion, C23
minN/maxN, C24 topN-by-sort) plus the plain and MIXED paths, measure:

- ``route_us``   — the router's metadata-only decision (median of
                   200 calls; zero Spark jobs by construction — the
                   probe asserts sc.statusTracker job count is flat);
- ``serve_ms``   — warm-cube answer latency: ``router.execute`` →
                   ``collect()`` wall time, median of 7 after 2
                   warmups (cube cells cached, so this is serving
                   overhead: plan construction + rollup + driver
                   fetch, not I/O).

Usage:
    python tools/latency_probe.py [sf_dir] [out_json]

Defaults: sf_dir=/root/testdata/sf0.1, out_json=LATENCY_PROBE.json.
Run IDLE (measurement protocol: ±15% machine variance; this probe is
for trend attribution, not absolute grading).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median_wall(fn, n, warmup=0):
    for _ in range(warmup):
        fn()
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "LATENCY_PROBE.json"

    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.plans.router import AggregateRequest
    from mongo_olap_spark.session import get_spark
    from mongo_olap_spark.sources.tables import load_table

    spark = get_spark("latency-probe", shuffle_partitions=32)
    root = tempfile.mkdtemp(prefix="latency_probe_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    engine = OlapEngine(spark, root)
    events = load_table(spark, sf_dir, "events").cache()
    events.count()

    # serving cubes: one plain, one two-level over user_id (C19/C21/
    # C23/C24 payloads), one two-level over value (C20), dispersion
    # partials on the plain cube (C22)
    engine.create_cube(CubeSpec(
        name="lp_plain", source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("n", "count"), Measure("total", "sum", "value"),
                  Measure("sd", "stddev_samp", "value"),
                  Measure("lo_v", "min", "value"))), events)
    engine.create_cube(CubeSpec(
        name="lp_user2l", source="events",
        dimensions=(Dimension("event_type"), Dimension("user_id")),
        measures=(Measure("n", "count"),)), events)
    engine.create_cube(CubeSpec(
        name="lp_value2l", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("n", "count"),)), events)
    # C24 needs BOTH the sort and payload columns as raw dims
    engine.create_cube(CubeSpec(
        name="lp_sortpay2l", source="events",
        dimensions=(Dimension("event_type"), Dimension("value"),
                    Dimension("user_id")),
        measures=(Measure("n", "count"),)), events)

    reqs = {
        "plain": AggregateRequest(
            source="events", group_by=("event_type",),
            measures=(("n", "count"), ("total", "sum", "value"))),
        "C19_count_distinct": AggregateRequest(
            source="events", group_by=("event_type",),
            measures=(("nu", "count_distinct", "user_id"),)),
        "C20_quantile": AggregateRequest(
            source="events", group_by=("event_type",),
            measures=(("p50", "quantile_exact", "value", 0.5),)),
        "C21_topn": AggregateRequest(
            source="events", group_by=("event_type",),
            measures=(("top", "topn", "user_id", 3),)),
        "C22_stddev": AggregateRequest(
            source="events", group_by=("event_type",),
            measures=(("sd", "stddev_samp", "value"),)),
        "C23_min_n": AggregateRequest(
            source="events", group_by=("event_type",),
            measures=(("lo", "min_n", "user_id", 2),)),
        "C24_top_by": AggregateRequest(
            source="events", group_by=("event_type",),
            measures=(("tb", "top_by", "value", "user_id", 2),)),
    }
    mixed_pipeline = [{"$group": {
        "_id": {"et": "$event_type"},
        "med": {"$median": {"input": "$value"}},
        "n": {"$sum": 1},
        "lo": {"$min": "$value"}}}]

    sc = spark.sparkContext
    results: dict = {}
    for fam, req in reqs.items():
        decision = engine.router.route(req)
        jobs_before = len(sc.statusTracker().getJobIdsForGroup() or [])
        route_s = _median_wall(lambda: engine.router.route(req), 200)
        jobs_after = len(sc.statusTracker().getJobIdsForGroup() or [])
        serve_s = _median_wall(
            lambda: engine.router.execute(req).collect(), 7, warmup=2)
        results[fam] = {
            "cube": decision.cube,
            "route_us": round(route_s * 1e6, 1),
            "route_spawned_jobs": jobs_after != jobs_before,
            "serve_ms": round(serve_s * 1e3, 2),
        }
        print(f"{fam:22s} cube={decision.cube!s:12s} "
              f"route={results[fam]['route_us']:8.1f}us "
              f"serve={results[fam]['serve_ms']:8.2f}ms", flush=True)

    # mixed path: explain() is the metadata-only decision surface
    exp_s = _median_wall(
        lambda: engine.explain("events", mixed_pipeline), 50)
    serve_s = _median_wall(
        lambda: engine.query_pipeline(
            "events", mixed_pipeline, source_df=events).collect(),
        7, warmup=2)
    info = engine.explain("events", mixed_pipeline)
    results["mixed"] = {
        "cubes": info["route"].get("cubes"),
        "route_us": round(exp_s * 1e6, 1),
        "serve_ms": round(serve_s * 1e3, 2),
    }
    print(f"{'mixed':22s} cubes={results['mixed']['cubes']} "
          f"route={results['mixed']['route_us']:8.1f}us "
          f"serve={results['mixed']['serve_ms']:8.2f}ms", flush=True)

    payload = {"sf_dir": sf_dir, "rows": events.count(),
               "routes": results}
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({"metric": "latency_probe", "out": out_path,
                      "families": len(results)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
