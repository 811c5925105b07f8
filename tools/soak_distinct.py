"""C19 count-distinct + C20 quantile + C21 top-k + C22 dispersion
soak under delete-heavy CDC (round-9 task 4; the C20 histogram, C21
frequent-items and C22 variance measures added same round — the C22
(Σx, Σx², n) partials ride the histogram cube, covered by its
bit-identical-to-rebuild state check).

The two count-distinct routes have opposite maintenance stories:

- **HLL sketch measure** (``op: "distinct"``): union-mergeable under
  inserts, NOT retractable — a batch containing any retraction (update
  pre-image or delete) triggers the bounded repair path
  (``recompute_cells``: touched cells rebuilt from the current source
  state, everything else untouched). Unit-tested, never soaked.
- **Exact two-level cube** (counted column as a dimension): fully
  retractable — signed count partials evict cells at multiplicity 0,
  no rescan ever.

This probe drives BOTH through the same 200-batch phase-structured CDC
as tools/soak_probe.py (60% inserts, 20% updates = −pre/+post pairs,
20% deletes) against the 10x events replica, and checks at every phase
boundary plus periodic checkpoints:

- **exact route**: ``distinct_rollup`` of the maintained cells is
  HASH-EXACT against a from-scratch rebuild at the closed-form state
  for that watermark (``state_at_batch``);
- **HLL route**: per-group estimate within the sketch's 3σ relative
  error envelope (lgk=14 → rsd = 1.04/√2^14 ≈ 0.81%) of the true
  distinct count at that watermark — same envelope the pytest unit
  property uses, now held across 200 maintained batches;
- **C20 histogram route**: maintained cell state bit-identical to
  rebuild (signed bins — deletes maintain with NO repair), median
  estimate within one bin width;
- **C21 topk route**: maintained frequent-items maps equal to rebuild
  at the checkpoint (at this cardinality the 65536 capacity keeps the
  whole soak in the exact regime; retraction batches exercise the
  bounded repair path, since truncation forfeits retraction), and the
  rolled top-3 (items, counts, order) equal to the rebuild's;
- the usual soak invariants: per-phase batch-time slopes ~flat, final
  maintained state equal to rebuild;
- **routed reads (r10, round-9 verdict task 5)**: at every checkpoint
  the probe ALSO answers live requests through the real ``CubeRouter``
  — one per exact two-level family (count_distinct / quantile_exact /
  topn / min_n / top_by) — each hash-equal to a direct aggregation of
  the closed-form net state, and (insert phase only, where the
  un-applied tail is pure inserts) a hybrid ``combine_cells`` lambda
  read asserted hash-equal to a rebuild at the tail watermark. The
  JSON gains a ``routed_reads`` section.
- **pipeline reads (r11, round-10 verdict task 2)**: at every
  checkpoint the probe ALSO answers live PIPELINE requests through
  ``OlapEngine.query_pipeline`` with ``source_df=None`` (serving must
  be metadata-routed or the engine raises): a multi-p ``$percentile``
  and a MIXED-family group ($median + plain $sum:1, the r11
  decomposition), each hash-equal to direct aggregation of the net
  state. The JSON gains a ``pipeline_reads`` section.

Every update batch exercises the repair path too (the −pre rows are
retractions), so the repair machinery runs on ~40% of batches — the
delete-heavy regime the r8 verdict asked for.

Usage:
    python tools/soak_distinct.py [--batches 200] [--factor 10]
        [--src /root/testdata/sf0.1] [--dst /tmp/scale10x]
        [--root /tmp/soak_distinct_root] [--out SOAK_PROBE_DISTINCT.json]

Prints progress lines and ONE final JSON line; exits nonzero if any
invariant fails. Run idle per the repo's measurement protocol.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.soak_probe import (  # noqa: E402
    build_cdc,
    phase_stats,
    rows_digest,
    state_at_batch,
)

LGK = 14
RSD = 1.04 / math.sqrt(2 ** LGK)  # Datasketches HLL relative std err


def hll_truth_check(spark, catalog, name, spec, events, n_batches, k):
    """HLL estimates per event_type vs true distinct at watermark k.
    Returns (worst_rel_err, n_groups, violations)."""
    from mongo_olap_spark.cube.query import query_cube

    est = {
        r["event_type"]: int(r["users"])
        for r in query_cube(
            catalog.cells(name), spec, group_by=["event_type"], measures=["users"]
        ).collect()
    }
    truth = {
        r["event_type"]: int(r["t"])
        for r in state_at_batch(events, n_batches, k)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("t"))
        .collect()
    }
    worst, violations = 0.0, []
    for g, t in truth.items():
        e = est.get(g)
        if e is None:
            violations.append(f"batch{k}: group {g!r} missing from HLL cube")
            continue
        rel = abs(e - t) / max(t, 1)
        worst = max(worst, rel)
        if rel > 3 * RSD:
            violations.append(f"batch{k} {g}: est {e} vs true {t} rel {rel:.4f}")
    return worst, len(truth), violations


def exact_route_check(spark, catalog, name, spec, events, n_batches, k):
    """distinct_rollup of maintained cells vs rebuild at watermark k."""
    from mongo_olap_spark.cube.build import build_cube
    from mongo_olap_spark.cube.query import distinct_rollup

    cols = ["event_type", "n_users", "n"]

    def rollup(cells):
        return distinct_rollup(
            cells, spec, ["event_type"], "user_id", alias="n_users", measures=["n"]
        ).select(*cols)

    got = rows_digest(rollup(catalog.cells(name)), cols)
    want = rows_digest(
        rollup(build_cube(spark, spec, state_at_batch(events, n_batches, k))), cols
    )
    return got == want, got, want


def hist_route_check(spark, catalog, name, spec, events, n_batches, k):
    """C20 histogram quantile: maintained CELL STATE bit-identical to
    rebuild at watermark k (the retractability claim — signed integer
    bins make deletes exact, no repair path), plus the rolled-up median
    estimate within one bin width of the true discrete median."""
    from mongo_olap_spark.cube.build import build_cube
    from mongo_olap_spark.cube.query import query_cube

    cols = spec.cell_columns

    def normalized(cells):
        # stringify the bin array so rows_digest hashes it stably
        return cells.select(
            *spec.dim_names,
            *[
                F.col(c).cast("string").alias(c) if c.endswith("_hist") else F.col(c)
                for c in cols
                if c not in spec.dim_names
            ],
        )

    net = state_at_batch(events, n_batches, k)
    got = rows_digest(normalized(catalog.cells(name)), cols)
    want = rows_digest(normalized(build_cube(spark, spec, net)), cols)
    state_ok = got == want

    m = spec.measure("p50_value")
    bin_w = (float(m.hi) - float(m.lo)) / int(m.nbins)
    est = {
        r["event_type"]: r["p50_value"]
        for r in query_cube(
            catalog.cells(name), spec, group_by=["event_type"], measures=["p50_value"]
        ).collect()
    }
    from pyspark.sql import Window

    e = net.filter(F.col("value").isNotNull())
    truth = {
        r["event_type"]: r["p50"]
        for r in (
            e.withColumn(
                "__cum",
                F.count(F.lit(1)).over(
                    Window.partitionBy("event_type").orderBy("value")
                ),
            )
            .withColumn(
                "__tot", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
            )
            .filter(F.col("__cum") >= F.ceil(F.lit(0.5) * F.col("__tot")))
            .groupBy("event_type")
            .agg(F.min("value").alias("p50"))
        ).collect()
    }
    worst, violations = 0.0, []
    if not state_ok:
        violations.append(f"batch{k}: hist cells {got} != rebuild {want}")
    for g, t in truth.items():
        v = est.get(g)
        if v is None:
            violations.append(f"batch{k}: group {g!r} missing from hist cube")
            continue
        err = abs(v - t)
        worst = max(worst, err)
        if err > bin_w:
            violations.append(f"batch{k} {g}: est {v} vs true {t} err {err:.3f} > {bin_w}")
    return state_ok, worst, violations


def topk_route_check(spark, catalog, name, spec, events, n_batches, k):
    """C21 frequent-items maps: maintained CELL STATE equal to rebuild
    at watermark k (exact regime — nothing truncates at this
    cardinality, and retraction batches go through the bounded repair),
    plus the rolled top-3 (items, counts, order) equal to the
    rebuild's. Maps are normalized to key-sorted entry arrays before
    hashing — map internal order differs between a fresh approx_top_k
    build and a chain of map_zip_with merges."""
    from mongo_olap_spark.cube.build import build_cube
    from mongo_olap_spark.cube.query import query_cube

    cols = spec.cell_columns

    def normalized(cells):
        return cells.select(
            *spec.dim_names,
            *[
                F.array_sort(F.map_entries(F.col(c))).cast("string").alias(c)
                if c.endswith("_tk")
                else F.col(c)
                for c in cols
                if c not in spec.dim_names
            ],
        )

    net = state_at_batch(events, n_batches, k)
    rebuilt = build_cube(spark, spec, net)
    got = rows_digest(normalized(catalog.cells(name)), cols)
    want = rows_digest(normalized(rebuilt), cols)
    state_ok = got == want

    def rolled(cells):
        return {
            r["event_type"]: tuple((e["item"], e["count"]) for e in r["top_users"])
            for r in query_cube(
                cells, spec, group_by=["event_type"], measures=["top_users"]
            ).collect()
        }

    top_ok = rolled(catalog.cells(name)) == rolled(rebuilt)
    violations = []
    if not state_ok:
        violations.append(f"batch{k}: topk cells {got} != rebuild {want}")
    if not top_ok:
        violations.append(f"batch{k}: topk rolled top-3 != rebuild's")
    return state_ok, top_ok, violations


def routed_reads_check(spark, catalog, exact_spec, events, n_batches, k):
    """r10 (round-9 verdict task 5): answer ROUTED requests through
    the real CubeRouter against the LIVE maintained cells at watermark
    k — one request per exact two-level family (count_distinct /
    quantile_exact / topn / min_n / top_by), each asserted hash-equal
    to a direct aggregation of the closed-form net state. The router
    must pick the maintained cube (metadata-only routing), so this
    exercises route() + the serving rollups mid-stream, not just the
    state algebra the other checks cover."""
    from pyspark.sql import Window

    from mongo_olap_spark.plans import AggregateRequest, CubeRouter

    router = CubeRouter(catalog)
    net = state_at_batch(events, n_batches, k)
    nn = net.filter(F.col("user_id").isNotNull())
    violations: list[str] = []

    def routed(measures):
        req = AggregateRequest(
            source="events", group_by=("event_type",), measures=measures)
        decision = router.route(req)
        if decision.cube != exact_spec.name:
            violations.append(
                f"batch{k}: router picked {decision.cube!r} "
                f"({decision.reason}) for {measures}")
            return None
        return router.execute(req)

    # count_distinct (+ count riding along)
    out = routed((("n_users", "count_distinct", "user_id"), ("n", "count")))
    if out is not None:
        cols = ["event_type", "n_users", "n"]
        got = rows_digest(out.select(*cols), cols)
        want = rows_digest(
            nn.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("n_users"),
            ).join(
                net.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
                "event_type",
            ).select(*cols),
            cols,
        )
        if got != want:
            violations.append(f"batch{k}: routed count_distinct {got} != direct {want}")

    # quantile_exact (type-1 median of the discrete user_id values)
    out = routed((("p50_uid", "quantile_exact", "user_id", 0.5),))
    if out is not None:
        cols = ["event_type", "p50_uid"]
        got = rows_digest(out.select(*cols), cols)
        w_cum = Window.partitionBy("event_type").orderBy("user_id")
        w_tot = Window.partitionBy("event_type")
        want = rows_digest(
            nn.withColumn("__cum", F.count(F.lit(1)).over(w_cum))
            .withColumn("__tot", F.count(F.lit(1)).over(w_tot))
            .filter(F.col("__cum") >= F.ceil(F.round(0.5 * F.col("__tot"), 9)))
            .groupBy("event_type").agg(F.min("user_id").alias("p50_uid")),
            cols,
        )
        if got != want:
            violations.append(f"batch{k}: routed quantile_exact {got} != direct {want}")

    # topn (3 most frequent users; count desc, value asc tie-break)
    out = routed((("top_user", "topn", "user_id", 3),))
    if out is not None:
        cols = ["event_type", "top_user", "top_user_cnt", "rank"]
        got = rows_digest(
            out.select("event_type", "top_user", "top_user_cnt",
                       F.col("rank").cast("long").alias("rank")),
            cols,
        )
        c = nn.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.partitionBy("event_type").orderBy(
            F.desc("cnt"), F.asc("user_id"))
        want = rows_digest(
            c.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 3)
            .select("event_type", F.col("user_id").alias("top_user"),
                    F.col("cnt").alias("top_user_cnt"), "rank"),
            cols,
        )
        if got != want:
            violations.append(f"batch{k}: routed topn {got} != direct {want}")

    # min_n (3 smallest user_ids, duplicates kept)
    out = routed((("low_users", "min_n", "user_id", 3),))
    if out is not None:
        cols = ["event_type", "rnk", "u"]
        ex = out.select("event_type", F.posexplode("low_users").alias("pos", "u"))
        got = rows_digest(
            ex.select("event_type", (F.col("pos") + 1).cast("long").alias("rnk"), "u"),
            cols,
        )
        w = Window.partitionBy("event_type").orderBy(F.asc("user_id"))
        want = rows_digest(
            nn.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 3)
            .select("event_type", "rnk", F.col("user_id").alias("u")),
            cols,
        )
        if got != want:
            violations.append(f"batch{k}: routed min_n {got} != direct {want}")

    return violations


def pipeline_reads_check(spark, root, exact_spec, events, n_batches, k):
    """r11 (round-10 verdict task 2): answer PIPELINE-level requests
    through ``OlapEngine.query_pipeline`` against the live maintained
    catalog at watermark k, with ``source_df=None`` — serving must be
    metadata-routed or the engine raises. Two shapes, both landed in
    the r10/r11 routing work:

    - a MULTI-p ``$percentile`` (one routed request, every p answered
      from one window pass over the exact two-level cells);
    - a MIXED-family group (``$median`` + plain ``$sum: 1`` — r11
      decomposition into per-family requests joined on the group
      keys, both parts served by the same maintained two-level cube).

    Each is hash-equal to a direct aggregation of the closed-form net
    state (type-1 discrete quantiles; count over ALL rows incl. null
    user_id, quantiles over non-null — the engine's documented
    semantics)."""
    from pyspark.sql import Window

    from mongo_olap_spark.engine import OlapEngine

    eng = OlapEngine(spark, root)
    net = state_at_batch(events, n_batches, k)
    nn = net.filter(F.col("user_id").isNotNull())
    violations: list[str] = []

    def type1(p, alias):
        w_cum = Window.partitionBy("event_type").orderBy("user_id")
        w_tot = Window.partitionBy("event_type")
        return (
            nn.withColumn("__cum", F.count(F.lit(1)).over(w_cum))
            .withColumn("__tot", F.count(F.lit(1)).over(w_tot))
            .filter(F.col("__cum") >= F.ceil(F.round(p * F.col("__tot"), 9)))
            .groupBy("event_type").agg(F.min("user_id").alias(alias))
        )

    # multi-p percentile pipeline, routed as ONE request
    pipe = [{"$group": {"_id": {"et": "$event_type"},
                        "ps": {"$percentile": {"input": "$user_id",
                                               "p": [0.25, 0.75],
                                               "method": "approximate"}}}}]
    cols = ["event_type", "q1", "q3"]
    try:
        out = eng.query_pipeline("events", pipe)  # source_df=None
        got = rows_digest(
            out.select(F.col("et").alias("event_type"),
                       F.col("ps")[0].alias("q1"),
                       F.col("ps")[1].alias("q3")),
            cols,
        )
        want = rows_digest(
            type1(0.25, "q1").join(type1(0.75, "q3"), "event_type"), cols)
        if got != want:
            violations.append(
                f"batch{k}: pipeline multi-p {got} != direct {want}")
    except Exception as e:  # unroutable = the failure being soaked for
        violations.append(f"batch{k}: pipeline multi-p unserved: {e}")

    # mixed-family pipeline ($median + plain count), decomposed + joined
    pipe = [{"$group": {"_id": {"et": "$event_type"},
                        "med": {"$median": {"input": "$user_id"}},
                        "n": {"$sum": 1}}}]
    cols = ["event_type", "med", "n"]
    try:
        out = eng.query_pipeline("events", pipe)  # source_df=None
        got = rows_digest(
            out.select(F.col("et").alias("event_type"), "med", "n"), cols)
        # LEFT join from the all-rows count to the median CTE (which
        # only has groups with ≥1 non-null user_id): a group whose
        # user_ids are all null at a checkpoint stays in the engine
        # output with med=null and must stay in the oracle too
        # (ADVICE r11 — the old inner join dropped it, producing a
        # spurious violation). Mirrors the q_pipeline_route_mixed
        # oracle's FROM pl p LEFT JOIN med m.
        want = rows_digest(
            net.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
            .join(type1(0.5, "med"), "event_type", "left"),
            cols,
        )
        if got != want:
            violations.append(
                f"batch{k}: pipeline mixed {got} != direct {want}")
    except Exception as e:
        violations.append(f"batch{k}: pipeline mixed unserved: {e}")

    return violations


def topby_read_check(spark, catalog, topby_spec, events, n_batches, k):
    """r10: the top_by family served ROUTED from its own maintained
    two-level cube (sort dim = pmod(user_id, 1000), payload dim =
    user_id — the route requires DISTINCT sort/payload dims by
    design). Hash-equal to a two-key window over the net state."""
    from pyspark.sql import Window

    from mongo_olap_spark.plans import AggregateRequest, CubeRouter

    router = CubeRouter(catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("first_users", "top_by", "pmod(user_id, 1000)", "user_id", 3),),
    )
    decision = router.route(req)
    violations: list[str] = []
    if decision.cube != topby_spec.name:
        violations.append(
            f"batch{k}: router picked {decision.cube!r} "
            f"({decision.reason}) for the top_by request")
        return violations
    out = router.execute(req)
    cols = ["event_type", "rnk", "u"]
    ex = out.select("event_type", F.posexplode("first_users").alias("pos", "u"))
    got = rows_digest(
        ex.select("event_type", (F.col("pos") + 1).cast("long").alias("rnk"), "u"),
        cols,
    )
    nn = state_at_batch(events, n_batches, k).filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.asc(F.pmod(F.col("user_id"), F.lit(1000))), F.asc("user_id"))
    want = rows_digest(
        nn.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "rnk", F.col("user_id").alias("u")),
        cols,
    )
    if got != want:
        violations.append(f"batch{k}: routed top_by {got} != direct {want}")
    return violations


def lambda_read_check(spark, catalog, exact_spec, cdc, events,
                      n_batches, k, ib, tail_len=3):
    """r10: hybrid (lambda) serving mid-stream — combine_cells of the
    LIVE maintained cells at watermark k with a cube built from the
    un-applied tail (the next ``tail_len`` insert batches), rolled
    through distinct_rollup, asserted hash-equal to a direct
    aggregation at watermark k + tail_len. Only meaningful while the
    tail is pure inserts (the insert phase): updates/deletes are
    retractions, which lambda serving by design leaves to the
    maintainer. Returns (checked, violations)."""
    from mongo_olap_spark.cube.build import build_cube
    from mongo_olap_spark.cube.query import combine_cells, distinct_rollup

    if k + tail_len >= ib:
        return False, []
    tail = cdc.filter((F.col("b") > k) & (F.col("b") <= k + tail_len)).drop(
        "mult", "b")
    fresh = combine_cells(
        exact_spec, catalog.cells(exact_spec.name),
        build_cube(spark, exact_spec, tail))
    cols = ["event_type", "n_users", "n"]

    def rollup(cells):
        return distinct_rollup(
            cells, exact_spec, ["event_type"], "user_id",
            alias="n_users", measures=["n"],
        ).select(*cols)

    got = rows_digest(rollup(fresh), cols)
    want = rows_digest(
        rollup(build_cube(
            spark, exact_spec, state_at_batch(events, n_batches, k + tail_len))),
        cols,
    )
    violations = []
    if got != want:
        violations.append(
            f"batch{k}: lambda combine_cells {got} != rebuild@{k + tail_len} {want}")
    return True, violations


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=200)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/scale10x")
    ap.add_argument("--root", default="/tmp/soak_distinct_root")
    ap.add_argument("--check-every", type=int, default=50)
    ap.add_argument("--out", default="SOAK_PROBE_DISTINCT.json")
    args = ap.parse_args()

    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure
    from mongo_olap_spark.cube.catalog import CubeCatalog
    from mongo_olap_spark.session import get_spark
    from mongo_olap_spark.streaming.pipeline import CubeMaintainer
    from tools.scale_probe import synthesize

    spark = get_spark("soak_distinct")
    spark.sparkContext.setLogLevel("ERROR")
    synthesize(spark, args.src, args.dst, args.factor)
    events = spark.read.parquet(os.path.join(args.dst, "events.parquet"))

    hll_spec = CubeSpec(
        name="soak_hll",
        source="events",
        dimensions=(
            Dimension("event_type"),
            Dimension("day", path="ts", granularity="day"),
        ),
        measures=(
            Measure("n", "count"),
            Measure("users", "distinct", "user_id", lgk=LGK),
        ),
    )
    exact_spec = CubeSpec(
        name="soak_exact",
        source="events",
        dimensions=(Dimension("event_type"), Dimension("user_id")),
        measures=(Measure("n", "count"),),
    )
    # C20: fixed-bin histogram quantile — fully retractable (signed
    # bins), so the delete phase maintains incrementally with NO
    # repair path; the soak asserts bit-identical cell state vs
    # rebuild at every checkpoint
    hist_spec = CubeSpec(
        name="soak_hist",
        source="events",
        dimensions=(
            Dimension("event_type"),
            Dimension("day", path="ts", granularity="day"),
        ),
        measures=(
            Measure("n", "count"),
            Measure("p50_value", "quantile", "value", lo=0.0, hi=1000.0, nbins=100),
            # C22 rides the same cube: dispersion partials are signed
            # decimals, so the bit-identical-to-rebuild check below
            # covers their retraction story too
            Measure("var_value", "var_pop", "value"),
        ),
    )

    # r10: the top_by serving cube — the route requires DISTINCT sort
    # and payload dims, so the sort dim is a derived bucket (a pure
    # function of user_id: cardinality ≤ |users|, cells don't multiply)
    topby_spec = CubeSpec(
        name="soak_topby",
        source="events",
        dimensions=(
            Dimension("event_type"),
            Dimension("ubucket", path="pmod(user_id, 1000)"),
            Dimension("user_id"),
        ),
        measures=(Measure("n", "count"),),
    )

    # C21: bounded frequent-items map — 65536 capacity >> the ~15k
    # user cardinality at factor 10, so the whole soak runs in the
    # EXACT regime; retraction batches exercise the repair path
    # (truncation forfeits retraction, same policy as HLL/min-max)
    topk_spec = CubeSpec(
        name="soak_topk",
        source="events",
        dimensions=(
            Dimension("event_type"),
            Dimension("day", path="ts", granularity="day"),
        ),
        measures=(
            Measure("n", "count"),
            Measure("top_users", "topk", "user_id", k=3, max_items=65536),
        ),
    )

    cdc_path = os.path.join(args.dst, f"soak_cdc_b{args.batches}")
    if not os.path.exists(os.path.join(cdc_path, "_SUCCESS")):
        build_cdc(events, args.batches).repartition("b").write.mode(
            "overwrite").partitionBy("b").parquet(cdc_path)
    cdc = spark.read.parquet(cdc_path)

    shutil.rmtree(args.root, ignore_errors=True)
    catalog = CubeCatalog(spark, args.root)
    catalog.create(hll_spec, events.limit(0))
    catalog.create(exact_spec, events.limit(0))
    catalog.create(hist_spec, events.limit(0))
    catalog.create(topk_spec, events.limit(0))
    catalog.create(topby_spec, events.limit(0))

    m_hll = CubeMaintainer(catalog, hll_spec)
    m_exact = CubeMaintainer(catalog, exact_spec)
    m_hist = CubeMaintainer(catalog, hist_spec)
    m_topk = CubeMaintainer(catalog, topk_spec)
    m_topby = CubeMaintainer(catalog, topby_spec)

    ib = int(args.batches * 0.6)
    ub = int(args.batches * 0.2)
    boundaries = {ib - 1: "insert", ib + ub - 1: "update", args.batches - 1: "delete"}

    times_hll: list[float] = []
    times_exact: list[float] = []
    times_hist: list[float] = []
    times_topk: list[float] = []
    checks = []
    violations: list[str] = []
    repair_batches = 0
    routed_checks = 0
    lambda_checks = 0

    t_run0 = time.perf_counter()
    for k in range(args.batches):
        batch = cdc.filter(F.col("b") == k).drop("b")
        # the HLL/topk cubes' repair source must be the post-batch net state
        net_k = state_at_batch(events, args.batches, k)
        m_hll.source_for_repair = net_k
        m_topk.source_for_repair = net_k
        t0 = time.perf_counter()
        m_hll.apply_batch(batch, k)
        times_hll.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        m_exact.apply_batch(batch, k)
        times_exact.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        m_hist.apply_batch(batch, k)
        times_hist.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        m_topk.apply_batch(batch, k)
        times_topk.append(time.perf_counter() - t0)
        m_topby.apply_batch(batch, k)
        if k >= ib:
            repair_batches += 1  # update/delete batches carry retractions

        if k in boundaries or (k + 1) % args.check_every == 0:
            label = boundaries.get(k, f"periodic@{k}")
            worst, n_groups, viol = hll_truth_check(
                spark, catalog, hll_spec.name, hll_spec, events, args.batches, k)
            ok_exact, got, want = exact_route_check(
                spark, catalog, exact_spec.name, exact_spec, events, args.batches, k)
            violations.extend(viol)
            if not ok_exact:
                violations.append(f"batch{k}: exact rollup {got} != rebuild {want}")
            hist_ok, hist_worst, hviol = hist_route_check(
                spark, catalog, hist_spec.name, hist_spec, events, args.batches, k)
            violations.extend(hviol)
            tk_state_ok, tk_top_ok, tviol = topk_route_check(
                spark, catalog, topk_spec.name, topk_spec, events, args.batches, k)
            violations.extend(tviol)
            rviol = routed_reads_check(
                spark, catalog, exact_spec, events, args.batches, k)
            rviol += topby_read_check(
                spark, catalog, topby_spec, events, args.batches, k)
            violations.extend(rviol)
            routed_checks += 1
            pviol = pipeline_reads_check(
                spark, args.root, exact_spec, events, args.batches, k)
            violations.extend(pviol)
            lam_checked, lviol = lambda_read_check(
                spark, catalog, exact_spec, cdc, events, args.batches, k, ib)
            violations.extend(lviol)
            if lam_checked:
                lambda_checks += 1
            checks.append({
                "batch": k,
                "phase": label,
                "hll_worst_rel_err": round(worst, 5),
                "hll_groups": n_groups,
                "exact_match": ok_exact,
                "hist_state_match": hist_ok,
                "hist_worst_abs_err": round(hist_worst, 3),
                "topk_state_match": tk_state_ok,
                "topk_rolled_match": tk_top_ok,
                "routed_reads_ok": not rviol,
                "pipeline_reads_ok": not pviol,
                "lambda_read": "ok" if (lam_checked and not lviol)
                               else ("skipped" if not lam_checked else "FAIL"),
            })
            print(
                f"# check batch {k} ({label}): hll worst rel err {worst:.4f} "
                f"(3σ={3 * RSD:.4f}), exact_match={ok_exact}, "
                f"hist_state_match={hist_ok} hist_worst_err={hist_worst:.2f} "
                f"topk={tk_state_ok}/{tk_top_ok} "
                f"routed={not rviol} pipeline={not pviol} "
                f"lambda={'ok' if (lam_checked and not lviol) else ('skip' if not lam_checked else 'FAIL')}",
                file=sys.stderr,
            )
        if (k + 1) % 20 == 0:
            print(
                f"# batch {k + 1}/{args.batches}: hll_mean_last20="
                f"{sum(times_hll[-20:]) / 20:.2f}s exact_mean_last20="
                f"{sum(times_exact[-20:]) / 20:.2f}s",
                file=sys.stderr,
            )
    wall = time.perf_counter() - t_run0

    phases_hll = phase_stats(times_hll, args.batches)
    phases_exact = phase_stats(times_exact, args.batches)
    phases_hist = phase_stats(times_hist, args.batches)
    phases_topk = phase_stats(times_topk, args.batches)
    ok_phases = all(
        p["slope_ok"]
        for p in list(phases_hll.values())
        + list(phases_exact.values())
        + list(phases_hist.values())
        + list(phases_topk.values())
    )
    ok_checks = not violations and all(
        c["exact_match"] and c["hist_state_match"]
        and c["topk_state_match"] and c["topk_rolled_match"]
        and c["routed_reads_ok"] and c["pipeline_reads_ok"]
        and c["lambda_read"] != "FAIL"
        for c in checks
    )

    result = {
        "metric": "soak_distinct",
        "batches": args.batches,
        "factor": args.factor,
        "lgk": LGK,
        "envelope_3sigma": round(3 * RSD, 5),
        "wall_s": round(wall, 1),
        "hll_batch_mean_s": round(sum(times_hll) / len(times_hll), 3),
        "exact_batch_mean_s": round(sum(times_exact) / len(times_exact), 3),
        "hist_batch_mean_s": round(sum(times_hist) / len(times_hist), 3),
        "topk_batch_mean_s": round(sum(times_topk) / len(times_topk), 3),
        "retraction_batches": repair_batches,
        "phase_stats_hll": phases_hll,
        "phase_stats_exact": phases_exact,
        "phase_stats_hist": phases_hist,
        "phase_stats_topk": phases_topk,
        "routed_reads": {
            "families": ["count_distinct", "quantile_exact", "topn",
                         "min_n", "top_by"],
            "checkpoints": routed_checks,
            "lambda_checkpoints": lambda_checks,
            "ok": all(c["routed_reads_ok"] and c["lambda_read"] != "FAIL"
                      for c in checks),
        },
        "pipeline_reads": {
            "shapes": ["multi_p_percentile", "mixed_median_plus_count"],
            "checkpoints": routed_checks,
            "ok": all(c["pipeline_reads_ok"] for c in checks),
        },
        "checks": checks,
        "violations": violations[:10],
        "ok": ok_phases and ok_checks,
    }
    print(json.dumps(result))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    if not result["ok"]:
        print(f"# FAIL: phases={ok_phases} checks={ok_checks}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
