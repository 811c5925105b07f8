"""Quantile measures from cube state (C20) — the fixed-bin histogram
sketch (bounded state, element-wise mergeable AND retractable) and the
exact two-level decomposition (measured column as a dimension;
discrete inverse-CDF over live cells).

The histogram's integer bins make stronger claims testable than HLL's:
merge (and retraction!) is bit-identical to rebuild, not merely
estimate-equal — signed integer vector addition is associative and
commutative in any batch order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube import CubeSpec, Dimension, Measure, build_cube, query_cube
from mongo_olap_spark.cube.build import delta_cells
from mongo_olap_spark.cube.ivm import merge_cells
from mongo_olap_spark.cube.lattice import build_cube_lattice, query_lattice
from mongo_olap_spark.cube.measures import hist_bin_sql
from mongo_olap_spark.cube.query import hybrid_query, quantile_rollup
from mongo_olap_spark.queries.core import VALUE_EXACT_Q_CUBE, VALUE_HIST_CUBE

BIN_W = (1000.0 - 0.0) / 100  # VALUE_HIST_CUBE bin width


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def hist_cells_set(df):
    """Cell rows with the histogram array made hashable."""
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def exact_median(events, *group_by):
    """Discrete (type-1) median per group — percentile_approx with
    accuracy ≥ group size is exact, and Spark's exact percentile
    interpolates (type-7), so compute inverse-CDF by window instead."""
    from pyspark.sql import Window

    e = events.filter(F.col("value").isNotNull())
    if group_by:
        wcum = Window.partitionBy(*group_by).orderBy("value")
        wtot = Window.partitionBy(*group_by)
    else:
        wcum = Window.orderBy("value")
        wtot = Window.partitionBy()
    return (
        e.withColumn("__cum", F.count(F.lit(1)).over(wcum))
        .withColumn("__tot", F.count(F.lit(1)).over(wtot))
        .filter(F.col("__cum") >= F.ceil(F.lit(0.5) * F.col("__tot")))
        .groupBy(*group_by)
        .agg(F.min("value").alias("exact_p50"))
    )


# ---------------------------------------------------------------------------
# histogram sketch measure
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("subset", [(), ("event_type",), ("day",), ("event_type", "day")])
def test_hist_estimate_within_one_bin_width(spark, events, subset):
    cells = build_cube(spark, VALUE_HIST_CUBE, events)
    rolled = query_cube(
        cells, VALUE_HIST_CUBE, group_by=list(subset), measures=["p50_value"]
    )
    direct = exact_median(
        events.withColumn("day", F.date_trunc("day", "ts")), *subset
    )
    got = {tuple(r[: len(subset)]): r[-1] for r in rolled.collect()}
    want = {tuple(r[: len(subset)]): r[-1] for r in direct.collect()}
    assert set(got) == set(want)
    for k, est in got.items():
        assert abs(est - want[k]) <= BIN_W, (k, est, want[k])


def test_hist_bit_identical_under_partitioning(spark, events):
    """Integer bins: the CELL STATE (not just the estimate) must be
    bit-identical regardless of source partitioning."""
    a = build_cube(spark, VALUE_HIST_CUBE, events.repartition(1))
    b = build_cube(spark, VALUE_HIST_CUBE, events.repartition(13, "user_id"))
    assert hist_cells_set(a) == hist_cells_set(b)


def test_hist_insert_merge_equals_rebuild_bitwise(spark, events):
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    cells = build_cube(spark, VALUE_HIST_CUBE, half1)
    deltas = delta_cells(VALUE_HIST_CUBE, half2.withColumn("mult", F.lit(1)))
    merged = merge_cells(cells, deltas, VALUE_HIST_CUBE)
    rebuilt = build_cube(spark, VALUE_HIST_CUBE, events)
    assert hist_cells_set(merged) == hist_cells_set(rebuilt)


def test_hist_is_delete_safe_and_retraction_is_bitwise(spark, events):
    """The headline vs min/max/HLL: deletes maintain incrementally —
    merged state after −1 deltas equals a from-scratch rebuild of the
    survivors, bit-for-bit, with no recompute_cells repair pass."""
    assert VALUE_HIST_CUBE.delete_safe
    doomed = events.orderBy("event_id").limit(40).cache()
    survivors = events.join(doomed.select("event_id"), "event_id", "left_anti").cache()

    cells = build_cube(spark, VALUE_HIST_CUBE, events)
    deltas = delta_cells(VALUE_HIST_CUBE, doomed.withColumn("mult", F.lit(-1)))
    merged = merge_cells(cells, deltas, VALUE_HIST_CUBE)
    want = build_cube(spark, VALUE_HIST_CUBE, survivors)
    assert hist_cells_set(merged) == hist_cells_set(want)


def test_hist_merge_handles_one_sided_cells(spark, events):
    """Cells present on only one side of the merge keep their vector
    (no NULL propagation through zip_with)."""
    disjoint_a = events.filter(F.col("event_type") == "click")
    disjoint_b = events.filter(F.col("event_type") == "view")
    cells = build_cube(spark, VALUE_HIST_CUBE, disjoint_a)
    deltas = delta_cells(VALUE_HIST_CUBE, disjoint_b.withColumn("mult", F.lit(1)))
    merged = merge_cells(cells, deltas, VALUE_HIST_CUBE)
    rebuilt = build_cube(spark, VALUE_HIST_CUBE, disjoint_a.unionByName(disjoint_b))
    assert hist_cells_set(merged) == hist_cells_set(rebuilt)


def test_hist_lattice_finalize_and_rollup(spark, events):
    levels = [("event_type", "day"), ("event_type",), ()]
    cells = build_cube_lattice(spark, VALUE_HIST_CUBE, events, levels=levels)
    # exact-level hit finalizes row-wise; rollup path re-aggregates
    hit = query_lattice(cells, VALUE_HIST_CUBE, group_by=["event_type"],
                        measures=["p50_value"])
    base = query_cube(
        build_cube(spark, VALUE_HIST_CUBE, events),
        VALUE_HIST_CUBE, group_by=["event_type"], measures=["p50_value"],
    )
    assert rows_set(hit) == rows_set(base)


def test_hist_hybrid_query_merges_tail(spark, events):
    head = events.filter(F.col("event_id") % 4 != 0)
    tail = events.filter(F.col("event_id") % 4 == 0)
    cells = build_cube(spark, VALUE_HIST_CUBE, head)
    merged = hybrid_query(cells, VALUE_HIST_CUBE, tail, group_by=["event_type"],
                          measures=["n", "p50_value"])
    full = query_cube(
        build_cube(spark, VALUE_HIST_CUBE, events),
        VALUE_HIST_CUBE, group_by=["event_type"], measures=["n", "p50_value"],
    )
    assert rows_set(merged) == rows_set(full)


def test_hist_bin_edges_and_out_of_range(spark):
    """Bin indexing: underflow < lo → 0; lo lands in bin 1; hi is
    exclusive (→ overflow nbins+1); NULL → NULL."""
    m = Measure("h", "quantile", "x", lo=0.0, hi=10.0, nbins=5)
    df = spark.createDataFrame(
        [(-0.1,), (0.0,), (1.9,), (2.0,), (9.99,), (10.0,), (250.0,), (None,)],
        "x double",
    )
    got = [r[0] for r in df.select(F.expr(hist_bin_sql(m))).collect()]
    assert got == [0, 1, 1, 2, 5, 6, 6, None]


def test_hist_estimator_clamps_out_of_range_mass(spark):
    """All mass below lo → estimate lo; all above hi → estimate hi;
    empty group → NULL."""
    spec = CubeSpec(
        name="clamp", source="t",
        dimensions=(Dimension("g"),),
        measures=(Measure("n", "count"),
                  Measure("p", "quantile", "x", lo=0.0, hi=10.0, nbins=5)),
    )
    df = spark.createDataFrame(
        [("lo", -5.0), ("lo", -1.0), ("hi", 99.0), ("none", None)],
        "g string, x double",
    )
    cells = build_cube(spark, spec, df)
    got = {r.g: r.p for r in query_cube(cells, spec, measures=["p"]).collect()}
    assert got == {"lo": 0.0, "hi": 10.0, "none": None}


def test_quantile_spec_validation_and_json_roundtrip():
    with pytest.raises(ValueError, match="needs lo, hi, nbins"):
        Measure("p", "quantile", "x")
    with pytest.raises(ValueError, match="lo < hi"):
        Measure("p", "quantile", "x", lo=5.0, hi=5.0, nbins=4)
    with pytest.raises(ValueError, match="nbins"):
        Measure("p", "quantile", "x", lo=0.0, hi=1.0, nbins=0)
    with pytest.raises(ValueError, match="q must be"):
        Measure("p", "quantile", "x", lo=0.0, hi=1.0, nbins=4, q=0.0)
    with pytest.raises(ValueError, match="only valid for op 'quantile'"):
        Measure("s", "sum", "x", nbins=4)
    spec = CubeSpec.from_json(VALUE_HIST_CUBE.to_json())
    assert spec == VALUE_HIST_CUBE
    m = spec.measure("p50_value")
    assert (m.lo, m.hi, m.nbins, m.default_q) == (0.0, 1000.0, 100, 0.5)


# ---------------------------------------------------------------------------
# exact two-level route
# ---------------------------------------------------------------------------

def test_exact_quantile_rollup_matches_source(spark, events):
    cells = build_cube(spark, VALUE_EXACT_Q_CUBE, events)
    got = quantile_rollup(
        cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", 0.5, alias="exact_p50"
    )
    want = exact_median(events, "event_type")
    assert rows_set(got) == rows_set(want)


def test_exact_quantile_is_fully_retractable(spark, events):
    assert VALUE_EXACT_Q_CUBE.delete_safe
    doomed = events.orderBy("event_id").limit(60).cache()
    survivors = events.join(doomed.select("event_id"), "event_id", "left_anti").cache()
    cells = build_cube(spark, VALUE_EXACT_Q_CUBE, events)
    deltas = delta_cells(VALUE_EXACT_Q_CUBE, doomed.withColumn("mult", F.lit(-1)))
    merged = merge_cells(cells, deltas, VALUE_EXACT_Q_CUBE)
    got = quantile_rollup(
        merged, VALUE_EXACT_Q_CUBE, ["event_type"], "value", 0.5, alias="exact_p50"
    )
    want = exact_median(survivors, "event_type")
    assert rows_set(got) == rows_set(want)


def test_quantile_rollup_rejects_bad_args(spark, events):
    cells = build_cube(spark, VALUE_EXACT_Q_CUBE, events)
    with pytest.raises(ValueError, match="not a cube dimension"):
        quantile_rollup(cells, VALUE_EXACT_Q_CUBE, ["event_type"], "nope", 0.5)
    with pytest.raises(ValueError, match="cannot also be grouped"):
        quantile_rollup(cells, VALUE_EXACT_Q_CUBE, ["value"], "value", 0.5)
    with pytest.raises(ValueError, match="q must be"):
        quantile_rollup(cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", 1.5)
    narrow = CubeSpec(
        name="threedim", source="events",
        dimensions=(Dimension("event_type"), Dimension("value"),
                    Dimension("day", path="ts", granularity="day")),
        measures=(Measure("n", "count"),),
    )
    with pytest.raises(ValueError, match="keyed exactly"):
        quantile_rollup(
            build_cube(spark, narrow, events), narrow, ["event_type"], "value", 0.5
        )


def test_multi_quantile_one_rollup(spark, events):
    """p25/p50/p95 from one histogram vector, one shuffle — each
    within a bin width of its exact discrete quantile, and
    monotonically ordered."""
    from pyspark.sql import Window

    from mongo_olap_spark.cube.query import quantile_estimates

    cells = build_cube(spark, VALUE_HIST_CUBE, events)
    got = {
        r.event_type: (r.p25, r.p50, r.p95)
        for r in quantile_estimates(
            cells, VALUE_HIST_CUBE, "p50_value", [0.25, 0.5, 0.95],
            group_by=["event_type"], aliases=["p25", "p50", "p95"],
        ).collect()
    }
    e = events.filter(F.col("value").isNotNull())
    wcum = Window.partitionBy("event_type").orderBy("value")
    wtot = Window.partitionBy("event_type")
    ranked = (
        e.withColumn("__cum", F.count(F.lit(1)).over(wcum))
        .withColumn("__tot", F.count(F.lit(1)).over(wtot))
    )
    for qi, q in enumerate([0.25, 0.5, 0.95]):
        want = {
            r.event_type: r.v
            for r in ranked.filter(
                F.col("__cum") >= F.ceil(F.lit(q) * F.col("__tot"))
            ).groupBy("event_type").agg(F.min("value").alias("v")).collect()
        }
        for g, t in want.items():
            assert abs(got[g][qi] - t) <= BIN_W, (g, q, got[g][qi], t)
    for g, (a, b, c) in got.items():
        assert a <= b <= c, (g, a, b, c)


def test_quantile_estimates_rejects_non_quantile_measure(spark, events):
    from mongo_olap_spark.cube.query import quantile_estimates

    cells = build_cube(spark, VALUE_HIST_CUBE, events)
    with pytest.raises(ValueError, match="not a quantile"):
        quantile_estimates(cells, VALUE_HIST_CUBE, "n", [0.5])


def test_quantile_rollup_near_integer_rank_not_inflated(spark):
    """ADVICE r9: q·n products that land just above an integer in IEEE
    doubles (0.7 * 10 = 7.000000000000001) must not ceil to rank 8 —
    the stated type-1 semantics is ceil(q·n) = 7."""
    from mongo_olap_spark.cube.query import quantile_rollup

    spec = CubeSpec(
        name="qsnap",
        source="t",
        dimensions=(Dimension("g"), Dimension("value")),
        measures=(Measure("n", "count"),),
    )
    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 11)], "g string, value double"
    )
    cells = build_cube(spark, spec, df)
    out = quantile_rollup(cells, spec, ["g"], "value", 0.7, alias="p70").collect()
    assert out[0]["p70"] == 7.0


def test_exact_quantile_rollup_multi_p(spark, events):
    """r10 multi-p: quantile_rollup with a LIST of p values emits one
    ARRAY column in p order from a single window pass, each element
    equal to the scalar rollup at that p; bad lists refuse."""
    from mongo_olap_spark.cube.query import quantile_rollup

    cells = build_cube(spark, VALUE_EXACT_Q_CUBE, events)
    got = {
        r.event_type: list(r.qs)
        for r in quantile_rollup(
            cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value",
            [0.25, 0.5, 0.7, 1.0], alias="qs",
        ).collect()
    }
    for qi, q in enumerate([0.25, 0.5, 0.7, 1.0]):
        want = {
            r.event_type: r.v
            for r in quantile_rollup(
                cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", q,
                alias="v",
            ).collect()
        }
        for g, t in want.items():
            assert got[g][qi] == t, (g, q, got[g][qi], t)
    for g, vals in got.items():
        assert vals == sorted(vals), (g, vals)

    with pytest.raises(ValueError, match="non-empty"):
        quantile_rollup(cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", [])
    with pytest.raises(ValueError, match="q must be"):
        quantile_rollup(cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", [0.5, 2.0])


def test_router_serves_multi_p_percentile(spark, events, tmp_path):
    """r10: a quantile_exact request whose q is a LIST routes to the
    two-level cube and the routed answer equals the per-p scalar
    routes; the router's source fallback emits the same array."""
    from mongo_olap_spark.cube.catalog import CubeCatalog
    from mongo_olap_spark.plans import AggregateRequest, CubeRouter

    cat = CubeCatalog(spark, str(tmp_path / "multi_p"))
    cat.create(VALUE_EXACT_Q_CUBE, events)
    router = CubeRouter(cat)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("qs", "quantile_exact", "value", (0.25, 0.5, 0.9)),),
    )
    decision = router.route(req)
    assert decision.cube == VALUE_EXACT_Q_CUBE.name, decision
    routed = {r.event_type: list(r.qs) for r in router.execute(req).collect()}

    fallback_router = CubeRouter(CubeCatalog(spark, str(tmp_path / "mp_bare")))
    fb = {
        r.event_type: list(r.qs)
        for r in fallback_router.execute(req, source_df=events).collect()
    }
    assert routed == fb

    for qi, q in enumerate([0.25, 0.5, 0.9]):
        sreq = AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("v", "quantile_exact", "value", q),),
        )
        scalar = {r.event_type: r.v for r in router.execute(sreq).collect()}
        for g, t in scalar.items():
            assert routed[g][qi] == t, (g, q)

    bad = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("qs", "quantile_exact", "value", (0.5, 2.0)),),
    )
    assert router.route(bad).cube is None


def test_multi_quantile_two_level_build_bit_identical(spark, events):
    """Optimization r17 (VERDICT r16 #6): a spec with TWO quantile
    measures now takes the two-level (dims, bin₁, bin₂) build; cells
    must be BIT-identical (values and dtypes) to the single-level
    CASE-bank plan, on both the build and the signed-delta path."""
    from mongo_olap_spark.cube.build import (
        _hist_two_level_ok,
        cell_aggs,
    )

    spec = CubeSpec(
        name="multi_hist_probe",
        source="events",
        dimensions=(Dimension("event_type"),),
        measures=(
            Measure("n", "count"),
            Measure("p50_value", "quantile", "value",
                    lo=0.0, hi=1000.0, nbins=100),
            Measure("p50_user", "quantile", "user_id % 17",
                    lo=0.0, hi=17.0, nbins=17),
            Measure("avg_value", "avg", "value"),
        ),
    )
    assert _hist_two_level_ok(spec)

    got = build_cube(spark, spec, events)
    want = events.groupBy(
        *[d.expr() for d in spec.dimensions]).agg(*cell_aggs(spec))
    assert got.schema == want.schema
    assert hist_cells_set(got) == hist_cells_set(want)

    cdc = events.withColumn(
        "mult", F.when(F.col("event_id") % 3 == 0, -1).otherwise(1))
    got_d = delta_cells(spec, cdc)
    want_d = cdc.groupBy(
        *[d.expr() for d in spec.dimensions]).agg(*cell_aggs(spec, mult="mult"))
    assert got_d.schema == want_d.schema
    assert hist_cells_set(got_d) == hist_cells_set(want_d)


def test_multi_quantile_fanout_cap_keeps_single_level():
    """∏(nbins+2) above the cap must refuse the two-level plan."""
    from mongo_olap_spark.cube.build import _hist_two_level_ok

    big = CubeSpec(
        name="fanout_probe",
        source="events",
        dimensions=(Dimension("event_type"),),
        measures=(
            Measure("a", "quantile", "value", lo=0.0, hi=1.0, nbins=100),
            Measure("b", "quantile", "value", lo=0.0, hi=1.0, nbins=100),
        ),
    )
    assert not _hist_two_level_ok(big)  # 102·102 > 4096
