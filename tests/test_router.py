"""Cube routing: requests hit the smallest sufficient cube; coarser
time granularities re-bucket finer cubes; unsatisfiable requests fall
back to source aggregation — always with identical results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube import CubeCatalog, CubeSpec, Dimension, Measure
from mongo_olap_spark.functions.expressions import davg, dsum
from mongo_olap_spark.plans import AggregateRequest, CubeRouter
from mongo_olap_spark.queries.core import EVENTS_CUBE


def rows_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def catalog(spark, events, tmp_path_factory):
    cat = CubeCatalog(spark, str(tmp_path_factory.mktemp("cubes")))
    cat.create(EVENTS_CUBE, events)  # (event_type, day) — fine cube
    coarse = CubeSpec(
        name="events_monthly",
        source="events",
        dimensions=(Dimension("month", path="ts", granularity="month"),),
        measures=(Measure("n", "count"), Measure("total_value", "sum", "value")),
    )
    cat.create(coarse, events)
    return cat


def test_routes_to_smallest_sufficient_cube(catalog):
    router = CubeRouter(catalog)
    d = router.route(
        AggregateRequest(source="events", group_by=(("ts", "month"),), measures=("n",))
    )
    # both cubes can serve a monthly count; the monthly cube is smaller
    assert d.cube == "events_monthly"

    d2 = router.route(
        AggregateRequest(source="events", group_by=("event_type",), measures=("n",))
    )
    assert d2.cube == "events_daily"


def test_coarse_request_rebuckets_fine_cube(spark, events, catalog):
    router = CubeRouter(catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type", ("ts", "month")),
        measures=("n", "total_value"),
    )
    d = router.route(req)
    assert d.cube == "events_daily"  # monthly cube lacks event_type
    got = router.execute(req)
    direct = events.groupBy(
        "event_type", F.date_trunc("month", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
    assert rows_set(got.select("event_type", "day", "n", "total_value")) == rows_set(direct)


def test_too_coarse_cube_rejected(catalog):
    router = CubeRouter(catalog)
    d = router.route(
        AggregateRequest(source="events", group_by=(("ts", "hour"),), measures=("n",))
    )
    # day cube cannot serve hourly buckets; no cube qualifies
    assert d.cube is None
    # the reason names why each cube was refused
    assert d.reason.startswith("no cube serves the request (")
    assert "events_daily: cube too coarse on ts (day < hour)" in d.reason
    assert "events_monthly: cube too coarse on ts (month < hour)" in d.reason


def test_fallback_to_source(spark, events, catalog):
    router = CubeRouter(catalog)
    req = AggregateRequest(
        source="events", group_by=("user_id",), measures=(("n", "count", None),)
    )
    assert router.route(req).cube is None
    got = router.execute(req, source_df=events)
    direct = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert rows_set(got) == rows_set(direct)


def test_lattice_cube_routed_and_level_sliced(spark, events, tmp_path):
    from mongo_olap_spark.cube import CubeCatalog
    from mongo_olap_spark.functions.expressions import davg, dsum

    cat = CubeCatalog(spark, str(tmp_path / "lat"))
    cat.create_lattice(EVENTS_CUBE, events)  # rollup chain: (et,day),(et),()
    router = CubeRouter(cat)
    req = AggregateRequest(
        source="events", group_by=("event_type",), measures=("n", "total_value", "avg_value")
    )
    assert router.route(req).cube == "events_daily"
    got = router.execute(req)
    direct = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "total_value"), davg("value", "avg_value")
    )
    assert rows_set(got) == rows_set(direct)
    # day-only isn't a materialized level, but the finest level covers
    # it — served by rolling up (event_type, day) over event_type
    day_req = AggregateRequest(source="events", group_by=(("ts", "day"),), measures=("n",))
    assert router.route(day_req).cube == "events_daily"
    got_day = router.execute(day_req)
    direct_day = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    assert rows_set(got_day) == rows_set(direct_day)

    # a lattice missing any covering level refuses rather than answers wrongly
    cat2 = CubeCatalog(spark, str(tmp_path / "lat2"))
    partial = EVENTS_CUBE
    cat2.drop("events_daily")
    cat2.create_lattice(partial, events, levels=[("event_type",), ()])
    router2 = CubeRouter(cat2)
    assert router2.route(day_req).cube is None


def test_dimension_filter_served_measure_filter_rejected(catalog):
    router = CubeRouter(catalog)
    ok = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=("n",),
            where="event_type IN ('view', 'click')",
        )
    )
    assert ok.cube == "events_daily"
    bad = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=("n",),
            where="value > 10",  # raw measure column — not answerable from cells
        )
    )
    assert bad.cube is None


def test_route_is_metadata_only(catalog, monkeypatch):
    """VERDICT r1 #3: route() must launch zero Spark jobs — cost comes
    from manifest statistics, never a cells().count()."""
    router = CubeRouter(catalog)

    def boom(name):
        raise AssertionError("route() must not read cell data")

    monkeypatch.setattr(catalog, "cells", boom)
    monkeypatch.setattr(catalog, "cells_for_partitions", boom)
    d = router.route(
        AggregateRequest(source="events", group_by=(("ts", "month"),), measures=("n",))
    )
    assert d.cube == "events_monthly"
    d2 = router.route(
        AggregateRequest(source="events", group_by=("event_type",), measures=("n",))
    )
    assert d2.cube == "events_daily"


def test_measure_op_path_mismatch_rejected(catalog):
    """ADVICE r1: a (name, op, path) request whose op or path differs
    from the cube's measure must fall back, not silently answer with
    the cube's semantics."""
    router = CubeRouter(catalog)
    ok = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("total_value", "sum", "value"),),
        )
    )
    assert ok.cube == "events_daily"
    wrong_op = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("total_value", "min", "value"),),
        )
    )
    assert wrong_op.cube is None
    wrong_path = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("total_value", "sum", "user_id"),),
        )
    )
    assert wrong_path.cube is None


# -- ADVICE r8: output-name collisions refuse instead of mislabeling --------

def test_duplicate_measure_names_rejected(catalog):
    router = CubeRouter(catalog)
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("n", "count"), ("n", "count")),
        )
    )
    assert d.cube is None


def test_two_measures_binding_same_stored_column_rejected(catalog):
    """(a, sum, value) and (b, sum, value) would both rename to the one
    stored sum — a sequential rename chain yields duplicate/missing
    columns, so the router must refuse (ADVICE r8)."""
    router = CubeRouter(catalog)
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("a", "sum", "value"), ("b", "sum", "value")),
        )
    )
    assert d.cube is None


def test_measure_name_shadowing_dimension_rejected(catalog):
    router = CubeRouter(catalog)
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("event_type", "sum", "value"),),
        )
    )
    assert d.cube is None


def test_single_same_semantics_rename_still_served(spark, events, catalog):
    """One differently-named (op, path) request still binds and serves
    under the requested name — the refusals above must not break the
    legitimate rename."""
    router = CubeRouter(catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("grand_total", "sum", "value"),),
    )
    d = router.route(req)
    assert d.cube == "events_daily" and d.measure_renames == {"grand_total": "total_value"}
    got = router.execute(req)
    assert got.columns == ["event_type", "grand_total"]
    direct = events.groupBy("event_type").agg(dsum("value", "grand_total"))
    assert rows_set(got) == rows_set(direct)


# -- C19 routed: exact count-distinct served from the two-level cube --------

@pytest.fixture(scope="module")
def cd_catalog(spark, events, tmp_path_factory):
    cat = CubeCatalog(spark, str(tmp_path_factory.mktemp("cd_cubes")))
    exact = CubeSpec(
        name="users_exact",
        source="events",
        dimensions=(Dimension("event_type"), Dimension("user_id")),
        measures=(Measure("n", "count"),),
    )
    cat.create(exact, events)
    return cat


def test_count_distinct_routed_to_exact_cube(spark, events, cd_catalog):
    router = CubeRouter(cd_catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("n_users", "count_distinct", "user_id"), ("n", "count")),
    )
    d = router.route(req)
    assert d.cube == "users_exact" and d.distinct == ("n_users", "user_id")
    got = router.execute(req)
    direct = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).alias("n"),
    )
    assert rows_set(got.select("event_type", "n_users", "n")) == rows_set(direct)


def test_count_distinct_refusals(cd_catalog):
    router = CubeRouter(cd_catalog)
    # counted column also grouped
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type", "user_id"),
            measures=(("n_users", "count_distinct", "user_id"),),
        )
    )
    assert d.cube is None
    # counted column not a dimension of the cube
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("n_vals", "count_distinct", "value"),),
        )
    )
    assert d.cube is None
    # two count_distinct measures in one request
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=(),
            measures=(
                ("a", "count_distinct", "user_id"),
                ("b", "count_distinct", "event_type"),
            ),
        )
    )
    assert d.cube is None


def test_count_distinct_exact_never_degrades_to_hll(spark, events, tmp_path):
    """An exact count_distinct ask must NOT be served from an HLL
    sketch cube — approximate serving of an exact request is a silent
    correctness downgrade."""
    cat = CubeCatalog(spark, str(tmp_path / "hll_only"))
    hll = CubeSpec(
        name="users_hll_only",
        source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("users", "distinct", "user_id", lgk=14),),
    )
    cat.create(hll, events)
    router = CubeRouter(cat)
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("n_users", "count_distinct", "user_id"),),
        )
    )
    assert d.cube is None


def test_count_distinct_source_fallback(spark, events, cd_catalog):
    """No serving cube → the fallback aggregates the source through the
    same two-level shape and matches a direct countDistinct."""
    router = CubeRouter(cd_catalog)
    req = AggregateRequest(
        source="events",
        group_by=(("ts", "day"),),  # no cube has a day dim here
        measures=(("n_users", "count_distinct", "user_id"),),
    )
    assert router.route(req).cube is None
    got = router.execute(req, source_df=events)
    direct = events.groupBy(F.date_trunc("day", "ts").alias("ts_day")).agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    assert rows_set(got) == rows_set(direct)


# ---------------------------------------------------------------------------
# C20 routed exact quantile
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def qe_catalog(spark, events, tmp_path_factory):
    cat = CubeCatalog(spark, str(tmp_path_factory.mktemp("qe_cubes")))
    exact = CubeSpec(
        name="value_exact",
        source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("n", "count"),),
    )
    cat.create(exact, events)
    return cat


def _discrete_median(events, *group_by):
    from pyspark.sql import Window

    e = events.filter(F.col("value").isNotNull())
    wcum = Window.partitionBy(*group_by).orderBy("value")
    wtot = Window.partitionBy(*group_by)
    return (
        e.withColumn("__cum", F.count(F.lit(1)).over(wcum))
        .withColumn("__tot", F.count(F.lit(1)).over(wtot))
        .filter(F.col("__cum") >= F.ceil(F.lit(0.5) * F.col("__tot")))
        .groupBy(*group_by)
        .agg(F.min("value").alias("p50"))
    )


def test_quantile_exact_routed_to_exact_cube(spark, events, qe_catalog):
    router = CubeRouter(qe_catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("p50", "quantile_exact", "value", 0.5),),
    )
    d = router.route(req)
    assert d.cube == "value_exact" and d.quantile == ("p50", "value", 0.5)
    got = router.execute(req)
    assert rows_set(got.select("event_type", "p50")) == rows_set(
        _discrete_median(events, "event_type")
    )


def test_quantile_exact_refusals(qe_catalog):
    router = CubeRouter(qe_catalog)
    # measured column also grouped
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type", "value"),
            measures=(("p50", "quantile_exact", "value"),),
        )
    )
    assert d.cube is None
    # cannot combine with other measures (CDF slice vs all-cell aggs)
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("p50", "quantile_exact", "value"), ("n", "count")),
        )
    )
    assert d.cube is None
    # q out of range
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("p50", "quantile_exact", "value", 2.0),),
        )
    )
    assert d.cube is None


def test_quantile_exact_source_fallback(spark, events, qe_catalog):
    """No serving cube (grouping by a dim the cube lacks) — the
    fallback builds the same two-level shape over the source."""
    router = CubeRouter(qe_catalog)
    req = AggregateRequest(
        source="events",
        group_by=("user_id",),
        measures=(("p50", "quantile_exact", "value", 0.5),),
    )
    assert router.route(req).cube is None
    got = router.execute(req, source_df=events)
    assert rows_set(got.select("user_id", "p50")) == rows_set(
        _discrete_median(events, "user_id")
    )


def test_quantile_sketch_fallback_refuses_with_recipe(spark, events, qe_catalog):
    """A sketch 'quantile' ask with no serving cube cannot be honored
    from the source (no honest bin bounds to synthesize) — refuse
    loudly, naming both remedies."""
    router = CubeRouter(qe_catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("p50", "quantile", "value"),),
    )
    assert router.route(req).cube is None
    with pytest.raises(ValueError, match="quantile_exact"):
        router.execute(req, source_df=events)


def test_quantile_sketch_served_by_histogram_cube(spark, events, tmp_path):
    """A sketch 'quantile' ask IS served when a cube holds a histogram
    measure on the path (same-semantics binding surfaces it under the
    requested name)."""
    from mongo_olap_spark.queries.core import VALUE_HIST_CUBE

    cat = CubeCatalog(spark, str(tmp_path / "hist_cubes"))
    cat.create(VALUE_HIST_CUBE, events)
    router = CubeRouter(cat)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("median_value", "quantile", "value"),),
    )
    d = router.route(req)
    assert d.cube == VALUE_HIST_CUBE.name
    got = router.execute(req)
    assert set(got.columns) == {"event_type", "median_value"}
    est = {r.event_type: r.median_value for r in got.collect()}
    want = {r.event_type: r.p50 for r in _discrete_median(events, "event_type").collect()}
    for k, v in want.items():
        assert abs(est[k] - v) <= 10.0  # one bin width of VALUE_HIST_CUBE


# ---------------------------------------------------------------------------
# C21 routed exact top-k
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tn_catalog(spark, events, tmp_path_factory):
    cat = CubeCatalog(spark, str(tmp_path_factory.mktemp("tn_cubes")))
    exact = CubeSpec(
        name="users_exact_tn",
        source="events",
        dimensions=(Dimension("event_type"), Dimension("user_id")),
        measures=(Measure("n", "count"),),
    )
    cat.create(exact, events)
    return cat


def _direct_topk(events, k, *group_by):
    from pyspark.sql import Window

    e = events.filter(F.col("user_id").isNotNull())
    counted = e.groupBy(*group_by, "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(*group_by).orderBy(
        F.col("cnt").desc(), F.col("user_id").asc()
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def test_topn_routed_to_exact_cube(spark, events, tn_catalog):
    router = CubeRouter(tn_catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("top_user", "topn", "user_id", 3),),
    )
    d = router.route(req)
    assert d.cube == "users_exact_tn" and d.topn == ("top_user", "user_id", 3)
    got = router.execute(req)
    assert set(got.columns) == {"event_type", "top_user", "top_user_cnt", "rank"}
    want = _direct_topk(events, 3, "event_type").select(
        "event_type",
        F.col("user_id").alias("top_user"),
        F.col("cnt").alias("top_user_cnt"),
        "rank",
    )
    assert rows_set(got) == rows_set(want)


def test_topn_refusals(tn_catalog):
    router = CubeRouter(tn_catalog)
    # ranked column also grouped
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type", "user_id"),
            measures=(("top_user", "topn", "user_id", 3),),
        )
    )
    assert d.cube is None
    # cannot combine with other measures (k rows/group vs 1 row/group)
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("top_user", "topn", "user_id", 3), ("n", "count")),
        )
    )
    assert d.cube is None
    # k < 1
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("top_user", "topn", "user_id", 0),),
        )
    )
    assert d.cube is None
    # no path
    d = router.route(
        AggregateRequest(
            source="events",
            group_by=("event_type",),
            measures=(("top_user", "topn"),),
        )
    )
    assert d.cube is None


def test_topn_source_fallback(spark, events, tn_catalog):
    """No serving cube (grouping by a dim the cube lacks) — the
    fallback builds the same two-level shape over the source."""
    router = CubeRouter(tn_catalog)
    req = AggregateRequest(
        source="events",
        group_by=(("ts", "day"),),
        measures=(("top_user", "topn", "user_id", 2),),
    )
    assert router.route(req).cube is None
    got = router.execute(req, source_df=events)
    want = _direct_topk(
        events.withColumn("ts_day", F.date_trunc("day", "ts")), 2, "ts_day"
    ).select(
        "ts_day",
        F.col("user_id").alias("top_user"),
        F.col("cnt").alias("top_user_cnt"),
        "rank",
    )
    assert rows_set(got) == rows_set(want)


def test_topk_sketch_fallback_refuses_with_recipe(spark, events, tn_catalog):
    """A 'topk' sketch ask with no serving cube cannot be honored from
    the source (capacity is a spec decision) — refuse loudly, naming
    both remedies."""
    router = CubeRouter(tn_catalog)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("top_user", "topk", "user_id"),),
    )
    assert router.route(req).cube is None
    with pytest.raises(ValueError, match="topn"):
        router.execute(req, source_df=events)


def test_topk_sketch_served_by_map_cube(spark, events, tmp_path):
    """A sketch 'topk' ask IS served when a cube holds a frequent-items
    measure on the path (same-semantics binding surfaces it under the
    requested name)."""
    from mongo_olap_spark.queries.core import USERS_TOPK_CUBE

    cat = CubeCatalog(spark, str(tmp_path / "tk_cubes"))
    cat.create(USERS_TOPK_CUBE, events)
    router = CubeRouter(cat)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("heavy_users", "topk", "user_id"),),
    )
    d = router.route(req)
    assert d.cube == USERS_TOPK_CUBE.name
    got = router.execute(req)
    assert set(got.columns) == {"event_type", "heavy_users"}
    # exact regime at test cardinalities: entries equal the direct top-3
    got_map = {
        r["event_type"]: [(e["item"], e["count"]) for e in r["heavy_users"]]
        for r in got.collect()
    }
    want: dict = {}
    for r in _direct_topk(events, 3, "event_type").collect():
        want.setdefault(r["event_type"], []).append((r["user_id"], r["cnt"]))
    assert got_map == want


def test_lattice_topby_refused_when_payload_not_materialized(spark, events, tmp_path):
    """ADVICE r9: a lattice level covering group_by + sort but NOT the
    payload dim must refuse the top_by route at route time — the old
    coverage check omitted the payload dim and execute() crashed with
    ValueError on an empty covering set."""
    cat = CubeCatalog(spark, str(tmp_path / "tb_lat"))
    spec = CubeSpec(
        name="tb_lat_cube",
        source="events",
        dimensions=(Dimension("event_type"), Dimension("value"), Dimension("user_id")),
        measures=(Measure("n", "count"),),
    )
    cat.create_lattice(spec, events, levels=[("event_type", "value"), ("event_type",)])
    router = CubeRouter(cat)
    req = AggregateRequest(
        source="events",
        group_by=("event_type",),
        measures=(("who", "top_by", "value", "user_id", 3),),
    )
    d = router.route(req)
    assert d.cube is None  # refused, not crashed
    # with the payload materialized the same request routes and serves
    cat2 = CubeCatalog(spark, str(tmp_path / "tb_lat2"))
    cat2.create_lattice(
        spec, events, levels=[("event_type", "value", "user_id"), ("event_type",)]
    )
    router2 = CubeRouter(cat2)
    d2 = router2.route(req)
    assert d2.cube == spec.name
    got = {(r["event_type"],): r["who"] for r in router2.execute(req).collect()}
    from tests.test_cube_extremes import topby_reference

    assert got == topby_reference(events, 3, False, "event_type")


def test_special_routes_refused_without_multiplicity_measure(spark, events, tmp_path):
    """ADVICE r9: the exact two-level serving rollups weight cells by a
    count/avg multiplicity column — a cube holding only e.g. min/max
    measures must be refused at route time, not crash in execute()."""
    cat = CubeCatalog(spark, str(tmp_path / "nocnt"))
    spec = CubeSpec(
        name="nocnt_cube",
        source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("v_min", "min", "value"),),
    )
    cat.create(spec, events)
    router = CubeRouter(cat)
    for m in [
        ("p50", "quantile_exact", "value", 0.5),
        ("top", "topn", "value", 3),
        ("lo", "min_n", "value", 3),
    ]:
        d = router.route(AggregateRequest(
            source="events", group_by=("event_type",), measures=(m,)
        ))
        assert d.cube is None, m
    # count_distinct does not need the multiplicity column — still served
    d = router.route(AggregateRequest(
        source="events", group_by=("event_type",),
        measures=(("nv", "count_distinct", "value"),),
    ))
    assert d.cube == spec.name


def test_avg_only_cube_falls_back_for_weighted_routes(spark, events, tmp_path):
    """An avg's count partial counts non-null values, not rows, so it
    cannot weight cells: the exact routes refuse an avg-only cube and
    the source fallback answers, equal to a count cube's answer."""
    cat = CubeCatalog(spark, str(tmp_path / "avgonly"))
    dims = (Dimension("event_type"), Dimension("value"))
    cat.create(CubeSpec(name="avg_only_cube", source="events", dimensions=dims,
                        measures=(Measure("uavg", "avg", "user_id"),)), events)
    router = CubeRouter(cat)
    req = AggregateRequest(source="events", group_by=("event_type",),
                           measures=(("top", "topn", "value", 3),))
    assert router.route(req).cube is None
    got = rows_set(router.execute(req, source_df=events))
    cat.create(CubeSpec(name="counted_cube", source="events", dimensions=dims,
                        measures=(Measure("n", "count"),)), events)
    assert router.route(req).cube == "counted_cube"
    assert got == rows_set(router.execute(req))
