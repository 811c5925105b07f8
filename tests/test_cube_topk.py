"""Top-k / heavy-hitters measures from cube state (C21) — the bounded
frequent-items map (built from the native approx_top_k, merged by
per-item count sum + deterministic truncation: the mergeable-summaries
scheme, Agarwal et al. PODS'12) and the exact two-level decomposition
(ranked column as a dimension; windowed rank over live cells).

Two regimes, both pinned here:
- EXACT: while per-cell (and per-rollup-union) cardinality stays
  ≤ max_items, nothing ever truncates — counts are exact and
  merge == rebuild as plain map equality.
- TRUNCATED: past capacity the summary keeps the heaviest items
  (count desc, item asc tie-break — deterministic, so merges are
  order-independent pairwise), and deletes are NOT retractable
  (evicted history is gone) — the repair is the same bounded
  cell-rescan as min/max/HLL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube import CubeSpec, Dimension, Measure, build_cube, query_cube
from mongo_olap_spark.cube.build import delta_cells
from mongo_olap_spark.cube.ivm import merge_cells, recompute_cells
from mongo_olap_spark.cube.lattice import build_cube_lattice, query_lattice
from mongo_olap_spark.cube.query import hybrid_query, topk_rollup
from mongo_olap_spark.queries.core import USERS_EXACT_CUBE, USERS_TOPK_CUBE


def map_cells(df):
    """Cell rows with map columns made hashable (entry frozenset —
    maps have no defined entry order)."""
    out = set()
    for r in df.collect():
        row = []
        for v in r:
            row.append(frozenset(v.items()) if isinstance(v, dict) else v)
        out.add(tuple(row))
    return out


def direct_topk(events, k, *group_by):
    """Reference top-k most frequent user_ids per group straight off
    the source (count desc, user_id asc — the engine's tie-break)."""
    from pyspark.sql import Window

    e = events.filter(F.col("user_id").isNotNull())
    counted = e.groupBy(*group_by, "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(*group_by).orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# frequent-items map measure (sketch route)
# ---------------------------------------------------------------------------

def test_topk_exact_regime_matches_direct(spark, events):
    """At test cardinalities the capacity never truncates: the rolled
    top-3 (items AND counts AND order) equals a direct window top-3."""
    cells = build_cube(spark, USERS_TOPK_CUBE, events)
    rolled = query_cube(
        cells, USERS_TOPK_CUBE, group_by=["event_type"], measures=["top_users"]
    )
    got = {
        r["event_type"]: [(e["item"], e["count"]) for e in r["top_users"]]
        for r in rolled.collect()
    }
    want: dict = {}
    for r in direct_topk(events, 3, "event_type").collect():
        want.setdefault(r["event_type"], []).append((r["user_id"], r["cnt"]))
    assert got == want


def test_topk_state_equal_under_partitioning(spark, events):
    a = build_cube(spark, USERS_TOPK_CUBE, events.repartition(1))
    b = build_cube(spark, USERS_TOPK_CUBE, events.repartition(13, "value"))
    assert map_cells(a) == map_cells(b)


def test_topk_insert_merge_equals_rebuild(spark, events):
    """Exact regime: merging half-source deltas into half-source cells
    equals a from-scratch rebuild as plain map equality."""
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    cells = build_cube(spark, USERS_TOPK_CUBE, half1)
    deltas = delta_cells(USERS_TOPK_CUBE, half2.withColumn("mult", F.lit(1)))
    merged = merge_cells(cells, deltas, USERS_TOPK_CUBE)
    rebuilt = build_cube(spark, USERS_TOPK_CUBE, events)
    assert map_cells(merged) == map_cells(rebuilt)


def test_topk_is_not_delete_safe_and_repairs_via_recompute(spark, events):
    """Truncation forfeits retraction (spec policy, like min/max/HLL):
    the cube flags it, and the bounded cell-rescan repair restores the
    exact survivor state."""
    assert not USERS_TOPK_CUBE.delete_safe
    assert not USERS_TOPK_CUBE.measure("top_users").delete_safe
    doomed = events.orderBy("event_id").limit(40).cache()
    survivors = events.join(doomed.select("event_id"), "event_id", "left_anti").cache()

    cells = build_cube(spark, USERS_TOPK_CUBE, events)
    deltas = delta_cells(USERS_TOPK_CUBE, doomed.withColumn("mult", F.lit(-1)))
    merged = merge_cells(cells, deltas, USERS_TOPK_CUBE)
    from mongo_olap_spark.cube.ivm import affected_cells

    repaired = recompute_cells(
        USERS_TOPK_CUBE, survivors, merged, affected_cells(USERS_TOPK_CUBE, deltas)
    )
    want = build_cube(spark, USERS_TOPK_CUBE, survivors)
    assert map_cells(repaired) == map_cells(want)


def test_topk_merge_handles_one_sided_cells(spark, events):
    """Cells present on only one side of the merge keep their map."""
    old = events.filter(F.col("event_type") == "click")
    new = events.filter(F.col("event_type") == "purchase")
    cells = build_cube(spark, USERS_TOPK_CUBE, old)
    deltas = delta_cells(USERS_TOPK_CUBE, new.withColumn("mult", F.lit(1)))
    merged = merge_cells(cells, deltas, USERS_TOPK_CUBE)
    want = build_cube(spark, USERS_TOPK_CUBE, old.unionByName(new))
    assert map_cells(merged) == map_cells(want)


def test_topk_truncation_keeps_heavy_hitters_deterministically(spark):
    """Past capacity the merge keeps the heaviest items; ties break by
    item asc, so merging A into B equals merging B into A."""
    tiny = CubeSpec(
        name="tiny_topk",
        source="t",
        dimensions=(Dimension("g"),),
        measures=(
            Measure("n", "count"),
            Measure("top", "topk", "v", k=2, max_items=2),
        ),
    )
    a = spark.createDataFrame(
        [("x", "hot")] * 5 + [("x", "warm")] * 3 + [("x", "a1")], "g string, v string"
    )
    b = spark.createDataFrame(
        [("x", "hot")] * 4 + [("x", "a2")] * 2 + [("x", "a0")], "g string, v string"
    )
    ca = build_cube(spark, tiny, a)
    cb = delta_cells(tiny, b.withColumn("mult", F.lit(1)))
    ab = merge_cells(ca, cb, tiny)
    ba = merge_cells(build_cube(spark, tiny, b), delta_cells(tiny, a.withColumn("mult", F.lit(1))), tiny)
    ma = {r["g"]: r["top_tk"] for r in ab.collect()}
    mb = {r["g"]: r["top_tk"] for r in ba.collect()}
    assert ma == mb
    assert len(ma["x"]) <= 2
    # 'hot' dominates both sides — it must survive truncation with the
    # summed count
    assert ma["x"]["hot"] == 9


def test_topk_all_null_cell_is_empty_map_not_null(spark):
    tiny = CubeSpec(
        name="tiny_topk2",
        source="t",
        dimensions=(Dimension("g"),),
        measures=(Measure("n", "count"), Measure("top", "topk", "v", k=2)),
    )
    df = spark.createDataFrame([("x", None), ("x", None)], "g string, v string")
    cells = build_cube(spark, tiny, df).collect()
    assert cells[0]["top_tk"] == {}
    rolled = query_cube(build_cube(spark, tiny, df), tiny, group_by=["g"])
    assert rolled.collect()[0]["top"] == []


def test_topk_lattice_finalize_and_rollup(spark, events):
    levels = [("event_type", "day"), ("event_type",), ()]
    cells = build_cube_lattice(spark, USERS_TOPK_CUBE, events, levels)
    hit = query_lattice(cells, USERS_TOPK_CUBE, ["event_type"], measures=["top_users"])
    direct = query_cube(
        build_cube(spark, USERS_TOPK_CUBE, events),
        USERS_TOPK_CUBE,
        group_by=["event_type"],
        measures=["top_users"],
    )
    norm = lambda df: {
        r["event_type"]: [(e["item"], e["count"]) for e in r["top_users"]]
        for r in df.collect()
    }
    assert norm(hit) == norm(direct)


def test_topk_hybrid_query_merges_tail(spark, events):
    head = events.filter(F.col("event_id") % 3 != 0)
    tail = events.filter(F.col("event_id") % 3 == 0)
    cells = build_cube(spark, USERS_TOPK_CUBE, head)
    got = hybrid_query(cells, USERS_TOPK_CUBE, tail, group_by=["event_type"], measures=["top_users"])
    want = query_cube(
        build_cube(spark, USERS_TOPK_CUBE, events),
        USERS_TOPK_CUBE,
        group_by=["event_type"],
        measures=["top_users"],
    )
    norm = lambda df: {
        r["event_type"]: [(e["item"], e["count"]) for e in r["top_users"]]
        for r in df.collect()
    }
    assert norm(got) == norm(want)


# ---------------------------------------------------------------------------
# spec validation
# ---------------------------------------------------------------------------

def test_topk_spec_validation_and_json_roundtrip():
    with pytest.raises(ValueError, match="needs k"):
        Measure("t", "topk", "v")
    with pytest.raises(ValueError, match="max_items"):
        Measure("t", "topk", "v", k=10, max_items=5)
    with pytest.raises(ValueError, match="max_items"):
        Measure("t", "topk", "v", k=1, max_items=2_000_000)
    with pytest.raises(ValueError, match="only valid for op 'topk'"):
        Measure("t", "sum", "v", k=3)
    with pytest.raises(ValueError, match="only valid for op 'topk'"):
        Measure("t", "count", max_items=10)
    spec = CubeSpec(
        name="c",
        source="s",
        dimensions=(Dimension("g"),),
        measures=(Measure("n", "count"), Measure("t", "topk", "v", k=3, max_items=64)),
    )
    back = CubeSpec.from_json(spec.to_json())
    assert back == spec
    m = back.measure("t")
    assert (m.k, m.max_items, m.capacity, m.default_k) == (3, 64, 64, 3)
    assert Measure("t", "topk", "v", k=7).capacity == 10_000


# ---------------------------------------------------------------------------
# exact two-level route
# ---------------------------------------------------------------------------

def test_topk_rollup_matches_direct_with_ties(spark, events):
    cells = build_cube(spark, USERS_EXACT_CUBE, events)
    got = topk_rollup(
        cells, USERS_EXACT_CUBE, ["event_type"], "user_id", 5, count_alias="cnt"
    )
    want = direct_topk(events, 5, "event_type")
    key = lambda df: {tuple(r) for r in df.select("event_type", "user_id", "cnt", "rank").collect()}
    assert key(got) == key(want)


def test_topk_rollup_grand_total_and_extra_dims(spark, events):
    # grand total (empty group_by)
    cells = build_cube(spark, USERS_EXACT_CUBE, events)
    got = topk_rollup(cells, USERS_EXACT_CUBE, [], "user_id", 3, count_alias="cnt")
    want = direct_topk(events, 3)
    key = lambda df: {tuple(r) for r in df.select("user_id", "cnt", "rank").collect()}
    assert key(got) == key(want)
    # extra dims (event_type remains): multiplicities re-aggregate first
    three = CubeSpec(
        name="users_exact_day",
        source="events",
        dimensions=(
            Dimension("event_type"),
            Dimension("day", path="ts", granularity="day"),
            Dimension("user_id"),
        ),
        measures=(Measure("n", "count"),),
    )
    cells3 = build_cube(spark, three, events)
    got3 = topk_rollup(cells3, three, ["event_type"], "user_id", 3, count_alias="cnt")
    want3 = direct_topk(events, 3, "event_type")
    key3 = lambda df: {tuple(r) for r in df.select("event_type", "user_id", "cnt", "rank").collect()}
    assert key3(got3) == key3(want3)


def test_topk_rollup_is_fully_retractable(spark, events):
    """The exact route's headline vs the map summary: deletes maintain
    incrementally (cells evict at multiplicity 0) — ranked output after
    −1 deltas equals a from-scratch rebuild of the survivors."""
    assert USERS_EXACT_CUBE.delete_safe
    doomed = events.orderBy("event_id").limit(60).cache()
    survivors = events.join(doomed.select("event_id"), "event_id", "left_anti").cache()
    cells = build_cube(spark, USERS_EXACT_CUBE, events)
    deltas = delta_cells(USERS_EXACT_CUBE, doomed.withColumn("mult", F.lit(-1)))
    merged = merge_cells(cells, deltas, USERS_EXACT_CUBE)
    got = topk_rollup(merged, USERS_EXACT_CUBE, ["event_type"], "user_id", 3, count_alias="cnt")
    want = direct_topk(survivors, 3, "event_type")
    key = lambda df: {tuple(r) for r in df.select("event_type", "user_id", "cnt", "rank").collect()}
    assert key(got) == key(want)


def test_topk_rollup_rejects_bad_args(spark, events):
    cells = build_cube(spark, USERS_EXACT_CUBE, events)
    with pytest.raises(ValueError, match="k >= 1"):
        topk_rollup(cells, USERS_EXACT_CUBE, ["event_type"], "user_id", 0)
    with pytest.raises(ValueError, match="not a cube dimension"):
        topk_rollup(cells, USERS_EXACT_CUBE, ["event_type"], "nope", 3)
    with pytest.raises(ValueError, match="cannot also be grouped"):
        topk_rollup(cells, USERS_EXACT_CUBE, ["user_id"], "user_id", 3)
    with pytest.raises(ValueError, match="group_by not in cube dims"):
        topk_rollup(cells, USERS_EXACT_CUBE, ["nope"], "user_id", 3)


def test_topk_estimates_explode_route_matches_fold_route(spark, events):
    """The wide-rollup scale path (explode + re-count + WindowGroupLimit)
    agrees with the fold route in the exact regime, rank for rank."""
    from mongo_olap_spark.cube.query import topk_estimates

    cells = build_cube(spark, USERS_TOPK_CUBE, events)
    got = {
        (r["event_type"], r["rank"]): (r["who"], r["who_cnt"])
        for r in topk_estimates(
            cells, USERS_TOPK_CUBE, "top_users", 3, ["event_type"], alias="who"
        ).collect()
    }
    rolled = query_cube(
        cells, USERS_TOPK_CUBE, group_by=["event_type"], measures=["top_users"]
    )
    want = {}
    for r in rolled.collect():
        for i, e in enumerate(r["top_users"]):
            want[(r["event_type"], i + 1)] = (e["item"], e["count"])
    assert got == want
    # the rank filter compiles to a partial WindowGroupLimit
    plan = topk_estimates(
        cells, USERS_TOPK_CUBE, "top_users", 3, ["event_type"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_topk_estimates_rejects_bad_args(spark, events):
    from mongo_olap_spark.cube.query import topk_estimates

    cells = build_cube(spark, USERS_TOPK_CUBE, events)
    with pytest.raises(ValueError, match="not a topk"):
        topk_estimates(cells, USERS_TOPK_CUBE, "n", 3)
    with pytest.raises(ValueError, match="k >= 1"):
        topk_estimates(cells, USERS_TOPK_CUBE, "top_users", 0)
    with pytest.raises(ValueError, match="group_by not in cube dims"):
        topk_estimates(cells, USERS_TOPK_CUBE, "top_users", 3, ["nope"])


def test_topk_serve_exact_when_cells_exact_but_union_exceeds_capacity(spark):
    """r14 regression (found by the sf10 full-manifest gate): cells
    within capacity, rollup union PAST capacity. The old fold route
    truncated mid-merge and silently undercounted; the explode route
    must stay exact in this regime — per-cell exactness is the only
    precondition."""
    import itertools

    # 2 groups x 6 day-cells; 8 distinct users per cell, capacity 8 —
    # each cell exact. Disjoint-ish user sets per day: the per-group
    # union is 30 users >> capacity. User u appears (u % 7) + 1 times
    # per (group, day) it belongs to, so counts differ across users
    # and re-appearing users accumulate across days.
    rows = []
    for g, d, u in itertools.product(range(2), range(6), range(30)):
        if (u + d) % 5 != 0:  # keep ~6 users per (g, d) cell
            continue
        for _ in range((u % 7) + 1):
            rows.append((f"g{g}", d, f"u{u:02d}"))
    df = spark.createDataFrame(rows, "event_type string, day int, user_id string")

    tiny = CubeSpec(
        name="tiny_union_overflow",
        source="x",
        dimensions=(Dimension("event_type"), Dimension("day")),
        measures=(Measure("top_users", "topk", "user_id", k=3, max_items=8),),
    )
    cells = build_cube(spark, tiny, df)
    # preconditions: every cell within capacity, group unions far past it
    per_cell = df.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").alias("d")).collect()
    assert all(r["d"] <= 8 for r in per_cell)
    per_group = df.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("d")).collect()
    assert all(r["d"] > 8 for r in per_group)

    rolled = query_cube(cells, tiny, group_by=["event_type"],
                        measures=["top_users"])
    got = {
        r["event_type"]: [(e["item"], e["count"]) for e in r["top_users"]]
        for r in rolled.collect()
    }
    want: dict = {}
    for r in direct_topk(df, 3, "event_type").collect():
        want.setdefault(r["event_type"], []).append((r["user_id"], r["cnt"]))
    assert got == want


def test_topk_purged_regime_refuses_loudly(spark):
    """r15 regression (found by the sf100 probe): per-cell cardinality
    past max_items makes approx_top_k PURGE — at sf100 it returned an
    EMPTY map, and the serve silently emitted zero top-k rows. The
    mass-conservation guard (Σ map counts vs the {m}_tkn cell mass)
    must refuse loudly by default and serve only under an explicit
    on_inexact='sketch' opt-in."""
    # one cell, 64 distinct singleton users, capacity 2: guaranteed
    # purge territory for the frequent-items sketch
    rows = [("a", f"u{u:03d}") for u in range(64)]
    df = spark.createDataFrame(rows, "event_type string, user_id string")
    tiny = CubeSpec(
        name="tiny_purge",
        source="x",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("top_users", "topk", "user_id", k=2,
                          max_items=2),),
    )
    cells = build_cube(spark, tiny, df)
    # the mass column records the truth even when the map lost it
    c = cells.collect()[0]
    assert c["top_users_tkn"] == 64
    assert len(c["top_users_tk"]) < 64

    with pytest.raises(Exception, match="lost mass|max_items"):
        query_cube(cells, tiny, group_by=["event_type"],
                   measures=["top_users"]).collect()
    # explicit opt-in serves the documented bounded-error answer
    out = query_cube(cells, tiny, group_by=["event_type"],
                     measures=["top_users"],
                     on_inexact="sketch").collect()
    assert len(out) == 1
    with pytest.raises(ValueError, match="on_inexact"):
        query_cube(cells, tiny, measures=["top_users"],
                   on_inexact="bogus")


def test_topk_mass_column_tracks_build_merge_recompute(spark, events):
    """{m}_tkn stays equal to the cells' true non-null row mass through
    build, insert merge, and the delete-repair recompute."""
    half = events.filter(F.col("event_id") % 2 == 0)
    rest = events.filter(F.col("event_id") % 2 == 1)
    cells = build_cube(spark, USERS_TOPK_CUBE, half)
    want_half = half.filter(F.col("user_id").isNotNull()).count()
    assert cells.agg(F.sum("top_users_tkn")).collect()[0][0] == want_half

    deltas = delta_cells(USERS_TOPK_CUBE, rest.withColumn("mult", F.lit(1)))
    merged = merge_cells(cells, deltas, USERS_TOPK_CUBE)
    want_all = events.filter(F.col("user_id").isNotNull()).count()
    assert merged.agg(F.sum("top_users_tkn")).collect()[0][0] == want_all

    # guarded serve agrees with the direct recomputation after merge
    rolled = query_cube(merged, USERS_TOPK_CUBE, group_by=["event_type"],
                        measures=["top_users"])
    got = {r["event_type"]: [(e["item"], e["count"]) for e in r["top_users"]]
           for r in rolled.collect()}
    want: dict = {}
    for r in direct_topk(events, 3, "event_type").collect():
        want.setdefault(r["event_type"], []).append((r["user_id"], r["cnt"]))
    assert got == want


def test_q_cube_topn_falls_back_to_exact_past_capacity(spark, monkeypatch):
    """The registered query's production pattern: cells-sized mass
    precheck, exact source recompute when the sketch purged — the
    answer stays hash-exact at EVERY scale."""
    import mongo_olap_spark.queries.core as core
    from mongo_olap_spark.queries import QUERIES

    tiny = CubeSpec(
        name=core.USERS_TOPK_CUBE.name,
        source=core.USERS_TOPK_CUBE.source,
        dimensions=core.USERS_TOPK_CUBE.dimensions,
        measures=(Measure("n", "count"),
                  Measure("top_users", "topk", "user_id", k=3,
                          max_items=3)),
    )
    monkeypatch.setattr(core, "USERS_TOPK_CUBE", tiny)
    got = {(r.event_type, r.rank, r.user_id, r.cnt)
           for r in QUERIES["q_cube_topn"](
               spark, "/root/testdata/sf0.001").collect()}
    from mongo_olap_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    want = {(r.event_type, r.rank, r.user_id, r.cnt)
            for r in direct_topk(e, 3, "event_type")
            .withColumn("rank", F.col("rank").cast("long")).collect()}
    assert got == want


def test_q_cube_topn_unrelated_error_propagates(spark, monkeypatch):
    """Optimization r17 (VERDICT r16 #5): the exact-source fallback
    fires ONLY on the sentinel-tagged certificate raise. An unrelated
    error whose message merely mentions "topk measure" must propagate,
    not silently trigger a full source recompute."""
    import mongo_olap_spark.queries.core as core
    from mongo_olap_spark.queries import QUERIES

    def boom(*a, **kw):
        raise RuntimeError("unrelated failure mentioning topk measure")

    monkeypatch.setattr(core, "query_cube", boom)
    with pytest.raises(RuntimeError, match="unrelated failure"):
        QUERIES["q_cube_topn"](spark, "/root/testdata/sf0.001")


def test_topk_certificate_raise_carries_sentinel(spark, events):
    """Both certificate raise paths are tagged with the unique token
    the fallback matches."""
    from mongo_olap_spark.cube.query import TOPK_CERT_SENTINEL

    spec = CubeSpec(
        name="sentinel_probe",
        source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("n", "count"),
                  Measure("top_users", "topk", "user_id", k=3,
                          max_items=3)),
    )
    cells = build_cube(spark, spec, events)
    with pytest.raises(Exception, match="TOPK-CERT-E417"):
        query_cube(cells, spec, group_by=["event_type"],
                   measures=["top_users"]).collect()
    assert TOPK_CERT_SENTINEL in "[TOPK-CERT-E417]"
