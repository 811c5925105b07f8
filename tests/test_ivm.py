"""IVM equivalence properties (SURVEY.md §5.3): applying CDC deltas
incrementally — in any batch partitioning/order — must equal a batch
rebuild of the net state, exactly."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mongo_olap_spark.cube import CubeSpec, Dimension, Measure, build_cube, query_cube
from mongo_olap_spark.cube.build import delta_cells
from mongo_olap_spark.cube.ivm import merge_cells, recompute_cells, row_count_col
from mongo_olap_spark.queries.core import EVENTS_CUBE
from mongo_olap_spark.streaming.cdc import cdc_from_events, net_events


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_incremental_equals_rebuild_random_batches(spark, events):
    """Split the CDC stream into k random contiguous batches (seeded),
    apply sequentially, compare to the batch build of net state."""
    rng = random.Random(42)
    cdc = cdc_from_events(events).orderBy("stream_ts").cache()
    n = cdc.count()
    cuts = sorted(rng.sample(range(1, n), 4))
    bounds = [0, *cuts, n]

    indexed = cdc.withColumn(
        "rn", F.row_number().over(W.orderBy("stream_ts", "event_id", "op"))
    ).cache()

    cells = build_cube(spark, EVENTS_CUBE, events.limit(0))  # empty cube
    for lo, hi in zip(bounds, bounds[1:]):
        batch = indexed.filter((F.col("rn") > lo) & (F.col("rn") <= hi))
        deltas = delta_cells(EVENTS_CUBE, batch)
        cells = merge_cells(cells, deltas, EVENTS_CUBE).localCheckpoint(eager=True)

    expected = build_cube(spark, EVENTS_CUBE, net_events(events))
    assert rows_set(query_cube(cells, EVENTS_CUBE)) == rows_set(
        query_cube(expected, EVENTS_CUBE)
    )


def test_update_is_delete_plus_insert(spark, events):
    """C13: an update event = (−1 old doc, +1 new doc); cube must land
    on the post-update state."""
    base = events.limit(200).cache()
    cells = build_cube(spark, EVENTS_CUBE, base)
    # update: every 'error' event re-typed to 'view' with value doubled
    old = base.filter(F.col("event_type") == "error")
    new = old.withColumn("value", F.col("value") * 2).withColumn(
        "event_type", F.lit("view")
    )
    pair = old.withColumn("mult", F.lit(-1)).unionByName(new.withColumn("mult", F.lit(1)))
    merged = merge_cells(cells, delta_cells(EVENTS_CUBE, pair), EVENTS_CUBE)

    post = base.filter(F.col("event_type") != "error").unionByName(new)
    expected = build_cube(spark, EVENTS_CUBE, post)
    assert rows_set(query_cube(merged, EVENTS_CUBE)) == rows_set(
        query_cube(expected, EVENTS_CUBE)
    )


def test_zero_cells_evicted(spark, events):
    one_day = events.filter(F.date_trunc("day", "ts") == "2024-01-03 00:00:00").cache()
    cells = build_cube(spark, EVENTS_CUBE, one_day)
    n_cells = cells.count()
    assert n_cells > 0
    # retract everything
    deltas = delta_cells(EVENTS_CUBE, one_day.withColumn("mult", F.lit(-1)))
    merged = merge_cells(cells, deltas, EVENTS_CUBE)
    assert merged.count() == 0


MINMAX_CUBE = CubeSpec(
    name="events_minmax",
    source="events",
    dimensions=(Dimension("event_type"),),
    measures=(
        Measure("n", "count"),
        Measure("lo", "min", "value"),
        Measure("hi", "max", "value"),
    ),
)


def test_minmax_insert_only_merge(spark, events):
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    cells = build_cube(spark, MINMAX_CUBE, half1)
    deltas = delta_cells(MINMAX_CUBE, half2.withColumn("mult", F.lit(1)))
    merged = merge_cells(cells, deltas, MINMAX_CUBE)
    expected = build_cube(spark, MINMAX_CUBE, events)
    assert rows_set(query_cube(merged, MINMAX_CUBE)) == rows_set(
        query_cube(expected, MINMAX_CUBE)
    )


def test_minmax_delete_requires_recompute(spark, events):
    """Deleting the current max must repair via recompute_cells — the
    merged min/max alone would be stale."""
    cells = build_cube(spark, MINMAX_CUBE, events)
    # delete the global max-value row of each event_type
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(F.desc("value"))
    doomed = events.withColumn("r", F.row_number().over(w)).filter("r = 1").drop("r")
    deltas = delta_cells(MINMAX_CUBE, doomed.withColumn("mult", F.lit(-1)))
    merged = merge_cells(cells, deltas, MINMAX_CUBE)
    touched = doomed.select("event_type").distinct()
    survivors = events.join(doomed.select("event_id"), "event_id", "left_anti")
    repaired = recompute_cells(MINMAX_CUBE, survivors, merged, touched)
    expected = build_cube(spark, MINMAX_CUBE, survivors)
    assert rows_set(query_cube(repaired, MINMAX_CUBE)) == rows_set(
        query_cube(expected, MINMAX_CUBE)
    )


def test_row_count_col_requires_count():
    for ms in [(Measure("lo", "min", "x"),), (Measure("av", "avg", "x"),)]:
        spec = CubeSpec(
            name="no_count",
            source="t",
            dimensions=(Dimension("d"),),
            measures=ms,
        )
        with pytest.raises(ValueError, match="count measure"):
            row_count_col(spec)


def test_avg_count_is_not_a_cell_row_count(spark):
    """An avg's count partial counts non-null VALUES: a cell whose rows
    all carry NULL reads 0 there while it still has rows. Evicting by
    it dropped group 'a' on the next merge, where a rebuild keeps it —
    an avg-only cube now refuses retraction loudly, and with a count
    measure the merge equals the rebuild."""
    src = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 1.0)], "g string, w double")
    ins = spark.createDataFrame([("b", 3.0, 1)], "g string, w double, mult int")
    avg_only = CubeSpec(name="avg_only", source="t", dimensions=(Dimension("g"),),
                        measures=(Measure("aw", "avg", "w"),))
    with pytest.raises(ValueError, match="count measure"):
        merge_cells(build_cube(spark, avg_only, src),
                    delta_cells(avg_only, ins), avg_only)
    counted = CubeSpec(name="avg_counted", source="t", dimensions=(Dimension("g"),),
                       measures=(Measure("n", "count"), Measure("aw", "avg", "w")))
    merged = merge_cells(build_cube(spark, counted, src),
                         delta_cells(counted, ins), counted)
    rebuilt = build_cube(spark, counted, src.unionByName(ins.drop("mult")))
    for cells in (merged, rebuilt):
        assert {r["g"]: (r["n_cnt"], r["aw_cnt"]) for r in cells.collect()} == {
            "a": (2, 0), "b": (2, 2)}


COUNT_SUM_AVG = CubeSpec(
    name="csa", source="t", dimensions=(Dimension("g"),),
    measures=(Measure("n", "count"), Measure("s", "sum", "w"),
              Measure("aw", "avg", "w")))


def _answers(spec, cells):
    return sorted(tuple(r) for r in query_cube(cells, spec).collect())


def test_merge_keeps_untouched_null_sum_null(spark):
    """A group whose values are all NULL has a NULL sum. A merge with a
    batch that never touches it used to coalesce both sides to 0, and
    the avg then failed the whole query with DIVIDE_BY_ZERO."""
    src = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 1.0)], "g string, w double")
    ins = spark.createDataFrame([("b", 3.0, 1)], "g string, w double, mult int")
    merged = merge_cells(build_cube(spark, COUNT_SUM_AVG, src),
                         delta_cells(COUNT_SUM_AVG, ins), COUNT_SUM_AVG)
    rebuilt = build_cube(spark, COUNT_SUM_AVG, src.unionByName(ins.drop("mult")))
    assert _answers(COUNT_SUM_AVG, merged) == _answers(COUNT_SUM_AVG, rebuilt) == [
        ("a", 2, None, None), ("b", 2, 4.0, 2.0)]


def test_delete_last_value_of_group_answers_null_avg(spark):
    """Deleting a group's last non-null value while it keeps rows
    leaves no value to average: the avg answers NULL, as a rebuild
    does, instead of 0/0."""
    src = spark.createDataFrame(
        [("a", None), ("a", 2.0), ("b", 1.0)], "g string, w double")
    dele = spark.createDataFrame([("a", 2.0, -1)], "g string, w double, mult int")
    merged = merge_cells(build_cube(spark, COUNT_SUM_AVG, src),
                         delta_cells(COUNT_SUM_AVG, dele), COUNT_SUM_AVG)
    rebuilt = build_cube(spark, COUNT_SUM_AVG, src.filter("w IS NULL OR g = 'b'"))
    got = {r[0]: tuple(r[1:]) for r in _answers(COUNT_SUM_AVG, merged)}
    want = {r[0]: tuple(r[1:]) for r in _answers(COUNT_SUM_AVG, rebuilt)}
    assert want == {"a": (1, None, None), "b": (1, 1.0, 1.0)}
    # the stored sum keeps the retracted 0 (sum stores no count of
    # non-null values), so only the avg and the count match the rebuild
    assert got == {"a": (1, 0.0, None), "b": (1, 1.0, 1.0)}


def test_no_dim_cube_emptied_by_deletes_takes_later_inserts(spark, tmp_path):
    """A cube without dimensions holds one cell; once deletes evict it,
    the next insert must create it again (the merge used to cross-join
    the deltas with the empty cell table and drop them)."""
    from mongo_olap_spark.cube.catalog import CubeCatalog
    from mongo_olap_spark.streaming.pipeline import CubeMaintainer

    spec = CubeSpec("g", "src", (), (Measure("n", "count"), Measure("s", "sum", "value")))
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(spec, spark.createDataFrame([(1.0,), (2.0,)], "value double"))
    m = CubeMaintainer(cat, spec)
    schema = "value double, mult int"
    assert m.apply_batch(spark.createDataFrame([(1.0, -1), (2.0, -1)], schema), 1)
    assert cat.cells("g").collect() == []
    assert m.apply_batch(spark.createDataFrame([(7.0, 1)], schema), 2)
    assert [tuple(r) for r in cat.cells("g").collect()] == [(1, 7)]


def test_minmax_recompute_repairs_null_dim_cells(spark, events):
    """ADVICE r1: recompute_cells must join null-safely — deleting the
    max inside a NULL-valued dimension cell has to repair that cell,
    not keep the stale one."""
    nulled = events.withColumn(
        "event_type",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("event_type")),
    ).cache()
    cells = build_cube(spark, MINMAX_CUBE, nulled)
    # delete the max-value row of the NULL cell specifically
    w = W.partitionBy("event_type").orderBy(F.desc("value"))
    doomed = (
        nulled.filter(F.col("event_type").isNull())
        .withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .drop("r")
    )
    deltas = delta_cells(MINMAX_CUBE, doomed.withColumn("mult", F.lit(-1)))
    merged = merge_cells(cells, deltas, MINMAX_CUBE)
    touched = doomed.select("event_type").distinct()  # one row, NULL dim
    survivors = nulled.join(doomed.select("event_id"), "event_id", "left_anti")
    repaired = recompute_cells(MINMAX_CUBE, survivors, merged, touched)
    expected = build_cube(spark, MINMAX_CUBE, survivors)
    assert rows_set(query_cube(repaired, MINMAX_CUBE)) == rows_set(
        query_cube(expected, MINMAX_CUBE)
    )
    # the NULL cell's max actually changed (the repair did real work)
    null_hi = {r.hi_max for r in repaired.filter(F.col("event_type").isNull()).collect()}
    stale_hi = {r.hi_max for r in cells.filter(F.col("event_type").isNull()).collect()}
    assert null_hi != stale_hi



def test_incremental_equals_rebuild_random_specs(spark, events):
    """Round 5: the random-batch equivalence property over RANDOM cube
    specs — dims drawn from {event_type, day, user bucket}, measures
    from the delete-safe set {count, sum, avg} (min/max require the
    recompute path on deletes, pinned by their own tests) — so IVM
    correctness is not an artifact of the one hand-picked EVENTS_CUBE
    shape. A draw without a count measure must refuse retraction."""
    rng = random.Random(5)
    dim_pool = [
        Dimension("etype", path="event_type"),
        Dimension("day", path="ts", granularity="day"),
        Dimension("ubucket", path="user_id % 7"),
    ]
    meas_pool = [
        Measure("n", "count"),
        Measure("sv", "sum", path="value"),
        Measure("av", "avg", path="value"),
    ]
    cdc = cdc_from_events(events).orderBy("stream_ts")
    n = cdc.count()
    indexed = cdc.withColumn(
        "rn", F.row_number().over(W.orderBy("stream_ts", "event_id", "op"))
    ).cache()
    for trial in range(4):
        dims = tuple(rng.sample(dim_pool, rng.randint(1, 3)))
        meas = tuple(rng.sample(meas_pool, rng.randint(1, 3)))
        spec = CubeSpec(name=f"fz{trial}", source="events",
                        dimensions=dims, measures=meas)
        cut = rng.randint(1, n - 1)
        cells = build_cube(spark, spec, events.limit(0))
        if not any(m.op == "count" for m in meas):
            # an avg's count partial counts non-null values, not rows:
            # without a count measure retraction refuses loudly
            with pytest.raises(ValueError, match="count measure"):
                merge_cells(cells, delta_cells(spec, indexed), spec)
            continue
        for lo, hi in [(0, cut), (cut, n)]:
            batch = indexed.filter((F.col("rn") > lo) & (F.col("rn") <= hi))
            cells = merge_cells(
                cells, delta_cells(spec, batch), spec
            ).localCheckpoint(eager=True)
        expected = build_cube(spark, spec, net_events(events))
        assert rows_set(query_cube(cells, spec)) == rows_set(
            query_cube(expected, spec)
        ), f"trial={trial} dims={[d.name for d in dims]} meas={[m.name for m in meas]}"


# ---------------------------------------------------------------------------
# Round-6 task 4: the IVM equivalence property over PIPELINE-DEFINED
# cubes — random [$match?, $group] configs (the reference's JSON cube
# flow) × random CDC batch interleavings, through the real OlapEngine
# facade (manifest commits included), hash-exact against a from-scratch
# rebuild of the net state.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_FZ_MATCH = [
    None,
    {"value": {"$gt": 25}},
    {"event_type": {"$ne": None}},
    {"value": {"$gte": 10, "$lt": 90}},
]
_FZ_DIMS = [
    ("etype", "$event_type"),
    ("day", {"$dateTrunc": {"date": "$ts", "unit": "day"}}),
    ("hr", {"$dateTrunc": {"date": "$ts", "unit": "hour"}}),
    ("uid", "$user_id"),
]
# delete-safe accumulators; min/max need the recompute path on deletes
# (pinned by test_minmax_delete_requires_recompute)
_FZ_ACCS = [
    ("n", {"$sum": 1}),
    ("sv", {"$sum": "$value"}),
    ("av", {"$avg": "$value"}),
]


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_ivm_pipeline_cubes_property(spark, events, data):
    import tempfile

    from mongo_olap_spark.engine import OlapEngine

    match = data.draw(st.sampled_from(_FZ_MATCH), label="match")
    dims = data.draw(
        st.lists(st.sampled_from(_FZ_DIMS), min_size=1, max_size=2,
                 unique_by=lambda d: d[0]),
        label="dims",
    )
    accs = data.draw(
        st.lists(st.sampled_from(_FZ_ACCS), min_size=1, max_size=3,
                 unique_by=lambda a: a[0])
        # drawn cubes keep an avg or a count measure; retraction needs
        # the count (cube/measures.row_count_col), so an avg-only draw
        # must refuse the first batch loudly
        .filter(lambda a: any(x[0] in ("n", "av") for x in a)),
        label="accs",
    )
    counted = any(x[0] == "n" for x in accs)
    ncuts = data.draw(st.integers(1, 3), label="ncuts")
    fracs = sorted(
        data.draw(st.floats(0.05, 0.95), label=f"cut{i}")
        for i in range(ncuts)
    )
    pipeline = ([{"$match": match}] if match else []) + [
        {"$group": {"_id": dict(dims), **dict(accs)}}
    ]

    cdc = cdc_from_events(events)
    n = cdc.count()
    indexed = cdc.withColumn(
        "rn", F.row_number().over(W.orderBy("stream_ts", "event_id", "op"))
    ).cache()
    bounds = [0, *sorted({max(1, int(f * n)) for f in fracs}), n]

    with tempfile.TemporaryDirectory() as root:
        engine = OlapEngine(spark, root)
        engine.create_cube_from_pipeline(
            "fzp", "events", pipeline, events.limit(0)
        )
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            batch = indexed.filter((F.col("rn") > lo) & (F.col("rn") <= hi))
            if not counted:
                with pytest.raises(ValueError, match="count measure"):
                    engine.apply_cdc("fzp", batch, i)
                return
            engine.apply_cdc("fzp", batch, i)
        got = rows_set(engine.query(cube="fzp"))

        spec = engine.catalog.get_spec("fzp")
        expected = rows_set(
            query_cube(build_cube(spark, spec, net_events(events)), spec)
        )
    assert got == expected, f"pipeline={pipeline} bounds={bounds}"
