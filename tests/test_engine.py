"""OlapEngine facade: the full reference-service lifecycle in one test
session — define from JSON config, populate, query (direct + routed),
apply CDC, stream, drop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube import build_cube, query_cube
from mongo_olap_spark.engine import OlapEngine
from mongo_olap_spark.queries.core import EVENTS_CUBE
from mongo_olap_spark.streaming.cdc import cdc_from_events, net_events


def rows_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def engine(spark, tmp_path):
    return OlapEngine(spark, str(tmp_path / "olap"))


def test_lifecycle_from_json_config(engine, events):
    # a client defines the cube as a JSON document (the reference's
    # config-driven surface)
    engine.create_cube(EVENTS_CUBE.to_json(), events)
    assert engine.list_cubes() == ["events_daily"]

    direct = engine.query(cube="events_daily", group_by=["event_type"])
    expected = query_cube(
        build_cube(engine.spark, EVENTS_CUBE, events), EVENTS_CUBE, group_by=["event_type"]
    )
    assert rows_set(direct) == rows_set(expected)

    routed = engine.query(
        source="events", group_by=["event_type"], measures=["n", "total_value"]
    )
    assert {r["event_type"] for r in routed.collect()} == {
        r["event_type"] for r in expected.collect()
    }

    engine.drop_cube("events_daily")
    assert engine.list_cubes() == []


def test_cdc_batches_through_facade(engine, events):
    engine.create_cube(EVENTS_CUBE, events.limit(0))
    cdc = cdc_from_events(events)
    engine.apply_cdc("events_daily", cdc.filter(F.col("op") == "insert"), 0)
    engine.apply_cdc("events_daily", cdc.filter(F.col("op") == "delete"), 1)
    got = engine.query(cube="events_daily")
    expected = query_cube(
        build_cube(engine.spark, EVENTS_CUBE, net_events(events)), EVENTS_CUBE
    )
    assert rows_set(got) == rows_set(expected)


def test_streaming_through_facade(engine, events, tmp_path):
    engine.create_cube(EVENTS_CUBE, events.limit(0))
    cdc_dir = str(tmp_path / "cdc")
    cdc_from_events(events).write.mode("overwrite").parquet(cdc_dir)
    from mongo_olap_spark.streaming.cdc import CDC_SCHEMA

    stream = engine.spark.readStream.schema(CDC_SCHEMA).parquet(cdc_dir)
    q = engine.start_maintenance("events_daily", stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    got = engine.query(cube="events_daily")
    expected = query_cube(
        build_cube(engine.spark, EVENTS_CUBE, net_events(events)), EVENTS_CUBE
    )
    assert rows_set(got) == rows_set(expected)


def test_query_validation(engine, events):
    engine.create_cube(EVENTS_CUBE, events)
    with pytest.raises(ValueError, match="group_by not in cube dims"):
        engine.query(cube="events_daily", group_by=["user_id"])
    with pytest.raises(ValueError, match="cube= or source="):
        engine.query(group_by=["x"])

def test_hybrid_serving_through_facade(engine, events):
    """A cube built on the historical half plus a raw tail must answer
    exactly like a fully-caught-up cube (lambda serving)."""
    cut = F.lit("2024-01-21 00:00:00").cast("timestamp")
    engine.create_cube(EVENTS_CUBE, events.filter(F.col("ts") < cut))
    got = engine.query(cube="events_daily", tail=events.filter(F.col("ts") >= cut))
    expected = query_cube(build_cube(engine.spark, EVENTS_CUBE, events), EVENTS_CUBE)
    assert rows_set(got) == rows_set(expected)
    with pytest.raises(ValueError, match="hybrid query"):
        engine.query(cube="events_daily", tail=events, where="day IS NOT NULL")


def test_time_range_serving_prunes_partitions(engine, events):
    """A time-sliced cube query must (a) read only the matching
    partition dirs driver-side and (b) answer exactly like a full-scan
    filter."""
    from datetime import datetime

    engine.create_cube(EVENTS_CUBE, events)
    lo, hi = datetime(2024, 1, 10), datetime(2024, 1, 15)

    pruned = engine.catalog.cells_in_range("events_daily", lo, hi)
    n_parts = len(engine.catalog.manifest("events_daily")["partitions"])
    n_files = pruned.inputFiles()
    assert len(n_files) < n_parts  # strictly fewer dirs than the cube has
    assert pruned.count() > 0

    got = engine.query(
        cube="events_daily", group_by=["event_type"], time_range=(lo, hi)
    )
    expected = engine.query(
        cube="events_daily",
        group_by=["event_type"],
        where="day >= '2024-01-10' AND day < '2024-01-15'",
    )
    assert rows_set(got) == rows_set(expected)


def test_time_range_accepts_key_strings_and_fences_tail(engine, events):
    """ADVICE r2: string bounds in the partition-key format must slice
    exactly like datetimes (previously the dotted string cast to NULL
    against the timestamp dim and silently matched nothing), and
    tail= + time_range= must refuse instead of silently ignoring tail."""
    from datetime import datetime

    engine.create_cube(EVENTS_CUBE, events)
    lo, hi = datetime(2024, 1, 10), datetime(2024, 1, 15)
    want = rows_set(engine.query(
        cube="events_daily", group_by=["event_type"], time_range=(lo, hi)
    ))
    assert want  # the slice is non-empty, so a silent empty would show
    got = engine.query(
        cube="events_daily",
        group_by=["event_type"],
        time_range=("2024-01-10T00.00.00", "2024-01-15T00.00.00"),
    )
    assert rows_set(got) == want

    with pytest.raises(ValueError, match="cannot parse bound"):
        engine.query(cube="events_daily", time_range=("not-a-date", None))
    with pytest.raises(ValueError, match="cannot combine"):
        engine.query(
            cube="events_daily", tail=events, time_range=(lo, hi)
        )


def test_materialize_pipeline_into_store(engine, events):
    v = engine.materialize_pipeline(
        events,
        [
            {"$group": {"_id": "$event_type", "n": {"$sum": 1}}},
            {"$out": "type_counts"},
        ],
    )
    assert v == 1
    got = engine.store.read("type_counts")
    assert got.count() == events.select("event_type").distinct().count()
    # incremental refresh through $merge: re-materialize only one type
    engine.materialize_pipeline(
        events.filter(F.col("event_type").isNotNull()),
        [
            {"$group": {"_id": "$event_type", "n": {"$sum": 1}}},
            {"$merge": {"into": "type_counts", "on": "_id"}},
        ],
    )
    assert engine.store.version("type_counts") == 2
    assert engine.store.read("type_counts").count() == got.count()


def test_engine_explain(spark, sf_dir, tmp_path):
    """Round-6 task 7: explain() reports the routing decision and the
    per-$lookup join strategy without launching a job — it names the
    routed cube for a routable aggregate, the banded-range strategy
    for a two-sided $$var band, and surfaces refusal diagnostics
    instead of raising."""
    from mongo_olap_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    pipeline = [
        {"$match": {"value": {"$gt": 0}}},
        {"$group": {"_id": {"etype": "$event_type"}, "n": {"$sum": 1}}},
    ]
    engine.create_cube_from_pipeline("exp_cube", "events", pipeline, events)

    rep = engine.explain("events", pipeline)
    assert rep["route"]["target"] == "cube"
    assert rep["route"]["cube"] == "exp_cube"
    assert "cells" in rep["route"]["reason"]
    assert rep["route"]["pushed_filter"]  # the $match rides as filter_sql
    assert rep["stages"][0]["stage"] == "$match"
    assert "pushdown" in rep["stages"][0]["note"]

    # q_pipeline_lookup_range's shape: pure-inequality band → the
    # bucketized range-join strategy, and no cube serves it
    range_pipe = [
        {"$lookup": {
            "from": "orders",
            "let": {"lo": {"$multiply": ["$c_acctbal", 10]},
                    "hi": {"$multiply": ["$c_acctbal", 10.2]}},
            "pipeline": [
                {"$match": {"$expr": {"$and": [
                    {"$gte": ["$o_totalprice", "$$lo"]},
                    {"$lt": ["$o_totalprice", "$$hi"]},
                ]}}},
                {"$project": {"o_orderkey": 1}},
            ],
            "as": "band",
        }},
    ]
    rep2 = engine.explain("customer", range_pipe)
    assert rep2["route"]["target"] == "source"
    (lk,) = [s for s in rep2["stages"] if s["stage"] == "$lookup"]
    assert lk["strategy"] == "banded-range"
    assert "o_totalprice" in lk["detail"]
    assert lk["residual_predicates"]

    # strategy taxonomy on the other shapes
    equi = {"from": "orders", "localField": "c_custkey",
            "foreignField": "o_custkey", "as": "o"}
    rep3 = engine.explain("customer", [{"$lookup": equi}])
    assert rep3["stages"][0]["strategy"] == "equi-packed"
    uncorr = {"from": "orders", "pipeline": [{"$count": "n"}], "as": "s"}
    rep4 = engine.explain("customer", [{"$lookup": uncorr}])
    assert rep4["stages"][0]["strategy"] == "broadcast-uncorrelated"
    onesided = {"from": "orders", "let": {"b": "$c_acctbal"},
                "pipeline": [{"$match": {"$expr":
                    {"$lt": ["$o_totalprice", "$$b"]}}}], "as": "o"}
    rep5 = engine.explain("customer", [{"$lookup": onesided}])
    assert rep5["stages"][0]["strategy"] == "nested-loop"
    mixed = {"from": "orders", "let": {"k": "$c_custkey", "b": "$c_acctbal"},
             "pipeline": [{"$match": {"$expr": {"$and": [
                 {"$eq": ["$o_custkey", "$$k"]},
                 {"$lt": ["$o_totalprice", "$$b"]}]}}}], "as": "o"}
    rep6 = engine.explain("customer", [{"$lookup": mixed}])
    assert rep6["stages"][0]["strategy"] == "hash-equi+residual"

    # refusal diagnostics surface in the report instead of raising
    bad = {"from": "orders", "let": {"x": 1},
           "pipeline": [{"$project": {"a": 1}}], "as": "z"}
    rep7 = engine.explain("customer", [{"$lookup": bad}])
    assert rep7["stages"][0].get("refusal")
    assert any("$lookup" in r for r in rep7["refusals"])

    # stage annotations: unpartitioned-window hazard, graph + merge notes
    rep8 = engine.explain("events", [
        {"$setWindowFields": {"sortBy": {"ts": 1},
                              "output": {"rn": {"$documentNumber": {}}}}},
        {"$graphLookup": {"from": "events", "startWith": "$user_id",
                          "connectFromField": "user_id",
                          "connectToField": "event_id", "as": "g"}},
        {"$merge": {"into": "t", "on": "_id", "whenMatched": "replace"}},
    ])
    assert "global window" in rep8["stages"][0]["warning"]
    assert "exhaustive" in rep8["stages"][1]["note"]
    assert "whenMatched=replace" in rep8["stages"][2]["note"]


# ---------------------------------------------------------------------------
# r14: snapshot time travel — as_of pins a committed version
# ---------------------------------------------------------------------------

def test_as_of_serves_pinned_snapshot(engine, events):
    engine.create_cube(EVENTS_CUBE, events)
    v1 = engine.catalog.current_version("events_daily")
    before = rows_set(engine.query(cube="events_daily",
                                   group_by=["event_type"]))

    # CDC moves the cube forward; the pinned version must not move
    cdc = cdc_from_events(events)
    engine.apply_cdc("events_daily",
                     cdc.filter(F.col("op") == "delete"), 0)
    after = rows_set(engine.query(cube="events_daily",
                                  group_by=["event_type"]))
    assert after != before  # the deletes changed the live answer

    pinned = rows_set(engine.query(cube="events_daily",
                                   group_by=["event_type"], as_of=v1))
    assert pinned == before
    # current version serves the live answer through as_of too
    v2 = engine.catalog.current_version("events_daily")
    assert v2 > v1
    assert rows_set(engine.query(cube="events_daily",
                                 group_by=["event_type"],
                                 as_of=v2)) == after
    assert engine.catalog.list_versions("events_daily") == [v1, v2]


def test_as_of_unknown_version_refuses(engine, events):
    engine.create_cube(EVENTS_CUBE, events)
    with pytest.raises(ValueError, match="no committed snapshot"):
        engine.query(cube="events_daily", as_of=999)


def test_as_of_refuses_mixed_epochs(engine, events):
    engine.create_cube(EVENTS_CUBE, events)
    v = engine.catalog.current_version("events_daily")
    with pytest.raises(ValueError, match="as_of.*tail|tail.*as_of"):
        engine.query(cube="events_daily", as_of=v, tail=events.limit(1))
    with pytest.raises(ValueError, match="time_range"):
        engine.query(cube="events_daily", as_of=v,
                     time_range=("2024-01-01", "2024-01-02"))


def test_as_of_vacuumed_version_refuses(engine, events):
    engine.create_cube(EVENTS_CUBE, events)
    v1 = engine.catalog.current_version("events_daily")
    # a refresh rewrites the snapshot; vacuum then reclaims v1's files
    # AND prunes its history manifest, so the version disappears from
    # the time-travel surface entirely
    engine.refresh_cube("events_daily", events)
    engine.catalog.vacuum("events_daily")
    assert engine.catalog.list_versions("events_daily") == [v1 + 1]
    with pytest.raises(ValueError, match="no committed snapshot"):
        engine.query(cube="events_daily", as_of=v1)
    # the live read is untouched
    assert engine.query(cube="events_daily").count() > 0


def test_as_of_partially_reclaimed_version_refuses(engine, events):
    # the crash window vacuum cannot close: data directory gone but
    # the history manifest still present — as_of must refuse with the
    # vacuum diagnosis, never serve a silently partial (here: empty)
    # snapshot
    import os
    import shutil

    engine.create_cube(EVENTS_CUBE, events)
    v1 = engine.catalog.current_version("events_daily")
    engine.refresh_cube("events_daily", events)
    m1 = engine.catalog.manifest("events_daily", v1)
    for p in m1["partitions"].values():
        shutil.rmtree(os.path.join(engine.catalog._dir("events_daily"),
                                   p["path"]), ignore_errors=True)
    with pytest.raises(ValueError, match="vacuum reclaimed"):
        engine.query(cube="events_daily", as_of=v1)


def test_as_of_soak_every_snapshot_stays_pinned(engine, events):
    # time travel × IVM: drive a multi-batch CDC run, capturing the
    # LIVE answer after every committed batch; at the end, every
    # historical version must reproduce its captured answer exactly —
    # snapshot immutability under ongoing maintenance, the property a
    # reproducible training run relies on.
    engine.create_cube(EVENTS_CUBE, events.limit(0))
    cdc = cdc_from_events(events).withColumn(
        "slot", (F.col("change_id") % 6).cast("int")).cache()
    captured = {}
    for b in range(6):
        applied = engine.apply_cdc(
            "events_daily", cdc.filter(F.col("slot") == b).drop("slot"), b)
        assert applied
        v = engine.catalog.current_version("events_daily")
        captured[v] = rows_set(engine.query(cube="events_daily",
                                            group_by=["event_type"]))
    cdc.unpersist()
    assert len(captured) == 6  # every batch committed a new version
    # answers did change across the run (deletes + inserts landed)
    assert len({frozenset(r) for r in captured.values()}) > 1
    for v, want in captured.items():
        got = rows_set(engine.query(cube="events_daily",
                                    group_by=["event_type"], as_of=v))
        assert got == want, f"version {v} drifted"


# ---------------------------------------------------------------------------
# r15: cube spec evolution — add/drop measures on a LIVE cube without
# rebuilding the surviving ones; snapshots stay pinned with THEIR spec
# ---------------------------------------------------------------------------

def _evolved_spec(add=(), drop=()):
    from dataclasses import replace

    kept = tuple(m for m in EVENTS_CUBE.measures if m.name not in set(drop))
    return replace(EVENTS_CUBE, measures=kept + tuple(add))


def test_evolve_add_measure_equals_rebuild(engine, events):
    from mongo_olap_spark.cube.spec import Measure

    engine.create_cube(EVENTS_CUBE, events)
    add = [Measure("max_value", "max", "value"),
           Measure("sd_value", "stddev_pop", "value")]
    engine.evolve_cube("events_daily", add=add, source=events)

    new_spec = _evolved_spec(add=add)
    want = query_cube(build_cube(engine.spark, new_spec, events), new_spec,
                      group_by=["event_type"],
                      measures=["n", "total_value", "avg_value",
                                "max_value", "sd_value"])
    got = engine.query(cube="events_daily", group_by=["event_type"],
                       measures=["n", "total_value", "avg_value",
                                 "max_value", "sd_value"])
    assert rows_set(got) == rows_set(want)


def test_evolve_drop_measure(engine, events):
    engine.create_cube(EVENTS_CUBE, events)
    engine.evolve_cube("events_daily", drop=["avg_value"])
    spec = engine.catalog.get_spec("events_daily")
    assert [m.name for m in spec.measures] == ["n", "total_value"]
    # surviving measures still answer exactly
    want = query_cube(build_cube(engine.spark, _evolved_spec(
        drop=["avg_value"]), events), _evolved_spec(drop=["avg_value"]),
        group_by=["event_type"], measures=["n", "total_value"])
    got = engine.query(cube="events_daily", group_by=["event_type"],
                       measures=["n", "total_value"])
    assert rows_set(got) == rows_set(want)
    # the dropped measure refuses by name
    with pytest.raises(Exception, match="avg_value"):
        engine.query(cube="events_daily", group_by=["event_type"],
                     measures=["avg_value"]).collect()


def test_evolve_time_travel_pins_old_spec(engine, events):
    from mongo_olap_spark.cube.spec import Measure

    engine.create_cube(EVENTS_CUBE, events)
    v1 = engine.catalog.current_version("events_daily")
    pre = rows_set(engine.query(cube="events_daily",
                                group_by=["event_type"],
                                measures=["avg_value"]))

    # evolve TWICE: add a measure, then drop one the old spec had
    engine.evolve_cube("events_daily",
                       add=[Measure("max_value", "max", "value")],
                       source=events)
    v2 = engine.catalog.current_version("events_daily")
    engine.evolve_cube("events_daily", drop=["avg_value"])
    v3 = engine.catalog.current_version("events_daily")
    assert v1 < v2 < v3

    # v1: the historical spec has avg_value but NOT max_value
    assert rows_set(engine.query(cube="events_daily",
                                 group_by=["event_type"],
                                 measures=["avg_value"], as_of=v1)) == pre
    with pytest.raises(Exception, match="max_value"):
        engine.query(cube="events_daily", group_by=["event_type"],
                     measures=["max_value"], as_of=v1).collect()
    # v2: both exist (avg not yet dropped, max already added)
    assert rows_set(engine.query(cube="events_daily",
                                 group_by=["event_type"],
                                 measures=["avg_value"], as_of=v2)) == pre
    engine.query(cube="events_daily", group_by=["event_type"],
                 measures=["max_value"], as_of=v2).collect()
    # v3 (current): avg_value refuses, max_value serves
    with pytest.raises(Exception, match="avg_value"):
        engine.query(cube="events_daily", group_by=["event_type"],
                     measures=["avg_value"], as_of=v3).collect()


def test_evolve_then_ivm_picks_up_new_measure(engine, events):
    from mongo_olap_spark.cube.spec import Measure

    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    engine.create_cube(EVENTS_CUBE, even)
    add = [Measure("max_value", "max", "value")]
    engine.evolve_cube("events_daily", add=add, source=even)
    # next CDC batch must aggregate the NEW measure set
    engine.apply_cdc("events_daily", odd.withColumn("mult", F.lit(1)), 1)

    new_spec = _evolved_spec(add=add)
    want = query_cube(build_cube(engine.spark, new_spec, events), new_spec,
                      group_by=["event_type"],
                      measures=["n", "total_value", "max_value"])
    got = engine.query(cube="events_daily", group_by=["event_type"],
                       measures=["n", "total_value", "max_value"])
    assert rows_set(got) == rows_set(want)


def test_evolve_validations(engine, events, tmp_path):
    from mongo_olap_spark.cube.spec import CubeSpec, Dimension, Measure

    engine.create_cube(EVENTS_CUBE, events)
    with pytest.raises(ValueError, match="nothing to do"):
        engine.evolve_cube("events_daily")
    with pytest.raises(ValueError, match="no measure"):
        engine.evolve_cube("events_daily", drop=["ghost"])
    with pytest.raises(ValueError, match="collide"):
        engine.evolve_cube("events_daily",
                           add=[Measure("n", "count")], source=events)
    with pytest.raises(ValueError, match="at least one measure"):
        engine.evolve_cube("events_daily",
                           drop=["n", "total_value", "avg_value"])
    with pytest.raises(ValueError, match="source="):
        engine.evolve_cube("events_daily",
                           add=[Measure("mx", "max", "value")])
    # lattice cubes refuse by name
    lat = CubeSpec(name="lat_ev", source="events",
                   dimensions=(Dimension("event_type"),),
                   measures=(Measure("n", "count"),))
    engine.catalog.create_lattice(lat, events)
    with pytest.raises(ValueError, match="lattice"):
        engine.evolve_cube("lat_ev", drop=["n"])


def test_evolve_drop_rebases_over_concurrent_cdc(engine, events, monkeypatch):
    """r16 (VERDICT r15 task 4): a CDC batch landing in evolve's
    read→commit window is NOT silently dropped. Drop-only evolve
    rebases: the committed cells reflect BOTH the concurrent batch and
    the projection."""
    from pyspark.sql import functions as F  # noqa: F811

    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    engine.create_cube(EVENTS_CUBE, even)
    cat = engine.catalog

    orig = cat._write_snapshot
    fired = {"n": 0}

    def hooked(spec, cells, **kw):
        if fired["n"] == 0 and kw.get("expected_prev_version") is not None:
            fired["n"] += 1
            # a CDC commit lands between evolve's read and its commit
            engine.apply_cdc("events_daily",
                             odd.withColumn("mult", F.lit(1)), 7)
        return orig(spec, cells, **kw)

    monkeypatch.setattr(cat, "_write_snapshot", hooked)
    engine.evolve_cube("events_daily", drop=["avg_value"])
    assert fired["n"] == 1

    new_spec = _evolved_spec(drop=["avg_value"])
    want = query_cube(build_cube(engine.spark, new_spec, events), new_spec,
                      group_by=["event_type"])
    got = engine.query(cube="events_daily", group_by=["event_type"])
    assert rows_set(got) == rows_set(want)


def test_evolve_add_refuses_on_concurrent_cdc(engine, events, monkeypatch):
    """Add-measure evolve cannot rebase (its backfill was aggregated
    from a source snapshot the concurrent batch invalidated): it must
    refuse loudly, leaving the cube with the old spec AND the winner's
    batch intact."""
    from mongo_olap_spark.cube.catalog import CommitConflict
    from mongo_olap_spark.cube.spec import Measure
    from pyspark.sql import functions as F  # noqa: F811

    even = events.filter(F.col("event_id") % 2 == 0)
    odd = events.filter(F.col("event_id") % 2 == 1)
    engine.create_cube(EVENTS_CUBE, even)
    cat = engine.catalog

    orig = cat._write_snapshot
    fired = {"n": 0}

    def hooked(spec, cells, **kw):
        if fired["n"] == 0 and kw.get("expected_prev_version") is not None:
            fired["n"] += 1
            engine.apply_cdc("events_daily",
                             odd.withColumn("mult", F.lit(1)), 7)
        return orig(spec, cells, **kw)

    monkeypatch.setattr(cat, "_write_snapshot", hooked)
    with pytest.raises(CommitConflict, match="advanced past"):
        engine.evolve_cube("events_daily",
                           add=[Measure("max_value", "max", "value")],
                           source=even)

    # old spec intact, concurrent batch NOT dropped
    spec = cat.get_spec("events_daily")
    assert {m.name for m in spec.measures} == {
        m.name for m in EVENTS_CUBE.measures}
    want = query_cube(build_cube(engine.spark, EVENTS_CUBE, events),
                      EVENTS_CUBE, group_by=["event_type"])
    got = engine.query(cube="events_daily", group_by=["event_type"])
    assert rows_set(got) == rows_set(want)


def test_evolve_add_topk_join_miss_serves_empty(engine, events):
    """r16 review fix: a group present in the cube but absent from the
    evolve source used to leave the new topk measure's map AND mass
    NULL — which the serve's legacy detector then mis-diagnosed as a
    pre-certificate cube and refused. A join-miss group is an EMPTY
    group (no postings, zero mass): it must serve an empty array and
    the covered groups must still certify exactly."""
    from mongo_olap_spark.cube.spec import Measure

    engine.create_cube(EVENTS_CUBE, events)
    types = [r[0] for r in events.select("event_type").distinct().collect()]
    assert len(types) >= 2
    covered, missing = sorted(types)[0], sorted(types)[1:]
    engine.evolve_cube(
        "events_daily",
        add=[Measure("top_users", "topk", "user_id", k=3)],
        source=events.filter(F.col("event_type") == covered))

    got = engine.query(cube="events_daily", group_by=["event_type"],
                       measures=["top_users"]).collect()
    by_type = {r["event_type"]: r["top_users"] for r in got}
    assert by_type[covered], "covered group must serve a non-empty top-k"
    for t in missing:
        assert by_type[t] == [], (
            f"join-miss group {t!r} must serve an empty array, "
            f"not refuse as legacy")
