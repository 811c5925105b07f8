"""The catalog's read path: a snapshot's cell DataFrame is memoized on
its data directories plus its schema, and a snapshot whose recorded
parquet bytes are at most Spark's per-file open cost reads as one
partition, so a routed read is one job of one task. Freshness does not change: every
read resolves the manifest, and a new commit names new directories.
Every commit writes the whole manifest; a manifest missing a field, a
version never committed and a cube whose create failed all refuse by
name."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube import build_cube, query_cube
from mongo_olap_spark.cube.catalog import _conf_bytes
from mongo_olap_spark.cube.lattice import build_cube_lattice
from mongo_olap_spark.cube.spec import CubeSpec, Dimension, Measure
from mongo_olap_spark.engine import OlapEngine
from mongo_olap_spark.plans.router import AggregateRequest
from mongo_olap_spark.queries.core import EVENTS_CUBE
from mongo_olap_spark.streaming.cdc import cdc_from_events

CUBE = EVENTS_CUBE.name


def rows_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def engine(spark, events, tmp_path):
    eng = OlapEngine(spark, str(tmp_path / "olap"))
    eng.create_cube(EVENTS_CUBE, events)
    return eng


def routed(engine):
    return engine.query(source="events", group_by=["event_type"],
                        measures=["n", "total_value"])


def jobs_and_tasks(spark, df, group):
    """Collect ``df`` under its own job group; (jobs, tasks) it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(tracker.getStageInfo(s).numTasks
                for j in jobs for s in tracker.getJobInfo(j).stageIds)
    assert rows
    return len(jobs), tasks


def test_conf_bytes_parses_spark_byte_strings(spark):
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    try:
        for raw, want in [("4194304b", 4 << 20), ("64MB", 64 << 20),
                          ("1048576", 1 << 20), ("2k", 2048), ("1g", 1 << 30)]:
            spark.conf.set(key, raw)
            assert _conf_bytes(spark, key) == want, raw
    finally:
        spark.conf.set(key, old)


def test_manifest_records_partition_bytes(engine):
    m = engine.catalog.manifest(CUBE)
    for entry in m["partitions"].values():
        path = os.path.join(engine.catalog._dir(CUBE), entry["path"])
        on_disk = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(path) for f in fs
                      if f.endswith(".parquet"))
        assert entry["bytes"] == on_disk > 0


def test_routed_read_of_small_snapshot_is_one_job_one_task(spark, engine):
    assert len(engine.catalog.manifest(CUBE)["partitions"]) > 1
    req = AggregateRequest(source="events", group_by=("event_type",),
                           measures=("n", "total_value"))
    assert engine.router.route(req).cube == CUBE
    df = routed(engine)
    assert jobs_and_tasks(spark, df, "one_split") == (1, 1)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("key", ["spark.sql.files.openCostInBytes",
                                 "spark.sql.files.maxPartitionBytes"])
def test_snapshot_above_one_split_keeps_parallel_scan(spark, engine, key):
    """The one-split limit is the open cost (4 MB by default), capped by
    the split size: a snapshot one byte above either keeps Spark's scan."""
    expected = rows_set(routed(engine))
    nbytes = sum(e["bytes"] for e in engine.catalog.manifest(CUBE)["partitions"].values())
    old = spark.conf.get(key)
    spark.conf.set(key, str(nbytes - 1))
    try:
        df = routed(engine)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Coalesce" not in plan
        _, tasks = jobs_and_tasks(spark, df, "above_split")
        assert tasks > 1
        assert rows_set(df) == expected
    finally:
        spark.conf.set(key, old)


def test_repeat_read_reuses_the_snapshot_scan(engine):
    first = engine.catalog.cells(CUBE)
    assert engine.catalog.cells(CUBE) is first
    keys = list(engine.catalog.manifest(CUBE)["partitions"])[:2]
    part = engine.catalog.cells_for_partitions(CUBE, keys)
    assert part is not first
    assert engine.catalog.cells_for_partitions(CUBE, keys) is part
    # the maintenance read keeps Spark's parallel scan: its merge
    # shuffles the cells anyway
    assert part.rdd.getNumPartitions() == 2
    every = engine.catalog.cells_for_partitions(CUBE, None)
    assert rows_set(every) == rows_set(first)
    assert every.rdd.getNumPartitions() > 1


def test_unpartitioned_maintenance_read_keeps_parallel_scan(engine, events, monkeypatch):
    """A cube without a time dim merges over every cell: apply_cdc reads
    them through the maintenance read, never the one-split serve read."""
    spec = CubeSpec(name="events_by_type", source="events",
                    dimensions=(Dimension("event_type"),),
                    measures=(Measure("n", "count"), Measure("total_value", "sum", "value")))
    engine.create_cube(spec, events)
    cat = engine.catalog
    assert cat.partition_dim(spec) is None
    reads = []
    maintenance_read = cat.cells_for_partitions

    def spy(name, keys):
        df = maintenance_read(name, keys)
        reads.append((keys, df._jdf.queryExecution().executedPlan().toString()))
        return df

    def boom(*a, **k):
        raise AssertionError("maintenance must not use the serve read")

    extra = events.filter(F.col("event_id") % 50 == 0)
    monkeypatch.setattr(cat, "cells_for_partitions", spy)
    monkeypatch.setattr(cat, "cells", boom)
    assert engine.apply_cdc(spec.name, cdc_from_events(extra).filter(F.col("op") == "insert"), 0)
    monkeypatch.undo()
    assert [k for k, _ in reads] == [None]
    assert "Coalesce" not in reads[0][1]
    assert rows_set(cat.cells(spec.name).select("event_type", "n_cnt")) == rows_set(
        build_cube(engine.spark, spec, events.unionByName(extra)).select("event_type", "n_cnt"))


def test_apply_cdc_then_read_answers_new_version(engine, events):
    before = rows_set(routed(engine))
    extra = events.filter(F.col("event_id") % 50 == 0)
    batch = cdc_from_events(extra).filter(F.col("op") == "insert")
    v = engine.catalog.current_version(CUBE)
    assert engine.apply_cdc(CUBE, batch, 0)
    assert engine.catalog.current_version(CUBE) == v + 1
    expected = query_cube(
        build_cube(engine.spark, EVENTS_CUBE, events.unionByName(extra)),
        EVENTS_CUBE, group_by=["event_type"], measures=["n", "total_value"])
    after = rows_set(routed(engine))
    assert after != before
    assert after == rows_set(expected)


def test_drop_and_recreate_answers_new_rows(engine, events):
    clicks = events.filter(F.col("event_type") == "click")
    engine.drop_cube(CUBE)
    engine.create_cube(EVENTS_CUBE, clicks)
    first = rows_set(routed(engine))
    assert {r[0] for r in first} == {"click"}
    engine.drop_cube(CUBE)
    assert not engine.catalog._scans  # drop evicts the cube's reads
    engine.create_cube(EVENTS_CUBE, events)
    # versions restart at 1: only the data dirs tell the snapshots apart
    assert engine.catalog.current_version(CUBE) == 1
    assert rows_set(routed(engine)) == rows_set(query_cube(
        build_cube(engine.spark, EVENTS_CUBE, events), EVENTS_CUBE,
        group_by=["event_type"], measures=["n", "total_value"]))


def test_as_of_vacuumed_version_still_refuses(engine, events):
    v1 = engine.catalog.current_version(CUBE)
    pinned = rows_set(engine.query(cube=CUBE, as_of=v1))
    engine.refresh_cube(CUBE, events.limit(100))
    assert rows_set(engine.query(cube=CUBE, as_of=v1)) == pinned
    removed = engine.catalog.vacuum(CUBE)
    gone = [os.path.join(engine.catalog._dir(CUBE), r) for r in removed]
    # vacuum evicts every read of a directory it deleted
    assert not any(p == g or p.startswith(g + os.sep)
                   for key in engine.catalog._scans for p in key[0] for g in gone)
    with pytest.raises(ValueError, match="no committed snapshot"):
        engine.query(cube=CUBE, as_of=v1)


def test_as_of_reclaimed_dirs_refuse_after_a_memoized_read(engine, events):
    v1 = engine.catalog.current_version(CUBE)
    engine.query(cube=CUBE, as_of=v1).collect()
    engine.refresh_cube(CUBE, events)
    for p in engine.catalog.manifest(CUBE, v1)["partitions"].values():
        shutil.rmtree(os.path.join(engine.catalog._dir(CUBE), p["path"]))
    with pytest.raises(ValueError, match="vacuum reclaimed"):
        engine.query(cube=CUBE, as_of=v1)


def test_concurrent_reads_keep_the_memo_bounded(engine):
    """Service socket threads share one catalog: concurrent reads of
    many partition subsets, with evictions racing them, never grow the
    memo past its bound and always return the requested snapshot."""
    import random
    import sys
    import threading

    from mongo_olap_spark.cube import catalog as catalog_mod

    ROUNDS = 150
    cat = engine.catalog
    # 15 partition pairs: mostly memo hits, with misses and evictions
    # interleaving on the same entries
    keys = sorted(cat.manifest(CUBE)["partitions"])[:6]
    want_cols = cat.cells(CUBE).columns
    errors, sizes = [], []

    def reader(seed):
        rng = random.Random(seed)
        try:
            for _ in range(ROUNDS):
                df = cat.cells_for_partitions(CUBE, rng.sample(keys, 2))
                assert df.columns == want_cols
                sizes.append(len(cat._scans))
                if rng.random() < 0.2:
                    cat._evict_scans([cat._dir(CUBE)])
        except Exception as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(sizes) == 8 * ROUNDS
    assert max(sizes) <= catalog_mod._SCAN_MEMO_SIZE


MANIFEST_FIELDS = {"version", "partitions", "level_counts", "spec", "schema",
                   "last_batch_ids"}


def assert_whole_manifest(catalog, name):
    m = catalog.manifest(name)
    assert MANIFEST_FIELDS <= set(m), sorted(MANIFEST_FIELDS - set(m))
    entry = {"path", "rows", "bytes"} | (
        set() if m["level_counts"] is None else {"level_rows"})
    assert m["partitions"]
    for e in m["partitions"].values():
        assert entry <= set(e), sorted(entry - set(e))


def test_every_commit_writes_the_whole_manifest(engine, events):
    cat = engine.catalog
    assert_whole_manifest(cat, CUBE)  # create
    key = sorted(cat.manifest(CUBE)["partitions"])[0]
    cat.commit_partitions(CUBE, cat.cells_for_partitions(CUBE, [key]), [key],
                          batch_id=3, stream_id="s")
    assert_whole_manifest(cat, CUBE)
    cat.overwrite_cells(CUBE, cat.cells(CUBE).localCheckpoint(), batch_id=4)
    assert_whole_manifest(cat, CUBE)
    engine.evolve_cube(CUBE, drop=["avg_value"])
    assert_whole_manifest(cat, CUBE)
    cat.compact(CUBE)
    assert_whole_manifest(cat, CUBE)
    assert cat.manifest(CUBE)["last_batch_ids"] == {"s": 3, "default": 4}

    lat = "events_lattice"
    cat.create_lattice(CubeSpec(name=lat, source="events",
                                dimensions=EVENTS_CUBE.dimensions,
                                measures=EVENTS_CUBE.measures), events)
    assert_whole_manifest(cat, lat)
    key = sorted(cat.manifest(lat)["partitions"])[0]
    cat.commit_partitions(lat, cat.cells_for_partitions(lat, [key]), [key])
    assert_whole_manifest(cat, lat)


@pytest.mark.parametrize("field", ["spec", "schema", "last_batch_ids",
                                   "partitions[].bytes"])
def test_manifest_missing_a_field_refuses_by_name(engine, field):
    cat = engine.catalog
    m = cat.manifest(CUBE)
    if field == "partitions[].bytes":
        for e in m["partitions"].values():
            del e["bytes"]
    else:
        del m[field]
    with open(cat._hist_path(CUBE, m["version"]), "w") as f:
        json.dump(m, f)
    cat._write_pointer(CUBE, m)
    refusal = rf"cube 'events_daily'.* lacks {re.escape(field)},.*drop and re-create"
    with pytest.raises(ValueError, match=refusal):
        cat.cells(CUBE)
    with pytest.raises(ValueError, match=refusal):
        cat.get_spec(CUBE, version=m["version"])


def test_pinned_read_of_uncommitted_version_refuses(engine):
    with pytest.raises(ValueError, match="no committed snapshot version 99"):
        engine.catalog.cells(CUBE, version=99)


BAD = CubeSpec(name="bad", source="events", dimensions=(Dimension("event_type"),),
               measures=(Measure("n", "count"), Measure("s", "sum", "no_such_col")))


def test_failed_create_is_refused_by_routing(engine, events):
    """A create whose build raises leaves no listed cube. A listed cube
    without a snapshot (its spec file, but no manifest) is skipped by
    routing with a reason instead of failing."""
    with pytest.raises(Exception, match="no_such_col"):
        engine.create_cube(BAD, events)
    assert engine.catalog.list_cubes() == [CUBE]
    os.makedirs(engine.catalog._dir("bad"))
    engine.catalog._write_spec(BAD)
    assert engine.catalog.list_cubes() == ["bad", CUBE]
    req = AggregateRequest(source="events", group_by=("event_type",), measures=("n",))
    decision = engine.router.route(req)
    assert decision.cube == CUBE
    assert "bad: no committed snapshot" in decision.reason
    want = query_cube(build_cube(engine.spark, EVENTS_CUBE, events), EVENTS_CUBE,
                      group_by=["event_type"], measures=["n"])
    got = engine.query(source="events", group_by=["event_type"], measures=["n"],
                       source_df=events)
    assert rows_set(got) == rows_set(want)


@pytest.mark.parametrize("lattice", [False, True])
@pytest.mark.parametrize("fails_at", ["analysis", "run"])
def test_recreate_after_failed_create_succeeds(engine, events, lattice, fails_at):
    """A create that raises, at analysis or while its write runs,
    leaves no cube directory behind, and the name can be re-created."""
    cat = engine.catalog
    create = cat.create_lattice if lattice else cat.create
    if fails_at == "analysis":
        spec, source = BAD, events
    else:
        spec = CubeSpec(name="bad", source="events", dimensions=(Dimension("event_type"),),
                        measures=(Measure("n", "count"), Measure("s", "sum", "value")))
        source = events.withColumn(
            "value", F.coalesce(F.raise_error(F.lit("no_such_col")).cast("double"), "value"))
    with pytest.raises(Exception, match="no_such_col"):
        create(spec, source)
    assert cat.list_cubes() == [CUBE]
    assert not os.path.exists(cat._dir("bad"))
    good = CubeSpec(name="bad", source="events", dimensions=(Dimension("event_type"),),
                    measures=(Measure("n", "count"), Measure("s", "sum", "value")))
    create(good, events)
    assert cat.list_cubes() == ["bad", CUBE]
    assert cat.get_spec("bad") == good
    assert cat.current_version("bad") == 1
    assert (cat.lattice_levels("bad") is not None) == lattice
    want = (build_cube_lattice(engine.spark, good, events, levels=[("event_type",), ()])
            if lattice else build_cube(engine.spark, good, events))
    assert rows_set(cat.cells("bad")) == rows_set(want)
