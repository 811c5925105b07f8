"""The CDC apply path: touched partition keys come from the batch rows,
not from the deltas, and ``apply_batch`` caches nothing.

``_touched_keys`` must name exactly the partitions the deltas land in
(``commit_partitions`` refuses anything else). For a wire batch (a
local relation, already on the driver) the step runs no Spark job, and
a whole wire ``apply_cdc`` runs at most three: the delta aggregate,
the merge's one exchange on the partition dim, and the partition
write. An apply leaves no persisted RDD behind — also when its commit
loses a race. A file-backed batch (``pump_cdc``, a streamed
micro-batch) is cached once by the caller that owns it and released
after; its touched keys dedupe in Spark. That side is exercised only
by the pump and streaming tests below: no benchmark workload measures
it (the ``ingest`` workload sends wire batches)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube.build import delta_cells
from mongo_olap_spark.cube.catalog import NULL_KEY, CommitConflict, partition_key_col
from mongo_olap_spark.cube.lattice import delta_cells_lattice
from mongo_olap_spark.cube.spec import CubeSpec
from mongo_olap_spark.engine import OlapEngine
from mongo_olap_spark.queries.core import EVENTS_CUBE
from mongo_olap_spark.service import OlapService
from mongo_olap_spark.sources.adapters import FileChangeStreamSource
from mongo_olap_spark.streaming import pipeline
from mongo_olap_spark.streaming.cdc import CDC_SCHEMA, cdc_from_events

FILTERED = CubeSpec(name="clicks_daily", source="events",
                    dimensions=EVENTS_CUBE.dimensions, measures=EVENTS_CUBE.measures,
                    filter_sql="event_type = 'click'")
LEVELS = [("event_type", "day"), ("event_type",), ()]


def _batch(events, null_time=False):
    cdc = cdc_from_events(events.filter(F.col("event_id") % 7 == 0))
    if null_time:
        cdc = cdc.unionByName(cdc.limit(5).withColumn("ts", F.lit(None).cast("timestamp")))
    return cdc


def _delta_keys(deltas):
    return sorted(r[0] for r in deltas.select(partition_key_col("day")).distinct().collect())


@pytest.mark.parametrize("case", ["plain", "filtered", "null_time", "lattice"])
def test_touched_keys_equal_delta_keys(events, case):
    spec = FILTERED if case == "filtered" else EVENTS_CUBE
    batch = _batch(events, null_time=case == "null_time")
    levels = LEVELS if case == "lattice" else None
    deltas = (delta_cells(spec, batch) if levels is None
              else delta_cells_lattice(spec, batch, levels))
    keys = sorted(pipeline._touched_keys(spec, batch, levels))
    assert keys == _delta_keys(deltas)
    assert (NULL_KEY in keys) == (case in ("null_time", "lattice"))
    if case == "filtered":
        assert keys != sorted(pipeline._touched_keys(EVENTS_CUBE, batch))


@pytest.mark.parametrize("case", ["plain", "filtered", "null_time", "lattice"])
def test_touched_keys_of_local_batch_in_no_jobs(spark, events, case):
    spec = FILTERED if case == "filtered" else EVENTS_CUBE
    batch = _batch(events, null_time=case == "null_time")
    levels = LEVELS if case == "lattice" else None
    local = spark.createDataFrame(batch.toArrow(), batch.schema)  # as a wire batch
    assert local.isLocal() and not batch.isLocal()
    keys, jobs = _jobs_in_group(
        spark, "local_keys", lambda: pipeline._touched_keys(spec, local, levels))
    assert jobs == 0
    assert len(keys) == len(set(keys))
    assert sorted(keys) == sorted(pipeline._touched_keys(spec, batch, levels))


def test_touched_keys_of_empty_filtered_lattice_batch(events):
    # every row filtered away: no delta, so not even the NULL partition
    batch = _batch(events).filter(F.col("event_type") == "no-such-type")
    spec = CubeSpec(name="none_daily", source="events", dimensions=EVENTS_CUBE.dimensions,
                    measures=EVENTS_CUBE.measures, filter_sql="event_type = 'no-such-type'")
    assert pipeline._touched_keys(spec, batch, LEVELS) == []
    assert _delta_keys(delta_cells_lattice(spec, batch, LEVELS)) == []


def test_touched_keys_without_time_dim_is_none(events):
    spec = CubeSpec(name="by_type", source="events",
                    dimensions=EVENTS_CUBE.dimensions[:1], measures=EVENTS_CUBE.measures)
    assert pipeline._touched_keys(spec, _batch(events)) is None


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


WIRE_BATCH = [
    {"event_id": 999999001, "ts": "2024-01-02T03:04:05", "event_type": "click",
     "user_id": 7, "value": 1.5, "props": None, "mult": 1},
    {"event_id": 999999002, "ts": "2024-01-05T23:59:59", "event_type": "view",
     "user_id": 8, "value": 2.5, "props": None, "mult": 1},
    {"event_id": 999999003, "ts": None, "event_type": "view",
     "user_id": 9, "value": None, "props": None, "mult": 1},
]


@pytest.fixture()
def service(spark, events, sf_dir, tmp_path):
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    engine.create_cube(EVENTS_CUBE, events)
    return OlapService(engine, sf_dir)


def test_apply_cdc_touched_keys_in_no_jobs_and_nothing_persisted(spark, service, monkeypatch):
    resolved = []
    touched_keys = pipeline._touched_keys

    def spy(*args):
        keys, jobs = _jobs_in_group(spark, "touched_keys", lambda: touched_keys(*args))
        resolved.append((sorted(keys), jobs))
        return keys

    monkeypatch.setattr(pipeline, "_touched_keys", spy)
    before = _persisted(spark)
    r = service.handle({"op": "apply_cdc", "cube": EVENTS_CUBE.name,
                        "batch": WIRE_BATCH, "batch_id": 1})
    assert r["ok"], r
    [(keys, jobs)] = resolved
    assert keys == ["2024-01-02T00.00.00", "2024-01-05T00.00.00", NULL_KEY]
    assert jobs == 0
    assert _persisted(spark) == before


def test_wire_apply_cdc_runs_at_most_three_jobs(spark, service):
    def apply(batch_id):
        return service.handle({"op": "apply_cdc", "cube": EVENTS_CUBE.name,
                               "batch": WIRE_BATCH, "batch_id": batch_id})

    # the service's first apply also loads the source table for the
    # batch schema (a parquet footer read); time the second
    assert apply(1)["ok"]
    r, jobs = _jobs_in_group(spark, "apply_cdc", lambda: apply(2))
    assert r["ok"], r
    assert jobs <= 3


def test_commit_conflict_leaves_nothing_persisted(spark, service, monkeypatch):
    def lose_race(*args, **kwargs):
        raise CommitConflict("events_daily: partition changed under this writer")

    catalog = service.engine.catalog
    v = catalog.current_version(EVENTS_CUBE.name)
    before = _persisted(spark)
    monkeypatch.setattr(catalog, "commit_partitions", lose_race)
    r = service.handle({"op": "apply_cdc", "cube": EVENTS_CUBE.name,
                        "batch": WIRE_BATCH, "batch_id": 1})
    assert not r["ok"] and "CommitConflict" in r["error"]["message"]
    assert _persisted(spark) == before
    assert catalog.current_version(EVENTS_CUBE.name) == v


@pytest.fixture()
def landed(spark, events, tmp_path, monkeypatch):
    """A CDC directory, an empty cube over it, and the cache state of
    every batch ``apply_batch`` receives."""
    land = str(tmp_path / "land")
    _batch(events).repartition(3).write.parquet(land)
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    engine.create_cube(EVENTS_CUBE, events.limit(0))
    cached = []
    apply = pipeline.CubeMaintainer.apply_batch

    def spy(self, batch, batch_id):
        cached.append(batch.is_cached)
        return apply(self, batch, batch_id)

    monkeypatch.setattr(pipeline.CubeMaintainer, "apply_batch", spy)
    return land, engine, cached


def test_pump_cdc_reads_each_pulled_batch_once(spark, landed):
    land, engine, cached = landed
    before = _persisted(spark)
    out = engine.pump_cdc(EVENTS_CUBE.name, FileChangeStreamSource(land), max_changes=60)
    assert out["batches"] >= 2 and cached == [True] * out["batches"]
    assert _persisted(spark) == before


def test_pump_cdc_commit_conflict_leaves_nothing_persisted(spark, landed, monkeypatch):
    land, engine, cached = landed

    def lose_race(*args, **kwargs):
        raise CommitConflict("events_daily: partition changed under this writer")

    before = _persisted(spark)
    monkeypatch.setattr(engine.catalog, "commit_partitions", lose_race)
    with pytest.raises(CommitConflict):
        engine.pump_cdc(EVENTS_CUBE.name, FileChangeStreamSource(land), max_changes=60)
    assert cached == [True]
    assert _persisted(spark) == before


def test_streamed_micro_batch_is_read_once(spark, landed, tmp_path):
    land, engine, cached = landed
    before = _persisted(spark)
    stream = spark.readStream.schema(CDC_SCHEMA).option("maxFilesPerTrigger", 2).parquet(land)
    maint = pipeline.CubeMaintainer(engine.catalog, EVENTS_CUBE)
    maint.start(stream, str(tmp_path / "ckpt")).awaitTermination(300)
    assert len(cached) >= 2 and all(cached)
    assert _persisted(spark) == before
