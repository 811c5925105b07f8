"""Structured Streaming maintenance: a real readStream (file source)
drives CubeMaintainer; final cube state must equal the batch build of
the net state; batch replay must be idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube import CubeCatalog, build_cube, query_cube
from mongo_olap_spark.queries.core import EVENTS_CUBE
from mongo_olap_spark.streaming.cdc import CDC_SCHEMA, cdc_from_events, net_events
from mongo_olap_spark.streaming.pipeline import CubeMaintainer, update_mode_aggregation


def rows_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def cdc_dir(spark, events, tmp_path_factory):
    """CDC stream laid out as multiple files (micro-batch boundaries)."""
    path = tmp_path_factory.mktemp("cdc")
    cdc = cdc_from_events(events)
    # day-partitioned files → file-source streams them in several batches
    cdc.withColumn("d", F.dayofmonth("stream_ts")).repartition("d").drop("d").write.mode(
        "overwrite"
    ).parquet(str(path / "stream"))
    return str(path / "stream")


def test_streaming_maintenance_matches_batch(spark, events, cdc_dir, tmp_path):
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    # start from the empty cube
    cat.create(EVENTS_CUBE, events.limit(0))
    maint = CubeMaintainer(cat, EVENTS_CUBE)

    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 3)  # force several micro-batches
        .parquet(cdc_dir)
    )
    q = maint.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    final = query_cube(cat.cells(EVENTS_CUBE.name), EVENTS_CUBE)
    expected = query_cube(build_cube(spark, EVENTS_CUBE, net_events(events)), EVENTS_CUBE)
    assert rows_set(final) == rows_set(expected)


def test_batch_replay_is_idempotent(spark, events, tmp_path):
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events.limit(0))
    maint = CubeMaintainer(cat, EVENTS_CUBE)
    batch = cdc_from_events(events).filter(F.col("op") == "insert").limit(100)
    maint.apply_batch(batch, 0)
    once = rows_set(cat.cells(EVENTS_CUBE.name))
    maint.apply_batch(batch, 0)  # replay of the same epoch
    assert rows_set(cat.cells(EVENTS_CUBE.name)) == once
    maint.apply_batch(batch, 1)  # a genuinely new batch does apply
    assert rows_set(cat.cells(EVENTS_CUBE.name)) != once


def test_multi_cube_single_pass(spark, events, cdc_dir, tmp_path):
    """One CDC stream maintains two cubes; both land on batch truth."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure
    from mongo_olap_spark.streaming.pipeline import MultiCubeMaintainer

    hourly = CubeSpec(
        name="events_hourly_user",
        source="events",
        dimensions=(Dimension("user_bucket", path="user_id % 10"),),
        measures=(Measure("n", "count"), Measure("total_value", "sum", "value")),
    )
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events.limit(0))
    cat.create(hourly, events.limit(0))
    maint = MultiCubeMaintainer(cat, [EVENTS_CUBE, hourly])
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(cdc_dir)
    )
    q = maint.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    net = net_events(events)
    for spec in (EVENTS_CUBE, hourly):
        got = query_cube(cat.cells(spec.name), spec)
        want = query_cube(build_cube(spark, spec, net), spec)
        assert rows_set(got) == rows_set(want), spec.name


def test_update_mode_aggregation_smoke(spark, events, cdc_dir):
    stream = spark.readStream.schema(CDC_SCHEMA).parquet(cdc_dir)
    q = update_mode_aggregation(
        spark, stream.filter(F.col("op") == "insert"), EVENTS_CUBE, query_name="um_test"
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM um_test")
    # update-mode sink holds per-cell rows; cells must cover all days
    assert got.select("day").distinct().count() == events.select(
        F.date_trunc("day", "ts")
    ).distinct().count()


def test_freshness_every_microbatch_end_to_end(spark, events, tmp_path):
    """VERDICT r3 task 3: the end-to-end freshness property.

    Files land incrementally → `FileChangeStreamSource` streams them →
    `CubeMaintainer` maintains the catalog cube → `query_cube` /
    `hybrid_query` serve. After EVERY ingest step the served answer
    must be bit-exact vs direct aggregation of exactly the changes
    applied so far (and, for hybrid serving, plus the un-absorbed
    tail). This is the property that would have caught the round-3
    CDC schema break at authoring time: any column drift between the
    stream, the maintainer, and the serving path surfaces here."""
    import os

    from mongo_olap_spark.cube.query import hybrid_query
    from mongo_olap_spark.sources.adapters import FileChangeStreamSource
    from mongo_olap_spark.streaming.cdc import DOC_COLS

    src_dir = str(tmp_path / "landing")
    os.makedirs(src_dir)
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events.limit(0))
    name = EVENTS_CUBE.name
    maint = CubeMaintainer(cat, EVENTS_CUBE)

    applied_ids: set[int] = set()

    def body(batch, batch_id):
        maint.apply_batch(batch, batch_id)
        applied_ids.update(r["change_id"] for r in batch.select("change_id").collect())

    stream = FileChangeStreamSource(src_dir).change_stream(spark)
    q = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )

    full_cdc = cdc_from_events(events)
    # four contiguous stream_ts slices land one at a time (a change
    # stream is ORDERED: a doc's delete never precedes its insert)
    days = sorted(
        r[0] for r in full_cdc.select(F.dayofmonth("stream_ts")).distinct().collect()
    )
    step = -(-len(days) // 4)
    chunk_days = [days[i * step : (i + 1) * step] for i in range(4)]
    try:
        for i, dset in enumerate(chunk_days):
            chunk = full_cdc.filter(F.dayofmonth("stream_ts").isin(dset))
            chunk.coalesce(1).write.mode("append").parquet(src_dir)
            q.processAllAvailable()

            applied = spark.createDataFrame(
                [(x,) for x in sorted(applied_ids)], "change_id bigint"
            )
            applied_net = (
                full_cdc.join(F.broadcast(applied), "change_id")
                .groupBy(*DOC_COLS)
                .agg(F.sum("mult").alias("m"))
                .filter("m > 0")
                .select(*DOC_COLS)
            )
            got = rows_set(query_cube(cat.cells(name), EVENTS_CUBE))
            want = rows_set(
                query_cube(build_cube(spark, EVENTS_CUBE, applied_net), EVENTS_CUBE)
            )
            assert got == want, f"cube stale or wrong after chunk {i}"

            # hybrid serving: cells + the not-yet-absorbed insert tail
            # answers the serving-time truth bit-exactly
            tail = (
                full_cdc.filter(F.col("op") == "insert")
                .join(F.broadcast(applied), "change_id", "left_anti")
                .select(*DOC_COLS)
            )
            hybrid = rows_set(hybrid_query(cat.cells(name), EVENTS_CUBE, tail))
            truth = rows_set(
                query_cube(
                    build_cube(spark, EVENTS_CUBE, applied_net.unionByName(tail)),
                    EVENTS_CUBE,
                )
            )
            assert hybrid == truth, f"hybrid serving wrong after chunk {i}"
    finally:
        q.stop()

    # the stream drained everything: final state is the closed-form net
    assert len(applied_ids) == full_cdc.count()
    final = rows_set(query_cube(cat.cells(name), EVENTS_CUBE))
    want = rows_set(
        query_cube(build_cube(spark, EVENTS_CUBE, net_events(events)), EVENTS_CUBE)
    )
    assert final == want


def test_two_writer_race_keeps_both_writers_cells(spark, events, tmp_path):
    """VERDICT r3 task 4: optimistic manifest CAS. Two engines (two
    CubeCatalog instances on one root) commit disjoint partitions
    concurrently for several rounds. Without version fencing the loser
    of each race would carry over a STALE partition map and silently
    drop the other writer's cells; with CAS + rebase every commit must
    survive, versions must be gapless, and the final cube must equal
    the batch build over everything both writers applied."""
    import threading

    cat0 = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat0.create(EVENTS_CUBE, events.limit(0))
    name = EVENTS_CUBE.name

    cdc = cdc_from_events(events).filter(F.col("op") == "insert")
    days = sorted(
        r[0] for r in cdc.select(F.dayofmonth("stream_ts")).distinct().collect()
    )
    mine, theirs = days[::2], days[1::2]

    barrier = threading.Barrier(2, timeout=120)
    errors: list[BaseException] = []

    def writer(day_set):
        try:
            from mongo_olap_spark.cube.build import delta_cells
            from mongo_olap_spark.cube.catalog import partition_key_col
            from mongo_olap_spark.cube.ivm import merge_cells

            cat = CubeCatalog(spark, str(tmp_path / "cubes"))  # own engine
            pdim = cat.partition_dim(EVENTS_CUBE)
            for d in day_set:
                batch = cdc.filter(F.dayofmonth("stream_ts") == d)
                deltas = delta_cells(EVENTS_CUBE, batch)
                keys = [
                    r[0]
                    for r in deltas.select(partition_key_col(pdim)).distinct().collect()
                ]
                merged = merge_cells(
                    cat.cells_for_partitions(name, keys), deltas, EVENTS_CUBE
                )
                barrier.wait()  # force the two commits to overlap
                cat.commit_partitions(name, merged, keys)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)
            barrier.abort()

    n = min(len(mine), len(theirs))
    t1 = threading.Thread(target=writer, args=(mine[:n],))
    t2 = threading.Thread(target=writer, args=(theirs[:n],))
    t1.start(), t2.start()
    t1.join(300), t2.join(300)
    assert not errors, errors

    m = cat0.manifest(name)
    # gapless version history: every commit (create + 2n batches) won a
    # distinct version; none was clobbered
    assert m["version"] == 1 + 2 * n
    assert all(cat0.manifest(name, v) is not None for v in range(1, m["version"] + 1))
    applied = mine[:n] + theirs[:n]
    src = events.filter(F.dayofmonth("ts").isin(applied))
    want = rows_set(query_cube(build_cube(spark, EVENTS_CUBE, src), EVENTS_CUBE))
    got = rows_set(query_cube(cat0.cells(name), EVENTS_CUBE))
    assert got == want
    # statistics stayed consistent through every rebase
    assert cat0.cell_count(name) == cat0.cells(name).count()


def test_same_partition_conflict_is_detected_not_merged(spark, events, tmp_path):
    """The read-version fence: when a concurrent winner modified one of
    THIS writer's touched partitions, the rebase must refuse (the merge
    base is stale) instead of silently carrying wrong cells."""
    from mongo_olap_spark.cube.build import delta_cells
    from mongo_olap_spark.cube.catalog import CommitConflict, partition_key_col
    from mongo_olap_spark.cube.ivm import merge_cells

    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    pdim = cat.partition_dim(EVENTS_CUBE)

    batch = cdc_from_events(
        events.filter(F.date_trunc("day", "ts") == "2024-01-03 00:00:00")
    ).filter(F.col("op") == "insert").limit(20)
    deltas = delta_cells(EVENTS_CUBE, batch)
    keys = [r[0] for r in deltas.select(partition_key_col(pdim)).distinct().collect()]

    # writer A reads its merge base at version v...
    read_v = cat.current_version(name)
    merged = merge_cells(cat.cells_for_partitions(name, keys), deltas, EVENTS_CUBE)
    merged = merged.localCheckpoint()  # pin the stale read
    # ...then writer B commits the SAME partition underneath
    CubeMaintainer(cat, EVENTS_CUBE).apply_batch(batch, 0)

    with pytest.raises(CommitConflict, match="changed under this writer"):
        cat.commit_partitions(name, merged, keys, read_version=read_v)
    # without the fence the stale merge would have been accepted
    cat.commit_partitions(name, merged, keys)  # legacy path still last-wins


def test_crashed_pointer_flip_self_heals(spark, events, tmp_path):
    """A writer that died between the versioned commit record and the
    pointer-cache flip must not lose its commit: readers walk forward
    to the newest committed version and repair the cache."""
    import json
    import os

    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    v2 = cat.manifest(name)
    one_day = events.filter(F.date_trunc("day", "ts") == "2024-01-03 00:00:00")
    batch = cdc_from_events(one_day).filter(F.col("op") == "insert").limit(40)
    CubeMaintainer(cat, EVENTS_CUBE).apply_batch(batch, 0)
    after = cat.manifest(name)
    # simulate the crash: rewind the pointer cache to the old version
    with open(cat._manifest_path(name), "w") as f:
        json.dump(v2, f)
    healed = cat.manifest(name)
    assert healed == after
    with open(cat._manifest_path(name)) as f:
        assert json.load(f)["version"] == after["version"]  # cache repaired
    assert cat.last_batch_id(name) == 0


# ---------------------------------------------------------------------------
# Snapshot-manifest storage properties (VERDICT r1 next-steps #2/#6)
# ---------------------------------------------------------------------------

def _file_hashes(root):
    import hashlib
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[p] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_time_local_batch_rewrites_only_touched_partitions(spark, events, tmp_path):
    """A batch touching one day must leave every other partition's
    manifest entry AND on-disk files byte-identical, and commit the
    data + watermark in exactly one manifest version."""
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    m0 = cat.manifest(name)
    hashes0 = _file_hashes(str(tmp_path / "cubes"))

    one_day = events.filter(F.date_trunc("day", "ts") == "2024-01-03 00:00:00")
    batch = cdc_from_events(one_day).filter(F.col("op") == "insert").limit(40)
    CubeMaintainer(cat, EVENTS_CUBE).apply_batch(batch, 0)

    m1 = cat.manifest(name)
    touched = "2024-01-03T00.00.00"
    assert m1["version"] == m0["version"] + 1  # ONE commit: data + watermark
    assert m1["last_batch_ids"]["default"] == 0
    assert m1["partitions"][touched]["path"] != m0["partitions"][touched]["path"]
    for key, entry in m1["partitions"].items():
        if key != touched:
            assert entry == m0["partitions"][key], key
    # untouched partitions' files did not move or change
    hashes1 = _file_hashes(str(tmp_path / "cubes"))
    for key, entry in m0["partitions"].items():
        if key == touched:
            continue
        prefix = str(tmp_path / "cubes" / name / entry["path"])
        old = {p: h for p, h in hashes0.items() if p.startswith(prefix)}
        assert old and all(hashes1.get(p) == h for p, h in old.items()), key
    # and the result is still exact vs a full rebuild
    merged_src = events.unionByName(batch.drop("op", "mult", "stream_ts", "change_id"))
    expected = build_cube(spark, EVENTS_CUBE, merged_src)
    assert rows_set(query_cube(cat.cells(name), EVENTS_CUBE)) == rows_set(
        query_cube(expected, EVENTS_CUBE)
    )
    # statistics stay consistent with the data (metadata-only routing)
    assert cat.cell_count(name) == cat.cells(name).count()


def test_reader_snapshot_survives_concurrent_commit_and_vacuum(spark, events, tmp_path):
    """A DataFrame resolved before a commit keeps reading the OLD
    snapshot's files (they are immutable and not yet vacuumed); after
    vacuum the new snapshot remains intact."""
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    old_reader = cat.cells(name)  # resolves the v1 manifest's file list
    before = rows_set(old_reader)

    one_day = events.filter(F.date_trunc("day", "ts") == "2024-01-03 00:00:00")
    batch = cdc_from_events(one_day).filter(F.col("op") == "insert").limit(40)
    CubeMaintainer(cat, EVENTS_CUBE).apply_batch(batch, 7)

    # maintenance committed underneath the reader: same answer
    assert rows_set(old_reader) == before
    new_rows = rows_set(cat.cells(name))
    assert new_rows != before
    removed = cat.vacuum(name)
    assert removed  # the superseded write dir was reclaimed
    assert rows_set(cat.cells(name)) == new_rows


def test_update_mode_with_rocksdb_state_store(spark, events, cdc_dir):
    """Path A at scale runs on the RocksDB state store (bounded heap,
    spill-to-disk state); exercise the provider config end-to-end."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(CDC_SCHEMA).parquet(cdc_dir)
        q = update_mode_aggregation(
            spark,
            stream.filter(F.col("op") == "insert"),
            EVENTS_CUBE,
            query_name="um_rocksdb",
        )
        q.processAllAvailable()
        progress = q.lastProgress
        q.stop()
        got = spark.sql("SELECT * FROM um_rocksdb")
        assert got.count() > 0
        # the state operator actually ran on RocksDB
        assert progress is not None and any(
            "rocksdb" in str(op.get("customMetrics", {})).lower()
            for op in progress["stateOperators"]
        )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


# ---------------------------------------------------------------------------
# Lattice incremental maintenance (round 2): one signed grouping-sets
# pass maintains every materialized level; level stats stay exact.
# ---------------------------------------------------------------------------

def test_lattice_incremental_equals_lattice_rebuild(spark, events, tmp_path):
    from mongo_olap_spark.cube.lattice import LEVEL_COL, build_cube_lattice, query_lattice

    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    cat.create_lattice(EVENTS_CUBE, half1)
    name = EVENTS_CUBE.name
    maint = CubeMaintainer(cat, EVENTS_CUBE)

    batch = cdc_from_events(half2).filter(F.col("op") == "insert")
    maint.apply_batch(batch, 0)

    got = cat.cells(name)
    want = build_cube_lattice(spark, EVENTS_CUBE, events)
    # exact per-level equality of the full cell state (partials included)
    cols = sorted(got.columns)
    assert rows_set(got.select(*cols)) == rows_set(want.select(*cols))
    # every level still answers exactly like a fresh build
    for gb in (["event_type", "day"], ["event_type"], []):
        g = query_lattice(got, EVENTS_CUBE, group_by=gb)
        w = query_lattice(want, EVENTS_CUBE, group_by=gb)
        assert rows_set(g) == rows_set(w), gb
    # level statistics stayed exact under maintenance (metadata only)
    stats = cat.level_counts(name)
    actual = {r[0]: r[1] for r in got.groupBy(LEVEL_COL).count().collect()}
    assert stats == actual


def test_lattice_deletes_retract_per_level(spark, events, tmp_path):
    from mongo_olap_spark.cube.lattice import build_cube_lattice

    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create_lattice(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    maint = CubeMaintainer(cat, EVENTS_CUBE)
    doomed = events.filter(F.col("event_id") % 5 == 0)
    maint.apply_batch(doomed.withColumn("op", F.lit("delete"))
                      .withColumn("mult", F.lit(-1))
                      .withColumn("stream_ts", F.col("ts")), 0)
    survivors = events.filter(F.col("event_id") % 5 != 0)
    got = cat.cells(name)
    want = build_cube_lattice(spark, EVENTS_CUBE, survivors)
    cols = sorted(got.columns)
    assert rows_set(got.select(*cols)) == rows_set(want.select(*cols))


def test_lattice_minmax_rejects_deletes(spark, events, tmp_path):
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    spec = CubeSpec(
        name="lat_minmax",
        source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("n", "count"), Measure("hi", "max", "value")),
    )
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create_lattice(spec, events)
    maint = CubeMaintainer(cat, spec)
    bad = events.limit(5).withColumn("mult", F.lit(-1))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not incrementally maintainable"):
        maint.apply_batch(bad, 0)


def test_snapshot_time_travel(spark, events, tmp_path):
    """Historical manifests stay readable until vacuum reclaims their
    files; after vacuum the stale versions are dropped, never dangling."""
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    v1 = cat.manifest(name)["version"]
    before = rows_set(cat.cells(name))

    one_day = events.filter(F.date_trunc("day", "ts") == "2024-01-03 00:00:00")
    batch = cdc_from_events(one_day).filter(F.col("op") == "insert").limit(40)
    CubeMaintainer(cat, EVENTS_CUBE).apply_batch(batch, 0)

    # read the PAST snapshot by version: exactly the pre-batch state
    assert rows_set(cat.cells(name, version=v1)) == before
    assert rows_set(cat.cells(name)) != before
    cat.vacuum(name)
    # v1 referenced a reclaimed partition dir -> dropped, not dangling
    assert cat.manifest(name, version=v1) is None
    assert rows_set(cat.cells(name)) != before  # current still intact


def test_compact_preserves_cells_and_reclaims_dirs(spark, events, tmp_path):
    """After several partition-scoped commits the snapshot spans many
    write dirs; compact() must rewrite it into one, keep the cell
    table bit-identical, keep the batch watermark, and reclaim the
    superseded directories."""
    import os

    from mongo_olap_spark.cube import CubeCatalog
    from mongo_olap_spark.queries.core import EVENTS_CUBE
    from mongo_olap_spark.streaming.pipeline import CubeMaintainer

    cat = CubeCatalog(spark, str(tmp_path / "olap"))
    cat.create(EVENTS_CUBE, events.limit(0))
    maint = CubeMaintainer(cat, EVENTS_CUBE)
    for i, day in enumerate([5, 12, 19, 26]):
        batch = events.filter(F.dayofmonth("ts") == day).withColumn("mult", F.lit(1))
        maint.apply_batch(batch, i)
    before = {tuple(r) for r in cat.cells(EVENTS_CUBE.name).collect()}
    n_dirs_before = len(
        {p["path"].split(os.sep)[1] for p in cat.manifest(EVENTS_CUBE.name)["partitions"].values()}
    )
    assert n_dirs_before > 1  # scattered across per-batch write dirs

    reclaimed = cat.compact(EVENTS_CUBE.name)
    assert reclaimed > 0
    after_manifest = cat.manifest(EVENTS_CUBE.name)
    n_dirs_after = len(
        {p["path"].split(os.sep)[1] for p in after_manifest["partitions"].values()}
    )
    assert n_dirs_after == 1
    assert after_manifest["last_batch_ids"]["default"] == 3  # watermark preserved
    assert {tuple(r) for r in cat.cells(EVENTS_CUBE.name).collect()} == before


def test_vacuum_grace_window_protects_young_dirs(spark, events, tmp_path):
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    one_day = events.filter(F.date_trunc("day", "ts") == "2024-01-03 00:00:00")
    batch = cdc_from_events(one_day).filter(F.col("op") == "insert").limit(40)
    CubeMaintainer(cat, EVENTS_CUBE).apply_batch(batch, 0)
    # superseded v1 partition dir exists, but everything is young
    assert cat.vacuum(name, min_age_s=3600) == []
    removed = cat.vacuum(name)  # no grace: reclaim now
    assert removed
    assert rows_set(cat.cells(name))  # live snapshot intact


def test_manifest_dim_stats_and_data_skipping(spark, events, tmp_path):
    """Lakehouse-style data skipping one level up: the manifest records
    per-partition [min, max] for every (stat-typed) dimension, and
    cells_in_dim_range drops partitions whose stats cannot match —
    without ever being a filter (stats-less partitions are kept, and
    the caller still applies the real predicate)."""
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    m = cat.manifest(name)
    # every day partition carries string stats for event_type
    some = next(iter(m["partitions"].values()))
    assert "stats" in some and "event_type" in some["stats"]
    lo, hi = some["stats"]["event_type"]
    assert isinstance(lo, str) and lo <= hi

    # a range covering everything prunes nothing; truth preserved
    full = cat.cells_in_dim_range(name, "event_type", "a", "zzzz")
    assert rows_set(full) == rows_set(cat.cells(name))
    # an impossible range prunes every partition
    assert cat.cells_in_dim_range(name, "event_type", "zzz", "zzzz").count() == 0
    # pruned + predicate == unpruned + predicate (skipping is safe)
    pruned = cat.cells_in_dim_range(name, "event_type", "view", "view").filter(
        F.col("event_type") == "view"
    )
    direct = cat.cells(name).filter(F.col("event_type") == "view")
    assert rows_set(pruned) == rows_set(direct)


def test_checkpoint_restart_resumes_exactly_once(spark, events, tmp_path):
    """The resume-token story end-to-end: a maintenance query stops,
    MORE changes land, and a NEW query on the same checkpoint resumes
    where the first left off — already-applied files are not re-read
    (no double-apply), and the final cube equals batch truth."""
    import os

    from mongo_olap_spark.sources.adapters import FileChangeStreamSource

    src_dir = str(tmp_path / "landing")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ckpt")
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events.limit(0))
    name = EVENTS_CUBE.name
    maint = CubeMaintainer(cat, EVENTS_CUBE)

    full_cdc = cdc_from_events(events)
    days = sorted(
        r[0] for r in full_cdc.select(F.dayofmonth("stream_ts")).distinct().collect()
    )
    half = days[: len(days) // 2]

    applied_batches: list[int] = []

    def body(batch, batch_id):
        maint.apply_batch(batch, batch_id)
        applied_batches.append(batch.count())

    # phase 1: first half lands, query processes it, then STOPS
    full_cdc.filter(F.dayofmonth("stream_ts").isin(half)).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    stream = FileChangeStreamSource(src_dir).change_stream(spark)
    q1 = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)
    n_phase1 = sum(applied_batches)
    assert n_phase1 == full_cdc.filter(F.dayofmonth("stream_ts").isin(half)).count()

    # phase 2: rest lands while no query is running; restart on the
    # SAME checkpoint — only the new files may be processed
    rest = [d for d in days if d not in half]
    full_cdc.filter(F.dayofmonth("stream_ts").isin(rest)).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    q2 = (
        FileChangeStreamSource(src_dir)
        .change_stream(spark)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert sum(applied_batches) == full_cdc.count()  # nothing re-applied

    final = rows_set(query_cube(cat.cells(name), EVENTS_CUBE))
    want = rows_set(
        query_cube(build_cube(spark, EVENTS_CUBE, net_events(events)), EVENTS_CUBE)
    )
    assert final == want


def test_per_stream_batch_watermarks(spark, events, tmp_path):
    """Self-review r4: Spark batch ids are scoped to one checkpoint, so
    two maintainers (distinct stream_ids) on one cube must not share a
    watermark — writer B committing batch 2 must not cause writer A's
    pending batch 6 to skip, nor allow A's replayed batch 5 through."""
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events.limit(0))
    name = EVENTS_CUBE.name
    cdc = cdc_from_events(events).filter(F.col("op") == "insert")
    days = sorted(
        r[0] for r in cdc.select(F.dayofmonth("stream_ts")).distinct().collect()
    )
    a_days, b_days = days[::2], days[1::2]
    ma = CubeMaintainer(cat, EVENTS_CUBE, stream_id="stream_a")
    mb = CubeMaintainer(cat, EVENTS_CUBE, stream_id="stream_b")

    def day_batch(d):
        return cdc.filter(F.dayofmonth("stream_ts") == d)

    ma.apply_batch(day_batch(a_days[0]), 5)
    mb.apply_batch(day_batch(b_days[0]), 2)  # lower id, different stream
    after_b = rows_set(cat.cells(name))
    ma.apply_batch(day_batch(a_days[0]), 5)  # replay on stream_a: skipped
    assert rows_set(cat.cells(name)) == after_b
    ma.apply_batch(day_batch(a_days[1]), 6)  # pending on stream_a: applies
    assert rows_set(cat.cells(name)) != after_b
    assert cat.last_batch_id(name, "stream_a") == 6
    assert cat.last_batch_id(name, "stream_b") == 2

    applied = a_days[:2] + b_days[:1]
    src = events.filter(F.dayofmonth("ts").isin(applied))
    want = rows_set(query_cube(build_cube(spark, EVENTS_CUBE, src), EVENTS_CUBE))
    assert rows_set(query_cube(cat.cells(name), EVENTS_CUBE)) == want


def test_dim_range_mixed_type_stats_degrade_to_keep(spark, events, tmp_path):
    """Stats whose type doesn't compare with the caller's bounds must
    degrade to 'cannot skip' (keep the partition), never raise — a
    numeric probe against string stats is a caller-side type mismatch,
    and skipping is an optimization, not a filter."""
    cat = CubeCatalog(spark, str(tmp_path / "cubes"))
    cat.create(EVENTS_CUBE, events)
    name = EVENTS_CUBE.name
    # event_type stats are strings; numeric bounds cannot compare
    kept = cat.cells_in_dim_range(name, "event_type", 0, 100)
    assert rows_set(kept) == rows_set(cat.cells(name))


def test_dir_meta_mixed_stat_types_dropped(tmp_path):
    """_dir_meta: when two files in one partition dir disagree on a
    column's stat type, the column's stats are unusable — dropped from
    the fold instead of raising, so the pruner keeps the partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongo_olap_spark.cube.catalog import _dir_meta

    d = tmp_path / "part"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), str(d / "a.parquet"))
    pq.write_table(pa.table({"x": ["p", "q"]}), str(d / "b.parquet"))
    rows, nbytes, stats = _dir_meta(str(d), {"x"})
    assert rows == 5
    assert nbytes == sum(f.stat().st_size for f in d.iterdir())
    assert "x" not in stats


def test_change_stream_pipeline(spark, events, cdc_dir):
    """r6: Mongo change-stream pipelines (the stateless stage subset)
    compile onto an unbounded stream via the SAME aggregation
    compiler — filter + dotted projection + $redact run per
    micro-batch with no state store; stateful stages refuse toward
    the cube surface."""
    from mongo_olap_spark.plans.pipeline_compiler import PipelineError
    from mongo_olap_spark.streaming.cdc import CDC_SCHEMA
    from mongo_olap_spark.streaming.pipeline import (
        apply_change_stream_pipeline,
    )

    stream = spark.readStream.schema(CDC_SCHEMA).parquet(cdc_dir)
    pipeline = [
        {"$match": {"op": {"$in": ["insert", "update_post"]}}},
        {"$addFields": {"flag": {"$cond": [
            {"$gte": ["$value", {"$literal": 50}]}, "hi", "lo"]}}},
        {"$project": {"event_id": 1, "op": 1, "value": 1, "flag": 1}},
    ]
    out = apply_change_stream_pipeline(stream, pipeline)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("cs_pipe")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cs_pipe").collect()
    assert rows and all(r["op"] in ("insert", "update_post") for r in rows)
    assert all(
        (r["flag"] == "hi") == (r["value"] is not None and r["value"] >= 50)
        for r in rows
    )
    # batch equivalence: same pipeline over the same files, batch-read
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline
    batch = compile_pipeline(
        spark.read.schema(CDC_SCHEMA).parquet(cdc_dir), pipeline
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, batch))
    with pytest.raises(PipelineError, match="not a change-stream stage"):
        apply_change_stream_pipeline(
            stream, [{"$group": {"_id": "$op", "n": {"$sum": 1}}}])
    with pytest.raises(PipelineError, match="streaming DataFrame"):
        apply_change_stream_pipeline(
            spark.read.schema(CDC_SCHEMA).parquet(cdc_dir), pipeline)


# ---------------------------------------------------------------------------
# r14 (VERDICT r13 task 4): explicit resume-token pull contract — the
# cube manifest is the token store; kill/resume lands on the identical
# state as an uninterrupted run.
# ---------------------------------------------------------------------------

def test_pump_cdc_kill_resume_identical_state(spark, events, cdc_dir, tmp_path):
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.sources.adapters import FileChangeStreamSource

    stream = FileChangeStreamSource(cdc_dir)
    n_changes = cdc_from_events(events).count()

    # uninterrupted: one engine, one drain
    e1 = OlapEngine(spark, str(tmp_path / "r1"))
    e1.create_cube(EVENTS_CUBE, events.limit(0))
    out = e1.pump_cdc(EVENTS_CUBE.name, stream)
    assert out["changes"] == n_changes
    uninterrupted = rows_set(e1.catalog.cells(EVENTS_CUBE.name))

    # interrupted: small pulls with a FRESH engine object per pull —
    # the process-kill analogue; resume state lives ONLY in the cube
    # manifest (no external token store to lose)
    root2 = str(tmp_path / "r2")
    OlapEngine(spark, root2).create_cube(EVENTS_CUBE, events.limit(0))
    total = pulls = 0
    while True:
        e = OlapEngine(spark, root2)
        res = e.pump_cdc(EVENTS_CUBE.name, stream,
                         max_changes=137, max_batches=1)
        if res["batches"] == 0:
            break
        total += res["changes"]
        pulls += 1
    assert pulls > 3  # genuinely interrupted into several lifetimes
    assert total == n_changes  # exactly once across kills
    e = OlapEngine(spark, root2)
    assert rows_set(e.catalog.cells(EVENTS_CUBE.name)) == uninterrupted

    # ...and both equal the batch truth over the net state
    expected = rows_set(build_cube(spark, EVENTS_CUBE, net_events(events)))
    served = rows_set(query_cube(e.catalog.cells(EVENTS_CUBE.name),
                                 EVENTS_CUBE))
    truth = rows_set(query_cube(build_cube(spark, EVENTS_CUBE,
                                           net_events(events)), EVENTS_CUBE))
    assert served == truth
    del expected

    # a drained stream pumps to a no-op
    again = OlapEngine(spark, root2).pump_cdc(EVENTS_CUBE.name, stream)
    assert again["batches"] == 0 and again["changes"] == 0


def test_pump_cdc_stale_token_replay_fenced(spark, events, cdc_dir, tmp_path):
    # at-least-once transport: a crash AFTER the commit re-delivers the
    # same batch on restart (the consumer's token is stale); the
    # manifest watermark fences the re-apply
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.sources.adapters import FileChangeStreamSource

    stream = FileChangeStreamSource(cdc_dir)
    root = str(tmp_path / "r")
    e = OlapEngine(spark, root)
    e.create_cube(EVENTS_CUBE, events.limit(0))
    e.pump_cdc(EVENTS_CUBE.name, stream, max_changes=137, max_batches=1)
    once = rows_set(e.catalog.cells(EVENTS_CUBE.name))

    # replay the exact same pull (resume_after=None = stale token)
    batch, tok = stream.read_change_stream(spark, resume_after=None,
                                           max_changes=137)
    maint = CubeMaintainer(e.catalog, EVENTS_CUBE, stream_id="pump")
    assert maint.apply_batch(batch, tok) is False  # fenced
    assert rows_set(e.catalog.cells(EVENTS_CUBE.name)) == once


def test_read_change_stream_prefix_and_token(spark, events, cdc_dir):
    from mongo_olap_spark.sources.adapters import FileChangeStreamSource

    stream = FileChangeStreamSource(cdc_dir)
    b1, t1 = stream.read_change_stream(spark, max_changes=10)
    assert b1.count() == 10
    ids1 = sorted(r["change_id"] for r in b1.collect())
    assert t1 == ids1[-1]  # token = newest delivered change
    # strictly-after resume: no overlap, no gap
    b2, t2 = stream.read_change_stream(spark, resume_after=t1,
                                       max_changes=10)
    ids2 = sorted(r["change_id"] for r in b2.collect())
    assert ids2[0] > t1 and t2 == ids2[-1]
    all_ids = sorted(
        r["change_id"]
        for r in stream.read_change_stream(spark)[0].collect())
    assert all_ids[:20] == ids1 + ids2  # oldest-first prefix contract
    # drained stream: empty batch, token unchanged
    b3, t3 = stream.read_change_stream(spark, resume_after=all_ids[-1])
    assert b3.count() == 0 and t3 == all_ids[-1]
