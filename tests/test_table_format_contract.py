"""MERGE-semantics contract suite of the cube store.

Every test here uses the store's public operations only — no manifest
files, no ``_write_*`` internals — so the same suite states what a
Delta/Iceberg-backed store would have to keep (the operation mapping is
in the ``cube/catalog.py`` docstring).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.cube import CubeCatalog, build_cube
from mongo_olap_spark.cube.catalog import CommitConflict, partition_key_col
from mongo_olap_spark.queries.core import EVENTS_CUBE


#: the id names the store under test: the parquet + manifest catalog
@pytest.fixture(params=["manifest"])
def fmt(spark, tmp_path) -> CubeCatalog:
    return CubeCatalog(spark, str(tmp_path / "cubes"))


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def day_key(events, day: int) -> str:
    return events.filter(F.dayofmonth("ts") == day).select(
        partition_key_col(F.date_trunc("day", "ts"))
    ).first()[0]


def day_cells(spark, events, *days):
    src = events.filter(F.dayofmonth("ts").isin(*days))
    return build_cube(spark, EVENTS_CUBE, src)


def test_create_read_roundtrip_and_versioning(fmt, spark, events):
    name = EVENTS_CUBE.name
    fmt.create(EVENTS_CUBE, events.filter(F.dayofmonth("ts") <= 5))
    v1 = fmt.current_version(name)
    first = rows_set(fmt.cells(name))
    assert first and name in fmt.list_cubes()
    assert fmt.get_spec(name).dim_names == ["event_type", "day"]

    # overwrite = snapshot replacement; bumps the version
    fmt.overwrite_cells(name, day_cells(spark, events, 6, 7))
    assert fmt.current_version(name) > v1
    second = rows_set(fmt.cells(name))
    assert second != first
    # time travel: the pre-overwrite snapshot is still readable
    assert rows_set(fmt.cells(name, version=v1)) == first


def test_partition_scoped_merge_carries_and_evicts(fmt, spark, events):
    name = EVENTS_CUBE.name
    fmt.create(EVENTS_CUBE, events.filter(F.dayofmonth("ts").isin(3, 4)))
    k3, k4 = day_key(events, 3), day_key(events, 4)
    before_4 = rows_set(fmt.cells_for_partitions(name, [k4]))

    # replace day 3's content only: doubled counts stand in for a merge
    doubled = day_cells(spark, events, 3).withColumn(
        "n_cnt", F.col("n_cnt") * 2)
    fmt.commit_partitions(name, doubled, [k3])
    assert rows_set(fmt.cells_for_partitions(name, [k3])) == rows_set(doubled)
    # untouched partition carried byte-identically
    assert rows_set(fmt.cells_for_partitions(name, [k4])) == before_4

    # a touched key with no surviving cells is EVICTION
    fmt.commit_partitions(name, day_cells(spark, events, 3).limit(0), [k3])
    assert fmt.cells_for_partitions(name, [k3]).count() == 0
    assert rows_set(fmt.cells_for_partitions(name, [k4])) == before_4


def test_watermark_commits_atomically(fmt, spark, events):
    name = EVENTS_CUBE.name
    fmt.create(EVENTS_CUBE, events.limit(0))
    assert fmt.last_batch_id(name) == -1
    k3 = day_key(events, 3)
    fmt.commit_partitions(name, day_cells(spark, events, 3), [k3],
                          batch_id=7, stream_id="s1")
    assert fmt.last_batch_id(name, "s1") == 7
    assert fmt.last_batch_id(name, "other") == -1  # per-stream watermarks
    fmt.overwrite_cells(name, day_cells(spark, events, 4),
                        batch_id=9, stream_id="s1")
    assert fmt.last_batch_id(name, "s1") == 9


def test_stale_read_version_conflicts(fmt, spark, events):
    name = EVENTS_CUBE.name
    fmt.create(EVENTS_CUBE, events.filter(F.dayofmonth("ts") == 3))
    k3 = day_key(events, 3)
    v0 = fmt.current_version(name)
    cells = day_cells(spark, events, 3)
    # writer A lands on the same partition first
    fmt.commit_partitions(name, cells, [k3], read_version=v0)
    # writer B merged against the v0 cells — must refuse, not clobber
    with pytest.raises(CommitConflict, match="changed under this writer"):
        fmt.commit_partitions(name, cells, [k3], read_version=v0)
    # a writer on a DISJOINT partition still lands (rebase)
    k4 = day_key(events, 4)
    fmt.commit_partitions(name, day_cells(spark, events, 4), [k4],
                          read_version=v0)
    assert fmt.cells_for_partitions(name, [k4]).count() > 0


def test_vacuum_reclaims_history_keeps_live(fmt, spark, events):
    name = EVENTS_CUBE.name
    fmt.create(EVENTS_CUBE, events.filter(F.dayofmonth("ts") == 3))
    v1 = fmt.current_version(name)
    fmt.overwrite_cells(name, day_cells(spark, events, 4))
    live = rows_set(fmt.cells(name))
    assert fmt.vacuum(name) != []  # superseded v1 files reclaimed
    assert rows_set(fmt.cells(name)) == live
    # v1 is no longer reconstructible: the read either refuses or
    # yields nothing (implementations may drop the manifest, the
    # files, or both — "history has a retention" is the contract)
    try:
        old_rows = fmt.cells(name, version=v1).collect()
    except Exception:
        old_rows = []
    assert old_rows == []


def test_compact_preserves_content(fmt, spark, events):
    name = EVENTS_CUBE.name
    fmt.create(EVENTS_CUBE, events.filter(F.dayofmonth("ts").isin(3, 4)))
    k3 = day_key(events, 3)
    fmt.commit_partitions(name, day_cells(spark, events, 3), [k3],
                          batch_id=1)
    before = rows_set(fmt.cells(name))
    fmt.compact(name)
    assert rows_set(fmt.cells(name)) == before
    assert fmt.last_batch_id(name) == 1  # watermark survives compaction
