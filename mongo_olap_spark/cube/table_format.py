"""The cube store's transactional-table-format contract (round-5 task 7).

At deployment scale the right home for cube state is a transactional
table format — Delta Lake or Iceberg — where ``merge`` is a real MERGE
INTO, time travel and VACUUM are native, and concurrent writers are
arbitrated by the format's commit protocol. This environment has no
such jars (and no network to fetch them), so the engine ships its own
parquet + snapshot-manifest implementation (``CubeCatalog``) with the
same properties: optimistic CAS commits, partition-scoped merges,
time travel, vacuum with an age grace, idempotency watermarks.

This module keeps that swap seam HONEST: ``TableFormatAdapter`` is the
abstract contract both implementations satisfy, the streaming
maintainer and engine depend only on it, and the contract test suite
(``tests/test_table_format_contract.py``) is written against the ABC —
plug a Delta-backed adapter into the same fixture and the identical
MERGE-semantics suite runs against it.

Operation mapping for a Delta-backed instance (the deployment recipe
``DeltaTableFormat`` refuses with):

| contract method        | Delta Lake equivalent                         |
|------------------------|-----------------------------------------------|
| create/overwrite_cells | ``write.format("delta").mode("overwrite")``   |
| commit_partitions      | ``MERGE INTO`` on cell keys, or
|                        | ``replaceWhere`` on the touched partitions    |
| cells(version=v)       | ``option("versionAsOf", v)`` time travel      |
| current_version        | ``DESCRIBE HISTORY`` latest version           |
| last_batch_id          | ``txn`` appId/version (idempotent writes)     |
| read_version conflict  | Delta's optimistic concurrency (conflict
|                        | detection on overlapping files)               |
| vacuum                 | ``VACUUM <table> RETAIN n HOURS``             |
| compact                | ``OPTIMIZE <table>``                          |
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame


class TableFormatAdapter(ABC):
    """What the cube store needs from its storage layer.

    Semantics every implementation must honor (the contract suite
    asserts each):

    - **Snapshot isolation**: ``cells`` reads one committed version;
      a crashed half-commit is never visible.
    - **Versioning / time travel**: every commit bumps
      ``current_version``; ``cells(version=v)`` reads snapshot ``v``
      until ``vacuum`` reclaims it.
    - **Partition-scoped merge**: ``commit_partitions`` atomically
      replaces the touched partitions' content, carries every other
      partition unchanged, and treats a touched key with no rows as
      eviction.
    - **Optimistic concurrency**: concurrent disjoint commits both
      land (rebase); overlapping commits surface ``CommitConflict``
      when the writer declares its ``read_version``.
    - **Idempotency watermark**: ``last_batch_id`` returns the highest
      batch id committed per stream, atomically with its data — the
      exactly-once hook for foreachBatch replays.
    """

    # -- lifecycle ------------------------------------------------------
    @abstractmethod
    def create(self, spec, source: DataFrame) -> DataFrame: ...

    @abstractmethod
    def drop(self, name: str) -> None: ...

    @abstractmethod
    def list_cubes(self) -> list[str]: ...

    @abstractmethod
    def get_spec(self, name: str): ...

    # -- reads ----------------------------------------------------------
    @abstractmethod
    def cells(self, name: str, *, version: int | None = None) -> DataFrame: ...

    @abstractmethod
    def cells_for_partitions(self, name: str, keys: list[str] | None) -> DataFrame: ...

    # -- writes ---------------------------------------------------------
    @abstractmethod
    def overwrite_cells(
        self, name: str, cells: DataFrame, *,
        batch_id: int | None = None, stream_id: str = "default",
    ) -> None: ...

    @abstractmethod
    def commit_partitions(
        self, name: str, cells: DataFrame, touched_keys: list[str], *,
        batch_id: int | None = None, stream_id: str = "default",
        read_version: int | None = None,
    ) -> None: ...

    # -- transactions / maintenance -------------------------------------
    @abstractmethod
    def current_version(self, name: str) -> int: ...

    @abstractmethod
    def last_batch_id(self, name: str, stream_id: str = "default") -> int: ...

    @abstractmethod
    def vacuum(self, name: str, *, min_age_s: float = 0) -> list[str]: ...

    @abstractmethod
    def compact(self, name: str) -> int: ...


class DeltaTableFormat(TableFormatAdapter):
    """Delta-Lake-backed adapter — deployment seam.

    Environment-blocked here (no delta-spark jars, no network); the
    constructor refuses with the recipe rather than half-working. The
    module docstring's table is the method-by-method mapping; the
    contract suite in tests/test_table_format_contract.py is the
    acceptance gate for a real implementation.
    """

    def __init__(self, *args, **kwargs):
        raise NotImplementedError(
            "DeltaTableFormat requires the delta-spark package and its jars "
            "(pip install delta-spark; spark.jars.packages=io.delta:delta-"
            "spark_2.13:<version>; spark.sql.extensions=io.delta.sql.Delta"
            "SparkSessionExtension). Implement each TableFormatAdapter "
            "method per the mapping table in mongo_olap_spark/cube/"
            "table_format.py and run tests/test_table_format_contract.py "
            "against it — the suite is implementation-agnostic."
        )

    # abstract members are satisfied by the refusing constructor; the
    # stubs below keep the class instantiable-in-principle for ABCMeta
    create = drop = list_cubes = get_spec = None  # type: ignore[assignment]
    cells = cells_for_partitions = None  # type: ignore[assignment]
    overwrite_cells = commit_partitions = None  # type: ignore[assignment]
    current_version = last_batch_id = vacuum = compact = None  # type: ignore[assignment]
