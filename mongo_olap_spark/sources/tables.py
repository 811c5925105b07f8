"""Source connectors.

The reference domain's source is a MongoDB collection (documents);
this testbed's source is driver-generated parquet. The loader is the
single seam where a real deployment would swap in
``spark.read.format("mongodb")`` (or any Spark DataSource) — every
operator downstream sees only a DataFrame.

Scale notes (100 TB): parquet scans here benefit from Catalyst
predicate pushdown + column pruning for free because we never
materialize the raw table — callers chain filters/selects onto the
returned DataFrame lazily. For a partitioned lake layout, the same
``spark.read.parquet(dir)`` picks up hive-style partition columns and
dynamic partition pruning without code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension-like tables small enough to broadcast-join at ANY scale
#: factor (region=5, nation=25 rows always; supplier/part/customer grow
#: with sf but stay << fact tables). Used by query code to hint
#: broadcast joins instead of shuffles.
BROADCAST_TABLES = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_conf(spark: SparkSession) -> None:
    """Settings any session must carry to read this lake correctly,
    applied defensively because the driver may hand us its own session:

    - ``events.parquet`` stores TIMESTAMP(NANOS) which Spark's
      vectorized reader rejects; the legacy conf reads it as LongType
      (epoch nanos) and the loader converts (values are µs-aligned —
      verified — so the conversion is lossless);
    - UTC session time zone for engine/oracle timestamp comparability.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the driver may hand us a session built before our factory ran;
    # worker-python pinning is env-var-only and workers spawn lazily,
    # so it still lands as long as a table loads before the first
    # Python stage executes
    from mongo_olap_spark.session import _pin_worker_python

    _pin_worker_python()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one source table as a DataFrame (lazy; no scan yet)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        # The lake has shipped events.ts as TIMESTAMP(NANOS) (read as
        # epoch-nanos long under the legacy conf) and as TIMESTAMP(µs)
        # (read as timestamp_ntz). Normalize both to TimestampType so
        # the engine sees one type regardless of which writer produced
        # the file. Integer div for the nanos case — ~1.7e18 is beyond
        # double precision.
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Scale-adaptive map-parallelism floor for per-row-EXPENSIVE
    compute over small scans (optimization r17, guide §6).

    A mid-size corpus that fits one parquet file under
    ``spark.sql.files.maxPartitionBytes`` (or one row group — Spark
    assigns a row group to the single split holding its midpoint)
    scans as ONE task, so a per-document compute pipeline (trigram
    scoring, shingle hashing) runs serially no matter how many cores
    the cluster has — measured at sf1: q_lang_id c8 ≈ c32 (8.1 s
    both). When the scan's parallelism is below half the default
    parallelism, hash-repartition by the table key (deterministic —
    NOT round-robin, which pays a full-row sort for retry safety) to
    the core count. At 100 TB the scan has thousands of splits and
    this is a no-op — the gate derives from the actual layout, never
    a local constant. Use only where per-row compute dominates: the
    exchange moves the corpus once, which must be cheaper than the
    serialized compute it unlocks.
    """
    from pyspark.sql import functions as F

    from mongo_olap_spark.connect import is_connect

    spark = df.sparkSession
    if is_connect(spark):
        # audited fallback (CONNECT_MATRIX["spread_small_scan"]): the
        # layout probe needs classic APIs; skip the floor under Connect
        return df
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= cores:
        return df.repartition(cores, F.col(key))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}

