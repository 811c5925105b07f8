"""Wrappers that record per-layer spans and counts in a traced run.

``instrument`` wraps the program's public functions at each layer
boundary (service, engine, router, catalog, maintainer, compiler,
Spark). ``SparkStats`` attributes Spark jobs, tasks, shuffle bytes,
spill bytes, GC time, Catalyst phase times and execution time to the
request being served. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import functools
import os
import threading
from collections import Counter

from spans import Tracer, count_calls, wrap_function, wrap_method

PHASES = ("analysis", "optimization", "planning")
#: DataFrame and DataFrameWriter methods that run Spark jobs; the
#: outermost such call is one ``spark.action`` span
DATAFRAME_ACTIONS = ("collect", "count", "isEmpty", "toArrow", "toPandas",
                     "toLocalIterator", "tail", "foreach", "foreachPartition", "show")
WRITER_ACTIONS = ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable",
                  "insertInto")


class QueryListener:
    """A ``QueryExecutionListener`` the JVM calls through py4j after
    every SQL execution: collects, counts and writes alike. It sums the
    Catalyst phase times of the execution's query and its execution
    time, which is the execution's duration minus optimization and
    planning (both run inside it; analysis ran when the DataFrame was
    built). The listener bus delivers these calls asynchronously, so
    ``drain`` waits for it first."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._lock = threading.Lock()
        self._pending: Counter = Counter()
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        phases = qe.tracker().phases()
        ms = {}
        for name in PHASES:
            summary = phases.get(name)
            ms[name] = summary.get().durationMs() if summary.isDefined() else 0
        exec_ms = max(0.0, duration_ns / 1e6 - ms["optimization"] - ms["planning"])
        with self._lock:
            for name, v in ms.items():
                self._pending[f"spark.{name}_ms"] += v
            self._pending["spark.exec_ms"] += exec_ms

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        """A failed execution is counted as a failed op by the caller."""

    def drain(self) -> Counter:
        self._bus.waitUntilEmpty()
        with self._lock:
            out, self._pending = self._pending, Counter()
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkStats:
    """Per-op deltas read from the JVM: jobs and tasks from the status
    tracker, shuffle-write and spill bytes from the status store, GC
    time from the GC MXBeans, phase and execution times from a
    ``QueryListener``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._listener = QueryListener(spark)
        self._store = self.sc._jsc.sc().statusStore()
        self._defaults = [getattr(self._store, f"stageAttempt$default${i}")()
                          for i in (3, 4, 5, 6)]
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._last_job = max(self._job_ids(), default=-1)
        self._last_gc = self._gc_ms()

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def sample(self, tracer: Tracer) -> None:
        for name, v in self._listener.drain().items():
            tracer.count(name, v)
        tracker = self.sc.statusTracker()
        new = sorted(j for j in self._job_ids() if j > self._last_job)
        tasks = shuffle = spill = 0
        for jid in new:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                if stage is None:
                    continue
                tasks += stage.numTasks
                data = self._store.stageAttempt(sid, stage.currentAttemptId,
                                                *self._defaults)._1()
                shuffle += data.shuffleWriteBytes()
                spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
        if new:
            self._last_job = new[-1]
        gc = self._gc_ms()
        tracer.count("spark.jobs", len(new))
        tracer.count("spark.tasks", tasks)
        tracer.count("spark.shuffle_write_bytes", shuffle)
        tracer.count("spark.spill_bytes", spill)
        tracer.count("spark.gc_ms", gc - self._last_gc)
        self._last_gc = gc


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _wrap_actions(tracer: Tracer, cls, attrs: tuple, depth: threading.local) -> None:
    """One ``spark.action`` span per outermost action call (``first``
    calls ``collect``, for one)."""

    def traced(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = getattr(depth, "n", 0) == 0
            depth.n = getattr(depth, "n", 0) + 1
            idx = tracer.start("spark.action") if outer else None
            try:
                return fn(*args, **kwargs)
            finally:
                depth.n -= 1
                if outer:
                    tracer.end(idx)

        return wrapper

    for attr in attrs:
        setattr(cls, attr, traced(getattr(cls, attr)))


def instrument(tracer: Tracer) -> None:
    """Install every layer wrapper. Every DataFrame action and write
    is a ``spark.action`` span, so Spark's time is not counted as the
    Python self time of the layer that called it."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import mongo_olap_spark.service as service
    from mongo_olap_spark.cube import build, ivm
    from mongo_olap_spark.cube.catalog import CubeCatalog
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.plans import pipeline_compiler
    from mongo_olap_spark.plans.router import CubeRouter
    from mongo_olap_spark.streaming.pipeline import CubeMaintainer

    wrap_method(tracer, OlapEngine, "query", "engine.query")
    wrap_method(tracer, OlapEngine, "query_pipeline", "engine.query")

    def routed(decision):
        tracer.count("router.routes")
        tracer.count("router.cube_hits", decision.cube is not None)

    wrap_method(tracer, CubeRouter, "route", "router.route", after=routed)
    count_calls(tracer, CubeCatalog, "manifest", "catalog.manifest_reads")
    for attr in ("cells", "cells_for_partitions", "cells_in_range"):
        wrap_method(tracer, CubeCatalog, attr, "catalog.cells")
    wrap_method(tracer, CubeCatalog, "commit_partitions", "catalog.commit")
    wrap_function(tracer, build, "delta_cells", "build.delta")
    wrap_function(tracer, ivm, "merge_cells", "ivm.merge")
    wrap_function(tracer, pipeline_compiler, "compile_pipeline", "compiler.compile")
    wrap_function(tracer, service, "_dumps", "service.json")
    wrap_method(tracer, SparkSession, "createDataFrame", "sources.wire_decode")

    apply_batch = CubeMaintainer.apply_batch

    @functools.wraps(apply_batch)
    def traced_apply(self, batch, batch_id):
        data_dir = os.path.join(self.catalog._dir(self.spec.name), "data")
        before = _parquet_files(data_dir)
        idx = tracer.start("maintainer.apply_batch")
        try:
            return apply_batch(self, batch, batch_id)
        finally:
            tracer.end(idx)
            tracer.count("catalog.files_written", _parquet_files(data_dir) - before)
            tracer.count("maintainer.batches")

    CubeMaintainer.apply_batch = traced_apply

    depth = threading.local()
    _wrap_actions(tracer, DataFrame, DATAFRAME_ACTIONS, depth)
    _wrap_actions(tracer, DataFrameWriter, WRITER_ACTIONS, depth)


def instrument_service(tracer: Tracer) -> None:
    """Service-side op boundary: one ``service.handle`` span per
    request, ended when the response is produced (serialization and
    the socket write are outside it), then the Spark deltas of the op.
    The session is the service engine's (requests run on socket
    threads, where Spark has no active session)."""
    from mongo_olap_spark.service import OlapService

    init, handle_stream = OlapService.__init__, OlapService.handle_stream

    @functools.wraps(init)
    def traced_init(self, engine, data_dir):
        init(self, engine, data_dir)
        self._perfbench_stats = SparkStats(engine.spark)

    @functools.wraps(handle_stream)
    def traced_handle_stream(self, req):
        tracer.request = req.get("id") if isinstance(req, dict) else None
        idx = tracer.start("service.handle")
        ended = False
        try:
            for resp in handle_stream(self, req):
                if not ended:
                    tracer.end(idx)
                    ended = True
                    self._perfbench_stats.sample(tracer)
                yield resp
        finally:
            if not ended:
                tracer.end(idx)
                self._perfbench_stats.sample(tracer)

    OlapService.__init__ = traced_init
    OlapService.handle_stream = traced_handle_stream
