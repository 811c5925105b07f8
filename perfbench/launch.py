"""Traced service launcher: wrap the layer functions, run the shipped
``mongo_olap_spark.service.main`` with the remaining arguments, and
write the spans, counts and the session's effective Spark conf to
``--spans`` when the service exits.

    python perfbench/launch.py --spans SPANS.json -- --data-dir D --root R --port 0
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import instrument, instrument_service  # noqa: E402
from spans import Tracer  # noqa: E402


def main(argv: list[str]) -> int:
    sep = argv.index("--")
    if argv[:1] != ["--spans"] or sep != 2:
        raise SystemExit("usage: launch.py --spans FILE -- SERVICE_ARGS...")
    spans_path = argv[1]
    from pyspark.sql import SparkSession

    from mongo_olap_spark import service

    tracer = Tracer()
    instrument(tracer)
    instrument_service(tracer)
    conf: dict = {}
    stop = SparkSession.stop

    def stop_and_record(self):
        conf.update(effective_conf(self))
        stop(self)

    SparkSession.stop = stop_and_record
    try:
        return service.main(argv[sep + 1:])
    finally:
        dump(spans_path, tracer, conf)


def effective_conf(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    for key in ("spark.sql.session.timeZone", "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled"):
        conf[key] = spark.conf.get(key)
    conf["jvm.max_heap_mb"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20
    return {k: v for k, v in conf.items() if "extraJavaOptions" not in k}


def dump(path: str, tracer: Tracer, conf: dict) -> None:
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans,
                   "counts": [[k[0], k[1], v] for k, v in tracer.counts.items()],
                   "conf": conf}, f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
