"""Service benchmark for mongo_olap_spark: serve, ingest and adhoc.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``serve`` and ``ingest`` start the
NDJSON service (``python -m mongo_olap_spark.service --port 0``) as a
subprocess and drive it over one connection, closed loop; ``adhoc``
runs the driver contract's pipeline queries in this process. Inputs
are generated from ``--seed``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). The lines before it give the run conditions and every
reading by name with its unit. See README.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import machine  # noqa: E402
import oracle  # noqa: E402
import streams  # noqa: E402

#: the machine's CPU counters at process start, for ``setup_s``
STAT_PROCESS = machine.cpu_times()

SERVE_SF = 0.1
ADHOC_SF = 0.01
#: timed ops whose counts (jobs, manifest reads, files written) form
#: the count metrics: a fixed prefix, so they repeat exactly per seed.
#: Serve counts one whole round (every shape once), so every seed
#: counts the same mix of shapes.
COUNT_OPS = {"serve": len(streams.serve_shapes()), "ingest": 3, "adhoc": 12}
#: warm-up rounds of every serve shape, and warm-up batches of ingest
#: (the first ones pay class loading and JIT compilation)
SERVE_WARM_ROUNDS = 4
INGEST_WARM_BATCHES = 6
#: nominal seconds of one timed round on a 4-vCPU box at low steal; the
#: timed phase runs round(--seconds / nominal) rounds, a fixed count so
#: that every run times the same stretch of the JVM's warm-up
NOMINAL_ROUND_S = {"serve": 3.3, "ingest": 2.0, "adhoc": 16.0}
ADHOC_TABLES = ["documents", "supplier", "lineitem", "events", "customer", "orders"]
ADHOC_EXCLUDED_PREFIX = "q_pipeline_route_"
ADHOC_EXCLUDED = {"q_pipeline_mixed_fallback"}
ADHOC_NO_ORACLE = "q_pipeline_llm_pack"

#: end-to-end metrics; the "op" is a read (serve), an ``apply_cdc``
#: batch (ingest) or a query (adhoc), and throughput is reads, changes
#: or queries per second
E2E = {"setup_s": "s", "p50_ms": "ms", "throughput_per_s": "1/s"}
#: per-layer metrics of a traced run that every workload exercises
LAYER_UNITS = {
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.exec_ms": "ms", "spark.gc_ms": "ms", "python.plan_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "catalog.manifest_reads": "count", "catalog.files_written": "count",
    "catalog.live_dirs": "count", "router.cube_hit_ratio": "ratio",
    "machine.steal_pct": "%", "machine.nproc": "count", "machine.peak_rss_mb": "MB",
}
#: per-layer self times (ms per timed op) that only some workloads
#: exercise; printed on the ``layer`` lines of a traced run
SELF_TIME_SPANS = {
    "service.handle": "service.handle_ms", "service.json": "service.json_ms",
    "engine.query": "engine.query_ms", "router.route": "router.route_ms",
    "catalog.cells": "catalog.cells_ms", "sources.wire_decode": "sources.wire_decode_ms",
    "build.delta": "build.delta_ms", "ivm.merge": "ivm.merge_ms",
    "maintainer.apply_batch": "maintainer.apply_batch_ms",
    "catalog.commit": "catalog.commit_ms", "compiler.compile": "compiler.compile_ms",
}


class Run:
    """One benchmark run: arguments, directories and the tallies every
    workload fills in."""

    def __init__(self, args, root: str):
        self.seed, self.traced = args.seed, bool(args.trace)
        self.rounds = max(1, round(args.seconds / NOMINAL_ROUND_S[args.workload]))
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.engine_root = os.path.join(self.work, "engine")
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.checks_ok = True
        #: every reading by name: (value, unit)
        self.readings: dict[str, tuple[float, str]] = {}

    def env(self, **extra) -> dict:
        """Environment of the program under test: Spark's scratch and
        the JVM's temp dir inside this run's work dir."""
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        pythonpath = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        return dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=local, PYTHONPATH=pythonpath,
                    JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={local}",
                    PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
                    **extra)

    def fail_check(self, what: str) -> None:
        self.checks_ok = False
        self.errors.append(what)

    def record(self, resp: dict, what: str) -> bool:
        self.attempted += 1
        if resp.get("ok"):
            return True
        self.failed += 1
        self.errors.append(f"{what}: {json.dumps(resp.get('error'))[:300]}")
        return False

    def read(self, **values) -> None:
        """Record readings; the unit is the name's suffix."""
        for name, v in values.items():
            unit = next((u for suffix, u in _SUFFIX_UNITS if name.endswith(suffix)), "count")
            self.readings[name] = (v, unit)


#: reading-name suffix → unit, longest suffix first
_SUFFIX_UNITS = [("_ms_per_op", "ms"), ("_per_s", "1/s"), ("_ms", "ms"), ("_mb", "MB"),
                 ("_s", "s")]


def pct(values: list[float], p: int) -> float:
    """The p-th percentile (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def live_dirs(engine_root: str) -> int:
    """Distinct write directories the current manifests reference."""
    dirs = set()
    for cube in os.listdir(engine_root) if os.path.isdir(engine_root) else ():
        try:
            with open(os.path.join(engine_root, cube, "manifest.json")) as f:
                manifest = json.load(f)
        except (OSError, ValueError):
            continue
        for entry in manifest.get("partitions", {}).values():
            dirs.add((cube, entry["path"].split(os.sep)[1]))
    return len(dirs)


def jvm_args(pids: list[int]) -> dict:
    """Heap and master of the service's JVM, from its command line."""
    for p in pids:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if argv and argv[0].endswith("java"):
            out = {"heap": [a for a in argv if a.startswith("-Xmx")]}
            if "--master" in argv:
                out["master"] = argv[argv.index("--master") + 1]
            return out
    return {}


# -- serve and ingest: the service over one connection ---------------------

def start_service(run: Run):
    from service_client import Service, service_argv

    spans = os.path.join(run.work, "spans.json")
    svc = Service(service_argv(run.traced, spans), data_dir=run.data,
                  root=run.engine_root, master=f"local[{machine.nproc()}]",
                  log_path=os.path.join(run.work, "service.log"), cwd=run.work,
                  env=run.env())
    return svc, spans


def since_start() -> tuple[float, float]:
    """Seconds since process start, as measured and times the share of
    the wanted CPU that the machine was granted meanwhile."""
    raw = time.monotonic() - T_PROCESS
    return raw, raw * machine.cpu_shares(STAT_PROCESS, machine.cpu_times())["granted"]


def timed_call(run: Run, svc, req: dict, rid: str, what: str):
    """One request: the response, its round trip in ms as measured and
    times the CPU share granted during it, and whether it succeeded."""
    stat = machine.cpu_times()
    t = time.perf_counter()
    resp = svc.call(req, rid)
    ms = (time.perf_counter() - t) * 1e3
    granted = machine.cpu_shares(stat, machine.cpu_times())["granted"]
    return resp, ms, ms * granted, run.record(resp, what)


def timed_rounds(run: Run, pids: list[int], one_round) -> tuple[list, dict]:
    """Run the timed rounds. ``one_round(i)`` returns ``{"lat": [ms,
    ...], "ops": n, "work": w, "busy_s": s}``; each round also gets the
    CPU and steal readings of its own window. Returns the rounds and
    the whole phase's conditions."""
    whole = machine.Window(pids)
    rounds = []
    for k in range(run.rounds):
        window = machine.Window(pids)
        r = one_round(k)
        rounds.append({**r, **window.close()})
    cond = whole.close()
    cond["peak_rss_mb"] = machine.peak_rss_mb(pids)
    cond["round_steal_pct"] = [round(r["steal_pct"], 2) for r in rounds]
    cond["round_p50_ms"] = [round(statistics.median(r["lat"]), 1) for r in rounds]
    cond["jit_cpu_ms_per_op"] = cond["jit_cpu_s"] * 1e3 / sum(r["ops"] for r in rounds)
    return rounds, cond


def round_medians(setup_s: float, rounds: list[dict]) -> dict:
    """End-to-end metrics with the stolen CPU taken out: the median
    over every timed op of its round trip times the CPU share the
    machine granted during it, and the median over rounds of the
    work per second of granted round time."""
    return {"setup_s": setup_s,
            "p50_ms": statistics.median(ms for r in rounds for ms in r["granted_lat"]),
            "throughput_per_s": statistics.median(
                r["work"] / (r["busy_s"] * r["granted"]) for r in rounds)}


def cpu_ms_per_op(rounds: list[dict]) -> float:
    """Median over rounds of the system's CPU per op (JIT excluded)."""
    return statistics.median(r["cpu_s"] * 1e3 / r["ops"] for r in rounds)


def serve(run: Run) -> dict:
    datagen.generate(run.data, SERVE_SF, run.seed, ["events", "lineitem"])
    svc, spans = start_service(run)
    try:
        for spec in streams.SERVE_CUBES:
            run.record(svc.call({"op": "create_cube", "spec": spec}, f"s-{spec['name']}"),
                       f"create_cube {spec['name']}")
        shapes = streams.serve_shapes()
        warm = []
        for w in range(SERVE_WARM_ROUNDS):
            for i, (req, _) in enumerate(shapes):
                resp, _, _, ok = timed_call(run, svc, req, f"w{w}-{i}", f"warm shape {i}")
                if w == 0:
                    warm.append(resp.get("result") if ok else None)
        setup_raw_s, setup_s = since_start()

        stream = streams.serve_stream(run.seed, run.rounds)
        seen, rt = [], {}

        def one_round(k: int) -> dict:
            t, lat, glat = time.monotonic(), [], []
            for shape in stream[k]:
                rid = f"t{len(rt)}-0"
                resp, ms, gms, ok = timed_call(run, svc, shapes[shape][0], rid, f"shape {shape}")
                lat.append(ms)
                glat.append(gms)
                rt[rid] = ms
                seen.append((shape, resp.get("result") if ok else None))
            return {"lat": lat, "granted_lat": glat, "ops": len(lat), "work": len(lat),
                    "busy_s": time.monotonic() - t}

        pids = machine.process_tree(svc.pid)
        rounds, cond = timed_rounds(run, pids, one_round)
        cond["spark"] = jvm_args(pids)
        disk, dirs = dir_mb(run.engine_root), live_dirs(run.engine_root)
    finally:
        svc.close()

    con = oracle.connect(run.data, ["events", "lineitem"])
    for i, (req, sql) in enumerate(shapes):
        cols, rows = oracle.query(con, sql)
        got = warm[i]
        if got is None or got["columns"] != cols or not oracle.same_rows(got["rows"], rows):
            run.fail_check(f"serve shape {i} differs from DuckDB: {json.dumps(req)}")
    for shape, result in seen:
        # a shape whose warm-up failed has already failed the check above
        if (result is not None and warm[shape] is not None
                and not oracle.same_rows(result["rows"], warm[shape]["rows"])):
            run.fail_check(f"serve shape {shape} answered differently in the timed phase")

    e2e = round_medians(setup_s, rounds)
    lat = [ms for r in rounds for ms in r["lat"]]
    run.read(setup_s=setup_s, setup_raw_s=setup_raw_s, read_p50_ms=e2e["p50_ms"],
             read_p50_raw_ms=statistics.median(lat), read_p90_raw_ms=pct(lat, 90),
             reads_per_s=e2e["throughput_per_s"], cpu_ms_per_op=cpu_ms_per_op(rounds),
             disk_mb=disk, reads=len(lat), rounds=len(rounds))
    layers = service_layers(spans, rt, len(lat), COUNT_OPS["serve"]) if run.traced else {}
    layers["catalog.live_dirs"] = dirs
    return {"e2e": e2e, "layers": layers, "cond": cond}


def ingest(run: Run) -> dict:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    datagen.generate(run.data, SERVE_SF, run.seed, ["events"])
    base = pq.read_table(os.path.join(run.data, "events.parquet"))
    base = base.set_column(1, "ts", pc.cast(base.column("ts"), "int64")).to_pylist()
    batches = streams.cdc_batches(run.seed, base, INGEST_WARM_BATCHES + run.rounds)
    del base
    svc, spans = start_service(run)
    sent: list[list[dict]] = []
    rt: dict = {}

    def step(b: int, rid: str, timed: bool) -> dict:
        """One batch, then the fixed reads of the cube. Throughput is
        changes per second of the whole step, so reads slowed by the
        write dirs a batch leaves behind count against it."""
        t = time.monotonic()
        req = {"op": "apply_cdc", "cube": "ev_cdc", "batch": batches[b], "batch_id": b}
        resp, apply_ms, apply_gms, ok = timed_call(run, svc, req, f"{rid}-0", f"batch {b}")
        if ok:
            sent.append(batches[b])
        reads = []
        for r, req in enumerate(streams.INGEST_READS, 1):
            reads.append(timed_call(run, svc, req, f"{rid}-{r}", "read")[1])
        if timed:
            rt[f"{rid}-0"] = apply_ms
            rt.update({f"{rid}-{r}": ms for r, ms in enumerate(reads, 1)})
        return {"lat": [apply_ms], "granted_lat": [apply_gms], "reads": reads, "ops": 1,
                "work": len(batches[b]) if ok else 0, "busy_s": time.monotonic() - t}

    try:
        run.record(svc.call({"op": "create_cube", "spec": streams.INGEST_CUBE}, "s-cube"),
                   "create_cube")
        for b in range(INGEST_WARM_BATCHES):
            step(b, f"w{b}", timed=False)
        setup_raw_s, setup_s = since_start()

        pids = machine.process_tree(svc.pid)
        rounds, cond = timed_rounds(
            run, pids, lambda k: step(INGEST_WARM_BATCHES + k, f"t{k}", timed=True))
        cond["spark"] = jvm_args(pids)
        final = svc.call(streams.INGEST_CHECK, "c-final")
        run.record(final, "final read")
        disk, dirs = dir_mb(run.engine_root), live_dirs(run.engine_root)
    finally:
        svc.close()

    con = oracle.connect(run.data, ["events"])
    flat = [c for batch in sent for c in batch]
    con.register("changes", pa.table({
        "event_type": [c["event_type"] for c in flat],
        "ts": pa.array([dt.datetime.fromisoformat(c["ts"]) for c in flat],
                       pa.timestamp("us")),
        "value": pa.array([c["value"] for c in flat], pa.float64()),
        "mult": pa.array([c["mult"] for c in flat], pa.int32())}))
    cols, want = oracle.query(con, streams.INGEST_ORACLE_SQL)
    got = final.get("result")
    if got is None or got["columns"] != cols or not oracle.same_rows(got["rows"], want):
        run.fail_check("ingest: final cube differs from DuckDB over base + net changes")

    e2e = round_medians(setup_s, rounds)
    reads = [ms for r in rounds for ms in r["reads"]]
    apply_s = sum(r["granted_lat"][0] for r in rounds) / 1e3
    run.read(setup_s=setup_s, setup_raw_s=setup_raw_s, apply_p50_ms=e2e["p50_ms"],
             apply_p50_raw_ms=statistics.median(r["lat"][0] for r in rounds),
             apply_max_raw_ms=max(r["lat"][0] for r in rounds),
             step_changes_per_s=e2e["throughput_per_s"],
             changes_per_s=sum(r["work"] for r in rounds) / apply_s,
             cpu_ms_per_op=cpu_ms_per_op(rounds),
             read_p50_raw_ms=statistics.median(reads), read_p90_raw_ms=pct(reads, 90),
             disk_mb=disk, batches=len(rounds), changes=sum(r["work"] for r in rounds),
             reads=len(reads))
    layers = service_layers(spans, rt, len(rounds), COUNT_OPS["ingest"]) if run.traced else {}
    layers["catalog.live_dirs"] = dirs
    return {"e2e": e2e, "layers": layers, "cond": cond}


# -- adhoc: the declared pipeline queries, in process -----------------------

def adhoc_queries() -> list[str]:
    from mongo_olap_spark.queries import QUERIES

    return [q for q in QUERIES if q.startswith("q_pipeline_")
            and not q.startswith(ADHOC_EXCLUDED_PREFIX) and q not in ADHOC_EXCLUDED]


def result_hash(rows) -> str:
    canon = sorted(json.dumps([oracle.norm(v) for v in r], default=str) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def adhoc(run: Run) -> dict:
    datagen.generate(run.data, ADHOC_SF, run.seed, ADHOC_TABLES)
    os.environ.update(run.env(SPARK_GRAFT_CPUS=str(machine.nproc()),
                              SPARK_GRAFT_DRIVER_MEM="4g"))
    if run.root not in sys.path:
        sys.path.insert(1, run.root)
    from mongo_olap_spark.queries import ORACLE, QUERIES
    from mongo_olap_spark.session import get_spark

    tracer = stats = None
    if run.traced:
        from layers import SparkStats, instrument
        from spans import Tracer

        tracer = Tracer()
        instrument(tracer)
    spark = get_spark("perfbench-adhoc")
    names = adhoc_queries()
    results: dict = {}
    rt: dict = {}

    def one(name: str, rid: str):
        """Run one query; count an exception as a failed op."""
        run.attempted += 1
        if tracer is not None:
            tracer.request = rid
            idx = tracer.start("adhoc.query")
        stat, t = machine.cpu_times(), time.perf_counter()
        try:
            df = QUERIES[name](spark, run.data)
            rows, cols = df.collect(), df.columns
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            run.failed += 1
            run.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if tracer is not None:
                tracer.end(idx)
                stats.sample(tracer)
        ms = (time.perf_counter() - t) * 1e3
        granted = machine.cpu_shares(stat, machine.cpu_times())["granted"]
        spark.catalog.clearCache()
        return rows, cols, ms, ms * granted

    def one_pass(k: int) -> dict:
        t, lat, glat = time.monotonic(), [], []
        for q in names:
            rid = f"t{len(rt)}-0"
            out = one(q, rid)
            rt[rid] = out[2] if out else 0.0
            if out is not None:
                lat.append(out[2])
                glat.append(out[3])
                results.setdefault(q, []).append(out[:2])
        return {"lat": lat, "granted_lat": glat, "ops": len(lat), "work": len(lat),
                "busy_s": time.monotonic() - t}

    try:
        if tracer is not None:
            stats = SparkStats(spark)
        for q in names:
            one(q, f"w-{q}")
        setup_raw_s, setup_s = since_start()
        rounds, cond = timed_rounds(run, machine.process_tree(os.getpid()), one_pass)
        cond["spark"] = {k: v for k, v in spark.sparkContext.getConf().getAll()
                         if k in ("spark.master", "spark.driver.memory",
                                  "spark.sql.shuffle.partitions",
                                  "spark.sql.session.timeZone")}
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        # the JVM exits on EOF of its stdin; wait for it
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(60)

    con = oracle.connect(run.data, ADHOC_TABLES)
    for q, answers in results.items():
        rows, cols = answers[0]
        if any(result_hash(r) != result_hash(rows) for r, _ in answers[1:]):
            run.fail_check(f"{q}: timed passes answered differently")
        if q == ADHOC_NO_ORACLE:
            run.read(llm_pack_rows=len(rows))
            print(f"llm_pack_hash {result_hash(rows)}")
            continue
        want_cols, want = oracle.query(con, ORACLE[q])
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        want_order = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
        if sorted(cols) != sorted(want_cols) or not oracle.same_rows(
                [[r[i] for i in order] for r in rows],
                [[r[i] for i in want_order] for r in want]):
            run.fail_check(f"{q}: differs from its ORACLE SQL")

    e2e = round_medians(setup_s, rounds)
    lat = [ms for r in rounds for ms in r["lat"]]
    run.read(setup_s=setup_s, setup_raw_s=setup_raw_s, query_p50_ms=e2e["p50_ms"],
             query_p50_raw_ms=statistics.median(lat), query_max_raw_ms=max(lat),
             queries_per_s=e2e["throughput_per_s"], cpu_ms_per_op=cpu_ms_per_op(rounds),
             passes=len(rounds), queries=len(lat))
    layers = {}
    if tracer is not None:
        layers = span_layers(tracer.spans, [[k[0], k[1], v] for k, v in tracer.counts.items()],
                             rt, len(rt), COUNT_OPS["adhoc"])
    layers["catalog.live_dirs"] = 0
    return {"e2e": e2e, "layers": layers, "cond": cond}


# -- per-layer metrics from spans ------------------------------------------

def service_layers(spans_path: str, rt: dict, ops: int, count_ops: int) -> dict:
    with open(spans_path) as f:
        dump = json.load(f)
    layers = span_layers(dump["spans"], dump["counts"], rt, ops, count_ops)
    layers["_conf"] = dump["conf"]
    return layers


def op_index(request) -> int | None:
    """The timed op a request id ``t<op>-<k>`` belongs to; None for
    set-up requests."""
    r = str(request)
    return int(r[1:].split("-")[0]) if r.startswith("t") else None


def span_layers(spans: list[dict], counts: list, rt: dict, ops: int, count_ops: int) -> dict:
    """Per-layer metrics over the ``ops`` timed ops (reads, ingest
    steps or queries): mean self time per op of each layer span, count
    metrics per op over the first ``count_ops`` ops, and ratios. ``rt``
    maps each timed request id to its client round trip in ms."""
    from spans import self_times

    selfs = self_times(spans)
    timed = [i for i, s in enumerate(spans) if op_index(s["request"]) is not None]
    out: dict = {m: 0.0 for m in SELF_TIME_SPANS.values()}
    self_ms: dict = {}
    for i in timed:
        name = spans[i]["name"]
        self_ms[name] = self_ms.get(name, 0.0) + selfs[i] * 1e3 / ops
        if name in SELF_TIME_SPANS:
            out[SELF_TIME_SPANS[name]] += selfs[i] * 1e3 / ops
    out["python.plan_ms"] = sum(ms for name, ms in self_ms.items() if name != "spark.action")

    def total_ms(name: str) -> dict:
        per: dict = {}
        for i in timed:
            if spans[i]["name"] == name:
                r = spans[i]["request"]
                per[r] = per.get(r, 0.0) + (spans[i]["end"] - spans[i]["start"]) * 1e3
        return per

    # the client's round trip minus the handler and the JSON encoding
    handle, json_ms = total_ms("service.handle"), total_ms("service.json")
    out["service.transport_ms"] = sum(
        rt[r] - handle[r] - json_ms.get(r, 0.0) for r in rt if r in handle) / ops

    count_ops = min(count_ops, ops)
    tally: dict = {}
    window: dict = {}
    for name, req, v in counts:
        op = op_index(req)
        if op is not None:
            tally[name] = tally.get(name, 0) + v
            if op < count_ops:
                window[name] = window.get(name, 0) + v
    out["spark.jobs_per_op"] = window.get("spark.jobs", 0) / count_ops
    out["spark.tasks_per_op"] = window.get("spark.tasks", 0) / count_ops
    out["catalog.manifest_reads"] = window.get("catalog.manifest_reads", 0) / count_ops
    batches = window.get("maintainer.batches", 0)
    out["catalog.files_written"] = window.get("catalog.files_written", 0) / batches if batches else 0
    routes = tally.get("router.routes", 0)
    out["router.cube_hit_ratio"] = tally.get("router.cube_hits", 0) / routes if routes else 0.0
    for name in ("analysis_ms", "optimization_ms", "planning_ms", "exec_ms", "gc_ms",
                 "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{name}"] = tally.get(f"spark.{name}", 0) / ops
    out["_self_ms_per_op"] = dict(sorted(self_ms.items()))
    return out


WORKLOADS = {"serve": serve, "ingest": ingest, "adhoc": adhoc}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a TERM runs the finally blocks: the service is shut down and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mongo_olap_spark", "service.py")):
        print("perfbench: run from the root of a mongo_olap_spark checkout", file=sys.stderr)
        return 2
    run = Run(args, root)
    os.makedirs(run.work)
    try:
        out = WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass

    cond, layers = out["cond"], out["layers"]
    conditions = {"workload": args.workload, "seed": args.seed, "traced": run.traced,
                  "nproc": cond["nproc"], "steal_pct": cond["steal_pct"],
                  "idle_pct": cond["idle_pct"], "loadavg": cond["loadavg"],
                  "round_steal_pct": cond["round_steal_pct"],
                  "round_p50_ms": cond["round_p50_ms"],
                  "jit_cpu_ms_per_op": cond["jit_cpu_ms_per_op"],
                  "peak_rss_mb": cond["peak_rss_mb"], "tz": time.tzname[0],
                  "spark": layers.pop("_conf", None) or cond["spark"]}
    print("conditions " + json.dumps(conditions, sort_keys=True))
    for name, (value, unit) in run.readings.items():
        print(f"reading {name} {value:.6g} {unit}")
    for err in run.errors[:20]:
        print(f"error {err}")
    if run.traced:
        for name, ms in layers.pop("_self_ms_per_op").items():
            print(f"self_ms_per_op {name} {ms:.6g} ms")
        layers.update({"machine.steal_pct": cond["steal_pct"], "machine.nproc": cond["nproc"],
                       "machine.peak_rss_mb": cond["peak_rss_mb"]})
        for name in [*SELF_TIME_SPANS.values(), "service.transport_ms"]:
            print(f"layer {name} {layers[name]:.6g} ms")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in E2E.items()}
    for name, m in metrics.items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": run.checks_ok and run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
