"""Service transport layer (r13, VERDICT r12 task 2).

The reference is a microservice (SURVEY §0/§3.3): clients drive
create/route/query/drop over a process boundary. `OlapService.handle`
is the engine-side dispatch; `serve_stdio`/`serve_socket` are the
transports. Tested three ways:

- in-process: every op + the full error taxonomy, request-id echo,
  rows-payload shape (limit/truncated, Decimal/timestamp wire forms);
- subprocess over stdio: a real second Python process runs
  `python -m mongo_olap_spark.service` end-to-end through
  create → explain-route → query (cube-served) → drop;
- local TCP socket: same protocol through serve_socket.
"""

from __future__ import annotations

import json
import socket
import subprocess
import sys

import pytest

from mongo_olap_spark.engine import OlapEngine
from mongo_olap_spark.service import OlapService, serve_socket, serve_stdio

SF = "/root/testdata/sf0.001"

PIPE = [{"$group": {"_id": {"et": "$event_type"},
                    "n": {"$sum": 1},
                    "total": {"$sum": "$value"}}}]


@pytest.fixture()
def service(spark, tmp_path):
    return OlapService(OlapEngine(spark, str(tmp_path)), SF)


# ---------------------------------------------------------------------------
# in-process: ops + taxonomy
# ---------------------------------------------------------------------------

def test_ping_echoes_id(service):
    r = service.handle({"id": 42, "op": "ping"})
    assert r == {"id": 42, "ok": True, "result": "pong"}


def test_unknown_op_bad_request(service):
    r = service.handle({"id": 1, "op": "frobnicate"})
    assert not r["ok"] and r["error"]["code"] == "bad_request"
    assert "query_pipeline" in r["error"]["message"]  # ops listed


def test_non_object_request_bad_request(service):
    r = service.handle([1, 2])
    assert not r["ok"] and r["error"]["code"] == "bad_request"


def test_missing_field_bad_request(service):
    r = service.handle({"id": 2, "op": "query_pipeline", "source": "events"})
    assert not r["ok"] and r["error"]["code"] == "bad_request"
    assert "pipeline" in r["error"]["message"]


def test_unknown_source_not_found(service):
    r = service.handle({"op": "query_pipeline", "source": "nope",
                        "pipeline": PIPE})
    assert not r["ok"] and r["error"]["code"] == "not_found"
    assert "nope" in r["error"]["message"]


def test_unknown_cube_drop_not_found(service):
    r = service.handle({"op": "drop_cube", "name": "ghost"})
    assert not r["ok"] and r["error"]["code"] == "not_found"


def test_refused_stage_maps_to_refused(service):
    r = service.handle({"op": "query_pipeline", "source": "events",
                        "pipeline": [{"$indexStats": {}}]})
    assert not r["ok"] and r["error"]["code"] == "refused"
    assert "$indexStats" in r["error"]["message"]


def test_validation_error_maps_to_invalid(service):
    r = service.handle({"op": "query"})  # neither cube= nor source=
    assert not r["ok"] and r["error"]["code"] == "invalid"


def test_bad_limit_invalid(service):
    r = service.handle({"op": "query_pipeline", "source": "events",
                        "pipeline": PIPE, "limit": -1})
    assert not r["ok"] and r["error"]["code"] == "invalid"


def test_query_pipeline_rows_payload(service, events):
    r = service.handle({"id": "q1", "op": "query_pipeline",
                        "source": "events", "pipeline": PIPE})
    assert r["ok"] and r["id"] == "q1"
    p = r["result"]
    assert p["columns"] == ["et", "n", "total"]
    assert p["row_count"] == len(p["rows"])
    assert not p["truncated"]
    truth = {row["event_type"]: row["n"] for row in
             events.groupBy("event_type").count()
             .withColumnRenamed("count", "n").collect()}
    got = {row[0]: row[1] for row in p["rows"]}
    assert got == truth
    # decimal-exact sums cross the wire as strings, not lossy floats
    tot_type = p["types"][p["columns"].index("total")]
    if tot_type.startswith("decimal"):
        assert all(isinstance(row[2], str) for row in p["rows"])


def test_limit_truncates_and_flags(service):
    r = service.handle({"op": "query_pipeline", "source": "events",
                        "pipeline": PIPE, "limit": 2})
    assert r["ok"]
    assert r["result"]["row_count"] == 2 and r["result"]["truncated"]


def test_timestamps_serialize_iso(service):
    r = service.handle({"op": "query_pipeline", "source": "events",
                        "pipeline": [{"$sort": {"ts": 1}}, {"$limit": 1},
                                     {"$project": {"ts": 1, "_id": 0}}]})
    assert r["ok"]
    ts = r["result"]["rows"][0][0]
    assert isinstance(ts, str) and "T" in ts


def test_full_lifecycle_create_route_query_drop(service):
    create = service.handle({"op": "create_cube_from_pipeline",
                             "name": "svc_cube", "source": "events",
                             "pipeline": PIPE})
    assert create["ok"] and create["result"]["cells"] > 0
    assert "svc_cube" in service.handle(
        {"op": "list_cubes"})["result"]

    exp = service.handle({"op": "explain", "source": "events",
                          "pipeline": PIPE})
    assert exp["ok"] and exp["result"]["route"]["cube"] == "svc_cube"

    direct = service.handle({"op": "query_pipeline", "source": "events",
                             "pipeline": PIPE})
    assert direct["ok"]

    drop = service.handle({"op": "drop_cube", "name": "svc_cube"})
    assert drop["ok"] and drop["result"] == {"dropped": "svc_cube"}
    after = service.handle({"op": "explain", "source": "events",
                            "pipeline": PIPE})
    assert after["result"]["route"]["cube"] is None

    # answers agree cube-served vs source-served (the routing contract)
    fallback = service.handle({"op": "query_pipeline", "source": "events",
                               "pipeline": PIPE})
    assert sorted(map(tuple, direct["result"]["rows"])) == \
        sorted(map(tuple, fallback["result"]["rows"]))


def test_materialize_and_read_collection(service):
    r = service.handle({"op": "materialize", "source": "events",
                        "pipeline": PIPE + [{"$out": "svc_out"}]})
    assert r["ok"] and r["result"]["version"] >= 1
    rd = service.handle({"op": "read_collection", "name": "svc_out"})
    assert rd["ok"] and rd["result"]["row_count"] > 0
    missing = service.handle({"op": "read_collection", "name": "ghost"})
    assert missing["error"]["code"] == "not_found"


def test_query_direct_cube_mode(service):
    service.handle({"op": "create_cube_from_pipeline", "name": "c2",
                    "source": "events", "pipeline": PIPE})
    r = service.handle({"op": "query", "cube": "c2", "group_by": ["et"],
                        "measures": ["n"]})
    assert r["ok"] and r["result"]["columns"] == ["et", "n"]
    missing = service.handle({"op": "query", "cube": "ghost"})
    assert missing["error"]["code"] == "not_found"
    badm = service.handle({"op": "query", "cube": "c2",
                           "group_by": ["et"], "measures": ["nope"]})
    assert badm["error"]["code"] == "not_found"


# ---------------------------------------------------------------------------
# stdio transport (in-process pipe — EOF + shutdown paths)
# ---------------------------------------------------------------------------

def test_serve_stdio_loop_and_shutdown(service):
    import io

    reqs = "\n".join(json.dumps(r) for r in [
        {"id": 1, "op": "ping"},
        "not-even-an-object",
        {"id": 2, "op": "shutdown"},
        {"id": 3, "op": "ping"},  # after shutdown: must not be served
    ])
    out = io.StringIO()
    serve_stdio(service, infile=io.StringIO(reqs), outfile=out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert [x.get("id") for x in lines] == [1, None, 2]
    assert lines[0]["ok"] and lines[2]["result"] == "bye"
    assert lines[1]["error"]["code"] == "bad_request"


def test_serve_stdio_bad_json_line(service):
    import io

    out = io.StringIO()
    serve_stdio(service, infile=io.StringIO("{nope\n"), outfile=out)
    resp = json.loads(out.getvalue())
    assert resp["error"]["code"] == "bad_request"
    assert "bad JSON" in resp["error"]["message"]


# ---------------------------------------------------------------------------
# socket transport
# ---------------------------------------------------------------------------

def test_socket_round_trip(service):
    import threading

    server = serve_socket(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=30) as s:
            f = s.makefile("rw", encoding="utf-8")
            for req, check in [
                ({"id": 1, "op": "ping"},
                 lambda r: r["result"] == "pong"),
                ({"id": 2, "op": "query_pipeline", "source": "events",
                  "pipeline": PIPE},
                 lambda r: r["ok"] and r["result"]["row_count"] > 0),
                ({"id": 3, "op": "drop_cube", "name": "ghost"},
                 lambda r: r["error"]["code"] == "not_found"),
            ]:
                f.write(json.dumps(req) + "\n")
                f.flush()
                resp = json.loads(f.readline())
                assert resp["id"] == req["id"] and check(resp), resp
    finally:
        server.shutdown()
        server.server_close()


# ---------------------------------------------------------------------------
# subprocess over stdio — the real process boundary, end to end
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_subprocess_stdio_lifecycle(tmp_path, spark, events):
    # land a CDC directory up front (the test session writes it; the
    # SUBPROCESS service pushes it back over stdio via subscribe)
    from mongo_olap_spark.streaming.cdc import cdc_from_events

    cdc_path = str(tmp_path / "cdc_subproc")
    cdc_from_events(events).write.mode("overwrite").parquet(cdc_path)
    n_changes = cdc_from_events(events).count()

    proc = subprocess.Popen(
        [sys.executable, "-m", "mongo_olap_spark.service",
         "--data-dir", SF, "--root", str(tmp_path / "root"),
         "--master", "local[2]", "--shuffle-partitions", "4"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, cwd="/root/repo",
    )

    def rpc(req):
        proc.stdin.write(json.dumps(req) + "\n")
        proc.stdin.flush()
        line = proc.stdout.readline()
        assert line, "service died"
        return json.loads(line)

    try:
        assert rpc({"id": 0, "op": "ping"})["result"] == "pong"
        c = rpc({"id": 1, "op": "create_cube_from_pipeline",
                 "name": "subproc_cube", "source": "events",
                 "pipeline": PIPE})
        assert c["ok"] and c["result"]["cells"] > 0
        e = rpc({"id": 2, "op": "explain", "source": "events",
                 "pipeline": PIPE})
        assert e["result"]["route"]["cube"] == "subproc_cube"
        q = rpc({"id": 3, "op": "query_pipeline", "source": "events",
                 "pipeline": PIPE})
        assert q["ok"] and q["result"]["columns"] == ["et", "n", "total"]
        assert q["result"]["row_count"] > 0
        bad = rpc({"id": 4, "op": "query_pipeline", "source": "events",
                   "pipeline": [{"$indexStats": {}}]})
        assert bad["error"]["code"] == "refused"
        # subscribe across the real process boundary: one request,
        # several pushed NDJSON lines, then the event-less summary
        proc.stdin.write(json.dumps(
            {"id": 41, "op": "subscribe", "cube": "subproc_cube",
             "path": cdc_path,
             "max_changes": max(1, n_changes // 3)}) + "\n")
        proc.stdin.flush()
        pushed = 0
        while True:
            line = proc.stdout.readline()
            assert line, "service died mid-subscribe"
            resp = json.loads(line)
            assert resp["id"] == 41 and resp["ok"], resp
            if "event" not in resp:
                assert resp["result"]["done"]
                assert resp["result"]["changes"] == n_changes
                assert resp["result"]["batches"] == pushed >= 3
                break
            pushed += 1
        d = rpc({"id": 5, "op": "drop_cube", "name": "subproc_cube"})
        assert d["ok"]
        assert rpc({"id": 6, "op": "list_cubes"})["result"] == []
        assert rpc({"id": 7, "op": "shutdown"})["result"] == "bye"
        proc.stdin.close()
        assert proc.wait(timeout=120) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


@pytest.mark.slow
def test_cold_restart_two_process_lifetimes(tmp_path, spark, events):
    """r15 (VERDICT r14 task 5): the catalog is disk-backed by
    construction — prove the FULL story across two real subprocess
    lifetimes over ONE root: kill the first service (SIGKILL, no
    graceful shutdown), start a brand-new process on the same root,
    and verify routed queries, time travel, and pump_cdc resume from
    the committed watermark with zero re-registration."""
    from pyspark.sql import functions as F

    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline
    from mongo_olap_spark.streaming.cdc import cdc_from_events, net_events

    # the pumped tail is a DISJOINT id range (shifted +10M), so the
    # expected final state is closed-form: events + net(shifted)
    shifted = events.withColumn(
        "event_id", (F.col("event_id") + 10_000_000))
    cdc_path = str(tmp_path / "cdc_cold")
    cdc_from_events(shifted).write.mode("overwrite").parquet(cdc_path)
    n_changes = cdc_from_events(shifted).count()
    root = str(tmp_path / "cold_root")

    def start():
        return subprocess.Popen(
            [sys.executable, "-m", "mongo_olap_spark.service",
             "--data-dir", SF, "--root", root,
             "--master", "local[2]", "--shuffle-partitions", "4"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, cwd="/root/repo",
        )

    def rpc(proc, req):
        proc.stdin.write(json.dumps(req) + "\n")
        proc.stdin.flush()
        line = proc.stdout.readline()
        assert line, "service died"
        return json.loads(line)

    # ---- lifetime 1: create, pump PART of the stream, hard-kill ----
    p1 = start()
    try:
        c = rpc(p1, {"id": 1, "op": "create_cube_from_pipeline",
                     "name": "coldcube", "source": "events",
                     "pipeline": PIPE})
        assert c["ok"], c
        v1 = rpc(p1, {"id": 2, "op": "list_versions",
                      "name": "coldcube"})["result"]["current"]
        pinned = rpc(p1, {"id": 3, "op": "query", "cube": "coldcube",
                          "as_of": v1})["result"]["rows"]
        r = rpc(p1, {"id": 4, "op": "pump_cdc", "cube": "coldcube",
                     "path": cdc_path, "max_changes": 600,
                     "max_batches": 1})
        assert r["ok"] and r["result"]["batches"] == 1, r
        pumped_1 = r["result"]["changes"]
        assert 0 < pumped_1 < n_changes  # genuinely mid-stream
    finally:
        p1.kill()  # cold kill: no shutdown op, no flush
        p1.wait()

    # ---- lifetime 2: a NEW process over the SAME root ----
    p2 = start()
    try:
        # zero re-registration: the cube is simply there
        assert rpc(p2, {"id": 10, "op": "list_cubes"})["result"] == [
            "coldcube"]
        e = rpc(p2, {"id": 11, "op": "explain", "source": "events",
                     "pipeline": PIPE})
        assert e["result"]["route"]["cube"] == "coldcube"
        # time travel: the pre-pump snapshot is byte-stable across
        # the process boundary
        again = rpc(p2, {"id": 12, "op": "query", "cube": "coldcube",
                         "as_of": v1})["result"]["rows"]
        assert sorted(map(str, again)) == sorted(map(str, pinned))
        # pump resumes from the COMMITTED watermark: drain the rest
        pumped_2 = 0
        while True:
            r = rpc(p2, {"id": 13, "op": "pump_cdc", "cube": "coldcube",
                         "path": cdc_path, "max_changes": 600})
            assert r["ok"], r
            if r["result"]["batches"] == 0:
                break
            pumped_2 += r["result"]["changes"]
        assert pumped_1 + pumped_2 == n_changes  # exactly once, no gap
        got = rpc(p2, {"id": 14, "op": "query_pipeline",
                       "source": "events", "pipeline": PIPE})
        got_rows = sorted(tuple(str(v) for v in row)
                          for row in got["result"]["rows"])
        exp = compile_pipeline(
            events.unionByName(net_events(shifted)), PIPE).collect()
        exp_rows = sorted(
            (str(r["_id"]["et"]), str(r["n"]), str(r["total"]))
            for r in exp)
        assert got_rows == exp_rows
        assert rpc(p2, {"id": 15, "op": "shutdown"})["result"] == "bye"
        p2.stdin.close()
        assert p2.wait(timeout=120) == 0
    finally:
        if p2.poll() is None:
            p2.kill()
            p2.wait()


def test_rwlock_write_preference_under_reader_storm():
    """r15 regression (found by tools/soak_service.py): without writer
    preference, overlapping read sections admitted forever starve a
    waiting writer — a dashboard polling queries blocked CDC ingestion
    indefinitely. A writer arriving under a continuous reader storm
    must acquire promptly (new readers queue behind it)."""
    import threading
    import time

    from mongo_olap_spark.service import _RWLock

    lock = _RWLock()
    stop = threading.Event()

    def reader_storm():
        while not stop.is_set():
            lock.acquire_read()
            time.sleep(0.05)  # read sections overlap continuously
            lock.release_read()

    readers = [threading.Thread(target=reader_storm, daemon=True)
               for _ in range(4)]
    for t in readers:
        t.start()
    time.sleep(0.2)  # storm established
    t0 = time.time()
    lock.acquire_write()
    waited = time.time() - t0
    lock.release_write()
    stop.set()
    for t in readers:
        t.join(timeout=5)
    # without preference this waits forever; with it, one read section
    assert waited < 2.0, f"writer starved {waited:.1f}s under readers"


def test_apply_cdc_over_the_wire(service, events):
    service.handle({"op": "create_cube_from_pipeline", "name": "cdc_cube",
                    "source": "events", "pipeline": PIPE})
    before = service.handle({"op": "query", "cube": "cdc_cube",
                             "group_by": ["et"], "measures": ["n"]})
    b = {row[0]: row[1] for row in before["result"]["rows"]}
    et = sorted(b)[0]
    r = service.handle({"op": "apply_cdc", "cube": "cdc_cube",
                        "batch": [{"event_id": 999999901,
                                   "ts": "2024-01-02T03:04:05",
                                   "event_type": et, "user_id": 7,
                                   "value": 1.5, "mult": 1},
                                  {"event_id": 999999902,
                                   "ts": "2024-01-02T03:04:06",
                                   "event_type": et, "user_id": 7,
                                   "value": 2.5, "mult": 1}],
                        "batch_id": 1})
    assert r["ok"] and r["result"]["applied"] == 2
    after = service.handle({"op": "query", "cube": "cdc_cube",
                            "group_by": ["et"], "measures": ["n"]})
    a = {row[0]: row[1] for row in after["result"]["rows"]}
    assert a[et] == b[et] + 2
    bad = service.handle({"op": "apply_cdc", "cube": "cdc_cube",
                          "batch": []})
    assert bad["error"]["code"] == "invalid"


#: naive, +02:00, DST-gap and DST-fold wall times (America/New_York,
#: 2024-03-10 02:30 does not exist, 2024-11-03 01:30 happens twice)
WIRE_TIMES = ["2024-01-02T03:04:05", "2024-01-02T03:04:05+02:00",
              "2024-03-10T02:30:00", "2024-11-03T01:30:00", None]


def _wire_rows(spark, rows, schema):
    from mongo_olap_spark.service import _wire_value

    return spark.createDataFrame(
        [tuple(_wire_value(r.get(f.name), f) for f in schema.fields)
         for r in rows], schema)


def _wire_schemas(service):
    import datetime as _dt
    import decimal

    from pyspark.sql.types import (
        ArrayType,
        DateType,
        DecimalType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    mult = StructField("mult", IntegerType())
    events = StructType(list(service._source_df("events").schema.fields) + [mult])
    lineitem = StructType(list(service._source_df("lineitem").schema.fields) + [mult])
    typed = StructType([StructField("id", LongType()), StructField("ts", TimestampType()),
                        StructField("d", DateType()), StructField("amt", DecimalType(12, 2)),
                        StructField("arr", ArrayType(FloatType())), mult])
    dec = [decimal.Decimal("1.235"), decimal.Decimal("-5"), None,
           decimal.Decimal("9999999999.99"), decimal.Decimal("0.5")]
    dates = ["2024-02-29", "1969-12-31", None, "0001-01-01", "9999-12-31"]
    return [
        (events, [{"event_id": i, "ts": t, "user_id": i * 7, "event_type": "click",
                   "value": None if i == 2 else i / 4, "props": None, "mult": 1 - 2 * (i % 2)}
                  for i, t in enumerate(WIRE_TIMES)]),
        # l_shipdate reads as timestamp_ntz: in-process datetimes, and
        # on the wire ISO wall times (an offset is refused)
        (lineitem, [{"l_orderkey": i, "l_linenumber": i, "l_quantity": 2.5,
                     "l_returnflag": "R", "mult": 1,
                     "l_shipdate": t and _dt.datetime.fromisoformat(t)}
                    for i, t in enumerate(WIRE_TIMES)]),
        (lineitem, [{"l_orderkey": i, "l_linenumber": i, "l_quantity": 2.5,
                     "l_returnflag": "R", "mult": 1, "l_shipdate": t}
                    for i, t in enumerate(WIRE_TIMES) if not (t and "+" in t)]),
        (typed, [{"id": i, "ts": t, "d": d, "amt": a, "arr": [1.5, None] if i else [],
                  "mult": 1} for i, (t, d, a) in enumerate(zip(WIRE_TIMES, dates, dec))]),
    ]


@pytest.mark.parametrize("py_tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("session_tz", ["UTC", "America/New_York"])
def test_wire_batch_decode_matches_create_dataframe(service, spark, monkeypatch,
                                                    py_tz, session_tz):
    # a wire batch decodes to a local relation with the rows that
    # createDataFrame(list, schema) gives, in either Python zone (naive
    # wall times) and either session zone
    import time

    from mongo_olap_spark.service import _wire_batch

    schemas = _wire_schemas(service)  # sources resolve under the UTC session
    monkeypatch.setenv("TZ", py_tz)
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", session_tz)
    try:
        for schema, rows in schemas:
            batch = _wire_batch(spark, rows, schema)
            want = _wire_rows(spark, rows, schema)
            assert batch.isLocal()
            assert [repr(r) for r in batch.collect()] == [repr(r) for r in want.collect()]
            as_text = [f"cast({f.name} as string)" for f in schema.fields]
            assert batch.selectExpr(*as_text).collect() == want.selectExpr(*as_text).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        monkeypatch.undo()
        time.tzset()


@pytest.mark.parametrize("bad, says", [
    ({"mult": 1.5}, "field mult:"),
    ({"value": 3}, "field value:"),
    ({"event_id": "x"}, "field event_id:"),
    ({"user_id": 2 ** 70}, "VALUE_OUT_OF_BOUNDS"),
    ({"ts": "nope"}, "Invalid isoformat string"),
    ({"l_shipdate": "2024-01-02T03:04:05+02:00"}, "field l_shipdate:"),
])
def test_wire_batch_refusals_are_invalid(service, bad, says):
    # a value the source schema cannot hold is refused before Spark
    # sees the batch, as code invalid (a client error), never internal
    if "l_shipdate" in bad:
        source, pipe = "lineitem", [{"$group": {"_id": {"rf": "$l_returnflag"},
                                                "n": {"$sum": 1}}}]
        doc = {"l_orderkey": 1, "l_linenumber": 1, "l_quantity": 2.5,
               "l_returnflag": "R", "mult": 1, **bad}
    else:
        source, pipe = "events", PIPE
        doc = {"event_id": 1, "ts": "2024-01-02T03:04:05", "event_type": "click",
               "user_id": 7, "value": 1.0, "mult": 1, **bad}
    r = service.handle({"op": "create_cube_from_pipeline", "name": "cdc_bad",
                        "source": source, "pipeline": pipe})
    assert r["ok"], r
    r = service.handle({"op": "apply_cdc", "cube": "cdc_bad", "batch": [doc]})
    assert not r["ok"] and r["error"]["code"] == "invalid", r
    assert says in r["error"]["message"]
    assert service.engine.catalog.current_version("cdc_bad") == 1


def test_advise_over_the_wire(service):
    r = service.handle({"op": "advise",
                        "workload": [["events", PIPE, 2.0]]})
    assert r["ok"], r
    out = r["result"]
    assert len(out["cubes"]) == 1 and out["coverage"] == 1.0
    assert out["cubes"][0]["source"] == "events"
    assert out["assignment"]["0"] == out["cubes"][0]["name"]
    # budget pressure on a special family surfaces the flagged sketch
    r2 = service.handle({"op": "advise", "cell_budget": 5, "workload": [
        ["events", [{"$group": {"_id": {"et": "$event_type"},
                                "u": {"$addToSet": "$user_id"}}},
                    {"$project": {"u": {"$size": "$u"}}}]]]})
    assert r2["ok"], r2


# ---------------------------------------------------------------------------
# r14: strict-JSON wire, honest apply_cdc, store-error surfacing,
# concurrency contract, sketch opt-in op (VERDICT r13 tasks 3/6/7 +
# ADVICE r13)
# ---------------------------------------------------------------------------

def _strict_loads(line: str):
    """json.loads that REJECTS NaN/Infinity tokens — the parse a
    non-Python NDJSON client would do (strict RFC 8259)."""
    def boom(tok):
        raise AssertionError(f"non-strict JSON token on the wire: {tok}")
    return json.loads(line, parse_constant=boom)


def test_nan_inf_strict_json_on_wire(service, spark):
    import io

    df = spark.createDataFrame(
        [(1, float("nan")), (2, float("inf")), (3, float("-inf")),
         (4, 1.5)],
        "id int, x double")
    service.engine.store.write("nan_col", df)
    out = io.StringIO()
    serve_stdio(
        service,
        infile=io.StringIO(json.dumps(
            {"id": 1, "op": "read_collection", "name": "nan_col"}) + "\n"),
        outfile=out)
    resp = _strict_loads(out.getvalue().strip())
    assert resp["ok"]
    vals = {r[0]: r[1] for r in resp["result"]["rows"]}
    # non-finite doubles map to null (documented), finite survive
    assert vals[1] is None and vals[2] is None and vals[3] is None
    assert vals[4] == 1.5


def test_dumps_sanitizes_non_row_floats():
    # results that bypass _jsonable (explain/advise shapes) still never
    # emit NaN/Infinity tokens: _dumps falls back to a finite pass
    from mongo_olap_spark.service import _dumps

    line = _dumps({"ok": True, "result": {"env": [float("nan"), 2.0],
                                          "nested": {"x": float("inf")}}})
    resp = _strict_loads(line)
    assert resp["result"]["env"] == [None, 2.0]
    assert resp["result"]["nested"]["x"] is None


def test_apply_cdc_auto_increment_batch_id(service):
    # ADVICE r13 (medium): without batch_id the old default of 0 made
    # the SECOND batch a silent no-op that still reported applied=N
    service.handle({"op": "create_cube_from_pipeline", "name": "cdc_auto",
                    "source": "events", "pipeline": PIPE})
    before = service.handle({"op": "query", "cube": "cdc_auto",
                             "group_by": ["et"], "measures": ["n"]})
    b = {row[0]: row[1] for row in before["result"]["rows"]}
    et = sorted(b)[0]
    doc = {"event_id": 999999911, "ts": "2024-01-02T03:04:05",
           "event_type": et, "user_id": 7, "value": 1.0, "mult": 1}
    r1 = service.handle({"op": "apply_cdc", "cube": "cdc_auto",
                         "batch": [doc]})
    r2 = service.handle({"op": "apply_cdc", "cube": "cdc_auto",
                         "batch": [dict(doc, event_id=999999912)]})
    assert r1["ok"] and r1["result"]["applied"] == 1
    assert not r1["result"]["skipped_replay"]
    assert r2["ok"] and r2["result"]["applied"] == 1, r2
    assert not r2["result"]["skipped_replay"]
    assert r2["result"]["batch_id"] > r1["result"]["batch_id"]
    after = service.handle({"op": "query", "cube": "cdc_auto",
                            "group_by": ["et"], "measures": ["n"]})
    a = {row[0]: row[1] for row in after["result"]["rows"]}
    assert a[et] == b[et] + 2  # BOTH batches landed


def test_apply_cdc_replay_reports_skipped(service):
    service.handle({"op": "create_cube_from_pipeline", "name": "cdc_rep",
                    "source": "events", "pipeline": PIPE})
    doc = {"event_id": 999999921, "ts": "2024-01-02T03:04:05",
           "event_type": "click", "user_id": 7, "value": 1.0, "mult": 1}
    r1 = service.handle({"op": "apply_cdc", "cube": "cdc_rep",
                         "batch": [doc], "batch_id": 5})
    assert r1["ok"] and r1["result"]["applied"] == 1
    # replayed id: honest no-op — applied=0, skipped_replay=true
    r2 = service.handle({"op": "apply_cdc", "cube": "cdc_rep",
                         "batch": [doc], "batch_id": 5})
    assert r2["ok"] and r2["result"]["applied"] == 0
    assert r2["result"]["skipped_replay"]
    bad = service.handle({"op": "apply_cdc", "cube": "cdc_rep",
                          "batch": [doc], "batch_id": "seven"})
    assert bad["error"]["code"] == "bad_request"


def test_store_read_failure_surfaces_internal(service, monkeypatch):
    # ADVICE r13: a transient/corrupt store failure must NOT silently
    # fall back to base-table data (source query) or map to not_found
    # (read_collection) — both surface as internal
    def broken(name, **kw):
        raise RuntimeError("store corrupted")

    monkeypatch.setattr(service.engine.store, "read", broken)
    r = service.handle({"op": "query_pipeline", "source": "events",
                        "pipeline": PIPE})
    assert not r["ok"] and r["error"]["code"] == "internal"
    r2 = service.handle({"op": "read_collection", "name": "whatever"})
    assert not r2["ok"] and r2["error"]["code"] == "internal"


def test_socket_concurrent_clients(service):
    # concurrency contract: concurrent read ops from separate
    # connections all answer correctly; a mutating op interleaved under
    # the write lock never produces a torn observation
    import threading

    server = serve_socket(service, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    service.handle({"op": "create_cube_from_pipeline", "name": "conc",
                    "source": "events", "pipeline": PIPE})
    errors: list = []

    def client(i):
        try:
            with socket.create_connection(("127.0.0.1", port),
                                          timeout=60) as s:
                f = s.makefile("rw", encoding="utf-8")
                for j in range(3):
                    req = {"id": f"{i}.{j}", "op": "query_pipeline",
                           "source": "events", "pipeline": PIPE}
                    f.write(json.dumps(req) + "\n")
                    f.flush()
                    resp = json.loads(f.readline())
                    assert resp["ok"] and resp["id"] == f"{i}.{j}", resp
                    assert resp["result"]["row_count"] > 0
        except Exception as e:  # surface in the main thread
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    # a write op racing the readers — must serialize, not corrupt
    drop = service.handle({"op": "drop_cube", "name": "conc"})
    assert drop["ok"]
    for t in threads:
        t.join(timeout=120)
    server.shutdown()
    server.server_close()
    assert not errors, errors


def test_apply_sketch_alternative_over_the_wire(service):
    # budget pressure → flagged alternative → client opts in by sending
    # the spec back → the approximate ask routes to the sketch cube
    adv = service.handle({"op": "advise", "cell_budget": 5, "workload": [
        ["events", [{"$group": {"_id": {"et": "$event_type"},
                                "u": {"$addToSet": "$user_id"}}},
                    {"$project": {"u": {"$size": "$u"}}}]]]})
    assert adv["ok"], adv
    alts = adv["result"]["sketch_alternatives"]
    assert alts, adv["result"]
    applied = service.handle({"op": "apply_sketch_alternative",
                              "spec": alts[0]["spec"]})
    assert applied["ok"], applied
    name = applied["result"]["cube"]
    assert name in service.handle({"op": "list_cubes"})["result"]
    assert applied["result"]["cells"] > 0
    # the sketch cube serves the approximate ask within its envelope
    spec = applied["result"]["spec"]
    dims = [d["name"] for d in spec["dimensions"]]
    (dm,) = [m["name"] for m in spec["measures"] if m["op"] == "distinct"]
    got = service.handle({"op": "query", "cube": name, "group_by": dims,
                          "measures": [dm]})
    assert got["ok"], got
    assert got["result"]["row_count"] > 0


def test_pump_cdc_over_the_wire_kill_resume(service, spark, events, tmp_path):
    # VERDICT r13 task 4 end-to-end through the service: a file-landed
    # change stream pumps into a cube with resume from the cube's own
    # manifest; a service restart (new OlapService over the same root)
    # resumes exactly where the last pump committed.
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.streaming.cdc import cdc_from_events, net_events

    cdc_path = str(tmp_path / "cdc_stream")
    cdc_from_events(events).write.mode("overwrite").parquet(cdc_path)
    n_changes = cdc_from_events(events).count()

    service.handle({"op": "create_cube_from_pipeline", "name": "pumped",
                    "source": "events", "pipeline": PIPE})
    # zero out the initial build so the pump is the only writer of truth
    service.engine.refresh_cube("pumped", events.limit(0))

    total = 0
    svc = service
    while True:
        r = svc.handle({"op": "pump_cdc", "cube": "pumped",
                        "path": cdc_path, "max_changes": 400,
                        "max_batches": 1})
        assert r["ok"], r
        if r["result"]["batches"] == 0:
            break
        total += r["result"]["changes"]
        # service "kill": a fresh service+engine over the same root
        svc = OlapService(OlapEngine(spark, str(service.engine.catalog.root)),
                          service.data_dir)
    assert total == n_changes

    # the routed answer reflects the NET state (inserts minus deletes)
    got = svc.handle({"op": "query_pipeline", "source": "events",
                      "pipeline": PIPE})
    assert got["ok"], got
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline

    # decimal-exact values cross the wire as strings; compare as str
    got_rows = sorted(tuple(str(v) for v in row)
                      for row in got["result"]["rows"])
    exp_rows = sorted(
        (str(r["_id"]["et"]), str(r["n"]), str(r["total"]))
        for r in compile_pipeline(net_events(events), PIPE).collect())
    assert got_rows == exp_rows


@pytest.mark.slow
def test_full_query_surface_emits_strict_json(service, spark):
    # VERDICT r13 task 3 "Done" criterion: zero non-Python-parseable
    # lines over the FULL query surface. Every registered query's
    # result goes through the service's rows-payload + line serializer
    # and must parse under a strict RFC-8259 reader (NaN/Infinity
    # tokens rejected).
    import __spark_entry__ as ent
    from mongo_olap_spark.service import _dumps

    bad = []
    for qid, fn in sorted(ent.queries().items()):
        df = fn(spark, SF)
        payload = service._rows_payload(df, 20)
        line = _dumps({"id": qid, "ok": True, "result": payload})
        try:
            _strict_loads(line)
        except AssertionError:
            bad.append(qid)
    assert bad == [], f"non-strict JSON on the wire for: {bad}"


# ---------------------------------------------------------------------------
# subscribe — the push-shaped op (r14, VERDICT r13 "missing" #5)
# ---------------------------------------------------------------------------

def _land_cdc(events, tmp_path, name="cdc_push"):
    from mongo_olap_spark.streaming.cdc import cdc_from_events

    path = str(tmp_path / name)
    cdc_from_events(events).write.mode("overwrite").parquet(path)
    return path, cdc_from_events(events).count()


def _fresh_cube(service, events, name):
    service.handle({"op": "create_cube_from_pipeline", "name": name,
                    "source": "events", "pipeline": PIPE})
    # zero out the initial build so the pushed stream is the only
    # writer of truth
    service.engine.refresh_cube(name, events.limit(0))


def test_subscribe_pushes_one_event_line_per_batch(service, events, tmp_path):
    cdc_path, n_changes = _land_cdc(events, tmp_path)
    _fresh_cube(service, events, "sub1")

    lines = list(service.handle_stream(
        {"id": 7, "op": "subscribe", "cube": "sub1", "path": cdc_path,
         "max_changes": max(1, n_changes // 3)}))
    batch_lines, final = lines[:-1], lines[-1]
    assert len(batch_lines) >= 3  # max_changes forces several batches
    assert all(l["ok"] and l["event"] == "batch" and l["id"] == 7
               for l in batch_lines)
    assert "event" not in final and final["ok"] and final["result"]["done"]
    assert final["result"]["changes"] == n_changes
    assert final["result"]["batches"] == len(batch_lines)
    # tokens strictly increase: the client may persist ANY of them
    toks = [l["result"]["resume_token"] for l in batch_lines]
    assert toks == sorted(set(toks))
    assert final["result"]["resume_token"] == toks[-1]

    # the routed answer reflects the NET state, same truth as pump_cdc
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline
    from mongo_olap_spark.streaming.cdc import net_events

    got = service.handle({"op": "query_pipeline", "source": "events",
                          "pipeline": PIPE})
    got_rows = sorted(tuple(str(v) for v in row)
                      for row in got["result"]["rows"])
    exp_rows = sorted(
        (str(r["_id"]["et"]), str(r["n"]), str(r["total"]))
        for r in compile_pipeline(net_events(events), PIPE).collect())
    assert got_rows == exp_rows


def test_subscribe_resumes_from_committed_watermark(service, spark, events,
                                                    tmp_path):
    cdc_path, n_changes = _land_cdc(events, tmp_path)
    _fresh_cube(service, events, "sub2")
    per = max(1, n_changes // 4)

    first = list(service.handle_stream(
        {"op": "subscribe", "cube": "sub2", "path": cdc_path,
         "max_changes": per, "max_batches": 2}))
    assert first[-1]["result"]["batches"] == 2

    # "disconnect": a fresh service+engine over the same root resumes
    # from the cube's own committed watermark — no client token needed
    svc2 = OlapService(
        OlapEngine(spark, str(service.engine.catalog.root)),
        service.data_dir)
    rest = list(svc2.handle_stream(
        {"op": "subscribe", "cube": "sub2", "path": cdc_path,
         "max_changes": per}))
    assert (first[-1]["result"]["changes"]
            + rest[-1]["result"]["changes"]) == n_changes

    # drained stream: re-subscribing pushes nothing, just the summary
    again = list(svc2.handle_stream(
        {"op": "subscribe", "cube": "sub2", "path": cdc_path}))
    assert len(again) == 1 and again[0]["result"]["batches"] == 0


def test_subscribe_over_socket_pushes_multiple_lines(service, events,
                                                     tmp_path):
    import threading

    cdc_path, n_changes = _land_cdc(events, tmp_path)
    _fresh_cube(service, events, "sub3")

    server = serve_socket(service, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=60) as s:
            f = s.makefile("rw", encoding="utf-8")
            f.write(json.dumps({"id": 9, "op": "subscribe", "cube": "sub3",
                                "path": cdc_path,
                                "max_changes": max(1, n_changes // 3)})
                    + "\n")
            f.flush()
            got, final = [], None
            while True:
                resp = json.loads(f.readline())
                assert resp["id"] == 9 and resp["ok"], resp
                if "event" not in resp:
                    final = resp
                    break
                got.append(resp)
            assert len(got) >= 3
            assert final["result"]["done"]
            assert final["result"]["changes"] == n_changes
            # the connection still serves ordinary ops afterwards
            f.write(json.dumps({"id": 10, "op": "ping"}) + "\n")
            f.flush()
            assert json.loads(f.readline())["result"] == "pong"
    finally:
        server.shutdown()
        server.server_close()


def test_subscribe_unknown_cube_is_one_error_line(service, tmp_path):
    lines = list(service.handle_stream(
        {"id": 1, "op": "subscribe", "cube": "ghost",
         "path": str(tmp_path)}))
    assert len(lines) == 1
    assert not lines[0]["ok"]
    assert lines[0]["error"]["code"] == "not_found"


def test_subscribe_missing_path_is_bad_request(service, events):
    _fresh_cube(service, events, "sub4")
    lines = list(service.handle_stream(
        {"op": "subscribe", "cube": "sub4"}))
    assert len(lines) == 1
    assert lines[0]["error"]["code"] == "bad_request"


def test_handle_oneshot_drains_subscribe(service, events, tmp_path):
    # in-process compatibility: handle() returns only the terminal
    # response (the pump_cdc-shaped summary), never an event line
    cdc_path, n_changes = _land_cdc(events, tmp_path)
    _fresh_cube(service, events, "sub5")
    r = service.handle({"op": "subscribe", "cube": "sub5",
                        "path": cdc_path})
    assert r["ok"] and "event" not in r
    assert r["result"]["done"] and r["result"]["changes"] == n_changes


def test_unknown_op_listing_advertises_subscribe(service):
    r = service.handle({"op": "nope"})
    assert "subscribe" in r["error"]["message"]


def test_subscribe_interleaves_with_concurrent_reads(service, events,
                                                     tmp_path):
    # While a subscribe stream applies batches on connection A, read
    # ops on connection B keep being served — each batch holds the
    # exclusive lock individually, so readers run BETWEEN batches and
    # always observe a committed cube state (never an error).
    import threading

    cdc_path, n_changes = _land_cdc(events, tmp_path)
    _fresh_cube(service, events, "sub6")

    server = serve_socket(service, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()

    read_errors, read_ok = [], [0]

    def reader():
        with socket.create_connection(("127.0.0.1", port), timeout=60) as s:
            f = s.makefile("rw", encoding="utf-8")
            for i in range(10):
                f.write(json.dumps({"id": i, "op": "query_pipeline",
                                    "source": "events",
                                    "pipeline": PIPE}) + "\n")
                f.flush()
                r = json.loads(f.readline())
                if r["ok"]:
                    read_ok[0] += 1
                else:
                    read_errors.append(r)

    try:
        t = threading.Thread(target=reader)
        with socket.create_connection(("127.0.0.1", port), timeout=120) as s:
            f = s.makefile("rw", encoding="utf-8")
            f.write(json.dumps({"id": 1, "op": "subscribe", "cube": "sub6",
                                "path": cdc_path,
                                "max_changes": max(1, n_changes // 5)})
                    + "\n")
            f.flush()
            t.start()
            batches = 0
            while True:
                resp = json.loads(f.readline())
                assert resp["ok"], resp
                if "event" not in resp:
                    assert resp["result"]["changes"] == n_changes
                    break
                batches += 1
        t.join(timeout=120)
        assert not t.is_alive()
        assert batches >= 4
        assert read_errors == [] and read_ok[0] == 10
    finally:
        server.shutdown()
        server.server_close()


def test_subscribe_follow_tails_newly_landed_changes(service, spark, events,
                                                     tmp_path):
    # follow mode: the stream does not end at drain — it polls the
    # landing directory and pushes changes landed AFTER the subscribe
    # began, ending only when the idle budget passes with nothing new.
    import threading
    import time

    from mongo_olap_spark.streaming.cdc import cdc_from_events

    cdc = cdc_from_events(events).cache()
    n_changes = cdc.count()
    half = cdc.filter(f"change_id <= {n_changes // 2}")
    rest = cdc.filter(f"change_id > {n_changes // 2}")
    path = str(tmp_path / "cdc_follow")
    half.write.mode("overwrite").parquet(path)

    _fresh_cube(service, events, "sub7")

    landed = threading.Event()

    def late_lander():
        time.sleep(1.0)  # after the first drain, inside the idle budget
        rest.write.mode("append").parquet(path)
        landed.set()

    t = threading.Thread(target=late_lander)
    t.start()
    lines = list(service.handle_stream(
        {"op": "subscribe", "cube": "sub7", "path": path,
         "max_changes": max(1, n_changes // 4),
         "follow": {"poll_ms": 100, "idle_timeout_ms": 8000}}))
    t.join()
    assert landed.is_set()
    final = lines[-1]
    assert final["ok"] and final["result"]["done"]
    assert final["result"]["changes"] == n_changes, final
    # the late-landed half arrived through the SAME stream
    assert len(lines) - 1 == final["result"]["batches"] >= 2


def test_subscribe_follow_bad_shape_is_bad_request(service, events,
                                                   tmp_path):
    _fresh_cube(service, events, "sub8")
    lines = list(service.handle_stream(
        {"op": "subscribe", "cube": "sub8", "path": str(tmp_path),
         "follow": 5}))
    assert len(lines) == 1
    assert lines[0]["error"]["code"] == "bad_request"


# ---------------------------------------------------------------------------
# r14: time travel over the wire — query as_of + list_versions
# ---------------------------------------------------------------------------

def test_query_as_of_and_list_versions(service):
    service.handle({"op": "create_cube_from_pipeline", "name": "tt_cube",
                    "source": "events", "pipeline": PIPE})
    v = service.handle({"op": "list_versions", "name": "tt_cube"})
    assert v["ok"] and v["result"]["versions"] == [1]
    assert v["result"]["current"] == 1

    before = service.handle({"op": "query", "cube": "tt_cube",
                             "group_by": ["et"], "measures": ["n"]})
    b = {row[0]: row[1] for row in before["result"]["rows"]}
    et = sorted(b)[0]
    service.handle({"op": "apply_cdc", "cube": "tt_cube", "batch_id": 1,
                    "batch": [{"event_id": 999999801,
                               "ts": "2024-01-02T03:04:05",
                               "event_type": et, "user_id": 7,
                               "value": 1.5, "mult": 1}]})

    v2 = service.handle({"op": "list_versions", "name": "tt_cube"})
    assert v2["result"]["versions"] == [1, 2]
    assert v2["result"]["current"] == 2

    pinned = service.handle({"op": "query", "cube": "tt_cube", "as_of": 1,
                             "group_by": ["et"], "measures": ["n"]})
    p = {row[0]: row[1] for row in pinned["result"]["rows"]}
    assert p == b  # the pinned snapshot did not move
    live = service.handle({"op": "query", "cube": "tt_cube",
                           "group_by": ["et"], "measures": ["n"]})
    assert {row[0]: row[1]
            for row in live["result"]["rows"]}[et] == b[et] + 1


def test_evolve_cube_over_the_wire(service):
    """r15: evolve_cube op — add/drop measures on a live cube; old
    snapshots stay queryable with their own measure set via as_of."""
    service.handle({"op": "create_cube_from_pipeline", "name": "ev_cube",
                    "source": "events", "pipeline": PIPE})
    r = service.handle({"op": "query", "cube": "ev_cube"})
    assert r["ok"]
    v1 = service.handle({"op": "list_versions",
                         "name": "ev_cube"})["result"]["versions"][-1]

    r = service.handle({"op": "evolve_cube", "name": "ev_cube",
                        "add": [{"name": "mx", "op": "max",
                                 "path": "value"}]})
    assert r["ok"], r
    assert "mx" in r["result"]["measures"]
    r = service.handle({"op": "query", "cube": "ev_cube",
                        "measures": ["mx"]})
    assert r["ok"] and r["result"]["rows"]
    # the pre-evolve snapshot refuses the new measure...
    r = service.handle({"op": "query", "cube": "ev_cube",
                        "measures": ["mx"], "as_of": v1})
    assert not r["ok"] and "mx" in r["error"]["message"]
    # ...and still serves its own
    r = service.handle({"op": "query", "cube": "ev_cube", "as_of": v1})
    assert r["ok"] and r["result"]["rows"]

    # bad requests map to the taxonomy
    r = service.handle({"op": "evolve_cube", "name": "ghost",
                        "drop": ["x"]})
    assert not r["ok"] and r["error"]["code"] == "not_found"
    r = service.handle({"op": "evolve_cube", "name": "ev_cube"})
    assert not r["ok"] and r["error"]["code"] == "invalid"  # engine check
    r = service.handle({"op": "evolve_cube", "name": "ev_cube",
                        "add": [{"name": "zz", "op": "bogus"}]})
    assert not r["ok"] and r["error"]["code"] == "invalid"  # Measure check
    r = service.handle({"op": "evolve_cube", "name": "ev_cube",
                        "add": "mx"})
    assert not r["ok"] and r["error"]["code"] == "bad_request"


def test_query_as_of_refusals(service):
    service.handle({"op": "create_cube_from_pipeline", "name": "tt2",
                    "source": "events", "pipeline": PIPE})
    r = service.handle({"op": "query", "cube": "tt2", "as_of": "one"})
    assert not r["ok"] and r["error"]["code"] == "bad_request"
    r = service.handle({"op": "query", "source": "events", "as_of": 1})
    assert not r["ok"] and r["error"]["code"] == "bad_request"
    # bool subclasses int: {"as_of": true} must not pin version 1
    r = service.handle({"op": "query", "cube": "tt2", "as_of": True})
    assert not r["ok"] and r["error"]["code"] == "bad_request"
    r = service.handle({"op": "query", "cube": "tt2", "as_of": 99})
    assert not r["ok"] and r["error"]["code"] == "invalid"
    assert "no committed snapshot" in r["error"]["message"]
    r = service.handle({"op": "list_versions", "name": "ghost"})
    assert not r["ok"] and r["error"]["code"] == "not_found"
