"""Tests of the benchmark itself (not of mongo_olap_spark).

    python -m pytest perfbench -q                 # all, ~5 min
    python -m pytest perfbench -q -m "not slow"   # no Spark, seconds

Seeded inputs must repeat byte for byte, span arithmetic must be
right, metric names must follow the benchmark contract, and the count
metrics of a traced run must repeat exactly for one seed.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import machine  # noqa: E402
import run  # noqa: E402
import streams  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _cdc_stream(tmp_path, seed: int) -> bytes:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path / f"data-{seed}"
    datagen.generate(str(out), 0.01, seed, ["events"])
    base = pq.read_table(out / "events.parquet")
    base = base.set_column(1, "ts", pc.cast(base.column("ts"), "int64")).to_pylist()
    return json.dumps(streams.cdc_batches(seed, base, 20), sort_keys=True).encode()


def _serve_stream(seed: int) -> bytes:
    shapes = streams.serve_shapes()
    return json.dumps([[shapes[i][0] for i in r] for r in streams.serve_stream(seed, 20)],
                      sort_keys=True).encode()


def test_same_seed_same_request_stream():
    assert _serve_stream(7) == _serve_stream(7)
    assert _serve_stream(7) != _serve_stream(8)


def test_serve_rounds_send_every_shape_once():
    k = len(streams.serve_shapes())
    assert all(sorted(r) == list(range(k)) for r in streams.serve_stream(3, 5))


def test_same_seed_same_cdc_stream(tmp_path):
    assert _cdc_stream(tmp_path, 7) == _cdc_stream(tmp_path, 7)
    assert _cdc_stream(tmp_path, 7) != _cdc_stream(tmp_path, 8)


def test_cdc_batches_delete_only_live_rows(tmp_path):
    batches = json.loads(_cdc_stream(tmp_path, 5))
    assert all(len(b) >= streams.BATCH_CHANGES for b in batches)
    net: dict = {}
    for b in batches:
        for c in b:
            net[c["event_id"], c["value"]] = net.get((c["event_id"], c["value"]), 0) + c["mult"]
    # an inserted row is deleted at most once; a base row (never
    # inserted by the stream) at most once too
    assert min(net.values()) >= -1 and max(net.values()) <= 1


def test_cdc_mix_follows_the_soak_probe_shares(tmp_path):
    kinds = {"insert": 0, "update": 0, "delete": 0}
    for b in json.loads(_cdc_stream(tmp_path, 5)):
        i = 0
        while i < len(b):
            if b[i]["mult"] == 1:
                kinds["insert"] += 1
            elif i + 1 < len(b) and b[i + 1]["event_id"] == b[i]["event_id"]:
                kinds["update"] += 1
                i += 1
            else:
                kinds["delete"] += 1
            i += 1
    assert kinds["update"] / kinds["insert"] == pytest.approx(streams.UPDATES_PER_INSERT, abs=0.05)
    assert kinds["delete"] / kinds["insert"] == pytest.approx(streams.DELETES_PER_INSERT, abs=0.05)


def test_same_seed_same_parquet(tmp_path):
    for d in ("a", "b"):
        datagen.generate(str(tmp_path / d), 0.001, 3, ["lineitem", "events"])
    for t in ("lineitem", "events"):
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children_once():
    clock = FakeClock()
    tr = Tracer(clock)
    root = tr.start("root")          # 0 .. 10
    clock.t = 1
    a = tr.start("a")                # 1 .. 4
    clock.t = 2
    b = tr.start("b")                # 2 .. 3, child of a
    clock.t = 3
    tr.end(b)
    clock.t = 4
    tr.end(a)
    clock.t = 6
    c = tr.start("c")                # 6 .. 8
    clock.t = 8
    tr.end(c)
    clock.t = 10
    tr.end(root)
    assert [s["parent"] for s in tr.spans] == [None, root, a, root]
    assert self_times(tr.spans) == [10 - 3 - 2, 3 - 1, 1, 2]


def test_self_time_merges_overlapping_children():
    spans = [{"name": "p", "start": 0.0, "end": 10.0, "parent": None},
             {"name": "x", "start": 1.0, "end": 5.0, "parent": 0},
             {"name": "y", "start": 4.0, "end": 7.0, "parent": 0},
             {"name": "z", "start": 9.0, "end": 12.0, "parent": 0}]
    # children cover 1..7 and 9..10 of the parent: 7 of its 10
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_span_layers_per_op_and_count_window():
    spans = [
        {"name": "service.handle", "start": 0.0, "end": 0.1, "parent": None, "request": "t0-0"},
        {"name": "spark.action", "start": 0.02, "end": 0.08, "parent": 0, "request": "t0-0"},
        {"name": "service.handle", "start": 1.0, "end": 1.2, "parent": None, "request": "t1-0"},
        {"name": "service.handle", "start": 2.0, "end": 9.0, "parent": None, "request": "w0"},
    ]
    counts = [["spark.jobs", "t0-0", 2], ["spark.jobs", "t1-0", 4], ["spark.jobs", "w0", 50],
              ["spark.exec_ms", "t0-0", 30.0], ["spark.exec_ms", "w0", 900.0]]
    out = run.span_layers(spans, counts, {"t0-0": 150.0, "t1-0": 250.0}, ops=2, count_ops=1)
    assert out["service.handle_ms"] == pytest.approx((40 + 200) / 2)
    assert out["python.plan_ms"] == pytest.approx((40 + 200) / 2)
    assert out["service.transport_ms"] == pytest.approx((50 + 50) / 2)
    assert out["spark.jobs_per_op"] == 2  # first op only; set-up excluded
    assert out["spark.exec_ms"] == pytest.approx(30 / 2)  # per op; set-up excluded
    assert out["_self_ms_per_op"]["spark.action"] == pytest.approx(30)


def test_round_medians():
    def rnd(ms, granted):
        return {"lat": [ms] * 3, "ops": 3, "work": 3, "granted": granted,
                "granted_lat": [ms * granted] * 3,
                "busy_s": 3 * ms / 1e3, "cpu_s": 3 * ms / 1e3}

    rounds = [rnd(400, 0.5), rnd(200, 1.0), rnd(210, 1.0), rnd(380, 1.0), rnd(190, 1.0)]
    out = run.round_medians(12.5, rounds)
    # the first round's 400 ms, half of it stolen, counts as 200 ms
    assert out == {"setup_s": 12.5, "p50_ms": 200, "throughput_per_s": pytest.approx(1e3 / 200)}
    assert run.cpu_ms_per_op(rounds) == pytest.approx(210)


def test_cpu_shares_granted():
    # user nice system idle iowait irq softirq steal: 60 busy, 30 idle, 10 stolen
    shares = machine.cpu_shares([0] * 8, [50, 0, 10, 25, 5, 0, 0, 10])
    assert shares["steal_pct"] == pytest.approx(10)
    assert shares["idle_pct"] == pytest.approx(30)
    assert shares["granted"] == pytest.approx(60 / 70)


def test_benchmark_json_names_match_the_program():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    names = [m["name"] for m in bench["workloads"] + bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def _traced(workload: str, seed: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "8", "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, p.stdout[-3000:]
    return {k: v["value"] for k, v in out["metrics"].items()}


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_count_metrics_repeat_for_one_seed(workload):
    a, b = _traced(workload, 4), _traced(workload, 4)
    for name in ("spark.jobs_per_op", "catalog.manifest_reads", "catalog.files_written"):
        assert a[name] == b[name], name
