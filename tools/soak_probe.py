"""Streaming soak + fault injection at 10x (round-6 task 1).

The engine's core loop — CDC → signed-delta merge → atomic manifest
commit (streaming/pipeline.py + cube/catalog.py) — is verified by
short unit-test streams; this probe certifies SUSTAINED operation:

  - 200+ micro-batches of MIXED insert / update(−pre,+post) / delete
    against a cube over the 10x-synthesized events table (the same
    replica tools/scale_probe.py builds), partition-scoped commits
    throughout;
  - crash/restart injection: at random points the maintainer object is
    thrown away (process death), a NEW one attaches, and a window of
    already-applied batches is re-delivered (checkpoint replay,
    at-least-once) — the manifest batch-id watermark must make every
    replay a no-op;
  - a CONCURRENT reader thread that, for every snapshot it observes,
    pins (version, watermark) from one manifest read and asserts the
    cube's total document count equals the closed-form expected count
    for that watermark — any torn data/watermark commit fails it;
  - periodic vacuum (grace-windowed, reader-safe) so dead write dirs
    are reclaimed while the stream runs.

Done-criteria (asserted, not eyeballed):
  (a) per-batch wall time FLAT over the run (late-window mean <= 2x
      early-window mean),
  (b) manifest breadth and live data dirs BOUNDED (manifest entries ==
      O(partitions); live dirs reclaimed by vacuum, not accumulating),
  (c) zero reader violations,
  (d) the final maintained cube is HASH-EQUAL to a from-scratch
      rebuild of the net document state (the IVM oracle).

Usage:
    python tools/soak_probe.py [--batches 200] [--factor 10]
        [--src /root/testdata/sf0.1] [--dst /tmp/scale10x]
        [--root /tmp/soak_root] [--out SOAK_PROBE.json]

Prints progress lines and ONE final JSON line; exits nonzero if any
invariant fails. Run it idle (no concurrent pytest/bench) per the
repo's measurement protocol.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

UPDATED_MOD = 3   # event_id % 3 == 1 -> doc is updated mid-stream
DELETED_MOD = 5   # event_id % 5 == 4 -> doc is deleted late-stream
VACUUM_EVERY = 20
VACUUM_GRACE_S = 45.0
CRASH_P = 0.08


def hotify(events, hot_frac: float = 0.9):
    """Collapse ``hot_frac`` of the docs onto ONE cube cell
    (event_type='hot', one fixed day, ubucket 0) — the hot-cell skew
    regime (r8, r6-verdict task 1): every batch's deltas hammer the
    same cell/partition, stressing single-partition version churn,
    vacuum under contention, and merge-key skew. Doc identity
    (event_id) is untouched, so the CDC ordering contract and the
    closed-form oracle hold unchanged."""
    hot = F.pmod(F.xxhash64("event_id", F.lit(9)), F.lit(100)) < int(
        hot_frac * 100)
    return events.select(
        "event_id",
        F.when(hot, F.to_timestamp(F.lit("2024-03-01 12:00:00")))
        .otherwise(F.col("ts")).alias("ts"),
        F.when(hot, F.lit(0)).otherwise(F.col("user_id")).alias("user_id"),
        F.when(hot, F.lit("hot")).otherwise(F.col("event_type")).alias("event_type"),
        "value",
        "props",
    )


def batch_exprs(events, n_batches: int, spread_inserts: bool = False):
    """The deterministic batch-assignment expressions shared by
    :func:`build_cdc` (which emits the CDC rows) and
    :func:`state_at_batch` (which reconstructs the closed-form net
    document state as of any batch watermark — the per-batch repair
    source and oracle for the distinct soak)."""
    ib = int(n_batches * 0.6)
    ub_lo, ub_n = ib, int(n_batches * 0.2)
    db_lo, db_n = ib + ub_n, n_batches - ib - ub_n

    lo, hi = events.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    frac = (F.unix_timestamp("ts") - F.lit(lo)) / F.lit(max(hi - lo, 1) + 1)
    jitter = F.pmod(F.xxhash64("event_id"), F.lit(5)) - 2
    if spread_inserts:
        b_ins = F.pmod(F.xxhash64("event_id", F.lit(3)), F.lit(ib)).cast("int")
    else:
        b_ins = F.greatest(
            F.lit(0),
            F.least(F.lit(ib - 1), (frac * ib).cast("int") + jitter.cast("int")),
        )
    updated = F.col("event_id") % UPDATED_MOD == 1
    deleted = F.col("event_id") % DELETED_MOD == 4
    b_upd = F.lit(ub_lo) + F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(ub_n)).cast("int")
    b_del = F.lit(db_lo) + F.pmod(F.xxhash64("event_id", F.lit(2)), F.lit(db_n)).cast("int")
    return b_ins, b_upd, b_del, updated, deleted


def state_at_batch(events, n_batches: int, k: int, spread_inserts: bool = False):
    """Net document state after batches 0..k: inserted docs whose
    insert batch has arrived, minus deletes already delivered, with
    values doubled once their update batch has passed."""
    b_ins, b_upd, b_del, updated, deleted = batch_exprs(
        events, n_batches, spread_inserts)
    live = (b_ins <= k) & ~(deleted & (b_del <= k))
    return events.filter(live).withColumn(
        "value",
        F.when(updated & (b_upd <= F.lit(k)), F.col("value") * 2)
        .otherwise(F.col("value")),
    )


def build_cdc(events, n_batches: int, spread_inserts: bool = False):
    """Deterministic mixed CDC with a batch_no column.

    Inserts land in the first 60% of batches, correlated with the
    document's own ts (data arrives roughly in time order, so insert
    batches touch FEW partitions — the partition-scoped commit's
    design case). Updates (value doubled) land in the next 20%,
    deletes in the last 20% — both spread randomly, touching many
    partitions (the stress case). Per-document ordering
    insert < update < delete holds by construction.

    ``spread_inserts`` assigns insert batches by id-hash instead of ts
    — required in hot-cell mode, where 90% of docs share one ts and
    ts-correlated assignment would dump them all into ~5 batches.
    """
    from mongo_olap_spark.streaming.cdc import DOC_COLS

    b_ins, b_upd, b_del, updated, deleted = batch_exprs(
        events, n_batches, spread_inserts)
    post_value = F.col("value") * 2

    doc = [F.col(c) for c in DOC_COLS]
    doc_post = [post_value.alias(c) if c == "value" else F.col(c) for c in DOC_COLS]

    inserts = events.select(*doc, F.lit(1).alias("mult"), b_ins.alias("b"))
    upd_minus = events.filter(updated).select(
        *doc, F.lit(-1).alias("mult"), b_upd.alias("b"))
    upd_plus = events.filter(updated).select(
        *doc_post, F.lit(1).alias("mult"), b_upd.alias("b"))
    del_rows = events.filter(deleted).select(
        *[
            F.when(updated, F.col(c) * 2).otherwise(F.col(c)).alias(c)
            if c == "value" else F.col(c)
            for c in DOC_COLS
        ],
        F.lit(-1).alias("mult"), b_del.alias("b"),
    )
    return inserts.unionByName(upd_minus).unionByName(upd_plus).unionByName(del_rows)


def net_state(events):
    """Closed-form final document state: deletes removed, updates applied."""
    return (
        events.filter(~(F.col("event_id") % DELETED_MOD == 4))
        .withColumn(
            "value",
            F.when(F.col("event_id") % UPDATED_MOD == 1, F.col("value") * 2)
            .otherwise(F.col("value")),
        )
    )


def rows_digest(df, cols):
    rows = sorted(
        tuple(
            round(float(v), 6) if isinstance(v, float) else
            (float(v) if str(type(v)).find("Decimal") >= 0 else v)
            for v in r
        )
        for r in df.select(*cols).collect()
    )
    return hashlib.sha256(repr(rows).encode()).hexdigest(), len(rows)


class SnapshotReader(threading.Thread):
    """Concurrent consistency checker: every observed snapshot must be
    internally consistent — (version, watermark) pinned from ONE
    manifest read, cube total doc count == expected[watermark]."""

    def __init__(self, catalog, name: str, mult_col: str,
                 expected_by_batch: dict[int, int]):
        super().__init__(daemon=True)
        self.catalog, self.name = catalog, name
        self.mult_col = mult_col  # cell-table multiplicity column (n_cnt)
        self.expected = expected_by_batch
        self.stop_flag = threading.Event()
        self.checks = 0
        self.violations: list[str] = []
        self.versions_seen: set[int] = set()

    def run(self):
        while not self.stop_flag.is_set():
            try:
                v = self.catalog.current_version(self.name)
                if v == 0:
                    time.sleep(0.2)
                    continue
                m = self.catalog.manifest(self.name, v)
                if m is None:
                    continue
                k = m["last_batch_ids"].get("default", -1)
                if k < 0 or k not in self.expected:
                    continue
                total = (
                    self.catalog.cells(self.name, version=v)
                    .agg(F.sum(self.mult_col)).first()[0]
                ) or 0
                self.checks += 1
                self.versions_seen.add(v)
                if int(total) != self.expected[k]:
                    self.violations.append(
                        f"v{v} batch{k}: total n={total} expected {self.expected[k]}"
                    )
            except Exception as e:  # torn snapshot / vanished file = violation
                self.violations.append(f"reader exception: {type(e).__name__}: {e}")
            time.sleep(0.05)


def phase_stats(times: list[float], n_batches: int) -> dict:
    """Per-phase batch-time means and OLS slopes (r8, r6-verdict task
    2): the CDC is phase-structured (first 60% inserts, then 20%
    updates, then 20% deletes), so a whole-run late/early ratio mixes
    PHASE cost differences with genuine monotonic drift. Stratifying
    separates them: within one phase the workload is homogeneous, so a
    healthy engine shows slope ≈ 0 there; cross-phase mean steps are
    workload, not leaks. ``slope_ok`` = slope × phase_length ≤ 50% of
    the phase mean (total SLOWDOWN across the phase under half a
    batch's cost; a negative slope — batches getting faster, e.g. JVM
    warmup early in a short run — is never a leak and never fails)."""
    ib = int(n_batches * 0.6)
    ub = int(n_batches * 0.2)
    spans = {
        "insert": (0, ib),
        "update": (ib, ib + ub),
        "delete": (ib + ub, n_batches),
    }
    out = {}
    for phase, (lo, hi) in spans.items():
        ys = times[lo:hi]
        n = len(ys)
        if n < 3:
            continue
        xbar = (n - 1) / 2.0
        ybar = sum(ys) / n
        sxy = sum((i - xbar) * (y - ybar) for i, y in enumerate(ys))
        sxx = sum((i - xbar) ** 2 for i in range(n))
        slope = sxy / sxx
        out[phase] = {
            "n": n,
            "mean_s": round(ybar, 3),
            "slope_s_per_batch": round(slope, 6),
            "drift_over_phase_s": round(slope * n, 3),
            "slope_ok": slope * n <= 0.5 * ybar,
        }
    return out


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=200)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/scale10x")
    ap.add_argument("--root", default="/tmp/soak_root")
    ap.add_argument("--seed", type=int, default=6)
    ap.add_argument("--lattice", action="store_true",
                    help="soak the multi-level (grouping-sets) maintenance "
                         "path instead of the plain cube")
    ap.add_argument("--hot-cell", action="store_true",
                    help="skew regime: >=90%% of CDC deltas target ONE "
                         "cube cell (single hot partition, merge-key skew)")
    ap.add_argument("--out", default="SOAK_PROBE.json")
    args = ap.parse_args()

    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure, build_cube, query_cube
    from mongo_olap_spark.cube.catalog import CubeCatalog
    from mongo_olap_spark.session import get_spark
    from mongo_olap_spark.streaming.pipeline import CubeMaintainer
    from tools.scale_probe import synthesize

    spark = get_spark("soak_probe")
    spark.sparkContext.setLogLevel("ERROR")
    synthesize(spark, args.src, args.dst, args.factor)
    events = spark.read.parquet(os.path.join(args.dst, "events.parquet"))
    if args.hot_cell:
        events = hotify(events)

    spec = CubeSpec(
        name="soak_cube",
        source="events",
        dimensions=(
            Dimension("event_type"),
            Dimension("day", path="ts", granularity="day"),
            Dimension("ubucket", path="pmod(user_id, 500)"),
        ),
        measures=(
            Measure("n", "count"),
            Measure("total_value", "sum", "value"),
            Measure("avg_value", "avg", "value"),
        ),
    )

    # CDC written once, partitioned by batch -> each micro-batch read
    # is a pruned scan of one directory (what a real queue hands you)
    suffix = "_hot" if args.hot_cell else ""
    cdc_path = os.path.join(args.dst, f"soak_cdc_b{args.batches}{suffix}")
    if not os.path.exists(os.path.join(cdc_path, "_SUCCESS")):
        t0 = time.perf_counter()
        build_cdc(events, args.batches,
                  spread_inserts=args.hot_cell).repartition("b").write.mode(
            "overwrite").partitionBy("b").parquet(cdc_path)
        print(f"# cdc written in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    cdc = spark.read.parquet(cdc_path)

    hot_share = None
    if args.hot_cell:
        # measured evidence that the regime is what it claims: the
        # share of ALL deltas landing in the single hot cell
        hot_share = (
            cdc.agg(F.avg((F.col("event_type") == "hot").cast("double")))
            .first()[0]
        )
        print(f"# hot-cell delta share: {hot_share:.3f}", file=sys.stderr)

    per_batch = {
        int(r["b"]): int(r["dm"])
        for r in cdc.groupBy("b").agg(F.sum("mult").alias("dm")).collect()
    }
    expected, cum = {}, 0
    for k in range(args.batches):
        cum += per_batch.get(k, 0)
        expected[k] = cum

    shutil.rmtree(args.root, ignore_errors=True)
    catalog = CubeCatalog(spark, args.root)
    levels = None
    if args.lattice:
        names = spec.dim_names
        levels = [tuple(names), (names[0], names[1]), (names[1],), ()]
        catalog.create_lattice(spec, events.limit(0), levels)
        # each materialized level independently counts every live doc,
        # so the whole-table multiplicity sum is len(levels) * net
        expected = {k: v * len(levels) for k, v in expected.items()}
    else:
        catalog.create(spec, events.limit(0))

    from mongo_olap_spark.cube.ivm import row_count_col

    reader = SnapshotReader(catalog, spec.name, row_count_col(spec), expected)
    reader.start()

    rng = random.Random(args.seed)
    maint = CubeMaintainer(catalog, spec)
    times: list[float] = []
    crashes = replays = 0
    replay_times: list[float] = []
    vacuumed_total = 0
    live_dirs_max = manifest_parts_max = 0
    disk_mb_max = 0.0

    def batch_df(k: int):
        return cdc.filter(F.col("b") == k).drop("b")

    t_run0 = time.perf_counter()
    for k in range(args.batches):
        t0 = time.perf_counter()
        maint.apply_batch(batch_df(k), k)
        times.append(time.perf_counter() - t0)

        if rng.random() < CRASH_P and k > 0:
            # "kill -9": the maintainer (all process state) is gone; a
            # fresh one attaches and the checkpoint re-delivers a
            # window of recent batches — watermark must no-op them all
            crashes += 1
            maint = CubeMaintainer(catalog, spec)
            for j in range(max(0, k - rng.randint(1, 4)), k + 1):
                t0 = time.perf_counter()
                maint.apply_batch(batch_df(j), j)
                replay_times.append(time.perf_counter() - t0)
                replays += 1

        if (k + 1) % VACUUM_EVERY == 0:
            removed = catalog.vacuum(spec.name, min_age_s=VACUUM_GRACE_S)
            vacuumed_total += len(removed)
            data_dir = os.path.join(args.root, spec.name, "data")
            live = len(os.listdir(data_dir)) if os.path.isdir(data_dir) else 0
            live_dirs_max = max(live_dirs_max, live)
            m = catalog.manifest(spec.name)
            manifest_parts_max = max(manifest_parts_max, len(m["partitions"]))
            disk_mb_max = max(disk_mb_max, du_bytes(args.root) / 1e6)
            print(
                f"# batch {k + 1}/{args.batches}: t_mean_last20="
                f"{sum(times[-20:]) / min(len(times), 20):.2f}s vacuumed={len(removed)} "
                f"live_dirs={live} manifest_parts={len(m['partitions'])} "
                f"disk={disk_mb_max:.0f}MB reader_checks={reader.checks}",
                file=sys.stderr,
            )
    wall = time.perf_counter() - t_run0

    # final grace-less vacuum from the (now sole) maintenance owner
    reader.stop_flag.set()
    reader.join(timeout=30)
    vacuumed_total += len(catalog.vacuum(spec.name, min_age_s=0))

    # IVM oracle: maintained cube == from-scratch rebuild of net state
    if args.lattice:
        # raw-cell compare: decimal partials are order-independent, so
        # the incrementally merged cells must match the rebuild exactly
        from mongo_olap_spark.cube.lattice import build_cube_lattice

        maintained = catalog.cells(spec.name)
        cols = sorted(maintained.columns)
        got_digest, got_rows = rows_digest(maintained, cols)
        want_digest, want_rows = rows_digest(
            build_cube_lattice(spark, spec, net_state(events), levels=levels),
            cols,
        )
    else:
        cols = [*spec.dim_names, *[m.name for m in spec.measures]]
        got_digest, got_rows = rows_digest(
            query_cube(catalog.cells(spec.name), spec), cols)
        want_digest, want_rows = rows_digest(
            query_cube(build_cube(spark, spec, net_state(events)), spec), cols)

    early = times[10:30]
    late = times[-20:]
    ratio = (sum(late) / len(late)) / (sum(early) / len(early))
    ok_flat = ratio <= 2.0
    phases = phase_stats(times, args.batches)
    ok_phases = all(p["slope_ok"] for p in phases.values())
    ok_reader = not reader.violations
    ok_final = got_digest == want_digest and got_rows == want_rows
    ok_replay = (max(replay_times) if replay_times else 0.0) <= max(
        2.0, 3 * (sum(times) / len(times)))

    result = {
        "metric": "soak_probe",
        "mode": "lattice" if args.lattice else (
            "hot-cell" if args.hot_cell else "plain"),
        "hot_cell_delta_share": round(hot_share, 3) if hot_share else None,
        "batches": args.batches,
        "factor": args.factor,
        "wall_s": round(wall, 1),
        "batch_mean_s": round(sum(times) / len(times), 3),
        "batch_early_mean_s": round(sum(early) / len(early), 3),
        "batch_late_mean_s": round(sum(late) / len(late), 3),
        "late_over_early": round(ratio, 2),
        "phase_stats": phases,
        "crashes": crashes,
        "replayed_batches": replays,
        "replay_mean_s": round(sum(replay_times) / len(replay_times), 3)
        if replay_times else None,
        "vacuumed_dirs": vacuumed_total,
        "live_dirs_max": live_dirs_max,
        "manifest_partitions_max": manifest_parts_max,
        "disk_mb_max": round(disk_mb_max, 1),
        "reader_checks": reader.checks,
        "reader_versions_seen": len(reader.versions_seen),
        "reader_violations": reader.violations[:5],
        "final_rows": got_rows,
        "final_match": ok_final,
        "ok": ok_flat and ok_phases and ok_reader and ok_final and ok_replay,
    }
    print(json.dumps(result))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    if not result["ok"]:
        print(
            f"# FAIL: flat={ok_flat} phases={ok_phases} reader={ok_reader} "
            f"final={ok_final} replay={ok_replay}",
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
