"""Workload-driven cube advisor: which cubes should exist?

The reference domain is config-driven — an operator writes cube
definitions by hand and hopes they match the query traffic. This
module closes that loop: given a *workload* (aggregate requests with
weights — e.g. frequencies from a query log), it recommends the cube
set that maximizes routed benefit under a cell-count budget.

This is the classic materialized-view-selection problem on the
aggregation lattice; the algorithm is the greedy of Harinarayan,
Rajaraman & Ullman, "Implementing Data Cubes Efficiently" (SIGMOD'96):
pick, one at a time, the candidate view with the best
benefit-per-unit-state, where a query's cost is the size of the
smallest selected view that can answer it (else the source). The
greedy is within (1 − 1/e) ≈ 63% of optimal benefit — good enough
that nobody runs the exponential exact search.

Candidate views are the workload's own signatures plus their merges
(pairwise and the per-(source, filter) union): a merged cube carries
the union of dimensions at the finest requested time granularity and
the union of measures, so one state answers several queries — the
trade the greedy weighs against its larger cell count.

Cell counts are *estimated* in ONE Spark job per source: every
candidate's `approx_count_distinct(struct(dims))` is computed in a
single pass (HLL±5% per candidate, all map-side). At 100 TB pass
`sample_fraction` to bound the scan; estimates stay useful because
only the *relative* sizes drive the greedy.

Routing compatibility is exact, not estimated: a candidate serves a
query iff the real `CubeRouter` serving test says so — the advisor
can never recommend a cube the router would then refuse to use
(guarded by test).
"""

from __future__ import annotations

import math
import re
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_olap_spark.cube.measures import FAMILIES
from mongo_olap_spark.cube.spec import (
    _DEFAULT_MAX_ITEMS,
    _GRANULARITIES,
    CubeSpec,
    Dimension,
    Measure,
)
from mongo_olap_spark.plans.router import AggregateRequest

_GRAN_ORDER = {g: i for i, g in enumerate(_GRANULARITIES)}  # later = finer


@dataclass(frozen=True)
class WorkloadQuery:
    """One workload entry: an aggregate request + its weight (query
    frequency / importance — the unit the greedy maximizes)."""

    request: AggregateRequest
    weight: float = 1.0


@dataclass(frozen=True)
class SketchAlternative:
    """A FLAGGED bounded-state alternative for a query whose exact
    two-level cube busts the cell budget (r13, VERDICT r12 task 5).

    The exact routes for count-distinct / quantiles / top-k need the
    measured column as a raw dimension — O(groups × column
    cardinality) cells. When that cannot be afforded, the sketch
    measure family answers the same question from O(groups) cells at
    a documented error envelope. The advisor never auto-picks these
    (the exact-vs-approximate trade is the operator's to make): the
    recommendation is surfaced here with its envelope, and the
    operator opts in by creating ``spec`` explicitly."""

    query_index: int
    #: cells the EXACT two-level candidate would have needed
    exact_cells: int
    #: ready-to-create sketch cube spec (bounded state per cell)
    spec: CubeSpec
    est_cells: int
    #: per-measure error envelope, e.g. "u ≈ HLL lgk=12: ±1.6% rsd"
    error_envelope: tuple[str, ...]


@dataclass
class Advice:
    """Advisor output: the recommended specs, where each workload query
    routes (query index → cube name, None = source scan), estimated
    cells per recommended cube, and the covered share of total weight."""

    cubes: list[CubeSpec]
    assignment: dict[int, str | None]
    est_cells: dict[str, int]
    covered_weight: float
    total_weight: float
    #: merged candidates dropped by ``max_candidates`` (each query's own
    #: signature is never dropped — ADVICE r8: no silent truncation)
    dropped_candidates: int = 0
    #: flagged bounded-state recommendations for budget-priced-out
    #: special-family queries — never auto-applied (r13)
    sketch_alternatives: list[SketchAlternative] = field(default_factory=list)

    @property
    def coverage(self) -> float:
        return self.covered_weight / self.total_weight if self.total_weight else 1.0


def _slug(s: str) -> str:
    out = re.sub(r"[^A-Za-z0-9_]+", "_", s).strip("_") or "x"
    return out if out[0].isalpha() or out[0] == "_" else f"c_{out}"


# -- signatures -------------------------------------------------------------

@dataclass(frozen=True)
class _Sig:
    """Canonical cube shape: dims as {path: granularity|None} with the
    finest granularity per time path, measures as {(op, path)}."""

    source: str
    filter_sql: str | None
    dims: frozenset  # of (path, granularity|None)
    measures: frozenset  # of (op, path|None)


def _signature(req: AggregateRequest) -> _Sig:
    dims: dict[str, str | None] = {}
    for g in req.group_by:
        path, gran = g if isinstance(g, tuple) else (g, None)
        cur = dims.get(path, "absent")
        if cur == "absent":
            dims[path] = gran
        elif cur is None or gran is None:
            dims[path] = None  # raw value requested somewhere: keep raw
        elif _GRAN_ORDER[gran] > _GRAN_ORDER[cur]:
            dims[path] = gran  # keep the finest bucket
    meas = set()
    for m in req.measures:
        if isinstance(m, str):
            raise ValueError(
                f"advisor needs (name, op[, path]) measures, got bare name {m!r} "
                "— a name alone doesn't determine the accumulator to materialize"
            )
        name, op, *rest = m
        path = rest[0] if rest else None
        if op in ("top_by", "bottom_by"):
            # C24: BOTH the sort and the payload column become raw
            # dimensions of the serving cube
            if len(rest) < 2:
                raise ValueError(f"measure {name}: {op} needs (sort_path, payload_path[, k])")
            dims[rest[0]] = None
            dims[rest[1]] = None
            meas.add(("count", None))
            continue
        if op in ("count_distinct", "quantile_exact", "topn", "min_n", "max_n"):
            # two-level decomposition (C19/C20/C21/C23 exact routes): the
            # measured column must be a RAW DIMENSION of the serving
            # cube — that, plus a count measure for multiplicity, IS
            # the state the router serves these from
            if path is None:
                raise ValueError(f"measure {name}: {op} needs a path")
            dims[path] = None  # raw beats any requested bucketing
            meas.add(("count", None))
            continue
        if op == "quantile":
            raise ValueError(
                f"measure {name}: the advisor cannot pick histogram bounds "
                "for a 'quantile' sketch measure (lo/hi/nbins are domain "
                "decisions). Declare the cube yourself with "
                "Measure(op='quantile', lo=, hi=, nbins=), or put "
                f"('{name}', 'quantile_exact', {path!r}, q) in the workload "
                "for the exact two-level route."
            )
        fam = FAMILIES.get(op)
        if fam is not None and len(fam.serves) > 1:
            # a family serving several ops (the dispersion forms) shares
            # one storage shape and the router binds any requested op
            # to any stored one — canonicalize so two queries asking
            # different forms on one path don't duplicate state
            if path is None:
                raise ValueError(f"measure {name}: {op} needs a path")
            meas.add((fam.serves[0], path))
            continue
        if op == "topk":
            raise ValueError(
                f"measure {name}: the advisor cannot pick a 'topk' summary "
                "capacity (k/max_items are domain decisions). Declare the "
                "cube yourself with Measure(op='topk', k=, max_items=), or "
                f"put ('{name}', 'topn', {path!r}, k) in the workload for "
                "the exact two-level route."
            )
        meas.add((op, path))
    return _Sig(req.source, req.filter_sql or None, frozenset(dims.items()), frozenset(meas))


def _merge(a: _Sig, b: _Sig) -> _Sig:
    """Union of two signatures of the same (source, filter) group —
    finest granularity wins per path; raw beats bucketed."""
    assert (a.source, a.filter_sql) == (b.source, b.filter_sql)
    dims: dict[str, str | None] = dict(a.dims)
    for path, gran in b.dims:
        if path not in dims:
            dims[path] = gran
        elif dims[path] is None or gran is None:
            dims[path] = None
        elif _GRAN_ORDER[gran] > _GRAN_ORDER[dims[path]]:
            dims[path] = gran
    return _Sig(a.source, a.filter_sql, frozenset(dims.items()), a.measures | b.measures)


def _sig_to_spec(sig: _Sig, name: str) -> CubeSpec:
    dims, seen = [], set()
    for path, gran in sorted(sig.dims, key=lambda x: (x[0], x[1] or "")):
        dn = _slug(path) if gran is None else f"{_slug(path)}_{gran}"
        while dn in seen:
            dn += "_"
        seen.add(dn)
        dims.append(Dimension(dn, path=path, granularity=gran))
    meas = []
    for op, path in sorted(sig.measures, key=lambda x: (x[0], x[1] or "")):
        mn = f"{op}_docs" if path is None else f"{op}_{_slug(path)}"
        while mn in seen:
            mn += "_"
        seen.add(mn)
        meas.append(Measure(mn, op, path))
    if not meas:
        # a groupBy with no accumulators (pure distinct): a count
        # measure costs nothing extra and keeps the spec/IVM invariants
        # (row multiplicity tracking) intact
        meas.append(Measure("count_docs", "count"))
    return CubeSpec(
        name=name, source=sig.source, filter_sql=sig.filter_sql,
        dimensions=tuple(dims), measures=tuple(meas),
    )


# -- cell estimation --------------------------------------------------------

def _extrapolate_distinct(d: int, n: int, scale: float) -> int:
    """Distinct-count extrapolation from a sample: solve
    ``d = D * (1 - exp(-n/D))`` for the true cardinality ``D``
    (method-of-moments under Poissonized uniform frequencies — the
    same first-moment model behind GEE-style estimators).

    ``d`` = distinct values observed in the sample, ``n`` = sampled
    rows, ``scale`` = 1/sample_fraction. The model is
    saturation-aware by construction: when the sample sees every
    value many times (d << n) the solution sits at ~d — no linear
    inflation (ADVICE r8: linear scaling turned 5 event types at
    fraction 0.01 into ~500) — while near-unique dims (d ≈ n)
    extrapolate toward the linear bound d*scale.
    """
    if d <= 0:
        return 1
    lo, hi = float(d), float(d) * scale
    if hi <= lo:
        return int(d)
    f = lambda D: D * (1.0 - math.exp(-n / D)) if D > 0 else 0.0
    if f(hi) < d:  # sample is effectively all-unique: take the bound
        return int(hi)
    for _ in range(60):
        mid = (lo + hi) / 2
        if f(mid) < d:
            lo = mid
        else:
            hi = mid
    return max(int(d), int((lo + hi) / 2))


def estimate_cells(
    source: DataFrame,
    specs: list[CubeSpec],
    *,
    sample_fraction: float | None = None,
    rsd: float = 0.05,
) -> list[int]:
    """Estimated cell count for every spec over one source (ONE
    aggregation job). See :func:`estimate_cells_and_rows`."""
    return estimate_cells_and_rows(
        source, specs, sample_fraction=sample_fraction, rsd=rsd
    )[0]


def estimate_cells_and_rows(
    source: DataFrame,
    specs: list[CubeSpec],
    *,
    sample_fraction: float | None = None,
    rsd: float = 0.05,
) -> tuple[list[int], list[int]]:
    """Estimated (cell count, qualifying row count) for every spec over
    one source, in ONE aggregation job: per-spec
    ``approx_count_distinct(struct(dims))`` (HLL, map-side combined — a
    single scan however many specs) plus a conditional row count for
    the spec's pre-aggregation filter.

    Specs with a pre-aggregation filter count over the filtered rows
    via a conditional struct (NULL rows don't feed the sketch), so the
    one job still covers mixed-filter candidates. With
    ``sample_fraction`` set, distinct counts extrapolate through the
    saturation-aware model of :func:`_extrapolate_distinct` (not a
    linear scale) and row counts scale linearly (counts, unlike
    distincts, extrapolate linearly without bias).
    """
    if not specs:
        return [], []
    df = source
    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=7)
    aggs = []
    for i, s in enumerate(specs):
        tup = F.struct(*[d.expr() for d in s.dimensions]) if s.dimensions else F.lit(1)
        cond = F.expr(s.filter_sql) if s.filter_sql else None
        if cond is not None:
            tup = F.when(cond, tup)
        aggs.append(F.approx_count_distinct(tup, rsd).alias(f"c{i}"))
        aggs.append(
            (F.count(F.when(cond, 1)) if cond is not None else F.count(F.lit(1))).alias(f"n{i}")
        )
    [row] = df.agg(*aggs).collect()
    scale = 1.0 / sample_fraction if sample_fraction else 1.0
    cells, rows = [], []
    for i in range(len(specs)):
        d, n = int(row[f"c{i}"]), int(row[f"n{i}"])
        cells.append(max(1, _extrapolate_distinct(d, n, scale) if scale > 1 else d))
        rows.append(int(n * scale))
    return cells, rows


# -- the greedy -------------------------------------------------------------

def advise(
    workload: list[WorkloadQuery | AggregateRequest],
    sources: dict[str, DataFrame],
    *,
    cell_budget: int | None = None,
    sample_fraction: float | None = None,
    max_candidates: int = 64,
    maintenance_weight: float = 0.0,
    serve_overhead_rows: int = 0,
    router_check=None,
) -> Advice:
    """Recommend cubes for a workload under an optional total-cell
    budget. ``sources`` maps request source names to DataFrames (used
    for cardinality estimation only — nothing is materialized here).

    ``maintenance_weight`` charges each candidate an IVM upkeep cost
    proportional to its state (signed-merge maintenance re-reads and
    rewrites touched partitions, so bigger cubes cost more per CDC
    batch): a cube is only picked while
    ``query_benefit − maintenance_weight × cells > 0``. Express it in
    the same unit as query weights — roughly "how many weighted
    queries' worth of scanning one maintenance pass over this cube's
    cells costs per unit cell". 0 (default) reproduces plain HRU'96;
    a cube whose upkeep outcosts its query savings is never
    recommended at any positive setting that reflects the CDC rate.

    ``serve_overhead_rows`` (r15, calibration-derived): a cube serve
    pays a FIXED cost the rows-saved proxy ignores — manifest/partition
    listing and many-small-file cell reads — so below some absolute
    scale a recommended cube is a net latency LOSS even though it
    scans fewer rows (tools/advisor_calib.py measured routed slower
    than direct for 4/5 queries at local sf1, where a 1M-row codegen
    scan beats a 30-partition cell read). Expressed in row units
    (fixed_serve_seconds / per-row scan seconds — ADVISOR_CALIB.json
    carries the measured constants for this box): each served query's
    benefit is charged the floor, so cubes that cannot beat their own
    serve overhead are never recommended. 0 (default) keeps the pure
    HRU model — the right setting is deployment-specific and at
    100 TB the floor is negligible relative to scans.

    ``router_check(spec, request) -> bool`` overrides the serving test
    (default: the real CubeRouter predicate via a throwaway catalog-less
    check); inject for tests.
    """
    wl = [w if isinstance(w, WorkloadQuery) else WorkloadQuery(w) for w in workload]
    total_w = sum(w.weight for w in wl)

    # 1. signatures + merged candidates, grouped by (source, filter)
    sigs = [_signature(w.request) for w in wl]
    groups: dict[tuple, list[_Sig]] = {}
    for s in sigs:
        groups.setdefault((s.source, s.filter_sql), [])
        if s not in groups[(s.source, s.filter_sql)]:
            groups[(s.source, s.filter_sql)].append(s)
    # every query's own signature is always a candidate (a dropped own
    # signature silently forfeits that query's coverage — ADVICE r8);
    # the max_candidates cap applies to the *merged* extras only, and
    # the number dropped is surfaced, not swallowed
    own: list[_Sig] = []
    merged: list[_Sig] = []
    for members in groups.values():
        own.extend(members)
        if len(members) > 1:
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    m = _merge(members[i], members[j])
                    if m not in members and m not in merged:
                        merged.append(m)
            top = members[0]
            for s in members[1:]:
                top = _merge(top, s)
            if top not in members and top not in merged:
                merged.append(top)
    budget = max(0, max_candidates - len(own))
    dropped = max(0, len(merged) - budget)
    if dropped:
        warnings.warn(
            f"advisor: dropping {dropped} merged candidate(s) over "
            f"max_candidates={max_candidates}; every query keeps its own "
            "signature, but a merged cube covering several queries may be "
            "forfeited — raise max_candidates to consider them",
            stacklevel=2,
        )
    cands = own + merged[:budget]

    # 2. specs + cell estimates (one estimation job per source)
    specs = [_sig_to_spec(sig, f"adv_{i}") for i, sig in enumerate(cands)]
    est: dict[str, int] = {}
    by_source: dict[str, list[int]] = {}
    for i, s in enumerate(specs):
        by_source.setdefault(s.source, []).append(i)
    # qualifying-row estimates per (source, filter) initialize the
    # greedy's per-query scan cost: a heavily filtered query must not
    # be costed at the full source row count (ADVICE r8) — its own
    # signature spec carries the filter, so the same estimation job
    # yields the filtered count with no extra scan
    flt_rows: dict[tuple, int] = {}
    for src, idxs in by_source.items():
        if src not in sources:
            raise ValueError(f"workload references source {src!r} not in sources")
        counts, rows = estimate_cells_and_rows(
            sources[src], [specs[i] for i in idxs], sample_fraction=sample_fraction
        )
        for i, c, n in zip(idxs, counts, rows):
            est[specs[i].name] = c
            key = (specs[i].source, specs[i].filter_sql or None)
            flt_rows[key] = max(flt_rows.get(key, 0), n)

    # 3. serving matrix — the REAL router predicate, so recommendations
    # are routable by construction
    if router_check is None:
        router_check = _default_router_check
    serves = [
        [router_check(spec, w.request) for w in wl]
        for spec in specs
    ]

    # 4. HRU greedy: benefit per unit state, re-evaluated each pick
    cost = [
        flt_rows[(w.request.source, w.request.filter_sql or None)] for w in wl
    ]  # current per-query cost = qualifying rows of a source scan
    picked: list[int] = []
    spent = 0
    while True:
        best, best_score, best_benefit = None, 0.0, 0.0
        for ci, spec in enumerate(specs):
            if ci in picked:
                continue
            cells = est[spec.name]
            if cell_budget is not None and spent + cells > cell_budget:
                continue
            # a query benefits only when the cube is meaningfully
            # smaller than its current cost: cell/row counts are HLL
            # estimates (±rsd), so "savings" inside the noise floor are
            # not actionable — without the margin a cube as big as the
            # rows it displaces can be picked on estimator jitter
            benefit = sum(
                w.weight * (cost[qi] - cells - serve_overhead_rows)
                for qi, w in enumerate(wl)
                if serves[ci][qi]
                and cost[qi] > cells * 1.1 + serve_overhead_rows
            )
            # net of maintenance: upkeep scales with state size (the
            # signed merge rewrites touched partitions), so a cube
            # whose IVM cost outweighs its query savings is skipped
            benefit -= maintenance_weight * cells
            score = benefit / max(cells, 1)
            if benefit > 0 and score > best_score:
                best, best_score, best_benefit = ci, score, benefit
        if best is None:
            break
        picked.append(best)
        spent += est[specs[best].name]
        for qi in range(len(wl)):
            if serves[best][qi]:
                # residual cost of a served query includes the fixed
                # serve floor — a second cube must beat cells + floor
                cost[qi] = min(cost[qi],
                               est[specs[best].name] + serve_overhead_rows)

    # 5. assignment: each query → cheapest picked cube serving it
    assignment: dict[int, str | None] = {}
    covered = 0.0
    for qi, w in enumerate(wl):
        serving = [ci for ci in picked if serves[ci][qi]]
        if serving:
            ci = min(serving, key=lambda c: est[specs[c].name])
            assignment[qi] = specs[ci].name
            covered += w.weight
        else:
            assignment[qi] = None
    chosen = [specs[ci] for ci in picked]

    # 6. budget pressure on special-family queries (r13, VERDICT r12
    # task 5): a count-distinct / quantile / top-k query left
    # UNASSIGNED because its exact two-level candidate no longer fits
    # the remaining budget gets a FLAGGED bounded-state alternative —
    # the sketch-measure cube over the query's own group-by dims
    # (O(groups) cells instead of O(groups × cardinality)), with its
    # error envelope spelled out. Never auto-picked: exactness is the
    # operator's trade to make.
    sketch_alts: list[SketchAlternative] = []
    if cell_budget is not None:
        remaining = cell_budget - spent
        pending = []
        for qi, w in enumerate(wl):
            if assignment[qi] is not None:
                continue
            own_spec = specs[cands.index(sigs[qi])]
            if est[own_spec.name] <= remaining:
                continue  # priced out it is not — some other refusal
            alt = _sketch_spec(f"adv_sketch_{qi}", w.request)
            if alt is not None:
                pending.append((qi, est[own_spec.name], *alt))
        if pending:
            by_src: dict[str, list[int]] = {}
            for i, (_, _, spec, _) in enumerate(pending):
                by_src.setdefault(spec.source, []).append(i)
            alt_cells: dict[int, int] = {}
            for src, idxs in by_src.items():
                counts, _ = estimate_cells_and_rows(
                    sources[src], [pending[i][2] for i in idxs],
                    sample_fraction=sample_fraction,
                )
                for i, c in zip(idxs, counts):
                    alt_cells[i] = c
            for i, (qi, exact_cells, spec, envelope) in enumerate(pending):
                sketch_alts.append(SketchAlternative(
                    query_index=qi, exact_cells=exact_cells, spec=spec,
                    est_cells=alt_cells[i], error_envelope=envelope,
                ))

    return Advice(
        cubes=chosen,
        assignment=assignment,
        est_cells={s.name: est[s.name] for s in chosen},
        covered_weight=covered,
        total_weight=total_w,
        dropped_candidates=dropped,
        sketch_alternatives=sketch_alts,
    )


#: default HLL lgConfigK for flagged distinct alternatives (Spark's
#: own hll_sketch_agg default): rsd ≈ 1.04 / sqrt(2^lgk)
_SKETCH_LGK = 12
#: default histogram bin count for flagged quantile alternatives
_SKETCH_NBINS = 256


def _sketch_spec(name: str, req: AggregateRequest) -> tuple[CubeSpec, tuple[str, ...]] | None:
    """The bounded-state sketch twin of a special-family request, plus
    its per-measure error envelope — or None when the request carries
    a family with no honest sketch in the measure vocabulary
    ($minN/$maxN order statistics and $topN/$bottomN-by-sort payloads
    have no bounded mergeable summary here; offering one would be the
    silent-approximation the refuse-loudly convention bans)."""
    dims, seen = [], set()
    for g in req.group_by:
        path, gran = g if isinstance(g, tuple) else (g, None)
        dn = _slug(path) if gran is None else f"{_slug(path)}_{gran}"
        while dn in seen:
            dn += "_"
        seen.add(dn)
        dims.append(Dimension(dn, path=path, granularity=gran))
    meas: list[Measure] = [Measure("count_docs", "count")]
    envelope: list[str] = []
    for m in req.measures:
        if isinstance(m, str):
            return None
        mname, op, *rest = m
        path = rest[0] if rest else None
        mn = _slug(mname)
        while mn in seen:
            mn += "_"
        seen.add(mn)
        if op == "count_distinct":
            meas.append(Measure(mn, "distinct", path, lgk=_SKETCH_LGK))
            rsd = 1.04 / math.sqrt(2 ** _SKETCH_LGK)
            envelope.append(
                f"{mn}: HLL lgk={_SKETCH_LGK} — ±{rsd:.1%} relative "
                "standard error; union-mergeable, NOT delete-retractable "
                "(deletes trigger bounded cell rescan)")
        elif op == "quantile_exact":
            # lo/hi are domain decisions the advisor cannot make from
            # shape alone — the flagged spec ships with nbins and the
            # formulaic envelope; the operator fills lo/hi from the
            # column's domain before creating it. Spec-level
            # validation enforces lo < hi at create time, so emit a
            # unit placeholder range that MUST be edited (documented
            # in the envelope, loudly). The REQUEST's quantile p (4th
            # tuple element) becomes the measure's default q, so the
            # approximate twin answers the same percentile (r14).
            q = float(rest[1]) if len(rest) > 1 else None
            meas.append(Measure(mn, "quantile", path, lo=0.0, hi=1.0,
                                nbins=_SKETCH_NBINS, q=q))
            envelope.append(
                f"{mn}: fixed-bin histogram nbins={_SKETCH_NBINS} — "
                "error ≤ one bin width (hi−lo)/nbins for in-range mass; "
                "PLACEHOLDER lo=0, hi=1 — set lo/hi from the column's "
                "domain before creating (out-of-range mass clamps to "
                "the range edge); retractable under deletes")
        elif op == "topn":
            k = rest[1] if len(rest) > 1 else 5
            meas.append(Measure(mn, "topk", path, k=int(k)))
            envelope.append(
                f"{mn}: bounded frequent-items map k={int(k)}, "
                f"max_items={_DEFAULT_MAX_ITEMS} — EXACT while per-cell "
                "cardinality ≤ max_items; beyond that, mergeable-summary "
                "frequency error (Agarwal et al., PODS'12); not "
                "delete-retractable")
        elif op in FAMILIES and not FAMILIES[op].sketch:
            # an exact family keeps the REQUEST's own op (not the
            # canonical dispersion form) so the flagged alternative
            # routes/serves the priced-out query as-is (ADVICE r13 — a
            # var_pop remap left the advertised spec not matching the
            # original request without a rename)
            meas.append(Measure(mn, op, None if FAMILIES[op].counts_rows else path))
        else:
            return None  # min_n/max_n/top_by/bottom_by: no honest sketch
    if len(envelope) == 0:
        return None  # nothing special-family — budget pressure on a
        # plain aggregate has no sketch answer
    return CubeSpec(
        name=name, source=req.source, filter_sql=req.filter_sql or None,
        dimensions=tuple(dims), measures=tuple(meas),
    ), tuple(envelope)


#: exact special-family ops → their bounded-state sketch twins
_APPROX_OP = {"count_distinct": "distinct", "quantile_exact": "quantile",
              "topn": "topk"}


def approx_request(req: AggregateRequest) -> AggregateRequest:
    """The approximate twin of a special-family request — the query to
    send AFTER opting into a flagged :class:`SketchAlternative` (r14,
    VERDICT r13 task 6).

    The router never silently degrades an exact ask
    (count_distinct/quantile_exact/topn) to a sketch estimate — that
    invariant is load-bearing. Opting in therefore has TWO explicit
    halves: materialize the flagged spec
    (``OlapEngine.apply_sketch_alternative``) and re-issue the query
    with the sketch ops (count_distinct→distinct,
    quantile_exact→quantile, topn→topk). This helper does the measure
    rewrite; a quantile's requested p rides on the sketch measure's
    default ``q`` (set by :func:`_sketch_spec` from the same request),
    and a topn's k stays in the request tuple."""
    import dataclasses

    meas = []
    for m in req.measures:
        if isinstance(m, tuple) and len(m) >= 2 and m[1] in _APPROX_OP:
            name, op, *rest = m
            if op == "topn":
                meas.append((name, "topk", *rest))
            else:
                # path only: quantile p lives on the sketch measure's q
                meas.append((name, _APPROX_OP[op], rest[0] if rest else None))
        else:
            meas.append(m)
    return dataclasses.replace(req, measures=tuple(meas))


def _default_router_check(spec: CubeSpec, req: AggregateRequest) -> bool:
    """The real CubeRouter serving predicate against a throwaway
    in-memory catalog holding only ``spec`` — metadata-only, no jobs."""
    from mongo_olap_spark.plans.router import CubeRouter

    class _OneSpec:
        def list_cubes(self):
            return [spec.name]

        def get_spec(self, name):
            return spec

        def lattice_levels(self, name):
            return None

        def cell_count(self, name):
            return 1

    ok = CubeRouter(_OneSpec())._serves(spec, req)[0]
    return ok
