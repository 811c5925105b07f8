"""Aggregate routing: answer a query from the smallest sufficient cube.

The reference's reason to exist is answering aggregate queries from
materialized cells instead of rescanning raw documents. This router is
that decision, engine-side (SURVEY.md §4.1 — a plain-Python planner;
no custom Catalyst rule needed, because the rewrite happens *before*
a DataFrame is built, so Catalyst still plans/optimizes whatever we
choose):

    request {source, group_by, measures, where?}
      → candidate cubes: same source; dims ⊇ group_by (+ filter cols);
        measures ⊇ requested; pre-agg filter compatible
      → pick the candidate with the fewest cells (cheapest rollup)
      → else fall back to direct aggregation of the source

A time-bucketed group_by (e.g. day) is served by any cube whose time
dim is at the same-or-finer granularity on the same path — a month
rollup reads a day cube (never the reverse).

Filter compatibility is conservative: the request's ``where`` must
reference dimension columns only (cells are already aggregated — a
measure-level or raw-column predicate can't be applied post-hoc).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from mongo_olap_spark.cube.catalog import CubeCatalog
from mongo_olap_spark.cube.measures import FAMILIES, row_count_col
from mongo_olap_spark.cube.query import query_cube
from mongo_olap_spark.cube.spec import _GRANULARITIES, CubeSpec

#: finer-to-coarser ordering index (year coarsest)
_GRAN_ORDER = {g: i for i, g in enumerate(_GRANULARITIES)}


@dataclass(frozen=True)
class AggregateRequest:
    """A client aggregate query in cube vocabulary: group_by names may
    be plain dims or ``(path, granularity)`` time buckets."""

    source: str
    group_by: tuple = ()  # str dim-paths or (path, granularity) pairs
    measures: tuple = ()  # measure names as (name, op, path) or names
    where: str | None = None  # predicate over group_by outputs only
    filter_sql: str | None = None  # pre-aggregation source filter


def _where_columns(where: str) -> set[str]:
    return set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", where))


@dataclass
class RoutingDecision:
    cube: str | None  # None = fall back to source scan
    reason: str
    rewritten_group_by: list = field(default_factory=list)
    #: requested measure name -> cube measure name, when a measure
    #: bound by (op, path) rather than by name. A binding to a stored
    #: measure of ANOTHER op its family serves (C22: the four var/stddev
    #: forms share one (Σx, Σx², n) storage shape) appears as a
    #: ("disp", stored measure name, requested op) tuple — execute()
    #: runs the REQUESTED op's finalize over the stored partials.
    measure_renames: dict = field(default_factory=dict)
    #: exact count-distinct serving (C19 two-level route): the request
    #: carried a ``(name, "count_distinct", path)`` measure and the
    #: cube holds the counted column as a raw dimension — recorded as
    #: (requested output name, cube dimension name)
    distinct: tuple | None = None
    #: exact quantile serving (C20 two-level route): the request
    #: carried ``(name, "quantile_exact", path[, q])`` and the cube
    #: holds the measured column as a raw dimension — recorded as
    #: (requested output name, cube dimension name, q)
    quantile: tuple | None = None
    #: exact top-k serving (C21 two-level route): the request carried
    #: ``(name, "topn", path[, k])`` and the cube holds the ranked
    #: column as a raw dimension — recorded as
    #: (requested output name, cube dimension name, k)
    topn: tuple | None = None
    #: exact order-statistics serving (C23 two-level route): the
    #: request carried ``(name, "min_n"|"max_n", path[, k])`` and the
    #: cube holds the measured column as a raw dimension — recorded as
    #: (requested output name, cube dimension name, k, largest)
    extremes: tuple | None = None
    #: exact $topN/$bottomN-with-sortBy serving (C24 two-level route):
    #: the request carried ``(name, "top_by"|"bottom_by", sort_path,
    #: payload_path, k)`` and the cube holds BOTH columns as raw
    #: dimensions — recorded as (requested output name, sort dim,
    #: payload dim, k, largest)
    topby: tuple | None = None


class CubeRouter:
    def __init__(self, catalog: CubeCatalog):
        self.catalog = catalog

    # -- candidate test -----------------------------------------------------
    def _serves(
        self, spec: CubeSpec, req: AggregateRequest
    ) -> tuple[bool, list, dict, str, tuple | None]:
        # 5th element ("special") tags the two-level routes:
        #   ("distinct", out_name, dim)      C19 exact count-distinct
        #   ("quantile", out_name, dim, q)   C20 exact quantile
        #   ("topn", out_name, dim, k)       C21 exact top-k frequent
        if spec.source != req.source:
            return False, [], {}, "different source", None
        if (spec.filter_sql or None) != (req.filter_sql or None):
            # a cube built over a filtered subset answers only queries
            # with the identical pre-filter
            return False, [], {}, "pre-aggregation filter differs", None
        dim_by_path = {d.source_path: d for d in spec.dimensions}
        dim_names = set(spec.dim_names)
        rewritten: list = []
        for g in req.group_by:
            if isinstance(g, tuple):
                path, gran = g
                d = dim_by_path.get(path)
                if d is None or d.granularity is None:
                    return False, [], {}, f"no time dim on {path}", None
                if _GRAN_ORDER[d.granularity] < _GRAN_ORDER[gran]:
                    return False, [], {}, f"cube too coarse on {path} ({d.granularity} < {gran})", None
                rewritten.append((d.name, gran))
            else:
                if g in dim_names:
                    rewritten.append(g)
                elif g in dim_by_path:
                    rewritten.append(dim_by_path[g].name)
                else:
                    return False, [], {}, f"dimension {g} not in cube", None
        gb_names = {g if isinstance(g, str) else g[0] for g in rewritten}
        have = {m.name: m for m in spec.measures}
        renames: dict = {}
        distinct: tuple | None = None
        for m in req.measures:
            if isinstance(m, str):
                if m not in have:
                    return False, [], {}, f"measure {m} not in cube", None
                continue
            # (name, op[, path]) request: the cube's measure must match
            # op AND source path — matching by name alone would silently
            # answer with the cube's semantics while a source-scan
            # fallback would honor the request's (ADVICE r1)
            name, op, *rest = m
            path = rest[0] if rest else None
            if op == "quantile_exact":
                # EXACT quantile (C20 two-level route): served when the
                # measured column is a raw dimension of the cube — live
                # (group, value) cells carry the empirical CDF, read by
                # quantile_rollup. The approximate histogram route is a
                # different op ("quantile"): an exact ask never silently
                # degrades to a bin-width estimate.
                if path is None:
                    return False, [], {}, f"measure {name}: quantile_exact needs a path", None
                if distinct is not None:
                    return False, [], {}, "quantile_exact cannot combine with other special measures", None
                if len(req.measures) != 1:
                    # quantile_rollup answers from the qualifying-cell
                    # slice; other measures aggregate ALL cells — one
                    # request cannot carry both without a second pass
                    return False, [], {}, "quantile_exact must be the only requested measure", None
                qraw = rest[1] if len(rest) > 1 else 0.5
                if isinstance(qraw, (list, tuple)):
                    # multi-p $percentile (r10): served as an ARRAY in
                    # the given p order from the SAME window pass
                    q = tuple(float(x) for x in qraw)
                    if not q or any(not (0.0 < x <= 1.0) for x in q):
                        return False, [], {}, f"measure {name}: every q must be in (0, 1]", None
                else:
                    q = float(qraw)
                    if not (0.0 < q <= 1.0):
                        return False, [], {}, f"measure {name}: q must be in (0, 1]", None
                d = dim_by_path.get(path)
                if d is None or d.granularity is not None:
                    return False, [], {}, f"measured column {path} not a raw dimension", None
                if d.name in gb_names:
                    return False, [], {}, f"measured column {path} is also grouped", None
                if gb_names | {d.name} != dim_names:
                    # extra dims would double-count multiplicities in
                    # the CDF — quantile_rollup refuses them by design
                    return False, [], {}, (
                        "exact quantile needs cells keyed exactly by "
                        "group_by + measured column"
                    ), None
                distinct = ("quantile", name, d.name, q)
                continue
            if op == "topn":
                # EXACT top-k most frequent values (C21 two-level
                # route): served when the ranked column is a raw
                # dimension of the cube — live (group, value) cells
                # carry exact multiplicities, read by topk_rollup. The
                # approximate map-summary route is a different op
                # ("topk"): an exact ask never silently degrades to a
                # truncated summary.
                if path is None:
                    return False, [], {}, f"measure {name}: topn needs a path", None
                if distinct is not None:
                    return False, [], {}, "one special (count_distinct/quantile_exact/topn) measure per request", None
                if len(req.measures) != 1:
                    # topn emits k ROWS per group — other measures
                    # aggregate to one row per group; the shapes don't
                    # compose in a single request
                    return False, [], {}, "topn must be the only requested measure", None
                k = int(rest[1]) if len(rest) > 1 else 5
                if k < 1:
                    return False, [], {}, f"measure {name}: k must be >= 1", None
                d = dim_by_path.get(path)
                if d is None or d.granularity is not None:
                    return False, [], {}, f"ranked column {path} not a raw dimension", None
                if d.name in gb_names:
                    return False, [], {}, f"ranked column {path} is also grouped", None
                distinct = ("topn", name, d.name, k)
                continue
            if op in ("top_by", "bottom_by"):
                # EXACT $topN/$bottomN with sortBy + output (C24
                # two-level route): served when BOTH the sort column
                # and the payload column are raw dimensions —
                # top_by_rollup expands the k boundary cells.
                if len(rest) < 2:
                    return False, [], {}, f"measure {name}: {op} needs (sort_path, payload_path[, k])", None
                if distinct is not None:
                    return False, [], {}, "one special measure per request", None
                if len(req.measures) != 1:
                    return False, [], {}, f"{op} must be the only requested measure", None
                s_path, p_path = rest[0], rest[1]
                k = int(rest[2]) if len(rest) > 2 else 1
                if k < 1:
                    return False, [], {}, f"measure {name}: k must be >= 1", None
                # optional 4th element: present the array in DESCENDING
                # sortBy order (the Mongo desc-sortBy shape)
                present_desc = bool(rest[3]) if len(rest) > 3 else False
                ds, dp = dim_by_path.get(s_path), dim_by_path.get(p_path)
                if ds is None or ds.granularity is not None:
                    return False, [], {}, f"sort column {s_path} not a raw dimension", None
                if dp is None or dp.granularity is not None:
                    return False, [], {}, f"payload column {p_path} not a raw dimension", None
                if ds.name in gb_names or dp.name in gb_names:
                    return False, [], {}, "sort/payload column is also grouped", None
                if ds.name == dp.name:
                    return False, [], {}, "sort and payload must differ (use min_n/max_n)", None
                # Mongo semantics with an ascending sortBy: $topN =
                # the FIRST k in sort order, $bottomN = the LAST k.
                # A descending sortBy is expressed by swapping ops.
                distinct = (
                    "topby", name, ds.name, dp.name, k, op == "bottom_by",
                    present_desc,
                )
                continue
            if op in ("min_n", "max_n"):
                # EXACT k smallest/largest values (C23 two-level
                # route, Mongo $minN/$maxN): served when the measured
                # column is a raw dimension — extremes_rollup expands
                # the k extreme values (with duplicates) from the ≤ k
                # boundary cells. Fully retractable, unlike raw
                # min/max measures.
                if path is None:
                    return False, [], {}, f"measure {name}: {op} needs a path", None
                if distinct is not None:
                    return False, [], {}, "one special measure per request", None
                if len(req.measures) != 1:
                    # extremes aggregate over the ≤ k qualifying cells
                    # only; other measures aggregate ALL cells — the
                    # shapes don't compose in a single request
                    return False, [], {}, f"{op} must be the only requested measure", None
                k = int(rest[1]) if len(rest) > 1 else 1
                if k < 1:
                    return False, [], {}, f"measure {name}: k must be >= 1", None
                d = dim_by_path.get(path)
                if d is None or d.granularity is not None:
                    return False, [], {}, f"measured column {path} not a raw dimension", None
                if d.name in gb_names:
                    return False, [], {}, f"measured column {path} is also grouped", None
                distinct = ("minn", name, d.name, k, op == "max_n")
                continue
            if op == "count_distinct":
                # EXACT count-distinct (C19 two-level route): served
                # when the counted column is a raw dimension of the
                # cube — live cells per (group, value) ARE the distinct
                # sets, so `distinct_rollup` answers exactly AND stays
                # retractable. The approximate HLL route is a different
                # op ("distinct"): an exact ask never silently degrades
                # to a sketch estimate.
                if path is None:
                    return False, [], {}, f"measure {name}: count_distinct needs a path", None
                if distinct is not None:
                    return False, [], {}, "one special (count_distinct/quantile_exact) measure per request", None
                d = dim_by_path.get(path)
                if d is None or d.granularity is not None:
                    return False, [], {}, f"counted column {path} not a raw dimension", None
                if d.name in gb_names:
                    return False, [], {}, f"counted column {path} is also grouped", None
                distinct = ("distinct", name, d.name)
                continue
            mine = have.get(name)
            if mine is None:
                # measure identity is (op, source path) — the stored
                # name is labeling. Bind to the first measure whose
                # family serves the op on the same path (count-of-
                # documents, which has no path: any row-counting
                # measure) and surface it under the REQUESTED name —
                # this lets advisor-merged cubes, whose measure names
                # are canonical, serve arbitrarily-named requests.
                same = [
                    x for x in spec.measures
                    if op in FAMILIES[x.op].serves
                    and (x.source_path == path if path is not None
                         else FAMILIES[x.op].counts_rows)
                ]
                if not same:
                    return False, [], {}, f"measure {name} not in cube", None
                mine = same[0]
            elif op not in FAMILIES[mine.op].serves:
                return False, [], {}, f"measure {name}: op {mine.op} != requested {op}", None
            elif path is not None and mine.source_path != path:
                return False, [], {}, (
                    f"measure {name}: path {mine.source_path} != requested {path}"
                ), None
            if mine.op != op:
                # one family, several ops (the dispersion forms share
                # their (Σx, Σx², n) storage): execute() runs the
                # REQUESTED op's finalize over the stored partials
                renames[name] = ("disp", mine.name, op)
            elif mine.name != name:
                renames[name] = mine.name
        if distinct is not None and distinct[0] in ("quantile", "topn", "minn", "topby"):
            # these serving rollups weight cells by row_count_col(spec)
            # (a count measure) — a cube without one would be routed
            # and then crash in execute() instead of letting another
            # cube or the source fallback answer (ADVICE r9)
            try:
                row_count_col(spec)
            except ValueError:
                return False, [], {}, (
                    f"{distinct[0]} route needs a count measure for "
                    "cell multiplicity"
                ), None
        # output-name collisions (ADVICE r8): two requested measures
        # binding the same stored column, duplicate requested names, or
        # a measure name shadowing a grouped dimension would make the
        # served frame ambiguous — refuse and let the source fallback
        # surface the conflict instead of silently mislabeling columns
        out_names = [m if isinstance(m, str) else m[0] for m in req.measures]
        if len(set(out_names)) != len(out_names):
            return False, [], {}, "duplicate requested measure names", None
        if set(out_names) & gb_names:
            return False, [], {}, "measure name collides with a grouped dimension", None
        bound = [renames.get(n, n) for n in out_names if distinct is None or n != distinct[1]]
        if len(set(bound)) != len(bound):
            return False, [], {}, "two requested measures bind the same stored measure", None
        if req.where is not None:
            allowed = set(dim_names)
            # conservative: every identifier in the predicate that is a
            # column must be a dimension name
            refs = _where_columns(req.where) & self._all_known_columns()
            if not refs <= allowed:
                return False, [], {}, "where references non-dimension columns", None
        # a lattice cube serves only group_bys some materialized level covers
        levels = self.catalog.lattice_levels(spec.name)
        if levels is not None:
            needed = set(gb_names)
            if distinct is not None:
                needed.add(distinct[2])
                if distinct[0] == "topby":
                    # the payload dim must ALSO be materialized in the
                    # level — execute() reads both (ADVICE r9): without
                    # this a level covering group_by+sort but not
                    # payload would be routed and crash at serve time
                    needed.add(distinct[3])
            # where-filtered dims must also be present in the level
            if req.where is not None:
                needed |= _where_columns(req.where) & dim_names
            if not any(needed <= set(lv) for lv in levels):
                return False, [], {}, f"no lattice level covers {sorted(needed)}", None
        return True, rewritten, renames, "ok", distinct

    def _all_known_columns(self) -> set[str]:
        cols: set[str] = set()
        for name in self.catalog.list_cubes():
            spec = self.catalog.get_spec(name)
            cols |= set(spec.dim_names)
            cols |= {m.name for m in spec.measures}
            cols |= {m.source_path for m in spec.measures if m.path}
            cols |= {d.source_path for d in spec.dimensions}
        return cols

    # -- cost model (metadata only — routing must launch NO Spark job) ------
    def _cost(
        self, spec: CubeSpec, req: AggregateRequest, rewritten: list,
        distinct: tuple | None = None,
    ) -> int | None:
        """Cells this cube would scan to answer the request, resolved
        from manifest statistics recorded at create/refresh/maintain
        time (catalog.cell_count / level_counts); None when the cube
        has no committed snapshot."""
        levels = self.catalog.lattice_levels(spec.name)
        if levels is None:
            return self.catalog.cell_count(spec.name)
        per_level = self.catalog.level_counts(spec.name)
        if per_level is None:
            return None
        from mongo_olap_spark.cube.lattice import level_mask

        needed = {g if isinstance(g, str) else g[0] for g in rewritten}
        if distinct is not None:
            needed.add(distinct[2])
            if distinct[0] == "topby":
                needed.add(distinct[3])
        if req.where is not None:
            needed |= _where_columns(req.where) & set(spec.dim_names)
        covering = [lv for lv in levels if needed <= set(lv)]
        return min(per_level.get(level_mask(spec, list(lv)), 0) for lv in covering)

    # -- routing ------------------------------------------------------------
    def route(self, req: AggregateRequest) -> RoutingDecision:
        candidates: list[tuple[int, str, list, dict, tuple | None]] = []
        refused: list[str] = []
        unbuilt: list[str] = []
        for name in self.catalog.list_cubes():
            spec = self.catalog.get_spec(name)
            ok, rewritten, renames, why, distinct = self._serves(spec, req)
            if not ok:
                refused.append(f"{name}: {why}")
                continue
            n = self._cost(spec, req, rewritten, distinct)
            if n is None:
                # listed but no committed snapshot (its manifests gone)
                unbuilt.append(f"{name}: no committed snapshot")
            else:
                candidates.append((n, name, rewritten, renames, distinct))
        if not candidates:
            return RoutingDecision(None, "no cube serves the request" + (
                f" ({'; '.join(refused + unbuilt)})" if refused or unbuilt else ""))
        n, name, rewritten, renames, special = min(
            candidates, key=lambda c: (c[0], c[1])
        )
        return RoutingDecision(
            name, f"smallest sufficient cube ({n} cells)"
            + "".join(f"; {u}" for u in unbuilt), rewritten, renames,
            distinct=special[1:] if special and special[0] == "distinct" else None,
            quantile=special[1:] if special and special[0] == "quantile" else None,
            topn=special[1:] if special and special[0] == "topn" else None,
            extremes=special[1:] if special and special[0] == "minn" else None,
            topby=special[1:] if special and special[0] == "topby" else None,
        )

    def execute(self, req: AggregateRequest, source_df: DataFrame | None = None) -> DataFrame:
        """Route and run (see :meth:`run`)."""
        return self.run(req, self.route(req), source_df)

    def run(
        self, req: AggregateRequest, decision: RoutingDecision,
        source_df: DataFrame | None = None,
    ) -> DataFrame:
        """Answer ``req`` as ``decision`` (its :meth:`route`) says.
        Falls back to direct aggregation over ``source_df`` when no
        cube qualifies (the reference would rescan the collection)."""
        from pyspark.sql import functions as F

        if decision.cube is not None:
            spec = self.catalog.get_spec(decision.cube)
            cells = self.catalog.cells(decision.cube)
            levels = self.catalog.lattice_levels(decision.cube)
            if levels is not None:
                # slice to the finest materialized level covering the
                # request, then treat it as a plain cell table
                from mongo_olap_spark.cube.lattice import LEVEL_COL, level_mask

                needed = {g if isinstance(g, str) else g[0] for g in decision.rewritten_group_by}
                if decision.distinct is not None:
                    needed.add(decision.distinct[1])
                if decision.quantile is not None:
                    needed.add(decision.quantile[1])
                if decision.topn is not None:
                    needed.add(decision.topn[1])
                if decision.extremes is not None:
                    needed.add(decision.extremes[1])
                if decision.topby is not None:
                    needed.update(decision.topby[1:3])
                if req.where is not None:
                    needed |= _where_columns(req.where) & set(spec.dim_names)
                covering = [lv for lv in levels if needed <= set(lv)]
                best = min(covering, key=len)  # coarsest covering level = fewest cells
                cells = cells.filter(F.col(LEVEL_COL) == level_mask(spec, list(best))).drop(LEVEL_COL)
            # time re-bucketing: a coarser request granularity over a finer
            # stored dim truncates the stored dim value again
            gb_exprs, gb_names = [], []
            for g in decision.rewritten_group_by:
                if isinstance(g, tuple):
                    name, gran = g
                    gb_exprs.append(F.date_trunc(gran, F.col(name)).alias(name))
                    gb_names.append(name)
                else:
                    gb_exprs.append(F.col(g))
                    gb_names.append(g)
            filtered = cells.filter(req.where) if req.where else cells
            regrouped = filtered.select(
                *gb_exprs, *[c for c in cells.columns if c not in gb_names]
            )
            # (output, stored, op) per requested plain measure: the
            # served frame carries the requested names directly
            special = next((t for t in (decision.topby, decision.extremes, decision.topn,
                                        decision.quantile, decision.distinct)
                            if t is not None), None)
            asks = []
            for m in req.measures:
                want = m if isinstance(m, str) else m[0]
                if special is not None and want == special[0]:
                    continue
                got = decision.measure_renames.get(want, want)
                asks.append((want, got[1], got[2]) if isinstance(got, tuple)
                            else (want, got, spec.measure(got).op))
            if decision.topby is not None:
                from mongo_olap_spark.cube.query import top_by_rollup

                alias, sdim, pdim, k, largest, *pres = decision.topby
                out = top_by_rollup(
                    regrouped, spec, gb_names, sdim, pdim, k,
                    largest=largest, present_desc=bool(pres and pres[0]),
                    alias=alias,
                )
            elif decision.extremes is not None:
                from mongo_olap_spark.cube.query import extremes_rollup

                alias, edim, k, largest = decision.extremes
                out = extremes_rollup(
                    regrouped, spec, gb_names, edim, k, largest=largest,
                    alias=alias,
                )
            elif decision.topn is not None:
                from mongo_olap_spark.cube.query import topk_rollup

                alias, tdim, k = decision.topn
                out = topk_rollup(
                    regrouped, spec, gb_names, tdim, k, alias=alias,
                )
            elif decision.quantile is not None:
                from mongo_olap_spark.cube.query import quantile_rollup

                alias, qdim, q = decision.quantile
                out = quantile_rollup(
                    regrouped, spec, gb_names, qdim, q, alias=alias,
                )
            elif decision.distinct is not None:
                from mongo_olap_spark.cube.query import distinct_rollup

                alias, ddim = decision.distinct
                out = distinct_rollup(
                    regrouped, spec, gb_names, ddim,
                    alias=alias, measures=asks or None,
                )
            else:
                out = query_cube(regrouped, spec, group_by=gb_names, measures=asks or None)
            return out
        if source_df is None:
            raise ValueError(f"no cube serves request and no source_df given: {decision.reason}")
        # direct fallback: build the aggregation from the request
        from mongo_olap_spark.cube.build import build_cube
        from mongo_olap_spark.cube.spec import Dimension, Measure

        dims = tuple(
            Dimension(name=(g if isinstance(g, str) else f"{g[0]}_{g[1]}"),
                      path=(None if isinstance(g, str) else g[0]),
                      granularity=(None if isinstance(g, str) else g[1]))
            for g in req.group_by
        )

        def two_level(extra: dict, measures=None):
            """Source cells keyed by the group_by dims plus ``extra``
            ({dim name: source path}) — the exact two-level shape the
            special measures are served from — filtered by ``where``."""
            tmp = CubeSpec(
                name="adhoc", source=req.source,
                dimensions=dims + tuple(Dimension(n, path=p) for n, p in extra.items()),
                measures=measures, filter_sql=req.filter_sql,
            )
            cells = build_cube(None, tmp, source_df)
            return (cells.filter(req.where) if req.where else cells), tmp

        def dim(prefix: str, path: str) -> str:
            return prefix + re.sub(r"[^A-Za-z0-9_]+", "_", path)

        def asked(*ops, min_len=3):
            return [m for m in req.measures
                    if isinstance(m, tuple) and len(m) >= min_len and m[1] in ops]

        gb = [d.name for d in dims]
        # each special measure falls back through the same exact
        # two-level shape it would be served from
        cd = asked("count_distinct")
        if len(cd) > 1:
            raise ValueError("one count_distinct measure per request")
        for ops, min_len in ((("quantile_exact",), 3), (("top_by", "bottom_by"), 4),
                             (("min_n", "max_n"), 3), (("topn",), 3)):
            if asked(*ops, min_len=min_len) and len(req.measures) != 1:
                raise ValueError(f"{'/'.join(ops)} must be the only requested measure")
        qe = asked("quantile_exact")
        if qe:
            from mongo_olap_spark.cube.query import quantile_rollup

            alias, _, q_path, *qq = qe[0]
            if qq and isinstance(qq[0], (list, tuple)):
                q = tuple(float(x) for x in qq[0])
            else:
                q = float(qq[0]) if qq else 0.5
            qdim = dim("__qe_", q_path)
            cells, tmp = two_level({qdim: q_path}, (Measure("__qe_count", "count"),))
            return quantile_rollup(cells, tmp, gb, qdim, q, alias=alias)
        tb = asked("top_by", "bottom_by", min_len=4)
        if tb:
            from mongo_olap_spark.cube.query import top_by_rollup

            alias, op_, s_path, p_path, *kk = tb[0]
            sdim, pdim = dim("__tb_s_", s_path), dim("__tb_p_", p_path)
            cells, tmp = two_level({sdim: s_path, pdim: p_path},
                                   (Measure("__tb_count", "count"),))
            return top_by_rollup(
                cells, tmp, gb, sdim, pdim, int(kk[0]) if kk else 1,
                largest=(op_ == "bottom_by"),
                present_desc=bool(kk[1]) if len(kk) > 1 else False, alias=alias,
            )
        mn = asked("min_n", "max_n")
        if mn:
            from mongo_olap_spark.cube.query import extremes_rollup

            alias, op_, e_path, *kk = mn[0]
            edim = dim("__mn_", e_path)
            cells, tmp = two_level({edim: e_path}, (Measure("__mn_count", "count"),))
            return extremes_rollup(cells, tmp, gb, edim, int(kk[0]) if kk else 1,
                                   largest=(op_ == "max_n"), alias=alias)
        tn = asked("topn")
        if tn:
            from mongo_olap_spark.cube.query import topk_rollup

            alias, _, t_path, *kk = tn[0]
            tdim = dim("__tn_", t_path)
            cells, tmp = two_level({tdim: t_path}, (Measure("__tn_count", "count"),))
            return topk_rollup(cells, tmp, gb, tdim, int(kk[0]) if kk else 5, alias=alias)
        for m in req.measures:
            if isinstance(m, tuple) and len(m) >= 2 and m[1] == "quantile":
                # a histogram sketch needs a declared range — there is
                # nothing honest to synthesize from an ad-hoc request
                raise ValueError(
                    f"measure {m[0]}: no cube holds a quantile sketch on "
                    f"{m[2] if len(m) > 2 else '?'} and a source fallback "
                    "cannot pick histogram bounds for you. Either create a "
                    "cube with Measure(op='quantile', lo=, hi=, nbins=) or "
                    "request ('" + str(m[0]) + "', 'quantile_exact', path, q) "
                    "for the exact two-level route."
                )
            if isinstance(m, tuple) and len(m) >= 2 and m[1] == "topk":
                # the map summary's capacity is a spec decision — there
                # is nothing honest to synthesize from an ad-hoc request
                raise ValueError(
                    f"measure {m[0]}: no cube holds a topk summary on "
                    f"{m[2] if len(m) > 2 else '?'} and a source fallback "
                    "cannot pick its capacity for you. Either create a "
                    "cube with Measure(op='topk', k=, max_items=) or "
                    "request ('" + str(m[0]) + "', 'topn', path, k) for "
                    "the exact two-level route."
                )
        rest = tuple(
            Measure(*m) if isinstance(m, tuple) else Measure(m, "count")
            for m in req.measures if not (isinstance(m, tuple) and m in cd)
        )
        if cd:
            from mongo_olap_spark.cube.query import distinct_rollup

            alias, _, cd_path = cd[0][:3]
            ddim = dim("__cd_", cd_path)
            cells, tmp = two_level({ddim: cd_path}, rest or (Measure("__cd_count", "count"),))
            out = distinct_rollup(
                cells, tmp, gb, ddim,
                alias=alias, measures=[m.name for m in rest] or None,
            )
            return out.drop("__cd_count") if not rest else out
        cells, tmp = two_level({}, rest)
        return query_cube(cells, tmp)
