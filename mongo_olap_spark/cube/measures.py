"""Measure families: the one table of cube measure semantics.

Every measure op is a mergeable summary (Gray et al.'s distributive /
algebraic / holistic split; Agarwal et al., "Mergeable Summaries",
PODS'12): build partials from source rows, merge partials, finalize
the answer. This module is the only place an op's semantics live:

- :data:`PARTIALS` has one :class:`Partial` per storage-column suffix:
  its one merge, a cross-cell aggregate (rollup, ``combine_cells``,
  the two-level build's level 2, the IVM merge of deltas into cells),
  and the value of a group with no rows (``evolve`` backfill misses).
- :data:`FAMILIES` has one :class:`MeasureFamily` per op: its partials,
  its plain and signed build aggregates, its finalize, and its flags.
  The four dispersion ops share one family; ``serves`` is how a stored
  ``var_pop`` answers a ``stddev_samp`` request.

Adding an op means adding its family (and any new partial kind) here.

Spark notes kept from the builders: every multi-bin expression is ONE
``F.expr`` SQL string, not per-bin Column calls — in classic (py4j)
mode each Column operation is a driver round trip, and ~600 of them
cost >1 s of plan time per micro-batch (measured r9); the single-string
form plans in ~10 ms. No UDFs anywhere: every partial is a native,
map-side-combined aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from mongo_olap_spark.functions.expressions import SUM_DECIMAL

if TYPE_CHECKING:
    from mongo_olap_spark.cube.spec import CubeSpec, Measure


# -- build aggregates -------------------------------------------------------

def hist_bin_sql(m: Measure) -> str:
    """SQL for the 1-based storage index of a quantile measure's bin:
    0 = underflow (< lo), 1..nbins = [lo, hi) in fixed linear bins,
    nbins + 1 = overflow (≥ hi). NULL for NULL input (no bin)."""
    lo, hi, nb = float(m.lo), float(m.hi), int(m.nbins)
    w = (hi - lo) / nb
    s = f"({m.source_path})"
    return (
        f"(CASE WHEN {s} IS NULL THEN CAST(NULL AS INT) "
        f"ELSE least({nb + 1}, greatest(0, "
        f"CAST(floor((CAST({s} AS DOUBLE) - {lo!r}D) / {w!r}D) + 1 AS INT))) END)"
    )


def hist_bank(bin_sql: str, nbins: int, weight_sql: str) -> Column:
    """Fixed-bin histogram as ONE aggregate: an array of nbins + 2
    per-bin ``sum(CASE WHEN bin = i THEN weight ELSE 0)`` — JVM-side,
    whole-stage-codegen'd, map-side combined; the array wrapper is a
    post-aggregation projection. Per-cell state is a fixed
    ~8·(nbins+2)-byte vector regardless of source size."""
    elems = ", ".join(
        f"sum(CASE WHEN {bin_sql} = {i} THEN {weight_sql} ELSE 0L END)"
        for i in range(nbins + 2)
    )
    return F.expr(f"array({elems})")


def weight_sql(mult: str | None) -> str:
    return "1L" if mult is None else f"CAST({mult} AS BIGINT)"


def _topk_agg(m: Measure, mult: str | None) -> Column:
    """Bounded frequent-items partial: a map<item, long> of the cell's
    up-to-``max_items`` most frequent values, built from the native
    ``approx_top_k`` (Datasketches frequent-items) with k =
    maxItemsTracked = the measure's capacity, so the FULL tracked state
    is extracted, not just the top k. The ``filter`` drops the NULL
    item (NULL never counts — SQL COUNT semantics). An all-null/empty
    cell yields an empty map, never SQL NULL.

    With ``mult`` only insert rows (+1) accumulate: truncation discards
    evicted items' history, so a delete takes the bounded cell-rescan
    repair, like min/max/HLL. EXACT while a cell's cardinality ≤
    max_items (verified at the boundary: 10k distinct @ 10k capacity
    returns all items with exact counts)."""
    s = f"({m.source_path})"
    if mult is not None:
        s = f"(CASE WHEN CAST({mult} AS BIGINT) > 0 THEN {s} END)"
    cap = m.capacity
    return F.expr(
        f"map_from_entries(filter(approx_top_k({s}, {cap}, {cap}), "
        "e -> e.item IS NOT NULL))"
    )


def _inserts(src: Column, mult: str | None) -> Column:
    """``src`` on insert rows only: the non-retractable partials
    (min/max/HLL) accumulate inserts; a delete touching one forces a
    cell recompute (streaming/ivm)."""
    return src if mult is None else F.when(F.col(mult).cast("long") > 0, src)


def _sum_part(src: Column, mult: str | None) -> Column:
    x = src.cast(SUM_DECIMAL)
    return F.sum(x if mult is None else x * F.col(mult).cast("long"))


def _nonnull_count(src: Column, mult: str | None) -> Column:
    """Count of non-null values: non-nullable ``F.count`` on the plain
    build, nullable signed ``F.sum`` on the delta path."""
    if mult is None:
        return F.count(src)
    return F.sum(F.when(src.isNotNull(), F.col(mult).cast("long")).otherwise(F.lit(0)))


def _sum2_part(src: Column, mult: str | None) -> Column:
    # x² squared in DOUBLE first (a decimal(38,6)² overflows the type),
    # then accumulated as an exact decimal
    d = src.cast("double")
    sq = (d * d).cast(SUM_DECIMAL)
    return F.sum(sq if mult is None else sq * F.col(mult).cast("long"))


def _build_count(m, mult):
    return [F.count(F.lit(1)) if mult is None else F.sum(F.col(mult).cast("long"))]


def _build_topk(m, mult):
    src = F.expr(m.source_path)
    if mult is None:
        # {m}_tkn = the cell's true item mass (non-null rows): the
        # serve compares it to the map's Σcounts — equality certifies
        # the sketch never purged, i.e. the EXACT regime (r15, found
        # at sf100: a saturated approx_top_k returns an EMPTY result)
        mass = F.count(src)
    else:
        sign = F.col(mult).cast("long")
        mass = F.sum(F.when((sign > 0) & src.isNotNull(), sign)
                     .otherwise(F.lit(0))).cast("long")
    return [_topk_agg(m, mult), mass]


def _build_hll(m, mult):
    # null inputs contribute nothing; an all-null/empty group yields an
    # empty sketch (estimate 0), never SQL NULL
    col = _inserts(F.expr(m.source_path), mult)
    return [F.hll_sketch_agg(col) if m.lgk is None else F.hll_sketch_agg(col, m.lgk)]


def _build_hist(m, mult):
    # signed bin counts: insert adds, delete retracts — integer vector
    # addition, so the sketch IS retraction-maintainable
    return [hist_bank(hist_bin_sql(m), int(m.nbins), weight_sql(mult))]


# -- merge aggregates -------------------------------------------------------

def hist_sum_expr(col: str, nbins: int) -> Column:
    """Roll histogram cells up to a group: element-wise sum of the bin
    vectors as nbins + 2 ``sum(element_at(...))`` aggregates wrapped
    back into an array — O(groups · nbins) state, never a rescan."""
    elems = ", ".join(
        f"coalesce(sum(element_at(`{col}`, {i + 1})), 0L)" for i in range(nbins + 2)
    )
    return F.expr(f"array({elems})")


def _entries_desc(m_col: Column) -> Column:
    """Map entries ordered count desc, item asc — the deterministic
    order both truncation and top-k presentation use."""
    return F.array_sort(
        F.map_entries(m_col),
        lambda a, b: F.when(a["value"] > b["value"], -1)
        .when(a["value"] < b["value"], 1)
        .when(a["key"] < b["key"], -1)
        .when(a["key"] > b["key"], 1)
        .otherwise(0)
        .cast("int"),
    )


def topk_truncate_expr(m: Column, max_items: int) -> Column:
    """Cap a frequent-items map at ``max_items`` entries, evicting the
    smallest counts (ties by item asc — reproducible across merge
    orders). No-op (and no sort) when already within capacity."""
    return F.when(
        F.size(m) > max_items,
        F.map_from_entries(F.slice(_entries_desc(m), 1, max_items)),
    ).otherwise(m)


def topk_merge_expr(a: Column, b: Column, max_items: int) -> Column:
    """Scalar merge of two frequent-items maps: per-item count sum
    (``map_zip_with``), then truncate back to capacity — the
    mergeable-summaries union, exact while the union cardinality stays
    ≤ max_items."""
    zero = F.lit(0).cast("long")
    merged = F.map_zip_with(
        a, b, lambda k, x, y: F.coalesce(x, zero) + F.coalesce(y, zero)
    )
    return topk_truncate_expr(merged, max_items)


def topk_union_agg(col: str, max_items: int) -> Column:
    """Roll frequent-items cells up to a group: ``collect_list`` + an
    ``aggregate`` HOF fold with :func:`topk_merge_expr`. Per-group
    transient state is O(cells_in_group · max_items) entries; the
    exact serve goes through ``query_cube``'s explode route instead."""
    lst = F.collect_list(col)
    merged = F.aggregate(
        F.slice(lst, F.lit(2), F.greatest(F.size(lst) - 1, F.lit(0))),
        F.element_at(lst, 1),
        lambda acc, mm: topk_merge_expr(acc, mm, max_items),
    )
    # collect_list skips NULL maps; an all-empty group folds to {}.
    # size(lst) == 0 (no cells at all) yields NULL — callers coalesce.
    return F.when(F.size(lst) == 0, F.lit(None)).otherwise(merged)


# -- finalize ---------------------------------------------------------------

def hist_quantile_expr(hist: Column, q: float, m: Measure) -> Column:
    """Quantile estimate from a (rolled-up) histogram vector.

    Deterministic inverse-CDF with linear interpolation inside the
    target bin: find the first bin whose cumulative count reaches
    ``q · total`` (skipping empty bins), interpolate by the overshoot
    fraction. Underflow/overflow mass clamps to lo/hi. NULL when the
    histogram is empty. Pure expression tree (aggregate/transform HOFs
    over a ~nbins-long array), O(nbins²) scalar ops per output row.
    """
    lo, hi, nb = float(m.lo), float(m.hi), int(m.nbins)
    if not (0.0 < q <= 1.0):
        raise ValueError(f"quantile q must be in (0, 1], got {q}")
    w = (hi - lo) / nb
    zero = F.lit(0).cast("long")
    total = F.aggregate(hist, zero, lambda a, x: a + x)
    target = F.lit(float(q)) * total.cast("double")
    # cums[i+1] = count of the first i bins (leading 0 ⇒ 1-based prev)
    cums = F.aggregate(
        hist,
        F.array(zero),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) + x)),
    )
    # first 1-based bin whose cumulative reaches the target rank and
    # that holds mass (minimality ⇒ prev cumulative < target, so
    # frac ∈ (0, 1])
    flags = F.transform(
        F.sequence(F.lit(1), F.lit(nb + 2)),
        lambda i: (F.element_at(cums, (i + 1).cast("int")).cast("double") >= target)
        & (F.element_at(hist, i.cast("int")) > 0),
    )
    i = F.array_position(flags, F.lit(True))
    prev = F.element_at(cums, i.cast("int")).cast("double")
    cnt = F.element_at(hist, i.cast("int")).cast("double")
    left = F.lit(lo) + (i.cast("double") - 2.0) * F.lit(w)
    frac = F.greatest(F.lit(0.0), F.least(F.lit(1.0), (target - prev) / cnt))
    return (
        F.when(total <= 0, F.lit(None).cast("double"))
        .when(i == 0, F.lit(None).cast("double"))
        .when(i == 1, F.lit(lo))  # underflow mass → range edge
        .when(i == nb + 2, F.lit(hi))  # overflow mass → range edge
        .otherwise(left + F.lit(w) * frac)
    )


def topk_entries_expr(m_col: Column, k: int) -> Column:
    """Top-k entries of a frequent-items map as an ordered
    ``array<struct<item, count>>`` (count desc, item asc)."""
    return F.transform(
        F.slice(_entries_desc(m_col), 1, k),
        lambda e: F.struct(e["key"].alias("item"), e["value"].alias("count")),
    )


_POP = ("var_pop", "stddev_pop")


def dispersion_expr(op: str, s: Column, s2: Column, cnt: Column) -> Column:
    """Variance/stddev from (Σx, Σx², n) partials — the single-pass
    E[x²] − mean² form, clamped at 0 against floating cancellation.
    Every float step is a fixed IEEE expression, so an oracle
    mirroring it over the same exact partials is bit-identical. Sample
    forms divide by n − 1 and are NULL for n < 2 (Mongo $stdDevSamp
    semantics); an all-null group yields NULL (empty SUM is NULL)."""
    n = cnt.cast("double")
    sd = s.cast("double")
    s2d = s2.cast("double")
    mean = sd / n
    if op in _POP:
        # the n >= 1 gate is explicit because greatest() SKIPS nulls —
        # clamping an all-null group's NULL variance would turn it 0.0
        v = F.when(cnt < 1, F.lit(None).cast("double")).otherwise(
            F.greatest(s2d / n - mean * mean, F.lit(0.0))
        )
    else:
        v = F.when(cnt < 2, F.lit(None).cast("double")).otherwise(
            F.greatest((s2d - n * (mean * mean)) / (n - F.lit(1.0)), F.lit(0.0))
        )
    return F.sqrt(v) if op.startswith("stddev") else v


def dispersion_sql(op: str, name: str, *, rollup: bool = True) -> str:
    """The ANSI twin of :func:`dispersion_expr` over the same storage
    columns — mirrored operation-for-operation so DuckDB reproduces
    the exact IEEE result (used by oracle queries and tests)."""
    wrap = (lambda c: f"SUM({c})") if rollup else (lambda c: c)
    s = f"CAST({wrap(f'{name}_sum')} AS DOUBLE)"
    s2 = f"CAST({wrap(f'{name}_sum2')} AS DOUBLE)"
    n = f"CAST({wrap(f'{name}_cnt')} AS DOUBLE)"
    mean = f"({s} / {n})"
    if op in _POP:
        v = (
            f"CASE WHEN {n} < 1 THEN NULL ELSE "
            f"greatest({s2} / {n} - {mean} * {mean}, 0.0) END"
        )
    else:
        v = (
            f"CASE WHEN {n} < 2 THEN NULL ELSE "
            f"greatest(({s2} - {n} * ({mean} * {mean})) / ({n} - 1.0), 0.0) END"
        )
    return f"sqrt({v})" if op.startswith("stddev") else v


# -- the table --------------------------------------------------------------

@dataclass(frozen=True)
class Partial:
    """One storage-column kind, ``<measure name><suffix>``."""

    #: cross-cell merge aggregate over the named column: rollup,
    #: ``combine_cells``, the two-level build's level 2 and IVM
    rollup: Callable[[str, Measure], Column]
    #: SQL value of a group with no rows, where that is not NULL
    #: (``evolve`` backfill misses; cast to the stored type)
    empty: str | None = None


PARTIALS: dict[str, Partial] = {
    "_cnt": Partial(lambda c, m: F.sum(c), empty="0"),
    # sums skip NULLs: an all-NULL group's sum stays an empty SUM
    "_sum": Partial(lambda c, m: F.sum(c)),
    "_sum2": Partial(lambda c, m: F.sum(c)),
    "_min": Partial(lambda c, m: F.min(c)),
    "_max": Partial(lambda c, m: F.max(c)),
    "_hll": Partial(lambda c, m: F.hll_union_agg(c)),
    # signed element-wise addition: a delete's −1 bins cancel an
    # insert's +1 bins, so merge equals rebuild in any batch order
    "_hist": Partial(lambda c, m: hist_sum_expr(c, int(m.nbins))),
    # insert deltas only: a delete touching a topk cube takes the
    # bounded cell rescan (ivm.recompute_cells)
    "_tk": Partial(lambda c, m: topk_union_agg(c, m.capacity), empty="map()"),
    # the map travels with its MASS (signed count of non-null rows):
    # serve-time mass conservation certifies the exact regime
    "_tkn": Partial(lambda c, m: F.sum(c), empty="0"),
}


#: ``finalize(measure, op, col)``: the answer from one measure's
#: partials, ``col(suffix)`` giving each partial as a Column — merge
#: aggregates for a rollup, plain columns for one-group-per-row cells
Finalize = Callable[["Measure", str, Callable[[str], Column]], Column]


@dataclass(frozen=True)
class MeasureFamily:
    """One measure op's semantics (shared by ops of one storage shape)."""

    partials: tuple[str, ...]
    #: build aggregates, one per partial: plain without ``mult``,
    #: signed with a ±1 multiplicity column name
    build: Callable[[Measure, str | None], list[Column]]
    finalize: Finalize
    #: request ops a stored measure of this family answers; the first
    #: is the family's canonical op
    serves: tuple[str, ...]
    #: deletes apply to the stored partials by signed addition
    retractable: bool
    #: partials re-aggregate EXACTLY through an intermediate grouping
    #: (gate of the two-level build); sketch bytes are merge-path
    #: sensitive even when their estimates agree
    reaggregable: bool
    #: its count partial counts ROWS: the cell multiplicity that IVM
    #: eviction and the exact two-level routes weight cells by
    counts_rows: bool = False
    #: the stored answer is a bounded-error sketch
    sketch: bool = False


def _from_src(*parts: Callable[[Column, str | None], Column]):
    """A family build: one builder per partial over the measure's
    source expression."""
    def build(m, mult):
        src = F.expr(m.source_path)
        return [p(src, mult) for p in parts]
    return build


def _min(src, mult):
    return F.min(_inserts(src, mult))


def _max(src, mult):
    return F.max(_inserts(src, mult))


#: the variance/stddev forms: one (Σx, Σx², n) storage shape
DISPERSION_OPS = ("var_pop", "var_samp", "stddev_pop", "stddev_samp")

_DISPERSION = MeasureFamily(
    partials=("_sum", "_sum2", "_cnt"),
    build=_from_src(_sum_part, _sum2_part, _nonnull_count),
    finalize=lambda m, op, col: dispersion_expr(op, col("_sum"), col("_sum2"), col("_cnt")),
    serves=DISPERSION_OPS, retractable=True, reaggregable=True,
)

FAMILIES: dict[str, MeasureFamily] = {
    "count": MeasureFamily(
        partials=("_cnt",), build=_build_count,
        finalize=lambda m, op, col: col("_cnt").cast("long"),
        serves=("count",), retractable=True, reaggregable=True, counts_rows=True),
    "sum": MeasureFamily(
        partials=("_sum",), build=_from_src(_sum_part),
        finalize=lambda m, op, col: col("_sum").cast("double"),
        serves=("sum",), retractable=True, reaggregable=True),
    # avg is never stored: (sum, non-null count), derived at query time
    "avg": MeasureFamily(
        partials=("_sum", "_cnt"), build=_from_src(_sum_part, _nonnull_count),
        # no non-null value (a retracted group keeps _sum 0): NULL, not 0/0
        finalize=lambda m, op, col: F.when(
            col("_cnt") != 0, col("_sum").cast("double") / col("_cnt")),
        serves=("avg",), retractable=True, reaggregable=True),
    # min/max: the runner-up is not derivable from the stored partial
    "min": MeasureFamily(
        partials=("_min",), build=_from_src(_min),
        finalize=lambda m, op, col: col("_min"),
        serves=("min",), retractable=False, reaggregable=True),
    "max": MeasureFamily(
        partials=("_max",), build=_from_src(_max),
        finalize=lambda m, op, col: col("_max"),
        serves=("max",), retractable=False, reaggregable=True),
    # HLL sketch: union-mergeable, not retractable
    "distinct": MeasureFamily(
        partials=("_hll",), build=_build_hll,
        finalize=lambda m, op, col: F.hll_sketch_estimate(col("_hll")),
        serves=("distinct",), retractable=False, reaggregable=False, sketch=True),
    # fixed-bin signed histogram: retractable, unlike min/max/HLL
    "quantile": MeasureFamily(
        partials=("_hist",), build=_build_hist,
        finalize=lambda m, op, col: hist_quantile_expr(col("_hist"), m.default_q, m),
        serves=("quantile",), retractable=True, reaggregable=True, sketch=True),
    # frequent-items map: truncation discards evicted items' history,
    # so not retractable
    "topk": MeasureFamily(
        partials=("_tk", "_tkn"), build=_build_topk,
        finalize=lambda m, op, col: topk_entries_expr(col("_tk"), m.default_k),
        serves=("topk",), retractable=False, reaggregable=False, sketch=True),
    **{op: _DISPERSION for op in DISPERSION_OPS},
}


def storage(m: Measure) -> list[tuple[str, str]]:
    """``(column, suffix)`` per storage column of ``m``."""
    return [(f"{m.name}{s}", s) for s in FAMILIES[m.op].partials]


def build_aggs(m: Measure, mult: str | None = None) -> list[Column]:
    """Aliased build aggregates of one measure (signed with ``mult``)."""
    return [a.alias(c) for a, (c, _) in
            zip(FAMILIES[m.op].build(m, mult), storage(m))]


def rollup_aggs(m: Measure) -> list[Column]:
    """Aliased cross-cell merge aggregates of one measure's partials."""
    return [PARTIALS[s].rollup(c, m).alias(c) for c, s in storage(m)]


def finalize(m: Measure, col: Callable[[str], Column], op: str | None = None) -> Column:
    """``m``'s answer for ``op`` (default its own), from ``col(suffix)``."""
    op = m.op if op is None else op
    fam = FAMILIES[m.op]
    if op not in fam.serves:
        raise ValueError(f"measure {m.name!r} ({m.op}) cannot serve op {op!r}")
    return fam.finalize(m, op, col)


def rollup_expr(m: Measure, op: str | None = None) -> Column:
    """``finalize`` over the cross-cell merge aggregates."""
    return finalize(m, lambda s: PARTIALS[s].rollup(f"{m.name}{s}", m), op)


def cell_expr(m: Measure, op: str | None = None) -> Column:
    """``finalize`` over plain partial columns, for cells that already
    are one output group each (an exact lattice-level hit)."""
    return finalize(m, lambda s: F.col(f"{m.name}{s}"), op)


def row_count_col(spec: CubeSpec) -> str:
    """The storage column holding cell row multiplicity — used to evict
    empty cells after retraction and to weight cells in the exact
    two-level routes. Only a row-counting family qualifies: an avg's
    count partial counts non-null VALUES, so a cell of NULLs would
    read as empty."""
    for m in spec.measures:
        if FAMILIES[m.op].counts_rows:
            return storage(m)[0][0]
    raise ValueError(
        f"cube {spec.name}: retraction needs a count measure to track "
        "cell multiplicity; add a count measure"
    )
