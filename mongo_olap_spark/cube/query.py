"""Cube querying: slice/dice + rollup to a dimension subset.

The reference answers ``{cube, groupBy ⊆ dims, filters on dims,
measures}`` from the materialized cells instead of the raw collection.
Cells store decomposed partials, so second-level aggregation is each
measure's finalize over its partials' merge aggregates (the
measure-family table, cube/measures.py), e.g.

    avg  → SUM(partial_sum) / SUM(partial_cnt)   (derived, never stored)

Because sums are exact DECIMAL partials, a rollup is *bit-identical*
to direct aggregation of the source — the pre-aggregation is invisible
to correctness (property-tested in tests/test_cube.py).

Scale notes: a cube query scans O(|cells|), shuffles O(|rollup
groups|); with the cell table partitioned on the coarse time dim,
time-range slices prune partitions before the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_olap_spark.cube.measures import (
    DISPERSION_OPS,
    hist_quantile_expr,
    hist_sum_expr,
    rollup_aggs,
    rollup_expr,
    row_count_col,
)
from mongo_olap_spark.cube.spec import CubeSpec, Measure

#: unique token prefixing every in-plan topk exactness-certificate
#: raise_error message. Callers that catch the raise to select an
#: exact-source fallback (q_cube_topn) MUST match this token, not the
#: prose — an unrelated error whose message happens to mention "topk
#: measure" must propagate, not silently trigger a full source
#: recompute (optimization r17, VERDICT r16 item 5).
TOPK_CERT_SENTINEL = "[TOPK-CERT-E417]"


def measure_asks(spec: CubeSpec, measures: list | None) -> list[tuple[str, Measure, str]]:
    """``(output name, stored measure, op)`` per requested measure. A
    name asks for a stored measure as itself; an ``(output, stored,
    op)`` triple asks a stored measure for another op its family
    serves (a stored ``var_pop`` answering ``stddev_samp``)."""
    if measures is None:
        return [(m.name, m, m.op) for m in spec.measures]
    out = []
    for x in measures:
        if isinstance(x, str):
            m = spec.measure(x)
            out.append((x, m, m.op))
        else:
            name, stored, op = x
            out.append((name, spec.measure(stored), op))
    return out


def _rollups(asks: list[tuple[str, Measure, str]]) -> list[Column]:
    return [rollup_expr(m, op).alias(out) for out, m, op in asks]


def measure_rollup_exprs(spec: CubeSpec, measures: list | None = None) -> list[Column]:
    """Second-level aggregate expressions over cell partials: each
    measure's finalize over its partials' merge aggregates, named by
    the requested output (see :func:`measure_asks`)."""
    return _rollups(measure_asks(spec, measures))


def _slice(cells: DataFrame, spec: CubeSpec, group_by: list[str] | None,
           where: Column | str | None, **value_dims: str) -> tuple[DataFrame, list[str]]:
    """Check ``group_by`` ⊆ the cube's dims (None = all of them) and
    each named value dim (a dim, not grouped); return the cells
    filtered by ``where`` (dimension columns only) and the group_by."""
    dims = spec.dim_names
    group_by = dims if group_by is None else group_by
    for what, c in value_dims.items():
        if c not in dims:
            raise ValueError(f"{what} {c!r} not a cube dimension")
    unknown = set(group_by) - set(dims)
    if unknown:
        raise ValueError(f"group_by not in cube dims: {sorted(unknown)}")
    for what, c in value_dims.items():
        if c in group_by:
            raise ValueError(f"{what} {c!r} cannot also be grouped")
    return (cells if where is None else cells.filter(where)), group_by


def query_cube(
    cells: DataFrame,
    spec: CubeSpec,
    group_by: list[str] | None = None,
    where: Column | str | None = None,
    measures: list[str] | None = None,
    on_inexact: str = "error",
) -> DataFrame:
    """Answer an aggregate query from cube cells.

    ``group_by`` must be a subset of the cube's dimensions; ``where``
    may reference dimension columns only (it filters *cells*). When
    ``group_by`` is None, all dims are kept (pure slice — still
    re-aggregated so the output carries measure columns, not partials).
    ``measures`` holds names or ``(output, stored, op)`` triples (see
    :func:`measure_asks`); None asks for every measure.

    ``topk`` (frequent-items map) measures are served through the
    explode route — maps explode to postings, a hash aggregate sums
    per (group, item) with map-side combine, a windowed rank keeps k,
    and the ordered entries reassemble per group — NOT by folding the
    maps with mid-merge truncation. The fold is exact only while the
    union cardinality stays <= the measure's capacity; the explode
    route is exact whenever the CELLS are exact (per-cell cardinality
    <= capacity), a strictly larger regime, and it is merge-order
    deterministic. Scale: the fold holds O(cells_in_group * capacity)
    entries in ONE aggregation buffer per group (a skew hazard at 1000
    executors); the explode route shuffles the same mass as DISTRIBUTED
    rows and its rank filter compiles to a partial WindowGroupLimit.
    The r14 sf10 gate caught the fold undercounting a wide rollup
    (150k distinct users folded through a 65536-entry map).

    ``on_inexact`` (r15): the serve certifies the exact regime by MASS
    CONSERVATION — each topk cell stores the true non-null row mass
    (``{m}_tkn``, maintained by build/IVM alongside the map); the
    merged map's Σcounts must equal Σmass per group. The sf100 probe
    found the regime exit is not graceful truncation: a saturated
    ``approx_top_k`` (Datasketches frequent-items) PURGES and can
    return an EMPTY result — served silently, that is a wrong answer
    with no signal. Default ``'error'`` raises at execution naming the
    measure and the remedies (raise max_items; materialize the exact
    two-level ``topk_rollup`` cube — the route the router already
    uses for $topN; or opt into ``on_inexact='sketch'`` for the
    documented bounded-error serve).
    """
    if on_inexact not in ("error", "sketch"):
        raise ValueError(
            f"on_inexact must be 'error' or 'sketch', got {on_inexact!r}")
    df, group_by = _slice(cells, spec, group_by, where)
    asks = measure_asks(spec, measures)
    topks = [(out, m) for out, m, _ in asks if m.op == "topk"]
    if not topks:
        return df.groupBy(*group_by).agg(*_rollups(asks))

    from pyspark.sql import Window

    others = [a for a in asks if a[1].op != "topk"]
    if others:
        base = df.groupBy(*group_by).agg(*_rollups(others))
    else:
        # still one row per group: aggregate a throwaway count
        base = df.groupBy(*group_by).agg(F.count(F.lit(1)).alias("__g")) \
                 .drop("__g")
    for out, m in topks:
        col = f"{m.name}_tk"
        posts = df.select(*group_by, F.explode(col).alias("__i", "__c"))
        counted = posts.groupBy(*group_by, "__i").agg(
            F.sum("__c").cast("long").alias("__cnt"))
        part = [F.col(c) for c in group_by] if group_by else [F.lit(1)]
        w = Window.partitionBy(*part).orderBy(
            F.col("__cnt").desc(), F.col("__i").asc())
        ranked = (counted.withColumn("__r", F.row_number().over(w))
                  .filter(F.col("__r") <= m.default_k))
        arr = ranked.groupBy(*group_by).agg(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__r").alias("r"),
                             F.col("__i").alias("item"),
                             F.col("__cnt").alias("count")))),
                lambda e: F.struct(e["item"].alias("item"),
                                   e["count"].alias("count")),
            ).alias(out))
        if group_by:
            base = base.join(arr, list(group_by), "left")
        else:
            base = base.crossJoin(arr)
        # a group whose maps were all empty has no postings: surface
        # the same empty array the fold route emitted, not NULL
        base = base.withColumn(
            out,
            F.coalesce(F.col(out),
                       F.array().cast(arr.schema[out].dataType)))
        if on_inexact == "error":
            # mass conservation: the merged map's Σcounts must equal
            # the cells' true row mass, or the sketch purged somewhere
            # (exact-regime exit). Guard rides the measure column so
            # column pruning can never drop it.
            got = counted.groupBy(*group_by).agg(
                F.sum("__cnt").cast("long").alias(f"__got_{out}"))
            want = df.groupBy(*group_by).agg(
                F.sum(f"{m.name}_tkn").cast("long").alias(f"__want_{out}"))
            if group_by:
                base = (base.join(got, list(group_by), "left")
                        .join(want, list(group_by), "left"))
            else:
                base = base.crossJoin(got).crossJoin(want)
            mismatch = (F.coalesce(F.col(f"__got_{out}"), F.lit(0))
                        != F.coalesce(F.col(f"__want_{out}"), F.lit(0)))
            base = base.withColumn(
                out,
                F.when(mismatch, F.raise_error(F.concat(
                    F.lit(f"{TOPK_CERT_SENTINEL} topk measure "
                          f"{m.name!r}: frequent-items "
                          f"map lost mass ("),
                    F.coalesce(F.col(f"__got_{out}"), F.lit(0)),
                    F.lit(" of "),
                    F.coalesce(F.col(f"__want_{out}"), F.lit(0)),
                    F.lit(f" rows) — a cell's cardinality exceeded "
                          f"max_items={m.capacity} and approx_top_k "
                          f"purged (it can return EMPTY, not merely "
                          f"truncated). Raise max_items, materialize "
                          f"the exact two-level topk_rollup cube, or "
                          f"pass on_inexact='sketch' for the "
                          f"bounded-error serve."))))
                .otherwise(F.col(out)))
            base = base.drop(f"__got_{out}", f"__want_{out}")
    return base.select(*group_by, *[out for out, _, _ in asks])


def distinct_rollup(
    cells: DataFrame,
    spec: CubeSpec,
    group_by: list[str],
    distinct_dim: str,
    *,
    alias: str | None = None,
    where: Column | str | None = None,
    measures: list[str] | None = None,
) -> DataFrame:
    """EXACT count-distinct served from cube state — the two-level
    decomposition: a cube whose dimensions include the counted column
    (``distinct_dim``) holds one live cell per (group, value); the
    distinct count is the number of live cells per group.

    Unlike the HLL ``distinct`` measure (bounded state, approximate,
    insert-only-mergeable), this is exact AND fully retractable: the
    signed count partial evicts a cell when its multiplicity hits 0,
    so deletes maintain incrementally with no rescan. The trade is
    state size — O(Σ per-group cardinality) cells instead of O(groups)
    sketches; choose by cardinality (USAGE.md).

    Scale: the rollup scans O(|cells|) and shuffles O(|groups|) —
    cells are already one-per-(group, value), so ``count(*)`` needs no
    distinct aggregation and no Expand.
    """
    df, group_by = _slice(cells, spec, group_by, where, distinct_dim=distinct_dim)
    dims = spec.dim_names
    out = alias or f"{distinct_dim}_distinct"
    # NULL never counts toward COUNT(DISTINCT col) in SQL/Mongo alike
    if set(group_by) | {distinct_dim} == set(dims):
        # cells are exactly one per (group, value): a plain count, no
        # distinct aggregation, no Expand
        agg = F.count(F.when(F.col(distinct_dim).isNotNull(), 1)).cast("long").alias(out)
    else:
        # extra dims remain (e.g. a day dim): the same value owns one
        # cell per extra-dim combination — dedupe over the cell table
        # (still O(|cells|), far smaller than the source)
        agg = F.countDistinct(distinct_dim).cast("long").alias(out)
    # other measures roll up in the SAME aggregate — one shuffle total
    extra = measure_rollup_exprs(spec, measures) if measures else []
    return df.groupBy(*group_by).agg(agg, *extra)


def quantile_estimates(
    cells: DataFrame,
    spec: CubeSpec,
    measure: str,
    qs: list[float],
    group_by: list[str] | None = None,
    *,
    where: Column | str | None = None,
    aliases: list[str] | None = None,
) -> DataFrame:
    """Several quantiles of ONE histogram measure in one rollup — the
    whole point of storing the distribution rather than a scalar: the
    same ~nbins-long vector answers any q at query time. One shuffle
    (the rollup), then N estimator expressions over the rolled vector;
    no extra state, no extra pass per quantile."""
    m = spec.measure(measure)
    if m.op != "quantile":
        raise ValueError(f"measure {measure!r} is not a quantile (histogram) measure")
    df, group_by = _slice(cells, spec, group_by, where)
    if aliases is None:
        aliases = [f"{m.name}_q{str(q).replace('.', '_')}" for q in qs]
    if len(aliases) != len(qs):
        raise ValueError("aliases must match qs")
    rolled = df.groupBy(*group_by).agg(
        hist_sum_expr(f"{m.name}_hist", int(m.nbins)).alias("__h")
    )
    return rolled.select(
        *group_by,
        *[
            hist_quantile_expr(F.col("__h"), float(q), m).alias(a)
            for q, a in zip(qs, aliases)
        ],
    )


def quantile_rollup(
    cells: DataFrame,
    spec: CubeSpec,
    group_by: list[str],
    value_dim: str,
    q: float | list[float] | tuple[float, ...],
    *,
    alias: str | None = None,
    where: Column | str | None = None,
) -> DataFrame:
    """EXACT quantile served from cube state — the two-level
    decomposition (the quantile twin of :func:`distinct_rollup`): a
    cube whose dimensions include the measured column holds one live
    cell per (group, value) with a count partial; the discrete
    (type-1, inverse empirical CDF) quantile is the smallest value
    whose cumulative multiplicity reaches ``ceil(q · total)``.

    Exact AND fully retractable (count partials evict cells at
    multiplicity 0). The trade vs the histogram ``quantile`` measure is
    state size — O(Σ per-group cardinality) cells instead of a fixed
    bin vector; choose by cardinality, same decision as exact-vs-HLL
    distinct (USAGE.md). NULL values never participate, matching SQL
    percentile semantics.

    Scale: one window pass over O(|cells|) (already one row per
    (group, value) — no source rescan, no Expand) plus one final agg
    shuffling O(|groups|).

    ``q`` may also be a LIST of quantile fractions (r10, the Mongo
    ``$percentile`` multi-p shape): the output column is then an
    ARRAY of the type-1 quantiles in the given p order, computed from
    the SAME single window pass — each extra p adds one conditional
    ``min`` to the final aggregate, not a pass or a shuffle.
    """
    from pyspark.sql import Window

    qs = list(q) if isinstance(q, (list, tuple)) else None
    if qs is not None:
        if not qs:
            raise ValueError("quantile q list must be non-empty")
        for x in qs:
            if not (0.0 < float(x) <= 1.0):
                raise ValueError(f"quantile q must be in (0, 1], got {x}")
    elif not (0.0 < q <= 1.0):
        raise ValueError(f"quantile q must be in (0, 1], got {q}")
    df, group_by = _slice(cells, spec, group_by, where, value_dim=value_dim)
    dims = spec.dim_names
    if set(group_by) | {value_dim} != set(dims):
        raise ValueError(
            "exact quantile needs cells keyed exactly by group_by + value_dim "
            f"(extra dims would double-count multiplicities): cube has {dims}"
        )
    cnt = row_count_col(spec)
    df = df.filter(F.col(value_dim).isNotNull())
    wcum = Window.partitionBy(*group_by).orderBy(value_dim)
    wtot = Window.partitionBy(*group_by)
    if qs is not None:
        out = alias or f"{value_dim}_percentile"
        ranked = df.withColumn("__cum", F.sum(cnt).over(wcum)).withColumn(
            "__tot", F.sum(cnt).over(wtot))
        # one conditional min per p over the same windowed frame —
        # the same rank snap as the scalar path (ADVICE r9)
        picks = [
            F.min(
                F.when(
                    F.col("__cum")
                    >= F.ceil(F.round(F.lit(float(x)) * F.col("__tot"), 9)),
                    F.col(value_dim),
                )
            ).alias(f"__q{i}")
            for i, x in enumerate(qs)
        ]
        return (
            ranked.groupBy(*group_by)
            .agg(*picks)
            .select(
                *group_by,
                F.array(*[F.col(f"__q{i}") for i in range(len(qs))]).alias(out),
            )
        )
    out = alias or f"{value_dim}_q{str(q).replace('.', '_')}"
    return (
        df.withColumn("__cum", F.sum(cnt).over(wcum))
        .withColumn("__tot", F.sum(cnt).over(wtot))
        # snap near-integer q·n products before ceil (ADVICE r9): IEEE
        # doubles put e.g. 0.7*10 at 7.000000000000001, which would
        # ceil to rank 8 instead of the stated ceil(q·n)=7 — round to 9
        # digits first (quantile fractions are never finer than that)
        .filter(F.col("__cum") >= F.ceil(F.round(F.lit(float(q)) * F.col("__tot"), 9)))
        .groupBy(*group_by)
        .agg(F.min(value_dim).alias(out))
    )


def dispersion_estimates(
    cells: DataFrame,
    spec: CubeSpec,
    measure: str,
    ops: list[str],
    group_by: list[str] | None = None,
    *,
    where: Column | str | None = None,
    aliases: list[str] | None = None,
    measures: list[str] | None = None,
) -> DataFrame:
    """Several dispersion forms (var_pop/var_samp/stddev_pop/
    stddev_samp) of ONE measure in one rollup — the point of storing
    decomposed (Σx, Σx², n) partials: the same three columns answer
    every form at query time. One shuffle; other measures roll up in
    the SAME aggregate."""
    m = spec.measure(measure)
    if m.op not in DISPERSION_OPS:
        raise ValueError(f"measure {measure!r} is not a dispersion measure")
    bad = [o for o in ops if o not in DISPERSION_OPS]
    if bad:
        raise ValueError(f"unknown dispersion ops: {bad}")
    df, group_by = _slice(cells, spec, group_by, where)
    if aliases is None:
        aliases = [f"{m.name}_{o}" for o in ops]
    if len(aliases) != len(ops):
        raise ValueError("aliases must match ops")
    extra = measure_rollup_exprs(spec, measures) if measures else []
    return df.groupBy(*group_by).agg(
        *[rollup_expr(m, o).alias(a) for o, a in zip(ops, aliases)],
        *extra,
    )


def topk_estimates(
    cells: DataFrame,
    spec: CubeSpec,
    measure: str,
    k: int | None = None,
    group_by: list[str] | None = None,
    *,
    where: Column | str | None = None,
    alias: str | None = None,
) -> DataFrame:
    """Top-k from a frequent-items MAP measure via explode + re-count —
    the scale path for WIDE rollups, where the agg-expression route
    (:func:`topk_union_agg`, used by query_cube) folds
    O(cells_in_group · max_items) transient state per group. Here the
    maps explode to postings rows, a hash aggregate sums per (group,
    item) with map-side combine, and a windowed rank keeps k — the
    rank filter compiles to a partial WindowGroupLimit, so the second
    exchange carries O(groups · k). Two shuffles, every operator
    native, no per-group fold.

    Same answer as the fold route while merges stay in the exact
    regime (union cardinality ≤ max_items); in the truncated regime
    the two routes differ only in which tail items survive — heavy
    items agree within the mergeable-summary bound. Emits one row per
    (group, kept item): group dims + ``alias`` item + ``<alias>_cnt``
    + 1-based ``rank`` (count desc, item asc — the family's
    deterministic order).
    """
    from pyspark.sql import Window

    m = spec.measure(measure)
    if m.op != "topk":
        raise ValueError(f"measure {measure!r} is not a topk (map) measure")
    k = m.default_k if k is None else int(k)
    if k < 1:
        raise ValueError(f"top-k needs k >= 1, got {k}")
    df, group_by = _slice(cells, spec, group_by, where)
    out = alias or f"{m.name}_item"
    posts = df.select(
        *group_by, F.explode(f"{m.name}_tk").alias(out, "__c")
    )
    counted = posts.groupBy(*group_by, out).agg(
        F.sum("__c").cast("long").alias(f"{out}_cnt")
    )
    w = Window.partitionBy(*group_by).orderBy(
        F.col(f"{out}_cnt").desc(), F.col(out).asc()
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_rollup(
    cells: DataFrame,
    spec: CubeSpec,
    group_by: list[str],
    value_dim: str,
    k: int,
    *,
    alias: str | None = None,
    count_alias: str | None = None,
    rank_alias: str = "rank",
    where: Column | str | None = None,
) -> DataFrame:
    """EXACT top-k most frequent values served from cube state — the
    two-level decomposition (the heavy-hitters twin of
    :func:`distinct_rollup`): a cube whose dimensions include the
    ranked column holds one live cell per (group, value) with a count
    partial; the top-k is a windowed rank over those cells.

    Exact AND fully retractable (count partials evict cells at
    multiplicity 0 — unlike the ``topk`` map measure, whose truncation
    forfeits retraction). The trade is state size — O(Σ per-group
    cardinality) cells instead of a bounded map; choose by cardinality,
    the same decision as exact-vs-HLL distinct (USAGE.md).

    Ties break deterministically: count desc, value asc — the same
    order the sketch route's ``topk_entries_expr`` emits.

    Output: one row per (group, kept value): group dims + the value
    (``alias``, default the dim name) + its count (``count_alias``) +
    its 1-based ``rank``. NULL values never rank (SQL COUNT semantics).

    Scale: when cells are keyed exactly by group_by + value_dim, the
    rank-filter compiles to WindowGroupLimit — each partition keeps
    only its local top-k before the shuffle, so the exchange carries
    O(groups · k), not O(cells). Extra dims re-aggregate first (one
    extra shuffle over O(|cells|), still never a source rescan).
    """
    from pyspark.sql import Window

    if int(k) < 1:
        raise ValueError(f"top-k needs k >= 1, got {k}")
    df, group_by = _slice(cells, spec, group_by, where, value_dim=value_dim)
    dims = spec.dim_names
    df = df.filter(F.col(value_dim).isNotNull())
    cnt = row_count_col(spec)
    out_v = alias or value_dim
    out_c = count_alias or f"{out_v}_cnt"
    if set(group_by) | {value_dim} == set(dims):
        # cells are exactly one per (group, value): rank directly
        ranked = df.select(*group_by, F.col(value_dim).alias(out_v), F.col(cnt).cast("long").alias(out_c))
    else:
        # extra dims remain: sum multiplicities over them first (still
        # O(|cells|), far smaller than the source)
        ranked = (
            df.groupBy(*group_by, F.col(value_dim).alias(out_v))
            .agg(F.sum(cnt).cast("long").alias(out_c))
        )
    w = Window.partitionBy(*group_by).orderBy(F.col(out_c).desc(), F.col(out_v).asc())
    return (
        ranked.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= int(k))
    )


def extremes_rollup(
    cells: DataFrame,
    spec: CubeSpec,
    group_by: list[str],
    value_dim: str,
    k: int,
    *,
    largest: bool = False,
    alias: str | None = None,
    where: Column | str | None = None,
) -> DataFrame:
    """EXACT k smallest/largest values per group served from cube
    state — Mongo ``$minN``/``$maxN`` accumulator parity (C23), the
    order-statistics sibling of :func:`topk_rollup`: a cube whose
    dimensions include the measured column holds one live cell per
    (group, value) with a count partial; the k extreme VALUES (with
    duplicates, exactly as $minN/$maxN return them) expand from the
    ≤ k boundary cells.

    Exact AND fully retractable (count partials evict cells at
    multiplicity 0 — unlike raw min/max measures, which need the
    repair path: the runner-up is always live here). NULL values never
    participate (Mongo skips missing/null in $minN/$maxN).

    Output: one row per group with ``alias`` = an ordered
    ``array<value>`` of length ≤ k (ascending for min-N, descending
    for max-N).

    Scale: the cum-count cutoff compiles through a window over
    O(|cells|) rows (already one per (group, value)); only the ≤ k
    qualifying cells per group reach the final aggregate, whose
    ``collect_list`` is therefore bounded at k structs per group —
    never a source rescan, never an unbounded list.
    """
    from pyspark.sql import Window

    if int(k) < 1:
        raise ValueError(f"extremes need k >= 1, got {k}")
    df, group_by = _slice(cells, spec, group_by, where, value_dim=value_dim)
    dims = spec.dim_names
    df = df.filter(F.col(value_dim).isNotNull())
    cnt = row_count_col(spec)
    out = alias or (f"{value_dim}_max{k}" if largest else f"{value_dim}_min{k}")
    if set(group_by) | {value_dim} != set(dims):
        # extra dims remain: one value owns several cells — re-aggregate
        # multiplicities first (still O(|cells|))
        df = df.groupBy(*group_by, value_dim).agg(F.sum(cnt).alias("__m"))
        mcol = "__m"
    else:
        mcol = cnt
    order = F.col(value_dim).desc() if largest else F.col(value_dim).asc()
    w = Window.partitionBy(*group_by).orderBy(order)
    df = (
        df.withColumn("__cum", F.sum(mcol).over(w))
        .withColumn("__take", F.least(F.col(mcol).cast("long"), F.lit(int(k)) - (F.col("__cum") - F.col(mcol))).cast("int"))
        .filter(F.col("__take") > 0)
    )
    # ≤ k qualifying cells per group: the collect_list is bounded at k
    structs = F.collect_list(F.struct(F.col(value_dim).alias("v"), F.col("__take").alias("t")))
    sorted_structs = F.array_sort(
        structs,
        lambda a, b: F.when(a["v"] < b["v"], -1 if not largest else 1)
        .when(a["v"] > b["v"], 1 if not largest else -1)
        .otherwise(0)
        .cast("int"),
    )
    flat = F.aggregate(
        sorted_structs,
        F.expr(f"CAST(array() AS ARRAY<{cells.schema[value_dim].dataType.simpleString()}>)"),
        lambda acc, s: F.concat(acc, F.array_repeat(s["v"], s["t"])),
    )
    return df.groupBy(*group_by).agg(flat.alias(out))


def top_by_rollup(
    cells: DataFrame,
    spec: CubeSpec,
    group_by: list[str],
    sort_dim: str,
    payload_dim: str,
    k: int,
    *,
    largest: bool = False,
    present_desc: bool = False,
    alias: str | None = None,
    where: Column | str | None = None,
) -> DataFrame:
    """EXACT ``$topN``/``$bottomN`` (Mongo 5.2 ordered accumulators
    with ``sortBy`` + ``output``) served from cube state — C24, the
    payload-carrying sibling of :func:`extremes_rollup`: a cube whose
    dimensions include BOTH the sort column and the output column
    holds one live cell per (group, sort value, payload) with a count
    partial; the k first/last payloads expand from the ≤ k boundary
    cells, ordered by (sort value, payload) — ties on the sort key
    break by payload ascending, a DETERMINISTIC refinement of Mongo's
    unstable document order (documented delta; Mongo itself warns
    $topN ties are unspecified without a tiebreak field).

    Exact AND fully retractable (count partials evict cells at
    multiplicity 0). NULL sort values never participate (Mongo sorts
    missing first — the engine's SQL-facing policy is to skip them,
    same as extremes/quantile; filter nulls into a sentinel upstream
    if Mongo's null-first order is wanted). NULL payloads DO
    participate (a null output field is a legitimate $topN result).

    Output: one row per group with ``alias`` = array of up to k
    payloads presented in sortBy order — matching Mongo, whose $topN
    returns the first k and $bottomN the LAST k, each presented in
    sortBy order (ADVICE r9: previously largest=True emitted the
    array descending, an ordering delta vs Mongo). ``largest``
    selects which END of the sort the k cells come from;
    ``present_desc`` presents the array in DESCENDING sort order —
    the shape of a Mongo desc sortBy ($topN desc = largest=True +
    present_desc; $bottomN desc = largest=False + present_desc).
    Within a sort-key tie the selection preference and presentation
    both mirror the pipeline compiler's deterministic refinement
    (first-k takes smaller payloads first, last-k larger; ties always
    PRESENT payload-ascending, nulls first), so routed and compiled
    answers agree bit-for-bit, not just up to Mongo's unspecified tie
    order.

    Scale: same shape as extremes_rollup — window cum-count over
    O(|cells|), ≤ k boundary cells per group reach the bounded final
    collect.
    """
    from pyspark.sql import Window

    if int(k) < 1:
        raise ValueError(f"top_by needs k >= 1, got {k}")
    df, group_by = _slice(cells, spec, group_by, where,
                          sort_dim=sort_dim, payload_dim=payload_dim)
    dims = spec.dim_names
    if sort_dim == payload_dim:
        raise ValueError("sort_dim and payload_dim must differ (use extremes_rollup)")
    df = df.filter(F.col(sort_dim).isNotNull())
    cnt = row_count_col(spec)
    out = alias or f"{payload_dim}_{'top' if largest else 'bottom'}{k}"
    if set(group_by) | {sort_dim, payload_dim} != set(dims):
        df = df.groupBy(*group_by, sort_dim, payload_dim).agg(F.sum(cnt).alias("__m"))
        mcol = "__m"
    else:
        mcol = cnt
    # the window (selection) order: sort end by `largest`; the payload
    # tie-break direction mirrors how the compile path's struct sort
    # reaches the same boundary cells — first-k slices prefer SMALLER
    # payloads within a tie, last-k slices LARGER ones. With the
    # presentation key below this makes routed == compiled exactly.
    s_order = F.col(sort_dim).desc() if largest else F.col(sort_dim).asc()
    if largest == present_desc:
        p_order = F.col(payload_dim).asc_nulls_first()
    else:
        p_order = F.col(payload_dim).desc_nulls_last()
    w = Window.partitionBy(*group_by).orderBy(s_order, p_order)
    df = (
        df.withColumn("__cum", F.sum(mcol).over(w))
        .withColumn(
            "__take",
            F.least(
                F.col(mcol).cast("long"), F.lit(int(k)) - (F.col("__cum") - F.col(mcol))
            ).cast("int"),
        )
        .filter(F.col("__take") > 0)
    )
    # presentation comparator (-1 when a sorts BEFORE b): sort key
    # follows sortBy direction (``present_desc``); payload ties always
    # present ascending with nulls first — the same deterministic
    # refinement as the compile path's struct sort.
    s_lt = 1 if present_desc else -1
    structs = F.collect_list(
        F.struct(
            F.col(sort_dim).alias("s"),
            F.col(payload_dim).alias("p"),
            F.col("__take").alias("t"),
        )
    )

    def _cmp(a, b):
        pa, pb = a["p"], b["p"]
        return (
            F.when(a["s"] < b["s"], s_lt)
            .when(a["s"] > b["s"], -s_lt)
            .when(pa.isNull() & pb.isNull(), 0)
            .when(pa.isNull(), -1)
            .when(pb.isNull(), 1)
            .when(pa < pb, -1)
            .when(pa > pb, 1)
            .otherwise(0)
            .cast("int")
        )

    sorted_structs = F.array_sort(structs, _cmp)
    flat = F.aggregate(
        sorted_structs,
        F.expr(
            f"CAST(array() AS ARRAY<{cells.schema[payload_dim].dataType.simpleString()}>)"
        ),
        lambda acc, s: F.concat(acc, F.array_repeat(s["p"], s["t"])),
    )
    return df.groupBy(*group_by).agg(flat.alias(out))


def combine_cells(spec: CubeSpec, *frames: DataFrame) -> DataFrame:
    """Merge several cell tables of the SAME spec into one valid cell
    table — second-level partial merges keyed on the dimension tuple,
    producing STORAGE columns again (not finalized measures).

    This is the serving-side complement of ivm.merge_cells (which is
    signed and evicts emptied cells, for CDC): here a plain union + one
    hash aggregate re-merges overlapping cells, so the result feeds ANY
    consumer that expects a cell table — including the exact two-level
    routes (distinct_rollup / quantile_rollup / topk_rollup /
    extremes_rollup / top_by_rollup), whose semantics require ONE live
    cell per (group, value) and would double-count under a naive
    union. Lambda serving for those routes is therefore::

        fresh = combine_cells(spec, cells, build_cube(spark, spec, tail))
        distinct_rollup(fresh, spec, ...)

    One shuffle on the dims; every merge expression is the same
    re-aggregable partial the builder emits (decimal sums, min/max,
    hll_union_agg, element-wise histogram sums, frequent-items fold),
    so the combined table is bit-compatible with a from-scratch build
    for the retractable families and merge-equal for the sketches.
    """
    if not frames:
        raise ValueError("combine_cells needs at least one frame")
    cols = spec.cell_columns
    up = [f.select(*cols) for f in frames]
    df = up[0]
    for f in up[1:]:
        df = df.unionByName(f)
    return df.groupBy(*spec.dim_names).agg(
        *[a for m in spec.measures for a in rollup_aggs(m)])


def hybrid_query(
    cells: DataFrame,
    spec: CubeSpec,
    tail: DataFrame,
    group_by: list[str] | None = None,
    measures: list[str] | None = None,
) -> DataFrame:
    """Lambda-style serving: one answer from historical cells + the
    raw tail the cube has not absorbed yet.

    The reference keeps cubes fresh asynchronously, so at query time
    the materialized state lags the source by the un-applied tail
    (events past the maintenance watermark) [REF: fill — SURVEY.md §0].
    Rather than forcing the client to choose stale-but-fast (cells) or
    fresh-but-slow (source scan), aggregate the tail into cell-shaped
    partials (same ``cell_aggs`` as the builder), union with the stored
    cells, and roll up once. Because sums are exact DECIMAL partials,
    the merged answer is bit-identical to aggregating the full source.

    Scale notes: the cells side scans O(|cells|) (partition-pruned on
    the time dim); the tail side scans only the post-watermark slice —
    at 100 TB that is minutes of data, not the corpus. One shuffle
    total: both sides produce partials keyed on the same dims, the
    union re-aggregates with a single exchange.
    """
    from mongo_olap_spark.cube.build import build_cube

    tail_cells = build_cube(tail.sparkSession, spec, tail)
    cols = spec.cell_columns
    combined = cells.select(*cols).unionByName(tail_cells.select(*cols))
    return query_cube(combined, spec, group_by=group_by, measures=measures)
