"""Lattice materialization: several rollup levels of one cube in ONE
pass over the source.

The reference emulates multi-level pre-aggregation with one cube per
level (each a separate pipeline over the collection). Spark has native
grouping sets, so the engine materializes a chosen set of levels with
a single scan + a single shuffle — Catalyst expands the grouping sets
into one aggregate, and `grouping_id()` tags each output row with its
level:

    build_cube_lattice(spark, spec, src, levels=[("a","b"), ("a",), ()])
      → cells + __level column (bitmask: bit set ⇔ dim aggregated away)

Queries against a materialized level need **no re-aggregation at
all** — `query_lattice` filters `__level` and finalizes partials
row-wise (avg = sum/cnt). A level that isn't materialized still
answers by rolling up the finest materialized superset (ordinary
query_cube over that slice).

Scale: one pass over 100 TB producing k levels costs ~the same
shuffle as the finest level alone (coarser levels add few cells);
k separate cube builds cost k scans. This is the textbook
grouping-sets win, free in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_olap_spark.cube.build import cell_aggs
from mongo_olap_spark.cube.measures import cell_expr
from mongo_olap_spark.cube.query import measure_asks, measure_rollup_exprs
from mongo_olap_spark.cube.spec import CubeSpec

LEVEL_COL = "__level"


def level_mask(spec: CubeSpec, group_by: list[str]) -> int:
    """grouping_id bitmask for a dim subset: bit i (MSB-first over the
    cube's dim order) is 1 when dim i is aggregated away."""
    mask = 0
    for d in spec.dim_names:  # first dim = most significant bit
        mask = (mask << 1) | (0 if d in group_by else 1)
    return mask


def build_cube_lattice(
    spark: SparkSession,
    spec: CubeSpec,
    source: DataFrame,
    levels: list[tuple[str, ...]] | None = None,
) -> DataFrame:
    """Materialize the given dim-subset levels (default: the rollup
    chain — all dims, drop-last, …, grand total) in one aggregate."""
    names = spec.dim_names
    if levels is None:
        levels = [tuple(names[:i]) for i in range(len(names), -1, -1)]
    unknown = {d for lv in levels for d in lv} - set(names)
    if unknown:
        raise ValueError(f"lattice levels reference unknown dims: {sorted(unknown)}")

    df = source
    if spec.filter_sql:
        df = df.filter(spec.filter_sql)
    df = df.withColumns({d.name: d.expr() for d in spec.dimensions})
    grouped = df.groupingSets([list(lv) for lv in levels], *names)
    return grouped.agg(*cell_aggs(spec), F.grouping_id().cast("int").alias(LEVEL_COL))


def delta_cells_lattice(
    spec: CubeSpec,
    cdc: DataFrame,
    levels: list[tuple[str, ...]],
    mult_col: str = "mult",
) -> DataFrame:
    """Signed cell deltas for EVERY materialized level in one pass —
    the lattice twin of build.delta_cells: the same grouping-sets
    expansion as the build, with ±1-signed partials. One scan of the
    micro-batch, one Expand, one aggregate; merge on
    (dims, __level) keeps each level's cells independent."""
    df = cdc
    if spec.filter_sql:
        df = df.filter(spec.filter_sql)
    names = spec.dim_names
    df = df.withColumns({d.name: d.expr() for d in spec.dimensions})
    grouped = df.groupingSets([list(lv) for lv in levels], *names)
    return grouped.agg(
        *cell_aggs(spec, mult=mult_col), F.grouping_id().cast("int").alias(LEVEL_COL)
    )


def materialized_levels(cells: DataFrame) -> list[int]:
    return [r[LEVEL_COL] for r in cells.select(LEVEL_COL).distinct().collect()]


def query_lattice(
    cells: DataFrame,
    spec: CubeSpec,
    group_by: list[str] | None = None,
    where=None,
    measures: list[str] | None = None,
) -> DataFrame:
    """Answer from the exact materialized level when present (zero
    re-aggregation — partials finalize row-wise), else roll up the
    finest materialized superset of ``group_by``."""
    group_by = spec.dim_names if group_by is None else group_by
    target = level_mask(spec, group_by)
    have = materialized_levels(cells)
    df = cells
    if where is not None:
        df = df.filter(where)
    if target in have:
        hit = df.filter(F.col(LEVEL_COL) == target)
        # each row IS one output group: finalize partials row-wise,
        # no aggregation (and hence no shuffle) at query time
        return hit.select(*group_by, *[cell_expr(m, op).alias(out)
                                       for out, m, op in measure_asks(spec, measures)])
    # fall back: the finest superset level (fewest dims aggregated away
    # = smallest mask) whose kept-dims ⊇ group_by
    supersets = [
        m for m in have
        if all(not (m >> (len(spec.dim_names) - 1 - i)) & 1 for i, d in enumerate(spec.dim_names) if d in group_by)
    ]
    if not supersets:
        raise ValueError(f"no materialized level can serve group_by={group_by}")
    src_level = min(supersets)
    return (
        df.filter(F.col(LEVEL_COL) == src_level)
        .groupBy(*group_by)
        .agg(*measure_rollup_exprs(spec, measures))
    )
