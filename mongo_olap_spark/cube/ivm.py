"""Incremental view maintenance (IVM) with retraction — SURVEY.md §4.3.

Spark's built-in streaming aggregation cannot *decrement* state on
deletes; the reference's domain (change streams) requires it. The
engine's answer is signed-multiplicity deltas merged into the cell
table:

    cdc(mult = +1 insert / −1 delete; update = −1/+1 pair)
      → delta_cells(spec, batch)            # groupBy dims, signed partials
      → merge_cells(current, deltas, spec)  # union, rollup per dims
      → drop cells whose row count hits 0

Because partials are exact decimals, incremental apply is
*bit-identical* to a batch rebuild (property-tested), in any batch
order — signed decimal addition is associative and commutative.

min/max are not retraction-maintainable (dropping the current min
needs the runner-up). Policy, same as the reference domain's implicit
one: min/max partials merge on inserts; any delete touching a min/max
cube triggers ``recompute_cells`` for the affected cells only (bounded
work: a dims-semi-join against the source, pruned by the cell key —
with a time-partitioned source this is a partition-local rescan).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_olap_spark.cube.build import build_cube, delta_cells  # noqa: F401 (re-export)
from mongo_olap_spark.cube.build import merge_aggs
from mongo_olap_spark.cube.catalog import CubeCatalog
from mongo_olap_spark.cube.measures import row_count_col
from mongo_olap_spark.cube.spec import CubeSpec


def merge_cells(
    cells: DataFrame,
    deltas: DataFrame,
    spec: CubeSpec,
    *,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Merge signed cell deltas into the current cell table.

    Pure DataFrame plan: the union of cells and deltas, grouped by the
    dimension tuple (grouping keys are null-safe — dimensions may
    legitimately be null) and merged by each partial's rollup, the
    same aggregate the two-level build's level 2 uses (signed addition
    for the retractable ones), then eviction of cells whose row count
    (``row_count_col``: a count measure, and only a count) reaches 0.
    This is the ``MERGE INTO`` of §4.3 expressed without a
    transactional table format; swap in Delta's MERGE at deployment
    for in-place upsert.

    The union is hash-partitioned on the cube's partition dim before
    it groups: that one exchange serves the aggregate (the partition
    dim is one of the dims) and the partition write after it
    (``CubeCatalog._write_data`` repartitions on the same column, and
    Spark drops a repartition its child already satisfies).

    ``extra_keys`` groups by additional key columns beyond the dims —
    lattice cubes pass ``(LEVEL_COL,)`` so each materialized level's
    cells merge independently (a coarse level's aggregated-away dims
    are NULL by construction; the level id disambiguates them from
    genuinely-NULL dim values).
    """
    both = cells.unionByName(deltas)
    pdim = CubeCatalog.partition_dim(spec)
    if pdim is not None:
        both = both.repartition(F.col(pdim))
    merged = both.groupBy(*spec.dim_names, *extra_keys).agg(
        *[a for m in spec.measures for a in merge_aggs(m, None)])
    return merged.filter(F.col(row_count_col(spec)) > 0)


def affected_cells(spec: CubeSpec, deltas: DataFrame) -> DataFrame:
    """Distinct dimension tuples a delta batch touches."""
    return deltas.select(*spec.dim_names).distinct()


def recompute_cells(
    spec: CubeSpec, source: DataFrame, cells: DataFrame, touched: DataFrame
) -> DataFrame:
    """Exact repair for non-retractable measures: rebuild only the
    touched cells from the source and splice them over the cell table.

    Cost: one semi-join-pruned scan of the source restricted to the
    touched dimension tuples (partition-pruned when a time dim is the
    physical partition key), not a full rebuild.
    """
    from mongo_olap_spark.cube.build import cell_aggs

    dims = spec.dim_names
    pruned = source
    if spec.filter_sql:
        pruned = pruned.filter(spec.filter_sql)
    # materialize the cell key on each source row, keep touched cells
    # only — null-safe join conditions throughout (dimensions may
    # legitimately be null, as merge_cells' grouping keys are; plain
    # equality would drop null-dim source rows from the semi-join AND
    # keep the stale null-dim cell through the anti-join)
    pruned = pruned.withColumns({d.name: d.expr() for d in spec.dimensions})

    def null_safe_on(left: str, right: str):
        return reduce(
            lambda a, b: a & b,
            [F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}")) for k in dims],
        )

    t = F.broadcast(touched.alias("t"))
    pruned = pruned.alias("s").join(t, null_safe_on("s", "t"), "left_semi")
    rebuilt = pruned.groupBy(*dims).agg(*cell_aggs(spec))
    kept = cells.alias("c").join(t, null_safe_on("c", "t"), "left_anti")
    return kept.unionByName(rebuilt)
