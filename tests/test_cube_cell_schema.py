"""Cell-schema pins: the names, dtypes and nullability of every cell
table the engine writes, over one spec holding every measure family.

A cube's cells are persisted and merged across engine versions, so a
partial that drifts from non-nullable to nullable, or from decimal to
double, breaks snapshot reads and IVM merges of existing cubes even
when every value is right. ``combine_cells`` and ``merge_cells`` are
pinned too: they rebuild storage columns through merge expressions of
their own. The expected shapes are literal, not derived from the code.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType

from mongo_olap_spark.cube import CubeSpec, Dimension, Measure, build_cube
from mongo_olap_spark.cube.build import _hist_two_level_ok, delta_cells
from mongo_olap_spark.cube.ivm import merge_cells
from mongo_olap_spark.cube.query import combine_cells

DIMS = (Dimension("event_type"), Dimension("day", path="ts", granularity="day"))
EXACT = (
    Measure("n", "count"), Measure("s", "sum", "value"), Measure("a", "avg", "value"),
    Measure("lo", "min", "value"), Measure("hi", "max", "value"),
    Measure("q", "quantile", "value", lo=0.0, hi=1000.0, nbins=10),
    Measure("v", "var_pop", "value"),
)
ALL = CubeSpec("schema_all", "events", DIMS, EXACT + (
    Measure("d", "distinct", "user_id", lgk=8),
    Measure("t", "topk", "user_id % 5", k=3, max_items=50),
))
# every measure exactly re-aggregable + a quantile: the two-level builds
TWO = CubeSpec("schema_two_level", "events", DIMS, EXACT)
TWO_MULTI = CubeSpec("schema_two_level_multi", "events", DIMS, EXACT + (
    Measure("q2", "quantile", "user_id % 17", lo=0.0, hi=17.0, nbins=17),))

#: ``name:type`` per column; ``?`` marks a nullable column, array
#: element or map value
EXPECTED = {
    "build_cube": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint?>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint",
        "d_hll:binary", "t_tk:map<bigint,bigint>", "t_tkn:bigint",
    ],
    "delta_cells": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint?",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint?",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint?>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint?",
        "d_hll:binary", "t_tk:map<bigint,bigint>", "t_tkn:bigint?",
    ],
    "two_level_build": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint?>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint",
    ],
    "two_level_delta": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint?",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint?",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint?>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint?",
    ],
    "two_level_multi_build": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint?>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint",
        "q2_hist:array<bigint?>",
    ],
    "two_level_multi_delta": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint?",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint?",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint?>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint?",
        "q2_hist:array<bigint?>",
    ],
    "combine_cells": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint?",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint?",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint?",
        "d_hll:binary", "t_tk:map<bigint,bigint>?", "t_tkn:bigint?",
    ],
    # the build's row: the merge groups the union of cells and deltas
    # with the same aggregates as the two-level build's level 2; sums
    # stay nullable (an all-NULL group's empty SUM is NULL after a
    # merge too)
    "merge_cells": [
        "event_type:string?", "day:timestamp?", "n_cnt:bigint",
        "s_sum:decimal(38,6)?", "a_sum:decimal(38,6)?", "a_cnt:bigint",
        "lo_min:double?", "hi_max:double?", "q_hist:array<bigint?>",
        "v_sum:decimal(38,6)?", "v_sum2:decimal(38,6)?", "v_cnt:bigint",
        "d_hll:binary", "t_tk:map<bigint,bigint>", "t_tkn:bigint",
    ],
}


def _ty(dt) -> str:
    if isinstance(dt, ArrayType):
        return f"array<{_ty(dt.elementType)}{'?' if dt.containsNull else ''}>"
    if isinstance(dt, MapType):
        return f"map<{_ty(dt.keyType)},{_ty(dt.valueType)}{'?' if dt.valueContainsNull else ''}>"
    return dt.simpleString()


def _shape(df) -> list[str]:
    return [f"{f.name}:{_ty(f.dataType)}{'?' if f.nullable else ''}"
            for f in df.schema.fields]


@pytest.fixture(scope="module")
def frames(spark, events):
    cdc = events.withColumn(
        "mult", F.when(F.col("event_id") % 3 == 0, -1).otherwise(1))
    built = build_cube(spark, ALL, events)
    delta = delta_cells(ALL, cdc)
    return {
        "build_cube": built,
        "delta_cells": delta,
        "two_level_build": build_cube(spark, TWO, events),
        "two_level_delta": delta_cells(TWO, cdc),
        "two_level_multi_build": build_cube(spark, TWO_MULTI, events),
        "two_level_multi_delta": delta_cells(TWO_MULTI, cdc),
        "combine_cells": combine_cells(ALL, built, built),
        "merge_cells": merge_cells(built, delta, ALL),
    }


def test_specs_take_the_intended_build_plans():
    assert not _hist_two_level_ok(ALL)
    assert _hist_two_level_ok(TWO) and _hist_two_level_ok(TWO_MULTI)


@pytest.mark.parametrize("plan", sorted(EXPECTED))
def test_cell_schema_pinned(frames, plan):
    assert _shape(frames[plan]) == EXPECTED[plan]
