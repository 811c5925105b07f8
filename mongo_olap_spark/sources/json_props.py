"""Dynamic-schema handling for schemaless document portions.

The reference's domain is schemaless BSON: any document may carry
open-ended keys. The engine's rule (SURVEY.md §7.4.5): dynamic
portions ride along as a JSON string column and get **typed at
cube-define time**, not per query —

1. ``infer_props_schema``: sample the column, union the observed
   schemas (``schema_of_json`` per sampled row, merged), return a
   StructType. Driver-side cost is one small sampled aggregation;
   the inferred DDL is persisted with the cube config so later runs
   skip inference (the mongo connector's samplePoolSize idiom).
2. ``with_typed_props``: ``from_json(props, schema)`` once, yielding a
   struct column the rest of the pipeline treats as ordinary nested
   data (pruned, pushed down, cubed).

``get_json_object`` stays available for one-off ad-hoc paths
(q_json_extract); typed extraction is the pipeline path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def infer_props_schema(
    df: DataFrame, col: str = "props", *, sample_rows: int = 1000
) -> T.StructType:
    """Infer a merged schema from up to ``sample_rows`` non-null JSON
    strings using Spark's native JSON reader (one job; the reader
    union-merges per-row schemas, widening conflicts). This is the
    samplePoolSize idiom of the reference domain's connector."""
    sampled = df.select(col).where(F.col(col).isNotNull()).limit(sample_rows)
    try:
        strings = sampled.rdd.map(lambda r: r[0])
        return df.sparkSession.read.json(strings).schema
    except Exception:
        # Spark Connect has no RDD API: fall back to schema_of_json on a
        # driver-side sample (same union-merge rule, done in Python)
        rows = [r[0] for r in sampled.collect()]
        merged: dict[str, T.DataType] = {}
        for s in rows:
            ddl = df.sparkSession.range(1).select(
                F.schema_of_json(F.lit(s)).alias("d")
            ).first().d
            parsed = T._parse_datatype_string(ddl)
            if not isinstance(parsed, T.StructType):
                continue
            for field in parsed.fields:
                prev = merged.get(field.name)
                if prev is None:
                    merged[field.name] = field.dataType
                elif prev != field.dataType:
                    merged[field.name] = T.StringType()
        return T.StructType([T.StructField(k, v, True) for k, v in sorted(merged.items())])


def with_typed_props(
    df: DataFrame, schema: T.StructType, col: str = "props", out: str = "props_t"
) -> DataFrame:
    """Parse the JSON column once into a typed struct column."""
    return df.withColumn(out, F.from_json(F.col(col), schema))

