"""Hypothesis property tests for the pure-Python engine pieces (no
SparkSession — fast): CubeSpec JSON round-trip over generated specs,
and router candidate logic monotonicity."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from mongo_olap_spark.cube.spec import CubeSpec, Dimension, Measure, _GRANULARITIES

idents = st.text(alphabet=string.ascii_lowercase + "_", min_size=1, max_size=12).filter(
    lambda s: not s.startswith("_")
)


#: every measure op, spelled out here rather than read from the table
OPS = ["count", "sum", "avg", "min", "max", "distinct", "quantile", "topk",
       "var_pop", "var_samp", "stddev_pop", "stddev_samp"]
#: storage-column suffixes any op may write
SUFFIXES = {"cnt", "sum", "sum2", "min", "max", "hll", "hist", "tk", "tkn"}
#: ops whose partials cannot take a delete by signed addition
NON_RETRACTABLE = {"min", "max", "distinct", "topk"}


@st.composite
def measures(draw, name):
    op = draw(st.sampled_from(OPS))
    params = {}
    if op == "distinct":
        params["lgk"] = draw(st.one_of(st.none(), st.integers(4, 21)))
    elif op == "quantile":
        lo = draw(st.floats(-1e6, 1e6, allow_nan=False))
        params.update(
            lo=lo,
            hi=lo + draw(st.floats(1e-3, 1e6)),
            nbins=draw(st.integers(1, 4096)),
            q=draw(st.one_of(st.none(), st.floats(0.0, 1.0, exclude_min=True))),
        )
    elif op == "topk":
        k = draw(st.integers(1, 1000))
        params.update(
            k=k, max_items=draw(st.one_of(st.none(), st.integers(k, 1_000_000))))
    return Measure(name=name, op=op, path=draw(idents), **params)


@st.composite
def specs(draw):
    n_dims = draw(st.integers(0, 4))
    n_meas = draw(st.integers(1, 5))
    names = draw(
        st.lists(idents, min_size=n_dims + n_meas, max_size=n_dims + n_meas, unique=True)
    )
    dims = tuple(
        Dimension(
            name=names[i],
            path=draw(st.one_of(st.none(), idents)),
            granularity=draw(st.one_of(st.none(), st.sampled_from(_GRANULARITIES))),
        )
        for i in range(n_dims)
    )
    meas = tuple(draw(measures(names[n_dims + i])) for i in range(n_meas))
    return CubeSpec(
        name=draw(idents),
        source=draw(idents),
        dimensions=dims,
        measures=meas,
        filter_sql=draw(st.one_of(st.none(), st.just("x > 1"))),
    )


@given(specs())
@settings(max_examples=200, deadline=None)
def test_spec_json_roundtrip(spec):
    assert CubeSpec.from_json(spec.to_json()) == spec


@given(specs())
@settings(max_examples=200, deadline=None)
def test_storage_cols_unique_and_typed(spec):
    cols = [c for m in spec.measures for c in m.storage_cols()]
    assert len(cols) == len(set(cols))
    for c in cols:
        assert c.rsplit("_", 1)[1] in SUFFIXES
    assert spec.cell_columns == spec.dim_names + cols


@given(specs())
@settings(max_examples=200, deadline=None)
def test_delete_safe_iff_every_op_retractable(spec):
    assert spec.delete_safe == all(m.op not in NON_RETRACTABLE for m in spec.measures)


# ---------------------------------------------------------------------------
# compile_match ↔ match_to_sql agreement (hypothesis): random $match
# documents filter the same rows through the Spark compiler and the
# SQL twin (checked via Spark's own SQL engine on the same frame).
# ---------------------------------------------------------------------------

import hypothesis.strategies as st
from hypothesis import given, settings

_FIELDS = ["user_id", "value"]

_scalar_clause = st.sampled_from(_FIELDS).flatmap(
    lambda f: st.one_of(
        st.builds(lambda v: {f: {"$gt": v}}, st.integers(0, 100)),
        st.builds(lambda v: {f: {"$lte": v}}, st.integers(0, 100)),
        st.builds(lambda vs: {f: {"$in": vs}}, st.lists(st.integers(0, 20), min_size=1, max_size=4)),
        st.builds(lambda v: {f: {"$ne": v}}, st.integers(0, 100)),
        st.builds(lambda: {f: {"$exists": True}}),
    )
)

_match_doc = st.recursive(
    _scalar_clause,
    lambda children: st.one_of(
        st.builds(lambda a, b: {"$and": [a, b]}, children, children),
        st.builds(lambda a, b: {"$or": [a, b]}, children, children),
    ),
    max_leaves=4,
)


@settings(max_examples=15, deadline=None)
@given(_match_doc)
def test_compile_match_agrees_with_sql_twin(match_doc):
    from pyspark.sql import functions as F

    from mongo_olap_spark.plans.pipeline_compiler import compile_match, match_to_sql
    from mongo_olap_spark.session import get_spark

    spark = get_spark()
    df = spark.range(200).select(
        (F.col("id") % 17).alias("user_id"), (F.col("id") % 101).alias("value")
    )
    df.createOrReplaceTempView("prop_match_t")
    n_compiled = df.filter(compile_match(match_doc)).count()
    n_sql = spark.sql(
        f"SELECT count(*) AS n FROM prop_match_t WHERE {match_to_sql(match_doc)}"
    ).collect()[0]["n"]
    assert n_compiled == n_sql
