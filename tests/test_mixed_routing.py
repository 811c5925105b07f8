"""Mixed-family pipeline routing (r11, VERDICT r10 task 1).

A $group combining PLAIN accumulators (count/sum/avg/min/max/stddev)
with one-or-more exact SPECIAL families ($median/$percentile/$minN/
$maxN/$topN/$bottomN/$addToSet+$size) — or several specials together —
decomposes into per-family routed requests joined on the group keys:
aggregate_requests_from_pipeline (parse) + OlapEngine._serve_parts
(serve). Routed and source-fallback answers must agree bit-for-bit
(both go through router.run, which shares the rollup per family).
"""

from __future__ import annotations

import pytest

from mongo_olap_spark.cube import CubeSpec, Dimension, Measure
from mongo_olap_spark.engine import OlapEngine
from mongo_olap_spark.plans.pipeline_compiler import (
    PipelineError,
    aggregate_requests_from_pipeline,
)

MIXED = [{"$group": {"_id": {"et": "$event_type"},
                     "med": {"$median": {"input": "$value"}},
                     "n": {"$sum": 1},
                     "lo": {"$min": "$value"}}}]


# ---------------------------------------------------------------------------
# parse
# ---------------------------------------------------------------------------

def test_parse_plain_plus_special():
    filter_sql, dims, parts, out_cols = aggregate_requests_from_pipeline(MIXED)
    assert filter_sql is None
    assert [d.name for d in dims] == ["et"]
    assert out_cols == ["med", "n", "lo"]
    kinds = [p[0] for p in parts]
    assert kinds == ["plain", "special"]
    assert parts[0][1] == (("n", "count"), ("lo", "min", "value"))
    assert parts[1][1] == ("med", "quantile_exact", "value", 0.5)


def test_parse_match_prefix_and_two_specials():
    filter_sql, dims, parts, out_cols = aggregate_requests_from_pipeline([
        {"$match": {"value": {"$gt": 10}}},
        {"$group": {"_id": {"et": "$event_type"},
                    "med": {"$median": {"input": "$value"}},
                    "hi3": {"$maxN": {"input": "$value", "n": 3}}}},
    ])
    assert filter_sql is not None and "10" in filter_sql
    assert [p[0] for p in parts] == ["special", "special"]
    assert parts[0][1][1] == "quantile_exact"
    assert parts[1][1] == ("hi3", "max_n", "value", 3)
    assert out_cols == ["med", "hi3"]


def test_parse_addtoset_size_idiom_with_passthrough_and_drop():
    _f, _d, parts, out_cols = aggregate_requests_from_pipeline([
        {"$group": {"_id": {"et": "$event_type"},
                    "users": {"$addToSet": "$user_id"},
                    "n": {"$sum": 1},
                    "dropped": {"$max": "$value"}}},
        {"$project": {"nu": {"$size": "$users"}, "n": 1}},
    ])
    assert out_cols == ["nu", "n"]
    # the dropped accumulator is not computed anywhere
    all_names = [m[0] for p in parts for m in
                 (p[1] if p[0] == "plain" else (p[1],))]
    assert sorted(all_names) == ["n", "nu"]
    cd = [p for p in parts if p[0] == "special"][0]
    assert cd[1] == ("nu", "count_distinct", "user_id")


def test_parse_lone_and_all_plain_are_one_part():
    # one parser for every routable $group: a lone special and an
    # all-plain group are one-part decompositions
    _f, _d, parts, out_cols = aggregate_requests_from_pipeline([
        {"$group": {"_id": {"et": "$e"}, "m": {"$median": {"input": "$v"}}}}])
    assert parts == [("special", ("m", "quantile_exact", "v", 0.5), None)]
    assert out_cols == ["m"]
    _f, _d, parts, out_cols = aggregate_requests_from_pipeline([
        {"$group": {"_id": {"et": "$e"}, "n": {"$sum": 1}, "s": {"$sum": "$v"}}}])
    assert parts == [("plain", (("n", "count"), ("s", "sum", "v")))]
    assert out_cols == ["n", "s"]


@pytest.mark.parametrize("pipe,msg", [
    # _id: null routes only a lone special accumulator: not two ...
    ([{"$group": {"_id": None, "m": {"$median": {"input": "$v"}},
                  "n": {"$sum": 1}}}],
     "two or more accumulators"),
    # ... and not a lone plain one
    ([{"$group": {"_id": None, "n": {"$sum": 1}}}],
     "no special-family accumulator"),
    # raw $addToSet without the $size project
    ([{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                  "n": {"$sum": 1}}}],
     "idiom"),
    # _id excluded in the trailing project
    ([{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                  "n": {"$sum": 1}}},
      {"$project": {"_id": 0, "nu": {"$size": "$u"}, "n": 1}}],
     "cannot exclude _id"),
    # $size over a non-set field
    ([{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                  "n": {"$sum": 1}}},
      {"$project": {"nu": {"$size": "$n"}, "u": {"$size": "$u"}}}],
     "must reference an \\$addToSet field"),
    # a set consumed twice
    ([{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                  "n": {"$sum": 1}}},
      {"$project": {"a": {"$size": "$u"}, "b": {"$size": "$u"}}}],
     "consumed by two"),
    # literal $sum must be 1
    ([{"$group": {"_id": {"et": "$e"}, "m": {"$median": {"input": "$v"}},
                  "x": {"$sum": 2}}}],
     "must be \\{\\$sum: 1\\}"),
    # unsupported accumulator falls out
    ([{"$group": {"_id": {"et": "$e"}, "m": {"$median": {"input": "$v"}},
                  "x": {"$push": "$v"}}}],
     "not special-family routable"),
    # accumulator name collides with a dimension
    ([{"$group": {"_id": {"et": "$e"}, "et": {"$median": {"input": "$v"}},
                  "n": {"$sum": 1}}}],
     "collides with a dimension"),
    # a $group with no accumulator has nothing to route
    ([{"$group": {"_id": {"et": "$e"}}}],
     "no accumulator to route"),
])
def test_parse_refusals(pipe, msg):
    with pytest.raises(PipelineError, match=msg):
        aggregate_requests_from_pipeline(pipe)


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------

@pytest.fixture()
def engine(spark, tmp_path):
    return OlapEngine(spark, str(tmp_path / "olap"))


def _collect_map(df, key="et"):
    return {r[key]: tuple(r[c] for c in df.columns if c != key)
            for r in df.collect()}


def test_mixed_served_metadata_only_matches_per_family_routes(
        engine, events):
    # two-level cube serves the median family; plain cube the rest
    engine.create_cube(CubeSpec(
        name="tl", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("cells_n", "count"),)), events)
    engine.create_cube(CubeSpec(
        name="pl", source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("cnt", "count"),
                  Measure("mn", "min", path="value"))), events)

    out = engine.query_pipeline("events", MIXED)  # source_df=None: routed
    assert out.columns == ["et", "med", "n", "lo"]
    got = _collect_map(out)

    # the decomposition contract: each column equals its single-family
    # routed answer
    med = _collect_map(engine.query_pipeline("events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "med": {"$median": {"input": "$value"}}}}]))
    plain = _collect_map(engine.query_pipeline("events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "n": {"$sum": 1}, "lo": {"$min": "$value"}}}]))
    assert set(got) == set(med) == set(plain)
    for k, (m, n, lo) in got.items():
        assert (m,) == med[k]
        assert (n, lo) == plain[k]


def test_mixed_fallback_equals_routed(engine, spark, tmp_path, events):
    # no cubes: every part falls back to source aggregation — answers
    # must be bit-identical to the routed ones (same rollups)
    bare = OlapEngine(spark, str(tmp_path / "bare"))
    fb = _collect_map(bare.query_pipeline("events", MIXED, source_df=events))

    engine.create_cube(CubeSpec(
        name="tl", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("cells_n", "count"),)), events)
    engine.create_cube(CubeSpec(
        name="pl", source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("cnt", "count"),
                  Measure("mn", "min", path="value"))), events)
    routed = _collect_map(engine.query_pipeline("events", MIXED))
    assert fb == routed


def test_mixed_without_cubes_or_source_raises(engine):
    with pytest.raises(ValueError, match="no cube serves"):
        engine.query_pipeline("events", MIXED).collect()


def test_mixed_zero_dim(engine, events):
    out = engine.query_pipeline("events", [
        {"$group": {"_id": {}, "med": {"$median": {"input": "$value"}},
                    "n": {"$sum": 1}}}], source_df=events)
    [row] = out.collect()
    assert row["n"] == events.count()
    assert row["med"] is not None


def test_mixed_null_group_keys_join_null_safe(engine, spark):
    df = spark.createDataFrame(
        [(None, 1.0), (None, 3.0), ("a", 2.0), ("a", 4.0), ("b", None)],
        "k string, v double")
    out = engine.query_pipeline("t", [
        {"$group": {"_id": {"k": "$k"},
                    "med": {"$median": {"input": "$v"}},
                    "n": {"$sum": 1}}}], source_df=df)
    got = {r["k"]: (r["med"], r["n"]) for r in out.collect()}
    # the null group is ONE row (null-safe join), not dropped/duplicated
    assert got[None] == (1.0, 2)
    assert got["a"] == (2.0, 2)
    # all-null median: group survives with a null measure
    assert got["b"] == (None, 1)


def test_mixed_multi_p_percentile_and_topn(engine, events):
    out = engine.query_pipeline("events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "ps": {"$percentile": {"input": "$value",
                                           "p": [0.25, 0.75],
                                           "method": "approximate"}},
                    "best": {"$topN": {"n": 2, "sortBy": {"value": -1},
                                       "output": "$user_id"}},
                    "n": {"$sum": 1}}}], source_df=events)
    assert out.columns == ["et", "ps", "best", "n"]
    for r in out.collect():
        assert len(r["ps"]) == 2 and r["ps"][0] <= r["ps"][1]
        assert 1 <= len(r["best"]) <= 2
        assert r["n"] > 0


def test_mixed_addtoset_idiom_serving(engine, events):
    from pyspark.sql import functions as F

    out = engine.query_pipeline("events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "users": {"$addToSet": "$user_id"},
                    "n": {"$sum": 1}}},
        {"$project": {"nu": {"$size": "$users"}, "n": 1}}],
        source_df=events)
    truth = {r["event_type"]: (r["nu"], r["n"])
             for r in events.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("nu"),
                 F.count(F.lit(1)).alias("n")).collect()}
    assert _collect_map(out) == truth


# ---------------------------------------------------------------------------
# explain + advisor integration
# ---------------------------------------------------------------------------

def test_explain_reports_mixed_parts(engine, events):
    info = engine.explain("events", MIXED)
    assert info["route"]["target"] == "source"  # nothing registered yet
    fams = [p["family"] for p in info["route"]["parts"]]
    assert fams == ["plain", "quantile_exact"]

    engine.create_cube(CubeSpec(
        name="tl", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("cells_n", "count"),)), events)
    engine.create_cube(CubeSpec(
        name="pl", source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("cnt", "count"),
                  Measure("mn", "min", path="value"))), events)
    info = engine.explain("events", MIXED)
    assert info["route"]["target"] == "cube"
    assert {p["cube"] for p in info["route"]["parts"]} == {"tl", "pl"}
    assert "joined on the group keys" in info["route"]["rewrite"]


def test_advisor_ingests_mixed_and_apply_routes_it(engine, events):
    """advise_cubes decomposes a mixed pipeline into per-part workload
    requests; apply=True creates cubes that serve the whole pipeline
    metadata-only. The median rides on user_id (repeating values —
    the two-level cube is meaningfully smaller than the source, so
    the advisor's benefit margin accepts it; a near-unique column
    would be *correctly* refused as not worth materializing)."""
    pipe = [{"$group": {"_id": {"et": "$event_type"},
                        "med": {"$median": {"input": "$user_id"}},
                        "n": {"$sum": 1},
                        "lo": {"$min": "$user_id"}}}]
    advice = engine.advise_cubes(
        [("events", pipe, 3.0)], {"events": events}, apply=True)
    assert advice.cubes, "advisor recommended nothing for a mixed workload"
    assert advice.coverage == 1.0, advice.assignment
    # served with source_df=None: every part routed
    out = engine.query_pipeline("events", pipe)
    assert out.columns == ["et", "med", "n", "lo"]
    assert out.count() > 0
    info = engine.explain("events", pipe)
    assert info["route"]["target"] == "cube", info["route"]


# ---------------------------------------------------------------------------
# $size output shadowing a $group accumulator (ADVICE r11): Mongo
# inclusion-$project REPLACE semantics — the computed {$size} output
# replaces the same-named accumulator, which is dropped instead of
# colliding in the group-key join (AMBIGUOUS_REFERENCE).
# ---------------------------------------------------------------------------

def test_parse_size_output_shadows_plain_accumulator():
    _f, _d, parts, out_cols = aggregate_requests_from_pipeline([
        {"$group": {"_id": {"et": "$event_type"},
                    "u": {"$addToSet": "$user_id"},
                    "n": {"$sum": 1}}},
        {"$project": {"n": {"$size": "$u"}}}])
    assert out_cols == ["n"]
    # the shadowed {$sum: 1} is GONE — exactly one part, the distinct
    assert parts == [("special", ("n", "count_distinct", "user_id"), None)]


def test_parse_size_output_shadows_special_accumulator():
    _f, _d, parts, out_cols = aggregate_requests_from_pipeline([
        {"$group": {"_id": {"et": "$event_type"},
                    "u": {"$addToSet": "$user_id"},
                    "med": {"$median": {"input": "$value"}},
                    "n": {"$sum": 1}}},
        {"$project": {"med": {"$size": "$u"}, "n": 1}}])
    assert out_cols == ["med", "n"]
    all_names = sorted(m[0] for p in parts for m in
                       (p[1] if p[0] == "plain" else (p[1],)))
    assert all_names == ["med", "n"]
    cd = [p for p in parts if p[0] == "special"]
    assert cd == [("special", ("med", "count_distinct", "user_id"), None)]


def test_size_shadow_serving_matches_direct(engine, events):
    from pyspark.sql import functions as F

    out = engine.query_pipeline("events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "u": {"$addToSet": "$user_id"},
                    "n": {"$sum": 1}}},
        {"$project": {"n": {"$size": "$u"}}}], source_df=events)
    assert out.columns == ["et", "n"]
    truth = {r["event_type"]: (r["n"],)
             for r in events.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("n")).collect()}
    assert _collect_map(out) == truth


def test_size_shadow_with_passthrough_serving(engine, events):
    from pyspark.sql import functions as F

    out = engine.query_pipeline("events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "u": {"$addToSet": "$user_id"},
                    "n": {"$sum": 1},
                    "s": {"$sum": "$value"}}},
        {"$project": {"n": {"$size": "$u"}, "s": 1}}], source_df=events)
    assert out.columns == ["et", "n", "s"]
    # The routed plain-part $sum serves through the decimal-exact
    # rollup (that is what makes the answer hash-stable and
    # oracle-exact), while a native double F.sum is order-dependent
    # (9429.089999999998 vs the exact 9429.09 on this fixture) —
    # so the sum component compares approximately, not bit-for-bit.
    truth = {r["event_type"]: (r["n"], r["s"])
             for r in events.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("n"),
                 F.sum("value").alias("s")).collect()}
    got = _collect_map(out)
    assert sorted(got) == sorted(truth)
    for k, (n, s) in truth.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(s, rel=1e-12)


def test_size_self_shadow_still_works(engine, events):
    from pyspark.sql import functions as F

    # projecting the set's own name as its size is plain consumption
    out = engine.query_pipeline("events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "u": {"$addToSet": "$user_id"},
                    "n": {"$sum": 1}}},
        {"$project": {"u": {"$size": "$u"}, "n": 1}}], source_df=events)
    assert out.columns == ["et", "u", "n"]
    truth = {r["event_type"]: (r["u"], r["n"])
             for r in events.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("u"),
                 F.count(F.lit(1)).alias("n")).collect()}
    assert _collect_map(out) == truth


def test_size_shadowing_another_set_refuses():
    # output name shadows a DIFFERENT $addToSet: that set then has no
    # $size consumer — refuse toward the compile fallback, which keeps
    # Mongo's read-from-input-doc projection semantics
    with pytest.raises(PipelineError, match="no \\$size"):
        aggregate_requests_from_pipeline([
            {"$group": {"_id": {"et": "$e"},
                        "a": {"$addToSet": "$x"},
                        "b": {"$addToSet": "$y"},
                        "n": {"$sum": 1}}},
            {"$project": {"a": {"$size": "$b"}, "n": 1}}])


def test_explain_mixed_cubes_field(engine, events):
    """explain() for mixed pipelines: `cubes` lists every distinct
    serving cube; top-level `cube` names one only when all parts
    share it (ADVICE r11 — consumers keying on `cube` alone misread
    a fully-routed mixed query as unrouted)."""
    info = engine.explain("events", MIXED)
    assert info["route"]["cubes"] == []  # nothing registered yet

    engine.create_cube(CubeSpec(
        name="tl", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("cells_n", "count"),)), events)
    engine.create_cube(CubeSpec(
        name="pl", source="events",
        dimensions=(Dimension("event_type"),),
        measures=(Measure("cnt", "count"),
                  Measure("mn", "min", path="value"))), events)
    info = engine.explain("events", MIXED)
    assert info["route"]["target"] == "cube"
    assert info["route"]["cube"] is None  # two different serving cubes
    assert info["route"]["cubes"] == ["pl", "tl"]
