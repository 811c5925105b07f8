"""Pipeline-compiler tests: JSON Mongo pipelines → DataFrame plans.

Each test compiles a pipeline and checks the result against the
equivalent hand-written DataFrame query on the same testdata — the
compiler must add nothing and lose nothing relative to writing the
plan by hand. A plan test asserts no Python nodes appear (compiled
pipelines are pure Column expressions).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_olap_spark.functions.expressions import davg, dsum
from mongo_olap_spark.plans.pipeline_compiler import (
    PipelineError,
    compile_expr,
    compile_match,
    compile_pipeline,
)
from mongo_olap_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return load_table(spark, sf_dir, "customer")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_match_group_sort(events):
    out = compile_pipeline(
        events,
        [
            {"$match": {"value": {"$gt": 50}, "event_type": {"$ne": None}}},
            {"$group": {
                "_id": "$event_type",
                "n": {"$sum": 1},
                "total": {"$sum": "$value"},
                "avg": {"$avg": "$value"},
            }},
            {"$sort": {"_id": 1}},
        ],
    )
    exp = (
        events.filter((F.col("value") > 50) & F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("_id"))
        .agg(
            F.sum(F.lit(1)).alias("n"),
            dsum("value", "total"),
            davg("value", "avg"),
        )
        .orderBy("_id")
    )
    assert _rows(out) == _rows(exp)


def test_project_expressions_and_addfields(events):
    out = compile_pipeline(
        events,
        [
            {"$addFields": {"v2": {"$multiply": ["$value", 2]}}},
            {"$project": {
                "event_id": 1,
                "day": {"$dateTrunc": {"date": "$ts", "unit": "day"}},
                "big": {"$cond": {"if": {"$gte": ["$v2", 100]},
                                   "then": "yes", "else": "no"}},
            }},
        ],
    )
    exp = events.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        F.when(F.col("value") * 2 >= 100, "yes").otherwise("no").alias("big"),
    )
    assert _rows(out) == _rows(exp)


def test_unwind_preserve_and_index(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None)], "id int, xs array<string>"
    )
    out = compile_pipeline(
        df,
        [{"$unwind": {"path": "$xs", "preserveNullAndEmptyArrays": True,
                      "includeArrayIndex": "i"}}],
    )
    assert _rows(out) == sorted(
        [(1, 0, "a"), (1, 1, "b"), (2, None, None), (3, None, None)]
    )


def test_first_last_require_sort(events):
    with pytest.raises(PipelineError, match="requires a preceding"):
        compile_pipeline(
            events,
            [{"$group": {"_id": "$event_type", "f": {"$first": "$value"}}}],
        )
    out = compile_pipeline(
        events,
        [
            {"$sort": {"ts": 1}},
            {"$group": {"_id": "$user_id", "first_v": {"$first": "$value"}}},
        ],
    )
    exp = events.groupBy(F.col("user_id").alias("_id")).agg(
        F.expr("min_by(value, struct(ts))").alias("first_v")
    )
    assert _rows(out) == _rows(exp)


def test_lookup_packs_arrays_without_row_multiplication(orders, customer):
    out = compile_pipeline(
        orders,
        [
            {"$lookup": {"from": "customer", "localField": "o_custkey",
                         "foreignField": "c_custkey", "as": "cust"}},
            {"$project": {"o_orderkey": 1, "n_cust": {"$size": "$cust"}}},
        ],
        collections={"customer": customer},
    )
    assert out.count() == orders.count()  # $lookup never multiplies rows
    # every order matches exactly one customer in the testbed
    assert out.filter(F.col("n_cust") != 1).count() == 0


def test_union_with_nested_pipeline(events):
    out = compile_pipeline(
        events.limit(5).select("event_id", "value"),
        [{"$unionWith": {
            "coll": "events",
            "pipeline": [
                {"$match": {"value": {"$gt": 99}}},
                {"$project": {"event_id": 1, "value": 1}},
            ],
        }}],
        collections={"events": events},
    )
    n_gt = events.filter(F.col("value") > 99).count()
    assert out.count() == 5 + n_gt


def test_match_language_surface(events):
    q = {
        "$or": [
            {"value": {"$gte": 99.5}},
            {"$and": [{"event_type": {"$in": ["click", "view"]}},
                      {"value": {"$lt": 0.5}}]},
        ]
    }
    out = events.filter(compile_match(q))
    exp = events.filter(
        (F.col("value") >= 99.5)
        | (F.col("event_type").isin("click", "view") & (F.col("value") < 0.5))
    )
    assert out.count() == exp.count() > 0


def test_expr_operator_coverage(spark):
    df = spark.createDataFrame([(7, 2, "Hello World")], "a int, b int, s string")
    got = df.select(
        compile_expr({"$add": ["$a", "$b", 1]}).alias("add"),
        compile_expr({"$divide": ["$a", 0]}).alias("div0"),
        compile_expr({"$mod": ["$a", "$b"]}).alias("mod"),
        compile_expr({"$substrCP": ["$s", 0, 5]}).alias("sub"),
        compile_expr({"$indexOfCP": ["$s", "World"]}).alias("idx"),
        compile_expr({"$toLower": "$s"}).alias("low"),
        compile_expr({"$ifNull": ["$missing_like_null", "dflt"]}.copy()
                     if False else {"$ifNull": [None, "dflt"]}).alias("ifn"),
        compile_expr({"$switch": {
            "branches": [{"case": {"$gt": ["$a", 5]}, "then": "big"}],
            "default": "small"}}).alias("sw"),
        compile_expr({"$in": ["2", {"$split": ["1 2 3", " "]}]}).alias("yep"),
        compile_expr({"$in": ["9", {"$split": ["1 2 3", " "]}]}).alias("nope"),
    ).collect()[0]
    assert got["add"] == 10
    assert got["div0"] is None
    assert got["mod"] == 1
    assert got["sub"] == "Hello"
    assert got["idx"] == 6
    assert got["low"] == "hello world"
    assert got["ifn"] == "dflt"
    assert got["sw"] == "big"
    assert got["nope"] is False and got["yep"] is True


def test_substr_negative_length_and_count_empty(spark):
    """r7 advice fixes: deprecated $substr with a literal negative
    length returns the REMAINDER of the string (Mongo), $substrBytes
    refuses a negative byte count loudly (Mongo errors), and the
    compiled $count stage emits NO document over empty input — the
    same contract as the cube-routed $count."""
    df = spark.createDataFrame([("Hello World",)], "s string")
    row = df.select(
        compile_expr({"$substr": ["$s", 6, -1]}).alias("rem"),
        compile_expr({"$substr": ["$s", 6, -99]}).alias("rem2"),
        compile_expr({"$substr": ["$s", 0, 5]}).alias("pre"),
    ).collect()[0]
    assert row["rem"] == "World" and row["rem2"] == "World"
    assert row["pre"] == "Hello"
    with pytest.raises(PipelineError, match="non-negative"):
        compile_expr({"$substrBytes": ["$s", 0, -1]})
    # $count over empty input: zero rows, not one {n: 0} row
    empty = df.where(F.lit(False))
    assert compile_pipeline(empty, [{"$count": "n"}]).collect() == []
    got = compile_pipeline(df, [{"$count": "n"}]).collect()
    assert [(r["n"],) for r in got] == [(1,)]
    for bad in ("", "$n", "a.b", 7):
        with pytest.raises(PipelineError, match="\\$count requires"):
            compile_pipeline(df, [{"$count": bad}])


def test_unsupported_raises(events):
    # known-but-unmodeled names refuse BY NAME with the reason (r6);
    # genuinely unknown names keep the generic message
    with pytest.raises(PipelineError, match="unsupported by design"):
        compile_pipeline(events, [{"$indexStats": {}}])
    with pytest.raises(PipelineError, match="unsupported by design"):
        compile_expr({"$function": {}})
    with pytest.raises(PipelineError, match="unsupported stage"):
        compile_pipeline(events, [{"$noSuchStage": {}}])
    with pytest.raises(PipelineError, match="unsupported expression operator"):
        compile_expr({"$noSuchOp": 1})


def test_compiled_pipeline_has_no_python_nodes(events):
    out = compile_pipeline(
        events,
        [
            {"$match": {"value": {"$gt": 50}}},
            {"$addFields": {"day": {"$dateTrunc": {"date": "$ts", "unit": "day"}}}},
            {"$group": {"_id": "$day", "n": {"$sum": 1}}},
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    # the value filter must reach the scan
    assert "PushedFilters" in plan


def test_bucket_stage(orders):
    out = compile_pipeline(
        orders,
        [{"$bucket": {
            "groupBy": "$o_totalprice",
            "boundaries": [0, 100000, 200000, 300000],
            "default": -1,
            "output": {"n": {"$sum": 1}, "total": {"$sum": "$o_totalprice"}},
        }}],
    )
    rows = {r["_id"]: r["n"] for r in out.collect()}
    assert set(rows) <= {0, 100000, 200000, -1}
    assert sum(rows.values()) == orders.count()


def test_bucket_auto_stage(orders):
    out = compile_pipeline(
        orders,
        [{"$bucketAuto": {"groupBy": "$o_totalprice", "buckets": 4}}],
    )
    rows = out.collect()
    assert len(rows) == 4
    total = sum(r["count"] for r in rows)
    assert total == orders.count()
    # equi-height: bucket sizes within 1 of each other
    sizes = [r["count"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # _id carries {min, max} bounds
    assert all(r["_id"]["min"] <= r["_id"]["max"] for r in rows)


def test_facet_stage_single_document(events):
    out = compile_pipeline(
        events,
        [{"$facet": {
            "by_type": [{"$group": {"_id": "$event_type", "n": {"$sum": 1}}}],
            "extremes": [{"$match": {"value": {"$gt": 99.9}}},
                          {"$project": {"event_id": 1}}],
        }}],
    )
    [row] = out.collect()
    assert sum(f["n"] for f in row["by_type"]) == events.count()
    n_extreme = events.filter(F.col("value") > 99.9).count()
    assert len(row["extremes"]) == n_extreme


def test_graph_lookup_stage(spark):
    flights = spark.createDataFrame(
        [("JFK", "LHR"), ("LHR", "CDG"), ("CDG", "SIN"), ("SIN", "SYD")],
        "src string, dst string",
    )
    airports = spark.createDataFrame(
        [("JFK",), ("LHR",), ("CDG",), ("SIN",), ("SYD",)], "airport string"
    )
    # Mongo shape: from=flights, startWith=$airport,
    # connectFromField=dst, connectToField=src
    out = compile_pipeline(
        airports,
        [{"$graphLookup": {
            "from": "flights", "startWith": "$airport",
            "connectFromField": "dst", "connectToField": "src",
            "as": "reachable", "maxDepth": 2,
        }}],
        collections={"flights": flights},
    )
    got = {r["airport"]: sorted(x["dst"] for x in r["reachable"])
           for r in out.collect()}
    # from JFK within 3 hops (maxDepth 2 recursions past the start):
    # JFK->LHR, LHR->CDG, CDG->SIN
    assert got["JFK"] == ["CDG", "LHR", "SIN"]
    assert got["SYD"] == []


def test_out_refuses(events):
    with pytest.raises(PipelineError, match="executes a write"):
        compile_pipeline(events, [{"$out": "somewhere"}])


def test_cube_spec_from_pipeline_and_engine(spark, sf_dir, tmp_path):
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.plans.pipeline_compiler import cube_spec_from_pipeline

    pipeline = [
        {"$match": {"value": {"$gt": 10}}},
        {"$group": {
            "_id": {"etype": "$event_type",
                    "day": {"$dateTrunc": {"date": "$ts", "unit": "day"}}},
            "n": {"$sum": 1},
            "total": {"$sum": "$value"},
            "avg_v": {"$avg": "$value"},
        }},
    ]
    spec = cube_spec_from_pipeline("pipe_cube", "events", pipeline)
    assert spec.filter_sql == "(value > 10)"
    assert [d.name for d in spec.dimensions] == ["etype", "day"]
    assert {m.name: m.op for m in spec.measures} == {
        "n": "count", "total": "sum", "avg_v": "avg"
    }

    events = load_table(spark, sf_dir, "events")
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    engine.create_cube_from_pipeline("pipe_cube", "events", pipeline, events)
    got = engine.query(
        cube="pipe_cube", group_by=["etype"], measures=["n", "total"]
    )
    exp = (
        events.filter(F.col("value") > 10)
        .groupBy(F.col("event_type").alias("etype"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
    )
    assert _rows(got.select("etype", "n", "total")) == _rows(exp)


def test_set_window_fields(events):
    out = compile_pipeline(
        events,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"ts": 1},
            "output": {
                "rn": {"$documentNumber": {}},
                "running": {"$sum": "$value"},
                "prev_v": {"$shift": {"output": "$value", "by": -1}},
                "trail3": {"$avg": "$value",
                            "window": {"documents": [-2, "current"]}},
            },
        }}],
    )
    from pyspark.sql import Window as W

    from mongo_olap_spark.functions.expressions import SUM_DECIMAL

    w = W.partitionBy("user_id").orderBy("ts")
    cum = w.rowsBetween(W.unboundedPreceding, 0)
    tr3 = w.rowsBetween(-2, 0)
    v = F.col("value").cast(SUM_DECIMAL)
    exp = events.select(
        *events.columns,
        F.row_number().over(w).alias("rn"),
        F.sum(v).over(cum).cast("double").alias("running"),
        F.lag("value", 1).over(w).alias("prev_v"),
        (F.sum(v).over(tr3).cast("double") / F.count("value").over(tr3)).alias("trail3"),
    )
    assert _rows(out) == _rows(exp)


def test_compiled_pipeline_runs_on_a_stream(spark, sf_dir, tmp_path):
    """Continuous aggregation from a JSON pipeline: the same compiled
    plan drives a Structured Streaming source in update mode — stage
    compilation is source-agnostic plan construction."""
    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "stream_src")
    events.limit(2000).write.parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)

    out = compile_pipeline(
        stream,
        [
            {"$match": {"value": {"$gt": 50}}},
            {"$group": {"_id": "$event_type", "n": {"$sum": 1},
                        "total": {"$sum": "$value"}}},
        ],
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("pipe_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from pipe_stream").collect()
    exp = {
        (r["_id"], r["n"]) for r in compile_pipeline(
            spark.read.parquet(src_dir),
            [
                {"$match": {"value": {"$gt": 50}}},
                {"$group": {"_id": "$event_type", "n": {"$sum": 1},
                            "total": {"$sum": "$value"}}},
            ],
        ).collect()
    }
    assert {(r["_id"], r["n"]) for r in got} == exp


def test_query_pipeline_routes_to_cube_and_falls_back(spark, sf_dir, tmp_path):
    """The full serving loop: a routable [$match?, $group] pipeline is
    answered from the cube (no source scan — source_df=None), a
    rollup to a dim subset routes too, and a non-aggregate pipeline
    falls back to direct compilation."""
    from mongo_olap_spark.engine import OlapEngine

    events = load_table(spark, sf_dir, "events")
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    pipeline = [
        {"$group": {
            "_id": {"etype": "$event_type",
                    "day": {"$dateTrunc": {"date": "$ts", "unit": "day"}}},
            "n": {"$sum": 1},
            "total": {"$sum": "$value"},
        }},
    ]
    engine.create_cube_from_pipeline("serve_cube", "events", pipeline, events)

    # identical pipeline: served from the cube, source_df=None proves it
    got = engine.query_pipeline("events", pipeline)
    exp = events.groupBy(
        F.col("event_type").alias("etype"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
    assert _rows(got.select("etype", "day", "n", "total")) == _rows(exp)

    # coarser rollup (drop the time dim): still served from the cube
    rollup = [{"$group": {"_id": {"etype": "$event_type"}, "n": {"$sum": 1}}}]
    got2 = engine.query_pipeline("events", rollup)
    exp2 = events.groupBy(F.col("event_type").alias("etype")).agg(
        F.count(F.lit(1)).alias("n")
    )
    assert _rows(got2.select("etype", "n")) == _rows(exp2)

    # non-aggregate pipeline: compiles over source_df
    flat = engine.query_pipeline(
        "events", [{"$match": {"value": {"$gt": 99}}}], source_df=events
    )
    assert flat.count() == events.filter(F.col("value") > 99).count()

    # non-aggregate with no source_df: loud error, not a wrong answer
    with pytest.raises(Exception):
        engine.query_pipeline("events", [{"$match": {"value": {"$gt": 99}}}])

    # $sortByCount IS group+count+sort — served from the cube (r6):
    # source_df=None proves the metadata-only route; output matches
    # the stage compile exactly (columns _id/count, desc-count order)
    got3 = engine.query_pipeline("events", [{"$sortByCount": "$event_type"}])
    exp3 = compile_pipeline(events, [{"$sortByCount": "$event_type"}])
    assert [tuple(r) for r in got3.collect()] == [
        tuple(r) for r in exp3.collect()
    ]
    assert got3.columns == ["_id", "count"]

    # $count: the zero-dim rollup — summed from count partials, again
    # with source_df=None proving the metadata-only route
    got4 = engine.query_pipeline("events", [{"$count": "total"}])
    assert got4.columns == ["total"]
    assert got4.collect()[0]["total"] == events.count()

    # with NO serving cube, both rewrites fall back to direct
    # aggregation over source_df with identical output shape
    from mongo_olap_spark.engine import OlapEngine as _E
    bare = _E(spark, str(tmp_path / "olap_bare"))
    fb = bare.query_pipeline("events", [{"$count": "total"}],
                             source_df=events)
    assert fb.columns == ["total"]
    assert fb.collect()[0]["total"] == events.count()
    fb2 = bare.query_pipeline("events", [{"$sortByCount": "$event_type"}],
                              source_df=events)
    assert fb2.columns == ["_id", "count"]
    assert [tuple(r) for r in fb2.collect()] == [
        tuple(r) for r in exp3.collect()]


def test_densify_and_fill_stages(events):
    out = compile_pipeline(
        events,
        [
            {"$group": {
                "_id": {"etype": "$event_type",
                        "day": {"$dateTrunc": {"date": "$ts", "unit": "day"}}},
                "n": {"$sum": 1},
            }},
            {"$project": {"etype": "$_id.etype", "day": "$_id.day", "n": 1}},
            {"$densify": {"field": "day",
                           "partitionByFields": ["etype"],
                           "range": {"step": 1, "unit": "day",
                                     "bounds": "partition"}}},
            {"$fill": {"partitionBy": "$etype", "sortBy": {"day": 1},
                        "output": {"n": {"value": 0}}}},
        ],
    )
    daily = events.groupBy(
        F.col("event_type").alias("etype"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    spine = (
        daily.groupBy("etype")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("etype", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"))
    )
    exp = spine.join(daily, ["etype", "day"], "left").select(
        "etype", "day", F.coalesce("n", F.lit(0)).alias("n")
    )
    assert _rows(out.select("etype", "day", "n")) == _rows(exp)


def test_fill_locf_and_linear(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, None), (1, 4, 40.0), (2, 1, None)],
        "grp int, seq int, v double",
    )
    out = compile_pipeline(
        df.withColumn("v2", F.col("v")),
        [{"$fill": {"partitionBy": "$grp", "sortBy": {"seq": 1},
                     "output": {"v": {"method": "locf"},
                                "v2": {"method": "linear"}}}}],
    )
    got = {(r["grp"], r["seq"]): (r["v"], r["v2"]) for r in out.collect()}
    assert got[(1, 2)] == (10.0, 20.0)   # locf holds, linear interpolates
    assert got[(1, 3)] == (10.0, 30.0)
    assert got[(1, 4)] == (40.0, 40.0)
    assert got[(2, 1)] == (None, None)   # no anchors -> stays null


# ---------------------------------------------------------------------------
# $out / $merge terminal write stages
# ---------------------------------------------------------------------------

def _store(spark, tmp_path):
    from mongo_olap_spark.sources.store import ParquetCollectionStore

    return ParquetCollectionStore(spark, str(tmp_path / "store"))


def test_out_writes_versioned_snapshot(spark, tmp_path):
    from mongo_olap_spark.plans.pipeline_compiler import execute_pipeline

    store = _store(spark, tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "_id long, v string")
    v = execute_pipeline(df, [{"$match": {"_id": {"$gte": 1}}}, {"$out": "t"}], store)
    assert v == 1
    assert {(r._id, r.v) for r in store.read("t").collect()} == {(1, "a"), (2, "b")}
    # second $out supersedes atomically; old snapshot stays readable
    execute_pipeline(df.limit(1), [{"$out": "t"}], store)
    assert store.version("t") == 2
    assert store.read("t", version=1).count() == 2


def test_merge_semantics(spark, tmp_path):
    from mongo_olap_spark.plans.pipeline_compiler import execute_pipeline

    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "_id long, v string, w long"
    )
    store.write("t", base)
    inc = spark.createDataFrame([(2, "B"), (3, "C")], "_id long, v string")
    # default: whenMatched=merge (incoming cols overwrite, w survives),
    # whenNotMatched=insert
    execute_pipeline(inc, [{"$merge": {"into": "t", "on": "_id"}}], store)
    got = {(r._id, r.v, r.w) for r in store.read("t").collect()}
    assert got == {(1, "a", 10), (2, "B", 20), (3, "C", None)}


def test_merge_keep_existing_and_discard(spark, tmp_path):
    from mongo_olap_spark.plans.pipeline_compiler import execute_pipeline

    store = _store(spark, tmp_path)
    store.write("t", spark.createDataFrame([(1, "a"), (2, "b")], "_id long, v string"))
    inc = spark.createDataFrame([(2, "B"), (3, "C")], "_id long, v string")
    execute_pipeline(
        inc,
        [{"$merge": {"into": "t", "on": "_id",
                     "whenMatched": "keepExisting",
                     "whenNotMatched": "discard"}}],
        store,
    )
    got = {(r._id, r.v) for r in store.read("t").collect()}
    assert got == {(1, "a"), (2, "b")}


def test_merge_fail_modes(spark, tmp_path):
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError,
        execute_pipeline,
    )

    store = _store(spark, tmp_path)
    store.write("t", spark.createDataFrame([(1, "a")], "_id long, v string"))
    dup = spark.createDataFrame([(1, "A")], "_id long, v string")
    new = spark.createDataFrame([(9, "Z")], "_id long, v string")
    with pytest.raises(PipelineError, match="whenMatched=fail"):
        execute_pipeline(
            dup, [{"$merge": {"into": "t", "on": "_id", "whenMatched": "fail"}}], store
        )
    with pytest.raises(PipelineError, match="whenNotMatched=fail"):
        execute_pipeline(
            new,
            [{"$merge": {"into": "t", "on": "_id", "whenNotMatched": "fail"}}],
            store,
        )
    # failed merges must not have committed anything
    assert store.version("t") == 1


def test_merge_replace_null_safe_keys(spark, tmp_path):
    from mongo_olap_spark.plans.pipeline_compiler import merge_documents

    e = spark.createDataFrame([(None, "old"), (1, "one")], "_id long, v string")
    i = spark.createDataFrame([(None, "new")], "_id long, v string")
    got = {
        (r._id, r.v)
        for r in merge_documents(e, i, "_id", when_matched="replace").collect()
    }
    # NULL key matches NULL key (eqNullSafe), so the null-id doc is replaced
    assert got == {(None, "new"), (1, "one")}


def test_sample_stage_deterministic(spark):
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    a = compile_pipeline(df, [{"$sample": {"size": 25}}]).collect()
    b = compile_pipeline(df.repartition(7), [{"$sample": {"size": 25}}]).collect()
    assert len(a) == 25
    # deterministic: same rows regardless of partitioning
    assert {r.id for r in a} == {r.id for r in b}


# ---------------------------------------------------------------------------
# $lookup pipeline form (from/let/pipeline with $expr correlation)
# ---------------------------------------------------------------------------

def test_lookup_pipeline_form(spark, sf_dir):
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders")
    got = compile_pipeline(
        cust,
        [
            {"$lookup": {
                "from": "orders",
                "let": {"ck": "$c_custkey"},
                "pipeline": [
                    {"$match": {"$expr": {"$and": [
                        {"$eq": ["$o_custkey", "$$ck"]},
                        {"$gt": ["$o_totalprice", 300000]},
                    ]}}},
                    {"$project": {"o_orderkey": 1, "o_totalprice": 1}},
                ],
                "as": "big_orders",
            }},
            {"$project": {"c_custkey": 1, "n_big": {"$size": "$big_orders"}}},
        ],
        collections={"orders": orders},
    )
    expected = (
        cust.join(
            orders.filter(F.col("o_totalprice") > 300000)
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_big")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .select("c_custkey", F.coalesce("n_big", F.lit(0)).alias("n_big"))
    )
    assert {(r.c_custkey, r.n_big) for r in got.collect()} == {
        (r.c_custkey, r.n_big) for r in expected.collect()
    }
    # match-less rows carry [] (Mongo), so $size is 0, and row count
    # is preserved (the packed join never multiplies local rows)
    assert got.count() == cust.count()


def test_lookup_pipeline_form_refusals(spark, sf_dir):
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError,
        compile_pipeline,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def run(pipeline):
        compile_pipeline(
            cust,
            [{"$lookup": {"from": "orders", "let": {"ck": "$c_custkey"},
                          "pipeline": pipeline, "as": "x"}}],
            collections={"orders": orders},
        )

    with pytest.raises(PipelineError, match="leading"):
        run([{"$limit": 5}])
    # round 5: a pure-inequality correlation COMPILES now (general
    # path) — the refusal moved to genuinely uncompilable conjuncts
    run([{"$match": {"$expr": {"$gt": ["$o_custkey", "$$ck"]}}}])
    with pytest.raises(PipelineError, match=r"\$\$var conjuncts"):
        run([{"$match": {"$expr": {"$mod": ["$o_custkey", "$$ck"]}}}])
    # round 5: $sort/$limit in the sub-pipeline are supported now;
    # a correlated $group inside $lookup still refuses
    run([{"$match": {"$expr": {"$eq": ["$o_custkey", "$$ck"]}}},
         {"$sort": {"o_totalprice": -1}}])
    with pytest.raises(PipelineError, match="unsupported stages"):
        run([{"$match": {"$expr": {"$eq": ["$o_custkey", "$$ck"]}}},
             {"$group": {"_id": None, "n": {"$sum": 1}}}])
    with pytest.raises(PipelineError, match="undefined let"):
        run([{"$match": {"$expr": {"$eq": ["$o_custkey", "$$nope"]}}}])


# ---------------------------------------------------------------------------
# merge_documents property: Spark plan == pure-Python document model
# ---------------------------------------------------------------------------

def _model_merge(existing, incoming, when_matched, when_not_matched):
    """Reference model: dict-of-docs upsert with Mongo $merge rules."""
    out = {k: dict(v) for k, v in existing.items()}
    for k, doc in incoming.items():
        if k in out:
            if when_matched == "replace":
                out[k] = dict(doc)
            elif when_matched == "merge":
                out[k].update(doc)
            # keepExisting: no-op
        else:
            if when_not_matched == "insert":
                out[k] = dict(doc)
            # discard: no-op
    return out


@pytest.mark.parametrize("when_matched", ["replace", "keepExisting", "merge"])
@pytest.mark.parametrize("when_not_matched", ["insert", "discard"])
def test_merge_documents_matches_model(spark, when_matched, when_not_matched):
    import hypothesis.strategies as st
    from hypothesis import given, settings

    from mongo_olap_spark.plans.pipeline_compiler import merge_documents

    keys = st.integers(min_value=0, max_value=6)
    vals = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))
    side = st.dictionaries(keys, st.fixed_dictionaries({"v": vals, "w": vals}), max_size=5)

    @given(e=side, i=side)
    @settings(max_examples=12, deadline=None)
    def check(e, i):
        edf = spark.createDataFrame(
            [(k, d["v"], d["w"]) for k, d in e.items()], "_id long, v long, w long"
        )
        idf = spark.createDataFrame(
            [(k, d["v"], d["w"]) for k, d in i.items()], "_id long, v long, w long"
        )
        got = {
            r._id: {"v": r.v, "w": r.w}
            for r in merge_documents(
                edf, idf, "_id",
                when_matched=when_matched, when_not_matched=when_not_matched,
            ).collect()
        }
        assert got == _model_merge(e, i, when_matched, when_not_matched)

    check()


# ---------------------------------------------------------------------------
# array HOFs / date arithmetic / $let
# ---------------------------------------------------------------------------

def test_map_filter_reduce_let(spark):
    from mongo_olap_spark.plans.pipeline_compiler import compile_expr

    df = spark.createDataFrame([([1, 2, 3, 4], 10)], "xs array<int>, base int")
    got = df.select(
        compile_expr({"$map": {"input": "$xs", "as": "x",
                               "in": {"$multiply": ["$$x", 2]}}}).alias("doubled"),
        compile_expr({"$filter": {"input": "$xs", "as": "x",
                                  "cond": {"$gte": ["$$x", 3]}}}).alias("big"),
        compile_expr({"$reduce": {"input": "$xs", "initialValue": 0,
                                  "in": {"$add": ["$$value", "$$this"]}}}).alias("sum"),
        compile_expr({"$let": {"vars": {"b": "$base"},
                               "in": {"$map": {"input": "$xs", "as": "x",
                                               "in": {"$add": ["$$x", "$$b"]}}}}}).alias("shifted"),
        # nested $map: inner var shadows outer
        compile_expr({"$map": {"input": "$xs", "as": "x",
                               "in": {"$size": {"$filter": {
                                   "input": "$xs", "as": "y",
                                   "cond": {"$lt": ["$$y", "$$x"]}}}}}}).alias("n_less"),
    ).first()
    assert got.doubled == [2, 4, 6, 8]
    assert got.big == [3, 4]
    assert got.sum == 10
    assert got.shifted == [11, 12, 13, 14]
    assert got.n_less == [0, 1, 2, 3]


def test_date_add_diff(spark):
    from mongo_olap_spark.plans.pipeline_compiler import compile_expr

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-11 06:00:00")], "a string, b string"
    ).selectExpr("CAST(a AS TIMESTAMP) a", "CAST(b AS TIMESTAMP) b")
    got = df.select(
        compile_expr({"$dateAdd": {"startDate": "$a", "unit": "day",
                                   "amount": 3}}).alias("plus3"),
        compile_expr({"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                    "unit": "day"}}).alias("days"),
        compile_expr({"$setDifference": [[1, 2, 3], [2]]}).alias("diff"),
    ).first()
    assert str(got.plus3) == "2024-01-04 00:00:00"
    assert got.days == 10
    assert got.diff == [1, 3]


def test_undefined_var_still_refuses(spark):
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError,
        compile_expr,
    )

    with pytest.raises(PipelineError, match="unsupported variable"):
        compile_expr({"$add": ["$$nope", 1]})


def test_extended_accumulators_and_string_ops(spark):
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline, compile_expr

    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 3, 5, 7, 9]] + [("b", 2.0), ("b", 4.0)],
        "k string, v double",
    )
    got = {
        r._id: r
        for r in compile_pipeline(
            df,
            [{"$group": {
                "_id": "$k",
                "med": {"$median": {"input": "$v"}},
                "pcts": {"$percentile": {"input": "$v", "p": [0.5, 1.0]}},
                "lo2": {"$minN": {"input": "$v", "n": 2}},
                "hi2": {"$maxN": {"input": "$v", "n": 2}},
            }}],
        ).collect()
    }
    assert got["a"].med == 5.0 and got["b"].med == 3.0
    assert got["a"].pcts == [5.0, 9.0]
    assert got["a"].lo2 == [1.0, 3.0] and got["a"].hi2 == [9.0, 7.0]
    assert got["b"].lo2 == [2.0, 4.0]

    row = spark.createDataFrame(
        [("abc-42", "2024-03-05 07:08:09")], "s string, t string"
    ).selectExpr("s", "CAST(t AS TIMESTAMP) t").select(
        compile_expr({"$regexMatch": {"input": "$s", "regex": r"-\d+$"}}).alias("m"),
        compile_expr({"$dateToString": {"date": "$t", "format": "%Y/%m/%d %H:%M"}}).alias("d"),
    ).first()
    assert row.m is True
    assert row.d == "2024/03/05 07:08"


def test_lookup_overwrites_existing_as_field(spark):
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline

    local = spark.createDataFrame([(1, "old")], "k long, hits string")
    foreign = spark.createDataFrame([(1, 9)], "fk long, v long")
    got = compile_pipeline(
        local,
        [{"$lookup": {"from": "f", "localField": "k",
                      "foreignField": "fk", "as": "hits"}}],
        collections={"f": foreign},
    )
    assert got.columns.count("hits") == 1
    assert got.first().hits[0].v == 9


def test_merge_reserved_marker_collision_refused(spark):
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError,
        merge_documents,
    )

    e = spark.createDataFrame([(1, True)], "_id long, _e_present boolean")
    i = spark.createDataFrame([(1, False)], "_id long, _e_present boolean")
    with pytest.raises(PipelineError, match="reserved"):
        merge_documents(e, i, "_id")


def test_date_to_string_default_format_and_escapes(spark):
    """ADVICE r2: the default Mongo format has a literal 'T' and 'Z' —
    both must be emitted verbatim (not parsed as pattern letters / zone
    offset), and '%%' is a literal percent, not an error."""
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError, compile_expr, _mongo_date_format,
    )

    df = spark.createDataFrame([("2024-03-05 07:08:09.123",)], "t string")
    df = df.selectExpr("CAST(t AS TIMESTAMP) t")
    row = df.select(
        compile_expr({"$dateToString": {"date": "$t"}}).alias("iso"),
        compile_expr(
            {"$dateToString": {"date": "$t", "format": "%d%%ile of %Y"}}
        ).alias("pct"),
    ).first()
    assert row.iso == "2024-03-05T07:08:09.123Z"
    assert row.pct == "05%ile of 2024"

    with pytest.raises(PipelineError, match="unsupported format specifier %Q"):
        _mongo_date_format("%Y-%Q")
    with pytest.raises(PipelineError, match="trailing"):
        _mongo_date_format("%Y-%")


def test_date_diff_counts_boundary_crossings(spark):
    """ADVICE r2: Mongo $dateDiff counts unit-boundary crossings —
    23:59 to 00:01 next day is 1 day even though <24h elapsed."""
    from mongo_olap_spark.plans.pipeline_compiler import compile_expr

    df = spark.createDataFrame(
        [("2024-01-01 23:59:00", "2024-01-02 00:01:00")], "a string, b string"
    ).selectExpr("CAST(a AS TIMESTAMP) a", "CAST(b AS TIMESTAMP) b")
    got = df.select(
        *[
            compile_expr(
                {"$dateDiff": {"startDate": "$a", "endDate": "$b", "unit": u}}
            ).alias(u)
            for u in ("day", "month", "hour", "minute")
        ]
    ).first()
    assert got.day == 1  # crossed one midnight
    assert got.month == 0
    assert got.hour == 1  # 23:xx -> 00:xx crosses one hour boundary
    assert got.minute == 2

    # week crossings honor startOfWeek: 2024-01-06 is a Saturday,
    # 2024-01-07 a Sunday — Sunday start sees a crossing, Monday not
    wk = spark.createDataFrame(
        [("2024-01-06", "2024-01-07")], "a string, b string"
    ).selectExpr("CAST(a AS TIMESTAMP) a", "CAST(b AS TIMESTAMP) b")
    got = wk.select(
        compile_expr({"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                    "unit": "week"}}).alias("sun"),
        compile_expr({"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                    "unit": "week",
                                    "startOfWeek": "monday"}}).alias("mon"),
    ).first()
    assert got.sun == 1 and got.mon == 0


def test_lookup_pipeline_exclusion_project_refuses(spark):
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError, compile_pipeline,
    )

    local = spark.createDataFrame([(1,)], "k long")
    foreign = spark.createDataFrame([(1, 9)], "fk long, v long")
    with pytest.raises(PipelineError, match="inclusion form only"):
        compile_pipeline(
            local,
            [{"$lookup": {
                "from": "f", "as": "hits", "let": {"kk": "$k"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$fk", "$$kk"]}}},
                    {"$project": {"fk": 0}},
                ],
            }}],
            collections={"f": foreign},
        )


# ---------------------------------------------------------------------------
# round-4 expression-operator batch
# ---------------------------------------------------------------------------

def _one(spark, expr_spec, rows="x int", data=((1,),)):
    df = spark.createDataFrame(list(data), rows)
    return [r["out"] for r in df.select(compile_expr(expr_spec).alias("out")).collect()]


def test_string_trim_replace_ops(spark):
    df = spark.createDataFrame([("xxhelloxx", "l", "L")], "s string, f string, r string")
    out = df.select(
        compile_expr({"$ltrim": {"input": "$s", "chars": "x"}}).alias("lt"),
        compile_expr({"$rtrim": {"input": "$s", "chars": "x"}}).alias("rt"),
        compile_expr({"$ltrim": {"input": {"$literal": "  a "}}}).alias("sp"),
        compile_expr(
            {"$replaceOne": {"input": "$s", "find": "$f", "replacement": "$r"}}
        ).alias("one"),
        compile_expr(
            {"$replaceAll": {"input": "$s", "find": "$f", "replacement": "$r"}}
        ).alias("all"),
        compile_expr(
            {"$replaceOne": {"input": "$s", "find": {"$literal": "zz"},
                             "replacement": {"$literal": "?"}}}
        ).alias("miss"),
    ).collect()[0]
    assert out["lt"] == "helloxx"
    assert out["rt"] == "xxhello"
    assert out["sp"] == "a "
    assert out["one"] == "xxheLloxx"
    assert out["all"] == "xxheLLoxx"
    assert out["miss"] == "xxhelloxx"


def test_regex_find_ops(spark):
    df = spark.createDataFrame(
        [("order 12 of 34",), ("no digits",)], "s string"
    )
    out = df.select(
        compile_expr({"$regexFind": {"input": "$s", "regex": r"(\d+) of (\d+)"}}).alias("f"),
        compile_expr({"$regexFindAll": {"input": "$s", "regex": r"\d+"}}).alias("a"),
    ).collect()
    hit = out[0]["f"]
    assert hit["match"] == "12 of 34" and hit["idx"] == 6
    assert list(hit["captures"]) == ["12", "34"]
    assert [m["match"] for m in out[0]["a"]] == ["12", "34"]
    assert out[1]["f"] is None
    assert list(out[1]["a"]) == []


def test_array_ops(spark):
    df = spark.createDataFrame([([3, 1, 2], [10, 20])], "a array<int>, b array<int>")
    out = df.select(
        compile_expr({"$sortArray": {"input": "$a", "sortBy": 1}}).alias("asc"),
        compile_expr({"$sortArray": {"input": "$a", "sortBy": -1}}).alias("desc"),
        compile_expr({"$reverseArray": "$a"}).alias("rev"),
        compile_expr({"$indexOfArray": ["$a", 2]}).alias("idx"),
        compile_expr({"$indexOfArray": ["$a", 99]}).alias("missing"),
        compile_expr({"$zip": {"inputs": ["$a", "$b"]}}).alias("zshort"),
        compile_expr(
            {"$zip": {"inputs": ["$a", "$b"], "useLongestLength": True,
                      "defaults": [0, -1]}}
        ).alias("zlong"),
        compile_expr({"$range": [0, 6, 2]}).alias("rng"),
        compile_expr({"$range": [5, 0, -2]}).alias("rng_neg"),
        compile_expr({"$range": [3, 3]}).alias("rng_empty"),
    ).collect()[0]
    assert list(out["asc"]) == [1, 2, 3]
    assert list(out["desc"]) == [3, 2, 1]
    assert list(out["rev"]) == [2, 1, 3]
    assert out["idx"] == 2 and out["missing"] == -1
    assert [list(x) for x in out["zshort"]] == [[3, 10], [1, 20]]
    assert [list(x) for x in out["zlong"]] == [[3, 10], [1, 20], [2, -1]]
    assert list(out["rng"]) == [0, 2, 4]
    assert list(out["rng_neg"]) == [5, 3, 1]
    assert list(out["rng_empty"]) == []


def test_set_predicates(spark):
    df = spark.createDataFrame([([1, 2, 2], [2, 1], [1, 3])], "a array<int>, b array<int>, c array<int>")
    out = df.select(
        compile_expr({"$setEquals": ["$a", "$b"]}).alias("eq"),
        compile_expr({"$setEquals": ["$a", "$c"]}).alias("ne"),
        compile_expr({"$setIsSubset": ["$b", "$a"]}).alias("sub"),
        compile_expr({"$setIsSubset": ["$c", "$a"]}).alias("nosub"),
        compile_expr({"$anyElementTrue": [{"$map": {
            "input": "$a", "as": "x", "in": {"$gt": ["$$x", 1]}}}]}).alias("any"),
        compile_expr({"$allElementsTrue": [{"$map": {
            "input": "$a", "as": "x", "in": {"$gt": ["$$x", 1]}}}]}).alias("all"),
    ).collect()[0]
    assert out["eq"] and not out["ne"]
    assert out["sub"] and not out["nosub"]
    assert out["any"] and not out["all"]


def test_object_map_ops(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2},)], "m map<string,int>"
    )
    arr = df.select(compile_expr({"$objectToArray": "$m"}).alias("kv"))
    got = sorted((e["k"], e["v"]) for e in arr.collect()[0]["kv"])
    assert got == [("a", 1), ("b", 2)]
    back = arr.select(compile_expr({"$arrayToObject": "$kv"}).alias("m")).collect()[0]
    assert dict(back["m"]) == {"a": 1, "b": 2}


def test_get_set_field(spark):
    df = spark.createDataFrame([((1, "x"),)], "s struct<a:int,b:string>")
    out = df.select(
        compile_expr({"$getField": {"input": "$s", "field": "b"}}).alias("g"),
        compile_expr(
            {"$setField": {"input": "$s", "field": "a", "value": {"$literal": 9}}}
        ).alias("s2"),
    ).collect()[0]
    assert out["g"] == "x"
    assert out["s2"]["a"] == 9 and out["s2"]["b"] == "x"


def test_convert_with_handlers(spark):
    df = spark.createDataFrame(
        [("12",), ("nope",), (None,)], "s string"
    )
    out = df.select(
        compile_expr({"$convert": {"input": "$s", "to": "int",
                                   "onError": -1, "onNull": 0}}).alias("c"),
        compile_expr({"$convert": {"input": "$s", "to": "int"}}).alias("bare"),
    ).collect()
    assert [r["c"] for r in out] == [12, -1, 0]
    assert [r["bare"] for r in out] == [12, None, None]
    with pytest.raises(PipelineError, match="unsupported target"):
        compile_expr({"$convert": {"input": "$s", "to": "objectId"}})


def test_math_ops(spark):
    import math

    df = spark.createDataFrame([(0.5, -3.7)], "x double, y double")
    out = df.select(
        compile_expr({"$sin": "$x"}).alias("sin"),
        compile_expr({"$atan2": ["$x", 2.0]}).alias("at2"),
        compile_expr({"$log": [8.0, 2.0]}).alias("log"),
        compile_expr({"$trunc": ["$y", 0]}).alias("t0"),
        compile_expr({"$trunc": [{"$literal": 3.79}, 1]}).alias("t1"),
        compile_expr({"$trunc": ["$y", 1]}).alias("tn"),
        compile_expr({"$degreesToRadians": {"$literal": 180.0}}).alias("rad"),
    ).collect()[0]
    assert out["sin"] == math.sin(0.5)
    assert out["at2"] == math.atan2(0.5, 2.0)
    assert out["log"] == 3.0
    assert out["t0"] == -3.0  # toward zero, NOT floor
    assert out["t1"] == 3.7
    assert out["tn"] == -3.7
    assert out["rad"] == math.pi


def test_date_part_ops(spark):
    import datetime

    # 2024-01-07 is the first Sunday of 2024 (Jan 1 was a Monday)
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 6, 10, 30, 15, 250000),),
         (datetime.datetime(2024, 1, 7, 0, 0),),
         (datetime.datetime(2020, 1, 1, 0, 0),)],
        "ts timestamp",
    )
    out = df.select(
        compile_expr({"$dayOfWeek": "$ts"}).alias("dow"),
        compile_expr({"$isoDayOfWeek": "$ts"}).alias("iso_dow"),
        compile_expr({"$dayOfYear": "$ts"}).alias("doy"),
        compile_expr({"$week": "$ts"}).alias("week"),
        compile_expr({"$isoWeek": "$ts"}).alias("iso_week"),
        compile_expr({"$isoWeekYear": "$ts"}).alias("iso_wy"),
        compile_expr({"$millisecond": "$ts"}).alias("ms"),
    ).collect()
    sat, sun, nyd = out
    assert (sat["dow"], sat["iso_dow"]) == (7, 6)  # Saturday
    assert (sun["dow"], sun["iso_dow"]) == (1, 7)  # Sunday
    assert sat["week"] == 0 and sun["week"] == 1  # days before 1st Sunday
    assert sat["ms"] == 250
    # 2020-01-01 is ISO week 1 of 2020 but %U week 0
    assert (nyd["week"], nyd["iso_week"], nyd["iso_wy"]) == (0, 1, 2020)
    assert sat["doy"] == 6


def test_date_from_parts_and_string(spark):
    import datetime

    df = spark.createDataFrame([(2024, 3, 15)], "y int, m int, d int")
    out = df.select(
        compile_expr({"$dateFromParts": {"year": "$y", "month": "$m", "day": "$d",
                                         "hour": 12}}).alias("full"),
        compile_expr({"$dateFromParts": {"year": "$y"}}).alias("defaults"),
        compile_expr({"$dateFromString": {
            "dateString": {"$literal": "2024-03-15 12:00:00"}}}).alias("parsed"),
        compile_expr({"$dateFromString": {
            "dateString": {"$literal": "15/03/2024"},
            "format": "%d/%m/%Y"}}).alias("fmt"),
        compile_expr({"$dateToParts": {"date": {"$literal": "2024-03-15 12:34:56"},
                                       }}).alias("parts"),
    ).collect()[0]
    assert out["full"] == datetime.datetime(2024, 3, 15, 12)
    assert out["defaults"] == datetime.datetime(2024, 1, 1)
    assert out["parsed"] == datetime.datetime(2024, 3, 15, 12)
    assert out["fmt"] == datetime.datetime(2024, 3, 15)
    p = out["parts"]
    assert (p["year"], p["month"], p["day"], p["hour"], p["minute"],
            p["second"], p["millisecond"]) == (2024, 3, 15, 12, 34, 56, 0)


def test_to_bool_and_decimal(spark):
    from decimal import Decimal

    df = spark.createDataFrame([("true", "1.5")], "b string, d string")
    out = df.select(
        compile_expr({"$toBool": "$b"}).alias("b"),
        compile_expr({"$toDecimal": "$d"}).alias("d"),
    ).collect()[0]
    assert out["b"] is True
    assert out["d"] == Decimal("1.5")


def test_first_last_n_accumulators(spark):
    df = spark.createDataFrame(
        [("a", i, float(i * 10)) for i in [3, 1, 4, 1, 5]]
        + [("b", 9, 90.0)],
        "g string, k int, v double",
    )
    out = compile_pipeline(
        df,
        [
            {"$sort": {"k": 1}},
            {"$group": {
                "_id": "$g",
                "first2": {"$firstN": {"input": "$v", "n": 2}},
                "last2": {"$lastN": {"input": "$v", "n": 2}},
            }},
            {"$sort": {"_id": 1}},
        ],
    ).collect()
    a, b = out
    assert list(a["first2"]) == [10.0, 10.0]  # k=1 ties, both before k=3
    assert list(a["last2"]) == [40.0, 50.0]
    assert list(b["first2"]) == [90.0]  # group smaller than n keeps all
    assert list(b["last2"]) == [90.0]


def test_top_bottom_accumulators(spark):
    df = spark.createDataFrame(
        [("a", 3, "c3"), ("a", 1, "c1"), ("a", 2, "c2"), ("b", 7, "c7")],
        "g string, k int, tag string",
    )
    out = compile_pipeline(
        df,
        [
            {"$group": {
                "_id": "$g",
                "top": {"$top": {"output": "$tag", "sortBy": {"k": 1}}},
                "bottom": {"$bottom": {"output": "$tag", "sortBy": {"k": 1}}},
                "top2": {"$topN": {"output": "$tag", "sortBy": {"k": 1}, "n": 2}},
                "bot2": {"$bottomN": {"output": "$tag", "sortBy": {"k": 1}, "n": 2}},
                "top_desc": {"$top": {"output": "$tag", "sortBy": {"k": -1}}},
            }},
            {"$sort": {"_id": 1}},
        ],
    ).collect()
    a, b = out
    assert a["top"] == "c1" and a["bottom"] == "c3" and a["top_desc"] == "c3"
    assert list(a["top2"]) == ["c1", "c2"]
    assert list(a["bot2"]) == ["c2", "c3"]
    assert b["top"] == "c7" and list(b["bot2"]) == ["c7"]


def test_new_ops_refuse_by_name(spark):
    with pytest.raises(PipelineError, match="literal regex"):
        compile_expr({"$regexFind": {"input": "$s", "regex": "$pat"}})
    with pytest.raises(PipelineError, match="sortBy: 1\\|-1"):
        compile_expr({"$sortArray": {"input": "$a", "sortBy": {"f": 1}}})
    with pytest.raises(PipelineError, match="nonzero integer step"):
        compile_expr({"$range": [0, 5, 0]})
    with pytest.raises(PipelineError, match="defaults requires"):
        compile_expr({"$zip": {"inputs": ["$a"], "defaults": [1]}})
    with pytest.raises(PipelineError, match="literal field name"):
        compile_expr({"$getField": {"input": "$s", "field": {"$literal": "x"}}})
    # (the $dateFromParts ISO week-date form is implemented as of
    # round 5 — its former refusal is gone; see test_expr_fuzz)
    with pytest.raises(PipelineError, match="preceding \\$sort"):
        compile_pipeline(
            spark.createDataFrame([("a", 1)], "g string, v int"),
            [{"$group": {"_id": "$g", "f": {"$firstN": {"input": "$v", "n": 2}}}}],
        )


def test_ifnull_variadic_and_misc_string_ops(spark):
    df = spark.createDataFrame([(None, None, 5, "AbC", "abd")],
                               "a int, b int, c int, s string, t string")
    out = df.select(
        compile_expr({"$ifNull": ["$a", "$b", "$c"]}).alias("coal"),
        compile_expr({"$ifNull": ["$a", "$b"]}).alias("two"),
        compile_expr({"$strLenBytes": {"$literal": "héllo"}}).alias("bytes"),
        compile_expr({"$strLenCP": {"$literal": "héllo"}}).alias("cps"),
        compile_expr({"$strcasecmp": ["$s", "$t"]}).alias("cmp_lt"),
        compile_expr({"$strcasecmp": ["$s", {"$literal": "ABC"}]}).alias("cmp_eq"),
        compile_expr({"$isNumber": "$c"}).alias("isnum"),
        compile_expr({"$isNumber": "$s"}).alias("notnum"),
        compile_expr({"$isArray": {"$split": ["$s", "b"]}}).alias("isarr"),
    ).collect()[0]
    assert out["coal"] == 5 and out["two"] is None
    assert out["bytes"] == 6 and out["cps"] == 5  # é is 2 bytes, 1 cp
    assert out["cmp_lt"] == -1 and out["cmp_eq"] == 0
    assert out["isnum"] and not out["notnum"] and out["isarr"]
    with pytest.raises(PipelineError, match="at least two"):
        compile_expr({"$ifNull": ["$a"]})


def test_sample_rate_deterministic(events):
    full = compile_pipeline(events, [{"$match": {"$sampleRate": 1.0}}]).count()
    none = compile_pipeline(events, [{"$match": {"$sampleRate": 0.0}}]).count()
    assert full == events.count() and none == 0
    a = compile_pipeline(events, [{"$match": {"$sampleRate": 0.3}}])
    b = compile_pipeline(events.repartition(7), [{"$match": {"$sampleRate": 0.3}}])
    ra = sorted(r["event_id"] for r in a.select("event_id").collect())
    rb = sorted(r["event_id"] for r in b.select("event_id").collect())
    assert ra == rb  # deterministic under repartitioning
    assert 0.2 * full < len(ra) < 0.4 * full
    with pytest.raises(PipelineError, match="literal in"):
        compile_match({"$sampleRate": 1.5})


def test_date_subtract(spark):
    import datetime

    df = spark.createDataFrame([(datetime.datetime(2024, 3, 15, 12),)], "ts timestamp")
    out = df.select(
        compile_expr({"$dateSubtract": {"startDate": "$ts", "unit": "day",
                                        "amount": 14}}).alias("d"),
        compile_expr({"$dateAdd": {"startDate": "$ts", "unit": "day",
                                   "amount": -14}}).alias("same"),
    ).collect()[0]
    assert out["d"] == datetime.datetime(2024, 3, 1, 12) == out["same"]


def test_geo_near_stage(spark):
    rows = [(1, 40.0, -74.0), (2, 40.5, -74.0), (3, 52.5, 13.4), (4, -33.9, 151.2)]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    out = compile_pipeline(
        df,
        [{"$geoNear": {
            "near": [-74.0, 40.0],  # bare GeoJSON pair: lon first
            "key": ["lon", "lat"],
            "distanceField": "d",
            "maxDistance": 1_000_000,
            "query": {"id": {"$lt": 4}},
        }}],
    ).collect()
    assert [r["id"] for r in out] == [1, 2]  # Berlin filtered by radius
    assert out[0]["d"] == 0.0
    assert 55_000 < out[1]["d"] < 56_000  # 0.5 deg lat ~ 55.6 km
    with pytest.raises(PipelineError, match="first pipeline stage"):
        compile_pipeline(df, [{"$limit": 2}, {"$geoNear": {
            "near": [0, 0], "key": ["lon", "lat"]}}])
    with pytest.raises(PipelineError, match="lon, lat"):
        compile_pipeline(df, [{"$geoNear": {"near": [1], "key": ["lon", "lat"]}}])


def test_documents_stage_and_replace_with(spark):
    out = compile_pipeline(
        spark.range(1),  # ignored: $documents replaces the source
        [
            {"$documents": [
                {"k": "a", "inner": {"x": 1, "y": 10}},
                {"k": "b", "inner": {"x": 2, "y": 20}},
            ]},
            {"$replaceWith": "$inner"},
            {"$sort": {"x": 1}},
        ],
    ).collect()
    assert [(r["x"], r["y"]) for r in out] == [(1, 10), (2, 20)]
    # expression-form root: document literal built from operators
    out2 = compile_pipeline(
        spark.createDataFrame([(3, 4)], "a int, b int"),
        [{"$replaceWith": {"total": {"$add": ["$a", "$b"]},
                           "diff": {"$subtract": ["$a", "$b"]}}}],
    ).collect()[0]
    assert (out2["total"], out2["diff"]) == (7, -1)
    with pytest.raises(PipelineError, match="first pipeline stage"):
        compile_pipeline(spark.range(1), [{"$limit": 1}, {"$documents": [{"a": 1}]}])


def test_merge_objects_last_wins(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2}, {"b": 99, "c": 3})],
        "m1 map<string,int>, m2 map<string,int>",
    )
    out = df.select(
        compile_expr({"$mergeObjects": ["$m1", "$m2"]}).alias("m")
    ).collect()[0]
    assert dict(out["m"]) == {"a": 1, "b": 99, "c": 3}
    rev = df.select(
        compile_expr({"$mergeObjects": ["$m2", "$m1"]}).alias("m")
    ).collect()[0]
    assert dict(rev["m"]) == {"a": 1, "b": 2, "c": 3}  # argument order decides


def test_vector_search_stage(spark):
    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = compile_pipeline(
        df,
        [{"$vectorSearch": {
            "path": "v", "queryVector": [1.0, 0.0], "limit": 2, "exact": True,
            "filter": {"id": {"$ne": 1}},
        }}],
    ).collect()
    assert [r["id"] for r in out] == [2, 3]  # nearest first, query row filtered
    assert out[0]["score"] > out[1]["score"] == 0.5  # orthogonal -> (1+0)/2
    with pytest.raises(PipelineError, match="knn_lsh/ivf_knn"):
        compile_pipeline(df, [{"$vectorSearch": {
            "path": "v", "queryVector": [1.0, 0.0], "limit": 2}}])
    with pytest.raises(PipelineError, match="first pipeline stage"):
        compile_pipeline(df, [{"$limit": 3}, {"$vectorSearch": {
            "path": "v", "queryVector": [1.0], "limit": 1, "exact": True}}])


def test_swf_derivative_integral(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base + datetime.timedelta(hours=h), float(v))
        for h, v in [(0, 0.0), (1, 10.0), (2, 30.0), (4, 30.0)]
    ] + [(2, base, 5.0), (2, base + datetime.timedelta(hours=2), 9.0)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = compile_pipeline(
        df,
        [{"$setWindowFields": {
            "partitionBy": "$k",
            "sortBy": {"ts": 1},
            "output": {
                "rate": {"$derivative": {"input": "$v", "unit": "hour"},
                         "window": {"documents": [-1, 0]}},
                "area": {"$integral": {"input": "$v", "unit": "hour"}},
            },
        }}],
    ).collect()
    got = {(r["k"], r["ts"].hour): (r["rate"], r["area"]) for r in out}
    # rate over [-1, 0] = per-step derivative in units/hour
    assert got[(1, 0)] == (None, None)  # first row: no prior segment
    assert got[(1, 1)] == (10.0, 5.0)   # (0+10)/2 * 1h
    assert got[(1, 2)] == (20.0, 25.0)  # +(10+30)/2
    assert got[(1, 4)] == (0.0, 85.0)   # flat segment, 2h * 30
    assert got[(2, 0)] == (None, None) and got[(2, 2)] == (2.0, 14.0)


def test_swf_locf_linear_fill_and_covariance(spark):
    rows = [
        (1, 0.0, 10.0, 1.0), (1, 1.0, None, 2.0), (1, 3.0, None, 3.0),
        (1, 4.0, 50.0, 4.0), (1, 5.0, None, 5.0),
    ]
    df = spark.createDataFrame(rows, "k int, t double, v double, u double")
    out = compile_pipeline(
        df,
        [{"$setWindowFields": {
            "partitionBy": "$k",
            "sortBy": {"t": 1},
            "output": {
                "carried": {"$locf": "$v"},
                "interp": {"$linearFill": "$v"},
                "cov": {"$covariancePop": ["$t", "$u"],
                        "window": {"documents": ["unbounded", "unbounded"]}},
                "sd": {"$stdDevSamp": "$t",
                       "window": {"documents": ["unbounded", "unbounded"]}},
            },
        }}],
    ).collect()
    by_t = {r["t"]: r for r in out}
    assert [by_t[t]["carried"] for t in (0.0, 1.0, 3.0, 4.0, 5.0)] == [
        10.0, 10.0, 10.0, 50.0, 50.0
    ]
    # value-distance interpolation: anchors at t=0 (10) and t=4 (50)
    assert by_t[1.0]["interp"] == 20.0
    assert by_t[3.0]["interp"] == 40.0
    assert by_t[5.0]["interp"] is None  # no following anchor
    import statistics

    ts = [r[1] for r in rows]
    us = [r[3] for r in rows]
    mean_t, mean_u = sum(ts) / 5, sum(us) / 5
    cov = sum((a - mean_t) * (b - mean_u) for a, b in zip(ts, us)) / 5
    assert abs(by_t[0.0]["cov"] - cov) < 1e-12
    assert abs(by_t[0.0]["sd"] - statistics.stdev(ts)) < 1e-12


def test_densify_explicit_bounds_half_open(spark):
    rows = [("a", 0, 1.0), ("a", 4, 2.0), ("a", 9, 3.0), ("b", 2, 4.0)]
    df = spark.createDataFrame(rows, "k string, x int, v double")
    out = compile_pipeline(
        df,
        [{"$densify": {"field": "x", "partitionByFields": ["k"],
                        "range": {"step": 2, "bounds": [0, 7]}}}],
    ).collect()
    got = sorted((r["k"], r["x"], r["v"]) for r in out)
    # spine 0,2,4,6 per key (7 excluded: half-open); out-of-range
    # documents (x=9) survive via the full join
    assert got == sorted([
        ("a", 0, 1.0), ("a", 2, None), ("a", 4, 2.0), ("a", 6, None),
        ("a", 9, 3.0),
        ("b", 0, None), ("b", 2, 4.0), ("b", 4, None), ("b", 6, None),
    ])


def test_merge_when_matched_update_pipeline(spark):
    from mongo_olap_spark.plans.pipeline_compiler import merge_documents

    existing = spark.createDataFrame(
        [(1, 10.0, "keep"), (2, 20.0, "keep")], "id int, n double, tag string"
    )
    incoming = spark.createDataFrame(
        [(1, 5.0), (3, 7.0)], "id int, n double"
    )
    out = merge_documents(
        existing, incoming, "id",
        when_matched=[
            {"$set": {"n": {"$add": ["$n", "$$new.n"]},
                      "doubled": {"$multiply": ["$n", 2]}}},
            {"$set": {"chained": {"$add": ["$n", 1]}}},  # sees updated n
        ],
    )
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["n"] == 15.0 and got[1]["tag"] == "keep"
    assert got[1]["doubled"] == 20.0  # $new-free exprs read EXISTING n
    assert got[1]["chained"] == 16.0  # later stage reads stage-1's n
    assert got[2]["n"] == 20.0 and got[2]["chained"] is None  # unmatched
    assert got[3]["n"] == 7.0 and got[3]["tag"] is None  # inserted
    assert len(got) == 3
    with pytest.raises(PipelineError, match="unsupported stage"):
        merge_documents(existing, incoming, "id",
                        when_matched=[{"$replaceRoot": {"newRoot": "$x"}}])


def test_merge_pipeline_unset(spark):
    from mongo_olap_spark.plans.pipeline_compiler import merge_documents

    existing = spark.createDataFrame([(1, "secret")], "id int, s string")
    incoming = spark.createDataFrame([(1,)], "id int")
    out = merge_documents(existing, incoming, "id",
                          when_matched=[{"$unset": "s"}]).collect()[0]
    assert out["s"] is None


def test_merge_pipeline_counter_property(spark):
    """Property (hypothesis): a whenMatched counter pipeline
    ({$set: {n: {$add: ["$n", "$$new.n"]}}}) applied over any random
    existing/incoming pair equals the dict model — the cube-style
    accumulate-on-match contract."""
    import hypothesis.strategies as st
    from hypothesis import given, settings

    from mongo_olap_spark.plans.pipeline_compiler import merge_documents

    keys = st.integers(min_value=0, max_value=6)
    vals = st.integers(min_value=-5, max_value=5)
    side = st.dictionaries(keys, vals, max_size=5)

    @given(e=side, i=side)
    @settings(max_examples=12, deadline=None)
    def check(e, i):
        edf = spark.createDataFrame(list(e.items()) or [(None, None)], "_id long, n long")
        idf = spark.createDataFrame(list(i.items()) or [(None, None)], "_id long, n long")
        if not e:
            edf = edf.limit(0)
        if not i:
            idf = idf.limit(0)
        got = {
            r._id: r.n
            for r in merge_documents(
                edf, idf, "_id",
                when_matched=[{"$set": {"n": {"$add": ["$n", "$$new.n"]}}}],
            ).collect()
        }
        want = dict(e)
        for k, v in i.items():
            want[k] = want[k] + v if k in want else v
        assert got == want

    check()


def test_swf_review_fixes(spark):
    """Round-4 self-review regressions: DATE sortBy routes through
    unix_date instead of an illegal cast, and $last without a window
    reads the whole partition (cumulative would make it the identity
    function). Range windows are real rangeBetween frames (their own
    test); $integral alone refuses them (trapezoid terms are
    row-attached)."""
    import datetime
    base = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), float(v) if v is not None else None)
         for i, v in enumerate([10.0, None, 30.0, None, 50.0])],
        "d date, v double",
    )
    out = compile_pipeline(
        df,
        [{"$setWindowFields": {"sortBy": {"d": 1}, "output": {
            "filled": {"$linearFill": "$v"},
            "final": {"$last": "$v"},
            "first": {"$first": "$v"},
        }}}],
    ).collect()
    by_d = {r["d"].day: r for r in out}
    assert by_d[2]["filled"] == 20.0 and by_d[4]["filled"] == 40.0  # date distance
    assert all(r["final"] == 50.0 for r in out)  # whole partition, not identity
    assert all(r["first"] == 10.0 for r in out)


def test_date_from_parts_millisecond_and_from_string_handlers(spark):
    import datetime

    df = spark.createDataFrame([("2024-03-15 12:00:00", "garbage", None)],
                               "good string, bad string, missing string")
    out = df.select(
        compile_expr({"$dateFromParts": {"year": 2024, "millisecond": 500}}).alias("ms"),
        compile_expr({"$dateFromString": {"dateString": "$bad",
                                          "onError": {"$literal": None}}}).alias("err"),
        compile_expr({"$dateFromString": {
            "dateString": "$missing",
            "onNull": {"$toDate": {"$literal": "2000-01-01"}}}}).alias("onn"),
    ).collect()[0]
    assert out["ms"] == datetime.datetime(2024, 1, 1, 0, 0, 0, 500000)
    assert out["err"] is None
    assert out["onn"] == datetime.datetime(2000, 1, 1)
    # round 5: timezone is now SUPPORTED (test_date_timezone_matrix);
    # only the non-literal form still refuses
    with pytest.raises(PipelineError, match="timezone must be a literal"):
        compile_expr({"$dateFromParts": {"year": 2024, "timezone": "$tz"}})


def test_strcasecmp_null_coerces_to_empty(spark):
    df = spark.createDataFrame([(None, "abc")], "a string, b string")
    out = df.select(
        compile_expr({"$strcasecmp": ["$a", "$b"]}).alias("lt"),
        compile_expr({"$strcasecmp": ["$b", "$a"]}).alias("gt"),
        compile_expr({"$strcasecmp": ["$a", {"$literal": ""}]}).alias("eq"),
    ).collect()[0]
    assert (out["lt"], out["gt"], out["eq"]) == (-1, 1, 0)


def test_swf_range_frames(spark):
    """{range: [...], unit} windows compile to Spark rangeBetween over
    the numeric sortBy image: a 1-hour trailing moving average must
    include exactly the rows within 3600 seconds, not a row count."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 10.0),
        (1, base + datetime.timedelta(minutes=30), 20.0),
        (1, base + datetime.timedelta(minutes=90), 40.0),
        (1, base + datetime.timedelta(minutes=100), 60.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = compile_pipeline(
        df,
        [{"$setWindowFields": {
            "partitionBy": "$k",
            "sortBy": {"ts": 1},
            "output": {
                "avg1h": {"$avg": "$v",
                          "window": {"range": [-1, "current"], "unit": "hour"}},
                "n1h": {"$count": {},
                        "window": {"range": [-1, "current"], "unit": "hour"}},
                "rate": {"$derivative": {"input": "$v", "unit": "hour"},
                         "window": {"range": [-1, "current"], "unit": "hour"}},
            },
        }}],
    ).collect()
    by_min = {int((r["ts"] - base).total_seconds() // 60): r for r in out}
    assert by_min[0]["n1h"] == 1 and by_min[0]["avg1h"] == 10.0
    assert by_min[30]["n1h"] == 2 and by_min[30]["avg1h"] == 15.0
    # t=90: rows at 30 and 90 within the trailing hour (0 is 90min ago)
    assert by_min[90]["n1h"] == 2 and by_min[90]["avg1h"] == 30.0
    # t=100: the trailing hour covers [40, 100] -> rows at 90 and 100
    # only (minute 30 is 70 minutes back)
    assert by_min[100]["n1h"] == 2 and by_min[100]["avg1h"] == 50.0
    # derivative over that frame: (60-40)/(10 min) in per-hour units
    assert abs(by_min[100]["rate"] - (60.0 - 40.0) / (10 / 60)) < 1e-9
    with pytest.raises(PipelineError, match="documents frames only"):
        compile_pipeline(
            df,
            [{"$setWindowFields": {"sortBy": {"ts": 1}, "output": {
                "i": {"$integral": {"input": "$v", "unit": "hour"},
                      "window": {"range": [-1, 0], "unit": "hour"}}}}}],
        )


def test_fill_linear_uses_sort_value_distance(spark):
    """Mongo $fill method:linear interpolates on sortBy VALUES: with
    anchors at t=0 (v=10) and t=10 (v=110), the null at t=1 fills to
    20 — row-position interpolation would wrongly give 60."""
    rows = [(0.0, 10.0), (1.0, None), (10.0, 110.0)]
    df = spark.createDataFrame(rows, "t double, v double")
    out = compile_pipeline(
        df,
        [{"$fill": {"sortBy": {"t": 1},
                    "output": {"v": {"method": "linear"}}}}],
    ).collect()
    got = {r["t"]: r["v"] for r in out}
    assert got[1.0] == 20.0
    assert got[0.0] == 10.0 and got[10.0] == 110.0


def test_densify_calendar_units(spark):
    import datetime

    rows = [("a", datetime.datetime(2024, 1, 31), 1.0),
            ("a", datetime.datetime(2024, 4, 30), 2.0)]
    df = spark.createDataFrame(rows, "k string, m timestamp, v double")
    out = compile_pipeline(
        df,
        [{"$densify": {"field": "m", "partitionByFields": ["k"],
                        "range": {"step": 1, "unit": "month",
                                  "bounds": "partition"}}}],
    ).collect()
    months = sorted(r["m"] for r in out)
    # end-of-month clamping: Jan 31 -> Feb 29 (leap) -> Mar 31 -> Apr 30
    assert [m.month for m in months] == [1, 2, 3, 4]
    assert [m.day for m in months] == [31, 29, 31, 30]
    # the Apr 30 spine row joins the existing document (one row, v=2)
    assert {r["v"] for r in out if r["m"].month == 4} == {2.0}


def test_swf_exp_moving_avg_and_topn_windows(spark):
    from mongo_olap_spark.queries.windows import exp_moving_avg

    rows = [("u1", i, float(v)) for i, v in enumerate([10, 20, 40, 30])] + [
        ("u2", 0, 100.0), ("u2", 1, 50.0)
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = compile_pipeline(
        df,
        [{"$setWindowFields": {
            "partitionBy": "$k",
            "sortBy": {"t": 1},
            "output": {
                "ema": {"$expMovingAvg": {"input": "$v", "N": 3}},
                "low2": {"$minN": {"input": "$v", "n": 2},
                         "window": {"documents": ["unbounded", "current"]}},
            },
        }}],
    ).collect()
    want = {
        (r["k"], r["t"]): r["ema"]
        for r in exp_moving_avg(df, "k", ["t"], "v", alpha=0.5).collect()
    }
    got = {(r["k"], r["t"]): r["ema"] for r in out}
    assert got == want  # alpha = 2/(N+1) = 0.5
    low = {(r["k"], r["t"]): list(r["low2"]) for r in out}
    assert low[("u1", 0)] == [10.0]
    assert low[("u1", 3)] == [10.0, 20.0]
    assert low[("u2", 1)] == [50.0, 100.0]
    with pytest.raises(PipelineError, match="exactly one of alpha"):
        compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"t": 1},
            "output": {"e": {"$expMovingAvg": {"input": "$v"}}}}}])


def test_array_n_expressions_and_binary_size(spark):
    df = spark.createDataFrame([([5, 1, 4, 2, 3],)], "a array<int>")
    out = df.select(
        compile_expr({"$firstN": {"input": "$a", "n": 2}}).alias("f"),
        compile_expr({"$lastN": {"input": "$a", "n": 2}}).alias("l"),
        compile_expr({"$lastN": {"input": "$a", "n": 9}}).alias("l_all"),
        compile_expr({"$minN": {"input": "$a", "n": 3}}).alias("mn"),
        compile_expr({"$maxN": {"input": "$a", "n": 3}}).alias("mx"),
        compile_expr({"$binarySize": {"$literal": "héllo"}}).alias("b"),
    ).collect()[0]
    assert list(out["f"]) == [5, 1]
    assert list(out["l"]) == [2, 3]
    assert list(out["l_all"]) == [5, 1, 4, 2, 3]  # short arrays keep all
    assert list(out["mn"]) == [1, 2, 3]
    assert list(out["mx"]) == [5, 4, 3]
    assert out["b"] == 6


def test_expression_aggregate_family(spark):
    """$max/$min/$sum/$avg/$stdDevPop/$stdDevSamp as EXPRESSION
    operators (r6 graphLookup fuzz find #1): single array operand
    aggregates elements, 2+ operands aggregate the operands, nulls
    skipped, $sum of empty/null is 0 while the others are null."""
    df = spark.createDataFrame(
        [(1, [3, None, 7, 1], 2.5), (2, [], 4.0), (3, None, 1.0), (4, [5], None)],
        "id int, arr array<int>, x double",
    )
    rows = {
        r["id"]: r
        for r in compile_pipeline(df, [{"$project": {
            "id": 1,
            "mx": {"$max": "$arr"}, "mn": {"$min": "$arr"},
            "sm": {"$sum": "$arr"}, "av": {"$avg": "$arr"},
            "sp": {"$stdDevPop": "$arr"}, "ss": {"$stdDevSamp": "$arr"},
            "mx2": {"$max": ["$x", {"$literal": 3}, None]},
            "sm2": {"$sum": ["$x", {"$literal": 3}, None]},
        }}]).collect()
    }
    assert (rows[1]["mx"], rows[1]["mn"], rows[1]["sm"]) == (7, 1, 11)
    assert rows[1]["av"] == pytest.approx(11 / 3)
    assert rows[1]["sp"] == pytest.approx((((3 - 11 / 3) ** 2
                                            + (7 - 11 / 3) ** 2
                                            + (1 - 11 / 3) ** 2) / 3) ** 0.5)
    assert rows[1]["ss"] == pytest.approx((((3 - 11 / 3) ** 2
                                            + (7 - 11 / 3) ** 2
                                            + (1 - 11 / 3) ** 2) / 2) ** 0.5)
    for rid in (2, 3):  # empty and null arrays behave alike except $sum
        r = rows[rid]
        assert (r["mx"], r["mn"], r["av"], r["sp"], r["ss"]) == (None,) * 5
        assert r["sm"] == 0
    assert (rows[4]["sp"], rows[4]["ss"]) == (0.0, None)  # single element
    assert rows[2]["mx2"] == 4.0 and rows[3]["mx2"] == 3.0
    assert rows[4]["sm2"] == 3.0  # null operand skipped, not poisoning


def test_match_multikey_dotted_paths(spark):
    """Mongo multikey $match (r6): a dotted path crossing an
    array-of-documents boundary matches when ANY element matches;
    operator clauses distribute independently (different elements may
    satisfy different clauses); $not and $exists:false negate the
    WHOLE traversal; empty/null arrays and absent fields never
    match positively. Previously a raw AnalysisException."""
    df = spark.createDataFrame(
        [(1, [(5, "x"), (7, "y")]), (2, [(8, "z")]), (3, []), (4, None)],
        "id int, subs array<struct<k:int, tag:string>>",
    )

    def ids(m):
        return sorted(
            r["id"] for r in compile_pipeline(df, [{"$match": m}]).collect()
        )

    assert ids({"subs.k": 5}) == [1]
    assert ids({"subs.k": {"$gt": 6}}) == [1, 2]
    # $gt and $lt satisfied by DIFFERENT elements of doc 1 (7 and 5)
    assert ids({"subs.k": {"$gt": 6, "$lt": 6}}) == [1]
    assert ids({"subs.k": {"$not": {"$gt": 6}}}) == [3, 4]
    assert ids({"subs.k": {"$exists": True}}) == [1, 2]
    assert ids({"subs.k": {"$exists": False}}) == [3, 4]
    assert ids({"subs.tag": {"$in": ["z", "q"]}}) == [2]
    assert ids({"subs.nope": 5}) == []  # absent leaf: missing == null
    assert ids({"$or": [{"subs.k": 5}, {"id": 3}]}) == [1, 3]
    # r7 (advice fix): $ne/$nin negate the WHOLE traversal — "NO
    # element equals" — and docs whose value set is empty (empty /
    # null arrays, value ≡ missing ≡ null) MATCH a non-null operand
    assert ids({"subs.k": {"$ne": 5}}) == [2, 3, 4]
    assert ids({"subs.k": {"$nin": [5, 8]}}) == [3, 4]
    # {$ne: null}: only docs where SOME element carries a non-null
    # value and NONE is null/missing — empty/missing arrays excluded
    assert ids({"subs.k": {"$ne": None}}) == [1, 2]
    assert ids({"subs.tag": {"$ne": "x"}}) == [2, 3, 4]
    # independent distribution still holds alongside a negation
    assert ids({"subs.k": {"$gt": 4, "$ne": 8}}) == [1]
    # plain struct dotted paths are untouched by the multikey machinery
    sdf = spark.createDataFrame([(1, ((2,),))], "id int, a struct<b:struct<c:int>>")
    assert [r["id"] for r in compile_pipeline(
        sdf, [{"$match": {"a.b.c": 2}}]).collect()] == [1]


def test_top_level_let_and_spec_error_hygiene(spark):
    """r6: the aggregate-command `let` option binds CONSTANT $$vars
    for the whole pipeline (field references refuse, like Mongo);
    malformed stage specs surface as PipelineError naming the stage —
    never a bare KeyError/ValueError."""
    df = spark.createDataFrame([(1, 10), (2, 60)], "id int, v int")
    out = compile_pipeline(df, [
        {"$match": {"$expr": {"$gte": ["$v", "$$cut"]}}},
        {"$project": {"id": 1, "scaled": {"$multiply": ["$v", "$$k"]}}},
    ], let={"cut": 50, "k": {"$add": [{"$literal": 2}, {"$literal": 1}]}},
    ).collect()
    assert [(r["id"], r["scaled"]) for r in out] == [(2, 180)]
    with pytest.raises(PipelineError, match="constant expressions"):
        compile_pipeline(df, [{"$project": {"id": 1}}], let={"x": "$v"})
    with pytest.raises(PipelineError, match="let must be a document"):
        compile_pipeline(df, [{"$project": {"id": 1}}], let=[1])
    # spec-shape failures: typed, stage-named, cause preserved
    with pytest.raises(PipelineError, match=r"\$project: malformed stage"):
        compile_pipeline(df, [
            {"$project": {"x": {"$dateTrunc": {"date": "$v"}}}}])
    with pytest.raises(PipelineError, match="single-key document"):
        compile_pipeline(df, ["notastage"])
    # engine-authored PipelineErrors pass through unwrapped
    with pytest.raises(PipelineError, match="^unsupported stage"):
        compile_pipeline(df, [{"$noSuch": 1}])


def test_window_median_percentile_add_to_set(spark):
    """Mongo 7.0 $setWindowFields forms (r6): $median/$percentile
    compile to collect_list over the frame + the shared interpolation
    arithmetic (Spark refuses median()/percentile() aggregates on
    ordered/framed windows); $addToSet is collect_set."""
    df = spark.createDataFrame(
        [("a", 1, 1.0, "x"), ("a", 2, 5.0, "y"), ("a", 3, 3.0, "x"),
         ("b", 1, 2.0, "z")],
        "k string, t int, v double, tag string",
    )
    rows = {(r["k"], r["t"]): r for r in compile_pipeline(df, [
        {"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"t": 1},
            "output": {
                "med": {"$median": {"input": "$v",
                                    "method": "approximate"}},
                "p": {"$percentile": {"input": "$v", "p": [0.25, 1.0],
                                      "method": "approximate"},
                      "window": {"documents": ["unbounded", "unbounded"]}},
                "tags": {"$addToSet": "$tag",
                         "window": {"documents": ["unbounded",
                                                  "unbounded"]}},
            }}}]).collect()}
    # sortBy alone -> cumulative frame (engine-wide window-agg default)
    assert rows[("a", 1)]["med"] == 1.0
    assert rows[("a", 2)]["med"] == 3.0          # interp of [1, 5]
    assert rows[("a", 3)]["med"] == 3.0          # [1, 3, 5]
    assert list(rows[("a", 1)]["p"]) == [2.0, 5.0]  # sorted [1,3,5]
    assert sorted(rows[("a", 3)]["tags"]) == ["x", "y"]  # set, not list
    assert rows[("b", 1)]["p"] == [2.0, 2.0]
    with pytest.raises(PipelineError, match="in \\[0, 1\\]"):
        compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"t": 1},
            "output": {"p": {"$percentile": {"input": "$v", "p": [2]}}}}}])


def test_lookup_multikey_and_null_safe(spark):
    """r6 $lookup fidelity: the simple localField/foreignField path is
    null-safe (null local key matches foreign null keys — the
    correlated path already was), and an ARRAY-valued localField is
    Mongo's multikey form: match any element, null/empty arrays match
    foreign nulls."""
    dim = spark.createDataFrame(
        [(10, "a"), (20, "b"), (20, "b2"), (None, "nullrow")],
        "key int, v string",
    )
    df = spark.createDataFrame(
        [(1, [10, 20, 10]), (2, [30]), (3, []), (4, None)],
        "id int, tags array<int>",
    )
    out = {r["id"]: sorted(r["vs"]) for r in compile_pipeline(df, [
        {"$lookup": {"from": "d", "localField": "tags",
                     "foreignField": "key", "as": "m"}},
        {"$project": {"id": 1, "vs": {"$map": {
            "input": "$m", "as": "x", "in": "$$x.v"}}}},
    ], collections={"d": dim}).collect()}
    assert out == {1: ["a", "b", "b2"], 2: [],
                   3: ["nullrow"], 4: ["nullrow"]}
    sc = spark.createDataFrame([(1, 10), (2, None)], "id int, k int")
    out2 = {r["id"]: r["n"] for r in compile_pipeline(sc, [
        {"$lookup": {"from": "d", "localField": "k",
                     "foreignField": "key", "as": "m"}},
        {"$project": {"id": 1, "n": {"$size": "$m"}}},
    ], collections={"d": dim}).collect()}
    assert out2 == {1: 1, 2: 1}  # null k matches the null-key doc
    nested = spark.createDataFrame(
        [(1, [(5,)],)], "id int, subs array<struct<k:int>>"
    )
    with pytest.raises(PipelineError, match="array of\\s+documents"):
        compile_pipeline(nested, [
            {"$lookup": {"from": "d", "localField": "subs.k",
                         "foreignField": "key", "as": "m"}},
        ], collections={"d": dim})
    # FOREIGN-side multikey: array foreignField matches any element;
    # empty/null foreign arrays match a null local key
    fdim = spark.createDataFrame(
        [([10, 20], "a"), ([10], "b"), ([], "empty"), (None, "nullarr")],
        "keys array<int>, v string",
    )
    out3 = {r["id"]: sorted(r["vs"]) for r in compile_pipeline(sc, [
        {"$lookup": {"from": "f", "localField": "k",
                     "foreignField": "keys", "as": "m"}},
        {"$project": {"id": 1, "vs": {"$map": {
            "input": "$m", "as": "x", "in": "$$x.v"}}}},
    ], collections={"f": fdim}).collect()}
    assert out3 == {1: ["a", "b"], 2: ["empty", "nullarr"]}
    # BOTH sides arrays (r7 advice fix): a foreign doc sharing N
    # distinct elements with the local array appears ONCE — while
    # genuinely DUPLICATE foreign docs each still appear (Mongo keeps
    # every physical doc)
    fdim2 = spark.createDataFrame(
        [([10, 20], "both"), ([20, 10, 20], "rev"), ([10], "ten"),
         ([10], "ten"), ([30], "thirty"), ([], "empty")],
        "keys array<int>, v string",
    )
    out4 = {r["id"]: sorted(r["vs"]) for r in compile_pipeline(df, [
        {"$lookup": {"from": "f2", "localField": "tags",
                     "foreignField": "keys", "as": "m"}},
        {"$project": {"id": 1, "vs": {"$map": {
            "input": "$m", "as": "x", "in": "$$x.v"}}}},
    ], collections={"f2": fdim2}).collect()}
    assert out4 == {
        1: ["both", "rev", "ten", "ten"],   # each once; dup doc twice
        2: ["thirty"],
        3: ["empty"],   # empty local array matches empty foreign array
        4: ["empty"],
    }


def test_lookup_dotted_as(spark):
    """Mongo: a dotted `as` writes the match array into a NESTED field
    (r6); $facet output names reject dots like Mongo."""
    df = spark.createDataFrame(
        [(1, 10, ("m",)), (2, 20, ("n",))],
        "id int, k int, meta struct<tag:string>",
    )
    dim = spark.createDataFrame([(10, "x"), (10, "y")], "key int, v string")
    out = compile_pipeline(df, [
        {"$lookup": {"from": "d", "localField": "k", "foreignField": "key",
                     "as": "meta.matches"}},
        {"$project": {"id": 1, "nm": {"$size": "$meta.matches"},
                      "tag": "$meta.tag"}},
    ], collections={"d": dim}).collect()
    assert {r["id"]: (r["nm"], r["tag"]) for r in out} == {
        1: (2, "m"), 2: (0, "n")}
    g = compile_pipeline(df, [
        {"$graphLookup": {"from": "g", "startWith": "$id",
                          "connectFromField": "k", "connectToField": "id",
                          "as": "meta.walk"}},
        {"$project": {"id": 1, "nw": {"$size": "$meta.walk"},
                      "tag": "$meta.tag"}},
    ], collections={"g": df}).collect()
    assert {r["id"]: (r["nw"], r["tag"]) for r in g} == {1: (1, "m"), 2: (1, "n")}
    with pytest.raises(PipelineError, match="invalid output field"):
        compile_pipeline(df, [{"$facet": {"a.b": [{"$count": "n"}]}}])
    with pytest.raises(PipelineError, match="non-empty string"):
        compile_pipeline(df, [{"$lookup": {
            "from": "d", "localField": "k", "foreignField": "key", "as": ""}}],
            collections={"d": dim})


def test_graph_lookup_reserved_names_and_empty_string_graph(spark):
    """r6 robustness: a foreign collection whose columns are named
    start_key/val/__depth no longer makes $graphLookup's internal
    references ambiguous; a string-keyed graph with ZERO reachable
    hops unions cleanly (the empty traversal frame previously
    hardcoded long keys)."""
    f = spark.createDataFrame(
        [(1, 2, "sk", 9), (2, None, "sv", 8)],
        "rid int, nxt int, start_key string, val int",
    )
    out = compile_pipeline(f, [
        {"$graphLookup": {"from": "g", "startWith": "$rid",
                          "connectFromField": "nxt", "connectToField": "rid",
                          "as": "anc"}},
        {"$project": {"rid": 1, "n": {"$size": "$anc"}}},
    ], collections={"g": f}).collect()
    assert {r["rid"]: r["n"] for r in out} == {1: 2, 2: 1}
    s = spark.createDataFrame(
        [("a", "zz"), ("b", None)], "sid string, parent string"
    )
    out2 = compile_pipeline(s, [
        {"$graphLookup": {"from": "s", "startWith": "$parent",
                          "connectFromField": "parent",
                          "connectToField": "sid", "as": "chain"}},
        {"$project": {"sid": 1, "n": {"$size": "$chain"}}},
    ], collections={"s": s}).collect()
    assert {r["sid"]: r["n"] for r in out2} == {"a": 0, "b": 0}


def test_redact_and_coll_stats_stages(spark):
    """r6 stage-inventory completion: $redact reachable from
    compile_pipeline (expression-driven, field paths resolve inside
    the current node, $$PRUNE at root drops the document), $collStats
    {count} as a first-stage metadata aggregate, and the
    introspection/Atlas stages refusing by name."""
    df = spark.createDataFrame(
        [(1, 0, (0, "a", (1, "x"))), (2, 1, (2, "b", (0, "y"))),
         (3, 2, (1, "c", (2, "z")))],
        "id int, lvl int, doc struct<level:int, tag:string,"
        " inner:struct<level:int, tag:string>>",
    )
    gate = {"$cond": [{"$gte": ["$level", 2]}, "$$PRUNE",
            {"$cond": [{"$eq": ["$level", 0]}, "$$KEEP", "$$DESCEND"]}]}
    rows = {r["id"]: r
            for r in compile_pipeline(df, [{"$redact": gate}]).collect()}
    # root has no `level` field -> missing reads null -> DESCEND
    assert rows[1]["doc"]["inner"]["level"] == 1   # KEEP stops descent
    assert rows[2]["doc"] is None                  # level 2 -> PRUNE
    assert rows[3]["doc"]["inner"] is None         # descend, prune inner
    # root-level PRUNE excludes the document entirely
    root_gate = {"$cond": [{"$gte": ["$lvl", 2]}, "$$PRUNE", "$$KEEP"]}
    kept = compile_pipeline(df, [{"$redact": root_gate}]).collect()
    assert sorted(r["id"] for r in kept) == [1, 2]
    out = compile_pipeline(df, [{"$collStats": {"count": {}}}]).collect()
    assert len(out) == 1 and out[0]["count"] == 3
    for bad, msg in [
        ([{"$search": {}}], "unsupported by design"),
        ([{"$currentOp": {}}], "unsupported by design"),
        ([{"$match": {}}, {"$collStats": {"count": {}}}], "first pipeline"),
        ([{"$collStats": {"latencyStats": {}}}], "runtime\\s+telemetry"),
    ]:
        with pytest.raises(PipelineError, match=msg):
            compile_pipeline(df, bad)


def test_expression_inventory_completion(spark):
    """The r6 inventory-completion batch: $first/$last/$median/
    $percentile array forms, inverse hyperbolics, $type, $unsetField,
    byte-offset string ops, ranged $indexOfCP/$indexOfBytes."""
    import math

    df = spark.createDataFrame(
        [(1, [3, None, 7, 1], 0.5, "héllo world", ("x", 2)),
         (2, [], -0.5, None, ("y", 3))],
        "id int, arr array<int>, x double, s string, doc struct<k:string,v:int>",
    )
    rows = {r["id"]: r for r in compile_pipeline(df, [{"$project": {
        "id": 1,
        "fi": {"$first": "$arr"}, "la": {"$last": "$arr"},
        "med": {"$median": {"input": "$arr", "method": "approximate"}},
        "pct": {"$percentile": {"input": "$arr", "p": [0.0, 0.25, 1.0],
                                "method": "approximate"}},
        "ash": {"$asinh": "$x"}, "ach": {"$acosh": {"$literal": 2}},
        "ath": {"$atanh": "$x"},
        "ty_arr": {"$type": "$arr"}, "ty_s": {"$type": "$s"},
        "ty_doc": {"$type": "$doc"}, "ty_id": {"$type": "$id"},
        "uns": {"$unsetField": {"field": "v", "input": "$doc"}},
        "sb": {"$substrBytes": ["$s", 1, 4]},
        "sb_mid": {"$substr": ["$s", 0, 2]},
        "iob": {"$indexOfBytes": ["$s", "llo"]},
        "iob_rng": {"$indexOfBytes": ["$s", "o", 6, 12]},
        "iocp": {"$indexOfCP": ["$s", "llo"]},
        "iocp_rng": {"$indexOfCP": ["$s", "o", 6, 11]},
        "iocp_miss": {"$indexOfCP": ["$s", "zz", 1]},
    }}]).collect()}
    r1, r2 = rows[1], rows[2]
    assert (r1["fi"], r1["la"]) == (3, 1)
    assert (r2["fi"], r2["la"]) == (None, None)
    assert r1["med"] == 3.0  # sorted [1,3,7] -> interpolated middle
    assert list(r1["pct"]) == [1.0, 2.0, 7.0]  # 0.25 -> rank 0.5 interp
    assert r2["med"] is None and list(r2["pct"]) == [None, None, None]
    assert r1["ash"] == pytest.approx(math.asinh(0.5))
    assert r1["ach"] == pytest.approx(math.acosh(2))
    assert r1["ath"] == pytest.approx(math.atanh(0.5))
    assert (r1["ty_arr"], r1["ty_s"], r1["ty_doc"], r1["ty_id"]) == (
        "array", "string", "object", "int")
    assert r2["ty_s"] == "null"  # runtime null beats the static type
    assert r1["uns"].asDict() == {"k": "x"}
    # "héllo world" UTF-8: h=0, é=1-2, l=3, l=4, o=5, ' '=6, w=7, o=8
    assert r1["sb"] == "éll"            # bytes [1, 5)
    assert r1["sb_mid"] == "h�"    # mid-codepoint slice -> U+FFFD
    assert (r1["iob"], r1["iob_rng"]) == (3, 8)       # byte indexes
    assert (r1["iocp"], r1["iocp_rng"]) == (2, 7)     # code-point indexes
    assert r1["iocp_miss"] == -1
    assert r2["iob"] is None  # null string -> null, Mongo's contract
    for bad, msg in [
        ({"$rand": {}}, "unsupported by design"),
        ({"$function": {"body": "x"}}, "unsupported by design"),
        ({"$tsSecond": "$x"}, "unsupported by design"),
        ({"$toObjectId": "$s"}, "unsupported by design"),
        ({"$indexOfCP": ["$s", "a", -1]}, "non-negative"),
        ({"$percentile": {"input": "$arr", "p": [1.5]}}, "in \\[0, 1\\]"),
    ]:
        with pytest.raises(PipelineError, match=msg):
            compile_expr(bad)


def test_graph_lookup_depth_field_collision(spark):
    """depthField overwrites a same-named existing field in place
    (r6 graphLookup fuzz find #2: duplicate struct field -> ambiguous
    reference on $$x.d access)."""
    df = spark.createDataFrame(
        [(1, 2, 9.9), (2, 3, 8.8), (3, None, 7.7)], "rid int, nxt int, d double"
    )
    out = compile_pipeline(df, [
        {"$match": {"rid": 1}},
        {"$graphLookup": {
            "from": "g", "startWith": "$rid", "connectFromField": "nxt",
            "connectToField": "rid", "as": "walk", "depthField": "d",
        }},
        {"$project": {
            "rid": 1,
            "depths": {"$sortArray": {
                "input": {"$map": {"input": "$walk", "as": "w",
                                   "in": "$$w.d"}},
                "sortBy": 1}},
        }},
    ], collections={"g": df}).collect()
    assert len(out) == 1
    assert list(out[0]["depths"]) == [0, 1, 2]
    # field order preserved: d stays in its original slot, overwritten
    walk_t = compile_pipeline(df, [
        {"$graphLookup": {
            "from": "g", "startWith": "$rid", "connectFromField": "nxt",
            "connectToField": "rid", "as": "walk", "depthField": "d",
        }},
    ], collections={"g": df}).schema["walk"].dataType.elementType
    assert [f.name for f in walk_t.fields] == ["rid", "nxt", "d"]


def test_range_frame_validates_unit_and_partition_by(spark):
    """Advice fixes: an unsupported range unit and a malformed
    partitionBy on a range window must both refuse loudly — the
    latter previously fell through to an UNPARTITIONED window,
    silently aggregating over the whole dataset."""
    import datetime

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 1.0)], "k int, ts timestamp, v double"
    )
    with pytest.raises(PipelineError, match="unsupported unit"):
        compile_pipeline(
            df,
            [{"$setWindowFields": {"sortBy": {"ts": 1}, "output": {
                "s": {"$sum": "$v",
                      "window": {"range": [-1, 0], "unit": "month"}}}}}],
        )
    with pytest.raises(PipelineError, match="partitionBy must be a field path"):
        compile_pipeline(
            df,
            [{"$setWindowFields": {
                "partitionBy": {"$toLower": "$k"},
                "sortBy": {"ts": 1},
                "output": {"s": {"$sum": "$v",
                                 "window": {"range": [-1, 0], "unit": "hour"}}}}}],
        )


def test_merge_pipeline_unset_then_read_is_null(spark):
    """Advice fix: after a $unset, a later stage's '$field' reference
    reads the field as missing (null) — Mongo semantics — not the
    original existing value."""
    from mongo_olap_spark.plans.pipeline_compiler import merge_documents

    existing = spark.createDataFrame([(1, 10.0)], "id int, n double")
    incoming = spark.createDataFrame([(1, 5.0)], "id int, n double")
    out = merge_documents(
        existing, incoming, "id",
        when_matched=[
            {"$unset": "n"},
            {"$set": {"after": {"$ifNull": ["$n", -1]}}},
        ],
    ).collect()[0]
    assert out["n"] is None
    assert out["after"] == -1.0  # $n reads as missing, not 10.0
    # and $set-after-$unset restores visibility
    out2 = merge_documents(
        existing, incoming, "id",
        when_matched=[
            {"$unset": "n"},
            {"$set": {"n": {"$literal": 3.0}}},
            {"$set": {"after": {"$ifNull": ["$n", -1]}}},
        ],
    ).collect()[0]
    assert out2["n"] == 3.0 and out2["after"] == 3.0


@pytest.fixture()
def _lookup_frames(spark):
    cust = spark.createDataFrame(
        [(1, 100.0, "a"), (2, 250.0, "a"), (3, None, "b")],
        "cid int, bal double, seg string",
    )
    orders = spark.createDataFrame(
        [(10, 1, 50.0), (11, 1, 150.0), (12, 2, 200.0), (13, 2, 260.0),
         (14, 3, 5.0)],
        "oid int, ocid int, price double",
    )
    return cust, orders


def _as_map(df, arr, key="oid"):
    return {r["cid"]: sorted(x[key] for x in r[arr]) for r in df.collect()}


def test_lookup_eq_plus_inequality_residual(spark, _lookup_frames):
    """Round-5 task 3: equality key + $$var inequality — hash join on
    the equality, inequality as residual, array shape restored."""
    cust, orders = _lookup_frames
    out = compile_pipeline(cust, [{"$lookup": {
        "from": "orders", "let": {"c": "$cid", "b": "$bal"},
        "pipeline": [{"$match": {"$expr": {"$and": [
            {"$eq": ["$ocid", "$$c"]},
            {"$lt": ["$price", "$$b"]}]}}}],
        "as": "cheap"}}], collections={"orders": orders})
    assert _as_map(out, "cheap") == {1: [10], 2: [12], 3: []}


def test_lookup_two_sided_band_is_bucketized(spark, _lookup_frames):
    """Pure-inequality band: compiles through the bucketized range
    join — equi join on quantile buckets, NO nested loop — and the
    null-band local row (bal null) survives with []."""
    cust, orders = _lookup_frames
    out = compile_pipeline(cust, [{"$lookup": {
        "from": "orders", "let": {"b": "$bal"},
        "pipeline": [{"$match": {"$expr": {"$and": [
            {"$gte": ["$price", {"$subtract": ["$$b", 60]}]},
            {"$lte": ["$price", {"$add": ["$$b", 60]}]}]}}},
            {"$project": {"oid": 1}}],
        "as": "near"}}], collections={"orders": orders})
    assert _as_map(out, "near") == {1: [10, 11], 2: [12, 13], 3: []}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__range_bucket" in plan


def test_lookup_one_sided_inequality_and_flip(spark, _lookup_frames):
    """One-sided $$var inequality (no blocking key exists — the output
    is inherently triangular): compiles to the join Catalyst picks;
    the $$var-on-the-left form flips the operator."""
    cust, orders = _lookup_frames
    out = compile_pipeline(cust, [{"$lookup": {
        "from": "orders", "let": {"b": "$bal"},
        "pipeline": [{"$match": {"$expr": {"$gt": ["$$b", "$price"]}}}],
        "as": "below"}}], collections={"orders": orders})
    assert _as_map(out, "below") == {
        1: [10, 14], 2: [10, 11, 12, 14], 3: []}


def test_lookup_residual_still_refuses_unknown_shapes(spark, _lookup_frames):
    cust, orders = _lookup_frames
    with pytest.raises(PipelineError, match="undefined let variable"):
        compile_pipeline(cust, [{"$lookup": {
            "from": "orders", "let": {},
            "pipeline": [{"$match": {"$expr": {"$lt": ["$price", "$$nope"]}}}],
            "as": "x"}}], collections={"orders": orders})
    with pytest.raises(PipelineError, match=r"\$\$var conjuncts"):
        compile_pipeline(cust, [{"$lookup": {
            "from": "orders", "let": {"b": "$bal"},
            "pipeline": [{"$match": {"$expr": {"$mod": ["$price", "$$b"]}}}],
            "as": "x"}}], collections={"orders": orders})


def test_date_timezone_matrix(spark):
    """Round-5 task 4: the `timezone` parameter across the date
    surface, IANA names and fixed offsets, including both 2024
    America/New_York DST transitions. Engine sessions are pinned UTC,
    so TimestampType literals below ARE the UTC instants."""
    import datetime as dt

    NY = "America/New_York"
    rows = [
        (1, dt.datetime(2024, 3, 10, 6, 30)),   # NY 01:30 EST (pre-jump)
        (2, dt.datetime(2024, 3, 10, 7, 30)),   # NY 03:30 EDT (02:30 skipped)
        (3, dt.datetime(2024, 11, 3, 6, 30)),   # NY 01:30 EST (post-fallback)
        (4, dt.datetime(2024, 1, 1, 0, 0)),     # NY 19:00 Dec 31 EST
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    out = compile_pipeline(df, [{"$project": {
        "id": 1,
        "ny_hour": {"$hour": {"date": "$ts", "timezone": NY}},
        "ny_day": {"$dayOfMonth": {"date": "$ts", "timezone": NY}},
        "off_str": {"$dateToString": {"date": "$ts", "timezone": "+05:30",
                                      "format": "%Y-%m-%d %H:%M"}},
        "ny_trunc": {"$dateTrunc": {"date": "$ts", "unit": "day",
                                    "timezone": NY}},
        "plus_day": {"$dateAdd": {"startDate": "$ts", "unit": "day",
                                  "amount": 1, "timezone": NY}},
    }}])
    got = {r["id"]: r for r in out.collect()}
    assert [got[i]["ny_hour"] for i in (1, 2, 3, 4)] == [1, 3, 1, 19]
    assert got[4]["ny_day"] == 31  # NY is still Dec 31
    assert got[4]["off_str"] == "2024-01-01 05:30"
    # NY midnight of Mar 10 = 05:00Z (EST); of Nov 3 = 04:00Z (EDT)
    assert got[1]["ny_trunc"] == dt.datetime(2024, 3, 10, 5, 0)
    assert got[3]["ny_trunc"] == dt.datetime(2024, 11, 3, 4, 0)
    # +1 wall-clock day across spring-forward: 06:30Z EST -> EDT
    # keeps NY local 01:30, i.e. 05:30Z — only 23h elapsed
    assert got[1]["plus_day"] == dt.datetime(2024, 3, 11, 5, 30)
    # across fall-back: 25h elapsed
    assert got[3]["plus_day"] == dt.datetime(2024, 11, 4, 6, 30)


def test_date_timezone_from_parts_string_diff(spark):
    import datetime as dt

    NY = "America/New_York"
    df = spark.createDataFrame([(1,)], "id int")
    out = compile_pipeline(df, [{"$project": {
        "est": {"$dateFromParts": {"year": 2024, "month": 3, "day": 10,
                                   "hour": 1, "timezone": NY}},
        "edt": {"$dateFromParts": {"year": 2024, "month": 3, "day": 10,
                                   "hour": 3, "timezone": NY}},
        "parsed": {"$dateFromString": {
            "dateString": "2024-07-04 12:00:00", "timezone": NY}},
        "parts": {"$dateToParts": {"date": {"$literal": None},
                                   "timezone": NY}},
    }}]).collect()[0]
    assert out["est"] == dt.datetime(2024, 3, 10, 6, 0)   # EST = UTC-5
    assert out["edt"] == dt.datetime(2024, 3, 10, 7, 0)   # EDT = UTC-4
    assert out["parsed"] == dt.datetime(2024, 7, 4, 16, 0)  # EDT noon+4

    # $dateDiff counts LOCAL boundary crossings: 04:30Z->06:30Z is the
    # same UTC day but crosses NY midnight
    df2 = spark.createDataFrame(
        [(dt.datetime(2024, 3, 10, 4, 30), dt.datetime(2024, 3, 10, 6, 30))],
        "a timestamp, b timestamp")
    diff = compile_pipeline(df2, [{"$project": {
        "utc_days": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                   "unit": "day"}},
        "ny_days": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                  "unit": "day", "timezone": NY}},
    }}]).collect()[0]
    assert diff["utc_days"] == 0 and diff["ny_days"] == 1

    with pytest.raises(PipelineError, match="timezone must be a literal"):
        compile_pipeline(df, [{"$project": {
            "x": {"$hour": {"date": {"$literal": None}, "timezone": "$tzcol"}},
        }}])


def test_group_sum_all_null_is_zero(spark):
    """Fuzz-found (round 5): Mongo $sum returns 0 — not null — for a
    group with nothing to add; $avg/$min/$max stay null."""
    df = spark.createDataFrame(
        [("x", None), ("x", None), ("y", 3)], "k string, a int")
    out = compile_pipeline(df, [{"$group": {
        "_id": "$k", "sa": {"$sum": "$a"}, "mn": {"$min": "$a"},
        "av": {"$avg": "$a"}}}])
    got = {r["_id"]: r for r in out.collect()}
    assert got["x"]["sa"] == 0.0 and got["x"]["mn"] is None
    assert got["x"]["av"] is None
    assert got["y"]["sa"] == 3.0


def test_lookup_sort_limit_orders_match_array(spark, _lookup_frames):
    """Round-5: $sort/$limit inside a $lookup sub-pipeline — the
    top-N-matches-per-document idiom. Array order IS the sort order;
    sort-only carrier fields are pruned by the trailing $project."""
    cust, orders = _lookup_frames
    out = compile_pipeline(cust, [{"$lookup": {
        "from": "orders", "let": {"c": "$cid"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$ocid", "$$c"]}}},
            {"$sort": {"price": -1, "oid": 1}},
            {"$limit": 1},
            {"$project": {"oid": 1}},
        ],
        "as": "best"}}], collections={"orders": orders})
    got = {r["cid"]: [x["oid"] for x in r["best"]] for r in out.collect()}
    assert got == {1: [11], 2: [13], 3: [14]}
    # fields in the array struct are exactly the $project inclusion set
    assert [f.name for f in out.schema["best"].dataType.elementType.fields] \
        == ["oid"]

    # ascending multi-key order without limit, general (residual) path
    out2 = compile_pipeline(cust, [{"$lookup": {
        "from": "orders", "let": {"c": "$cid", "b": "$bal"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$ocid", "$$c"]},
                {"$lt": ["$price", "$$b"]}]}}},
            {"$sort": {"price": 1}},
        ],
        "as": "cheap"}}], collections={"orders": orders})
    got2 = {r["cid"]: [x["oid"] for x in r["cheap"]] for r in out2.collect()}
    assert got2 == {1: [10], 2: [12], 3: []}

    with pytest.raises(PipelineError, match=r"\$limit requires"):
        compile_pipeline(cust, [{"$lookup": {
            "from": "orders", "let": {"c": "$cid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$ocid", "$$c"]}}},
                {"$limit": 0}],
            "as": "x"}}], collections={"orders": orders})


def test_lookup_sort_null_first_like_mongo(spark):
    """Mongo's BSON sort order places null before numbers — ascending
    sorts null matches first, descending last."""
    left = spark.createDataFrame([(1,)], "k int")
    right = spark.createDataFrame(
        [(1, None), (1, 5.0), (1, 2.0)], "rk int, v double")
    out = compile_pipeline(left, [{"$lookup": {
        "from": "r", "let": {"k": "$k"},
        "pipeline": [{"$match": {"$expr": {"$eq": ["$rk", "$$k"]}}},
                     {"$sort": {"v": 1}}],
        "as": "m"}}], collections={"r": right}).collect()[0]
    assert [x["v"] for x in out["m"]] == [None, 2.0, 5.0]


def test_lookup_uncorrelated_pipeline(spark, _lookup_frames):
    """Round-5: a $lookup sub-pipeline with NO $$vars runs once and
    every local document gets the same array — arbitrary stages
    compile through compile_pipeline, and the single packed row
    broadcast-cross-joins (no shuffle of the local side)."""
    cust, orders = _lookup_frames
    out = compile_pipeline(cust, [{"$lookup": {
        "from": "orders",
        "pipeline": [
            {"$match": {"price": {"$gt": 100}}},
            {"$group": {"_id": None, "n": {"$sum": 1}}},
        ],
        "as": "stats"}}], collections={"orders": orders})
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert [x["n"] for x in r["stats"]] == [3]

    # empty result -> [] for everyone; trailing $sort orders the array
    out2 = compile_pipeline(cust, [{"$lookup": {
        "from": "orders",
        "pipeline": [{"$match": {"price": {"$gt": 100}}},
                     {"$project": {"oid": 1, "price": 1}},
                     {"$sort": {"price": -1}}],
        "as": "big"}}], collections={"orders": orders}).collect()
    for r in out2:
        assert [x["oid"] for x in r["big"]] == [13, 12, 11]


def test_lookup_concise_correlated_form(spark, _lookup_frames):
    """Mongo 5.0 concise form: localField/foreignField WITH a pipeline
    — the equality applies on top of the sub-pipeline's own stages."""
    cust, orders = _lookup_frames
    out = compile_pipeline(cust, [{"$lookup": {
        "from": "orders",
        "localField": "cid", "foreignField": "ocid",
        "pipeline": [{"$sort": {"price": -1}}, {"$limit": 1}],
        "as": "best"}}], collections={"orders": orders})
    got = {r["cid"]: [x["oid"] for x in r["best"]] for r in out.collect()}
    assert got == {1: [11], 2: [13], 3: [14]}

    # combined with an existing correlated $match
    out2 = compile_pipeline(cust, [{"$lookup": {
        "from": "orders",
        "localField": "cid", "foreignField": "ocid",
        "let": {"b": "$bal"},
        "pipeline": [{"$match": {"$expr": {"$lt": ["$price", "$$b"]}}}],
        "as": "cheap"}}], collections={"orders": orders})
    got2 = {r["cid"]: sorted(x["oid"] for x in r["cheap"])
            for r in out2.collect()}
    assert got2 == {1: [10], 2: [12], 3: []}

    with pytest.raises(PipelineError, match="come together"):
        compile_pipeline(cust, [{"$lookup": {
            "from": "orders", "localField": "cid",
            "pipeline": [], "as": "x"}}], collections={"orders": orders})


def test_window_sum_empty_frame_is_zero(spark):
    """Fuzz-found (round 5, #2): a documents-frame that precedes the
    partition start ([unbounded, -2] at row 0) is EMPTY — Mongo window
    $sum yields 0 there, like the $group accumulator; $min/$max stay
    null."""
    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 4.0)], "k int, rid int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$k", "sortBy": {"rid": 1},
        "output": {
            "s": {"$sum": "$v", "window": {"documents": ["unbounded", -2]}},
            "mn": {"$min": "$v", "window": {"documents": ["unbounded", -2]}},
        }}}]).collect()
    got = {r["rid"]: (r["s"], r["mn"]) for r in out}
    assert got[1] == (0.0, None)
    assert got[2] == (0.0, None)
    assert got[3] == (1.0, 1.0)


def test_topn_desc_nulls_sort_last(spark):
    """Fuzz-found (round 5, #3/#4): under a DESCENDING sortBy, a null
    sort key must sort LAST (null is the BSON minimum), and $shift's
    default accepts the {$literal} spelling but refuses computed
    expressions."""
    df = spark.createDataFrame(
        [("g", 1, None), ("g", 2, 5.0), ("g", 3, 1.0)],
        "k string, rid int, e double")
    out = compile_pipeline(df, [{"$group": {
        "_id": "$k",
        "tn": {"$topN": {"output": "$rid", "sortBy": {"e": -1, "rid": 1},
                         "n": 3}},
        "top": {"$top": {"output": "$rid", "sortBy": {"e": -1, "rid": 1}}},
    }}]).collect()[0]
    assert out["tn"] == [2, 3, 1]  # 5.0, 1.0, null — null LAST
    assert out["top"] == 2

    with pytest.raises(PipelineError, match="constant"):
        compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$k", "sortBy": {"rid": 1},
            "output": {"sh": {"$shift": {"output": "$e", "by": 1,
                                         "default": "$e"}}}}}])


def test_cube_date_trunc_extra_keys_refuse(spark):
    """A cube dimension $dateTrunc with binSize/startOfWeek/timezone
    would otherwise silently build the cube on the wrong granularity."""
    from mongo_olap_spark.plans.pipeline_compiler import cube_spec_from_pipeline

    with pytest.raises(PipelineError, match="date, unit"):
        cube_spec_from_pipeline(
            "c", "events",
            [{"$group": {"_id": {"d": {"$dateTrunc": {
                "date": "$ts", "unit": "hour", "binSize": 6}}},
                "n": {"$sum": 1}}}],
        )


def test_silent_key_refusals(spark):
    """Spec keys that would silently change results refuse by name
    (round-5 audit): $bucketAuto granularity; $merge let outside a
    whenMatched update pipeline (r6 implements let WITH one)."""
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(PipelineError, match="granularity"):
        compile_pipeline(df, [{"$bucketAuto": {
            "groupBy": "$v", "buckets": 2, "granularity": "R5"}}])
    from mongo_olap_spark.plans.pipeline_compiler import execute_pipeline
    from mongo_olap_spark.sources.store import ParquetCollectionStore
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        store = ParquetCollectionStore(spark, d)
        with pytest.raises(PipelineError, match="let"):
            execute_pipeline(df, [{"$merge": {
                "into": "t", "on": "v", "let": {"x": 1}}}], store)


def test_merge_custom_let(spark):
    """$merge custom let (r6): variables evaluate against the INCOMING
    document ($$ROOT = incoming), replace the default $$new binding,
    and feed the whenMatched pipeline."""
    from mongo_olap_spark.plans.pipeline_compiler import merge_documents

    e = spark.createDataFrame([(1, 10), (2, 20)], "id int, n int")
    i = spark.createDataFrame([(2, 5), (3, 7)], "id int, n int")
    out = {r["id"]: r["n"] for r in merge_documents(
        e, i, "id",
        when_matched=[{"$set": {"n": {"$add": ["$n", "$$inc"]}}}],
        let={"inc": {"$multiply": ["$n", 2]}},
    ).collect()}
    assert out == {1: 10, 2: 30, 3: 7}  # 20 + 2*5; unmatched inserted
    # $$ROOT inside let is the incoming doc
    out2 = {r["id"]: r["n"] for r in merge_documents(
        e, i, "id",
        when_matched=[{"$set": {"n": {"$getField": {
            "field": "n", "input": "$$doc"}}}}],
        let={"doc": "$$ROOT"},
    ).collect()}
    assert out2 == {1: 10, 2: 5, 3: 7}
    # Mongo's contract: $$new is NOT bound under a custom let
    with pytest.raises(PipelineError, match=r"\$\$new"):
        merge_documents(
            e, i, "id",
            when_matched=[{"$set": {"n": "$$new.n"}}],
            let={"inc": 1},
        ).collect()


def test_project_id_exception(spark):
    """Mongo's _id exception: {_id: 0} may ride inside an inclusion
    projection (alone among fields); other mixes still refuse."""
    df = spark.createDataFrame([("a", 1)], "g string, v int")
    out = compile_pipeline(df, [
        {"$group": {"_id": "$g", "n": {"$sum": 1}}},
        {"$project": {"_id": 0, "n": 1}},
    ])
    assert out.columns == ["n"]
    with pytest.raises(PipelineError, match="cannot mix"):
        compile_pipeline(df, [{"$project": {"g": 0, "v": 1}}])


def test_sort_limit_skip_validation(spark):
    """Mongo rejects direction 0 / {$meta} sorts and negative
    limit/skip — the engine refuses loudly instead of silently
    sorting ascending or raising a raw analyzer error."""
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(PipelineError, match="1 or -1"):
        compile_pipeline(df, [{"$sort": {"x": 0}}])
    with pytest.raises(PipelineError, match="1 or -1"):
        compile_pipeline(df, [{"$sort": {"x": {"$meta": "textScore"}}}])
    with pytest.raises(PipelineError, match="\\$limit"):
        compile_pipeline(df, [{"$limit": -1}])
    with pytest.raises(PipelineError, match="\\$skip"):
        compile_pipeline(df, [{"$skip": -2}])


def test_advice_r5_validation_fixes(spark):
    """Round-6 ADVICE fixes: $limit 0 refused (Mongo: 'the limit must
    be positive'), boolean sort directions refused (True == 1 would
    otherwise slip through the membership test), and $dateFromParts
    refuses mixing ISO week-date parts with natural date parts in
    either direction."""
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(PipelineError, match="\\$limit"):
        compile_pipeline(df, [{"$limit": 0}])
    compile_pipeline(df, [{"$skip": 0}])  # still legal
    with pytest.raises(PipelineError, match="1 or -1"):
        compile_pipeline(df, [{"$sort": {"x": True}}])
    with pytest.raises(PipelineError, match="cannot mix"):
        compile_pipeline(df, [{"$project": {"d": {"$dateFromParts": {
            "isoWeekYear": 2024, "month": 5}}}}])
    with pytest.raises(PipelineError, match="isoWeekYear"):
        compile_pipeline(df, [{"$project": {"d": {"$dateFromParts": {
            "year": 2024, "isoWeek": 3}}}}])


def test_set_nested_null_struct_row(spark):
    """Round-6 ADVICE (medium): a dotted $set on a row whose struct
    value is NULL must materialize {p: child} (Mongo: $set on {a: null}
    produces {a: {b: val}}), not silently stay NULL via withField."""
    df = spark.createDataFrame(
        [(1, {"b": 10, "c": "x"}), (2, None)],
        "id int, a struct<b:int,c:string>")
    rows = {r["id"]: r["a"] for r in compile_pipeline(
        df, [{"$set": {"a.b": {"$add": ["$id", 100]}}}]).collect()}
    assert rows[1]["b"] == 101 and rows[1]["c"] == "x"
    assert rows[2] is not None and rows[2]["b"] == 102
    assert rows[2]["c"] is None
    # two levels deep through a null intermediate
    df2 = spark.createDataFrame(
        [(1, {"m": {"v": 5}}), (2, None)],
        "id int, a struct<m:struct<v:int>>")
    rows2 = {r["id"]: r["a"] for r in compile_pipeline(
        df2, [{"$set": {"a.m.w": "$id"}}]).collect()}
    assert rows2[1]["m"]["v"] == 5 and rows2[1]["m"]["w"] == 1
    assert rows2[2]["m"]["w"] == 2 and rows2[2]["m"]["v"] is None


def test_drop_nested_through_non_struct_noop(spark):
    """Round-6 ADVICE: $unset of a path whose INTERMEDIATE segment is
    absent or not a struct is a silent no-op (Mongo semantics), not a
    raw AnalysisException from dropFields."""
    df = spark.createDataFrame(
        [(1, {"b": 2, "m": {"v": 3}})],
        "id int, a struct<b:int,m:struct<v:int>>")
    # a.b is an int: a.b.c is a no-op
    assert compile_pipeline(df, [{"$unset": "a.b.c"}]).collect()[0][
        "a"]["b"] == 2
    # a.x absent: a.x.y is a no-op
    out = compile_pipeline(df, [{"$unset": "a.x.y"}]).collect()[0]
    assert out["a"]["b"] == 2
    # missing leaf in a valid struct: no-op
    assert compile_pipeline(df, [{"$unset": "a.m.zz"}]).collect()[0][
        "a"]["m"]["v"] == 3
    # the real drop still works on a multi-field struct
    df2 = spark.createDataFrame(
        [(1, {"m": {"v": 3, "w": 4}})],
        "id int, a struct<m:struct<v:int,w:int>>")
    out = compile_pipeline(df2, [{"$unset": "a.m.v"}]).collect()[0]
    assert out["a"]["m"].asDict() == {"w": 4}
    # dropping the LAST field of a struct: Mongo leaves {}, which a
    # fixed schema cannot hold — the engine cascades the drop to the
    # now-empty parent instead of raising CANNOT_DROP_ALL_FIELDS
    out = compile_pipeline(df, [{"$unset": "a.m.v"}]).collect()[0]
    assert "m" not in out["a"].asDict()
    assert out["a"]["b"] == 2


def test_densify_dotted_partition_fields(spark):
    """Round-6 task 3: $densify partitionByFields may be a struct
    subfield; generated rows rebuild the enclosing struct with the
    partition value set and other subfields null."""
    df = spark.createDataFrame(
        [({"g": "a", "x": 1}, 1, 10.0), ({"g": "a", "x": 2}, 4, 11.0),
         ({"g": "b", "x": 3}, 2, 12.0)],
        "m struct<g:string,x:int>, v int, other double")
    out = compile_pipeline(df, [{"$densify": {
        "field": "v", "partitionByFields": ["m.g"],
        "range": {"step": 1, "bounds": "partition"}}}]).collect()
    rows = sorted(((r["m"]["g"], r["v"], r["m"]["x"]) for r in out))
    assert rows == [("a", 1, 1), ("a", 2, None), ("a", 3, None),
                    ("a", 4, 2), ("b", 2, 3)]
    # unresolvable dotted path still refuses loudly
    with pytest.raises(PipelineError, match="resolve"):
        compile_pipeline(df, [{"$densify": {
            "field": "v", "partitionByFields": ["v.g"],
            "range": {"step": 1, "bounds": "partition"}}}])
    # dotted densify FIELD (round-6): the grid value lands inside the
    # struct; a same-struct partition key merges into the same rebuild
    out2 = compile_pipeline(df, [{"$densify": {
        "field": "m.x", "partitionByFields": ["m.g"],
        "range": {"step": 1, "bounds": "partition"}}}]).collect()
    rows2 = sorted((r["m"]["g"], r["m"]["x"]) for r in out2)
    assert rows2 == [("a", 1), ("a", 2), ("b", 3)]


def test_fill_dotted_output(spark):
    """Round-6: $fill writes a DOTTED output path into the struct
    subfield (a plain withColumn would create a literal 'm.x' column)."""
    df = spark.createDataFrame(
        [(1, {"x": 1.0}), (2, {"x": None}), (3, {"x": 5.0}), (4, {"x": None})],
        "id int, m struct<x:double>")
    locf = compile_pipeline(df, [{"$fill": {
        "sortBy": {"id": 1}, "output": {"m.x": {"method": "locf"}}}}])
    assert "m.x" not in locf.columns
    assert [r["m"]["x"] for r in locf.orderBy("id").collect()] == [
        1.0, 1.0, 5.0, 5.0]
    lin = compile_pipeline(df, [{"$fill": {
        "sortBy": {"id": 1}, "output": {"m.x": {"method": "linear"}}}}])
    assert [r["m"]["x"] for r in lin.orderBy("id").collect()] == [
        1.0, 3.0, 5.0, None]


def test_unpartitioned_window_policy(spark):
    """Round-6 task 8: the opt-in guard for $setWindowFields with no
    partitionBy — "warn" emits a python warning, "refuse" raises, and
    both restore cleanly; partitioned stages never trigger."""
    import warnings

    from mongo_olap_spark.plans.pipeline_compiler import (
        set_unpartitioned_window_policy,
    )

    df = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v int")
    stage = [{"$setWindowFields": {
        "sortBy": {"v": 1}, "output": {"rn": {"$documentNumber": {}}}}}]
    part_stage = [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"v": 1},
        "output": {"rn": {"$documentNumber": {}}}}}]
    prev = set_unpartitioned_window_policy("refuse")
    try:
        with pytest.raises(PipelineError, match="global"):
            compile_pipeline(df, stage)
        compile_pipeline(df, part_stage)  # partitioned: untouched
        set_unpartitioned_window_policy("warn")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = compile_pipeline(df, stage)
        assert any("global" in str(x.message) for x in w)
        assert [r["rn"] for r in out.orderBy("v").collect()] == [1, 2]
        with pytest.raises(ValueError, match="allow|warn|refuse"):
            set_unpartitioned_window_policy("no")
    finally:
        set_unpartitioned_window_policy(prev)


def test_swf_dotted_output(spark):
    """Round-6: $setWindowFields dotted output names write struct
    subfields, incl. the $expMovingAvg mapInPandas path."""
    df = spark.createDataFrame(
        [("g", 1, 2.0, {"t": "x"}), ("g", 2, 4.0, {"t": "y"})],
        "k string, i int, v double, m struct<t:string>")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$k", "sortBy": {"i": 1},
        "output": {
            "m.rn": {"$documentNumber": {}},
            "m.ema": {"$expMovingAvg": {"input": "$v", "alpha": 0.5}},
            "plain": {"$sum": "$v"},
        }}}]).orderBy("i").collect()
    assert out[0]["m"].asDict() == {"t": "x", "rn": 1, "ema": 2.0}
    assert out[1]["m"]["rn"] == 2 and out[1]["m"]["t"] == "y"
    assert abs(out[1]["m"]["ema"] - 3.0) < 1e-9
    assert out[1]["plain"] == 6.0


def test_unwind_dotted_include_array_index(spark):
    """Round-6: a dotted includeArrayIndex writes the struct subfield
    (both the flat-array and nested-array unwind branches)."""
    df = spark.createDataFrame(
        [([10, 20], {"t": "x"})], "arr array<int>, m struct<t:string>")
    out = compile_pipeline(df, [{"$unwind": {
        "path": "$arr", "includeArrayIndex": "m.i"}}]).orderBy("arr").collect()
    assert [(r["arr"], r["m"]["i"], r["m"]["t"]) for r in out] == [
        (10, 0, "x"), (20, 1, "x")]
    df2 = spark.createDataFrame(
        [({"a": [1, 2], "t": "y"},)], "m struct<a:array<int>,t:string>")
    out2 = compile_pipeline(df2, [{"$unwind": {
        "path": "$m.a", "includeArrayIndex": "m.i"}}]).collect()
    assert sorted((r["m"]["a"], r["m"]["i"]) for r in out2) == [(1, 0), (2, 1)]


def test_project_dotted_inclusion_builds_nested_doc(spark):
    """Round-6: inclusion $project with dotted keys outputs NESTED
    documents ({$project: {"a.b": 1}} -> {a: {b}}), merging multiple
    leaves under one head; computed dotted keys work too; path
    collisions refuse; $group refuses dotted output names (Mongo
    errors on both)."""
    df = spark.createDataFrame(
        [(1, {"b": 2, "c": "x", "d": 9.0})],
        "id int, a struct<b:int,c:string,d:double>")
    out = compile_pipeline(df, [{"$project": {
        "id": 1, "a.b": 1, "a.c": 1,
        "e.f": {"$add": ["$id", 10]}}}])
    row = out.collect()[0]
    assert out.columns == ["id", "a", "e"]
    assert row["a"].asDict() == {"b": 2, "c": "x"}  # d projected away
    assert row["e"]["f"] == 11
    with pytest.raises(PipelineError, match="collision"):
        compile_pipeline(df, [{"$project": {"a": 1, "a.b": 1}}])
    with pytest.raises(PipelineError, match="cannot contain"):
        compile_pipeline(df, [{"$group": {"_id": "$id",
                                          "x.y": {"$sum": 1}}}])


def test_project_dotted_through_array_refuses(spark):
    df = spark.createDataFrame(
        [(1, [{"b": 2}])], "id int, arr array<struct<b:int>>")
    with pytest.raises(PipelineError, match="array of documents"):
        compile_pipeline(df, [{"$project": {"arr.b": 1}}])


def test_review_r6_fixes(spark):
    """Round-6 self-review regressions (all reproduced pre-fix):
    (1) $fill linear / $linearFill with LONG values+keys no longer
    overflows under ANSI (long*long multiply) — the key delta casts to
    double after the exact integral subtraction; (2) $integral with a
    dotted output name sanitizes its temp column; (3) one-sided
    localField/foreignField refuses as PipelineError in explain too;
    (4)/(5) dotted writes and unsets THROUGH an array of documents
    refuse toward $map instead of silently replacing/no-opping;
    (6) the unpartitioned-window 'warn' policy fires once per stage."""
    import warnings

    from mongo_olap_spark.plans.pipeline_compiler import (
        describe_lookup,
        set_unpartitioned_window_policy,
    )

    # (1) epoch-micros-scale keys, long values
    day_us = 86_400_000_000
    df = spark.createDataFrame(
        [(0, 0), (day_us * 120, None), (day_us * 240, 200_000_000)],
        "t long, v long")
    out = compile_pipeline(df, [{"$fill": {
        "sortBy": {"t": 1}, "output": {"v": {"method": "linear"}}}}])
    assert [r["v"] for r in out.orderBy("t").collect()] == [
        0, 100_000_000.0, 200_000_000]
    out2 = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"t": 1},
        "output": {"v2": {"$linearFill": "$v"}}}}])
    assert [r["v2"] for r in out2.orderBy("t").collect()] == [
        0.0, 100_000_000.0, 200_000_000.0]

    # (2) dotted $integral output
    df2 = spark.createDataFrame(
        [("g", 1, 2.0, {"q": 1}), ("g", 3, 4.0, {"q": 2})],
        "k string, i int, v double, m struct<q:int>")
    got = compile_pipeline(df2, [{"$setWindowFields": {
        "partitionBy": "$k", "sortBy": {"i": 1},
        "output": {"m.integ": {"$integral": {"input": "$v"}}}}}])
    assert [r["m"]["integ"] for r in got.orderBy("i").collect()] == [None, 6.0]

    # (3) one-sided concise lookup refuses uniformly
    with pytest.raises(PipelineError, match="come together"):
        describe_lookup({"from": "f", "foreignField": "k", "as": "r",
                         "pipeline": [{"$match": {"$expr": True}}]})
    with pytest.raises(PipelineError, match="come together"):
        describe_lookup({"from": "f", "localField": "a", "as": "r"})

    # (4)/(5) array-of-documents intermediates refuse on write AND drop
    df3 = spark.createDataFrame(
        [(1, [{"b": 2}])], "id int, arr array<struct<b:int>>")
    with pytest.raises(PipelineError, match="array of documents"):
        compile_pipeline(df3, [{"$addFields": {"arr.b": 5}}])
    with pytest.raises(PipelineError, match="array of documents"):
        compile_pipeline(df3, [{"$project": {"arr.b": 0}}])
    with pytest.raises(PipelineError, match="array of documents"):
        compile_pipeline(df3, [{"$unset": "arr.b"}])

    # (6) warn fires once per stage, not once per output field
    prev = set_unpartitioned_window_policy("warn")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            compile_pipeline(df2.drop("m"), [{"$setWindowFields": {
                "sortBy": {"i": 1},
                "output": {"a1": {"$sum": "$v"}, "a2": {"$rank": {}},
                           "a3": {"$shift": {"output": "$v", "by": 1}}}}}])
        assert len([x for x in w if "global" in str(x.message)]) == 1
    finally:
        set_unpartitioned_window_policy(prev)


# ---------------------------------------------------------------------------
# r10 — pipeline-level routing of the special measure families
# ---------------------------------------------------------------------------

def test_special_request_parser_shapes():
    from mongo_olap_spark.plans.pipeline_compiler import (
        PipelineError,
        aggregate_requests_from_pipeline,
    )

    def lone_special(pipeline):
        # a lone special accumulator is one special part:
        # (filter_sql, dims, measure, post)
        filter_sql, dims, parts, out_cols = (
            aggregate_requests_from_pipeline(pipeline))
        [(kind, measure, post)] = parts
        assert kind == "special" and out_cols == [measure[0]]
        return filter_sql, dims, measure, post

    gid = {"et": "$event_type"}
    ok = lone_special(
        [{"$group": {"_id": gid, "m": {"$median": {"input": "$value"}}}}]
    )
    assert ok[2] == ("m", "quantile_exact", "value", 0.5) and ok[3] is None
    ok = lone_special(
        [{"$match": {"value": {"$gt": 5}}},
         {"$group": {"_id": gid,
                     "p": {"$percentile": {"input": "$value", "p": [0.25]}}}}]
    )
    assert ok[0] == "(value > 5)"
    assert ok[2] == ("p", "quantile_exact", "value", 0.25) and ok[3] == "array_wrap"
    # multi-p (r10): routable as ONE request; the rollup emits the
    # array in p order from a single window pass — no post transform
    ok = lone_special(
        [{"$group": {"_id": gid,
                     "p": {"$percentile": {"input": "$value",
                                           "p": [0.25, 0.5, 0.75]}}}}]
    )
    assert ok[2] == ("p", "quantile_exact", "value", (0.25, 0.5, 0.75))
    assert ok[3] is None
    ok = lone_special(
        [{"$group": {"_id": None, "lo": {"$minN": {"input": "$value", "n": 2}}}}]
    )
    assert ok[1] == [] and ok[2] == ("lo", "min_n", "value", 2)
    ok = lone_special(
        [{"$group": {"_id": gid, "w": {"$topN": {
            "n": 3, "sortBy": {"value": 1}, "output": "$user_id"}}}}]
    )
    assert ok[2] == ("w", "top_by", "value", "user_id", 3) and ok[3] is None
    ok = lone_special(
        [{"$group": {"_id": gid, "w": {"$bottomN": {
            "n": 3, "sortBy": {"value": -1}, "output": "$user_id"}}}}]
    )
    # desc sortBy swaps the selection op and flags desc presentation
    assert ok[2] == ("w", "top_by", "value", "user_id", 3, True) and ok[3] is None
    ok = lone_special(
        [{"$group": {"_id": gid, "us": {"$addToSet": "$user_id"}}},
         {"$project": {"_id": 1, "nu": {"$size": "$us"}}}]
    )
    assert ok[2] == ("nu", "count_distinct", "user_id") and ok[3] is None

    # refusals — each falls back to the full compile
    for bad in [
        # empty / non-literal percentile p lists
        [{"$group": {"_id": gid, "p": {"$percentile": {
            "input": "$value", "p": []}}}}],
        [{"$group": {"_id": gid, "p": {"$percentile": {
            "input": "$value", "p": ["$q"]}}}}],
        # multi-key sortBy
        [{"$group": {"_id": gid, "w": {"$topN": {
            "n": 3, "sortBy": {"value": 1, "ts": 1}, "output": "$user_id"}}}}],
        # output == sortBy key
        [{"$group": {"_id": gid, "w": {"$topN": {
            "n": 3, "sortBy": {"value": 1}, "output": "$value"}}}}],
        # non-special accumulator
        [{"$group": {"_id": gid, "v": {"$push": "$value"}}}],
        # $project over something other than $size of the set
        [{"$group": {"_id": gid, "us": {"$addToSet": "$user_id"}}},
         {"$project": {"nu": {"$size": "$us"}, "extra": "$foo"}}],
        # $size referencing the wrong field
        [{"$group": {"_id": gid, "us": {"$addToSet": "$user_id"}}},
         {"$project": {"nu": {"$size": "$other"}}}],
        # bad n
        [{"$group": {"_id": gid, "lo": {"$minN": {"input": "$value", "n": 0}}}}],
    ]:
        with pytest.raises(PipelineError):
            lone_special(bad)

    # two accumulators decompose into one part per family
    _f, _d, parts, out_cols = aggregate_requests_from_pipeline(
        [{"$group": {"_id": gid, "m": {"$median": {"input": "$value"}},
                     "n": {"$sum": 1}}}])
    assert parts == [("plain", (("n", "count"),)),
                     ("special", ("m", "quantile_exact", "value", 0.5), None)]
    assert out_cols == ["m", "n"]


def test_cube_spec_from_pipeline_stddev():
    from mongo_olap_spark.plans.pipeline_compiler import cube_spec_from_pipeline

    spec = cube_spec_from_pipeline("c", "events", [
        {"$group": {"_id": {"et": "$event_type"},
                    "sd": {"$stdDevPop": "$value"},
                    "sds": {"$stdDevSamp": "$value"},
                    "n": {"$sum": 1}}},
    ])
    ops = {m.name: m.op for m in spec.measures}
    assert ops == {"sd": "stddev_pop", "sds": "stddev_samp", "n": "count"}


def test_query_pipeline_special_families_route_and_fallback(
    spark, sf_dir, tmp_path
):
    """Routed (source_df=None proves metadata-only) and source-fallback
    answers agree with the stage compiler for every special family."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure
    from mongo_olap_spark.engine import OlapEngine

    events = load_table(spark, sf_dir, "events")
    engine = OlapEngine(spark, str(tmp_path / "sproute"))
    engine.catalog.create(CubeSpec(
        name="sp_vu", source="events",
        dimensions=(Dimension("event_type"), Dimension("value"),
                    Dimension("user_id")),
        measures=(Measure("n", "count"),),
    ), events)
    # exact quantile needs cells keyed exactly by group_by + value —
    # the 3-dim cube would double-count multiplicities and is refused
    engine.catalog.create(CubeSpec(
        name="sp_val", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("n", "count"),),
    ), events)

    med = [{"$group": {"_id": {"et": "$event_type"},
            "med": {"$median": {"input": "$value", "method": "approximate"}}}}]
    got = {r["et"]: r["med"] for r in engine.query_pipeline("events", med).collect()}
    # type-1 discrete median: smallest value with cum multiplicity >= n/2
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value")
    t = Window.partitionBy("event_type")
    e = events.filter(F.col("value").isNotNull())
    want = {
        r["event_type"]: r["m"]
        for r in e.withColumn("c", F.count(F.lit(1)).over(w))
        .withColumn("t", F.count(F.lit(1)).over(t))
        .filter(F.col("c") >= F.ceil(F.round(F.lit(0.5) * F.col("t"), 9)))
        .groupBy("event_type").agg(F.min("value").alias("m")).collect()
    }
    assert got == want

    # $topN asc routed == compile; fallback (no source cube) == compile
    top = [{"$group": {"_id": {"et": "$event_type"},
            "who": {"$topN": {"n": 4, "sortBy": {"value": 1},
                              "output": "$user_id"}}}}]
    comp = {r["_id"]["et"]: r["who"]
            for r in compile_pipeline(events, top).collect()}
    routed = {r["et"]: r["who"]
              for r in engine.query_pipeline("events", top).collect()}
    assert routed == comp
    bare = OlapEngine(spark, str(tmp_path / "sproute_bare"))
    fb = {r["et"]: r["who"]
          for r in bare.query_pipeline("events", top, source_df=events).collect()}
    assert fb == comp

    # $bottomN desc == compile (op swap + reverse)
    bot = [{"$group": {"_id": {"et": "$event_type"},
            "who": {"$bottomN": {"n": 4, "sortBy": {"value": -1},
                                 "output": "$user_id"}}}}]
    comp_b = {r["_id"]["et"]: r["who"]
              for r in compile_pipeline(events, bot).collect()}
    routed_b = {r["et"]: r["who"]
                for r in engine.query_pipeline("events", bot).collect()}
    assert routed_b == comp_b

    # count-distinct idiom routed == direct countDistinct
    cd = [{"$group": {"_id": {"et": "$event_type"},
                      "us": {"$addToSet": "$user_id"}}},
          {"$project": {"nu": {"$size": "$us"}}}]
    got_cd = {r["et"]: r["nu"]
              for r in engine.query_pipeline("events", cd).collect()}
    want_cd = {r["event_type"]: r["nu"] for r in events.groupBy("event_type")
               .agg(F.countDistinct("user_id").cast("long").alias("nu")).collect()}
    assert got_cd == want_cd

    # multi-p percentile is ROUTABLE since r10: one request, the
    # array in p order — routed answer equals the per-p medians/etc.
    # computed by the single-p routed shape
    multi = [{"$group": {"_id": {"et": "$event_type"},
              "ps": {"$percentile": {"input": "$value", "p": [0.25, 0.75],
                                     "method": "approximate"}}}}]
    assert engine.explain("events", multi)["route"]["target"] == "cube"
    got_m = {r["et"]: list(r["ps"])
             for r in engine.query_pipeline("events", multi).collect()}
    for qi, q in enumerate([0.25, 0.75]):
        single = [{"$group": {"_id": {"et": "$event_type"},
                   "p": {"$percentile": {"input": "$value", "p": [q],
                                         "method": "approximate"}}}}]
        got_s = {r["et"]: r["p"][0]
                 for r in engine.query_pipeline("events", single).collect()}
        for g, v in got_s.items():
            assert got_m[g][qi] == v, (g, q)

    # a NON-routable accumulator ($push) still answers through the
    # compile fallback when source_df is given...
    push = [{"$group": {"_id": {"et": "$event_type"},
                        "v": {"$push": "$value"}}}]
    out = bare.query_pipeline("events", push, source_df=events)
    assert {r["_id"]["et"] for r in out.collect()}
    # ...and raises loudly without one
    with pytest.raises(Exception):
        engine.query_pipeline("events", push)
