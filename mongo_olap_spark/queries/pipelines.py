"""Oracle-checked queries that go through the Mongo pipeline compiler
(plans/pipeline_compiler.py) — the engine's user-facing query language.

Each q_pipeline_* entry is a *JSON pipeline*, compiled to a DataFrame
plan and compared hash-exact against a hand-written SQL oracle: the
gate certifies the compiler's output, not a hand-built twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_olap_spark.functions.expressions import davg_sql, dsum_sql
from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline
from mongo_olap_spark.queries import register
from mongo_olap_spark.sources.tables import load_table


@register(
    "q_pipeline_group",
    oracle=f"""
    SELECT event_type AS _id,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total,
           {davg_sql('value')} AS avg
    FROM events
    WHERE value > 50 AND event_type IS NOT NULL
    GROUP BY event_type
    ORDER BY _id
    """,
)
def q_pipeline_group(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return compile_pipeline(
        e,
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


@register(
    "q_pipeline_unwind",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS _id FROM documents
    )
    SELECT _id, CAST(COUNT(*) AS BIGINT) AS count
    FROM toks GROUP BY _id
    ORDER BY count DESC, _id
    LIMIT 20
    """,
)
def q_pipeline_unwind(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return compile_pipeline(
        d,
        [
            {"$addFields": {"toks": {"$split": ["$text", " "]}}},
            {"$unwind": "$toks"},
            {"$sortByCount": "$toks"},
            # $sortByCount orders by count only; ties are unordered in
            # Mongo too — pin the tiebreak for a deterministic limit
            {"$sort": {"count": -1, "_id": 1}},
            {"$limit": 20},
        ],
    )


@register(
    "q_pipeline_lookup",
    oracle="""
    SELECT o.o_orderkey,
           CAST(count(c.c_custkey) AS INT) AS n_cust,
           CASE WHEN count(c.c_custkey) > 0
                THEN min(c.c_mktsegment) END AS segment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 300000
    GROUP BY o.o_orderkey
    """,
)
def q_pipeline_lookup(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    out = compile_pipeline(
        o,
        [
            {"$match": {"o_totalprice": {"$gt": 300000}}},
            {"$lookup": {"from": "customer", "localField": "o_custkey",
                         "foreignField": "c_custkey", "as": "cust"}},
            {"$project": {
                "o_orderkey": 1,
                "n_cust": {"$size": "$cust"},
                "segment": {"$arrayElemAt": ["$cust.c_mktsegment", 0]},
            }},
        ],
        collections={"customer": c},
    )
    return out


@register(
    "q_pipeline_bucket",
    oracle=f"""
    SELECT CASE WHEN o_totalprice >= 0 AND o_totalprice < 100000 THEN 0
                WHEN o_totalprice >= 100000 AND o_totalprice < 250000 THEN 100000
                WHEN o_totalprice >= 250000 AND o_totalprice < 400000 THEN 250000
                ELSE -1 END AS _id,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('o_totalprice')} AS total
    FROM orders
    GROUP BY 1
    """,
)
def q_pipeline_bucket(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return compile_pipeline(
        o,
        [{"$bucket": {
            "groupBy": "$o_totalprice",
            "boundaries": [0, 100000, 250000, 400000],
            "default": -1,
            "output": {"n": {"$sum": 1}, "total": {"$sum": "$o_totalprice"}},
        }}],
    )


@register(
    "q_pipeline_window",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(row_number() OVER w AS INT) AS rn,
           CAST(sum(CAST(value AS DECIMAL(38,6))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running,
           lag(value) OVER w AS prev_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_pipeline_window(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"ts": 1, "event_id": 1},
            "output": {
                "rn": {"$documentNumber": {}},
                "running": {"$sum": "$value"},
                "prev_v": {"$shift": {"output": "$value", "by": -1}},
            },
        }}],
    )
    return out.select("event_id", "user_id", "value", "rn", "running", "prev_v")


@register(
    "q_pipeline_densify",
    oracle="""
    WITH daily AS (
      SELECT event_type AS etype, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT etype, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT etype, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds
    )
    SELECT s.etype, s.day, COALESCE(d.n, 0) AS n
    FROM spine s LEFT JOIN daily d ON s.etype = d.etype AND s.day = d.day
    """,
)
def q_pipeline_densify(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e,
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
    return out.select("etype", "day", "n")


@register(
    "q_pipeline_densify_nested",
    oracle="""
    WITH daily AS (
      SELECT event_type AS etype, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT etype, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT etype, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds
    )
    SELECT s.etype, s.day, COALESCE(d.n, 0) AS n
    FROM spine s LEFT JOIN daily d ON s.etype = d.etype AND s.day = d.day
    """,
)
def q_pipeline_densify_nested(spark, sf_dir):
    """Round-6: $densify with a DOTTED partitionByFields — the
    partition key lives inside a struct column (m.etype), exercising
    the flat-alias spine plumbing and the null-padded struct rebuild
    for generated rows."""
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e,
        [
            {"$group": {
                "_id": {"etype": "$event_type",
                        "day": {"$dateTrunc": {"date": "$ts", "unit": "day"}}},
                "n": {"$sum": 1},
            }},
            {"$project": {"m": {"etype": "$_id.etype"},
                          "day": "$_id.day", "n": 1}},
            {"$densify": {"field": "day",
                          "partitionByFields": ["m.etype"],
                          "range": {"step": 1, "unit": "day",
                                    "bounds": "partition"}}},
            {"$fill": {"partitionBy": "$m.etype", "sortBy": {"day": 1},
                       "output": {"n": {"value": 0}}}},
            {"$project": {"etype": "$m.etype", "day": 1, "n": 1}},
        ],
    )
    return out.select("etype", "day", "n")


@register(
    "q_pipeline_lookup_expr",
    oracle="""
    SELECT c.c_custkey, CAST(COALESCE(b.n_big, 0) AS INT) AS n_big
    FROM customer c LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_big
      FROM orders WHERE o_totalprice > 300000
      GROUP BY o_custkey
    ) b ON c.c_custkey = b.o_custkey
    """,
)
def q_pipeline_lookup_expr(spark, sf_dir):
    # correlated $lookup (from/let/pipeline): the $$var equality
    # becomes a join key, the price predicate a foreign pre-filter,
    # the $project an array-column prune — all before packing
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return compile_pipeline(
        c,
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
        collections={"orders": o},
    )


@register(
    "q_pipeline_lookup_topn",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS rn
      FROM orders
    )
    SELECT c.c_custkey,
           CAST(r.rn - 1 AS INT) AS pos,
           r.o_orderkey,
           r.o_totalprice
    FROM customer c JOIN ranked r
      ON r.o_custkey = c.c_custkey AND r.rn <= 2
    """,
)
def q_pipeline_lookup_topn(spark, sf_dir):
    # round-5: $sort/$limit inside a correlated $lookup — top-2 orders
    # per customer by price. The match array is ORDERED (array_sort
    # comparator over packed structs, then slice), so unwinding with
    # includeArrayIndex exposes the rank to the oracle; no window
    # function runs on the Spark side — the top-N is computed inside
    # the per-key packed array.
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return compile_pipeline(
        c,
        [
            {"$lookup": {
                "from": "orders",
                "let": {"ck": "$c_custkey"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$o_custkey", "$$ck"]}}},
                    {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                    {"$limit": 2},
                    {"$project": {"o_orderkey": 1, "o_totalprice": 1}},
                ],
                "as": "top2",
            }},
            {"$unwind": {"path": "$top2", "includeArrayIndex": "pos"}},
            {"$project": {
                "c_custkey": 1,
                "pos": {"$toInt": "$pos"},
                "o_orderkey": "$top2.o_orderkey",
                "o_totalprice": "$top2.o_totalprice",
            }},
        ],
        collections={"orders": o},
    )


@register(
    "q_pipeline_timezones",
    oracle="""
    SELECT event_id,
           CAST(hour((ts AT TIME ZONE 'UTC')
                     AT TIME ZONE 'America/New_York') AS INT) AS ny_hour,
           CAST(dayofmonth((ts AT TIME ZONE 'UTC')
                           AT TIME ZONE 'Asia/Kolkata') AS INT) AS kol_day,
           CAST((date_trunc('day', (ts AT TIME ZONE 'UTC')
                                   AT TIME ZONE 'America/New_York')
                 AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC'
                AS TIMESTAMP) AS ny_midnight,
           strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Kolkata',
                    '%Y-%m-%d %H:%M') AS kol_str
    FROM events
    """,
)
def q_pipeline_timezones(spark, sf_dir):
    # round-5: the timezone parameter across the compiled date surface
    # (IANA zone + half-hour-offset zone), checked against DuckDB's ICU
    # AT TIME ZONE. All pure codegen: from_utc_timestamp/
    # to_utc_timestamp around the session-UTC instants.
    e = load_table(spark, sf_dir, "events")
    return compile_pipeline(
        e,
        [{"$project": {
            "event_id": 1,
            "ny_hour": {"$hour": {"date": "$ts",
                                  "timezone": "America/New_York"}},
            "kol_day": {"$dayOfMonth": {"date": "$ts",
                                        "timezone": "Asia/Kolkata"}},
            "ny_midnight": {"$dateTrunc": {"date": "$ts", "unit": "day",
                                           "timezone": "America/New_York"}},
            "kol_str": {"$dateToString": {"date": "$ts",
                                          "timezone": "Asia/Kolkata",
                                          "format": "%Y-%m-%d %H:%M"}},
        }}],
    )


@register(
    "q_pipeline_lookup_range",
    oracle="""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS INT) AS n_band,
           CAST(COALESCE(SUM(o.o_orderkey), 0) AS BIGINT) AS band_keysum
    FROM customer c LEFT JOIN orders o
      ON o.o_totalprice >= c.c_acctbal * 10
     AND o.o_totalprice <  c.c_acctbal * 10.2
    WHERE c.c_custkey % 10 = 0
    GROUP BY c.c_custkey
    """,
)
def q_pipeline_lookup_range(spark, sf_dir):
    # round-5: correlated $lookup with PURE-INEQUALITY $$var predicates
    # — no equality key at all. The two-sided band on o_totalprice
    # compiles through the bucketized range join
    # (operators/rangejoin.py): approxQuantile boundaries block the
    # foreign side, the band becomes an equi bucket join with the exact
    # predicates as residual, and a row-id group-back restores the
    # array-of-matches column. Output aggregates the array ($size +
    # exact integer $reduce) so the oracle compare is order-insensitive.
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return compile_pipeline(
        c,
        [
            # one customer decile: the full cross of 15k customers x a
            # 2% price band materializes ~4.5M matched rows at sf0.1 —
            # an output-bound benchmark that measures collect_list, not
            # the bucketized join under test
            {"$match": {"c_custkey": {"$mod": [10, 0]}}},
            {"$lookup": {
                "from": "orders",
                # a ~2% price band: wide enough that most customers
                # match a few orders, narrow enough that the result is
                # match-bound, not output-bound (a [10x, 12x) band
                # matched thousands of orders per customer at sf0.1 —
                # 25s of bench time that measured OUTPUT size, not the
                # bucketized join)
                "let": {"lo": {"$multiply": ["$c_acctbal", 10]},
                        "hi": {"$multiply": ["$c_acctbal", 10.2]}},
                "pipeline": [
                    {"$match": {"$expr": {"$and": [
                        {"$gte": ["$o_totalprice", "$$lo"]},
                        {"$lt": ["$o_totalprice", "$$hi"]},
                    ]}}},
                    {"$project": {"o_orderkey": 1}},
                ],
                "as": "band",
            }},
            {"$project": {
                "c_custkey": 1,
                "n_band": {"$size": "$band"},
                "band_keysum": {"$reduce": {
                    "input": {"$map": {"input": "$band", "as": "x",
                                       "in": "$$x.o_orderkey"}},
                    # Spark's aggregate() requires init/merge type
                    # agreement; o_orderkey is long, so start long
                    "initialValue": {"$toLong": 0},
                    "in": {"$add": ["$$value", "$$this"]},
                }},
            }},
        ],
        collections={"orders": o},
    )


@register(
    "q_pipeline_array",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> length(t) > 5)) AS INT) AS n_long,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                                              t -> length(t)), 'sum')
                AS BIGINT) AS total_len
    FROM documents
    """,
)
def q_pipeline_array(spark, sf_dir):
    # $filter/$size and $reduce with $$value/$$this — the array HOF
    # surface compiled to native transform/filter/aggregate Columns
    d = load_table(spark, sf_dir, "documents")
    toks = {"$split": ["$text", " "]}
    return compile_pipeline(
        d,
        [
            {"$project": {
                "doc_id": 1,
                "n_long": {"$size": {"$filter": {
                    "input": toks, "as": "t",
                    "cond": {"$gt": [{"$strLenCP": "$$t"}, 5]},
                }}},
                "total_len": {"$toLong": {"$reduce": {
                    "input": toks,
                    "initialValue": 0,
                    "in": {"$add": ["$$value", {"$strLenCP": "$$this"}]},
                }}},
            }},
        ],
    )


@register(
    "q_pipeline_dates",
    oracle="""
    SELECT o_orderkey,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(strftime(o_orderdate, '%U') AS INTEGER) AS week,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           CAST(isoyear(o_orderdate) AS INTEGER) AS iso_year,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
    FROM orders
    """,
)
def q_pipeline_dates(spark, sf_dir):
    """Round-4 date-part operators through the compiler: $dayOfWeek
    (1=Sunday, both engines after DuckDB's +1), $week (strftime-%U
    semantics: days before the year's first Sunday are week 0 — NOT
    ISO), $isoWeek/$isoWeekYear (ISO 8601), $dayOfYear. All JVM
    codegen date arithmetic; the scan prunes to two columns."""
    o = load_table(spark, sf_dir, "orders")
    return compile_pipeline(
        o,
        [
            {"$project": {
                "o_orderkey": 1,
                "dow": {"$dayOfWeek": "$o_orderdate"},
                "week": {"$week": "$o_orderdate"},
                "iso_week": {"$isoWeek": "$o_orderdate"},
                "iso_year": {"$isoWeekYear": "$o_orderdate"},
                "doy": {"$dayOfYear": "$o_orderdate"},
            }},
        ],
    )


@register(
    "q_pipeline_strings",
    oracle="""
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(text, '[0-9]+'), ','), '')
               AS nums_csv,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_nums,
           replace(source, 'a', '_') AS clean_source,
           upper(string_split(text, ' ')[1]) AS first_word_upper,
           regexp_matches(text, '[0-9]') AS has_digit
    FROM documents
    """,
)
def q_pipeline_strings(spark, sf_dir):
    """Round-4 string/regex/array operators through the compiler:
    $regexFindAll -> $map (struct field projection) -> $reduce CSV
    fold, $replaceAll, $regexMatch, $split + $arrayElemAt + $toUpper.
    The reduce/map lambdas are Spark HOF expressions — per-row
    interpreted but constant-size, no Python anywhere."""
    d = load_table(spark, sf_dir, "documents")
    nums = {
        "$map": {
            "input": {"$regexFindAll": {"input": "$text", "regex": "[0-9]+"}},
            "as": "m",
            "in": "$$m.match",
        }
    }
    return compile_pipeline(
        d,
        [
            {"$project": {
                "doc_id": 1,
                "nums_csv": {
                    "$reduce": {
                        "input": nums,
                        "initialValue": "",
                        "in": {
                            "$cond": [
                                {"$eq": ["$$value", ""]},
                                "$$this",
                                {"$concat": ["$$value", ",", "$$this"]},
                            ]
                        },
                    }
                },
                "n_nums": {"$size": nums},
                "clean_source": {
                    "$replaceAll": {"input": "$source", "find": "a",
                                    "replacement": "_"}
                },
                "first_word_upper": {
                    "$toUpper": {"$arrayElemAt": [{"$split": ["$text", " "]}, 0]}
                },
                "has_digit": {"$regexMatch": {"input": "$text", "regex": "[0-9]"}},
            }},
        ],
    )


@register(
    "q_pipeline_expr_agg",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             list_transform(string_split(text, ' '), t -> length(t)) AS ll
      FROM documents
    )
    SELECT doc_id,
           CAST(list_aggregate(ll, 'max') AS INT) AS max_len,
           CAST(list_aggregate(ll, 'min') AS INT) AS min_len,
           CAST(COALESCE(list_aggregate(ll, 'sum'), 0) AS BIGINT) AS sum_len,
           ROUND(CAST(list_aggregate(ll, 'avg') AS DOUBLE), 6) AS avg_len,
           ROUND(CAST(list_aggregate(ll, 'median') AS DOUBLE), 6) AS med_len,
           ROUND(CAST(list_aggregate(ll, 'quantile_cont', 0.9) AS DOUBLE), 6)
               AS p90_len,
           ROUND(CAST(list_aggregate(ll, 'stddev_pop') AS DOUBLE), 6)
               AS sd_len,
           CAST(ll[1] AS INT) AS first_len,
           CAST(ll[-1] AS INT) AS last_len,
           CAST(strpos(text, 'data') - 1 AS INT) AS idx_data,
           CASE WHEN text IS NULL THEN 'null' ELSE 'string' END AS ty
    FROM base
    """,
)
def q_pipeline_expr_agg(spark, sf_dir):
    """Round-6 expression-form aggregate family ($max/$min/$sum/$avg/
    $median/$percentile/$stdDevPop/$first/$last over an array operand)
    plus $indexOfBytes and $type — all JVM-side higher-order-function
    Columns over per-document token-length arrays; zero shuffles, the
    scan prunes to (doc_id, text). The ASCII corpus makes byte and
    code-point indexes coincide, which is exactly what the strpos
    oracle checks; multibyte deltas are pinned by the unit tests."""
    d = load_table(spark, sf_dir, "documents")
    ll = {"$map": {"input": {"$split": ["$text", " "]}, "as": "t",
                   "in": {"$strLenCP": "$$t"}}}
    return compile_pipeline(
        d,
        [
            {"$project": {
                "doc_id": 1,
                "max_len": {"$max": ll},
                "min_len": {"$min": ll},
                "sum_len": {"$sum": ll},
                "avg_len": {"$round": [{"$avg": ll}, 6]},
                "med_len": {"$round": [
                    {"$median": {"input": ll, "method": "approximate"}}, 6]},
                "p90_len": {"$round": [{"$arrayElemAt": [
                    {"$percentile": {"input": ll, "p": [0.9],
                                     "method": "approximate"}},
                    {"$literal": 0}]}, 6]},
                "sd_len": {"$round": [{"$stdDevPop": ll}, 6]},
                "first_len": {"$first": ll},
                "last_len": {"$last": ll},
                "idx_data": {"$indexOfBytes": ["$text", "data"]},
                "ty": {"$type": "$text"},
            }},
        ],
    )


@register(
    "q_pipeline_window_fill",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id,
             (epoch_us(ts) // 1000000) * 10000000 + event_id AS tkey,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    anch AS (
      SELECT event_id, user_id, tkey, v,
             last_value(v IGNORE NULLS) OVER w_back AS carried,
             last_value(CASE WHEN v IS NOT NULL THEN tkey END IGNORE NULLS)
               OVER w_back AS pt,
             first_value(v IGNORE NULLS) OVER w_fwd AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN tkey END IGNORE NULLS)
               OVER w_fwd AS nt,
             CAST(rank() OVER w_ord AS INT) AS rnk
      FROM base
      WINDOW
        w_ord AS (PARTITION BY user_id ORDER BY tkey),
        w_back AS (PARTITION BY user_id ORDER BY tkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY user_id ORDER BY tkey
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, carried, rnk,
           round(CASE WHEN v IS NOT NULL THEN v
                WHEN carried IS NOT NULL AND nv IS NOT NULL
                THEN carried + (nv - carried) * (tkey - pt) / (nt - pt)
           END, 6) AS interp
    FROM anch
    """,
)
def q_pipeline_window_fill(spark, sf_dir):
    """Round-4 $setWindowFields operators under the oracle gate:
    $locf + value-distance $linearFill + $rank compiled from JSON over
    a deterministically-nulled value column. The sort key is a unique
    monotone (ts, event_id) image, built IN the pipeline, because
    $linearFill interpolates on sortBy VALUES — identical formula on
    the oracle side; interp rounded 6dp (division order may differ in
    the last ulp between engines)."""
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e.withColumn(
            "v", F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value"))
        ),
        [
            {"$addFields": {"tkey": {"$add": [
                {"$multiply": [{"$toLong": "$ts"}, 10000000]}, "$event_id"]}}},
            {"$setWindowFields": {
                "partitionBy": "$user_id",
                "sortBy": {"tkey": 1},
                "output": {
                    "carried": {"$locf": "$v"},
                    "interp": {"$linearFill": "$v"},
                    "rnk": {"$rank": {}},
                },
            }},
            {"$project": {"event_id": 1, "user_id": 1, "carried": 1,
                          "rnk": 1, "interp": {"$round": ["$interp", 6]}}},
        ],
    )
    return out


@register(
    "q_pipeline_deriv",
    oracle="""
    WITH dedup AS (
      SELECT user_id, ts,
             arg_min(value, event_id) AS value,
             min(event_id) AS event_id
      FROM events GROUP BY user_id, ts
    ),
    w AS (
      SELECT event_id, user_id, value,
             lag(value) OVER win AS pv,
             lag(epoch(ts)) OVER win AS pt,
             epoch(ts) AS t,
             first_value(value) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS first_v
      FROM dedup
      WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT event_id, user_id, value, first_v,
           (value - pv) / nullif(t - pt, 0) * 3600 AS rate_per_hour
    FROM w
    """,
)
def q_pipeline_deriv(spark, sf_dir):
    """$derivative (unit: hour, frame [-1, 0] = per-step rate) and the
    $first window aggregate, compiled from JSON. $derivative requires
    a SINGLE sortBy field, so the pipeline first collapses (user, ts)
    ties with a $group + $top (min event_id wins) — after which ts is
    a unique per-user sort key and both engines see the same order.
    Hash-exact: both compute (dv / dt_seconds) * 3600 in the same
    operation order, and double arithmetic (unlike transcendentals)
    is bit-stable across engines."""
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e,
        [
            {"$group": {
                "_id": {"user_id": "$user_id", "ts": "$ts"},
                "value": {"$top": {"output": "$value",
                                   "sortBy": {"event_id": 1}}},
                "event_id": {"$min": "$event_id"},
            }},
            {"$project": {"user_id": "$_id.user_id", "ts": "$_id.ts",
                          "value": 1, "event_id": 1}},
            {"$setWindowFields": {
                "partitionBy": "$user_id",
                "sortBy": {"ts": 1},
                "output": {
                    "rate_per_hour": {
                        "$derivative": {"input": "$value", "unit": "hour"},
                        "window": {"documents": [-1, 0]}},
                    "first_v": {"$first": "$value"},
                },
            }},
        ],
    )
    return out.select("event_id", "user_id", "value", "first_v", "rate_per_hour")


@register(
    "q_pipeline_moving",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, value,
             epoch_us(ts) // 1000 AS t_ms
      FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(38,6)))
                OVER w AS DOUBLE) / count(*) OVER w AS avg_1h,
           CAST(count(*) OVER w AS BIGINT) AS n_1h
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY t_ms
                 RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
    """,
)
def q_pipeline_moving(spark, sf_dir):
    """Trailing-1-hour moving average/count per user via the compiler's
    {range, unit} window -> rangeBetween over the millisecond-scaled
    sort image. The oracle replays the IDENTICAL ms frame (RANGE
    3600000 PRECEDING over epoch_us//1000), sidestepping interval-
    boundary subtleties; the window $sum accumulates in DECIMAL on
    both sides, so the average is order-independent and hash-exact.
    Range frames are value-based: (user, ts) ties share a frame on
    both engines, so no tie-break key is needed."""
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e,
        [{"$setWindowFields": {
            "partitionBy": "$user_id",
            "sortBy": {"ts": 1},
            "output": {
                "avg_1h": {"$avg": "$value",
                           "window": {"range": [-1, "current"], "unit": "hour"}},
                "n_1h": {"$count": {},
                         "window": {"range": [-1, "current"], "unit": "hour"}},
            },
        }}],
    )
    return out.select("event_id", "user_id", "avg_1h", "n_1h")


@register(
    "q_pipeline_trunc_bins",
    oracle="""
    SELECT time_bucket(INTERVAL 14 day, ts,
                       TIMESTAMP '1999-12-26 00:00:00') AS wk,
           time_bucket(INTERVAL 6 hour, ts,
                       TIMESTAMP '2000-01-01 00:00:00') AS b6,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_pipeline_trunc_bins(spark, sf_dir):
    """$dateTrunc with binSize (6-hour bins) and week unit with the
    Mongo SUNDAY startOfWeek default, binSize 2 — bins anchored at the
    2000-01-01 reference. The oracle is DuckDB's time_bucket with an
    explicit origin: an independent implementation of the same
    anchored-bin contract (1999-12-26 is the last Sunday on/before
    the reference)."""
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e,
        [
            {"$group": {
                "_id": {
                    "wk": {"$dateTrunc": {"date": "$ts", "unit": "week",
                                          "binSize": 2}},
                    "b6": {"$dateTrunc": {"date": "$ts", "unit": "hour",
                                          "binSize": 6}},
                },
                "n": {"$sum": 1},
            }},
            {"$project": {"wk": "$_id.wk", "b6": "$_id.b6", "n": 1}},
        ],
    )
    return out.select("wk", "b6", "n")


@register(
    "q_pipeline_densify_numeric",
    oracle="""
    WITH base AS (SELECT CAST(TRUNC(value) AS INT) AS iv FROM events),
    b AS (SELECT min(iv) AS d0, max(iv) AS d1 FROM base),
    spine AS (SELECT unnest(generate_series(d0, d1, 7)) AS iv FROM b),
    extra AS (SELECT iv FROM spine
              WHERE iv NOT IN (SELECT DISTINCT iv FROM base)),
    u AS (SELECT iv FROM base UNION ALL SELECT iv FROM extra)
    SELECT iv, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1
    """,
)
def q_pipeline_densify_numeric(spark, sf_dir):
    """Numeric-step $densify over a value grid most documents do NOT
    land on: the spine runs min..max at step 7 while the data sits at
    every integer — certifying that off-grid documents survive the
    full-join densify (fuzz find #6) and absent grid values appear
    exactly once."""
    e = load_table(spark, sf_dir, "events")
    out = compile_pipeline(
        e,
        [
            {"$project": {"iv": {"$toInt": "$value"}}},
            {"$densify": {"field": "iv",
                          "range": {"step": 7, "bounds": "full"}}},
            {"$group": {"_id": "$iv", "n": {"$sum": 1}}},
            {"$project": {"iv": "$_id", "n": 1}},
        ],
    )
    return out.select("iv", "n")


# ---------------------------------------------------------------------------
# Pipeline-level routing of the r9 measure families (r10, VERDICT r9
# task 1): Mongo pipelines whose accumulator is $stdDevPop, $median,
# $percentile, $minN/$maxN, $topN/$bottomN, or the $addToSet+$size
# count-distinct idiom are served through engine.query_pipeline — the
# router answers metadata-only from a covering cube (source_df=None in
# the routed queries below PROVES no source scan), and the router's own
# two-level source fallback shares the same rollup, so answers never
# depend on cube presence.
# ---------------------------------------------------------------------------

def _route_engine(spark, sf_dir, tag):
    import os
    import tempfile

    from mongo_olap_spark.engine import OlapEngine

    root = os.path.join(
        tempfile.gettempdir(), f"mongo_olap_piperoute_{tag}",
        sf_dir.strip("/").replace("/", "_"),
    )
    return OlapEngine(spark, root)


from mongo_olap_spark.cube.measures import dispersion_sql  # noqa: E402


@register(
    "q_pipeline_route_stddev",
    oracle=f"""
    WITH p AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(38,6))) AS sd_sum,
             SUM(CAST(value * value AS DECIMAL(38,6))) AS sd_sum2,
             COUNT(value) AS sd_cnt
      FROM events GROUP BY event_type
    )
    SELECT event_type AS et, n,
           {dispersion_sql('stddev_pop', 'sd', rollup=False)} AS sd
    FROM p
    """,
)
def q_pipeline_route_stddev(spark, sf_dir):
    """A $stdDevPop pipeline routed to the dispersion cube it defined:
    cube_spec_from_pipeline now maps $stdDevPop/$stdDevSamp onto the
    C22 decomposed (Σx, Σx², n) measures, so the SAME pipeline that
    created the cube is answered metadata-only (source_df=None proves
    it). The oracle mirrors the decimal-partial finalization."""
    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "sd")
    pipe = [{"$group": {"_id": {"et": "$event_type"},
                        "sd": {"$stdDevPop": "$value"},
                        "n": {"$sum": 1}}}]
    eng.catalog.drop("pipe_sd_cube")
    eng.create_cube_from_pipeline("pipe_sd_cube", "events", pipe, e)
    return eng.query_pipeline("events", pipe).select("et", "n", "sd")


@register(
    "q_pipeline_route_median",
    oracle="""
    WITH v AS (
      SELECT event_type, value, COUNT(*) AS m FROM events
      WHERE value IS NOT NULL GROUP BY event_type, value
    ),
    w AS (
      SELECT event_type, value,
             SUM(m) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             SUM(m) OVER (PARTITION BY event_type) AS tot
      FROM v
    )
    SELECT event_type AS et, MIN(value) AS med
    FROM w WHERE cum >= CEIL(ROUND(0.5 * tot, 9))
    GROUP BY event_type
    """,
)
def q_pipeline_route_median(spark, sf_dir):
    """A $median pipeline served metadata-only from the exact two-level
    cube (measured column as a dimension) — previously this shape
    silently fell back to a full source compile. Answers with the
    engine's exact type-1 discrete median (Mongo's own $median is a
    t-digest approximation — exactness is a strict upgrade)."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "med")
    spec = CubeSpec(
        name="pipe_med_cube", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("n", "count"),),
    )
    eng.catalog.drop(spec.name)
    eng.catalog.create(spec, e)
    pipe = [{"$group": {"_id": {"et": "$event_type"},
             "med": {"$median": {"input": "$value", "method": "approximate"}}}}]
    assert eng.explain("events", pipe)["route"]["target"] == "cube"
    return eng.query_pipeline("events", pipe)


@register(
    "q_pipeline_route_percentile",
    oracle="""
    WITH v AS (
      SELECT event_type, value, COUNT(*) AS m FROM events
      WHERE value IS NOT NULL GROUP BY event_type, value
    ),
    w AS (
      SELECT event_type, value,
             SUM(m) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             SUM(m) OVER (PARTITION BY event_type) AS tot
      FROM v
    )
    SELECT event_type AS et, MIN(value) AS p90
    FROM w WHERE cum >= CEIL(ROUND(0.9 * tot, 9))
    GROUP BY event_type
    """,
)
def q_pipeline_route_percentile(spark, sf_dir):
    """A single-p $percentile pipeline routed to the same two-level
    cube; the routed answer carries Mongo's array shape (one element
    per requested p) — unwrapped here for the scalar oracle."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "pct")
    spec = CubeSpec(
        name="pipe_pct_cube", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("n", "count"),),
    )
    eng.catalog.drop(spec.name)
    eng.catalog.create(spec, e)
    pipe = [{"$group": {"_id": {"et": "$event_type"},
             "p90": {"$percentile": {"input": "$value", "p": [0.9],
                                     "method": "approximate"}}}}]
    out = eng.query_pipeline("events", pipe)
    return out.select("et", F.element_at("p90", 1).alias("p90"))


@register(
    "q_pipeline_route_percentile_multi",
    oracle="""
    WITH v AS (
      SELECT event_type, value, COUNT(*) AS m FROM events
      WHERE value IS NOT NULL GROUP BY event_type, value
    ),
    w AS (
      SELECT event_type, value,
             SUM(m) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             SUM(m) OVER (PARTITION BY event_type) AS tot
      FROM v
    ),
    p AS (SELECT * FROM (VALUES (1, 0.25), (2, 0.5), (3, 0.9)) AS t(i, q))
    SELECT event_type AS et, CAST(p.i AS BIGINT) AS pos, MIN(value) AS qv
    FROM w CROSS JOIN p
    WHERE cum >= CEIL(ROUND(p.q * tot, 9))
    GROUP BY event_type, p.i
    """,
)
def q_pipeline_route_percentile_multi(spark, sf_dir):
    """A MULTI-p $percentile pipeline routed to the exact two-level
    cube (r10): quantile_rollup answers every p from ONE window pass
    over the cells, emitting the array in p order — Mongo's output
    shape, no per-p rescan, no join of N rollups. Flattened to
    (group, p index, value) rows for the oracle."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "pctm")
    spec = CubeSpec(
        name="pipe_pctm_cube", source="events",
        dimensions=(Dimension("event_type"), Dimension("value")),
        measures=(Measure("n", "count"),),
    )
    eng.catalog.drop(spec.name)
    eng.catalog.create(spec, e)
    pipe = [{"$group": {"_id": {"et": "$event_type"},
             "qs": {"$percentile": {"input": "$value", "p": [0.25, 0.5, 0.9],
                                    "method": "approximate"}}}}]
    assert eng.explain("events", pipe)["route"]["target"] == "cube"
    out = eng.query_pipeline("events", pipe)
    ex = out.select("et", F.posexplode("qs").alias("pos0", "qv"))
    return ex.select("et", (F.col("pos0") + 1).cast("long").alias("pos"), "qv")


@register(
    "q_pipeline_route_topn_desc",
    oracle="""
    WITH v AS (
      SELECT event_type, value, user_id FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, user_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value DESC, user_id ASC
             ) AS rnk
      FROM v
    )
    SELECT event_type AS et, rnk, user_id AS who FROM r WHERE rnk <= 3
    """,
)
def q_pipeline_route_topn_desc(spark, sf_dir):
    """A $topN with a DESCENDING sortBy routed through the C24
    two-level cube: the translation swaps to the bottom_by selection
    and reverses the served array back to sortBy (descending) order —
    Mongo presents $topN results in sortBy order. Ties on the sort key
    break by payload (documented deterministic refinement)."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "tnd")
    spec = CubeSpec(
        name="pipe_tnd_cube", source="events",
        dimensions=(Dimension("event_type"), Dimension("value"),
                    Dimension("user_id")),
        measures=(Measure("n", "count"),),
    )
    eng.catalog.drop(spec.name)
    eng.catalog.create(spec, e)
    pipe = [{"$group": {"_id": {"et": "$event_type"},
             "who": {"$topN": {"n": 3, "sortBy": {"value": -1},
                               "output": "$user_id"}}}}]
    out = eng.query_pipeline("events", pipe)
    ex = out.select("et", F.posexplode("who").alias("pos", "u"))
    return ex.select(
        "et", (F.col("pos") + 1).cast("long").alias("rnk"),
        F.col("u").alias("who"),
    )


@register(
    "q_pipeline_route_countdistinct",
    oracle="""
    SELECT event_type AS et,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
    FROM events GROUP BY event_type
    """,
)
def q_pipeline_route_countdistinct(spark, sf_dir):
    """The Mongo count-distinct idiom — $group {$addToSet} + $project
    {$size} — recognized as a C19 exact count-distinct request and
    served metadata-only from the two-level cube (the set itself is
    never materialized: live cells per (group, value) ARE the set)."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "cd")
    spec = CubeSpec(
        name="pipe_cd_cube", source="events",
        dimensions=(Dimension("event_type"), Dimension("user_id")),
        measures=(Measure("n", "count"),),
    )
    eng.catalog.drop(spec.name)
    eng.catalog.create(spec, e)
    pipe = [{"$group": {"_id": {"et": "$event_type"},
                        "us": {"$addToSet": "$user_id"}}},
            {"$project": {"nu": {"$size": "$us"}}}]
    return eng.query_pipeline("events", pipe)


@register(
    "q_pipeline_route_maxn_fallback",
    oracle="""
    WITH v AS (
      SELECT event_type, value FROM events
      WHERE value > 50 AND value IS NOT NULL
    ),
    r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value DESC
             ) AS rnk
      FROM v
    )
    SELECT event_type AS et, rnk, value FROM r WHERE rnk <= 4
    """,
)
def q_pipeline_route_maxn_fallback(spark, sf_dir):
    """A [$match, $group {$maxN}] pipeline with NO covering cube: the
    special translation still applies and the router's two-level
    source fallback answers with the SAME extremes rollup the routed
    path uses — cube presence changes cost, never the answer."""
    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "mxf")
    pipe = [{"$match": {"value": {"$gt": 50}}},
            {"$group": {"_id": {"et": "$event_type"},
                        "hi": {"$maxN": {"input": "$value", "n": 4}}}}]
    assert eng.explain("events", pipe)["route"]["target"] == "source"
    out = eng.query_pipeline("events", pipe, source_df=e)
    ex = out.select("et", F.posexplode("hi").alias("pos", "value"))
    return ex.select(
        "et", (F.col("pos") + 1).cast("long").alias("rnk"), "value"
    )


@register(
    "q_pipeline_route_mixed",
    oracle="""
    WITH v AS (
      SELECT event_type, value, COUNT(*) AS m FROM events
      WHERE value IS NOT NULL GROUP BY event_type, value
    ),
    w AS (
      SELECT event_type, value,
             SUM(m) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             SUM(m) OVER (PARTITION BY event_type) AS tot
      FROM v
    ),
    med AS (
      SELECT event_type, MIN(value) AS med
      FROM w WHERE cum >= CEIL(ROUND(0.5 * tot, 9))
      GROUP BY event_type
    ),
    pl AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, MIN(value) AS lo
      FROM events GROUP BY event_type
    )
    SELECT p.event_type AS et, m.med AS med, p.n AS n, p.lo AS lo
    FROM pl p LEFT JOIN med m ON p.event_type = m.event_type
    """,
)
def q_pipeline_route_mixed(spark, sf_dir):
    """A MIXED-family $group — $median alongside plain $sum:1 and $min
    — served metadata-only (r11, VERDICT r10 task 1): previously this
    shape fell back to a full source compile because the special
    translation required exactly one accumulator. The engine now
    decomposes it into per-family routed requests (the quantile part
    from the two-level cube, the plain part from the count/min cube)
    and joins the one-row-per-group frames on the group keys.
    source_df is NOT passed — the assert plus serving proves every
    part routes. The oracle mirrors the decomposition: exact type-1
    median CTE joined with the plain aggregate."""
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "mix")
    for spec in (
        CubeSpec(
            name="pipe_mix_tl", source="events",
            dimensions=(Dimension("event_type"), Dimension("value")),
            measures=(Measure("cells_n", "count"),),
        ),
        CubeSpec(
            name="pipe_mix_pl", source="events",
            dimensions=(Dimension("event_type"),),
            measures=(Measure("cnt", "count"),
                      Measure("mn", "min", path="value")),
        ),
    ):
        eng.catalog.drop(spec.name)
        eng.catalog.create(spec, e)
    pipe = [{"$group": {"_id": {"et": "$event_type"},
                        "med": {"$median": {"input": "$value"}},
                        "n": {"$sum": 1},
                        "lo": {"$min": "$value"}}}]
    info = eng.explain("events", pipe)
    assert info["route"]["target"] == "cube", info["route"]
    return eng.query_pipeline("events", pipe)


@register(
    "q_pipeline_mixed_fallback",
    oracle="""
    WITH f AS (
      SELECT event_type, user_id, value FROM events WHERE value > 20
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM f GROUP BY event_type
    ),
    r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value DESC
             ) AS rnk
      FROM f WHERE value IS NOT NULL
    )
    SELECT a.event_type AS et, a.nu, a.n, r.rnk, r.value
    FROM agg a JOIN r ON a.event_type = r.event_type
    WHERE r.rnk <= 3
    """,
)
def q_pipeline_mixed_fallback(spark, sf_dir):
    """A mixed $group combining the $addToSet+$size count-distinct
    idiom, $maxN, and a plain count — with a $match prefix and NO
    covering cube: every decomposed part goes through the router's
    source fallback, which shares the rollup with the routed path
    (cube presence changes cost, never the answer). The trailing
    $project drives the mixed parse's passthrough/size handling."""
    e = load_table(spark, sf_dir, "events")
    eng = _route_engine(spark, sf_dir, "mxb")
    pipe = [{"$match": {"value": {"$gt": 20}}},
            {"$group": {"_id": {"et": "$event_type"},
                        "us": {"$addToSet": "$user_id"},
                        "hi": {"$maxN": {"input": "$value", "n": 3}},
                        "n": {"$sum": 1}}},
            {"$project": {"nu": {"$size": "$us"}, "hi": 1, "n": 1}}]
    info = eng.explain("events", pipe)
    assert info["route"]["target"] == "source", info["route"]
    assert [p["family"] for p in info["route"]["parts"]] == [
        "plain", "max_n", "count_distinct"]
    out = eng.query_pipeline("events", pipe, source_df=e)
    ex = out.select("et", "nu", "n", F.posexplode("hi").alias("pos", "value"))
    return ex.select(
        "et", "nu", "n", (F.col("pos") + 1).cast("long").alias("rnk"), "value"
    )
