"""T1 — cube core queries (SURVEY.md §2.1, C1–C18).

Each query exercises one operator of the cube lifecycle: source scan
with pushdown, pre-aggregation filter, projection, time bucketing,
cube build, the accumulator set (count/sum/avg-decomposed/min/max),
slice/dice on cube cells, rollup to a dimension subset, sort/limit.

The flagship (``entry()``) is q_cube_build: a TPC-H-Q1-shaped cube on
lineitem — dims (l_returnflag × l_linestatus), re-aggregable measures
— built through the cube layer (spec → build → query), proving the
decompose/re-aggregate contract end-to-end against a plain-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_olap_spark.cube import CubeSpec, Dimension, Measure, build_cube, query_cube
from mongo_olap_spark.functions.expressions import davg, davg_sql, dsum, dsum_sql
from mongo_olap_spark.queries import register
from mongo_olap_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Cube specs used by the manifest (also exercised by tests/)
# ---------------------------------------------------------------------------

#: TPC-H Q1 as a cube: the reference's "pre-aggregate a collection into
#: dims × measures" in its most canonical form.
#:
#: The disc_price/charge products fix the monetary factors at their
#: TRUE scale (2 decimals — TPC-H types them DECIMAL) before
#: multiplying, so the product is exact fixed-point in every engine.
#: A double product cast to DECIMAL(38,6) afterwards is NOT portable:
#: Spark rounds the shortest decimal repr HALF_UP while DuckDB
#: nearbyint()s the scaled binary value, and at sf1 (~24M rows) the
#: per-row last-decimal disagreements accumulated to a 1-ulp double
#: difference in sum_charge (r9 verdict "what's wrong" #1). The casts
#: of the factors themselves are safe in both engines: the true values
#: carry 2 decimals, so the 6th-decimal rounding boundary is ~1e10
#: ulps away.
_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "CAST(1 - l_discount AS DECIMAL(6,2))"
)
_CHARGE = _DISC_PRICE + " * CAST(1 + l_tax AS DECIMAL(6,2))"
PRICING_CUBE = CubeSpec(
    name="lineitem_pricing",
    source="lineitem",
    filter_sql="l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'",
    dimensions=(Dimension("l_returnflag"), Dimension("l_linestatus")),
    measures=(
        Measure("sum_qty", "sum", "l_quantity"),
        Measure("sum_base_price", "sum", "l_extendedprice"),
        Measure("sum_disc_price", "sum", _DISC_PRICE),
        Measure("sum_charge", "sum", _CHARGE),
        Measure("avg_qty", "avg", "l_quantity"),
        Measure("avg_price", "avg", "l_extendedprice"),
        Measure("avg_disc", "avg", "l_discount"),
        Measure("count_order", "count"),
    ),
)

#: Daily events cube — the streaming/IVM test target (FIXTURES.md §b).
EVENTS_CUBE = CubeSpec(
    name="events_daily",
    source="events",
    dimensions=(
        Dimension("event_type"),
        Dimension("day", path="ts", granularity="day"),
    ),
    measures=(
        Measure("n", "count"),
        Measure("total_value", "sum", "value"),
        Measure("avg_value", "avg", "value"),
    ),
)


# ---------------------------------------------------------------------------
# C3 — $match pre-aggregation filter (TPC-H-Q6-shaped predicates)
# ---------------------------------------------------------------------------

@register(
    "q_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < CAST(24 AS DOUBLE)
    """,
)
def q_filter(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


# ---------------------------------------------------------------------------
# C2/S2 — $project / $addFields: computed fields, conditionals, strings
# ---------------------------------------------------------------------------

@register(
    "q_project",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)  AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           upper(o_orderpriority)          AS priority_uc,
           CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END            AS price_band,
           o_totalprice * 0.9              AS net_price
    FROM orders
    """,
)
def q_project(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.upper("o_orderpriority").alias("priority_uc"),
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("price_band"),
        (F.col("o_totalprice") * 0.9).alias("net_price"),
    )


# ---------------------------------------------------------------------------
# C4/S6 — $unwind: array → rows
# ---------------------------------------------------------------------------

@register(
    "q_explode",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id % 100 = 0
    """,
)
def q_explode(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") % 100 == 0)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )


# ---------------------------------------------------------------------------
# C5 — time-bucket dimension
# ---------------------------------------------------------------------------

@register(
    "q_time_bucket",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q_time_bucket(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )


# ---------------------------------------------------------------------------
# C6–C10 — cube build with the full accumulator set (FLAGSHIP)
# ---------------------------------------------------------------------------

@register(
    "q_cube_build",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')}       AS sum_qty,
           {dsum_sql('l_extendedprice')}  AS sum_base_price,
           {dsum_sql(_DISC_PRICE)} AS sum_disc_price,
           {dsum_sql(_CHARGE)} AS sum_charge,
           {davg_sql('l_quantity')}       AS avg_qty,
           {davg_sql('l_extendedprice')}  AS avg_price,
           {davg_sql('l_discount')}       AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_cube_build(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cells = build_cube(spark, PRICING_CUBE, li)
    return query_cube(cells, PRICING_CUBE)


# ---------------------------------------------------------------------------
# C7–C10 — individual accumulators over direct aggregation
# ---------------------------------------------------------------------------

@register(
    "q_agg_count",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_count(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_agg_sum",
    oracle=f"""
    SELECT n_name,
           {dsum_sql('c_acctbal')} AS total_acctbal,
           COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_agg_sum(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # nation is a 25-row dim at every scale factor: always broadcast.
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("c_acctbal", "total_acctbal"), F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q_agg_avg",
    oracle=f"""
    SELECT event_type,
           {davg_sql('value')} AS avg_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_avg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        davg("value", "avg_value"), F.count(F.lit(1)).alias("n")
    )


@register(
    "q_agg_minmax",
    oracle="""
    SELECT o_orderpriority,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           min(o_orderdate)  AS first_date,
           max(o_orderdate)  AS last_date
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_minmax(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


# ---------------------------------------------------------------------------
# C14 — cube slice/dice (filters on dimension values, answered from cells)
# ---------------------------------------------------------------------------

_SLICE_WHERE = (
    "event_type IN ('click', 'purchase') "
    "AND day >= TIMESTAMP '2024-01-05 00:00:00' "
    "AND day < TIMESTAMP '2024-01-20 00:00:00'"
)


@register(
    "q_cube_slice",
    oracle=f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value,
           {davg_sql('value')} AS avg_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1, 2
    """,
)
def q_cube_slice(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, EVENTS_CUBE, e)
    return query_cube(cells, EVENTS_CUBE, where=_SLICE_WHERE)


# ---------------------------------------------------------------------------
# C15 — rollup to a dimension subset (sum of sums / counts; derived avg)
# ---------------------------------------------------------------------------

@register(
    "q_cube_rollup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value,
           {davg_sql('value')} AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def q_cube_rollup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, EVENTS_CUBE, e)
    return query_cube(cells, EVENTS_CUBE, group_by=["event_type"])


# ---------------------------------------------------------------------------
# Lattice: all rollup levels materialized in one pass (grouping sets);
# the day-level slice is answered with zero query-time aggregation.
# ---------------------------------------------------------------------------

@register(
    "q_cube_lattice",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value,
           {davg_sql('value')} AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def q_cube_lattice(spark, sf_dir):
    from mongo_olap_spark.cube.lattice import build_cube_lattice, query_lattice

    e = load_table(spark, sf_dir, "events")
    cells = build_cube_lattice(
        spark, EVENTS_CUBE, e,
        levels=[("event_type", "day"), ("event_type",), ("day",), ()],
    )
    return query_lattice(cells, EVENTS_CUBE, group_by=["day"])


# ---------------------------------------------------------------------------
# C16/S4/S5 — sort / limit / offset (deterministic via unique tiebreak)
# ---------------------------------------------------------------------------

@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    # TakeOrderedAndProject: top-k never sorts the full table.
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q_sort",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 100 OFFSET 10
    """,
)
def q_sort(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(10)
        .limit(100)
    )


# ---------------------------------------------------------------------------
# C19 — count-distinct served from cube state (two routes)
# ---------------------------------------------------------------------------

#: HLL-sketch distinct cube: bounded per-cell state (2^lgk registers),
#: insert-mergeable, approximate. The scale route for high-cardinality
#: distinct at 100 TB — rollups union KB-sized sketches, never rescan.
USERS_HLL_CUBE = CubeSpec(
    name="events_users_hll",
    source="events",
    dimensions=(
        Dimension("event_type"),
        Dimension("day", path="ts", granularity="day"),
    ),
    measures=(
        Measure("n", "count"),
        Measure("users", "distinct", "user_id", lgk=14),
    ),
)

#: Exact-distinct cube (two-level decomposition): the counted column is
#: itself a dimension, so the distinct count is the number of live
#: cells. Exact AND delete-retractable (cells evict at multiplicity 0);
#: the trade is O(cardinality) cells instead of O(groups) sketches.
USERS_EXACT_CUBE = CubeSpec(
    name="events_users_exact",
    source="events",
    dimensions=(
        Dimension("event_type"),
        Dimension("user_id"),
    ),
    measures=(Measure("n", "count"),),
)


@register("q_cube_distinct")
def q_cube_distinct(spark, sf_dir):
    """Approximate count-distinct from HLL cube cells (rows-only: the
    estimate is sketch-based by nature — exactness is property-tested
    in tests/test_cube_distinct.py at sparse-mode cardinalities; same
    oracle class as q_agg_approx)."""
    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, USERS_HLL_CUBE, e)
    return query_cube(cells, USERS_HLL_CUBE, group_by=["event_type"], measures=["n", "users"])


@register(
    "q_cube_distinct_exact",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_cube_distinct_exact(spark, sf_dir):
    """Exact count-distinct from cube state: one live cell per
    (event_type, user_id); the rollup counts cells — no distinct
    aggregation over the source at query time."""
    from mongo_olap_spark.cube.query import distinct_rollup

    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, USERS_EXACT_CUBE, e)
    return distinct_rollup(
        cells, USERS_EXACT_CUBE, ["event_type"], "user_id",
        alias="n_users", measures=["n"],
    ).withColumnRenamed("n", "n_events")


# ---------------------------------------------------------------------------
# C20 — quantile measures from cube state. Sketch route: fixed-bin
# signed histogram (bounded ~8·nbins bytes per cell, element-wise
# mergeable AND retractable — the only quantile that both rolls up and
# survives CDC deletes at 100 TB). Exact route: two-level decomposition
# with the measured column as a dimension (discrete inverse-CDF over
# live cells — exact, retractable, O(cardinality) state).
# ---------------------------------------------------------------------------

#: Histogram-sketch cube: value ∈ [0, 1000) in 100 bins (events.value
#: tops out around 600 at every SF — no overflow mass; estimate error
#: is bounded by the 10-unit bin width).
VALUE_HIST_CUBE = CubeSpec(
    name="events_value_hist",
    source="events",
    dimensions=(
        Dimension("event_type"),
        Dimension("day", path="ts", granularity="day"),
    ),
    measures=(
        Measure("n", "count"),
        Measure("p50_value", "quantile", "value", lo=0.0, hi=1000.0, nbins=100),
    ),
)

#: Exact-quantile cube (two-level): the measured column is itself a
#: dimension; the discrete quantile is read off the live cells' CDF.
VALUE_EXACT_Q_CUBE = CubeSpec(
    name="events_value_exact_q",
    source="events",
    dimensions=(
        Dimension("event_type"),
        Dimension("value"),
    ),
    measures=(Measure("n", "count"),),
)


@register("q_cube_quantile")
def q_cube_quantile(spark, sf_dir):
    """Median estimate from histogram-sketch cube cells (rows-only:
    bin-width-bounded estimate by nature — the ≤ one-bin-width error
    envelope and merge==rebuild bit-equality are property-tested in
    tests/test_cube_quantile.py; same oracle class as q_cube_distinct).
    """
    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, VALUE_HIST_CUBE, e)
    return query_cube(
        cells, VALUE_HIST_CUBE, group_by=["event_type"], measures=["n", "p50_value"]
    )


@register(
    "q_cube_quantile_exact",
    oracle="""
    WITH v AS (
      SELECT event_type, value, COUNT(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, value
    ),
    w AS (
      SELECT event_type, value,
             SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS tot
      FROM v
    )
    SELECT event_type, MIN(value) AS p50_value
    FROM w WHERE cum >= CEIL(ROUND(0.5 * tot, 9))
    GROUP BY event_type
    """,
)
def q_cube_quantile_exact(spark, sf_dir):
    """Exact discrete median from cube state: one live cell per
    (event_type, value); the quantile is the smallest value whose
    cumulative cell multiplicity reaches ceil(q·total) — no source
    rescan, no percentile aggregation at query time."""
    from mongo_olap_spark.cube.query import quantile_rollup

    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, VALUE_EXACT_Q_CUBE, e)
    return quantile_rollup(
        cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", 0.5, alias="p50_value"
    )


# ---------------------------------------------------------------------------
# C21 — top-k / heavy-hitters measures from cube state. Sketch route:
# bounded frequent-items map (built from the native approx_top_k,
# merged by per-item count sum + deterministic truncation — the
# mergeable-summaries scheme, Agarwal et al. PODS'12; EXACT while
# per-cell cardinality ≤ max_items, bounded-error beyond). Exact route:
# two-level decomposition with the ranked column as a dimension
# (windowed rank over live cells — exact, retractable, O(cardinality)
# state; WindowGroupLimit keeps the exchange at O(groups · k)).
# ---------------------------------------------------------------------------

#: Frequent-items map cube: per (event_type, day) cell the map tracks
#: up to 65536 users — far above the per-cell (≤ ~6k at sf1) AND the
#: per-type union (≤ 15k at sf1) cardinality, so both the build and the
#: rollup merge stay in the EXACT regime at every tested SF; the oracle
#: below is therefore hash-exact, not rows-only. The truncated regime
#: is property-tested in tests/test_cube_topk.py instead.
USERS_TOPK_CUBE = CubeSpec(
    name="events_users_topk",
    source="events",
    dimensions=(
        Dimension("event_type"),
        Dimension("day", path="ts", granularity="day"),
    ),
    measures=(
        Measure("n", "count"),
        Measure("top_users", "topk", "user_id", k=3, max_items=65536),
    ),
)


@register(
    "q_cube_topn",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id
    ),
    r AS (
      SELECT event_type, user_id, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY cnt DESC, user_id ASC
             ) AS rank
      FROM c
    )
    SELECT event_type, rank, user_id, cnt FROM r WHERE rank <= 3
    """,
)
def q_cube_topn(spark, sf_dir):
    """Top-3 users per event type from frequent-items cube cells: the
    per-day maps explode+re-rank per-item (never a source rescan) —
    WHEN the cube certifies the exact regime. r15 (sf100 probe):
    per-cell user cardinality (~360k) exceeded max_items=65536 there
    and a saturated approx_top_k returns an EMPTY map (frequent-items
    purge), so an uncertified serve silently emitted zero rows.

    Optimization r16: the serve's own per-group mass-conservation
    certificate (query_cube on_inexact='error' — the guard rides the
    measure column in-plan) subsumes the separate persisted precheck
    this query used to run, so the exact regime now costs ONE source
    aggregation pass with no cells persist and no extra driver round
    trip (was: persist + precheck job + serve job — 2.26 s → ~1.1 s at
    sf0.1). The purged regime surfaces as the certificate raise at
    collect time; catching it selects the exact source top-k fallback
    (groupBy + WindowGroupLimit rank — O(distinct pairs) shuffle, the
    plan a 100 TB deployment wants for ad-hoc exact heavy-hitters).
    Per-cell map mass never exceeds the cell's true row mass, so the
    old global-sum precheck and the serve's per-group certificate
    accept exactly the same states — either route stays exact and the
    oracle hash-exact at EVERY scale."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, USERS_TOPK_CUBE, e)
    try:
        rolled = query_cube(
            cells, USERS_TOPK_CUBE, group_by=["event_type"],
            measures=["top_users"]
        )
        ex = rolled.select(
            "event_type", F.posexplode("top_users").alias("pos", "e")
        )
        out = ex.select(
            "event_type",
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("cnt"),
        )
        # the serve output is bounded (k per event_type): materialize
        # it so a purged-regime certificate raise is caught HERE, not
        # in the caller's action
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    except Exception as err:  # certificate raise → exact fallback
        from mongo_olap_spark.cube.query import TOPK_CERT_SENTINEL

        # match the unique sentinel, not prose: an unrelated error
        # that merely mentions "topk measure" must propagate instead
        # of silently recomputing from source (r17, VERDICT r16 #5)
        if TOPK_CERT_SENTINEL not in str(err):
            raise
    counted = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("user_id").asc())
    return (counted.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 3)
            .select("event_type", "rank", "user_id", "cnt"))


@register(
    "q_cube_topn_exact",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id
    ),
    r AS (
      SELECT event_type, user_id, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY cnt DESC, user_id ASC
             ) AS rank
      FROM c
    )
    SELECT event_type, user_id, cnt, rank FROM r WHERE rank <= 3
    """,
)
def q_cube_topn_exact(spark, sf_dir):
    """Exact top-3 users per event type from cube state: one live cell
    per (event_type, user_id); a windowed rank over cells — no source
    rescan, no per-group fold, fully retractable under CDC deletes."""
    from mongo_olap_spark.cube.query import topk_rollup

    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, USERS_EXACT_CUBE, e)
    out = topk_rollup(
        cells, USERS_EXACT_CUBE, ["event_type"], "user_id", 3, count_alias="cnt"
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# C23 — order-statistics accumulators (Mongo $minN/$maxN parity at the
# cube level): the k smallest/largest VALUES per group (duplicates
# kept, exactly as $minN/$maxN return them), expanded from the ≤ k
# boundary cells of the two-level state. Exact, fully retractable
# (unlike raw min/max measures — the runner-up is always live), and
# the final collect is bounded at k structs per group.
# ---------------------------------------------------------------------------

@register(
    "q_cube_extremes",
    oracle="""
    WITH v AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    lo AS (
      SELECT event_type, 'min' AS kind, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC) AS rnk
      FROM v
    ),
    hi AS (
      SELECT event_type, 'max' AS kind, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC) AS rnk
      FROM v
    )
    SELECT event_type, kind, rnk, value FROM lo WHERE rnk <= 5
    UNION ALL
    SELECT event_type, kind, rnk, value FROM hi WHERE rnk <= 3
    """,
)
def q_cube_extremes(spark, sf_dir):
    """$minN/$maxN from cube state: the 5 smallest and 3 largest
    values per event type (duplicates kept), both read off the same
    two-level cells — no source rescan, bounded k-struct collects.
    The arrays flatten to (kind, rank, value) rows for the oracle
    compare (cross-engine array columns don't hash)."""
    from mongo_olap_spark.cube.query import extremes_rollup

    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, VALUE_EXACT_Q_CUBE, e)

    def flat(df, col, kind):
        ex = df.select("event_type", F.posexplode(col).alias("pos", "value"))
        return ex.select(
            "event_type",
            F.lit(kind).alias("kind"),
            (F.col("pos") + 1).cast("long").alias("rnk"),
            "value",
        )

    lo = extremes_rollup(cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", 5, alias="min5")
    hi = extremes_rollup(
        cells, VALUE_EXACT_Q_CUBE, ["event_type"], "value", 3, largest=True, alias="max3"
    )
    return flat(lo, "min5", "min").unionByName(flat(hi, "max3", "max"))


# ---------------------------------------------------------------------------
# C22 — dispersion measures (Mongo $stdDevPop/$stdDevSamp accumulator
# parity at the cube level): variance/stddev stored as decomposed
# (Σx, Σx², n) exact DECIMAL partials — signed-mergeable, so the family
# is fully retractable AND bit-stable under any re-partitioning or
# batch order; the variance derives at query time (E[x²] − mean²,
# clamped at 0) and is never stored.
# ---------------------------------------------------------------------------

#: Dispersion cube: ONE measure's (sum, sum2, cnt) partials answer all
#: four forms at query time via dispersion_estimates — declaring one
#: measure per form would triplicate identical state.
VALUE_DISPERSION_CUBE = CubeSpec(
    name="events_value_dispersion",
    source="events",
    dimensions=(
        Dimension("event_type"),
        Dimension("day", path="ts", granularity="day"),
    ),
    measures=(
        Measure("n", "count"),
        Measure("var_value", "var_pop", "value"),
    ),
)


from mongo_olap_spark.cube.measures import dispersion_sql  # noqa: E402


@register(
    "q_cube_stddev",
    oracle=f"""
    WITH p AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(38,6))) AS var_value_sum,
             SUM(CAST(value * value AS DECIMAL(38,6))) AS var_value_sum2,
             COUNT(value) AS var_value_cnt
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           {dispersion_sql('var_pop', 'var_value', rollup=False)} AS var_value,
           {dispersion_sql('stddev_pop', 'var_value', rollup=False)} AS sd_value,
           {dispersion_sql('stddev_samp', 'var_value', rollup=False)} AS sds_value
    FROM p
    """,
)
def q_cube_stddev(spark, sf_dir):
    """Population variance + pop/sample stddev per event type, rolled
    up from daily dispersion cells (one shuffle over O(cells); the
    decimal partials make the rollup bit-identical to direct
    aggregation, so the DuckDB twin mirrors the exact decomposed
    formula rather than its own Welford-style var_pop)."""
    from mongo_olap_spark.cube.query import dispersion_estimates

    e = load_table(spark, sf_dir, "events")
    cells = build_cube(spark, VALUE_DISPERSION_CUBE, e)
    return dispersion_estimates(
        cells,
        VALUE_DISPERSION_CUBE,
        "var_value",
        ["var_pop", "stddev_pop", "stddev_samp"],
        group_by=["event_type"],
        aliases=["var_value", "sd_value", "sds_value"],
        measures=["n"],
    ).select("event_type", "n", "var_value", "sd_value", "sds_value")


