"""Seeded request and change streams.

Everything the benchmark sends to the program is made here from the
seed, with no clock or Spark involved, so the same seed gives a
byte-identical stream (``tests`` check it). The base ``events`` rows
the CDC batches delete and update come from ``datagen`` with the same
seed.
"""

from __future__ import annotations

import datetime as dt
import random

from datagen import EVENT_TYPES, EVENTS_DAYS, EVENTS_FROM

# -- serve: cubes built in setup, then a seeded mix of routed reads ----------

SERVE_CUBES = [
    {"name": "ev_day", "source": "events",
     "dimensions": [{"name": "event_type"},
                    {"name": "day", "path": "ts", "granularity": "day"}],
     "measures": [{"name": "n", "op": "count"},
                  {"name": "total", "op": "sum", "path": "value"},
                  {"name": "sd", "op": "stddev_samp", "path": "value"}]},
    {"name": "ev_user", "source": "events",
     "dimensions": [{"name": "event_type"}, {"name": "user_id"}],
     "measures": [{"name": "n", "op": "count"}]},
    {"name": "ev_value", "source": "events",
     "dimensions": [{"name": "event_type"}, {"name": "value"}],
     "measures": [{"name": "n", "op": "count"}]},
    {"name": "li_status", "source": "lineitem",
     "dimensions": [{"name": "l_returnflag"}, {"name": "l_linestatus"}],
     "measures": [{"name": "n", "op": "count"},
                  {"name": "qty", "op": "sum", "path": "l_quantity"}]},
]

_TYPE_PAIRS = [("view", "click"), ("signup", "purchase"), ("click", "error")]
_DAY_RANGES = [(3, 10), (10, 17), (20, 30)]


def _day(i: int) -> str:
    d = dt.date.fromisoformat(EVENTS_FROM) + dt.timedelta(days=i)
    return d.isoformat()


_QUANTILE_SQL = """
WITH v AS (SELECT event_type, value, COUNT(*) AS c FROM events
           WHERE value IS NOT NULL GROUP BY event_type, value),
w AS (SELECT event_type, value,
             SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS tot FROM v)
SELECT event_type, MIN(value) AS q FROM w
WHERE cum >= CEIL(ROUND({q} * tot, 9)) GROUP BY event_type"""

_TOPN_SQL = """
WITH c AS (SELECT event_type, user_id, COUNT(*) AS cnt FROM events
           WHERE user_id IS NOT NULL GROUP BY event_type, user_id),
r AS (SELECT event_type, user_id AS top, cnt AS top_cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, user_id ASC) AS rank FROM c)
SELECT * FROM r WHERE rank <= {k}"""


def serve_shapes() -> list[tuple[dict, str]]:
    """Every distinct read the serve mix sends, each with the DuckDB
    query that answers it from the source tables."""
    plain = [["n", "count"], ["total", "sum", "value"]]
    plain_sql = "SELECT event_type, COUNT(*) AS n, SUM(value) AS total FROM events"
    out = [({"op": "query", "source": "events", "group_by": ["event_type"],
             "measures": plain}, f"{plain_sql} GROUP BY 1")]
    out += [({"op": "query", "source": "events", "group_by": ["event_type"],
              "measures": plain, "where": f"event_type IN ('{a}', '{b}')"},
             f"{plain_sql} WHERE event_type IN ('{a}', '{b}') GROUP BY 1")
            for a, b in _TYPE_PAIRS]
    out += [({"op": "query", "cube": "ev_day", "group_by": ["event_type"],
              "measures": ["n", "total"],
              "where": f"day >= TIMESTAMP '{_day(lo)}' AND day < TIMESTAMP '{_day(hi)}'"},
             f"{plain_sql} WHERE ts >= TIMESTAMP '{_day(lo)}' "
             f"AND ts < TIMESTAMP '{_day(hi)}' GROUP BY 1")
            for lo, hi in _DAY_RANGES]
    out.append(({"op": "query", "cube": "ev_day", "group_by": ["event_type"],
                 "measures": ["n", "total"], "as_of": 1}, f"{plain_sql} GROUP BY 1"))
    out.append(({"op": "query", "source": "events", "group_by": ["event_type"],
                 "measures": [["users", "count_distinct", "user_id"]]},
                "SELECT event_type, COUNT(DISTINCT user_id) AS users FROM events GROUP BY 1"))
    out += [({"op": "query", "source": "events", "group_by": ["event_type"],
              "measures": [["q", "quantile_exact", "value", q]]}, _QUANTILE_SQL.format(q=q))
            for q in (0.5, 0.9)]
    out += [({"op": "query", "source": "events", "group_by": ["event_type"],
              "measures": [["top", "topn", "user_id", k]]}, _TOPN_SQL.format(k=k))
            for k in (3, 5)]
    out.append(({"op": "query", "source": "events", "group_by": ["event_type"],
                 "measures": [["sd", "stddev_samp", "value"]]},
                "SELECT event_type, STDDEV_SAMP(value) AS sd FROM events GROUP BY 1"))
    out.append(({"op": "query", "source": "lineitem",
                 "group_by": ["l_returnflag", "l_linestatus"],
                 "measures": [["n", "count"], ["qty", "sum", "l_quantity"]]},
                "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
                "SUM(l_quantity) AS qty FROM lineitem GROUP BY 1, 2"))
    out.append(({"op": "query_pipeline", "source": "events", "pipeline": [
        {"$group": {"_id": {"et": "$event_type"}, "n": {"$sum": 1},
                    "total": {"$sum": "$value"}}}]},
                "SELECT event_type AS et, COUNT(*) AS n, SUM(value) AS total "
                "FROM events GROUP BY 1"))
    # the one shape no cube serves: compiled and run over the source
    out.append(({"op": "query_pipeline", "source": "events", "pipeline": [
        {"$match": {"event_type": {"$in": ["click", "purchase"]}}},
        {"$project": {"event_type": 1, "big": {"$gt": ["$value", 100]}}},
        {"$group": {"_id": {"et": "$event_type", "big": "$big"}, "n": {"$sum": 1}}}]},
                "SELECT {'et': event_type, 'big': value > 100} AS _id, COUNT(*) AS n "
                "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1"))
    return out


def serve_stream(seed: int, rounds: int) -> list[list[int]]:
    """Indices into :func:`serve_shapes`, as ``rounds`` rounds that
    each send every shape once in a seeded order. Whole rounds keep
    the mix the same for every seed; only the order changes."""
    rng = random.Random(seed)
    k = len(serve_shapes())
    return [rng.sample(range(k), k) for _ in range(rounds)]


# -- ingest: a day-partitioned, delete-safe cube kept fresh by CDC -----------

INGEST_CUBE = {
    "name": "ev_cdc", "source": "events",
    "dimensions": [{"name": "event_type"},
                   {"name": "day", "path": "ts", "granularity": "day"}],
    "measures": [{"name": "n", "op": "count"},
                 {"name": "total", "op": "sum", "path": "value"},
                 {"name": "mean", "op": "avg", "path": "value"}],
}

#: reads sent after every batch: the whole cube rolled up, and the
#: most recent week (the days the batches mostly touch)
INGEST_READS = [
    {"op": "query", "cube": "ev_cdc", "group_by": ["event_type"],
     "measures": ["n", "total", "mean"]},
    {"op": "query", "cube": "ev_cdc", "group_by": ["day"], "measures": ["n", "total"],
     "where": f"day >= TIMESTAMP '{_day(EVENTS_DAYS - 7)}'"},
]

#: the read the final state is checked with, and its DuckDB answer
#: over the base table plus the net changes sent (table ``changes``)
INGEST_CHECK = {"op": "query", "cube": "ev_cdc", "group_by": ["event_type", "day"],
                "measures": ["n", "total"]}
INGEST_ORACLE_SQL = """
WITH r AS (SELECT event_type, ts, value, 1 AS mult FROM events
           UNION ALL SELECT event_type, ts, value, mult FROM changes)
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       SUM(mult) AS n, SUM(value * mult) AS total
FROM r GROUP BY 1, 2 HAVING SUM(mult) <> 0"""

#: changes per batch: one step (a batch and its reads) then takes about
#: 2 s, so a 10 s run times 5 steps after 6 warm-up batches
BATCH_CHANGES = 200
#: per inserted event, the share of events updated and the share
#: deleted, as in the repository's CDC soak (``tools/soak_probe.py``
#: updates every third document and deletes every fifth)
UPDATES_PER_INSERT, DELETES_PER_INSERT = 1 / 3, 1 / 5
#: rate of the day skew: 30% of the changes land on the newest day and
#: 91% in the last week, the days the second read covers
DAY_SKEW = 0.35


def _recent_day(rng: random.Random) -> int:
    """Days skewed to the end of the range (``DAY_SKEW``)."""
    return max(0, EVENTS_DAYS - 1 - min(int(rng.expovariate(DAY_SKEW)), EVENTS_DAYS - 1))


def _iso(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)).isoformat()


def cdc_batches(seed: int, base_rows: list[dict], n_batches: int) -> list[list[dict]]:
    """``n_batches`` CDC batches of ``BATCH_CHANGES`` changes each:
    inserts of new events, deletes of live rows and updates as -1/+1
    pairs, with days skewed to the most recent ones. ``base_rows`` are
    the base ``events`` rows (``ts`` as epoch microseconds). Per insert
    there are ``UPDATES_PER_INSERT`` updates and ``DELETES_PER_INSERT``
    deletes on average.

    The shape of the stream (which day each change lands on, and
    whether it is an insert, delete or update) is the same for every
    seed, so every seed touches as many partitions per batch and costs
    the program the same work. The seed picks the rows and values."""
    shape, rng = random.Random(0), random.Random(seed)
    by_day: dict[int, list[dict]] = {}
    t0 = (dt.date.fromisoformat(EVENTS_FROM) - dt.date(1970, 1, 1)).days * 86_400_000_000
    for r in base_rows:
        by_day.setdefault((r["ts"] - t0) // 86_400_000_000, []).append(r)
    next_id = max(r["event_id"] for r in base_rows) + 1
    n_users = max(r["user_id"] for r in base_rows) + 1
    ops = 1 + UPDATES_PER_INSERT + DELETES_PER_INSERT
    p_insert, p_update = 1 / ops, UPDATES_PER_INSERT / ops
    batches = []
    for _ in range(n_batches):
        batch: list[dict] = []
        while len(batch) < BATCH_CHANGES:
            day = _recent_day(shape)
            live = by_day.setdefault(day, [])
            kind = shape.random()
            if kind < p_insert or len(live) < 10:
                row = {"event_id": next_id,
                       "ts": t0 + day * 86_400_000_000 + rng.randrange(86_400_000_000),
                       "user_id": rng.randrange(n_users),
                       "event_type": rng.choice(EVENT_TYPES),
                       "value": round(rng.expovariate(1 / 50.0), 2),
                       "props": '{"k": %d}' % rng.randrange(100)}
                next_id += 1
                live.append(row)
                batch.append({**row, "mult": 1})
                continue
            old = live.pop(rng.randrange(len(live)))
            batch.append({**old, "mult": -1})
            if kind < p_insert + p_update:  # an update: the same event, a new value
                new = {**old, "value": round(old["value"] + rng.uniform(-5, 5), 2)}
                live.append(new)
                batch.append({**new, "mult": 1})
        for c in batch:
            c["ts"] = _iso(c["ts"])
        batches.append(batch)
    return batches
