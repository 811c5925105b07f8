"""Cube definitions.

The reference domain's core abstraction: a *cube* is a named
pre-aggregation of a source collection into **dimensions** (group-by
paths, time paths bucketed to a granularity) × **measures**
(re-aggregable accumulators). The reference configures these as JSON
documents; here a ``CubeSpec`` is a plain dataclass that is also
round-trippable to JSON (``to_json``/``from_json``) so a config-driven
deployment works the same way.

Design decision carried over from the domain (SURVEY.md §1.1): a cube
cell must be **re-aggregable** — any rollup of cells to a dimension
subset must equal direct aggregation of the source. Hence:

- ``avg`` is never stored; it is *decomposed* to (sum, count) at spec
  level and derived at query time (sum/count);
- sums are stored as exact DECIMAL partials (see functions.expressions
  — bit-stable under any re-partitioning / incremental merge order);
- min/max are stored as-is (re-aggregable under inserts; NOT
  maintainable under deletes — flagged via ``delete_safe``);
- ``distinct`` (count-distinct) is stored as a **mergeable HLL sketch**
  (Apache DataSketches via Spark's native ``hll_sketch_agg``): rollup
  unions sketches, estimate at query time. Exact count-distinct is not
  re-aggregable at all (distinct sets don't add), so the sketch IS the
  scale answer — a 100 TB source rolls up through ~KB of register
  state per cell instead of re-scanning. Inserts merge (set union is
  monotone); deletes are not retractable (like min/max) — flagged via
  ``delete_safe`` and repaired by the bounded cell-rescan path.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from mongo_olap_spark.cube.measures import FAMILIES

_GRANULARITIES = ("year", "quarter", "month", "week", "day", "hour", "minute")

#: op parameters of a Measure; each is valid for one op only, so the
#: JSON form carries exactly the ones that are set
_PARAMS = ("lgk", "lo", "hi", "nbins", "q", "k", "max_items")

#: valid lgConfigK range for Spark's hll_sketch_agg (Datasketches HLL).
_LGK_RANGE = (4, 21)

#: topk summary capacity: default and the hard cap Spark's
#: approx_top_k imposes on maxItemsTracked.
_DEFAULT_MAX_ITEMS = 10_000
_MAX_ITEMS_CAP = 1_000_000


def _ident(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"invalid identifier: {name!r}")
    return name


@dataclass(frozen=True)
class Dimension:
    """Group-by key. ``path`` is a source column path or any SQL scalar
    expression (the $project-before-$group capability);
    ``granularity`` bucketizes a timestamp path (year/…/minute)."""

    name: str
    path: str | None = None  # defaults to name
    granularity: str | None = None

    def __post_init__(self):
        _ident(self.name)
        if self.granularity is not None and self.granularity not in _GRANULARITIES:
            raise ValueError(f"granularity must be one of {_GRANULARITIES}")

    @property
    def source_path(self) -> str:
        return self.path or self.name

    def expr(self) -> Column:
        c = F.expr(self.source_path)
        if self.granularity:
            c = F.date_trunc(self.granularity, c)
        return c.alias(self.name)

    def sql(self) -> str:
        """ANSI-SQL twin of :meth:`expr` (DuckDB-compatible)."""
        if self.granularity:
            return f"CAST(date_trunc('{self.granularity}', {self.source_path}) AS TIMESTAMP) AS {self.name}"
        return f"{self.source_path} AS {self.name}"


@dataclass(frozen=True)
class Measure:
    """An accumulator: ``op`` over a source path (count needs none).

    Each op's storage columns (``<name><suffix>``), build, merge,
    finalize and retractability are one entry of the measure-family
    table in :mod:`mongo_olap_spark.cube.measures`. Parameters:
    ``lgk`` (distinct: HLL lgConfigK, 2^lgk registers), ``lo``/``hi``/
    ``nbins``/``q`` (quantile: fixed bins over [lo, hi) plus under- and
    overflow; default query-time quantile), ``k``/``max_items``
    (topk: default query-time top-k and summary capacity).
    """

    name: str
    op: str
    path: str | None = None
    lgk: int | None = None  # distinct only: hll_sketch_agg lgConfigK
    lo: float | None = None  # quantile only: histogram range [lo, hi)
    hi: float | None = None
    nbins: int | None = None  # quantile only: fixed linear bin count
    q: float | None = None  # quantile only: default quantile (0.5)
    k: int | None = None  # topk only: default query-time top-k
    max_items: int | None = None  # topk only: summary capacity (default 10000)

    def __post_init__(self):
        _ident(self.name)
        if self.op not in FAMILIES:
            raise ValueError(f"op must be one of {sorted(FAMILIES)}")
        if self.op != "count" and not (self.path or self.name):
            raise ValueError(f"measure {self.name}: op {self.op} needs a path")
        if self.op == "quantile":
            if self.lo is None or self.hi is None or self.nbins is None:
                raise ValueError(
                    f"measure {self.name}: op 'quantile' needs lo, hi, nbins "
                    "(the fixed histogram range is part of the spec — pick it "
                    "from the column's domain)"
                )
            if not float(self.lo) < float(self.hi):
                raise ValueError(f"measure {self.name}: quantile needs lo < hi")
            if not (1 <= int(self.nbins) <= 4096):
                raise ValueError(f"measure {self.name}: nbins must be in [1, 4096]")
            if self.q is not None and not (0.0 < float(self.q) <= 1.0):
                raise ValueError(f"measure {self.name}: q must be in (0, 1]")
        elif any(v is not None for v in (self.lo, self.hi, self.nbins, self.q)):
            raise ValueError(
                f"measure {self.name}: lo/hi/nbins/q are only valid for op 'quantile'"
            )
        if self.op == "topk":
            if self.k is None:
                raise ValueError(
                    f"measure {self.name}: op 'topk' needs k (the default "
                    "query-time top-k; callers may still ask for any k' ≤ "
                    "max_items at query time)"
                )
            if not (1 <= int(self.k) <= _MAX_ITEMS_CAP):
                raise ValueError(f"measure {self.name}: k must be in [1, {_MAX_ITEMS_CAP}]")
            mi = _DEFAULT_MAX_ITEMS if self.max_items is None else int(self.max_items)
            if not (int(self.k) <= mi <= _MAX_ITEMS_CAP):
                raise ValueError(
                    f"measure {self.name}: max_items must be in [k, {_MAX_ITEMS_CAP}]"
                )
        elif self.k is not None or self.max_items is not None:
            raise ValueError(
                f"measure {self.name}: k/max_items are only valid for op 'topk'"
            )
        if self.lgk is not None:
            if self.op != "distinct":
                raise ValueError(f"measure {self.name}: lgk is only valid for op 'distinct'")
            if not (_LGK_RANGE[0] <= self.lgk <= _LGK_RANGE[1]):
                raise ValueError(
                    f"measure {self.name}: lgk must be in [{_LGK_RANGE[0]}, {_LGK_RANGE[1]}]"
                )

    @property
    def source_path(self) -> str:
        return self.path or self.name

    @property
    def delete_safe(self) -> bool:
        return FAMILIES[self.op].retractable

    def storage_cols(self) -> list[str]:
        return [f"{self.name}{s}" for s in FAMILIES[self.op].partials]

    @property
    def default_q(self) -> float:
        """Query-time quantile when none is asked for (median)."""
        return 0.5 if self.q is None else float(self.q)

    @property
    def capacity(self) -> int:
        """topk summary capacity (max tracked items per cell)."""
        return _DEFAULT_MAX_ITEMS if self.max_items is None else int(self.max_items)

    @property
    def default_k(self) -> int:
        """Query-time top-k when none is asked for."""
        return int(self.k) if self.k is not None else 5


@dataclass(frozen=True)
class CubeSpec:
    """A cube: source table name + dims + measures (+ optional
    pre-aggregation filter, the ``$match`` stage of the population
    pipeline)."""

    name: str
    source: str
    dimensions: tuple[Dimension, ...] = field(default_factory=tuple)
    measures: tuple[Measure, ...] = field(default_factory=tuple)
    filter_sql: str | None = None  # WHERE clause on the source, ANSI SQL

    def __post_init__(self):
        _ident(self.name)
        names = [d.name for d in self.dimensions] + [m.name for m in self.measures]
        if len(set(names)) != len(names):
            raise ValueError(f"cube {self.name}: duplicate dim/measure names")
        if not self.measures:
            raise ValueError(f"cube {self.name}: at least one measure required")

    @property
    def dim_names(self) -> list[str]:
        return [d.name for d in self.dimensions]

    @property
    def cell_columns(self) -> list[str]:
        """The cell table's columns: dims, then every storage column."""
        return self.dim_names + [c for m in self.measures for c in m.storage_cols()]

    @property
    def delete_safe(self) -> bool:
        """True iff every measure partial supports signed (retraction)
        merge — i.e. the cube can be maintained under CDC deletes."""
        return all(m.delete_safe for m in self.measures)

    def measure(self, name: str) -> Measure:
        for m in self.measures:
            if m.name == name:
                return m
        raise KeyError(f"cube {self.name}: no measure {name!r}")

    # -- JSON config round-trip (the reference domain is config-driven) --

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "source": self.source,
                "filter_sql": self.filter_sql,
                "dimensions": [
                    {"name": d.name, "path": d.path, "granularity": d.granularity}
                    for d in self.dimensions
                ],
                "measures": [
                    {"name": m.name, "op": m.op, "path": m.path}
                    | {p: getattr(m, p) for p in _PARAMS if getattr(m, p) is not None}
                    for m in self.measures
                ],
            },
            indent=2,
        )

    @staticmethod
    def from_json(s: str) -> "CubeSpec":
        d = json.loads(s)
        return CubeSpec(
            name=d["name"],
            source=d["source"],
            filter_sql=d.get("filter_sql"),
            dimensions=tuple(Dimension(**x) for x in d.get("dimensions", [])),
            measures=tuple(Measure(**x) for x in d.get("measures", [])),
        )
