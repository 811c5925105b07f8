"""OlapEngine — the service facade (SURVEY.md §3 lifecycle).

The reference is a microservice: clients define cubes as JSON configs,
the service populates them, keeps them fresh from the change stream,
and answers `{cube, groupBy, filters, measures}` requests from
materialized state. This class is that API, engine-side:

    engine = OlapEngine(spark, root="/data/olap")
    engine.create_cube(spec_or_json, source_df)        # §3.1
    engine.apply_cdc(cube, batch_df, batch_id)         # §3.2 (batch)
    engine.start_maintenance(cube, cdc_stream, ckpt)   # §3.2 (stream)
    engine.query(cube=None, source=..., group_by=[...],
                 where=..., measures=[...])            # §3.3 (routed)

`query` without an explicit cube goes through the CubeRouter: the
smallest sufficient cube answers; `source_df` (if given) is the
fallback for unroutable requests — exactly the reference's "answer
from the cube, else rescan" contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_olap_spark.cube.catalog import CubeCatalog
from mongo_olap_spark.cube.query import query_cube
from mongo_olap_spark.cube.spec import CubeSpec
from mongo_olap_spark.plans.router import AggregateRequest, CubeRouter
from mongo_olap_spark.streaming.pipeline import CubeMaintainer


class OlapEngine:
    def __init__(self, spark: SparkSession, root: str):
        import os

        from mongo_olap_spark.sources.store import ParquetCollectionStore

        self.spark = spark
        self.catalog = CubeCatalog(spark, root)
        self.router = CubeRouter(self.catalog)
        self.store = ParquetCollectionStore(spark, os.path.join(root, "collections"))
        self._maintainers: dict[str, CubeMaintainer] = {}

    # -- materialized collections ($out / $merge) -------------------------
    def materialize_pipeline(
        self,
        source_df: DataFrame,
        pipeline: list[dict],
        *,
        collections: dict[str, DataFrame] | None = None,
    ) -> int:
        """Run a pipeline whose last stage is $out or $merge and commit
        the result into the engine's collection store (atomic snapshot
        swap). Returns the committed version; read back with
        ``engine.store.read(name)``."""
        from mongo_olap_spark.plans.pipeline_compiler import execute_pipeline

        return execute_pipeline(
            source_df, pipeline, self.store, collections=collections
        )

    # -- cube lifecycle (reference: create/list/drop/pause) ---------------
    def create_cube(self, spec: CubeSpec | str, source: DataFrame) -> DataFrame:
        if isinstance(spec, str):
            spec = CubeSpec.from_json(spec)
        return self.catalog.create(spec, source)

    def create_cube_from_pipeline(
        self, name: str, source_name: str, pipeline: list[dict], source: DataFrame
    ) -> DataFrame:
        """Define a cube from a Mongo ``[$match?, $group]`` pipeline —
        the reference's JSON cube-config flow. The pipeline prefix
        becomes filter_sql, `_id` the dimensions, accumulators the
        measures; the cube then gets the full stack (IVM, lattice,
        routing) like any spec-defined cube."""
        from mongo_olap_spark.plans.pipeline_compiler import cube_spec_from_pipeline

        spec = cube_spec_from_pipeline(name, source_name, pipeline)
        return self.catalog.create(spec, source)

    def advise_cubes(
        self,
        workload: list[tuple],
        sources: dict[str, DataFrame],
        *,
        cell_budget: int | None = None,
        sample_fraction: float | None = None,
        apply: bool = False,
    ):
        """Recommend cube definitions for a pipeline workload (HRU
        greedy view selection — plans/advisor.py).

        ``workload`` entries are ``(source_name, pipeline[, weight])``
        where each pipeline is a routable aggregate (any shape
        ``query_pipeline`` routes — see
        :func:`~mongo_olap_spark.plans.pipeline_compiler.aggregate_requests_from_pipeline`;
        special-family parts advise the exact two-level cube shape the
        router serves them from) and weight is its query frequency. A
        pipeline that does not route raises ``PipelineError``. Returns an
        :class:`~mongo_olap_spark.plans.advisor.Advice`; with
        ``apply=True`` the recommended cubes are also created from
        ``sources`` and registered in the catalog, ready to route.
        """
        from mongo_olap_spark.plans.advisor import WorkloadQuery, advise
        from mongo_olap_spark.plans.pipeline_compiler import (
            aggregate_requests_from_pipeline,
        )

        # each pipeline advises the requests the serving side sends for
        # it: one per routed part, each at the pipeline's weight
        wl = []
        for entry in workload:
            source_name, pipeline, *rest = entry
            weight = rest[0] if rest else 1.0
            filter_sql, dims, parts, _out = (
                aggregate_requests_from_pipeline(pipeline))
            wl += [WorkloadQuery(req, weight=weight) for _part, req
                   in _part_requests(source_name, filter_sql, dims, parts)]
        advice = advise(
            wl, sources,
            cell_budget=cell_budget, sample_fraction=sample_fraction,
        )
        if apply:
            for spec in advice.cubes:
                self.catalog.create(spec, sources[spec.source])
        return advice

    def apply_sketch_alternative(
        self,
        alt,
        source: DataFrame,
        *,
        quantile_ranges: dict[str, tuple[float, float]] | None = None,
    ) -> CubeSpec:
        """Opt into a FLAGGED :class:`~mongo_olap_spark.plans.advisor.
        SketchAlternative` (r14, VERDICT r13 task 6): materialize its
        bounded-state spec so the router serves the priced-out query
        from the sketch cube within the declared error envelope. The
        advisor never auto-picks these — exactness is the operator's
        trade to make; this method IS that opt-in.

        Opting in has TWO explicit halves (the router never silently
        degrades an exact ask to a sketch — that invariant stays):
        materialize the spec here, then re-issue the query with the
        sketch ops (count_distinct→distinct, quantile_exact→quantile,
        topn→topk); ``plans.advisor.approx_request`` rewrites a
        request's measures accordingly.

        Quantile measures in a flagged spec carry PLACEHOLDER lo=0/hi=1
        (the histogram range is a domain decision the advisor cannot
        make from shape alone). Pass ``quantile_ranges={measure_name:
        (lo, hi)}`` to set them, or leave None and the ranges are
        auto-filled from ONE min/max scan of the source (the honest
        default: the true domain, so no mass clamps; note a later
        out-of-range insert still clamps per the envelope). Returns the
        spec actually created (with ranges resolved)."""
        import dataclasses

        spec = alt.spec if hasattr(alt, "spec") else alt
        q_meas = [m for m in spec.measures if m.op == "quantile"]
        if q_meas:
            ranges = dict(quantile_ranges or {})
            missing = [m for m in q_meas if m.name not in ranges]
            if missing:
                aggs = []
                for m in missing:
                    aggs.append(F.min(F.expr(m.path)).alias(f"{m.name}__lo"))
                    aggs.append(F.max(F.expr(m.path)).alias(f"{m.name}__hi"))
                [row] = source.agg(*aggs).collect()
                for m in missing:
                    lo = row[f"{m.name}__lo"]
                    hi = row[f"{m.name}__hi"]
                    if lo is None or hi is None:
                        raise ValueError(
                            f"apply_sketch_alternative: cannot auto-range "
                            f"quantile measure {m.name!r} — column "
                            f"{m.path!r} is all-NULL; pass quantile_ranges")
                    lo, hi = float(lo), float(hi)
                    if not lo < hi:
                        # constant column: any 1-wide range holds it
                        hi = lo + 1.0
                    ranges[m.name] = (lo, hi)
            spec = dataclasses.replace(spec, measures=tuple(
                dataclasses.replace(m, lo=ranges[m.name][0],
                                    hi=ranges[m.name][1])
                if m.op == "quantile" else m
                for m in spec.measures
            ))
        self.catalog.create(spec, source)
        return spec

    def list_cubes(self) -> list[str]:
        return self.catalog.list_cubes()

    def drop_cube(self, name: str) -> None:
        self._maintainers.pop(name, None)
        self.catalog.drop(name)

    def refresh_cube(self, name: str, source: DataFrame) -> DataFrame:
        return self.catalog.refresh(name, source)

    def evolve_cube(self, name: str, *, add: list | None = None,
                    drop: list | None = None,
                    source: DataFrame | None = None) -> DataFrame:
        """Add/drop measures on a live cube without rebuilding the
        surviving ones (catalog.evolve). The cached maintainer is
        invalidated so the next CDC batch aggregates the NEW measure
        set; old snapshots stay pinned with their own specs."""
        out = self.catalog.evolve(name, add=tuple(add or ()),
                                  drop=tuple(drop or ()), source=source)
        self._maintainers.pop(name, None)
        return out

    # -- incremental maintenance ------------------------------------------
    def apply_cdc(self, cube: str, batch: DataFrame, batch_id: int,
                  source_for_repair: DataFrame | None = None) -> bool:
        """Apply one CDC batch (doc columns + mult ±1) synchronously.
        Returns True when applied, False when the idempotence watermark
        skipped the batch as a replay (batch_id ≤ last committed)."""
        maint = self._maintainer(cube, source_for_repair)
        return maint.apply_batch(batch, batch_id)

    def pump_cdc(self, cube: str, stream, *,
                 max_changes: int = 10_000,
                 max_batches: int | None = None,
                 source_for_repair: DataFrame | None = None) -> dict:
        """Drain a PULL-based change stream (a
        :class:`~mongo_olap_spark.sources.adapters.ResumableChangeStream`)
        into a cube, resuming from the cube's own committed watermark
        (r14, VERDICT r13 task 4).

        The resume token is PART OF the cube state: each applied batch
        commits (cells + batch_id=token) atomically via the manifest
        swap, and the next pump reads its ``resume_after`` back from
        ``catalog.last_batch_id(cube, "pump")``. A pump killed between
        apply and anything else therefore never double-applies (the
        re-pulled batch's token ≤ watermark → ``apply_batch`` fences
        it) and never skips (the token only advances on commit) —
        exactly-once with NO external token store, which is how the
        reference persists resume tokens alongside cube state.

        Pumped batches ride a dedicated ``"pump"`` stream watermark so
        they never collide with Spark-streaming maintenance (checkpoint
        batch ids) or wire ``apply_cdc`` ids on the default stream.

        Returns ``{"batches": n, "changes": n, "resume_token": tok}``.
        """
        from mongo_olap_spark.streaming.pipeline import CubeMaintainer

        spec = self.catalog.get_spec(cube)
        maint = CubeMaintainer(self.catalog, spec,
                               source_for_repair=source_for_repair,
                               stream_id="pump")
        committed = self.catalog.last_batch_id(cube, "pump")
        token = None if committed < 0 else committed
        batches = changes = 0
        while max_batches is None or batches < max_batches:
            batch, tok = stream.read_change_stream(
                self.spark, resume_after=token, max_changes=max_changes)
            if tok is None or (token is not None and tok <= token):
                break  # drained
            # the pulled batch re-scans the landing directory on every
            # action (count, touched keys, merge): read it once
            batch = batch.cache()
            try:
                n = batch.count()
                if n == 0:
                    break
                if maint.apply_batch(batch, tok):
                    batches += 1
                    changes += n
            finally:
                batch.unpersist()
            token = tok
        return {"batches": batches, "changes": changes,
                "resume_token": token}

    def start_maintenance(self, cube: str, cdc_stream: DataFrame,
                          checkpoint_dir: str,
                          source_for_repair: DataFrame | None = None, **trigger):
        """Attach a streaming CDC source; checkpoint_dir is the resume
        token. Returns the StreamingQuery (stop() = pause)."""
        maint = self._maintainer(cube, source_for_repair)
        return maint.start(cdc_stream, checkpoint_dir, **trigger)

    def _maintainer(self, cube: str, source_for_repair: DataFrame | None) -> CubeMaintainer:
        if cube not in self._maintainers:
            self._maintainers[cube] = CubeMaintainer(
                self.catalog, self.catalog.get_spec(cube),
                source_for_repair=source_for_repair,
            )
        m = self._maintainers[cube]
        if source_for_repair is not None:
            m.source_for_repair = source_for_repair
        return m

    # -- query (§3.3) -------------------------------------------------------
    def query(
        self,
        *,
        cube: str | None = None,
        source: str | None = None,
        group_by: list | None = None,
        where: str | None = None,
        measures: list | None = None,
        source_df: DataFrame | None = None,
        tail: DataFrame | None = None,
        time_range: tuple | None = None,
        as_of: int | None = None,
    ) -> DataFrame:
        """Answer an aggregate request.

        With ``cube``: validated slice/rollup on that cube (the
        reference's direct cube query). Without: route by ``source``
        over the catalog, falling back to ``source_df``.

        ``tail`` (cube mode): raw source rows the maintenance stream
        has not absorbed yet — lambda serving; the answer reflects
        cells + tail exactly as if the cube were fully caught up
        (cube/query.hybrid_query; bit-identical by decimal partials).

        ``time_range`` (cube mode): ``(lo, hi)`` half-open slice on
        the cube's partition dimension. Serves from
        ``cells_in_range`` — only matching partition directories are
        read (file-level pruning), then the exact dim filter applies
        on top for sub-partition precision.

        ``as_of`` (cube mode, r14): serve from the PINNED snapshot
        version instead of the current manifest — reproducible reads
        (a training run records the version it consumed; re-running
        months later reads identical cells, whatever CDC applied
        since). Snapshot manifests are immutable and data directories
        are content-addressed, so this is a metadata choice, not a
        copy. Refuses loudly when the version was never committed or
        ``vacuum`` already reclaimed files only it references —
        never a silent empty/partial answer — and refuses to combine
        with ``tail``/``time_range`` (a historical snapshot plus a
        LIVE tail or the CURRENT partition listing would mix epochs).
        """
        if cube is not None:
            # r15: a pinned snapshot resolves the spec that WROTE it —
            # time travel across a later evolve_cube() answers with the
            # historical measure set, not the current one
            spec = self.catalog.get_spec(cube, version=as_of)
            if as_of is not None:
                if tail is not None or time_range is not None:
                    raise ValueError(
                        "query: as_of= cannot combine with tail= or "
                        "time_range= — the tail and the partition-range "
                        "listing are CURRENT-epoch state; mixing them "
                        "with a historical snapshot silently answers "
                        "from two points in time"
                    )
                return query_cube(
                    self.catalog.cells(cube, version=as_of), spec,
                    group_by=group_by, where=where, measures=measures,
                )
            if time_range is not None:
                from pyspark.sql import functions as F

                if tail is not None:
                    raise ValueError(
                        "query: tail= and time_range= cannot combine — the "
                        "tail side is not range-pruned, so the answer would "
                        "silently mix a sliced cube with an unsliced tail"
                    )
                pdim = self.catalog.partition_dim(spec)
                if pdim is None:
                    raise ValueError(
                        f"cube {cube} has no time dimension to range-slice"
                    )
                # bounds may arrive as preformatted partition-key strings
                # ('yyyy-MM-ddTHH.MM.SS'); the exact filter below compares
                # against the TIMESTAMP dim column, where that dotted
                # string would cast to NULL and silently match nothing —
                # parse strings back to datetimes first
                from datetime import datetime

                def _parse(b):
                    if not isinstance(b, str):
                        return b
                    for pat in ("%Y-%m-%dT%H.%M.%S", "%Y-%m-%dT%H:%M:%S",
                                "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
                        try:
                            return datetime.strptime(b, pat)
                        except ValueError:
                            continue
                    raise ValueError(
                        f"time_range: cannot parse bound {b!r} (expected a "
                        "datetime or 'yyyy-MM-ddTHH.mm.ss' key string)"
                    )

                lo, hi = _parse(time_range[0]), _parse(time_range[1])
                cells = self.catalog.cells_in_range(cube, lo, hi)
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (F.col(pdim) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(pdim) < F.lit(hi))
                if where is not None:
                    cond = cond & F.expr(where)
                return query_cube(
                    cells, spec, group_by=group_by, where=cond, measures=measures
                )
            if tail is not None:
                from mongo_olap_spark.cube.query import hybrid_query

                cells = self.catalog.cells(cube)
                if where is not None:
                    raise ValueError(
                        "hybrid query: apply dimension filters after the "
                        "merge (where= filters cells only, which would "
                        "desync the tail side)"
                    )
                return hybrid_query(
                    cells, spec, tail, group_by=group_by, measures=measures
                )
            return query_cube(
                self.catalog.cells(cube), spec,
                group_by=group_by, where=where, measures=measures,
            )
        if source is None:
            raise ValueError("query needs either cube= or source=")
        req = AggregateRequest(
            source=source,
            group_by=tuple(group_by or ()),
            measures=tuple(measures or ()),
            where=where,
        )
        return self.router.execute(req, source_df=source_df)

    def explain(
        self,
        source: str,
        pipeline: list[dict],
        *,
        collections: dict[str, DataFrame] | None = None,
    ) -> dict:
        """Explain how the engine would serve a pipeline WITHOUT
        running it (round-6 task 7) — metadata only, no Spark job.

        Returns a dict with:

        - ``route``: ``target`` (``"cube"`` when every part is
          cube-served, else ``"source"``), ``parts`` (one entry per
          routed request part: its ``family``, ``measures``, serving
          ``cube`` and the router's ``reason`` — cell count of the
          winner, or why each cube was refused), ``cubes`` (every
          serving cube), ``cube`` (the serving cube when all parts
          share one), ``reason``, the ``pushed_filter``
          (pre-aggregation source filter the cube shares), the
          ``rewritten_group_by`` and a ``rewrite`` note for special,
          mixed and $sortByCount/$count shapes. A one-part aggregate
          reports its part's ``reason`` and rewritten group-by. Hybrid
          serving (cube cells + unabsorbed tail) is chosen by the
          explicit ``tail=`` argument of :meth:`query`, noted under
          ``route.hybrid``.
        - ``stages``: one entry per pipeline stage; ``$lookup`` stages
          carry the join ``strategy`` the compiler picks (equi-packed /
          broadcast-uncorrelated / hash-equi+residual / banded-range /
          nested-loop) with a one-line rationale, or the refusal
          diagnostic for unsupported shapes.
        - ``refusals``: every diagnostic collected along the way.
        """
        from mongo_olap_spark.plans.pipeline_compiler import (
            PipelineError,
            aggregate_requests_from_pipeline,
            describe_lookup,
        )

        refusals: list[str] = []
        try:
            filter_sql, dims, parts, out_cols = (
                aggregate_requests_from_pipeline(pipeline))
        except PipelineError as e:
            route = {
                "target": "source",
                "cube": None,
                "reason": f"not a routable [$match?, $group] aggregate: {e}",
                "pushed_filter": None,
                "parts": [],
            }
            refusals.append(f"cube routing: {e}")
        else:
            routed = [(part, req, self.router.route(req))  # metadata-only
                      for part, req in _part_requests(source, filter_sql, dims, parts)]
            infos = []
            for part, req, decision in routed:
                family = part[0] if part[0] == "plain" else part[1][1]
                infos.append({
                    "family": family,
                    "measures": [m[0] for m in req.measures],
                    "cube": decision.cube,
                    "reason": decision.reason,
                })
                if decision.cube is None:
                    refusals.append(f"router[{family}]: {decision.reason}")
            served = {p["cube"] for p in infos}
            route = {
                "target": "source" if None in served else "cube",
                # `cube` names the serving cube only when every part
                # shares one; `cubes` lists every serving cube and
                # `parts` is authoritative per part (ADVICE r11:
                # consumers keying on `cube` alone misread a
                # fully-routed mixed query as unrouted)
                "cube": infos[0]["cube"] if len(served) == 1 else None,
                "cubes": sorted(served - {None}),
                "pushed_filter": filter_sql,
                "parts": infos,
                "hybrid": "pass tail= to query() to merge unabsorbed "
                          "source rows with the cube cells",
            }
            if len(routed) == 1:
                [(part, _req, decision)] = routed
                route["reason"] = decision.reason
                route["rewritten_group_by"] = list(decision.rewritten_group_by)
                if part[0] == "special":
                    route["rewrite"] = (
                        f"special-family aggregate → ({part[1][0]!r}, "
                        f"{part[1][1]!r}, ...) exact two-level route"
                        + (f"; post-transform: {part[2]}" if part[2] else ""))
            else:
                route["reason"] = (
                    "mixed-family aggregate: " + (
                        "some parts fall back to source aggregation"
                        if None in served else "every part cube-served"))
                route["rewritten_group_by"] = [d.name for d in dims]
                route["rewrite"] = (
                    f"mixed aggregate → {len(infos)} routed family parts "
                    f"joined on the group keys; output columns {out_cols}")
            if parts[-1][0] == "present":
                route["rewrite"] = (
                    f"trailing ${parts[-1][1]} rewritten into its $group "
                    "definition for routing")
        stages = []
        for st in pipeline:
            name = next(iter(st))
            entry: dict = {"stage": name}
            if name == "$lookup":
                foreign = None
                if collections is not None:
                    fr = st["$lookup"].get("from")
                    f = collections.get(fr)
                    foreign = f() if callable(f) else f
                try:
                    entry.update(describe_lookup(st["$lookup"], foreign))
                except PipelineError as e:
                    entry["refusal"] = str(e)
                    refusals.append(f"$lookup: {e}")
            elif name == "$match" and not stages:
                entry["note"] = (
                    "leading $match compiles ahead of every other stage — "
                    "predicate reaches the scan (pushdown)"
                )
            elif name == "$setWindowFields" and "partitionBy" not in st[name]:
                entry["warning"] = (
                    "no partitionBy: ONE global window — a single "
                    "executor core processes every row (fine over small "
                    "post-aggregate frames, a cliff over raw collections); "
                    "see USAGE.md 'Unpartitioned windows'"
                )
                refusals.append("$setWindowFields: unpartitioned global window")
            elif name == "$graphLookup":
                g = st[name]
                entry["note"] = (
                    f"iterative BFS from {g.get('from')!r}, "
                    + (f"maxDepth={g['maxDepth']}" if "maxDepth" in g
                       else "exhaustive (no maxDepth)")
                    + "; per-hop lineage cuts + visited-set anti-join"
                )
            elif name in ("$out", "$merge"):
                spec_ = st[name]
                if name == "$out":
                    target = spec_ if isinstance(spec_, str) else spec_.get("coll")
                    entry["note"] = f"snapshot write to {target!r} (atomic swap)"
                else:
                    target = spec_.get("into") if isinstance(spec_, dict) else spec_
                    wm = (spec_.get("whenMatched", "merge")
                          if isinstance(spec_, dict) else "merge")
                    entry["note"] = (
                        f"full-outer merge into {target!r} "
                        f"(whenMatched={'pipeline' if isinstance(wm, list) else wm}); "
                        "one join, AQE broadcasts the small delta side"
                    )
            stages.append(entry)
        return {"source": source, "route": route, "stages": stages,
                "refusals": refusals}

    def query_pipeline(
        self,
        source: str,
        pipeline: list[dict],
        source_df: DataFrame | None = None,
    ) -> DataFrame:
        """Serve a Mongo aggregation pipeline — the reference's full
        loop: a routable aggregate (``aggregate_requests_from_pipeline``)
        is answered part by part from the smallest sufficient cube
        (metadata-only routing, zero source scan) or the router's
        source fallback; anything else compiles directly over
        ``source_df``. Output columns carry the pipeline's own dim and
        accumulator names either way."""
        from mongo_olap_spark.plans.pipeline_compiler import (
            PipelineError,
            aggregate_requests_from_pipeline,
            compile_pipeline,
        )

        try:
            parsed = aggregate_requests_from_pipeline(pipeline)
        except PipelineError:
            if source_df is None:
                raise
            return compile_pipeline(source_df, pipeline)
        return self._serve_parts(source, source_df, *parsed)

    def _serve_parts(
        self,
        source: str,
        source_df: DataFrame | None,
        filter_sql: str | None,
        dims: list,
        parts: list,
        out_cols: list[str],
    ) -> DataFrame:
        """Answer a parsed aggregate: route each part once and run it —
        metadata-only when a cube covers the part, else the router's
        source fallback over ``source_df`` — then name the group keys
        as the pipeline does and join the part frames on them.

        Answer-consistency note: the routed and source-fallback paths
        share the same rollup per family, so the answer never depends
        on cube presence. (A ``compile_pipeline`` fallback would NOT be
        bit-identical: the compiled $group $median is Spark's
        interpolated ``median``, while the routed family serves the
        exact type-1 discrete quantile.) The cost of a fully-unrouted
        mixed aggregate is one source aggregation per family — create
        the advised cubes, or call ``compile_pipeline`` directly, if
        single-pass Mongo semantics are wanted instead.

        Scale: the join keys are the GROUP KEYS of already-aggregated
        frames — output-sized inputs, not source-sized; AQE broadcasts
        the small sides. Null group keys join null-safe (Mongo groups
        null/missing keys as a real group).
        """
        dim_names = [d.name for d in dims]
        frames = []
        for part, req in _part_requests(source, filter_sql, dims, parts):
            decision = self.router.route(req)  # metadata-only
            out = self.router.run(req, decision, source_df)
            if decision.cube is not None:
                cur = [g if isinstance(g, str) else g[0]
                       for g in decision.rewritten_group_by]
            else:
                cur = [g if isinstance(g, str) else f"{g[0]}_{g[1]}"
                       for g in req.group_by]
            for old, new in zip(cur, dim_names):
                if old != new:
                    out = out.withColumnRenamed(old, new)
            if part[0] == "special" and part[2] == "array_wrap":
                # $percentile emits an array even for a single p
                alias = part[1][0]
                out = out.withColumn(alias, F.array(F.col(alias)))
            frames.append(out)
        out = frames[0]
        if len(frames) > 1:
            for f in frames[1:]:
                out = _join_on_group_keys(out, f, dim_names)
            out = out.select(*dim_names, *out_cols)
        present = parts[-1]
        if present[0] != "present":
            return out
        if present[1] == "sortByCount":
            # the sort re-applies on the routed (tiny) result
            return out.withColumnRenamed("__sbc", "_id").orderBy(
                F.desc("count"), "_id"
            )
        # Mongo $count emits {alias: N} — and NO document at all over
        # empty input (the zero-dim group has no row to count)
        return out.select(F.col("__cnt").alias(present[2]))


def _part_requests(
    source: str, filter_sql: str | None, dims: list, parts: list
) -> list[tuple[tuple, AggregateRequest]]:
    """``(part, request)`` for every part of a parsed aggregate that
    routes (the presentation step has no request)."""
    gb = tuple(
        (d.source_path, d.granularity) if d.granularity else d.source_path
        for d in dims
    )
    return [
        (part, AggregateRequest(
            source=source, group_by=gb,
            measures=part[1] if part[0] == "plain" else (part[1],),
            filter_sql=filter_sql,
        ))
        for part in parts if part[0] != "present"
    ]


def _join_on_group_keys(
    left: DataFrame, right: DataFrame, dim_names: list[str]
) -> DataFrame:
    """Full-outer join two one-row-per-group aggregate frames on the
    group keys, null-safe (a null group key is a real Mongo group),
    coalescing the key columns. Zero group keys = the zero-dim
    aggregate: both frames hold ≤ 1 row, joined on TRUE (full outer so
    a family that emits no row — e.g. a quantile over all-null input —
    still null-fills instead of dropping the other family's row).
    Frames may share cube-cell lineage, so both sides are aliased
    before the join (self-join attribute disambiguation)."""
    la, ra = left.alias("__mxl"), right.alias("__mxr")
    if not dim_names:
        return la.join(ra, F.lit(True), "full_outer")
    cond = None
    for d in dim_names:
        c = F.col(f"__mxl.`{d}`").eqNullSafe(F.col(f"__mxr.`{d}`"))
        cond = c if cond is None else cond & c
    joined = la.join(ra, cond, "full_outer")
    sel = [
        F.coalesce(F.col(f"__mxl.`{d}`"), F.col(f"__mxr.`{d}`")).alias(d)
        for d in dim_names
    ]
    sel += [F.col(f"__mxl.`{c}`") for c in left.columns if c not in dim_names]
    sel += [F.col(f"__mxr.`{c}`") for c in right.columns if c not in dim_names]
    return joined.select(*sel)
