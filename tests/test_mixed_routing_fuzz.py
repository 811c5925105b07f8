"""Property fuzz over the mixed-routing refusal surface (r13, VERDICT
r12 task 7).

`aggregate_requests_from_pipeline` parses a `[$match?, $group[, $project]]`
aggregate that mixes accumulator families into per-family routed
request parts. The r11/r12 shadow bugs ($size outputs named like other
accumulators) were found by the ADVICE pass, not by tests — this fuzz
makes the whole projection surface machine-checked: random $group
accumulator menus crossed with random trailing $project documents
(valid $size consumption, passthroughs, shadows, self-shadows,
collisions, _id exclusion, unsupported specs, dangling sets) must
either refuse with PipelineError or return a decomposition whose
invariants hold. Any OTHER exception, or an inconsistent
decomposition, is a bug.

Invariants of a successful parse:

- out_cols are unique and non-empty;
- the part measure names are exactly out_cols, each computed once
  (the AMBIGUOUS_REFERENCE class: two parts emitting one name);
- every $addToSet in the group is consumed by some count_distinct
  part (raw distinct sets are never a routable answer);
- without a trailing $project, out_cols is the $group accumulator
  order verbatim;
- no out_col collides with a dimension name.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from mongo_olap_spark.plans.pipeline_compiler import (
    PipelineError,
    aggregate_requests_from_pipeline,
)

# accumulator menu: two sets, three plains, one exact special
SETS = {"u": {"$addToSet": "$user_id"}, "v": {"$addToSet": "$session_id"}}
SET_PATHS = {"u": "user_id", "v": "session_id"}
PLAINS = {"n": {"$sum": 1}, "s": {"$sum": "$value"},
          "lo": {"$min": "$value"}}
SPECIALS = {"med": {"$median": {"input": "$value"}}}

#: projection value menu — valid and invalid shapes
PROJ_VALUES = [
    {"$size": "$u"}, {"$size": "$v"}, {"$size": "$w"},  # w: no such set
    {"$size": "value"},                                  # not a path
    1, True, 0, False,
    {"$literal": 7},                                     # unsupported
]

#: projection output-name pool: accumulator names, the dimension name,
#: and fresh names
PROJ_NAMES = ["n", "s", "lo", "med", "u", "v", "et", "x", "y"]

accs_st = st.fixed_dictionaries(
    {},
    optional={**{k: st.just(v) for k, v in SETS.items()},
              **{k: st.just(v) for k, v in PLAINS.items()},
              **{k: st.just(v) for k, v in SPECIALS.items()}},
)

proj_st = st.none() | st.dictionaries(
    st.sampled_from(PROJ_NAMES),
    st.sampled_from(PROJ_VALUES),
    min_size=0, max_size=5,
).flatmap(lambda d: st.sampled_from([d, {**d, "_id": 0}, {**d, "_id": 1}]))


@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(accs=accs_st, proj=proj_st)
def test_mixed_parse_refuses_or_decomposes_consistently(accs, proj):
    pipeline = [{"$group": {"_id": {"et": "$event_type"}, **accs}}]
    if proj is not None:
        pipeline.append({"$project": proj})
    try:
        _f, dims, parts, out_cols = aggregate_requests_from_pipeline(pipeline)
    except PipelineError:
        return  # refusal IS the contract — the caller keeps its fallback

    # -- decomposition invariants -----------------------------------------
    assert out_cols, "empty decomposition returned instead of refusing"
    assert len(set(out_cols)) == len(out_cols), f"dup out_cols {out_cols}"
    dim_names = {d.name for d in dims}
    assert not dim_names & set(out_cols)

    produced = []
    for part in parts:
        if part[0] == "plain":
            produced.extend(m[0] for m in part[1])
        else:
            assert part[0] == "special"
            produced.append(part[1][0])
    assert sorted(produced) == sorted(set(produced)), (
        f"a name is computed by two parts (AMBIGUOUS_REFERENCE class): "
        f"{produced}")
    assert sorted(produced) == sorted(out_cols), (
        f"parts produce {sorted(produced)} but out_cols is {out_cols}")

    # every group $addToSet must be consumed as a count_distinct
    group_sets = {k for k in accs if k in SETS}
    cd_paths = [p[1][2] for p in parts
                if p[0] == "special" and p[1][1] == "count_distinct"]
    for sname in group_sets:
        assert SET_PATHS[sname] in cd_paths, (
            f"set {sname!r} survived the parse without a $size consumer")

    # no projection → presentation order is the $group's own
    if proj is None:
        assert out_cols == list(accs)
