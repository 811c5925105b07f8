"""Routing verdicts of ``aggregate_requests_from_pipeline``, the one
parse behind ``OlapEngine.query_pipeline``, ``explain`` and
``advise_cubes``: for each pipeline, the router requests it routes to
(with their post transforms, the output columns and the presentation
step), or ``"compile"`` when it is not routable and compiles over the
source instead.

The expected values were recorded from the three-parser cascade this
parse replaced (plain ``cube_spec_from_pipeline``, lone-special and
mixed parsers, tried in that order). The cases marked below differ on
purpose.
"""

from __future__ import annotations

import pytest

from mongo_olap_spark.plans.pipeline_compiler import (
    PipelineError,
    aggregate_requests_from_pipeline,
)

G = {"et": "$event_type"}
MED = {"$median": {"input": "$value"}}


def grp(**accs):
    return [{"$group": {"_id": G, **accs}}]


PIPES = {
    # -- every family alone
    "count": grp(n={"$sum": 1}),
    "count_float": grp(n={"$sum": 1.0}),
    "sum": grp(s={"$sum": "$value"}),
    "avg": grp(a={"$avg": "$value"}),
    "min": grp(lo={"$min": "$value"}),
    "max": grp(hi={"$max": "$value"}),
    "std_pop": grp(sd={"$stdDevPop": "$value"}),
    "std_samp": grp(sd={"$stdDevSamp": "$value"}),
    "median": grp(m=MED),
    "median_bare": grp(m={"$median": "$value"}),
    "pct_one": grp(p={"$percentile": {"input": "$value", "p": [0.25]}}),
    "pct_multi": grp(p={"$percentile": {"input": "$value", "p": [0.25, 0.75]}}),
    "min_n": grp(lo={"$minN": {"input": "$value", "n": 2}}),
    "max_n": grp(hi={"$maxN": {"input": "$value", "n": 3}}),
    "top_asc": grp(w={"$topN": {"n": 3, "sortBy": {"value": 1}, "output": "$user_id"}}),
    "top_desc": grp(w={"$topN": {"n": 3, "sortBy": {"value": -1}, "output": "$user_id"}}),
    "bottom_asc": grp(w={"$bottomN": {"n": 3, "sortBy": {"value": 1}, "output": "$user_id"}}),
    "bottom_desc": grp(w={"$bottomN": {"n": 3, "sortBy": {"value": -1}, "output": "$user_id"}}),
    "count_distinct": grp(us={"$addToSet": "$user_id"})
    + [{"$project": {"_id": 1, "nu": {"$size": "$us"}}}],
    "count_distinct_self": grp(us={"$addToSet": "$user_id"})
    + [{"$project": {"us": {"$size": "$us"}}}],
    # -- plain multi and mixed
    "plain_multi": grp(n={"$sum": 1}, s={"$sum": "$value"}, a={"$avg": "$value"},
                       sd={"$stdDevSamp": "$value"}),
    "mixed_plain_special": grp(med=MED, n={"$sum": 1}, lo={"$min": "$value"}),
    "mixed_two_specials": [{"$match": {"value": {"$gt": 10}}}]
    + grp(med=MED, hi3={"$maxN": {"input": "$value", "n": 3}}),
    "mixed_set_project": grp(users={"$addToSet": "$user_id"}, n={"$sum": 1},
                             dropped={"$max": "$value"})
    + [{"$project": {"nu": {"$size": "$users"}, "n": 1}}],
    "mixed_shadow_plain": grp(u={"$addToSet": "$user_id"}, n={"$sum": 1})
    + [{"$project": {"n": {"$size": "$u"}}}],
    "mixed_shadow_special": grp(u={"$addToSet": "$user_id"}, med=MED, n={"$sum": 1})
    + [{"$project": {"med": {"$size": "$u"}, "n": 1}}],
    "mixed_fallback_shape": [{"$match": {"value": {"$gt": 20}}}]
    + grp(us={"$addToSet": "$user_id"}, hi={"$maxN": {"input": "$value", "n": 3}},
          n={"$sum": 1})
    + [{"$project": {"nu": {"$size": "$us"}, "hi": 1, "n": 1}}],
    "mixed_pct_top": grp(ps={"$percentile": {"input": "$value", "p": [0.25, 0.75]}},
                         best={"$topN": {"n": 2, "sortBy": {"value": -1},
                                         "output": "$user_id"}},
                         n={"$sum": 1}),
    # -- $sortByCount / $count
    "sort_by_count": [{"$sortByCount": "$event_type"}],
    "match_sort_by_count": [{"$match": {"value": {"$gt": 5}}},
                            {"$sortByCount": "$user_id"}],
    "sort_by_count_expr": [{"$sortByCount": {"$toUpper": "$event_type"}}],
    "count_stage": [{"$count": "total"}],
    "match_count_stage": [{"$match": {"event_type": {"$in": ["click", "view"]}}},
                          {"$count": "n"}],
    "count_after_group": grp(n={"$sum": 1}) + [{"$count": "groups"}],
    "count_empty_alias": [{"$count": ""}],
    # -- _id: null and _id: {}
    "null_id_special": [{"$group": {"_id": None, "lo": {"$minN": {"input": "$value", "n": 2}}}}],
    "null_id_median": [{"$group": {"_id": None, "m": MED}}],
    "null_id_count_distinct": [{"$group": {"_id": None, "us": {"$addToSet": "$user_id"}}},
                               {"$project": {"nu": {"$size": "$us"}}}],
    "null_id_plain": [{"$group": {"_id": None, "n": {"$sum": 1}}}],
    "null_id_mixed": [{"$group": {"_id": None, "m": MED, "n": {"$sum": 1}}}],
    "null_id_two_specials": [{"$group": {"_id": None, "m": MED,
                                         "hi": {"$maxN": {"input": "$value", "n": 2}}}}],
    "missing_id_special": [{"$group": {"m": MED}}],
    "empty_id_plain": [{"$group": {"_id": {}, "n": {"$sum": 1}, "s": {"$sum": "$value"}}}],
    "empty_id_special": [{"$group": {"_id": {}, "m": MED}}],
    "empty_id_mixed": [{"$group": {"_id": {}, "m": MED, "n": {"$sum": 1}}}],
    "date_trunc_dim": [{"$match": {"value": {"$gte": 0}}},
                       {"$group": {"_id": {"day": {"$dateTrunc": {"date": "$ts", "unit": "day"}},
                                           "et": "$event_type"},
                                   "n": {"$sum": 1}, "m": MED}}],
    "date_trunc_binsize": [{"$group": {"_id": {"day": {"$dateTrunc": {
        "date": "$ts", "unit": "day", "binSize": 2}}}, "n": {"$sum": 1}}}],
    # -- $project variants
    "plain_project": grp(n={"$sum": 1}) + [{"$project": {"n": 1}}],
    "special_project": grp(m=MED) + [{"$project": {"m": 1}}],
    "set_project_id0": grp(us={"$addToSet": "$user_id"})
    + [{"$project": {"_id": 0, "nu": {"$size": "$us"}}}],
    "set_project_extra": grp(us={"$addToSet": "$user_id"})
    + [{"$project": {"nu": {"$size": "$us"}, "extra": "$foo"}}],
    "set_project_wrong_field": grp(us={"$addToSet": "$user_id"})
    + [{"$project": {"nu": {"$size": "$other"}}}],
    "set_project_self_pass": grp(us={"$addToSet": "$user_id"})
    + [{"$project": {"nu": {"$size": "$us"}, "us": 1}}],
    "raw_set": grp(us={"$addToSet": "$user_id"}),
    # -- refusals of the special parser
    "pct_empty": grp(p={"$percentile": {"input": "$value", "p": []}}),
    "pct_nonliteral": grp(p={"$percentile": {"input": "$value", "p": ["$q"]}}),
    "top_multikey": grp(w={"$topN": {"n": 3, "sortBy": {"value": 1, "ts": 1},
                                     "output": "$user_id"}}),
    "top_output_is_key": grp(w={"$topN": {"n": 3, "sortBy": {"value": 1},
                                          "output": "$value"}}),
    "push": grp(v={"$push": "$value"}),
    "min_n_zero": grp(lo={"$minN": {"input": "$value", "n": 0}}),
    # -- refusals of the mixed parser
    "mixed_raw_set": [{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                                  "n": {"$sum": 1}}}],
    "mixed_id0": [{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                              "n": {"$sum": 1}}},
                  {"$project": {"_id": 0, "nu": {"$size": "$u"}, "n": 1}}],
    "mixed_size_nonset": [{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                                      "n": {"$sum": 1}}},
                          {"$project": {"nu": {"$size": "$n"}, "u": {"$size": "$u"}}}],
    "mixed_set_twice": [{"$group": {"_id": {"et": "$e"}, "u": {"$addToSet": "$v"},
                                    "n": {"$sum": 1}}},
                        {"$project": {"a": {"$size": "$u"}, "b": {"$size": "$u"}}}],
    "mixed_sum2": [{"$group": {"_id": {"et": "$e"}, "m": {"$median": {"input": "$v"}},
                               "x": {"$sum": 2}}}],
    "mixed_push": [{"$group": {"_id": {"et": "$e"}, "m": {"$median": {"input": "$v"}},
                               "x": {"$push": "$v"}}}],
    "mixed_dim_collision": [{"$group": {"_id": {"et": "$e"},
                                        "et": {"$median": {"input": "$v"}},
                                        "n": {"$sum": 1}}}],
    "mixed_shadow_other_set": [{"$group": {"_id": {"et": "$e"}, "a": {"$addToSet": "$x"},
                                           "b": {"$addToSet": "$y"}, "n": {"$sum": 1}}},
                               {"$project": {"a": {"$size": "$b"}, "n": 1}}],
    # -- the literal $sum bug
    "sum_two": grp(n={"$sum": 2}),
    "sum_zero": grp(n={"$sum": 0}),
    "sum_bool": grp(n={"$sum": True}),
    # -- not routable shapes
    "group_then_sort": grp(n={"$sum": 1}) + [{"$sort": {"n": -1}}],
    "two_groups": grp(n={"$sum": 1}) + grp(n={"$sum": 1}),
    "match_after_group": grp(n={"$sum": 1}) + [{"$match": {"n": {"$gt": 1}}}],
    "project_first": [{"$project": {"event_type": 1}}] + grp(n={"$sum": 1}),
    "match_expr": [{"$match": {"$expr": {"$gt": ["$value", 1]}}}] + grp(n={"$sum": 1}),
    "match_in_ne": [{"$match": {"event_type": {"$in": ["a", "b"]}, "user_id": {"$ne": None}}}]
    + grp(n={"$sum": 1}),
    "id_scalar": [{"$group": {"_id": "$event_type", "n": {"$sum": 1}}}],
    "sum_needs_path": grp(s={"$sum": "value"}),
    # no accumulator; an accumulator named like a dimension
    "no_accumulators": grp(),
    "plain_dim_collision": grp(et={"$sum": 1}),
    # output names that are not SQL identifiers
    "acc_not_identifier": grp(**{"my-n": {"$sum": 1}}),
    "special_not_identifier": grp(**{"p 50": MED}),
    "dim_not_identifier": [{"$group": {"_id": {"e-t": "$event_type"}, "n": {"$sum": 1}}}],
    "size_not_identifier": grp(us={"$addToSet": "$user_id"})
    + [{"$project": {"n-u": {"$size": "$us"}}}],
}

#: (filter_sql, dims as (name, path, granularity), requests as
#: (measures, post), out_cols, presentation step) or "compile"
EXPECTED = {
    "count": (None,
              (('et', 'event_type', None),),
              (((('n', 'count'),), None),),
              ('n',),
              None),
    "count_float": (None,
                    (('et', 'event_type', None),),
                    (((('n', 'count'),), None),),
                    ('n',),
                    None),
    "sum": (None,
            (('et', 'event_type', None),),
            (((('s', 'sum', 'value'),), None),),
            ('s',),
            None),
    "avg": (None,
            (('et', 'event_type', None),),
            (((('a', 'avg', 'value'),), None),),
            ('a',),
            None),
    "min": (None,
            (('et', 'event_type', None),),
            (((('lo', 'min', 'value'),), None),),
            ('lo',),
            None),
    "max": (None,
            (('et', 'event_type', None),),
            (((('hi', 'max', 'value'),), None),),
            ('hi',),
            None),
    "std_pop": (None,
                (('et', 'event_type', None),),
                (((('sd', 'stddev_pop', 'value'),), None),),
                ('sd',),
                None),
    "std_samp": (None,
                 (('et', 'event_type', None),),
                 (((('sd', 'stddev_samp', 'value'),), None),),
                 ('sd',),
                 None),
    "median": (None,
               (('et', 'event_type', None),),
               (((('m', 'quantile_exact', 'value', 0.5),), None),),
               ('m',),
               None),
    "median_bare": (None,
                    (('et', 'event_type', None),),
                    (((('m', 'quantile_exact', 'value', 0.5),), None),),
                    ('m',),
                    None),
    "pct_one": (None,
                (('et', 'event_type', None),),
                (((('p', 'quantile_exact', 'value', 0.25),), 'array_wrap'),),
                ('p',),
                None),
    "pct_multi": (None,
                  (('et', 'event_type', None),),
                  (((('p', 'quantile_exact', 'value', (0.25, 0.75)),), None),),
                  ('p',),
                  None),
    "min_n": (None,
              (('et', 'event_type', None),),
              (((('lo', 'min_n', 'value', 2),), None),),
              ('lo',),
              None),
    "max_n": (None,
              (('et', 'event_type', None),),
              (((('hi', 'max_n', 'value', 3),), None),),
              ('hi',),
              None),
    "top_asc": (None,
                (('et', 'event_type', None),),
                (((('w', 'top_by', 'value', 'user_id', 3),), None),),
                ('w',),
                None),
    "top_desc": (None,
                 (('et', 'event_type', None),),
                 (((('w', 'bottom_by', 'value', 'user_id', 3, True),), None),),
                 ('w',),
                 None),
    "bottom_asc": (None,
                   (('et', 'event_type', None),),
                   (((('w', 'bottom_by', 'value', 'user_id', 3),), None),),
                   ('w',),
                   None),
    "bottom_desc": (None,
                    (('et', 'event_type', None),),
                    (((('w', 'top_by', 'value', 'user_id', 3, True),), None),),
                    ('w',),
                    None),
    "count_distinct": (None,
                       (('et', 'event_type', None),),
                       (((('nu', 'count_distinct', 'user_id'),), None),),
                       ('nu',),
                       None),
    "count_distinct_self": (None,
                            (('et', 'event_type', None),),
                            (((('us', 'count_distinct', 'user_id'),), None),),
                            ('us',),
                            None),
    "plain_multi": (None,
                    (('et', 'event_type', None),),
                    (((('n', 'count'),
                       ('s', 'sum', 'value'),
                       ('a', 'avg', 'value'),
                       ('sd', 'stddev_samp', 'value')),
                      None),),
                    ('n', 's', 'a', 'sd'),
                    None),
    "mixed_plain_special": (None,
                            (('et', 'event_type', None),),
                            (((('n', 'count'), ('lo', 'min', 'value')), None),
                             ((('med', 'quantile_exact', 'value', 0.5),), None)),
                            ('med', 'n', 'lo'),
                            None),
    "mixed_two_specials": ('(value > 10)',
                           (('et', 'event_type', None),),
                           (((('med', 'quantile_exact', 'value', 0.5),), None),
                            ((('hi3', 'max_n', 'value', 3),), None)),
                           ('med', 'hi3'),
                           None),
    "mixed_set_project": (None,
                          (('et', 'event_type', None),),
                          (((('n', 'count'),), None),
                           ((('nu', 'count_distinct', 'user_id'),), None)),
                          ('nu', 'n'),
                          None),
    "mixed_shadow_plain": (None,
                           (('et', 'event_type', None),),
                           (((('n', 'count_distinct', 'user_id'),), None),),
                           ('n',),
                           None),
    "mixed_shadow_special": (None,
                             (('et', 'event_type', None),),
                             (((('n', 'count'),), None),
                              ((('med', 'count_distinct', 'user_id'),), None)),
                             ('med', 'n'),
                             None),
    "mixed_fallback_shape": ('(value > 20)',
                             (('et', 'event_type', None),),
                             (((('n', 'count'),), None),
                              ((('hi', 'max_n', 'value', 3),), None),
                              ((('nu', 'count_distinct', 'user_id'),), None)),
                             ('nu', 'hi', 'n'),
                             None),
    "mixed_pct_top": (None,
                      (('et', 'event_type', None),),
                      (((('n', 'count'),), None),
                       ((('ps', 'quantile_exact', 'value', (0.25, 0.75)),), None),
                       ((('best', 'bottom_by', 'value', 'user_id', 2, True),),
                        None)),
                      ('ps', 'best', 'n'),
                      None),
    "sort_by_count": (None,
                      (('__sbc', 'event_type', None),),
                      (((('count', 'count'),), None),),
                      ('count',),
                      ('present', 'sortByCount')),
    "match_sort_by_count": ('(value > 5)',
                            (('__sbc', 'user_id', None),),
                            (((('count', 'count'),), None),),
                            ('count',),
                            ('present', 'sortByCount')),
    "sort_by_count_expr": 'compile',
    "count_stage": (None,
                    (),
                    (((('__cnt', 'count'),), None),),
                    ('__cnt',),
                    ('present', 'count', 'total')),
    "match_count_stage": ("(event_type IN ('click', 'view'))",
                          (),
                          (((('__cnt', 'count'),), None),),
                          ('__cnt',),
                          ('present', 'count', 'n')),
    "count_after_group": 'compile',
    "count_empty_alias": 'compile',
    "null_id_special": (None,
                        (),
                        (((('lo', 'min_n', 'value', 2),), None),),
                        ('lo',),
                        None),
    "null_id_median": (None,
                       (),
                       (((('m', 'quantile_exact', 'value', 0.5),), None),),
                       ('m',),
                       None),
    "null_id_count_distinct": (None,
                               (),
                               (((('nu', 'count_distinct', 'user_id'),), None),),
                               ('nu',),
                               None),
    "null_id_plain": 'compile',
    "null_id_mixed": 'compile',
    "null_id_two_specials": 'compile',
    "missing_id_special": (None,
                           (),
                           (((('m', 'quantile_exact', 'value', 0.5),), None),),
                           ('m',),
                           None),
    "empty_id_plain": (None,
                       (),
                       (((('n', 'count'), ('s', 'sum', 'value')), None),),
                       ('n', 's'),
                       None),
    "empty_id_special": (None,
                         (),
                         (((('m', 'quantile_exact', 'value', 0.5),), None),),
                         ('m',),
                         None),
    "empty_id_mixed": (None,
                       (),
                       (((('n', 'count'),), None),
                        ((('m', 'quantile_exact', 'value', 0.5),), None)),
                       ('m', 'n'),
                       None),
    "date_trunc_dim": ('(value >= 0)',
                       (('day', 'ts', 'day'), ('et', 'event_type', None)),
                       (((('n', 'count'),), None),
                        ((('m', 'quantile_exact', 'value', 0.5),), None)),
                       ('n', 'm'),
                       None),
    "date_trunc_binsize": 'compile',
    "plain_project": 'compile',
    "special_project": 'compile',
    "set_project_id0": 'compile',
    "set_project_extra": 'compile',
    "set_project_wrong_field": 'compile',
    "set_project_self_pass": 'compile',
    "raw_set": 'compile',
    "pct_empty": 'compile',
    "pct_nonliteral": 'compile',
    "top_multikey": 'compile',
    "top_output_is_key": 'compile',
    "push": 'compile',
    "min_n_zero": 'compile',
    "mixed_raw_set": 'compile',
    "mixed_id0": 'compile',
    "mixed_size_nonset": 'compile',
    "mixed_set_twice": 'compile',
    "mixed_sum2": 'compile',
    "mixed_push": 'compile',
    "mixed_dim_collision": 'compile',
    "mixed_shadow_other_set": 'compile',
    # changed: {$sum: c} is c × the row count, so only c = 1 is a
    # count; the cascade routed any literal as count (a wrong answer)
    "sum_two": 'compile',
    "sum_zero": 'compile',
    "sum_bool": 'compile',
    "group_then_sort": 'compile',
    "two_groups": 'compile',
    "match_after_group": 'compile',
    "project_first": 'compile',
    "match_expr": 'compile',
    "match_in_ne": ("(event_type IN ('a', 'b')) AND (user_id IS NOT NULL)",
                    (('et', 'event_type', None),),
                    (((('n', 'count'),), None),),
                    ('n',),
                    None),
    "id_scalar": 'compile',
    "sum_needs_path": 'compile',
    # changed: the cascade raised ValueError from CubeSpec for these two
    "no_accumulators": 'compile',
    "plain_dim_collision": 'compile',
    # changed: the router's source fallback raised ValueError from
    # Measure for a non-identifier name; the parse refuses it now
    "acc_not_identifier": 'compile',
    "special_not_identifier": 'compile',
    "dim_not_identifier": 'compile',
    "size_not_identifier": 'compile',
}


def verdict(pipeline):
    try:
        filter_sql, dims, parts, out_cols = (
            aggregate_requests_from_pipeline(pipeline))
    except PipelineError:
        return "compile"
    present = parts[-1] if parts[-1][0] == "present" else None
    requests = tuple(
        (p[1], None) if p[0] == "plain" else ((p[1],), p[2])
        for p in parts if p[0] != "present"
    )
    return (filter_sql, tuple((d.name, d.path, d.granularity) for d in dims),
            requests, tuple(out_cols), present)


def test_table_covers_every_pipeline():
    assert set(PIPES) == set(EXPECTED)


@pytest.mark.parametrize("name", sorted(PIPES))
def test_routing_verdict(name):
    assert verdict(PIPES[name]) == EXPECTED[name]


# ---------------------------------------------------------------------------
# serving through the one parse
# ---------------------------------------------------------------------------

def test_literal_sum_other_than_one_is_not_a_count(spark, tmp_path):
    """{$sum: 2} adds 2 per row: it compiles instead of routing as a
    row count, and it defines no count cube."""
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.plans.pipeline_compiler import (
        compile_pipeline,
        cube_spec_from_pipeline,
    )

    src = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "et string, v double")
    pipe = [{"$group": {"_id": {"et": "$et"}, "n": {"$sum": 2}}}]
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    got = {r["_id"]["et"]: r["n"]
           for r in engine.query_pipeline("t", pipe, source_df=src).collect()}
    want = {r["_id"]["et"]: r["n"]
            for r in compile_pipeline(src, pipe).collect()}
    assert got == want == {"a": 4, "b": 2}
    with pytest.raises(PipelineError, match=r"must be \{\$sum: 1\}"):
        cube_spec_from_pipeline("c", "t", pipe)
    with pytest.raises(PipelineError, match=r"must be \{\$sum: 1\}"):
        engine.create_cube_from_pipeline("c", "t", pipe, src)


def test_non_identifier_output_name_compiles(spark, tmp_path):
    """Mongo allows ``"my-n"`` as an output name; routed answers name
    their columns as SQL identifiers, so the pipeline compiles over the
    source instead of failing in the router's source fallback."""
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.plans.pipeline_compiler import compile_pipeline

    src = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "et string, v double")
    pipes = (
        [{"$group": {"_id": {"et": "$et"}, "my-n": {"$sum": 1}}}],
        [{"$group": {"_id": {"e-t": "$et"}, "n": {"$sum": 1}}}],
    )
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    for with_cube in (False, True):
        if with_cube:  # a count cube that could serve the request
            engine.create_cube_from_pipeline("c", "t", [
                {"$group": {"_id": {"et": "$et"}, "n": {"$sum": 1}}}], src)
        for pipe in pipes:
            got = engine.query_pipeline("t", pipe, source_df=src).collect()
            want = compile_pipeline(src, pipe).collect()
            assert sorted(map(str, got)) == sorted(map(str, want))
            assert len(got) == 2


def test_query_pipeline_routes_each_part_once(spark, tmp_path, monkeypatch):
    from mongo_olap_spark.engine import OlapEngine
    from mongo_olap_spark.plans.router import CubeRouter

    src = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "et string, v double")
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    engine.create_cube_from_pipeline("c", "t", [
        {"$group": {"_id": {"et": "$et"}, "n": {"$sum": 1}}}], src)
    routed = []
    route = CubeRouter.route

    def counting_route(self, req):
        routed.append(req)
        return route(self, req)

    monkeypatch.setattr(CubeRouter, "route", counting_route)
    plain = engine.query_pipeline("t", [
        {"$group": {"_id": {"et": "$et"}, "n": {"$sum": 1}}}])
    assert len(routed) == 1
    assert sorted(tuple(r) for r in plain.collect()) == [("a", 2), ("b", 1)]
    routed.clear()
    mixed = engine.query_pipeline("t", [
        {"$group": {"_id": {"et": "$et"}, "n": {"$sum": 1},
                    "m": {"$median": {"input": "$v"}},
                    "hi": {"$maxN": {"input": "$v", "n": 2}}}}], source_df=src)
    assert len(routed) == 3  # plain, median and maxN parts
    assert mixed.columns == ["et", "n", "m", "hi"]
    assert sorted(tuple(r) for r in mixed.collect()) == [
        ("a", 2, 1.0, [2.0, 1.0]), ("b", 1, 3.0, [3.0])]


def test_explain_reports_parts_of_every_routed_shape(spark, tmp_path):
    from mongo_olap_spark.engine import OlapEngine

    src = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "et string, v double")
    engine = OlapEngine(spark, str(tmp_path / "olap"))
    engine.create_cube_from_pipeline("c", "t", [
        {"$group": {"_id": {"et": "$et"}, "n": {"$sum": 1}}}], src)
    route = engine.explain("t", [{"$sortByCount": "$et"}])["route"]
    assert route["target"] == "cube" and route["cube"] == "c"
    assert route["cubes"] == ["c"]
    assert route["parts"] == [{"family": "plain", "measures": ["count"],
                               "cube": "c", "reason": route["reason"]}]
    assert "$sortByCount" in route["rewrite"]
    route = engine.explain(
        "t", [{"$group": {"_id": {"et": "$et"}, "m": MED}}])["route"]
    assert route["target"] == "source" and route["cubes"] == []
    [part] = route["parts"]
    assert part["family"] == "quantile_exact" and part["cube"] is None
    # the router says why the one cube was refused
    assert part["reason"].startswith("no cube serves the request (c: ")
    route = engine.explain("t", [{"$group": {"_id": "$et"}}])["route"]
    assert route["target"] == "source" and route["parts"] == []
