"""``tools/dump_plans.stable_plan``: two dumps of the same plans are
byte-identical, whatever ids the driver allocated before them."""

from __future__ import annotations

from tools.dump_plans import stable_plan

from bigquery_postgres_events_etl_spark.plans.audit import formatted_plan
from bigquery_postgres_events_etl_spark.registry import all_queries

# corpus_datasheet's Expand in the two orders Spark prints it in (the
# distinct groups follow expression-id hashing), trimmed to the lines
# the order touches
_LANG_FIRST = """\
Arguments: [[null, null, 0, length(text#304)], [lang#305, null, 1, null], [null, source#306, 2, null]], [lang#360, source#361, gid#359, length(text)#362]
Keys [3]: [lang#360, source#361, gid#359]
Arguments: hashpartitioning(lang#360, source#361, gid#359, 32), ENSURE_REQUIREMENTS, [plan_id=494]
Functions [3]: [partial_first(count(1)#364L, true) FILTER (WHERE (gid#359 = 0)), partial_count(source#361) FILTER (WHERE (gid#359 = 2)), partial_count(lang#360) FILTER (WHERE (gid#359 = 1))]
"""
_SOURCE_FIRST = """\
Arguments: [[null, null, 0, length(text#407)], [source#409, null, 1, null], [null, lang#408, 2, null]], [source#463, lang#464, gid#462, length(text)#465]
Keys [3]: [source#463, lang#464, gid#462]
Arguments: hashpartitioning(source#463, lang#464, gid#462, 32), ENSURE_REQUIREMENTS, [plan_id=624]
Functions [3]: [partial_first(count(1)#467L, true) FILTER (WHERE (gid#462 = 0)), partial_count(source#463) FILTER (WHERE (gid#462 = 1)), partial_count(lang#464) FILTER (WHERE (gid#462 = 2))]
"""


def test_expand_group_order_is_canonical():
    got = stable_plan(_SOURCE_FIRST)

    assert got == stable_plan(_LANG_FIRST)
    assert "[lang#N, null, 1, null], [null, source#N, 2, null]" in got
    assert "partial_count(lang#N) FILTER (WHERE (gid#N = 1))" in got
    assert "hashpartitioning(lang#N, source#N, gid#N, 32)" in got
    assert "[plan_id=N]" in got and "#4" not in got


def test_corpus_datasheet_dump_ignores_earlier_expression_ids(spark, sf_dir):
    """The dump is the same after 0, 1, 2 and 3 throwaway expression ids."""
    new_id = spark._jvm.org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId
    build = all_queries()["corpus_datasheet"]
    dumps = []
    for k in range(4):
        for _ in range(k):
            new_id()
        spark.catalog.clearCache()
        dumps.append(stable_plan(formatted_plan(build(spark, sf_dir))))

    assert dumps[1:] == dumps[:1] * 3
    assert "Expand" in dumps[0]
