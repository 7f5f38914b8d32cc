"""Physical-plan guarantees — the properties that matter at 100 TB.

These tests read .explain() output so a future change can't silently add a
shuffle, block filter pushdown, or let a pushed-down filter re-run the parse.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from timberline_spark import route
from timberline_spark.enrich import enrich_turns
from timberline_spark.parse import parse_turns
from timberline_spark.transcripts import load_transcripts

from .conftest import SF_TINY


def _plan(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def stage_table(spark):
    out = tempfile.mkdtemp(prefix="tl_plan_")
    df = route.classify_turns(
        enrich_turns(spark, parse_turns(load_transcripts(spark, SF_TINY)))
    )
    df.write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_sink_filters_push_to_parquet_scan(spark, stage_table):
    stage = spark.read.parquet(stage_table)
    plan = _plan(route.errors_sink(stage))
    assert "PushedFilters" in plan
    assert "In(level, [CRITICAL,ERROR]" in plan
    # projection pruned: raw text is not in the sink, must not be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema
    # no shuffle anywhere in a sink projection+filter
    assert "Exchange" not in plan


def test_enrichment_default_is_join_free(spark):
    """The literal-map enrichment is a pure projection: no joins, no
    exchanges of any kind — the dictionaries ride inside the row
    expression (optimization round 7; its values are pinned by the
    enrich_dims, level_info_default and route_* oracles)."""
    df = enrich_turns(spark, parse_turns(load_transcripts(spark, SF_TINY)))
    plan = _plan(df, "simple")
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan


def test_dedup_aggregates_map_side(spark, stage_table):
    """dedup must be a partial+final aggregate (map-side combine shrinks the
    shuffle to one row per distinct message per task), never a Window (which
    would shuffle every row and sort whole partitions).

    Spark picks SortAggregate for min(struct) — fine: partial aggregation is
    what cuts shuffle volume; the within-partition sort is on the combined
    (deduped) rows."""
    from timberline_spark import aggregate as agg

    stage = spark.read.parquet(stage_table)
    plan = _plan(agg.dedup_turns(route.kept_turns(stage)), "simple")
    assert "partial_min" in plan  # map-side combine present
    assert "Window" not in plan


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _parse_json_filters(plan) -> int:
    """Count the Filter nodes of an optimized plan whose condition runs the
    parse's from_json over the raw text. That from_json is the only one
    with a struct schema (parse.JSON_SCHEMA, pruned to the fields used);
    in a pushed-down filter its input is no longer the ``text`` attribute
    but the inlined expression that derives the text. The expression walk
    descends only into subtrees that print a from_json."""

    def runs_parse(e) -> bool:
        if e.nodeName() == "JsonToStructs":
            return e.dataType().typeName() == "struct"
        return any(
            runs_parse(c)
            for c in _seq(e.children())
            if "from_json" in c.toString()
        )

    hits, stack = 0, [plan]
    while stack:
        node = stack.pop()
        stack += _seq(node.children())
        if node.nodeName() == "Filter":
            cond = node.condition()
            hits += "from_json" in cond.toString() and runs_parse(cond)
    return hits


def test_parse_plan_has_single_from_json(spark):
    """The JSON parse must run ONCE per row: the parsed struct is a shared
    non-cheap alias (`_j`), which CollapseProject keeps un-inlined. Round 2
    shipped 25 JsonToStructs copies in this plan (one per extracted field) —
    a measured 2x parse-stage cost at sf0.1.

    And no filter may re-run the parse: enrich.py's ``_fence`` stops the
    optimizer from pushing a filter on a classify-derived column below the
    parse projections, which would inline the from_json + regex tree into
    the predicate (measured: kept_rows 1.15 s -> 28 s at sf0.1 without the
    fence). common_labels' from_json of the dedup representative's
    ``labels_json`` (a map schema) restores labels; it does not parse the
    raw text and so does not count."""
    from timberline_spark import queries as Q

    for name in ("parse", "kept_rows", "route_errors", "route_tool_calls"):
        df = Q.PIPELINE_QUERIES[name](spark, SF_TINY)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json") == 1, (name, plan.count("from_json"))
    bad = {}
    for name, fn in Q.PIPELINE_QUERIES.items():
        plan = fn(spark, SF_TINY)._jdf.queryExecution().optimizedPlan()
        if n := _parse_json_filters(plan):
            bad[name] = n
    assert not bad, bad


def test_cosine_pairs_candidate_join_is_equi(spark):
    """The near-dup candidate generator must plan an EQUI join on the
    capped dim index — never a cartesian/nested-loop product (the
    quadratic-in-N shape the df cap exists to prevent)."""
    from timberline_spark.extras.similarity import cosine_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(cosine_pairs(docs, 0.9), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_classify_is_single_stage_no_shuffle(spark, stage_table):
    """parse+enrich+validate+route is map-only over the input scan: the
    whole per-row path is one stage, with no exchange of any kind."""
    tr = spark.read.parquet(stage_table).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    df = route.classify_turns(enrich_turns(spark, parse_turns(tr)))
    assert "Exchange" not in _plan(df, "simple")
