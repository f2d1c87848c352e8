"""Physical-plan assertions (SURVEY.md §4): the optimizer choices the
engine depends on must hold, not just the results — a plan regression
(lost broadcast, lost pushdown, Python UDF creeping into a relational
query) is a 100-TB incident even when local results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_alias_join_broadcasts(spark):
    plan = _plan(em.queries()["r1_join_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark):
    df = em.queries()["r8_agg_q1"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    """A 2-column projection must not scan all lineitem columns."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_relational_queries_stay_jvm_side(spark):
    """No Python UDF in any purely relational oracle query — they must
    run inside whole-stage codegen."""
    qs = em.queries()
    for name in ["r1_join_broadcast", "r2_join_shuffle", "r8_agg_q1",
                 "r13_window_rank", "f6_math", "ta_quality", "ann_cosine_topk"]:
        df = qs[name](spark, SF)
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
    # codegen spans only appear in the finalized AQE plan — materialize
    # one representative query and check the executed plan has them
    df = qs["r8_agg_q1"](spark, SF)
    df.collect()
    final = _plan(df)
    assert "WholeStageCodegen" in final or "*(" in final, final[:500]


def test_textops_have_no_interpreted_hof(spark):
    """quality_score/lang_id must not contain lambda HOFs (filter/
    aggregate with a lambda is CodegenFallback — an interpreted serial
    hotspot in a per-document path; VERDICT round 2 'What's wrong' #1)."""
    for name in ["ta_quality", "ta_lang_id"]:
        plan = _plan(em.queries()[name](spark, SF)).lower()
        assert "lambdafunction" not in plan, name
        assert "arrayfilter" not in plan, name


def test_udf_derived_explode_evaluates_udf_once(spark, monkeypatch):
    """Generate over a pandas-UDF-derived array must not trigger
    InferFiltersFromGenerate's inferred size/notnull filter — Catalyst
    pushes it below the repartition and re-evaluates the UDF a second
    time on the raw scan (measured 2x the dedup stage wall; fixed with
    outer explodes). The regression marker is a Filter over the UDF
    result: `size(pythonUDF...)` in the plan. dd_near_dup_verified runs
    with the driver-path doc bound at 0: its driver path returns a
    LocalRelation plan with no explode, which would pass vacuously."""
    from canonicity_spark import cache, link, similarity

    monkeypatch.setattr(similarity, "DRIVER_NEAR_DUP_MAX_DOCS", 0)

    surfaces = spark.createDataFrame(
        [(f"surface {i}", 1) for i in range(20)], ["norm_surface", "freq"]
    )
    alias_dict = spark.createDataFrame(
        [(f"alias {i}", f"E{i}", 1.0) for i in range(20)],
        ["alias", "entity_id", "prior"],
    )
    plans = [_plan(link.lsh_candidates(surfaces, alias_dict))]
    cache.unpin_all(owner="link")
    qs = em.queries()
    for name in ["dd_near_dup_verified", "dd_simhash_pairs", "dd_embedding_near_dup"]:
        plans.append(_plan(qs[name](spark, SF)))
    for plan in plans:
        assert "size(pythonUDF" not in plan, plan[:800]
    # the near-dup plan really is the distributed banded self-join
    assert "Generate" in plans[1] and "pythonUDF" in plans[1], plans[1][:800]


def test_triple_resolution_broadcasts_surface_map(spark, docs, alias_dict):
    """M1's surface-map joins must be broadcast at vocabulary scale."""
    from canonicity_spark import canonicalize, extract, link, materialize

    mentions, raw = extract.run(docs)
    links = link.run(mentions, alias_dict)
    _, smap = canonicalize.run(links)
    plan = _plan(materialize.run(raw, smap))
    assert plan.count("BroadcastHashJoin") >= 2


def test_salted_agg_is_two_phase(spark):
    from canonicity_spark.canonicalize import _salted_min

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["k", "v"])
    plan = _optimized(_salted_min(df, "k", "v", 8))
    # two Aggregate nodes on distinct groupings (k+salt, then k)
    assert plan.count("Aggregate") >= 2 and "_salt" in plan