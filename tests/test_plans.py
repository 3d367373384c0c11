"""Physical-plan regression tests: the plans the engine is supposed to
produce (scan pushdown, broadcast dimension joins, whole-stage codegen,
no accidental cartesian products) — SURVEY.md §4's checklist."""

from __future__ import annotations

from axonops_schema_registry_spark.queries import SPEC_BY_NAME


def _plan(spark, sf_dir, name: str) -> str:
    return SPEC_BY_NAME[name].build(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, sf_dir, name: str) -> str:
    df = SPEC_BY_NAME[name].build(spark, sf_dir)
    return df.sparkSession._jsparkSession.sessionState().executePlan(
        df._jdf.queryExecution().logical(),
        df._jdf.queryExecution().mode()).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def test_q1_scan_pushdown(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "q1_pricing_summary")
    # the shipdate filter reaches the parquet scan…
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan
    # …and the scan reads only the 7 needed columns, not all 11
    readschema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in readschema and "l_partkey" not in readschema


def test_q1_wholestage_codegen(spark, sf_dir):
    df = SPEC_BY_NAME["q1_pricing_summary"].build(spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen stages in the simple form
    assert "*(1)" in plan
    assert "partial_sum" in plan  # map-side partial aggregation present
    assert "AQEShuffleRead coalesced" in plan  # AQE runtime coalescing on


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # customer, supplier, nation
    assert "CartesianProduct" not in plan


def test_s1_prefix_pushdown(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "s1_prefix_listing")
    assert "StringStartsWith(p_name,small )" in plan


def test_point_lookup_is_broadcast_not_collect(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s2_point_lookup")
    assert "BroadcastHashJoin" in plan


def test_no_cartesian_in_similarity(spark, sf_dir):
    for name in ("e3_similarity_selfjoin", "dd2_minhash_lsh_dedup",
                 "f7_fuzzy_match"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_registration_uses_sort_merge_or_hash_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "r4_registration_batch")
    assert "CartesianProduct" not in plan

def test_facade_point_reads_shuffle_only_where_needed(spark, tmp_path):
    """Registry point reads run the fewest exchanges their answer needs:
    ``latest(s)`` is a per-partition top-1 (none), ``history(s)`` moves
    the subject's rows into one partition (one, no range sort),
    ``statistics()`` and ``subjects()`` aggregate once (one each)."""
    import re

    from axonops_schema_registry_spark.api import RegistryAnalytics
    from axonops_schema_registry_spark.registry.model import (
        fixture_schemas,
    )

    path = str(tmp_path / "corpus.parquet")
    fixture_schemas(spark).repartition(3).write.parquet(path)
    reg = RegistryAnalytics(spark, spark.read.parquet(path))

    def exchanges(df) -> list[str]:
        df.collect()  # materialize so AQE finalizes the physical plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        return re.findall(r"\w*Exchange [^\n]*", final)

    assert exchanges(reg.latest("user-value")) == []
    (hist,) = exchanges(reg.history("user-value"))
    assert hist.startswith("Exchange SinglePartition")
    assert len(exchanges(reg.statistics())) == 1
    assert len(exchanges(reg.subjects())) == 1
