"""Round-14 optimization pins: restructured operators must keep
bit-identical results (the oracle proves end-to-end equality; these
pin the changed INTERNALS directly so a future edit can't drift
half of a twin)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def test_fused_logit_kernel_matches_jvm_scorer(spark):
    """The Arrow fused-scan kernel (qualrules.make_fused_logit_kernel,
    r14) must produce the exact integer logit multiset the JVM
    explode→broadcast-weight scorer computes — same md5 feature hash,
    same bucket weights, same BIGINT sum."""
    from projet_etl_spark.operators.qualrules import _per_doc_rules_and_logit
    from projet_etl_spark.operators.quality_model import score_documents
    from projet_etl_spark.sources.tables import load_table

    fused = sorted(
        r["logit_milli"]
        for r in _per_doc_rules_and_logit(spark, SF_SMALL)
        .select("logit_milli")
        .collect()
    )
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    jvm = sorted(
        r["logit_milli"]
        for r in score_documents(docs).select("logit_milli").collect()
    )
    assert fused == jvm
    assert len(fused) > 0


def test_score_documents_arrow_twin_is_row_identical(spark):
    """score_documents_arrow (r14) must reproduce score_documents
    row for row — same doc set, same exact integer logit, same IEEE
    score division, same keep verdict (consumers that switched to the
    Arrow shape rely on this equality, and the oracle re-proves it
    end to end). A null-text document is dropped by both twins."""
    from projet_etl_spark.operators.quality_model import (
        score_documents,
        score_documents_arrow,
    )
    from projet_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    docs = docs.unionByName(
        spark.createDataFrame([(-1, None)], "doc_id long, text string")
    )
    jvm = sorted(tuple(r) for r in score_documents(docs).collect())
    arrow = sorted(tuple(r) for r in score_documents_arrow(docs).collect())
    assert jvm == arrow
    assert len(jvm) > 0


def test_pagerank_iterations_have_no_eager_barrier(spark):
    """r14 removed the per-iteration eager localCheckpoint: building
    the supplier-pagerank plan must leave the final frame LAZY (the
    returned plan still contains the iteration joins — they execute
    at action time, not during query construction)."""
    from projet_etl_spark.operators.graph import q_supplier_pagerank

    df = q_supplier_pagerank(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # with eager checkpoints the optimized plan bottomed out in a bare
    # LogicalRDD scan of pre-computed ranks and contained no Join at
    # the rank grain; the lazy chain keeps the joins in the plan
    assert "Join" in plan
