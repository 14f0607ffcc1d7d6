"""Catalog-level contracts of the streaming wave-sim rows."""

from __future__ import annotations

import pytest


def test_streaming_rows_are_orchestration():
    """Every streaming twin is booked in the bench's orchestration
    bucket: its cost is micro-batch scheduling and state commits on a
    fixed batch count, not operator throughput."""
    from tg_reporting_etl_spark.plans.catalog import query_kinds

    kinds = query_kinds()
    streaming = [n for n in kinds if n.startswith("streaming_")]
    assert len(streaming) == 13
    assert {n: kinds[n] for n in streaming} == dict.fromkeys(streaming, "orch")
    assert kinds["doc_ngram_jaccard_exact"] == "adversarial"


def test_register_rejects_unknown_kind():
    from tg_reporting_etl_spark.plans.catalog import register

    with pytest.raises(ValueError, match="kind"):
        register("never_registered", None, survey_ids="", kind="streaming")


def test_cms_row_counts_negative_doc_ids(spark, tmp_path):
    """A negative odd doc_id must reach the counters: the oracle counts
    every non-NULL doc, so a wave expression that stages it to a wave
    never released (Spark's ``%``) silently drops its tokens."""
    from tg_reporting_etl_spark.plans.streaming_plans import q_streaming_cms_counters

    docs = [(1, "a b"), (2, "c"), (-1, "d e f"), (-2, "g"), (-3, "h i")]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    n_tokens = sum(len(text.split(" ")) for _, text in docs)
    per_row = q_streaming_cms_counters(spark, str(tmp_path)).groupBy("d").sum("c").collect()
    assert per_row and {r["sum(c)"] for r in per_row} == {n_tokens}
