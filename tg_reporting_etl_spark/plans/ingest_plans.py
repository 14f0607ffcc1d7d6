"""Catalog row for the incremental corpus-ingest dedup lifecycle
(functions/ingest.py): two batches land against an empty persistent
digest index, a replayed batch must add nothing, and the final index
state is oracle-checked against the first-seen-wins closed form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tg_reporting_etl_spark.plans.catalog import register
from tg_reporting_etl_spark.sources.readers import load_table

_INGEST_ORACLE = """WITH d AS (
  SELECT doc_id, md5(text) AS digest FROM documents
),
b1 AS (
  SELECT digest, min(doc_id) AS first_doc_id
  FROM d WHERE doc_id % 3 <> 2 GROUP BY 1
),
all_d AS (SELECT digest, min(doc_id) AS first_doc_id FROM d GROUP BY 1)
SELECT digest, 's' || substr(digest, 1, 1) AS shard, first_doc_id,
       CAST(1 AS INTEGER) AS first_batch
FROM b1
UNION ALL
SELECT a.digest, 's' || substr(a.digest, 1, 1) AS shard, a.first_doc_id,
       CAST(2 AS INTEGER) AS first_batch
FROM all_d a LEFT JOIN b1 ON a.digest = b1.digest
WHERE b1.digest IS NULL"""


# Compaction lifecycle's batch split is keyed on CONTENT, not doc_id:
# an id-keyed split breaks down on a dup-heavy corpus (the sf1.0 probe's
# replicated texts put every digest into batch 1 via SOME replica, so
# batch 2 appended nothing and there was no small-file problem to
# compact).  Splitting on a digest hex char guarantees batch 2 carries
# never-seen digests — ~1/4 of every shard's digest space — whatever
# the duplication structure.
_COMPACT_ORACLE = """WITH d AS (
  SELECT doc_id, md5(text) AS digest FROM documents
),
b1 AS (
  SELECT digest, min(doc_id) AS first_doc_id
  FROM d WHERE substr(digest, 2, 1) < 'c' GROUP BY 1
),
all_d AS (SELECT digest, min(doc_id) AS first_doc_id FROM d GROUP BY 1)
SELECT digest, 's' || substr(digest, 1, 1) AS shard, first_doc_id,
       CAST(1 AS INTEGER) AS first_batch
FROM b1
UNION ALL
SELECT a.digest, 's' || substr(a.digest, 1, 1) AS shard, a.first_doc_id,
       CAST(2 AS INTEGER) AS first_batch
FROM all_d a LEFT JOIN b1 ON a.digest = b1.digest
WHERE b1.digest IS NULL"""


@register(
    "corpus_index_compaction_lifecycle",
    _COMPACT_ORACLE,
    survey_ids="maintenance: small-file compaction of the ingest index is content-invariant (sources/writers.py compact_table)",
    kind="orch",
)
def q_corpus_index_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle: two ingest batches append one file per shard each,
    then :func:`compact_table` rewrites every shard to ONE file — the
    maintenance pass that keeps index scan cost tracking data volume,
    not append count, as thousands of batches accumulate.  In-query
    invariants: compaction really reduced the file count to <= one per
    shard, and the oracle hash proves the rewrite changed NO content
    (first-seen-wins closed form over a content-keyed batch split —
    dup-robust, see _COMPACT_ORACLE comment).  File counts come from
    input_file_name() over the index itself — bounded by shard count,
    engine-side, no directory walking."""
    import shutil
    import tempfile

    from tg_reporting_etl_spark.functions import ingest as ig
    from tg_reporting_etl_spark.sources.writers import compact_table

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="compact_idx_")
    path = f"{tmp}/digest_index"
    try:
        ig.ingest_batch(
            spark, path, docs.filter(F.substring(F.md5("text"), 2, 1) < "c"), 1
        )
        ig.ingest_batch(spark, path, docs, 2)
        files_before = (
            spark.read.parquet(path).select(F.input_file_name()).distinct().count()
        )
        compact_table(spark, path, partition_cols=["shard"])
        # ONE read job: contents + provenance file ride the same scan,
        # and the layout invariant is checked on the (already driver-
        # sized, by catalog contract) result frame
        pdf = (
            spark.read.parquet(path)
            .select(
                "digest",
                F.col("shard").cast("string").alias("shard"),
                "first_doc_id",
                F.col("first_batch").cast("int").alias("first_batch"),
                F.input_file_name().alias("_file"),
            )
            .toPandas()
        )
        files_after, n_shards = pdf["_file"].nunique(), pdf["shard"].nunique()
        if not (files_after <= n_shards < files_before):
            raise AssertionError(
                f"compaction layout: {files_before} files -> {files_after} "
                f"over {n_shards} shards"
            )
        pdf = pdf.drop(columns=["_file"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "digest string, shard string, first_doc_id long, first_batch int"
    )


@register(
    "corpus_ingest_dedup_lifecycle",
    _INGEST_ORACLE,
    survey_ids="LLM: incremental ingest dedup vs persistent digest index (batch twin of streaming exact dedup); T1 S2",
    kind="orch",
)
def q_corpus_ingest_dedup_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle: ingest batch 1 (doc_id % 3 != 2), then batch 2 (the
    full corpus — every batch-1 doc is a replayed duplicate), then
    REPLAY batch 2 (must add 0).  Returns the final index contents;
    the oracle is the first-seen-wins closed form, so a dup leaking
    into batch 2, a lost insert, or a replaced first_batch all
    hash-mismatch.  The replay invariant is also asserted in-query."""
    import shutil
    import tempfile

    from tg_reporting_etl_spark.functions import ingest as ig

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="ingest_idx_")
    path = f"{tmp}/digest_index"
    try:
        ig.ingest_batch(spark, path, docs.filter(F.col("doc_id") % 3 != 2), 1)
        ig.ingest_batch(spark, path, docs, 2)
        n_replay = ig.ingest_batch(spark, path, docs, 3)
        if n_replay != 0:
            raise AssertionError(f"replayed batch added {n_replay} digests")
        pdf = (
            spark.read.parquet(path)
            .select(
                "digest",
                F.col("shard").cast("string").alias("shard"),
                "first_doc_id",
                F.col("first_batch").cast("int").alias("first_batch"),
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # pandas input -> Arrow LocalRelation: a row-list would parallelize
    # across defaultParallelism and cost 32 tasks per downstream count
    return spark.createDataFrame(
        pdf, "digest string, shard string, first_doc_id long, first_batch int"
    )
