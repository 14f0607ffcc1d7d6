"""Structured Streaming twins of batch catalog rows (SURVEY §2.10 and
the LLM streaming layer).

Each row feeds a fixture table through a REAL streaming query (file
source, micro-batches, cross-batch state, a sink) and returns the
sink's final contents as a batch frame, so the DuckDB oracle checks the
streaming answer against the batch closed form.  Every row's output is
order-insensitive by construction, so whatever batches the file source
forms, the final table matches the oracle.

All rows run on one harness, ``run_wave_sim``.  It stages the input in
one scan, split into numbered waves by the row's wave expression
(``_stage_waves``), then releases waves into the file source's
directory between triggers.  A wave plan is a sequence of steps; a step
releases one wave (an int) or several at once (a tuple), then waits
until the query has processed everything released.  The rows use four
plans:

- ``(0, 1)``, the default: one wave per step;
- ``((0, 1, 2),)``: every wave lands before the first trigger and
  ``maxFilesPerTrigger`` splits the backlog into several micro-batches;
- ``(0, 1, 2, 3)``: the update-mode rows, whose third wave is LATE data
  the watermark must still accept;
- any plan plus ``restart_before=i``: when
  ``SPARK_GRAFT_STREAM_RESTART=1``, the query is stopped after step
  ``i - 1`` and a new query resumes from the same checkpoint.

A row supplies only what differs: its input frame, its wave
expression, ``start(stream, tmp)`` to start the sink, ``collect(tmp)``
to read the result, and the output schema.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType

from tg_reporting_etl_spark.adapters import oracle as orc
from tg_reporting_etl_spark.adapters import testdata as td
from tg_reporting_etl_spark.plans.catalog import EVENTS_GTE, EVENTS_LT, register
from tg_reporting_etl_spark.plans.util import round_doubles
from tg_reporting_etl_spark.sources.readers import load_table


@contextmanager
def _stream_state_scope(spark, parts: int = 4):
    """Pin the STATE-STORE partition count for a micro-batch simulation.

    Structured Streaming fixes its state partitioning from
    ``spark.sql.shuffle.partitions`` at query start; at the fixture's
    micro-batch sizes the per-batch cost is state-store file commits x
    partitions x stateful operators, not data — 32 partitions spend
    ~4x the wall-clock of 4 on identical output (streaming_wau
    13.1 s -> 3.4 s).  On a real cluster this knob is sized to executor
    count x state volume, exactly as here: partitions should match the
    state's scale, not default to the batch-join width.  Session-scoped,
    restored in ``finally``.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _stage_waves(df, wave_col, staging: str, src: str):
    """One-pass wave staging for a micro-batch arrival simulation.

    Arrival order is about WHEN files land in the source dir, not when
    their bytes were computed, so every wave is staged in ONE scan
    (``partitionBy`` on the wave id — no shuffle, one job) instead of
    one filtered write per wave.  Returns ``release(k)``, which hard-links
    wave k's staged files into ``src`` (O(files), ~1 ms) under fresh
    names stamped with strictly increasing mtimes, so release order is
    the file source's timestamp order.  A wave with no rows stages no
    dir and releases as a no-op; rows whose wave id is NULL are never
    released.  ``os.utime`` on a hard link stamps the shared inode, so a
    wave released twice re-stamps its earlier links too.
    """
    import glob
    import time

    df.withColumn("_wave", wave_col).write.partitionBy("_wave").parquet(staging)
    os.makedirs(src, exist_ok=True)
    t0 = time.time()
    seq = [0]

    def release(k: int) -> None:
        seq[0] += 1
        stamp = t0 + seq[0]  # strictly increasing, 1 s apart: release order == mtime order
        for i, f in enumerate(sorted(glob.glob(f"{staging}/_wave={int(k)}/*.parquet"))):
            dst = f"{src}/w{seq[0]}_{int(k)}_{i}_{os.path.basename(f)}"
            os.link(f, dst)
            os.utime(dst, (stamp, stamp))

    return release


def _overlap_waves(key):
    """Wave expression for the two OVERLAPPING waves ``key%3 in {0,1}``
    then ``{1,2}``, staged as waves 0 and 1.

    ``explode`` duplicates the shared group's rows at staging time
    (group 0 -> wave [0], group 1 -> [0, 1], group 2 -> [1]), so each
    wave is its own file group, released once, while the source is
    still scanned once.  Staged bytes are 4/3 of the input.  ``pmod``
    rather than ``%``: Spark's ``%`` keeps the dividend's sign, so a
    negative id would stage to group -1 and never be released.  A NULL
    key yields a NULL array and ``explode`` emits no row.
    """
    g = F.pmod(key, F.lit(3))
    return F.explode(
        F.when(g == 0, F.array(F.lit(0)))
        .when(g == 1, F.array(F.lit(0), F.lit(1)))
        .when(g == 2, F.array(F.lit(1)))
    )


def run_wave_sim(
    spark: SparkSession,
    df: DataFrame,
    wave_col,
    start,
    collect,
    schema: str,
    *,
    waves=(0, 1),
    parts: int = 4,
    max_files: int | None = None,
    restart_before: int | None = None,
) -> DataFrame:
    """Run ``df`` through a streaming query in waves; return the result.

    ``df`` is staged by ``wave_col`` (see ``_stage_waves``) and read back
    as a parquet file stream with ``df``'s own schema.  The first step
    of ``waves`` is released before ``start(stream, tmp)`` starts the
    query; every later step is released into the running query.  Each
    step is followed by ``processAllAvailable``.  With
    ``SPARK_GRAFT_STREAM_RESTART=1`` and ``restart_before=i``, the query
    is stopped before step i and ``start`` is called again on the same
    ``tmp`` (so the same checkpoint).  ``collect(tmp)`` is read after
    the last step; its columns are selected by name and cast to
    ``schema`` before the pandas hand-off.  ``tmp`` is a scratch
    directory removed on exit, and a memory sink's view is dropped.
    Staging runs at the session's width; the query and ``collect`` run
    inside the ``parts``-wide state scope.
    """
    import pandas as pd

    restart = restart_before is not None and os.environ.get("SPARK_GRAFT_STREAM_RESTART") == "1"
    out = DataType.fromDDL(schema)
    tmp = tempfile.mkdtemp(prefix="wave_sim_")
    src = f"{tmp}/src"
    try:
        release = _stage_waves(df, wave_col, f"{tmp}/staging", src)
        reader = spark.readStream.schema(df.drop("_wave").schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))

        def step(i):
            for k in waves[i] if isinstance(waves[i], tuple) else (waves[i],):
                release(k)

        with _stream_state_scope(spark, parts):
            step(0)
            q = start(reader.parquet(src), tmp)
            try:
                q.processAllAvailable()
                for i in range(1, len(waves)):
                    if restart and i == restart_before:
                        q.stop()  # kill; its state now lives only in the checkpoint
                        q = start(reader.parquet(src), tmp)
                    step(i)
                    q.processAllAvailable()
                # by name: createDataFrame(pdf, schema) below maps positionally
                pdf = collect(tmp).select(*[F.col(f.name).cast(f.dataType) for f in out.fields]).toPandas()
            finally:
                q.stop()
                if q.name:  # only memory sinks are named: the name is their view
                    spark.catalog.dropTempView(q.name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # A nullable integer column with NULLs comes back from toPandas as
    # float64/NaN, which the non-Arrow createDataFrame verifier rejects
    # for an integer type (a vanilla session runs without Arrow).
    for f in out.fields:
        if isinstance(f.dataType, IntegralType) and pdf[f.name].dtype.kind == "f":
            pdf[f.name] = pd.Series(
                [None if pd.isna(v) else int(v) for v in pdf[f.name]], index=pdf.index, dtype=object
            )
    # pandas -> Arrow LocalRelation (a row list would parallelize to 32 tasks)
    return spark.createDataFrame(pdf, out)


def _ts(s: str):
    return F.lit(s).cast("timestamp")


def _month_halves():
    """Two time-split waves (first half of the month, then the rest).
    Two whens and no otherwise: a NULL ts lands in neither wave."""
    split = _ts("2024-01-16 00:00:00")
    return F.when(F.col("ts") < split, 0).when(F.col("ts") >= split, 1)


# The partitioned merge sink's derived date-key columns (update-mode rows).
_DATE_KEYS_SQL = """,
       CAST(year(start_time) * 10000 + month(start_time) * 100 + day(start_time) AS INT) AS summary_date,
       CAST(hour(start_time) AS INT) AS hours,
       CAST(minute(start_time) AS INT) AS mins"""
_DATE_KEYS_SCHEMA = ", summary_date int, hours int, mins int"

_T5_SCHEMA = (
    "platform string, site_code string, player_name string, country string, "
    "trans_in_amount double, trans_out_amount double, trans_in_count long, "
    "trans_out_count long, trans_out_lost_amount double, start_time timestamp"
)
_P5_SCHEMA = (
    "platform string, site_code string, game_code string, player_name string,"
    " country string, b_count long, b_amount double, w_amount double,"
    " fee_amount double, profit_amount double, refund_amount double,"
    " normal_amount double, bonus_amount double, free_amount double,"
    " jp_amount double, valid_amount double, cancel_amount double,"
    " p_before_amount double, p_after_amount double, tg_after_amount double,"
    " ratio double, rtp double, is_risky int, start_time timestamp"
)


# The stream's emitted rows are exactly one per distinct digest seen
# (first-seen wins; later copies dropped by cross-batch state), so the
# order-insensitive projection equals DISTINCT over the whole corpus.
_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT md5(text) AS digest
FROM documents
WHERE text IS NOT NULL
"""


@register(
    "streaming_exact_dedup_index",
    _STREAM_DEDUP_ORACLE,
    survey_ids="ST1 ST6 + LLM streaming exact dedup (streaming/pipeline.py streaming_exact_dedup)",
    kind="orch",
)
def q_streaming_exact_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed the documents corpus through ``streaming_exact_dedup`` as
    TWO overlapping micro-batch waves (doc_id%3 in {0,1}, then {1,2} —
    the overlap guarantees cross-batch duplicates at every sf), collect
    the append-mode memory sink, and return the emitted digest set.

    Exercises end-to-end: file streaming source, watermarked
    ``dropDuplicatesWithinWatermark`` state carried ACROSS micro-
    batches, and an append-mode sink — then proves the streaming
    answer equals the batch closed form via the DuckDB oracle.
    """
    from tg_reporting_etl_spark.streaming.pipeline import (
        start_memory_sink,
        streaming_exact_dedup,
    )

    base = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id",
        "text",
        # constant event time: the 1h watermark never expires state
        # within the run, so dedup is corpus-wide like the batch twin
        _ts("2024-01-05 10:00:00").alias("ingest_time"),
    )
    sink = "streaming_exact_dedup_index_sink"
    return run_wave_sim(
        spark,
        base,
        _overlap_waves(F.col("doc_id")),
        lambda stream, tmp: start_memory_sink(streaming_exact_dedup(stream), sink, mode="append"),
        lambda tmp: spark.table(sink),
        "digest string",
    )


# ---------------------------------------------------------- trans 5min parity

# The report spine's streaming twin (ST1): identical measure
# expressions to the batch operator, aggregated BY THE STREAMING
# RUNTIME across several micro-batches — the final state table must
# equal the batch closed form over the union of all waves.  Oracle =
# the same t5 aggregation the batch tier uses, without the tier's
# derived date-key columns (the streaming plan emits the raw window);
# the update-mode row adds the merge sink's date keys.
def _t5_oracle(date_keys: str = "") -> str:
    return orc.with_ctes(
        f"""SELECT platform, site_code, player_name, country,
       ROUND(trans_in_amount, 6) + 0.0 AS trans_in_amount,
       ROUND(trans_out_amount, 6) + 0.0 AS trans_out_amount,
       trans_in_count, trans_out_count,
       ROUND(trans_out_lost_amount, 6) + 0.0 AS trans_out_lost_amount,
       start_time{date_keys}
FROM (
  SELECT platform, site_code, player_name, country,
         time_bucket(INTERVAL '5 minutes', trade_time) AS start_time,
         SUM(CASE WHEN trade_type = 'IN' THEN value ELSE 0.0 END) AS trans_in_amount,
         SUM(CASE WHEN trade_type = 'OUT' THEN value ELSE 0.0 END) AS trans_out_amount,
         CAST(SUM(CASE WHEN trade_type = 'IN' THEN 1 ELSE 0 END) AS BIGINT) AS trans_in_count,
         CAST(SUM(CASE WHEN trade_type = 'OUT' THEN 1 ELSE 0 END) AS BIGINT) AS trans_out_count,
         SUM(CASE WHEN trade_type = 'OUT' THEN before_value ELSE 0.0 END)
           - SUM(CASE WHEN trade_type = 'OUT' THEN after_value ELSE 0.0 END)
           - SUM(CASE WHEN trade_type = 'OUT' THEN value ELSE 0.0 END) AS trans_out_lost_amount
  FROM player_value_log
  WHERE trade_status = 'SUCCESS'
    AND trade_time >= TIMESTAMP '{EVENTS_GTE}' AND trade_time < TIMESTAMP '{EVENTS_LT}'
  GROUP BY 1, 2, 3, 4, 5
)""",
        "player_value_log",
    )


_STREAM_T5_ORACLE = _t5_oracle()


def _month_pvl(spark: SparkSession, sf_dir: str) -> DataFrame:
    pvl = td.player_value_log(spark, sf_dir)
    return pvl.filter((F.col("trade_time") >= _ts(EVENTS_GTE)) & (F.col("trade_time") < _ts(EVENTS_LT)))


@register(
    "streaming_trans_summary_5min",
    _STREAM_T5_ORACLE,
    survey_ids="ST1 ST2 A1 A2 A3 (streaming/pipeline.py streaming_trans_summary_5min)",
    kind="orch",
)
def q_streaming_trans_summary_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed the wallet log through the STREAMING 5-min aggregation in
    three time-ordered waves (days 1-10 / 11-20 / rest of the month),
    all landed before the first trigger and consumed 8 files per
    micro-batch in timestamp order; complete-mode state must merge the
    batches' partial aggregates into exactly the batch answer.
    Cross-batch partial-agg merge is the semantics under test: every
    window that spans a batch boundary is first emitted partial and
    then revised.  The 4-partition state scope matters here because
    complete mode re-emits every window per trigger."""
    from tg_reporting_etl_spark.streaming.pipeline import (
        start_memory_sink,
        streaming_trans_summary_5min,
    )

    wave_id = (
        F.when(F.col("trade_time") < _ts("2024-01-11 00:00:00"), 0)
        .when(F.col("trade_time") < _ts("2024-01-21 00:00:00"), 1)
        .otherwise(2)
    )
    sink = "streaming_trans_summary_5min_sink"
    return run_wave_sim(
        spark,
        _month_pvl(spark, sf_dir),
        wave_id,
        lambda stream, tmp: start_memory_sink(streaming_trans_summary_5min(stream), sink, mode="complete"),
        lambda tmp: round_doubles(spark.table(sink)),
        _T5_SCHEMA,
        waves=((0, 1, 2),),
        max_files=8,
    )


# ------------------------------------------- trans 5min DEPLOYMENT shape

# The complete-mode row above proves cross-batch partial-agg MERGE
# (state = every window ever seen — fine in a harness, unbounded at
# 100 TB).  This row is the DEPLOYMENT shape the reference's ST2+ST3
# semantics want at scale: UPDATE output mode (only changed windows
# re-emitted), a WATERMARK bounding window state to the late-data
# horizon, and the partitioned idempotent merge sink (ST6) as the
# durable table.  The oracle is the same full-month closed form PLUS
# the sink's partition-key derivation — if the watermark wrongly
# dropped the late wave, or the merge grain wiped same-window rows for
# keys absent from a batch, the hash breaks.
_STREAM_T5_UPDATE_ORACLE = _t5_oracle(_DATE_KEYS_SQL)


@register(
    "streaming_trans_summary_update",
    _STREAM_T5_UPDATE_ORACLE,
    survey_ids="ST2 ST3 ST6 (streaming/pipeline.py streaming_trans_summary_5min + start_partitioned_sink, update mode + watermark)",
    kind="orch",
)
def q_streaming_trans_summary_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the 5-min trans aggregation in UPDATE mode with a 3-day
    watermark through the partitioned merge sink, with a LATE wave:

    - wave 1: days 1-10; wave 2: days 11-20 EXCEPT day 19's OUT rows
      (held back); wave 3: the held-back OUT rows — more than a day
      late in event time but inside the 3-day horizon, so the runtime
      must RE-aggregate their windows (day-19 windows were already
      emitted IN-only and merged to the sink; the revision overwrites
      them at the (keys, start_time) grain); wave 4: rest of the month.
    - update mode re-emits ONLY changed windows per batch; the sink
      merges each batch at TRANS_5MIN_GRAIN into a
      (summary_date, hours, mins)-partitioned table — the reference's
      delete-before-insert keys, touched partitions only.

    The final durable table must hash-match the batch closed form over
    the whole month: a watermark mis-drop of the late wave or a merge
    at the wrong grain both break the hash.
    """
    from tg_reporting_etl_spark.streaming.pipeline import (
        TRANS_5MIN_GRAIN,
        start_partitioned_sink,
        streaming_trans_summary_5min,
    )

    straggler = (
        (F.col("trade_time") >= _ts("2024-01-19 00:00:00"))
        & (F.col("trade_time") < _ts("2024-01-20 00:00:00"))
        & (F.col("trade_type") == "OUT")
    )
    # straggler ⊂ [Jan 19, 20) ⊂ wave 1's range, so it is peeled off first
    wave_id = (
        F.when(straggler, 2)  # LATE: watermark is ~Jan 17 when this lands
        .when(F.col("trade_time") < _ts("2024-01-11 00:00:00"), 0)
        .when(F.col("trade_time") < _ts("2024-01-21 00:00:00"), 1)
        .otherwise(3)
    )

    def start(stream, tmp):
        agg = streaming_trans_summary_5min(stream, watermark="3 days")
        # day-grain directories: each wave's merge rewrites O(days
        # touched) partitions, not O(5-min windows touched) — the
        # deployment grain for a month-span backfill (hours/mins
        # stay as table COLUMNS either way)
        return start_partitioned_sink(
            agg, f"{tmp}/table", f"{tmp}/ckpt", keys=TRANS_5MIN_GRAIN, partition_cols=["summary_date"]
        )

    return run_wave_sim(
        spark,
        _month_pvl(spark, sf_dir),
        wave_id,
        start,
        lambda tmp: round_doubles(spark.read.parquet(f"{tmp}/table")),
        _T5_SCHEMA + _DATE_KEYS_SCHEMA,
        waves=(0, 1, 2, 3),
    )


# ------------------------------------------------- minhash-LSH index parity

def _stream_near_dup_oracle() -> str:
    """Closed form of the incremental MinHash-LSH index: the pairs
    table a run over ANY wave decomposition converges to is exactly
    'band-colliding pairs whose signature agreement >= est_tau' over
    the whole corpus — every pair is reported once its younger doc
    arrives, and merge_into keying makes re-delivery idempotent.  All
    signature math is the md5-salt family the batch oracle already
    mirrors (llm_plans._minhash_oracle)."""
    from tg_reporting_etl_spark.functions import dedup as dd
    from tg_reporting_etl_spark.plans.llm_plans import _H32, _SHINGLES, BANDS, N_HASHES

    r = N_HASHES // BANDS
    mins = ",\n         ".join(
        f"min(xor(h, {dd.salt_constant(i)})) AS m{i}" for i in range(N_HASHES)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, ".format(b=b)
        + " || '-' || ".join(f"CAST(m{b * r + i} AS VARCHAR)" for i in range(r))
        + " AS band_key FROM sig"
        for b in range(BANDS)
    )
    h_expr = _H32.format(s="'mh|' || shingle")
    agree = " + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))
    return f"""WITH {_SHINGLES.strip()},
hashed AS (SELECT doc_id, {h_expr} AS h FROM shingles),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
banded AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, ROUND(({agree}) / {N_HASHES}.0, 6) AS est_jaccard
FROM cands c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
WHERE ({agree}) * 1.0 / {N_HASHES} >= 0.5"""


@register(
    "streaming_minhash_lsh_index",
    _stream_near_dup_oracle(),
    survey_ids="LLM streaming MinHash-LSH near-dup index (streaming/pipeline.py start_near_dup_sink)",
    kind="orch",
)
def q_streaming_minhash_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed the documents corpus through the incremental MinHash-LSH
    index as TWO overlapping micro-batch waves (doc_id%3 in {0,1}, then
    {1,2} — the overlap re-delivers a third of the corpus, proving the
    merge_into idempotency), then return the persistent pairs table.

    Exercises end-to-end: foreachBatch signature computation, the
    persistent band index probed ACROSS batches (a near-dup arriving in
    wave 2 pairs with its wave-1 partner), and idempotent index merges —
    then proves the accumulated pairs equal the batch closed form.

    The row is not scheduling-bound: the foreachBatch body (signature
    compute, probe joins, index appends) is ~90 % of trigger time.  Its
    per-batch frames are a few thousand rows, though, so the 4-partition
    state scope still beats 32-way exchanges (warm row 4.9 -> 3.8 s,
    hash-identical output)."""
    from tg_reporting_etl_spark.streaming.pipeline import start_near_dup_sink

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return run_wave_sim(
        spark,
        docs,
        _overlap_waves(F.col("doc_id")),
        lambda stream, tmp: start_near_dup_sink(stream, f"{tmp}/index", f"{tmp}/ckpt"),
        lambda tmp: round_doubles(spark.read.parquet(f"{tmp}/index/pairs")),
        "doc_a long, doc_b long, est_jaccard double",
    )


# --------------------------------------------- continuous top-k parity

def _continuous_topk_oracle() -> str:
    """The converged continuous top-k state IS the batch brute-force
    closed form: every corpus vector is scored against the standing
    queries in whatever micro-batch delivers it, and top-k(A ∪ B) =
    top-k(top-k(A) ∪ B) under the strict (cos_sim DESC, neighbor_id
    ASC) total order, so arrival order and re-delivery cannot change
    the fixed point.  The SQL is the SAME string the batch
    ``embedding_topk`` row checks against — one ground truth for both
    engines' shapes."""
    from tg_reporting_etl_spark.plans.llm_plans import _BRUTE_TOPK_ORACLE

    return _BRUTE_TOPK_ORACLE


@register(
    "streaming_continuous_topk",
    _continuous_topk_oracle(),
    survey_ids="LLM streaming continuous top-k similarity search (streaming/pipeline.py start_continuous_topk_sink)",
    kind="orch",
)
def q_streaming_continuous_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed the embedding corpus through the continuous top-k sink as
    TWO overlapping micro-batch waves (vec_id%3 in {0,1}, then {1,2} —
    the overlap re-delivers a third of the corpus, proving the
    union+re-rank is idempotent), with the 10 standing query vectors
    registered up front; return the converged per-query top-5 table.

    Exercises end-to-end: file streaming source, per-batch broadcast
    scoring against the registered queries (O(batch x queries), never
    the corpus), and the persistent bounded top-k state carried ACROSS
    batches — a true neighbor arriving in wave 2 must displace a
    wave-1 incumbent.  The state table is |queries| x k rows forever,
    the cluster-scale invariant."""
    from tg_reporting_etl_spark.streaming.pipeline import start_continuous_topk_sink

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return run_wave_sim(
        spark,
        emb,
        _overlap_waves(F.col("vec_id")),
        lambda stream, tmp: start_continuous_topk_sink(stream, queries, f"{tmp}/index", f"{tmp}/ckpt", k=5),
        lambda tmp: spark.read.parquet(f"{tmp}/index/topk"),
        "query_id long, neighbor_id long, cos_sim double, rank int",
    )


# --------------------------------------------- streaming as-of parity

# Same ground truth family as the batch events_asof_attribution row:
# DuckDB's NATIVE ASOF JOIN — an independent first-class implementation
# of the operator, not a rephrasing of our plan.  Null user_ids are
# excluded on BOTH sides: SQL equality never matches NULL keys, while a
# stream groupBy would give the null key its own state group.
_STREAM_ASOF_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL),
c AS (SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
      GROUP BY 1, 2)
SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts, c.event_id AS click_event_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""


@register(
    "streaming_asof_enrich",
    _STREAM_ASOF_ORACLE,
    survey_ids="LLM/ST streaming as-of enrich (streaming/stateful.py streaming_asof_enrich, applyInPandasWithState)",
    kind="orch",
)
def q_streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute every purchase to the user's most recent click at or
    before it — CONTINUOUSLY, via the applyInPandasWithState as-of
    operator, fed as two TIME-SPLIT micro-batch waves (first half of
    the month, then the rest).

    Time-split waves make the streaming emit-once semantics equal the
    batch closed form: a left row's rights are always in its own or an
    earlier wave (r.ts <= l.ts < wave boundary), out-of-order rows
    WITHIN a wave still binary-search the retained state, and the
    retention horizon is set above the fixture's full span so nothing
    prunes.  Exercises: tagged-union stream, per-key state carried
    across batches, inclusive-tie backward search — against DuckDB's
    native ASOF JOIN."""
    from tg_reporting_etl_spark.streaming.pipeline import start_memory_sink
    from tg_reporting_etl_spark.streaming.stateful import streaming_asof_enrich

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    lefts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"),
        "ts",
        F.lit("L").alias("side"),
        F.col("event_id").alias("rid"),
        F.lit(0.0).alias("val"),
    )
    # one right per (key, ts): mirrors the batch row's max(event_id)
    # collapse, so the at-or-before answer is unambiguous in both engines
    rights = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("key"), "ts")
        .agg(F.max("event_id").alias("rid"))
        .select("key", "ts", F.lit("R").alias("side"), "rid", F.col("rid").cast("double").alias("val"))
    )
    sink = "streaming_asof_enrich_sink"

    def start(stream, tmp):
        # retention far above the fixture's one-month span: no pruning,
        # so the emit-once answer equals the unlimited-lookback closed form
        out = streaming_asof_enrich(stream, retention_seconds=10 * 366 * 86400)
        return start_memory_sink(out, sink, mode="append")

    def collect(tmp):
        return spark.table(sink).select(
            F.col("rid").alias("event_id"),
            F.col("key").alias("user_id"),
            "ts",
            F.col("r_ts").alias("click_ts"),
            F.col("r_val").alias("click_event_id"),
        )

    # State width min(16, session): the as-of function is PYTHON compute
    # per key group, so unlike the 4-way rows it still wants worker
    # parallelism (sf0.1: 4p 7.4 s / 16p 5.8 s / 32p 5.9 s); the min()
    # keeps a lower-core run from being pinned wider than its session.
    parts = min(16, int(spark.conf.get("spark.sql.shuffle.partitions", "16")))
    return run_wave_sim(
        spark,
        lefts.unionByName(rights),
        _month_halves(),
        start,
        collect,
        "event_id long, user_id long, ts timestamp, click_ts timestamp, click_event_id long",
        parts=parts,
    )


# ------------------------------------------------- streaming exact WAU


def _streaming_wau_oracle() -> str:
    """Same ground truth as the batch ``trailing_active_users`` row —
    one oracle string for both engines' shapes."""
    from tg_reporting_etl_spark.plans.session_plans import _WAU_ORACLE

    return _WAU_ORACLE


@register(
    "streaming_wau",
    _streaming_wau_oracle(),
    survey_ids="LLM/ST streaming exact trailing-7-day actives (streaming/pipeline.py streaming_trailing_active_users_exact, chained stateful aggs)",
    kind="orch",
)
def q_streaming_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day active users maintained CONTINUOUSLY via
    two chained append-mode stateful aggregations, fed as two
    TIME-SPLIT micro-batch waves (first half of the month, then the
    rest) — the streaming twin of the batch
    ``operators.sessions.trailing_active_users`` closed form.

    Time-split waves keep wave-2 rows above the wave-1 watermark
    (watermark = max(wave-1 ts) - 1 day < split <= every wave-2 ts), so
    no true row is ever late-dropped and the converged append-mode
    output equals the batch fan-out answer.  A single far-future
    SENTINEL row rides in wave 2 purely to push the final watermark
    past every real window: it must flow THROUGH the EventTimeWatermark
    node (an in-stream filter would be pushed below it by Catalyst and
    starve the watermark), so it is filtered out of the sink table when
    collecting — its own windows sit a decade away from the fixture's
    and cannot touch a real report_date.

    Exercises: watermark propagation across chained stateful operators
    (stage-1 window close feeding stage-2 tumbling re-window in the
    same no-data batch cascade), per-(window, user) distinct state, and
    emit-exactly-once append semantics across waves."""
    from tg_reporting_etl_spark.streaming.pipeline import (
        start_memory_sink,
        streaming_trailing_active_users_exact,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    sentinel = spark.createDataFrame(
        [(-1, "2035-01-01 00:00:00")], ["user_id", "s"]
    ).select("user_id", F.col("s").cast("timestamp").alias("ts"))
    sink = "streaming_wau_sink"
    return run_wave_sim(
        spark,
        ev.unionByName(sentinel),
        _month_halves(),
        lambda stream, tmp: start_memory_sink(streaming_trailing_active_users_exact(stream), sink, mode="append"),
        lambda tmp: spark.table(sink).filter(F.col("report_date") < F.lit("2030-01-01").cast("date")),
        "report_date date, n_active long",
    )


# --------------------------------------------- streaming session window

# Gap-session ground truth in lag/cumsum form — the SAME break
# semantics as Spark's session_window state machine: two events merge
# iff gap <= GAP_MIN (verified empirically: [t, t+gap) windows merge at
# exact adjacency, i.e. the break condition is strictly `>`), which is
# also the batch sessionize contract, so one semantics covers engine,
# stream, and oracle.  No session_id in the output: a running counter
# needs a total order over a user's CLOSED sessions, which a stream
# cannot emit-once; (user_id, session_start) is the natural key.
_STREAM_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
ids AS (
  SELECT *, sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(value), 6) AS total_value,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM ids GROUP BY user_id, sid"""


@register(
    "streaming_session_window",
    _STREAM_SESSION_ORACLE,
    survey_ids="LLM/ST streaming gap sessions (streaming/pipeline.py streaming_sessionize, native session_window state merge)",
    kind="orch",
)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions maintained CONTINUOUSLY by Spark's native
    ``session_window`` state machine, fed as two TIME-SPLIT waves —
    the streaming twin of the batch ``sessionize_events`` row.

    The split lands mid-corpus, so sessions STRADDLING the boundary
    prove the cross-batch window merge: wave-1 leaves them un-emitted
    in state (their end + gap is above the wave-1 watermark), wave-2
    extends them, and the sentinel-driven final watermark closes
    everything exactly once.  Same sentinel mechanics and rationale as
    ``streaming_wau`` (must pass through the watermark node; filtered
    out of the sink table when collecting)."""
    from tg_reporting_etl_spark.streaming.pipeline import start_memory_sink, streaming_sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2035-01-01 00:00:00", "view", 0.0)],
        ["user_id", "s", "event_type", "value"],
    ).select("user_id", F.col("s").cast("timestamp").alias("ts"), "event_type", "value")
    sink = "streaming_session_sink"
    return run_wave_sim(
        spark,
        ev.unionByName(sentinel),
        _month_halves(),
        lambda stream, tmp: start_memory_sink(streaming_sessionize(stream), sink, mode="append"),
        lambda tmp: spark.table(sink).filter(F.col("user_id") >= 0),
        "user_id long, session_start timestamp, session_end timestamp,"
        " n_events long, total_value double, n_event_types long",
    )


# --------------------------------------- player_summary 5min parity

# One-year slice of the bet-round log: the player grain is ~7x finer
# than trans (562k windows at sf0.1 over the full lineitem range) and
# this row runs in COMPLETE mode (cross-batch partial-agg revision is
# the semantics under test), so the slice bounds the re-emitted state
# at the trans row's scale while still spanning a wave boundary.
_PLAYER_GTE, _PLAYER_LT = "1996-01-01 00:00:00", "1997-01-01 00:00:00"
_P5U_GTE, _P5U_LT = "1996-06-01 00:00:00", "1996-07-01 00:00:00"


def _stream_p5_oracle(gte: str = _PLAYER_GTE, lt: str = _PLAYER_LT, date_keys: str = "") -> str:
    """Same p5f closed form as the batch tier (player_plans._p5_ctes),
    narrowed to a slice and WITHOUT the tier's derived date-key columns
    — the streaming plan emits the raw window start; the update-mode
    row adds the merge sink's date keys."""
    from tg_reporting_etl_spark.plans.player_plans import _COMMON, _KEYS, _p5_ctes

    return orc.with_ctes(
        f"SELECT {_KEYS}, {_COMMON},\n       start_time{date_keys}\nFROM p5f",
        "player_profit_log",
        "game_sites",
        extra=[_p5_ctes(gte, lt).strip()],
    )


def _ppl_slice(spark: SparkSession, sf_dir: str, gte: str, lt: str) -> DataFrame:
    # watermarks need TIMESTAMP (the adapter yields NTZ from lineitem dates)
    ppl = td.player_profit_log(spark, sf_dir).withColumn("round_time", F.col("round_time").cast("timestamp"))
    return ppl.filter((F.col("round_time") >= _ts(gte)) & (F.col("round_time") < _ts(lt)))


@register(
    "streaming_player_summary_5min",
    _stream_p5_oracle(),
    survey_ids="ST1 ST2 A1 A2 A4 J1 F6 F7 (streaming/pipeline.py streaming_player_summary_5min, pre-agg stream-static dim join)",
    kind="orch",
)
def q_streaming_player_summary_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SECOND report spine (player grain) as a
    streaming plan, fed as two micro-batch waves split by ROW-CONTENT
    HASH (not time): the fixture's round_time is date-granular, so a
    time split would never place two rows of one (keys, window) group
    in different waves — the hash split puts ~half of EVERY multi-row
    group in each wave, so wave 1 emits those groups partial and wave 2
    must revise them (verified empirically: complete mode aggregates
    event times far below the watermark — state is never dropped — so
    out-of-time-order waves are safe here, unlike append mode).

    Also under test beyond the trans twin: the pre-agg STREAM-STATIC
    broadcast dim join (Structured Streaming forbids joins after a
    streaming aggregation, so game_sites joins the event stream BEFORE
    the groupBy and rides through as min(ratio) — exact because ratio
    is functionally dependent on the platform/site group keys), and the
    derived-measure recompute (rtp, revenue split, is_risky) on every
    cross-batch revision."""
    from tg_reporting_etl_spark.streaming.pipeline import (
        start_memory_sink,
        streaming_player_summary_5min,
    )

    sites = td.game_sites(spark, sf_dir)
    # deterministic row-content split: every multi-row group straddles it
    wave1 = F.crc32(F.concat_ws("|", "player_name", "game_code", F.col("bet").cast("string"))) % 2 == 0
    sink = "streaming_player_summary_5min_sink"
    return run_wave_sim(
        spark,
        _ppl_slice(spark, sf_dir, _PLAYER_GTE, _PLAYER_LT),
        F.when(wave1, 0).otherwise(1),
        lambda stream, tmp: start_memory_sink(
            streaming_player_summary_5min(stream, sites), sink, mode="complete"
        ),
        lambda tmp: round_doubles(spark.table(sink)),
        _P5_SCHEMA,
        max_files=8,
    )


# ------------------------------- player spine, deployment shape (update mode)


@register(
    "streaming_player_summary_update",
    _stream_p5_oracle(_P5U_GTE, _P5U_LT, _DATE_KEYS_SQL),
    survey_ids="ST2 ST3 ST6 (streaming/pipeline.py streaming_player_summary_5min + start_partitioned_sink at PLAYER_5MIN_GRAIN, update mode + watermark, derived-measure revision under late data)",
    kind="orch",
)
def q_streaming_player_summary_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLAYER report spine in deployment shape: update mode + 3-day
    watermark + the partitioned merge sink — the player twin of
    ``streaming_trans_summary_update``, covering the surface the trans
    row doesn't: the pre-agg stream-static dim join and the
    derived-measure recompute (rtp, revenue split, is_risky) when a
    LATE wave revises a group AFTER its first emission reached the
    durable table (reference ST2: player_summary_1d.py:32-33).

    Wave plan over one month (round_time is date-granular, so a
    (keys, window) group is a (player, game, day) — and the fixture is
    ~1 row per group, so a content-hash split of one day can NOT
    straddle groups the way the trans row's IN/OUT split does: there
    are zero multi-row June groups at sf0.001, one at sf0.01 and 90 at
    sf0.1):

    - wave 1: days 1-10; wave 2: days 11-18 EXCEPT the two straggler
      sets; wave 3 (LATE — wave 2's max event time is Jun 18, so the
      3-day watermark sits at Jun 15 when it lands, and every
      straggler window is still live): (a) ALL of day 17 — whole
      groups 1+ days late, exercising the watermark acceptance +
      merge-into-existing-partition path at every sf, and (b) the
      rank>=2 fragments of every multi-row group in days 15-18 —
      genuine partial-emission REVISIONS (rtp / p_after / tg_after /
      is_risky recomputed on rows the sink already holds) wherever the
      fixture has the rows (sf0.1/probe only — the smaller sfs have no
      multi-row groups in the span).  The revision surface at ANY
      scale is deterministically pinned by
      tests/test_streaming_restart.py on synthetic multi-row groups
      (which also kills and restarts the query from its checkpoint
      between waves); wave 4: days 19-30.  A straggler window farther
      below the post-wave-2 watermark would be DROPPED, not revised,
      and the hash catches that.

    Under ``SPARK_GRAFT_STREAM_RESTART=1`` (tools/scale_probe.py's
    ``*_restart`` probe row) the query is killed after wave 2 and a NEW
    one started on the SAME checkpoint, so the LATE wave is accepted
    against a watermark and state recovered from the commit log —
    checkpoint recovery certified at data-bound scale with the same
    oracle.

    The final durable table must hash-match the batch closed form: a
    watermark mis-drop of either straggler set, a merge at the wrong
    grain, or a stale derived measure after revision all break the
    hash.
    """
    from tg_reporting_etl_spark.operators.player_summary import GROUP_KEYS as P_KEYS
    from tg_reporting_etl_spark.streaming.pipeline import (
        PLAYER_5MIN_GRAIN,
        start_partitioned_sink,
        streaming_player_summary_5min,
    )

    sites = td.game_sites(spark, sf_dir)
    in_range = lambda lo, hi: (F.col("round_time") >= _ts(lo)) & (F.col("round_time") < _ts(hi))  # noqa: E731
    # rank rows within each (window, keys) group so the rank>=2
    # fragments can be held back.  The full measure tuple is the order
    # key: ties would only move rows between waves (the waves still
    # partition the slice), but reproducible waves ease debugging.
    rn = F.row_number().over(
        Window.partitionBy("round_time", *P_KEYS).orderBy(
            "bet", "win", "profit", "fee", "normal_value", "refund"
        )
    )
    straggler = in_range("1996-06-17 00:00:00", "1996-06-18 00:00:00") | (
        in_range("1996-06-15 00:00:00", "1996-06-19 00:00:00") & (F.col("_rn") >= 2)
    )
    # straggler ⊂ [Jun 15, 19) ⊂ wave 1's range, so it is peeled off first
    wave_id = (
        F.when(straggler, 2)  # LATE: watermark is Jun 15 when this lands
        .when(F.col("round_time") < _ts("1996-06-11 00:00:00"), 0)
        .when(F.col("round_time") < _ts("1996-06-19 00:00:00"), 1)
        .otherwise(3)
    )
    ppl = _ppl_slice(spark, sf_dir, _P5U_GTE, _P5U_LT).withColumn("_rn", rn)

    def start(stream, tmp):
        agg = streaming_player_summary_5min(stream, sites, watermark="3 days")
        # day-grain directories, as in the trans twin
        return start_partitioned_sink(
            agg, f"{tmp}/table", f"{tmp}/ckpt", keys=PLAYER_5MIN_GRAIN, partition_cols=["summary_date"]
        )

    return run_wave_sim(
        spark,
        ppl.withColumn("_wave", wave_id).drop("_rn"),
        F.col("_wave"),
        start,
        lambda tmp: round_doubles(spark.read.parquet(f"{tmp}/table")),
        _P5_SCHEMA + _DATE_KEYS_SCHEMA,
        waves=(0, 1, 2, 3),
        restart_before=2,
    )


# ------------------------------------------ embedding near-dup index parity

def _stream_emb_oracle() -> str:
    """Closed form of the incremental embedding index: the pairs table
    any wave decomposition converges to is 'sign-LSH band-colliding
    pairs with exact cosine >= tau' over the whole corpus — exactly the
    batch ``embedding_dup_pairs_banded`` oracle (one oracle string,
    two engines)."""
    from tg_reporting_etl_spark.plans.llm_plans import _BANDED_DUP_ORACLE

    return _BANDED_DUP_ORACLE


@register(
    "streaming_embedding_dup_index",
    _stream_emb_oracle(),
    survey_ids="LLM streaming embedding-cosine near-dup index (streaming/pipeline.py start_embedding_dup_sink)",
    kind="orch",
)
def q_streaming_embedding_dup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed the embeddings corpus through the incremental sign-LSH +
    exact-cosine index as TWO overlapping micro-batch waves (vec_id%3
    in {0,1}, then {1,2} — the overlap re-delivers a third of the
    corpus, proving merge_into idempotency), then return the persistent
    pairs table.  Same skeleton as the minhash-LSH row; the
    semantic upgrade under test is the exact-cosine verify against the
    FULL-vector history index (a near-dup arriving in wave 2 pairs with
    its wave-1 partner at its exact similarity, not an estimate).

    Band parameters (8 x 8 over the 64-dim corpus) and tau are pinned
    to the batch row's so both engines share one oracle string.

    Under ``SPARK_GRAFT_STREAM_RESTART=1`` (set by
    tools/scale_probe.py's ``streaming_embedding_dup_index_restart``
    probe row) the query is KILLED after wave 1 and a NEW query started
    on the SAME checkpoint before wave 2 lands — so the cross-batch
    surface this row exists to prove (a wave-2 vector pairing with its
    wave-1 partner out of the durable index) must survive checkpoint
    recovery: the recovered query re-probes the on-disk history index,
    and the overlap third of the corpus re-delivered in wave 2 must
    stay merge-idempotent across the restart.  Same closed-form oracle
    either way — a dropped wave-1 probe or a double-append would break
    the full hash."""
    from tg_reporting_etl_spark.plans.llm_plans import COSINE_TAU
    from tg_reporting_etl_spark.streaming.pipeline import start_embedding_dup_sink

    vecs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    # Size the sim's exchange width to the DATA, not a flat 4: the
    # foreachBatch body shuffles ~bands x n_vecs band rows plus the
    # verified pair set, so at the catalog sfs (<=5k vectors) 4
    # partitions win on task-launch overhead, while the 10x probe
    # (50k vectors, replica-clique collisions) is data-bound — 4
    # partitions serialize it (measured 99 s vs 41 s at 16).  ~25k
    # band rows per partition, clamped to [4, 32]; exactly the
    # state-volume sizing a real cluster would apply.
    parts = max(4, min(32, (8 * vecs.count()) // 25_000))
    return run_wave_sim(
        spark,
        vecs,
        _overlap_waves(F.col("vec_id")),
        lambda stream, tmp: start_embedding_dup_sink(
            stream, f"{tmp}/index", f"{tmp}/ckpt", tau=COSINE_TAU, bands=8, dims_per_band=8
        ),
        lambda tmp: round_doubles(spark.read.parquet(f"{tmp}/index/pairs")),
        "vec_a long, vec_b long, cos_sim double",
        parts=parts,
        restart_before=1,
    )

# ------------------------------------------------- CMS counter convergence

def _stream_cms_oracle() -> str:
    """Converged closed form of the per-epoch CMS deltas: summing the
    keyed (epoch, d, idx) rows over ANY disjoint wave decomposition is
    the batch ``cms_build`` counter table over the whole corpus —
    addition is the sketch's merge operator.  Same md5 bucket family as
    the batch corpus_token_cms oracle."""
    from tg_reporting_etl_spark.plans.llm_plans import _CMS_IDX, _CMS_VALS

    return f"""WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  WHERE doc_id IS NOT NULL
),
stream AS (
  SELECT s.d, {_CMS_IDX.format(tok='t.tok')} AS idx
  FROM toks t CROSS JOIN (VALUES {_CMS_VALS}) s(d)
)
SELECT d, idx, CAST(count(*) AS BIGINT) AS c FROM stream GROUP BY 1, 2"""


@register(
    "streaming_cms_counters",
    _stream_cms_oracle(),
    survey_ids="LLM streaming count-min heavy-hitter counters (streaming/pipeline.py start_cms_sink, per-epoch keyed deltas)",
    kind="orch",
)
def q_streaming_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a count-min sketch over the documents' token stream as
    two DISJOINT micro-batch waves (doc_id parity), then return the live
    counter view (epoch-delta sum).  Waves are disjoint BY DESIGN: the
    sink's idempotency contract is per-epoch (a REPLAYED epoch rewrites
    its keyed (epoch, d, idx) rows byte-identically — pinned in
    tests/test_streaming.py), so overlapping waves would legitimately
    double-count; what the catalog row proves is cross-epoch ADDITIVE
    convergence — the summed deltas equal the batch cms_build counter
    table, at O(D x W) state per epoch and no per-key state at all.
    The parity is ``pmod``: the oracle counts every non-NULL doc, and
    Spark's ``%`` would stage a negative odd id to a wave never
    released."""
    from tg_reporting_etl_spark.streaming.pipeline import cms_counters, start_cms_sink

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return run_wave_sim(
        spark,
        docs,
        F.pmod(F.col("doc_id"), F.lit(2)),
        lambda stream, tmp: start_cms_sink(
            stream.select(F.explode(F.split("text", " ")).alias("tok")), f"{tmp}/deltas", f"{tmp}/ckpt"
        ),
        lambda tmp: cms_counters(spark, f"{tmp}/deltas"),
        "d int, idx long, c long",
    )


# ------------------------------------------------- per-epoch quality audit

def _stream_dq_oracle() -> str:
    """Per-epoch twin of the batch _DQ_ORACLE: wave k (event_id%2 == k)
    is exactly micro-batch epoch k (one file wave = one trigger), so
    the audit table's closed form is the batch rule set evaluated per
    wave with the epoch literal attached."""
    from tg_reporting_etl_spark.plans.events_plans import _DQ_ORACLE

    per_epoch = []
    for epoch in (0, 1):
        body = _DQ_ORACLE.replace(
            "FROM events",
            f"FROM events WHERE event_id IS NOT NULL AND event_id % 2 = {epoch}",
        )
        per_epoch.append(
            f"SELECT CAST({epoch} AS BIGINT) AS epoch_id, rule, n_violations FROM ({body}\n)"
        )
    return "\nUNION ALL\n".join(per_epoch)


@register(
    "streaming_quality_audit",
    _stream_dq_oracle(),
    survey_ids="streaming data-quality audit (streaming/pipeline.py start_quality_audit_sink, per-epoch violation attribution)",
    kind="orch",
)
def q_streaming_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the declarative quality rule set over every micro-batch and
    APPEND (epoch_id, rule, n_violations) to a durable audit table —
    violations attributed to the exact batch that carried them.  Fed as
    two event_id-parity waves (one wave = one trigger = one epoch, so
    the attribution is deterministic and the oracle reproduces it);
    the rule set is the batch events_quality_report's, so each epoch's
    rows are that oracle narrowed to the wave."""
    from tg_reporting_etl_spark.plans.events_plans import _QUALITY_RULES
    from tg_reporting_etl_spark.streaming.pipeline import start_quality_audit_sink

    return run_wave_sim(
        spark,
        load_table(spark, sf_dir, "events"),
        # `%`, not pmod: the oracle's epochs are DuckDB's `event_id % 2 = k`,
        # which keeps the sign too, so a negative odd id is in no epoch on
        # either side
        F.col("event_id") % 2,
        lambda stream, tmp: start_quality_audit_sink(
            stream, dict(_QUALITY_RULES), f"{tmp}/audit", f"{tmp}/ckpt"
        ),
        lambda tmp: spark.read.parquet(f"{tmp}/audit"),
        "epoch_id long, rule string, n_violations long",
    )
