"""LLM-data-pipeline queries + DuckDB oracles: dedup family, similarity
search, text analysis, multimodal metadata (BASELINE north star).

Cross-engine determinism notes:
- md5 is the shared hash primitive (identical hex in both engines);
  ints via Spark conv(...,16,10) == DuckDB CAST('0x'... AS BIGINT).
- Spark's F.aggregate zero-init fold == DuckDB's list_reduce
  first-element fold because every folded term is pre-reduced
  (0 + x == x in IEEE; (0*31 + h) % M == h for h < M).
- jaccard/hamming are exact integer math; cosine is double math rounded
  to 6 places with (rounded, id) rank ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tg_reporting_etl_spark.functions import dedup as dd
from tg_reporting_etl_spark.functions import multimodal as mm
from tg_reporting_etl_spark.functions import similarity as sim
from tg_reporting_etl_spark.functions import text as tx
from tg_reporting_etl_spark.functions.text import LANG_MARKERS, STOPWORDS
from tg_reporting_etl_spark.plans.catalog import register
from tg_reporting_etl_spark.plans.util import cached_df, round_doubles
from tg_reporting_etl_spark.sources.readers import load_table

JACCARD_TAU = 0.35
COSINE_TAU = 0.45
N_HASHES, BANDS = 16, 4

# ------------------------------------------------------------------ SQL pieces

_SHINGLES = """
shingles AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle
  FROM documents, unnest(generate_series(1, length(text) - 4)) t(i)
  WHERE length(text) >= 5
)"""

_SIZES = """
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shingles GROUP BY 1)"""

_JACCARD = f"""
jacc AS (
  SELECT i.doc_a, i.doc_b, ROUND(i.c * 1.0 / (x.n + y.n - i.c), 6) AS jaccard
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.c * 1.0 / (x.n + y.n - i.c) >= {JACCARD_TAU}
)"""

_H32 = "CAST(('0x' || substr(md5({s}), 1, 8)) AS BIGINT)"

#: deterministic uniform in (0,1) from (doc_id, salt) — the shared
#: cross-engine Bernoulli primitive (functions/sampling.hash_uniform)
_U01 = "(" + _H32.format(s="CAST(doc_id AS VARCHAR) || '|' || '{salt}'") + " + 0.5) / 4294967296.0"

_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)}) / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted df-capped near-dup pairs, shared by the pair query and
    the components query (the graph is built over exactly these)."""
    return cached_df(
        spark,
        f"ngram_capped_pairs|{sf_dir}",
        lambda: dd.ngram_jaccard_dedup_capped(
            _docs(spark, sf_dir), JACCARD_TAU, shingles=_shingles(spark, sf_dir)
        ),
    )


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, component_id) labeling of the capped pair
    graph — the iterative label-propagation run is paid once per
    session and shared by the membership and representative queries."""
    return cached_df(
        spark,
        f"dup_components|{sf_dir}",
        lambda: dd.connected_components(_capped_pairs(spark, sf_dir).select("doc_a", "doc_b")),
    )


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MinHash-LSH pair table — consumed by its own catalog
    row and the agreement matrix."""
    return cached_df(
        spark,
        f"minhash_pairs|{sf_dir}",
        lambda: dd.minhash_dedup(
            _docs(spark, sf_dir), JACCARD_TAU, shingles=_shingles(spark, sf_dir)
        ),
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted SimHash pair table — same sharing story."""
    return cached_df(
        spark, f"simhash_pairs|{sf_dir}", lambda: dd.simhash_dedup(_docs(spark, sf_dir))
    )


def _banded_emb_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted sign-LSH banded embedding near-dup pairs
    (vec_a, vec_b, cos_sim) — ONE band-join + exact-cosine-verify pass
    per session, shared by its own catalog row, the semantic
    components query, and the ensemble audit's semantic channel
    (previously each consumer re-ran the band join — at the sf1.0
    probe that recompute was the single worst tail)."""
    return cached_df(
        spark,
        f"banded_emb_pairs|{sf_dir}",
        lambda: sim.embedding_dup_pairs_gated(
            _emb(spark, sf_dir),
            COSINE_TAU,
            on_blowup="lsh",
            pair_budget_per_vec=0,
            budget_floor=0,
        ),
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted 5-gram shingle-hash table (doc_id, h, mh — all longs)
    shared by the ngram and minhash dedup queries (each references it
    several times per plan — one generation pass session-wide, cached
    at 24 bytes/row with no string churn)."""
    return cached_df(
        spark, f"shingles5|{sf_dir}", lambda: dd.shingle_hashes(_docs(spark, sf_dir), 5)
    )


# -------------------------------------------------------------------- dedup

@register(
    "doc_exact_dedup",
    """SELECT md5(text) AS digest, min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1""",
    survey_ids="LLM: exact dedup (hash groupBy)",
)
def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(_docs(spark, sf_dir))


# Candidate policy note: the engine also ships a gated exact variant
# (dedup.ngram_jaccard_dedup, AllPairs/PPJoin prefix filter — the scale
# path for natural text, proven equal to brute force in
# tests/test_llm_layer.py::test_prefix_filter_is_lossless) which
# self-prices its candidate join and reroutes on low-entropy corpora.
# This catalog query keeps the df-capped policy as the explicit
# always-approximate throughput option; the oracle mirrors the cap
# exactly, so the check verifies the capped semantics.
_NGRAM_ORACLE = f"""WITH {_SHINGLES.strip()}, {_SIZES.strip()},
disc AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY 1
        HAVING count(*) <= 250) d USING (shingle)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM disc a JOIN disc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS c
  FROM cands c
  JOIN shingles x ON x.doc_id = c.doc_a
  JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, ROUND(i.c * 1.0 / (x.n + y.n - i.c), 6) AS jaccard
FROM inter i
JOIN sizes x ON x.doc_id = i.doc_a
JOIN sizes y ON y.doc_id = i.doc_b
WHERE i.c * 1.0 / (x.n + y.n - i.c) >= {JACCARD_TAU}"""


@register(
    "doc_ngram_jaccard_dups",
    _NGRAM_ORACLE,
    survey_ids="LLM: n-gram Jaccard near-dup (df-capped candidates)",
)
def q_doc_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _capped_pairs(spark, sf_dir)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# Uncapped all-pairs oracle: every pair with exact full-set Jaccard >= tau.
# This is the ground truth the gated exact path must equal on any corpus
# where the gate stays in an exact regime (prefix or allpairs) — unlike
# the df-capped query above, whose oracle mirrors the cap.
#
# The CATALOG entry runs on a deterministic 0.7 Bernoulli slice of the
# corpus (md5(doc_id|xslice) uniform < 0.7, mirrored below): the
# exactness contract is PER PAIR (engine pair set == brute-force pair
# set on whatever corpus both see), so a slice proves it at ~half the
# all-pairs verify cost — the candidate stage scales with the square of
# corpus size, and this entry is the bench's single most expensive row
# (adversarial on_blowup="force"; the production default is the gate,
# which refuses corpora this shape).  Full-corpus exactness stays
# pinned by tests/test_llm_layer.py's brute-force equality pytests and
# the sf1.0 probe's gate-refusal verdicts.
EXACT_SLICE_FRACTION = 0.5
_XSLICE_PRED = f"{_U01.format(salt='xslice')} < {EXACT_SLICE_FRACTION}"
_SHINGLES_SLICED = _SHINGLES.replace(
    "FROM documents,",
    f"FROM (SELECT * FROM documents WHERE {_XSLICE_PRED}) documents,",
)
# If _SHINGLES is ever reworded the str.replace above would silently
# no-op, leaving the oracle full-corpus while the engine runs the
# slice — surfacing as an opaque hash mismatch.  Fail loudly instead.
assert _SHINGLES_SLICED != _SHINGLES, "xslice substitution did not apply to _SHINGLES"
_NGRAM_EXACT_ORACLE = f"""WITH {_SHINGLES_SLICED.strip()}, {_SIZES.strip()}, {_JACCARD.strip()}
SELECT doc_a, doc_b, jaccard FROM jacc"""


@register(
    "doc_ngram_jaccard_exact",
    _NGRAM_EXACT_ORACLE,
    survey_ids="LLM: n-gram Jaccard near-dup (gated exact scale path)",
    kind="adversarial",
)
def q_doc_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs at ANY scale factor — the scale-independent
    contract for functions/dedup.py:ngram_jaccard_dedup.

    ``on_blowup="force"`` restricts the operator to the lossless
    AllPairs/PPJoin prefix path regardless of the self-pricing gate's
    verdict, so this entry equals the O(n²) all-pairs oracle on every
    corpus the oracle can price — including the low-entropy synthetic
    fixtures where the gate would otherwise reroute.  The cost of that
    guarantee is paid honestly (sf0.1: ~33 s, 150M priced candidate
    rows — bucketed under the bench's adversarial_total).  The
    bounded-recall LSH reroute is its own catalog entry with its own
    candidate-mirroring oracle: ``doc_ngram_jaccard_lsh``.

    Runs on the deterministic EXACT_SLICE_FRACTION Bernoulli slice (see
    the oracle comment): per-pair exactness is corpus-independent, and
    the slice halves the priced candidate cost of the bench's most
    expensive row.  The slice predicate is a pure function of doc_id,
    applied identically to the doc frame and the session-shared shingle
    cache (no recompute, no join)."""
    from tg_reporting_etl_spark.functions.sampling import hash_uniform

    sliced = hash_uniform(F.col("doc_id"), "xslice") < EXACT_SLICE_FRACTION
    sink: dict = {}
    pairs = dd.ngram_jaccard_dedup(
        _docs(spark, sf_dir).filter(sliced),
        JACCARD_TAU,
        shingles=_shingles(spark, sf_dir).filter(sliced),
        on_blowup="force",
        path_sink=sink,
    )
    assert sink["path"] == "prefix", sink  # lossless regime, by contract
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# The lossy reroute as its OWN contract: gate forced into the lsh regime
# (zero candidate budget), oracle mirrors the MinHash-LSH candidate set
# (identical 16-hash/4-band family computed in SQL) + exact full-set
# Jaccard verify.  This pins the reroute branch scale-independently:
# the entry is green at any sf because oracle and engine agree on WHICH
# pairs are candidates, instead of the exact oracle happening to match
# only while the gate stays exact (the round-7 contract defect).
# Registered below, after _minhash_oracle() is defined.
#
# Plan audit (r17 verdict task 3, adjudicated r18): the "72 exchanges"
# reading of this row's sf0.01 formatted plan counts LINE occurrences,
# and formatted explain re-prints the shared persisted shingle cache's
# build subtree (including its two fan-out round-robin exchanges) under
# every one of the plan's 44 InMemoryTableScan references — tree-display
# repetition, not executed shuffles.  The UNIQUE exchange inventory is
# 10 shuffles + 3 broadcasts (pinned with a ceiling in
# tests/test_plan_shapes.py::test_ngram_lsh_unique_exchange_ceiling), of
# which the two round-robins live inside the cached subtree and are
# served from cache at runtime: signature groupBy(doc_id), the two
# band-join sides, the pair distinct, the two collect_set sides, the
# dense-dictionary build (h + single-partition rank), all the shapes the
# operator needs.  The genuinely reducible cost was OUTSIDE the final
# plan: the gate used to build and price the full prefix frame (df
# groupBy + rarity sort + two blocking aggregates) under a hard-zero
# budget that can never admit it — now short-circuited in
# ngram_jaccard_dedup (3.6 s -> 1.3 s at sf0.1, hash-identical).
def q_doc_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink: dict = {}
    pairs = dd.ngram_jaccard_dedup(
        _docs(spark, sf_dir),
        JACCARD_TAU,
        shingles=_shingles(spark, sf_dir),
        on_blowup="lsh",
        candidate_budget_per_doc=0,
        budget_floor=0,
        path_sink=sink,
    )
    # the reroute branch via the known-zero-budget short-circuit (no
    # prefix-frame pricing jobs), by contract
    assert sink["path"] == "lsh" and sink.get("pricing_skipped"), sink
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# Components over the df-capped near-dup pair graph: the step between
# pair generation and keeper selection — near-dup pairs are transitive
# in practice, so dedup keeps one doc per CONNECTED component.  Oracle:
# reachability closure via recursive CTE, component = min reachable id.
# The CTE chain is shared with the best-representative oracle below.
_COMPONENTS_CTES = f"""WITH RECURSIVE {_SHINGLES.strip()}, {_SIZES.strip()},
disc AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY 1
        HAVING count(*) <= 250) d USING (shingle)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM disc a JOIN disc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS c
  FROM cands c
  JOIN shingles x ON x.doc_id = c.doc_a
  JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
),
dpairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.c * 1.0 / (x.n + y.n - i.c) >= {JACCARD_TAU}
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM dpairs
  UNION ALL
  SELECT doc_b, doc_a FROM dpairs
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
  FROM reach GROUP BY a
)"""

_COMPONENTS_ORACLE = f"""{_COMPONENTS_CTES}
SELECT doc_id, component_id, doc_id = component_id AS is_keeper
FROM comp"""


@register(
    "doc_dup_components",
    _COMPONENTS_ORACLE,
    survey_ids="LLM: near-dup pair graph -> connected components / keeper selection",
)
def q_doc_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation + pointer jumping over the capped near-dup
    pair graph (functions/dedup.py:connected_components) — one kept doc
    per component, matching the oracle's recursive-CTE reachability
    closure.  The labeling itself is the session-shared ``_components``
    frame (also consumed by doc_dedup_best_rep)."""
    comp = _components(spark, sf_dir)
    return comp.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_keeper"),
    )


# Deterministic source-mixing: Bernoulli stratified sample (weights per
# source) and fixed-quota per-stratum sample, both md5-hash membership
# so the oracle replays the identical draw.
SAMPLE_FRACTIONS = {"src0": 0.8, "src1": 0.6, "src2": 0.4, "src3": 0.2}
QUOTA_N = 10

_FRAC_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_FRACTIONS.items())
    + " ELSE 0.0 END"
)

_STRAT_ORACLE = f"""SELECT doc_id, source, lang
FROM documents
WHERE {_U01.format(salt='strat')} < {_FRAC_CASE}"""


@register(
    "doc_stratified_sample",
    _STRAT_ORACLE,
    survey_ids="LLM: deterministic source-weighted Bernoulli sample (data mixing)",
)
def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/sampling.py:stratified_sample — membership is a pure
    function of (doc_id, salt): no shuffle, identical across engines."""
    from tg_reporting_etl_spark.functions import sampling as sp

    out = sp.stratified_sample(_docs(spark, sf_dir), "source", SAMPLE_FRACTIONS)
    return out.select("doc_id", "source", "lang")


_QUOTA_ORACLE = f"""SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_U01.format(salt='quota')} ASC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= {QUOTA_N}"""


@register(
    "doc_source_quota_sample",
    _QUOTA_ORACLE,
    survey_ids="LLM: exact-n per-stratum deterministic sample (md5-order quota)",
)
def q_doc_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/sampling.py:quota_sample — the hash-minimal QUOTA_N
    docs per source (one shuffle on the bounded stratum key)."""
    from tg_reporting_etl_spark.functions import sampling as sp

    out = sp.quota_sample(_docs(spark, sf_dir), "source", QUOTA_N)
    return out.select("doc_id", "source")


# Mixture planner + draw: largest total sample whose EXPECTED
# composition matches MIX_WEIGHTS given the actual per-source budgets
# (the binding source is consumed whole).  Both engines compute the
# fractions with the same IEEE double arithmetic — wt * T / budget with
# T = min(budget / wt) — so the u01 < fraction comparison is identical.
MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}

_MIX_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS.items())
    + " ELSE 0.0 END"
)

_MIXTURE_ORACLE = f"""WITH b AS (
  SELECT source, CAST(count(*) AS BIGINT) AS budget, {_MIX_CASE} AS wt
  FROM documents GROUP BY 1
),
t AS (SELECT MIN(budget / wt) AS T FROM b WHERE wt > 0),
fr AS (SELECT source, LEAST(1.0, wt * T / budget) AS fraction FROM b, t WHERE wt > 0)
SELECT d.doc_id, d.source
FROM documents d JOIN fr USING (source)
WHERE {_U01.format(salt='mix')} < fr.fraction"""


@register(
    "doc_mixture_sample",
    _MIXTURE_ORACLE,
    survey_ids="LLM: target-mixture sampling (feasible-total planner + Bernoulli draw)",
)
def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/sampling.py:mixture_sample — fractions derived from
    target weights vs actual budgets (tiny broadcast), membership by
    the deterministic md5 uniform; pure narrow filter over the scan."""
    from tg_reporting_etl_spark.functions import sampling as sp

    out = sp.mixture_sample(_docs(spark, sf_dir), "source", MIX_WEIGHTS)
    return out.select("doc_id", "source")


# Temperature-scaled mixing: weights from the data itself (w ∝ sqrt(n)
# at T=2), quantized to integer micro-units before the normalizing sum
# so both engines derive bit-identical doubles (see
# functions/sampling.py:temperature_plan).
_TEMP_ORACLE = f"""WITH b AS (
  SELECT source, CAST(count(*) AS BIGINT) AS budget,
         CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS pw
  FROM documents GROUP BY 1
),
tt AS (SELECT CAST(SUM(pw) AS BIGINT) AS tot FROM b),
w AS (SELECT source, budget, pw * 1.0 / tot AS weight FROM b, tt),
t2 AS (SELECT MIN(budget / weight) AS T FROM w),
plan AS (
  SELECT source, budget, weight, LEAST(1.0, weight * T / budget) AS fraction
  FROM w, t2
),
samp AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN plan p USING (source)
  WHERE {_U01.format(salt='temp')} < ROUND(p.fraction, 6)
  GROUP BY 1
)
SELECT p.source, p.budget,
       ROUND(p.weight, 6) AS weight,
       ROUND(p.fraction, 6) AS fraction,
       COALESCE(s.n_sampled, 0) AS n_sampled
FROM plan p LEFT JOIN samp s USING (source)"""


@register(
    "doc_temperature_mixture",
    _TEMP_ORACLE,
    survey_ids="LLM: temperature-scaled source mixing (UniMax shape, T=2)",
)
def q_doc_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/sampling.py:temperature_plan/_sample at T=2 — the
    multilingual-LLM recipe that flattens source sizes toward uniform.
    Output is the per-source plan (budget, weight, fraction) plus the
    realized deterministic-draw count, so the oracle checks planner and
    draw in one row set."""
    from tg_reporting_etl_spark.functions import sampling as sp

    from tg_reporting_etl_spark.functions.persist import tracked_persist

    docs = _docs(spark, sf_dir)
    plan = tracked_persist(sp.temperature_plan(docs, "source", 2.0))
    realized = (
        sp.temperature_sample(docs, "source", 2.0, plan=plan)
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_sampled"))
    )
    return (
        plan.join(F.broadcast(realized), "source", "left")
        .select(
            "source",
            "budget",
            F.round("weight", 6).alias("weight"),
            F.round("fraction", 6).alias("fraction"),
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        )
    )


def _minhash_oracle() -> str:
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
    return f"""WITH {_SHINGLES.strip()}, {_SIZES.strip()}, {_JACCARD.strip()},
hashed AS (
  SELECT doc_id, {h_expr} AS h FROM shingles
),
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
SELECT j.doc_a, j.doc_b, j.jaccard
FROM jacc j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b"""


@register("doc_minhash_lsh_dups", _minhash_oracle(), survey_ids="LLM: MinHash+LSH near-dup")
def q_doc_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_pairs(spark, sf_dir)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# ngram_jaccard_dedup's lsh reroute uses the same 16-hash/4-band MinHash
# candidate family as minhash_dedup, so the candidate-mirroring oracle is
# shared; what this entry pins (vs doc_minhash_lsh_dups) is the GATE
# (budget pricing + reroute branch + path_sink contract) rather than the
# candidate generator itself.
register(
    "doc_ngram_jaccard_lsh",
    _minhash_oracle(),
    survey_ids="LLM: n-gram Jaccard near-dup (LSH reroute contract)",
)(q_doc_ngram_jaccard_lsh)


def _simhash_oracle() -> str:
    def bit(j: int) -> str:
        return f"(hlo >> {j}) & 1" if j < 32 else f"(hhi >> {j - 32}) & 1"

    bit_sums = ",\n         ".join(
        f"sum({bit(j)}) AS s{j}" for j in range(64)
    ) + ",\n         count(*) AS n"
    sig_terms = [f"CASE WHEN 2 * s{j} >= n THEN CAST({1 << j} AS BIGINT) ELSE 0 END" for j in range(63)]
    sig_terms.append(f"CASE WHEN 2 * s63 >= n THEN CAST({-(1 << 63)} AS BIGINT) ELSE 0 END")
    sig_sum = " + ".join(sig_terms)
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band, (simhash >> {16 * b}) & 65535 AS bv FROM sig" for b in range(4)
    )
    return f"""WITH toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(m, 1, 8)) AS BIGINT) AS hlo,
         CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS hhi
  FROM (SELECT doc_id, md5('sh|' || unnest(string_split(text, ' '))) AS m FROM documents)
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM toks GROUP BY doc_id
),
sig AS (SELECT doc_id, {sig_sum} AS simhash FROM bits),
banded AS (
{bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3"""


@register("doc_simhash_dups", _simhash_oracle(), survey_ids="LLM: SimHash near-dup (lossless banding)")
def q_doc_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_pairs(spark, sf_dir)


@register(
    "embedding_dup_pairs",
    f"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND({_cos('a.embedding', 'b.embedding')}, 6) >= {COSINE_TAU}""",
    survey_ids="LLM: embedding-cosine near-dup (exact, gate-priced)",
)
def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs channel behind the self-pricing gate: at the
    test sfs n·(n-1)/2 fits the budget so the gate picks the blocked
    GEMM (exact — oracle is the all-pairs SQL); past the budget the
    gate REFUSES by default (the sf1.0 probe records that verdict),
    mirroring the n-gram prefix family's contract."""
    return sim.embedding_dup_pairs_gated(_emb(spark, sf_dir), COSINE_TAU)


def _sign_bands_sql(bands: int = 8, dims_per_band: int = 8) -> str:
    """DuckDB mirror of sign_lsh_bands(bands, dims_per_band) — the
    banding is deterministic coordinate-sign, so the oracle reproduces
    the candidate set exactly."""
    return "\n  UNION ALL\n".join(
        "  SELECT vec_id, {b} AS band, ".format(b=b)
        + " || ".join(
            f"CASE WHEN embedding[{b * dims_per_band + i + 1}] >= 0 THEN '1' ELSE '0' END"
            for i in range(dims_per_band)
        )
        + " AS band_key FROM embeddings"
        for b in range(bands)
    )


_BANDED_DUP_ORACLE = f"""WITH banded AS (
{_sign_bands_sql()}
),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       ROUND({_cos('x.embedding', 'y.embedding')}, 6) AS cos_sim
FROM cands c
JOIN embeddings x ON x.vec_id = c.vec_a
JOIN embeddings y ON y.vec_id = c.vec_b
WHERE ROUND({_cos('x.embedding', 'y.embedding')}, 6) >= {COSINE_TAU}"""


_EMB_COMPONENTS_ORACLE = f"""WITH RECURSIVE banded AS (
{_sign_bands_sql()}
),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
),
dpairs AS (
  SELECT c.vec_a, c.vec_b
  FROM cands c
  JOIN embeddings x ON x.vec_id = c.vec_a
  JOIN embeddings y ON y.vec_id = c.vec_b
  WHERE ROUND({_cos('x.embedding', 'y.embedding')}, 6) >= {COSINE_TAU}
),
sym AS (
  SELECT vec_a AS src, vec_b AS dst FROM dpairs
  UNION ALL
  SELECT vec_b, vec_a FROM dpairs
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
),
comp AS (
  SELECT a AS vec_id, LEAST(a, MIN(b)) AS component_id
  FROM reach GROUP BY a
)
SELECT vec_id, component_id, vec_id = component_id AS is_keeper FROM comp"""


@register(
    "embedding_dup_components",
    _EMB_COMPONENTS_ORACLE,
    survey_ids="LLM: semantic near-dup clusters (banded pairs -> connected components)",
)
def q_embedding_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic twin of doc_dup_components: the banded embedding
    near-dup pairs (bounded candidates, exact-cosine verified) closed
    into connected components with the same min-label + pointer-jumping
    machinery — one kept vector per semantic content family.  Pair
    generation and clustering both scale with the edge list, never n².
    The labeling is session-cached like the lexical twin's — the
    iterative label-propagation run (fixed multi-job cost per round)
    is paid once per session."""

    def _label() -> DataFrame:
        pairs = _banded_emb_pairs(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        return dd.connected_components(pairs)

    comp = cached_df(spark, f"emb_dup_components|{sf_dir}", _label)
    return comp.select(
        F.col("doc_id").alias("vec_id"),
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_keeper"),
    )


@register(
    "embedding_dup_pairs_banded",
    _BANDED_DUP_ORACLE,
    survey_ids="LLM: embedding-cosine near-dup (sign-LSH banded scale path)",
)
def q_embedding_dup_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path: sign-LSH band candidates + exact-cosine verify
    (budget zeroed so the gate always reroutes — the banding is
    deterministic, so the oracle reproduces the same candidate subset).
    Every reported pair carries its exact cosine; recall is
    tau-dependent (-> 1 as cos -> 1, the near-dup regime)."""
    return _banded_emb_pairs(spark, sf_dir)


# Ensemble dedup audit: every candidate pair from EITHER channel with a
# per-channel flag — the review table an operator of a real pipeline
# reads before choosing removal policy (lexical-only, semantic-only, or
# both-channel consensus).  Full outer join of two bounded pair tables.
_ENSEMBLE_ORACLE = f"""WITH {_SHINGLES.strip()}, {_SIZES.strip()},
disc AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY 1
        HAVING count(*) <= 250) d USING (shingle)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM disc a JOIN disc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS c
  FROM cands c
  JOIN shingles x ON x.doc_id = c.doc_a
  JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
),
lex AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.c * 1.0 / (x.n + y.n - i.c) >= {JACCARD_TAU}
),
sem_banded AS (
{{sign_bands}}
),
sem_cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sem_banded a JOIN sem_banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
),
sem AS (
  SELECT c.vec_a AS doc_a, c.vec_b AS doc_b
  FROM sem_cands c
  JOIN embeddings x ON x.vec_id = c.vec_a
  JOIN embeddings y ON y.vec_id = c.vec_b
  WHERE ROUND({_cos('x.embedding', 'y.embedding')}, 6) >= {COSINE_TAU}
)
SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
       COALESCE(l.doc_b, s.doc_b) AS doc_b,
       l.doc_a IS NOT NULL AS lexical,
       s.doc_a IS NOT NULL AS semantic
FROM lex l FULL OUTER JOIN sem s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b"""


@register(
    "doc_ensemble_dedup_audit",
    _ENSEMBLE_ORACLE.replace("{sign_bands}", _sign_bands_sql()),
    survey_ids="LLM: ensemble dedup audit (lexical + semantic channel flags)",
)
def q_doc_ensemble_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of the lexical (n-gram Jaccard, shared capped
    pair cache) and semantic (embedding cosine) candidate channels —
    both sides bounded pair tables, so the join is broadcast-able at
    any corpus size where dedup itself is feasible.  The semantic
    channel takes the banded scale path (sign-LSH candidates + exact
    verify) so the audit as a whole has no all-pairs-compute stage —
    the oracle's sem CTE mirrors the deterministic banding."""
    lex = _capped_pairs(spark, sf_dir).select("doc_a", "doc_b", F.lit(True).alias("lexical"))
    sem = _banded_emb_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"),
        F.lit(True).alias("semantic"),
    )
    return (
        lex.join(sem, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("lexical", F.lit(False)).alias("lexical"),
            F.coalesce("semantic", F.lit(False)).alias("semantic"),
        )
    )


# Per-doc novelty: of a doc's distinct 5-gram shingles, the fraction in
# NO other document — the inverse of boilerplate_fraction and the
# ranking key of diversity-aware sampling ("add the most novel docs
# first").  One df aggregate + one h-key join over the session-shared
# shingle-hash cache; docs without shingles (len < 5) don't appear, the
# shingle family's base contract.
_NOVELTY_ORACLE = f"""WITH {_SHINGLES.strip()},
sdf AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS novelty_fraction
FROM shingles s JOIN sdf d USING (shingle)
GROUP BY 1"""


@register(
    "doc_novelty",
    _NOVELTY_ORACLE,
    survey_ids="LLM: per-doc novelty (corpus-unique shingle fraction)",
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.shingle_novelty(_shingles(spark, sf_dir))


# -------------------------------------------------------- similarity search

# Shared by the batch brute-force row and the streaming continuous
# top-k row (plans/streaming_plans.py): the converged streaming state
# must equal exactly this closed form, so both check against ONE SQL.
_BRUTE_TOPK_ORACLE = f"""SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROUND({_cos('q.embedding', 'e.embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND({_cos('q.embedding', 'e.embedding')}, 6) DESC, e.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id < 10
) WHERE rank <= 5"""


@register(
    "embedding_topk",
    _BRUTE_TOPK_ORACLE,
    survey_ids="LLM: brute-force cosine top-k",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.brute_force_topk(_emb(spark, sf_dir), F.col("vec_id") < 10, k=5)


def _ann_oracle() -> str:
    bands = "\n  UNION ALL\n".join(
        "  SELECT vec_id, {b} AS band, ".format(b=b)
        + " || ".join(f"CASE WHEN embedding[{b * 4 + i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(4))
        + " AS band_key FROM embeddings"
        for b in range(4)
    )
    return f"""WITH banded AS (
{bands}
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
qb AS (SELECT q.query_id, q.q_emb, b.band, b.band_key FROM banded b JOIN q ON b.vec_id = q.query_id),
cands AS (
  SELECT DISTINCT qb.query_id, qb.q_emb, b.vec_id AS neighbor_id
  FROM banded b JOIN qb ON b.band = qb.band AND b.band_key = qb.band_key
  WHERE b.vec_id <> qb.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT c.query_id, c.neighbor_id,
         ROUND({_cos('c.q_emb', 'e.embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY c.query_id
           ORDER BY ROUND({_cos('c.q_emb', 'e.embedding')}, 6) DESC, c.neighbor_id ASC) AS rank
  FROM cands c JOIN embeddings e ON e.vec_id = c.neighbor_id
) WHERE rank <= 3"""


@register("ann_sign_lsh_topk", _ann_oracle(), survey_ids="LLM: LSH-bucketed ANN (scale path)")
def q_ann_sign_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ann_sign_lsh_topk(_emb(spark, sf_dir), F.col("vec_id") < 10, k=3)


_D2 = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
    "(x, y) -> x + y)"
)


def _ivf_oracle(n_cells: int = 16, nprobe: int = 2, k: int = 3) -> str:
    return f"""WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id < {n_cells}
),
assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_D2.format(a='e.embedding', b='c.c_emb')} ASC, c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
probes AS (
  SELECT query_id, q_emb, cell_id FROM (
    SELECT q.query_id, q.q_emb, c.cell_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_D2.format(a='q.q_emb', b='c.c_emb')} ASC, c.cell_id ASC) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {nprobe}
),
cands AS (
  SELECT DISTINCT p.query_id, p.q_emb, a.vec_id AS neighbor_id, a.embedding
  FROM probes p JOIN assigned a USING (cell_id)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, neighbor_id,
         ROUND({_cos('q_emb', 'embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY ROUND({_cos('q_emb', 'embedding')}, 6) DESC, neighbor_id ASC) AS rank
  FROM cands
) WHERE rank <= {k}"""


@register("ann_ivf_topk", _ivf_oracle(), survey_ids="LLM: IVF coarse-quantized ANN (scale path)")
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_topk(_emb(spark, sf_dir), F.col("vec_id") < 10, k=3)


_SEMDEDUP_ORACLE = f"""WITH params AS (
  SELECT GREATEST(16, count(*) // 64) AS k FROM embeddings
),
cents AS (
  SELECT vec_id AS cell_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < (SELECT k FROM params)
),
assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_D2.format(a='e.embedding', b='c.c_emb')} ASC, c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
members AS (
  SELECT a.vec_id, a.cell_id, a.embedding,
         ROUND({_cos('a.embedding', 'c.c_emb')}, 6) AS centroid_cos
  FROM assigned a JOIN cents c USING (cell_id)
),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM members a JOIN members b
    ON a.cell_id = b.cell_id
   AND (a.centroid_cos < b.centroid_cos
        OR (a.centroid_cos = b.centroid_cos AND a.vec_id < b.vec_id))
  WHERE ROUND({_cos('a.embedding', 'b.embedding')}, 6) >= {COSINE_TAU}
)
SELECT m.vec_id, m.cell_id, m.centroid_cos,
       (r.vec_id IS NOT NULL) AS removed
FROM members m LEFT JOIN removed r ON m.vec_id = r.vec_id"""


@register(
    "embedding_semdedup",
    _SEMDEDUP_ORACLE,
    survey_ids="LLM: cell-bounded semantic dedup (SemDeDup)",
)
def q_embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-quantize the corpus with
    the IVF cell machinery, then near-dup ONLY within each cell —
    keepers are the members FARTHEST from their centroid (retained
    diversity), removal is the preference-ordered EXISTS so the oracle
    needs no transitive closure.  Pair space is sum-of-cell-C(c,2),
    priced against the family budget before any quadratic work (the
    self-pricing-gate contract of the other dedup channels); n_cells
    AUTO-SIZES to max(16, n // 64) so expected occupancy — and with it
    the pair space per vector — stays constant at any corpus size, and
    the oracle derives the same k from count(*).  Fixed quantizer here
    so DuckDB reproduces the assignment row-for-row; production swaps
    in kmeans_centroids — same shape, same plan."""
    return sim.semdedup(_emb(spark, sf_dir), COSINE_TAU)




# ------------------------------------------------------- decontamination

#: Benchmark-holdout sources for the decontamination query: a fixed 25%
#: of the 20 synthetic sources plays the role of the eval set.
EVAL_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_EVAL_IN = ", ".join(f"'{s}'" for s in EVAL_SOURCES)

_DECON_ORACLE = f"""WITH {_SHINGLES.strip()}, {_SIZES.strip()},
disc AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY 1
        HAVING count(*) <= 250) d USING (shingle)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM disc a JOIN disc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS c
  FROM cands c
  JOIN shingles x ON x.doc_id = c.doc_a
  JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
),
jacc AS (
  SELECT i.doc_a, i.doc_b, ROUND(i.c * 1.0 / (x.n + y.n - i.c), 6) AS jaccard
  FROM inter i JOIN sizes x ON x.doc_id = i.doc_a JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.c * 1.0 / (x.n + y.n - i.c) >= {JACCARD_TAU}
),
meta AS (SELECT doc_id, source, md5(text) AS digest FROM documents),
exact AS (
  SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
         'exact' AS kind, ROUND(1.0, 6) + 0.0 AS jaccard
  FROM meta t JOIN meta e ON t.digest = e.digest
  WHERE e.source IN ({_EVAL_IN}) AND t.source NOT IN ({_EVAL_IN})
),
near AS (
  SELECT CASE WHEN ma.source IN ({_EVAL_IN}) THEN j.doc_b ELSE j.doc_a END AS train_doc_id,
         CASE WHEN ma.source IN ({_EVAL_IN}) THEN j.doc_a ELSE j.doc_b END AS eval_doc_id,
         'near' AS kind, ROUND(j.jaccard, 6) + 0.0 AS jaccard
  FROM jacc j
  JOIN meta ma ON ma.doc_id = j.doc_a
  JOIN meta mb ON mb.doc_id = j.doc_b
  WHERE (ma.source IN ({_EVAL_IN})) <> (mb.source IN ({_EVAL_IN})) AND ma.digest <> mb.digest
)
SELECT * FROM exact UNION ALL SELECT * FROM near"""


@register(
    "doc_decontaminate",
    _DECON_ORACLE,
    survey_ids="LLM: train/eval decontamination (exact + near cross-source dup flags)",
)
def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leak flags: train docs whose exact or near duplicate
    sits in an eval-holdout source (functions/dedup.py:
    cross_source_contamination; near channel = the shared df-capped
    pair table, so no extra candidate generation cost)."""
    out = dd.cross_source_contamination(
        _docs(spark, sf_dir), _capped_pairs(spark, sf_dir), list(EVAL_SOURCES)
    )
    return round_doubles(out)


_EVAL_OVERLAP_ORACLE = f"""WITH {_SHINGLES.strip()},
meta AS (SELECT doc_id, source FROM documents),
ev AS (SELECT s.doc_id, s.shingle FROM shingles s
       JOIN meta m USING (doc_id) WHERE m.source IN ({_EVAL_IN})),
tr AS (SELECT DISTINCT s.shingle FROM shingles s
       JOIN meta m USING (doc_id) WHERE m.source NOT IN ({_EVAL_IN})),
hit AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        FROM ev e JOIN tr USING (shingle) GROUP BY 1),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM ev GROUP BY 1)
SELECT z.doc_id, z.n_shingles,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(h.n_overlap, 0) * 1.0 / z.n_shingles, 6) + 0.0 AS overlap_frac
FROM sz z LEFT JOIN hit h USING (doc_id)"""


@register(
    "doc_eval_overlap_report",
    _EVAL_OVERLAP_ORACLE,
    survey_ids="LLM: per-eval-doc n-gram overlap contamination report (GPT-3-style metric)",
)
def q_doc_eval_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How contaminated is each benchmark doc — fraction of its
    distinct 5-gram shingles appearing anywhere in the train split
    (functions/dedup.py:eval_overlap_report over the shared
    shingle-hash cache).  Complements doc_decontaminate: that query
    flags pairs for removal; this one measures the per-eval-doc
    overlap an eval card reports."""
    return dd.eval_overlap_report(
        _docs(spark, sf_dir), _shingles(spark, sf_dir), list(EVAL_SOURCES)
    )


_SPLIT_ORACLE = f"""{_COMPONENTS_CTES}
SELECT doc_id, group_key,
       CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'validation' ELSE 'test' END AS split
FROM (
  SELECT g.doc_id, g.group_key,
         CAST(('0x' || substr(md5('split|' || CAST(g.group_key AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
  FROM (
    SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS group_key
    FROM documents d LEFT JOIN comp c USING (doc_id)
  ) g
)"""


@register(
    "doc_leakage_safe_split",
    _SPLIT_ORACLE,
    survey_ids="LLM: leakage-safe train/val/test split (near-dup groups co-travel)",
)
def q_doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split hashed on the near-dup GROUP, not
    the document: every member of a connected dup component draws the
    same md5 bucket, so no near-duplicate pair ever straddles a split
    boundary (the eval-leakage failure mode of row-wise random splits).
    Singletons group under their own doc_id.  The component labeling is
    the session-shared ``_components`` frame — broadcast here because
    it is bounded by the dup-PAIR graph, orders of magnitude below the
    corpus; if a pathological corpus ever grew it past the broadcast
    budget, drop the hint and the join degrades to a correct
    shuffle-hash join on doc_id.  Everything else is a narrow map.  Pair-co-travel and fraction
    sanity pinned in tests/test_llm_layer.py."""
    docs = _docs(spark, sf_dir).select("doc_id")
    comp = _components(spark, sf_dir)
    gk = F.coalesce("component_id", "doc_id")
    b = dd.h32(F.concat(F.lit("split|"), gk.cast("string"))) % 10
    return (
        docs.join(F.broadcast(comp), "doc_id", "left")
        .select(
            "doc_id",
            gk.alias("group_key"),
            F.when(b < 8, "train").when(b < 9, "validation").otherwise("test").alias("split"),
        )
    )


def _bloom_decon_oracle() -> str:
    from tg_reporting_etl_spark.functions import bloom as bl

    return bl.bloom_oracle_sql(
        eval_rel=f"(SELECT md5(text) AS d FROM documents WHERE source IN ({_EVAL_IN})) e",
        probe_rel=f"(SELECT doc_id, md5(text) AS d FROM documents WHERE source NOT IN ({_EVAL_IN})) t",
        key_expr="d",
        id_expr="doc_id",
    )


@register(
    "doc_bloom_decontaminate",
    _bloom_decon_oracle(),
    survey_ids="LLM: bloom-filter exact decontamination (broadcast-free probe at scale)",
)
def q_doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup decontamination probed through a Bloom filter built
    over the eval-holdout digests (functions/bloom.py).  Same semantics
    as the exact channel of doc_decontaminate, but the eval side ships
    as an O(m_bits)-size word table instead of its full digest set —
    the shape that stays broadcastable when the holdout corpus itself
    is web-scale.  The filter is deterministic (md5 positions), so the
    DuckDB oracle reproduces it bit-for-bit, false positives included;
    the no-false-negative guarantee and FPR bound are pinned in
    tests/test_bloom.py."""
    from tg_reporting_etl_spark.functions import bloom as bl

    docs = _docs(spark, sf_dir)
    is_eval = F.col("source").isin(*EVAL_SOURCES)
    eval_keys = docs.filter(is_eval).select(F.md5("text").alias("d"))
    train = docs.filter(~is_eval).select("doc_id", F.md5("text").alias("d"))
    words = bl.bloom_build(eval_keys, "d")
    return bl.bloom_might_contain(train, "d", "doc_id", words)


_SOURCE_OVERLAP_ORACLE = f"""WITH {_SHINGLES.strip()}, {_SIZES.strip()},
disc AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles GROUP BY 1
        HAVING count(*) <= 250) d USING (shingle)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM disc a JOIN disc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS c
  FROM cands c
  JOIN shingles x ON x.doc_id = c.doc_a
  JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
),
dpairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes x ON x.doc_id = i.doc_a JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.c * 1.0 / (x.n + y.n - i.c) >= {JACCARD_TAU}
)
SELECT LEAST(sa.source, sb.source) AS source_a,
       GREATEST(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM dpairs p
JOIN documents sa ON sa.doc_id = p.doc_a
JOIN documents sb ON sb.doc_id = p.doc_b
GROUP BY 1, 2"""


@register(
    "doc_source_overlap_matrix",
    _SOURCE_OVERLAP_ORACLE,
    survey_ids="LLM: cross-source duplication matrix (mirror/provenance-overlap detection)",
)
def q_doc_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: near-dup pairs rolled up to
    unordered (source, source) cells — the provenance report that
    surfaces mirror sites and re-crawls before mixing weights are
    chosen.  Reuses the session-shared capped pair table; the
    doc->source lookup broadcasts; output is bounded by the squared
    (tiny) source-type space."""
    pairs = _capped_pairs(spark, sf_dir).select("doc_a", "doc_b")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    sa = src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa")
    sb = src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb")
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def _agreement_rollup(jp_src: str, mp_src: str, sh_src: str) -> str:
    """The agreement-matrix aggregation over three pair sources — ONE
    template shared by the nested full oracle (channel oracles inlined)
    and the sf0.1 consistency oracle (channel RESULT tables), so the
    two checks cannot drift in their rollup logic."""
    return f"""WITH jp AS (SELECT doc_a, doc_b FROM {jp_src}),
mp AS (SELECT doc_a, doc_b FROM {mp_src}),
sh AS (SELECT doc_a, doc_b FROM {sh_src}),
allp AS (
  SELECT doc_a, doc_b FROM jp
  UNION SELECT doc_a, doc_b FROM mp
  UNION SELECT doc_a, doc_b FROM sh
),
flags AS (
  SELECT p.doc_a, p.doc_b,
         j.doc_a IS NOT NULL AS in_jaccard,
         m.doc_a IS NOT NULL AS in_minhash,
         s.doc_a IS NOT NULL AS in_simhash
  FROM allp p
  LEFT JOIN jp j ON j.doc_a = p.doc_a AND j.doc_b = p.doc_b
  LEFT JOIN mp m ON m.doc_a = p.doc_a AND m.doc_b = p.doc_b
  LEFT JOIN sh s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
)
SELECT in_jaccard, in_minhash, in_simhash,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM flags GROUP BY 1, 2, 3"""


def _agreement_oracle() -> str:
    """Nests the three channel oracles as WITH-subqueries — each
    channel's ground truth is the SAME SQL the channel's own catalog
    row is checked against, so the matrix cannot drift from them."""
    return _agreement_rollup(
        f"({_NGRAM_ORACLE})", f"({_minhash_oracle()})", f"({_simhash_oracle()})"
    )


@register(
    "doc_dedup_agreement",
    _agreement_oracle(),
    survey_ids="LLM: dedup method-agreement matrix (jaccard x minhash x simhash)",
)
def q_doc_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which near-dup channels agree, pair by pair: the union of the
    three candidate-pair sets flagged per channel, rolled up to the
    2^3 agreement cells — the diagnostic that tells a curation run
    whether its lexical detectors are redundant or complementary.
    All three pair tables are session-shared/bounded, so the joins
    broadcast; the matrix itself is at most 7 rows."""
    jp = _capped_pairs(spark, sf_dir).select("doc_a", "doc_b")
    mp = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = _simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    allp = jp.unionByName(mp).unionByName(sh).distinct()
    out = allp
    for name, ch in (("in_jaccard", jp), ("in_minhash", mp), ("in_simhash", sh)):
        flagged = ch.withColumn(name, F.lit(True))
        out = out.join(F.broadcast(flagged), ["doc_a", "doc_b"], "left").withColumn(
            name, F.coalesce(F.col(name), F.lit(False))
        )
    return out.groupBy("in_jaccard", "in_minhash", "in_simhash").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


# ------------------------------------------------- product quantization

PQ_DIM, PQ_SUB = 64, 16  # embedding dim / subspace width (M=4, K=16)

_PQ_SQD = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> (p[1]-p[2])*(p[1]-p[2])), (x, y) -> x + y)"
)
_PQ_SUBV = "list_transform({e}[{m}*16+1 : {m}*16+16], x -> CAST(x AS DOUBLE))"

_PQ_CTES = f"""WITH seeds AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT), vec_id
         ) AS rn
  FROM embeddings
),
centroids AS (
  SELECT m.m, CAST(s.rn - 1 AS INTEGER) AS cid,
         {_PQ_SUBV.format(e='s.embedding', m='m.m')} AS cvec
  FROM seeds s CROSS JOIN (VALUES (0),(1),(2),(3)) m(m)
  WHERE s.rn <= 16
),
enc AS (
  SELECT e.vec_id, c.m, c.cid,
         ROUND({_PQ_SQD.format(a=_PQ_SUBV.format(e='e.embedding', m='c.m'), b='c.cvec')}, 6) AS d
  FROM embeddings e CROSS JOIN centroids c
),
codes AS (
  SELECT vec_id, m, cid AS code
  FROM (SELECT vec_id, m, cid,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS r
        FROM enc)
  WHERE r = 1
)"""

_PQ_CODES_ORACLE = f"""{_PQ_CTES}
SELECT vec_id, CAST(m AS INTEGER) AS m, CAST(code AS INTEGER) AS code FROM codes"""

_PQ_TOPK_ORACLE = f"""{_PQ_CTES},
qsub AS (
  SELECT e.vec_id AS query_id, m.m,
         {_PQ_SUBV.format(e='e.embedding', m='m.m')} AS qv
  FROM embeddings e CROSS JOIN (VALUES (0),(1),(2),(3)) m(m)
  WHERE e.vec_id < 10
),
lut AS (
  SELECT q.query_id, c.m, c.cid,
         {_PQ_SQD.format(a='q.qv', b='c.cvec')} AS d
  FROM qsub q JOIN centroids c ON c.m = q.m
),
est AS (
  SELECT l.query_id, k.vec_id AS neighbor_id,
         ROUND(SUM(CASE WHEN l.m = 0 THEN l.d END)
             + SUM(CASE WHEN l.m = 1 THEN l.d END)
             + SUM(CASE WHEN l.m = 2 THEN l.d END)
             + SUM(CASE WHEN l.m = 3 THEN l.d END), 6) AS est_dist
  FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.code
  WHERE k.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, est_dist, CAST(r AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY est_dist, neighbor_id) AS r
      FROM est)
WHERE r <= 5"""


def _pq_codebook_codes(spark: SparkSession, sf_dir: str):
    """Session-shared (codebook, codes) pair — the encode pass is paid
    once and probed by both PQ queries."""
    from tg_reporting_etl_spark.functions import pq

    cb = cached_df(
        spark, f"pq_codebook|{sf_dir}", lambda: pq.pq_codebook(_emb(spark, sf_dir), PQ_DIM)
    )
    codes = cached_df(
        spark, f"pq_codes|{sf_dir}", lambda: pq.pq_encode(_emb(spark, sf_dir), cb, PQ_DIM)
    )
    return cb, codes


@register(
    "ann_pq_codes",
    _PQ_CODES_ORACLE,
    survey_ids="LLM: product-quantization encoding (M-subspace codebook, nearest-centroid codes)",
)
def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/pq.py — 64-dim vectors compress to 4 nibble codes
    against a deterministic hash-seeded codebook; the oracle replays
    codebook, encode argmin, and tie-breaks exactly."""
    _, codes = _pq_codebook_codes(spark, sf_dir)
    return codes.select("vec_id", F.col("m").cast("int").alias("m"), F.col("code").cast("int").alias("code"))


@register(
    "ann_pq_topk",
    _PQ_TOPK_ORACLE,
    survey_ids="LLM: PQ asymmetric-distance top-k (per-query LUT broadcast, codes-only corpus)",
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search: queries stay exact, the corpus is its PQ codes; per
    query an M x K distance lookup table broadcasts and the estimate is
    a fixed-order sum of M lookups.  Recall vs brute force is floored
    in tests/test_pq.py."""
    from tg_reporting_etl_spark.functions import pq

    cb, codes = _pq_codebook_codes(spark, sf_dir)
    q = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return pq.pq_adc_topk(codes, cb, q, PQ_DIM, 5)


def _ivfpq_oracle(n_cells: int = 16, nprobe: int = 2, shortlist: int = 50, k: int = 3) -> str:
    """IVF cells -> PQ ADC shortlist -> exact cosine re-rank, composed
    from the same CTE fragments the standalone IVF and PQ oracles use."""
    return f"""{_PQ_CTES},
cents AS (
  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id < {n_cells}
),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_D2.format(a='e.embedding', b='c.c_emb')} ASC, c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
probes AS (
  SELECT query_id, cell_id FROM (
    SELECT q.query_id, c.cell_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_D2.format(a='q.q_emb', b='c.c_emb')} ASC, c.cell_id ASC) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (cell_id)
  WHERE a.vec_id <> p.query_id
),
lut AS (
  SELECT q.query_id, c.m, c.cid,
         {_PQ_SQD.format(a=_PQ_SUBV.format(e='q.q_emb', m='c.m'), b='c.cvec')} AS d
  FROM q CROSS JOIN centroids c
),
est AS (
  SELECT cd.query_id, cd.neighbor_id,
         ROUND(SUM(CASE WHEN l.m = 0 THEN l.d END)
             + SUM(CASE WHEN l.m = 1 THEN l.d END)
             + SUM(CASE WHEN l.m = 2 THEN l.d END)
             + SUM(CASE WHEN l.m = 3 THEN l.d END), 6) AS est_dist
  FROM (SELECT c.query_id, c.neighbor_id, k.m, k.code
        FROM cand c JOIN codes k ON k.vec_id = c.neighbor_id) cd
  JOIN lut l ON l.query_id = cd.query_id AND l.m = cd.m AND l.cid = cd.code
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY est_dist ASC, neighbor_id ASC) AS rn
    FROM est
  ) WHERE rn <= {shortlist}
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT s.query_id, s.neighbor_id,
         ROUND({_cos('q.q_emb', 'e.embedding')}, 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY ROUND({_cos('q.q_emb', 'e.embedding')}, 6) DESC, s.neighbor_id ASC) AS rank
  FROM short s
  JOIN embeddings e ON e.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id
) WHERE rank <= {k}"""


@register(
    "ann_ivfpq_topk",
    _ivfpq_oracle(),
    survey_ids="LLM: IVF-PQ with exact re-rank (coarse cells -> ADC shortlist -> refine)",
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production billion-scale ANN stack composed from the
    engine's own pieces (functions/pq.py:ivfpq_topk): IVF cells bound
    the candidates, PQ codes bound the bytes touched per candidate,
    and only the shortlist's full vectors are fetched for the exact
    cosine re-rank."""
    from tg_reporting_etl_spark.functions import pq

    cb, codes = _pq_codebook_codes(spark, sf_dir)
    return pq.ivfpq_topk(
        _emb(spark, sf_dir), codes, cb, F.col("vec_id") < 10, PQ_DIM, k=3
    )


CMS_W, CMS_D = 1024, 4

_CMS_VALS = ", ".join(f"({d})" for d in range(CMS_D))
_CMS_IDX = (
    "CAST(('0x' || substr(md5('cms|' || CAST(s.d AS VARCHAR) || '|' || {tok}), 1, 8))"
    f" AS BIGINT) % {CMS_W}"
)

_CMS_ORACLE = f"""WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY 1),
stream AS (
  SELECT s.d, {_CMS_IDX.format(tok='t.tok')} AS idx
  FROM toks t CROSS JOIN (VALUES {_CMS_VALS}) s(d)
),
counters AS (SELECT d, idx, CAST(count(*) AS BIGINT) AS c FROM stream GROUP BY 1, 2),
probes AS (
  SELECT f.tok, f.true_cnt, s.d, {_CMS_IDX.format(tok='f.tok')} AS idx
  FROM freq f CROSS JOIN (VALUES {_CMS_VALS}) s(d)
)
SELECT p.tok AS token, p.true_cnt,
       CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS cms_est
FROM probes p LEFT JOIN counters c ON c.d = p.d AND c.idx = p.idx
GROUP BY 1, 2"""


@register(
    "corpus_token_cms",
    _CMS_ORACLE,
    survey_ids="LLM: count-min sketch frequency estimation (mergeable fixed-size summary)",
)
def q_corpus_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/sketch.py: build the D x W counter table over the
    whitespace token stream, then estimate every vocab token's count
    through it, reported next to the exact count.  The sketch is
    deterministic (md5 buckets), so the oracle reproduces collisions
    exactly; est >= true always, and the table stays D*W rows at any
    corpus size.  The counter build is persisted: the estimate probes
    it once per depth row."""
    from tg_reporting_etl_spark.functions import sketch as sk
    from tg_reporting_etl_spark.functions.persist import tracked_persist

    toks = _docs(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("true_cnt"))
    counters = tracked_persist(sk.cms_build(toks, "tok", CMS_W, CMS_D))
    est = sk.cms_estimate(freq.select("tok"), "tok", counters, CMS_W, CMS_D)
    return (
        freq.join(est, "tok")
        .select(F.col("tok").alias("token"), "true_cnt", "cms_est")
    )


TFIDF_TOP = 3

_TFIDF_ORACLE = f"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         ROUND(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
  FROM tf t JOIN df d USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(r AS INTEGER) AS term_rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS r
      FROM scored)
WHERE r <= {TFIDF_TOP}"""


@register(
    "doc_tfidf_topterms",
    _TFIDF_ORACLE,
    survey_ids="LLM: per-doc TF-IDF keyword extraction (smoothed idf, deterministic top-k)",
)
def q_doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tf from one (doc, term)
    aggregation, df from the type-bounded term table (broadcast), the
    corpus size as a one-row scalar broadcast, ranking by
    (rounded score DESC, term ASC) so float ulps cannot reorder.
    Smoothed idf = ln((N+1)/(df+1)) keeps corpus-wide terms finite."""
    from pyspark.sql import Window as W

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    df_tbl = toks.groupBy("term").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    n = _docs(spark, sf_dir).agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOP)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("term_rank").cast("int").alias("term_rank"))
    )


# ------------------------------------------------------------- text analysis

def _occ(needle: str) -> str:
    return f"(length(text) - length(replace(text, '{needle}', ''))) / {len(needle)}"


def _lang_oracle() -> str:
    langs = list(LANG_MARKERS)
    scores = ",\n       ".join(
        "(" + " + ".join(_occ(f" {m} ") for m in LANG_MARKERS[lang]) + f") AS s_{lang}" for lang in langs
    )
    cases = []
    for idx, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[idx + 1 :])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""SELECT doc_id, lang, {case_sql} AS lang_pred FROM (
  SELECT doc_id, lang, {scores}
  FROM documents
)"""


_REPETITION_ORACLE = """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS distinct_tokens,
       ROUND(1.0 - count(*) * 1.0 / sum(c), 6) + 0.0 AS dup_token_fraction,
       ROUND(max(c) * 1.0 / sum(c), 6) + 0.0 AS top_token_fraction
FROM freq GROUP BY doc_id"""


# Cross-document boilerplate: word trigrams shared by >= BP_MIN_DF
# distinct docs (C4/CCNet template-text detection), plus the per-doc
# fraction of gram instances that are boilerplate (Gopher signal —
# within-doc repetition is doc_repetition above).
BP_N, BP_MIN_DF = 3, 5

_BP_CTES = f"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+{BP_N - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - {BP_N - 1})) s(i)
),
gdf AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM grams GROUP BY 1)"""


def _gram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (gram, df) trigram document-frequency table — one gram
    agg per session, shared by both boilerplate queries (bounded by the
    gram-type space, so cheap to keep)."""
    return cached_df(
        spark,
        f"bp_gram_df|{sf_dir}",
        lambda: tx.gram_doc_frequency(tx.word_ngram_rows(_docs(spark, sf_dir), BP_N)),
    )


@register(
    "doc_boilerplate_ngrams",
    f"{_BP_CTES}\nSELECT gram, df FROM gdf WHERE df >= {BP_MIN_DF}",
    survey_ids="LLM: cross-doc boilerplate n-gram detection (C4/CCNet)",
)
def q_doc_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/text.py:boilerplate_ngrams — corpus trigrams shared by
    >= BP_MIN_DF distinct docs; output bounded by the gram-type space."""
    return tx.boilerplate_ngrams(
        _docs(spark, sf_dir), BP_N, BP_MIN_DF, gram_df=_gram_df(spark, sf_dir)
    )


@register(
    "doc_boilerplate_fraction",
    f"""{_BP_CTES}
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (d.df >= {BP_MIN_DF}) AS BIGINT) AS n_boiler,
       ROUND(count(*) FILTER (d.df >= {BP_MIN_DF}) * 1.0 / count(*), 6) + 0.0 AS boiler_frac
FROM grams g JOIN gdf d USING (gram)
GROUP BY g.doc_id""",
    survey_ids="LLM: per-doc cross-doc-duplication fraction (Gopher filter)",
)
def q_doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/text.py:boilerplate_fraction — fraction of each doc's
    gram instances whose corpus df >= BP_MIN_DF."""
    return tx.boilerplate_fraction(
        _docs(spark, sf_dir), BP_N, BP_MIN_DF, gram_df=_gram_df(spark, sf_dir)
    )


# Strided scale path of the boilerplate fraction: every BP_STRIDE-th
# gram start on BOTH the df and the instance side — the dominant
# word-trigram explode divides by the stride.  Deterministic sampling
# (fixed positions, not random), oracle-checked cross-engine at the
# sampled positions, so the approximation itself is verified, not just
# bounded.  This is the 10x+ probe default; the exact variant stands
# oracle-proven at sf0.01/sf0.1.
BP_STRIDE = 3

_BP_CTES_STRIDED = f"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+{BP_N - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - {BP_N - 1}, {BP_STRIDE})) s(i)
),
gdf AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM grams GROUP BY 1)"""


@register(
    "doc_boilerplate_fraction_strided",
    f"""{_BP_CTES_STRIDED}
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (d.df >= {BP_MIN_DF}) AS BIGINT) AS n_boiler,
       ROUND(count(*) FILTER (d.df >= {BP_MIN_DF}) * 1.0 / count(*), 6) + 0.0 AS boiler_frac
FROM grams g JOIN gdf d USING (gram)
GROUP BY g.doc_id""",
    survey_ids="LLM: per-doc cross-doc-duplication fraction, strided scale path",
)
def q_doc_boilerplate_fraction_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/text.py:boilerplate_fraction stride=BP_STRIDE — the
    deterministic-sampling scale path (explode rows / stride; df and
    instances share the stride so n_boiler/n_grams is a true fraction
    of the inspected positions)."""
    return tx.boilerplate_fraction(
        _docs(spark, sf_dir),
        BP_N,
        BP_MIN_DF,
        gram_df=cached_df(
            spark,
            f"bp_gram_df_strided|{sf_dir}",
            lambda: tx.gram_doc_frequency(
                tx.word_ngram_rows(_docs(spark, sf_dir), BP_N, BP_STRIDE)
            ),
        ),
        stride=BP_STRIDE,
    )


# Per-source token-length quantiles: the distribution report behind
# length-filter threshold choices.
_QUANTILES_ORACLE = """SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(nt, 0.5), 6) + 0.0 AS p50,
       ROUND(quantile_cont(nt, 0.9), 6) + 0.0 AS p90,
       ROUND(quantile_cont(nt, 0.99), 6) + 0.0 AS p99
FROM (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents)
GROUP BY 1"""


@register(
    "corpus_length_quantiles",
    _QUANTILES_ORACLE,
    survey_ids="LLM: per-source token-length quantile report (exact interpolated)",
)
def q_corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-7 interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`, bit-identical on integer inputs).  Exact
    percentile buffers each group's values — right for the bounded
    source key here; an unbounded group key at 100 TB swaps in
    `percentile_approx` (t-digest, mergeable) at the cost of the
    oracle's exactness (error-bound-tested in tests/test_approx.py
    style instead)."""
    nt = _docs(spark, sf_dir).select(
        "source", F.size(F.split("text", " ")).cast("long").alias("nt")
    )
    return nt.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.expr("percentile(nt, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(nt, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(nt, 0.99)"), 6).alias("p99"),
    )


# Vocab induction seed: the top-K corpus tokens by total frequency with
# deterministic (count DESC, token ASC) ranking — the baseline every
# subword tokenizer build starts from.  Scale shape: token-type-bounded
# partial agg, then one small top-k sort; the corpus row count never
# reaches the sort.
VOCAB_K = 256

_VOCAB_ORACLE = f"""SELECT token, cnt, rank FROM (
  SELECT token, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank
  FROM (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY 1
  )
) WHERE rank <= {VOCAB_K}"""


@register(
    "corpus_vocab_topk",
    _VOCAB_ORACLE,
    survey_ids="LLM: corpus vocab induction (top-K token frequencies)",
)
def q_corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-VOCAB_K tokens by corpus frequency, deterministically ranked.
    The explode is map-side; the agg is partial-combinable on the
    bounded token-type space; only the tiny (type, cnt) table sorts."""
    from pyspark.sql import Window as W

    toks = _docs(spark, sf_dir).select(F.explode(F.split("text", " ")).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    w = W.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= VOCAB_K)
        .select("token", "cnt", "rank")
    )


# Sequence packing: concatenate docs in doc_id order, chunk the token
# stream into SEQ_LEN blocks.  The Spark side uses the two-pass sharded
# prefix sum (functions/packing.py) — no single-partition window.
SEQ_LEN = 512

_PACKING_ORACLE = f"""WITH tok AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents
),
off AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM tok WHERE n_tokens > 0
),
spans AS (
  SELECT doc_id, n_tokens, start_off,
         CAST(start_off // {SEQ_LEN} AS BIGINT) AS start_seq,
         CAST((start_off + n_tokens - 1) // {SEQ_LEN} AS BIGINT) AS end_seq
  FROM off
),
exploded AS (
  SELECT doc_id, start_off, n_tokens, unnest(generate_series(start_seq, end_seq)) AS seq_id
  FROM spans
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEAST((seq_id + 1) * {SEQ_LEN}, start_off + n_tokens)
                - GREATEST(seq_id * {SEQ_LEN}, start_off)) AS BIGINT) AS n_tokens
FROM exploded GROUP BY 1"""


VOCAB_MOD = 32768

_PACK_IDS_ORACLE = f"""WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
cnt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok),
off AS (
  SELECT doc_id, CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM cnt
),
flat AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM tok, unnest(generate_series(1, len(t))) s(i)
),
g AS (
  SELECT CAST((o.start_off + f.pos) // {SEQ_LEN} AS BIGINT) AS seq_id,
         (o.start_off + f.pos) % {SEQ_LEN} AS wpos,
         CAST({_H32.format(s="'tok|' || tok")} % {VOCAB_MOD} AS BIGINT) AS tid
  FROM flat f JOIN off o USING (doc_id)
)
SELECT seq_id, CAST(count(*) AS BIGINT) AS n_tokens,
       array_to_string(list(tid ORDER BY wpos), '-') AS token_ids
FROM g GROUP BY 1"""


@register(
    "doc_packed_token_ids",
    _PACK_IDS_ORACLE,
    survey_ids="LLM: materialized packed token-id sequences (hash vocab)",
)
def q_doc_packed_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/packing.py:pack_token_ids — the materialization twin of
    doc_sequence_packing: every corpus token hashed into a VOCAB_MOD id
    and emitted inside its fixed-SEQ_LEN block, '-'-serialized in
    stream order (byte-identical across engines)."""
    from tg_reporting_etl_spark.functions import packing as pk

    return pk.pack_token_ids(_docs(spark, sf_dir), SEQ_LEN, VOCAB_MOD)


@register(
    "doc_sequence_packing",
    _PACKING_ORACLE,
    survey_ids="LLM: fixed-length sequence packing via distributed prefix sum",
)
def q_doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/packing.py:pack_sequences over whitespace token counts
    — per-sequence doc count and fill level, offsets via the two-pass
    sharded cumsum (the single-partition-window antipattern avoided)."""
    from tg_reporting_etl_spark.functions import packing as pk

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pk.pack_sequences(toks, SEQ_LEN)


@register(
    "doc_repetition",
    _REPETITION_ORACLE,
    survey_ids="LLM: repetition quality filter (dup-token / top-token fractions)",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style repetition stats (functions/text.py:
    repetition_stats) — the filter signal for templated/looping text."""
    return round_doubles(tx.repetition_stats(_docs(spark, sf_dir)))


@register("doc_lang_id", _lang_oracle(), survey_ids="LLM: n-gram-heuristic language id")
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.with_lang_id(_docs(spark, sf_dir)).select("doc_id", "lang", "lang_pred")


def _quality_oracle() -> str:
    stop = " + ".join(_occ(f" {w} ") for w in STOPWORDS)
    return f"""SELECT doc_id, n_tokens, n_bpe_tokens,
       ROUND(avg_token_len, 6) AS avg_token_len,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       ROUND(least(n_tokens / 100.0, 1.0) * 0.5
             + CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.5 THEN 0.5 ELSE 0.0 END,
             6) AS quality
FROM (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_bpe_tokens,
         (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0 / len(string_split(text, ' ')) AS avg_token_len,
         ({stop}) * 1.0 / len(string_split(text, ' ')) AS stopword_ratio
  FROM documents
)"""


@register("doc_quality", _quality_oracle(), survey_ids="LLM: quality scoring (length/stopword ratios)")
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tx.with_quality(_docs(spark, sf_dir))
    return round_doubles(
        d.select("doc_id", "n_tokens", "n_bpe_tokens", "avg_token_len", "stopword_ratio", "quality")
    )


def _best_rep_oracle() -> str:
    """Components CTE chain + the quality score as a subquery (reused
    verbatim from the doc_quality oracle so the two cannot drift), then
    a per-component arg-max with (quality DESC, doc_id ASC) tie-break —
    the same deterministic rule the Spark struct-max encodes."""
    return f"""{_COMPONENTS_CTES},
qual AS (SELECT doc_id, quality FROM ({_quality_oracle()}))
SELECT component_id, rep_doc_id, best_quality, n_members FROM (
  SELECT c.component_id, c.doc_id AS rep_doc_id, q.quality + 0.0 AS best_quality,
         CAST(count(*) OVER (PARTITION BY c.component_id) AS BIGINT) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rn
  FROM comp c JOIN qual q USING (doc_id)
) WHERE rn = 1"""


@register(
    "doc_dedup_best_rep",
    _best_rep_oracle(),
    survey_ids="LLM: quality-aware dup-cluster representative selection",
)
def q_doc_dedup_best_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/dedup.py:best_representatives over the capped pair
    graph — the curation step after clustering: keep the HIGHEST-quality
    member of each near-dup family, not the smallest id.  Quality is
    pre-rounded to 6 places in BOTH engines so arg-max ties resolve
    identically (ties then break to min doc_id)."""
    scored = tx.with_quality(_docs(spark, sf_dir)).select(
        "doc_id", F.round("quality", 6).alias("quality")
    )
    return dd.best_representatives(scored, components=_components(spark, sf_dir))


# End-to-end curation: quality floor + repetition ceiling + near-dup
# removal, per-source token budget.  Thresholds are SF-stable on the
# synthetic corpus (quality median ~0.28+stopband, dup-fraction median
# ~0.54 at every SF).
CURATE_MIN_QUALITY, CURATE_MAX_DUP = 0.3, 0.6


def _curation_oracle() -> str:
    return f"""{_COMPONENTS_CTES},
qual AS (SELECT doc_id, n_tokens, quality FROM ({_quality_oracle()})),
rep AS (SELECT doc_id, dup_token_fraction FROM ({_REPETITION_ORACLE})),
dropped AS (SELECT doc_id FROM comp WHERE doc_id != component_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens
FROM documents d
JOIN qual q USING (doc_id)
JOIN rep r USING (doc_id)
WHERE q.quality >= {CURATE_MIN_QUALITY} AND r.dup_token_fraction <= {CURATE_MAX_DUP}
  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY d.source"""


def _funnel_rollup(base_ctes: str) -> str:
    """Funnel-stage aggregation over a ``base(doc_id, n_tokens,
    quality, dup_token_fraction, is_dropped)`` CTE chain — ONE template
    shared by the nested full oracle and the sf0.1 consistency oracle
    so the stage logic cannot drift between the two checks.  Stage
    counts are MATERIALIZED once (DuckDB would otherwise re-evaluate
    the base chain per UNION branch — the 4x re-evaluation is what
    blew the spill cap at sf0.1 on the nested form)."""
    return f"""{base_ctes}
SELECT CAST(stage AS INTEGER) AS stage, stage_name,
       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
FROM (
  SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs, sum(n_tokens) AS n_tokens
  FROM base
  UNION ALL
  SELECT 1, 'quality', count(*), sum(n_tokens)
  FROM base WHERE quality >= {CURATE_MIN_QUALITY}
  UNION ALL
  SELECT 2, 'repetition', count(*), sum(n_tokens)
  FROM base WHERE quality >= {CURATE_MIN_QUALITY} AND dup_token_fraction <= {CURATE_MAX_DUP}
  UNION ALL
  SELECT 3, 'dedup', count(*), sum(n_tokens)
  FROM base WHERE quality >= {CURATE_MIN_QUALITY} AND dup_token_fraction <= {CURATE_MAX_DUP}
        AND NOT is_dropped
)"""


def _funnel_oracle() -> str:
    return _funnel_rollup(f"""{_COMPONENTS_CTES},
qual AS (SELECT doc_id, n_tokens, quality FROM ({_quality_oracle()})),
rep AS (SELECT doc_id, dup_token_fraction FROM ({_REPETITION_ORACLE})),
dropped AS (SELECT doc_id FROM comp WHERE doc_id != component_id),
base AS (
  SELECT d.doc_id, q.n_tokens, q.quality, r.dup_token_fraction,
         d.doc_id IN (SELECT doc_id FROM dropped) AS is_dropped
  FROM documents d JOIN qual q USING (doc_id) JOIN rep r USING (doc_id)
)""")


@register(
    "corpus_curation_funnel",
    _funnel_oracle(),
    survey_ids="LLM: curation funnel report (docs/tokens surviving each pipeline stage)",
)
def q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: how many docs/tokens survive each
    cumulative curation stage (raw -> quality floor -> repetition
    ceiling -> near-dup keeper) — the report a corpus owner reads
    before signing off a training mix.  ONE scan: all four stages are
    conditional aggregates over the same scored frame, unpivoted with
    stack (the events_quality_report shape); the component drop-list
    broadcasts."""
    docs = _docs(spark, sf_dir)
    q = tx.with_quality(docs).select(
        "doc_id", "n_tokens", F.round("quality", 6).alias("quality")
    )
    r = tx.repetition_stats(docs).select(
        "doc_id", F.round("dup_token_fraction", 6).alias("dup_token_fraction")
    )
    dropped = (
        _components(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("component_id"))
        .select("doc_id", F.lit(True).alias("is_dropped"))
    )
    base = (
        q.join(r, "doc_id")
        .join(F.broadcast(dropped), "doc_id", "left")
        .withColumn("is_dropped", F.coalesce("is_dropped", F.lit(False)))
    )
    f1 = F.col("quality") >= CURATE_MIN_QUALITY
    f2 = f1 & (F.col("dup_token_fraction") <= CURATE_MAX_DUP)
    f3 = f2 & ~F.col("is_dropped")
    conds = [(0, "raw", F.lit(True)), (1, "quality", f1), (2, "repetition", f2), (3, "dedup", f3)]
    aggs = []
    for i, _, c in conds:
        aggs.append(F.sum(F.when(c, 1).otherwise(0)).alias(f"n{i}"))
        aggs.append(F.sum(F.when(c, F.col("n_tokens")).otherwise(0)).alias(f"t{i}"))
    one = base.agg(*aggs)
    stack = ", ".join(f"{i}, '{name}', n{i}, t{i}" for i, name, _ in conds)
    return one.selectExpr(
        f"stack(4, {stack}) AS (stage, stage_name, n_docs, n_tokens)"
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "stage_name",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


@register(
    "corpus_curation",
    _curation_oracle(),
    survey_ids="LLM: end-to-end curation (quality + repetition + dedup) -> source budget",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/curation.py — the composition of three oracle-checked
    stages (doc_quality, doc_repetition, doc_dup_components) into the
    pipeline every pre-training corpus runs, emitting the per-source
    doc/token budget of the surviving corpus."""
    from tg_reporting_etl_spark.functions import curation as cu

    kept = cu.curate_corpus(
        _docs(spark, sf_dir),
        _components(spark, sf_dir),
        CURATE_MIN_QUALITY,
        CURATE_MAX_DUP,
    )
    return cu.corpus_budget(kept)


#: Consistency oracles for the two catalog rows whose NESTED DuckDB
#: oracle is intractable at sf0.1 on this box (the agreement mirror
#: inlines three dedup-family oracles into one SQL plan and spilled
#: >90 GB; the funnel's base CTE chain is re-evaluated per UNION branch
#: and blew a 30 GB spill cap).  At such sfs the verify harness checks
#: the SAME rollup SQL (shared template — _agreement_rollup /
#: _funnel_rollup — so the logic cannot drift from the nested oracle)
#: over the engine's CHANNEL RESULTS, registered as ``ch_<name>`` DuckDB
#: tables.  Every channel is its own catalog row, independently
#: full-hash-verified against its nested oracle AT THE SAME SF in the
#: same run, so DuckDB only aggregates already-proven tables — closing
#: the rows-only gap without asking the oracle engine to redo the
#: spill-heavy dedup work.  The nested full-hash proof still runs
#: unchanged at every sf where DuckDB can afford it (sf0.001/0.01).
CONSISTENCY_ORACLES: dict[str, dict] = {
    "doc_dedup_agreement": {
        "channels": (
            "doc_ngram_jaccard_dups",
            "doc_minhash_lsh_dups",
            "doc_simhash_dups",
        ),
        "sql": _agreement_rollup(
            "ch_doc_ngram_jaccard_dups",
            "ch_doc_minhash_lsh_dups",
            "ch_doc_simhash_dups",
        ),
    },
    "corpus_curation_funnel": {
        "channels": ("doc_quality", "doc_repetition", "doc_dup_components"),
        "sql": _funnel_rollup(
            """WITH base AS (
  SELECT q.doc_id, q.n_tokens, q.quality, r.dup_token_fraction,
         q.doc_id IN (SELECT doc_id FROM ch_doc_dup_components
                      WHERE NOT is_keeper) AS is_dropped
  FROM ch_doc_quality q JOIN ch_doc_repetition r USING (doc_id)
)"""
        ),
    },
}


#: STAGED nested oracles (r15): the SAME ground truth as the nested
#: one-statement forms above, but with the shared stages materialized
#: as DuckDB TEMP TABLES so each is evaluated ONCE — the one-statement
#: plans re-evaluated the whole CTE chain per branch/reference, which
#: is what spilled >90 GB (agreement) / blew the 30 GB cap (funnel) at
#: sf0.1.  Every staged table is built from the IDENTICAL SQL string
#: its own catalog row is full-hash-checked against, and the final
#: statement is the shared rollup template (_agreement_rollup /
#: _funnel_rollup), so neither the channel ground truth nor the rollup
#: logic can drift from the nested forms.  Unlike CONSISTENCY_ORACLES,
#: no engine result is an input: the check is 100% duck-side from base
#: parquet.  verify_local uses this as the PRIMARY mechanism at
#: DUCK_NESTED_INFEASIBLE keys; the consistency oracle remains the
#: recorded fallback if staging itself fails on a given box.
STAGED_ORACLES: dict[str, list[str]] = {
    "doc_dedup_agreement": [
        f"CREATE OR REPLACE TEMP TABLE stg_agr_jp AS {_NGRAM_ORACLE}",
        f"CREATE OR REPLACE TEMP TABLE stg_agr_mp AS {_minhash_oracle()}",
        f"CREATE OR REPLACE TEMP TABLE stg_agr_sh AS {_simhash_oracle()}",
        _agreement_rollup("stg_agr_jp", "stg_agr_mp", "stg_agr_sh"),
    ],
    "corpus_curation_funnel": [
        f"CREATE OR REPLACE TEMP TABLE stg_fun_comp AS {_COMPONENTS_ORACLE}",
        "CREATE OR REPLACE TEMP TABLE stg_fun_qual AS "
        f"SELECT doc_id, n_tokens, quality FROM ({_quality_oracle()})",
        "CREATE OR REPLACE TEMP TABLE stg_fun_rep AS "
        f"SELECT doc_id, dup_token_fraction FROM ({_REPETITION_ORACLE})",
        _funnel_rollup(
            """WITH base AS (
  SELECT q.doc_id, q.n_tokens, q.quality, r.dup_token_fraction,
         q.doc_id IN (SELECT doc_id FROM stg_fun_comp
                      WHERE doc_id != component_id) AS is_dropped
  FROM stg_fun_qual q JOIN stg_fun_rep r USING (doc_id)
)"""
        ),
    ],
}


@register(
    "doc_fingerprint",
    f"""SELECT doc_id,
       list_reduce(
         list_transform(string_split(text, ' '),
                        t -> {_H32.format(s="'fp|' || t")} % {dd.MOD31}),
         (a, b) -> (a * 31 + b) % {dd.MOD31}) AS fingerprint
FROM documents""",
    survey_ids="LLM: rolling-hash document fingerprint",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


# --------------------------------------------------------------- multimodal

@register(
    "media_metadata",
    """SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       upper(hex(encode(substr(text, 1, 8)))) AS header_hex,
       md5(text) AS checksum
FROM documents""",
    survey_ids="LLM: multimodal binary column + typed metadata",
)
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.media_metadata_expr(mm.attach_fake_media(_docs(spark, sf_dir)))


# ------------------------------------------- round-11 additions (text/plan)

# Unigram LM quality proxy (CCNet shape): per-doc mean -log2 p(token)
# under the corpus unigram distribution.  mean(-log2 p) = log2(total) -
# mean(log2 cnt), so the only float summation is over log2 of exact
# integer counts — same expression both engines, rounded to 6.
@register(
    "doc_unigram_logprob",
    """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
),
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tf)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(log2(tot.total) - AVG(log2(f.cnt)), 6) + 0.0 AS neg_log2p
FROM toks t JOIN tf f USING (tok), tot
GROUP BY t.doc_id, tot.total""",
    survey_ids="LLM: unigram-LM quality proxy (CCNet perplexity-filter shape)",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/text.py:unigram_logprob — token explode (fan-out
    guarded) -> vocab-bounded frequency table -> broadcast join back ->
    one per-doc aggregate.  At 100 TB the frequency table stays
    vocabulary-bounded; the corpus shuffles once, keyed by doc_id."""
    return tx.unigram_logprob(_docs(spark, sf_dir))


# Token-budget mixture planning: fixed budget, per-source sampling
# rates, EXPLICIT shortfall where the corpus cannot supply its share.
# Weights chosen so both regimes appear at every sf: src0 undersubscribed
# (rate < 1), src1/src2 oversubscribed (rate 1.0 + shortfall) — the
# budget is half the corpus's total tokens, so regimes are sf-invariant.
TOKEN_MIX_WEIGHTS = {"src0": 0.02, "src1": 0.38, "src2": 0.6}

_TOKEN_MIX_VALUES = ", ".join(
    f"('{k}', {v})" for k, v in sorted(TOKEN_MIX_WEIGHTS.items())
)


@register(
    "corpus_token_mixture_plan",
    f"""WITH tot AS (
  SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) // 2 AS budget
  FROM documents WHERE text IS NOT NULL
),
w(source, wt) AS (VALUES {_TOKEN_MIX_VALUES}),
b AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL GROUP BY 1
),
j AS (
  SELECT w.source, w.wt, COALESCE(b.n, 0) AS avail_tokens
  FROM w LEFT JOIN b USING (source) WHERE w.wt > 0
)
SELECT source, avail_tokens,
       ROUND(wt, 6) + 0.0 AS target_weight,
       CAST(floor(wt * budget) AS BIGINT) AS target_tokens,
       ROUND(LEAST(1.0, COALESCE(floor(wt * budget) / nullif(avail_tokens, 0), 1.0)), 6)
         + 0.0 AS sampling_rate,
       GREATEST(CAST(0 AS BIGINT), CAST(floor(wt * budget) AS BIGINT) - avail_tokens)
         AS shortfall_tokens
FROM j, tot""",
    survey_ids="LLM: token-budget mixture plan with shortfall accounting",
)
def q_corpus_token_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions/sampling.py:token_mixture_plan — one map-side-partial
    token-count agg per source, then literal arithmetic on a
    sources-sized table.  The budget (corpus total // 2) is a one-row
    scalar collect: plan-time configuration, not a data-sized pull."""
    from tg_reporting_etl_spark.functions import sampling as sp

    docs = _docs(spark, sf_dir)
    total = (
        docs.filter(F.col("text").isNotNull())
        .agg(F.sum(F.size(F.split("text", " "))).cast("long"))
        .first()[0]
    )
    return sp.token_mixture_plan(docs, TOKEN_MIX_WEIGHTS, int(total) // 2)
