"""Document deduplication operators (BASELINE north star: LLM-data layer).

All operators are pure DataFrame compositions — shuffles only where the
algorithm requires key co-location, hashes are md5-derived so results
are deterministic across partitionings and replayable by the DuckDB
oracle.

Scale notes (100 TB design):
- exact dedup: one hash-shuffle on a 16-byte digest, not the full text.
- shingle/jaccard: the pair join is keyed on shingles; frequency-skewed
  shingles are the classic hot key -> AQE skew split handles it, and
  minhash-LSH replaces the all-pairs join with a (doc, band-key) join
  whose fan-out is bounded by the band count.
- simhash: 64-bit signatures banded by pigeonhole (4 bands x 16 bits,
  65,536 buckets per band), so every pair within hamming distance 3
  shares at least one intact band — the band join is *lossless* for the
  d<=3 predicate while scanning ~n·4 rows instead of n².
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tg_reporting_etl_spark.functions.fanout import fan_out
from tg_reporting_etl_spark.functions.persist import tracked_persist

MOD31 = 2147483647  # 2^31 - 1, keeps rolling-hash arithmetic in int64


def h32(col: Column) -> Column:
    """First 8 md5 hex chars as unsigned 32-bit int (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def salt_constant(i: int) -> int:
    """Deterministic 32-bit salt constant for the minhash xor family —
    computed with hashlib so the oracle SQL embeds the same literal."""
    import hashlib

    return int(hashlib.md5(f"mhsalt|{i}".encode()).hexdigest()[:8], 16)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content digest: keeper = min doc_id per text.

    Groups by md5(text) so the shuffle key is 16 bytes regardless of
    document size.  NULL text drops (md5(NULL) is NULL — without the
    guard every null-text row would cluster into one bogus "duplicate"
    family; matches the text family's contract).
    """
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").cast("long").alias("n_copies"))
    )


def char_shingles(docs: DataFrame, k: int = 5) -> DataFrame:
    """Distinct character k-grams per document -> (doc_id, shingle).

    Per-doc dedup happens row-locally (``array_distinct`` over the
    generated array) — a document's shingles never leave the row they
    were generated from, so this is a pure narrow map with NO shuffle,
    unlike explode-then-``.distinct()`` which would shuffle the full
    doc×shingle fan-out (the dominant intermediate at corpus scale).
    """
    arr = F.expr(
        f"array_distinct(transform(sequence(1, length(text) - {k - 1}), i -> substr(text, i, {k})))"
    )
    # shingling is CPU-bound (k·len(text) substrings + a per-row hash
    # set), so a compact scan (one small parquet file -> one partition)
    # would serialize it; spread the docs across the cluster first.
    # Split count from scan-split arithmetic (functions/fanout.py), no
    # RDD conversion; no-op when the scan already has enough partitions
    # (the 100 TB case — never add a shuffle there).
    docs = fan_out(docs)
    return (
        docs.filter(F.length("text") >= k)
        .select("doc_id", F.explode(arr).alias("shingle"))
    )


def jaccard_pairs(shingles: DataFrame, tau: float) -> DataFrame:
    """All-pairs shingle Jaccard >= tau (exact n-gram dedup).

    Pairs materialize only for docs sharing at least one shingle; the
    intersection count and set sizes are exact, so jaccard is an exact
    rational — bit-identical across engines.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
    )


def discriminative_shingles(shingles: DataFrame, max_df: int, key: str = "shingle") -> DataFrame:
    """Shingles with document frequency <= max_df (stop-shingle pruning).

    High-df shingles are the hot keys that blow the candidate join up to
    ~sum(df²) rows (billions on a shared-vocabulary corpus); they carry
    no dedup signal — every near-identical pair also shares low-df
    shingles (the word-boundary k-grams specific to its word order).
    Candidate generation over the df-capped set is the standard
    web-dedup optimization; the jaccard itself stays over full sets.
    ``key`` is the shingle column — pass "h" to run the df-count and
    join shuffles on 8-byte hashes instead of strings.
    """
    df_counts = shingles.groupBy(key).agg(F.count("*").alias("_df"))
    return shingles.join(df_counts.filter(F.col("_df") <= max_df), key).select("doc_id", key)


def shingle_novelty(shingles: DataFrame, key: str = "h") -> DataFrame:
    """Per-doc novelty: of a doc's DISTINCT k-gram shingles, the
    fraction that occur in NO other document (corpus df == 1).

    The inverse signal of boilerplate_fraction: high-novelty docs carry
    content the corpus does not already have, the ranking key of
    diversity-aware sampling and active-curation loops ("add the most
    novel documents first").  Because the shingle table is distinct per
    (doc, shingle), corpus df == row count per shingle.

    Plan: one df aggregate over the shared shingle-hash table (8-byte
    ``key``, the same shuffle class every dedup operator pays), one
    h-key join back, one per-doc aggregate — linear, no pair space.
    Docs with no shingles (text shorter than k / NULL) do not appear,
    matching the shingle family's base contract.
    Returns (doc_id, n_shingles, n_novel, novelty_fraction)."""
    df_counts = shingles.groupBy(key).agg(F.count("*").alias("_df"))
    return (
        shingles.join(df_counts, key)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty_fraction"),
        )
    )


def candidate_pairs(shingles: DataFrame, key: str = "shingle") -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one shingle."""
    a, b = shingles.alias("a"), shingles.alias("b")
    return (
        a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def hash_shingles(shingles: DataFrame) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, h): 60-bit md5-derived longs.

    The compact internal representation every downstream dedup shuffle
    runs on — 8-byte keys instead of k-char strings.  Injective up to
    2^-60 collisions, so string-set semantics (and the string-based
    DuckDB oracle) are preserved.  A frame that already carries ``h``
    (see :func:`shingle_hashes`) passes through untouched.
    """
    if "h" in shingles.columns:
        return shingles.select("doc_id", "h")
    return shingles.select("doc_id", F.xxhash64("shingle").alias("h"))


def shingle_hashes(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-doc distinct k-gram hashes: (doc_id, h, mh) — all longs.

    One narrow pass computes both hash views every dedup operator
    consumes: ``h`` (xxhash64 — internal set identity for jaccard,
    never seen by the oracle, so the fast native hash is safe) and
    ``mh`` (32-bit md5 'mh|' hash — the minhash base, which DEFINES
    the LSH result and must match the oracle's md5 bit-for-bit).
    Caching THIS instead of the string shingle table keeps the shared
    persisted intermediate at 24 bytes/row with no string churn — the
    strings never outlive the row they were generated in.
    """
    sh = char_shingles(docs, k)
    return sh.select(
        "doc_id",
        F.xxhash64("shingle").alias("h"),
        h32(F.concat_ws("|", F.lit("mh"), F.col("shingle"))).alias("mh"),
    )


#: dense-bitmap verify is allowed only while the dictionary stays small
#: enough for a broadcast join and a single-partition rank window.
_DENSE_MAX_V = 1 << 16


def _jaccard_on_hashed(
    hashed: DataFrame, pairs: DataFrame, tau: float, dense: bool | None = None
) -> DataFrame:
    """Exact full-set Jaccard >= tau for the given candidate pairs only.

    Each doc's shingle-hash set is collected ONCE into an array of
    longs (carrying strings per pair is a GC storm at |pairs| scale),
    and the pair list hash-joins that set table twice on doc_id; the
    intersection is a per-row ``array_intersect`` over primitive longs
    — no exploded pairs×shingles fan-out, no shuffle proportional to
    shingle volume.  A size-compatibility prune runs first: J >= tau
    forces tau·max(|A|,|B|) <= min(|A|,|B|), so wildly different-sized
    pairs never pay for an intersect.  This is the shape that survives
    a 100 TB corpus: array size is bounded by doc length, pair count
    by the candidate generator, per-pair payload is 8 B per shingle.

    Representation is ADAPTIVE: when the distinct-shingle vocabulary V
    fits in no more memory than the average set array (V <= 64·avg|S|,
    and V <= 2^16), each set is dictionary-encoded into a dense bitmask
    of longs and the per-pair intersection becomes
    ``sum(bit_count(a & b))`` — pure integer ops, no per-pair hash-set
    build.  That is exactly the low-entropy/templated-corpus regime
    where candidate counts explode (no shingle is rare), so the cheap
    verify lands where it is needed most.  Real-text corpora have
    V ~ corpus size, fail the gate, and keep the array path — the gate
    costs one aggregate pass over the already-persisted compact sets.
    Both representations compute the identical exact Jaccard.
    """
    # persisted: referenced once per join side below, and the renamed
    # projections defeat exchange reuse — without this the collect_set
    # shuffle over the full shingle volume runs twice
    sets = tracked_persist(hashed.groupBy("doc_id").agg(F.collect_set("h").alias("hs")))
    # one action on the persisted frame prices the broadcast decision
    # and the dense-verify gate: Catalyst's size estimate for a
    # collect_set aggregate is too conservative to auto-broadcast,
    # leaving both set joins as sort-merge with array_intersect
    # evaluated (twice!) inside the interpreted join condition — the
    # dominant cost of the verify.
    ex = sets.select("doc_id", F.explode("hs").alias("h"))
    stats = ex.agg(
        F.countDistinct("doc_id").alias("n"),
        F.count("*").alias("tot"),
        F.approx_count_distinct("h").alias("v_est"),
    ).first()
    n_docs, tot = stats.n, stats.tot or 0
    small = tot > 0 and tot * 8 + n_docs * 64 < 64 * 2**20
    _b = F.broadcast if small else (lambda df: df)

    # dense=None → self-gate; an explicit bool forces the representation
    # (tests prove both compute the identical exact Jaccard either side
    # of the boundary)
    if dense is None:
        dense = tot > 0 and stats.v_est * 1.2 <= min(64 * tot / n_docs, _DENSE_MAX_V)
    if dense and tot > 0:
        return _verify_dense(sets, ex, pairs, tau, _b)

    # size-compat prune on a SLIM (doc_id, n) projection BEFORE any
    # array payload moves: J >= tau forces tau·max(|A|,|B|) <= min.
    sz_a = _b(sets.select(F.col("doc_id").alias("doc_a"), F.size("hs").alias("na")))
    sz_b = _b(sets.select(F.col("doc_id").alias("doc_b"), F.size("hs").alias("nb")))
    compat = (
        pairs.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .filter(F.least("na", "nb") >= F.lit(tau) * F.greatest("na", "nb"))
    )

    a = _b(sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")))
    b = _b(sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")))
    c = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        compat.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("c", c)
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
    )


def _verify_dense(sets: DataFrame, ex: DataFrame, pairs: DataFrame, tau: float, _b) -> DataFrame:
    """Dense-bitmask exact-Jaccard verify (small-vocabulary regime).

    Dictionary-encode every distinct shingle hash to a position, pack
    each doc's set into ``ceil(V/64)`` longs with a two-level bit_or
    aggregation (all JVM-side), then score each candidate pair with
    ``aggregate(zip_with(bm_a, bm_b, bit_count(x & y)))`` — constant
    ~V/64 integer ops per pair instead of an O(|A|+|B|) hash-set
    intersect.  Gated by the caller so V is bounded (dict broadcast and
    the rank window stay trivially small).
    """
    # Dictionary positions WITHOUT a global window: the distinct
    # vocabulary is caller-gated small (it must broadcast below), so
    # packing it into one sorted array and posexploding gives the same
    # dense 0-based ids as row_number()-1 with no WindowExec — and no
    # "No Partition Defined" warning whose boundedness a reader would
    # have to re-verify.
    dict_df = (
        ex.select("h")
        .distinct()
        .agg(F.sort_array(F.collect_list("h")).alias("_hs"))
        .select(F.posexplode("_hs").alias("pos", "h"))
    )
    v = dict_df.count()
    nwords = (v + 63) // 64
    words = (
        ex.join(F.broadcast(dict_df), "h")
        .groupBy("doc_id", F.expr("pos div 64").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, pos % 64))").alias("wd"))
    )
    bitmaps = tracked_persist(
        words.groupBy("doc_id")
        .agg(F.map_from_arrays(F.collect_list("w"), F.collect_list("wd")).alias("m"))
        .select(
            "doc_id",
            F.expr(f"transform(sequence(0, {nwords - 1}), w -> coalesce(m[w], 0L))").alias("bm"),
        )
        .withColumn("n", F.expr("aggregate(bm, 0, (acc, x) -> acc + bit_count(x))"))
    )
    a = _b(bitmaps.select(F.col("doc_id").alias("doc_a"), F.col("bm").alias("bm_a"), F.col("n").alias("na")))
    b = _b(bitmaps.select(F.col("doc_id").alias("doc_b"), F.col("bm").alias("bm_b"), F.col("n").alias("nb")))
    c = F.expr("aggregate(zip_with(bm_a, bm_b, (x, y) -> bit_count(x & y)), 0, (acc, x) -> acc + x)")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.least("na", "nb") >= F.lit(tau) * F.greatest("na", "nb"))
        .withColumn("c", c)
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
    )


def _tau_fraction(tau: float) -> tuple[int, int]:
    """``tau`` as a SMALL-denominator rational (p, q), rounded DOWN.

    ``Fraction(str(tau))`` alone can yield astronomically large p, q for
    long-decimal taus (tau=1/3 arriving as 0.3333333333333333 gives
    q = 10**16), and the integer filter forms ``ub·(p+q)`` /
    ``p·(na+nb)`` would then overflow int64 for large docs — silently
    wrapping under non-ANSI mode and turning the "lossless" length /
    positional filters lossy.  ``limit_denominator(10**6)`` keeps p+q
    small (|tau - p/q| < 1/q·10**6, far below any meaningful similarity
    resolution); when the nearest small fraction lands ABOVE tau we
    instead truncate at a fixed 10**6 denominator — guaranteed <= tau
    with error < 1e-6 — because subtracting 1/q at a SMALL q (e.g. the
    1/3 that limit_denominator finds for 0.3333...) would collapse tau
    to near zero and degenerate the prefix/positional pruning to
    brute force.  A slightly smaller tau only LENGTHENS prefixes and
    WEAKENS the pruning thresholds, preserving losslessness, while a
    larger one could prune true pairs.  The exact-verify stage still
    filters on the caller's float tau, so results are unchanged.

    Supported range is tau in [1e-6, 1].  A tau below 1e-6 is REJECTED
    rather than clamped: the old p>=1 clamp produced an effective
    threshold 1/10**6 that is GREATER than such a tau, so on corpora
    with ~10**6-shingle documents the prefix/length/positional filters
    could prune a true pair with jaccard in [tau, 1e-6) — and the
    exact-verify stage cannot recover a pruned candidate.  Rejecting is
    honest; a caller that truly wants "keep every pair" should not be
    routing through threshold-pruned PPJoin at all.
    """
    from fractions import Fraction

    if tau < 1e-6:
        raise ValueError(
            f"tau={tau!r} below supported minimum 1e-6: the integer filter "
            "arithmetic cannot represent it losslessly (an effective "
            "threshold of 1/10**6 would exceed tau and prune true pairs "
            "on >=1e6-shingle docs). Use tau >= 1e-6, or an unpruned "
            "pairing path for keep-every-pair semantics."
        )
    exact = Fraction(str(tau))
    frac = exact.limit_denominator(10**6)
    if frac > exact:
        frac = Fraction(int(exact * 10**6), 10**6)
    if frac.numerator < 1:
        frac = Fraction(1, 10**6)
    return frac.numerator, frac.denominator


def _prefix_frame(hashed: DataFrame, tau: float) -> DataFrame:
    """Per-doc rarity-ordered prefix elements: (doc_id, h, pos, n).

    Under any global total order on shingles, J(A,B) >= tau forces
    |A∩B| >= ceil(tau·|A|), so the first ``|A| - ceil(tau·|A|) + 1``
    elements of A must contain a common element (likewise for B): pairs
    whose prefixes are disjoint cannot qualify.  Ordering the universe
    by ASCENDING document frequency puts the RAREST shingles in every
    prefix, so the candidate join runs on low-df keys.  ``pos`` is the
    element's 0-based position in the doc's full rarity-sorted set and
    ``n`` the set size — the inputs of the positional filter.

    The prefix length uses exact integer arithmetic (tau as a rational
    p/q: ceil(tau·n) = (p·n + q - 1) div q) — float ceil(0.8·n) is off
    by one exactly when 0.8·n rounds up across an integer, which would
    silently shorten prefixes and break the guarantee.
    """
    p, q = _tau_fraction(tau)

    dfc = hashed.groupBy("h").agg(F.count("*").alias("_df"))
    by_rarity = hashed.join(dfc, "h").select("doc_id", F.struct("_df", "h").alias("_o"))
    return (
        by_rarity.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("_o")).alias("_s"), F.count("*").alias("_n"))
        .select(
            "doc_id",
            F.posexplode(
                F.slice(
                    F.transform("_s", lambda x: x["h"]),
                    F.lit(1),
                    # exact int64 arithmetic — float division here is off
                    # by one exactly when tau·n crosses an integer
                    F.col("_n") - F.expr(f"(_n * {p} + {q - 1}) div {q}") + 1,
                )
            ).alias("pos", "h"),
            F.col("_n").alias("n"),
        )
    )


def _positional_candidates(prefixes: DataFrame, tau: float) -> DataFrame:
    """Prefix-join candidates pruned by PPJoin's POSITIONAL filter.

    J(A,B) >= tau forces overlap o >= ceil(p·(|A|+|B|)/(p+q)) (tau as
    p/q).  A match on prefix element at 0-based positions (i, j) bounds
    the overlap: every common element sits at position >= i in A and
    >= j in B under the shared global order, so
    o <= 1 + min(|A|-i-1, |B|-j-1).  Keeping a pair only when the MAX
    of that bound over its prefix matches reaches the overlap threshold
    is lossless (the bound for the first common element always covers
    the true overlap) while pruning same-rare-shingle pairs whose match
    sits too deep to qualify — candidates that the plain prefix join
    would send to the (more expensive) exact verify.

    Both filters are applied PER ROW, BEFORE the pair groupBy, so the
    pruned rows never enter the shuffle feeding the aggregation:

    - PPJoin length filter: o <= min(na, nb), so a qualifying pair
      needs ``least(na, nb) * (p + q) >= p * (na + nb)`` — pure int
      arithmetic, no division, evaluated first in the conjunction.
    - Positional filter per row: a pair survives the max-based
      formulation iff SOME prefix match has ub >= alpha, which is
      exactly "keep rows with ub >= alpha, then dedup pairs" — same
      surviving pair set, strictly less data shuffled (the alpha
      threshold depends only on (na, nb), available per row; ub <=
      min(na, nb) also makes this subsume the length filter, kept for
      its cheaper short-circuit).

    The remaining groupBy is a bare pair-key dedup (no carried
    aggregates), so the shuffle rows are two ids wide.
    """
    p, q = _tau_fraction(tau)

    a, b = prefixes.alias("a"), prefixes.alias("b")
    na, nb = F.col("a.n").cast("long"), F.col("b.n").cast("long")
    ub = 1 + F.least(na - F.col("a.pos") - 1, nb - F.col("b.pos") - 1)
    # integer form of ub >= alpha = ceil(p·(na+nb)/(p+q)):
    # for integer ub,  ub >= ceil(x/m)  ⟺  ub·m >= x  — no division.
    positional_ok = ub * F.lit(p + q) >= F.lit(p) * (na + nb)
    length_ok = F.least(na, nb) * F.lit(p + q) >= F.lit(p) * (na + nb)
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(length_ok & positional_ok)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def prefix_filter_candidates(hashed: DataFrame, tau: float) -> DataFrame:
    """LOSSLESS candidate pairs for Jaccard >= tau via prefix filtering
    (Bayardo et al. AllPairs / Xiao et al. PPJoin, incl. the positional
    filter).

    See :func:`_prefix_frame` for the pruning argument — sum(df²) over
    prefix elements is orders of magnitude below the raw shingle join
    on natural text, with zero lost pairs (unlike a df-cap, which
    silently drops pairs whose overlap happens to sit in frequent
    shingles) — and :func:`_positional_candidates` for the positional
    prune on top.
    """
    return _positional_candidates(_prefix_frame(hashed, tau), tau)


#: self-pricing gate defaults for :func:`ngram_jaccard_dedup` — the
#: candidate join may produce at most ``max(n_docs * PER_DOC, FLOOR)``
#: rows before the operator reroutes.  64 candidates/doc is the classic
#: web-dedup working assumption (scale-linear); the 1M floor keeps tiny
#: corpora from tripping the gate when even brute force is trivial.
_CAND_BUDGET_PER_DOC = 64
_CAND_BUDGET_FLOOR = 1 << 20


def _candidate_path(est: int, n_docs: int, budget: int) -> str:
    """Pure gate decision: 'prefix' | 'allpairs' | 'lsh'.

    ``est`` is the EXACT row count the prefix candidate join would
    produce (sum over prefix keys of C(df_p, 2)); ``allpairs`` is the
    n·(n-1)/2 brute-force candidate set (still exact verify, cheaper
    than a degenerate prefix join); 'lsh' is the bounded-candidate
    fallback for corpora too big to brute-force.
    """
    npairs = n_docs * (n_docs - 1) // 2
    if est <= budget and est <= npairs:
        return "prefix"
    if npairs <= budget:
        return "allpairs"
    # here est > budget (est <= budget implies one of the branches above:
    # est <= npairs fires 'prefix', else npairs < est <= budget fires
    # 'allpairs'), so only the bounded-candidate fallback remains
    return "lsh"


def ngram_jaccard_dedup(
    docs: DataFrame,
    tau: float,
    k: int = 5,
    shingles: DataFrame | None = None,
    on_blowup: str = "error",
    candidate_budget_per_doc: int = _CAND_BUDGET_PER_DOC,
    budget_floor: int = _CAND_BUDGET_FLOOR,
    path_sink: dict | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup with a SELF-PRICING candidate gate.

    Candidate generation defaults to the lossless prefix filter
    (:func:`prefix_filter_candidates`), which on natural-text corpora
    equals the O(n²) all-pairs scan at a fraction of the cost.  On a
    low-entropy corpus (tiny vocabulary — templated/boilerplate-heavy
    web data, or the synthetic test documents) no shingle is rare and
    the prefix join degrades toward n²; rather than silently running
    that regime, the operator PRICES the join first: one aggregate over
    the prefix df distribution yields the EXACT number of rows the
    candidate join would produce (sum of C(df_p, 2)).  Against a
    scale-linear budget (``max(n_docs · candidate_budget_per_doc,
    budget_floor)``) it then picks, via :func:`_candidate_path`:

    - ``prefix``   — within budget: the lossless scale path (result ==
      brute force, guaranteed).
    - ``allpairs`` — prefix join degenerate but n·(n-1)/2 itself fits
      the budget: brute-force candidates + exact verify.  Still EXACT —
      a degenerate prefix join on a small corpus is strictly worse than
      honest brute force.
    - ``lsh``      — corpus both low-entropy AND too big to brute-force:
      behavior set by ``on_blowup``.  ``"error"`` (the DEFAULT) raises,
      naming the explicit opt-ins — an operator documented as exact
      must not silently change its recall contract with scale.
      ``"lsh"`` (explicit opt-in) reroutes to MinHash-LSH candidates +
      exact full-set Jaccard verify — every REPORTED pair is exact, but
      recall dips below 1 for pairs near tau (16 hashes / 4 bands:
      P(candidate) = 1-(1-J^4)^4, ≈0.87 at J=0.8, →1 as J→1; measured
      255/256 on the sf0.1 corpus, regression-guarded by an asserted
      recall floor in tests/test_llm_layer.py).
      ``"force"`` bypasses the gate entirely and always runs the
      lossless prefix join (pre-gate behavior, any cost).

    The pricing pass costs one linear prefix build (paid anyway on the
    happy path — it is persisted and reused by the candidate join) plus
    two aggregates over that persisted frame; the quadratic join itself
    is never started in a blow-up regime.  Pass a (persisted)
    ``shingles`` frame to share the explode+distinct shuffle with other
    dedup queries; ``path_sink`` (a dict) receives the chosen path and
    pricing stats for tests/observability.

    KNOWN-ZERO BUDGET short-circuit (r17 verdict task 3): when both
    budget knobs are <= 0 the budget is 0 before any data is read, and
    a zero budget admits no candidate join — pricing could only ever
    confirm the reroute.  (est >= 1 > 0 on any corpus where two docs
    share a prefix shingle; a corpus where none do has NO pairs with
    J >= tau — the prefix filter is lossless — so the 'prefix' branch
    the old gate picked there and the LSH reroute both return empty.)
    So the prefix frame is never built and its three pricing jobs
    (df groupBy + rarity sort + two blocking aggregates over the full
    shingle volume) never run: ~2.3 s off the ``doc_ngram_jaccard_lsh``
    catalog row at sf0.1 with a hash-identical result.  ``path_sink``
    then records ``pricing_skipped: True`` with est/n_docs None.
    """
    sh = char_shingles(docs, k) if shingles is None else shingles
    if candidate_budget_per_doc <= 0 and budget_floor <= 0 and on_blowup != "force":
        if on_blowup == "error":
            raise ValueError(
                "ngram_jaccard_dedup: candidate budget is zero (candidate_budget_per_doc"
                " <= 0 and budget_floor <= 0), so no candidate join can fit and every"
                " corpus reroutes. Use ngram_jaccard_dedup_capped (df-capped"
                " approximation) or pass on_blowup='lsh' for LSH candidates + exact"
                " verify."
            )
        if path_sink is not None:
            path_sink.update(
                path="lsh", est=None, n_docs=None, budget=0, pricing_skipped=True
            )
        return _jaccard_on_hashed(hash_shingles(sh), minhash_candidates(sh), tau)
    # hash_shingles over the shared persisted shingle table is a pure
    # projection — each consumer below re-reads the cached rows, so no
    # extra persist tier is needed here
    hashed = hash_shingles(sh)

    prefixes = tracked_persist(_prefix_frame(hashed, tau))
    est_row = (
        prefixes.groupBy("h")
        .agg(F.count("*").alias("dfp"))
        .agg(F.sum(F.expr("dfp * (dfp - 1) div 2")).alias("est"))
        .first()
    )
    est = int(est_row.est or 0)
    ids = prefixes.select("doc_id").distinct()
    n_docs = ids.count()
    budget = max(n_docs * candidate_budget_per_doc, budget_floor)
    path = _candidate_path(est, n_docs, budget)
    if on_blowup == "force":
        path = "prefix"  # lossless prefix join at any cost, gate bypassed
    if path_sink is not None:
        path_sink.update(path=path, est=est, n_docs=n_docs, budget=budget)

    if path == "prefix":
        pairs = _positional_candidates(prefixes, tau)
    elif path == "allpairs":
        a, b = ids.alias("a"), ids.alias("b")
        pairs = a.join(
            F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id")
        ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    else:
        if on_blowup == "error":
            prefixes.unpersist()
            raise ValueError(
                f"ngram_jaccard_dedup: prefix-filter candidate join would produce "
                f"~{est:,} rows for {n_docs:,} docs (budget {budget:,}) — the corpus "
                f"is in the low-entropy quadratic regime and too large to brute-force. "
                f"Use ngram_jaccard_dedup_capped (df-capped approximation) or pass "
                f"on_blowup='lsh' for LSH candidates + exact verify."
            )
        prefixes.unpersist()  # pricing-only; free the blocks eagerly
        pairs = minhash_candidates(sh)
    return _jaccard_on_hashed(hashed, pairs, tau)


#: default CONSTANT df cap — bounds worst-case candidates at
#: #shingles * C(max_df, 2) regardless of corpus size
_CAPPED_MAX_DF = 250


def ngram_jaccard_dedup_capped(
    docs: DataFrame,
    tau: float,
    k: int = 5,
    *,
    max_df: int = _CAPPED_MAX_DF,
    shingles: DataFrame | None = None,
    max_df_divisor: int | None = None,
) -> DataFrame:
    # keyword-only after k: the 4th positional slot used to mean
    # max_df_divisor (divisor, default 20) and now means max_df (an
    # absolute cap) — a legacy positional call like f(docs, tau, 5, 20)
    # would silently get max_df=20 instead of n//20; forcing keywords
    # makes such calls fail loudly instead of changing semantics.
    """n-gram Jaccard near-dup with df-capped candidate generation.

    The cap is an APPROXIMATION: a pair whose shared shingles are all
    high-df generates no candidate (max_df=250 keeps 213/243 of the
    exact pairs on the sf0.1 corpus; tightening loses more).
    Throughput-optimal on low-entropy corpora where the lossless prefix
    filter (:func:`ngram_jaccard_dedup`) has no rare shingles to
    exploit.

    Scale posture: the default cap is CONSTANT, so worst-case
    candidates are bounded at #shingles * C(max_df, 2) — growing
    LINEARLY with the corpus, never with its duplication factor.  The
    earlier corpus-growing default (max_df = n_docs // 20) made
    worst-case candidates ~quadratic in dup factor: the sf1.0 derived
    probe (10x-replicated sf0.1) measured 104M candidate slots / 63 s
    under n//20 vs 1.9M slots under the constant 250 — at the SAME
    retained-pair quality at sf0.1, where 250 == n//20.  The old
    behavior remains an explicit opt-in via ``max_df_divisor`` (then
    max_df = n_docs // max_df_divisor, integer math so the SQL oracle
    computes the identical cap).
    """
    if max_df_divisor is not None:
        max_df = docs.count() // max_df_divisor
    sh = char_shingles(docs, k) if shingles is None else shingles
    hashed = hash_shingles(sh)
    # persisted: the candidate self-join references disc twice, which
    # would otherwise run the df-count shuffle + join twice
    disc = tracked_persist(discriminative_shingles(hashed, max_df, key="h"))
    return _jaccard_on_hashed(hashed, candidate_pairs(disc, key="h"), tau)


def minhash_signatures(shingles: DataFrame, n_hashes: int = 16) -> DataFrame:
    """(doc_id, m0..m{n-1}) MinHash signature table.

    Signature h_i(doc) = min over shingles of md5int('mh|shingle') XOR
    C_i (salt constants themselves md5-derived) — one md5 per shingle,
    all n signatures out of ONE aggregation pass: no exploded shuffle,
    no n× md5 cost.  This is the unit the streaming near-dup index
    persists per document (16 longs, bounded state).
    """
    if "mh" in shingles.columns:
        base = shingles.select("doc_id", F.col("mh").alias("_h"))
    else:
        base = shingles.select(
            "doc_id", h32(F.concat_ws("|", F.lit("mh"), F.col("shingle"))).alias("_h")
        )
    return base.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"_h ^ {salt_constant(i)}")).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    )


def minhash_band_rows(sig: DataFrame, n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(doc_id, band, band_key) LSH band rows from a signature table —
    r = n_hashes/bands consecutive signatures concatenated per band.
    The (band, band_key) pair is the scale-path join key: docs collide
    when any band matches exactly."""
    r = n_hashes // bands
    band_frames = [
        sig.select(
            "doc_id",
            F.lit(j).alias("band"),
            F.concat_ws("-", *[F.col(f"m{j * r + i}") for i in range(r)]).alias("band_key"),
        )
        for j in range(bands)
    ]
    return reduce(DataFrame.unionByName, band_frames)


def minhash_candidates(shingles: DataFrame, n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """MinHash + LSH candidate pairs (shingle -> minhash -> band -> join).

    Signature family as in :func:`minhash_signatures`; docs pair up when
    any band (r = n_hashes/bands consecutive signatures) matches exactly
    (:func:`minhash_band_rows`).  This is the scale path: the join key is
    (band_id, band_key), never a shingle.
    """
    # persisted: the band self-join references the signature table on
    # both sides — without this the signature aggregation (the one pass
    # over the full shingle volume) runs twice
    sig = tracked_persist(minhash_signatures(shingles, n_hashes))
    banded = minhash_band_rows(sig, n_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup(
    docs: DataFrame, tau: float, k: int = 5, shingles: DataFrame | None = None
) -> DataFrame:
    """LSH candidates verified with exact Jaccard >= tau.

    Jaccard is computed only for LSH candidates (never all pairs) — the
    band join bounds the quadratic term, which is the whole point of
    MinHash at scale.  ``shingles`` as in :func:`ngram_jaccard_dedup`.
    """
    sh = char_shingles(docs, k) if shingles is None else shingles
    return _jaccard_on_hashed(hash_shingles(sh), minhash_candidates(sh), tau)


def simhash_band_values(docs: DataFrame) -> DataFrame:
    """64-bit SimHash as four 16-bit band values (doc_id, bv0..bv3).

    Per-token hash bits come from two md5-derived 32-bit halves (md5
    hex chars 1-8 and 9-16) — a single 64-bit value would overflow the
    string->long cast for the top half of the space.  Emitting the
    signature as four shallow 16-term band expressions (instead of one
    64-term chain) keeps the generated code small enough that janino
    compile time doesn't dwarf the actual aggregation.
    """
    docs = fan_out(docs)  # CPU-bound fan-out; see char_shingles
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .withColumn("_m", F.md5(F.concat_ws("|", F.lit("sh"), F.col("tok"))))
        .withColumn("hlo", F.conv(F.substring("_m", 1, 8), 16, 10).cast("long"))
        .withColumn("hhi", F.conv(F.substring("_m", 9, 8), 16, 10).cast("long"))
    )

    def _bit(b: int) -> str:
        return f"(hlo >> {b}) & 1" if b < 32 else f"(hhi >> {b - 32}) & 1"

    # two 32-bit counter lanes per accumulator long (bit 2j low, 2j+1
    # high): 32 agg columns instead of 64 roughly halves the generated
    # aggregation code.  No cross-lane carry: each lane's sum is
    # bounded by the doc's token count < 2^31.
    def _lane(j: int) -> str:
        return f"({_bit(2 * j)}) + (({_bit(2 * j + 1)}) << 32)"

    agg = toks.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(F.expr(_lane(j))).alias(f"a{j}") for j in range(32)],
    )

    # lane extraction: bit j's count s_j lives in accumulator a_{j//2}
    def _s(j: int) -> str:
        k, hi = divmod(j, 2)
        return f"(a{k} >> 32)" if hi else f"(a{k} & 4294967295)"

    # bit j of the signature is set iff the majority of tokens set it:
    # 2*s_j >= n (== the classic sum(+1/-1) >= 0, ties included)
    bvs = [
        " + ".join(
            f"(CASE WHEN 2 * {_s(16 * k + i)} >= n THEN {1 << i} ELSE 0 END)"
            for i in range(16)
        )
        for k in range(4)
    ]
    return agg.select(
        "doc_id", *[F.expr(bv).cast("long").alias(f"bv{k}") for k, bv in enumerate(bvs)]
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """Full 64-bit SimHash signature (doc_id, simhash), derived by
    bit-packing the band values — bit 63 lands in the sign bit via
    Java's wrapping left shift, giving the standard signed two's
    complement representation (identical in DuckDB)."""
    return simhash_band_values(docs).select(
        "doc_id",
        F.expr("bv0 | (bv1 << 16) | (bv2 << 32) | (bv3 << 48)").alias("simhash"),
    )


def simhash_dedup(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within hamming distance <= 3 via lossless 4x16-bit banding.

    Pigeonhole: <= 3 differing bits cannot touch all 4 bands, so the
    band join finds every qualifying pair; the exact hamming filter
    (sum of per-band bit_counts) then makes the result identical to
    the O(n²) scan.  16-bit bands give 65,536 buckets per band — at
    billions of docs the within-bucket self-join stays bounded, where
    8-bit bands (256 buckets) would explode.
    """
    # persisted: the band self-join references sig on both sides —
    # without this the 64-bit-sum aggregation over all tokens runs twice
    sig = tracked_persist(simhash_band_values(docs))
    bands = reduce(
        DataFrame.unionByName,
        [
            sig.select("doc_id", "bv0", "bv1", "bv2", "bv3", F.lit(j).alias("band"), F.col(f"bv{j}").alias("bv"))
            for j in range(4)
        ],
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = sum(F.expr(f"bit_count(a.bv{k} ^ b.bv{k})") for k in range(4))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


#: rounds-to-converge of the most recent :func:`connected_components`
#: run in this process — observability for probe/bench artifacts (the
#: loop's cost model is rounds x fixed-job-count, so the round count is
#: the number a scale claim about the loop must cite).
LAST_COMPONENT_STATS: dict = {}


def connected_components(
    pairs: DataFrame, max_iter: int = 30, *, checkpoint_dir: str | None = None
) -> DataFrame:
    """Dup-pair graph -> components: (doc_id, component_id = min doc_id).

    The step every real dedup pipeline needs between pair generation and
    keeper selection: near-dup pairs are transitive in practice (A~B,
    B~C usually means one content family), so deduplication keeps one
    doc per CONNECTED COMPONENT, not per pair.

    Algorithm: min-label propagation with pointer jumping — each round
    every node takes the min of its own label, its neighbors' labels,
    and its label's label (path halving).  Near-dup components are
    dense/cliquish (variants of one underlying text), so convergence is
    2-3 rounds; the pointer-jumping term bounds pathological chains by
    O(log n) rounds rather than O(diameter).  Each round is two hash
    joins + an aggregation on (node, label) pairs — no driver-side
    graph, scales with the edge list.  Iteration stops at the first
    fixpoint (one limit-1 existence probe per round on constant-size
    change metadata).

    Each round's labels are eagerly ``localCheckpoint``-ed: an
    iterative plan that only persists keeps GROWING its logical plan
    (every round references the previous labels ~3x, so the analyzer
    walks an exponentially-expanding tree and the driver OOMs around
    round ~15); checkpointing truncates lineage to a LogicalRDD per
    round, and the previous round's blocks are released as soon as the
    next round materializes.

    DURABILITY: ``localCheckpoint`` truncates lineage to executor-LOCAL
    blocks — on a multi-executor cluster, losing an executor mid-loop is
    unrecoverable (the computation must restart from ``pairs``).  That
    is the right local-mode default (zero file I/O), but for a 100 TB
    cluster run pass ``checkpoint_dir`` (an HDFS/S3 path): the per-round
    truncation then uses RELIABLE ``checkpoint()`` — labels are written
    to the fault-tolerant store each round, so executor loss only
    replays from the last round's files.  Label frames are (doc_id,
    comp) pairs — tiny next to the corpus — and rounds are O(log n), so
    the extra I/O is bounded; intermediate round files are left for the
    caller/cluster checkpoint cleaner (``spark.cleaner.
    referenceTracking.cleanCheckpoints``) because the returned plan
    stays rooted at the final round's files.
    """
    from tg_reporting_etl_spark.sources.writers import _release_local_checkpoint

    spark = pairs.sparkSession
    restore_ckpt_dir: str | None = None
    if checkpoint_dir is not None:
        # setCheckpointDir is SESSION-GLOBAL: remember the caller's dir
        # (if any) and restore it on exit so this loop never silently
        # redirects unrelated checkpoint() calls elsewhere in the app.
        # A previously-UNSET dir cannot be unset again (no public API);
        # that one residue is documented here.
        try:
            prev = spark.sparkContext._jsc.sc().getCheckpointDir()
            restore_ckpt_dir = prev.get() if prev.isDefined() else None
        except Exception:
            restore_ckpt_dir = None
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _truncate(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

        def _release(df: DataFrame) -> None:
            pass  # reliable files are the durability contract; never drop mid-loop
    else:
        _truncate = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
        _release = _release_local_checkpoint

    sym = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    sym = tracked_persist(sym)
    try:
        return _components_loop(sym, max_iter, _truncate, _release)
    finally:
        if restore_ckpt_dir is not None and restore_ckpt_dir != checkpoint_dir:
            spark.sparkContext.setCheckpointDir(restore_ckpt_dir)


def _components_loop(sym, max_iter, _truncate, _release) -> DataFrame:
    labels = _truncate(
        sym.select(F.col("src").alias("doc_id")).distinct().withColumn("comp", F.col("doc_id"))
    )
    rounds = 0
    changed = -1  # sentinel: max_iter <= 0 -> loop never runs, converged=False
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(F.col("doc_id").alias("dst"), F.col("comp").alias("dst_comp")),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("dst_comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id", F.least("comp", F.coalesce("nbr_comp", F.col("comp"))).alias("comp")
        )
        # pointer jumping: comp := min(comp, comp's comp)
        parent = stepped.select(F.col("doc_id").alias("_p"), F.col("comp").alias("_pc"))
        stepped = (
            stepped.join(parent, stepped.comp == parent._p, "left")
            .select("doc_id", F.least("comp", F.coalesce("_pc", F.col("comp"))).alias("comp"))
        )
        stepped = _truncate(stepped)
        changed = (
            stepped.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        _release(labels)
        labels = stepped
        rounds += 1
        if changed == 0:
            break
    sym.unpersist()
    # observability, not control flow: the loop's cost model is
    # rounds x fixed-job-count, so probe/bench artifacts cite this
    LAST_COMPONENT_STATS.clear()
    LAST_COMPONENT_STATS.update(
        {"rounds": rounds, "max_iter": max_iter, "converged": rounds > 0 and changed == 0}
    )
    out = labels.select("doc_id", F.col("comp").alias("component_id"))
    # hand back a plan rooted at the final checkpoint; caller-side
    # collection releases nothing further (blocks die with the session
    # or the next release_persists sweep)
    return out


def cross_source_contamination(
    docs: DataFrame, pairs: DataFrame, eval_sources: list[str]
) -> DataFrame:
    """Train/eval decontamination: documents in a TRAIN source that
    duplicate a document in an EVAL (benchmark holdout) source.

    The standard pre-training hygiene step: benchmark text leaking into
    the training set inflates eval scores, so every train doc whose
    twin sits across the eval boundary is flagged for removal.  Two
    detection channels:

    - ``exact``: identical bytes (md5 digest equi-join; the eval side
      is the small one — broadcast);
    - ``near``:  a pair from the supplied near-dup pair table
      (``doc_a < doc_b, jaccard``; any candidate policy) that crosses
      the boundary, digest-distinct (exact twins are reported once, on
      the exact channel).

    Output: (train_doc_id, eval_doc_id, kind, jaccard).  Scale shape:
    the digest join shuffles 16-byte keys only; orientation and the
    boundary test are row-local after two metadata joins keyed on
    doc_id.
    """
    meta = docs.select("doc_id", "source", F.md5("text").alias("digest"))
    is_eval = F.col("source").isin(list(eval_sources))
    ev = meta.filter(is_eval)
    tr = meta.filter(~is_eval)
    exact = (
        tr.alias("t")
        .join(F.broadcast(ev.alias("e")), F.col("t.digest") == F.col("e.digest"))
        .select(
            F.col("t.doc_id").alias("train_doc_id"),
            F.col("e.doc_id").alias("eval_doc_id"),
            F.lit("exact").alias("kind"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    pa = meta.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"), F.col("digest").alias("dg_a")
    )
    pb = meta.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"), F.col("digest").alias("dg_b")
    )
    a_eval = F.col("src_a").isin(list(eval_sources))
    b_eval = F.col("src_b").isin(list(eval_sources))
    near = (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .filter((a_eval != b_eval) & (F.col("dg_a") != F.col("dg_b")))
        .select(
            F.when(a_eval, F.col("doc_b")).otherwise(F.col("doc_a")).alias("train_doc_id"),
            F.when(a_eval, F.col("doc_a")).otherwise(F.col("doc_b")).alias("eval_doc_id"),
            F.lit("near").alias("kind"),
            F.col("jaccard"),
        )
    )
    return exact.unionByName(near)


def eval_overlap_report(
    docs: DataFrame, hashed: DataFrame, eval_sources: list[str]
) -> DataFrame:
    """Per-eval-doc contamination REPORT: the fraction of the doc's
    distinct k-gram shingles that appear anywhere in the train split —
    the GPT-3-style n-gram overlap metric.  Where
    :func:`cross_source_contamination` flags pairs for REMOVAL, this
    measures HOW contaminated each benchmark document is, the number an
    eval card reports.

    ``hashed`` is the shared (doc_id, h, mh) shingle-hash table
    (:func:`shingle_hashes` — distinct per doc by construction).
    Scale shape: the two doc_id semi-joins carry only the metadata
    side; the one unavoidable corpus-scale shuffle is the h-key join of
    eval shingles against the train DISTINCT-gram set (both sides
    row-scale — SMJ on a long key is the correct 100 TB shape); per-doc
    counts then aggregate the small eval side only.  Output:
    (doc_id, n_shingles, n_overlap, overlap_frac), one row per eval
    doc that has at least one shingle.
    """
    meta = docs.select("doc_id", "source")
    is_eval = F.col("source").isin(list(eval_sources))
    ev_sh = hashed.join(meta.filter(is_eval).select("doc_id"), "doc_id", "left_semi")
    train_grams = (
        hashed.join(meta.filter(~is_eval).select("doc_id"), "doc_id", "left_semi")
        .select("h")
        .distinct()
    )
    sizes = ev_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    hits = (
        ev_sh.join(train_grams, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)).cast("long"))
        .withColumn(
            "overlap_frac", F.round(F.col("n_overlap") / F.col("n_shingles"), 6) + F.lit(0.0)
        )
    )


def dedup_keepers(pairs: DataFrame, *, checkpoint_dir: str | None = None) -> DataFrame:
    """Component membership + keeper flag: one kept doc per component
    (the min doc_id, matching :func:`exact_dedup`'s keeper rule).
    ``checkpoint_dir`` passes through to :func:`connected_components`
    (reliable per-round checkpoints for cluster runs)."""
    comp = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    return comp.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_keeper"),
    )


def best_representatives(
    scored: DataFrame,
    pairs: DataFrame | None = None,
    *,
    components: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Quality-aware keeper selection: one representative per near-dup
    component — the HIGHEST-quality member, not the smallest id.

    Min-id keeping (:func:`dedup_keepers`) discards indiscriminately;
    real corpus curation keeps the best variant of each content family
    (longest / least-truncated / highest quality score) and drops the
    rest.  ``scored`` supplies ``(doc_id, quality)``; ties break to the
    smallest doc_id so the choice is deterministic — callers feeding a
    twin engine must pre-round ``quality`` identically or arg-max ties
    may diverge.

    Output: ``(component_id, rep_doc_id, best_quality, n_members)``.

    Scale shape: components run over the edge list only (docs outside
    any dup pair never enter the iteration); the quality join is keyed
    on doc_id; arg-max is ``max(struct(quality, -doc_id))`` — a single
    partially-aggregable hash agg, no per-component window sort, so a
    pathologically huge component costs a merge of constant-size
    structs, not a skewed sort partition.

    Pass a precomputed ``components`` frame (doc_id, component_id) to
    reuse one labeling across several downstream selections instead of
    re-running the iteration per caller.
    """
    if components is None:
        if pairs is None:
            raise ValueError("best_representatives needs `pairs` or `components`")
        components = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    member = components.join(scored.select("doc_id", "quality"), "doc_id")
    return (
        member.groupBy("component_id")
        .agg(
            F.max(
                F.struct(
                    F.col("quality").alias("q"), (-F.col("doc_id")).alias("nd")
                )
            ).alias("best"),
            F.count("*").cast("long").alias("n_members"),
        )
        .select(
            "component_id",
            (-F.col("best.nd")).cast("long").alias("rep_doc_id"),
            F.col("best.q").alias("best_quality"),
            "n_members",
        )
    )
