"""Benchmark harness — runs the headline queries and prints ONE JSON line.

Each query runs SPARK_GRAFT_BENCH_REPEATS times (default 3) and reports
the per-query MIN: round 3 measured a 20% total / 2x per-query swing on
byte-identical code, so single-shot timings cannot distinguish a real
regression from scheduler/GC noise.  Min-of-N is the standard noise
floor estimator for wall-clock microbenchmarks (the fastest run is the
one least disturbed by external variance).

Round 10 made the artifact adjudicable under machine noise (round 9's
six 1.5-2.1x swings on unchanged code could not be classified from a
bare min): sub-second queries — the noise-dominated class — extend to 5
repeats, BENCH_FULL.json carries per-query {min, med, max, n}
dispersion AND the previous run's full per-query map (read back before
overwriting), and queries whose min regressed >1.3x AND >0.15 s against
the previous same-sf run are named in ``watch_regressions`` — so each
BENCH_rN is self-comparing without digging through git history.

Forensics: process-level stderr (fd 2, inherited by the JVM) is teed
into a file for the whole run; any exception headers seen there (Java
`foo.BarException: ...` / `Exception in thread` / Python `Traceback`)
are surfaced in the JSON as ``stderr_exceptions`` — a 4 KB tail of raw
stderr can open mid-stack-trace and hide the exception class entirely.

Usage: python bench.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all),
     SPARK_GRAFT_BENCH_REPEATS (default 3).
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Exception "headline" lines: Python traceback openers, JVM uncaught-
# thread banners, and Java/Scala `qualified.ClassNameException: msg`
# (also matches bare `ClassNameError`).  Frame lines ("  at com.foo…",
# "  File \"…\"") deliberately do not match.
_EXC_RE = re.compile(
    r"^(Traceback \(most recent call last\)"
    r"|Exception in thread "
    r"|[A-Za-z_][\w.$]*(?:Exception|Error)\b[:)]?)"
)

# Known first-run bootstrap probes, BY DESIGN: merge_into read-probes a
# not-yet-created target (rerun journal / merge temp dirs) and the merge
# backend registry probes for a Delta jar the container doesn't ship.
# These land in ``expected_probes`` so ``stderr_exceptions`` stays a
# true anomaly channel — empty on a clean run.
_PROBE_RE = re.compile(
    r"FileNotFoundException.*(?:_merge_tmp|journal|does not exist)"
    r"|AnalysisException.*PATH_NOT_FOUND.*(?:_merge_tmp|journal|digest_index)"
    r"|ClassNotFoundException.*(?:delta|DeltaTable)",
    re.IGNORECASE,
)


def _scan_exceptions(path: str, limit: int = 8) -> tuple[list[str], list[str]]:
    """(anomalies, expected_probes): first line of each distinct exception
    block seen in the file, split by the bootstrap-probe allowlist."""
    anomalies: list[str] = []
    probes: list[str] = []
    try:
        with open(path, "r", errors="replace") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not _EXC_RE.match(line):
                    continue
                bucket = probes if _PROBE_RE.search(line) else anomalies
                if line not in bucket and len(bucket) < limit:
                    bucket.append(line[:300])
    except OSError:
        pass
    return anomalies, probes


def _regression_watch(
    here: str, sf: float, timings: dict[str, float]
) -> tuple[dict[str, float], list[str]]:
    """Per-sf regression base: (prev same-sf query map, regressed names).

    The base lives in a PER-SF sidecar (BENCH_HISTORY.json:
    {str(sf): queries}) so a mid-round profiling run at another sf
    cannot wipe the comparison — round 13 shipped a vacuous
    ``watch_regressions: []`` because a 10x probe overwrote
    BENCH_FULL.json and the single-slot prev map with it.
    BENCH_FULL.json remains a same-sf fallback for repos predating the
    sidecar.  A query regresses if its min grew >1.3x AND >0.15 s —
    the two guards together ignore sub-noise-floor micro-deltas.
    The sidecar keeps the all-time per-query BESTS at each sf; this
    run updates only the entries it beat (append-minimal — see the
    anti-ratchet comment below), leaving every other sf's history
    intact and skipping the write entirely when nothing improved.
    """
    hist_path = os.path.join(here, "BENCH_HISTORY.json")
    history: dict[str, dict[str, float]] = {}
    try:
        with open(hist_path) as fh:
            loaded = json.load(fh)
        if isinstance(loaded, dict):
            history = {k: v for k, v in loaded.items() if isinstance(v, dict)}
    except (OSError, ValueError):
        pass
    sidecar_has_sf = str(sf) in history
    prev_queries: dict[str, float] = history.get(str(sf), {})
    if not prev_queries:
        try:
            with open(os.path.join(here, "BENCH_FULL.json")) as fh:
                prev = json.load(fh)
            if prev.get("sf") == sf:
                prev_queries = prev.get("queries", {})
        except (OSError, ValueError):
            pass
    watch = sorted(
        n
        for n, t in timings.items()
        if n in prev_queries
        and t > 1.3 * prev_queries[n]
        and t - prev_queries[n] > 0.15
    )
    # Anti-ratchet, append-minimal (r17 verdict task 5): the base is the
    # all-time per-query BEST at this sf — a query's entry changes only
    # when beaten (or first seen), so a post-close bench run rewrites a
    # handful of sidecar lines instead of all ~100 (the r17 post-close
    # commits were mostly this churn).  This also generalizes the r14
    # no-ratchet rule from watch-fired queries to every query: no slow
    # run, transient or sub-threshold, can raise the comparison base.
    # A genuine, accepted slowdown (or a removed query's stale best) is
    # re-pinned wholesale with SPARK_GRAFT_BENCH_REPIN=1.
    repin = os.environ.get("SPARK_GRAFT_BENCH_REPIN", "") == "1"
    if repin:
        new_base = dict(timings)
    else:
        new_base = dict(prev_queries)
        for n, t in timings.items():
            if n not in new_base or t < new_base[n]:
                new_base[n] = t
    history[str(sf)] = new_base
    if sidecar_has_sf and new_base == prev_queries:
        return prev_queries, watch  # nothing beaten: leave the sidecar untouched
    try:
        with open(hist_path, "w") as fh:
            json.dump(history, fh, indent=1, sort_keys=True)
    except OSError:
        pass
    return prev_queries, watch


def latest_close_snapshot(here: str, below: int | None = None) -> tuple[int, str | None]:
    """Largest-N ``BENCH_FULL_r{N}.json`` under ``here`` (optionally
    restricted to N < ``below``) -> (N, path), or (-1, None) if none.
    Shared by this module's ``_vs_latest_close`` and
    tools/round_close.py's ``_stamp_like_for_like`` (r15 residual 4:
    the two carried ~40 duplicated lines of discovery/ratio logic)."""
    import glob as _glob
    import re as _re

    best, best_n = None, -1
    for p in _glob.glob(os.path.join(here, "BENCH_FULL_r*.json")):
        m = _re.search(r"_r(\d+)\.json$", p)
        if not m:
            continue
        n = int(m.group(1))
        if (below is None or n < below) and n > best_n:
            best_n, best = n, p
    return best_n, best


def common_query_totals(prev_q: dict, cur_q: dict) -> tuple[int, float, float, float | None]:
    """(count, prev_total_s, cur_total_s, ratio) over the shared query
    names of two ``queries`` timing maps; (0, 0.0, 0.0, None) when
    disjoint.  The like-for-like core shared with round_close."""
    common = sorted(set(prev_q) & set(cur_q))
    if not common:
        return 0, 0.0, 0.0, None
    pt = round(sum(prev_q[q] for q in common), 3)
    ct = round(sum(cur_q[q] for q in common), 3)
    return len(common), pt, ct, (round(ct / pt, 4) if pt else None)


def _calibration(spark) -> float | dict:
    """Fixed synthetic workload — 20M generated longs, one hash-mod
    projection, one 1000-group aggregation over 32 partitions, no input
    data, constant job count — timed min-of-3.  Run at bench start AND
    end and recorded in BENCH_FULL.json, it turns "the 1.13x
    like-for-like swing is session regime, not plans" from an argument
    into a receipt (r15 verdict task 7): when the like-for-like ratio
    moves together with the calibration ratio the machine moved; when
    it moves alone the plans did.

    Returns the min-of-3 seconds, or a ``{"error": ...}`` marker — a
    broken calibration must cost the receipt, never the bench run (and
    with it a round close)."""
    from pyspark.sql import functions as F

    best = None
    try:
        for _ in range(3):
            t0 = time.perf_counter()
            n = (
                spark.range(0, 20_000_000, 1, 32)
                .withColumn("k", (F.col("id") * 2654435761) % 1000)
                .groupBy("k")
                .agg(F.sum("id").alias("s"), F.count("*").alias("c"))
                .filter(F.col("c") > 0)
                .count()
            )
            dt = time.perf_counter() - t0
            if n != 1000:
                return {"error": f"calibration returned {n} groups, expected 1000"}
            best = dt if best is None or dt < best else best
    except Exception as exc:  # noqa: BLE001 — receipt, not gate
        return {"error": f"calibration failed: {exc!r}"[:200]}
    return round(best, 3)


def _calibration_io(spark) -> float | dict:
    """Fixed I/O twin of :func:`_calibration` (r16 verdict task 2): the
    CPU workload misses a whole disturbance class — the second r16
    post-close run benched 0.95x while the CPU calibration read 0.70x,
    i.e. the box's I/O/scheduler regime moved independently of its CPU
    regime.  This workload is write+read bound: 2M rows x 3 columns to
    parquet (8 files, overwrite — the delete is part of the regime being
    measured) then a 2-column re-read aggregation, min-of-3.  Recorded
    alongside the CPU number so the close receipt carries a {cpu, io}
    pair and the vs_prev ratio pair becomes a triple (first cross-round
    comparable at r18, when both sides of the compare carry it).

    One UNTIMED warm-up write precedes the timed loop (r17 ADVICE item
    3): without it, iteration 1 writes to a nonexistent path — no
    delete — and min-of-3 systematically selects that delete-free
    iteration, excluding the delete cost this docstring claims to
    measure.  The warm-up makes all three timed iterations true
    overwrites.

    Same failure contract as the CPU twin: errors return a marker dict
    and cost the receipt, never the bench run."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="bench_cal_io_")
    path = os.path.join(tmp, "t")
    best = None
    try:
        df = spark.range(0, 2_000_000, 1, 8).select(
            "id",
            ((F.col("id") * 2654435761) % 1_000_000).alias("v"),
            F.concat(F.lit("row_"), F.col("id").cast("string")).alias("s"),
        )
        df.write.mode("overwrite").parquet(path)  # warm-up: make every timed write an overwrite
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.mode("overwrite").parquet(path)
            row = (
                spark.read.parquet(path)
                .agg(F.count("s").alias("n"), F.sum("v").alias("sv"))
                .collect()[0]
            )
            dt = time.perf_counter() - t0
            if row["n"] != 2_000_000:
                return {"error": f"io calibration read back {row['n']} rows, expected 2000000"}
            best = dt if best is None or dt < best else best
    except Exception as exc:  # noqa: BLE001 — receipt, not gate
        return {"error": f"io calibration failed: {exc!r}"[:200]}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return round(best, 3)


def calibration_ratio(prev_cal: dict | None, cur_cal: dict | None, kind: str = "cpu") -> float | None:
    """cur/prev ratio of the best (min of start/end) calibration time,
    or None when either side lacks one.  ``kind`` selects the CPU
    fields (``start_s``/``end_s``) or the r17 I/O twin's
    (``io_start_s``/``io_end_s``) — pre-r17 snapshots lack the latter,
    so the io ratio is simply absent until both sides carry it.  Shared
    by bench's ``vs_latest_close`` and round_close's ``vs_prev_round``
    stamp."""
    keys = ("start_s", "end_s") if kind == "cpu" else ("io_start_s", "io_end_s")

    def _best(c):
        vals = [c[k] for k in keys if isinstance(c.get(k), (int, float))]
        return min(vals) if vals else None

    p = _best(prev_cal or {})
    c = _best(cur_cal or {})
    if not p or not c:
        return None
    return round(c / p, 4)


def _vs_latest_close(here: str, sf, timings: dict[str, float], calibration: dict | None = None) -> dict:
    """Round-over-round self-report: this run's common-query total vs
    the LATEST round-close snapshot (BENCH_FULL_r{N}.json, written by
    tools/round_close.py on a green close).  Lives in bench.py so the
    driver's own post-close runs carry the ratio too — a close-stamped
    field alone would be wiped by the next BENCH_FULL.json overwrite.
    """
    best_n, best = latest_close_snapshot(here)
    if best is None:
        return {"close_round": None, "note": "no BENCH_FULL_r*.json snapshot"}
    try:
        with open(best) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return {"close_round": best_n, "note": "snapshot unreadable"}
    if prev.get("sf") != sf:
        return {"close_round": best_n, "note": f"sf mismatch ({prev.get('sf')} vs {sf})"}
    n, pt, ct, ratio = common_query_totals(prev.get("queries") or {}, timings)
    if not n:
        return {"close_round": best_n, "note": "no common queries"}
    out = {
        "close_round": best_n,
        "common_queries": n,
        "close_common_total_s": pt,
        "cur_common_total_s": ct,
        "ratio": ratio,
    }
    cal_ratio = calibration_ratio(prev.get("calibration"), calibration)
    if cal_ratio is not None:
        out["calibration_ratio"] = cal_ratio
    io_ratio = calibration_ratio(prev.get("calibration"), calibration, kind="io")
    if io_ratio is not None:
        out["calibration_io_ratio"] = io_ratio
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Tee OS-level fd 2 into a scratch file BEFORE the JVM starts so its
    # stderr is captured too, then replay it to the real stderr at exit
    # (the driver's tail-capture keeps working unchanged).
    real_err = os.dup(2)
    errfile = tempfile.NamedTemporaryFile(
        mode="w+b", prefix="bench_stderr_", suffix=".log", delete=False
    )
    os.dup2(errfile.fileno(), 2)

    import __spark_entry__ as entry_mod
    from tg_reporting_etl_spark.functions.persist import release_persists
    from tg_reporting_etl_spark.plans.catalog import query_kinds
    from tg_reporting_etl_spark.session import get_spark

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    spark = get_spark("bench")
    qs = entry_mod.queries()
    kinds = query_kinds()

    # r19 (verdict task 2): PERF_r18 fired ``suspect_cpus_ignored``
    # because nothing in the bench output PROVES the session width the
    # run actually used (session.py builds ``local[$SPARK_GRAFT_CPUS]``,
    # but the driver's low-core run couldn't verify it from the JSON).
    # Record the live session's master string and defaultParallelism in
    # both the full report and the compact line — measurement metadata
    # only; the timed action is unchanged.
    session_evidence = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "cpus": spark.sparkContext.defaultParallelism,
    }

    # Warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session startup.
    next(iter(qs.values()))(spark, sf_dir).count()

    cal_start = _calibration(spark)
    cal_io_start = _calibration_io(spark)

    # Adversarial-regime queries deliberately drive an operator in its
    # documented worst case (doc_ngram_jaccard_exact forces the lossless
    # prefix join on a low-entropy corpus — ~33 s at sf0.1, the honest
    # price of scale-independent exactness).  They run ONCE: at tens of
    # seconds the scheduler-noise floor min-of-N exists to defeat is a
    # small relative error, and repeating the worst case would dominate
    # total bench wall-clock without adding signal.  The bucket is
    # declared on each query's @register (``kind=``).
    adversarial = {n for n in qs if kinds[n] == "adversarial"}

    # Run adversarial queries LAST: round 8 showed the four queries
    # registered immediately after the 31 s worst-case prefix join
    # regressing 1.3-2.2x with no code change — GC/memory pressure from
    # its 150M-row candidate state polluted their min-of-3 windows.
    # Ordering them last means every normal query is measured against a
    # steady-state JVM and the worst case can only pollute itself.
    ordered = [n for n in qs if n not in adversarial] + [n for n in qs if n in adversarial]

    # Widest whole-stage-codegen plan in the catalog: its FIRST execution
    # pays a fixed ~1.7 s janino compile (profiled in SURVEY §6) that
    # repeats never pay again.  One untimed warm run moves that compile
    # outside `timings`/`dispersion`, so the recorded spread measures the
    # execution regime, not a one-off JIT artifact.  Recorded in the full
    # report as `prewarmed` for honesty.
    prewarmed = {"player_ranking_1d_leaderboard"} & set(qs)
    timings: dict[str, float] = {}
    dispersion: dict[str, dict] = {}
    for name in ordered:
        fn = qs[name]
        if name in prewarmed and repeats > 1:
            fn(spark, sf_dir).count()
        times: list[float] = []
        n_runs = 1 if name in adversarial else repeats
        while len(times) < n_runs:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            times.append(time.perf_counter() - t0)
            assert n >= 0
            # Sub-second queries are the noise-dominated class (round 9:
            # five of the six unexplained swings were <1 s): give them 5
            # samples so median/spread can separate regime from regression.
            # Only when repeating at all — an explicit REPEATS=1 smoke
            # run stays single-shot.
            if repeats > 1 and name not in adversarial and min(times) < 1.0:
                n_runs = max(n_runs, 5)
        times.sort()
        mid = len(times) // 2
        med = times[mid] if len(times) % 2 else (times[mid - 1] + times[mid]) / 2
        timings[name] = round(times[0], 3)
        dispersion[name] = {
            "min": round(times[0], 3),
            "med": round(med, 3),
            "max": round(times[-1], 3),
            "n": len(times),
        }
        # Pump the engine's long-lived-driver release valve BETWEEN
        # queries (r18): each repeat's tracked intra-query persists
        # (dedup sig/set tables, rtp chains) otherwise accumulate across
        # the 102-query session until executor storage evicts the SHARED
        # cached_df frames — the r18 close measured the resulting
        # excursion as 3x shared-cache rebuilds and a 6-row watch
        # cluster that a fresh session couldn't reproduce.  Releasing
        # after the timing loop keeps within-query reuse (repeats 2..n
        # still hit repeat 1's persists, so min-of-N is unaffected)
        # while preventing cross-query pile-up.
        release_persists()
    cal_end = _calibration(spark)
    cal_io_end = _calibration_io(spark)
    calibration = {
        "start_s": cal_start,
        "end_s": cal_end,
        "workload": "range(20M,32p) hash-mod-1000 groupBy sum/count, min-of-3",
        "io_start_s": cal_io_start,
        "io_end_s": cal_io_end,
        "workload_io": "parquet overwrite 2M rows x 3 cols (8 files) + 2-col re-read agg, min-of-3",
    }
    total = round(sum(timings.values()), 3)
    # Orchestration-lifecycle queries (``kind="orch"``: board, sink and
    # streaming micro-batch lifecycles) measure fixed per-job scheduling +
    # sink overhead on constant-size work, not operator throughput —
    # report them separately so round-over-round data-path totals stay
    # comparable as lifecycle coverage grows.
    orch = {n for n in qs if kinds[n] == "orch"}
    orch_total = round(sum(t for n, t in timings.items() if n in orch), 3)
    # (adversarial set defined above the timing loop) — bucketed apart so
    # data_path_total stays comparable across rounds.
    adv_total = round(sum(t for n, t in timings.items() if n in adversarial), 3)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    from tg_reporting_etl_spark.plans.util import cache_build_times

    cache_builds = cache_build_times(spark)

    # Flush all JVM/Python stderr so the scan sees the complete stream.
    sys.stderr.flush()
    os.fsync(2)
    exceptions, probes = _scan_exceptions(errfile.name)

    # Replay captured stderr to the original stream FIRST, so the JSON
    # metrics line below is the LAST thing on the combined stream — the
    # driver tail-captures stdout+stderr together, and round 6 proved
    # that replaying stderr after the JSON pushes the metrics line out
    # of the tail window ("parsed": null).
    os.dup2(real_err, 2)
    try:
        with open(errfile.name, "rb") as fh:
            os.write(2, fh.read())
        os.unlink(errfile.name)
    except OSError:
        pass

    # Self-comparing artifact: the regression base is kept PER-SF in a
    # sidecar (BENCH_HISTORY.json: {str(sf): queries}) so a mid-round
    # profiling run at a different sf cannot wipe the comparison base —
    # round 13 shipped a vacuous ``watch_regressions: []`` because a
    # 10x probe overwrote BENCH_FULL.json and the single-slot prev map
    # with it.  BENCH_FULL.json remains a same-sf fallback for repos
    # that predate the sidecar.  Watch = min regressed >1.3x AND
    # >0.15 s at the same sf — the two guards together ignore
    # sub-noise-floor micro-deltas.
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, "BENCH_FULL.json")
    prev_queries, watch = _regression_watch(here, sf, timings)

    full = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "mode": f"min-of-{repeats}" + (" (5 for sub-second)" if repeats > 1 else ""),
        "data_path_total": round(total - orch_total - adv_total, 3),
        "orchestration_total": orch_total,
        "adversarial_total": adv_total,
        "shared_cache_build_s": cache_builds,
        "prewarmed": sorted(prewarmed),
        "stderr_exceptions": exceptions,
        "expected_probes": probes,
        "queries": timings,
        "dispersion": dispersion,
        "prev_queries": prev_queries,
        "watch_regressions": watch,
        "vs_latest_close": _vs_latest_close(here, sf, timings, calibration),
        "calibration": calibration,
        "sf": sf,
        **session_evidence,
    }
    # Rounds 6 and 7 both shipped with the driver recording
    # ``"parsed": null``: the single JSON line grew past the driver's
    # ~2 KB stdout-tail capture once the catalog hit 77 queries.  So:
    # print the FULL per-query report first (and persist it to
    # BENCH_FULL.json next to this script for auditing), then make the
    # FINAL stdout line a compact summary guaranteed under 1.5 KB —
    # that line is what survives the tail window and must parse.
    print(json.dumps(full))
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "mode": full["mode"],
        "data_path_total": full["data_path_total"],
        "orchestration_total": orch_total,
        "adversarial_total": adv_total,
        "n_queries": len(timings),
        "stderr_exceptions": exceptions[:3],
        "queries": slowest,
        "queries_truncated_to_slowest": 5,
        "watch_regressions": watch[:6],
        # drop absent ratios instead of emitting nulls (r16 ADVICE 3):
        # pre-r16 snapshots have no calibration, pre-r17 none for io
        "vs_latest_close": {
            k: v
            for k in ("close_round", "ratio", "calibration_ratio", "calibration_io_ratio")
            if (v := full["vs_latest_close"].get(k)) is not None
        },
        "full_report": "BENCH_FULL.json",
        "sf": sf,
        **session_evidence,
    }
    final_line = json.dumps(compact)
    assert len(final_line) < 1500, f"final bench line {len(final_line)}B >= 1.5KB"
    print(final_line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
