"""Which engine names a traced run wraps, and the per-layer metrics
computed from the spans.

Every wrapped name is the one its caller looks up: ``execute_board``
is wrapped both in ``runner.executor`` (the benchmark calls it there)
and in ``runner.daemon`` (the executor tick's import), ``merge_into``
both in ``runner.daemon`` (board merges) and in ``sources.writers``
(the rtp state merge imports it at call time).
"""

from __future__ import annotations

import os

from tracing import Tracer, add_stage_metrics
from workloads import Curation, read_table

PKG = "tg_reporting_etl_spark"

FAMILIES = ("trans_summary", "player_summary", "risk_ctrl_rtp")
SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "cpu_busy_ratio",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "cpu_busy_ratio": "ratio"}


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def _overwrite_before(args):
    return _files(args[1])


def _overwrite_after(span, before, _result, args):
    new = {p: size for p, size in _files(args[1]).items() if p not in before}
    span.attrs.update(
        files=len(new),
        bytes=sum(new.values()),
        partitions=len({os.path.dirname(p) for p in new}),
    )


def _rows(span, _token, result, _args):
    span.attrs["rows"] = int(result or 0)


def _tasks_done(span, _token, result, _args):
    span.attrs["tasks_done"] = sum(1 for r in result or [] if r["done"] == 1)


def install(tracer: Tracer) -> None:
    ex, dm = f"{PKG}.runner.executor", f"{PKG}.runner.daemon"
    family = lambda args: "." + args[0].report_class  # noqa: E731
    tracer.install(f"{ex}.execute_board", "executor.execute_board", after=_tasks_done)
    tracer.install(f"{dm}.execute_board", "executor.execute_board", after=_tasks_done)
    tracer.install(f"{ex}.ReportFamily.run_tier", "operators", label=family, after=_rows)
    tracer.install(f"{ex}.RiskCtrlRtpFamily.run_tier", "operators", label=family, after=_rows)
    tracer.install(
        f"{ex}.overwrite_window_partitions", "writers.overwrite", before=_overwrite_before, after=_overwrite_after
    )
    tracer.install(f"{dm}.merge_into", "writers.merge_into")
    tracer.install(f"{PKG}.sources.writers.merge_into", "writers.merge_into")
    tracer.install(f"{dm}.Daemon.rerun_tick", "daemon.rerun_tick", after=_rows)
    tracer.install(f"{dm}.Daemon.executor_tick", "daemon.executor_tick")
    tracer.install(f"{dm}.consume_rerun_requests", "rerun.consume")
    tracer.install(f"{PKG}.runner.state.run_rtp_days", "state.run_rtp_days")


def metrics(tracer: Tracer, workload, iterations: int, work_s: float) -> dict:
    """Per-layer metrics of a traced run: per timed pass (totals over
    the run divided by its number of passes); times in seconds.  Layers
    a workload does not call read 0."""
    n = float(iterations)
    per_pass = lambda total: total / n  # noqa: E731
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (tracer.total("session.start"), "s"),
        "session.warmup_s": (tracer.total("session.warmup"), "s"),
    }
    ow = tracer.named("writers.overwrite")
    parts = sum(s.attrs["partitions"] for s in ow)
    files = sum(s.attrs["files"] for s in ow)
    m["writers.overwrite_s"] = (per_pass(sum(s.dur for s in ow)), "s")
    m["writers.overwrite_calls"] = (per_pass(len(ow)), "count")
    m["writers.partitions_written"] = (per_pass(parts), "count")
    m["writers.files_written"] = (per_pass(files), "count")
    m["writers.bytes_written"] = (per_pass(sum(s.attrs["bytes"] for s in ow)), "bytes")
    m["writers.files_per_partition"] = (files / parts if parts else 0.0, "ratio")
    mi = tracer.named("writers.merge_into")
    m["writers.merge_into_s"] = (per_pass(sum(s.dur for s in mi)), "s")
    m["writers.merge_into_calls"] = (per_pass(len(mi)), "count")
    for fam in FAMILIES:
        spans = tracer.named(f"operators.{fam}")
        m[f"operators.{fam}.self_s"] = (per_pass(sum(s.self_s for s in spans)), "s")
        m[f"operators.{fam}.rows"] = (per_pass(sum(s.attrs["rows"] for s in spans)), "count")
    eb = tracer.named("executor.execute_board")
    m["executor.execute_board_s"] = (per_pass(sum(s.dur for s in eb)), "s")
    m["executor.dispatch_self_s"] = (per_pass(sum(s.self_s for s in eb)), "s")
    m["executor.run_tier_calls"] = (per_pass(len(tracer.named("operators"))), "count")
    m["executor.tasks_done"] = (per_pass(sum(s.attrs["tasks_done"] for s in eb)), "count")
    m["daemon.rerun_tick_s"] = (per_pass(tracer.total("daemon.rerun_tick")), "s")
    m["daemon.executor_tick_s"] = (per_pass(tracer.total("daemon.executor_tick")), "s")
    daemon = getattr(workload, "last", {}).get("daemon")
    m["daemon.board_rows"] = (float(len(read_table(daemon.board_path))) if daemon else 0.0, "count")
    m["rerun.consume_s"] = (per_pass(tracer.total("rerun.consume")), "s")
    m["rerun.tasks_expanded"] = (per_pass(sum(s.attrs["rows"] for s in tracer.named("daemon.rerun_tick"))), "count")
    m["state.run_rtp_days_s"] = (per_pass(tracer.total("state.run_rtp_days")), "s")
    for stage in Curation.STAGES:
        m[f"functions.{stage}_s"] = (per_pass(tracer.total(f"functions.{stage}")), "s")
    counts = workload.output_counts() if hasattr(workload, "output_counts") else {}
    m["functions.dedup_pairs"] = (float(counts.get("pairs", 0)), "count")
    m["functions.kept_docs"] = (float(counts.get("kept", 0)), "count")
    spark: dict = {}
    for s in tracer.named("workload"):
        add_stage_metrics(spark, s.attrs.get("spark", {}))
    run_s = spark.get("executor_run_s", 0.0)
    spark["cpu_busy_ratio"] = spark.get("executor_cpu_s", 0.0) / run_s if run_s else 0.0
    for k in SPARK_KEYS:
        unit = SPARK_UNITS.get(k, "s" if k.endswith("_s") else "bytes")
        m[f"spark.{k}"] = (spark.get(k, 0.0) if k == "cpu_busy_ratio" else per_pass(spark.get(k, 0.0)), unit)
    m["trace.work_s"] = (work_s, "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
