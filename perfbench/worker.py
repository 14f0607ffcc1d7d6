"""One benchmark run of one workload, in its own process.

Started by ``run.py``; writes its measurements as JSON to ``--result``.
Set-up (session start + an untimed warm-up job), the timed passes and
the correctness verdicts all happen here, so ``setup_s`` and
``peak_rss_mb`` belong to this run alone.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import layers  # noqa: E402
from tracing import StatusStore, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


#: The end-to-end metrics every run reports (``BENCHMARK.json``).
END_TO_END = ("setup_s", "work_s", "peak_rss_mb")


class Stopwatch:
    """Times laps of the timed region.  In a traced run each lap is also
    a top-level span carrying the Spark stages it created, read from the
    status store after the lap's timer stops."""

    def __init__(self, tracer: Tracer | None = None, store: StatusStore | None = None) -> None:
        self.laps: list[tuple[str, float]] = []
        self.tracer = tracer
        self.store = store

    @contextmanager
    def lap(self, name: str):
        mark = self.store.mark() if self.store else None
        span = self.tracer.begin(f"workload.{name}") if self.tracer else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            if span is not None:
                self.tracer.end(span)
            if mark is not None:
                span.attrs["spark"] = self.store.since(mark)
            self.laps.append((name, dur))


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (``VmHWM``) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def warm_up(spark, work: str) -> None:
    """One small pass through the machinery every workload uses: a
    shuffle aggregate written with dynamic partition overwrite, read
    back and collected.  A fresh JVM pays several seconds for its first
    such job; this moves that cost into set-up."""
    from pyspark.sql import functions as F

    path = os.path.join(work, "warmup")
    df = spark.range(20_000).select((F.col("id") % 7).alias("p"), (F.col("id") % 101).alias("k"), "id")
    agg = df.groupBy("p", "k").agg(F.sum("id").alias("s"), F.count("*").alias("n"))
    agg.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy("p").parquet(path)
    spark.read.parquet(path).groupBy("p").agg(F.sum("n")).collect()


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM launched
    by pyspark exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def timed(tracer: Tracer | None, name: str, fn, *args):
    """``fn(*args)`` and its wall time, recorded as a span when tracing."""
    span = tracer.begin(name) if tracer else None
    t0 = time.perf_counter()
    try:
        return fn(*args), time.perf_counter() - t0
    finally:
        if span is not None:
            tracer.end(span)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans", default="")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from tg_reporting_etl_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer() if args.trace else None
    spark, start_s = timed(tracer, "session.start", get_spark, "perfbench", cpus)
    try:
        _, warmup_s = timed(tracer, "session.warmup", warm_up, spark, args.work)
        log(f"local[{cpus}] session started in {start_s:.2f} s, warm-up {warmup_s:.2f} s")
        wl = WORKLOADS[args.workload](spark, args.data, args.work)
        if tracer:
            layers.install(tracer)
        clock = Stopwatch(tracer, StatusStore(spark) if tracer else None)
        works, ops = [], []
        t_run = time.perf_counter()
        while not works or time.perf_counter() - t_run < args.seconds:
            before = len(clock.laps)
            out = wl.iterate(clock)
            works.append(sum(d for _, d in clock.laps[before:]))
            ops += out["ops"]
            log("pass " + ", ".join(f"{n} {d:.2f} s" for n, d in clock.laps[before:])
                + " | ops " + " ".join(f"{o:.2f}" for o in out["ops"]))
        if tracer:
            tracer.uninstall()
        t_check = time.perf_counter()
        failures = wl.check()
        log(f"checks {time.perf_counter() - t_check:.2f} s: {failures or 'ok'}")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
        work_s = statistics.median(works)
        result = {
            "attempted": len(ops),
            "failed": min(len(failures), len(ops)),
            "failures": failures,
            "end_to_end": dict(zip(END_TO_END, (start_s + warmup_s, work_s, rss_mb))),
        }
        if tracer:
            result["per_layer"] = layers.metrics(tracer, wl, len(works), work_s)
            if args.spans:
                tracer.dump(args.spans)
        wl.cleanup()
    finally:
        stop_spark(spark)
    with open(args.result, "w") as f:
        json.dump(result, f)
    log("done")
    return 0


if __name__ == "__main__":
    sys.exit(main())
