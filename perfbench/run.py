"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Generates the seed's inputs (cached under ``perfbench/.data``), runs the
workload in a fresh worker process (``worker.py``: its own Spark driver
at ``local[<cpus>]``), and prints one JSON line last on stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones and writes the spans to
``perfbench/.out/spans-<workload>-seed<n>.jsonl``.  Everything the run
writes stays under ``perfbench/``; the worker and its JVM are stopped
and waited for before this process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKER_TIMEOUT_S = 165
OUT_DIR = os.path.join(HERE, ".out")


#: Heap cap for the driver.  The inputs need well under 1 GB; a larger
#: heap only widens the run-to-run swing of the JVM's peak RSS.
MAX_DRIVER_MB = 2048


def driver_memory() -> str:
    """Driver heap for the host: a quarter of RAM, at least 1 GB and at
    most ``MAX_DRIVER_MB`` (``SPARK_DRIVER_MEMORY`` is the engine's
    deployment knob; the session's 8g default OOMs small boxes)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(MAX_DRIVER_MB, max(1024, total_kb // 1024 // 4))}m"


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def worker_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    heap = driver_memory()
    env["SPARK_DRIVER_MEMORY"] = heap
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    jvm_opts = [
        # the heap starts at its cap: no resizing, so the JVM's peak RSS
        # does not depend on when a run happened to grow it
        f"-Xms{heap}",
        # temp files and perf data stay inside the checkout
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.showConsoleProgress=false",
    ]
    env["SPARK_SUBMIT_OPTS"] = " ".join([env.get("SPARK_SUBMIT_OPTS", ""), *jvm_opts]).strip()
    # spark-class first runs a launcher JVM to build the driver's command
    env["SPARK_LAUNCHER_OPTS"] = " ".join([env.get("SPARK_LAUNCHER_OPTS", ""), *jvm_opts[1:3]]).strip()
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate the worker's process group (worker, JVM, Python
    workers) and wait until no member is left."""
    for sig, grace in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + grace
        while time.time() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            continue
        break
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    data = gen.ensure_inputs(args.seed)
    print(f"inputs: {data} ({time.perf_counter() - t0:.2f} s)", file=sys.stderr)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    spans_path = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--data", data,
        "--work", work,
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--spans", spans_path if args.trace else "",
        "--result", result_path,
    ]
    # a terminated run still stops its worker (the ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=worker_env(work), stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        rc = -1
    finally:
        stop_group(proc)
    try:
        if rc != 0 or not os.path.exists(result_path):
            print(f"worker failed (rc={rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in res["failures"]:
        print(f"check failed: {msg}", file=sys.stderr)
    if args.trace:
        _report_overhead(args, res)
    else:
        _save_untraced(args, res)
    try:
        line = result_line(bench, res, args.trace)
    except KeyError as exc:
        print(f"metric missing from the worker: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(line))
    return 0


def result_line(bench: dict, res: dict, trace: int) -> dict:
    """The run's last stdout line from a worker result: the
    end-to-end metrics (untraced) or the per-layer ones (traced), in
    ``BENCHMARK.json`` order and units."""
    if trace:
        metrics = {m["name"]: res["per_layer"][m["name"]] for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    return {"correct": not res["failures"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}


def _untraced_path(args) -> str:
    return os.path.join(OUT_DIR, f"untraced-{args.workload}-seed{args.seed}.json")


def _save_untraced(args, res: dict) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(_untraced_path(args), "w") as f:
        json.dump(res["end_to_end"], f)


def _report_overhead(args, res: dict) -> None:
    """Tracing overhead: the traced run's timed pass against the last
    untraced run of the same workload and seed, when there is one."""
    traced = res["per_layer"]["trace.work_s"]["value"]
    msg = f"traced work_s {traced:.3f} s"
    if os.path.exists(_untraced_path(args)):
        with open(_untraced_path(args)) as f:
            plain = json.load(f)["work_s"]
        msg += f"; untraced {plain:.3f} s; overhead {traced - plain:+.3f} s ({(traced / plain - 1) * 100:+.1f}%)"
    print(msg, file=sys.stderr)
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"traced-{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"per_layer": res["per_layer"], "end_to_end": res["end_to_end"], "note": msg}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
