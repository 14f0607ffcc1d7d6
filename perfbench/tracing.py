"""Spans around the engine's layer calls, and Spark status-store reads.

Tracing is opt-in: :class:`Tracer.install` swaps a timing wrapper in
for a function or method *at the name its caller looks up* (a module
attribute or a class attribute) and :meth:`Tracer.uninstall` puts the
original back.  An untraced run never calls ``install``, so it runs the
engine's functions unwrapped.

Spans are kept in memory; :meth:`Tracer.dump` writes them as JSON lines
when the run ends.  A span's self time is its duration minus the time
covered by its direct children (spans never overlap their siblings: the
driver is single-threaded).
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


def _resolve(target: str):
    """``pkg.mod.name`` or ``pkg.mod.Class.name`` -> (owner, attr)."""
    parts = target.split(".")
    for cut in range(len(parts) - 1, 0, -1):
        try:
            owner = importlib.import_module(".".join(parts[:cut]))
        except ModuleNotFoundError:
            continue
        for p in parts[cut:-1]:
            owner = getattr(owner, p)
        return owner, parts[-1]
    raise ValueError(f"cannot resolve {target}")


class Tracer:
    """Span recorder.  ``before``/``after`` hooks run outside the span's
    timer, so work they do (listing a table directory, reading the
    status store) is charged to tracing overhead, not to the layer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans

    def begin(self, name: str) -> Span:
        span = Span(len(self.spans), name, self._stack[-1].id if self._stack else None, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        span.start = time.perf_counter()
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        assert popped is span, (popped.name, span.name)
        if self._stack:
            self._stack[-1].child_s += span.dur

    # -------------------------------------------------------- wrappers

    def install(self, target: str, name: str | None = None, before=None, after=None, label=None) -> None:
        """Wrap ``target`` so every call records a span named ``name``
        (default: the target path).  ``label(args)`` may append a suffix
        (e.g. the report family of a ``run_tier`` call); ``before(args)``
        returns a token handed to ``after(span, token, result, args)``."""
        owner, attr = _resolve(target)
        previous = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        # a module that imported an already-wrapped name holds the
        # wrapper; wrap the function underneath, so one call is one span
        original = getattr(previous, "_traced_original", previous)
        base = name or target
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            token = before(args) if before else None
            span = tracer.begin(base + (label(args) if label else ""))
            try:
                result = original(*args, **kwargs)
            finally:
                tracer.end(span)
            if after:
                after(span, token, result, args)
            return result

        wrapper._traced_original = original
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, previous))

    def uninstall(self) -> None:
        for owner, attr, previous in reversed(self._patched):
            setattr(owner, attr, previous)
        self._patched.clear()

    # ------------------------------------------------------ reporting

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": round(s.start, 6),
                            "dur_s": round(s.dur, 6),
                            "self_s": round(s.self_s, 6),
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------ status store

STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


class StatusStore:
    """Reads Spark's ``AppStatusStore`` (populated with the UI disabled).

    :meth:`mark` returns the highest job and stage ids seen so far;
    :meth:`since` sums the metrics of every job and stage created after
    a mark.  The driver is single-threaded, so the stages created
    between two marks belong to the code that ran between them."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._gw = spark.sparkContext._gateway

    def _seq(self, seq) -> list:
        return [seq.apply(i) for i in range(seq.length())]

    def _stages(self) -> list:
        quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        return self._seq(self._store.stageList(None, False, False, quantiles, None))

    def _job_ids(self) -> list[int]:
        return [j.jobId() for j in self._seq(self._store.jobsList(None))]

    def mark(self) -> tuple[int, int]:
        jobs = self._job_ids()
        stages = [s.stageId() for s in self._stages()]
        return (max(jobs, default=-1), max(stages, default=-1))

    def since(self, mark: tuple[int, int]) -> dict:
        job_mark, stage_mark = mark
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update(jobs=sum(1 for j in self._job_ids() if j > job_mark), stages=0, tasks=0, spill_bytes=0)
        for st in self._stages():
            if st.stageId() <= stage_mark:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
        return out


def add_stage_metrics(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
