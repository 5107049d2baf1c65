"""Spans around calls into the engine, recorded from outside it.

``Tracer.install`` replaces each public function named in ``TARGETS``
with a timing wrapper in every loaded engine module that holds it, so a
call made through ``from ..operators.pq import pq_train`` is caught as
well as one made through the defining module. The engine's source is
not touched. A span records name, layer, start, end, parent and op id,
plus the Spark jobs started while it was open (read from the DAG
scheduler's job counter). Spans stay in memory until ``write``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

PACKAGE = "udacitycapstonedataengineer_spark"

# (module under PACKAGE, public function, layer)
TARGETS = (
    ("sources.readers", "load_tables", "readers"),
    ("operators.clustering", "kmeans_fit", "operators"),
    # the coarse quantizer fit behind both ivfpq_coarse_fit and ivfpq_build
    ("operators.coarse", "coarse_fit_from_vectors", "operators"),
    ("operators.pq", "pq_train", "operators"),
    ("operators.ivfpq", "ivfpq_build", "operators"),
    ("operators.semdedup", "semdedup_pairs", "operators"),
    ("operators.cleaning", "row_accounting", "cleaning"),
    ("operators.quality", "check_star", "quality"),
    ("plans.star", "build_star", "star"),
    ("sources.writers", "write_parquet", "writers"),
)
FITS = tuple(fn for _, fn, layer in TARGETS if layer == "operators")

# stage-level task metrics summed over the stages an op ran:
# (metric, StageData accessor, scale to the metric's unit, unit)
STAGE_METRICS = (
    ("exec.executor_run_s", "executorRunTime", 1e-3, "s"),
    ("exec.executor_cpu_s", "executorCpuTime", 1e-9, "s"),
    ("exec.gc_s", "jvmGcTime", 1e-3, "s"),
    ("exec.shuffle_read_mb", "shuffleReadBytes", 1 / 2**20, "MB"),
    ("exec.shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20, "MB"),
    ("exec.spill_mb", "diskBytesSpilled", 1 / 2**20, "MB"),
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int = -1
    jobs: int = 0


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's wrappers
    only forward the call."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.enabled = False
        self.op_id = -1

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    def stages_started(self) -> int:
        return self._dag.nextStageId()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, layer, time.perf_counter(), op_id=self.op_id)
        s.parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        self.spans.append(s)
        j0 = self.jobs_started()
        try:
            yield s
        finally:
            s.jobs = self.jobs_started() - j0
            s.end = time.perf_counter()
            self._stack.pop()

    def install(self) -> None:
        for mod, fn, layer in TARGETS:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), fn)
            wrapped = self._wrap(orig, f"{layer}.{fn}", layer)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PACKAGE):
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def stage_totals(self, first_stage: int, end_stage: int) -> dict[str, float]:
        """Task metrics of stages ``first_stage…end_stage-1`` from Spark's
        status store, once the listener bus has delivered their events."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = {name: 0.0 for name, _, _, _ in STAGE_METRICS}
        out["exec.stages"] = out["exec.tasks"] = 0
        for sid in range(first_stage, end_stage):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never reached the store
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks()
            for name, accessor, scale, _ in STAGE_METRICS:
                out[name] += getattr(st, accessor)() * scale
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part its
    direct children cover (children never overlap: one thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
    return out
