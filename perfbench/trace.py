"""Per-layer tracing from outside the engine.

`Tracer.install()` wraps the public functions each layer exposes, at the
module or class attribute their callers resolve at call time, and
`Tracer.restore()` puts the originals back. Spans (name, start, end) are
kept in memory; the engine's code is not changed. Spark job, stage and task
counts come from the status tracker: jobs submitted while an apply span is
open belong to that apply.
"""

from __future__ import annotations

import functools
import threading
import time


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []
        self.applies: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- wrapping
    def _span(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        spans, lock = self.spans, self._lock

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with lock:
                    spans.append((name, t0, t1))

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def _apply_span(self, owner, attr: str) -> None:
        """apply_batch: span plus the Spark jobs it submitted."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            j0 = tracer._job_ids()
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                jobs = sorted(tracer._job_ids() - j0)
                tracer.overhead_s += time.perf_counter() - t1
                tracer.applies.append({"t0": t0, "t1": t1, "jobs": jobs})

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> "Tracer":
        from mariadb_cdc_spark import pipeline
        from mariadb_cdc_spark.sources import stats
        from mariadb_cdc_spark.sources.lake import LakeTable
        from mariadb_cdc_spark.streaming import stream

        self._apply_span(pipeline, "apply_batch")
        self._apply_span(stream, "apply_batch")
        # the concurrent control-plane collects apply_batch submits
        self._span(pipeline, "batch_lineage", "checkpoint.lineage")
        self._span(pipeline, "_load_registry", "pipeline.registry")
        self._span(pipeline, "_classify_ddl_statements", "pipeline.ddl")
        self._span(LakeTable, "merge", "lake.merge")
        self._span(LakeTable, "update_metadata", "lake.commit")
        self._span(LakeTable, "expire_snapshots", "lake.expire")
        self._span(stats, "collect_rel_stats", "stats.harvest")
        self._span(stats, "attach_blooms", "stats.harvest")
        return self

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------------- spark
    def _job_ids(self) -> set[int]:
        t0 = time.perf_counter()
        ids = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        self.overhead_s += time.perf_counter() - t0
        return ids

    def jobs_during(self, fn):
        """Run fn(); return (result, Spark job ids it submitted)."""
        j0 = self._job_ids()
        out = fn()
        return out, sorted(self._job_ids() - j0)

    def job_shape(self, jobs: list[int]) -> tuple[int, int]:
        """(stages, tasks) of the given jobs, from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(stages), tasks

    # -------------------------------------------------------------- queries
    def busy(self, names: tuple[str, ...], t0: float, t1: float) -> float:
        """Wall time covered by the union of the named spans in [t0, t1]."""
        iv = sorted(
            (a, b) for n, a, b in self.spans if n in names and a >= t0 and b <= t1
        )
        total, end = 0.0, None
        for a, b in iv:
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total
