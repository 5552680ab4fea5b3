"""Per-layer spans measured from outside the program.

A span wraps one public call into a kgforge layer. It sets one Spark
job group for the call; when the call returns it waits until the
listener bus has drained, then reads the group's jobs from the status
tracker and their stage metrics from the status store. Reading the
status store runs no Spark job (``kgbench/tests/test_trace.py`` pins this), and
works with ``spark.ui.enabled=false``.

Spans are kept in memory; :meth:`Tracer.layer_metrics` summarises them
when the run ends.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

#: metrics every span records, in the order they are reported
SPAN_METRICS = (
    "wall_s",
    "jobs",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_cpu_s",
    "driver_only_s",
)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Collects spans when ``enabled``; otherwise every span is a no-op
    that yields a scratch dict, so traced and untraced runs execute the
    same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        #: wall spent collecting, i.e. the cost tracing adds to the run
        self.collect_s = 0.0

    def bind(self, spark) -> None:
        """Follow a (re)created session."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, layer: str, start: float | None = None):
        """Trace one call into ``layer``. ``start`` backdates the span
        (a session set-up span starts before its SparkContext exists).
        The yielded dict takes the layer's counts and ratios."""
        rec: dict = {"layer": layer}
        if not self.enabled:
            yield rec
            return
        group = f"kgbench-{len(self.spans)}-{layer}"
        t0 = time.time() if start is None else start
        self.sc.setJobGroup(group, layer)
        try:
            yield rec
        finally:
            t1 = time.time()
            self.sc._jsc.clearJobGroup()
            rec.update(self.collect(group, t0, t1))
            self.spans.append(rec)
            self.collect_s += time.time() - t1

    def collect(self, group: str, t0: float, t1: float) -> dict:
        """Spark metrics of the jobs of ``group``, for a span ``[t0, t1]``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        intervals = []
        stage_ids: set[int] = set()
        job_ids = tracker.getJobIdsForGroup(group)
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {
            "wall_s": t1 - t0,
            "jobs": len(job_ids),
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "executor_cpu_s": 0.0,
            "driver_only_s": (t1 - t0) - _covered(intervals, t0, t1),
        }
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out

    def layer_metrics(self, layers: list[str], ratios: list[str]) -> dict[str, float]:
        """Per-call medians over the spans of each layer. A layer the
        workload did not call reports zero calls' worth: 0 for every
        metric. ``ratios`` are ``<layer>.<name>`` counts stored on spans."""
        by_layer: dict[str, list[dict]] = {}
        for s in self.spans:
            by_layer.setdefault(s["layer"], []).append(s)
        out: dict[str, float] = {}
        for layer in layers:
            spans = by_layer.get(layer, [])
            for m in SPAN_METRICS:
                vals = [s[m] for s in spans]
                out[f"{layer}.{m}"] = float(statistics.median(vals)) if vals else 0.0
        for name in ratios:
            layer, key = name.rsplit(".", 1)
            vals = [s[key] for s in by_layer.get(layer, []) if key in s]
            out[name] = float(statistics.median(vals)) if vals else 0.0
        return out
