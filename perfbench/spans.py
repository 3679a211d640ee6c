"""In-memory spans around the benchmark's calls into the engine.

A span records its name, start, end, parent and run id, the Spark jobs
it ran (each span sets its own job group; counts come from the status
tracker) and the stages completed while it was open
(``kgfarm_spark.plans.metrics.StageMetrics``, which reads the UI REST
API, so only traced sessions enable the UI). Spans stay in memory and are
written to one JSON file by ``dump``. The disabled tracer hands out a
shared no-op span, so an untraced run pays one no-op ``with`` per span.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request

from kgfarm_spark.plans.metrics import StageMetrics


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


class Span:
    def __init__(self, tracer: "Tracer", name: str, attrs: dict, task_summaries: bool):
        self.tracer = tracer
        self.rec = {"name": name, "run_id": tracer.run_id, **attrs}
        self._metrics = StageMetrics(tracer.spark, task_summaries=task_summaries)

    def __enter__(self):
        t = self.tracer
        self.rec["span_id"] = len(t.spans)
        self.rec["parent"] = t.stack[-1]["span_id"] if t.stack else None
        t.spans.append(self.rec)
        t.stack.append(self.rec)
        self._group = f"perfbench-span-{self.rec['span_id']}"
        t.sc.setJobGroup(self._group, self.rec["name"])
        self._metrics.__enter__()
        self.rec["start"] = time.monotonic() - t.t0
        return self

    def __exit__(self, *exc):
        t = self.tracer
        self.rec["end"] = time.monotonic() - t.t0
        jobs = list(t.sc.statusTracker().getJobIdsForGroup(self._group))
        t.wait_for_stages(jobs)
        self._metrics.__exit__(*exc)
        t.stack.pop()
        if t.stack:
            t.sc.setJobGroup(f"perfbench-span-{t.stack[-1]['span_id']}", t.stack[-1]["name"])
        else:
            t.sc.setJobGroup("perfbench-idle", "outside spans")
        children = [s for s in t.spans if s.get("parent") == self.rec["span_id"]]
        self.rec["own_jobs"] = len(jobs)
        self.rec["jobs"] = len(jobs) + sum(c["jobs"] for c in children)
        self.rec["stages"] = self._metrics.stages
        self.rec["summary"] = self._metrics.summary()
        self.rec["wall_s"] = self.rec["end"] - self.rec["start"]
        self.rec["self_s"] = self.rec["wall_s"] - _covered(children)
        return False

    def set(self, **attrs) -> None:
        self.rec.update(attrs)


def _covered(children: list[dict]) -> float:
    """Length of the union of the children's [start, end] intervals."""
    total, reach = 0.0, float("-inf")
    for c in sorted(children, key=lambda c: c["start"]):
        lo = max(c["start"], reach)
        if c["end"] > lo:
            total += c["end"] - lo
        reach = max(reach, c["end"])
    return total


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.t0 = time.monotonic()
        self.wait_timeouts = 0

    def span(self, name: str, task_summaries: bool = False, **attrs):
        if not self.enabled:
            return _NULL
        return Span(self, name, attrs, task_summaries)

    def wait_for_stages(self, job_ids: list[int], timeout_s: float = 10.0) -> None:
        """Block until the UI REST API lists every stage of ``job_ids`` as
        finished: the listener bus delivers stage completions after the
        action returns, and a span must not close before its stages show."""
        st = self.sc.statusTracker()
        want = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                want.update(info.stageIds)
        if not want:
            return
        app = self.sc.applicationId
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{app}/stages"
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            try:
                with urllib.request.urlopen(url, timeout=10) as r:
                    status = {s["stageId"]: s["status"] for s in json.load(r)}
            except OSError:
                return
            if all(status.get(s) in ("COMPLETE", "SKIPPED", "FAILED") for s in want):
                return
            time.sleep(0.02)
        self.wait_timeouts += 1

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median(self, name: str, value) -> float:
        """Median over spans called ``name`` of ``value(span)``; 0 when the
        run opened no such span (the layer was not exercised)."""
        vals = [value(s) for s in self.named(name)]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "wait_timeouts": self.wait_timeouts, **extra, "spans": self.spans},
                f,
                indent=1,
            )
