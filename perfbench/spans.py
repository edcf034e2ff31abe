"""Tracing for the traced benchmark run: spans at layer boundaries, exact
job / stage / task counts per layer call, and executor metrics.

Spans come from wrappers the benchmark installs around public functions
of ``p6_spark`` (patched on the module where the caller looks the name
up) or from the benchmark's own call sites. They are kept in memory and
written out when the run ends. Counts come from one Spark job group per
measured layer call, read through ``statusTracker()``; executor CPU, GC,
shuffle and record counts come from the stage REST API of the Spark UI,
which only the traced run enables.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlparse

# Executed layer calls that get a job group of their own.
JOB_LAYERS = ("write_packet_files", "stats", "audit_collect", "plans_execute")
JOB_METRICS = ("jobs", "stages", "tasks", "shuffle_write_mb", "executor_cpu_s", "gc_s", "records_per_task")

# Spark UI settings for the traced run only: the REST API needs the UI,
# and the status store must keep every job and stage of the run.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class Tracer:
    """In-memory span recorder. A span is [name, start, end, parent, op]."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def patch(self, module, attr: str, name: str, count=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span and,
        after the span closes, adds ``count(result)`` to ``counts``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if count is not None and self.enabled:
                for key, n in count(result).items():
                    self.counts[key] += n
            return result

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unpatch_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its child spans cover
        (children of one span run one after another on one thread)."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        return [s[2] - s[1] - child[i] for i, s in enumerate(self.spans)]

    def per_op(self, n_ops: int) -> dict[str, tuple[float, float]]:
        """name -> (total seconds, self seconds), each per traced op."""
        tot: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        for (name, start, end, _, op), st in zip(self.spans, self.self_times()):
            if op is not None:
                tot[name] += end - start
                own[name] += st
        return {k: (tot[k] / n_ops, own[k] / n_ops) for k in tot}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op"],
                    "spans": self.spans,
                    "self_s": self.self_times(),
                },
                f,
            )


class JobGroups:
    """One Spark job group per measured layer call; counts read back
    through the status tracker once the run is over."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc, self.enabled = sc, enabled
        self.groups: list[tuple[str, str]] = []

    def call(self, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        gid = f"{layer}#{len(self.groups)}"
        self.groups.append((layer, gid))
        self.sc.setJobGroup(gid, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.sc.setJobGroup("untracked", "untracked")

    def _settled(self, tracker) -> bool:
        for _, gid in self.groups:
            for jid in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(jid)
                if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                    return False
        return True

    def metrics(self, n_ops: int) -> dict[str, float]:
        """``<layer>.<metric>`` per op for every layer in JOB_LAYERS."""
        out = {f"{layer}.{m}": 0.0 for layer in JOB_LAYERS for m in JOB_METRICS}
        if not self.enabled or not self.groups:
            return out
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 20
        while not self._settled(tracker) and time.monotonic() < deadline:
            time.sleep(0.2)
        time.sleep(0.5)  # let stage completions reach the status store
        rest = self._stage_rest()
        acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for layer, gid in self.groups:
            a = acc[layer]
            for jid in tracker.getJobIdsForGroup(gid):
                a["jobs"] += 1
                for sid in tracker.getJobInfo(jid).stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    a["stages"] += 1
                    a["tasks"] += st.numCompletedTasks
                    r = rest.get(sid)
                    if r is not None:
                        a["shuffle_write_mb"] += r["shuffleWriteBytes"] / 2**20
                        a["executor_cpu_s"] += r["executorCpuTime"] / 1e9
                        a["gc_s"] += r["jvmGcTime"] / 1e3
                        a["records"] += r["inputRecords"] + r["shuffleReadRecords"]
        for layer, a in acc.items():
            for m in JOB_METRICS:
                if m == "records_per_task":
                    out[f"{layer}.{m}"] = a["records"] / a["tasks"] if a["tasks"] else 0.0
                else:
                    out[f"{layer}.{m}"] = a[m] / n_ops
        return out

    def _stage_rest(self) -> dict[int, dict]:
        """stageId -> metrics of its last completed attempt, from the UI's
        REST API (reached on the loopback address)."""
        port = urlparse(self.sc.uiWebUrl).port
        url = (
            f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{self.sc.applicationId}/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=30) as resp:
            stages = json.load(resp)
        out: dict[int, dict] = {}
        for s in stages:
            prev = out.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                out[s["stageId"]] = s
        return out
