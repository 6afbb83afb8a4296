"""Span recording and Spark job attribution for traced runs.

Spans are recorded from the benchmark's own code, around its calls into
the program's modules; nothing inside the package is changed. Each span
has a name, start and end (``time.perf_counter`` seconds), the index of
its parent span and a trace id ``workload:pass:unit``. Spans are kept in
memory and written out once, at exit.

Spark jobs are attributed with ``SparkSession.addTag``: every span that
can start jobs tags them with its trace id and phase, and the jobs and
stages are read back from the UI REST API (the UI is enabled only in
traced runs).
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "pbtag:"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None):
        """Record one span; nested spans on the same thread get it as
        parent unless ``parent`` is given (for spans on pool threads)."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, trace_id))
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


@contextmanager
def job_tag(spark, tag: str):
    """Tag every Spark job this thread starts inside the block."""
    spark.addTag(TAG_PREFIX + tag)
    try:
        yield
    finally:
        spark.removeTag(TAG_PREFIX + tag)


def user_tags(job: dict) -> list[str]:
    """The benchmark's tags on a REST job entry (Spark prefixes each user
    tag with the session and thread ids)."""
    return [t[t.index(TAG_PREFIX) + len(TAG_PREFIX):] for t in job.get("jobTags", []) if TAG_PREFIX in t]


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetch_jobs(spark, settle_s: float = 0.5, tries: int = 40) -> tuple[list[dict], dict[int, dict]]:
    """All finished jobs and their stages from the REST API, once the
    listener bus has caught up (the job count stops changing and no job
    is still running)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    prev = -1
    for _ in range(tries):
        jobs = _get(f"{base}/jobs")
        if len(jobs) == prev and all(j["status"] != "RUNNING" for j in jobs):
            break
        prev = len(jobs)
        time.sleep(settle_s)
    stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
    return jobs, stages


def job_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Jobs, completed stages and tasks, shuffle-write and spill bytes and
    executor run time (s) over ``jobs``. A stage shared by several jobs
    is counted once."""
    seen: set[int] = set()
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "executor_run_s": 0.0}
    for j in jobs:
        out["tasks"] += j["numCompletedTasks"]
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None or sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            out["executor_run_s"] += s["executorRunTime"] / 1000.0
    return out


def plan_seconds(df) -> float:
    """Catalyst analysis + optimisation + planning time of ``df``'s own
    query execution, forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


def python_worker_seconds(spark) -> float:
    """Python UDF worker time recorded by Spark's perf profiler since the
    last call (``spark.sql.pyspark.udf.profiler=perf``), then cleared."""
    results = spark._profiler_collector._perf_profile_results
    total = sum(stats.total_tt for stats in results.values())
    spark.profile.clear()
    return total


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the local-mode executors run inside it)."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
