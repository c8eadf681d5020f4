"""Spans around the benchmark's calls into each layer, and the Spark
counters attributed to them.

A span records name, parent, start and end.  Each span runs under its
own ``setJobGroup``, so every job it submits carries the span's group.
After each top-level span (one query, or one migration pass) the tracer
reads Spark's in-process status stores, which work with the UI off:

- ``sc._jsc.sc().statusStore()``: jobs and stages (tasks, executor run
  and CPU time, shuffle, spill, input bytes, GC);
- ``sharedState().statusStore()``: the SQL plan metrics of the Python
  nodes (``MapInPandas``, ``FlatMapGroupsInPandas``, ...).

It reads them per top-level span because the stores evict after 1,000
jobs.  Jobs submitted from threads the span did not start carry no
group; they go to the innermost span whose interval holds their
submission time.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.skipped_stages",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.input_bytes",
    "spark.gc_s",
)
COUNTERS = SPARK_COUNTERS + tuple(PYTHON_METRICS.values())

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric: ``"total (min, med, max ...)\\n2.9 s
    (698 ms, ...)"`` gives 2.9; ``"1565.1 KiB"`` gives bytes."""
    line = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Span recorder; every method is a no-op when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        if not enabled:
            return
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module.__getattr__("MODULE$")
        )
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        self._seen_accums: set[str] = set()
        self._last_job = -1
        self._python_node = jvm.java.util.regex.Pattern.compile("Python workers")
        self.sync()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def sync(self) -> None:
        """Mark every job and SQL execution so far as seen, so untraced
        work never lands in a span."""
        if not self.enabled:
            return
        self._last_job = self._max_job_id([])
        self._last_exec = self._newest_exec()

    def _max_job_id(self, groups: list[str]) -> int:
        """Newest job id among ``groups`` and ungrouped jobs; never older
        than what was already read, since traced jobs carry a group."""
        tracker = self.sc.statusTracker()
        ids = [i for g in groups + [None] for i in tracker.getJobIdsForGroup(g)]
        return max(ids + [self._last_job])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": attrs,
            "group": f"perfbench:{len(self.spans)}:{name}",
            "counters": dict.fromkeys(COUNTERS, 0.0),
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        s["wall_start"] = time.time()
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["wall_end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.collect(s)

    def _owner(self, root: dict, group, submitted_ms) -> dict:
        tree = [x for x in self.spans[root["id"]:] if x is root or self._under(x, root)]
        for x in tree:
            if x["group"] == group:
                return x
        t = (submitted_ms or 0) / 1000.0
        inside = [x for x in tree if x["wall_start"] <= t <= x["wall_end"]]
        return inside[-1] if inside else root

    def _under(self, s: dict, root: dict) -> bool:
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
            if s is root:
                return True
        return False

    def collect(self, root: dict) -> None:
        """Attribute every job and SQL execution since the last read to
        the spans under ``root``.  Fields are read one py4j call at a
        time: serialising a whole status object costs ~2 ms each."""
        groups = [x["group"] for x in self.spans[root["id"]:]]
        newest = self._max_job_id(groups)
        # read by id, so jobs whose thread carried no (or a stale) group
        # are still seen
        job_ids = range(self._last_job + 1, newest + 1)
        self._last_job = newest
        owner_of_job, stage_owner = {}, {}
        for i in job_ids:
            j = self._store.job(i)
            group = j.jobGroup()
            submitted = j.submissionTime()
            s = self._owner(
                root,
                group.get() if group.isDefined() else None,
                submitted.get().getTime() if submitted.isDefined() else None,
            )
            owner_of_job[i] = s
            c = s["counters"]
            c["spark.jobs"] += 1
            c["spark.stages"] += j.numCompletedStages() + j.numFailedStages()
            c["spark.tasks"] += j.numCompletedTasks() + j.numFailedTasks()
            c["spark.failed_tasks"] += j.numFailedTasks()
            c["spark.skipped_stages"] += j.numSkippedStages()
            for sid in map(int, filter(None, j.stageIds().mkString(",").split(","))):
                if sid not in self._seen_stages:
                    self._seen_stages.add(sid)
                    stage_owner[sid] = s
        for sid, s in stage_owner.items():
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c = s["counters"]
            c["spark.executor_run_s"] += st.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["spark.input_bytes"] += st.inputBytes()
            c["spark.gc_s"] += st.jvmGcTime() / 1e3
        self._collect_python(owner_of_job)

    def _newest_exec(self) -> int:
        n = self._sql.executionsCount()
        tail = self._sql.executionsList(max(0, n - 1), 1)
        return tail.apply(0).executionId() if tail.size() else -1

    def _collect_python(self, owner_of_job: dict) -> None:
        newest = self._newest_exec()
        for eid in range(self._last_exec + 1, newest + 1):
            found = self._sql.execution(eid)
            if found.isEmpty():
                continue
            ex = found.get()
            values = ex.metricValues()
            # test JVM-side: plan metric lists run to thousands of entries
            if values is None or not self._python_node.matcher(
                self.sc._jvm.java.lang.StringBuilder().append(ex.metrics())
            ).find():
                continue
            # SQLPlanMetric(name,accumulatorId,metricType), one per line
            metrics = ex.metrics().mkString("\n")
            owners = [
                owner_of_job[int(j)]
                for j in filter(None, ex.jobs().keys().mkString(",").split(","))
                if int(j) in owner_of_job
            ]
            if not owners:
                continue
            values = self._json(values)
            for line in metrics.splitlines():
                name, acc, _ = line[len("SQLPlanMetric("):-1].rsplit(",", 2)
                key = PYTHON_METRICS.get(name)
                if key is None or acc in self._seen_accums or acc not in values:
                    continue
                self._seen_accums.add(acc)
                owners[0]["counters"][key] += parse_metric(values[acc])
        self._last_exec = newest

    def self_time(self, s: dict) -> float:
        kids = [x for x in self.spans if x["parent"] == s["id"]]
        return (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            rows.append(
                {
                    "id": s["id"],
                    "name": s["name"],
                    "parent": s["parent"],
                    "attrs": s["attrs"],
                    "start_s": s["start"],
                    "dur_s": s["end"] - s["start"],
                    "self_s": self.self_time(s),
                    "counters": {k: v for k, v in s["counters"].items() if v},
                }
            )
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
