"""Traced runs: spans around calls into the engine's layers, tagged with
Spark job groups, joined to stage metrics from Spark's status store.

The spans are recorded from the benchmark's side of the API: ``Tracer``
replaces the layer functions that ``plans.runner`` imports (and
``TableProvider.append``) with wrappers for the duration of the traced
section and restores them afterwards.  Every span runs its Spark jobs
under its own job group, so busy time comes from the stage metrics of
that group's jobs, not from the span's wall time (the runner's thread
pool overlaps actions, so a span also covers time spent waiting for
cores).  The status store is read over py4j; nothing leaves the process.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import statistics
import threading
import time

MB = 1024 * 1024

#: runner-imported layer functions, by module, with their span names
LAYER_FUNCS = {
    "profile": ["build_profile", "build_profile_and_counts",
                "single_job_limit_collect"],
    "constraints": ["uniqueness_violation_counts",
                    "referential_violation_counts", "uniqueness_violations",
                    "referential_violations", "row_level_violations",
                    "completeness_violation_frames", "fd_violation_frame",
                    "join_rule_violation_frame", "metric_fused_values",
                    "distinctness_values", "ordering_values"],
    "contrast": ["contrast"],
    "manifest": ["completed_partitions", "write_manifest"],
}
#: actions the runner submits to its thread pool
POOLED = {"profile.build_profile_and_counts",
          "constraints.uniqueness_violation_counts",
          "constraints.referential_violation_counts",
          "constraints.metric_fused_values",
          "constraints.distinctness_values", "constraints.ordering_values"}
#: plan nodes that exchange Arrow batches with Python workers
PYTHON_NODES = re.compile(r"^(MapInPandas|MapInArrow|ArrowEvalPython|"
                          r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
                          r"AggregateInPandas|WindowInPandas|BatchEvalPython|"
                          r"ArrowWindowPython|FlatMapGroupsInArrow|"
                          r"FlatMapCoGroupsInArrow|PythonMapInArrow)")
_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}


class Tracer:
    """In-memory spans + job-group tagging for one traced section."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.iteration = -1
        self._ids = itertools.count(1)
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            sid = next(self._ids)
            stack = self._stacks.setdefault(tid, [])
            # a pool thread's first span hangs off the main thread's
            # innermost open span (the run_validation call)
            owner = stack or self._stacks.get(self._main) or [None]
            parent = owner[-1]
            stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent,
               "iteration": self.iteration, "group": f"bench-span-{sid}"}
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                stack.pop()
                self.spans.append(rec)

    def _wrap(self, owner, attr: str, name: str, before=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                if before is not None:
                    before(rec)
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from data_validation_spark.plans import runner
        from data_validation_spark.sources.table_provider import TableProvider
        self._wrap(runner, "run_validation", "runner.run_validation")
        for layer, funcs in LAYER_FUNCS.items():
            for f in funcs:
                self._wrap(runner, f, f"{layer}.{f}",
                           self._note_storage if f == "write_manifest"
                           else None)
        self._wrap(TableProvider, "append", "sink.append")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _note_storage(self, rec: dict) -> None:
        # the runner releases its persisted violations frame right after
        # the manifest write, so this is where its footprint is visible
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        rec["persisted_bytes"] = sum(i.memSize() + i.diskSize()
                                     for i in infos)


# -- status store -----------------------------------------------------------

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def read_jobs(spark, since: float) -> list[dict]:
    """Every job submitted at or after ``since`` (epoch seconds), with
    the metrics of the stages it ran; each stage is credited to the
    first job that lists it, so reused shuffle stages count once."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub = _opt(j.submissionTime())
        if sub is None or sub.getTime() / 1e3 < since:
            continue
        end = _opt(j.completionTime())
        jobs.append({"id": j.jobId(), "group": _opt(j.jobGroup()),
                     "start": sub.getTime() / 1e3,
                     "end": end.getTime() / 1e3 if end else time.time(),
                     "stage_ids": _seq(j.stageIds())})
    jobs.sort(key=lambda x: x["id"])
    seen: set[int] = set()
    for job in jobs:
        job["stages"] = []
        for sid in job["stage_ids"]:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted from the store
                continue
            if s.status().toString() == "SKIPPED":
                continue
            job["stages"].append({
                "id": sid, "attempt": s.attemptId(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_b": s.inputBytes(), "output_b": s.outputBytes(),
                "shuffle_read_b": s.shuffleReadBytes(),
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.diskBytesSpilled(),
                "tasks": s.numCompleteTasks(),
                "failed_tasks": s.numFailedTasks()})
    return jobs


def task_skew(spark, stage: dict) -> float:
    """max / median executor run time over one stage's tasks."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = _seq(store.taskList(stage["id"], stage["attempt"], 100_000))
    times = [_opt(t.taskMetrics()).executorRunTime() for t in tasks
             if t.taskMetrics().isDefined()]
    med = statistics.median(times) if times else 0
    return max(times) / med if med else 1.0


def _metric_value(text: str) -> float:
    """Parse a SQL metric's display string ("1.2 MiB", "12,345", or the
    multi-task "total (min, med, max ...)\\n3.4 s (...)") to a number."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def python_metrics(spark, job_ids: set[int]) -> dict:
    """Python/Arrow exchange totals over the SQL executions that ran any
    of ``job_ids``: bytes to and from Python workers, rows returned,
    worker run time, and the executor run time of those executions."""
    sql = spark._jsparkSession.sharedState().statusStore()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"to_b": 0.0, "from_b": 0.0, "rows": 0.0, "python_s": 0.0,
           "stage_run_s": 0.0}
    for ex in _seq(sql.executionsList()):
        jobs = {int(k) for k in
                re.findall(r"(\d+) ->", ex.jobs().toString())}
        if not jobs & job_ids:
            continue
        values = sql.executionMetrics(ex.executionId())
        has_python = False
        for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
            if not PYTHON_NODES.match(node.name()):
                continue
            has_python = True
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                key = {"data sent to Python workers": "to_b",
                       "data returned from Python workers": "from_b",
                       "number of output rows": "rows",
                       "time to run Python workers": "python_s"
                       }.get(m.name())
                if key:
                    out[key] += _metric_value(v.get())
        if has_python:
            for sid in re.findall(r"\d+", ex.stages().toString()):
                try:
                    out["stage_run_s"] += \
                        store.lastStageAttempt(int(sid)).executorRunTime() / 1e3
                except Exception:  # py4j: stage evicted from the store
                    pass
    return out


# -- per-layer metrics ------------------------------------------------------

def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _stages(jobs: list[dict]) -> list[dict]:
    return [s for j in jobs for s in j["stages"]]


def _sum(stages: list[dict], key: str, scale: float = 1.0) -> float:
    return sum(s[key] for s in stages) / scale


def iteration_metrics(spark, spans: list[dict], jobs: list[dict],
                      start: float, end: float) -> dict[str, float]:
    """Per-layer metrics of one traced iteration ``[start, end]``."""
    it_jobs = [j for j in jobs if start <= j["start"] <= end]
    by_group: dict[str, list[dict]] = {}
    for j in it_jobs:
        by_group.setdefault(j["group"], []).append(j)

    def jobs_of(name: str) -> list[dict]:
        return [j for s in spans if s["name"] == name
                for j in by_group.get(s["group"], [])]

    def span_s(name: str, pred=lambda s: True) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and pred(s))

    m: dict[str, float] = {}
    all_st = _stages(it_jobs)
    wall = end - start
    m["runner.jobs"] = len(it_jobs)
    m["runner.driver_serial_s"] = wall - _union_s(
        [(j["start"], j["end"]) for j in it_jobs])
    pooled = [s for s in spans if s["name"] in POOLED]
    if pooled:
        phase = (max(s["end"] for s in pooled)
                 - min(s["start"] for s in pooled))
        busy = sum(j["end"] - j["start"] for s in pooled
                   for j in by_group.get(s["group"], []))
        m["runner.pool_overlap"] = busy / phase if phase > 0 else 0.0
    else:
        m["runner.pool_overlap"] = 0.0
    worklist = 0.0
    for rv in (s for s in spans if s["name"] == "runner.run_validation"):
        kids = [s["start"] for s in spans if s["parent"] == rv["id"]]
        first_child = min(kids) if kids else rv["end"]
        worklist += sum(j["end"] - j["start"]
                        for j in by_group.get(rv["group"], [])
                        if j["start"] < first_child)
    m["runner.worklist_s"] = worklist

    prof = _stages(jobs_of("profile.build_profile_and_counts"))
    m["profile.executor_run_s"] = _sum(prof, "run_s")
    m["profile.executor_cpu_s"] = _sum(prof, "cpu_s")
    m["profile.input_mb"] = _sum(prof, "input_b", MB)
    m["profile.shuffle_write_mb"] = _sum(prof, "shuffle_write_b", MB)
    m["profile.jobs"] = len(jobs_of("profile.build_profile_and_counts"))

    uniq = _stages(jobs_of("constraints.uniqueness_violation_counts"))
    m["constraints.unique.executor_run_s"] = _sum(uniq, "run_s")
    m["constraints.unique.shuffle_write_mb"] = _sum(uniq, "shuffle_write_b",
                                                    MB)
    m["constraints.unique.spill_mb"] = _sum(uniq, "spill_b", MB)
    m["constraints.unique.task_skew"] = (
        task_skew(spark, max(uniq, key=lambda s: s["run_s"]))
        if uniq else 0.0)
    m["constraints.referential.executor_run_s"] = _sum(
        _stages(jobs_of("constraints.referential_violation_counts")),
        "run_s")
    m["contrast.span_s"] = span_s("contrast.contrast")

    ids = {s["id"]: s for s in spans}
    manifest_ids = {s["id"] for s in spans
                    if s["name"] == "manifest.write_manifest"}
    sink_jobs = jobs_of("sink.append")
    m["sink.append_s"] = span_s("sink.append",
                                lambda s: s["parent"] not in manifest_ids)
    m["sink.output_mb"] = _sum(_stages(sink_jobs), "output_b", MB)
    m["sink.jobs"] = len(sink_jobs)
    m["manifest.write_s"] = span_s("manifest.write_manifest")
    m["manifest.read_s"] = span_s("manifest.completed_partitions")
    m["cache.persisted_mb"] = sum(ids[i].get("persisted_bytes", 0)
                                  for i in manifest_ids) / MB

    py = python_metrics(spark, {j["id"] for j in it_jobs})
    m["arrow.to_python_mb"] = py["to_b"] / MB
    m["arrow.from_python_mb"] = py["from_b"] / MB
    m["arrow.python_rows"] = py["rows"]
    m["arrow.python_run_s"] = py["python_s"]
    m["arrow.stage_run_s"] = py["stage_run_s"]

    for s in spans:
        if s["name"].startswith("query."):
            q = s["name"]
            m[f"{q}.s"] = s["end"] - s["start"]
            m[f"{q}.shuffle_write_mb"] = _sum(
                _stages(by_group.get(s["group"], [])), "shuffle_write_b", MB)

    m["spark.executor_run_s"] = _sum(all_st, "run_s")
    m["spark.gc_s"] = _sum(all_st, "gc_s")
    m["spark.shuffle_read_mb"] = _sum(all_st, "shuffle_read_b", MB)
    m["spark.shuffle_write_mb"] = _sum(all_st, "shuffle_write_b", MB)
    m["spark.spill_mb"] = _sum(all_st, "spill_b", MB)
    m["spark.tasks"] = _sum(all_st, "tasks")
    m["spark.failed_tasks"] = _sum(all_st, "failed_tasks")
    return m
