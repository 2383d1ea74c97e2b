"""Session pinning, spans and Spark status-store counters for the benchmark.

Everything here wraps the engine from outside: a span times one call into
a layer's public function, and in traced mode it also records the deltas
of the Spark status store around that call (jobs, stages, tasks, input
bytes, shuffle bytes, spill, executor CPU, Python-worker tasks). The
client is a single thread running a closed loop, so every Spark job that
starts inside a span belongs to the call the span wraps.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import time
from contextlib import contextmanager

#: Physical operators whose stages run tasks in Python workers.
PYTHON_OPERATORS = re.compile(
    r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|FlatMapGroupsInArrow|PythonMapInArrow"
)

#: Spark task slots. The ops are dominated by per-job driver work; the
#: other cores are left to the JVM's compiler and GC threads, the Python
#: driver and Python workers, which otherwise compete with the tasks.
MAX_CPUS = 2

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "python_tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_cpu_s",
    "job_busy_s",
)


def session_settings(root: str, scratch: str) -> dict[str, str]:
    """Environment that pins the Spark session to this machine.

    Cores are capped at ``MAX_CPUS`` and at ``nproc``; the driver heap is
    a quarter of available memory, capped at 3 GiB; shuffle and temp
    files go under ``scratch``; Python workers import the engine from
    ``root``; no JVM writes outside ``scratch``."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    avail_kb = 4 * 1024 * 1024
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    heap_mb = max(1024, min(3072, avail_kb // 1024 // 4))
    pythonpath = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        "PYTHONPATH": root + (os.pathsep + pythonpath if pythonpath else ""),
        # every JVM, the launcher included, skips its hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }


def start_session(settings: dict[str, str]):
    """Apply ``settings`` to the environment and start the session."""
    os.environ.update(settings)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from aws_seismic_data_pipeline_spark.session import get_spark

    tmp = settings["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": settings["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


class StatusCounters:
    """Reads the deltas of the Spark status store since the last call."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._no_quantiles = spark._sc._gateway.new_array(spark._jvm.double, 0)
        self._dot = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
        self._job_hi = -1
        self._stage_hi = -1
        self.mark()

    def _settle(self) -> None:
        # status events arrive on the listener bus after the job returns
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs_since(self, hi: int) -> list:
        """Jobs with an id above ``hi``, streaming micro-batches included
        (the status store lists the newest first)."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= hi:
                break
            out.append(job)
        return out

    def mark(self) -> None:
        """Forget everything that ran so far."""
        self._settle()
        jobs = self._store.jobsList(None)
        self._job_hi = jobs.apply(0).jobId() if jobs.size() else -1
        stages = self._stage_list()
        self._stage_hi = stages.apply(0).stageId() if stages.size() else -1

    def _stage_list(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def delta(self) -> dict[str, float]:
        """Counters of the jobs and stages that ran since the last call."""
        self._settle()
        out = dict.fromkeys(COUNTERS, 0)
        new_jobs = self._jobs_since(self._job_hi)
        spans = [
            (
                job.submissionTime().get().getTime(),
                job.completionTime().get().getTime(),
            )
            for job in new_jobs
            if job.submissionTime().isDefined() and job.completionTime().isDefined()
        ]
        out["jobs"] = len(new_jobs)
        out["job_busy_s"] = _union_seconds(spans)
        if new_jobs:
            self._job_hi = new_jobs[0].jobId()
        stages = self._stage_list()
        top = self._stage_hi
        for i in range(stages.size()):  # newest first
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._stage_hi:
                break
            top = max(top, sid)
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            tasks = st.numCompleteTasks()
            out["tasks"] += tasks
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            dot = self._dot.makeDotFile(self._store.operationGraphForStage(sid))
            if PYTHON_OPERATORS.search(dot):
                out["python_tasks"] += tasks
        self._stage_hi = top
        return out


def _add(acc: dict, more: dict) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0) + v


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start_ms, end_ms] intervals."""
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


class Tracer:
    """Spans around layer calls, kept in memory until the run ends.

    With ``enabled`` false a span only measures wall time; with it true
    each span also carries the status-store deltas of its call, and the
    time spent reading them is kept as the tracing overhead."""

    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self._counters = StatusCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call; ``attrs`` and anything the body adds to the
        yielded dict are stored on the span."""
        rec = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        if self._counters is not None:
            # jobs run before this span belong to its parent, if any
            t = time.perf_counter()
            before = self._counters.delta()
            if self._stack:
                _add(self.spans[self._stack[-1]].setdefault("own", {}), before)
            rec["own"] = {}
            self.overhead_s += time.perf_counter() - t
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._counters is not None:
                t = time.perf_counter()
                _add(rec["own"], self._counters.delta())
                total = dict(rec.pop("own"))
                for child in self.spans[rec["id"] + 1 :]:
                    if child["parent"] == rec["id"]:
                        _add(total, child["counters"])
                rec["counters"] = total
                self.overhead_s += time.perf_counter() - t

    @contextmanager
    def aside(self):
        """Work done for the trace itself: its jobs are charged to no
        span and its time counts as tracing overhead."""
        t = time.perf_counter()
        if self._counters is not None and self._stack:
            own = self.spans[self._stack[-1]].setdefault("own", {})
            _add(own, self._counters.delta())
        try:
            yield
        finally:
            if self._counters is not None:
                self._counters.delta()
            self.overhead_s += time.perf_counter() - t

    def self_seconds(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(
            c["end"] - c["start"]
            for c in self.spans[rec["id"] + 1 :]
            if c["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    def layer_totals(self, layer_of) -> dict[str, dict[str, float]]:
        """Per layer: self seconds, self counters, call count and the
        ``n_*`` attributes of its spans.

        ``layer_of(span)`` names the layer a span belongs to, or None."""
        out: dict[str, dict[str, float]] = {}
        for rec in self.spans:
            layer = layer_of(rec)
            if layer is None or "end" not in rec:
                continue
            acc = out.setdefault(layer, {"busy_s": 0.0, "calls": 0})
            acc["busy_s"] += self.self_seconds(rec)
            acc["calls"] += 1
            own = dict(rec.get("counters", {}))
            for child in self.spans[rec["id"] + 1 :]:
                if child["parent"] == rec["id"]:
                    for k, v in child.get("counters", {}).items():
                        own[k] -= v
            _add(acc, own)
            _add(
                acc,
                {
                    k: v
                    for k, v in rec.items()
                    if k.startswith("n_") and isinstance(v, (int, float))
                },
            )
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def _proc_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this Python driver plus its JVM, in MiB."""
    me = os.getpid()
    total = _status_kb(me, "VmHWM")
    for pid in _proc_tree(me)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
        except OSError:
            continue
        total += _status_kb(pid, "VmHWM")
    return total / 1024.0
