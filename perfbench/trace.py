"""Outside-in tracing: spans around the benchmark's own calls into each
layer, the Py4J command count at the gateway client, and readers for the
counts Spark keeps in its status stores and streaming progress events.

Spans stay in memory until the run ends. Everything that talks to the status
stores runs outside the timed region.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from dataclasses import dataclass

import numpy as np
import py4j.java_gateway as _jg
from py4j import protocol as _proto

# Python's garbage collector releases JVM references with memory-delete
# commands at arbitrary points; counting them would make the count depend on
# collector timing instead of on the code path.
_DETACH = _proto.MEMORY_COMMAND_NAME + _proto.MEMORY_DEL_SUBCOMMAND_NAME


class Py4JCounter:
    """Counts non-detach Py4J commands sent from the main thread."""

    def __init__(self) -> None:
        self.n = 0
        self._main = threading.main_thread().ident
        self._orig = None

    def install(self) -> None:
        orig = self._orig = _jg.GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if threading.get_ident() == counter._main and not command.startswith(_DETACH):
                counter.n += 1
            return orig(client, command, *args, **kwargs)

        _jg.GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            _jg.GatewayClient.send_command = self._orig
            self._orig = None


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class Tracer:
    """Records spans (workload -> op -> layer call) and Py4J counts."""

    def __init__(self, py4j: Py4JCounter) -> None:
        self.py4j = py4j
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op or (self.spans[parent].op if parent is not None else ""),
                 parent, time.perf_counter())
        idx = len(self.spans)
        self.spans.append(s)
        self._stack.append(idx)
        n0 = self.py4j.n
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j = self.py4j.n - n0
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += s.end - s.start

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_self_ms(self, name: str) -> float:
        spans = self.named(name)
        return statistics.median(s.self_s for s in spans) * 1e3 if spans else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": s.self_s,
                    "py4j": s.py4j,
                }) + "\n")


class NullTracer:
    """Stands in for Tracer in untraced runs: a span is a no-op context manager."""

    def span(self, name: str, op: str = ""):
        return contextlib.nullcontext()


class JobGroups:
    """Tags every Spark job an op starts with the op's job group, so the
    status-store reader can attribute stages and SQL executions to ops."""

    def __init__(self, spark, enabled: bool) -> None:
        self._sc = spark.sparkContext
        self.enabled = enabled
        self.used: set[str] = set()

    def set(self, group: str, description: str) -> None:
        if self.enabled:
            self._sc.setJobGroup(group, description)
            self.used.add(group)

    def clear(self) -> None:
        if self.enabled:
            self._sc.setLocalProperty("spark.jobGroup.id", None)


_STAGE_SUMS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "spill_mb": ("memoryBytesSpilled", 1 / 2**20),
    "input_mb": ("inputBytes", 1 / 2**20),
}


class StatusReader:
    """Reads Spark's in-process status stores through one JSON
    serialization per call instead of one Py4J round trip per field."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def snapshot(self) -> "StoreSnapshot":
        jobs = self._json(self._core.jobsList(None))
        stages = self._json(self._core.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0), None))
        executions = self._json(self._sql.executionsList())
        return StoreSnapshot(self, jobs, stages, executions)

    def plan_nodes(self, execution_id: int) -> list[dict]:
        """Plan-graph nodes in pre-order with their SQL metric values."""
        values = self._json(self._sql.executionMetrics(execution_id))
        nodes = self._json(self._sql.planGraph(execution_id).allNodes())
        for node in nodes:
            node["values"] = {
                m["name"]: values.get(str(m["accumulatorId"])) for m in node["metrics"]
            }
        return sorted(nodes, key=lambda n: n["id"])


class StoreSnapshot:
    def __init__(self, reader: StatusReader, jobs, stages, executions) -> None:
        self.reader = reader
        self.jobs = jobs
        self.stages = {
            (s["stageId"], s["attemptId"]): s for s in stages if s["status"] == "COMPLETE"
        }
        self.executions = executions

    def job_ids(self, groups) -> set[int]:
        groups = set(groups)
        return {j["jobId"] for j in self.jobs if j.get("jobGroup") in groups}

    def exec_sums(self, groups) -> dict[str, float]:
        """jobs, stages and summed stage metrics of the given job groups."""
        jobs = [j for j in self.jobs if j.get("jobGroup") in set(groups)]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for (sid, _), s in self.stages.items() if sid in stage_ids]
        out = {"jobs": float(len(jobs)), "stages": float(len(stages))}
        for key, (field_name, scale) in _STAGE_SUMS.items():
            out[key] = sum(s[field_name] for s in stages) * scale
        return out

    def execution_ids(self, groups) -> list[int]:
        """SQL executions with at least one job in the given job groups."""
        jobs = {str(j) for j in self.job_ids(groups)}
        return [e["executionId"] for e in self.executions if jobs & set(e["jobs"])]


def stream_collector(spark):
    """A StreamingQueryListener that keeps each micro-batch's duration
    breakdown and state-operator metrics, keyed by query run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCollector(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: dict[str, list[dict]] = {}
            self.run_ids: dict[str, str] = {}
            self.terminated: set[str] = set()
            self._cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            with self._cv:
                self.run_ids[event.name] = str(event.runId)
                self.progress[str(event.runId)] = []

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            row = {
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {"rows_total": s.numRowsTotal, "memory_bytes": s.memoryUsedBytes,
                     "commit_ms": s.commitTimeMs}
                    for s in p.stateOperators
                ],
            }
            with self._cv:
                self.progress[str(p.runId)].append(row)

        def onQueryTerminated(self, event) -> None:
            with self._cv:
                self.terminated.add(str(event.runId))
                self._cv.notify_all()

        def wait_terminated(self, names, timeout: float = 60.0) -> list[str]:
            """Listener events arrive asynchronously: wait until every named
            query's termination, posted after its last progress event, is
            seen. Returns the queries' run ids."""

            def done():
                return all(self.run_ids.get(n) in self.terminated for n in names)

            with self._cv:
                if not self._cv.wait_for(done, timeout):
                    raise TimeoutError(f"no termination event for some of {names}")
                return [self.run_ids[n] for n in names]

    collector = StreamCollector()
    spark.streams.addListener(collector)
    return collector


def parse_metric(value: str | None) -> float:
    """A SQL metric's display value ('1,234', '3.2 MiB', '12 ms', or a
    'total (min, med, max)' breakdown) as a number in base units."""
    if not value:
        return 0.0
    text = value.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[-1].split("(", 1)[0].strip()
    parts = text.replace(",", "").split()
    units = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
             "ms": 1e-3, "s": 1, "m": 60, "h": 3600}
    try:
        return float(parts[0]) * (units.get(parts[1], 1) if len(parts) > 1 else 1)
    except (ValueError, IndexError):
        return 0.0


def percentile(values, q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile (q in 0..100) of a
    non-empty sample: the mean of all order statistics weighted by a
    Beta(q(n+1), (1-q)(n+1)) distribution. Over the 14 to 28 ops of one
    run it varies far less than any single order statistic (a nearest-rank
    percentile) does."""
    x = np.sort(np.asarray(values, dtype=float))
    p = q / 100
    a, b = p * (len(x) + 1), (1 - p) * (len(x) + 1)
    m = 100_000  # midpoint-rule cells for the Beta CDF
    t = (np.arange(m) + 0.5) / m
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    weights = np.diff(np.interp(np.arange(len(x) + 1) / len(x), np.arange(m + 1) / m, cdf / cdf[-1]))
    return float(weights @ x)
