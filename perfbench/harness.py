"""Closed-loop runner, span tracer and Spark-side readings.

Everything here sits outside the engine package: spans are opened around
calls into the package's public functions (by wrapping module attributes
in traced runs), and Spark is read only through public
APIs: ``queryExecution().tracker()``, ``CodeGenerator.compileTime`` /
``CodegenMetrics`` and the ``AppStatusStore`` job and stage data.
"""

from __future__ import annotations

import json
import math
import os
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1] (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int) -> float:
    """The highest percentile level with at least ten samples beyond it,
    never below the median."""
    return max(0.5, 1.0 - 10.0 / n) if n else 0.5


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span, op id.

    ``enabled`` is flipped per pass so one process can time traced and
    untraced passes of the same work; a disabled tracer records nothing.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` by a wrapper that opens span ``name``
        around each call; ``on_result(span, args, result)`` may annotate
        the span. The wrapper stays installed; ``enabled`` gates it."""
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if rec is not None and on_result is not None:
                    on_result(rec, args, result)
                return result

        setattr(module, attr, wrapper)

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the time covered by child spans."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
    return out


# ---------------------------------------------------------------------------
# Spark readings
# ---------------------------------------------------------------------------


class SparkProbe:
    """Counters read from the driver JVM through public Spark APIs."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def codegen(self) -> tuple[int, int]:
        """(classes compiled so far, nanoseconds spent compiling so far)."""
        return (
            int(self._metrics.METRIC_COMPILATION_TIME().getCount()),
            int(self._codegen.compileTime()),
        )

    @staticmethod
    def phases(df) -> dict[str, float]:
        """Catalyst phase durations (s) of a DataFrame's query execution."""
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().durationMs() / 1000.0
        return out

    def jobs_and_stages(self) -> tuple[list[dict], dict[int, dict]]:
        """All retained jobs and stages, serialised once in the JVM."""
        jvm = self.spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(scala_module.__getattr__("MODULE$"))
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        by_id: dict[int, dict] = {}
        for st in stages:
            # keep the latest attempt of each stage
            if st["stageId"] not in by_id or st["attemptId"] > by_id[st["stageId"]]["attemptId"]:
                by_id[st["stageId"]] = st
        return jobs, by_id

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def exec_metrics(group: str, jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Per-op executor figures from the jobs tagged with job group ``group``."""
    mine = [j for j in jobs if j.get("jobGroup") == group]
    spans = [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in mine
        if j.get("submissionTime") and j.get("completionTime")
    ]
    m = {
        "jobs": len(mine),
        "jobs_wall_s": union_length(spans),
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "sched_wait_s": 0.0,
        "tasks": 0,
        "input_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_records": 0,
        "spill_bytes": 0,
    }
    for sid in {s for j in mine for s in j["stageIds"]}:
        st = stages.get(sid)
        if st is None or st["status"] == "SKIPPED":
            continue
        m["task_run_s"] += st["executorRunTime"] / 1000.0
        m["task_cpu_s"] += st["executorCpuTime"] / 1e9
        m["gc_s"] += st["jvmGcTime"] / 1000.0
        if st.get("submissionTime") and st.get("firstTaskLaunchedTime"):
            m["sched_wait_s"] += max(st["firstTaskLaunchedTime"] - st["submissionTime"], 0) / 1000.0
        m["tasks"] += st["numCompleteTasks"]
        m["input_bytes"] += st["inputBytes"]
        m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        m["shuffle_records"] += st["shuffleWriteRecords"]
        m["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return m


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------------------
# Closed loop
# ---------------------------------------------------------------------------


@dataclass
class Op:
    id: str
    name: str
    kind: str  # "query" | "read" | "write"
    pass_no: int
    traced: bool
    wall: float = 0.0
    rows: int = 0
    ok: bool = True
    info: dict = field(default_factory=dict)


class Loop:
    """One client, one op at a time. Each op is timed around its call only;
    the answer check runs after the timer stops."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.probe = SparkProbe(spark)
        self.ops: list[Op] = []
        self.pass_no = 0

    def run(self, name: str, kind: str, fn, check=None):
        """Time ``fn()``; ``fn`` returns ``(value, df_or_None, rows)``.
        ``check(value)`` returns True when the answer is right."""
        traced = self.tracer.enabled
        op = Op(f"op{len(self.ops)}", name, kind, self.pass_no, traced)
        if traced:
            self.spark.sparkContext.setJobGroup(op.id, name)
            cg0 = self.probe.codegen()
        self.tracer.op = op.id
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op_name=name, kind=kind):
                value, df, op.rows = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
            op.wall = time.perf_counter() - t0
            op.ok = False
            op.info["error"] = repr(exc)[:300]
            self.ops.append(op)
            return None
        finally:
            self.tracer.op = None
        op.wall = time.perf_counter() - t0
        if traced:
            cg1 = self.probe.codegen()
            op.info["codegen_classes"] = cg1[0] - cg0[0]
            op.info["codegen_s"] = (cg1[1] - cg0[1]) / 1e9
            if df is not None:
                op.info["phases"] = self.probe.phases(df)
            self.spark.sparkContext.setJobGroup("idle", "between ops")
        if check is not None:
            try:
                verdict = check(value)
            except Exception as exc:  # noqa: BLE001 — a check that cannot run is a wrong answer
                verdict = False
                op.info["check_error"] = repr(exc)[:300]
            if isinstance(verdict, tuple):
                verdict, extra = verdict
                op.info.update(extra)
            op.ok = bool(verdict)
        self.ops.append(op)
        return value
