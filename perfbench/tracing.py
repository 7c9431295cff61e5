"""Spans around calls into the engine, and a reader of Spark's status store.

A span is (id, name, parent, start, end). Spans of one run share a run
id, are held in memory and are written out when the run ends. While a
span is open its id is the Spark job group, so every job an engine call
starts is attributed to the innermost open span; the status store then
gives each span's stage metrics (task time, CPU, GC, shuffle, spill,
peak task memory, skew) and the Python SQL metrics (Arrow bytes sent
and returned, Python worker boot and run time).

The status store is the driver's in-process record of jobs, stages and
SQL executions. It is populated with `spark.ui.enabled=false` as well,
which is how `build_session` configures the engine. A metric the reader
cannot read is left out and a note says why.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager, nullcontext

# Python SQL metric name -> metric key; bytes and milliseconds
PYTHON_SQL_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.received_bytes",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
}


class NoTracer:
    """Untraced runs: no job groups, no spans."""

    def span(self, name: str):
        return nullcontext({})

    def bind(self, spark) -> None:
        pass


class Tracer:
    def __init__(self, run_id: str):
        self.sc = None  # bound once the session exists
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.sc
        if sc is not None:
            sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent["id"], parent["name"])
                else:
                    sc._jsc.clearJobGroup()

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def named(self, root: dict, name: str) -> list[dict]:
        return [s for s in self.descendants(root) if s["name"] == name]

    def span_ids(self, root: dict) -> list[str]:
        return [root["id"]] + [s["id"] for s in self.descendants(root)]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s["parent"] == pid]
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "self_s": self.self_time(s)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows, **extra}, f, indent=1)


def _scala_map_keys(jvm, scala_map) -> set[int]:
    return {int(k) for k in jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_map).keySet()}


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def _parse_total(text: str) -> float | None:
    """Total from a formatted SQL metric ('1,234', '12 ms' or
    'total (min, med, max ...)\\n38.1 MiB (...)'); used only when the
    accumulator itself is no longer reachable."""
    line = text.split("\n", 1)[-1].strip()
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StatusStore:
    """Reads per-job stage data and per-execution SQL metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.notes: list[str] = []

    def note(self, msg: str) -> None:
        if msg not in self.notes:
            self.notes.append(msg)

    def jobs_of(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_metrics(self, job_ids: list[int]) -> dict:
        """Sums over the stages of `job_ids`, plus the widest stage's task
        time skew (max / median task run time) and the largest per-task
        peak execution memory."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = {"exec.jobs": len(job_ids), "exec.tasks": 0, "exec.run_s": 0.0,
               "exec.jvm_cpu_s": 0.0, "exec.gc_s": 0.0,
               "exec.shuffle_write_bytes": 0, "exec.shuffle_read_bytes": 0,
               "exec.spill_bytes": 0, "exec.peak_task_mem_bytes": 0,
               "exec.input_rows": 0}
        widest = None
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception as e:  # py4j: stage evicted from the store
                self.note(f"stage {sid} not readable: {type(e).__name__}")
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            tot["exec.tasks"] += sd.numCompleteTasks()
            tot["exec.run_s"] += sd.executorRunTime() / 1e3
            tot["exec.jvm_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["exec.gc_s"] += sd.jvmGcTime() / 1e3
            tot["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["exec.input_rows"] += sd.inputRecords()
            dist = self._task_quantiles(sid, sd.attemptId())
            if dist is None:
                continue
            tot["exec.peak_task_mem_bytes"] = max(
                tot["exec.peak_task_mem_bytes"], dist["peak_mem_max"])
            key = (sd.numCompleteTasks(), sd.executorRunTime())
            if widest is None or key > widest[0]:
                widest = (key, dist)
        tot["exec.task_skew"] = None
        if widest is not None and widest[1]["run_med"] > 0:
            tot["exec.task_skew"] = widest[1]["run_max"] / widest[1]["run_med"]
        return tot

    def _task_quantiles(self, stage_id: int, attempt: int) -> dict | None:
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        try:
            opt = self.store.taskSummary(stage_id, attempt, q)
        except Exception as e:  # py4j: summary not computable for this stage
            self.note(f"task summary of stage {stage_id} not readable: {type(e).__name__}")
            return None
        if not opt.isDefined():
            return None
        d = opt.get()
        run, mem = d.executorRunTime(), d.peakExecutionMemory()  # Scala IndexedSeq
        return {"run_med": run.apply(0), "run_max": run.apply(1), "peak_mem_max": mem.apply(1)}

    def python_metrics(self, job_ids: list[int]) -> dict:
        """Python SQL metrics summed over the SQL executions that ran
        `job_ids`. Values are raw accumulator totals while the plan is
        still alive; read them right after the action."""
        jobs = set(job_ids)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        acc_ctx = self.jvm.org.apache.spark.util.AccumulatorContext
        out = {k: 0.0 for k in PYTHON_SQL_METRICS.values()}
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if not (_scala_map_keys(self.jvm, ex.jobs()) & jobs):
                continue
            formatted = None
            seen = set()
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                key = PYTHON_SQL_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                acc = acc_ctx.get(m.accumulatorId())
                if acc.isDefined():
                    out[key] += float(acc.get().value())
                    continue
                if formatted is None:
                    formatted = sql.executionMetrics(ex.executionId())
                text = formatted.get(m.accumulatorId())
                if text.isDefined():
                    v = _parse_total(text.get())
                    if v is not None:
                        self.note(f"{m.name()}: read from the formatted (rounded) value")
                        out[key] += v
        return out
