"""Readers of the traced run.

Everything is read from outside the package: Spark's status stores (stage
data and the SQL plan metrics), a ``QueryExecutionListener`` for the
Catalyst phase times, a ``StreamingQueryListener`` for micro-batch
progress, the JVM's garbage-collector beans and ``/proc`` for memory. All
of them work with ``spark.ui.enabled=false``.

Queries run one at a time, so a stage, SQL execution, phase or progress
event belongs to the traced query whose wall-clock window contains its
start. Keying by start time instead of by a remembered stage-id range
keeps the attribution right when the store evicts old stages; a store
that has filled up, and so may have evicted traced ones, fails the run.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass
from datetime import datetime

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql.streaming import StreamingQueryListener

from stats import parse_metric

_PAGE = os.sysconf("SC_PAGE_SIZE")
_PHASES = ("analysis", "optimization", "planning")
_SQL_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "time to collect": "broadcast_collect_ms",
    "scan time": "scan_ms",
    "written output": "output_bytes",
}


@dataclass
class Window:
    """One traced query run, in epoch milliseconds."""

    name: str
    start_ms: float
    built_ms: float
    end_ms: float


def _owner(windows: list[Window], t_ms: float | None) -> Window | None:
    if t_ms is None:
        return None
    for w in windows:
        if w.start_ms <= t_ms <= w.end_ms:
            return w
    return None


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class _RssSampler(threading.Thread):
    def __init__(self, root: int, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval_s):
            self.peak = max(self.peak, _tree_rss_bytes(self.root))

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak


class _Progress(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append({
            "ts_ms": datetime.fromisoformat(p.timestamp).timestamp() * 1e3,
            "run_id": str(p.runId),
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state": [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class _Phases:
    """py4j implementation of Spark's ``QueryExecutionListener``."""

    def __init__(self) -> None:
        self.records: list[dict[str, tuple[int, int]]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self.add(qe)

    def onFailure(self, func_name, qe, exception) -> None:
        # a failed analysis (e.g. the package probing for a missing path)
        # rethrows when its tracker is read; it has no phases worth keeping
        pass

    def add(self, qe) -> None:
        phases, rec = qe.tracker().phases(), {}
        for name in _PHASES:
            found = phases.get(name)
            if found.isDefined():
                summary = found.get()
                rec[name] = (summary.startTimeMs(), summary.durationMs())
        self.records.append(rec)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Attach the readers to ``spark``; ``report`` turns what they saw
    during the given windows into per-layer totals."""

    def __init__(self, spark):
        self.spark = spark
        jvm, gw = spark._jvm, spark.sparkContext._gateway
        self._sc = spark.sparkContext._jsc.sc()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala_module, "MODULE$")
        )
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self.progress = _Progress()
        spark.streams.addListener(self.progress)
        ensure_callback_server_started(gw)
        self.phases = _Phases()
        spark._jsparkSession.listenerManager().register(self.phases)
        self._rss: _RssSampler | None = None

    def built(self, df) -> None:
        """Keep the analysis the registry call ran for the returned
        DataFrame itself; only actions reach the listener."""
        self.phases.add(df._jdf.queryExecution())

    def gc_total_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def start_memory(self) -> None:
        self._rss = _RssSampler(os.getpid())
        self._rss.start()

    def stop_memory(self) -> int:
        return self._rss.stop() if self._rss else 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def report(self, windows: list[Window], compat: frozenset[str]) -> tuple[dict, list[dict]]:
        """Totals over ``windows`` and one accounting record per window."""
        self._sc.listenerBus().waitUntilEmpty()
        jvm = self.spark._jvm
        stages = self._json(self._sc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False, self._no_quantiles, jvm.java.util.ArrayList()
        ))
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        executions = self._json(sql_store.executionsList())
        # the stores keep only their newest entries: a full store may have
        # dropped traced ones, and every total would then come out short
        for conf, held in (("spark.ui.retainedStages", len(stages)),
                           ("spark.sql.ui.retainedExecutions", len(executions))):
            if held >= int(self.spark.conf.get(conf, "1000")):
                raise RuntimeError(f"the status store holds {held} entries, its {conf} "
                                   "limit; traced entries may have been evicted")

        tot: dict[str, float] = dict.fromkeys((
            "task_run_ms", "task_cpu_ns", "input_bytes", "rows_scanned",
            "shuffle_write_bytes", "spill_bytes", "compat_shuffle_write_bytes",
            "eager_sql_execs", "output_rows", "compat_python_run_ms",
            *_SQL_METRICS.values(), *(f"{p}_ms" for p in _PHASES),
        ), 0.0)
        per_query = {id(w): {"query": w.name, "wall_s": (w.end_ms - w.start_ms) / 1e3,
                             "construct_s": (w.built_ms - w.start_ms) / 1e3,
                             "plan_s": 0.0, "sql_exec_s": 0.0} for w in windows}

        for st in stages:
            w = _owner(windows, st.get("submissionTime"))
            if w is None:
                continue
            tot["task_run_ms"] += st["executorRunTime"]
            tot["task_cpu_ns"] += st["executorCpuTime"]
            tot["input_bytes"] += st["inputBytes"]
            tot["rows_scanned"] += st["inputRecords"]
            tot["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            tot["spill_bytes"] += st["memoryBytesSpilled"]
            if w.name in compat:
                tot["compat_shuffle_write_bytes"] += st["shuffleWriteBytes"]

        for ex in executions:
            values = ex.get("metricValues") or {}
            w = _owner(windows, ex["submissionTime"])
            if w is None:
                # workers are reused, so they start during set-up and the
                # first pass: their start time is kept for the whole session
                tot["python_start_ms"] += sum(
                    parse_metric(values.get(str(m["accumulatorId"])))
                    for m in ex["metrics"] if m["name"] == "time to start Python workers")
                continue
            if ex["rootExecutionId"] == ex["executionId"]:
                if ex["submissionTime"] <= w.built_ms:
                    tot["eager_sql_execs"] += 1
                elif ex.get("completionTime"):
                    per_query[id(w)]["sql_exec_s"] += (ex["completionTime"] - ex["submissionTime"]) / 1e3
            for m in ex["metrics"]:
                key = _SQL_METRICS.get(m["name"])
                text = values.get(str(m["accumulatorId"]))
                if key is None or text is None:
                    continue
                v = parse_metric(text)
                tot[key] += v
                if key == "python_run_ms" and w.name in compat:
                    tot["compat_python_run_ms"] += v
            if any(m["name"] == "written output" for m in ex["metrics"]):
                tot["output_rows"] += self._written_rows(sql_store, ex["executionId"], values)

        for rec in self.phases.records:
            start = rec.get("analysis", (None, 0))[0]
            w = _owner(windows, start)
            if w is None:
                continue
            for name, (_, ms) in rec.items():
                tot[f"{name}_ms"] += ms
                if start > w.built_ms:
                    per_query[id(w)]["plan_s"] += ms / 1e3

        stream = {"batches": 0, "trigger_ms": 0.0, "planning_ms": 0.0, "add_batch_ms": 0.0,
                  "commit_ms": 0.0, "input_rows": 0, "state_rows": 0, "state_memory_bytes": 0}
        last_state: dict[str, list[tuple[int, int]]] = {}
        for ev in self.progress.events:
            if _owner(windows, ev["ts_ms"]) is None:
                continue
            d = ev["duration_ms"]
            stream["batches"] += 1
            stream["trigger_ms"] += d.get("triggerExecution", 0)
            stream["planning_ms"] += d.get("queryPlanning", 0)
            stream["add_batch_ms"] += d.get("addBatch", 0)
            stream["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            stream["input_rows"] += ev["input_rows"]
            last_state[ev["run_id"]] = ev["state"]
        for state in last_state.values():
            stream["state_rows"] += sum(rows for rows, _ in state)
            stream["state_memory_bytes"] += sum(mem for _, mem in state)
        tot.update({f"stream_{k}": v for k, v in stream.items()})
        tot.update(stages_held=len(stages), executions_held=len(executions))

        records = []
        for rec in per_query.values():
            rec["execute_s"] = rec["wall_s"] - rec["construct_s"] - rec["plan_s"]
            rec["unaccounted_s"] = rec["wall_s"] - rec["construct_s"] - rec["sql_exec_s"]
            records.append(rec)
        return tot, records

    def _written_rows(self, sql_store, execution_id: int, values: dict) -> float:
        """Rows of the write nodes (those that report ``written output``)."""
        graph = self._json(sql_store.planGraph(execution_id))
        rows, todo = 0.0, list(graph["nodes"])
        while todo:
            node = todo.pop()
            todo.extend(node.get("nodes", ()))
            names = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
            if "written output" in names and "number of output rows" in names:
                rows += parse_metric(values.get(str(names["number of output rows"])))
        return rows
