"""Per-layer tracing for the benchmark, installed from outside the package.

Nothing here edits the package. The tracer
  * counts Py4J round trips made by the client thread, by wrapping
    `py4j.java_gateway.GatewayClient.send_command`;
  * wraps the public functions of the layer modules (catalog, functions,
    operators, plans.etl, sources) and rebinds every reference the
    package's modules hold to them, so `from ... import f` call sites
    are timed too;
  * tags each op's jobs with `sc.setJobGroup(op_id)`;
  * reads job and stage records from Spark's status store, and the
    Catalyst phase tracker and executed plan of the op's DataFrame;
  * listens to streaming progress with a StreamingQueryListener.

Spans are kept in memory: op -> entry call -> layer functions, Catalyst
phases and Spark jobs; op -> action -> Catalyst phases and Spark jobs.
A span's self time is its duration minus the part its children cover.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import py4j.java_gateway
from py4j.protocol import Py4JError
from pyspark.sql.streaming import StreamingQueryListener

PKG = "parking_violations_data_pipeline_spark"

# metric key -> (module under PKG, function names or None for every
# public function defined in that module). Only layers that some workload
# calls are listed: operators.similarity, operators.ann_index and
# plans.etl.anonymize are reached by none of them.
LAYER_FUNCS: dict[str, tuple[tuple[str, tuple[str, ...] | None], ...]] = {
    "catalog.load_table": (("catalog", ("load_table",)),),
    "functions.vector": (("functions.vector", None),),
    "functions.money": (("functions.money", None),),
    "functions.localrel": (("functions.localrel", None),),
    "operators.dedup": (("operators.dedup", None),),
    "operators.text": (("operators.text", None),),
    "plans.etl.incremental_append": (("plans.etl", ("incremental_append",)),),
    "sources.write": (("sources.writers", None), ("sources.pyds", ("save_python_datasource",))),
    "sources.read": (("sources.readers", None), ("sources.pyds", ("load_python_datasource",))),
}

def now_ms() -> float:
    return time.time() * 1000.0


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    parent: int = -1
    children: list[int] = field(default_factory=list)


@dataclass
class OpTrace:
    name: str
    op_id: str
    start: float
    spans: list[Span] = field(default_factory=list)
    built: float = 0.0
    end: float = 0.0
    py4j_build: int = 0
    rows: int = 0
    layer_ms: dict[str, float] = field(default_factory=dict)
    layer_calls: dict[str, int] = field(default_factory=dict)
    phases: dict[str, tuple[float, float]] = field(default_factory=dict)
    exchanges: int = 0
    stream_runs: list[str] = field(default_factory=list)
    action: int = -1
    full_spans: list[Span] = field(default_factory=list)  # with Spark jobs, after op_metrics
    ok: bool = True


class _Listener(StreamingQueryListener):
    """Streaming progress sink; events arrive on a callback thread. A query
    belongs to the op that was running when it started."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer
        self.progress: list[tuple[str, dict]] = []

    def onQueryStarted(self, event) -> None:
        op = self.tracer.cur
        if op is not None:
            op.stream_runs.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        states = p.stateOperators or []
        self.progress.append((str(p.runId), {
            "duration": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_commit_ms": sum(s.commitTimeMs for s in states),
        }))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Collects spans and counters for ops run between begin() and end().

    `active` switches recording on and off, so a run can alternate traced
    and untraced passes with the same code installed."""

    def __init__(self) -> None:
        self.active = False
        self.cur: OpTrace | None = None
        self.ops: list[OpTrace] = []
        self.py4j_calls = 0
        self._main = threading.get_ident()
        self._tl = threading.local()
        self._seq = 0
        self._spark = None
        self._listener: _Listener | None = None
        self._lock = threading.Lock()
        self._store: StatusStore | None = None
        self._seen_stages: set[tuple[int, int]] = set()
        self.jobs: dict[int, dict] = {}
        self.stages: list[dict] = []

    # ---- installation -------------------------------------------------
    def install_py4j_counter(self) -> None:
        orig = py4j.java_gateway.GatewayClient.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *a, **kw):
            if threading.get_ident() == tracer._main:
                tracer.py4j_calls += 1
            return orig(client, *a, **kw)

        py4j.java_gateway.GatewayClient.send_command = send_command

    def install_layer_wrappers(self) -> None:
        """Wrap the layer functions and rebind every package reference to them."""
        wrapped: dict[int, object] = {}
        for key, targets in LAYER_FUNCS.items():
            for mod_name, names in targets:
                mod = sys.modules.get(f"{PKG}.{mod_name}")
                if mod is None:
                    __import__(f"{PKG}.{mod_name}")
                    mod = sys.modules[f"{PKG}.{mod_name}"]
                for attr, fn in list(vars(mod).items()):
                    if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                        continue
                    if attr.startswith("_") or (names is not None and attr not in names):
                        continue
                    wrapped[id(fn)] = self._wrap(key, fn)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    setattr(mod, attr, w)

    def install_stream_listener(self, spark) -> None:
        self._spark = spark
        self._listener = _Listener(self)
        spark.streams.addListener(self._listener)

    def remove_stream_listener(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def _wrap(self, key: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            op = tracer.cur
            if not tracer.active or op is None:
                return fn(*a, **kw)
            stack = tracer._stack()
            outer = all(op.spans[i].layer != key for i in stack)
            idx = tracer._open(op, key, stack)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                op.spans[idx].end = now_ms()
                stack.pop()
                if outer:
                    op.layer_ms[key] = op.layer_ms.get(key, 0.0) + (time.perf_counter() - t0) * 1e3
                    op.layer_calls[key] = op.layer_calls.get(key, 0) + 1

        return wrapper

    def _stack(self) -> list[int]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def _open(self, op: OpTrace, layer: str, stack: list[int]) -> int:
        parent = stack[-1] if stack else 0
        with self._lock:
            op.spans.append(Span(layer, now_ms(), parent=parent))
            idx = len(op.spans) - 1
            op.spans[parent].children.append(idx)
        stack.append(idx)
        return idx

    # ---- per-op hooks -------------------------------------------------
    def begin(self, sc, name: str) -> None:
        self._seq += 1
        op_id = f"{name}#{self._seq}"
        sc.setJobGroup(op_id, name)
        op = OpTrace(name, op_id, start=now_ms())
        op.spans.append(Span("op", op.start))
        self.cur = op
        self._tl.stack = []
        self._open(op, "queries", self._tl.stack)
        self._p0 = self.py4j_calls

    def built(self) -> None:
        op = self.cur
        op.built = now_ms()
        op.py4j_build = self.py4j_calls - self._p0
        op.spans[self._tl.stack.pop()].end = op.built
        op.action = self._open(op, "collect", self._tl.stack)

    def end(self, df, rows: int) -> None:
        op = self.cur
        op.end = now_ms()
        op.spans[self._tl.stack.pop()].end = op.end
        op.spans[0].end = op.end
        op.rows = rows
        self.cur = None
        try:
            qe = df._jdf.queryExecution()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                op.phases[kv._1()] = (float(kv._2().startTimeMs()), float(kv._2().endTimeMs()))
            op.exchanges = _count_exchanges(qe.executedPlan().toString())
        except Py4JError:
            pass
        self.ops.append(op)

    def fail(self) -> None:
        op = self.cur
        if op is not None:
            op.ok = False
            op.end = now_ms()
            self.cur = None
            self.ops.append(op)

    # ---- Spark-side records -------------------------------------------
    def read_status(self, spark) -> None:
        """Pull job and stage records from the status store; call between
        passes, before the store's retention limit evicts them."""
        drain_listener_bus(spark)
        if self._store is None:
            self._store = StatusStore(spark)
        jobs, stages = self._store.read()
        self.jobs.update((j["jobId"], j) for j in jobs)
        for st in stages:
            k = (st["stageId"], st["attemptId"])
            if k not in self._seen_stages:
                self._seen_stages.add(k)
                self.stages.append(st)

    def op_metrics(self, op: OpTrace, slots: int) -> dict[str, float]:
        """Per-layer numbers and layer self times for one traced op."""
        jobs = [
            j for j in self.jobs.values()
            if j.get("submissionTime") is not None
            and op.start - 1 <= j["submissionTime"] <= op.end + 1
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self.stages
            if s["stageId"] in stage_ids and s.get("submissionTime") is not None
            and op.start - 1 <= s["submissionTime"] <= op.end + 1
            and s["status"] != "SKIPPED"
        ]
        wall = op.end - op.start
        m: dict[str, float] = {}
        m["catalog.load_table_calls"] = op.layer_calls.get("catalog.load_table", 0)
        m["catalog.load_table_ms"] = op.layer_ms.get("catalog.load_table", 0.0)
        m["queries.build_ms"] = op.built - op.start
        m["queries.build_py4j_calls"] = op.py4j_build
        m["queries.build_eager_jobs"] = sum(1 for j in jobs if j["submissionTime"] <= op.built)
        for key in LAYER_FUNCS:
            if key != "catalog.load_table":
                m[f"{key}_ms"] = op.layer_ms.get(key, 0.0)
        for ph in ("analysis", "optimization", "planning"):
            s, e = op.phases.get(ph, (0.0, 0.0))
            m[f"catalyst.{ph}_ms"] = e - s
        m["catalyst.exchanges"] = op.exchanges
        m["executor.jobs"] = len(jobs)
        m["executor.stages"] = len(stages)
        m["executor.tasks"] = sum(s["numTasks"] for s in stages)
        m["executor.task_run_ms"] = sum(s["executorRunTime"] for s in stages)
        m["executor.task_cpu_ms"] = sum(s["executorCpuTime"] for s in stages) / 1e6
        m["executor.gc_ms"] = sum(s["jvmGcTime"] for s in stages)
        m["executor.slot_busy_frac"] = m["executor.task_run_ms"] / (slots * wall) if wall > 0 else 0.0
        m["executor.input_bytes"] = sum(s["inputBytes"] for s in stages)
        m["executor.shuffle_read_bytes"] = sum(s["shuffleReadBytes"] for s in stages)
        m["executor.shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
        m["executor.spill_bytes"] = sum(s["diskBytesSpilled"] for s in stages)
        m["executor.output_bytes"] = sum(s["outputBytes"] for s in stages)
        m["executor.failed_tasks"] = sum(s["numFailedTasks"] for s in stages)
        m["collect.result_rows"] = op.rows
        m.update(self._stream_metrics(op))
        spans = op.full_spans = self._spans_with_spark(op, jobs)
        action = spans[op.action]
        job_iv = [(spans[i].start, spans[i].end) for i in action.children if spans[i].layer == "executor"]
        m["collect.driver_gap_ms"] = (action.end - action.start) - union_ms(_clip(job_iv, action))
        m["_wall_ms"] = wall
        named = [(sp.start, sp.end) for sp in spans if sp.layer not in STRUCTURAL]
        m["_unattributed_ms"] = wall - union_ms(_clip(named, spans[0]))
        for layer, v in _self_times(spans).items():
            m[f"_self.{layer}"] = v
        return m

    def span_records(self) -> list[dict]:
        """Every traced op's spans (after op_metrics), times in ms from the
        op's start; `parent` indexes the same op's span list."""
        return [
            {"op": op.op_id, "i": i, "name": sp.layer, "start_ms": round(sp.start - op.start, 3),
             "end_ms": round(sp.end - op.start, 3), "parent": sp.parent}
            for op in self.ops if op.ok for i, sp in enumerate(op.full_spans)
        ]

    def _stream_metrics(self, op: OpTrace) -> dict[str, float]:
        m = {k: 0.0 for k in (
            "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
            "streaming.query_planning_ms", "streaming.wal_commit_ms",
            "streaming.commit_offsets_ms", "streaming.state_rows",
            "streaming.state_commit_ms",
        )}
        if self._listener is None:
            return m
        runs = set(op.stream_runs)
        last_state: dict[str, int] = {}
        for run_id, p in self._listener.progress:
            if run_id not in runs:
                continue
            d = p["duration"]
            m["streaming.batches"] += 1
            m["streaming.trigger_ms"] += d.get("triggerExecution", 0)
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            m["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
            m["streaming.state_commit_ms"] += p["state_commit_ms"]
            last_state[run_id] = p["state_rows"]
        m["streaming.state_rows"] = float(sum(last_state.values()))
        return m

    def _spans_with_spark(self, op: OpTrace, jobs: list[dict]) -> list[Span]:
        """The op's Python spans plus Catalyst phases and Spark jobs, each
        hung under the innermost Python span that contains its start."""
        spans = [Span(s.layer, s.start, s.end, s.parent, list(s.children)) for s in op.spans]
        py = list(range(len(spans)))
        extra = [("catalyst", s, e) for s, e in op.phases.values()]
        extra += [
            ("executor", float(j["submissionTime"]), float(j.get("completionTime") or op.end))
            for j in jobs
        ]
        for layer, s, e in extra:
            holders = [i for i in py if spans[i].start <= s <= spans[i].end]
            parent = max(holders, key=lambda i: spans[i].start) if holders else 0
            spans.append(Span(layer, s, e, parent))
            spans[parent].children.append(len(spans) - 1)
        return spans


# spans that only frame an op; every other span belongs to a named layer
STRUCTURAL = ("op", "queries", "collect")


def _clip(iv: list[tuple[float, float]], span: Span) -> list[tuple[float, float]]:
    return [(max(s, span.start), min(e, span.end)) for s, e in iv if e > span.start and s < span.end]


def _self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: a span's duration minus the part of it its
    children cover. Jobs under one parent count once, as the union of their
    intervals (the executor is busy for that union however many jobs run at
    once). Children are not clipped to their parent, so a child that sticks
    out of its parent or overlaps a sibling of another layer shows up as a
    layer-sum residual."""
    out: dict[str, float] = {}
    for sp in spans:
        if sp.layer == "executor":
            continue
        kids = [(spans[c].start, spans[c].end) for c in sp.children]
        out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - union_ms(_clip(kids, sp))
        jobs = [(spans[c].start, spans[c].end) for c in sp.children if spans[c].layer == "executor"]
        if jobs:
            out["executor"] = out.get("executor", 0.0) + union_ms(jobs)
    return out


_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ShuffleExchange)\b")


def _count_exchanges(plan: str) -> int:
    """Exchange nodes in the final physical plan (AQE prints the final and
    the initial plan; only the final one ran)."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(plan))


class StatusStore:
    """Reads Spark's status store: every retained job and stage record, as
    dicts, serialized to JSON on the JVM side in one Py4J call each."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_task_status = jvm.java.util.ArrayList()

    def read(self) -> tuple[list[dict], list[dict]]:
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        stages = json.loads(self._mapper.writeValueAsString(self._store.stageList(
            None, False, False, self._no_quantiles, self._no_task_status
        )))
        return jobs, stages


def drain_listener_bus(spark) -> None:
    """Wait until Spark has delivered queued listener events (streaming
    progress included) so that they can be attributed."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Py4JError:
        time.sleep(0.5)


def per_op_summary(rows: list[dict[str, float]]) -> dict[str, float]:
    """Median over samples of each op, then mean over ops."""
    by_op: dict[str, list[dict[str, float]]] = {}
    for r in rows:
        by_op.setdefault(r["_op"], []).append(r)
    keys = {k for r in rows for k in r if k != "_op"}
    out: dict[str, float] = {}
    for k in keys:
        meds = [statistics.median(r.get(k, 0.0) for r in samples) for samples in by_op.values()]
        out[k] = sum(meds) / len(meds) if meds else 0.0
    return out
