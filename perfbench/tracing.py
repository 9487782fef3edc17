"""Traced runs: spans around the calls into each layer, and self times.

The benchmark records spans from its own code around the calls it makes
into each layer; nothing inside ``kamiyo_hive_spark`` changes:

    op ─┬─ registry.builder ── spark.job ── spark.stage
        │                   └─ stream.batch, txlog.*, legacy.*
        ├─ catalyst.optimize
        ├─ catalyst.physical
        └─ exec.action ─────── spark.job ── spark.stage

Every span carries the id of the op that caused it and is kept in
memory until the run ends. Jobs and stages come from Spark's status
store after the listener bus is drained; each op's builder and action
run under their own job group, and streaming micro-batch jobs (which run
on the stream thread under the query's run id) are attributed through
the run ids the streaming listener saw during the op.

A span's self time is its duration minus the part of it that its child
spans cover. Per op the additive split is::

    latency = builder_py + builder_job + optimize + physical
              + exec.driver + exec.sched + exec.stage + unattributed

where ``unattributed`` is the time between the benchmark's spans plus
the part of a parent covered only by records that were still incomplete
when read (a job with no completion time, say). The split holds by
construction: every part is a piece of the op's own span, so the parts
always add up to the latency and checking that proves nothing.

What attribution can lose is job and stage time that the split never
sees: the part of a record outside the builder or action span it was
attached to, and records attached to no span at all. That time is
reported as ``trace.clipped_s`` and the self-check gates on it.
"""

from __future__ import annotations

import datetime
import functools
import inspect
import json
import math
import statistics
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------- spans


@dataclass
class Span:
    idx: int  # position in Tracer.spans
    name: str
    op: int
    start: float  # epoch seconds
    end: float | None
    parent: int | None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span store. Spans opened from other threads (a
    foreachBatch callback on the stream thread, say) nest per thread and
    belong to the op current at the time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self.ops: dict[int, dict[str, int]] = {}  # op id -> span index by layer
        self.seen_stages: set[tuple[int, int]] = set()
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def add(self, name, start, end, parent=None, op=None, **attrs) -> int:
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(idx, name, self.op if op is None else op, start, end, parent, attrs)
            )
            return idx

    def open(self, name: str, **attrs) -> int:
        st = self._stack()
        idx = self.add(name, time.time(), None, st[-1] if st else None, **attrs)
        st.append(idx)
        return idx

    def close(self, idx: int, **attrs) -> None:
        span = self.spans[idx]
        span.end = time.time()
        span.attrs.update(attrs)
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def wrap(self, kind: str, fn):
        """A timing wrapper that records one span per call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(kind, fn=fn.__name__)
            err = None
            try:
                return fn(*args, **kwargs)
            except BaseException as e:
                err = type(e).__name__
                raise
            finally:
                self.close(idx, error=err)

        return traced


# ------------------------------------------------- layer instrumentation

# TxLog entry points by kind. A public method or function not listed is
# still timed and counted, under ``txlog.other_s``.
TXLOG_KINDS = {
    "commit": "commit",
    "version": "version", "history": "version",
    "snapshot_files": "snapshot", "dv_state": "snapshot",
    "file_stats": "snapshot", "stats_cols_in_use": "snapshot",
    "stats_pruned_files": "snapshot", "pruned_file_sets": "snapshot",
    "pruned_files": "snapshot", "table_schema": "snapshot",
    "stage_dir": "snapshot", "collect_file_stats": "snapshot",
    "escape_path_name": "snapshot", "unescape_path_name": "snapshot",
    "read": "read", "read_pruned": "read", "read_stats_pruned": "read",
    "init": "write", "append": "write", "append_partitioned": "write",
    "clone": "write", "concurrent_append_table": "write",
    "merge_partitioned": "merge",
    "delete_where_dv": "delete", "rewrite_where": "delete",
    "vacuum": "maintenance", "optimize": "maintenance",
    "optimize_partitioned": "maintenance", "restore": "maintenance",
    "materialize_dvs": "maintenance", "zorder_optimize": "maintenance",
    "zorder_optimize_partitioned": "maintenance",
    "read_changes": "changes", "weighted_change_feed": "changes",
    "cdf_table": "changes",
}


def _module_functions(module, builders, public_only: bool):
    for name, obj in list(vars(module).items()):
        if (
            inspect.isfunction(obj)
            and obj.__module__ == module.__name__
            and obj not in builders
            and not name.startswith("_register")
            and not (public_only and name.startswith("_"))
        ):
            yield name, obj


def instrument_storage(tracer: Tracer, registry) -> None:
    """Put timing wrappers around TxLog's public methods and the txlog
    module's public functions (spans ``txlog``), and around the
    functions of the pre-txlog storage stack, ``sources.layout`` and
    ``sources.maintenance`` (spans ``legacy``). Registered builders stay
    unwrapped: they are the registry layer."""
    from kamiyo_hive_spark.sources import layout, maintenance, txlog

    builders = {spec.builder for spec in registry.values()}
    for name, fn in _module_functions(txlog, builders, public_only=True):
        setattr(txlog, name, tracer.wrap("txlog", fn))
    for name, raw in list(vars(txlog.TxLog).items()):
        if name.startswith("_"):
            continue
        if isinstance(raw, classmethod):
            setattr(txlog.TxLog, name, classmethod(tracer.wrap("txlog", raw.__func__)))
        elif isinstance(raw, staticmethod):
            setattr(txlog.TxLog, name, staticmethod(tracer.wrap("txlog", raw.__func__)))
        elif inspect.isfunction(raw):
            setattr(txlog.TxLog, name, tracer.wrap("txlog", raw))
    for module in (layout, maintenance):
        for name, fn in _module_functions(module, builders, public_only=False):
            setattr(module, name, tracer.wrap("legacy", fn))


# ------------------------------------------------------ streaming listener


def _iso_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_stream_listener():
    """A StreamingQueryListener that records every micro-batch's
    ``triggerExecution`` under the current ``phase`` and, once a tracer
    is attached, a ``stream.batch`` span with the batch's ``durationMs``
    and ``stateOperators``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.phase = "warm"
            self.trigger_s: dict[str, list[float]] = {}
            self.tracer: Tracer | None = None
            self.run_op: dict[str, int] = {}

        def onQueryStarted(self, event) -> None:
            tracer = self.tracer
            if tracer is None:
                return
            run = str(event.runId)
            self.run_op[run] = tracer.op
            tracer.add("stream.query", _iso_epoch(event.timestamp), None, run=run)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs
            trig = d.get("triggerExecution", 0) / 1e3
            self.trigger_s.setdefault(self.phase, []).append(trig)
            tracer = self.tracer
            if tracer is None:
                return
            run = str(p.runId)
            start = _iso_epoch(p.timestamp)
            ops = p.stateOperators or []
            tracer.add(
                "stream.batch", start, start + trig,
                op=self.run_op.get(run, tracer.op), run=run,
                rows=p.numInputRows, duration_ms=dict(d),
                state_commit_ms=sum(s.commitTimeMs for s in ops),
                state_rows=sum(s.numRowsTotal for s in ops),
                state_bytes=sum(s.memoryUsedBytes for s in ops),
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchListener()


# --------------------------------------------------- SQL operator metrics

# SQL metric key -> (layer metric, unit conversion kind). A key counts
# wherever it appears, except numOutputRows, which counts on scans only.
SQL_METRICS = {
    "numFiles": "scan.files",
    "filesSize": "scan.bytes",
    "numOutputRows": "scan.rows",
    "scanTime": "scan.time_s",
    "aggTime": "op.agg_build_s",
    "buildTime": "op.join_build_s",
    "sortTime": "op.sort_s",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
    "pythonNumRowsReceived": "python.rows_received",
    "pythonTotalTime": "python.time_s",
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def make_qe_listener():
    """A QueryExecutionListener (Java interface, implemented over the
    py4j callback server) that keeps each finished query execution so
    its executed plan's SQL metrics can be read after the op."""

    class QEListener:
        def __init__(self) -> None:
            self.pending: list = []

        def onSuccess(self, func_name, qe, duration_ns):
            self.pending.append(qe)

        def onFailure(self, func_name, qe, exception):
            self.pending.append(qe)

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    return QEListener()


def plan_metrics(jvm, qe, out: dict) -> None:
    """Add the SQL metrics of one executed plan into ``out``, walking
    through adaptive plans, query stages, subqueries and command
    wrappers (a reused exchange is skipped: its metrics are the
    original's)."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    try:
        root = qe.executedPlan()
    except Py4JJavaError:  # the query failed before planning finished
        return
    stack, seen = [root], set()
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            continue
        key = node.id()
        if key in seen:
            continue
        seen.add(key)
        metrics = conv.asJava(node.metrics())
        is_scan = "Scan" in cls
        for name in list(metrics.keySet()):
            layer = SQL_METRICS.get(name)
            if layer is None or (name == "numOutputRows" and not is_scan):
                continue
            m = metrics.get(name)
            v = m.value() * _TIME_SCALE.get(m.metricType(), 1.0)
            out[layer] = out.get(layer, 0.0) + v
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "CommandResultExec":
            stack.append(node.commandPhysicalPlan())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))


# ---------------------------------------------------------- status store


class StatusReader:
    """Reads finished jobs and stages from Spark's status store as JSON
    (one py4j call per record rather than one per field)."""

    def __init__(self, spark) -> None:
        jvm = self._jvm = spark.sparkContext._jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.next_job = 0
        self.skip_seen()

    def skip_seen(self) -> None:
        """Mark every job recorded so far as read."""
        while self._job(self.next_job) is not None:
            self.next_job += 1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the status store and the listeners are complete."""
        self._sc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int):
        try:
            return json.loads(self._mapper.writeValueAsString(self._store.job(job_id)))
        except Py4JJavaError:  # NoSuchElementException: no such job (yet)
            return None

    def new_jobs(self) -> list[dict]:
        out = []
        while (job := self._job(self.next_job)) is not None:
            out.append(job)
            self.next_job += 1
        return out

    def stages(self, stage_id: int) -> list[dict]:
        """Every attempt of one stage (empty if the store dropped it)."""
        try:
            seq = self._store.stageData(
                stage_id, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
        except Py4JJavaError:  # NoSuchElementException
            return []
        return json.loads(self._mapper.writeValueAsString(seq))


# ------------------------------------------------------------ traced ops


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _group(op_id: int, part: str) -> str:
    return f"perfbench-{op_id}-{part}"


def install(tracer: Tracer, bench) -> None:
    """Turn tracing on for the rest of the run: storage wrappers, the
    query-execution listener, and the streaming listener's spans."""
    from pyspark.java_gateway import ensure_callback_server_started

    spark = bench.spark
    instrument_storage(tracer, bench.registry)
    ensure_callback_server_started(spark.sparkContext._gateway)
    tracer.qel = make_qe_listener()
    spark._jsparkSession.listenerManager().register(tracer.qel)
    tracer.jvm = spark.sparkContext._jvm
    tracer.listener = bench.listener
    bench.listener.tracer = tracer
    bench.status.drain()
    bench.status.skip_seen()


def _codegen_ns(tracer: Tracer) -> int:
    return tracer.jvm.org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime()


def run_traced_op(tracer: Tracer, spark, spec, sf_dir: str, op_id: int) -> float:
    """One op with a span around each layer call; returns its latency."""
    sc = spark.sparkContext
    tracer.op = op_id
    idx: dict[str, int] = {}
    tracer.ops[op_id] = idx
    codegen0 = _codegen_ns(tracer)
    t0 = time.perf_counter()
    idx["op"] = tracer.open("op", query=spec.name)
    try:
        sc.setJobGroup(_group(op_id, "builder"), spec.name)
        idx["builder"] = tracer.open("registry.builder")
        try:
            df = spec.builder(spark, sf_dir)
        finally:
            tracer.close(idx["builder"])
        qe = df._jdf.queryExecution()
        idx["optimize"] = tracer.open("catalyst.optimize")
        try:
            qe.optimizedPlan()
        finally:
            tracer.close(idx["optimize"])
        idx["physical"] = tracer.open("catalyst.physical")
        try:
            qe.executedPlan()
        finally:
            tracer.close(idx["physical"])
        sc.setJobGroup(_group(op_id, "action"), spec.name)
        idx["action"] = tracer.open("exec.action")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            tracer.close(idx["action"])
    finally:
        tracer.close(idx["op"])
        latency = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracer.spans[idx["op"]].attrs.update(
        latency=latency, codegen_s=(_codegen_ns(tracer) - codegen0) / 1e9
    )
    return latency


STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "executorDeserializeTime", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    "inputBytes", "outputBytes",
)


def harvest(tracer: Tracer, status: StatusReader, op_id: int) -> None:
    """After an op: drain the listener bus, then turn the op's jobs,
    stages and query executions into spans and attributes."""
    status.drain()
    sql: dict[str, float] = {}
    pending, tracer.qel.pending = tracer.qel.pending, []
    for qe in pending:
        plan_metrics(tracer.jvm, qe, sql)
    idx = tracer.ops.get(op_id, {})
    if "op" in idx:
        tracer.spans[idx["op"]].attrs["sql"] = sql
    runs = {run for run, op in tracer.listener.run_op.items() if op == op_id}
    action = tracer.spans[idx["action"]] if "action" in idx else None
    for job in status.new_jobs():
        group = job.get("jobGroup")
        submit = (job.get("submissionTime") or 0) / 1e3
        if group == _group(op_id, "builder"):
            parent, via = idx.get("builder"), "group"
        elif group == _group(op_id, "action"):
            parent, via = idx.get("action"), "group"
        else:
            # Micro-batch jobs run on the stream thread under the query's
            # run id; anything else is placed by its submission time.
            via = "run_id" if group in runs else "time"
            in_action = action is not None and submit >= action.start
            parent = idx.get("action" if in_action else "builder")
        done = job.get("completionTime")
        j = tracer.add(
            "spark.job", submit, done / 1e3 if done else None, parent, op=op_id,
            job=job["jobId"], via=via, status=job.get("status"),
        )
        for sid in job.get("stageIds", []):
            for st in status.stages(sid):
                key = (st["stageId"], st["attemptId"])
                if key in tracer.seen_stages or not st.get("submissionTime"):
                    continue  # run by an earlier job, or skipped
                tracer.seen_stages.add(key)
                end = st.get("completionTime")
                tracer.add(
                    "spark.stage", st["submissionTime"] / 1e3,
                    end / 1e3 if end else None, j, op=op_id,
                    **{f: st.get(f) or 0 for f in STAGE_FIELDS},
                )


# ------------------------------------------------------------- self time


def cover(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _split(parent: Span, jobs: list[Span], stages: list[Span]) -> dict[str, float]:
    """Split a builder or action span by the jobs and stages under it.
    Incomplete records (no end) are reported separately so their time
    lands in ``trace.unattributed_s`` rather than in a layer."""
    lo, hi = parent.start, parent.end
    done_j = [(j.start, j.end) for j in jobs if j.end]
    done_s = [(s.start, s.end) for s in stages if s.end]
    everything = [(r.start, r.end or hi) for r in jobs + stages]
    all_cov = cover(everything, lo, hi)
    done_cov = cover(done_j + done_s, lo, hi)
    stage_cov = cover(done_s, lo, hi)
    return {
        "free": parent.dur - all_cov,  # covered by no job: driver-side time
        "sched": done_cov - stage_cov,  # in a job but in no stage
        "stage": stage_cov,
        "incomplete": all_cov - done_cov,
        # record time outside the parent span, which the parts above clip
        "outside": cover(everything, -math.inf, math.inf) - all_cov,
    }


def layer_metrics(bench, tracer: Tracer, traced: dict, untraced: dict) -> dict:
    """The per-layer metrics of a traced run (units in ``PER_LAYER``)."""
    by_op: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    for k, v in bench.setup.items():
        m[k] = v
    ops = [(op_id, idx) for op_id, idx in tracer.ops.items()
           if "latency" in tracer.spans[idx["op"]].attrs]
    stage_total = task_run_total = 0.0
    for op_id, idx in ops:
        spans = by_op.get(op_id, [])
        op = tracer.spans[idx["op"]]
        b, o, p, a = (tracer.spans[idx[k]] for k in ("builder", "optimize", "physical", "action"))
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        jobs_b = [s for s in children.get(idx["builder"], []) if s.name == "spark.job"]
        jobs_a = [s for s in children.get(idx["action"], []) if s.name == "spark.job"]
        stages_of = lambda js: [s for j in js for s in children.get(j.idx, [])]  # noqa: E731
        sb = _split(b, jobs_b, stages_of(jobs_b))
        sa = _split(a, jobs_a, stages_of(jobs_a))
        glue = op.dur - (b.dur + o.dur + p.dur + a.dur)
        unattributed = glue + sb["incomplete"] + sa["incomplete"]
        parts = {
            "registry.builder_py_s": sb["free"],
            "registry.builder_job_s": sb["sched"] + sb["stage"],
            "catalyst.optimize_s": o.dur,
            "catalyst.physical_s": p.dur,
            "exec.driver_s": sa["free"],
            "exec.sched_s": sa["sched"],
            "exec.stage_s": sa["stage"],
            "trace.unattributed_s": unattributed,
        }
        for k, v in parts.items():
            m[k] += v
        orphans = [s for s in spans if s.name == "spark.job" and s.parent is None]
        m["trace.clipped_s"] += (
            sb["outside"] + sa["outside"]
            + cover([(s.start, s.end or op.end) for s in orphans], -math.inf, math.inf)
        )
        m["registry.builder_s"] += b.dur
        m["registry.builder_jobs"] += len(jobs_b)
        m["exec.action_s"] += a.dur
        m["exec.jobs"] += len(jobs_a)
        stages_a = stages_of(jobs_a)
        m["exec.stages"] += len(stages_a)
        for st in stages_a:
            at = st.attrs
            m["exec.tasks"] += at["numTasks"]
            m["exec.failed_tasks"] += at["numFailedTasks"]
            m["exec.task_run_s"] += at["executorRunTime"] / 1e3
            m["exec.task_cpu_s"] += at["executorCpuTime"] / 1e9
            m["exec.task_gc_s"] += at["jvmGcTime"] / 1e3
            m["exec.task_deser_s"] += at["executorDeserializeTime"] / 1e3
            m["exec.shuffle_read_bytes"] += at["shuffleReadBytes"]
            m["exec.shuffle_write_bytes"] += at["shuffleWriteBytes"]
            m["exec.spill_bytes"] += at["memoryBytesSpilled"] + at["diskBytesSpilled"]
            m["exec.input_bytes"] += at["inputBytes"]
            m["exec.output_bytes"] += at["outputBytes"]
            task_run_total += at["executorRunTime"] / 1e3
        stage_total += sa["stage"]
        for k, v in op.attrs.get("sql", {}).items():
            m[k] += v
        m["op.codegen_s"] += op.attrs.get("codegen_s", 0.0)
        _stream_metrics(m, spans)
        _storage_metrics(m, spans, tracer)
    n = max(len(ops), 1)
    for k, unit in PER_LAYER.items():
        if unit.endswith("/op"):
            m[k] /= n
    m["exec.core_util"] = task_run_total / (stage_total * bench.cores) if stage_total else 0.0
    # Micro-batch latency comes from the untraced timed passes.
    trig = sorted(bench.listener.trigger_s.get("timed", []))
    if trig:
        m["stream.batch_p50_s"] = statistics.median(trig)
        m["stream.batch_p90_s"] = trig[min(len(trig) - 1, int(0.9 * len(trig)))]
    m["proc.jvm_rss_mb"] = vm_hwm_mb(bench.sc._gateway.proc.pid)
    m["proc.py_rss_mb"] = vm_hwm_mb("self")
    untraced_rate = len(untraced["latencies"]) / untraced["wall"]
    m["trace.overhead"] = (len(traced["latencies"]) / traced["wall"]) / untraced_rate
    return {k: (m[k], PER_LAYER[k]) for k in PER_LAYER}


def _stream_metrics(m: dict, spans: list[Span]) -> None:
    started = {s.attrs["run"]: s.start for s in spans if s.name == "stream.query"}
    last: dict[str, Span] = {}
    first: dict[str, float] = {}
    for s in spans:
        if s.name != "stream.batch":
            continue
        d, run = s.attrs["duration_ms"], s.attrs["run"]
        m["stream.batches"] += 1
        m["stream.empty_batches"] += s.attrs["rows"] == 0
        m["stream.input_rows"] += s.attrs["rows"]
        m["stream.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        m["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
        m["stream.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        m["stream.commit_offsets_s"] += d.get("commitOffsets", 0) / 1e3
        m["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
        m["stream.offsets_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
        m["stream.state_commit_s"] += s.attrs["state_commit_ms"] / 1e3
        last[run] = s
        first[run] = min(first.get(run, s.start), s.start)
    for run, s in last.items():
        m["stream.state_rows"] += s.attrs["state_rows"]
        m["stream.state_bytes"] += s.attrs["state_bytes"]
        if run in started:
            m["stream.startup_s"] += max(0.0, first[run] - started[run])


def _storage_metrics(m: dict, spans: list[Span], tracer: Tracer) -> None:
    for s in spans:
        if s.name not in ("txlog", "legacy"):
            continue
        parent = tracer.spans[s.parent] if s.parent is not None else None
        nested = parent is not None and parent.name == s.name
        if s.name == "legacy":
            m["legacy.calls"] += 1
            if not nested:
                m["legacy.s"] += s.dur
            continue
        m["txlog.calls"] += 1
        inner = sum(c.dur for c in spans if c.parent == s.idx and c.name == "txlog")
        kind = TXLOG_KINDS.get(s.attrs["fn"], "other")
        m[f"txlog.{kind}_s"] += s.dur - inner
        if s.attrs["fn"] == "commit" and s.attrs.get("error") == "CommitConflict":
            m["txlog.conflicts"] += 1


# Per-layer metric -> unit. "/op" metrics are means over the traced ops.
PER_LAYER: dict[str, str] = {
    "setup.session_s": "s",
    "setup.first_query_s": "s",
    "setup.pyworkers_s": "s",
    "setup.stream_s": "s",
    "setup.staging_s": "s",
    "registry.builder_s": "s/op",
    "registry.builder_jobs": "count/op",
    "registry.builder_job_s": "s/op",
    "registry.builder_py_s": "s/op",
    "catalyst.optimize_s": "s/op",
    "catalyst.physical_s": "s/op",
    "exec.action_s": "s/op",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.failed_tasks": "count/op",
    "exec.driver_s": "s/op",
    "exec.sched_s": "s/op",
    "exec.stage_s": "s/op",
    "exec.task_run_s": "s/op",
    "exec.task_cpu_s": "s/op",
    "exec.task_gc_s": "s/op",
    "exec.task_deser_s": "s/op",
    "exec.core_util": "ratio",
    "exec.shuffle_read_bytes": "B/op",
    "exec.shuffle_write_bytes": "B/op",
    "exec.spill_bytes": "B/op",
    "exec.input_bytes": "B/op",
    "exec.output_bytes": "B/op",
    "scan.files": "count/op",
    "scan.bytes": "B/op",
    "scan.rows": "count/op",
    "scan.time_s": "s/op",
    "op.agg_build_s": "s/op",
    "op.join_build_s": "s/op",
    "op.sort_s": "s/op",
    "op.codegen_s": "s/op",
    "python.time_s": "s/op",
    "python.boot_s": "s/op",
    "python.init_s": "s/op",
    "python.bytes_sent": "B/op",
    "python.bytes_received": "B/op",
    "python.rows_received": "count/op",
    "stream.batches": "count/op",
    "stream.empty_batches": "count/op",
    "stream.startup_s": "s/op",
    "stream.trigger_s": "s/op",
    "stream.add_batch_s": "s/op",
    "stream.wal_commit_s": "s/op",
    "stream.commit_offsets_s": "s/op",
    "stream.planning_s": "s/op",
    "stream.offsets_s": "s/op",
    "stream.state_commit_s": "s/op",
    "stream.state_rows": "count/op",
    "stream.state_bytes": "B/op",
    "stream.input_rows": "count/op",
    "stream.batch_p50_s": "s",
    "stream.batch_p90_s": "s",
    "txlog.calls": "count/op",
    "txlog.commit_s": "s/op",
    "txlog.conflicts": "count/op",
    "txlog.version_s": "s/op",
    "txlog.snapshot_s": "s/op",
    "txlog.read_s": "s/op",
    "txlog.write_s": "s/op",
    "txlog.merge_s": "s/op",
    "txlog.delete_s": "s/op",
    "txlog.maintenance_s": "s/op",
    "txlog.changes_s": "s/op",
    "txlog.other_s": "s/op",
    "legacy.calls": "count/op",
    "legacy.s": "s/op",
    "proc.jvm_rss_mb": "MB",
    "proc.py_rss_mb": "MB",
    "trace.unattributed_s": "s/op",
    "trace.overhead": "ratio",
    "trace.clipped_s": "s/op",
}
