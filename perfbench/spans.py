"""Spans around every engine call, and Spark's own counters per operation.

Spans live in memory (``Tracer.spans``) and are written out once, when
the run ends. Each span has a name (the engine layer it wraps, e.g.
``sources.sql.read_sql``), a phase (``call``: a function that returns a
lazy frame, including any eager probe it runs; ``plan``: forced physical
planning; ``exec``: an action), the operation it belongs to, and its
start and end. Operations are the parents: one per registry query, JDBC
step or dedup-index call.

With tracing on, each operation also gets its own Spark job group,
planning is forced as a separate phase, and the next job id is noted
at its start and end. After the pass the listener bus is drained and
each operation's jobs, stages and SQL executions are read back from
Spark's status stores. One client runs one operation at a time, so the
operation's jobs are exactly those numbered between its start and its
end, and its SQL executions those submitted while it ran. The JVM's
garbage-collection time is read at the start and end of each traced
pass.
"""

from __future__ import annotations

import gc
import re
import time
from contextlib import contextmanager

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB)\b")
# plan nodes that carry the SQL metrics read here
_METRIC_NODES = re.compile(r"BroadcastExchange|Python|Pandas|Arrow")
# Spark stamps SQL executions in whole milliseconds
_MS = 1e-3

COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
    "spark.sched_gap_s", "spark.shuffle_write_bytes", "spark.shuffle_records",
    "spark.spill_bytes", "spark.broadcast_bytes", "spark.python_bytes_sent",
    "spark.executor_cpu_s",
)


def parse_size(text: str | None) -> float:
    """Bytes in a formatted SQL size metric: ``'1141.2 KiB'`` or the
    per-task form whose first size is the total."""
    m = _SIZE_RE.search(text or "")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.op_counters: list[dict] = []
        self._op = None
        self._pass = None
        self._pending: list[dict] = []  # traced operations not yet collected
        self._gc0 = 0.0
        self.pass_gc_s: dict[str, float] = {}
        if traced:
            self._drain()
            self._last_exec = self._max_exec_id()

    # ------------------------------------------------------------ spans
    def begin_pass(self, label: str) -> None:
        if label == self._pass:  # a workload made of parts begins it per part
            return
        self._pass = label
        if self.traced:
            self._gc0 = jvm_gc_s(self.spark)

    @contextmanager
    def op(self, name: str):
        """One operation of the closed loop."""
        sc = self.spark.sparkContext
        rec = {"pass": self._pass, "name": name}
        if self.traced:
            sc.setJobGroup(f"perfbench:{name}", name)
            rec["job0"] = self._next_job_id()
        rec["t0"], rec["wall0"] = time.perf_counter(), time.time()
        self._op = rec
        try:
            yield rec
        finally:
            rec["t1"], rec["wall1"] = time.perf_counter(), time.time()
            rec["seconds"] = rec["t1"] - rec["t0"]
            self._op = None
            if self.traced:
                rec["job1"] = self._next_job_id()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._pending.append(rec)
            self.spans.append({"kind": "op", **rec})

    def end_pass(self) -> None:
        """Read the Spark counters of the pass's traced operations. Runs
        after the pass, so the reading is not part of any timing."""
        if not self._pending:
            return
        self.pass_gc_s[self._pass] = jvm_gc_s(self.spark) - self._gc0
        self._drain()
        ops, self._pending = self._pending, []
        for rec, counters in zip(ops, self._collect(ops)):
            self.op_counters.append({"pass": rec["pass"], "op": rec["name"], **counters})

    @contextmanager
    def span(self, name: str, phase: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({
                "kind": "span", "pass": self._pass,
                "op": self._op["name"] if self._op else None,
                "name": name, "phase": phase, "t0": t0,
                "t1": time.perf_counter(), "seconds": time.perf_counter() - t0,
            })

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name, "call"):
            return fn(*args, **kwargs)

    def run_frame(self, df, name: str) -> None:
        """Execute ``df`` with the noop sink; traced runs plan first."""
        if self.traced:
            with self.span(f"{name}.plan", "plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span(f"{name}.exec", "exec"):
            df.write.format("noop").mode("overwrite").save()

    # --------------------------------------------------- spark counters
    def _sc(self):
        return self.spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        self._sc().listenerBus().waitUntilEmpty()

    def _next_job_id(self) -> int:
        # job ids are consecutive: one client running one operation at a
        # time owns every job numbered between its start and its end
        return int(self._sc().dagScheduler().nextJobId())

    def _max_exec_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        ids = [int(e.executionId()) for e in _iter(store.executionsList())]
        return max(ids, default=-1)

    def _collect(self, ops: list[dict]) -> list[dict]:
        jvm = self.spark.sparkContext._jvm
        store = self._sc().statusStore()
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        result = []
        for rec in ops:
            out = {k: 0.0 for k in COUNTERS}
            intervals = []
            for jid in range(rec["job0"], rec["job1"]):
                j = store.job(jid)
                out["spark.jobs"] += 1
                sub, done = j.submissionTime(), j.completionTime()
                if sub.isDefined():
                    end = done.get().getTime() / 1e3 if done.isDefined() else rec["wall1"]
                    intervals.append((sub.get().getTime() / 1e3, end))
                for sid in _iter(j.stageIds()):
                    for st in _iter(store.stageData(int(sid), False, jvm.java.util.ArrayList(),
                                                    False, no_quantiles)):
                        if st.status().toString() == "SKIPPED":
                            continue
                        out["spark.stages"] += 1
                        out["spark.tasks"] += st.numCompleteTasks()
                        out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                        out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                        out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                        out["spark.shuffle_records"] += st.shuffleWriteRecords()
            busy = _union_length(intervals, rec["wall0"], rec["wall1"])
            out["spark.job_s"] = busy
            out["spark.sched_gap_s"] = max(0.0, (rec["wall1"] - rec["wall0"]) - busy)
            result.append(out)
        # SQL executions go to the operation they were submitted in
        sql = self.spark._jsparkSession.sharedState().statusStore()
        while True:
            e = sql.execution(self._last_exec + 1)
            if not e.isDefined():
                break
            self._last_exec += 1
            submitted = e.get().submissionTime() / 1e3
            owner = next((out for rec, out in zip(ops, result)
                          if rec["wall0"] - _MS <= submitted <= rec["wall1"]), None)
            if owner is not None:
                self._add_sql_metrics(sql, self._last_exec, owner)
        return result

    @staticmethod
    def _add_sql_metrics(sql, eid: int, out: dict) -> None:
        values = None
        for node in _iter(sql.planGraph(eid).allNodes()):
            name = node.name()
            if not _METRIC_NODES.search(name):
                continue
            for m in _iter(node.metrics()):
                mname = m.name()
                if mname == "data size" and name.startswith("BroadcastExchange"):
                    key = "spark.broadcast_bytes"
                elif mname == "data sent to Python workers":
                    key = "spark.python_bytes_sent"
                else:
                    continue
                values = values or sql.executionMetrics(eid)
                v = values.get(m.accumulatorId())
                out[key] += parse_size(v.get() if v.isDefined() else None)


def jvm_gc_s(spark) -> float:
    """Garbage-collection time of the JVM since it started."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, int(b.getCollectionTime())) for b in _iter(beans)) / 1e3


def jvm_peak_heap_mb(spark) -> float:
    """Sum over the JVM's heap memory pools of each pool's peak use since
    the JVM started, in MiB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = [p for p in _iter(mf.getMemoryPoolMXBeans()) if p.getType().name() == "HEAP"]
    return sum(int(p.getPeakUsage().getUsed()) for p in pools) / (1 << 20)


def jvm_live_heap_mb(spark) -> float:
    """Heap in use right after a full garbage collection, in MiB: what
    the engine still holds, without the garbage waiting to be collected."""
    gc.collect()  # JVM objects stay reachable while a Python proxy lives
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    # Spark's cleaner drops the blocks of broadcasts that the first
    # collection found unreachable; the second collection frees them
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return int(mem.getHeapMemoryUsage().getUsed()) / (1 << 20)


def _iter(coll):
    """Iterate a py4j-wrapped Scala or Java collection."""
    if coll is None:
        return
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
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
