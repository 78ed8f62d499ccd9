"""Measurement from outside the package: spans, Spark status-store
deltas, Catalyst phase times, streaming progress and memory readings.

Nothing here changes what the package does. Every reading comes from a
public Spark surface (the status store, the query-execution and
streaming listener buses, JMX) or from timing calls into the package's
own public functions.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from pyspark.sql.streaming import StreamingQueryListener

from spark_etl_agent_spark.core.cache import scoped_caches
from spark_etl_agent_spark.sources.catalog import Catalog

MB = float(1 << 20)


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. Spans
    are recorded only while ``enabled`` is set, so the untraced passes of
    a run pay one attribute test per boundary."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: Optional[int] = None
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
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

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def phase_ms(qe) -> int:
    """Analysis + optimization + planning milliseconds a JVM
    ``QueryExecution``'s planning tracker recorded."""
    ms = 0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return ms


class _PhaseListener:
    """``QueryExecutionListener`` (a JVM interface, implemented through
    the py4j callback server) that keeps every query execution finishing
    while it is armed. The callback only stores the reference: reading
    the phase times from it is left to the caller, after the op, so the
    listener bus (which also delivers the ``observe`` metrics the op
    waits for) is held for one round trip per execution."""

    def __init__(self) -> None:
        self.armed = False
        self.done: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        if self.armed:
            self.done.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        if self.armed:
            self.done.append(qe)

    def take_plan_ms(self) -> int:
        """Catalyst time of the executions kept since the last call."""
        done, self.done = self.done, []
        return sum(phase_ms(qe) for qe in done)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    """Per-micro-batch progress: run id, trigger duration, input rows."""

    def __init__(self) -> None:
        self.armed = False
        self.batches: List[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        if self.armed:
            self.batches.append(
                {
                    "run_id": str(p.runId),
                    "ms": p.durationMs.get("triggerExecution", 0),
                    "rows": p.numInputRows,
                }
            )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class SparkProbe:
    """Reads Spark's own bookkeeping around each op.

    Spark work is attributed to an op by job id: the scheduler numbers
    jobs consecutively, so the jobs an op launched are exactly the ids
    between the scheduler's next id before and after it, whatever job
    group they ran under (streaming micro-batches run under the stream's
    run id, not the caller's). Job and stage records are read once, at
    the end of the timed phase, from the status store; the session is
    built with retention limits above anything one run launches, so
    nothing is evicted before it is read.
    """

    RETAINED = "1000000"

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._jvm = self.sc._jvm
        self.phases: Optional[_PhaseListener] = None
        self.stream: Optional[_StreamListener] = None
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    # -- job ids and listener buses ------------------------------------

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def drain_listeners(self) -> None:
        """Block until every posted listener event has been delivered,
        so listener-derived readings for an op are complete."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def install_listeners(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self.phases = _PhaseListener()
        self.spark._jsparkSession.listenerManager().register(self.phases)
        self.stream = _StreamListener()
        self.spark.streams.addListener(self.stream)

    def arm(self, on: bool) -> None:
        if self.phases is not None:
            self.phases.armed = on
            self.stream.armed = on

    def catalyst_ms(self, df) -> int:
        """Phase times the frame's own tracker holds (its analysis ran
        while the spec built it; the write's execution is a separate
        query execution that the phase listener sees)."""
        return phase_ms(df._jdf.queryExecution())

    # -- memory ---------------------------------------------------------

    def cache_mb(self) -> float:
        """Storage held by persisted RDDs right now (memory + disk)."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def heap_live_mb(self) -> float:
        """Heap occupied after each heap pool's most recent collection:
        the live-data estimate JMX gives without forcing a GC."""
        used = 0
        mf = self._jvm.java.lang.management.ManagementFactory
        for pool in mf.getMemoryPoolMXBeans():
            if str(pool.getType().toString()) != "Heap memory":
                continue
            usage = pool.getCollectionUsage()
            if usage is not None:
                used += usage.getUsed()
        return used / MB

    def jvm_hwm_mb(self) -> float:
        """Peak resident set of the JVM process (VmHWM), an unbounded
        reading: it varies with heap sizing and GC timing."""
        try:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    # -- status store -----------------------------------------------------

    def _to_json(self, obj) -> list:
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        mapper.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        return json.loads(mapper.writeValueAsString(obj))

    def snapshot(self) -> "StatusSnapshot":
        """Every retained job and stage, serialized in two JVM calls."""
        store = self._jsc.statusStore()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        jobs = self._to_json(store.jobsList(None))
        stages = self._to_json(store.stageList(None, False, False, no_quantiles, None))
        return StatusSnapshot(jobs, stages)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _descendants_cpu(root: int) -> float:
    """CPU seconds of the descendants of ``root`` (the JVM, the Python
    worker daemon and its workers), read from ``/proc``. Each process
    counts its own user + system time plus that of the children it has
    already reaped, so a worker that exits between two readings moves
    its time into its parent's count instead of losing it."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        # utime + stime + cutime + cstime
        stats[pid] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def _self_cpu() -> float:
    """CPU seconds of this process and the children it has reaped."""
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


class CpuClock:
    """CPU seconds of the benchmark process and every process it started
    (the JVM and its Python workers). Unlike wall time it does not grow
    while other tenants of the host hold the CPUs. This process's own
    time is read on the side of each ``/proc`` scan that keeps the scan
    out of the interval: after the scan when an interval starts, before
    it when one ends."""

    def __init__(self) -> None:
        self.pid = os.getpid()

    def start(self) -> float:
        others = _descendants_cpu(self.pid)
        return others + _self_cpu()

    def stop(self) -> float:
        own = _self_cpu()
        return own + _descendants_cpu(self.pid)


class OpTimer:
    """The one place an op is timed. Inside ``op(rec)`` the caller runs
    the op's body; the record gets the op's latency ``s``, the CPU
    seconds of the process tree during it ``cpu_s`` and the range of
    Spark job ids it launched ``j``. While tracing it also gets the
    Catalyst time, streaming progress and memory readings taken around
    the op. Caches the op persisted are released when it ends, as a
    long-lived Spark application would. An exception ends the op as
    failed, not the run.
    """

    def __init__(self, spark, probe: SparkProbe, tracer: Tracer) -> None:
        self.spark = spark
        self.probe = probe
        self.tracer = tracer
        self.cpu = CpuClock()

    @contextmanager
    def op(self, rec: dict):
        traced = self.tracer.enabled
        self.tracer.op_id = rec["id"]
        if traced:
            self.probe.drain_listeners()
            self.probe.phases.take_plan_ms()
            batch0 = len(self.probe.stream.batches)
        j0 = self.probe.next_job_id()
        c0 = self.cpu.start()
        t0 = rec["t0"] = time.perf_counter()
        try:
            with self.tracer.span("op", op_name=rec["name"]), scoped_caches(self.spark):
                yield rec
                if traced:
                    rec["cache_mb"] = self.probe.cache_mb()
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = self.cpu.stop() - c0
            rec["j"] = (j0, self.probe.next_job_id())
            if traced:
                self.probe.drain_listeners()
                rec["plan_ms"] = rec.get("plan_ms", 0) + self.probe.phases.take_plan_ms()
                rec["batches"] = self.probe.stream.batches[batch0:]
                rec["heap_mb"] = self.probe.heap_live_mb()


class StatusSnapshot:
    """Job and stage records keyed by id, summed over id ranges."""

    STAGE_SUMS = (
        "executorRunTime",
        "executorCpuTime",
        "jvmGcTime",
        "inputBytes",
        "outputBytes",
        "shuffleReadBytes",
        "shuffleWriteBytes",
        "diskBytesSpilled",
        "numTasks",
    )

    def __init__(self, jobs: list, stages: list) -> None:
        self.jobs = {j["jobId"]: j for j in jobs}
        # the last attempt of each stage carries its final metrics
        self.stages: Dict[int, dict] = {}
        for s in stages:
            old = self.stages.get(s["stageId"])
            if old is None or s["attemptId"] > old["attemptId"]:
                self.stages[s["stageId"]] = s

    def missing(self, lo: int, hi: int) -> int:
        return sum(1 for j in range(lo, hi) if j not in self.jobs)

    def stage_ids(self, lo: int, hi: int) -> List[int]:
        """Stages the jobs ``[lo, hi)`` ran (skipped stages excluded: a
        reused shuffle did no work in this job)."""
        ids = []
        for j in range(lo, hi):
            for sid in self.jobs.get(j, {}).get("stageIds", ()):
                st = self.stages.get(sid)
                if st is not None and st["status"] != "SKIPPED":
                    ids.append(sid)
        return ids

    def sums(self, ranges) -> Dict[str, float]:
        out = {k: 0 for k in self.STAGE_SUMS}
        out["jobs"] = out["stages"] = 0
        out["peak_mem"] = 0
        seen = set()
        for lo, hi in ranges:
            out["jobs"] += hi - lo
            for sid in self.stage_ids(lo, hi):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.stages[sid]
                out["stages"] += 1
                for k in self.STAGE_SUMS:
                    out[k] += st.get(k, 0)
                out["peak_mem"] = max(out["peak_mem"], st.get("peakExecutionMemory", 0))
        return out

    def job_groups(self, lo: int, hi: int) -> Dict[str, int]:
        groups: Dict[str, int] = {}
        for j in range(lo, hi):
            g = self.jobs.get(j, {}).get("jobGroup")
            if g:
                groups[g] = groups.get(g, 0) + 1
        return groups


WRITE_VERBS = (
    "write_table",
    "overwrite_partitions",
    "truncate_table",
    "copy_table_data",
    "merge_upsert",
    "apply_cdc",
    "compact_table",
    "write_table_bucketed",
)


def parquet_files(root: str, since: float = 0.0):
    """(path, size) of every parquet data file under ``root`` modified
    at or after ``since`` (epoch seconds)."""
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                if st.st_mtime >= since:
                    yield p, st.st_size


class TimedCatalog(Catalog):
    """The ``Catalog`` the benchmark hands to ``JobService``: every
    write verb is timed as a ``sources.write`` span and the parquet files
    it leaves under the table directory are counted. Verbs that call
    other verbs (``apply_cdc`` writes through ``write_table``) count
    once, at the outermost call."""

    def __init__(self, spark, root: str, tracer: Tracer) -> None:
        super().__init__(spark, root)
        self.tracer = tracer
        self.files_written = 0
        self._depth = 0


def _timed(verb: str):
    base = getattr(Catalog, verb)
    sig = inspect.signature(base)
    # the table a verb writes: ``dest`` for copies, ``name`` otherwise
    target = "dest" if "dest" in sig.parameters else "name"

    def wrapper(self, *args, **kwargs):
        self._depth += 1
        try:
            if not self.tracer.enabled or self._depth > 1:
                return base(self, *args, **kwargs)
            t0 = time.time()
            try:
                with self.tracer.span("sources.write", verb=verb):
                    return base(self, *args, **kwargs)
            finally:
                name = sig.bind(self, *args, **kwargs).arguments[target]
                self.files_written += sum(
                    1 for _ in parquet_files(self.path(name), since=t0)
                )
        finally:
            self._depth -= 1

    wrapper.__name__ = verb
    wrapper.__doc__ = base.__doc__
    return wrapper


for _verb in WRITE_VERBS:
    setattr(TimedCatalog, _verb, _timed(_verb))


def percentile_tail(values: List[float], beyond: int = 10):
    """The highest percentile with at least ``beyond`` samples above it:
    the (beyond+1)-th largest value, with the percentile it sits at.
    ``None`` when there are too few samples."""
    if len(values) <= beyond:
        return None
    ordered = sorted(values)
    idx = len(ordered) - beyond - 1
    pct = 100.0 * idx / (len(ordered) - 1) if len(ordered) > 1 else 0.0
    return ordered[idx], round(pct, 1)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
