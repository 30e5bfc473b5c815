"""Spark-side instruments of the traced run, plus the two that every
run uses: the peak-RSS sampler and the machine-load sentinel.

Attribution: the benchmark sets a job group per operation, so job,
stage and task metrics are read per operation from the status store,
never as app-wide brackets. Catalyst phase times and the SQL metrics
of the shmr scan come from a ``QueryExecutionListener`` registered over
py4j. Both are read only after the listener bus is drained, outside
every timed span.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time

_STAGE_WRAPPERS = {
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}


def _descendants() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name (field 3
    onwards, so ``fields[1]`` is the parent pid), with the command name
    appended, of every descendant of this process."""
    stat: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        stat[int(entry)] = rest.split() + [head.split("(", 1)[1]]
    me, out = os.getpid(), {}
    for pid, fields in stat.items():
        p = int(fields[1])
        while p and p != me and p in stat:
            p = int(stat[p][1])
        if p == me:
            out[pid] = fields
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the Python workers the driver JVM
    forked: user and system time of each live worker, plus the time of
    the workers already reaped by their parent (the JVM or the worker
    daemon)."""
    total = 0
    for f in _descendants().values():
        total += int(f[13]) + int(f[14])  # reaped children
        if f[-1].startswith("python"):
            total += int(f[11]) + int(f[12])  # own
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of every descendant process (the driver JVM and
    the Python workers it forks), sampled from /proc every 50 ms."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _descendants_rss(self) -> int:
        return sum(int(f[21]) * self._page for f in _descendants().values())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._descendants_rss())
            self._stop.wait(self.interval)


def sentinel_s(spark, reps: int = 3) -> float:
    """Median wall time of a fixed range→sum plan (the plan of the
    repository's bench sentinel, at a quarter of its row count): a
    reading of how loaded the machine is, not a library metric."""

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 150_000_000, 1, 4).selectExpr(
            "sum(id * 7 + 3) AS s"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    once()
    return statistics.median(once() for _ in range(reps))


def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _plan_nodes(plan):
    """Every node of an executed plan, looking through adaptive and
    query-stage wrappers."""
    stack = [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls in _STAGE_WRAPPERS:
            stack.append(p.plan())
            continue
        yield p
        ch = p.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


class _QueryExecutionListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``.
    Runs on the listener-bus thread; reads the finished plan there."""

    def __init__(self):
        self.records: list[dict] = []
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        try:
            phases = {k: v.durationMs() for k, v in _scala_map(qe.tracker().phases()).items()}
            rec = {"func": func_name, "phases": phases, "shmr_rows_read": 0}
            for node in _plan_nodes(qe.executedPlan()):
                if node.nodeName() == "BatchScan shmr":
                    metrics = {k: v.value() for k, v in _scala_map(node.metrics()).items()}
                    rec["shmr_rows_read"] += metrics.get("numOutputRows", 0)
            with self._lock:
                self.records.append(rec)
        except Exception as e:  # noqa: BLE001 - a listener must not kill the bus
            self.errors.append(f"{type(e).__name__}: {e}")

    def onFailure(self, func_name, qe, exception):
        pass  # a failed operation is counted by the workload loop

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkLayers:
    """Per-operation Spark metrics for the traced run."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _QueryExecutionListener()
        spark._jsparkSession.listenerManager().register(self.listener)

    def close(self) -> None:
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self.listener)
        for err in self.listener.errors:
            print(f"perfbench: query listener: {err}", file=sys.stderr)

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, op_id: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(op_id))

    def take_queries(self) -> list[dict]:
        self.drain()
        with self.listener._lock:
            recs, self.listener.records = self.listener.records, []
        return recs

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sums over every stage attempt of the given jobs; skipped
        stages (reused shuffle output) are not counted as stages."""
        self.drain()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        empty_status = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        tot = dict.fromkeys(
            ["stages", "tasks", "run_ms", "cpu_ns", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"], 0)
        tot["peak_execution_memory_bytes"] = 0
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, empty_status, False, no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += sd.numCompleteTasks()
                    tot["run_ms"] += sd.executorRunTime()
                    tot["cpu_ns"] += sd.executorCpuTime()
                    tot["input_bytes"] += sd.inputBytes()
                    tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    tot["peak_execution_memory_bytes"] = max(
                        tot["peak_execution_memory_bytes"], sd.peakExecutionMemory())
        return tot

    def persisted_bytes(self) -> int:
        """Storage the status store reports as held by cached data."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)
