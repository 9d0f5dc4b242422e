"""Readers for the Spark-side layer metrics of the traced run.

Everything here observes the engine from outside: the driver's UI REST API
(jobs, stages, SQL executions), the status tracker, a DataFrame's
QueryExecution phase tracker and the executed plan's SQL metrics (through
the package's ``plans.metrics.metric_total``). None of it runs in the
untraced run.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
import urllib.request

from pyspark.sql import DataFrame, SparkSession

#: Stage fields summed into the executor layer, REST name -> metric suffix.
_STAGE_FIELDS = {
    "executorRunTime": "run_s",
    "executorCpuTime": "cpu_s",
    "jvmGcTime": "gc_s",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}
#: Unit scale of each stage field: run and GC time are ms, CPU time is ns.
_SCALE = {"executorRunTime": 1e-3, "jvmGcTime": 1e-3, "executorCpuTime": 1e-9}
_TERMINAL = {"SUCCEEDED", "FAILED"}


def rest_ts(s: str) -> float:
    """REST timestamp ('2026-10-17T02:33:00.123GMT') -> epoch seconds."""
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=dt.timezone.utc).timestamp()


class SparkRest:
    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def settled_jobs(self, select, timeout_s: float = 10.0) -> list[dict]:
        """Jobs chosen by ``select``, once all of them have finished. The
        listener bus updates the status store asynchronously, so the last
        job of an action can still read as running just after it returns."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("jobs") if select(j)]
            if all(j["status"] in _TERMINAL for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def executor_totals(self, jobs: list[dict]) -> dict[str, float]:
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        out = {v: 0.0 for v in _STAGE_FIELDS.values()}
        out.update(jobs=float(len(jobs)), stages=0.0, tasks=0.0)
        if not stage_ids:
            return out
        for st in self.get("stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            for field, name in _STAGE_FIELDS.items():
                out[name] += st.get(field, 0) * _SCALE.get(field, 1)
        return out

    def sql_executions(self, t0: float, t1: float, timeout_s: float = 10.0) -> list[dict]:
        """SQL executions submitted within [t0, t1] (epoch seconds), once
        all of them have ended: a running one reads its duration up to now."""
        deadline = time.monotonic() + timeout_s
        while True:
            execs = [
                e for e in self.get("sql?details=false&length=100000")
                if t0 - 0.01 <= rest_ts(e["submissionTime"]) <= t1 + 0.01
            ]
            if all(e["status"] != "RUNNING" for e in execs) or time.monotonic() > deadline:
                return execs
            time.sleep(0.05)


def job_in_group(group: str):
    return lambda j: j.get("jobGroup") == group


def job_in_window(t0: float, t1: float):
    return lambda j: "submissionTime" in j and t0 <= rest_ts(j["submissionTime"]) <= t1


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Analysis, optimization and planning seconds of the DataFrame's own
    QueryExecution, read after its action ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def python_worker_metrics(df: DataFrame) -> dict[str, float]:
    """Python-worker plan-node metrics summed over the executed plan."""
    from datafusion_ballista_dhruvil_spark.plans.metrics import metric_total

    return {
        "python_bytes_sent": float(metric_total(df, "data sent to Python workers")),
        "python_bytes_received": float(metric_total(df, "data returned from Python workers")),
        # SQL timing metrics are kept in milliseconds, summed over tasks
        "python_boot_s": metric_total(df, "time to start Python workers") / 1000.0,
        "python_init_s": metric_total(df, "time to initialize Python workers") / 1000.0,
        "python_run_s": metric_total(df, "time to run Python workers") / 1000.0,
    }


class ServerPlans:
    """The DataFrames a server builds on ``spark`` while it is installed.

    A Flight server plans and runs its queries inside its own RPC handlers,
    so the benchmark never holds those DataFrames. This wraps the session's
    ``sql`` at its attribute, and ``toArrow`` at the session's DataFrame
    class, to keep every DataFrame ``sql`` returns or ``toArrow`` runs on
    (the server's ``LIMIT 0`` schema probe derives a new one), and the wall
    time of each ``toArrow`` call. ``restore`` puts both attributes back."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._frames: dict[int, DataFrame] = {}
        self._lock = threading.Lock()
        self.action_s = 0.0
        self._cls = type(spark.range(0))  # pyspark's classic DataFrame subclass
        sql, self._to_arrow = spark.sql, self._cls.toArrow
        self._own_to_arrow = "toArrow" in vars(self._cls)

        def traced_sql(*args, **kwargs):
            df = sql(*args, **kwargs)
            self._keep(df)
            return df

        def traced_to_arrow(df, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return self._to_arrow(df, *args, **kwargs)
            finally:
                self._keep(df, time.perf_counter() - t0)

        spark.sql = traced_sql
        self._cls.toArrow = traced_to_arrow

    def _keep(self, df: DataFrame, action_s: float = 0.0) -> None:
        with self._lock:
            self._frames[id(df)] = df
            self.action_s += action_s

    def restore(self) -> None:
        del self._spark.sql  # the instance attribute; the method shows again
        if self._own_to_arrow:
            self._cls.toArrow = self._to_arrow
        else:
            del self._cls.toArrow

    def catalyst_phases(self) -> dict[str, float]:
        """Phase seconds summed over every kept DataFrame."""
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for df in self._frames.values():
            for k, v in catalyst_phases(df).items():
                out[k] += v
        return out


def jvm_peak_heap_mb(spark: SparkSession) -> float:
    """Peak heap use of the driver JVM since it started: the sum of the
    peak usage of each heap memory pool (MemoryPoolMXBean), in MiB. Pools
    peak at different moments, so this is an upper bound of the peak of
    their sum."""
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        p.getPeakUsage().getUsed() for p in pools if p.getType().toString() == "Heap memory"
    ) / 2**20


def persisted_rdds(spark: SparkSession) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


class ActiveJobSampler:
    """Samples the number of active Spark jobs from the status tracker on a
    background thread; ``stop`` joins it and returns the mean."""

    def __init__(self, spark: SparkSession, period_s: float = 0.05) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        self._period = period_s
        self._samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._samples.append(len(self._tracker.getActiveJobsIds()))

    def start(self) -> ActiveJobSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return sum(self._samples) / len(self._samples) if self._samples else 0.0

