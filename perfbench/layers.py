"""Outside-in layer counters for the benchmark.

Everything here observes the engine from outside: it times calls into
the package's public functions and reads the counters Spark, the JVM
and the kernel already keep. Nothing is added inside the program.

- `HostCounters` is read around every pass of every run: CPU busy and
  steal shares from /proc/stat, the 1-minute load average, and the
  JVM's JIT-compile and GC time from its MXBeans. It is the host-noise
  record that explains a slow pass after the fact.
- `Tracer` is active only in traced passes. It tags each build and
  action with a SparkContext job group (jobs, stages), diffs the
  driver's executor summary around it (tasks, task time), collects the
  executed plans' SQLMetrics through a QueryExecutionListener (scans,
  shuffle, spill, Python workers, file writes), counts streaming
  micro-batches through a StreamingQueryListener, and wraps
  `materialize.materialize` to count and time eager checkpoints.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from fact_hive_custom_spark import metrics

_MB = 1e6
_FALLBACK_CLASS = "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback"
# Plan-node SQLMetrics summed per executed plan, beyond metrics._summarize.
_PLAN_SUMS = {
    "py_run_ms": "time to run Python workers",
    "py_sent_bytes": "data sent to Python workers",
    "written_bytes": "written output",
    "written_files": "number of written files",
}


def _proc_stat_cpu() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = fields
    return user + nice + system + irq + softirq, steal, sum(fields)


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostCounters:
    """Host and JVM counters sampled at pass boundaries."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def sample(self) -> dict:
        busy, steal, total = _proc_stat_cpu()
        return {
            "busy": busy,
            "steal": steal,
            "total": total,
            "jit_ms": int(self._jit.getTotalCompilationTime()),
            "gc_ms": sum(int(g.getCollectionTime()) for g in self._gcs),
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        """Host-noise record for the interval between two samples."""
        total = max(after["total"] - before["total"], 1)
        return {
            "cpu_busy_frac": (after["busy"] - before["busy"]) / total,
            "steal_frac": (after["steal"] - before["steal"]) / total,
            "loadavg1": _loadavg1(),
            "jit_s": (after["jit_ms"] - before["jit_ms"]) / 1e3,
            "gc_s": (after["gc_ms"] - before["gc_ms"]) / 1e3,
        }

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM (VmHWM)."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for pid {self.jvm_pid}")


class _PlanListener(metrics.MetricsListener):
    """The package's QueryExecutionListener, extended with the Python
    worker and file-write SQLMetrics of each executed plan."""

    def onSuccess(self, funcName, qe, durationNs) -> None:
        if not self.active:
            return
        nodes = metrics.plan_metrics(qe)
        summary = metrics._summarize(nodes)
        for key, metric in _PLAN_SUMS.items():
            summary[key] = sum(row["metrics"].get(metric, 0) for row in nodes)
        self.records.append(metrics.QueryRecord(str(funcName), durationNs / 1e6, summary))


class _BatchListener(StreamingQueryListener):
    """Counts micro-batches and their trigger time while active."""

    def __init__(self) -> None:
        self.active = False
        self.batches = 0
        self.batch_ms = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if self.active:
            self.batches += 1
            self.batch_ms += event.progress.durationMs.get("triggerExecution", 0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Per-layer counters for the traced passes of one run.

    Construct before `fact_hive_custom_spark.queries` is imported: the
    query modules bind `materialize` at import time, so the counting
    wrapper has to be in place first.
    """

    def __init__(self, spark, spans) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        import fact_hive_custom_spark.materialize as mat_mod

        self.sc = spark.sparkContext
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._fallback = self.sc._jvm.java.lang.Class.forName(_FALLBACK_CLASS)
        self.spans = spans
        self.parent = None
        self.active = False
        self.counts: Counter = Counter()
        self._groups = 0
        self._plan_cache: dict[str, dict] = {}

        ensure_callback_server_started(self.sc._gateway)
        self.plans = _PlanListener()
        self.plans.active = False
        spark._jsparkSession.listenerManager().register(self.plans)
        self.batches = _BatchListener()
        spark.streams.addListener(self.batches)

        inner = mat_mod.materialize

        def counted_materialize(df):
            if not self.active:
                return inner(df)
            t0 = time.perf_counter()
            try:
                return inner(df)
            finally:
                t1 = time.perf_counter()
                self.counts["materialize.calls"] += 1
                self.counts["materialize.s"] += t1 - t0
                self.spans.add("materialize", t0, t1, self.parent)

        mat_mod.materialize = counted_materialize

    # -- pass boundaries --------------------------------------------------

    def start_pass(self) -> None:
        self._bus.waitUntilEmpty()
        self.counts = Counter()
        self._n_records = len(self.plans.records)
        self.batches.batches = self.batches.batch_ms = 0
        self.active = self.plans.active = self.batches.active = True

    def end_pass(self) -> dict:
        """Stop recording and return this pass's layer totals."""
        self._bus.waitUntilEmpty()
        self.active = self.plans.active = self.batches.active = False
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        c = self.counts
        for rec in self.plans.records[self._n_records:]:
            s = rec.summary
            c["tables.rows_scanned"] += s.get("rows_scanned", 0)
            c["tables.files_read"] += s.get("files_read", 0)
            c["exchange.shuffle_mb"] += s.get("shuffle_bytes_written", 0) / _MB
            c["exchange.shuffle_records"] += s.get("shuffle_records_written", 0)
            c["exchange.spill_mb"] += s.get("spill_bytes", 0) / _MB
            c["pyworker.eval_s"] += s.get("py_run_ms", 0) / 1e3
            c["pyworker.mb_to_python"] += s.get("py_sent_bytes", 0) / _MB
            c["sinks.mb_written"] += s.get("written_bytes", 0) / _MB
            c["sinks.files_written"] += s.get("written_files", 0)
        c["streaming.batches"] += self.batches.batches
        c["streaming.batch_s"] += self.batches.batch_ms / 1e3
        return dict(c)

    # -- one build or action ----------------------------------------------

    def _executor_totals(self) -> tuple[int, int]:
        """(completed tasks, task time ms) summed over live executors."""
        execs = self._store.executorList(True)
        tasks = dur = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            tasks += e.completedTasks()
            dur += e.totalDuration()
        return tasks, dur

    @contextmanager
    def phase(self, query: str, phase: str):
        """Attribute the jobs, stages and tasks started inside the block
        to `<phase>` of `query` ("build" or "action"). The caller sets
        `parent` to its span for the materialize spans inside."""
        self._groups += 1
        group = f"perfbench:{self._groups}"
        self.sc.setJobGroup(group, f"{query} {phase}")
        tasks0, dur0 = self._executor_totals()
        try:
            yield
        finally:
            self.parent = None
            self._bus.waitUntilEmpty()
            tasks1, dur1 = self._executor_totals()
            jobs = self.sc.statusTracker().getJobIdsForGroup(group)
            if phase == "build":
                self.counts["queries.build_jobs"] += len(jobs)
            else:
                self.counts["exec.jobs"] += len(jobs)
                self.counts["exec.stages"] += self._stages_run(jobs)
                self.counts["exec.tasks"] += tasks1 - tasks0
                self.counts["exec.task_run_s"] += (dur1 - dur0) / 1e3

    def _stages_run(self, jobs) -> int:
        """Stages of `jobs` that ran at least one task (skipped stages,
        whose shuffle output was reused, are not counted)."""
        st = self.sc.statusTracker()
        n = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                n += bool(si and si.numCompletedTasks > 0)
        return n

    # -- plan shape (once per query per run) -------------------------------

    def plan_shape(self, query: str, df) -> dict:
        """Exchange counts and interpreted-expression count of the
        query's physical plan; planned once per query."""
        if query not in self._plan_cache:
            from fact_hive_custom_spark.plans.inspect import plan_counts

            pc = plan_counts(df)
            self._plan_cache[query] = {
                "plans.hash_ex": pc["hash_ex"],
                "plans.bcast": pc["bcast"],
                "functions.interp_exprs": self._interp_exprs(df),
            }
        return self._plan_cache[query]

    def _interp_exprs(self, df) -> int:
        """Count CodegenFallback expressions in the physical plan."""
        n = 0
        plans = [df._jdf.queryExecution().executedPlan()]
        while plans:
            node = plans.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                plans.append(node.executedPlan())
                continue
            if name.endswith("QueryStageExec"):
                plans.append(node.plan())
                continue
            exprs = []
            it = node.expressions().iterator()
            while it.hasNext():
                exprs.append(it.next())
            while exprs:
                e = exprs.pop()
                if self._fallback.isInstance(e):
                    n += 1
                ci = e.children().iterator()
                while ci.hasNext():
                    exprs.append(ci.next())
            ci = node.children().iterator()
            while ci.hasNext():
                plans.append(ci.next())
        return n
