#!/usr/bin/env python3
"""Query-mix benchmark for fact_hive_custom_spark.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 15 --trace 0

One run is one process driving one SparkSession (`session.get_session`,
local[<usable cores>]) as a single closed-loop client: each query is
built with `QUERIES[name](spark, fixture_dir)` and executed through the
`noop` sink, and the next query starts when the previous one returns.

A run:

1. generates its input tables from `--seed` (fixture.py) in a private
   run directory that also holds the working directory, the warehouse,
   SPARK_LOCAL_DIRS and the temp dirs, and is deleted at exit;
2. starts the session and runs the mix once untimed, comparing every
   query with its DuckDB oracle (`tests.parity.compare`, scale mode:
   rtol 1e-9, in-engine digest above 64 MB) -- this pass is also the
   first half of the JIT / codegen warm-up;
3. runs the mix once more, untimed, through the noop sink;
4. times full passes of the mix, each in an order drawn from the seed,
   until `--seconds` have passed (at least MIN_PASSES passes).

With `--trace 0` it reports the end-to-end metrics; with `--trace 1`
it alternates untraced and traced passes (U T T U ...) and reports the
per-layer metrics of the traced passes (layers.py) plus the tracing
overhead. The last stdout line is the result object; the line before
it is a detail record (oracle checks, per-pass times and the host-noise
record), and the full record with every span is written under
`.perfbench/results/`.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


# Each mix stresses different layers; the reasons are in BENCHMARK.json.
# Mix sizes are set by the time budget of a run: session start, one cold
# oracle pass and at least MIN_PASSES timed passes in about a minute.
WORKLOADS = {
    "olap_sf01": Workload(0.1, (
        "q_agg_flagship", "q_join_shuffle_hash", "q_tpch_q10", "q_win_running",
    )),
    "iterative_udf_sf001": Workload(0.01, (
        "q_llm_kmeans", "q_udf_pandas", "q_sink_partitioned", "q_stream_stateful",
    )),
}

RTOL = 1e-9
DIGEST_BYTES = 64_000_000
MIN_PASSES = 3
MIN_TRACED_PASSES = 4  # two traced, two untraced
# session.py defaults the driver heap to 48g, more than a small host has;
# a fixed heap keeps GC behaviour and peak RSS comparable across hosts.
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "fixture.build_s": "s",
    "queries.build_s": "s",
    "queries.build_frac": "ratio",
    "queries.build_jobs": "count",
    "materialize.calls": "count",
    "materialize.s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "tables.rows_scanned": "count",
    "tables.files_read": "count",
    "exchange.shuffle_mb": "MB",
    "exchange.shuffle_records": "count",
    "exchange.spill_mb": "MB",
    "plans.hash_ex": "count",
    "plans.bcast": "count",
    "functions.interp_exprs": "count",
    "pyworker.eval_s": "s",
    "pyworker.mb_to_python": "MB",
    "sinks.mb_written": "MB",
    "sinks.files_written": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "host.cpu_busy_frac": "ratio",
    "host.steal_frac": "ratio",
    "host.loadavg1": "load",
    "trace.overhead_frac": "ratio",
}


def _now() -> float:
    return time.perf_counter() - _T0


class Spans:
    """In-memory spans: (id, phase, pass, query, start, end, parent),
    times in seconds since the harness started."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def start(self, phase: str, parent=None, pass_no=None, query=None) -> int:
        self.rows.append({
            "id": len(self.rows), "phase": phase, "pass": pass_no,
            "query": query, "start": _now(), "end": None, "parent": parent,
        })
        return len(self.rows) - 1

    def end(self, span_id: int) -> float:
        row = self.rows[span_id]
        row["end"] = _now()
        return row["end"] - row["start"]

    def add(self, phase: str, t0: float, t1: float, parent) -> None:
        """A finished span timed with time.perf_counter()."""
        sid = self.start(phase, parent)
        self.rows[sid].update(start=t0 - _T0, end=t1 - _T0)


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every place the run writes to inside `run_dir`."""
    dirs = {k: os.path.join(run_dir, k) for k in ("work", "local", "tmp", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # JVM temp files go to the run directory; -XX:-UsePerfData keeps the
    # launcher and driver JVMs out of /tmp/hsperfdata_<user>.
    jvm_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'

    os.chdir(dirs["work"])  # the default warehouse is ./spark-warehouse
    return dirs


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def _median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    """One benchmark run: fixture, session, oracle pass, timed passes."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sf: float | None, corrupt_oracle: str | None) -> None:
        self.name = workload
        self.mix = WORKLOADS[workload]
        self.sf = self.mix.sf if sf is None else sf
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.corrupt_oracle = corrupt_oracle
        self.rng = random.Random(seed)
        self.spans = Spans()
        self.checks: dict[str, dict] = {}
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def execute(self, run_dir: str) -> None:
        from fixture import write_fixture

        dirs = _isolate(run_dir)
        self.data_dir = dirs["data"]
        sid = self.spans.start("fixture")
        write_fixture(self.data_dir, self.sf, self.seed)
        self.fixture_s = self.spans.end(sid)

        from fact_hive_custom_spark.session import get_session

        sid = self.spans.start("session")
        spark = get_session("perfbench", quiet=True)
        self.session_s = self.spans.end(sid)
        try:
            self._measure(spark)
        finally:
            _stop(spark)

    def _measure(self, spark) -> None:
        from layers import HostCounters, Tracer

        self.host = HostCounters(spark)
        # Before the queries import: the tracer wraps materialize().
        self.tracer = Tracer(spark, self.spans) if self.trace else None
        from fact_hive_custom_spark.queries import ORACLE, QUERIES

        self.queries = QUERIES
        if self.corrupt_oracle:
            sql = ORACLE[self.corrupt_oracle]
            ORACLE[self.corrupt_oracle] = f"SELECT * FROM ({sql}) UNION ALL SELECT * FROM ({sql})"
        self._oracle_pass(spark)
        # The oracle pass runs every query cold through toPandas; one
        # untimed noop pass more takes the steepest part of the JIT
        # warm-up out of the timed passes.
        self.warm = self._pass(spark, "warm", traced=False)

        self.setup_s = _now()
        min_passes = MIN_TRACED_PASSES if self.trace else MIN_PASSES
        t_start = time.perf_counter()
        while (len(self.passes) < min_passes
               or time.perf_counter() - t_start < self.seconds):
            # U T T U ordering keeps traced and untraced passes at the
            # same mean position in the JIT warm-up curve.
            traced = self.trace and len(self.passes) % 4 in (1, 2)
            self.passes.append(self._pass(spark, len(self.passes), traced))
        self.peak_rss_mb = self.host.peak_rss_mb()

    def _oracle_pass(self, spark) -> None:
        from tests.parity import compare

        sid = self.spans.start("oracle")
        for name in self.rng.sample(self.mix.queries, len(self.mix.queries)):
            qid = self.spans.start("check", sid, query=name)
            self.attempted += 1
            try:
                ok, detail = compare(spark, name, self.data_dir, rtol=RTOL,
                                     digest_bytes=DIGEST_BYTES)
            except Exception as e:  # a crashing query is a failed check
                ok, detail = False, f"{type(e).__name__}: {e}"[:500]
            self.failed += not ok
            self.checks[name] = {"ok": ok, "detail": detail, "s": self.spans.end(qid)}
        self.spans.end(sid)

    def _pass(self, spark, n, traced: bool) -> dict:
        """Run the mix once in a seeded order; `n` labels the pass."""
        order = self.rng.sample(self.mix.queries, len(self.mix.queries))
        tracer = self.tracer if traced else None
        record = {"pass": n, "traced": traced, "order": order, "queries": {}, "errors": {}}
        before = self.host.sample()
        if tracer:
            tracer.start_pass()
        pid = self.spans.start("pass", pass_no=n)
        built = {}
        for name in order:
            qid = self.spans.start("query", pid, n, name)
            self.attempted += 1
            try:
                df, build_s = self._phase(
                    tracer, "build", qid, n, name,
                    lambda: self.queries[name](spark, self.data_dir),
                )
                built[name] = df
                _, action_s = self._phase(
                    tracer, "action", qid, n, name,
                    lambda: df.write.format("noop").mode("overwrite").save(),
                )
                record["queries"][name] = {"build_s": build_s, "action_s": action_s}
            except Exception as e:  # counted, and the pass goes on
                self.failed += 1
                record["errors"][name] = f"{type(e).__name__}: {e}"[:500]
            self.spans.end(qid)
        record["wall_s"] = self.spans.end(pid)
        if tracer:
            layers = tracer.end_pass()
            for name, df in built.items():
                for k, v in tracer.plan_shape(name, df).items():
                    layers[k] = layers.get(k, 0) + v
            record["layers"] = layers
        record["host"] = self.host.delta(before, self.host.sample())
        return record

    def _phase(self, tracer, phase: str, parent: int, n, name: str, fn):
        """Run `fn` in span `phase` and return (result, seconds). The
        tracer's bookkeeping runs outside the span."""
        with tracer.phase(name, phase) if tracer else nullcontext():
            sid = self.spans.start(phase, parent, n, name)
            if tracer:
                tracer.parent = sid
            try:
                out = fn()
            finally:
                seconds = self.spans.end(sid)
        return out, seconds

    # -- results ------------------------------------------------------------

    def end_to_end(self) -> dict:
        per_query = []
        for q in self.mix.queries:
            times = [p["queries"][q]["build_s"] + p["queries"][q]["action_s"]
                     for p in self.passes if q in p["queries"]]
            if times:  # a query that failed in every pass has no time
                per_query.append(_median(times))
        return {
            "setup_s": self.setup_s,
            "wall_s": _median([p["wall_s"] for p in self.passes]),
            "query_geomean_s": statistics.geometric_mean(per_query) if per_query else 0.0,
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }

    def per_layer(self) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p for p in self.passes if not p["traced"]]

        def med(f) -> float:
            return _median([f(p) for p in traced])

        def sum_q(p, key) -> float:
            return sum(q[key] for q in p["queries"].values())

        out = {
            "session.start_s": self.session_s,
            "fixture.build_s": self.fixture_s,
            "queries.build_s": med(lambda p: sum_q(p, "build_s")),
            "queries.build_frac": med(lambda p: sum_q(p, "build_s") / p["wall_s"]),
            "exec.action_s": med(lambda p: sum_q(p, "action_s")),
            "jvm.jit_s": med(lambda p: p["host"]["jit_s"]),
            "jvm.gc_s": med(lambda p: p["host"]["gc_s"]),
            "jvm.peak_rss_mb": self.peak_rss_mb,
            "host.cpu_busy_frac": med(lambda p: p["host"]["cpu_busy_frac"]),
            "host.steal_frac": med(lambda p: p["host"]["steal_frac"]),
            "host.loadavg1": med(lambda p: p["host"]["loadavg1"]),
            "trace.overhead_frac": (
                _median([p["wall_s"] for p in traced])
                / _median([p["wall_s"] for p in untraced]) - 1.0
            ),
        }
        for name in PER_LAYER:
            if name not in out:
                out[name] = med(lambda p: p["layers"].get(name, 0))
        return out

    def result(self) -> dict:
        values = self.per_layer() if self.trace else self.end_to_end()
        units = PER_LAYER if self.trace else END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }

    def detail(self) -> dict:
        return {
            "detail": "perfbench",
            "workload": self.name,
            "seed": self.seed,
            "trace": self.trace,
            "sf": self.sf,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": DRIVER_MEMORY,
            "fixture_s": self.fixture_s,
            "session_s": self.session_s,
            "setup_s": self.setup_s,
            "checks": self.checks,
            "warm": self.warm,
            "passes": self.passes,
        }


def _parse(argv) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None, sf: float | None = None, corrupt_oracle: str | None = None) -> int:
    """Run the benchmark. `sf` overrides the workload's scale factor and
    `corrupt_oracle` names a query whose oracle is made wrong; both
    exist for selftest.py."""
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "fact_hive_custom_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "parity.py"))):
        print(f"perfbench: no fact_hive_custom_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), sf, corrupt_oracle)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    cwd = os.getcwd()
    try:
        run.execute(run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    result = run.result()
    detail = run.detail()
    artifact = os.path.join(
        OUT, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json",
    )
    with open(artifact, "w") as f:
        json.dump({**detail, "spans": run.spans.rows, "result": result}, f)
    print(json.dumps({**detail, "artifact": os.path.relpath(artifact, ROOT)}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
