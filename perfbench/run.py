"""Closed-loop benchmark of the package on its sf 0.01 test tables.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. reads the input tables from ``perfbench/data`` (the package's
   sf 0.01 test tables) and makes the workload's fixed op set; the seed
   permutes the ops and picks lookup / read-back keys;
2. starts Spark ``local[k]`` (k = min(4, usable CPUs)) and prepares the
   workload;
3. runs one check pass -- every registered query's rows are compared
   with its DuckDB oracle, table read-backs and lookups with a
   recomputation from the parquet files -- then a fixed number of
   untimed warm-up passes (per workload, see ``workloads.WORKLOADS``);
4. times whole seeded passes over the op set until ``--seconds`` have
   elapsed and at least three untraced passes ran.

``setup_s`` is the program's share of steps 1-3: session start,
registry import, workload preparation, the Spark side of the check pass
and the warm-up. The benchmark's own work (DuckDB views and oracle
checks, host calibration) is left out of it.

With ``--trace 1`` the timed passes alternate between untraced and
traced; the traced ones record spans and counters per op and the report
gives per-layer metrics plus the tracing overhead (traced vs untraced
pass time).

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is a full report with the
workload-specific metrics, warm-up rule and pass times, host context and
correctness detail. All scratch output lives under
``.perfbench_work/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oracle_to_cassandra_spark"

#: the package's sf 0.01 test tables (lineitem 60k rows)
SF = 0.01
DATA = os.path.join(HERE, "data")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
#: the timed phase runs at least this many untraced passes, so the
#: median pass and the median op are not one pass's
MIN_TIMED_PASSES = 3
#: no new warm-up pass starts after WARMUP_DEADLINE_S seconds of the
#: run, and no new pass at all after DEADLINE_S, so a run on a slow
#: host still ends within three minutes
WARMUP_DEADLINE_S, DEADLINE_S = 100.0, 140.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="closed-loop benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def calibrate() -> float:
    """Seconds for a fixed single-core integer loop: host speed context."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 1099511628211 + i) & 0xFFFFFFFFFFFFFFFF
    return time.perf_counter() - t0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def setup_env(work: str, k: int) -> None:
    """Point every scratch location at ``work`` and make the package
    importable by Spark's Python workers. Must run before the package
    is imported and the session starts."""
    for d in ("scratch", "local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(k),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM (launcher and driver): temp files under work, no
        # hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": " ".join((
            os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")).strip(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }


def pct(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None unless at least ten samples
    lie beyond it."""
    if not values:
        return None
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    if q > 0.5 and len(s) - rank < 10:
        return None
    return s[rank - 1]


class Clock:
    """Accumulates the benchmark's own (non-program) time."""

    def __init__(self) -> None:
        self.bench_s = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.bench_s += time.perf_counter() - self._t0
        return False


def load_compare():
    """The repository's oracle-comparison normalisation."""
    spec = importlib.util.spec_from_file_location(
        "_bench_compare", os.path.join(ROOT, "tests", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(compare, con, sql: str, rows, cols, name: str) -> str | None:
    """compare.compare_query's checks on already-collected Spark rows;
    returns the mismatch, or None."""
    cur = con.execute(sql)
    d_cols = [d[0] for d in cur.description]
    d_rows = [tuple(r) for r in cur.fetchall()]
    if sorted(cols) != sorted(d_cols):
        return f"{name}: columns spark={sorted(cols)} duckdb={sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"{name}: row count spark={len(rows)} duckdb={len(d_rows)}"
    _, s_norm = compare._normalize([tuple(r) for r in rows], cols)
    _, d_norm = compare._normalize(d_rows, d_cols)
    for i, (a, b) in enumerate(zip(s_norm, d_norm)):
        if a != b:
            return f"{name}: row #{i} spark={a} duckdb={b}"
    return None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    from spans import children

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids: list[int] = []
    if proc is not None:
        todo = [proc.pid]
        while todo:
            pid = todo.pop()
            try:
                sub = children(pid)
            except OSError:
                continue
            kids += sub
            todo += sub
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "compare.py")):
        print(f"run.py: {PACKAGE}/ and tests/compare.py not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    k = min(4, usable_cpus())
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        setup_env(work, k)
        return Run(args, work, k).main()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class Run:
    """One benchmark run: set-up, check pass, warm-up, timed phase."""

    def __init__(self, args, work: str, k: int) -> None:
        import spans

        self.args, self.work, self.k = args, work, k
        self.bench = Clock()
        self.host: dict = {"nproc": usable_cpus(), "k": k}
        self.setup: dict = {}
        self.tracing = bool(args.trace)
        self.tracer = spans.Tracer() if self.tracing else spans.NullTracer()
        self.counters = None
        self.mismatches: list[str] = []
        self.attempted = self.failed = 0
        self.seq = 0
        #: (op, seconds, traced) for every op that completed in the timed phase
        self.samples: list = []
        #: (op, counter deltas) for every traced op
        self.per_op: list = []

    def main(self) -> int:
        with self.bench:
            self.host["calib_s_pre"] = calibrate()
            self.host["loadavg_pre"] = os.getloadavg()
            self.data = DATA
            import duckdb

            self.con = duckdb.connect()
            self.con.execute(f"SET threads = {self.k}")
            for t in TABLES:
                path = os.path.join(self.data, t + ".parquet")
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.compare = load_compare()

        t0 = time.perf_counter()
        from oracle_to_cassandra_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", cpus=self.k,
                               extra_conf=spark_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_start_s"] = time.perf_counter() - t0
        try:
            return self.measure()
        finally:
            stop_spark(self.spark)

    def measure(self) -> int:
        import spans
        from oracle_to_cassandra_spark import registry
        from workloads import WORKLOADS, Ctx

        self.registry = registry
        t0 = time.perf_counter()
        registry.load_all()
        self.setup["registry_import_s"] = time.perf_counter() - t0
        if self.tracing:
            spans.install_layer_spans(self.tracer)
            self.counters = spans.Counters(self.spark)
            self.counters.add_stream_listener()
            self.tracer.on_group = self.counters.job_group

        self.workload = WORKLOADS[self.args.workload]
        ctx = Ctx(spark=self.spark, data_dir=self.data, work_dir=self.work,
                  duck=self.con, tracer=self.tracer, seed=self.args.seed)
        t0 = time.perf_counter()
        if self.workload.prepare is not None:
            with self.tracer.span("setup.prepare"):
                self.workload.prepare(ctx)
        self.setup["prepare_s"] = time.perf_counter() - t0
        with self.bench:
            self.ops = self.workload.make_ops(ctx)

        self.check_pass()
        self.warm_up()
        self.setup_s = time.perf_counter() - T_START - self.bench.bench_s
        self.setup["warmup_attempted"], self.setup["warmup_failed"] = \
            self.attempted, self.failed
        self.attempted = self.failed = 0
        self.timed_phase()
        if not any(not traced for _, _, traced in self.samples):
            print("run.py: no op completed in the timed phase", file=sys.stderr)
            print(json.dumps({"mismatches": self.mismatches[:20]}), file=sys.stderr)
            return 1

        jvm_peak = None
        if self.counters is not None:
            jvm_peak = spans.jvm_peak_rss_mb(self.counters.jvm_pid)
            self.counters.remove_stream_listener()
        self.host["calib_s_post"] = calibrate()
        self.host["loadavg_post"] = os.getloadavg()
        self.host["spark"] = self.spark.version
        self.host["java"] = self.spark._jvm.java.lang.System.getProperty("java.version")
        self.report(jvm_peak)
        return 0

    def order(self, pass_no: int) -> list:
        """The op set in this pass's seeded order."""
        seq = list(self.ops)
        random.Random(f"{self.args.seed}:pass{pass_no}").shuffle(seq)
        return seq

    def fail(self, op, exc: Exception) -> None:
        """Count and record a failed op (never skipped silently)."""
        traceback.print_exc(file=sys.stderr)
        self.mismatches.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")

    def check_pass(self) -> None:
        """Every op's output verified once; registered queries against
        their DuckDB oracle. Only the Spark side is program time."""
        self.check_failed = 0
        t0, b0 = time.perf_counter(), self.bench.bench_s
        for op in self.order(-1):
            try:
                if op.query is not None:
                    df = self.registry.QUERIES[op.query](self.spark, self.data)
                    rows, cols = df.collect(), list(df.columns)
                    with self.bench:
                        err = oracle_check(self.compare, self.con,
                                           self.registry.ORACLE[op.query], rows, cols, op.name)
                else:
                    result = op.run()
                    with self.bench:
                        err = verify(op, result)
            except Exception as exc:
                self.check_failed += 1
                self.fail(op, exc)
                continue
            if err:
                self.mismatches.append(err)
        self.setup["check_pass_s"] = time.perf_counter() - t0 - (self.bench.bench_s - b0)

    def run_pass(self, pass_no: int, traced: bool, record: bool) -> float:
        """One pass over the op set; returns its program time."""
        self.tracer.enabled = traced
        t_pass, b0 = time.perf_counter(), self.bench.bench_s
        for op in self.order(pass_no):
            self.attempted += 1
            if traced:
                self.seq += 1
                self.tracer.op_id = (pass_no, self.seq, op.name)
                snap = op_counters(self.counters)
            t = time.perf_counter()
            try:
                if traced:
                    with self.tracer.span("op"):
                        result = op.run()
                else:
                    result = op.run()
                dt = time.perf_counter() - t
            except Exception as exc:
                self.failed += 1
                self.fail(op, exc)
                continue
            with self.bench:
                err = verify(op, result)
            if err:
                self.mismatches.append(err)
            if record:
                self.samples.append((op, dt, traced))
            if traced:
                self.per_op.append((op, op_counters(self.counters, snap)))
                if op.kind == "build":
                    self.tracer.write_stats["rows"] += op.rows
        self.tracer.enabled = False
        return time.perf_counter() - t_pass - (self.bench.bench_s - b0)

    def warm_up(self) -> None:
        """The workload's fixed number of untimed passes. Pass times can
        plateau for a few passes and then drop by a sixth when the JIT
        compiles the planner's hot paths, at a pass that differs from run
        to run, so a leveling test stops on the plateau in some runs and
        not in others; a fixed count set past the drop does not."""
        want = self.workload.warmup_passes
        cycles: list[float] = []
        while len(cycles) < want and time.perf_counter() - T_START < WARMUP_DEADLINE_S:
            cycles.append(self.run_pass(len(cycles), traced=False, record=False))
        self.setup["warmup"] = {
            "rule": f"fixed {want} passes after the check pass",
            "done": "all passes" if len(cycles) == want else "stopped early: time budget",
            "cycles_s": cycles}
        self.first_timed_pass = len(cycles)

    def timed_phase(self) -> None:
        """Whole passes until --seconds have elapsed and MIN_TIMED_PASSES
        untraced passes ran; with tracing, odd passes are traced."""
        self.pass_times: dict[bool, list[float]] = {False: [], True: []}
        steal0 = cpu_steal_s()
        t0, b0 = time.perf_counter(), self.bench.bench_s
        n = 0
        while True:
            traced = self.tracing and n % 2 == 1
            self.pass_times[traced].append(
                self.run_pass(self.first_timed_pass + n, traced, record=True))
            n += 1
            elapsed = time.perf_counter() - t0
            if (elapsed >= self.args.seconds
                    and len(self.pass_times[False]) >= MIN_TIMED_PASSES
                    and (not self.tracing or self.pass_times[True])) \
                    or time.perf_counter() - T_START > DEADLINE_S:
                break
        self.timed_s = time.perf_counter() - t0 - (self.bench.bench_s - b0)
        self.host["cpu_steal_s_timed"] = cpu_steal_s() - steal0

    def report(self, jvm_peak) -> None:
        untraced = [(op, dt) for op, dt, traced in self.samples if not traced]
        lat = [dt for _, dt in untraced]
        untraced_s = sum(self.pass_times[False])
        # throughput of the median untraced pass: every pass runs the same
        # op set, and the median shrugs off one pass hit by a host stall
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "ops_per_s": (len(self.ops) / statistics.median(self.pass_times[False]), "1/s"),
            "op_p50_s": (statistics.median(lat), "s"),
        }
        extra = {
            "op_p90_s": (pct(lat, 0.9), "s"),
            "failed_frac": (self.failed / self.attempted, "fraction"),
        }
        builds = [op for op, _ in untraced if op.kind == "build"]
        if builds:
            extra["rows_per_s"] = (sum(op.rows for op in builds) / untraced_s, "rows/s")
        look = [dt for op, dt in untraced if op.kind == "lookup"]
        if look:
            extra["lookup_p50_s"] = (statistics.median(look), "s")
            extra["lookup_p90_s"] = (pct(look, 0.9), "s")

        def as_json(metrics):
            return {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()
                    if v is not None}

        names = sorted({op.name for op, _ in untraced})
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "closed_loop": {"clients": 1, "local_k": self.k, "sf": SF,
                            "ops_per_pass": len(self.ops)},
            "metrics": as_json({**e2e, **extra}),
            "op_p50_s_by_name": {
                name: statistics.median(dt for op, dt in untraced if op.name == name)
                for name in names},
            "samples": {"ops": len(lat), "lookups": len(look),
                        "timed_passes": len(self.pass_times[False]),
                        "timed_pass_s": self.pass_times[False],
                        "timed_s": self.timed_s},
            "setup": {**self.setup, "benchmark_own_s": self.bench.bench_s},
            "correctness": {"checked_ops": len(self.ops), "check_failed": self.check_failed,
                            "mismatches": self.mismatches[:20]},
            "host": self.host,
        }
        result_metrics = as_json(e2e)
        if self.tracing:
            report["layers"] = layer_metrics(self.tracer, self.per_op, self.pass_times,
                                             self.setup["session_start_s"], jvm_peak)
            result_metrics = report["layers"]["metrics"]
        print(json.dumps(report))
        correct = not self.mismatches and self.check_failed == 0
        print(json.dumps({"correct": correct, "attempted": self.attempted,
                          "failed": self.failed, "metrics": result_metrics}))


def verify(op, result) -> str | None:
    try:
        op.verify(result)
    except AssertionError as exc:
        return str(exc)
    return None


def op_counters(counters, snap=None):
    """Counter snapshot, or the delta since ``snap`` plus the
    after-op staging state."""
    import spans as tr_mod

    counters.drain_events()
    now = {
        "driver_cpu": time.process_time(),
        "jvm_cpu": tr_mod.jvm_cpu(counters.jvm_pid),
        "gc": counters.gc_s(),
        "pyworker": tr_mod.python_worker_cpu(counters.jvm_pid, counters.py_roots),
        "batches": counters.batches,
        "batch_ms": counters.batch_ms,
    }
    if snap is None:
        return now
    d = {key: now[key] - snap[key] for key in now}
    d["persisted_rdds"], d["storage_mb"] = counters.staged()
    d["jobs"] = counters.take_jobs()
    return d


def layer_metrics(tracer, per_op, pass_times, session_start_s, jvm_peak):
    traced_ops = [op for op, _ in per_op]
    n = len(traced_ops) or 1
    incl, selft, calls = tracer.totals_for(lambda span: span[4] is not None)
    sums: dict[str, float] = {}
    for _, d in per_op:
        for key, v in d.items():
            if key != "jobs":
                sums[key] = sums.get(key, 0.0) + v
    jobs = {"c": 0, "a": 0, "r": 0, "o": 0}
    stages = 0
    reads = calls.get("sinks.read", 0)
    for _, d in per_op:
        for tag, (nj, ns) in d["jobs"].items():
            jobs[tag] += nj
            stages += ns
    write = tracer.write_stats
    untraced, traced = pass_times[False], pass_times[True]
    overhead = (statistics.mean(traced) / statistics.mean(untraced) - 1
                if traced and untraced else 0.0)

    def m(v, unit):
        return {"value": v, "unit": unit}

    metrics = {
        "session.start_s": m(session_start_s, "s"),
        "queries.construct_s": m(incl.get("queries.construct", 0.0) / n, "s"),
        "queries.action_s": m(incl.get("queries.action", 0.0) / n, "s"),
        "queries.jobs_construct": m(jobs["c"] / n, "count"),
        "queries.jobs_action": m((jobs["a"] + jobs["r"]) / n, "count"),
        "queries.stages": m(stages / n, "count"),
        "queries.driver_cpu_s": m(sums.get("driver_cpu", 0.0) / n, "s"),
        "jvm.cpu_s": m(sums.get("jvm_cpu", 0.0) / n, "s"),
        "jvm.gc_s": m(sums.get("gc", 0.0) / n, "s"),
        "jvm.peak_rss_mb": m(jvm_peak or 0.0, "MB"),
        "staging.persisted_rdds": m(sums.get("persisted_rdds", 0.0) / n, "count"),
        "staging.storage_mb": m(sums.get("storage_mb", 0.0) / n, "MB"),
        "streaming.batches": m(sums.get("batches", 0.0) / n, "count"),
        "sources.open_s": m(incl.get("sources.open", 0.0) / n, "s"),
        "sinks.files_written": m(write["files"] / n, "count"),
        "sinks.jobs_per_lookup": m(jobs["r"] / reads if reads else 0.0, "count"),
        "sinks.read_s": m(incl.get("sinks.read", 0.0) / reads if reads else 0.0, "s"),
        "trace.overhead_frac": m(overhead, "fraction"),
    }
    # layers idle on some workloads: reported here, where a zero is
    # meaningful, rather than in the result line
    idle_ok = {
        "streaming.batch_s": m(sums.get("batch_ms", 0.0) / 1000 / n, "s"),
        "udfs.pyworker_cpu_s": m(sums.get("pyworker", 0.0) / n, "s"),
        "pipelines.build_s": m(incl.get("pipelines.build", 0.0) / n, "s"),
        "sinks.write_s": m(incl.get("sinks.write", 0.0) / n, "s"),
        "sinks.bytes_per_row": m(write["bytes"] / write["rows"] if write["rows"] else 0.0,
                                 "B/row"),
    }
    return {
        "metrics": metrics,
        "workload_layers": idle_ok,
        "self_s_per_op": {name: v / n for name, v in sorted(selft.items())},
        "calls_per_op": {name: v / n for name, v in sorted(calls.items())},
        "setup_spans_s": tracer.totals_for(lambda span: span[4] is None)[0],
        "traced_ops": len(traced_ops),
        "pass_s": {"untraced": untraced, "traced": traced},
    }


if __name__ == "__main__":
    sys.exit(main())
