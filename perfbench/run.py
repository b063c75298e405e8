"""End-to-end benchmark of the engine, one workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

The ops read the ten sf0.01 tables in ``perfbench/data/`` (the
project's own synthetic test tables, TESTDATA.md). A run sets up the
engine (import, ``session.get_spark`` with its JVM launch,
``registry.queries()``), then runs a closed loop with one client over
the workload's ops (``workloads.py``): a cold pass, then warm passes
until ``--seconds`` have passed since the cold pass ended and at least
four warm passes ran (``pass_s`` is measured over the third and the
fourth; during the first two the JIT still compiles the hot code). The
cold pass runs the ops in their listed order; the seed permutes the op
order of every warm pass. Each op is timed in two parts: its build, the
call to the registered builder, and its execute, a ``noop`` write of the
returned DataFrame. The ``silver_pipeline`` workload instead calls
``runner.run_silver_pipeline`` once per table, which builds, writes and
reads the table back. After every measured warm pass the ops' DuckDB
twins run four times, so the Spark ÷ DuckDB ratio compares both engines
under the same host state.

After the loop, untimed, every op's output is compared with its DuckDB
twin (``oracle_check.compare_one``; for the silver tables, the tables as
written and read back). With ``--trace 0`` the last stdout line holds
the end-to-end metrics named in BENCHMARK.json. With ``--trace 1`` the
warm passes alternate between a Spark context that writes the event log
and one that does not, op spans of the traced passes are matched with
the log (``eventlog.py``), the host fingerprint of
``tools/vm_state_probe.py`` is taken before and after, and the last line
holds the per-layer metrics, including the tracing overhead. Every op is
appended to ``.perfbench/results/<run>.jsonl`` as soon as it ends. The
exit code is 0 only if every op ran and matched its twin.

All writes stay inside ``.perfbench/`` under the working directory: the
warehouse, ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the event log live in a
run-unique directory that is removed at exit. (The drained streams put
their checkpoints in ``/dev/shm``, a choice of ``streaming/windows.py``.)
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import importlib
import importlib.util
import io
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave the checkout byte-for-byte unchanged
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

PKG = "bigdata_project_spark"
DATA = os.path.join(HERE, "data")
# Untraced runs: the first WARM_SKIP warm passes only warm the JIT up;
# pass_s takes its medians over the MEASURED passes after them. Passes
# repeat until ``--seconds`` have passed since the cold pass and these ran.
# The count is fixed because ops keep speeding up from pass to pass, so a
# count that followed the host's speed would bias pass_s; further passes
# only add samples to op_p50_s and op_tail_s.
WARM_SKIP = 2
MEASURED = 2
MAX_WARM_PASSES = 200
TWIN_REPS = 4  # DuckDB twin runs of each op after every measured untraced pass
OUTSIDE_GROUP = "perfbench-outside-ops"

# Every metric a run computes, with its unit. BENCHMARK.json names the ones
# a run prints on its last line: "end_to_end" without tracing, "per_layer"
# with it; the rest are kept in the results file and the summary lines.
UNITS = {
    # untraced runs
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "duckdb_ratio": "ratio",
    "fail_ratio": "ratio",
    # both
    "peak_rss_mb": "MB",
    # traced runs
    "session.get_spark_s": "s",
    "registry.queries_s": "s",
    "plans.build_s": "s",
    "operators.build_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.state_rows": "count",
    "execute_s": "s",
    "sources.replace_table_s": "s",
    "runner.readback_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "stored_bytes_ratio": "ratio",
    "spark.jobs": "count",
    "spark.jobs_per_op": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sched_gap_s": "s",
    "spark.stage_busy_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.cpu_per_run": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "tracing.overhead_ratio": "ratio",
}


def declared_metrics(root: str, trace: bool) -> list[str]:
    """The metric names BENCHMARK.json asks a run to print."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = []
    for m in spec["per_layer" if trace else "end_to_end"]:
        if UNITS.get(m["name"]) != m["unit"]:
            raise ValueError(f"BENCHMARK.json metric {m['name']!r} has no computed match")
        names.append(m["name"])
    return names


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_ticks() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path`` ending in ``suffix``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def _end_children(timeout_s: float = 60.0) -> None:
    """Terminate this process's children and wait for each to end."""
    pids = []
    for task in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{task}/children") as f:
            pids += [int(p) for p in f.read().split()]
    for pid in pids:
        os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.waitpid(pid, os.WNOHANG) == (0, 0):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.05)


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ten samples above
    it: (value, percentile, sample count). When that percentile would lie
    below the median (fewer than 21 samples), the maximum is returned as
    the 100th percentile."""
    xs = sorted(samples)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def median_pass(ops: list[dict]) -> float:
    """The median warm pass: the sum over ops of each op's median latency.
    With a handful of passes per run this is steadier than the median of
    pass totals, because one slow op no longer moves a whole pass."""
    by_op: dict[str, list[float]] = {}
    for o in ops:
        by_op.setdefault(o["name"], []).append(o["latency_s"])
    return sum(statistics.median(v) for v in by_op.values())


def stream_listener():
    """A StreamingQueryListener that keeps every micro-batch's progress in
    ``.batches``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            self.batches.append(
                {
                    "run_id": str(p.runId),
                    "ts_ms": ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e3,
                    "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Bench:
    def __init__(self, workload: Workload, seed: int, seconds: int, trace: bool, root: str):
        self.t_start = time.perf_counter()
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.rng = random.Random(seed)
        tag = f"{workload.name}-seed{seed}-trace{int(trace)}-{os.getpid()}-{time.time_ns()}"
        self.tmp = os.path.join(root, ".perfbench", "tmp", tag)
        self.data = DATA
        self.warehouse = os.path.join(self.tmp, "warehouse")
        self.evdir = os.path.join(self.tmp, "eventlog")
        results = os.path.join(root, ".perfbench", "results")
        for d in (self.warehouse, self.evdir, results,
                  os.path.join(self.tmp, "local"), os.path.join(self.tmp, "tmp")):
            os.makedirs(d, exist_ok=True)
        self.results_path = os.path.join(results, tag + ".jsonl")
        self.results = open(self.results_path, "a")
        self.contexts = 0
        self.prefix = ""
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.spark = None
        self.tracing = False  # the current Spark context writes an event log
        self.listener = None
        self.probe = None
        self.app_ids: dict[int, str] = {}  # traced pass -> Spark application id
        self.qs: dict = {}
        self.last_df: dict = {}  # op -> the DataFrame its last pass built
        self.duck = None  # DuckDB connection over the tables
        self.twins: dict[str, str] = {}  # op -> twin SQL
        self.duck_s: dict[str, list[float]] = {}  # op -> twin timings

    # -- bookkeeping ------------------------------------------------------
    def record(self, kind: str, **fields) -> None:
        """Append one result line and flush it, so a killed run keeps it."""
        elapsed = time.perf_counter() - self.t_start
        self.results.write(json.dumps({"type": kind, "t": elapsed, **fields}, default=str) + "\n")
        self.results.flush()

    def span(self, name: str, parent: str | None, start_ms: float, dur_s: float, **attrs) -> dict:
        s = {"id": f"s{len(self.spans)}", "name": name, "parent": parent,
             "start_ms": start_ms, "end_ms": start_ms + dur_s * 1e3, **attrs}
        self.spans.append(s)
        return s

    # -- set-up -----------------------------------------------------------
    def environment(self) -> None:
        os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        os.environ["TMPDIR"] = os.path.join(self.tmp, "tmp")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # Python workers too
        tempfile.tempdir = None

    def spark_conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": "file://" + self.warehouse,
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.tmp, "tmp"),
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self) -> dict[str, float]:
        """The set-up a user's process pays: import the package, build an
        untraced session (launching the JVM) and load the registry."""
        t0 = time.perf_counter()
        session = importlib.import_module(PKG + ".session")
        registry = importlib.import_module(PKG + ".registry")
        t1 = time.perf_counter()
        self.spark = session.get_spark("perfbench", extra_conf=self.spark_conf(False))
        self.new_context(False)
        t2 = time.perf_counter()
        self.qs = registry.queries()
        t3 = time.perf_counter()
        return {"import_s": t1 - t0, "get_spark_s": t2 - t1, "queries_s": t3 - t2, "setup_s": t3 - t0}

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def fingerprint(self, when: str) -> None:
        """Host-state fingerprint from tools/vm_state_probe.py, stored with
        the results; it never discards or reweights a run. It costs about
        fifteen seconds a run, before and after, so only traced runs take it."""
        path = os.path.join(self.root, "tools", "vm_state_probe.py")
        try:
            spec = importlib.util.spec_from_file_location("vm_state_probe", path)
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            buf = io.StringIO()
            prev = os.environ.get("SPARK_GRAFT_SF_DIR")
            os.environ["SPARK_GRAFT_SF_DIR"] = self.data
            try:
                with contextlib.redirect_stdout(buf):
                    mod.main()
            finally:
                if prev is None:
                    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
                else:
                    os.environ["SPARK_GRAFT_SF_DIR"] = prev
            fp = json.loads(buf.getvalue().strip().splitlines()[-1])
        except Exception as e:  # noqa: BLE001 - a missing probe must not stop the run
            fp = {"error": f"{type(e).__name__}: {e}"}
        self.record("fingerprint", when=when, **fp)

    # -- the timed loop ---------------------------------------------------
    def use_context(self, traced: bool) -> None:
        """Continue in a new Spark context with the event log on or off;
        a traced context also carries the stream-progress listener."""
        if self.tracing:
            self.spark.streams.removeListener(self.listener)
        self.stop_spark()
        session = sys.modules[PKG + ".session"]
        self.spark = session.get_spark("perfbench", extra_conf=self.spark_conf(traced))
        self.new_context(traced)
        if traced:
            self.spark.streams.addListener(self.listener)

    def new_context(self, traced: bool) -> None:
        """Every Spark context has its own in-memory catalog, so tables get
        a run- and context-unique prefix: the first silver pass in a
        context creates its tables, later passes replace them."""
        self.tracing = traced
        self.contexts += 1
        self.prefix = f"pb{os.getpid()}_{self.seed}_c{self.contexts}_"

    def run_op(self, name: str, p: int, i: int, pass_span: str) -> dict:
        op_id = f"p{p}o{i}"
        sc = self.spark.sparkContext
        probe = self.probe if self.tracing else None
        if self.tracing:
            sc.setJobGroup(op_id, name)
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        build_s = write_s = None
        error = None
        try:
            if self.w.kind == "silver":
                runner = importlib.import_module(PKG + ".runner")
                with probe if probe is not None else contextlib.nullcontext():
                    runner.run_silver_pipeline(
                        self.spark, self.data, self.prefix, tables={name: runner.SILVER_TABLES[name]}
                    )
                if probe is not None:
                    build_s, write_s = probe.build_s, probe.write_s
            else:
                df = self.qs[name](self.spark, self.data)
                build_s = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()
                self.last_df[name] = df
        except Exception as e:  # noqa: BLE001 - a failing op is reported, not fatal
            error = f"{type(e).__name__}: {e}"[:2000]
        latency = time.perf_counter() - t0
        if self.tracing:
            sc.setJobGroup(OUTSIDE_GROUP, "outside ops")
        op = {"op_id": op_id, "pass": p, "name": name, "latency_s": latency,
              "build_s": build_s, "write_s": write_s, "ok": error is None, "error": error,
              "start_ms": start_ms, "end_ms": start_ms + latency * 1e3}
        span = self.span("op", pass_span, start_ms, latency, op_id=op_id, op=name)
        if build_s is not None:
            self.span("build", span["id"], start_ms, build_s, op_id=op_id)
            if write_s is not None:
                self.span("write", span["id"], start_ms + build_s * 1e3, write_s, op_id=op_id)
                self.span("readback", span["id"], start_ms + (build_s + write_s) * 1e3,
                          latency - build_s - write_s, op_id=op_id)
            else:
                self.span("execute", span["id"], start_ms + build_s * 1e3,
                          latency - build_s, op_id=op_id)
        self.ops.append(op)
        self.record("op", seed=self.seed, traced=self.tracing, **op)
        return op

    def run_pass(self, p: int, run_span: str) -> float:
        # The cold pass keeps the listed order, as run_silver_pipeline
        # does: whichever op runs first pays most of the JVM's warm-up,
        # and that share differs from op to op.
        order = list(self.w.ops) if p == 0 else self.rng.sample(self.w.ops, len(self.w.ops))
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        pass_span = self.span("pass", run_span, start_ms, 0.0, traced=self.tracing)
        for i, name in enumerate(order):
            self.run_op(name, p, i, pass_span["id"])
        dur = time.perf_counter() - t0
        pass_span["end_ms"] = start_ms + dur * 1e3
        if self.tracing:
            self.app_ids[p] = self.spark.sparkContext.applicationId
        self.record("pass", seed=self.seed, pass_index=p, traced=self.tracing, pass_s=dur, order=order)
        return dur

    def schedule(self, t0: float, warm: dict[bool, list]):
        """The traced flag of each warm pass. Untraced runs repeat passes
        until ``seconds`` have passed since ``t0`` and WARM_SKIP +
        MEASURED ran. Traced runs alternate as untraced, traced, traced,
        untraced, each pass in a new Spark context, so neither kind gains
        from the JIT warming up and the checks after the loop run in an
        untraced context."""
        if self.trace:
            yield from (False, True, True, False)
            return
        while len(warm[False]) < MAX_WARM_PASSES and (
            len(warm[False]) < WARM_SKIP + MEASURED
            or time.perf_counter() - t0 < self.seconds
        ):
            yield False

    def timed_loop(self) -> tuple[float, dict[bool, list[tuple[int, float]]]]:
        """A cold pass, then warm passes as :meth:`schedule` says, each
        measured untraced one followed by a DuckDB twin pass. Returns the
        cold pass time and, per traced flag, (pass, seconds) of the warm
        passes."""
        run_span = self.span("run", None, time.time() * 1e3, 0.0)
        t0 = time.perf_counter()
        cold_s = self.run_pass(0, run_span["id"])
        warm: dict[bool, list[tuple[int, float]]] = {False: [], True: []}
        t_warm = time.perf_counter()
        for p, traced in enumerate(self.schedule(t_warm, warm), start=1):
            if self.trace:
                self.use_context(traced)
            warm[traced].append((p, self.run_pass(p, run_span["id"])))
            if not traced and (self.trace or len(warm[False]) > WARM_SKIP):
                self.twin_pass()
        run_span["end_ms"] = run_span["start_ms"] + (time.perf_counter() - t0) * 1e3
        return cold_s, warm

    # -- DuckDB twins and checks ------------------------------------------
    def open_twins(self) -> None:
        """Connect DuckDB to the tables and look up every op's twin SQL."""
        oracle_check = importlib.import_module(PKG + ".oracle_check")
        self.duck = oracle_check.duckdb_connection(self.data)
        self.twins = sys.modules[PKG + ".registry"].oracles(self.data)
        self.duck_s = {name: [] for name in self.w.ops if name in self.twins}

    def twin_pass(self, reps: int = TWIN_REPS) -> None:
        """Time every op's DuckDB twin ``reps`` times. The loop calls this
        between warm passes, so both engines see the same host state."""
        out_dir = os.path.join(self.tmp, "duck")
        for _ in range(reps):
            for name in self.duck_s:
                shutil.rmtree(out_dir, ignore_errors=True)
                t0 = time.perf_counter()
                self.duck_op(name, self.twins[name], out_dir)
                self.duck_s[name].append(time.perf_counter() - t0)
        shutil.rmtree(out_dir, ignore_errors=True)

    def duck_op(self, name: str, sql: str, out_dir: str) -> None:
        if self.w.kind != "silver":
            self.duck.execute(sql).arrow()
            return
        runner = sys.modules[PKG + ".runner"]
        parts = runner.SILVER_TABLES[name].get("partition_by")
        os.makedirs(out_dir, exist_ok=True)
        if parts:
            self.duck.execute(f"COPY ({sql}) TO '{out_dir}/{name}' "
                              f"(FORMAT PARQUET, PARTITION_BY ({', '.join(parts)}))")
            pattern = f"{out_dir}/{name}/**/*.parquet"
        else:
            self.duck.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
            pattern = f"{out_dir}/{name}.parquet"
        self.duck.execute(f"SELECT count(*) FROM read_parquet('{pattern}')").fetchall()

    def check(self) -> dict[str, str]:
        """Compare every op's output with its DuckDB twin, untimed; returns
        the ops that differ (name -> problem)."""
        oracle_check = sys.modules[PKG + ".oracle_check"]
        problems: dict[str, str] = {}
        for name in self.w.ops:
            sql = self.twins.get(name)
            if sql is None:
                problems[name] = "no DuckDB twin"
                continue
            if self.w.kind == "silver":  # the table as written, read back
                fn = lambda spark, _sf, t=self.prefix + name: spark.table(t)  # noqa: E731
            elif name in self.last_df:  # what the last timed pass built
                fn = lambda _spark, _sf, df=self.last_df[name]: df  # noqa: E731
            else:
                fn = self.qs[name]
            try:
                bad = oracle_check.compare_one(self.spark, self.duck, name, fn, sql, self.data)
            except Exception as e:  # noqa: BLE001 - a failing check is reported
                bad = [f"exception: {type(e).__name__}: {e}"[:2000]]
            if bad:
                problems[name] = "; ".join(bad)
            self.record("check", name=name, ok=not bad, problems=bad)
        return problems

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return _vm_hwm_mb(jvm) + _vm_hwm_mb("self")

    def written(self) -> tuple[int, int]:
        total = files = 0
        for name in self.w.ops if self.w.kind == "silver" else ():
            b, f = _dir_bytes(os.path.join(self.warehouse, (self.prefix + name).lower()), ".parquet")
            total += b
            files += f
        return total, files

    # -- one invocation ---------------------------------------------------
    def execute(self) -> tuple[dict, dict[str, float]]:
        self.environment()
        setup = self.setup()
        self.record("setup", **setup)
        if self.w.kind == "silver":
            runner = importlib.import_module(PKG + ".runner")
            if self.trace:
                self.probe = SilverProbe(runner)
        if self.trace:
            self.listener = stream_listener()
            self.fingerprint("before")
        self.open_twins()
        self.twin_pass(reps=1)  # warm-up, not kept
        self.duck_s = {name: [] for name in self.duck_s}
        ticks = _cpu_ticks()
        cold_s, warm = self.timed_loop()
        ticks = [b - a for a, b in zip(ticks, _cpu_ticks())]
        self.record("twins", seconds=self.duck_s)
        rss = self.peak_rss_mb()
        written = self.written()
        problems = self.check()
        duck_s = sum(statistics.median(v) for v in self.duck_s.values())
        if self.trace:
            self.fingerprint("after")

        # Traced runs have two traced passes, each in a fresh context.
        measured = warm[True] if self.trace else warm[False][WARM_SKIP:]
        warm_ops = [o for o in self.ops if o["pass"] in {p for p, _ in measured}]
        counted = {p for p, _ in measured[:MEASURED]}
        pass_s = median_pass([o for o in warm_ops if o["pass"] in counted])
        attempted = len(self.ops)
        failed = sum(1 for o in self.ops if not o["ok"] or o["name"] in problems)
        lat = [o["latency_s"] for o in warm_ops]
        tail, tail_pct, tail_n = tail_percentile(lat)
        summary = {
            "workload": self.w.name, "seed": self.seed, "trace": int(self.trace),
            "ops_per_pass": len(self.w.ops), "warm_passes": len(measured),
            "attempted": attempted, "failed": failed,
            "op_tail_percentile": tail_pct, "op_tail_samples": tail_n,
            "duck_pass_s": duck_s, "problems": problems,
            # CPU time the hypervisor gave to other guests during the loop:
            # recorded to explain a slow run, never to discard one
            "steal_share": ticks[7] / sum(ticks),
            "errors": {o["name"]: o["error"] for o in self.ops if o["error"]},
        }
        metrics = {"peak_rss_mb": rss}
        if not self.trace:
            metrics.update({
                # one cold set-up: a second one would need a fresh process
                # and JVM launch, about ten seconds a run
                "setup_s": setup["setup_s"],
                "cold_pass_s": cold_s,
                "pass_s": pass_s,
                "op_p50_s": statistics.median(lat),
                "op_tail_s": tail,
                "duckdb_ratio": pass_s / duck_s,
                "fail_ratio": failed / attempted,
            })
        else:
            untraced = {p for p, _ in warm[False]}
            untraced_pass_s = median_pass([o for o in self.ops if o["pass"] in untraced])
            metrics.update(self.layers(setup, warm_ops, len(measured), written))
            metrics["tracing.overhead_ratio"] = pass_s / untraced_pass_s
            summary["untraced_pass_s"] = untraced_pass_s
        self.record("spans", spans=self.spans)
        self.record("summary", metrics=metrics, **summary)
        return summary, metrics

    def layers(self, setup: dict, warm_ops: list[dict], n_warm: int,
               written: tuple[int, int]) -> dict[str, float]:
        """Per-layer metrics, each a mean per warm pass unless named a ratio."""
        def per_pass(values) -> float:
            return sum(values) / n_warm

        def layer(op: dict) -> str:
            module = self.qs[op["name"]].__module__
            return module.split(".")[1] if module.startswith(PKG + ".") else module

        work: dict[str, eventlog.OpWork] = {}
        for p, app_id in self.app_ids.items():  # one traced context, and log, per pass
            app = eventlog.load(os.path.join(self.evdir, app_id))
            spans = [{"id": o["op_id"], "start_ms": o["start_ms"], "end_ms": o["end_ms"]}
                     for o in self.ops if o["pass"] == p]
            work.update(eventlog.attribute(app, spans))
        ws = [work[o["op_id"]] for o in warm_ops]
        read_bytes = per_pass(w.input_bytes for w in ws)
        op_wall = sum(o["latency_s"] for o in warm_ops)
        run_s = sum(w.executor_run_s for w in ws)
        cpu_s = sum(w.executor_cpu_s for w in ws)

        # micro-batches: one stream run per drain, attributed by its first batch
        warm_windows = sorted((o["start_ms"], o["end_ms"]) for o in warm_ops)
        runs: dict[str, list[dict]] = {}
        for b in self.listener.batches:
            runs.setdefault(b["run_id"], []).append(b)
        warm_batches, state_rows = [], 0
        for bs in runs.values():
            first = min(b["ts_ms"] for b in bs)
            if any(s <= first <= e for s, e in warm_windows):
                warm_batches += bs
                state_rows += max(b["state_rows"] for b in bs)

        build = lambda name: per_pass(  # noqa: E731
            o["build_s"] or 0.0 for o in warm_ops if layer(o) == name
        )
        silver = self.w.kind == "silver"
        return {
            "session.get_spark_s": setup["get_spark_s"],
            "registry.queries_s": setup["queries_s"],
            "plans.build_s": build("plans"),
            "operators.build_s": build("operators"),
            "streaming.drain_s": build("streaming"),
            "streaming.batches": len(warm_batches) / n_warm,
            "streaming.batch_p50_ms": (
                statistics.median(b["trigger_ms"] for b in warm_batches) if warm_batches else 0.0
            ),
            "streaming.state_rows": state_rows / n_warm,
            "execute_s": per_pass(o["latency_s"] - (o["build_s"] or 0.0) for o in warm_ops),
            "sources.replace_table_s": per_pass(o["write_s"] or 0.0 for o in warm_ops) if silver else 0.0,
            "runner.readback_s": per_pass(
                o["latency_s"] - (o["build_s"] or 0.0) - (o["write_s"] or 0.0) for o in warm_ops
            ) if silver else 0.0,
            "sources.bytes_written": written[0],
            "sources.files_written": written[1],
            # bytes written by one pass ÷ the parquet bytes its ops read
            "stored_bytes_ratio": written[0] / read_bytes if silver and read_bytes else 0.0,
            "spark.jobs": per_pass(w.jobs for w in ws),
            "spark.jobs_per_op": sum(w.jobs for w in ws) / len(ws),
            "spark.stages": per_pass(w.stages for w in ws),
            "spark.tasks": per_pass(w.tasks for w in ws),
            "spark.sched_gap_s": per_pass(w.sched_gap_s for w in ws),
            "spark.stage_busy_s": per_pass(w.stage_busy_s for w in ws),
            "spark.executor_run_s": run_s / n_warm,
            "spark.executor_cpu_s": cpu_s / n_warm,
            "spark.core_util": run_s / (op_wall * _cpus()),
            "spark.cpu_per_run": cpu_s / run_s if run_s else 0.0,
            "spark.shuffle_read_bytes": per_pass(w.shuffle_read_bytes for w in ws),
            "spark.shuffle_write_bytes": per_pass(w.shuffle_write_bytes for w in ws),
            "spark.task_skew": max(w.task_skew for w in ws),
            "spark.spill_bytes": per_pass(w.spill_bytes for w in ws),
            "spark.gc_s": per_pass(w.gc_s for w in ws),
        }

    def close(self) -> None:
        """Stop Spark, end every child process (the JVM, even one still
        starting up) and wait for it, then remove the run's files."""
        try:
            self.stop_spark()
        finally:
            _end_children()
            if self.duck is not None:
                self.duck.close()
            self.results.close()
            shutil.rmtree(self.tmp, ignore_errors=True)


class SilverProbe:
    """Times the runner's builder calls and table writes while active, by
    wrapping the two names ``runner.run_silver_pipeline`` calls."""

    def __init__(self, runner):
        self.runner = runner
        self.build_s = self.write_s = 0.0

    def _timed(self, fn, attr: str):
        def call(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(self, attr, getattr(self, attr) + time.perf_counter() - t0)

        return call

    def __enter__(self):
        self.build_s = self.write_s = 0.0
        probe, registry = self, self.runner.registry
        self._saved = (registry, self.runner.replace_table)

        class _Registry:
            @staticmethod
            def queries():
                return {n: probe._timed(f, "build_s") for n, f in registry.queries().items()}

        self.runner.registry = _Registry
        self.runner.replace_table = self._timed(self._saved[1], "write_s")
        return self

    def __exit__(self, *exc):
        self.runner.registry, self.runner.replace_table = self._saved
        return False


def _terminate(*_) -> None:
    """SIGTERM: unwind so that ``Bench.close`` stops the JVM and removes
    the run's files; a second SIGTERM must not cut that cleanup short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Engine benchmark, one workload per run.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: no {PKG}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    declared = declared_metrics(root, bool(args.trace))

    signal.signal(signal.SIGTERM, _terminate)
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), root)
    try:
        summary, metrics = bench.execute()
    finally:
        bench.close()
    s = summary
    print(
        f"perfbench {s['workload']} seed={s['seed']} trace={s['trace']}: "
        f"{s['warm_passes']} measured warm passes of {s['ops_per_pass']} ops; "
        f"{s['failed']} of {s['attempted']} ops failed; "
        f"op_tail_s is p{s['op_tail_percentile']:.1f} of {s['op_tail_samples']} samples; "
        f"host CPU steal {100 * s['steal_share']:.1f}%; "
        f"results in {os.path.relpath(bench.results_path, root)}"
    )
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {UNITS[name]}")
    for name, problem in [*s["errors"].items(), *s["problems"].items()]:
        print(f"  FAILED {name}: {problem}")
    print(json.dumps({
        "correct": s["failed"] == 0,
        "attempted": s["attempted"],
        "failed": s["failed"],
        "metrics": {n: {"value": metrics[n], "unit": UNITS[n]} for n in declared},
    }))
    return 0 if s["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
