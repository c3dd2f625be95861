"""End-to-end benchmark of the log-analytics engine.

    python3 perfbench/run.py --workload batch_mine --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 40 --trace 0

Run from the root of a source checkout; everything it writes goes under
``.bench_work/`` there. An untraced run starts fresh sessions one after
another, each in a child process with one Spark session on
``local[<usable cores>]``: each times its set-up and one cold product
call (``__main__.run(argv)`` or ``REGISTRY[name].run``), checks the
call's output and stops. The run prints the medians over sessions as one
JSON object on the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same inputs once more with spans around each layer's public functions
and Spark's event log on, and reports the per-layer metrics named
``<layer>.<metric>`` plus ``trace_overhead_s``. See README.md for the
workloads, the layers and which end-to-end metric each layer moves.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

PKG = tracing.PKG
WORK = os.path.join(ROOT, ".bench_work")
LAYER_METRICS = ("wall_s", "self_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes",
                 "spill_bytes", "task_skew")
EXTRA_METRICS = (
    "sources.logs.rows_out", "functions.preprocess.null_ts_rows", "operators.mining.templates",
    "operators.mining.unmatched_rows", "operators.drain.fit_input_rows",
    "operators.drain.templates", "operators.drain.python_s", "sources.sinks.bytes_written",
    "streaming.mining_stream.batch_ms", "streaming.mining_stream.state_rows",
    "streaming.mining_stream.state_commit_ms", "queries.textops.python_s",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- host sizing -------------------------------------------------------------


def driver_heap() -> str:
    """Driver heap from available memory, in coarse steps so the same
    host always gets the same heap (local mode: driver == executor)."""
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    gb = avail_kb / 2**20
    return "4g" if gb >= 12 else "2g" if gb >= 6 else "1g"


def host_env(run_dir: str) -> None:
    """Environment for this process, its Spark JVM and Python workers:
    all scratch space inside the run directory, the package importable
    by the workers, and the core count and heap sized to the host."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_heap(),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )


def start_session(run_dir: str, event_dir: str | None = None):
    """Import the package, build its session and run a first trivial
    job — the ``setup_s`` interval. Returns ``(spark, seconds)``."""
    t0 = time.perf_counter()
    __import__(PKG)
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import get_spark

    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap and young generation make heap growth, and so the
        # JVM's resident memory, a function of the work done
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Xmn512m",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak resident memory of one process, sampled from /proc."""

    def __init__(self, pid: int, interval: float = 0.02):
        self.path = f"/proc/{pid}/status"
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _rss_kb(self) -> int:
        with open(self.path) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._rss_kb())
            self._stop.wait(self.interval)

    def take(self) -> float:
        """Peak since the last ``take`` in MB; starts a new interval."""
        peak = max(self.peak_kb, self._rss_kb())
        self.peak_kb = 0
        return peak / 1024

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# --- workloads ---------------------------------------------------------------


def _quiet(fn, *args):
    """Call ``fn`` with its stdout captured, so only the result line
    reaches this process's stdout."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args)


class BatchMine:
    """The default CLI (``--method exact --state``) over a generated
    ``container_*.log`` tree; the state directory accumulates across the
    calls of one session, so each call's Σ Size is the line count times
    the calls made so far."""

    TREE = dict(lines=30_000, files=64, skew=1.1, templates=300, escape_card=100)
    NOVEL_LINES = 5_000

    @classmethod
    def inputs(cls, seed: int) -> tuple[str, dict]:
        """Generate (or reuse) this seed's tree, without Spark."""
        return gen.cached(os.path.join(WORK, "data"), "logs", gen.log_tree, seed=seed, **cls.TREE)

    def __init__(self, spark, run_dir: str, seed: int):
        from mgl870_tp02_project_01_hadoopmapreducelogs_spark.__main__ import run

        self.cli = run
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tree, self.manifest = self.inputs(seed)
        self.rows = self.manifest["lines"]
        self.state = os.path.join(run_dir, "state")
        self.calls = 0

    def prepare(self) -> None:
        self.out = os.path.join(self.run_dir, "out")
        shutil.rmtree(self.out, ignore_errors=True)

    def call(self):
        return _quiet(self.cli, [self.tree, "--out", self.out, "--state", self.state])

    def check(self, rc) -> str | None:
        self.calls += 1
        if rc != 0:
            return f"exit code {rc}"
        return check.check_matrix(self.out, self.rows * self.calls, absent=gen.DECOY_MARKER)

    def trace_tail(self, tracer: tracing.Tracer) -> list[str | None]:
        """The other two CLI paths over the same tree, traced: a
        ``--stream --state`` run plus one catch-up file, then
        ``--method drain``. Returns each call's check outcome."""
        outcomes = []

        def cli(argv, out, **expect):
            rc = _quiet(self.cli, argv + ["--out", out])
            outcomes.append(f"exit code {rc}" if rc else check.check_matrix(out, **expect))

        logs = os.path.join(self.run_dir, "stream_logs")
        shutil.copytree(self.tree, logs)
        stream = [logs, "--state", os.path.join(self.run_dir, "stream_state"), "--stream"]
        progress = tracing.StreamProgress(self.spark)
        try:
            cli(stream, os.path.join(self.run_dir, "stream_base"), total=self.rows)
            novel = gen.novel_file(os.path.join(logs, "application_1445062781479_0001",
                                                "container_1445062781479_0001_01_000001.log"),
                                   lines=self.NOVEL_LINES, tag="catchupone", seed=self.seed)
            cli(stream, os.path.join(self.run_dir, "stream_catchup"),
                total=self.rows + self.NOVEL_LINES, present=novel)
            if not progress.wait_batches(2) and outcomes[-1] is None:
                outcomes[-1] = f"streaming listener saw {len(progress.batches)} batches, expected 2"
        finally:
            progress.close()
        batches = progress.batches
        tracer.first("streaming.mining_stream.batch_ms", sum(b["duration_ms"] for b in batches))
        tracer.first("streaming.mining_stream.state_rows", max((b["state_rows"] for b in batches), default=0))
        tracer.first("streaming.mining_stream.state_commit_ms", sum(b["commit_ms"] for b in batches))
        cli([self.tree, "--method", "drain"], os.path.join(self.run_dir, "drain_out"),
            total=self.rows, absent=gen.DECOY_MARKER)
        return outcomes


class Curation:
    """``pipeline_full_curation`` over a generated documents table, its
    result checked against the entry's DuckDB oracle. Every call reads a
    fresh copy of the table under a new path, so the entry's per-corpus
    session memos never serve it."""

    ENTRIES = ("pipeline_full_curation",)
    DOCS = dict(docs=600, dup_frac=0.05)

    @classmethod
    def inputs(cls, seed: int) -> tuple[str, dict]:
        """Generate (or reuse) this seed's table, without Spark."""
        return gen.cached(os.path.join(WORK, "data"), "docs", gen.documents, seed=seed, **cls.DOCS)

    def __init__(self, spark, run_dir: str, seed: int):
        from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.spark = spark
        self.run_dir = run_dir
        self.data_dir, _ = self.inputs(seed)
        self.src = os.path.join(self.data_dir, "documents.parquet")
        self.rows = self.DOCS["docs"]
        self.calls = 0
        self.tracer = None

    def expected(self, name: str):
        """The entry's DuckDB oracle result on this table, canonical. It is
        kept beside the table, keyed by the oracle's SQL, so later
        sessions and runs on the same seed read it instead of rerunning."""
        oracle = self.registry[name].oracle
        key = hashlib.sha256(oracle.encode()).hexdigest()[:16]
        path = os.path.join(self.data_dir, f"expected-{name}-{key}.json")
        if not os.path.exists(path):
            import duckdb

            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.src}')")
                res = con.execute(oracle)
                canon = check.canon_table([d[0] for d in res.description], res.fetchall())
            finally:
                con.close()
            with open(path + ".partial", "w") as f:
                json.dump(canon, f)
            os.replace(path + ".partial", path)
        with open(path) as f:
            cols, rows = json.load(f)
        return tuple(cols), [tuple(r) for r in rows]

    def prepare(self) -> None:
        self.sf = os.path.join(self.run_dir, "calls", str(self.calls))
        os.makedirs(self.sf)
        shutil.copy(self.src, self.sf)

    def call(self):
        out = {}
        for name in self.ENTRIES:
            span = self.tracer.span("queries.textops", name) if self.tracer else contextlib.nullcontext()
            with span:
                df = self.registry[name].run(self.spark, self.sf)
                out[name] = (df.columns, df.collect())
        return out

    def check(self, out) -> str | None:
        self.calls += 1
        shutil.rmtree(self.sf, ignore_errors=True)
        for name in self.ENTRIES:
            err = check.check_table(name, self.expected(name), check.canon_table(*out[name]))
            if err:
                return err
        return None

    def trace_tail(self, tracer: tracing.Tracer) -> list[str | None]:
        return []


WORKLOADS = {"batch_mine": BatchMine, "curation": Curation}


# --- one run -----------------------------------------------------------------


def checked_call(w, failures: list[str]) -> float:
    """Prepare, time and check one product call; returns its seconds."""
    w.prepare()
    t0 = time.perf_counter()
    try:
        out = w.call()
    except Exception as e:  # a failed call is counted and reported, not fatal
        dt = time.perf_counter() - t0
        w.calls += 1
        failures.append(f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")
        return dt
    dt = time.perf_counter() - t0
    err = w.check(out)
    if err:
        failures.append(err)
    return dt


#: fresh sessions per untimed run, at least; more while ``--seconds`` lasts
MIN_SESSIONS = 2
#: untimed calls before the traced run's base and traced calls
TRACE_WARMUP_CALLS = 1


def one_session(name: str, seed: int, run_dir: str) -> dict:
    """One fresh session in this process: set up (timed), make one
    checked product call (timed, with the JVM's resident peak sampled)
    and stop."""
    spark, setup_s = start_session(run_dir)
    failures: list[str] = []
    try:
        w = WORKLOADS[name](spark, run_dir, seed)
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = RssSampler(pid)
        try:
            call_s = checked_call(w, failures)
            peak_mb = rss.take()
        finally:
            rss.close()
    finally:
        stop_session(spark)
    return {"setup_s": setup_s, "call_s": call_s, "peak_rss_mb": peak_mb, "rows": w.rows,
            "failures": failures}


def fresh_session(name: str, seed: int, run_dir: str) -> dict:
    """``one_session`` in a child process of its own, which is waited
    for; on a timeout or a stop signal its whole process group (the JVM
    too) is killed."""
    cmd = [sys.executable, os.path.abspath(__file__), "--session", name, "--seed", str(seed),
           "--run-dir", run_dir]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=150)
    except BaseException:  # a timeout, or this process told to stop
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"session process exited with code {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def run_untraced(name: str, seed: int, seconds: float, run_dir: str) -> dict:
    """Fresh sessions one after another, each timing its set-up and one
    cold product call, until ``seconds`` have passed and at least
    ``MIN_SESSIONS`` ran; every metric is the median over sessions."""
    WORKLOADS[name].inputs(seed)
    samples = []
    start = time.perf_counter()
    while len(samples) < MIN_SESSIONS or time.perf_counter() - start < seconds:
        samples.append(fresh_session(name, seed, os.path.join(run_dir, f"session{len(samples)}")))
    failures = [f for s in samples for f in s["failures"]]
    run_s = statistics.median(s["call_s"] for s in samples)
    log(f"{name}: {len(samples)} sessions, setup {[round(s['setup_s'], 3) for s in samples]} s, "
        f"call {[round(s['call_s'], 3) for s in samples]} s, "
        f"peak {[round(s['peak_rss_mb']) for s in samples]} MB, failures {failures}")
    print(f"{name}: run_s_p50 {run_s:.4f} s over {len(samples)} samples", flush=True)
    metrics = {
        "setup_s": (statistics.median(s["setup_s"] for s in samples), "s"),
        "run_s_p50": (run_s, "s"),
        "rows_per_s": (samples[0]["rows"] / run_s, "1/s"),
        "peak_rss_mb": (statistics.median(s["peak_rss_mb"] for s in samples), "MB"),
    }
    return result(len(samples), failures, metrics)


def run_traced(name: str, seed: int, run_dir: str) -> dict:
    tracer = tracing.Tracer(run_id=f"{name}-{seed}-{os.getpid()}")
    event_dir = os.path.join(run_dir, "eventlog")
    with tracer.span("session", "get_spark"):
        spark, _ = start_session(run_dir, event_dir)
    failures: list[str] = []
    attempted = 0
    try:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        w = WORKLOADS[name](spark, run_dir, seed)
        for _ in range(TRACE_WARMUP_CALLS):
            checked_call(w, failures)
        base_s = checked_call(w, failures)
        tracer.sc = sc
        with tracer.span(tracing.ROOT, "traced_call") as root:
            with tracer.patched():
                w.tracer = tracer
                checked_call(w, failures)
        traced_s = root["end"] - root["start"]
        with tracer.span(tracing.ROOT, "tail"), tracer.patched():
            tail = w.trace_tail(tracer)
        failures += [e for e in tail if e]
        attempted = TRACE_WARMUP_CALLS + 2 + len(tail)
    finally:
        stop_session(spark)
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    shutil.copy(logs[0], os.path.join(WORK, f"eventlog-{name}.json"))
    folded = eventlog.fold(eventlog.read_events(logs[0]), tracing.LAYERS, tracer.spans)
    times = eventlog.self_times(tracer.spans)
    metrics = {}
    for layer in tracing.LAYERS:
        f = folded[layer]
        wall, self_s = times.get(layer, (0.0, 0.0))
        vals = {"wall_s": (wall, "s"), "self_s": (self_s, "s"), "jobs": (f["jobs"], "count"),
                "tasks": (f["tasks"], "count"), "cpu_s": (f["cpu_s"], "s"), "gc_s": (f["gc_s"], "s"),
                "shuffle_write_bytes": (f["shuffle_write_bytes"], "B"),
                "spill_bytes": (f["spill_bytes"], "B"), "task_skew": (f["task_skew"], "ratio")}
        for k in LAYER_METRICS:
            metrics[f"{layer}.{k}"] = vals[k]
    extras = dict(tracer.extras)
    extras["operators.drain.python_s"] = folded["operators.drain"]["python_s"]
    extras["queries.textops.python_s"] = folded["queries.textops"]["python_s"]
    extras["sources.sinks.bytes_written"] = folded["sources.sinks"]["bytes_written"]
    units = {"python_s": "s", "batch_ms": "ms", "state_commit_ms": "ms", "bytes_written": "B"}
    for key in EXTRA_METRICS:
        metrics[key] = (extras.get(key, 0), units.get(key.rsplit(".", 1)[1], "count"))
    metrics["trace_overhead_s"] = (traced_s - base_s, "s")
    with open(os.path.join(WORK, f"spans-{name}.json"), "w") as f:
        json.dump(tracer.spans, f)
    log(f"{name} traced: base {base_s:.3f} s, traced {traced_s:.3f} s, failures {failures}")
    return result(attempted, failures, metrics)


def result(attempted: int, failures: list[str], metrics: dict) -> dict:
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def run_all(args) -> int:
    """Every workload in its own process; prints each metric by name."""
    rc = 0
    for name in WORKLOADS:
        res = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", name,
                              "--seed", str(args.seed), "--seconds", str(args.seconds),
                              "--trace", str(args.trace)], capture_output=True, text=True)
        if res.returncode != 0:
            print(f"{name}: failed with exit code {res.returncode}\n{res.stderr[-2000:]}")
            rc = 1
            continue
        out = json.loads(res.stdout.strip().splitlines()[-1])
        print(f"{name}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']} "
              f"failed_frac={out['failed'] / out['attempted']:.3f}")
        for k, m in out["metrics"].items():
            print(f"  {k:48s} {m['value']:>16.4f} {m['unit']}")
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--session", choices=list(WORKLOADS), help=argparse.SUPPRESS)
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PKG, "__main__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    if args.session:
        os.makedirs(args.run_dir)
        host_env(args.run_dir)
        print(json.dumps(one_session(args.session, args.seed, args.run_dir)))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    host_env(run_dir)
    try:
        if args.trace:
            res = run_traced(args.workload, args.seed, run_dir)
        else:
            res = run_untraced(args.workload, args.seed, args.seconds, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
