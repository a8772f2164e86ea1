"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 4 --trace 0

A run has four phases:

1. set-up: start the session (this launches the JVM), clear the scratch
   directory and run one small warm-up job; ``setup_s`` runs from process
   start to the end of the warm-up. A traced run then restarts the
   session twice in the same JVM, for ``session.restart_s``;
2. the cold pass: every query of the workload once, in list order, as a
   first call of ``prepared`` (build, planning, execution). Then, with no
   op running, every result is collected and checked against the query's
   DuckDB oracle with the rules of ``tests/test_oracle_parity.py``
   (``oracles.py``); peak memory is not sampled during the check;
3. the timed window: a closed loop of warm ops in seeded order, the
   workload's fixed number of passes (a pass runs every query once) and
   then more whole passes until ``--seconds`` have passed, so every query
   weighs the same in every run;
4. teardown: stop Spark, wait for the JVM and its Python workers, remove
   the scratch, event-log and local directories.

With ``--trace 1`` Spark's event log is on and every op runs under its
own job group; the log is folded into per-layer metrics (``layers.py``).
End-to-end metrics come from ``--trace 0`` runs.

Human-readable lines go to stdout first; the last stdout line is the
result object ``{"correct", "attempted", "failed", "metrics"}``.
All files the run writes are under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

T_PROCESS = time.time()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_DIR = ROOT / ".perfbench_run"
#: this run's scratch, event-log, local and temp files; per process, so
#: two runs in one checkout cannot delete each other's files
WORK = RUN_DIR / f"work-{os.getpid()}"

sys.path.insert(0, str(HERE))
import oracles  # noqa: E402
from layers import OpRecord, fold, read_event_log, spans_of  # noqa: E402
from oracles import compare  # noqa: E402
from workloads import WORKLOADS, OpStream  # noqa: E402


def default_sf_dir() -> str:
    """``$SPARK_GRAFT_SF_DIR``, else the sf0.1 tables beside the ones the
    test suite reads (``tests/conftest.py``, TESTDATA.md)."""
    from conftest import SF_DIR

    return os.environ.get("SPARK_GRAFT_SF_DIR") or str(Path(SF_DIR).with_name("sf0.1"))


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """Driver heap sized to the host: 40% of RAM, between 1 and 6 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(6144, int(total_kb / 1024 * 0.4)))


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def rss_mb(pids: list[int], min_age_s: float = 1.0) -> float:
    """Summed resident memory of ``pids``, leaving out processes younger
    than ``min_age_s``: a child the JVM spawns (Hadoop runs shell
    commands while writing files) shares the JVM's memory until it
    execs, and /proc then reports the JVM's resident set a second time."""
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                started = int(f.read().rsplit(")", 1)[1].split()[19]) / tick
            if uptime - started < min_age_s and pid != os.getpid():
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / (1024 * 1024)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc; not sampled while
    paused."""

    def __init__(self, period_s: float = 0.2):
        self.peak_mb = 0.0
        self._period = period_s
        self._stop = threading.Event()
        self._paused = False
        self._sampling = threading.Lock()  # a pause waits out a sample
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._sampling:
                if not self._paused:
                    self.peak_mb = max(self.peak_mb, rss_mb(process_tree(os.getpid())))
            self._stop.wait(self._period)

    def pause(self, paused: bool) -> None:
        with self._sampling:
            self._paused = paused

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1)."""
    ordered = sorted(values)
    return ordered[max(0, min(len(ordered) - 1, int(q * len(ordered) + 0.5) - 1))]


def source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted((ROOT / "air_quality_etl_pipeline_spark").rglob("*.py")):
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Run:
    def __init__(self, args: argparse.Namespace):
        self.workload = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.sf_dir = args.sf_dir
        self.cores = host_cores()
        self.clients = self.workload.clients or self.cores
        self.ops: list[OpRecord] = []
        self.failures: dict[str, list[str]] = {}
        self.setup_samples: list[float] = []
        self.session_start_s = 0.0
        self.rss: RssSampler | None = None
        #: set-up and oracle-check spans: id -> (name, start, end)
        self.other_spans: dict[str, tuple[str, float, float]] = {}
        self._last_df: dict[str, object] = {}
        self._lock = threading.Lock()
        self._next_span = 0
        self.spark = None
        self.phases: dict[str, float] = {}
        self._phase_t = T_PROCESS

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under *phase*."""
        now = time.time()
        self.phases[phase] = now - self._phase_t
        self._phase_t = now

    # -- environment ---------------------------------------------------
    def configure(self) -> None:
        """Host-sized launch settings; every path the run writes is
        under RUN_DIR, which is emptied first."""
        RUN_DIR.mkdir(exist_ok=True)
        for stale in RUN_DIR.glob("work-*"):  # left by a killed run
            if not Path("/proc", stale.name[len("work-"):]).exists():
                shutil.rmtree(stale, ignore_errors=True)
        for sub in ("local", "tmp", "eventlog", "warehouse"):
            (WORK / sub).mkdir(parents=True, exist_ok=True)
        (RUN_DIR / "results").mkdir(exist_ok=True)
        work = WORK
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        heap_mb = driver_memory_mb()
        os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
        os.environ["TMPDIR"] = str(work / "tmp")
        self.extra_conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.log.level": "ERROR",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed heap and young generation (a third of the heap): with
            # G1's adaptive sizing the peak RSS of identical runs swung by
            # up to 70% (2.0-3.6 GB on dashboard, 3.6-6.1 GB on weekly_etl)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms{heap_mb}m -Xmn{heap_mb // 3}m",
        }
        if self.trace:
            self.extra_conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )

    def import_program(self) -> None:
        import duckdb
        import pyspark

        from air_quality_etl_pipeline_spark import workload_sources
        from air_quality_etl_pipeline_spark.session import get_spark
        from air_quality_etl_pipeline_spark.workload import QUERIES, prepared
        import test_oracle_parity

        # side-effect queries write their round-trip tables here instead
        # of the per-process /tmp default, so the run stays in its checkout
        workload_sources.SCRATCH = str(WORK / "scratch")
        self.scratch = Path(workload_sources.SCRATCH)
        self.get_spark, self.QUERIES, self.prepared = get_spark, QUERIES, prepared
        self.parity = test_oracle_parity
        self.versions = {
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "duckdb": duckdb.__version__,
        }

    def record(self) -> dict:
        return {
            "workload": self.workload.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "sf_dir": self.sf_dir,
            "cpus": self.cores,
            "clients": self.clients,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            **self.versions,
            "commit": git_commit(),
            "source_digest": source_digest(),
        }

    # -- phases ----------------------------------------------------------
    def span_id(self, prefix: str) -> str:
        with self._lock:
            self._next_span += 1
            return f"{prefix}{self._next_span}"

    def group(self, span: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(span, span)

    def setup(self) -> None:
        """The first set-up is timed from process start; a traced run
        then restarts the session twice in the same JVM."""
        for i in range(3 if self.trace else 1):
            if self.spark is not None:
                self.spark.stop()
            t0 = T_PROCESS if i == 0 else time.time()
            t_session = time.time()
            self.spark = self.get_spark(app_name="perfbench", extra_conf=self.extra_conf)
            if i == 0:
                self.session_start_s = time.time() - t_session
            shutil.rmtree(self.scratch, ignore_errors=True)
            span = f"setup{i}"
            self.group(span)
            self.spark.range(0, 100_000, 1, self.cores).selectExpr(
                "sum(id)"
            ).collect()
            end = time.time()
            self.other_spans[span] = ("setup", t0, end)
            self.setup_samples.append(end - t0)
        self.mark("setup")

    def op(self, query: str, kind: str) -> tuple[OpRecord, object]:
        span = self.span_id("op")
        self.group(span)
        t0 = time.time()
        built, df, raised = t0, None, False
        try:
            if query not in self.QUERIES:
                raise KeyError(f"{query!r} is not in workload.QUERIES")
            df = self.prepared(self.spark, self.sf_dir, query)
            built = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # an op failure is a result, not a crash
            raised = True
            self.fail(query, f"{kind} op: {type(exc).__name__}: {exc}".splitlines()[0])
        end = time.time()
        with self._lock:
            hit = df is not None and self._last_df.get(query) is df
            if df is not None:
                self._last_df[query] = df
            rec = OpRecord(span, query, kind, t0, built, end, hit, raised=raised, failed=raised)
            self.ops.append(rec)
        return rec, df

    def fail(self, query: str, reason: str) -> None:
        with self._lock:
            self.failures.setdefault(query, []).append(reason)

    def check(self, query: str, df) -> str | None:
        """Compare the collected result with the DuckDB oracle, using the
        canon and compare rules of tests/test_oracle_parity.py."""
        self.group(f"check:{query}")
        rows = [tuple(r) for r in df.collect()]
        oracle = self.QUERIES[query][1]
        if oracle is None:
            return "no DuckDB oracle registered"
        expected = oracles.load(self.parity, self.sf_dir, oracle)
        if expected is None:
            return f"no oracle result: {self.oracle_error}"
        return compare(self.parity, df.columns, df.dtypes, rows, expected)

    def fill_oracles(self, queries: list[str]) -> None:
        """Compute the oracle results the cache lacks, in a child process."""
        self.oracle_error = "oracles.py was not run"
        missing = [
            q for q in queries
            if self.QUERIES[q][1] is not None
            and oracles.load(self.parity, self.sf_dir, self.QUERIES[q][1]) is None
        ]
        if not missing:
            return
        try:
            out = subprocess.run(
                [sys.executable, str(HERE / "oracles.py"), "--sf-dir", self.sf_dir, *missing],
                capture_output=True, text=True, timeout=600,
            )
        except subprocess.TimeoutExpired:
            self.oracle_error = "oracles.py ran out of time"
            return
        lines = (out.stderr or out.stdout).strip().splitlines()
        self.oracle_error = f"oracles.py exited {out.returncode}: {lines[-1] if lines else ''}"

    def checked(self, rec: OpRecord, df) -> None:
        t0 = time.time()
        try:
            problem = self.check(rec.query, df)
        except Exception as exc:
            problem = f"check raised {type(exc).__name__}: {exc}".splitlines()[0]
        with self._lock:
            self.other_spans[f"check:{rec.query}"] = ("oracle.check", t0, time.time())
        if problem:
            rec.failed = True
            self.fail(rec.query, f"oracle mismatch: {problem}")

    def cold_pass(self) -> None:
        """One cold op per query, dealt in list order to the workload's
        clients, then the oracle check of every result, spread over one
        thread per core (no op is timed while checks run). A side-effect
        query's result reads back the table its build wrote; no other
        query writes that path."""
        todo = iter(self.workload.queries)
        done: list[tuple[OpRecord, object]] = []

        def client(_: int) -> None:
            for query in todo:  # a shared iterator: each query runs once
                done.append(self.op(query, "cold"))

        run_clients(client, self.clients)
        self.mark("cold")
        self.rss.pause(True)  # the check's memory is the harness's
        try:
            self.fill_oracles([rec.query for rec, _ in done if not rec.failed])
            with ThreadPoolExecutor(self.cores) as pool:
                futures = [pool.submit(self.checked, rec, df) for rec, df in done if not rec.failed]
                for fut in futures:
                    fut.result()
        finally:
            done.clear()
            self.rss.pause(False)
        self.mark("check")

    def window(self) -> tuple[float, float]:
        """Closed loop of warm ops: the workload's passes, then more whole
        passes until ``seconds`` have passed. The clients share one seeded
        stream (each pass deals every query once) and stop at a pass
        boundary, so every query has the same weight in every run."""
        stream = OpStream(self.workload.queries, self.seed)
        t0 = time.time()
        deadline = t0 + self.seconds
        minimum = self.workload.passes * len(self.workload.queries)
        dealt = [0]

        def client(_: int) -> None:
            while True:
                with self._lock:
                    if dealt[0] >= minimum and time.time() >= deadline and not stream.deck_left():
                        return
                    dealt[0] += 1
                    query = stream.next()
                self.op(query, "warm")

        run_clients(client, self.clients)
        return t0, time.time()

    def stop(self) -> None:
        """Stop Spark, then wait for the JVM and every process it started."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        for pid in tree:
            while Path(f"/proc/{pid}").exists() and time.time() < deadline:
                time.sleep(0.05)
            if Path(f"/proc/{pid}").exists():
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass

    def cleanup(self) -> None:
        shutil.rmtree(WORK, ignore_errors=True)


def run_clients(fn, n: int) -> None:
    """Run ``fn(i)`` for clients ``i < n``, one thread each, and re-raise
    the first exception any of them raised."""
    if n == 1:
        fn(0)
        return
    errors: list[BaseException] = []

    def body(i: int) -> None:
        try:
            fn(i)
        except BaseException as exc:  # surfaced after join
            errors.append(exc)

    threads = [threading.Thread(target=body, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def summarize(run: Run, t0: float, t1: float, peak_rss_mb: float) -> dict[str, float]:
    cold = [o.end - o.start for o in run.ops if o.kind == "cold" and not o.raised]
    warm = [o.end - o.start for o in run.ops if o.kind == "warm" and not o.raised]
    if not cold or not warm:
        raise RuntimeError("every cold or every warm op raised: nothing to measure")
    return {
        "setup_s": run.setup_samples[0],
        "ops_per_s": len(warm) / (t1 - t0),
        "op_p50_s": statistics.median(warm),
        "op_p90_s": percentile(warm, 0.9),
        "cold_p50_s": statistics.median(cold),
        "peak_rss_mb": peak_rss_mb,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="input tables, read only (default: see default_sf_dir)")
    args = ap.parse_args(argv)
    # the program under test, and its test suite's oracle rules
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    args.sf_dir = args.sf_dir or default_sf_dir()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())  # metric names and units
    if not Path(args.sf_dir, "lineitem.parquet").exists():
        print(f"perfbench: no input tables under {args.sf_dir}", file=sys.stderr)
        return 2

    steal0 = steal_s()
    run = Run(args)
    run.configure()
    try:
        run.import_program()
        with RssSampler() as rss:
            run.rss = rss
            try:
                run.setup()
                run.cold_pass()
                t0, t1 = run.window()
                run.mark("window")
            finally:
                run.stop()
                run.mark("stop")
        e2e = summarize(run, t0, t1, rss.peak_mb)
        if run.trace:
            logs = [read_event_log(str(p)) for p in sorted((WORK / "eventlog").iterdir())]
            layers, orphans = fold(logs, run.ops, set(run.other_spans), run.cores, t1 - t0)
            spans = spans_of(logs, run.ops, run.other_spans)
    finally:
        run.cleanup()

    attempted = len(run.ops)
    failed = sum(o.failed for o in run.ops)
    error_rate = failed / attempted
    record = run.record()
    print("perfbench run " + json.dumps(record))
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<12} {e2e[m['name']]:.6g} {m['unit']}")
    print(
        "  phases " + " ".join(f"{k}={v:.1f}s" for k, v in run.phases.items())
        + f" (cpu steal {steal_s() - steal0:.1f}s)"
    )
    print(f"  {'error_rate':<12} {error_rate:.6g} ratio ({failed} of {attempted} ops)")
    print("  per query: cold s | warm p50 s | warm ops")
    for query in run.workload.queries:
        cold = [o.end - o.start for o in run.ops if o.query == query and o.kind == "cold"]
        warm = [o.end - o.start for o in run.ops if o.query == query and o.kind == "warm"]
        print(
            f"    {query:<28} {cold[0] if cold else float('nan'):8.3f} "
            f"{statistics.median(warm) if warm else float('nan'):8.3f} {len(warm):4d}"
        )
    for query, reasons in sorted(run.failures.items()):
        print(f"  FAILED {query}: {reasons[0]} (x{len(reasons)})")
    results = RUN_DIR / "results"
    (results / f"{run.workload.name}-trace{int(run.trace)}.json").write_text(
        json.dumps({"record": record, "metrics": e2e, "error_rate": error_rate})
    )

    if run.trace:
        layers["session.start_s"] = run.session_start_s
        layers["session.restart_s"] = statistics.median(run.setup_samples[1:])
        layers["error_rate"] = error_rate
        layers["trace.ops_per_s"] = e2e["ops_per_s"]
        layers["trace.op_p50_s"] = e2e["op_p50_s"]
        (results / f"{run.workload.name}-spans.json").write_text(json.dumps(spans))
        print(f"  {len(spans)} spans written to {results / (run.workload.name + '-spans.json')}")
        print("  layer self time along the blocking path, per warm op:")
        for name in sorted(k for k in layers if k.startswith("self.")):
            print(f"    {name:<18} {layers[name]:.6g} s")
        untraced = results / f"{run.workload.name}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["metrics"]
            print(
                "  tracing overhead vs the last untraced run: "
                f"ops_per_s {e2e['ops_per_s'] / base['ops_per_s'] - 1:+.1%}, "
                f"op_p50_s {e2e['op_p50_s'] / base['op_p50_s'] - 1:+.1%}"
            )
        else:
            print("  tracing overhead: no untraced run of this workload to compare")
        for orphan in orphans:
            print(f"  ORPHAN job {orphan}")
        values, kind = layers, "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    if set(values) != {m["name"] for m in spec[kind]}:
        raise RuntimeError(f"measured {sorted(values)}, BENCHMARK.json {kind} names differ")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
