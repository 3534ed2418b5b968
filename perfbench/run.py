"""Benchmark of triplestore_spark on local[N], N = the CPUs this process
may use.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: build, query
(perfbench/workloads.py). With --trace 0 the last stdout line
is a JSON object carrying the end-to-end metrics; with --trace 1 it
carries the per-layer metrics of a traced --seconds window and the
tracing overhead against an untraced window of the same process. Earlier
stdout lines report every timing with its quartiles and sample count,
the 1-minute load average at the start and end of the run, and the
share of CPU time the hypervisor stole during it.

Generated inputs, snapshots, Spark scratch space and event logs live in
`.perfbench_work/` under the working directory and are removed on every
exit path.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3

E2E = (
    ("op_p50_ms", "ms"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)
PER_LAYER_EXTRA = (
    ("extract.rows_out", "count"),
    ("dedup.rows_out", "count"),
    ("dedup.useful_ratio", "ratio"),
    ("materialize.partitions", "count"),
    ("materialize.files", "count"),
    ("materialize.bytes_written", "bytes"),
    ("materialize.bytes_per_triple", "bytes"),
    ("materialize.write_skew", "ratio"),
    *((f"scan.{k}_p50_ms", "ms") for k in (
        "with_subject", "with_subj_pred", "with_subj_obj",
        "with_predicate", "with_pred_obj", "with_object",
    )),
    ("scan.rows_read_per_row_returned", "ratio"),
    ("scan.files_read_per_lookup", "count"),
    ("ntriples.encode.triples_per_s", "1/s"),
    ("ntriples.decode.triples_per_s", "1/s"),
    ("bgp.jobs_per_query", "count"),
    ("bgp.driver_gap_s", "s"),
    ("op.unattributed_s", "s"),
    ("trace.op_p50_overhead_pct", "%"),
)
GENERIC_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "cpu_s": "s", "run_s": "s", "gc_s": "s",
    "python_s": "s",
}


def per_layer_names() -> list[tuple[str, str]]:
    from perfbench.trace import GENERIC, LAYERS

    names = [(f"{layer}.{g}", GENERIC_UNITS[g]) for layer in LAYERS for g in GENERIC]
    return names + list(PER_LAYER_EXTRA)


def log(msg: str) -> None:
    print(msg, flush=True)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    threads: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        threads[int(entry)] = int(fields[17])
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, None, None)]
    while todo:
        pid, ppid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend((c, pid, exe) for c in children.get(pid, []))
        # a multi-threaded process (the JVM, this Python process) starts programs
        # by vfork and exec: a child still running its parent's program
        # shares its parent's memory and would count it twice
        if exe == parent_exe and threads.get(ppid, 1) > 1:
            continue
        total += rss
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled every `interval` s."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot. Steal is time
    the hypervisor gave this machine's runnable CPUs to another guest; it
    slows every timing and is reported with the load average."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def cpus_available() -> int:
    return max(1, len(os.sched_getaffinity(0)))


def start_session(event_dir: str | None = None):
    from triplestore_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed 2g heap, touched at start, in place of the program's
        # default of 8g: the heap the JVM commits otherwise follows how far
        # garbage piled up before a collection, which moved peak_rss_mb by
        # a third from one run to the next. With it fixed, the peak
        # resident memory is 2 GiB plus what varies with the program: JVM
        # off-heap, this Python process and the Python workers.
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
        ),
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    n = cpus_available()
    spark = get_spark("perfbench", cpus=n, shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------


class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.next_i = 0


def measure(wl, spark, seconds: float, tracer, counts: Counts):
    """Closed loop for `seconds`, and for at least `wl.min_ops`
    operations: returns [(latency s, rows, parts)]."""
    from perfbench.workloads import NoTrace

    tracer = tracer or NoTrace()
    done = []
    first = counts.next_i
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or counts.next_i - first < wl.min_ops:
        i = counts.next_i
        counts.next_i += 1
        counts.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                rows, ok, parts = wl.op(spark, i, tracer)
        except Exception as e:  # a failed operation is counted, not fatal
            log(f"op {i} failed: {type(e).__name__}: {str(e)[:300]}")
            counts.failed += 1
            continue
        dt = time.perf_counter() - t0
        if not ok:
            log(f"op {i}: output does not match the expected answer")
            counts.failed += 1
        done.append((dt, rows, parts))
    if not done:
        raise RuntimeError("every operation raised: no latency to report")
    return done


def summarise(name: str, values: list[float], unit: str) -> None:
    from perfbench import stats

    q1, med, q3 = stats.quartiles(values)
    log(f"  {name}: median {med:.4f} {unit}  q1 {q1:.4f}  q3 {q3:.4f}  n={len(values)}")


def latency_metrics(done) -> dict:
    from perfbench import stats

    ms = [1e3 * d for d, _, _ in done]
    summarise("op_ms", ms, "ms")
    return {"op_p50_ms": stats.quartiles(ms)[1]}


def set_up(wl, spark=None, event_dir=None):
    """One set-up: start a session and prepare the workload on it. The
    first one launches the JVM. Stopping the previous session `spark` is
    teardown and is not timed: it takes anywhere from 0.03 to 0.9 s.
    Returns (spark, seconds)."""
    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = start_session(event_dir)
    wl.setup(spark)
    return spark, time.perf_counter() - t0


def set_up_and_warm(wl, repeats: int):
    """`repeats` set-ups, each on a new session in the same JVM; the
    first launches the JVM. Then one untimed warm-up (`wl.warm`) on the
    last session, the one measured: the first operations of a JVM run
    while the JIT compiles the hot paths, and the first of a session
    fills its caches and starts its Python workers. Returns (spark,
    set-up seconds)."""
    spark, dt = set_up(wl)
    setups = [dt]
    for _ in range(repeats - 1):
        spark, dt = set_up(wl, spark)
        setups.append(dt)
    t0 = time.perf_counter()
    wl.warm(spark)
    log(f"warm-up {time.perf_counter() - t0:.3f} s (not in setup_s)")
    return spark, setups


def run(args) -> dict:
    from perfbench import stats
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](WORK, args.seed)
    counts = Counts()
    t0 = time.perf_counter()
    wl.inputs()
    log(f"inputs and expected answers: {time.perf_counter() - t0:.3f} s (not in setup_s)")

    spark = None
    try:
        if not args.trace:
            with RssSampler() as rss:
                spark, setups = set_up_and_warm(wl, SETUP_REPEATS)
                summarise("setup_s", setups, "s")
                done = measure(wl, spark, args.seconds, None, counts)
            metrics = latency_metrics(done)
            metrics["setup_s"] = stats.quartiles(setups)[1]
            metrics["peak_rss_mb"] = rss.peak / 2**20
            _report_parts(done)
            units = dict(E2E)
        else:
            spark, _ = set_up_and_warm(wl, 1)
            plain = measure(wl, spark, args.seconds, None, counts)
            event_dir = os.path.join(WORK, "events")
            os.makedirs(event_dir, exist_ok=True)
            spark, _ = set_up(wl, spark, event_dir)
            wl.warm(spark)  # first operation on the new session
            tracer = tr.Tracer(spark.sparkContext)
            with tr.patched(tracer, wl.trace_targets()):
                traced = measure(wl, spark, args.seconds, tracer, counts)
            app_log = os.path.join(event_dir, spark.sparkContext.applicationId)
            spark.stop()  # flushes the event log
            metrics = _per_layer(wl, tracer, tr.read_event_log(app_log), plain, traced)
            units = dict(per_layer_names())
    finally:
        if spark is not None:
            stop_jvm(spark)
    return {
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def _report_parts(done) -> None:
    keys = sorted({k for _, _, p in done for k, v in p.items() if isinstance(v, float)})
    for k in keys:
        summarise(k, [p[k] for _, _, p in done if k in p], "s")


def _per_layer(wl, tracer, log_, plain, traced) -> dict:
    from perfbench import stats
    from perfbench import trace as tr

    n = max(1, len(traced))
    table = tr.layer_table(log_, tracer.spans)
    out = dict.fromkeys((k for k, _ in PER_LAYER_EXTRA), 0.0)
    for layer in tr.LAYERS:
        for g, v in table[layer].items():
            out[f"{layer}.{g}"] = v / n
    out["op.unattributed_s"] = table["unattributed_s"] / n
    out.update(wl.layer_extras(log_, tracer, [p for _, _, p in traced]))
    log("untraced operations:")
    a = latency_metrics(plain)
    log("traced operations:")
    b = latency_metrics(traced)
    out["trace.op_p50_overhead_pct"] = 100 * (b["op_p50_ms"] / a["op_p50_ms"] - 1)
    q1, med, q3 = stats.quartiles([d for d, _, _ in plain])
    spread_pct = 100 * (q3 - q1) / med
    ops = [sp for sp in tracer.spans if sp.name == "op"]
    op_s = sum(sp.end - sp.start for sp in ops) / max(1, len(ops))
    log(f"per-layer table (per operation, {len(traced)} traced operations, "
        f"mean traced op {op_s:.4f} s):")
    log(f"  {'layer':26s} {'wall_s':>8s} {'self_s':>8s} {'jobs':>6s} {'tasks':>7s} "
        f"{'shuf_rd_MB':>10s} {'shuf_wr_MB':>10s} {'cpu_s':>7s} {'python_s':>8s}")
    for layer in tr.LAYERS:
        r = table[layer]
        log(f"  {layer:26s} {r['wall_s']/n:8.4f} {r['self_s']/n:8.4f} "
            f"{r['jobs']/n:6.1f} {r['tasks']/n:7.1f} "
            f"{r['shuffle_read_bytes']/n/2**20:10.2f} "
            f"{r['shuffle_write_bytes']/n/2**20:10.2f} "
            f"{r['cpu_s']/n:7.3f} {r['python_s']/n:8.3f}")
    self_sum = sum(table[layer]["self_s"] for layer in tr.LAYERS) / n
    log(f"  layers' self time {self_sum:.4f} s + unattributed "
        f"{out['op.unattributed_s']:.4f} s per operation")
    overhead = out["trace.op_p50_overhead_pct"]
    log(f"  tracing overhead: op_p50 {overhead:+.1f}% (traced n={len(traced)}, "
        f"untraced n={len(plain)}, untraced IQR/median {spread_pct:.1f}%)"
        + ("; unresolved: not above the untraced spread"
           if overhead <= spread_pct else ""))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the package under test is the checkout's own, for this process
    # and for the Spark Python workers it spawns
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    try:
        import triplestore_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    load_start = os.getloadavg()[0]
    steal_start = cpu_steal()
    log(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} local[{cpus_available()}] loadavg_start={load_start:.2f}")
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    steal, total = (b - a for a, b in zip(steal_start, cpu_steal()))
    log(f"loadavg_start={load_start:.2f} loadavg_end={os.getloadavg()[0]:.2f} "
        f"steal_pct={100 * steal / max(1, total):.1f} "
        f"attempted={result['attempted']} failed={result['failed']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
