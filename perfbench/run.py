"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding ``perfbench/`` and
``firebird_mapreduce_spark/``).  Each run gets fresh input, warehouse,
local, checkpoint and temp directories under ``.perfbench_runs/`` and
removes them at the end, so every run pays the same writes.  The run sets up
(session start, input generation, one-time state, untimed warm-up ops),
then runs closed-loop ops for ``--seconds``, then checks every op's answer.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The exit code is 0
only when every op's answer was right.
"""

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_TIMEOUT_S = 60.0  # an op slower than this counts as failed
TAIL_PCT = 80  # op_tail_s percentile
FAILED = object()

class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from ``/proc``."""

    def __init__(self, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_event.wait(self.period_s)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _closed_loop(
    w, tracer, clients: int, first: int, span: str,
    seconds: float = float("inf"), count: int | None = None,
) -> list:
    """Closed loop: each of ``clients`` clients sends its next op when the
    previous one returns, until ``seconds`` have passed or ``count`` ops have
    been sent.  Ops are numbered from ``first``.  Returns
    ``(index, start, duration, answer)`` per op."""
    lock = threading.Lock()
    samples: list = []
    state = {"next": first}
    deadline = time.perf_counter() + seconds
    last = first + count if count is not None else None

    def client() -> None:
        while True:
            with lock:
                i = state["next"]
                if time.perf_counter() >= deadline or i == last:
                    return
                state["next"] += 1
            t = time.perf_counter()
            try:
                with tracer.span(span, op=i):
                    answer = w.op(i, tracer)
            except Exception:  # a failed op is counted, and the loop goes on
                traceback.print_exc(file=sys.stderr)
                answer = FAILED
            dt = time.perf_counter() - t
            with lock:
                samples.append((i, t, dt, answer))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return samples


def _metric_units(kind: str) -> dict:
    """``{name: unit}`` for the ``end_to_end`` or ``per_layer`` metrics
    that ``BENCHMARK.json`` declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _median(values: list) -> float:
    return float(statistics.median(values)) if values else 0.0


def _quantile(values: list, pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def _layer_metrics(w, tracer, log, session_start_s, cold_s, samples, cores):
    """Per-layer metrics per timed op, from the spans and the event log."""
    op_spans = [s for s in tracer.spans if s["name"] == "op"]
    walls = [tracer.duration(s) for s in op_spans]
    per_op = [
        log.totals(tracer.subtree(s), s["start"], s["end"]) for s in op_spans
    ]

    def op_median(key: str) -> float:
        return _median([t[key] for t in per_op])

    def span_s(name: str) -> float:
        return sum(tracer.duration(s) for s in tracer.spans if s["name"] == name)

    op_p50 = _median(walls)
    # a layer the workload does not use reads 0
    out = {k: 0.0 for k in _metric_units("per_layer")}
    out.update({
        "session.start_s": session_start_s,
        "session.first_op_s": cold_s - op_p50,
        "sources.scan_s": span_s("sources.scan"),
        "sources.bytes_read": op_median("read_bytes"),
        "mapreduce.python_bytes": op_median("python_bytes"),
        "runtime.jobs": op_median("jobs"),
        "runtime.stages": op_median("stages"),
        "runtime.tasks": op_median("tasks"),
        "runtime.task_run_s": op_median("run_s"),
        "runtime.task_cpu_s": op_median("cpu_s"),
        "runtime.gc_s": op_median("gc_s"),
        "runtime.scheduler_delay_s": op_median("sched_s"),
        "runtime.shuffle_write_bytes": op_median("shuffle_write"),
        "runtime.shuffle_read_bytes": op_median("shuffle_read"),
        "runtime.spill_bytes": op_median("spill"),
        "runtime.driver_s": op_median("driver_s"),
        "runtime.core_util": op_median("run_s") / (op_p50 * cores),
        "trace.op_p50_s": op_p50,
    })
    out.update(w.layer_metrics(tracer, span_s, op_p50, samples))
    return out


def run(args, dirs: dict, rss: RssSampler) -> tuple[dict, bool]:
    from firebird_mapreduce_spark.session import get_session
    from spans import EventLog, NullTracer, Tracer
    from workloads import WORKLOADS

    confs = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # a fixed-size heap, so that heap growth (and with it resident
        # memory and GC work) does not vary from run to run
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
        })
    t = time.perf_counter()
    spark = get_session(f"perfbench-{args.workload}", **confs)
    session_start_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setCheckpointDir(dirs["checkpoint"])
        cores = sc.defaultParallelism
        tracer = Tracer(sc) if args.trace else NullTracer()
        w = WORKLOADS[args.workload](spark, dirs["inputs"], args.seed)
        with tracer.span("setup.prepare"):
            w.prepare(tracer)
        clients = w.clients
        # untimed warm-up ops close set-up: the first one runs alone and
        # cold, the rest bring the JVM's compiled code near its steady state
        warm = _closed_loop(w, tracer, 1, 0, "warmup", count=1)
        warm += _closed_loop(w, tracer, clients, 1, "warmup", count=w.warmup_ops - 1)
        cold_s = warm[0][2]
        setup_s = time.perf_counter() - T0
        start = time.perf_counter()
        samples = _closed_loop(
            w, tracer, clients, w.warmup_ops, "op", seconds=args.seconds
        )
        elapsed = max(t + dt for _, t, dt, _ in samples) - start
        if args.trace:
            with tracer.span("probe"):
                w.probe(tracer)
    finally:
        _stop_spark(spark)

    checked = [(i, dt, a) for i, _, dt, a in warm + samples]
    failed = sum(
        1
        for i, dt, answer in checked
        if answer is FAILED or dt > OP_TIMEOUT_S or not w.check(i, answer)
    )
    times = [dt for _, _, dt, a in samples if a is not FAILED]
    op_p50 = _median(times)
    print(
        f"{args.workload} seed {args.seed}: {len(samples)} timed ops "
        f"({clients} clients) in {elapsed:.2f} s after {len(warm)} warm-up ops "
        f"(the first {cold_s:.2f} s), "
        f"{failed} failed"
    )
    if args.trace:
        log = EventLog(dirs["eventlog"])
        values = _layer_metrics(w, tracer, log, session_start_s, cold_s, samples, cores)
        tracer.write(os.path.join(ROOT, ".perfbench_runs", f"spans-{args.workload}.jsonl"))
        units = _metric_units("per_layer")
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": op_p50,
            "op_tail_s": _quantile(times, TAIL_PCT),
            "ops_per_s": len(times) / elapsed,
            "rows_per_s": w.rows_per_op / op_p50,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        units = _metric_units("end_to_end")
    result = {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return result, failed == 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "firebird_mapreduce_spark")):
        sys.exit(f"perfbench: no engine package firebird_mapreduce_spark/ in {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    dirs = {
        k: os.path.join(run_dir, k)
        for k in ("inputs", "warehouse", "local", "checkpoint", "tmp", "eventlog")
    }
    for d in dirs.values():
        os.makedirs(d)
    # every temp file the engine, the JVM and the Python workers make stays
    # inside the run directory; SPARK_LOCAL_DIRS would override
    # spark.local.dir, so it is the one set
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

    rss = RssSampler()
    rss.start()
    try:
        result, ok = run(args, dirs, rss)
    finally:
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
