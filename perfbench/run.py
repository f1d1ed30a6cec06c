"""Benchmark entry point.

    python3 perfbench/run.py --workload append_stream --seed 1 --seconds 24 --trace 0

Run from the repository root. Prints informational lines, then as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Metric definitions are in
``perfbench/README.md``. Working files go under ``.perfbench_work/`` in
the current directory and are removed at exit; a traced run writes its
spans to ``.perfbench_spans/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()  # before any heavy import: set-up time starts here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
SETUP_REPEATS = 3
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "rows_per_s": "rows/s",
    "store_bytes_per_row": "B/row",
}
WORK = os.path.join(ROOT, ".perfbench_work")
SPANS = os.path.join(ROOT, ".perfbench_spans")  # traced runs leave their spans here


def info(label: str, payload) -> None:
    print(f"# {label} {json.dumps(payload, sort_keys=True)}", flush=True)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 20 samples,
    where that percentile would fall below the median."""
    n = len(values)
    if n < 20:
        return 1.0, max(values)
    q = 1.0 - 10.0 / n
    ordered = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return q, ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def peak_rss_mb(spark) -> float:
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


def stop_jvm() -> None:
    """Shut the Py4J gateway and wait for the JVM (and with it Spark's
    Python workers) to exit: it ends when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def environment(args) -> dict:
    head = "unknown"
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        head = ref[:12]
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "os_cpu_count": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "git_head": head,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def start_spark(work: str, event_log: str | None, java_options: str):
    from plateau_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {java_options}".strip(),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_phase(args, work: str, traced: bool, seconds: float, setup_repeats: int):
    """Start Spark, set up ``setup_repeats`` times (the median is
    ``setup_s``), warm up, and run as many whole rounds as fit in
    ``seconds`` at the workload's nominal round time. Returns everything
    the metric code needs; Spark is stopped on return."""
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS, Client
    from plateau_spark.core.caching import release_shared_caches
    from plateau_spark.core.store import Store

    recorder = tracing.Recorder() if traced else None
    event_dir = os.path.join(work, "eventlog") if traced else None
    if traced:
        tracing.install_layer_spans(recorder)
    spark = start_spark(work, event_dir, WORKLOADS[args.workload].JAVA_OPTIONS)
    session_ready = time.time()
    try:
        setup_times = []
        for rep in range(setup_repeats):
            root = os.path.join(work, f"store-{rep}")
            store = tracing.CountingStore(root, recorder) if traced else Store(root)
            wl = WORKLOADS[args.workload]()
            client = Client(spark, store, recorder)
            t0 = time.time()
            with client.span("setup"):
                wl.setup(client, args.seed)
            setup_times.append(time.time() - t0)
            if rep + 1 < setup_repeats:
                shutil.rmtree(root)
        t0 = time.time()
        wl.warmup(client)
        warmup_s = time.time() - t0
        warmup = client.run
        client.run = run = type(warmup)()
        # A fixed number of whole rounds per --seconds: every run does the
        # same work, however fast the box is during it.
        for _ in range(max(1, int(seconds // wl.ROUND_S))):
            r0 = time.time()
            wl.round(client)
            run.rounds.append((r0, time.time()))
        wl.finish(client)
        rows, nbytes = wl.rows_and_bytes(client)
        result = {
            "workload": wl,
            "client": client,
            "run": run,
            "warmup": warmup,
            "setup_s": (session_ready - PROCESS_START) + statistics.median(setup_times) + warmup_s,
            "setup_times": setup_times,
            "session_s": session_ready - PROCESS_START,
            "warmup_s": warmup_s,
            "store_bytes_per_row": nbytes / rows,
            "peak_rss_mb": peak_rss_mb(spark),
            "recorder": recorder,
            "store": store,
        }
        release_shared_caches()
    finally:
        spark.stop()
    if traced:
        result["event_log"] = tracing.fold_event_log(tracing.find_event_log(event_dir))
    return result


def untraced_loop_wall(args, seconds: float) -> float:
    """Loop wall time of an untraced run of the same workload, seed and
    number of rounds, in a fresh process so that both start equally
    cold."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(seconds), "--trace", "0", "--setup-repeats", "1"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150, check=True)
    line = next(x for x in out.stdout.splitlines() if x.startswith("# summary "))
    return json.loads(line[len("# summary "):])["loop_wall_s"]


def summary(res) -> dict:
    """End-to-end metrics plus the workload-specific figures."""
    run, wl = res["run"], res["workload"]
    fg = run.kind(wl.foreground())
    reads = [o.seconds for o in run.kind("read")]
    wall = sum(b - a for a, b in run.rounds)
    values = {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(o.seconds for o in fg),
        "read_p50_s": statistics.median(reads),
        "rows_per_s": sum(o.rows for o in fg) / wall,
        "store_bytes_per_row": res["store_bytes_per_row"],
    }
    e2e = {name: {"value": values[name], "unit": unit} for name, unit in E2E_UNITS.items()}
    op_q, op_tail = tail([o.seconds for o in fg])
    read_q, read_tail = tail(reads)
    extra = {
        "op_samples_s": [round(o.seconds, 3) for o in fg],
        "read_samples_s": [round(x, 3) for x in reads],
        "op_count": len(fg),
        "op_tail_s": op_tail,
        "op_tail_percentile": round(100 * op_q, 2),
        "read_count": len(reads),
        "read_tail_s": read_tail,
        "read_tail_percentile": round(100 * read_q, 2),
        "rounds": len(run.rounds),
        "loop_wall_s": wall,
        "setup_repeats_s": res["setup_times"],
        "session_s": res["session_s"],
        "warmup_s": res["warmup_s"],
        "failed_frac": sum(not o.ok for o in run.ops) / len(run.ops),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    rewrites = [o.seconds for o in run.kind("rewrite")]
    if rewrites:
        extra["rewrite_p50_s"] = statistics.median(rewrites)
        extra["compact_gc_s"] = sum(o.seconds for o in run.kind("compact", "gc"))
    scores = getattr(wl, "scores", None)
    if scores:
        extra["dedup_recall"] = statistics.mean(r for r, _ in scores)
        extra["dedup_precision"] = statistics.mean(p for _, p in scores)
    return {"e2e": e2e, "extra": extra}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--setup-repeats", type=int, default=SETUP_REPEATS, help=argparse.SUPPRESS)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "plateau_spark")):
        print("perfbench: run from the repository root (plateau_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
        }
    )
    info("env", environment(args))
    try:
        if args.trace:
            from perfbench.layers import accounting_rows, layer_metrics

            plain_wall_s = untraced_loop_wall(args, args.seconds / 2)
            res = run_phase(args, work, True, args.seconds / 2, 1)
            summ = summary(res)
            metrics = layer_metrics(res, plain_wall_s, summ["extra"])
            for row in accounting_rows(res):
                info("accounting", row)
            os.makedirs(SPANS, exist_ok=True)
            res["recorder"].dump(os.path.join(SPANS, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            res = run_phase(args, work, False, args.seconds, args.setup_repeats)
            summ = summary(res)
            metrics = summ["e2e"]
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)

    info("summary", summ["extra"])
    ops = res["warmup"].ops + res["run"].ops
    for failure in res["warmup"].failures + res["run"].failures:
        info("failure", failure)
    failed = sum(not o.ok for o in ops)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
