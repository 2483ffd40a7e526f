"""Repository benchmark: one workload per run, through the public API, at
``local[nproc]`` in one driver process.

    python3 steadybench/run.py --workload extract --seed 1 --seconds 10 --trace 0

A run: make (or reuse) the seeded input with no JVM running; start the Spark
session; run a fixed number of warm-up passes; run the timed passes; check
every pass's output; stop every process it started. The last line of
standard output is one JSON object, ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md beside this file).

The number of timed passes is how many nominal warm passes of the workload
fit in ``--seconds``, so two commits measured with the same arguments run the
same work from the same point of the JVM's warm-up curve; a faster commit
finishes sooner.

The command itself only supervises: it marks itself a child subreaper, runs
the benchmark in a child process, and once that child has exited waits for
every process left under it (Python's multiprocessing resource tracker, the
JVM, ``pyspark.daemon`` and its workers are re-parented to it when their
parents end), killing any still there after ``REAP_GRACE_S``. So no process
of a run outlives the command, whichever way the run ends.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pathlib
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / "steadybench" / ".work"

# set in the child that runs the benchmark; the command's own process supervises
CHILD_ENV = "STEADYBENCH_CHILD"
# seconds the processes left after the run may take to end before a SIGKILL
REAP_GRACE_S = 10.0
PR_SET_CHILD_SUBREAPER = 36

WORKLOADS = ("extract", "fineweb", "backfill")
# seconds of one warm pass on a 4-core host: turns --seconds into a pass count
NOMINAL_PASS_S = {"extract": 3.5, "fineweb": 12.0, "backfill": 7.0}
WARMUP_PASSES = {"extract": 2, "fineweb": 2, "backfill": 1}
# driver heap, set through the product's own SPARK_GRAFT_DRIVER_MEM. Under its
# 12g default, peak RSS follows how far the parallel collector lets the heap
# grow (4.6-6.7 GB over five fineweb seeds on a 4-core, 15 GB host), not what
# the program holds. 4g is over six times the largest heap in use after a
# collection that a listed workload reaches (jvm.heap_after_gc_mb).
DRIVER_MEM = "4g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _confine_to_checkout() -> None:
    """Scratch files of Python, the JVM and Spark go under WORK; executor
    Python workers import the package from the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    sys.path.insert(0, str(ROOT))


def start_session(cores: int, trace: bool):
    from final_ocr_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {}
    if trace:
        logs = WORK / "eventlog"
        logs.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="steadybench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, worker_pids) -> None:
    """Stop Spark, end the JVM through its stdin (how PySpark's gateway
    server is told to exit), and wait for every Python worker to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in worker_pids:
        while pathlib.Path(f"/proc/{pid}").exists():
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


class Run:
    """Counts every checked operation: warm-up passes, timed passes and the
    per-url oracle."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.first = None

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"steadybench: {what}: {p}", file=sys.stderr)

    def guarded(self, what: str, fn):
        """fn() -> problems; an exception is a failed operation."""
        try:
            problems = fn()
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc()
            problems = ["raised"]
        self.record(what, problems)


def run(args) -> dict:
    from steadybench import inputs, workloads
    from steadybench.procstat import PeakRss, SparkProcesses

    cores = len(os.sched_getaffinity(0))
    info = inputs.ensure_input(args.workload, args.seed, WORK / "cache", cores)
    n_timed = max(1, int(args.seconds // NOMINAL_PASS_S[args.workload]))
    n_warm = WARMUP_PASSES[args.workload]

    t0 = time.perf_counter()
    spark = start_session(cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    procs = SparkProcesses()
    rss = PeakRss(procs).start()
    heap = None
    if args.trace:
        from steadybench.trace import HeapAfterGc

        heap = HeapAfterGc(spark).start()
    ctx = workloads.Ctx(spark, args.workload, args.seed, info, WORK)
    state = Run()
    passes: list[dict] = []
    pass_start_epoch = {}
    last = n_warm + n_timed - 1

    def one_pass(i: int, timed: bool) -> list[str]:
        workloads.remove_output(ctx, i)
        if args.trace:
            spark.sparkContext.setJobGroup(f"pass-{i}", "timed pass")
        c0 = procs.cpu()
        pass_start_epoch[i] = time.time()
        t = time.perf_counter()
        got = workloads.timed_pass(ctx, i)
        wall = time.perf_counter() - t
        c1 = procs.cpu()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        got, problems = workloads.check_pass(ctx, i, got, state.first)
        if state.first is None:
            state.first = got
        print(f"steadybench: pass {i} {wall:.3f}s jvm {c1['jvm'] - c0['jvm']:.2f}s "
              f"python {c1['python'] - c0['python']:.2f}s", file=sys.stderr)
        if timed:
            passes.append({"i": i, "wall": wall,
                           "jvm": c1["jvm"] - c0["jvm"],
                           "python": c1["python"] - c0["python"]})
        if i != last:
            workloads.remove_output(ctx, i)  # the oracle reads the last one
        return problems

    t1 = time.perf_counter()
    for i in range(n_warm):
        state.guarded(f"warm-up pass {i}", lambda i=i: one_pass(i, False))
    warmup_s = time.perf_counter() - t1
    for i in range(n_warm, n_warm + n_timed):
        state.guarded(f"pass {i}", lambda i=i: one_pass(i, True))
    peak_rss_mb = rss.stop()
    heap_after_gc_mb = heap.stop() if heap else 0.0
    state.guarded("oracle", lambda: workloads.oracle(ctx, last))

    docs = info["docs"]
    walls = [p["wall"] for p in passes]
    layer_vals = {}
    if args.trace and passes:
        layer_vals = trace_layers(ctx, state, pass_start_epoch[last], last)
    app_id = spark.sparkContext.applicationId
    stop_session(spark, sorted(procs.seen_workers))
    workloads.remove_output(ctx, last)

    if not passes:
        metrics = {}
    elif args.trace:
        traced_dps = docs / statistics.median(walls)
        core = layer_vals["_core_docs_per_s"]
        layer_vals.update({
            "session.start_s": session_s,
            "warmup.s": warmup_s,
            "trace.docs_per_s": traced_dps,
            "extract.parallel_efficiency": traced_dps / (cores * core),
            "proc.jvm_cpu_s": statistics.median(p["jvm"] for p in passes),
            "proc.python_cpu_s": statistics.median(p["python"] for p in passes),
            "proc.peak_rss_mb": peak_rss_mb,
            "jvm.heap_after_gc_mb": heap_after_gc_mb,
        })
        layer_vals.update(event_log_layers(
            WORK / "eventlog" / app_id, [f"pass-{p['i']}" for p in passes],
            layer_vals, info))
        metrics = {k: (layer_vals.get(k, 0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "docs_per_s": (docs / statistics.median(walls), "docs/s"),
            "cpu_s_per_kdoc": (statistics.median(
                (p["jvm"] + p["python"]) * 1000 / docs for p in passes), "s"),
            "setup_s": (session_s + warmup_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    return {
        "correct": state.failed == 0 and len(passes) == n_timed,
        "attempted": state.attempted,
        "failed": state.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def trace_layers(ctx, state, pass_start_epoch: float, last: int) -> dict:
    """Layer spans and counts taken while the session is up."""
    from steadybench import trace, workloads

    vals = trace.core_sample()
    spans = trace.Spans(ctx.spark)

    def layers() -> list[str]:
        got, problems = trace.layer_spans(ctx, spans, state.first)
        vals.update(got)
        return problems

    state.guarded("layer spans", layers)
    vals["_spans"] = spans.seconds
    vals["sources.in_bytes"] = ctx.info["bytes"]
    if ctx.workload == "backfill":
        out = workloads.out_dir(ctx, last)
        vals.update(trace.backfill_layers(
            workloads.read_manifest(out), pass_start_epoch, out, ctx.info["bytes"]))
    return vals


def event_log_layers(path: pathlib.Path, pass_groups: list[str], vals: dict,
                     info: dict) -> dict:
    """Fold the finished event log, then delete it."""
    from steadybench import eventlog, trace

    with open(path, encoding="utf-8") as f:
        folded = eventlog.fold(f)
    path.unlink()
    out = trace.event_metrics(folded, pass_groups, vals["_spans"], info["html_bytes"])
    py_s = out.get("extract_pages.python_worker_s")
    if py_s:
        # core time the stage's html would take single-threaded, as a share
        # of the Python-worker time: the rest is batch and Arrow overhead
        core_s = vals["extract.core_ms_per_kb"] * info["html_bytes"] / 1024 / 1000
        out["extract_pages.batch_overhead_share"] = max(0.0, 1 - core_s / py_s)
    return out


# every per-layer metric of a traced run, with its unit
PER_LAYER = {
    "session.start_s": "s", "warmup.s": "s", "trace.docs_per_s": "docs/s",
    "sources.scan_s": "s", "sources.in_bytes": "bytes",
    "extract.core_ms_per_doc.html": "ms", "extract.core_ms_per_doc.pdf": "ms",
    "extract.core_ms_per_kb": "ms", "extract.parallel_efficiency": "ratio",
    "extract_pages.stage_s": "s", "extract_pages.python_worker_s": "s",
    "extract_pages.bytes_to_python": "bytes",
    "extract_pages.bytes_from_python": "bytes",
    "extract_pages.batch_overhead_share": "ratio",
    "extract_pages.batch_ms.p50": "ms", "extract_pages.batch_ms.p99": "ms",
    "extract_pages.task_skew": "ratio",
    "dedup.latest_s": "s", "dedup.latest_shuffle_bytes": "bytes",
    "gates.s": "s", "gates.keep_ratio": "ratio",
    "dedup.exact_s": "s", "dedup.minhash_s": "s", "dedup.verify_s": "s",
    "dedup.components_s": "s", "dedup.minhash_candidates": "count",
    "dedup.capped_buckets": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.python_worker_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.gc_s": "s",
    "spark.peak_execution_memory_mb": "MB",
    "pipeline.bytes_to_python_per_input_byte": "ratio",
    "proc.jvm_cpu_s": "s", "proc.python_cpu_s": "s",
    "proc.peak_rss_mb": "MB", "jvm.heap_after_gc_mb": "MB",
    "manifest.stage_s": "s", "manifest.group_s.p50": "s",
    "manifest.group_s.max": "s", "manifest.commits": "count",
    "sinks.files_written": "count", "sinks.out_bytes_per_in_byte": "ratio",
    "manifest.bytes_written_per_input_byte": "ratio",
}


def _children() -> list[int]:
    from steadybench.procstat import process_table

    me = os.getpid()
    return [pid for pid, st in process_table().items() if st["ppid"] == me]


def reap_all(grace_s: float) -> None:
    """Wait until no process is left under this one; SIGKILL whatever is
    still running after grace_s (orphans keep coming to this subreaper as
    their parents die, so the loop runs until there are no children)."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child and reap every process it leaves."""
    sys.path.insert(0, str(ROOT))
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("steadybench: cannot become a child subreaper: "
              f"{os.strerror(ctypes.get_errno())}", file=sys.stderr)
        return 2
    child = subprocess.Popen([sys.executable, str(pathlib.Path(__file__).resolve()),
                              *argv], env={**os.environ, CHILD_ENV: "1"})

    def forward(signum, _frame):
        child.send_signal(signum)

    for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(signum, forward)
    try:
        code = child.wait()
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        reap_all(REAP_GRACE_S)
    return code if code >= 0 else 128 - code


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not (ROOT / "final_ocr_spark" / "__init__.py").is_file():
        print(f"steadybench: no final_ocr_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(argv)
    _confine_to_checkout()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
