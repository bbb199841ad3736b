"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_validate --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of this repository. The run generates the
workload's seeded inputs under ``.perfbench_work/`` (untimed), sets up a
``local[4]`` SparkSession three times (median reported as ``setup_s``),
runs closed-loop passes for ``--seconds`` seconds, checks every pass's
outputs against oracles, and prints one JSON object as its last line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

CORES = 4
HEAP = "2g"
SETUPS = 3
MIN_TRACED = 2      # traced passes per traced run, at least
MAX_PASSES = 40
FALL_TOL = 0.03     # a pass more than 3% above the rest's median is warm-up


def _query_layers() -> list[str]:
    from workloads import QUERIES

    return [f"query.{n}_s" for n in ("wide_suite",) + QUERIES]


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: drop one output row of the cold pass before checking")
    p.add_argument("--tiny", action="store_true",
                   help="self-test: tiny inputs (smoke run, numbers meaningless)")
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# process probes
# ---------------------------------------------------------------------------


def _vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_s(pid: int | str) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the JVM PySpark launched and wait until it has exited (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def build_session(work: str, master: str, event_log: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(master)
        .appName("perfbench")
        # fixed heap, no pre-touch: peak RSS reflects the work done
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(wl, work: str, event_log: str | None, master: str = f"local[{CORES}]"):
    """Session up, sparkcheck imported, input opened. Returns (spark, s)."""
    t = time.perf_counter()
    spark = build_session(work, master, event_log)
    importlib.import_module("sparkcheck")
    wl.open(spark)
    return spark, time.perf_counter() - t


def teardown(spark) -> None:
    """Stop the SparkContext (the JVM stays) and forget sparkcheck, so the
    next set-up imports it afresh."""
    spark.stop()
    for name in [m for m in sys.modules
                 if m == "sparkcheck" or m.startswith("sparkcheck.")
                 or m == "__spark_entry__"]:
        del sys.modules[name]


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------


def steady(times: list[float], min_steady: int) -> list[float]:
    """Drop leading passes while pass time is still falling: a pass counts
    as warm-up if it is more than FALL_TOL above the median of the passes
    after it. At least ``min_steady`` passes are kept, and no pass after
    the first steady one is dropped."""
    k = 0
    while len(times) - k > min_steady and \
            times[k] > (1 + FALL_TOL) * statistics.median(times[k + 1:]):
        k += 1
    return times[k:]


class Ledger:
    """attempted / failed operations and the notes of failed checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def add(self, attempted: int, failed: int, notes: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.notes.extend(notes)


def timed(fn, ledger: Ledger, wl, n_ops: int, corrupt: bool = False):
    """One pass: returns (seconds, output) and books its checks."""
    t = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 — a failed operation, not a crash
        dt = time.perf_counter() - t
        ledger.add(n_ops, n_ops, [f"{fn.__name__} raised {type(e).__name__}: {e}"])
        return dt, None
    dt = time.perf_counter() - t
    if corrupt:
        wl.corrupt(out)
    try:
        ledger.add(*wl.check(out))
    except Exception as e:  # noqa: BLE001 — a check that cannot run fails
        ledger.add(n_ops, n_ops, [f"check of {fn.__name__} raised {type(e).__name__}: {e}"])
    return dt, out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("sparkcheck") is None:
        print("perfbench: no sparkcheck package in the current directory; run "
              "from the root of a checkout", file=sys.stderr)
        return 2
    try:
        result, ledger = run(args, os.path.join(root, ".perfbench_work", args.workload))
    finally:
        shutdown_jvm()
        shutil.rmtree(os.path.join(root, ".perfbench_work"), ignore_errors=True)
    for n in ledger.notes:
        print(f"check failed: {n}", file=sys.stderr)
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(result.items())},
    }))
    return 0


def run(args: argparse.Namespace, work: str) -> tuple[dict, Ledger]:
    from workloads import WORKLOADS

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)

    wl = WORKLOADS[args.workload]()
    if args.tiny:
        wl.shrink()
    wl.inputs(args.seed, work)
    tracer = wl.tracer = tracing.Tracer()

    setups = []
    for i in range(SETUPS):
        if i:
            teardown(spark)
        spark, s = setup(wl, work, event_log)
        setups.append(s)
    jvm = _jvm_pid()

    ledger = Ledger()
    result = (measure_traced if args.trace else measure)(
        wl, spark, args, ledger, tracer, jvm, work)
    if args.trace:
        result["setup.first_s"] = (setups[0], "s")
        result["failed_frac"] = (ledger.failed / max(ledger.attempted, 1), "ratio")
    else:
        result["setup_s"] = (statistics.median(setups), "s")
        result["peak_rss_mb"] = ((_vm_hwm_kib(jvm) + _vm_hwm_kib("self")) / 1024, "MiB")
    spark.stop()
    return result, ledger


def measure(wl, spark, args, ledger, tracer, jvm, work) -> dict:
    """Untraced run: the cold pass, then passes for --seconds more and until
    ``wl.min_steady`` are steady after ``wl.warmup`` warm-up passes;
    medians of the steady passes."""
    cpu0, steal0 = _cpu_s(jvm), _steal_ticks()
    cold, out = timed(wl.run_pass, ledger, wl, wl.n_ops, args.corrupt)
    t_end = time.perf_counter() + args.seconds
    times = []
    extra: dict[str, list[float]] = {}
    while (time.perf_counter() < t_end
           or len(steady(times[wl.warmup:], wl.min_steady)) < wl.min_steady) \
            and len(times) < MAX_PASSES:
        dt, out = timed(wl.run_pass, ledger, wl, wl.n_ops)
        times.append(dt)
        for k, v in wl.pass_extras(out).items():
            extra.setdefault(k, []).append(v)
    kept = steady(times[wl.warmup:], wl.min_steady)
    wall = statistics.median(kept)
    # recorded, never used to drop or retry a run
    print(f"{wl.name}: cold {cold:.3f}s passes {[round(t, 3) for t in times]} "
          f"kept {len(kept)}; JVM CPU {_cpu_s(jvm) - cpu0:.1f}s, "
          f"host steal {_steal_ticks() - steal0} ticks", file=sys.stderr)
    for k, v in extra.items():
        print(f"  {k}: {[round(x, 3) for x in v]}", file=sys.stderr)
    return {
        "cold_pass_s": (cold, "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (wl.n_docs / wall, "docs/s"),
    }


def measure_traced(wl, spark, args, ledger, tracer, jvm, work) -> dict:
    """Traced run: after the cold and warm-up passes, iterations of an
    untraced and a traced pass (plus the fused variant on corpus_validate),
    alternating which goes first, for --seconds more; then a tagged noop
    scan of the pass's input, then — on corpus_validate — the time-paired
    local[1] / local[4] scaling legs. Per-layer values are medians over the
    traced passes."""
    tracer.install(spark.sparkContext)
    wl.open(spark)  # rebind the workload to the wrapped functions
    epoch = time.time() - time.perf_counter()
    fused = getattr(wl, "run_fused", None)

    def traced(fn):
        def run():
            tracer.enabled = True
            try:
                with tracer.span("pass"):
                    return fn()
            finally:
                tracer.enabled = False
        run.__name__ = fn.__name__
        return run

    timed(wl.run_pass, ledger, wl, wl.n_ops, args.corrupt)
    for _ in range(wl.warmup):
        timed(wl.run_pass, ledger, wl, wl.n_ops)
    t_end = time.perf_counter() + args.seconds
    plain, plain_fused, probes, rows = [], [], [], []
    extras: dict[str, list[float]] = {}

    def untraced_step() -> None:
        plain.append(timed(wl.run_pass, ledger, wl, wl.n_ops)[0])
        if fused:
            plain_fused.append(timed(fused, ledger, wl, wl.n_ops)[0])

    def traced_step() -> None:
        cpu, jcpu, steal = time.process_time(), _cpu_s(jvm), _steal_ticks()
        _, out = timed(traced(wl.run_pass), ledger, wl, wl.n_ops)
        probes.append({"driver.cpu_s": time.process_time() - cpu,
                       "jvm.cpu_s": _cpu_s(jvm) - jcpu,
                       "host.steal_ticks": _steal_ticks() - steal})
        rows.append(dict(wl.pass_counts(out)))
        for k, v in wl.pass_extras(out).items():
            extras.setdefault(k, []).append(v)
        if fused:
            timed(traced(fused), ledger, wl, wl.n_ops)

    while (time.perf_counter() < t_end or len(rows) < MIN_TRACED) and len(rows) < MAX_PASSES:
        # alternate which side goes first, so warm-up favours neither
        for step in ((untraced_step, traced_step) if len(rows) % 2 == 0
                     else (traced_step, untraced_step)):
            step()

    scans = []
    tracer.enabled = True
    for _ in range(3):
        t = time.perf_counter()
        with tracer.span("scan"):
            wl.scan_frame().write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t)
    tracer.enabled = False
    app_id = spark.sparkContext.applicationId
    teardown(spark)
    log = tracing.parse_event_log(tracing.find_event_log(os.path.join(work, "eventlog"), app_id))
    passes = [s for s in tracer.spans if s.name == "pass"]
    main = [p for p in passes if not any(c.parent is p and c.name.startswith("fused.")
                                         for c in tracer.spans)]
    fused_passes = [p for p in passes if p not in main]
    per = [tracing.pass_layers(tracer, p, log, epoch, wl.corpus_path) for p in main]
    for r, pr, lay in zip(rows, probes, per):
        lay.update(r)
        lay.update(pr)
    fper = [tracing.pass_layers(tracer, p, log, epoch, wl.corpus_path) for p in fused_passes]
    result = {}
    for k, unit in LAYER_UNITS.items():
        src = fper if k.startswith("fused.") else per
        vals = [d[k] for d in src if k in d]
        result[k] = (statistics.median(vals) if vals else 0.0, unit)
    for name in _query_layers():
        vals = extras.get(name[len("query."):-len("_s")], [])
        result[name] = (statistics.median(vals) if vals else 0.0, "s")
    result["scan.s"] = (statistics.median(scans), "s")
    result["scan.input_mb"] = (wl.scan_bytes() / tracing.MB, "MiB")
    # traced and untraced passes of one iteration ran back to back, in
    # alternating order: the median of their ratios cancels warm-up drift
    result["trace.overhead_frac"] = (
        statistics.median(p.dur / u for p, u in zip(main, plain)) - 1, "ratio")
    result["fused_wall_s"] = (statistics.median(plain_fused) if plain_fused else 0.0, "s")
    result["resume_s"] = (statistics.median(extras["resume_s"])
                          if "resume_s" in extras else 0.0, "s")
    result["scaling_eff"] = (scaling(wl, work, ledger) if fused else 0.0, "ratio")
    print(tracing.layer_table(tracer, main + fused_passes), file=sys.stderr)
    tracer.dump(os.path.join(os.getcwd(), ".perfbench_out",
                             f"{wl.name}-seed{args.seed}-spans.json"))
    return result


def scaling(wl, work: str, ledger: Ledger) -> float:
    """Strong-scaling efficiency T(local[1]) / (4 x T(local[4])) of one
    classic pass each, run back to back in the warm JVM."""
    legs = {}
    for cores in (1, CORES):
        spark = build_session(work, f"local[{cores}]", None)
        wl.open(spark)
        legs[cores] = timed(wl.run_pass, ledger, wl, wl.n_ops)[0]
        spark.stop()
    return legs[1] / (CORES * legs[CORES])


#: per-layer metrics common to every workload, with units (0 where a layer
#: does no work on a workload)
LAYER_UNITS = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s", "spark.input_mb": "MiB",
    "spark.shuffle_write_mb": "MiB", "spark.spill_mb": "MiB",
    "spark.python_worker_s": "s", "spark.python_bytes_mb": "MiB",
    "driver.cpu_s": "s", "jvm.cpu_s": "s", "host.steal_ticks": "count",
    "metrics.resolve_s": "s", "metrics.resolve_calls": "count", "metrics.jobs": "count",
    "validator.validate_s": "s", "validator.self_s": "s",
    "spans.violations_s": "s", "spans.violation_rows": "count",
    "fused.validate_and_extract_s": "s", "fused.corpus_scans": "count",
    "summarize.suite_violations_s": "s",
    "runner.run_s": "s", "runner.partition_s": "s", "runner.partitions_run": "count",
    "runner.partitions_skipped": "count",
    "store.append_s": "s", "store.append_calls": "count", "store.append_rows_s": "s",
    "store.append_small_s": "s", "store.commit_s": "s", "store.committed_scan_s": "s",
    "store.bytes_mb": "MiB", "store.files": "count",
    "states.column_states_s": "s", "states.histogram_states_s": "s",
    "sketches.mg_states_s": "s", "sketches.quantile_states_s": "s",
    "sketches.mg_summarize_execs": "count",
    "trace.coverage": "ratio",
}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
