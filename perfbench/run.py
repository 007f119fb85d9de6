"""Transcript-validation benchmark: one workload per invocation.

    python3 perfbench/run.py --workload fused_protocol --seed 1 \\
        --seconds 10 --trace 0 [--record results.jsonl]

Runs from the root of a checkout of the repository. It starts a
``local[k]`` session (``k = min(4, nproc)``), generates the workload's
input from the seed, runs warm-up ops, then runs the op closed-loop for
``--seconds`` and checks the output. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it print every metric by name and unit. The exit code is 0
only when every op succeeded and the output check passed.

Everything the run writes lives under ``.perfbench/`` in the checkout; the
per-run scratch directory is removed at exit, span files are kept in
``.perfbench/traces/``.
"""

from __future__ import annotations

import time

START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"turns_per_s": "1/s", "peak_rss_mb": "MB", "setup_s": "s"}
LAYER_UNITS = {
    "plans.compile_s": "s", "plans.expr_nodes": "count",
    "functions.render_s": "s", "functions.rendered_rows": "count",
    "functions.render_ratio": "ratio",
    "runner.exec_s": "s", "runner.flagged_rows": "count",
    "runner.codegen_stages": "count",
    "pipeline.cross_row_s": "s", "pipeline.window_exprs": "count",
    "pipeline.sort_s": "s", "pipeline.shuffle_bytes_per_turn": "B/turn",
    "pipeline.spill_bytes": "B",
    "scan.s": "s", "scan.bytes": "B",
    "ledger.chunk_s_p50": "s", "ledger.chunk_s_max": "s",
    "ledger.jobs_per_chunk": "count", "ledger.bytes_written": "B",
    "spark.gc_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "trace.overhead_frac": "ratio",
}


def start_session(workdir: str):
    from pyspark.sql import SparkSession
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    spark = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # the heap starts at its maximum, so no op pays for growing it
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -Xms2g")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "wh"))
        # four tasks per core in every stage: with one, a stage waits for
        # its slowest vCPU, and a shared host slows some vCPUs more than
        # others
        .config("spark.default.parallelism", str(4 * cores))
        .config("spark.sql.shuffle.partitions", str(4 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pin_driver(spark) -> None:
    """Run this thread and the JVM thread that serves its py4j calls on one
    CPU, the last this process may use. Building a plan is about 6,000 py4j
    round trips; on one CPU each is a context switch, across CPUs each wakes
    another vCPU, which a busy host may be slow to run."""
    cpu = max(os.sched_getaffinity(0))
    served_by = spark._jvm.java.io.File("/proc/thread-self").getCanonicalPath()
    os.sched_setaffinity(int(served_by.rsplit("/", 1)[1]), {cpu})
    # pid 0 is the calling thread alone; Spark's other threads stay free
    os.sched_setaffinity(0, {cpu})


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -- memory -----------------------------------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus its Python workers, read
    at the end of the timed ops from each process's high-water mark
    (``VmHWM``). Read once rather than sampled: a sampling thread in this
    process would hold the GIL against the driver's py4j calls."""
    pids = [jvm_pid] + _descendants(jvm_pid)
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


# -- op loop -----------------------------------------------------------------
@dataclass
class Op:
    """Timing of op number ``i``: ``build_s`` is the driver-side plan
    build, ``op_s`` the whole op from plan build through the forced
    action."""

    i: int
    build_s: float
    op_s: float


def run_op(wl, i: int = 0) -> Op:
    t0 = time.perf_counter()
    built = wl.build()
    t1 = time.perf_counter()
    wl.run(built)
    return Op(i, t1 - t0, time.perf_counter() - t0)


def op_loop(wl, seconds: float, before=None, after=None, min_ops=1):
    """Run ops closed-loop until ``seconds`` have passed and ``min_ops``
    succeeded. Returns the successful ops and the number that raised."""
    ops, failed = [], 0
    deadline = time.monotonic() + seconds
    while len(ops) < min_ops or time.monotonic() < deadline:
        i = len(ops) + failed
        if before:
            before(i)
        try:
            ops.append(run_op(wl, i))
        except Exception:
            traceback.print_exc()
            failed += 1
            if failed >= 3 and len(ops) < min_ops:
                break
        if after:
            after(i)
    return ops, failed


# -- spark-side counters -----------------------------------------------------
def wait_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else []):
            stage = tracker.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def expr_nodes(df) -> int:
    """Catalyst expression nodes in the analyzed projection of ``df``."""
    n = 0
    it = df._jdf.queryExecution().analyzed().expressions().iterator()
    while it.hasNext():
        tree = it.next().treeString()
        n += 1 + len(re.findall(r"^[ :|]*[+:]- ", tree, re.M))
    return n


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- end-to-end run ------------------------------------------------------------
def cpu_steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 \
        else 0.0


def measure(spark, wl, seconds: float) -> tuple[dict, int, int, list]:
    steal0, t0 = cpu_steal_s(), time.monotonic()
    ops, failed = op_loop(wl, seconds)
    # context for a slow run: py4j round trips in plan building suffer
    # most when the host deschedules this guest's CPUs
    metrics = {"cpu_steal_s": cpu_steal_s() - steal0}
    print(f"# cpu steal during the timed ops: {metrics['cpu_steal_s']:.2f} "
          f"CPU-s in {time.monotonic() - t0:.1f} s")
    n = len(ops)
    if ops:
        metrics.update({
            "turns_per_s": wl.turns / median([o.op_s for o in ops]),
            "compile_s": median([o.build_s for o in ops]),
            "peak_rss_mb": peak_rss_mb(wl.jvm_pid),
        })
    return metrics, n + failed, failed, ops


# -- traced run ----------------------------------------------------------------
class Counters:
    """Spark-side counters around one traced call: its SQL executions,
    jobs, tasks and JVM GC time."""

    def __init__(self, spark, store, label: str) -> None:
        self.spark, self.store, self.label = spark, store, label

    def __enter__(self):
        wait_listeners(self.spark)
        self.last = self.store.last_id()
        self.gc0 = gc_seconds(self.spark)
        self.spark.sparkContext.setJobGroup(self.label, self.label)
        return self

    def __exit__(self, *exc):
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        wait_listeners(self.spark)
        self.execs = self.store.executions_after(self.last)
        self.gc_s = gc_seconds(self.spark) - self.gc0
        self.jobs, self.tasks = jobs_and_tasks(self.spark, self.label)
        return False

    def total(self, prefix: str, metric: str) -> float:
        return sum(e.metric(prefix, metric) for e in self.execs)

    def count(self, prefix: str) -> int:
        return sum(len(e.find(prefix)) for e in self.execs)


def traced(spark, wl, seconds: float) -> tuple:
    """Per-layer metrics. The op runs again with spans around every
    public call and Spark's SQL metrics read per op; then each layer's
    public call is forced alone on the same input (a probe)."""
    import sparkmetrics
    import workloads
    from spans import Tracer
    from json_schema_rs_spark.operators import pipeline
    from json_schema_rs_spark.operators.runner import ValidationEngine
    from json_schema_rs_spark.plans.compiler import compile_table_spec
    from json_schema_rs_spark.plans.spec import parse_spec
    import gen

    store = sparkmetrics.StatusStore(spark)
    tracer = Tracer()
    df, keys, turns = wl.df, ["conv_id", "turn_idx"], wl.turns
    op_counters = []

    # even ops run traced, odd ops untraced: their medians give the
    # tracing overhead without the drift of a warming JVM between them
    def before(i):
        if i % 2:
            return
        tracer.install()
        tracer.op = i
        wl.build = tracer.wrap(type(wl).build.__get__(wl), "bench.build",
                               "bench")
        wl.run = tracer.wrap(type(wl).run.__get__(wl), "bench.action",
                             "spark")
        op_counters.append(Counters(spark, store, f"perfbench-op-{i}"))
        op_counters[-1].__enter__()

    def after(i):
        if i % 2:
            return
        op_counters[-1].__exit__(None, None, None)
        del wl.build, wl.run
        tracer.uninstall()

    def probe(name, build):
        """Seconds of forcing ``build()`` once, and its counters."""
        with tracer.span(name, "bench"), \
                Counters(spark, store, f"perfbench-{name}") as c:
            t0 = time.perf_counter()
            workloads.force(build())
            return time.perf_counter() - t0, c

    ops, failed = op_loop(wl, seconds, before, after, min_ops=2)
    if len(ops) < 2 or not op_counters[-1].execs:
        raise RuntimeError("the traced ops failed")
    tracer.install()
    try:
        tracer.op = -1
        compile_s = []
        for _ in range(5):
            t0 = time.perf_counter()
            plan = compile_table_spec(parse_spec(wl.spec), df.schema)
            compile_s.append(time.perf_counter() - t0)
        nodes = expr_nodes(plan.prepare(df).select(
            plan.violations_array().alias("a"),
            plan.any_violation().alias("b")))
        engine = ValidationEngine(wl.spec)
        exec_s, v = probe("probe.validate",
                          lambda: engine.validate(df).violations)
        filter_s, _ = probe("probe.filter", lambda: plan.prepare(df)
                            .filter(plan.any_violation()).select(*keys))
        cross_s, x = probe("probe.cross_row",
                           lambda: pipeline.cross_row_violations(
                               df, role_protocol=gen.PROTOCOL,
                               tool_pairing=True))
        # the ledger's cost is per Spark job more than per row: one input
        # file keeps the probe short without changing its jobs
        ledger_dir = os.path.join(wl.workdir, "ledger-probe")
        ledger_in = wl.read_files(1)
        with tracer.span("probe.ledger", "bench"), \
                Counters(spark, store, "perfbench-ledger") as led:
            workloads.checkpointed_run(spark, ledger_in, ledger_dir)
    finally:
        tracer.uninstall()
    chunk_s = workloads.chunk_seconds(spark, ledger_dir)
    ledger_bytes = workloads.dir_bytes(ledger_dir)
    shutil.rmtree(ledger_dir, ignore_errors=True)

    last = op_counters[-1]
    flagged = 0
    for e in v.execs:
        for g in e.find("Generate"):
            f = e.first_below(g, "Filter")
            flagged += f.metrics.get("number of output rows", 0) if f else 0
    scanned = last.total("Scan", "number of output rows")
    rendered = last.total("Generate", "number of output rows")
    metrics = {
        "plans.compile_s": median(compile_s),
        "plans.expr_nodes": nodes,
        "functions.render_s": exec_s - filter_s,
        "functions.rendered_rows": rendered,
        "functions.render_ratio": rendered / scanned if scanned else 0.0,
        "runner.exec_s": exec_s,
        "runner.flagged_rows": flagged,
        "runner.codegen_stages": last.count("WholeStageCodegen"),
        "pipeline.cross_row_s": cross_s,
        "pipeline.window_exprs": sum(
            n.desc.count("windowspecdefinition")
            for e in x.execs for n in e.find("Window")),
        "pipeline.sort_s": x.total("Sort", "sort time"),
        "pipeline.shuffle_bytes_per_turn":
            x.total("Exchange", "shuffle bytes written") / turns,
        "pipeline.spill_bytes": x.total("Sort", "spill size"),
        "scan.s": last.total("Scan", "scan time"),
        "scan.bytes": last.total("Scan", "size of files read"),
        "ledger.chunk_s_p50": median(chunk_s),
        "ledger.chunk_s_max": max(chunk_s),
        "ledger.jobs_per_chunk": led.jobs / workloads.N_CHUNKS,
        "ledger.bytes_written": ledger_bytes,
        "spark.gc_s": median([c.gc_s for c in op_counters]),
        "spark.jobs": last.jobs,
        "spark.tasks": last.tasks,
        "trace.overhead_frac":
            median([o.op_s for o in ops if o.i % 2 == 0])
            / median([o.op_s for o in ops if o.i % 2]) - 1.0,
    }
    # where the cross-row probe's task time goes: each codegen stage's
    # duration includes the operators it pulls rows from (Window runs
    # outside codegen, inside the stage above it)
    for e in x.execs:
        for n in e.find("WholeStageCodegen"):
            ops_in = [e.nodes[m].name for m in n.members]
            below = [c.name for m in n.members for c in
                     (e.nodes[k] for k in e.nodes[m].children)
                     if c.id not in n.members]
            print(f"# cross-row probe {n.name}: "
                  f"{n.metrics.get('duration', 0.0):.3f} s task time in "
                  f"{ops_in} over {below}")
    for layer, secs in sorted(tracer.self_times().items()):
        print(f"# self time {layer}: {secs:.4f} s "
              f"({len(ops)} traced ops and the probes)")
    return metrics, tracer, len(ops) + failed, failed


# -- main ----------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the result as a JSON line")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "json_schema_rs_spark")):
        print("perfbench: no json_schema_rs_spark package next to "
              "perfbench/; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    spark = None
    try:
        spark = start_session(workdir)
        wl = WORKLOADS[args.workload](spark, args.seed, workdir)
        wl.setup()
        # not before generation, whose parquet writer threads would
        # inherit the pin
        pin_driver(spark)
        wl.warmup()
        # input generation is the benchmark's own work, not the program's
        setup_s = time.monotonic() - START - wl.gen_s
        tracer = None
        if args.trace:
            metrics, tracer, attempted, failed = traced(
                spark, wl, args.seconds)
        else:
            metrics, attempted, failed, ops = measure(spark, wl, args.seconds)
            metrics["setup_s"] = setup_s
        problems = (wl.check() if attempted > failed
                    else ["every op failed"])
        if tracer is not None:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    correct = not problems
    for p in problems:
        print(f"perfbench: output check failed: {p}", file=sys.stderr)
    if not correct:
        failed = attempted
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(f"# workload {args.workload} seed {args.seed}: {wl.turns} turns, "
          f"{attempted} ops attempted, {failed} failed")
    print(f"# input generation {wl.gen_s:.3f} s (not in setup_s)")
    for name, unit in units.items():
        if name in metrics:
            print(f"# {name} {metrics[name]:.6g} {unit}")
    if not args.trace:
        print(f"# compile_s {metrics.get('compile_s', 0.0):.6g} s")
        print("# bytes_written_per_turn n/a (noop sink)")
        print("# batch_s_p50 n/a (no streaming workload in this build)")
        print(f"# failed_frac {failed / attempted:.6g} (n={attempted})")
        print(f"# ops timed: {len(ops)}; op_s median "
              f"{median([o.op_s for o in ops]):.4f} s")
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items() if k in metrics},
    }
    if args.record:
        rec = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "result": result}
        if not args.trace:
            rec["op_s"] = [o.op_s for o in ops]
            rec["build_s"] = [o.build_s for o in ops]
            rec["cpu_steal_s"] = metrics["cpu_steal_s"]
        with open(args.record, "a") as f:
            f.write(json.dumps(rec) + "\n")
    print(json.dumps(result))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
