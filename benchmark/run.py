"""petk_spark benchmark: one workload, one seed, one session.

    python3 benchmark/run.py --workload profile --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` into a scratch directory inside the checkout, builds one
Spark session on ``local[<cores>]``, runs passes of the workload for
``--seconds`` seconds (at least one; a pass starts only if it should end
in time), checks every result
against the planted ground truth and prints one JSON line as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` turns tracing on (Spark UI, job groups, spans) and reports
its per-layer metrics instead. ``--spans FILE`` also writes every span
and attributed job of a traced run to FILE. The scratch directory is
removed at exit, and the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import pandas as pd

import workloads
from tracing import Tracer, layer_metrics, ref_ratio

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def driver_memory() -> str:
    """A quarter of the host's memory, at most 4 GiB: the driver shares
    the host with the Python workers and the OS page cache."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and of ``root_pid`` with all its living descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while listing
            stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    tree, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += [c for c, (ppid, _) in stats.items() if ppid == pid and c not in tree]
    own = os.times()
    return (sum(stats[p][1] for p in tree if p in stats) / tick
            + own.user + own.system)


def jobs_run(spark) -> int:
    """Spark jobs this session has run so far (of every job group)."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def build_session(scratch: str, trace: bool):
    from petk_spark.session import recommended_builder

    cores = os.cpu_count() or 1
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, d))
    # Spark's block manager, shuffle files and Python temp files go to
    # the run's scratch directory, not the host's /tmp.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    tempfile.tempdir = None
    spark = (
        recommended_builder(f"local[{cores}]", cores)
        .appName("petk-benchmark")
        .config("spark.driver.memory", driver_memory())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.local.dir", os.path.join(scratch, "local"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"
                f" -Dderby.system.home={os.path.join(scratch, 'tmp')}"
                # no hsperfdata file under the host's /tmp
                " -XX:-UsePerfData"
                # C1 only: a pass is no longer raced by background C2
                # compiles, whose timing makes a pass on a fresh JVM
                # spread far more than the bounds (see README)
                " -XX:TieredStopAtLevel=1")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .config("spark.sql.streaming.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core with pandas and pyarrow loaded."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, cores * 64, numPartitions=cores).select(
        plus_one("id")).collect()


REFERENCE_GROUP = "bench-reference"


def reference_job(spark, cores: int):
    """A fixed Spark job that runs no engine code: a pandas UDF and a
    30-column JVM aggregate over one partition per core, analysed,
    planned and run afresh each time, as the engine's own jobs are.
    Timed before every operation of a pass, it measures how fast the
    host runs Spark at that moment. Returns the function that runs it
    once."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def mix(s: pd.Series) -> pd.Series:
        return (s * 2654435761 % 1000003).astype("float64").pow(0.5)

    sc = spark.sparkContext

    def run() -> None:
        sc.setJobGroup(REFERENCE_GROUP, "engine-free reference job")
        try:
            df = spark.range(0, 5_000 * cores, numPartitions=cores)
            cols = [(F.col("id") * k % 97).alias(f"c{k}") for k in range(1, 31)]
            df.select(mix("id").alias("x"), *cols).agg(
                F.max("x"), *[F.sum(f"c{k}") for k in range(1, 31)]).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return run


def reference_jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(REFERENCE_GROUP))


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit,
    also when stopping Spark itself fails."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(p, value) for the highest of these percentiles that has at
    least ten samples beyond it; (0, max) when there are too few."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            k = min(n - 1, int(round(p / 100 * (n - 1))))
            return p, xs[k]
    return 0.0, xs[-1] if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help=argparse.SUPPRESS)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args(argv)

    t_start = process_start()
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    import petk_spark  # noqa: F401  -- fails here without the engine

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    trace = bool(args.trace)
    os.makedirs(os.path.join(ROOT, ".bench_scratch"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".bench_scratch"))
    spark = None
    try:
        spark, cores = build_session(scratch, trace)
        warm_workers(spark, cores)
        session_s = time.time() - t_start

        tr = Tracer(spark, args.workload, trace)
        tr.wrap_engine()
        rec = workloads.Recorder()
        wl = workloads.WORKLOADS[args.workload](
            spark, tr, rec, scratch, args.seed, args.size)
        root = os.path.join(scratch, "inputs")
        os.makedirs(root)
        wl.setup(root)
        setup_s = time.time() - t_start

        jvm_pid = spark.sparkContext._gateway.proc.pid
        tr.cpu_clock = lambda: tree_cpu_s(jvm_pid)
        tr.reference = reference_job(spark, cores)
        for _ in range(2):  # compile its code once, outside set-up
            tr.reference()
        jobs0, ref_jobs0 = jobs_run(spark), reference_jobs(spark)
        deadline = time.perf_counter() + args.seconds
        n = 0
        while True:  # the next pass starts only if it should end in time
            n += 1
            tr.pass_no = n
            t0 = time.perf_counter()
            wl.run_pass(n)
            tr.time_reference()
            took = time.perf_counter() - t0
            if time.perf_counter() + took > deadline:
                break

        pass_jobs = (jobs_run(spark) - jobs0
                     - (reference_jobs(spark) - ref_jobs0)) / n
        py_rss = vm_hwm_mb("self")
        jvm_rss = vm_hwm_mb(jvm_pid)
        rss = py_rss + jvm_rss
        walls = [sum(tr.pass_walls[k]) for k in sorted(tr.pass_walls)]
        cpus = [sum(tr.pass_cpus[k]) for k in sorted(tr.pass_cpus)]
        ratios = [ref_ratio(tr.pass_walls[k], tr.pass_refs[k]) for k in sorted(tr.pass_walls)]
        refs = [t for k in sorted(tr.pass_refs) for t in tr.pass_refs[k]]
        pass_cpu_s = statistics.median(cpus)
        ref_s = statistics.median(refs)
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_ref_ratio": (statistics.median(ratios), "ratio"),
            "jobs_per_pass": (pass_jobs, "count"),
            "ok_share": (1 - rec.failed / rec.attempted, "ratio"),
        }
        print(f"# {args.workload} seed={args.seed} passes={n} "
              f"session_s={session_s:.2f} setup_s={setup_s:.2f} "
              f"rss_mb=python {py_rss:.0f} + jvm {jvm_rss:.0f} "
              f"passes_s={[round(p, 2) for p in walls]} "
              f"passes_cpu_s={[round(p, 2) for p in cpus]} "
              f"ref_s={ref_s:.3f} of {[round(t, 3) for t in refs]} "
              f"pass_ref_ratio={[round(r, 2) for r in ratios]} "
              f"failed_share={rec.failed / rec.attempted:.4f}", file=sys.stderr)
        for op, ts in sorted(tr.op_times.items()):
            print(f"#   {op:15s} median {statistics.median(ts):8.3f} s "
                  f"of {[round(t, 3) for t in ts]}, CPU "
                  f"{[round(t, 2) for t in tr.op_cpu[op]]}", file=sys.stderr)
        if trace:
            tr.unwrap_engine()
            jobs = tr.collect_jobs()
            metrics = per_layer(tr, rec, wl, jobs, n, rss)
            metrics["spark.ref_s"] = (ref_s, "s")
            metrics["spark.cpu_s"] = (pass_cpu_s, "s")
            if args.spans:
                with open(args.spans, "w") as f:
                    json.dump({"workload": args.workload, "seed": args.seed,
                               "passes": n,
                               "end_to_end": {k: v[0] for k, v in e2e.items()},
                               "spans": tr.spans, "jobs": jobs}, f)
        else:
            metrics = e2e
        result = {
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def per_layer(tr, rec, wl, jobs, passes: int, rss_mb: float) -> dict:
    """The per_layer metrics of BENCHMARK.json for a traced run."""
    units = {"calls": "count", "build_s": "s", "exec_s": "s", "jobs": "count",
             "tasks": "count", "task_s": "s", "shuffle_mb": "MB"}
    out = {k: (v, units[k.split(".", 1)[1]])
           for k, v in layer_metrics(tr.spans, jobs, passes).items()}
    by_id = {s["id"]: s for s in tr.spans}

    def op_of(j):
        s = by_id.get(j["span"])
        return s["op"] if s and s["pass"] else None

    requery_in = sum(j["input_b"] for j in jobs if op_of(j) == "requery"
                     and tr.workload == "profile")
    out["report.requery_input_mb"] = (requery_in / 1e6 / passes, "MB")
    n_comp = out["components.calls"][0]
    out["components.jobs_per_call"] = (
        out["components.jobs"][0] / n_comp if n_comp else 0.0, "count")

    def med(name):
        xs = rec.extra.get(name)
        return statistics.median(xs) if xs else 0.0

    out["dedup.planted_recall"] = (med("dedup.planted_recall"), "ratio")
    out["similarity.recall_at_10"] = (med("similarity.recall_at_10"), "ratio")
    out["streaming.store_dirs"] = (med("streaming.store_dirs"), "count")
    out["driver.peak_rss_mb"] = (rss_mb, "MB")
    streamed = [j for j in jobs if op_of(j) in ("stream_profile", "stream_dedup", "store")]
    input_b = wl.truth.get("input_bytes", 0)
    out["streaming.write_amp"] = (
        sum(j["output_b"] for j in streamed) / passes / input_b if input_b else 0.0,
        "ratio")
    batches = rec.extra.get("streaming.batch_s", [])
    p, tail = tail_percentile(batches)
    out["streaming.batch_p50_s"] = (statistics.median(batches) if batches else 0.0, "s")
    out["streaming.batch_tail_s"] = (tail, "s")
    print(f"# streaming batches n={len(batches)} tail percentile={p}",
          file=sys.stderr)
    drain = sum(sum(tr.op_times.get(op, [])) for op in ("stream_profile", "stream_dedup"))
    sent = wl.truth.get("sent", 0)
    out["streaming.events_per_s"] = (2 * sent * passes / drain if drain else 0.0, "1/s")
    for op in workloads.OPS:
        ts = tr.op_times.get(op)
        out[f"op.{op}_s"] = (statistics.median(ts) if ts else 0.0, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
