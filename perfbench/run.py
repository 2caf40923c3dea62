#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The lines before it print the same figures for a reader.
See perfbench/README.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

WORKLOADS = ("ask", "catalog")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's peak-RSS record of ``pid`` at its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of ``pid`` since start or the last reset."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. With fewer than 25 samples that percentile would
    be below the 60th, and the tail is the upper quartile instead: with a
    handful of samples the maximum moves with every burst of load on the
    host."""
    s = sorted(samples)
    if len(s) < 25:
        if len(s) == 1:
            return s[0], 100.0
        return statistics.quantiles(s, n=4, method="inclusive")[2], 75.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def spark_cores() -> int:
    """Task threads for Spark: half the cores this process may use. The
    rest are left to the JIT compiler, the garbage collector, the Python
    process and its workers, so a stage does not wait on a thread the
    scheduler has parked."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


class Context:
    def __init__(self, args, work):
        self.seed, self.work, self.trace = args.seed, work, bool(args.trace)
        self.spark = self.jobs = self.tracer = None
        self.cores = spark_cores()


def prepare_environment(work: str) -> dict[str, str]:
    """Keep every file Spark, Python and the program write inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(work)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=60)


def overhead_share(pairs: list[tuple[float, bool]]) -> float:
    """Summed traced over summed untraced time, minus one, over equal counts."""
    traced = [t for t, tr in pairs if tr]
    plain = [t for t, tr in pairs if not tr]
    k = min(len(traced), len(plain))
    return sum(traced[:k]) / sum(plain[:k]) - 1.0 if k else 0.0


#: Every per-layer metric, in the order BENCHMARK.json lists them. A
#: layer the workload does not use reads 0.
PER_LAYER = [
    "io.load_s", "io.load_jobs", "io.load_s.parquet", "io.load_s.csv", "io.load_s.json_lines",
    "io.load_s.json_array", "io.load_s.xlsx", "profile.profile_s", "profile.jobs",
    "registry.register_s", "registry.activate_s", "nl2sql.generate_s", "executor.gate_s",
    "executor.execute_s", "executor.jobs", "executor.rows_out", "executor.truncated_share",
    "formatter.format_s", "metadata.save_file_s", "metadata.get_file_s", "metadata.save_chat_s",
    "webapp.upload_self_s", "webapp.ask_self_s", "webapp.upload_s", "webapp.ask_s",
    "engine.analyze_file_s", "engine.answer_s", "daemon_warm.pool_touch_s",
    "catalog.build_s", "catalog.build_jobs", "catalog.collect_s", "catalog.jobs",
    "catalog.multimodal_s", "catalog.sql_s", "catalog.python_s", "oracle.duckdb_s",
    "jobs.question", "jobs.upload", "jobs.pass", "session.get_spark_s", "session.warmup_s",
    "memory.peak_rss_mb", "trace.overhead_share",
]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ai_duckdb_spark", "__init__.py")):
        print(f"perfbench: no ai_duckdb_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = prepare_environment(work)
    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        return run(args, work, extra_conf)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, extra_conf: dict[str, str]) -> int:
    import catalog_bench
    import product
    from tracer import JobCounter, Tracer, mean, self_time_gap

    ctx = Context(args, work)
    layers: dict[str, float] = {}

    t0 = time.perf_counter()
    from ai_duckdb_spark.session import get_spark

    ctx.spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=extra_conf)
    layers["session.get_spark_s"] = time.perf_counter() - t0
    try:
        ctx.jobs = JobCounter(ctx.spark)
        ctx.tracer = tracer = Tracer(ctx.jobs)
        w = {"ask": product.Ask, "catalog": catalog_bench.Catalog}[args.workload](ctx)
        w.setup()
        t0 = time.perf_counter()
        w.warmup()
        layers["session.warmup_s"] = time.perf_counter() - t0
        setup_s = process_age_s()
        pids = (os.getpid(), int(ctx.spark._jvm.java.lang.ProcessHandle.current().pid()))  # noqa: SLF001
        for pid in pids:  # the peak below is the measured window's
            reset_peak_rss(pid)
        probe = w.defect_probe() if hasattr(w, "defect_probe") else None

        if ctx.trace:
            w.instrument(tracer)
        w.measure(args.seconds, paired=ctx.trace)
        tracer.unwrap_all()
        failures, attempted, pairs, op_jobs = w.outcome()
        samples = w.samples()
        rss = sum(peak_rss_mb(pid) for pid in pids)
    finally:
        stop_spark(ctx.spark)

    tail_v, tail_pct = tail(samples)
    e2e = {"setup_s": (setup_s, "s"), "p50_s": (statistics.median(samples), "s"),
           "tail_s": (tail_v, "s")}

    if ctx.trace:
        per = dict.fromkeys(PER_LAYER, 0.0)
        per.update(w.layers(tracer))
        per.update((name, mean(counts)) for name, counts in op_jobs.items())
        per.update(layers)
        per["memory.peak_rss_mb"] = rss
        per["trace.overhead_share"] = overhead_share(pairs)
        # each request's (or catalog entry's) self times add up to its duration
        gaps = [self_time_gap(tracer.spans, r) for r in tracer.roots()]
        attempted += len(gaps)
        failures += [f"span self times miss their root by {g:.3g} s" for g in gaps if g > 1e-6]
        metrics = {k: (v, _unit(k)) for k, v in per.items()}
        os.makedirs(RUN_DIR, exist_ok=True)
        with open(os.path.join(RUN_DIR, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "op_jobs": op_jobs,
                       "spans": tracer.dump()}, fh)
    else:
        metrics = e2e

    failed = len(failures)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"spark cores {ctx.cores} of {len(os.sched_getaffinity(0))}  samples {len(samples)}")
    for name, (value, unit) in e2e.items():
        print(f"  {name:<28} {value:14.6f} {unit}")
    print(f"  {'tail percentile':<28} {tail_pct:14.1f} % of {len(samples)} samples")
    print(f"  {'in time order':<28} {' '.join(f'{v:.3f}' for v in w.trend())} s")
    print(f"  {'memory.peak_rss_mb':<28} {rss:14.6f} MB")
    print(f"  {'failed_share':<28} {failed / max(1, attempted):14.6f} ({failed} of {attempted})")
    for name, counts in op_jobs.items():
        print(f"  {name:<28} {mean(counts):14.3f} per op  {counts[:12]}")
    if hasattr(w, "oracle_s"):
        print(f"  {'oracle.duckdb_s':<28} {w.oracle_s:14.6f} s")
    if probe:
        print(f"  known defect probe: {probe}")
    if ctx.trace:
        for name, (value, unit) in metrics.items():
            print(f"  {name:<28} {value:14.6f} {unit}")
    for reason in failures[:20]:
        print(f"  FAILED {reason}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_share"):
        return "ratio"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name == "executor.rows_out":
        return "rows"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
