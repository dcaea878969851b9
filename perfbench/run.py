"""Benchmark entry point.

    python3 perfbench/run.py --workload bam_etl --seed 1 --seconds 12 --trace 0

Run from the repository root (or any checkout of it). Inputs, Spark scratch
space and a JSON record of each run live under ``.perfbench/`` there. The
last line of standard output is the result object; the lines before it
give every metric with its unit and sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

OPS = ("scan_full", "scan_proj", "region", "arrow_region", "write")
#: each op's share of the timed loop's wall time. One region query or
#: Arrow read varies ~15% from the next on a shared host, so these cheap
#: ops get ~10 reps each per run and their medians are steady
SHARES = {"scan_full": 0.125, "scan_proj": 0.125, "region": 0.25,
          "arrow_region": 0.25, "write": 0.25}
#: untimed warm-up reps per op, after the scans' output checks. The first
#: region queries of a session run slower than later ones, and a noop scan
#: right after the checks still runs ~25% slower than the next
WARMUP = {"write": 1, "region": 3, "arrow_region": 2, "scan_full": 1,
          "scan_proj": 1}
#: the loop runs on past ``--seconds`` until every op has this many timed
#: reps, so no run's median rests on a single rep
MIN_REPS = 2
SESSIONS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes (not for measurement)")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and size the driver heap for a shared host."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")


class Bench:
    def __init__(self, args, work: str):
        from harness import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.nproc = os.cpu_count() or 1
        self.wl = WORKLOADS[args.workload](
            os.path.join(work, "cache"), args.seed, args.tiny)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.setups: list[float] = []
        self.warmups: list[float] = []
        self.hwm = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        self.spark = None

    def open_session(self, runner, event_log: str | None = None):
        """One set-up: get_spark + register_all + a first DataFrame build."""
        from harness import session_conf
        from oxbow_spark.session import get_spark
        from oxbow_spark.sources.register import register_all

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            spark = get_spark("perfbench", cpus=self.nproc,
                              extra_conf=session_conf(self.work, event_log))
        with self.tracer.span("session.register_all"):
            register_all(spark)
        runner.run(spark, "setup_build", self.wl.setup_op(spark), timed=False)
        self.setups.append(time.perf_counter() - t0)
        self.spark = spark
        return spark

    def close_session(self) -> None:
        from harness import process_hwm_mb

        for k, v in process_hwm_mb().items():
            self.hwm[k] = max(self.hwm[k], v)
        self.spark.stop()
        self.spark = None

    def measure(self, spark, runner, seconds: float) -> float:
        """The untimed warm-up (the scans' output checks, then ``WARMUP``
        reps), then the closed loop until ``seconds`` have passed and every
        op has ``MIN_REPS`` timed reps. The loop always runs the op furthest
        below its ``SHARES`` of the time spent so far, so each op gets the
        same share of every run however fast the run goes. Returns the
        loop's wall time."""
        reps = dict.fromkeys(OPS, 0)

        def one(name, timed):
            op = self.wl.ops(spark, self.tracer, reps[name])[name]
            reps[name] += 1
            runner.run(spark, name, op, timed=timed)

        t0 = time.perf_counter()
        for name, op in self.wl.checks(spark).items():
            runner.run(spark, name, op, timed=False)
        for name, n in WARMUP.items():
            for _ in range(n):
                one(name, False)
        self.warmups.append(time.perf_counter() - t0)
        spent = dict.fromkeys(OPS, 0.0)
        n_timed = dict.fromkeys(OPS, 0)
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds
               or min(n_timed.values()) < MIN_REPS):
            name = min(OPS, key=lambda k: spent[k] / SHARES[k])
            t1 = time.perf_counter()
            one(name, True)
            spent[name] += time.perf_counter() - t1
            n_timed[name] += 1
        return time.perf_counter() - t0

    def shutdown_jvm(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def e2e_metrics(bench, runner) -> list[tuple[str, float, str, int]]:
    from harness import median, rate

    s = runner.samples
    ms = lambda name: median([x.seconds * 1e3 for x in s[name]])  # noqa: E731
    hwm = bench.hwm
    return [
        ("setup_s", median(bench.setups), "s", len(bench.setups)),
        ("warmup_s", median(bench.warmups), "s", len(bench.warmups)),
        ("peak_rss_mb", hwm["jvm"] + hwm["driver"] + hwm["worker"], "MB", 1),
        ("scan_full_rec_s", rate(s["scan_full"]), "rec/s", len(s["scan_full"])),
        ("scan_proj_rec_s", rate(s["scan_proj"]), "rec/s", len(s["scan_proj"])),
        ("region_p50_ms", ms("region"), "ms", len(s["region"])),
        ("arrow_region_ms", ms("arrow_region"), "ms", len(s["arrow_region"])),
        ("write_rec_s", rate(s["write"]), "rec/s", len(s["write"])),
    ]


def run_untraced(bench):
    from harness import Runner, cpu_jiffies, steal_pct

    runner = Runner(bench.tracer)
    for _ in range(SESSIONS - 1):
        bench.open_session(runner)
        bench.close_session()
    spark = bench.open_session(runner)
    j0 = cpu_jiffies()
    wall = bench.measure(spark, runner, bench.args.seconds)
    region_ms = sorted(x.seconds * 1e3 for x in runner.samples["region"])
    extra = {"measure_wall_s": wall, "steal_pct": steal_pct(j0, cpu_jiffies()),
             "region_p90_ms": region_ms[int(0.9 * (len(region_ms) - 1))],
             "region_samples": len(region_ms)}
    bench.close_session()
    return e2e_metrics(bench, runner), runner, extra


def run_traced(bench):
    """Session 1 cold set-up; session 2 measures with tracing off; session 3
    measures with spans and a Spark event log, then splits the write. The
    one-thread layer probes run after the last session."""
    from harness import (Runner, cpu_jiffies, jvm_gc_seconds, median,
                         parse_event_log, steal_pct)
    from layers import probe_files

    tr = bench.tracer
    plain, traced = Runner(tr), Runner(tr)
    tr.enabled = True
    bench.open_session(plain)
    bench.close_session()
    tr.enabled = False
    spark = bench.open_session(plain)
    bench.measure(spark, plain, bench.args.seconds / 2)
    bench.close_session()
    tr.enabled = True
    log_dir = os.path.join(bench.work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = bench.open_session(traced, event_log=log_dir)
    app = spark.sparkContext.applicationId
    j0, gc0 = cpu_jiffies(), jvm_gc_seconds(spark)
    bench.measure(spark, traced, bench.args.seconds / 2)
    steal = steal_pct(j0, cpu_jiffies())
    gc_s = jvm_gc_seconds(spark) - gc0
    parts_s, cat_s = bench.wl.parts_then_cat(spark)
    bench.close_session()
    log = parse_event_log(os.path.join(log_dir, app))

    s = traced.samples
    scan_wall = median([x.seconds for x in s["scan_full"]])
    layer = probe_files(bench.wl, scan_wall)
    scans = [log[x.group]["task_s"] for x in s["scan_full"] if x.group in log]
    writes = [log[x.group]["shuffle_bytes"] for x in s["write"] if x.group in log]
    ratios = [median([x.seconds for x in s[op]])
              / median([x.seconds for x in plain.samples[op]]) for op in OPS]
    spans = lambda name: median(tr.durations(name))  # noqa: E731
    last_write = bench.wl.last_write
    layer.update({
        "session.get_spark_s": spans("session.get_spark"),
        "session.register_all_ms": 1e3 * spans("session.register_all"),
        "api.to_spark_ms": 1e3 * spans("api.to_spark"),
        "api.plan_ms": 1e3 * spans("api.plan"),
        "api.exec_ms": 1e3 * spans("api.exec"),
        "scan.tasks": len(scans[0]),
        "scan.task_p50_s": median([statistics.median(t) for t in scans]),
        "scan.task_max_s": median([max(t) for t in scans]),
        "sinks.parts_s": parts_s,
        "cat.splice_s": cat_s,
        "write.shuffle_mb": median(writes) / 1e6,
        "write.bytes_per_rec": os.path.getsize(last_write) / s["write"][-1].records,
        "jvm.gc_s": gc_s,
        "jvm.peak_rss_mb": bench.hwm["jvm"],
        "driver.peak_rss_mb": bench.hwm["driver"],
        "worker.peak_rss_mb": bench.hwm["worker"],
        "host.steal_pct": steal,
        "trace.overhead_pct": 100.0 * (median(ratios) - 1.0),
    })
    runner = Runner(tr, attempted=plain.attempted + traced.attempted,
                    failed=plain.failed + traced.failed,
                    errors=plain.errors + traced.errors)
    return layer, runner, {"untraced": e2e_metrics(bench, plain)}


def _num(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def main(argv=None) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # str hashing is randomised per process, and the driver-side reads
        # differ by ~12% between hash seeds; Spark already pins its Python
        # workers to seed 0, so pin the driver to the same
        os.execve(sys.executable, [sys.executable, *sys.argv],
                  {**os.environ, "PYTHONHASHSEED": "0"})
    if not os.path.isdir(os.path.join(ROOT, "oxbow_spark")):
        print(f"perfbench: no oxbow_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench")
    prepare_env(work)
    from harness import host_record
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    bench = Bench(args, work)
    prepare_s = time.perf_counter() - t0
    try:
        if args.trace:
            metrics, runner, extra = run_traced(bench)
            shown = [(k, v, "", 1) for k, v in metrics.items()]
        else:
            shown, runner, extra = run_untraced(bench)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        bench.shutdown_jvm()
        shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)

    units = {m["name"]: m["unit"] for m in _declared(args.trace)}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host_record(),
        "input_gen_s": bench.wl.gen_s, "prepare_s": prepare_s,
        "setups_s": bench.setups, "warmups_s": bench.warmups,
        "peak_rss_mb": bench.hwm, "extra": extra,
        "samples": {k: [vars(x) for x in v] for k, v in runner.samples.items()},
        "errors": runner.errors, "spans": bench.tracer.spans,
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, default=str)
    for e in runner.errors:
        print(e, file=sys.stderr)
    for name, value, unit, n in shown:
        print(f"{name:30s} {value!s:>22} {unit or units.get(name, ''):6s} n={n}")
    print(f"# input generation {bench.wl.gen_s:.2f} s (excluded), "
          f"attempted {runner.attempted}, failed {runner.failed}, "
          f"host {record['host']}")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": _num(value), "unit": units.get(name, unit)}
                    for name, value, unit, _ in shown if name in units},
    }
    print(json.dumps(result))
    return 0


def _declared(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


if __name__ == "__main__":
    sys.exit(main())
