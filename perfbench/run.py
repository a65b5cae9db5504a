"""Benchmark of cartography_spark at sf0.1 on ``local[<cores>]``.

    python3 perfbench/run.py --workload inventory_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives the program through its
public functions as a closed loop with one client. The run:

1. starts the SparkSession and imports the query registry (``setup_s``; once
   per run: a second fresh-process sample would cost another JVM start,
   5-8 s, which the run budget cannot carry);
2. runs pass 0 in the fresh session (``first_pass_s``), then warm passes
   until ``--seconds`` of warm passes have elapsed, at least one
   (``pass_s`` is their median);
3. checks every output against its oracle, outside the timed passes;
4. prints a summary, then one JSON line with ``correct``, ``attempted``,
   ``failed`` and the metrics: the end-to-end ones with ``--trace 0``, the
   per-layer ones (from spans and Spark status-store counters) with
   ``--trace 1``.

The full record of a run, with the host it ran on, goes to
``.perfbench_work/results/``; the spans of a traced run to
``.perfbench_work/traces/``. ``compare.py`` compares two records.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DIR = os.path.join(WORK, "run")
DRIVER_MEMORY = "4g"
JVM_EXIT_TIMEOUT_S = 120

END_TO_END = (("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"))


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit. A metric of a layer that a
    workload never enters reads 0 on that workload."""
    from workloads import Analytics

    names = [
        ("session.start_s", "s"),
        ("registry.import_s", "s"),
        ("sync_s", "s"),
        ("rules_s", "s"),
        ("drift_s", "s"),
        ("warehouse_bytes_per_input_byte", "B/B"),
        ("sync.plan_s", "s"),
        ("catalog.save_s", "s"),
        ("catalog.save.jobs", "count"),
        ("catalog.save.executor_cpu_s", "s"),
        ("catalog.save.shuffle_write_bytes", "bytes"),
        ("catalog.bytes_written", "bytes"),
        ("catalog.files_written", "count"),
        ("sync.count_s", "s"),
        ("catalog.load_s", "s"),
        ("rules.build_s", "s"),
        ("rules.eval_s", "s"),
        ("rules.eval.jobs", "count"),
        ("rules.eval.driver_only_s", "s"),
        ("rules.report_s", "s"),
        ("rules.report.jobs", "count"),
        ("rules.report.driver_only_s", "s"),
        ("drift.get_states_s", "s"),
        ("drift.detect_s", "s"),
        ("drift.jobs", "count"),
        ("drift.deviations", "count"),
    ]
    for q in Analytics.QUERIES:
        names += [
            (f"q.{q}_s", "s"),
            (f"q.{q}.jobs", "count"),
            (f"q.{q}.driver_only_s", "s"),
            (f"q.{q}.cached_bytes", "bytes"),
        ]
    names += [
        ("pass.jobs", "count"),
        ("pass.stages", "count"),
        ("pass.tasks", "count"),
        ("pass.executor_run_s", "s"),
        ("pass.executor_cpu_s", "s"),
        ("pass.jvm_gc_s", "s"),
        ("pass.shuffle_read_bytes", "bytes"),
        ("pass.shuffle_write_bytes", "bytes"),
        ("pass.spill_bytes", "bytes"),
        ("pass.input_bytes", "bytes"),
        ("pass.driver_only_s", "s"),
        ("pass.op_coverage", "share"),
        ("self.bench_s", "s"),
        ("self.sync_s", "s"),
        ("self.catalog_s", "s"),
        ("self.rules_s", "s"),
        ("self.drift_s", "s"),
        ("self.registry_s", "s"),
        ("self.spark_s", "s"),
        ("trace.pass_s", "s"),
        ("trace.overhead_s", "s"),
    ]
    return names


def pin_host() -> dict:
    """Pin the session to this host's cores, a driver heap that fits it, and
    scratch directories inside the checkout; return the host record."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(RUN_DIR, "tmp")
    local = os.path.join(RUN_DIR, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_GRAFT_MODE": "session",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
            "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM that spark-submit starts first
        }
    )
    return {
        "cpus": cpus,
        "driver_memory": DRIVER_MEMORY,
        "spark_local_dirs": os.path.relpath(local, ROOT),
        "mem_total_kb": _meminfo_total_kb(),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _meminfo_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def setup_session():
    """Start the SparkSession and import the query registry, as every CLI
    command does; return the session and the two times."""
    t0 = time.perf_counter()
    from cartography_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from cartography_spark.plans.registry import all_queries

    all_queries()
    t2 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "registry.import_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)


def summarize(samples: list[float]) -> str:
    """Median, and the highest percentile that has at least ten samples
    beyond it, with the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = f"median={statistics.median(xs):.4f} n={n}"
    if n > 10:
        out += f" p{100 * (n - 10) // n}={xs[n - 11]:.4f}"
    return out


def pass_layer_values(runner, p: dict) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    from spans import COUNTERS, union_length

    span = p["span"]
    ops = [s for s in runner.trace.children(span) if s.kind == "op"]
    jobs = [j for o in ops for j in runner.trace.children(o)]
    v: dict[str, float] = {}

    def add(key: str, x: float) -> None:
        v[key] = v.get(key, 0) + x

    for o in ops:
        add(f"{o.name}_s", o.duration)
        for c in COUNTERS + ("driver_only_s",):
            add(f"{o.name}.{c}", o.attrs[c])
        v[f"{o.name}.cached_bytes"] = o.attrs["cached_bytes"]
        for c in COUNTERS:
            add(f"pass.{c}", o.attrs[c])
        add(f"self.{o.layer}_s", o.attrs["driver_only_s"])
        add("self.spark_s", o.duration - o.attrs["driver_only_s"])
        if o.layer == "drift":
            add("drift.jobs", o.attrs["jobs"])
    for name, command, secs in p["ops"]:
        if command in ("sync", "rules", "drift"):
            add(f"{command}_s", secs)
    covered = union_length([(o.start, o.end) for o in ops], span.start, span.end)
    v["pass.op_coverage"] = covered / span.duration
    v["pass.driver_only_s"] = span.duration - union_length([(j.start, j.end) for j in jobs], span.start, span.end)
    v["self.bench_s"] = span.duration - covered
    v["trace.pass_s"] = span.duration
    v["trace.overhead_s"] = p["trace_read_s"]
    return v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", help="inventory_cycle | analytics")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0, help="warm-pass time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)  # the program under test: this checkout's package
    if not os.path.isdir(os.path.join(ROOT, "cartography_spark")):
        raise SystemExit(f"perfbench: no cartography_spark package under {ROOT}")
    from workloads import WORKLOADS, Abort, Runner

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    host = pin_host()

    spark, setup = setup_session()
    try:
        from spans import Clock, SparkStatus

        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        status = SparkStatus(spark) if args.trace else None
        runner = Runner(Clock(), status)
        workload = WORKLOADS[args.workload](spark, runner, RUN_DIR, args.seed)

        index, warm_s = 0, 0.0
        try:
            while index == 0 or warm_s < args.seconds:
                workload.prepare(index)
                gc.collect()  # release py4j handles of the last pass before timing the next
                spark.sparkContext._jvm.System.gc()
                runner.begin_pass(index)
                try:
                    workload.run_pass(index)
                finally:
                    p = runner.end_pass()
                if index > 0:
                    warm_s += p["wall_s"]
                index += 1
            workload.check()
            aborted = False
        except Abort:
            aborted = True
        extra = {} if aborted else workload.extras()
    finally:
        stop_session(spark)

    warm = runner.passes[1:]
    samples = {
        "setup_s": [setup["session.start_s"] + setup["registry.import_s"]],
        "first_pass_s": [runner.passes[0]["wall_s"]],
        "pass_s": [p["wall_s"] for p in warm],
    }
    for command in ("sync", "rules", "drift"):
        per_pass = [sum(s for _, c, s in p["ops"] if c == command) for p in warm]
        if any(per_pass):
            samples[f"{command}_s"] = per_pass

    if args.trace:
        per_pass = [pass_layer_values(runner, p) for p in warm] or [{}]
        values = {**setup, **extra}
        metrics = {}
        for name, unit in per_layer_metrics():
            if name not in values:
                values[name] = statistics.median(v.get(name, 0) for v in per_pass)
            metrics[name] = {"value": values[name], "unit": unit}
    else:
        metrics = {
            name: {"value": statistics.median(samples[name]) if samples[name] else 0.0, "unit": unit}
            for name, unit in END_TO_END
        }

    failed_ops = runner.failed / max(runner.attempted, 1)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "samples": samples,
        "passes": [{"wall_s": p["wall_s"], "ops": p["ops"]} for p in runner.passes],
        "failed_ops": failed_ops,
        "errors": runner.errors,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        runner.trace.dump(os.path.join(WORK, "traces", f"{tag}.json"), {"host": host, "workload": args.workload})
    shutil.rmtree(RUN_DIR, ignore_errors=True)

    print(f"perfbench: host cpus={host['cpus']} driver_memory={host['driver_memory']} "
          f"spark={host['spark']} java={host['java']}")
    for name, xs in samples.items():
        if xs:
            print(f"perfbench: {name} [s] {summarize(xs)}")
    if "warehouse_bytes_per_input_byte" in extra:
        print(f"perfbench: warehouse_bytes_per_input_byte [B/B] {extra['warehouse_bytes_per_input_byte']:.4f}")
    print(f"perfbench: failed_ops [share] {failed_ops:.4f} ({runner.failed}/{runner.attempted})")
    print(json.dumps({
        "correct": runner.failed == 0 and not aborted,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
