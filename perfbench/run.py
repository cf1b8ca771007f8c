"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 30 --trace 0

Runs one workload (see BENCHMARK.json) from the root of a checkout of the
engine, on ``local[SPARK_GRAFT_CPUS]`` (default: half the CPUs this process
may use, see ``default_cores``) with one client thread. Prints a
human-readable summary, then, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). The full record (environment,
every error with its op and pass, per-op samples and, when traced, every
span) goes to ``.perfbench/records/``. Everything the run writes stays
under ``.perfbench/`` and the engine's own ``.data/`` cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("queries", "batch_etl")
DRIVER_MEMORY = "2g"

#: units of everything ``workloads.end_to_end`` computes; the result line
#: carries the subset BENCHMARK.json lists as end-to-end metrics
END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "op_p90_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB",
}


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def default_cores() -> int:
    """Half the CPUs this process may use: Spark's task threads then leave
    room for the client thread, py4j and the JVM's compiler and collector
    threads, so a run measures the engine rather than the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(work: str, cores: int):
    """The engine's session, pinned below physical RAM, with every scratch
    directory Spark and its workers use inside ``work``."""
    from salesdata_engineering_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": tmp,
            # a fixed, pre-touched heap: the JVM's peak RSS then does not
            # depend on how much of the heap the collector happened to use,
            # which varies with machine speed
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def spark_probe(spark) -> float:
    """Median wall time of a fixed, data-independent Spark job."""
    import statistics

    run = lambda: spark.range(0, 5_000_000, 1, 4).selectExpr("sum(id % 7)").collect()  # noqa: E731
    run()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def environment(spark, args, cores: int) -> dict:
    from perfbench import measure

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores": cores,
        "driver_memory": DRIVER_MEMORY,
        "spark_version": spark.version,
        "git_head": measure.git_head(ROOT),
        "engine_sources": measure.source_fingerprint(ROOT, "salesdata_engineering_spark"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def calibration(spark) -> dict:
    from perfbench import measure

    steal, total = measure.cpu_ticks()
    return {"load1": measure.load1(), "python_probe_s": measure.python_probe(),
            "spark_probe_s": spark_probe(spark), "steal_ticks": steal, "total_ticks": total}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import salesdata_engineering_spark  # noqa: F401
        from tests import oracle_utils  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import measure, workloads

    cores = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(default_cores())))
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    try:
        session_s = time.perf_counter() - t0
        env = environment(spark, args, cores)
        env["before"] = calibration(spark)
        ctx = workloads.Context(spark, ROOT, work, args.seed, args.seconds, bool(args.trace),
                                session_s, cores)
        res = workloads.run_etl(ctx) if args.workload == "batch_etl" else workloads.run_queries(ctx)
        env["after"] = calibration(spark)
        env["steal_frac"] = (env["after"]["steal_ticks"] - env["before"]["steal_ticks"]) / (
            env["after"]["total_ticks"] - env["before"]["total_ticks"])
        env["ann_index"] = res["ann_index"]
        env["peak_rss_mb"] = ctx.meter.peak_rss_mb()
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    out: workloads.Outcomes = res["outcomes"]
    setup_s = sum(res["setup"].values())
    e2e = workloads.end_to_end(res["untraced_walls"], out, res["pass_cpu"], setup_s,
                               sum(env["peak_rss_mb"].values()))
    if args.trace:
        layers = {**res["layers"], **res["setup"]}
        layers["trace.overhead_frac"] = res["overhead_frac"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in metric_units("end_to_end").items()}

    samples = sum(len(v) for v in out.latency.values())
    record = {
        "env": env, "setup": res["setup"], "end_to_end": e2e, "layers": res["layers"],
        "io": res.get("io"), "input_bytes": res.get("input_bytes"),
        "errors": out.errors, "attempted": out.attempted, "failed": out.failed,
        "op_samples": dict(out.latency), "untraced_walls": res["untraced_walls"],
        "pass_cpu": res["pass_cpu"],
        "traced_walls": res["traced_walls"], "spans": res["spans"],
        "check_pass_s": res.get("check_pass_s"), "family_op_geomean_s": res.get("family_op_geomean_s"),
    }
    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    summary = " ".join(f"{k}={v:.4g}{END_TO_END_UNITS[k]}" for k, v in e2e.items())
    print(f"{args.workload} seed={args.seed} {summary} op_p90 over {samples} op samples "
          f"error_rate={out.failed / out.attempted:.4g} ({out.failed}/{out.attempted})")
    for err in out.errors:
        print(f"  FAILED {err['op']} pass={err['pass']} {err['kind']}: {err['detail']}")
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
