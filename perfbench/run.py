"""Layered benchmark of the refine_spark dedup engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one Spark session on
local[<cores this process may use, less one>]. Set-up starts the session,
builds the workload's seeded input (three times in a timed run; the median
counts) and runs one untimed warm-up job on a separate input. Then batch jobs
run back to back, each on a fresh seeded input, until the next job would
end more than half a job past `--seconds`; at least one job runs. Every
job's outputs are checked; a failed check counts as a failed operation
and is never dropped.

--trace 0 reports the end-to-end metrics (medians over the run's jobs);
--trace 1 runs one untraced job, then the traced layer sequence
(tracing.py), and reports the per-layer metrics. Before the result, the run
prints one `perfbench-report` line with every figure by name and unit and
the load average, and a traced run also prints its layer table. The last
line of standard output is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# one core is left to the JVM's JIT and GC threads and to the Python
# driver; with a task thread on every core, their bursts preempt tasks
# and the job times swing with them
CORES = max(1, len(os.sched_getaffinity(0)) - 1)
# below the 15 GiB of the 4-core reference box; the session default is 16g
DRIVER_MEM = "4g"
SETUP_REPS = 3


def pin_environment() -> None:
    """Keep every file the run writes inside the checkout, and fix the
    driver heap, before pyspark starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session():
    from refine_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=CORES,
        shuffle_partitions=max(8, 2 * CORES),
        extra_conf={
            # the traced run reads every job and stage back from the store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def steal_ticks() -> tuple[int, int]:
    """The machine's stolen and total CPU ticks since boot: stolen ticks
    are those the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def summarize(values: list[float]) -> dict:
    """Median and the highest percentile the sample supports. With fewer
    than eleven samples no tail percentile has ten samples beyond it, so
    the maximum is reported, with the sample count."""
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


def run(args) -> int:
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    load_start = os.getloadavg()[0]
    t0 = time.monotonic()
    spark = start_session()
    try:
        workloads.materialize(spark.range(1))  # JVM up, scheduler ready
        session_start_s = time.monotonic() - t0
        w = wl(spark)

        builds = []
        # a traced run reports no setup_s, so it builds its input once
        for _ in range(1 if args.trace else SETUP_REPS):
            t = time.monotonic()
            inp = w.build(args.seed, 0)
            builds.append(time.monotonic() - t)
        t = time.monotonic()
        w.warm(args.seed)
        warmup_s = time.monotonic() - t
        setup_s = session_start_s + statistics.median(builds) + warmup_s

        results, steals = [], []
        t_start = time.monotonic()
        while True:
            if results:
                inp = w.build(args.seed, len(results))
            s0 = steal_ticks()
            results.append(w.job(inp))
            s1 = steal_ticks()
            steals.append(100 * (s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
            walls = [r.wall_s for r in results]
            cpus = [r.cpu_s for r in results]
            if args.trace or (
                time.monotonic() - t_start + statistics.median(walls) / 2 > args.seconds
            ):
                break

        attempted = sum(r.attempted for r in results)
        failed = sum(r.failed for r in results)
        figures = {
            name: {"unit": unit, **summarize([r.figures[name][0] for r in results])}
            for name, (_, unit) in results[0].figures.items()
        }
        figures["setup_s"] = {"unit": "s", "value": setup_s}
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": CORES, "driver_mem": DRIVER_MEM,
            "job_cpu_s": {**summarize(cpus), "values": cpus},
            "job_wall_s": {**summarize(walls), "values": walls},
            "items_per_s": summarize([r.items / r.wall_s for r in results]),
            # per job: the share of the machine's CPU time stolen
            "steal_pct": steals,
            "figures": figures,
            "setup": {"session_start_s": session_start_s, "input_build_s": builds,
                      "warmup_s": warmup_s},
        }

        if args.trace:
            import tracing

            tr = tracing.Tracer(spark)
            traced = tracing.traced_run(tr, spark, w, args.seed, inp, WORK)
            tr.finish()
            attempted += traced["attempted"]
            failed += traced["failed"]
            tr.counters["session.start_s"] = session_start_s
            tr.counters["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            tr.counters["trace.overhead_s"] = tr.duration("job") - statistics.median(walls)
            metrics_raw = tracing.layer_metrics(tr)
            tracing.write_spans(
                tr, os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"),
                metrics_raw,
            )
            spec = tracing.per_layer_spec()
            metrics = {n: {"value": metrics_raw[n], "unit": u} for n, u, _ in spec}
            for layer in tracing.LAYERS:
                print("perfbench-layer " + layer + " " + " ".join(
                    f"{f}={metrics_raw[f'{layer}.{f}']:.6g}" for f, _ in tracing.FIELDS
                ))
        else:
            metrics = {
                "job_cpu_s": {"value": statistics.median(cpus), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }

        report["failed_op_ratio"] = {
            "value": failed / attempted, "failed": failed, "attempted": attempted,
            "base": "checked operations: one per dedup job; one per "
                    "connected_components call; traced runs add their own checks",
        }
        report["loadavg_1m"] = {"start": load_start, "end": os.getloadavg()[0]}
        print("perfbench-report " + json.dumps(report))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        stop_session(spark)
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dedup_synth", "cc_chains"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "refine_spark", "__init__.py")):
        print(f"error: no refine_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    pin_environment()
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
