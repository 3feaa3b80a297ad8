"""Benchmark command for impc_etl_spark.

    python3 perfbench/run.py --workload release|corpus|serve --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
(perfbench/gen.py) into ``.perfbench/data``; per-run scratch (DAG targets,
Spark local dirs, the event log) lives in ``.perfbench/run-<pid>`` and is
removed at exit; traced runs write their spans to ``.perfbench/trace``.

One run: set up the engine's session on ``local[<cores>]``, run the
workload's warm-up iterations (timed and reported apart; the first is the
correctness reference of the DAG workloads), then measured iterations
until ``--seconds`` of iteration time has accumulated and at least the
workload's minimum number of iterations has run. At exit the JVM and the
Python workers are stopped and waited for.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, with
tracing off. ``--trace 1`` starts the session with the Spark event log on,
wraps the layer functions with spans, and after the warm-up alternates
traced and untraced iterations; it reports the per-layer metrics
(perfbench/layers.py) over the traced ones, and the tracing overhead from
the two medians.

The second-to-last stdout line is a JSON report with every detail
(quartiles, sample counts, tail percentile, failed_share, warm-up time,
input row counts, peak Spark memory); the last line is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import boot  # noqa: E402  (stdlib only: set-up timing starts before pyspark loads)

# k: 1.0 = sf0.1 rows. Sized so that all runs of all workloads fit the
# benchmark's time budget; the corpus DAG is 16 short tasks whose cost is
# mostly per-task overhead.
SCALE = {"release": 0.75, "corpus": 0.3, "serve": 1.0}
# Measured iterations per run, at least. Latency statistics use exactly
# the operations of these iterations, so every run of a workload reports
# its tail at the same percentile (release 40 tasks -> p75, corpus 32
# tasks -> p68.75, serve 36 queries -> p72.2); more iterations run only
# when they finish before --seconds.
ITERATIONS = {"release": 4, "corpus": 2, "serve": 4}
# Warm-up iterations, untimed. Serve's passes kept getting faster for
# several passes (8.2, 4.4, 3.5, 3.3, 3.0 s), so its median moved with how
# far warm-up had got; one more pass costs it less than a DAG iteration.
WARMUP = {"release": 1, "corpus": 1, "serve": 2}


def measure(wl, seconds: float, first_it: int, iterations: int, rss):
    """Iterate until the summed iteration wall time reaches ``seconds`` and
    at least ``iterations`` iterations have run. Returns (walls, ops,
    per-iteration (resident, Spark memory) peak bytes)."""
    walls, ops, peaks, it = [], [], [], first_it
    while sum(walls) < seconds or len(walls) < iterations:
        wall, its_ops = run_iteration(wl, it)
        walls.append(wall)
        ops.extend(its_ops)
        peaks.append(rss.take_peak())
        it += 1
    return walls, ops, peaks


def run_iteration(wl, it: int, probe=None):
    """One iteration; ``probe`` (traced iterations) counts its outputs
    afterwards, outside the timed region."""
    wl.tracer.iteration = it
    wall, ops = wl.iteration(it)
    if probe is not None:
        probe.after_iteration(it, getattr(wl, "last_root", None))
    return wall, ops


def median_of_medians(ops) -> float:
    """Median over the distinct operations of each one's median latency.
    Pooled, the samples of one operation cluster, and the pooled median of
    the release DAG's 10 tasks fell between two clusters, i.e. on the
    slowest sample of one task and the fastest of another."""
    by_name = defaultdict(list)
    for o in ops:
        by_name[o.name].append(o.seconds)
    return statistics.median(statistics.median(xs) for xs in by_name.values())


def failures(ops, wrong: set[str]) -> int:
    return sum(1 for o in ops if not o.ok or o.name in wrong)


def untraced(args, spark, setup_s: float, sf: str, run_dir: str, report: dict):
    import workloads
    from spans import Tracer
    from stats import RssSampler, summary, tail

    wl = workloads.make(args.workload, spark, sf, run_dir, args.seed, Tracer(False))
    # Spark's execution and storage memory in use: the part of the fixed
    # heap that operators hold (sort buffers, hash tables, cached blocks),
    # which grows when a change holds more in memory instead of spilling.
    memory = spark.sparkContext._jsc.sc().env().memoryManager()
    with RssSampler(lambda: memory.executionMemoryUsed() + memory.storageMemoryUsed()) as rss:
        warm = [run_iteration(wl, it) for it in range(WARMUP[args.workload])]
        rss.take_peak()
        n = ITERATIONS[args.workload]
        walls, ops, peaks = measure(wl, args.seconds, len(warm), n, rss)
    wrong = wl.wrong_outputs()
    wl.close()
    spark.stop()
    timed_ops = [o for o in ops if o.iteration < len(warm) + n]
    lat = [o.seconds for o in timed_ops]
    t = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "query_p50_s": (median_of_medians(timed_ops), "s"),
        "query_tail_s": (t["value"], "s"),
        "qps": (len(ops) / sum(walls), "1/s"),
        "peak_rss_mb": (statistics.median(p for p, _ in peaks) / 2**20, "MB"),
    }
    report.update({
        "wall_s": summary(walls),
        "peak_rss_mb": summary([p / 2**20 for p, _ in peaks]),
        "spark_memory_mb": summary([m / 2**20 for _, m in peaks]),
        "query_latency_s": {**summary(lat), "tail": t},
        "first_iteration_s": warm[0][0],
        "warmup_s": [wall for wall, _ in warm],
    })
    return metrics, [o for _, w_ops in warm for o in w_ops] + ops, wrong


def traced(args, spark, sf: str, run_dir: str, log_dir: str, report: dict):
    """Warm-up, then iterations with tracing on and off in the order
    on, off, off, on, on, off, ... (a trend within the run cancels between
    the two), until ``--seconds`` of iteration time and at least the
    workload's minimum number of each have run. The session logs events
    throughout, so ``trace.overhead_s`` is the cost of the spans and the
    per-iteration counting, not of the event log."""
    import layers
    import workloads
    from spans import Tracer, parse_event_log

    tracer = Tracer(False)
    wl = workloads.make(args.workload, spark, sf, run_dir, args.seed, tracer)
    probe = layers.LayerProbe(tracer)
    probe.install()
    warm = [run_iteration(wl, it) for it in range(WARMUP[args.workload])]
    n = ITERATIONS[args.workload]
    walls = {True: [], False: []}
    ops = [o for _, w_ops in warm for o in w_ops]
    it = len(warm)
    while (sum(walls[True]) + sum(walls[False]) < args.seconds
           or min(len(walls[True]), len(walls[False])) < n):
        tracer.enabled = (it - len(warm)) % 4 in (0, 3)
        wall, its_ops = run_iteration(wl, it, probe if tracer.enabled else None)
        walls[tracer.enabled].append(wall)
        ops.extend(its_ops)
        it += 1
    tracer.enabled = False
    tracer.restore()
    wrong = wl.wrong_outputs()
    wl.close()
    spark.stop()

    (log,) = glob.glob(os.path.join(log_dir, "*"))
    groups, jobs = parse_event_log(log)
    iterations = sorted(probe.counts)
    values = layers.metrics(iterations, tracer.spans, groups, jobs, ops,
                            getattr(wl, "task_inputs", {}),
                            getattr(wl, "target_mb", {}), probe.counts)
    values["trace.wall_s"] = statistics.median(walls[True])
    values["trace.untraced_wall_s"] = statistics.median(walls[False])
    values["trace.overhead_s"] = values["trace.wall_s"] - values["trace.untraced_wall_s"]
    metrics = {name: (values[name], unit) for name, (unit, _) in layers.METRICS.items()}

    trace_dir = os.path.join(os.path.dirname(run_dir), "trace")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "groups": groups}, f)
    report["traced_iterations"] = iterations
    report["iteration_s"] = {"traced": walls[True], "untraced": walls[False]}
    report["first_iteration_s"] = warm[0][0]
    return metrics, ops, wrong


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = boot.prepare(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    try:
        if args.trace:
            os.makedirs(log_dir)
            spark, setup_s = boot.timed_start(tmp, {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        else:
            spark, setup_s = boot.timed_start(tmp)
        import gen

        sf, inputs = gen.generate(os.path.join(work, "data"), args.seed, SCALE[args.workload])
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "cores": len(os.sched_getaffinity(0)), "inputs": inputs}
        if args.trace:
            metrics, ops, wrong = traced(args, spark, sf, run_dir, log_dir, report)
        else:
            metrics, ops, wrong = untraced(args, spark, setup_s, sf, run_dir, report)
    finally:
        boot.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = failures(ops, wrong)
    report["failed_share"] = {"value": failed / len(ops), "unit": "ratio"}
    report["wrong_outputs"] = sorted(wrong)
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": report["metrics"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
