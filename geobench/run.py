"""Geotile benchmark: one workload, one seed, one record.

    python3 geobench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Runs on ``local[<CPUs of this process>]`` in one process:

1. writes the seeded inputs under ``geobench/_work``;
2. sets up (``setup_s``): ``get_spark``, which launches the JVM, then
   the workload's job at warm-up size, whose result is checked against
   the workload's oracle, then the job once at full size;
3. times full-size iterations until ``--seconds`` have passed and at
   least three ran (``job_s`` is their median). RSS is sampled from the
   first full-size run on, and every output checksum must equal the
   first full-size run's;
4. with ``--trace 1``, alternates untraced iterations with iterations
   run inside job groups, two of each (the difference of their medians
   is ``trace.overhead_s``), then runs the per-layer passes.

The last stdout line is one JSON record: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. Everything else
(per-iteration times, noise probes, host, layer mapping, plan nodes)
goes to ``geobench/_work/side/<workload>-seed<N>-trace<T>.json``.
Exits non-zero without a record when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import harness
from metrics import LAYERS, UNITS
from workloads import WORKLOADS

FULL_WARMUPS = 1
MIN_ITERATIONS = 3
TRACED_PAIRS = 2


def timed_loop(spark, wl, seconds: float, n_min: int, checks: list, first=None, tracer=None):
    """Iterations until ``seconds`` have passed and at least ``n_min`` ran;
    each checksum must equal ``first`` (default: the first one here).
    Returns (wall times, group stats or [], ``first``)."""
    times, groups = [], []
    t_start = time.perf_counter()
    while len(times) < n_min or time.perf_counter() - t_start < seconds:
        harness.settle(spark)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                c = wl.iteration(spark)
            else:
                c, g = tracer.run(wl.name, lambda: wl.iteration(spark))
                groups.append(g)
        except Exception:
            traceback.print_exc()
            c = None
        times.append(time.perf_counter() - t0)
        first = c if first is None else first
        checks.append(c is not None and c == first)
    return times, groups, first


def run(args) -> tuple[dict, dict, list]:
    host = harness.host_info()
    conf = harness.prepare_env()
    wl = WORKLOADS[args.workload](args.seed, args.size == "tiny", harness.WORK)
    side: dict = {
        "workload": wl.name, "why": wl.why, "seed": args.seed, "trace": args.trace,
        "size": args.size, "host": host, "conf": conf,
        "probe_s": {"before": harness.noise_probe()},
    }
    steal0 = harness.steal_s()
    checks: list[bool] = []

    wl.write_inputs()
    t0 = time.perf_counter()
    spark = harness.start_session(host["cpus"], conf)
    session_start_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    wl.build_inputs(spark)  # seeded inputs drawn through the engine; not set-up
    side["inputs_s"] = inputs_s = time.perf_counter() - t1
    wl.bind(spark)
    try:
        result = wl.warmup(spark)
    except Exception:
        traceback.print_exc()
        result = None
    warmup_s = time.perf_counter() - t1 - inputs_s
    try:
        checks.append(result is not None and wl.check(spark, result))
    except Exception:
        traceback.print_exc()
        checks.append(False)

    tracer = harness.Tracer(spark) if args.trace else None
    ttimes, groups = [], []
    with harness.RssSampler() as rss:
        warm, _, first = timed_loop(spark, wl, 0, FULL_WARMUPS, checks)
        if tracer is None:
            times, _, _ = timed_loop(spark, wl, args.seconds, MIN_ITERATIONS, checks, first)
        else:
            times = []
            for _ in range(TRACED_PAIRS):
                times += timed_loop(spark, wl, 0, 1, checks, first)[0]
                t, g, _ = timed_loop(spark, wl, 0, 1, checks, first, tracer)
                ttimes += t
                groups += g
    job_s = statistics.median(times)
    side["setup_parts_s"] = {"session_start": session_start_s, "warmup": warmup_s, "full_warmups": warm}
    side["peak_rss_mb_by_command"] = {k: v / 2**20 for k, v in rss.peak_by_command.items()}
    side["iterations_s"] = times
    e2e = {
        "setup_s": session_start_s + warmup_s + sum(warm),
        "job_s": job_s,
        "rows_per_s": wl.count_inputs(spark) / job_s,
        "peak_rss_mb": rss.peak_mb,
    }

    layer = {}
    if tracer is not None:
        side["traced_iterations_s"] = ttimes
        layer = {m[0]: 0 for m in LAYERS}
        layer["session.start_s"] = session_start_s
        layer["trace.overhead_s"] = statistics.median(ttimes) - job_s
        per_iteration = harness.per_group_median
        layer["spark.stages"] = per_iteration(groups, lambda g: len(g.stages))
        layer["spark.tasks"] = per_iteration(groups, lambda g: g.total("tasks"))
        layer["spark.tasks_failed"] = per_iteration(groups, lambda g: g.total("tasks_failed"))
        layer["spark.spill_bytes"] = per_iteration(groups, lambda g: g.total("spill_bytes"))
        layer["spark.executor_cpu_s"] = per_iteration(groups, lambda g: g.total("cpu_s"))
        side["traced_groups"] = [
            {"wall_s": g.wall_s, "jobs": g.jobs, "busy_s": g.busy_s, "stages": g.stages}
            for g in groups
        ]
        try:
            more, detail, ok = wl.layers(spark, tracer, groups)
        except Exception:
            traceback.print_exc()
            more, detail, ok = {}, {}, False
        layer.update(more)
        side["layer_detail"] = detail
        checks.append(ok)
        side["layers"] = [
            {"name": n, "unit": u, "better": b, "value": layer[n], "moves": mv,
             "workloads": list(ws), "applies": wl.name in ws}
            for n, u, b, mv, ws in LAYERS
        ]

    harness.shutdown(spark)
    failed = checks.count(False)
    e2e["ok_frac"] = 1 - failed / len(checks)
    side["checks"] = checks
    side["end_to_end"] = e2e
    side["probe_s"]["after"] = harness.noise_probe()
    side["host_steal_s"] = harness.steal_s() - steal0
    return (layer if args.trace else e2e), side, checks


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the benchmark's own smoke check")
    args = ap.parse_args()
    if not harness.engine_present():
        print(f"geobench: engine package {harness.PACKAGE} not found under {harness.ROOT}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    metrics, side, checks = run(args)
    side_dir = os.path.join(harness.WORK, "side")
    os.makedirs(side_dir, exist_ok=True)
    path = os.path.join(side_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(side, f, indent=1, default=str)
    record = {
        "correct": all(checks),
        "attempted": len(checks),
        "failed": checks.count(False),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
