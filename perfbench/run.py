"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. Workloads are
defined in ``harness.WORKLOADS``; the fixtures are under
``perfbench/data/``. Each run's scratch space (fixture copies, Spark
local dirs, the event log) lives in a private directory under
``.perfbench_work/`` at the checkout root and is removed when the run
ends.

Standard output carries one JSON line with the run's context and
per-gate detail, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "big_data_flight_spark", "registry.py")):
        print(f"no big_data_flight_spark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import fixtures, harness

    if args.workload not in harness.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    w = harness.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    load_start, ticks_start = harness.loadavg(), harness.cpu_ticks()
    bench = None
    try:
        env = harness.prepare_env(run_dir, bool(args.trace))
        t0 = time.perf_counter()
        src = fixtures.source(w.sf)
        fixture_s = time.perf_counter() - t0

        bench = harness.Bench(w, args.seed, args.seconds, bool(args.trace), src, run_dir, env["eventlog"])
        bench.setup()
        bench.verify()
        bench.measure()
        rss = bench.jvm_peak_rss_mb()
        jvm = bench.spark.sparkContext._jvm
        context = harness.run_context(
            w, args.seed, env["driver_heap_mb"], bench.spark.version,
            jvm.java.lang.System.getProperty("java.version"), bench.compare._source_sha(),
        )
        bench.close()
        context.update(
            loadavg_start=load_start,
            loadavg_end=harness.loadavg(),
            steal_pct=harness.steal_pct(ticks_start, harness.cpu_ticks()),
            fixture_s=fixture_s,
            setup_parts=bench.setup_parts,
            verify_s=bench.verify_s,
            verify=bench.verify_status,
            verify_gate_s=bench.verify_gate_s,
            passes=bench.passes,
            fresh_copies=bench.copies,
        )
        if args.trace:
            layers = bench.layers
            metrics = layers.pop("metrics")
            context["layers"] = layers
            units = harness.PER_LAYER
        else:
            metrics = bench.end_to_end(rss)
            units = harness.END_TO_END
    finally:
        if bench is not None and bench.spark is not None:
            bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
