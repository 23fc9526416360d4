"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,steady} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Builds the workload's inputs from the
seed, runs the program on ``local[4]``, checks its outputs, and prints one
JSON object as the last line of standard output::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}, ...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json, with ``--trace 1`` its ``per_layer`` list (spans go to
``.perfbench_traces/`` in the checkout).  Exits 1 when any output is wrong
and 2 when the run itself fails (no result line then).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("backfill", "steady"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--master", default="local[4]", help="Spark master (the 1-core scaling run uses local[1])")
    p.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="perturb the expected outputs; the run must then fail (self-test)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        raise SystemExit("--seconds must be >= 1")
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, CHECKOUT)
    # fail fast, before any input is built, when the program is missing
    import realtime_change_data_capture_streaming_spark  # noqa: F401

    import harness
    import workloads

    run = workloads.Run(args, CHECKOUT)
    try:
        if args.workload == "steady":
            import analytics

            e2e = workloads.steady(run, analytics.measure if args.trace else None)
        else:
            e2e = workloads.backfill(run)
        run.layer["mem.peak_rss_mb"] = harness.peak_rss_mb(run.spark)
        run.layer["jvm.gc_ms"] = harness.gc_ms(run.spark)
        if args.trace:
            run.tracer.write(
                os.path.join(CHECKOUT, ".perfbench_traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "time": time.time()},
            )
    finally:
        run.close()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = run.layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    for err in run.errors[:20]:
        print(f"MISMATCH: {err}", file=sys.stderr)
    ok = run.failed == 0
    print(json.dumps({"correct": ok, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(2)
