"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload crawl_linkgraph --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Prints one human-readable line per metric
(name, value, unit) and, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. Workloads, metrics and the layer map are described in
perfbench/README.md.

Exits non-zero without a result line when the package is missing or a
workload cannot be set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sbustreamspot_core_spark"

WORKLOADS = ("crawl_linkgraph", "host_anomaly", "streamspot_replay")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: self-test inputs (perfbench/selftest.py)")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one output before checking (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import host
    import workloads

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host.prepare_environment(ROOT, work)
    load_before = os.getloadavg()[0]
    ctx = workloads.Context(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        tiny=args.size == "tiny", corrupt=args.corrupt, work=work,
        cores=os.cpu_count() or 1,
        spans_path=os.path.join(ROOT, ".perfbench_work",
                                f"spans-{args.workload}.jsonl"))
    try:
        result = workloads.RUNNERS[args.workload](ctx)
    finally:
        if ctx.spark is not None:
            host.stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        result.per_layer["host.loadavg_1m"] = (
            max(load_before, os.getloadavg()[0]), "load")
    metrics = result.per_layer if args.trace else result.end_to_end
    for name, (value, unit) in sorted({**result.end_to_end,
                                       **result.per_layer}.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_frac = "
          f"{result.failed / result.attempted:.6g} frac "
          f"({result.failed}/{result.attempted})")
    print(f"{args.workload} loadavg_1m start={load_before:.2f} "
          f"end={os.getloadavg()[0]:.2f}")
    for line in result.notes:
        print(f"{args.workload} {line}")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
