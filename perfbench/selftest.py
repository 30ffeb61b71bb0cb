"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For every workload it runs ``run.py --size tiny`` twice:
- ``--trace 0 --corrupt``: the JSON line carries exactly the end-to-end
  metrics of BENCHMARK.json with their units, and the perturbed output
  (one PageRank value, one isolated host, one replayed graph) is caught:
  ``failed`` > 0 and ``correct`` is false;
- ``--trace 1``: the JSON line carries exactly the per-layer metrics with
  their units, nothing fails, and the human-readable lines name every
  end-to-end and per-layer metric with its unit.
Exits 1 on the first violated expectation.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def check(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {"e2e": {m["name"]: m["unit"] for m in bench["end_to_end"]},
             "layer": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in (x["name"] for x in bench["workloads"]):
        out, _ = run(w, trace=0, corrupt=True)
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        check(got == units["e2e"], f"{w}: end-to-end metrics and units")
        check(all(v["value"] > 0 for v in out["metrics"].values()),
              f"{w}: every end-to-end metric is above 0")
        check(out["failed"] > 0 and not out["correct"],
              f"{w}: a corrupted output raises failed_frac above 0 "
              f"({out['failed']}/{out['attempted']})")

        out, lines = run(w, trace=1, corrupt=False)
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        check(got == units["layer"], f"{w}: per-layer metrics and units")
        check(out["failed"] == 0 and out["correct"],
              f"{w}: uncorrupted outputs all match their oracles")
        printed = {}
        for line in lines:
            m = re.fullmatch(rf"{w} (\S+) = \S+ (\S+)( \(.*\))?", line)
            if m:
                printed[m.group(1)] = m.group(2)
        wrong = [n for n, u in {**units["e2e"], **units["layer"],
                                "failed_frac": "frac"}.items()
                 if printed.get(n) != u]
        check(not wrong, f"{w}: every metric printed with its unit "
                         f"(wrong or missing: {wrong})")


if __name__ == "__main__":
    main()
