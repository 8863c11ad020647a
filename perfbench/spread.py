"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve_mor --seeds 1-10 [--trace 0] [--out runs.jsonl]

For each metric prints the median, the quartiles (``statistics.quantiles``
with ``n=4``), the quartile spread as a share of the median, and the
metric's bound from ``BENCHMARK.json``; also each run's wall time.
Runs are sequential, each in a fresh process, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(a.seeds):
        cmd = bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace),
        ]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        info, res = (json.loads(x) for x in p.stdout.splitlines()[-2:])
        host = info["info"]["host"]
        print(f"seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"drift={host['calib_drift']:+.3f} contaminated={host['contaminated']}")
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": wall, **info, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {share:6.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
