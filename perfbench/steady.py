"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the spread (distance between the first
and third quartile, ``statistics.quantiles(values, n=4)``, as a share of the
median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload serve_hot --seeds 1-10

Runs are sequential, each in its own process, from the checkout root.
Prints one JSON object per run (with its wall time) as it finishes and a
summary at the end.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall_s = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "wall_s": wall_s, **result}), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {
        name: {"median": statistics.median(v), "spread": spread(v),
               "bound": bounds.get(name), "n": len(v)}
        for name, v in values.items()
    }
    print(json.dumps({"workload": args.workload, "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
