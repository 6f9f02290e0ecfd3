"""Run one workload over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload W --seeds 1-10 [--seconds S] [--trace 0|1]

Prints one line per metric the runs recorded (end-to-end and per-layer
alike, so traced and untraced medians can be compared for the tracing
overhead): median, first and third quartile
(``statistics.quantiles(values, n=4)``) and the quartile distance as a
share of the median — the spread ``BENCHMARK.json`` bounds are held to.
Runs are sequential; the raw result lines go to ``.perfbench_out/``.
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


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = args.seconds or json.load(fh)["run_seconds"]
    out_path = os.path.join(ROOT, ".perfbench_out", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    values: dict[str, list[float]] = {}
    with open(out_path, "a") as out:
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            detail = json.loads(lines[-2]) if len(lines) > 1 else {}
            out.write(json.dumps({"seed": seed, "wall_s": wall, "detail": detail, **result}) + "\n")
            print(f"seed {seed}: {wall:.1f} s correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
            for k, v in detail.get("samples", {}).items():
                values.setdefault(k, []).append(v["value"])
    for k, vals in values.items():
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {share:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
