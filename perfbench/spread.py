#!/usr/bin/env python3
"""Run one workload over several seeds and summarise the spread.

    python3 perfbench/spread.py --workload mor_tail --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload cow_ingest --seeds 1 2 3 --trace both

For each metric it prints the median and the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median, next to the metric's bound in BENCHMARK.json. With
``--trace both`` every seed also runs traced, and the tracing overhead is
printed as traced minus untraced end-to-end medians (a traced run logs
its end-to-end figures on stderr).
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result line, end-to-end figures from stderr, wall seconds) of one run."""
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    if p.returncode != 0:
        raise RuntimeError(f"seed {seed} trace {trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    e2e = {}
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] e2e "):
            e2e = json.loads(line[len("[perfbench] e2e "):])
    return result, e2e, time.perf_counter() - t0


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]
    values: dict[int, dict[str, list[float]]] = {t: {} for t in traces}
    for seed in args.seeds:
        for t in traces:
            result, e2e, wall = run_once(args.workload, seed, bench["run_seconds"], t)
            print(f"seed {seed} trace {t}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']} "
                  f"wall={wall:.1f}s", flush=True)
            source = e2e if t else {k: v["value"] for k, v in result["metrics"].items()}
            for name, v in source.items():
                values[t].setdefault(name, []).append(v)
    for name in sorted(values[traces[0]]):
        vs = values[traces[0]][name]
        med, share = spread(vs) if len(vs) > 1 else (vs[0], 0.0)
        line = (f"{name:28s} median {med:14.4f}  iqr/median {share:7.3f}  bound {bounds.get(name)}"
                f"  values {[round(v, 4) for v in vs]}")
        if args.trace == "both" and values[1].get(name):
            line += f"  traced-untraced {statistics.median(values[1][name]) - med:+.4f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
