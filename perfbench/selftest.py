#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

For each workload it runs ``run.py --tiny`` once untraced and twice
traced, and checks that:

- every run is correct, with no failed operation;
- every end-to-end and per-layer metric in BENCHMARK.json is emitted,
  with the unit BENCHMARK.json names;
- the count metrics repeat exactly across the two traced runs:
  ``write_amp``, ``merge.winners_per_source_row``, and the exchange and
  sort counts of the merge spans. (Streaming epochs, and the
  compaction after them, depend on how publications fall into epochs, so
  their counts are not expected to repeat.)

Exits non-zero on the first failed check. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPEATS = ("merge.apply_batch.bootstrap", "merge.replay_wal.steady")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    import subprocess

    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    e2e = {}
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] e2e "):
            e2e = json.loads(line[len("[perfbench] e2e "):])
    return result, e2e


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {msg}")
    print(f"ok: {msg}", flush=True)


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in declared:
        expect(m["name"] in got and got[m["name"]]["unit"] == m["unit"],
               f"{what} emits {m['name']} in {m['unit']}")
    expect(set(got) == {m["name"] for m in declared}, f"{what} emits nothing undeclared")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        plain, _ = run(w, 0)
        expect(plain["correct"] and plain["failed"] == 0, f"{w} untraced run is correct")
        check_metrics(plain, bench["end_to_end"], f"{w} untraced")
        traced = [run(w, 1) for _ in range(2)]
        for result, _ in traced:
            expect(result["correct"] and result["failed"] == 0, f"{w} traced run is correct")
            check_metrics(result, bench["per_layer"], f"{w} traced")
        (a, ea), (b, eb) = traced
        expect(ea["write_amp"] == eb["write_amp"], f"{w} write_amp repeats exactly")
        counts = ["merge.winners_per_source_row"] + [
            f"{s}.{f}" for s in REPEATS for f in ("exchanges", "sorts")
        ]
        for name in counts:
            expect(a["metrics"][name]["value"] == b["metrics"][name]["value"],
                   f"{w} {name} repeats exactly ({a['metrics'][name]['value']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
