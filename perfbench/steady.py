#!/usr/bin/env python3
"""Steadiness check: run every workload repeatedly and print, for each
end-to-end metric, the median, the quartiles and the spread (interquartile
range over median) next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b]
                                [--save out.json] [--compare earlier.json]

Runs are interleaved across workloads (run i of every workload, then run
i+1), each with its own seed, so host drift falls on all workloads alike.
``--compare`` also prints how far each median moved from an earlier saved
set, against the same bound. The shift is taken both ways: the larger of
(new - old) / old and (old - new) / new, so the verdict does not depend on
which set ran first.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--save")
    ap.add_argument("--compare")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    values = {w: {} for w in workloads}
    for i in range(a.runs):
        for w in workloads:
            seed = a.first_seed + i
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            last = proc.stdout.strip().splitlines()[-1:] if proc.returncode == 0 else []
            if not last:
                sys.exit(f"{w} seed {seed} failed (exit {proc.returncode}):\n{proc.stderr[-2000:]}")
            res = json.loads(last[0])
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}")
            for k, m in res["metrics"].items():
                values[w].setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    earlier = json.loads(Path(a.compare).read_text()) if a.compare else {}
    bad = 0
    for w in workloads:
        print(f"\n{w} ({a.runs} runs)")
        print(f"  {'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} "
              f"{'bound':>6}  verdict" + ("    |shift| vs earlier" if earlier else ""))
        for m in bench["end_to_end"]:
            med, q1, q3, sp = spread(values[w][m["name"]])
            verdict = ("steady" if sp < m["bound"] / 3 else
                       "within bound" if sp <= m["bound"] else "TOO WIDE")
            bad += sp > m["bound"]
            line = (f"  {m['name']:<14} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {sp:>7.3f} "
                    f"{m['bound']:>6.2f}  {verdict}")
            if w in earlier and m["name"] in earlier[w]:
                old = statistics.median(earlier[w][m["name"]])
                # either set may be the parent: the shift as seen from each
                shift = max(abs(med - old) / old, abs(old - med) / med) if old and med else 0.0
                line += f"    {shift:.3f}" + ("  APART MORE THAN BOUND" if shift > m["bound"] else "")
                bad += shift > m["bound"]
            print(line)
    if a.save:
        Path(a.save).write_text(json.dumps(values, indent=1))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
