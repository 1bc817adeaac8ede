"""Steadiness summary: run one workload several times and print, for each
end-to-end metric, the median, the quartiles and the quartile spread
(Q3 - Q1, as a share of the median) next to the metric's bound.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
        [--same-seed] [--save set.json] [--against earlier_set.json]

Each run takes the next seed, or with ``--same-seed`` the first seed every
time, which separates host drift from the differences in each seed's work.
The spread is taken as ``statistics.quantiles(values, n=4)`` gives the
quartiles. A spread under a third of the bound is steady; under the bound is
acceptable; above it the metric cannot resolve a regression of its bound.
``--save`` writes the set's values; ``--against`` compares this set's
medians with a saved set's, as the share by which each metric got worse.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--save")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for i in range(args.runs):
        seed = args.first_seed + (0 if args.same_seed else i)
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        *_, detail, result = map(json.loads, proc.stdout.strip().splitlines())
        row = {k: v["value"] for k, v in result["metrics"].items()}
        kernel = detail["detail"]["host_kernel_ms_before_after"]
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items())
              + f" host_kernel_ms={kernel}", flush=True)
        for k in values:
            values[k].append(row[k])
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(values, fh)
    earlier = None
    if args.against:
        with open(args.against) as fh:
            earlier = json.load(fh)
    print(f"\n{args.workload}, {args.runs} runs")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  verdict"
          + ("  worse-than-earlier" if earlier else ""))
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        verdict = "steady" if spread < m["bound"] / 3 else "within bound" if spread <= m["bound"] else "TOO NOISY"
        line = f"{m['name']:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{m['bound']:>8}  {verdict:<12}"
        if earlier:
            before = statistics.median(earlier[m["name"]])
            worse = (med - before) / before * (1 if m["better"] == "lower" else -1)
            line += f"  {worse:+.3f} ({'ok' if worse <= m['bound'] else 'OVER BOUND'})"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
