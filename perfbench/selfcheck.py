"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py [--seed 1]

1. The output checks reject a corrupted output: one sink row dropped, one
   catalog value changed.
2. The benchmark exits nonzero, printing no result, in a directory that
   holds only BENCHMARK.json and perfbench/ (no engine package).
3. Counts that must repeat exactly do repeat across two traced runs of one
   seed, on each workload.

Step 3 makes four traced runs and takes a few minutes. Exits 1 on any
failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402

EXACT = {
    "catalog_iterative": ["registry.construct_jobs", "execute_jobs", "io.load_table_jobs"],
    "signs_etl": ["execute_jobs", "sources.tasks", "sinks.posts", "operators.signs.features_out"],
}
WORK = os.path.join(ROOT, ".perfbench_work", "selfcheck")


def _report(ok: bool, what: str) -> bool:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    return ok


def check_rejects_corruption(seed: int) -> bool:
    ok = True
    d = inputs.prepare(os.path.join(ROOT, ".perfbench_work"), "signs_etl", seed)
    with open(os.path.join(d, "expected_rows.json")) as fh:
        expected = json.load(fh)["rows"]
    feats = [
        {"id": i, "type": "Feature", "properties": {},
         "geometry": {"type": t, "coordinates": json.loads(c)}}
        for i, t, c in expected
    ]
    body = json.dumps({"type": "FeatureCollection", "features": feats}).encode()
    ok &= _report(checks.check_signs(expected, checks.sink_rows([body])) is None,
                  "signs check accepts the expected sink rows")
    dropped = json.dumps({"type": "FeatureCollection", "features": feats[1:]}).encode()
    ok &= _report(checks.check_signs(expected, checks.sink_rows([dropped])) is not None,
                  "signs check rejects one dropped sink row")

    d = inputs.prepare(os.path.join(ROOT, ".perfbench_work"), "catalog_iterative", seed)
    with open(os.path.join(d, "expected_rows.json")) as fh:
        expected = json.load(fh)
    for q, (cols, rows) in inputs.oracle_answers(os.path.join(d, "tables")).items():
        ok &= _report(checks.check_catalog(expected[q], cols, rows) is None,
                      f"catalog check accepts the oracle's rows for {q}")
        bad = [list(r) for r in rows]
        v = bad[-1][-1]
        bad[-1][-1] = (not v) if isinstance(v, bool) else v + 1 if isinstance(v, (int, float)) else f"{v}x"
        ok &= _report(checks.check_catalog(expected[q], cols, bad) is not None,
                      f"catalog check rejects one changed value in {q}")
    return ok


def check_missing_engine() -> bool:
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "signs_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    printed_result = '"correct"' in proc.stdout
    return _report(proc.returncode != 0 and not printed_result,
                   f"exits {proc.returncode} with no result when the engine package is missing")


def _traced(workload: str, seed: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"traced {workload} run failed:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def check_exact_counts(seed: int) -> bool:
    ok = True
    for workload, names in EXACT.items():
        a, b = _traced(workload, seed), _traced(workload, seed)
        for n in names:
            ok &= _report(a[n]["value"] == b[n]["value"],
                          f"{workload} {n} repeats: {a[n]['value']} / {b[n]['value']}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ok = check_rejects_corruption(args.seed)
    ok &= check_missing_engine()
    ok &= check_exact_counts(args.seed)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
