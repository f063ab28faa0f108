#!/usr/bin/env python3
"""Checks of the benchmark itself, run from the repository root.

    python3 perfbench/study.py spread  --workload query-mix --seeds 1-10 --seconds 10
    python3 perfbench/study.py repeat  --workload catalog-dml --seed 5 --seconds 10

`spread` runs one untraced run per seed and prints, for every end-to-end
metric, the median, the quartiles (statistics.quantiles, n=4) and the spread
(q3 - q1) / median. `repeat` makes two traced runs with the same seed and
reports which per-op storage, catalog and Spark-job counts repeat exactly
over the ops both runs executed. Both write their findings as JSON to --out.
"""
from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
COUNTS = ("getFileStatus.calls", "listStatus.calls", "open.calls", "create.calls", "rename.calls",
          "delete.calls", "mkdirs.calls", "read_bytes", "data_read_bytes", "write_bytes", "not_found",
          "data_files_created")
JOB_COUNTS = ("jobs", "stages", "tasks", "executions")


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        sys.exit(f"run failed ({workload} seed {seed}):\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(args) -> dict:
    values: dict[str, list[float]] = {}
    runs = []
    for s in seeds(args.seeds):
        r = one_run(args.workload, s, args.seconds, 0)
        runs.append({"seed": s, "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
                     "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps(runs[-1]), flush=True)
    out = {"workload": args.workload, "seconds": args.seconds, "runs": runs, "metrics": {}}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        out["metrics"][k] = {"median": statistics.median(vs), "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / statistics.median(vs)}
        print(f"{k:14s} median {statistics.median(vs):12.3f}  spread {(q3 - q1) / statistics.median(vs):.3f}")
    return out


def repeat(args) -> dict:
    dumps = []
    for i in range(2):
        one_run(args.workload, args.seed, args.seconds, 1)
        src = ROOT / ".bench_build" / "spans" / f"{args.workload}-seed{args.seed}-ops.json"
        dst = src.with_name(f"{src.stem}-{i}.json")
        shutil.copyfile(src, dst)
        dumps.append(json.loads(dst.read_text()))
    a, b = ({o["id"]: o for o in d if o["traced"]} for d in dumps)
    common = sorted(set(a) & set(b))
    verdict = {}
    for c in COUNTS:
        verdict[f"storage.{c}"] = all(a[i]["fs"][c] == b[i]["fs"][c] for i in common)
    for c in JOB_COUNTS:
        verdict[f"layers.{c}"] = all(a[i]["layers"][c] == b[i]["layers"][c] for i in common)
    exact = sorted(k for k, v in verdict.items() if v)
    out = {"workload": args.workload, "seed": args.seed, "ops_compared": len(common),
           "exact": exact, "vary": sorted(k for k, v in verdict.items() if not v)}
    print(json.dumps(out, indent=1))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("mode", choices=("spread", "repeat"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    out = spread(args) if args.mode == "spread" else repeat(args)
    if args.out:
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
