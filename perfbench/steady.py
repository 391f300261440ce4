"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric, the median and the quartile spread as a share of it.

    python3 perfbench/steady.py --workload articles --seeds 1-10 --out perfbench/steadiness.json

Each run is a separate ``perfbench/run.py`` process, as the benchmark is
normally invoked.  With ``--out`` the runs and the spreads are merged into
that JSON file under the workload's name."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        result = json.loads(line) if proc.returncode == 0 else {}
        result.update(seed=seed, exit=proc.returncode, wall_s=round(time.time() - t0, 1))
        runs.append(result)
        print(json.dumps(result), flush=True)

    ok = [r for r in runs if r.get("correct")]
    summary = {}
    if len(ok) >= 2:
        for name in ok[0]["metrics"]:
            med, iqr = spread([r["metrics"][name]["value"] for r in ok])
            summary[name] = {"median": med, "iqr_share": iqr}
    report = {"runs": runs, "spread": summary, "all_correct": len(ok) == len(runs)}
    print(json.dumps({"spread": summary, "all_correct": report["all_correct"]}, indent=1))
    if args.out:
        data = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                data = json.load(f)
        data.setdefault(args.workload, []).append(report)
        with open(args.out, "w") as f:
            json.dump(data, f, indent=1)
    return 0 if report["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
