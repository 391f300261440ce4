"""paperoni-spark benchmark.

    python3 perfbench/run.py --workload articles --seed 1 --seconds 10 --trace 0

Runs one workload as a single closed-loop client at ``local[nproc]`` and
prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see
``perfbench/layers.json`` for what each one measures and which end-to-end
metric it should move).  Logs go to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("articles", "crawl_waves", "query_mix")
UNIT_NAMES = {"articles": "job_s", "crawl_waves": "wave_s", "query_mix": "pass_s"}


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric BENCHMARK.json lists."""
    with open(os.path.join(common.repo_root(), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    common.require_program()
    # the program's own temp files (stream staging, memoized indexes) stay
    # inside the checkout
    tmp = os.path.join(common.work_root(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp

    if args.workload == "articles":
        from perfbench.articles import run
    elif args.workload == "crawl_waves":
        from perfbench.crawl import run
    else:
        from perfbench.queries import run
    try:
        correct, attempted, failed, metrics = run(
            args.seed, args.seconds, bool(args.trace), T_START
        )
    finally:
        for d in (f"run-{args.workload}", "tmp"):
            shutil.rmtree(os.path.join(common.work_root(), d), ignore_errors=True)
    for name, (value, unit) in metrics.items():
        common.log(f"{name} = {value:.6g} {unit}")
    if "unit_s" in metrics:
        common.log(f"{UNIT_NAMES[args.workload]} = {metrics['unit_s'][0]:.6g} s")
    common.log(f"failed_share = {failed / max(1, attempted):.6g} ratio ({failed} of {attempted} units + docs)")
    if args.trace:
        # every listed per-layer metric, 0 where the workload never calls
        # the layer; metrics only this workload has (q.*) ride along
        listed = per_layer_units()
        missing = [m for m in listed if m not in metrics]
        if missing:
            common.log(f"{args.workload} never calls: {', '.join(missing)} (reported as 0)")
        for m, unit in listed.items():
            if m in metrics and metrics[m][1] != unit:
                raise SystemExit(f"perfbench: {m} measured in {metrics[m][1]}, listed in {unit}")
        extra = {m: v for m, v in metrics.items() if m.startswith("q.")}
        metrics = {m: metrics.get(m, (0.0, unit)) for m, unit in listed.items()} | extra
    print(common.result_line(correct, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
