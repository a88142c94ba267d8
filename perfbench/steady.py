"""Steadiness report: one workload in N fresh processes, one seed each.

    python3 perfbench/steady.py --workload extract_job --seeds 0-9 [--out report.json]

For every end-to-end metric it prints the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``), the quartile spread as a share of
the median next to the metric's bound in ``BENCHMARK.json``, and max/min.
Before each run it times ``bench.py``'s fixed-size matmul probe, so a run
slowed by other load on the machine can be told from a slower program.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / statistics.median(values),
        "max_over_min": max(values) / min(values),
        "n": len(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="0-9", help="e.g. 0-9 or 0,3,5")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="write the runs and the summary here as JSON")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    from bench import _contention_probe

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        probe = _contention_probe()
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        run_s = time.monotonic() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr}", file=sys.stderr)
            return 1
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "probe_s": probe, "run_s": run_s, **line})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items())
        print(f"seed {seed}: probe {probe:.3f}s run {run_s:.1f}s correct={line['correct']} "
              f"failed={line['failed']}/{line['attempted']} {vals}", flush=True)

    summary = {}
    print(f"\n{args.workload}: {len(runs)} runs, run_seconds={seconds}")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'bound':>7}{'max/min':>9}")
    for m in spec["end_to_end"]:
        s = stats([r["metrics"][m["name"]]["value"] for r in runs])
        summary[m["name"]] = {**s, "bound": m["bound"], "unit": m["unit"]}
        print(f"{m['name']:<14}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}"
              f"{s['iqr_share']:>9.3f}{m['bound']:>7.2f}{s['max_over_min']:>9.3f}")
    summary["probe_s"] = stats([r["probe_s"] for r in runs])
    summary["run_s"] = stats([r["run_s"] for r in runs])
    failed = sum(r["failed"] for r in runs)
    attempted = sum(r["attempted"] for r in runs)
    print(f"probe_s median {summary['probe_s']['median']:.3f} (max/min {summary['probe_s']['max_over_min']:.2f}); "
          f"failed passes {failed}/{attempted}; all correct: {all(r['correct'] for r in runs)}; "
          f"wall per run median {summary['run_s']['median']:.1f}s, max {max(r['run_s'] for r in runs):.1f}s")
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "run_seconds": seconds, "runs": runs, "summary": summary}, indent=1
        ) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
