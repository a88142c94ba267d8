"""Traced-run tool: the per-layer split of one workload, and what tracing costs.

    python3 perfbench/trace_report.py --workload extract_job --seed 0 --out traced.json

It runs the workload twice, each in a fresh process: untraced (``--trace 0``)
and traced (``--trace 1``). It prints the traced run's per-pass layer table
and writes one JSON with the per-layer medians, every pass's layer metrics,
the span tree with self times and the Spark jobs attributed to each span,
and the tracing overhead: the traced run's loss in ``turns_per_s`` against
the untraced run.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULTS = ROOT / ".perfbench_work" / "results"

COLUMNS = [
    ("pass_s", "pass_s"),
    ("driver.build_s", "build_s"),
    ("driver.plan_s", "plan_s"),
    ("driver.py4j_calls", "py4j"),
    ("spark.jobs", "jobs"),
    ("spark.tasks", "tasks"),
    ("pipeline.udf_s", "udf_s"),
    ("pipeline.proc_s", "proc_s"),
    ("lineage.write_s", "write_s"),
    ("lineage.rollup_s", "rollup_s"),
    ("lineage.meta_s", "meta_s"),
    ("conversation.exec_s", "conv_s"),
    ("corpus.gate_s", "gate_s"),
    ("corpus.near_dup_s", "neardup_s"),
    ("exec.run_s", "exec_s"),
    ("exec.gc_s", "gc_s"),
    ("shuffle.write_bytes", "shufW_MB"),
    ("storage.residual_bytes", "resid_MB"),
    ("trace.span_cover", "cover"),
]


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    full = json.loads((RESULTS / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return line, full


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    seconds = args.seconds or json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    plain, _ = run(args.workload, args.seed, seconds, 0)
    traced_line, traced = run(args.workload, args.seed, seconds, 1)

    rows = [p for p in traced["passes"] if "layers" in p]
    cols = [(k, h) for k, h in COLUMNS if any(k in p["layers"] for p in rows)]
    print(f"{args.workload} seed {args.seed}, traced run, one row per pass")
    print(f"{'phase':>7}" + "".join(f"{h:>10}" for _, h in cols))
    for p in rows:
        cells = []
        for k, _ in cols:
            v = p["layers"].get(k, 0.0)
            cells.append(f"{v / 2**20:>10.2f}" if k.endswith("_bytes") else f"{v:>10.3f}" if isinstance(v, float) else f"{v:>10}")
        print(f"{p['phase']:>7}" + "".join(cells))

    untraced_tps = plain["metrics"]["turns_per_s"]["value"]
    traced_tps = traced_line["metrics"]["trace.turns_per_s"]["value"]
    covers = [p["layers"]["trace.span_cover"] for p in rows]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "run_seconds": seconds,
        "untraced": plain,
        "traced": traced_line,
        "tracing_overhead": {
            "untraced_turns_per_s": untraced_tps,
            "traced_turns_per_s": traced_tps,
            "share": 1 - traced_tps / untraced_tps,
        },
        "span_cover": {"min": min(covers), "max": max(covers)},
        "passes": traced["passes"],
        "spans": traced["spans"],
    }
    Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    print(f"tracing overhead: {report['tracing_overhead']['share']:+.1%} turns_per_s "
          f"({untraced_tps:.1f} untraced, {traced_tps:.1f} traced); "
          f"layer spans cover {min(covers):.1%}..{max(covers):.1%} of each pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
