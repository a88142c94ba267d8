"""Benchmark entry point: one workload, one seed, one fresh measured process.

    python3 perfbench/run.py --workload extract_job --seed 0 --seconds 6 --trace 0

Run from the repository root. It builds the seed's inputs once
(``inputs.py``, cached under ``.perfbench_work/``), starts ``measure.py`` as a
fresh process, and prints as its last stdout line one JSON object::

    {"correct": ..., "attempted": <passes>, "failed": <passes>, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` list, as medians over
the timed passes. ``failed / attempted`` is the failed-pass fraction: a
pass fails when it raises or its output check fails. The full record of the
run (every pass, and in a traced run the spans and per-pass layer
metrics) is written to ``.perfbench_work/results/``.

Metric definitions (``README.md`` has the reasoning):

* ``setup_s`` - from spawning the measured process until the package is
  imported, the Spark session is up and the prepared input is registered.
  Input generation, and the write of the extraction output that
  ``records`` reads, are not included.
* ``cold_s`` - the first pass in the fresh process.
* ``turns_per_s`` - input turns over the median of the timed passes, which
  come after the cold pass and any warm-up passes.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
CHILD_TIMEOUT_S = 165


def _stop_group(pgid: int) -> None:
    """Wait until no live process is left in the group, escalating to signals."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def spawn(args: list[str], log: Path) -> int:
    """Run ``measure.py`` with ``args`` in a fresh process; returns its exit code.

    The process gets its own session, so the JVM and the Python workers it
    starts can be stopped with it, also when this process is terminated.
    """
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    log.parent.mkdir(parents=True, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=str(ROOT),
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(WORK / "tmp"),
        # keep the JVM's temp files inside the checkout too
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    )
    spawned_at = time.monotonic()
    cmd = [sys.executable, str(HERE / "measure.py"), *args, "--spawned-at", repr(spawned_at)]
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            cmd, cwd=WORK, env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True
        )
        code = -1
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_group(proc.pid)
    return code


def summarize(result: dict, spec: dict, turns: int, trace: bool) -> dict:
    passes = result["passes"]
    failed = sum(1 for p in passes if p["errors"])
    # times are reported for every completed pass; correctness separately
    timed = [p for p in passes if p["phase"] == "timed" and p["wall_s"] is not None]
    cold = passes[0]
    measured: dict = {"setup_s": result["setup_s"]}
    if timed and cold["wall_s"] is not None:
        warm = statistics.median(p["wall_s"] for p in timed)
        measured.update(cold_s=cold["wall_s"], turns_per_s=turns / warm)
        if trace:
            layers = {k for p in timed for k in p.get("layers", {})}
            measured.update({k: statistics.median(p.get("layers", {}).get(k, 0.0) for p in timed) for k in layers})
            measured["cold.extra_s"] = cold["wall_s"] - warm
            measured["trace.turns_per_s"] = turns / warm
    names = spec["per_layer"] if trace else spec["end_to_end"]
    return {
        "correct": failed == 0 and len(timed) > 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
            if m["name"] in measured or trace
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # terminate -> SystemExit, so spawn() stops the measured process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not (ROOT / "pdf_ocr_api_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdf_ocr_api_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import inputs as bench_inputs
    from measure import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    table = WORKLOADS[args.workload].input_table
    inputs = bench_inputs.prepare(args.seed, WORK / "inputs", table)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result_path = WORK / "results" / f"{tag}.json"
    result_path.parent.mkdir(parents=True, exist_ok=True)
    result_path.unlink(missing_ok=True)
    log = WORK / "logs" / f"{tag}.log"
    code = spawn(
        ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--inputs", json.dumps(inputs), "--work", str(WORK / "run"),
         "--result", str(result_path)],
        log,
    )
    if code != 0 or not result_path.is_file():
        print(f"perfbench: measured process failed (exit {code}); see {log}", file=sys.stderr)
        return 1
    result = json.loads(result_path.read_text())
    line = summarize(result, spec, inputs[f"n_{table}"], bool(args.trace))
    for p in result["passes"]:
        print(f"{p['phase']:>6} {p['wall_s'] if p['wall_s'] is not None else float('nan'):8.3f}s "
              f"{'FAILED' if p['errors'] else 'ok'}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
