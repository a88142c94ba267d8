"""One measured benchmark process (started by ``run.py``, never by hand).

The process sets up (imports the package, builds the job's session with
``runner.build_session`` at ``local[<cores>]`` and registers its prepared
input), then runs one cold pass, throws away the warm-up passes, and runs
timed warm passes until ``--seconds`` have passed and at least the
workload's minimum count is reached. Every pass writes to a fresh output
root and its output is checked afterwards, outside the timed region. The
result goes to ``--result`` as JSON.

``records`` first writes the extraction output it reads, with
``lineage.run`` in the same session, as ``runner --records`` does; that
write is not timed and does not count in ``setup_s``.

``--trace 1`` adds spans and reads Spark's REST API after each pass
(``tracing.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import zlib
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

BUCKETS = 64  # the runner's default --buckets: extract_job, and clean_corpus's parallelism
# --buckets of the extraction that ``records`` reads: at 64, its 64 bucket
# partitions make every records pass slower (README, "Workloads")
STORED_BUCKETS = 16
SAMPLE_MOD = 256  # extract_job re-extracts turns with crc32(key) % SAMPLE_MOD == 0
STOP_STARTING_AFTER_S = 125.0  # no new pass this long after spawn: the run must end by 180 s


def digest(df, cols: list[str]) -> str:
    """Order-independent digest: row count and the sum of per-row xxhash64."""
    from pyspark.sql import functions as F  # noqa: N812

    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*"), F.sum("h")
    ).first()
    return f"{row[0]}:{row[1] or 0}"


class Workload:
    """A pass, its output check, and its layer metrics in a traced run."""

    name = ""
    input_table = "transcripts"
    warmup = 1
    min_timed = 1

    def __init__(self, spark, inputs: dict, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.expected_digest = None
        self.last_digest = None

    @staticmethod
    def prepare(spark, inputs: dict, work: Path) -> None:
        """Make inputs that need the session; not timed, not in ``setup_s``."""

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def instrument(self) -> None:
        """Re-bind the public functions whose calls the traced run times."""
        from pyspark.sql.classic.dataframe import DataFrame

        from pdf_ocr_api_spark import lineage
        from pdf_ocr_api_spark.sources import io

        t = self.tracer
        t.wrap(io, "write_table", "sources.io.write_table")
        t.wrap(lineage, "write_table", "sources.io.write_table")
        t.wrap(lineage, "read_table", "sources.io.read_table")
        t.wrap(DataFrame, "localCheckpoint", "DataFrame.localCheckpoint")
        t.wrap(DataFrame, "collect", "DataFrame.collect")

    def check_digest(self, got: str, recorded: str | None) -> list[str]:
        """Compare with the digest recorded for this seed, else with the first pass."""
        self.last_digest = got
        want = recorded or self.expected_digest
        if want is None:
            self.expected_digest = got
            return []
        return [] if got == want else [f"output digest {got} != {want}"]


class ExtractJob(Workload):
    """``lineage.run`` in full mode: the ``runner`` default job."""

    name = "extract_job"
    warmup = 0
    min_timed = 2

    def __init__(self, spark, inputs, tracer=None):
        super().__init__(spark, inputs, tracer)
        from pdf_ocr_api_spark.sources.io import read_table

        self.table = read_table(spark, str(inputs["transcripts"]))
        self.sample = None

    def run(self, out: Path) -> None:
        from pdf_ocr_api_spark import lineage

        with self.span("lineage.run"):
            lineage.run(
                self.spark, self.table, str(out), run_id=out.name, n_buckets=BUCKETS, with_services=True
            )

    def output(self, out: Path):
        from pdf_ocr_api_spark import lineage

        return lineage.read_output(self.spark, str(out))

    def check(self, out: Path, recorded: str | None) -> tuple[list[str], dict]:
        from pdf_ocr_api_spark import lineage

        errors = []
        lin = lineage.read_lineage(self.spark, str(out)).collect()
        bad = [r.bucket for r in lin if r.input_count != r.extracted_count]
        if bad:
            errors.append(f"lineage buckets with input_count != extracted_count: {sorted(bad)}")
        n_in = self.inputs["n_transcripts"]
        n_out = sum(r.extracted_count for r in lin)
        if n_out != n_in:
            errors.append(f"extracted {n_out} turns, input has {n_in}")
        data = self.output(out)
        if self.sample is None:
            # once per process: a pass whose digest matches this checked
            # output (or the seed's recorded digest) has the same rows
            errors += self.check_sample(data)
        cols = [c for c in data.columns if c != "proc_us"]
        errors += self.check_digest(digest(data, cols), recorded)
        return errors, {"proc_us": sum(r.proc_us or 0 for r in lin), "rows": n_out}

    def check_sample(self, data) -> list[str]:
        """Per-turn equality with an in-process run of the same extractor.

        Covers the partition-invariance contract: a turn's output must not
        depend on which batch or partition it was extracted in.
        """
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F  # noqa: N812

        from pdf_ocr_api_spark import fixtures, pipeline

        tab = pq.read_table(self.inputs["transcripts"]).to_pandas()
        keys = (tab["conv_id"] + ":" + tab["turn_idx"].astype(str)).map(
            lambda k: zlib.crc32(k.encode()) % SAMPLE_MOD == 0
        )
        sub = tab[keys].reset_index(drop=True)
        extract = pipeline.make_extractor(fixtures.runtime_depara(), with_services=True)
        ref = next(iter(extract(iter([sub]))))
        self.sample = {
            (r["conv_id"], int(r["turn_idx"])): _plain(
                {"clean_text": r["clean_text"], "spans": r["spans"], "services": r["services"]}
            )
            for r in ref.to_dict("records")
        }
        ids = sorted({c for c, _ in self.sample})
        got = {
            (r["conv_id"], r["turn_idx"]): _plain(
                {"clean_text": r["clean_text"], "spans": r["spans"], "services": r["services"]}
            )
            for r in data.filter(F.col("conv_id").isin(ids))
            .select("conv_id", "turn_idx", "clean_text", "spans", "services")
            .collect()
        }
        diff = [k for k, v in self.sample.items() if got.get(k) != v]
        return [f"{len(diff)} sampled turns differ from in-process extraction, e.g. {diff[:3]}"] if diff else []

    def layer_metrics(self, pm, info: dict, out: Path) -> dict:
        from pyspark.sql import functions as F  # noqa: N812

        run = pm.named("lineage.run")[0]
        inner = pm.tracer.subtree(run)
        writes = [s for s in inner if s["name"] == "sources.io.write_table"]
        rollup = [s for s in inner if s["name"] == "DataFrame.collect"][0]
        data_write = writes[0]
        write_stages = pm.stages_in(data_write)
        last = max(write_stages, key=lambda s: s["stageId"])
        proc = {
            r["kind"]: (r["p"] or 0) / 1e6
            for r in self.output(out).groupBy("kind").agg(F.sum("proc_us").alias("p")).collect()
        }
        proc_s = info["proc_us"] / 1e6
        m = {
            "lineage.write_s": data_write["end"] - data_write["start"],
            "lineage.rollup_s": rollup["end"] - rollup["start"],
            "lineage.meta_s": run["end"] - rollup["end"],
            "lineage.write_skew": pm.stage_skew(last),
            "pipeline.proc_s": proc_s,
        }
        m.update({f"pipeline.proc_s.{k}": v for k, v in proc.items()})
        return m


class Records(Workload):
    """The records half of ``runner --records``: conversation records from an extraction output."""

    name = "records"
    # its second pass still runs ~20 % slower than the third (README, "One run")
    warmup = 1
    min_timed = 2

    @staticmethod
    def prepare(spark, inputs, work):
        """The extraction output ``runner --records`` writes before the records (full mode)."""
        from pdf_ocr_api_spark import lineage
        from pdf_ocr_api_spark.sources.io import read_table

        ext = work / "extraction"
        shutil.rmtree(ext, ignore_errors=True)
        lineage.run(spark, read_table(spark, inputs["transcripts"]), str(ext), run_id="prepare",
                    n_buckets=STORED_BUCKETS)
        inputs["extraction"] = str(ext)

    def __init__(self, spark, inputs, tracer=None):
        super().__init__(spark, inputs, tracer)
        from pdf_ocr_api_spark import lineage

        self.ext_root = str(inputs["extraction"])
        lineage.read_output(spark, self.ext_root)  # registers the input: file listing and schema

    def instrument(self) -> None:
        from pdf_ocr_api_spark import conversation

        super().instrument()
        self.tracer.wrap(conversation, "conversation_records", "conversation.conversation_records")

    def run(self, out: Path) -> None:
        from pdf_ocr_api_spark import conversation, fixtures, lineage
        from pdf_ocr_api_spark.sources import io

        with self.span("lineage.read_output"):
            ext = lineage.read_output(self.spark, self.ext_root)
        with self.span("conversation.tipo_dim_df"):
            tipo = conversation.tipo_dim_df(self.spark, fixtures.DEPARA_RAW["tipoCertidao"])
        recs = conversation.conversation_records(ext, tipo)
        io.write_table(recs, str(out), mode="create")

    def check(self, out: Path, recorded: str | None) -> tuple[list[str], dict]:
        from pdf_ocr_api_spark.sources.io import read_table

        recs = read_table(self.spark, str(out))
        d = digest(recs, recs.columns)
        n = int(d.split(":")[0])
        errors = self.check_digest(d, recorded)
        if n != self.inputs["n_transcripts_convs"]:
            errors.append(f"{n} records for {self.inputs['n_transcripts_convs']} conversations")
        return errors, {"rows": n}

    def layer_metrics(self, pm, info: dict, out: Path) -> dict:
        write = pm.named("sources.io.write_table")[-1]
        stages = pm.stages_in(write)
        return {
            "conversation.exec_s": write["end"] - write["start"],
            "conversation.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "conversation.task_skew": pm.task_skew(stages),
        }


class CleanCorpus(Workload):
    """``ops.corpus.clean_corpus`` with the ``runner --clean-corpus`` defaults, then the write."""

    name = "clean_corpus"
    input_table = "dups"
    warmup = 1
    min_timed = 1

    def __init__(self, spark, inputs, tracer=None):
        super().__init__(spark, inputs, tracer)
        from pdf_ocr_api_spark.sources.io import read_table

        self.table = read_table(spark, str(inputs["dups"]))
        self.captured: dict = {}

    def instrument(self) -> None:
        from pdf_ocr_api_spark.ops import corpus, dedup

        super().instrument()
        t = self.tracer
        t.wrap(corpus, "clean_corpus", "ops.corpus.clean_corpus")
        t.wrap(dedup, "near_dup_groups", "ops.dedup.near_dup_groups")
        t.wrap(
            dedup, "jaccard_verify", "ops.dedup.jaccard_verify",
            on_call=lambda a, k: self.captured.__setitem__("candidates", a[1]),
        )
        t.wrap(
            dedup, "connected_components", "ops.dedup.connected_components",
            on_call=lambda a, k: self.captured.__setitem__("verified", a[0]),
        )

    def run(self, out: Path) -> None:
        from pdf_ocr_api_spark.ops import corpus
        from pdf_ocr_api_spark.sources import io

        # runner --clean-corpus defaults (runner.py argument parser)
        kept = corpus.clean_corpus(
            self.table,
            min_quality=0.5,
            langs=None,
            min_tokens=5,
            dedup_threshold=0.7,
            parallelism=BUCKETS,
            max_bucket_size=256,
        )
        io.write_table(kept, str(out), mode="create")

    def check(self, out: Path, recorded: str | None) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F  # noqa: N812

        from pdf_ocr_api_spark.ops import dedup
        from pdf_ocr_api_spark.sources.io import read_table

        kept = read_table(self.spark, str(out))
        d = digest(kept, kept.columns)
        n = int(d.split(":")[0])
        errors = self.check_digest(d, recorded)
        if not 0 < n < self.inputs["n_dups"]:
            errors.append(f"kept {n} of {self.inputs['n_dups']} turns")
        twins = (
            kept.groupBy(F.md5(dedup.normalized_text(F.col("clean_text"))))
            .count()
            .filter("count > 1")
            .count()
        )
        if twins:
            errors.append(f"{twins} exact-duplicate texts survived dedup")
        low = kept.filter((F.col("quality_score") < 0.5) | (F.col("n_tokens") < 5)).count()
        if low:
            errors.append(f"{low} kept turns are below the quality or token floor")
        return errors, {"rows": n}

    def layer_metrics(self, pm, info: dict, out: Path) -> dict:
        clean = pm.named("ops.corpus.clean_corpus")[0]
        near = pm.named("ops.dedup.near_dup_groups")[0]
        write = [s for s in pm.named("sources.io.write_table") if s["parent"] == pm.root["id"]][-1]
        cand = self.captured.pop("candidates").count()
        ver = self.captured.pop("verified").count()
        return {
            "corpus.gate_s": (clean["end"] - clean["start"]) - (near["end"] - near["start"]),
            "corpus.near_dup_s": near["end"] - near["start"],
            "corpus.write_s": write["end"] - write["start"],
            "dedup.candidates": cand,
            "dedup.verified": ver,
            "dedup.useful_ratio": ver / cand if cand else 0.0,
            "corpus.rows_in": self.inputs["n_dups"],
            "corpus.rows_kept": info["rows"],
        }


WORKLOADS = {w.name: w for w in (ExtractJob, Records, CleanCorpus)}


def _plain(x):
    """Spark Rows / numpy values -> plain Python, for equality checks."""
    if hasattr(x, "asDict"):
        x = x.asDict(recursive=True)
    if isinstance(x, dict):
        return {k: _plain(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)) or type(x).__name__ == "ndarray":
        return [_plain(v) for v in x]
    if hasattr(x, "item"):
        return x.item()
    return x


def traced_pass_metrics(wl: Workload, root_span: dict, info: dict, out: Path) -> dict:
    from tracing import PassMetrics

    pm = PassMetrics(wl.tracer, root_span)
    m = {"pass_s": pm.wall, "trace.span_cover": pm.blocking_cover()}
    m.update(pm.driver_metrics())
    m.update(pm.engine_metrics())
    m.update(pm.pipeline_metrics())
    m.update(wl.layer_metrics(pm, info, out))
    if "pipeline.proc_s" in m:
        m["pipeline.overhead_s"] = m["pipeline.udf_s"] - m["pipeline.proc_s"]
    return m


def measure(args) -> dict:
    from pdf_ocr_api_spark import runner

    cores = len(os.sched_getaffinity(0))
    spark = runner.build_session(f"perfbench-{args.workload}", master=f"local[{cores}]")
    session_s = time.monotonic() - args.spawned_at
    inputs = json.loads(args.inputs)
    work = Path(args.work)
    cls = WORKLOADS[args.workload]
    cls.prepare(spark, inputs, work)
    t0 = time.monotonic()
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    wl = cls(spark, inputs, tracer)
    setup_s = session_s + time.monotonic() - t0
    if tracer:
        wl.instrument()

    recorded = (
        json.loads((Path(__file__).parent / "expected.json").read_text())
        .get(args.workload, {})
        .get(str(args.seed))
    )
    outputs = work / "out"
    passes = []
    timed_from = None
    while True:
        i = len(passes)
        phase = "cold" if i == 0 else "warmup" if i <= wl.warmup else "timed"
        if phase == "timed":
            timed_from = timed_from or time.monotonic()
            n_timed = sum(p["phase"] == "timed" for p in passes)
            if n_timed >= wl.min_timed and (
                time.monotonic() - timed_from >= args.seconds
                or time.monotonic() - args.spawned_at > STOP_STARTING_AFTER_S
            ):
                break
        shutil.rmtree(outputs, ignore_errors=True)
        out = outputs / f"pass-{i}"
        rec = {"phase": phase, "wall_s": None, "errors": []}
        t0 = time.monotonic()
        try:
            with wl.span("pass") as root_span:
                wl.run(out)
            rec["wall_s"] = time.monotonic() - t0
            rec["errors"], info = wl.check(out, recorded)
            rec["check_s"] = time.monotonic() - t0 - rec["wall_s"]
            rec["digest"] = wl.last_digest
            if tracer:
                rec["layers"] = traced_pass_metrics(wl, root_span, info, out)
        except Exception:  # a failed pass is counted, and the run goes on
            rec["errors"].append(traceback.format_exc(limit=3))
        passes.append(rec)
        if rec["errors"]:
            print(f"pass {i} ({phase}) failed:\n" + "\n".join(rec["errors"]), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    result = {"workload": args.workload, "seed": args.seed, "setup_s": setup_s, "passes": passes}
    if tracer:
        from tracing import span_tree

        result["spans"] = span_tree(tracer)
        tracer.close()
    spark.stop()
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True, help="JSON map of prepared input paths and sizes")
    ap.add_argument("--work", required=True, help="scratch directory for pass outputs")
    ap.add_argument("--spawned-at", type=float, required=True, help="time.monotonic() at spawn")
    ap.add_argument("--result", help="where to write the result JSON")
    args = ap.parse_args()
    result = measure(args)
    Path(args.result).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
