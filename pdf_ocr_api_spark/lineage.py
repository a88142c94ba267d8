"""Checkpointed, resumable extraction runs: data + one commit table (FIXTURES §4).

The reference tracks one job row in an external store (ref server.cjs:11-30,
jobs.js:1-48 — LRU cap 100, 10-min TTL). At 10^12-turn scale the unit of
tracking is the **bucket**: a deterministic hash partition of conversations
(`pmod(crc32(conv_id), n_buckets)`). Two logical tables:

* ``data``    — extracted turns, partitioned by bucket
* ``lineage`` — the commit table: one row per bucket per run with its
                metrics (input/extracted counts, bytes in/out, services,
                UDF processing time, FIXTURES.md §4) and the resume guard
                (mode, n_buckets, de/para digest). A ``status='done'`` row
                is the bucket's commit point: a rerun skips committed
                buckets and touches ONLY pending ones (idempotent resume —
                the distributed analogue of the reference's status poll,
                ref server.cjs:99-103)

Writes are bucket-wise dynamic-partition overwrites, so a crashed run that
re-processes a bucket converges to the same bytes (extraction is a pure
per-turn function — see tests/test_pipeline.py::test_partition_invariance).
``n_buckets`` is the resume unit. The write's shuffle hashes on ``bucket``
at the session's ``spark.sql.shuffle.partitions`` width and AQE coalesces
its writer tasks from the shuffle sizes; each bucket stays ONE file.
The commit rows go in ONE append after the data write: a crash before it
leaves no row, and the resume reprocesses exactly those buckets.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_transcripts
from .sources.io import local_frame, read_table, sub_target, table_exists, write_table

DEFAULT_BUCKETS = 64

# commit-table columns before ``ts`` (added by the append itself)
COMMIT_SCHEMA = (
    "bucket INT, input_count BIGINT, extracted_count BIGINT, bytes_in BIGINT, "
    "bytes_out BIGINT, services_count BIGINT, proc_us BIGINT, run_id STRING, "
    "wall_ms BIGINT, status STRING, mode STRING, n_buckets INT, depara_digest STRING"
)


def bucket_expr(n_buckets: int):
    return F.pmod(F.crc32(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def _paths(out_root: str) -> dict:
    return {k: sub_target(out_root, k) for k in ("data", "lineage")}


def _commits(spark: SparkSession, out_root: str) -> list:
    """The root's committed (bucket, mode, n_buckets, depara_digest) rows, in one read."""
    p = _paths(out_root)
    if not table_exists(spark, p["lineage"]):
        # a bare path root ("results") once kept its tables beside it
        # (results_data, results_lineage): refuse it rather than re-extract
        # every bucket into a second copy
        sibling = f"{out_root}_lineage"
        if "/" not in out_root and p["lineage"] != sibling and table_exists(spark, sibling):
            raise ValueError(
                f"output root {out_root!r} uses the old sibling layout ({out_root}_data, "
                f"{out_root}_lineage); move them to {out_root}/data and {out_root}/lineage to resume"
            )
        return []
    lin = read_table(spark, p["lineage"])
    if "status" not in lin.columns:
        # every root of the older layout has this lineage table (its
        # commit marks lived in a separate ``manifest`` table): refuse it
        # rather than misread which buckets are done
        raise ValueError(
            f"output root {out_root!r} uses the old two-table layout (lineage + manifest); "
            "it cannot be resumed by this version — extract into a new root"
        )
    return (
        lin.filter(F.col("status") == "done")
        .select("bucket", "mode", "n_buckets", "depara_digest")
        .distinct()
        .collect()
    )


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    depara: dict | None = None,
    salt: int | None = None,
    with_services: bool = True,
    with_styling: bool = False,
    with_tables: bool = False,
    with_metadata: bool = False,
) -> dict:
    """Execute one checkpointed extraction run; returns summary stats.

    Only buckets without a ``done`` row in the commit table are processed.
    """
    p = _paths(out_root)
    commits = _commits(spark, out_root)
    done = {r.bucket for r in commits}
    # the mode string is part of the resume guard: any option that
    # changes the OUTPUT SCHEMA must refuse to mix within one root
    mode = "full" if with_services else "text_only"
    if with_styling:
        mode += "+styled"
    if with_tables:
        mode += "+tables"
    if with_metadata:
        mode += "+meta"

    if depara is None:
        from .fixtures import runtime_depara

        depara = runtime_depara()
    # the de/para dimension payload shapes the extraction output: a resume
    # under a different payload would mix incompatible bucket contents
    # just like a different mode would — digest it into the commit rows
    depara_digest = hashlib.md5(
        json.dumps(depara, sort_keys=True, ensure_ascii=False, default=str).encode()
    ).hexdigest()

    # refuse to mix extraction modes or bucket counts within one output
    # root — a resumed run with different settings would silently skip
    # some conversations and duplicate others (bucket ids from a
    # different n_buckets identify different conversation sets)
    prev_modes = {r.mode for r in commits}
    prev_nb = {r.n_buckets for r in commits}
    prev_dig = {r.depara_digest for r in commits}
    if prev_modes and prev_modes != {mode}:
        raise ValueError(
            f"output root {out_root!r} was written in mode(s) {sorted(prev_modes)}; "
            f"refusing to resume in mode {mode!r}"
        )
    if prev_nb and prev_nb != {n_buckets}:
        raise ValueError(
            f"output root {out_root!r} was bucketed with n_buckets={sorted(prev_nb)}; "
            f"refusing to resume with n_buckets={n_buckets}"
        )
    if prev_dig and prev_dig != {depara_digest}:
        raise ValueError(
            f"output root {out_root!r} was extracted with a different de/para payload "
            f"(digest {sorted(prev_dig)} != {depara_digest}); refusing to resume"
        )

    df = transcripts.withColumn("bucket", bucket_expr(n_buckets))
    if done:
        df = df.filter(~F.col("bucket").isin(list(done)))

    t0 = time.monotonic()
    extracted = extract_transcripts(
        df.drop("bucket"),
        depara=depara,
        salt=salt,
        with_services=with_services,
        with_styling=with_styling,
        with_tables=with_tables,
        with_metadata=with_metadata,
    ).withColumn("bucket", bucket_expr(n_buckets))
    # shuffle by bucket before the partitioned write — the file count is
    # O(n_buckets) instead of O(tasks × buckets) (a 10^12-turn run with 10k
    # buckets would otherwise shatter into millions of small files). No
    # fixed width: a REPARTITION_BY_COL exchange is one AQE coalesces, so
    # the shuffle sizes, not n_buckets, decide how many tasks write
    extracted = extracted.repartition(F.col("bucket"))

    write_table(extracted, p["data"], mode="overwrite_partitions", partition_by=["bucket"])
    wall_ms = int((time.monotonic() - t0) * 1000)

    # ONE rollup over a tagged union of the input (a conv_id-only columnar
    # scan: the lineage contract is input-vs-extracted reconciliation, so
    # input_count is measured on the input, not echoed from the output) and
    # the read-back of the just-written buckets (metrics reflect what is
    # durably on disk, not what a retried task produced twice). Keeping
    # only buckets with output is the right join of the two sides.
    out = read_table(spark, p["data"])
    if done:
        out = out.filter(~F.col("bucket").isin(list(done)))
    measured = {
        "bytes_in": F.col("n_chars_in"),
        "bytes_out": F.col("n_chars_out"),
        "services_count": F.size("services").cast("bigint"),
        "proc_us": F.col("proc_us"),
    }
    none = F.lit(None).cast("bigint")
    sides = df.select(
        "bucket", F.lit(1).alias("input_count"), F.lit(0).alias("extracted_count"),
        *[none.alias(k) for k in measured],
    ).unionByName(out.select(
        "bucket", F.lit(0).alias("input_count"), F.lit(1).alias("extracted_count"),
        *[v.alias(k) for k, v in measured.items()],
    ))
    rows = (
        sides.groupBy("bucket")
        .agg(*[F.sum(c).alias(c) for c in sides.columns[1:]])
        .filter(F.col("extracted_count") > 0)
        .collect()
    )

    if rows:
        # the commit point: every bucket processed this run, with its
        # metrics and the resume guard, in one append
        commit = [(*r, run_id, wall_ms, "done", mode, n_buckets, depara_digest) for r in rows]
        write_table(
            local_frame(spark, commit, COMMIT_SCHEMA).withColumn("ts", F.current_timestamp()),
            p["lineage"],
            mode="append",
        )

    return {
        "run_id": run_id,
        "wall_ms": wall_ms,
        "buckets_processed": sorted(r.bucket for r in rows),
        "buckets_skipped": sorted(done),
        "turns": sum(r.extracted_count for r in rows),
        "services": sum(r.services_count or 0 for r in rows),
    }


def read_output(spark: SparkSession, out_root: str) -> DataFrame:
    return read_table(spark, _paths(out_root)["data"])


def read_lineage(spark: SparkSession, out_root: str) -> DataFrame:
    """The commit table: per-bucket metrics and resume guard, one row per bucket per run."""
    return read_table(spark, _paths(out_root)["lineage"])
