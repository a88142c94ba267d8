"""Structured Streaming ingest for the extraction pipeline.

The reference is a request/async-batch service (ref server.cjs:66-95 —
fire-and-forget worker per job); the streaming analogue is a continuous
ingest: new transcript files land in a directory / Iceberg table, each
micro-batch flows through the SAME stateless mapInPandas extractor
(`pipeline.make_extractor`), and results append to the output table with
exactly-once file-sink semantics (checkpointed offsets — the streaming
counterpart of the batch commit table in lineage.py).

Late/out-of-order turns: extraction is per-turn pure, so no watermark is
needed for correctness; the optional windowed throughput monitor keeps a
1-minute event-time window with a 10-minute watermark (A-layer rollup in
stream form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import EXTRACT_SCHEMA, make_extractor

TRANSCRIPT_DDL = (
    "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"
)


def read_transcript_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 32,
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def extract_stream(stream_df: DataFrame, depara: dict | None = None) -> DataFrame:
    """Stateless streaming extraction — identical per-turn bytes to the
    batch path (same UDF closure)."""
    if depara is None:
        from .. import fixtures

        depara = fixtures.runtime_depara()
    return stream_df.mapInPandas(make_extractor(depara), schema=EXTRACT_SCHEMA)


def start_extraction_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    depara: dict | None = None,
    available_now: bool = False,
):
    """Start (or drain, with available_now) the extraction stream."""
    out = extract_stream(read_transcript_stream(spark, source_dir), depara)
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def throughput_monitor(stream_df: DataFrame) -> DataFrame:
    """Windowed event-time rollup: turns and bytes per 1-minute window,
    10-minute watermark for late turns."""
    return (
        stream_df.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.length("text")).alias("bytes_in"),
        )
        .select(F.col("win.start").alias("window_start"), "turns", "bytes_in")
    )


def gate_stream(
    extracted: DataFrame,
    min_quality: float = 0.5,
    langs: list | None = None,
    min_tokens: int = 5,
) -> DataFrame:
    """Streaming corpus gates: the quality/language/token-floor stage of
    ``ops.corpus.clean_corpus`` over a streaming extraction frame.

    Everything here is stateless projection/filter (staged-count quality
    features, fused single-pass lang-ID), so it streams unchanged — the
    per-turn gated corpus is incrementally appendable with exactly-once
    file-sink semantics. Near-dup removal is inherently cross-document
    and stays a batch (or periodic compaction) stage over the gated
    store; at 100 TB the standard layout is this stream feeding the
    bronze→silver table and `near_dup_groups` running as the silver→gold
    batch job."""
    from ..ops import textstats

    gated = textstats.with_lang_id(
        textstats.with_quality(extracted, "clean_text"), "clean_text"
    )
    keep = (F.col("quality_score") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    if langs:
        keep = keep & F.col("lang").isin(list(langs))
    return gated.filter(keep)


def start_incremental_corpus_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    checkpoint_dir: str,
    available_now: bool = False,
    **clean_kw,
):
    """Continuous corpus growth — the streaming form of the runner's
    ``--clean-incremental`` job: each micro-batch of raw transcripts is
    cleaned and near-dup-deduped against the STORED corpus + signature
    pair (``ops.corpus.clean_corpus_incremental``, probing history
    through its persisted MinHash signature index — history is never
    re-extracted or re-shingled), and the survivors plus their
    signatures are appended. The first micro-batch bootstraps the store
    with a full ``clean_corpus``. ``clean_kw`` forwards the cleaning
    knobs (min_quality, langs, dedup_threshold, …).

    This closes the gap ``gate_stream`` documents ("near-dup removal
    stays a batch/compaction stage"): with the incremental index the
    dedup IS per-micro-batch, at batch-sized cost, under the documented
    keep-first divergence classes (ops/dedup.incremental_keep).

    Delivery: source offsets are exactly-once (checkpointed), but a
    ``foreachBatch`` parquet append is not transactional with them — a
    crash can replay a batch or split the corpus/signature append pair.
    Both windows are RECONCILED, not ignored: a replayed batch's rows
    are exact duplicates of their own earlier append, so the md5
    anti-join drops them (corpus append is idempotent), and every
    incremental batch first runs ``corpus.sync_signatures`` — rebuild
    the index when missing, backfill signatures for any corpus rows the
    index lacks — so a crash between the two appends self-heals on the
    next batch. With an Iceberg catalog the same ``write_table`` calls
    additionally land as ACID appends (sources/io.py)."""
    from ..ops import corpus as corpus_ops
    from ..sources.io import read_table, sub_target, table_exists, write_table

    corpus_t = sub_target(corpus_root, "corpus")
    sig_t = sub_target(corpus_root, "signatures")
    runs_t = sub_target(corpus_root, "runs")

    def _log_run(mode: str, batch_id: int, rows_kept: int, metrics: dict | None) -> None:
        # per-micro-batch run summary persisted next to the store — the
        # shared corpus.log_run schema, so batch and streaming jobs write
        # one compatible runs table (at-least-once telemetry: a replayed
        # micro-batch logs a second batch-N row; see log_run's docstring)
        corpus_ops.log_run(spark, runs_t, mode, f"batch-{batch_id}", rows_kept, metrics)
    # the signature index MUST be built with the same num_hashes/k the
    # dedup probes with — forward them from the cleaning knobs
    nh = clean_kw.get("num_hashes", 32)
    par = clean_kw.get("parallelism")

    def _process(batch_df, batch_id):
        if not table_exists(spark, corpus_t):
            out = corpus_ops.clean_corpus(batch_df, **clean_kw)
            write_table(out, corpus_t, mode="create")
            n = corpus_ops.sync_signatures(spark, corpus_t, sig_t, num_hashes=nh, parallelism=par)
            _log_run("stream_bootstrap", batch_id, n, corpus_ops.dedup_metrics(out))
            return
        # heal any prior crash window (missing/behind signature index)
        corpus_ops.sync_signatures(spark, corpus_t, sig_t, num_hashes=nh, parallelism=par)
        kept = read_table(spark, corpus_t)
        sigs = read_table(spark, sig_t)
        new_rows = corpus_ops.clean_corpus_incremental(
            kept, batch_df, kept_sigs=sigs, **clean_kw
        )
        # read metrics BEFORE the checkpoint: localCheckpoint returns a
        # fresh DataFrame object and the accounting attribute stays behind
        metrics = corpus_ops.dedup_metrics(new_rows)
        new_rows = new_rows.localCheckpoint(eager=True)
        write_table(new_rows, corpus_t, mode="append")
        write_table(
            corpus_ops.corpus_signatures(new_rows, num_hashes=nh, parallelism=par),
            sig_t,
            mode="append",
        )
        _log_run("stream_incremental", batch_id, new_rows.count(), metrics)

    writer = (
        read_transcript_stream(spark, source_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
