"""spark-submit entry point (SURVEY §3.1 re-expression).

The reference's POST /ocr/parse (ref server.cjs:34-96) becomes a batch job:

    spark-submit --py-files pdf_ocr_api_spark.zip -m pdf_ocr_api_spark.runner \\
        --input  /path/or/catalog.db.transcripts \\
        --output /path/or/catalog.db/extract_run \\
        --run-id $(date +%s) --buckets 256

The job id is the Spark applicationId (the reference mints a UUID,
ref server.cjs:53); job state lives in the lineage commit table (the
reference's Xano store, ref server.cjs:11-30); resume is automatic (only
buckets without a ``done`` row run).

The corpus jobs cut lineage through ``ops.stage.materialize``: executor-
local checkpoints by default, reliable ones once the session has a
checkpoint directory.  On a preemptible cluster turn that on at submit
time with ``--conf spark.checkpoint.dir=hdfs:///path/to/checkpoints``;
the sessions built here set none.

``python -m pdf_ocr_api_spark.runner --selftest`` runs a small
generate→extract→resume cycle on local[*] for smoke checking a deploy.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_session(
    app_name: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    # local mode: the driver JVM hosts every executor thread — the 1g
    # default GC-thrashes to death around 10^6 turns (observed: "Retried
    # waiting for GCLocker too often"). Applied regardless of how the
    # master is configured; under spark-submit the already-started JVM
    # ignores it and --driver-memory governs.
    b = b.config("spark.driver.memory", driver_memory or "8g")
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    )
    if master and master.startswith("local-cluster"):
        # separate executor JVMs must find the package: propagate the
        # repo root the way spark-submit --py-files would (on a real
        # cluster --py-files/archives governs; this covers the
        # local-cluster harness)
        import pathlib

        b = b.config(
            "spark.executorEnv.PYTHONPATH", str(pathlib.Path(__file__).resolve().parents[1])
        )
        b = b.config("spark.locality.wait", "0s")
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="transcript main-content extraction job")
    ap.add_argument("--input", help="transcripts table: parquet dir or catalog ident")
    ap.add_argument("--output", help="output root: <output>/data holds the turns by bucket, <output>/lineage "
                                     "one commit row per bucket per run (metrics, resume guard, status)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--buckets", type=int, default=64,
                    help="extraction: the resume unit, one file per bucket (AQE sizes the write tasks from "
                         "the shuffle); corpus jobs: the MinHash parallelism")
    ap.add_argument("--salt", type=int, default=None, help="salted repartition for skewed inputs")
    ap.add_argument("--text-only", action="store_true",
                    help="skip the service cascade: clean_text+spans only (~2x faster, ~45%% fewer output bytes)")
    ap.add_argument("--styling", action="store_true",
                    help="widen spans with Font/TextSize/Lang styling fields (pdf_layout turns)")
    ap.add_argument("--tables", action="store_true",
                    help="emit DocAI tables as structured header+rows arrays")
    ap.add_argument("--metadata", action="store_true",
                    help="emit per-document extended_metadata fields (pdf-properties analogue)")
    ap.add_argument("--records-rows", action="store_true",
                    help="with --records: write the row-form record (one row per service) instead of the Servicos array")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--driver-memory", default=None, help="local-mode driver JVM heap (default 8g)")
    ap.add_argument("--records", action="store_true", help="also write conversation-level records")
    ap.add_argument("--clean-corpus", action="store_true",
                    help="corpus-cleaning job: extract + quality/language gates + near-dup dedup; "
                         "writes <output>/corpus plus the MinHash signature index <output>/signatures")
    ap.add_argument("--clean-incremental", action="store_true",
                    help="incremental corpus job: dedup ONLY the --input batch against an existing "
                         "<output>/corpus via its <output>/signatures index, then APPEND the survivors "
                         "(and their signatures) — history is never re-extracted or re-shingled")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--dedup-threshold", type=float, default=0.7)
    ap.add_argument("--langs", default=None,
                    help="comma-separated language allow-list (e.g. en,pt); non-Latin corpora "
                         "are script-routed — list script tags (und-cjk, und-cyrillic, …) to keep them")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="redact emails/CPF/cards/IPs/phones (typed tags) "
                         "before quality scoring in the clean-corpus modes")
    ap.add_argument("--decontam-probes", default=None,
                    help="parquet dir / catalog ident of a benchmark probe table "
                         "(text column) — turns overlapping it are dropped before dedup")
    ap.add_argument("--decontam-n", type=int, default=8,
                    help="word n-gram size for decontamination (default 8)")
    ap.add_argument("--decontam-max-ratio", type=float, default=0.0,
                    help="max allowed contaminated fraction of a turn's distinct "
                         "n-grams (default 0.0 = strict)")
    ap.add_argument("--strip-line-repeats", choices=["doc", "consecutive"], default=None,
                    help="remove intra-turn repeated lines before quality scoring "
                         "(doc = drop every later repeat, consecutive = collapse runs); "
                         "use the SAME value on every batch of a store")
    ap.add_argument("--repetition-gate", action="store_true",
                    help="drop turns failing the Gopher repetition thresholds "
                         "(dup line/para fractions, top n-gram coverage) in the "
                         "clean-corpus modes")
    ap.add_argument("--train-lm", action="store_true",
                    help="train a Stupid Backoff n-gram LM on --input transcripts' text "
                         "and write the (n, gram, cnt) table to --output; use it later "
                         "via --lm-table in the clean-corpus modes")
    ap.add_argument("--lm-table", default=None,
                    help="parquet dir / catalog ident of a trained LM (--train-lm output); "
                         "with --lm-max-ppl, gates turns by pseudo-perplexity (CCNet-style)")
    ap.add_argument("--lm-max-ppl", type=float, default=None,
                    help="max pseudo-perplexity a turn may score against --lm-table")
    ap.add_argument("--lm-order", type=int, default=3,
                    help="n-gram order for --train-lm and LM scoring (default 3)")
    ap.add_argument("--lm-min-count", type=int, default=2,
                    help="--train-lm: prune n>1 grams below this count (default 2)")
    ap.add_argument("--classifier-table", default=None,
                    help="parquet dir / catalog ident of a trained NB quality model "
                         "(ops/classify.train_nb output); with --classifier-keep, gates "
                         "turns by model class (GPT-3/CCNet-style quality filter)")
    ap.add_argument("--classifier-keep", default=None,
                    help="model label a turn must be assigned to survive (e.g. 'good')")
    ap.add_argument("--classifier-min-margin", type=float, default=0.0,
                    help="min mean-per-token log-odds over the runner-up class (default 0.0)")
    ap.add_argument("--corpus-report", action="store_true",
                    help="after a clean job, (re)write the corpus datasheet "
                         "(ops/report.corpus_report over the STORED corpus) to "
                         "<output>/report and include its global section in the "
                         "job summary")
    ap.add_argument("--dedup-substrings", type=int, default=0, metavar="WIDTH",
                    help="remove duplicated ≥WIDTH-token spans (Lee et al. exact "
                         "substring dedup) after near-dup removal; persists an "
                         "append-only fingerprint index at <output>/substring_index "
                         "so incremental batches are cleaned against history; "
                         "use the SAME width on every batch of a store (0 = off)")
    ap.add_argument("--splits", default=None,
                    help='train/val/test weights, e.g. "train=0.98,val=0.01,test=0.01" — '
                         "leakage-safe hash split keyed on conv_id, stored as a split column; "
                         "hash-stable, so incremental batches agree with history without reading "
                         "it (use the same weights/salt on every batch of a store)")
    ap.add_argument("--split-salt", default="split-v1",
                    help="salt for the split hash (default split-v1)")
    ap.add_argument("--max-bucket-size", type=int, default=256,
                    help="LSH band-bucket skew cap (dropped buckets are counted in the summary); 0 = uncapped")
    ap.add_argument("--show-runs", action="store_true",
                    help="print the corpus store's persisted per-run telemetry (<output>/runs): "
                         "per-mode run counts, rows kept, and the dropped-bucket recall-loss "
                         "accounting — the operator's one-call alert surface")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)

    if args.selftest:
        return _selftest()

    if args.show_runs:
        if not args.output:
            ap.error("--show-runs requires --output")
        return _show_runs(args)

    if not args.input or not args.output:
        ap.error("--input and --output are required (or --selftest)")
    if args.clean_corpus and args.clean_incremental:
        ap.error("--clean-corpus and --clean-incremental are mutually exclusive")
    if args.train_lm:
        return _train_lm_job(args)
    if args.clean_corpus or args.clean_incremental:
        return _clean_corpus_job(args)
    if args.records_rows and not args.records:
        ap.error("--records-rows requires --records")
    if args.records and args.text_only:
        ap.error("--records requires the service cascade; drop --text-only")

    from pyspark.sql import SparkSession

    from . import conversation, fixtures, lineage
    from .sources.io import read_table, sub_target, write_table

    spark = build_session(
        "pdf-ocr-api-spark-extract", args.master, args.shuffle_partitions, args.driver_memory
    )
    run_id = args.run_id or spark.sparkContext.applicationId

    transcripts = read_table(spark, args.input)
    summary = lineage.run(
        spark,
        transcripts,
        args.output,
        run_id=run_id,
        n_buckets=args.buckets,
        salt=args.salt,
        with_services=not args.text_only,
        with_styling=args.styling,
        with_tables=args.tables,
        with_metadata=args.metadata,
    )
    print(json.dumps(summary))

    if args.records:
        ext = lineage.read_output(spark, args.output)
        tipo_dim = conversation.tipo_dim_df(spark, fixtures.DEPARA_RAW["tipoCertidao"])
        if args.records_rows:
            recs = conversation.conversation_service_rows(ext, tipo_dim)
        else:
            recs = conversation.conversation_records(ext, tipo_dim)
        write_table(recs, sub_target(args.output, "records"), mode="create")
    return 0


def _train_lm_job(args) -> int:
    """--train-lm: persist a Stupid Backoff LM (ops/lm) as a plain
    table.  Trains on ``clean_text`` when the input is a cleaned corpus
    store (`<root>/corpus`), else on raw ``text`` — CCNet's pattern is
    an in-domain SEED corpus, so pointing --input at an existing clean
    store is the intended use."""
    from .ops import lm as lm_ops
    from .sources.io import read_table, write_table

    spark = build_session(
        "pdf-ocr-api-spark-lm", args.master, args.shuffle_partitions, args.driver_memory
    )
    spark.sparkContext.setLogLevel("ERROR")
    src = read_table(spark, args.input)
    text_col = "clean_text" if "clean_text" in src.columns else "text"
    lm = lm_ops.train_ngram_lm(
        src, text_col=text_col, order=args.lm_order, min_count=args.lm_min_count
    )
    write_table(lm, args.output, mode="create")
    n = read_table(spark, args.output).count()
    print(json.dumps({
        "mode": "train_lm", "lm_rows": n,
        "order": args.lm_order, "min_count": args.lm_min_count,
        "text_col": text_col,
    }))
    return 0


def _clean_corpus_job(args) -> int:
    """The training-data-product job surface (ops/corpus as spark-submit).

    Full mode writes the cleaned corpus AND its MinHash signature table
    (the incremental-dedup index) under the output root; incremental
    mode reads both back, dedups ONLY the new batch against them, and
    APPENDS the surviving rows plus their signatures — the stored pair
    stays self-consistent, so batches can be chained indefinitely
    (equality contract and divergence classes: ops/corpus docstrings)."""
    from pyspark.sql import functions as F  # noqa: N812

    from .ops import corpus as corpus_ops
    from .ops.stage import materialize
    from .sources.io import read_table, sub_target, table_exists, write_table

    spark = build_session(
        "pdf-ocr-api-spark-clean", args.master, args.shuffle_partitions, args.driver_memory
    )
    corpus_target = sub_target(args.output, "corpus")
    sig_target = sub_target(args.output, "signatures")
    runs_target = sub_target(args.output, "runs")
    ss_target = sub_target(args.output, "substring_index")

    def _substring_stage(rows, incremental: bool):
        """Optional exact-substring-dedup stage over the cleaned rows.

        Returns (rows_without_helper_cols, tokens_removed).  The index
        store is the append-only log ``substrings.stamped_index`` writes;
        incremental probes read it through ``substrings.merged_index``,
        which refuses a store of another width or fingerprint family."""
        from .ops import corpus as _c
        from .ops import substrings as _ss

        width = args.dedup_substrings
        staged = rows.withColumn("_sid", _c.turn_id())
        if incremental:
            if not table_exists(spark, ss_target):
                # store predates the flag → bootstrap the index from the
                # stored corpus (one token-scale pass, recoverable like
                # sync_signatures)
                kept_c = read_table(spark, corpus_target).withColumn(
                    "_sid", _c.turn_id()
                )
                boot = _ss.stamped_index(
                    kept_c, text_col="clean_text", id_col="_sid", width=width
                )
                write_table(boot, ss_target, mode="create")
            try:
                idx = _ss.merged_index(read_table(spark, ss_target), width)
            except ValueError as e:
                raise SystemExit(f"--dedup-substrings {width}: {e} at {ss_target}") from e
            cleaned = _ss.dedup_substrings_incremental(
                idx, staged, text_col="clean_text", id_col="_sid", width=width
            )
        else:
            cleaned = _ss.dedup_substrings(
                staged, text_col="clean_text", id_col="_sid", width=width
            )
        cleaned = materialize(cleaned)
        removed = cleaned.agg(F.sum("n_tokens_removed")).collect()[0][0] or 0
        delta = _ss.stamped_index(
            cleaned, text_col="clean_text", id_col="_sid", width=width
        )
        write_table(delta, ss_target, mode="append" if incremental else "create")
        return cleaned.drop("_sid", "n_tokens_removed"), int(removed)

    def _log_run(mode: str, rows_kept: int, metrics: dict | None) -> None:
        # one run-summary row per job next to the store: the recall-loss
        # accounting (VERDICT r3 #7) persists with the corpus instead of
        # dying with the driver — an operator can alert off the table
        corpus_ops.log_run(
            spark, runs_target, mode, spark.sparkContext.applicationId, rows_kept, metrics
        )
    # strip: "--langs 'en, pt'" must not silently gate out ' pt'
    langs = [s.strip() for s in (args.langs or "").split(",") if s.strip()] or None
    cap = args.max_bucket_size or None
    kw = dict(
        min_quality=args.min_quality,
        langs=langs,
        min_tokens=args.min_tokens,
        dedup_threshold=args.dedup_threshold,
        parallelism=args.buckets,
        max_bucket_size=cap,
        scrub_pii=args.scrub_pii,
        decontam_n=args.decontam_n,
        decontam_max_ratio=args.decontam_max_ratio,
        strip_line_repeats=args.strip_line_repeats,
        repetition_gate=args.repetition_gate,
    )
    if args.decontam_probes:
        kw["decontam_probes"] = read_table(spark, args.decontam_probes)
    if args.lm_table and args.lm_max_ppl is not None:
        kw["lm"] = read_table(spark, args.lm_table)
        kw["lm_max_ppl"] = args.lm_max_ppl
        kw["lm_order"] = args.lm_order
    if args.classifier_table and args.classifier_keep:
        kw["classifier"] = read_table(spark, args.classifier_table)
        kw["classifier_keep"] = args.classifier_keep
        kw["classifier_min_margin"] = args.classifier_min_margin
    batch = read_table(spark, args.input)

    def _with_splits(df):
        if not args.splits:
            return df
        from .ops import training

        try:
            weights = {
                k.strip(): float(v)
                for k, v in (p.split("=", 1) for p in args.splits.split(",") if p.strip())
            }
        except ValueError as exc:
            raise SystemExit(f'--splits must look like "train=0.98,val=0.01": {exc}')
        return training.assign_splits(df, weights, key_col="conv_id", salt=args.split_salt)

    if args.clean_corpus:
        out = corpus_ops.clean_corpus(batch, **kw)
        metrics = corpus_ops.dedup_metrics(out)
        ss_removed = 0
        if args.dedup_substrings:
            out, ss_removed = _substring_stage(out, incremental=False)
        out = _with_splits(out)
        write_table(out, corpus_target, mode="create")
        # signatures from the STORED table (the scale pattern: never keep
        # the cleaning plan alive just to hash its output twice);
        # sync_signatures also makes a crashed/half-finished bootstrap
        # recoverable by re-running either mode
        corpus_ops.sync_signatures(
            spark, corpus_target, sig_target, parallelism=args.buckets
        )
        # report the STORED corpus size, not sync_signatures' backfill
        # count (0 on the supported re-run/recovery path)
        n = read_table(spark, corpus_target).count()
        _log_run("clean_corpus", n, metrics)
        summary = {"mode": "clean_corpus", "rows": n, "dedup_metrics": metrics}
        if args.dedup_substrings:
            summary["substring_tokens_removed"] = ss_removed
        if args.corpus_report:
            summary["report"] = _write_report(spark, args, corpus_target)
        print(json.dumps(summary))
        return 0

    if not table_exists(spark, corpus_target):
        print(json.dumps({"error": f"--clean-incremental needs an existing {corpus_target} (run --clean-corpus first)"}))
        return 1
    # self-heal any prior crash window: (re)create the signature index /
    # backfill rows the corpus has that the index lacks
    corpus_ops.sync_signatures(spark, corpus_target, sig_target, parallelism=args.buckets)
    kept = read_table(spark, corpus_target)
    sigs = read_table(spark, sig_target)
    new_rows = corpus_ops.clean_corpus_incremental(kept, batch, kept_sigs=sigs, **kw)
    metrics = corpus_ops.dedup_metrics(new_rows)
    ss_removed = 0
    if args.dedup_substrings:
        new_rows, ss_removed = _substring_stage(new_rows, incremental=True)
    new_rows = _with_splits(new_rows)
    # one computation, two appends: materialize the (batch-sized) result
    new_rows = materialize(new_rows)
    write_table(new_rows, corpus_target, mode="append")
    write_table(
        corpus_ops.corpus_signatures(new_rows, parallelism=args.buckets),
        sig_target,
        mode="append",
    )
    n_kept = new_rows.count()
    _log_run("clean_incremental", n_kept, metrics)
    summary = {
        "mode": "clean_incremental",
        "new_rows_kept": n_kept,
        "dedup_metrics": metrics,
    }
    if args.dedup_substrings:
        summary["substring_tokens_removed"] = ss_removed
    if args.corpus_report:
        summary["report"] = _write_report(spark, args, corpus_target)
    print(json.dumps(summary))
    return 0


def _write_report(spark, args, corpus_target) -> dict:
    """(Re)write the datasheet over the STORED corpus — a release-time
    SNAPSHOT, recomputed whole each run (it must describe the full
    grown corpus, so the incremental job recomputes it too; one corpus
    scan, see ops/report plan notes).  Returns the global section for
    the job's JSON summary."""
    from .ops import report as report_ops
    from .ops.stage import materialize
    from .sources.io import read_table, sub_target, write_table

    rep = materialize(
        report_ops.corpus_report(
            # the stored corpus already carries an exact n_tokens column —
            # reuse it instead of re-tokenizing every document
            read_table(spark, corpus_target),
            tokens_col="n_tokens",
        )
    )
    write_table(rep, sub_target(args.output, "report"), mode="create")
    return {
        r["metric"]: r["value"]
        for r in rep.filter("section = 'global'").collect()
    }


def _show_runs(args) -> int:
    """The 100 TB operator's alert path as ONE CLI call (VERDICT r4 #7):
    read the store's ``runs`` table (written by every --clean-corpus /
    --clean-incremental job via ``corpus.log_run``) and print a JSON
    summary — per-mode run counts, rows kept, and the dropped-bucket
    recall-loss totals. The runs table is one row per JOB — operator
    metadata scale, safe to aggregate driver-side."""
    from pyspark.sql import functions as F  # noqa: N812

    from .sources.io import read_table, sub_target, table_exists

    spark = build_session(
        "pdf-ocr-api-spark-runs", args.master, args.shuffle_partitions, args.driver_memory
    )
    spark.sparkContext.setLogLevel("ERROR")
    runs_target = sub_target(args.output, "runs")
    if not table_exists(spark, runs_target):
        print(json.dumps({"error": f"no runs table at {runs_target} (no clean job has run here)"}))
        return 1
    runs = read_table(spark, runs_target)
    per_mode = [
        r.asDict()
        for r in runs.groupBy("mode")
        .agg(
            F.count("*").alias("runs"),
            F.sum("rows_kept").alias("rows_kept"),
            F.sum("dropped_buckets").alias("dropped_buckets"),
            F.max("max_bucket").alias("max_bucket"),
        )
        .orderBy("mode")
        .collect()
    ]
    dropped_total = sum(int(m["dropped_buckets"] or 0) for m in per_mode)
    print(
        json.dumps(
            {
                "runs_table": runs_target,
                "modes": per_mode,
                "dropped_buckets_total": dropped_total,
                # the alert bit: any dropped bucket means near-dup recall
                # was lost to the skew cap somewhere in the store history
                "recall_loss_alert": dropped_total > 0,
            }
        )
    )
    return 0


def _selftest() -> int:
    import tempfile

    from . import fixtures, lineage

    spark = build_session("pdf-ocr-api-spark-selftest", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as d:
        df = fixtures.spark_transcripts(spark, 20)
        s1 = lineage.run(spark, df, f"{d}/out", run_id="selftest-1", n_buckets=8)
        s2 = lineage.run(spark, df, f"{d}/out", run_id="selftest-2", n_buckets=8)
        ok = s1["turns"] > 0 and s2["turns"] == 0 and len(s2["buckets_skipped"]) == len(s1["buckets_processed"])
        print(json.dumps({"first_run": s1, "resume_run": s2, "ok": ok}))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
