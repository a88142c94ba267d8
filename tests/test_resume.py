"""Checkpoint manifest + idempotent resume (FIXTURES.md §4)."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark import fixtures, lineage


@pytest.fixture()
def transcripts(spark):
    return spark.createDataFrame(fixtures.fixture_frame(20))


def done_buckets(spark, out_root: str) -> list[int]:
    """The buckets a root has committed, as the next run will skip them."""
    return sorted({r.bucket for r in lineage._commits(spark, out_root)})


def test_resume_skips_done_buckets(spark, transcripts, tmp_path):
    out = str(tmp_path / "run")
    s1 = lineage.run(spark, transcripts, out, run_id="r1", n_buckets=8)
    assert s1["turns"] > 0 and len(s1["buckets_processed"]) == 8

    s2 = lineage.run(spark, transcripts, out, run_id="r2", n_buckets=8)
    assert s2["turns"] == 0
    assert s2["buckets_processed"] == []
    assert s2["buckets_skipped"] == s1["buckets_processed"]

    # lineage rows only from the first run
    lin = lineage.read_lineage(spark, out).toPandas()
    assert set(lin.run_id) == {"r1"}


def test_resume_on_uri_root(spark, transcripts, tmp_path):
    """A ``file://`` root resumes like a plain path: the commit check
    reads the root through Spark's filesystem, as the writes do, so the
    same URI form works for ``hdfs://`` and ``s3a://`` deployments."""
    out = f"{tmp_path.as_uri()}/out"
    s1 = lineage.run(spark, transcripts, out, run_id="r1", n_buckets=4)
    assert s1["buckets_processed"] == [0, 1, 2, 3]
    assert done_buckets(spark, out) == [0, 1, 2, 3]
    s2 = lineage.run(spark, transcripts, out, run_id="r2", n_buckets=4)
    assert s2["buckets_processed"] == []


def test_partial_resume_produces_identical_output(spark, transcripts, tmp_path):
    """Pre-mark half the buckets done (by running on a half-input), then
    resume with the full input: only pending buckets produce lineage, and
    the final table equals a clean full run byte-for-byte."""
    half_buckets = [0, 1, 2, 3]
    with_b = transcripts.withColumn("b", lineage.bucket_expr(8))
    first_half = with_b.filter(F.col("b").isin(half_buckets)).drop("b")

    out_a = str(tmp_path / "resumed")
    lineage.run(spark, first_half, out_a, run_id="half", n_buckets=8)
    s2 = lineage.run(spark, transcripts, out_a, run_id="rest", n_buckets=8)
    assert sorted(s2["buckets_skipped"]) == half_buckets
    assert sorted(s2["buckets_processed"]) == [4, 5, 6, 7]

    out_b = str(tmp_path / "clean")
    lineage.run(spark, transcripts, out_b, run_id="clean", n_buckets=8)

    cols = ["conv_id", "turn_idx", "kind", "clean_text", "n_chars_in", "n_chars_out"]
    a = lineage.read_output(spark, out_a).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    b = lineage.read_output(spark, out_b).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    assert a.equals(b)

    lin = lineage.read_lineage(spark, out_a).toPandas()
    assert set(lin[lin.run_id == "rest"].bucket) == {4, 5, 6, 7}


def test_lineage_counts_reconcile(spark, transcripts, tmp_path):
    out = str(tmp_path / "counts")
    lineage.run(spark, transcripts, out, run_id="r", n_buckets=4)
    lin = lineage.read_lineage(spark, out)
    data = lineage.read_output(spark, out)
    assert lin.agg(F.sum("extracted_count")).collect()[0][0] == data.count()
    assert lin.agg(F.sum("bytes_out")).collect()[0][0] == data.agg(F.sum("n_chars_out")).collect()[0][0]
    # per-bucket counts match the data partitioning
    per_bucket = {r.bucket: r.cnt for r in data.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}
    for r in lin.collect():
        assert per_bucket[r.bucket] == r.extracted_count


def test_mode_mixing_refused(spark, transcripts, tmp_path):
    """A text-only resume atop a full-mode root must be refused —
    heterogeneous buckets would silently corrupt downstream assembly."""
    out = str(tmp_path / "mixed")
    half = transcripts.filter(F.pmod(F.crc32("conv_id"), F.lit(8)) < 4)
    lineage.run(spark, half, out, run_id="full", n_buckets=8)
    with pytest.raises(ValueError, match="refusing to resume"):
        lineage.run(spark, transcripts, out, run_id="fast", n_buckets=8, with_services=False)


def test_n_buckets_mismatch_refused(spark, transcripts, tmp_path):
    """Resuming with a different bucket count would skip/duplicate
    conversations (bucket ids identify different sets) — must refuse."""
    out = str(tmp_path / "nb")
    lineage.run(spark, transcripts, out, run_id="a", n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        lineage.run(spark, transcripts, out, run_id="b", n_buckets=16)


def test_depara_mismatch_refused(spark, transcripts, tmp_path):
    """Resuming with a different de/para dimension payload would mix
    buckets extracted under incompatible rules — must refuse (the
    manifest records a digest of the payload)."""
    from pdf_ocr_api_spark import fixtures

    out = str(tmp_path / "dep")
    half = transcripts.filter(F.pmod(F.crc32("conv_id"), F.lit(8)) < 4)
    lineage.run(spark, half, out, run_id="a", n_buckets=8)
    altered = dict(fixtures.runtime_depara())
    altered["unidade"] = list(altered.get("unidade") or []) + [{"id": 9999, "valor": "ZZZ"}]
    with pytest.raises(ValueError, match="de/para"):
        lineage.run(spark, transcripts, out, run_id="b", n_buckets=8, depara=altered)


def test_lineage_input_count_measured_on_input(spark, transcripts, tmp_path):
    """input_count must reconcile against the INPUT transcripts per
    bucket, not echo the output count."""
    out = str(tmp_path / "inp")
    lineage.run(spark, transcripts, out, run_id="a", n_buckets=4)
    lin = lineage.read_lineage(spark, out)
    want = {
        r.bucket: r.cnt
        for r in transcripts.withColumn("bucket", lineage.bucket_expr(4))
        .groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    got = {r.bucket: r.input_count for r in lin.collect()}
    assert got == want


def test_crash_before_commit_reprocesses_exactly_that_bucket(spark, transcripts, tmp_path, monkeypatch):
    """The data write lands but the commit append never does: no ``done``
    row exists for the bucket, and the next run reprocesses exactly it."""
    out = str(tmp_path / "crash")
    with_b = transcripts.withColumn("b", lineage.bucket_expr(8))
    lineage.run(spark, with_b.filter(F.col("b") < 4).drop("b"), out, run_id="r1", n_buckets=8)

    real_write = lineage.write_table

    def crash_on_commit(df, target, *args, **kwargs):
        if target.endswith("/lineage"):
            raise RuntimeError("crash before commit")
        return real_write(df, target, *args, **kwargs)

    monkeypatch.setattr(lineage, "write_table", crash_on_commit)
    with pytest.raises(RuntimeError, match="crash before commit"):
        lineage.run(spark, with_b.filter(F.col("b") <= 4).drop("b"), out, run_id="r2", n_buckets=8)
    monkeypatch.undo()

    assert 4 in {r.bucket for r in lineage.read_output(spark, out).select("bucket").distinct().collect()}
    assert done_buckets(spark, out) == [0, 1, 2, 3]

    s3 = lineage.run(spark, with_b.filter(F.col("b") <= 4).drop("b"), out, run_id="r3", n_buckets=8)
    assert s3["buckets_processed"] == [4]
    lin = lineage.read_lineage(spark, out).filter(F.col("bucket") == 4).collect()
    assert [(r.run_id, r.status) for r in lin] == [("r3", "done")]
    assert lin[0].input_count == lin[0].extracted_count > 0


def test_old_two_table_root_refused(spark, transcripts, tmp_path):
    """A root written with a separate ``manifest`` table (its lineage rows
    carry no status) predates the single commit table: refuse it loudly
    instead of misreading which buckets are done."""
    out = str(tmp_path / "old")
    spark.createDataFrame(
        [(b, 1, 1, 10, 10, 0, 5, "a", 7) for b in range(4)],
        "bucket INT, input_count BIGINT, extracted_count BIGINT, bytes_in BIGINT, bytes_out BIGINT, "
        "services_count BIGINT, proc_us BIGINT, run_id STRING, wall_ms INT",
    ).withColumn("ts", F.current_timestamp()).write.parquet(f"{out}/lineage")
    spark.createDataFrame(
        [(b, "a", "done", "full", 8) for b in range(4)],
        "bucket INT, run_id STRING, status STRING, mode STRING, n_buckets INT",
    ).withColumn("ts", F.current_timestamp()).write.parquet(f"{out}/manifest")
    with pytest.raises(ValueError, match="two-table layout"):
        lineage.run(spark, transcripts, out, run_id="b", n_buckets=8)


def test_fresh_run_spark_job_budget(spark, transcripts, tmp_path):
    """Guard on the bookkeeping's cost: a fresh-root run launches the
    data write's jobs, the read-back's schema inference, the one rollup
    collect and the one commit append — nothing more."""
    sc = spark.sparkContext
    group = f"lineage-budget-{tmp_path.name}"
    sc.setJobGroup(group, "fresh-root lineage.run")
    try:
        lineage.run(spark, transcripts, str(tmp_path / "budget"), run_id="a", n_buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


@contextmanager
def _jvm_workdir(spark, path):
    """The JVM's local-filesystem working directory — what Spark resolves
    a relative root against — set to ``path`` for the block, restored after."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
    old = fs.getWorkingDirectory()
    fs.setWorkingDirectory(jvm.org.apache.hadoop.fs.Path(path.as_uri()))
    try:
        yield
    finally:
        fs.setWorkingDirectory(old)


@contextmanager
def _aqe(spark, enabled: bool):
    """``spark.sql.adaptive.enabled`` set for the block, restored after."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def _write_task_counts(spark, transcripts, out, monkeypatch):
    """Task count of every stage of the bucket write when ``lineage.run``
    extracts into ``out``; the write runs in its own job group."""
    from pdf_ocr_api_spark.sources.io import write_table as real

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"bucket-write-{out.name}"

    def write(df, target, **kw):
        if target.endswith("/data"):
            sc.setJobGroup(group, "bucket write")
        try:
            return real(df, target, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(lineage, "write_table", write)
    lineage.run(spark, transcripts, str(out), run_id="r", n_buckets=16)
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    return [tracker.getStageInfo(s).numTasks for s in stages]


def test_bucket_write_is_coalesced_under_aqe(spark, transcripts, tmp_path, monkeypatch):
    """The write's shuffle has no fixed width, so AQE coalesces it: with 16
    buckets and 32 shuffle partitions the write needs no more tasks than
    there are cores (a ``repartition(n_buckets, bucket)`` would keep 16).
    Without AQE the write runs at the full ``spark.sql.shuffle.partitions``
    width."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    assert width > 16 > cores
    with _aqe(spark, True):
        assert max(_write_task_counts(spark, transcripts, tmp_path / "on", monkeypatch)) <= cores
    with _aqe(spark, False):
        assert max(_write_task_counts(spark, transcripts, tmp_path / "off", monkeypatch)) == width


def test_one_file_per_bucket_with_and_without_aqe(spark, tmp_path):
    """The bucket write leaves exactly one parquet file per bucket
    directory with AQE on and off, and both write the same rows."""
    transcripts = spark.createDataFrame(fixtures.fixture_frame(60))
    rows = []
    for aqe in (True, False):
        out = tmp_path / f"aqe_{aqe}"
        with _aqe(spark, aqe):
            lineage.run(spark, transcripts, str(out), run_id="r", n_buckets=8)
        dirs = sorted((out / "data").glob("bucket=*"))
        assert len(dirs) == 8
        assert {d.name: len(list(d.glob("*.parquet"))) for d in dirs} == {d.name: 1 for d in dirs}
        data = lineage.read_output(spark, str(out)).select("conv_id", "turn_idx", "clean_text")
        rows.append(data.orderBy("conv_id", "turn_idx").toPandas())
    assert rows[0].equals(rows[1])


def test_bare_output_root_keeps_tables_together(spark, tmp_path, monkeypatch):
    """``runner --output results --records`` puts data, lineage and
    records under one ``results/`` directory. A bare root is relative to
    the JVM's local-filesystem working directory (Spark's reads, writes
    and the resume checks), so the test moves it, and Python's, to
    ``tmp_path``."""
    from pdf_ocr_api_spark import runner

    inp = str(tmp_path / "in")
    spark.createDataFrame(fixtures.fixture_frame(12)).write.parquet(inp)
    monkeypatch.chdir(tmp_path)
    with _jvm_workdir(spark, tmp_path):
        assert runner.main(["--input", inp, "--output", "results", "--records", "--buckets", "4"]) == 0
    assert sorted(p.name for p in tmp_path.iterdir()) == ["in", "results"]
    assert sorted(p.name for p in (tmp_path / "results").iterdir()) == ["data", "lineage", "records"]


def test_old_sibling_layout_refused(spark, transcripts, tmp_path):
    """A bare root written with the earlier sibling layout
    (``<root>_data``, ``<root>_lineage``) is refused with the move to
    make, not silently re-extracted into ``<root>/data``."""
    lineage.run(spark, transcripts, str(tmp_path / "results_x"), run_id="a", n_buckets=8)
    (tmp_path / "results_x" / "lineage").rename(tmp_path / "results_lineage")
    with _jvm_workdir(spark, tmp_path), pytest.raises(ValueError, match="old sibling layout"):
        done_buckets(spark, "results")
    assert not (tmp_path / "results").exists()
