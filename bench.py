"""Benchmark harness.

Default mode (driver per-round): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "extract_turns_per_sec": ...}

``--scaling`` mode: the two-cluster-size proxy from BASELINE.md — the same
extraction job at local[8] and local[32] over the same cached input,
reporting throughput at both plus efficiency = (T_32/T_8)/4.

The bench transcript table is generated deterministically (seed 42,
FIXTURES.md §1) once per scale and cached under .data/ — generation cost
never pollutes the timings.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "4000"))
DATA_DIR = REPO / ".data"


def build_session(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(8, cores)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # small bench files must not be coalesced into ~1 task wave:
        # one wave at local[32] makes the slowest task the wall clock
        # (73% core utilization measured). With the default 4MB
        # openCostInBytes each ~1MB bench file stays its own split →
        # 128 tasks ≈ 4 waves at 32 cores, stragglers amortized.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bench_transcripts(spark, n_convs: int):
    """Deterministic cached bench table; 4× the executor count in files so
    every core has work without tiny-partition overhead."""
    from pdf_ocr_api_spark import fixtures

    path = DATA_DIR / f"transcripts_c{n_convs}_p128"
    if not (path / "_SUCCESS").exists():
        df = fixtures.spark_transcripts(spark, n_convs)
        # 128 files, kept un-coalesced by maxPartitionBytes → 4 waves at 32 cores
        df.repartition(128).write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def _count(df) -> int:
    return df.count()


def headline_queries(spark, transcripts):
    """name → (thunk returning row count). Extraction is the flagship."""
    from pyspark.sql import functions as F

    from pdf_ocr_api_spark import conversation, fixtures, pipeline
    from pdf_ocr_api_spark.ops import dedup, similarity, textstats

    def q_extract():
        return _count(pipeline.extract_transcripts(transcripts))

    def q_extract_text_only():
        return _count(pipeline.extract_transcripts(transcripts, with_services=False))

    def q_conversation():
        # persist the extraction once — conversation_records fans out into
        # two branches (A1 text concat + service assembly); without the
        # persist each branch would re-run the UDF (at real scale the
        # extraction output is a stored table — see lineage.run)
        # assembly never reads spans/clean_text — persist only its columns
        ext = (
            pipeline.extract_transcripts(transcripts)
            .select("conv_id", "turn_idx", "kind", "doc_text", "services")
            .persist()
        )
        try:
            tipo = conversation.tipo_dim_df(spark, fixtures.DEPARA_RAW["tipoCertidao"])
            return _count(conversation.conversation_records(ext, tipo))
        finally:
            ext.unpersist()

    def q_pricing():
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        return _count(
            li.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
                F.count("*").alias("n"),
            )
        )

    def q_sessionize():
        import __spark_entry__ as entry

        return _count(entry.q_w_sessionize(spark, SF_DIR))

    def q_minhash():
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return _count(dedup.minhash_lsh_pairs(d, num_hashes=32, bands=8, parallelism=4 * CPUS))

    def q_simhash():
        # Manku-banded full-recall variant (round 2); k=3 is the standard
        # near-dup operating point — 4 blocks of 16 bits.
        # No parallelism knob (r5): simhash64's default derives ONE wave
        # from the session's defaultParallelism — the r4 finding (CPUS,
        # not 4×: per-partition Arrow/worker overhead dominates pandas-
        # UDF stages, 128 partitions measured 4.2 s vs 2.8 s at 32) is
        # now the operator's own scale-portable default instead of a
        # per-box bench tweak (the pure-JVM minhash build above keeps 4×
        # for straggler amortization)
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return _count(dedup.simhash_near_pairs(dedup.simhash64(d), max_hamming=3))

    def q_quality():
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return _count(textstats.quality_features(d))

    def q_ann():
        e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return _count(similarity.brute_force_topk(e.filter(F.col("vec_id") != 0), list(qv), k=10))

    def q_repetition():
        # r5: Gopher repetition gate over the documents table — a pure
        # array-expression predicate (zero shuffles; the cost is the
        # per-row sorts/grams inside codegen)
        from pdf_ocr_api_spark.ops import repetition

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return _count(repetition.repetition_filter(d))

    def q_substring_dedup():
        # r5: exact substring dedup over the bench transcript table —
        # fingerprint mapInPandas + ONE window-aggregate shuffle +
        # rebuild of affected docs only (plan CI-asserted)
        from pdf_ocr_api_spark.ops import substrings

        t2 = transcripts.withColumn(
            "tid",
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")),
        )
        out = substrings.dedup_substrings(
            t2, text_col="text", id_col="tid", width=25
        )
        return _count(out.filter(F.col("n_tokens_removed") >= 0))

    def q_training_assembly():
        # r5: the training-set assembly tail — leakage-safe split +
        # sequence packing over the full bench transcript table (one
        # hash shuffle + one-wave pandas packing stage)
        from pdf_ocr_api_spark.ops import training

        t = transcripts.withColumn(
            "n_tok", F.size(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"))
        )
        tr = training.assign_splits(t, {"train": 0.95, "val": 0.05}, key_col="conv_id")
        packed = training.pack_sequences(
            tr.filter(F.col("split") == "train"),
            "n_tok", budget=2048, key_cols=["conv_id", "turn_idx"],
        )
        return _count(packed)

    def q_domain_quality():
        # r5 late-2: the web-pipeline admission pair — Gopher per-domain
        # cap (partial top-n, no giant-domain sort) then the NB quality
        # gate (one explode + pivoted broadcast join) over the bench
        # transcript table; domains derived deterministically from the
        # conversation key
        from pdf_ocr_api_spark.ops import classify, domains
        from pdf_ocr_api_spark.ops.stage import materialize
        from pdf_ocr_api_spark.ops.training import portable_hash

        t = transcripts.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("tid"),
            F.concat(
                F.lit("site"),
                (portable_hash(F.col("conv_id"), "dom") % 500).cast("string"),
            ).alias("source"),
            "text",
        )
        # deterministic hash-sampled seed (limit() would be
        # partition-order dependent — a non-reproducible model)
        seed = t.filter(portable_hash(F.col("tid"), "seed") % 29 == 0).select(
            F.when(F.length("text") > 200, "good").otherwise("bad").alias("label"),
            "text",
        )
        model = classify.train_nb(seed)
        # materialize between stages, as clean_corpus does:
        # classify_filter's gate + join-back would otherwise recompute
        # the cap's window twice
        capped = materialize(domains.cap_per_domain(t, 100, key_col="tid"))
        return _count(classify.classify_filter(capped, model, "good", id_col="tid"))

    return {
        "extract": q_extract,
        "extract_text_only": q_extract_text_only,
        "conversation": q_conversation,
        "pricing_agg": q_pricing,
        "sessionize": q_sessionize,
        "minhash_lsh": q_minhash,
        "simhash": q_simhash,
        "quality": q_quality,
        "ann_cosine": q_ann,
        "repetition": q_repetition,
        "substring_dedup": q_substring_dedup,
        "training_assembly": q_training_assembly,
        "domain_quality": q_domain_quality,
    }


def _contention_probe() -> float:
    """Fixed-size numpy matmul wall time (seconds) — a box-health
    sentinel. The sandbox has a hypervisor co-tenant that can slow the
    whole suite 3-4× by stealing MEMORY BANDWIDTH with no CPU-steal
    signal (BENCH.md reconciliation, runs 5-8); this probe runs before
    and after the suite so any single reading carries its own
    interpretability: quiet-box baseline ≈ 0.3-0.5 s — a probe 2×+ that
    means the suite numbers are contention-inflated, not code."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((1500, 1500))
    t0 = time.monotonic()
    for _ in range(3):
        a = a @ a
        a /= np.abs(a).max() + 1.0
    return round(time.monotonic() - t0, 3)


def run_default() -> dict:
    probe_before = _contention_probe()
    spark = build_session(CPUS)
    transcripts = bench_transcripts(spark, BENCH_CONVS)
    n_turns = transcripts.count()

    qs = headline_queries(spark, transcripts)
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        t0 = time.monotonic()
        fn()
        timings[name] = round(time.monotonic() - t0, 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "bench_turns": n_turns,
        "extract_turns_per_sec": round(n_turns / timings["extract"], 1) if timings["extract"] else None,
        "cores": CPUS,
        # box-health sentinels (see _contention_probe): ≈0.2-0.3 s quiet
        "probe_before_sec": probe_before,
        "probe_after_sec": _contention_probe(),
    }
    spark.stop()
    return result


def scaling_worker(cores: int, n_convs: int) -> dict:
    """One confined measurement: local[cores] on a cpuset of that size
    (launched via taskset by run_scaling). Warm full pass first — the
    timed second pass is steady-state throughput, the regime a
    long-running cluster job is in for 99% of its life."""
    spark = build_session(cores)
    transcripts = bench_transcripts(spark, n_convs)
    n_turns = transcripts.count()
    from pdf_ocr_api_spark import pipeline

    pipeline.extract_transcripts(transcripts).count()  # warm pass
    times = []
    for _ in range(3):
        t0 = time.monotonic()
        pipeline.extract_transcripts(transcripts).count()
        times.append(time.monotonic() - t0)
    dt = min(times)  # min-of-3: GC/page-cache noise exceeds 15% run-to-run
    spark.stop()
    return {
        "cores": cores,
        "sec": round(dt, 2),
        "all_sec": [round(x, 2) for x in times],
        "turns_per_sec": round(n_turns / dt, 1),
        "turns": n_turns,
    }


def cluster_worker(n_exec: int, cores_per_exec: int, n_convs: int) -> dict:
    """One confined MULTI-EXECUTOR measurement: Spark's local-cluster
    master launches ``n_exec`` SEPARATE executor JVMs (own heaps, own
    Python workers, real netty shuffle between processes) — the closest
    single-box approximation of an N-executor cluster, one step beyond
    thread-based local[N]. The package reaches executors via
    spark.executorEnv.PYTHONPATH (the spark-submit --py-files analogue)."""
    from pyspark.sql import SparkSession

    mem_mb = 6144
    spark = (
        SparkSession.builder.master(f"local-cluster[{n_exec},{cores_per_exec},{mem_mb}]")
        .appName(f"bench-cluster-{n_exec}x{cores_per_exec}")
        .config("spark.sql.shuffle.partitions", str(max(8, n_exec * cores_per_exec)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.executor.memory", f"{mem_mb}m")
        # cluster-faithful JVM sizing: an executor in a k-core container
        # sees k cores; without this every executor JVM in the shared
        # cpuset sizes GC/compiler thread pools for the WHOLE box and the
        # service threads crowd out the task threads
        .config("spark.executor.extraJavaOptions", f"-XX:ActiveProcessorCount={cores_per_exec}")
        # all data is node-local here; the default 3s locality wait can
        # idle whole executors between waves in multi-process mode
        .config("spark.locality.wait", "0s")
        .config("spark.executorEnv.PYTHONPATH", str(REPO))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    transcripts = bench_transcripts(spark, n_convs)
    n_turns = transcripts.count()
    from pdf_ocr_api_spark import pipeline

    pipeline.extract_transcripts(transcripts).count()  # warm pass
    times = []
    for _ in range(3):
        t0 = time.monotonic()
        pipeline.extract_transcripts(transcripts).count()
        times.append(time.monotonic() - t0)
    dt = min(times)
    spark.stop()
    return {
        "executors": n_exec,
        "cores_per_executor": cores_per_exec,
        "sec": round(dt, 2),
        "all_sec": [round(x, 2) for x in times],
        "turns_per_sec": round(n_turns / dt, 1),
        "turns": n_turns,
    }


def run_scaling_cluster(n_convs: int | None = None) -> dict:
    """The north rule verbatim: the same job at N and 4N EXECUTORS.

    local-cluster[n,8,…] with SEPARATE executor JVMs, each pair pinned to
    a cpuset of n×8 cores (the driver shares the executors' cpuset, as it
    would share a node); warm pass + min-of-3 per size."""
    import subprocess

    n_convs = n_convs or int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "24000"))
    spark = build_session(CPUS)
    bench_transcripts(spark, n_convs)
    spark.stop()

    lo, hi = (int(x) for x in os.environ.get("SPARK_GRAFT_CLUSTER_PAIR", "1:4").split(":"))
    cores_per_exec = int(os.environ.get("SPARK_GRAFT_CLUSTER_CORES", "8"))
    out = {}
    n_turns = None
    for n_exec in (lo, hi):
        cpuset = n_exec * cores_per_exec
        proc = subprocess.run(
            ["taskset", "-c", f"0-{cpuset - 1}", sys.executable, __file__,
             "--cluster-worker", str(n_exec), str(cores_per_exec), str(n_convs)],
            capture_output=True,
            text=True,
            check=True,
        )
        r = json.loads(proc.stdout.strip().splitlines()[-1])
        n_turns = r["turns"]
        out[f"{n_exec}x{cores_per_exec}"] = {"sec": r["sec"], "turns_per_sec": r["turns_per_sec"]}

    eff = (
        out[f"{hi}x{cores_per_exec}"]["turns_per_sec"]
        / out[f"{lo}x{cores_per_exec}"]["turns_per_sec"]
    ) / (hi / lo)
    return {
        "metric": f"scaling_efficiency_{lo}_to_{hi}_executors",
        "value": round(eff, 3),
        "unit": "ratio",
        "turns": n_turns,
        "cores_per_executor": cores_per_exec,
        "cpuset_pinned": True,
        "separate_executor_jvms": True,
        "runs": out,
    }


def run_scaling(n_convs: int | None = None) -> dict:
    """The two-cluster-size proxy (BASELINE.md): the same extraction job
    on an 8-core and a 32-core "cluster" over the same input.

    Each run is PINNED to a cpuset of its size (`taskset -c 0-(N-1)`):
    an un-pinned local[8] session leaks onto idle cores (8 JVM task
    threads + 8 Python workers ≈ 16 busy cores on this box), inflating
    the small-cluster baseline and understating true scaling. With
    confinement each run behaves like an N-core executor host — JVM,
    Python workers and shuffle all share the N cores, as they would on a
    real cluster node.
    """
    import subprocess

    n_convs = n_convs or int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "24000"))
    # pre-generate the shared input outside either cpuset
    spark = build_session(CPUS)
    bench_transcripts(spark, n_convs)
    spark.stop()

    lo, hi = (int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_PAIR", "8:32").split(":"))
    out = {}
    n_turns = None
    for cores in (lo, hi):
        proc = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, __file__,
             "--scaling-worker", str(cores), str(n_convs)],
            capture_output=True,
            text=True,
            check=True,
        )
        r = json.loads(proc.stdout.strip().splitlines()[-1])
        n_turns = r["turns"]
        out[f"local[{cores}]"] = {"sec": r["sec"], "turns_per_sec": r["turns_per_sec"]}

    eff = (out[f"local[{hi}]"]["turns_per_sec"] / out[f"local[{lo}]"]["turns_per_sec"]) / (hi / lo)
    return {
        "metric": f"scaling_efficiency_{lo}_to_{hi}",
        "value": round(eff, 3),
        "unit": "ratio",
        "turns": n_turns,
        "cpuset_pinned": True,
        "runs": out,
    }


if __name__ == "__main__":
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        print(json.dumps(scaling_worker(int(sys.argv[i + 1]), int(sys.argv[i + 2]))))
    elif "--cluster-worker" in sys.argv:
        i = sys.argv.index("--cluster-worker")
        print(json.dumps(cluster_worker(int(sys.argv[i + 1]), int(sys.argv[i + 2]), int(sys.argv[i + 3]))))
    elif "--scaling-cluster" in sys.argv:
        print(json.dumps(run_scaling_cluster()))
    elif "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_default()))
