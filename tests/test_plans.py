"""Plan-shape guards (SURVEY §4): the physical properties the 100 TB
design depends on must hold in the executed plan, not just in intent."""

import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark import fixtures, pipeline
from tests import plan_inspect as PI


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("plans")
    spark.createDataFrame(fixtures.fixture_frame(10)).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    ).write.parquet(str(d / "t"))
    return spark.read.parquet(str(d / "t"))


def test_extraction_is_shuffle_free(stored, depara):
    ext = pipeline.extract_transcripts(stored, depara)
    assert PI.exchange_count(ext) == 0, PI.executed_plan(ext)


def test_filter_pushdown_reaches_scan(stored):
    q = stored.filter((F.col("turn_idx") >= 3) & F.col("conv_id").startswith("conv-0")).select("conv_id")
    pushed = PI.pushed_filters(q)
    assert any("turn_idx" in p for p in pushed), pushed
    assert any("conv_id" in p for p in pushed), pushed


def test_column_pruning(stored):
    q = stored.select("conv_id", "turn_idx")
    cols = PI.scan_columns(q)
    assert cols == {"conv_id", "turn_idx"}, cols
    # and a 2-col projection over the wide table never reads `text`
    assert "text" not in cols


def test_dimension_joins_broadcast(spark, stored, depara):
    from pdf_ocr_api_spark import conversation

    tipo = conversation.tipo_dim_df(spark, fixtures.DEPARA_RAW["tipoCertidao"])
    ext = pipeline.extract_transcripts(stored, depara)
    recs = conversation.conversation_records(ext, tipo)
    assert PI.has_broadcast_join(recs), PI.executed_plan(recs)[:2000]


def test_conversation_assembly_single_exchange_per_branch(stored, depara):
    from pdf_ocr_api_spark import conversation

    svc = conversation.assemble_services(conversation.explode_services(pipeline.extract_transcripts(stored, depara)))
    # all windows share one (conv_id) partitioning → exactly one shuffle
    assert PI.exchange_count(svc) == 1, PI.executed_plan(svc)[:2000]


def test_salted_repartition_adds_exactly_one_exchange(stored, depara):
    ext = pipeline.extract_transcripts(stored, depara, salt=8)
    plan = PI.executed_plan(ext)
    assert plan.count("Exchange") == 1, plan[:2000]


def test_whole_stage_codegen_present(stored):
    q = stored.filter(F.col("turn_idx") > 1).groupBy("role").count()
    q.collect()  # AQE materializes the final (codegen-annotated) plan on action
    assert PI.codegen_stage_count(q) >= 1


def test_lsh_topk_plan_is_scan_filter_takeordered(spark):
    """Multi-table SRP ANN must stay scan → filter → TakeOrdered: no
    join, no Exchange — the whole query is one map-side pass."""
    import numpy as np

    from pdf_ocr_api_spark.ops import similarity

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = rows[0][1]
    plan = PI.executed_plan(similarity.lsh_topk(emb.filter(F.col("vec_id") != 0), q, k=5))
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]
    assert PI.exchange_count(similarity.lsh_topk(emb, q, k=5)) == 0


def test_simhash_banding_no_cartesian(spark):
    from pdf_ocr_api_spark.ops import dedup

    sim = spark.createDataFrame([(i, i * 7919) for i in range(50)], "id LONG, simhash LONG")
    plan = PI.executed_plan(dedup.simhash_near_pairs(sim, max_hamming=3))
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_incremental_keep_no_cartesian(spark):
    """Both incremental-dedup joins (intra-batch band self-join, batch-
    vs-stored-index band join) must be hash joins on band keys — a
    cartesian/nested-loop anywhere would be the corpus-sized stage the
    incremental shape exists to avoid."""
    from pdf_ocr_api_spark.ops import dedup

    rows = [(i, f"text number {i} with some shared words {i % 7}") for i in range(30)]
    kept = spark.createDataFrame(rows[:20], "doc_id LONG, text STRING")
    batch = spark.createDataFrame(rows[20:], "doc_id LONG, text STRING")
    out = dedup.incremental_keep(kept, batch, threshold=0.5, bands=16)
    plan = PI.executed_plan(out)
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_fused_lang_id_single_regex_pass(stored, depara):
    """The sweep-form lang-ID must traverse the text ONCE: exactly one
    regexp_extract_all over the marker alternation in the plan,
    regardless of how many language banks exist (8 after r3)."""
    from pdf_ocr_api_spark.ops import textstats

    df = textstats.with_lang_id(stored.select(F.col("text")), "text")
    plan = PI.formatted_plan(df)
    assert plan.count("regexp_extract_all") == 1, plan[:2000]


def test_segmented_assembly_no_conversation_window(stored, depara):
    """conversation_records' segmented assembly must contain no window
    partitioned by conv_id ALONE over service rows (that would funnel a
    hot conversation into one task) — conv-grain windows may only run
    over the tiny chunk-summary rows."""
    from pdf_ocr_api_spark import conversation, pipeline

    ext = pipeline.extract_transcripts(stored, depara)
    recs = conversation.conversation_records(ext)
    plan = PI.executed_plan(recs)
    # the plan is allowed windows over (conv_id, _chunk) at row grain and
    # over (conv_id) at summary grain; a cartesian or NLJ would be a bug
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_ops_shuffle_free(spark):
    """The Gopher gate and profile are single-map plans in BOTH engines
    — no Exchange anywhere (the gate must add zero shuffles to any
    pipeline it sits in)."""
    from pdf_ocr_api_spark.ops import repetition as R

    d = spark.createDataFrame(
        [(i, f"line a{i}\nline b{i}") for i in range(50)],
        "doc_id int, text string",
    )
    for q in (
        R.repetition_filter(d),
        R.repetition_filter(d, engine="expr"),
        R.repetition_profile(d),
        R.repetition_profile(d, engine="expr"),
    ):
        assert PI.exchange_count(q) == 0, PI.executed_plan(q)[:2000]


def test_substring_dedup_exchange_budget(spark):
    """dedup_substrings, r6 two-phase shape.  Phase 1 (the cut table,
    materialized once): the token-scale window table crosses exactly
    ONE exchange (the window aggregate over (h1,h2)), the per-doc
    regroup is the only other exchange, and the fingerprint mapInPandas
    appears ONCE (bake-off regression guard: the join-back form
    evaluated it twice).  Phase 2 (the output): untouched rows take a
    pure-JVM anti-join branch — only AFFECTED rows cross the Python
    boundary (exactly one rebuild MapInPandas), and with a
    broadcastable cut table the corpus is never shuffled at all."""
    from pdf_ocr_api_spark.ops import substrings as S

    span = " ".join(f"z{i}" for i in range(8))
    d = spark.createDataFrame(
        [(i, f"head{i} " + span + f" tail{i}") for i in range(40)],
        "doc_id int, text string",
    )
    # phase 1: the pre-materialization cut-table pipeline
    remove = S._remove_table(S.window_fingerprints(d, width=8), min_count=2)
    rplan = PI.executed_plan(remove)
    assert PI.exchange_count(remove) <= 2, rplan[:3000]
    assert (
        rplan.count("FlatMapsInPandas") + rplan.count("MapInPandas") == 1
    ), rplan[:3000]
    # phase 2: the output plan
    q = S.dedup_substrings(d, width=8)
    plan = PI.executed_plan(q)
    assert PI.exchange_count(q) == 0, plan[:3000]
    assert plan.count("FlatMapsInPandas") + plan.count("MapInPandas") == 1, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_cap_per_domain_plan_shape(spark):
    """cap_per_domain: the partial-top-n mapInPandas appears ONCE and
    rides the scan partitions (no pre-shuffle); only the survivor rank
    and the key join shuffle — the corpus-scale frame crosses at most
    one exchange before shrinking."""
    from pdf_ocr_api_spark.ops import domains as D

    d = spark.createDataFrame(
        [(i, f"s{i % 7}", f"txt {i}") for i in range(200)],
        "doc_id int, source string, text string",
    )
    # parallelism=0: NO extra shuffle — the partial stage rides the
    # scan partitions; only the survivor rank + key join exchange
    q0 = D.cap_per_domain(d, 3, parallelism=0)
    plan0 = PI.executed_plan(q0)
    assert plan0.count("FlatMapsInPandas") + plan0.count("MapInPandas") == 1, plan0[:3000]
    assert PI.exchange_count(q0) <= 3, plan0[:3000]
    # default (one-wave repartition of the NARROW projection, the
    # simhash64 pandas-stage convention) adds exactly one exchange —
    # still over (domain, key, hash) triples, never the full rows
    q = D.cap_per_domain(d, 3)
    plan = PI.executed_plan(q)
    assert plan.count("FlatMapsInPandas") + plan.count("MapInPandas") == 1, plan[:3000]
    assert PI.exchange_count(q) <= 4, plan[:3000]


def test_score_nb_plan_shape(spark):
    """score_nb (broadcast default): ONE token explode (Generate), the
    model joined via BroadcastHashJoin, one per-doc aggregate — the
    corpus-scale token stream never shuffles on the token key."""
    from pdf_ocr_api_spark.ops import classify as C

    tr = spark.createDataFrame(
        [("good", "alpha beta gamma"), ("bad", "delta epsilon zeta")],
        "label string, text string",
    )
    m = C.train_nb(tr)
    d = spark.createDataFrame(
        [(i, f"alpha delta word{i}") for i in range(50)], "doc_id int, text string"
    )
    q = C.score_nb(d, m, id_col="doc_id")
    plan = PI.executed_plan(q)
    assert plan.count("Generate") == 1, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    # the only exchange over the corpus-scale frame is the per-doc
    # aggregate's partial/final split
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_one_wave_partitioning_rule(spark):
    """ops/stage.one_wave: over-split inputs COALESCE (no exchange in
    the plan), under-split small inputs repartition to one wave, and
    unknown-stats frames pass through untouched."""
    from pdf_ocr_api_spark.ops import stage as ST

    dp = spark.sparkContext.defaultParallelism
    small = spark.range(1000).repartition(max(dp * 4, 16))
    out = ST.one_wave(small.selectExpr("id", "id * 2 as v"))
    assert out.rdd.getNumPartitions() <= max(dp, 1)
    # coalesce is narrow: no shuffle exchange on top of the input's own
    plan = PI.executed_plan(out)
    assert "Coalesce" in plan, plan[:2000]

    under = spark.range(1000).coalesce(1)
    out2 = ST.one_wave(under.selectExpr("id"))
    assert out2.rdd.getNumPartitions() == dp
