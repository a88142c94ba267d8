"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the corpus-cleaning operators (dedup, similarity,
text analysis, domain caps), each expressed over the driver's
synthetic tables; ``oracle_sql()`` carries the DuckDB twin for every
SQL-expressible entry. Ops whose hashes are engine-specific (xxhash64
MinHash/SimHash, SRP-LSH) or that run the mapInPandas extraction UDF are
rows-only checked (documented per entry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: the extraction pipeline over pseudo-transcripts (rows-only)
# ---------------------------------------------------------------------------

def _pseudo_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → transcript-shaped rows: conversations of ~10 turns."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.format_string("doc-conv-%04d", (F.col("doc_id") % 50).cast("int")).alias("conv_id"),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            ((F.col("doc_id") % 3) + 1).cast("int"),
        ).alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
    )


def q_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full mapInPandas extraction (router + text path) over documents
    reshaped as transcripts. Rows-only check (vectorized UDF)."""
    from pdf_ocr_api_spark import pipeline

    out = pipeline.extract_transcripts(_pseudo_transcripts(spark, sf_dir))
    return out.select("conv_id", "turn_idx", "kind", "clean_text", "n_chars_in", "n_chars_out")


def q_conversation_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level assembly (A1-A6 windows + F2-F12 filters + J6).
    Rows-only check (depends on the extraction UDF upstream)."""
    from pdf_ocr_api_spark import conversation, fixtures, pipeline

    ext = pipeline.extract_transcripts(_pseudo_transcripts(spark, sf_dir))
    tipo = conversation.tipo_dim_df(spark, fixtures.DEPARA_RAW["tipoCertidao"])
    recs = conversation.conversation_records(ext, tipo)
    return recs.select(
        "conv_id", "NumerodaCertidao", "TipodaCertidao", "Estado", F.size("Servicos").alias("n_servicos")
    )


def q_conversation_service_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-form conversation record (one row per filtered service, keyed
    (turn_idx, svc_idx) — nothing conversation-sized in the plan).
    Rows-only check (extraction UDF upstream); equality with the
    array-form record asserted in tests."""
    from pdf_ocr_api_spark import conversation, fixtures, pipeline

    ext = pipeline.extract_transcripts(_pseudo_transcripts(spark, sf_dir))
    tipo = conversation.tipo_dim_df(spark, fixtures.DEPARA_RAW["tipoCertidao"])
    rows = conversation.conversation_service_rows(ext, tipo)
    return rows.select(
        "conv_id", "NumerodaCertidao", "TipodaCertidao", "Estado",
        "turn_idx", "svc_idx", "Item", "Quantidade",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-turn extraction over sf0.001 (driver checks rows>0)."""
    return q_extract_pipeline(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# SQL-expressible operators (SURVEY §2) — DuckDB-oracled
# ---------------------------------------------------------------------------

def q_f_filter_pushdown(spark, sf_dir):
    """F3/F9/O3 — range + length predicates, pruned projection."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") >= 5)
            & (F.col("l_quantity") <= 30)
            & (F.col("l_shipdate") >= F.lit("1998-06-01"))
            & (F.length("l_returnflag") >= 1)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def q_p_projection(spark, sf_dir):
    """P2/A3 — head-slice projection (limit pushdown analogue)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.substring("text", 1, 120).alias("head"))


def q_t_regex_extract(spark, sf_dir):
    """T7/T8/T10 — scalar regex extraction."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_extract("props", r"(\d+)", 1).alias("k_str"),
        F.regexp_extract("event_type", r"^([a-z]+)", 1).alias("etype_head"),
    )


def q_t_normalize_chain(spark, sf_dir):
    """T1/T6 — upper + whitespace collapse + trim chain."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.trim(F.regexp_replace(F.upper(F.substring("text", 1, 80)), r"\s+", " ")).alias("norm_head"),
    )


def q_f2_regex_denylist(spark, sf_dir):
    """F2 — regex deny-list filter (boilerplate-strip shape)."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(~F.col("text").rlike(r"\b(slow|error)\b")).select("doc_id", "lang")


def q_j1_broadcast_lookup(spark, sf_dir):
    """J1 — two-level broadcast dimension lookup."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count("*").alias("n_customers"))
    )


def q_j2_contains_join(spark, sf_dir):
    """J2/J3 — contains-style theta join against a tiny dimension."""
    d = _t(spark, sf_dir, "documents")
    dim = spark.createDataFrame([("fast",), ("merge",), ("vector",)], "marker STRING")
    return (
        d.crossJoin(F.broadcast(dim))
        .filter(F.instr(F.col("text"), F.col("marker")) > 0)
        .groupBy("marker")
        .agg(F.count("*").alias("n_docs"))
    )


def q_a1_ordered_concat(spark, sf_dir):
    """A1 — ordered concatenation per group (document concat analogue)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("etype_seq")
    )


def q_a2_first_per_group(spark, sf_dir):
    """A2 — first-chunk projection: earliest event per user."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_etype"))
    )


def q_a4_last_ignorenulls(spark, sf_dir):
    """A4 — category inheritance: last non-null marker carried forward."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last(F.when(F.col("value") >= 150, F.col("event_type")), ignorenulls=True).over(w)
    return e.select("event_id", "user_id", carried.alias("carried_etype"))


def q_a5_group_gate(spark, sf_dir):
    """A5 — all-rows-satisfy gate per group (bool_and analogue)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.min(F.when(F.col("l_discount") <= 0.05, 1).otherwise(0)).alias("gate"))
        .filter(F.col("gate") == 1)
        .select("l_orderkey")
    )


def q_a6_running_number(spark, sf_dir):
    """A6 — item auto-numbering: counter over qualifying rows only."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counter = F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).over(w)
    item = F.when(F.col("value") >= 100, counter.cast("string")).otherwise(F.lit(None).cast("string"))
    return e.select("event_id", "user_id", item.alias("item_no"))


def q_w_sessionize(spark, sf_dir):
    """Stateful scan — 30-minute-gap sessionization."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flag = F.when(prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1).otherwise(0)
    sess = F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return e.select("event_id", "user_id", sess.alias("session_id"))


def q_o_sort_limit(spark, sf_dir):
    """O1/O4 — deterministic top-k (TakeOrderedAndProject)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


def q_u_anti_except(spark, sf_dir):
    """U2 — EXCEPT/anti-join: customers with no URGENT order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_u_union(spark, sf_dir):
    """U1 — unionByName + distinct."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    b = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    return a.unionByName(b).distinct()


def q_x_split_explode(spark, sf_dir):
    """X2/X3 — split + explode + re-aggregate (token counting)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    return toks.groupBy("doc_id", "lang").agg(F.count("*").alias("n_tokens"))


def q_x6_ntile(spark, sf_dir):
    """X6 — split-into-N-files analogue (ntile)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))


def q_agg_pricing_summary(spark, sf_dir):
    """Aggregation layer (order-independent sums, float-canonical).

    Both engines return rounded DOUBLE sums: the driver hashes value
    *reprs*, so a Python Decimal('253942.0000') (Spark decimal column via
    toPandas) can never repr-match DuckDB's float64 253942.0 no matter how
    the declared types line up. Summing in decimal(18,4) keeps the
    aggregation exact; the final cast-to-double + round(…, 4) makes the
    repr canonical — same scheme the ANN entries use."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"), 4).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 4).alias("sum_price"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------

def _pseudo_turns(spark, sf_dir):
    """(conv_id, turn_idx, doc_id) page-axis table from documents —
    contiguous 0..9 turn_idx per conversation (doc_ids are dense)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.format_string("doc-conv-%04d", (F.col("doc_id") % 50).cast("int")).alias("conv_id"),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        "doc_id",
    )


def q_extract_metadata(spark, sf_dir):
    """§2.9 pdf-properties analogue through the REAL extraction UDF:
    Adobe-structuredData JSON payloads are synthesized per documents row
    (declared extended_metadata on doc_id%3==0 — passthrough must win
    over derivation, hence declared page_count != len(pages); pages[]
    carry is_scanned/rotation for the derived path), extracted with
    with_metadata=True, and composed via with_extended_metadata. The
    oracle recomputes every field directly from doc_id arithmetic — any
    UDF parse/passthrough/derivation error hash-mismatches. Element text
    is a fixed English-marker string so the content-language fallback is
    deterministic ('en')."""
    from pdf_ocr_api_spark import pipeline

    d = _t(spark, sf_dir, "documents")
    pc = (F.col("doc_id") % 4 + 1).cast("int")
    declared = F.col("doc_id") % 3 == 0
    payload = F.to_json(
        F.struct(
            F.struct(F.lit("1.6.1").alias("json_export")).alias("version"),
            F.when(
                declared,
                F.struct(
                    F.lit("pt").alias("language"),
                    (pc + 10).alias("page_count"),
                    F.lit("1.7").alias("pdf_version"),
                    (F.col("doc_id") % 7 == 0).alias("is_encrypted"),
                ),
            ).alias("extended_metadata"),
            F.array(
                F.struct(
                    F.lit(1).alias("ObjectID"),
                    F.lit("//Document/P").alias("Path"),
                    F.lit("the and is with for that").alias("Text"),
                    F.array(F.lit(50.0), F.lit(700.0), F.lit(400.0), F.lit(730.0)).alias("Bounds"),
                    F.lit(0).alias("Page"),
                )
            ).alias("elements"),
            F.transform(
                F.sequence(F.lit(1), pc),
                lambda i: F.struct(
                    (i - 1).alias("page_number"),
                    F.lit(600.0).alias("width"),
                    F.lit(800.0).alias("height"),
                    (F.col("doc_id") % 2 == 0).alias("is_scanned"),
                    ((F.col("doc_id") % 4) * 90).cast("int").alias("rotation"),
                ),
            ).alias("pages"),
        )
    )
    turns = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("tool"),
    )
    ext = pipeline.with_extended_metadata(
        pipeline.extract_transcripts(turns, with_metadata=True)
    )
    return ext.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("extended_metadata.language").alias("language"),
        F.col("extended_metadata.page_count").alias("page_count"),
        F.col("extended_metadata.pdf_version").alias("pdf_version"),
        # string-cast: a NULLABLE boolean lands as float NaN in DuckDB's
        # pandas frame but None in Spark's — reprs can never match;
        # VARCHAR nulls stay None in both engines
        F.col("extended_metadata.is_encrypted").cast("string").alias("is_encrypted"),
        F.col("extended_metadata.is_scanned").alias("is_scanned"),
        F.col("extended_metadata.rotation").alias("rotation"),
    )


def q_o3_select_turns(spark, sf_dir):
    """O3 — page-range selection + dense renumber (reorder-pdf-pages)."""
    from pdf_ocr_api_spark.operators import turnops

    return turnops.select_turns(_pseudo_turns(spark, sf_dir), 2, 6)


def q_training_split(spark, sf_dir):
    """Training-set assembly (ops/training, r5): leakage-safe hash
    splits + deterministic mixture weighting over documents. Every
    decision is a pure function of (key, salt) through the md5-portable
    60-bit hash, so the DuckDB oracle reproduces the assignment
    value-for-value — a FULL hash-match for sampling, which rand()-based
    sampling can never give. zh is upsampled 2.5× (2 whole copies + a
    hash-remainder third), fr downsampled to 0.4, the rest pass through."""
    from pdf_ocr_api_spark.ops import training

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = training.assign_splits(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id", salt="split-v1"
    )
    out = training.mixture_sample(
        out, {"zh": 2.5, "fr": 0.4}, domain_col="lang", key_col="doc_id", salt="mix-v1"
    )
    return out.select("doc_id", "split", "mix_copy")


def q_u_turn_edits(spark, sf_dir):
    """U2/U3/U4 — delete / replace / insert turn edits, one union entry
    tagged by ``variant`` (r5 consolidation: the driver evaluates at
    most 50 entries, and the three edits share one output schema —
    merging them frees two cap slots for the r5-late operator families;
    each operator keeps its own dedicated tests in test_turnops).

    delete: anti-range + renumber (ref delete-pdf-pages.js);
    replace: turns [2,5] of A replaced by B's turns, dense renumber
    (ref replace-pdf-pages.js:112-117);
    insert: B's turns spliced into A at position 3, dense renumber
    (ref insert-pdf-pages.js:111-116)."""
    from pdf_ocr_api_spark.operators import turnops

    pt = _pseudo_turns(spark, sf_dir)
    base = pt.filter(F.col("conv_id") == "doc-conv-0000")
    other = pt.filter(F.col("conv_id") == "doc-conv-0001")
    dele = turnops.delete_turns(pt, 1, 3).withColumn(
        "variant", F.lit("delete")
    )
    repl = turnops.replace_turns(
        base, other, 2, 5, into_conv="doc-conv-0000"
    ).withColumn("variant", F.lit("replace"))
    ins = turnops.insert_turns(
        base, other, at=3, into_conv="doc-conv-0000"
    ).withColumn("variant", F.lit("insert"))
    return dele.unionByName(repl).unionByName(ins)


def q_x6_split_family(spark, sf_dir):
    """X6 — the three split modes (by-count / into-N / by-ranges), one
    union entry tagged by ``variant`` (r5 consolidation — same
    50-entry-cap motivation as q_u_turn_edits; the operators keep their
    dedicated tie-break/renumber tests in test_turnops).

    by_count: chunk per fixed turn count (split-pdf-by-number-of-pages
    .js:51-52); into_n: per-conversation ntile chunks
    (split-pdf-into-number-of-files.js:50-52); by_ranges: two inclusive
    ranges → two renumbered chunks (split-pdf-by-page-ranges.js:93-98)."""
    from pdf_ocr_api_spark.operators import turnops

    pt = _pseudo_turns(spark, sf_dir)
    a = turnops.split_by_count(pt, 4, tie=["doc_id"]).withColumn(
        "variant", F.lit("by_count")
    )
    b = turnops.split_into_n(pt, 3, tie=["doc_id"]).withColumn(
        "variant", F.lit("into_n")
    )
    c = turnops.split_by_ranges(
        pt, [(0, 2), (5, 8)], tie=["doc_id"]
    ).withColumn("variant", F.lit("by_ranges"))
    return a.unionByName(b).unionByName(c)


def _lined_docs(spark, sf_dir):
    """documents reshaped into deterministic MULTI-LINE text (the
    fixture text is single-line word soup): literal, sequential
    replaces — ``' value '`` → newline, then ``' table '`` → blank line
    — so lines and paragraphs exist.  Literal (non-regex) replace is
    left-to-right non-overlapping in both the JVM and DuckDB, so the
    oracle reproduces the reshape byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    lined = F.replace(
        F.replace(F.col("text"), F.lit(" value "), F.lit("\n")),
        F.lit(" table "),
        F.lit("\n\n"),
    )
    return d, lined


def q_rep_signals(spark, sf_dir):
    """Gopher repetition signal family (ops/repetition.py, r5):
    dup-line/paragraph fractions + top-n-gram character fractions over
    multi-line reshaped documents; every fourth document gets an
    injected duplicated line so dup_line_frac varies.  The pandas
    engine (the production default) is what runs here; the DuckDB
    oracle recomputes every signal from first principles — so the gate
    also re-proves the Python/Catalyst/SQL three-way equivalence the
    unit tests assert pairwise."""
    from pdf_ocr_api_spark.ops import repetition

    d, lined = _lined_docs(spark, sf_dir)
    txt = F.concat(
        lined,
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("\nrepeat line alpha\nrepeat line alpha"),
        ).otherwise(F.lit("")),
    )
    staged = d.select("doc_id", txt.alias("text"))
    return repetition.repetition_profile(staged, "text", "doc_id")


def q_strip_boilerplate(spark, sf_dir):
    """Corpus-level boilerplate line removal (CCNet/C4 style,
    ops/repetition.py r5): a nav header injected into every document
    and a cookie banner into every third are dropped (≥ min_docs
    distinct docs); the per-document footer line survives.  Oracle
    recomputes the occurrence counts and the line-preserving rebuild
    in SQL."""
    from pdf_ocr_api_spark.ops import repetition

    d, lined = _lined_docs(spark, sf_dir)
    txt = F.concat(
        F.lit("nav home menu contact about\n"),
        lined,
        F.lit("\n"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("cookie consent banner accept all"),
        ).otherwise(
            F.concat(F.lit("doc footer "), F.col("doc_id").cast("string"))
        ),
    )
    staged = d.select("doc_id", txt.alias("text"))
    out = repetition.strip_boilerplate_lines(staged, min_docs=10)
    return out.select("doc_id", "text", "n_lines_dropped")


def q_substring_dedup(spark, sf_dir):
    """Exact substring dedup (Lee et al. 2021, ops/substrings.py r5):
    every duplicated ≥4-token span loses all but its min-(id,pos)
    occurrence corpus-wide.  The engine fingerprints windows with
    two independent rolling-hash rings; the oracle needs NO hashes —
    it groups the actual window STRINGS, so a full hash-match also
    certifies the fingerprint path collision-free on this corpus.
    width=4 on the sf fixtures cuts ~3k windows across ~370 of 500
    docs (measured) — substantial removal with most text surviving."""
    from pdf_ocr_api_spark.ops import substrings

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return substrings.dedup_substrings(d, width=4)


def q_lm_train(spark, sf_dir):
    """Stupid Backoff n-gram LM training (ops/lm.py, r5): the full
    order-2 count table from ONE tagged explode over the corpus —
    (n, gram, cnt) rows for n ∈ {1, 2} plus the reserved (0, '', N)
    total-mass row.  Oracle regenerates the same counts (control-char
    BOS/EOS markers and the literal-marker escape included) in SQL."""
    from pdf_ocr_api_spark.ops import lm

    return lm.train_ngram_lm(_t(spark, sf_dir, "documents"), order=2)


def q_s7_header_rules(spark, sf_dir):
    """S7 — deterministic header classifier replacing the reference's GPT
    call: J2 sigla-contains rules over normalized text (the same rules
    the prompt encodes, ref gpt/extractHeader.js:41-74)."""
    d = _t(spark, sf_dir, "documents")
    up = F.regexp_replace(F.upper(F.substring("text", 1, 8000)), r"\s+", "")
    nivel = (
        F.when(up.contains("EXECUCAO") | up.contains("EXECUTADO"), 1)
        .when(up.contains("FISCALIZACAO") | up.contains("FISCAL"), 2)
        .when(up.contains("ELABORACAO") | up.contains("PROJETO"), 3)
    )
    return d.select("doc_id", nivel.alias("nivel_atividade"))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups (hash-groupBy). The synthetic corpus has no
    natural exact dups, so every 17th document is re-injected with a
    shifted id — the dedup must find exactly those planted pairs."""
    from pdf_ocr_api_spark.ops import dedup

    d = _t(spark, sf_dir, "documents")
    planted = d.filter(F.col("doc_id") % 17 == 0).withColumn("doc_id", F.col("doc_id") + 1000000)
    g = dedup.exact_duplicates(d.unionByName(planted))
    return g.select("h", "dup_count", "keep_id")


def q_dedup_fingerprint(spark, sf_dir):
    """md5 content fingerprint per document."""
    from pdf_ocr_api_spark.ops import textstats

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.md5_fingerprint(F.col("text")).alias("fp"))


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs (xxhash64 — engine-specific,
    rows-only check; the family's exactness is anchored by the oracled
    q_dedup_jaccard entry below)."""
    from pdf_ocr_api_spark.ops import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, num_hashes=32, bands=8, parallelism=32)


def q_dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verify over planted near-dup pairs — the
    DuckDB-oracled anchor for the MinHash family: every 10th document is
    paired with a 60%-prefix-truncated copy; the shingle-set Jaccard of
    each pair is computed exactly (array_intersect/array_union)."""
    from pdf_ocr_api_spark.ops import dedup

    d = _t(spark, sf_dir, "documents")
    planted = d.filter(F.col("doc_id") % 10 == 0)
    trunc = planted.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.6) as int))").alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(trunc)
    pairs = planted.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1000000).alias("id_b")
    )
    return dedup.jaccard_verify(corpus, pairs, threshold=0.3)


def _planted_pair_graph(spark, sf_dir):
    """Deterministic pair graph over document ids: chains of 3
    (d → d+1M → d+2M) for every 10th doc, cross-linked (d → d+10) for
    every 50th — multi-hop components that exercise propagation depth."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).select("doc_id")
    p1 = d.select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1000000).alias("id_b"))
    p2 = d.select(
        (F.col("doc_id") + 1000000).alias("id_a"), (F.col("doc_id") + 2000000).alias("id_b")
    )
    p3 = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 10).alias("id_b"))
    )
    return p1.unionByName(p2).unionByName(p3)


def q_dedup_components(spark, sf_dir):
    """Connected components over the planted near-dup pair graph:
    (id, comp=min id in component) — the group-formation step after
    candidate verification. DuckDB-oracled via a recursive CTE."""
    from pdf_ocr_api_spark.ops import dedup

    return dedup.connected_components(_planted_pair_graph(spark, sf_dir))


def q_dedup_pipeline(spark, sf_dir):
    """Full near-dup pipeline (LSH → Jaccard verify → components) over
    documents + planted 80%-truncated copies — FULL-MATCH oracled (r3):
    the DuckDB twin computes ALL-pairs shingle Jaccard ≥ threshold and
    takes recursive-CTE connected components, i.e. the pipeline's exact
    end-shape with no LSH at all. The hash match therefore also PROVES
    the banded LSH (deterministic xxhash64) reaches full recall on this
    corpus at threshold 0.5 / 16 bands — any dropped candidate pair
    would split a component and mismatch."""
    from pdf_ocr_api_spark.ops import dedup

    d = _t(spark, sf_dir, "documents")
    trunc = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.8) as int))").alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(trunc)
    return dedup.near_dup_groups(corpus, threshold=0.5, bands=16, parallelism=32)


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-pairs, Manku-banded full-recall variant
    (engine-specific hashing; rows-only check)."""
    from pdf_ocr_api_spark.ops import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(dedup.simhash64(d, parallelism=32), max_hamming=3)


def q_textstats_profile(spark, sf_dir):
    """One-pass text profile (r5 consolidation of the quality + tokens
    entries): length/punct/stopword/digit ratios + composite quality,
    whitespace (n_tokens) AND BPE-ish token counts, plus Gopher-style
    repetition signals (dup_word_frac / dup_2gram_frac) — one corpus
    scan, no joins."""
    from pdf_ocr_api_spark.ops import textstats

    d = _t(spark, sf_dir, "documents")
    return textstats.text_profile(d)


def q_decontam_ngram(spark, sf_dir):
    """Benchmark decontamination (r5): word n-gram overlap of the corpus
    against a probe set (docs with doc_id % 29 == 0 stand in for the
    benchmark suite; the rest are the training corpus). n=3 here because
    the synthetic docs are ~50 tokens — real pipelines run 8-13-grams on
    web documents; the operator takes n as a parameter. Probe n-grams
    broadcast; the only shuffle carries matched hits. String-form grams
    here so the DuckDB oracle replays the join verbatim; the production
    path is the xxhash64 ``hashed=True`` variant (pytest-equivalence
    asserted)."""
    from pdf_ocr_api_spark.ops import decontam

    d = _t(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") % 29 == 0)
    corpus = d.filter(F.col("doc_id") % 29 != 0)
    return decontam.contamination(corpus, probes, n=3, min_hits=1)


def q_lang_id(spark, sf_dir):
    """n-gram/stopword language-ID heuristic (argmax of marker hits)."""
    from pdf_ocr_api_spark.ops import textstats

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.lang_id(F.col("text")).alias("lang_pred"))


def q_ann_brute_cosine(spark, sf_dir):
    """Brute-force cosine top-10 to the vec_id=0 embedding. Ranked on
    round(cosine, 4): DuckDB's list_cosine_similarity computes in float32
    (~1e-7 rel error) while the Spark expression accumulates in double —
    4 decimals is the common exactness."""
    from pdf_ocr_api_spark.ops import similarity

    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cand = e.filter(F.col("vec_id") != 0)
    return (
        cand.select(
            F.col("vec_id").alias("id"),
            F.round(similarity.cosine_to(list(qv), F.col("embedding")), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(10)
    )


def q_ann_index_family(spark, sf_dir):
    """The approximate-ANN entry: SRP multi-table OR-construction +
    multiprobe LSH answers the top-10 query to the vec_id=0 embedding,
    tagged ``method='lsh'``.

    Rows-only by design (approximate index); its recall floor is
    asserted in tests (test_ops.py), and the exact brute-force twin is
    the separately-oracled ``ann_brute_cosine``/``ann_batch_cosine``."""
    from pdf_ocr_api_spark.ops import similarity

    e = _t(spark, sf_dir, "embeddings")
    qv = list(e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0])
    cand = e.filter(F.col("vec_id") != 0)
    return similarity.lsh_topk(cand, qv, k=10).select(
        F.lit("lsh").alias("method"), "id", "cosine"
    )


def q_ann_batch_cosine(spark, sf_dir):
    """Batched multi-query exact ANN — ONE corpus scan for all queries
    (broadcast query table + per-query window top-k). Ranked on
    round(cosine, 4) like ann_brute_cosine (DuckDB computes in float32;
    4 decimals is the common exactness), id tie-break."""
    from pyspark.sql import Window

    from pdf_ocr_api_spark.ops import similarity

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cand = e.filter(F.col("vec_id") >= 3)
    scored = cand.crossJoin(F.broadcast(queries)).select(
        "query_id",
        F.col("vec_id").alias("id"),
        F.round(
            similarity.cosine_pair_expr(F.col("embedding"), F.col("query_vec")).cast("double"), 4
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= 10).drop("_rk")


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs — exact O(n²) variant
    (DuckDB-oracled)."""
    from pdf_ocr_api_spark.ops import similarity

    e = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_pairs_exact(e, threshold=0.4)


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup dedup (r4) — FULL-MATCH oracled against the
    all-pairs recursive-CTE full recompute: batch 1 is the documents
    table, batch 2 plants cross-batch near-dups (the 80%-truncated
    copies of every 10th doc, ids +1,000,000 — sorting AFTER all batch-1
    ids, the append contract); the entry returns
    incremental(∅, b1) ∪ incremental(kept1, b2) kept ids, probing
    batch 2 through batch 1's signature table. A hash match proves the
    incremental composition lands on EXACTLY the full recompute's
    keep-set on this corpus (and, transitively, that the banded LSH
    probe reaches full recall on it)."""
    from pdf_ocr_api_spark.ops import dedup

    d = _t(spark, sf_dir, "documents")
    b1 = d.select("doc_id", "text")
    b2 = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, cast(floor(length(text) * 0.8) as int))").alias("text"),
    )
    kw = dict(threshold=0.5, num_hashes=32, bands=16, parallelism=16)
    kept1 = dedup.incremental_keep(b1.limit(0), b1, **kw)
    kept2 = dedup.incremental_keep(kept1, b2, kept_sigs=dedup.minhash_signatures(kept1, num_hashes=32), **kw)
    return kept1.select(F.col("doc_id").alias("id")).unionByName(
        kept2.select(F.col("doc_id").alias("id"))
    )


def q_clean_corpus(spark, sf_dir):
    """The corpus-cleaning flagship composition: extraction → quality/
    language gates → near-dup removal, over documents reshaped as
    transcripts (rows-only: extraction UDF + engine hashing upstream;
    every stage individually oracled/tested)."""
    from pdf_ocr_api_spark.ops import corpus

    out = corpus.clean_corpus(
        _pseudo_transcripts(spark, sf_dir), min_quality=0.3, min_tokens=3, parallelism=32
    )
    return out.select("conv_id", "turn_idx", "lang", "n_tokens")


def q_domain_cap(spark, sf_dir):
    """Domain blocklist then Gopher-style per-domain cap: drop two
    sources, keep at most 5 documents per remaining source — the ones
    with the smallest md5-portable hash of (source, doc_id, salt), so
    DuckDB reproduces the exact selection."""
    from pdf_ocr_api_spark.ops import domains

    d = _t(spark, sf_dir, "documents")
    kept = domains.cap_per_domain(domains.filter_domains(d, ["src1", "src5"]), n=5)
    return kept.select("doc_id", "source")


def q_domain_stats(spark, sf_dir):
    """Per-domain corpus profile (n_docs, n_chars, whitespace-token
    count) — one partial-aggregated shuffle on the source key."""
    from pdf_ocr_api_spark.ops import domains

    return domains.domain_stats(_t(spark, sf_dir, "documents"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # flagship extraction engine (rows-only; pytest suite carries the
        # byte-parity gate vs the reference)
        "extract_pipeline": q_extract_pipeline,
        "conversation_records": q_conversation_records,
        "conversation_service_rows": q_conversation_service_rows,
        # SURVEY §2 SQL-expressible operators
        "f_filter_pushdown": q_f_filter_pushdown,
        "p_projection": q_p_projection,
        "t_regex_extract": q_t_regex_extract,
        "t_normalize_chain": q_t_normalize_chain,
        "f2_regex_denylist": q_f2_regex_denylist,
        "j1_broadcast_lookup": q_j1_broadcast_lookup,
        "j2_contains_join": q_j2_contains_join,
        "a1_ordered_concat": q_a1_ordered_concat,
        "a2_first_per_group": q_a2_first_per_group,
        "a4_last_ignorenulls": q_a4_last_ignorenulls,
        "a5_group_gate": q_a5_group_gate,
        "a6_running_number": q_a6_running_number,
        "w_sessionize": q_w_sessionize,
        "o_sort_limit": q_o_sort_limit,
        "u_anti_except": q_u_anti_except,
        "u_union": q_u_union,
        "x_split_explode": q_x_split_explode,
        "x6_ntile": q_x6_ntile,
        "agg_pricing_summary": q_agg_pricing_summary,
        # turn-axis page-operation analogues (SURVEY §2.5/2.6/2.9).
        # r5 consolidation: u2/u3/u4 share one union entry and the three
        # x6 split modes share another (same 50-entry driver cap move as
        # the r4 ann/mm merges) — the four slots freed carry the r5-late
        # operator families below (rep_signals, strip_boilerplate,
        # substring_dedup, lm_train), all fully oracled
        "o3_select_turns": q_o3_select_turns,
        "u_turn_edits": q_u_turn_edits,
        "training_split": q_training_split,
        "x6_split_family": q_x6_split_family,
        "s7_header_rules": q_s7_header_rules,
        "extract_metadata": q_extract_metadata,
        # training-data pipeline
        "dedup_exact": q_dedup_exact,
        "dedup_fingerprint": q_dedup_fingerprint,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_components": q_dedup_components,
        "dedup_pipeline": q_dedup_pipeline,
        "dedup_incremental": q_dedup_incremental,
        "dedup_simhash": q_dedup_simhash,
        # r5 consolidation: quality+tokens share one one-pass profile
        # entry (with repetition signals), freeing the cap slot the new
        # decontamination entry occupies
        "textstats_profile": q_textstats_profile,
        "decontam_ngram": q_decontam_ngram,
        "lang_id": q_lang_id,
        # r5-late LLM-pipeline operator families (SURVEY §2.11)
        "rep_signals": q_rep_signals,
        "strip_boilerplate": q_strip_boilerplate,
        "substring_dedup": q_substring_dedup,
        "lm_train": q_lm_train,
        "ann_brute_cosine": q_ann_brute_cosine,
        "ann_index_family": q_ann_index_family,
        "ann_batch_cosine": q_ann_batch_cosine,
        "domain_stats": q_domain_stats,
        "dedup_embedding": q_dedup_embedding,
        "clean_corpus": q_clean_corpus,
        "domain_cap": q_domain_cap,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twins. Omitted entries (extraction UDF, engine-specific
    hashing, approximate ANN) get rows-only checks."""
    lang_case = _lang_id_sql()
    return {
        "f_filter_pushdown": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE l_quantity >= 5 AND l_quantity <= 30
              AND l_shipdate >= TIMESTAMP '1998-06-01'
              AND length(l_returnflag) >= 1
        """,
        "p_projection": "SELECT doc_id, substring(text, 1, 120) AS head FROM documents",
        "t_regex_extract": r"""
            SELECT event_id,
                   coalesce(regexp_extract(props, '(\d+)', 1), '') AS k_str,
                   coalesce(regexp_extract(event_type, '^([a-z]+)', 1), '') AS etype_head
            FROM events
        """,
        "t_normalize_chain": r"""
            SELECT doc_id,
                   trim(regexp_replace(upper(substring(text, 1, 80)), '\s+', ' ', 'g')) AS norm_head
            FROM documents
        """,
        "f2_regex_denylist": r"""
            SELECT doc_id, lang FROM documents
            WHERE NOT regexp_matches(text, '\b(slow|error)\b')
        """,
        "j1_broadcast_lookup": """
            SELECT r.r_name AS region_name, count(*) AS n_customers
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """,
        "j2_contains_join": """
            SELECT m.marker, count(*) AS n_docs
            FROM documents d
            JOIN (VALUES ('fast'), ('merge'), ('vector')) AS m(marker)
              ON strpos(d.text, m.marker) > 0
            GROUP BY m.marker
        """,
        "a1_ordered_concat": """
            SELECT user_id, string_agg(event_type, '|' ORDER BY ts, event_id) AS etype_seq
            FROM events GROUP BY user_id
        """,
        "a2_first_per_group": """
            SELECT user_id, first_etype FROM (
              SELECT user_id, event_type AS first_etype,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "a4_last_ignorenulls": """
            SELECT event_id, user_id,
                   last_value(CASE WHEN value >= 150 THEN event_type END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_etype
            FROM events
        """,
        "a5_group_gate": """
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING min(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END) = 1
        """,
        "a6_running_number": """
            SELECT event_id, user_id,
                   CASE WHEN value >= 100 THEN CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
                   END AS item_no
            FROM events
        """,
        "w_sessionize": """
            SELECT event_id, user_id,
                   CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                            OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS flag
              FROM events
            )
        """,
        "o_sort_limit": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
        """,
        "u_anti_except": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        """,
        "u_union": """
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION
            SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
        """,
        "x_split_explode": """
            SELECT doc_id, lang, count(*) AS n_tokens
            FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY doc_id, lang
        """,
        "x6_ntile": """
            SELECT o_orderkey, ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
            FROM orders
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "o3_select_turns": """
            WITH pt AS (
              SELECT printf('doc-conv-%04d', CAST(doc_id % 50 AS INT)) AS conv_id,
                     CAST(doc_id // 50 AS INT) AS turn_idx, doc_id
              FROM documents
            )
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS INT) AS turn_idx,
                   doc_id
            FROM pt WHERE turn_idx BETWEEN 2 AND 6
        """,
        "u_turn_edits": """
            WITH pt AS (
              SELECT printf('doc-conv-%04d', CAST(doc_id % 50 AS INT)) AS conv_id,
                     CAST(doc_id // 50 AS INT) AS turn_idx, doc_id
              FROM documents
            ), ins AS (
              SELECT conv_id, turn_idx, doc_id,
                     CASE WHEN turn_idx < 3 THEN turn_idx ELSE turn_idx + 1000000 END AS ord,
                     0 AS src
              FROM pt WHERE conv_id = 'doc-conv-0000'
              UNION ALL
              SELECT 'doc-conv-0000' AS conv_id, turn_idx, doc_id, 3 AS ord, 1 AS src
              FROM pt WHERE conv_id = 'doc-conv-0001'
            ), repl AS (
              SELECT conv_id, turn_idx, doc_id,
                     CASE WHEN turn_idx < 2 THEN turn_idx ELSE turn_idx + 1000000 END AS ord,
                     0 AS src
              FROM pt WHERE conv_id = 'doc-conv-0000' AND turn_idx NOT BETWEEN 2 AND 5
              UNION ALL
              SELECT 'doc-conv-0000' AS conv_id, turn_idx, doc_id, 2 AS ord, 1 AS src
              FROM pt WHERE conv_id = 'doc-conv-0001'
            )
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS INT) AS turn_idx,
                   doc_id, 'delete' AS variant
            FROM pt WHERE turn_idx NOT BETWEEN 1 AND 3
            UNION ALL
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ord, src, turn_idx) - 1 AS INT) AS turn_idx,
                   doc_id, 'replace' AS variant
            FROM repl
            UNION ALL
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ord, src, turn_idx) - 1 AS INT) AS turn_idx,
                   doc_id, 'insert' AS variant
            FROM ins
        """,
        "training_split": _training_split_sql(),
        "x6_split_family": """
            WITH pt AS (
              SELECT printf('doc-conv-%04d', CAST(doc_id % 50 AS INT)) AS conv_id,
                     CAST(doc_id // 50 AS INT) AS turn_idx, doc_id
              FROM documents
            ), ranged AS (
              SELECT conv_id, turn_idx, doc_id,
                     CASE WHEN turn_idx BETWEEN 0 AND 2 THEN 0
                          WHEN turn_idx BETWEEN 5 AND 8 THEN 1
                     END AS chunk
              FROM pt
            )
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id, CAST(turn_idx // 4 AS INT)
                                           ORDER BY turn_idx, doc_id) - 1 AS INT) AS turn_idx,
                   doc_id, CAST(turn_idx // 4 AS INT) AS chunk, 'by_count' AS variant
            FROM pt
            UNION ALL
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id, chunk ORDER BY turn_idx, doc_id) - 1 AS INT) AS turn_idx,
                   doc_id, chunk, 'into_n' AS variant
            FROM (
              SELECT conv_id, turn_idx, doc_id,
                     ntile(3) OVER (PARTITION BY conv_id ORDER BY turn_idx, doc_id) - 1 AS chunk
              FROM pt
            )
            UNION ALL
            SELECT conv_id,
                   CAST(row_number() OVER (PARTITION BY conv_id, chunk ORDER BY turn_idx, doc_id) - 1 AS INT) AS turn_idx,
                   doc_id, chunk, 'by_ranges' AS variant
            FROM ranged WHERE chunk IS NOT NULL
        """,
        # Gopher repetition signals recomputed from first principles:
        # same reshape (literal replaces), same tokenizer (Java-\s ASCII
        # class), trim = 0x20 only, same HALF_UP 6-decimal rounding
        # (floor(x*1e6+0.5)/1e6 — both engines compute the identical
        # float64 op sequence). Top-gram winner = lexically-smallest
        # space-joined gram among the max-count grams (ties).
        "rep_signals": r"""
            WITH d AS (
              SELECT doc_id,
                     replace(replace(text, ' value ', chr(10)), ' table ', chr(10) || chr(10))
                     || CASE WHEN doc_id % 4 = 0
                             THEN chr(10) || 'repeat line alpha' || chr(10) || 'repeat line alpha'
                             ELSE '' END AS t
              FROM documents
            ),
            lines AS (
              SELECT x.doc_id, trim(u.ln, ' ') AS ln
              FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d) x,
                   unnest(x.ls) AS u(ln)
              WHERE trim(u.ln, ' ') != ''
            ),
            lstat AS (
              SELECT doc_id, SUM(c) AS n,
                     SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_n,
                     SUM(L * c) AS tc,
                     SUM(CASE WHEN c > 1 THEN L * c ELSE 0 END) AS dc
              FROM (SELECT doc_id, ln, count(*) AS c, length(ln) AS L FROM lines GROUP BY 1, 2)
              GROUP BY 1
            ),
            paras AS (
              SELECT x.doc_id, trim(u.p, ' ') AS p
              FROM (SELECT doc_id, regexp_split_to_array(t, '\n{2,}') AS ps FROM d) x,
                   unnest(x.ps) AS u(p)
              WHERE trim(u.p, ' ') != ''
            ),
            pstat AS (
              SELECT doc_id, SUM(c) AS n,
                     SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_n,
                     SUM(L * c) AS tc,
                     SUM(CASE WHEN c > 1 THEN L * c ELSE 0 END) AS dc
              FROM (SELECT doc_id, p, count(*) AS c, length(p) AS L FROM paras GROUP BY 1, 2)
              GROUP BY 1
            ),
            tks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(t), '[ \t\n\x0b\f\r]+'), x -> x != '') AS tk
              FROM d
            ),
            tstat AS (
              SELECT doc_id, len(tk) AS n_toks,
                     coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS nsc
              FROM tks
            ),
            g2 AS (SELECT doc_id, array_to_string(tk[i+1:i+2], ' ') AS g
                   FROM tks, unnest(range(0, greatest(len(tk) - 1, 0))) AS u(i)),
            g3 AS (SELECT doc_id, array_to_string(tk[i+1:i+3], ' ') AS g
                   FROM tks, unnest(range(0, greatest(len(tk) - 2, 0))) AS u(i)),
            g4 AS (SELECT doc_id, array_to_string(tk[i+1:i+4], ' ') AS g
                   FROM tks, unnest(range(0, greatest(len(tk) - 3, 0))) AS u(i)),
            t2 AS (SELECT doc_id, c * length(replace(g, ' ', '')) AS cov
                   FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
                   QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1),
            t3 AS (SELECT doc_id, c * length(replace(g, ' ', '')) AS cov
                   FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
                   QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1),
            t4 AS (SELECT doc_id, c * length(replace(g, ' ', '')) AS cov
                   FROM (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1, 2)
                   QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1)
            SELECT d.doc_id AS id,
                   CAST(coalesce(l.n, 0) AS INT) AS n_lines,
                   CAST(coalesce(p.n, 0) AS INT) AS n_paras,
                   floor((CASE WHEN coalesce(l.n, 0) > 0 THEN l.dup_n / l.n ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_line_frac,
                   floor((CASE WHEN coalesce(l.tc, 0) > 0 THEN l.dc / l.tc ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_line_char_frac,
                   floor((CASE WHEN coalesce(p.n, 0) > 0 THEN p.dup_n / p.n ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_para_frac,
                   floor((CASE WHEN coalesce(p.tc, 0) > 0 THEN p.dc / p.tc ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_para_char_frac,
                   floor((CASE WHEN ts.n_toks >= 2 AND ts.nsc > 0 THEN least(t2.cov / ts.nsc, 1.0) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS top_2gram_char_frac,
                   floor((CASE WHEN ts.n_toks >= 3 AND ts.nsc > 0 THEN least(t3.cov / ts.nsc, 1.0) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS top_3gram_char_frac,
                   floor((CASE WHEN ts.n_toks >= 4 AND ts.nsc > 0 THEN least(t4.cov / ts.nsc, 1.0) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS top_4gram_char_frac
            FROM d
            LEFT JOIN lstat l USING (doc_id)
            LEFT JOIN pstat p USING (doc_id)
            LEFT JOIN tstat ts USING (doc_id)
            LEFT JOIN t2 USING (doc_id)
            LEFT JOIN t3 USING (doc_id)
            LEFT JOIN t4 USING (doc_id)
        """,
        # Boilerplate line removal: occurrence counted on the TRIMMED
        # line (md5 in the engine is just a join key — equality of
        # hashes ⇔ equality of lines), short lines never participate,
        # untouched docs keep their original bytes.
        "strip_boilerplate": """
            WITH d AS (
              SELECT doc_id,
                     'nav home menu contact about' || chr(10)
                     || replace(replace(text, ' value ', chr(10)), ' table ', chr(10) || chr(10)) || chr(10)
                     || CASE WHEN doc_id % 3 = 0 THEN 'cookie consent banner accept all'
                             ELSE 'doc footer ' || doc_id END AS text
              FROM documents
            ),
            lines AS (
              SELECT x.doc_id, i AS pos, x.ls[i + 1] AS line, trim(x.ls[i + 1], ' ') AS t
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d) x,
                   unnest(range(0, len(x.ls))) AS u(i)
            ),
            boiler AS (
              SELECT t FROM lines WHERE length(t) >= 6
              GROUP BY t HAVING count(DISTINCT doc_id) >= 10
            ),
            marked AS (
              SELECT l.doc_id, l.pos, l.line, (b.t IS NOT NULL) AS dropped
              FROM lines l LEFT JOIN boiler b ON l.t = b.t
            ),
            reb AS (
              SELECT doc_id,
                     coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT dropped), '') AS new_text,
                     CAST(count(*) FILTER (WHERE dropped) AS BIGINT) AS n_lines_dropped
              FROM marked GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CASE WHEN r.n_lines_dropped > 0 THEN r.new_text ELSE d.text END AS text,
                   r.n_lines_dropped
            FROM d JOIN reb r USING (doc_id)
        """,
        # Exact substring dedup recomputed WITHOUT hashes: duplicated
        # width-4 windows grouped by their actual token STRINGS, keeper
        # = global min (doc_id, pos), covered tokens dropped. A full
        # hash-match therefore also certifies the engine's rolling-hash
        # fingerprints collision-free on this corpus.
        "substring_dedup": r"""
            WITH d AS (SELECT doc_id, text FROM documents),
            tks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(coalesce(text, ''), '[ \t\n\x0b\f\r]+'), x -> x != '') AS tk
              FROM d
            ),
            wins AS (
              SELECT doc_id, i AS pos, array_to_string(tk[i+1:i+4], ' ') AS g
              FROM tks, unnest(range(0, greatest(len(tk) - 3, 0))) AS u(i)
            ),
            cuts AS (
              SELECT doc_id, pos FROM wins
              QUALIFY count(*) OVER (PARTITION BY g) >= 2
                  AND row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) > 1
            ),
            covered AS (
              SELECT DISTINCT doc_id, pos + j AS tpos
              FROM cuts, unnest(range(0, 4)) AS u(j)
            ),
            toklist AS (
              SELECT t.doc_id, t.tk[i + 1] AS tok, i AS tpos
              FROM tks t, unnest(range(0, len(t.tk))) AS u(i)
            ),
            reb AS (
              SELECT tl.doc_id,
                     coalesce(string_agg(tl.tok, ' ' ORDER BY tl.tpos) FILTER (WHERE c.doc_id IS NULL), '') AS new_text,
                     CAST(count(c.doc_id) AS BIGINT) AS n_removed
              FROM toklist tl
              LEFT JOIN covered c ON tl.doc_id = c.doc_id AND tl.tpos = c.tpos
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CASE WHEN coalesce(r.n_removed, 0) > 0 THEN r.new_text ELSE d.text END AS text,
                   CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_tokens_removed
            FROM d LEFT JOIN reb r USING (doc_id)
        """,
        # Order-2 Stupid Backoff count table: control-char BOS/EOS
        # markers (chr(2)/chr(3)), literal-marker escape (chr(27)),
        # the reserved (0, '', N) total-mass row.
        "lm_train": r"""
            WITH toks AS (
              SELECT list_transform(
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[ \t\n\x0b\f\r]+'), x -> x != ''),
                       x -> CASE WHEN x = chr(2) OR x = chr(3) THEN chr(27) || x ELSE x END) AS tk
              FROM documents
            ),
            marked AS (
              SELECT list_concat(list_concat([chr(2)], tk), [chr(3)]) AS mt FROM toks
            ),
            grams AS (
              SELECT 1 AS n, g AS gram FROM marked, unnest(mt) AS u(g)
              UNION ALL
              SELECT 2 AS n, mt[i + 1] || ' ' || mt[i + 2] AS gram
              FROM marked, unnest(range(0, len(mt) - 1)) AS u(i)
            )
            SELECT CAST(n AS INT) AS n, gram, CAST(count(*) AS BIGINT) AS cnt
            FROM grams GROUP BY 1, 2
            UNION ALL
            SELECT 0 AS n, '' AS gram, CAST(sum(len(mt) - 1) AS BIGINT) AS cnt FROM marked
        """,
        "s7_header_rules": r"""
            SELECT doc_id,
                   CASE WHEN contains(up, 'EXECUCAO') OR contains(up, 'EXECUTADO') THEN 1
                        WHEN contains(up, 'FISCALIZACAO') OR contains(up, 'FISCAL') THEN 2
                        WHEN contains(up, 'ELABORACAO') OR contains(up, 'PROJETO') THEN 3
                   END AS nivel_atividade
            FROM (SELECT doc_id, regexp_replace(upper(substring(text, 1, 8000)), '\s+', '', 'g') AS up FROM documents)
        """,
        "dedup_exact": r"""
            SELECT h, dup_count, keep_id FROM (
              SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
                     count(*) AS dup_count, min(doc_id) AS keep_id
              FROM (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
              ) GROUP BY 1
            ) WHERE dup_count > 1
        """,
        "dedup_fingerprint": r"""
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "dedup_jaccard": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     substring(text, 1, CAST(floor(length(text) * 0.6) AS INT)) AS text
              FROM documents WHERE doc_id % 10 = 0
            ), sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                                i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                     ) AS sh
              FROM (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
                FROM corpus
              )
            ), pairs AS (
              SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents WHERE doc_id % 10 = 0
            )
            SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
              SELECT p.id_a, p.id_b,
                     len(list_intersect(a.sh, b.sh)) * 1.0
                       / len(list_distinct(list_concat(a.sh, b.sh))) AS j
              FROM pairs p
              JOIN sh a ON a.doc_id = p.id_a
              JOIN sh b ON b.doc_id = p.id_b
            ) WHERE j >= 0.3
        """,
        "dedup_pipeline": r"""
            WITH RECURSIVE corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     substring(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
              FROM documents WHERE doc_id % 10 = 0
            ), sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                                i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                     ) AS sh
              FROM (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
                FROM corpus
              )
            ), verified AS (
              -- ALL candidate pairs (no LSH): the end-shape ground truth
              SELECT a.doc_id AS a, b.doc_id AS b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
            ), edges AS (
              SELECT a, b FROM verified UNION SELECT b AS a, a AS b FROM verified
            ), reach(id, r) AS (
              SELECT a AS id, b AS r FROM edges
              UNION
              SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
            )
            SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id
        """,
        "dedup_components": """
            WITH RECURSIVE base AS (
              SELECT doc_id FROM documents WHERE doc_id % 10 = 0
            ), pairs AS (
              SELECT doc_id AS a, doc_id + 1000000 AS b FROM base
              UNION ALL
              SELECT doc_id + 1000000 AS a, doc_id + 2000000 AS b FROM base
              UNION ALL
              SELECT doc_id AS a, doc_id + 10 AS b FROM base WHERE doc_id % 50 = 0
            ), edges AS (
              SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
            ), reach(id, r) AS (
              SELECT a AS id, b AS r FROM edges
              UNION
              SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
            )
            SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id
        """,
        "textstats_profile": _profile_sql(),
        "decontam_ngram": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                                i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                     ) AS gs
              FROM toks
            ), probe AS (
              SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 29 = 0
            ), doc_grams AS (
              SELECT doc_id, len(gs) AS n_ngrams, unnest(gs) AS g
              FROM grams WHERE doc_id % 29 <> 0
            )
            SELECT doc_id, n_hits, n_ngrams,
                   round(n_hits * 1.0 / n_ngrams, 6) AS contamination_ratio
            FROM (
              SELECT dg.doc_id, dg.n_ngrams, count(*) AS n_hits
              FROM doc_grams dg JOIN probe p ON dg.g = p.g
              GROUP BY dg.doc_id, dg.n_ngrams
            ) WHERE n_hits >= 1
        """,
        "lang_id": lang_case,
        "extract_metadata": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'pt' ELSE 'en' END AS language,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 4 + 11
                             ELSE doc_id % 4 + 1 END AS INT) AS page_count,
                   CASE WHEN doc_id % 3 = 0 THEN '1.7' END AS pdf_version,
                   CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 7 = 0 AS VARCHAR) END AS is_encrypted,
                   doc_id % 2 = 0 AS is_scanned,
                   CAST((doc_id % 4) * 90 AS INT) AS rotation
            FROM documents
        """,
        "ann_brute_cosine": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id AS id,
                   round(CAST(list_cosine_similarity(e.embedding, q.qv) AS DOUBLE), 4) AS cosine
            FROM embeddings e, q
            WHERE e.vec_id <> 0
            ORDER BY cosine DESC, id ASC LIMIT 10
        """,
        "ann_batch_cosine": """
            SELECT query_id, id, cosine FROM (
              SELECT q.vec_id AS query_id, e.vec_id AS id,
                     round(CAST(list_cosine_similarity(e.embedding, q.embedding) AS DOUBLE), 4) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(CAST(list_cosine_similarity(e.embedding, q.embedding) AS DOUBLE), 4) DESC,
                                e.vec_id ASC
                     ) AS rk
              FROM embeddings e JOIN embeddings q ON q.vec_id < 3
              WHERE e.vec_id >= 3
            ) WHERE rk <= 10
        """,
        "dedup_embedding": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) >= 0.4
        """,
        "dedup_incremental": r"""
            WITH RECURSIVE corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     substring(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
              FROM documents WHERE doc_id % 10 = 0
            ), sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                                i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                     ) AS sh
              FROM (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
                FROM corpus
              )
            ), verified AS (
              SELECT a.doc_id AS a, b.doc_id AS b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
            ), edges AS (
              SELECT a, b FROM verified UNION SELECT b AS a, a AS b FROM verified
            ), reach(id, r) AS (
              SELECT a AS id, b AS r FROM edges
              UNION
              SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
            ), losers AS (
              SELECT id FROM (
                SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id
              ) WHERE id != comp
            )
            SELECT doc_id AS id FROM corpus
            WHERE doc_id NOT IN (SELECT id FROM losers)
        """,
        "domain_cap": """
            SELECT doc_id, source FROM documents
            WHERE source NOT IN ('src1', 'src5')
            QUALIFY row_number() OVER (
              PARTITION BY source
              ORDER BY ('0x' || substr(md5(source || chr(31) || CAST(doc_id AS VARCHAR)
                                           || chr(31) || 'domain-cap-v1'), 1, 15))::BIGINT,
                       doc_id
            ) <= 5
        """,
        "domain_stats": r"""
            SELECT source AS domain, count(*) AS n_docs,
                   CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars,
                   CAST(sum(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                                            x -> x != ''))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        """,
    }


def _basis_sql() -> str:
    from pdf_ocr_api_spark.ops.textstats import _ACC_DST, _ACC_SRC

    return f"translate(lower(coalesce(text, '')), '{_ACC_SRC}', '{_ACC_DST}')"


def _profile_sql() -> str:
    return r"""
        SELECT doc_id AS id,
               length(text) AS n_chars,
               n_tokens,
               bpe_tokens,
               round(CASE WHEN length(text) > 0 THEN n_punct * 1.0 / length(text) ELSE 0 END, 6) AS punct_ratio,
               round(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0 END, 6) AS stop_ratio,
               round(CASE WHEN length(text) > 0 THEN n_digit * 1.0 / length(text) ELSE 0 END, 6) AS digit_ratio,
               round(CASE WHEN n_tokens > 0 THEN 1 - uniq_w * 1.0 / n_tokens ELSE 0 END, 6) AS dup_word_frac,
               round(CASE WHEN n_g2 > 0 THEN 1 - uniq_g2 * 1.0 / n_g2 ELSE 0 END, 6) AS dup_2gram_frac,
               round(
                 least(n_tokens / 100.0, 1.0) * 0.4
                 + CASE WHEN n_tokens > 0
                          AND (length(text) - (n_tokens - 1)) * 1.0 / n_tokens >= 3
                          AND (length(text) - (n_tokens - 1)) * 1.0 / n_tokens <= 12
                        THEN 0.2 ELSE 0 END
                 + least(CASE WHEN n_tokens > 0 THEN n_stop * 2.0 / n_tokens ELSE 0 END, 0.2)
                 + CASE WHEN (CASE WHEN length(text) > 0 THEN n_punct * 1.0 / length(text) ELSE 0 END) <= 0.1 THEN 0.1 ELSE 0 END
                 + CASE WHEN (CASE WHEN length(text) > 0 THEN n_digit * 1.0 / length(text) ELSE 0 END) <= 0.3 THEN 0.1 ELSE 0 END
               , 6) AS quality_score
        FROM (
          SELECT doc_id, text,
                 len(toks) AS n_tokens,
                 len(regexp_extract_all(coalesce(text, ''), '[A-Za-zÀ-ÿ0-9]+|[^A-Za-zÀ-ÿ0-9\s]')) AS bpe_tokens,
                 len(regexp_extract_all(text, '[.,;:!?…]')) AS n_punct,
                 len(regexp_extract_all({BASIS}, '\b(the|and|of|o|a|de|que|e|do|da)\b')) AS n_stop,
                 len(regexp_extract_all(text, '\d')) AS n_digit,
                 len(list_distinct(toks)) AS uniq_w,
                 CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS n_g2,
                 CASE WHEN len(toks) >= 2
                      THEN len(list_distinct(list_transform(range(1, len(toks)),
                                                            i -> array_to_string(toks[i:i+1], ' '))))
                      ELSE 0 END AS uniq_g2
          FROM (
            SELECT doc_id, text,
                   CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
                   END AS toks
            FROM documents
          )
        )
    """.replace("{BASIS}", _basis_sql())


def _training_split_sql() -> str:
    """DuckDB twin of q_training_split: the decision thresholds are
    derived from the SAME ops/training helpers the Spark side uses, so
    the two engines cannot drift on float→int boundary rounding."""
    from pdf_ocr_api_spark.ops import training

    bounds = training.split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    plan = {v: (w, r) for v, w, r in training.mixture_weights_plan({"zh": 2.5, "fr": 0.4})}
    return f"""
        WITH h AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'split-v1'), 1, 15))::BIGINT AS hs,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'mix-v1'), 1, 15))::BIGINT AS hm
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CASE WHEN hs < {bounds[0][1]} THEN 'train'
                      WHEN hs < {bounds[1][1]} THEN 'val'
                      ELSE 'test' END AS split,
                 (CASE lang WHEN 'zh' THEN {plan['zh'][0]} WHEN 'fr' THEN {plan['fr'][0]} ELSE 1 END
                  + CASE WHEN hm < (CASE lang WHEN 'zh' THEN {plan['zh'][1]}
                                              WHEN 'fr' THEN {plan['fr'][1]} ELSE 0 END)
                         THEN 1 ELSE 0 END) AS copies
          FROM h
        )
        SELECT doc_id, split, CAST(c AS INT) AS mix_copy
        FROM (SELECT doc_id, split, unnest(range(copies)) AS c FROM s WHERE copies > 0)
    """


def _lang_id_sql() -> str:
    from pdf_ocr_api_spark.ops.textstats import LANG_MARKERS

    basis = _basis_sql()
    score_cols = ",\n".join(
        f"len(regexp_extract_all({basis}, '{rx}')) AS s_{lang}" for lang, rx in LANG_MARKERS.items()
    )
    # replicate the declaration-order strict-> argmax of textstats.lang_id
    langs = list(LANG_MARKERS)
    pred = "'und'"
    best = "0"
    for lang in langs:
        pred = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest(s_{lang}, {best})"
    return f"""
        SELECT doc_id, {pred} AS lang_pred
        FROM (SELECT doc_id, {score_cols} FROM documents)
    """
