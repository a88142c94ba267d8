"""The training-data product: one operator from raw transcripts to a
cleaned, deduplicated text corpus.

This is the composition the whole engine exists for at 10^12-turn scale:

    extract (text-only fast path, shuffle-free mapInPandas)
      → per-turn quality features + language-ID (pure expressions)
      → quality / language gates (predicate filters — pushdown-friendly)
      → near-duplicate removal (MinHash LSH → exact Jaccard verify →
        connected components; keeper = smallest id per group)

Every stage is individually oracled/tested elsewhere (extraction golden
+ node parity; textstats and jaccard/components DuckDB-oracled); this
module only wires them and owns the turn-id convention: a deterministic
collision-free delimited natural key (see ``turn_id`` — a 64-bit hash
surrogate would expect ~27k birthday collisions at 10^12 turns, each
able to delete an innocent turn), independent of physical layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import extract_transcripts
from . import dedup, textstats
from .stage import materialize


def turn_id(conv_col="conv_id", turn_col="turn_idx"):
    """Deterministic COLLISION-FREE surrogate id for a turn.

    Was xxhash64(conv, idx) — but every dedup join and the final
    anti-join key on this id alone, and a 64-bit hash over 10^12 turns
    expects ~27k birthday collisions: each one cross-products the
    feature join-back and can delete an innocent turn as a near-dup
    loser. The delimited natural key costs a few bytes more per shuffle
    row and cannot collide; keeper-selection (min id) stays
    deterministic and layout-independent under string ordering."""
    return F.concat_ws(chr(0x1F), F.col(conv_col), F.col(turn_col).cast("string"))


def _gated_turns(
    transcripts,
    min_quality,
    langs,
    min_tokens,
    depara,
    scrub_pii=False,
    decontam_probes=None,
    decontam_n=8,
    decontam_max_ratio=0.0,
    strip_line_repeats=None,
    repetition_gate=False,
    lm=None,
    lm_max_ppl=None,
    lm_order=3,
    classifier=None,
    classifier_keep=None,
    classifier_min_margin=0.0,
):
    """extract → (optional PII scrub / line-repeat strip) →
    quality/language features → gates → (optional Gopher repetition
    gate / benchmark decontamination); the shared front half of
    ``clean_corpus`` and ``clean_corpus_incremental``. Returns the
    gated per-turn frame with the ``_tid`` surrogate attached.

    ``scrub_pii`` redacts emails/CPF/cards/IPs/phones (typed tags,
    ``textstats.scrub_pii``) BEFORE quality scoring — scores and token
    counts then describe the text that actually ships.
    ``strip_line_repeats`` ('doc' | 'consecutive') removes intra-turn
    repeated lines (``repetition.dedup_lines``) at the same point and
    for the same reason. ``repetition_gate`` drops turns failing the
    Gopher repetition thresholds (``repetition.repetition_filter``,
    join-free predicate) alongside the quality gates. ``decontam_probes``
    (a benchmark table with a ``text`` column) drops turns whose word
    n-gram overlap with the probe set exceeds ``decontam_max_ratio``
    (``decontam.decontaminate``, hashed join) — running it before the
    dedup stages keeps a contaminated turn from ever being the kept
    representative of a near-dup family.

    All of these change what "the same text" means — incremental runs
    must use the SAME flags as the history they extend (the stored
    signature index was built over the transformed text)."""
    ext = extract_transcripts(transcripts, depara=depara, with_services=False)
    if scrub_pii:
        ext = ext.withColumn("clean_text", textstats.scrub_pii(F.col("clean_text")))
    if strip_line_repeats is not None:
        from . import repetition

        ext = ext.withColumn(
            "clean_text",
            repetition.dedup_lines(F.col("clean_text"), scope=strip_line_repeats),
        )
    # materialize the extraction output ONCE (at real scale this is the
    # stored extraction table, see lineage.run): the pipeline fans out
    # into quality join, exact-dedup join, LSH build and the final
    # anti-join, and WITHOUT materialization every branch
    # re-executes the mapInPandas UDF (measured: 570 s vs ~230 s for the
    # same 1M-turn run)
    base = materialize(
        ext.select(
            "conv_id",
            "turn_idx",
            "clean_text",
            turn_id().alias("_tid"),
        )
    )

    # quality + language are computed on a NARROW projection (_tid +
    # text only) and joined back: carrying the staged text copies
    # (raw/normalized/folded bases) through a wide inline projection
    # doubles per-row string traffic — measured 196 s inline vs 97 s for
    # the narrow-join form on the 1M-turn corpus
    # script_route: non-Latin-dominant turns are tagged 'und-<script>'
    # instead of being scored by the (meaningless there) Latin word
    # banks — so a langs allow-list gates a Cyrillic/CJK corpus sanely
    # ('pt' never matches them by accident) and an operator can KEEP
    # them by listing the script tags ('und-cjk', …). Identical output
    # on Latin-script corpora.
    feats = textstats.with_lang_id(
        textstats.with_quality(base.select("_tid", "clean_text"), "clean_text"),
        "clean_text",
        script_route=True,
    ).select("_tid", "n_tokens", "quality_score", "lang")
    turns = base.join(feats, "_tid")

    keep = (F.col("quality_score") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    if langs:
        keep = keep & F.col("lang").isin(list(langs))
    gated = turns.filter(keep)
    if repetition_gate:
        from . import repetition

        gated = repetition.repetition_filter(gated, text_col="clean_text")
    if lm is not None and lm_max_ppl is not None:
        from . import lm as lm_ops

        # CCNet-style LM quality gate: a seed-corpus Stupid Backoff LM
        # (ops/lm.train_ngram_lm, persisted as a plain table) gates
        # turns by pseudo-perplexity. Seed LMs are vocabulary-scale →
        # broadcast the joins.
        gated = lm_ops.perplexity_filter(
            gated, lm, lm_max_ppl, text_col="clean_text", id_col="_tid",
            order=lm_order, broadcast_lm=True,
        )
    if classifier is not None and classifier_keep is not None:
        from . import classify

        # GPT-3/CCNet-style model-based quality gate: a seed-trained
        # Naive Bayes model (ops/classify.train_nb, persisted as a
        # plain table) keeps only turns it assigns to classifier_keep
        # with at least classifier_min_margin mean-per-token log-odds.
        gated = classify.classify_filter(
            gated, classifier, classifier_keep, classifier_min_margin,
            text_col="clean_text", id_col="_tid",
        )
    if decontam_probes is not None:
        from . import decontam

        gated = decontam.decontaminate(
            gated,
            decontam_probes,
            text_col="clean_text",
            id_col="_tid",
            n=decontam_n,
            max_ratio=decontam_max_ratio,
            hashed=True,
        )
    return gated


def clean_corpus(
    transcripts: DataFrame,
    min_quality: float = 0.5,
    langs: list[str] | None = None,
    min_tokens: int = 5,
    dedup_threshold: float = 0.7,
    depara: dict | None = None,
    lsh_bands: int = 8,
    num_hashes: int = 32,
    parallelism: int | None = None,
    max_bucket_size: int | None = 256,
    scrub_pii: bool = False,
    decontam_probes: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_max_ratio: float = 0.0,
    strip_line_repeats: str | None = None,
    repetition_gate: bool = False,
    lm: DataFrame | None = None,
    lm_max_ppl: float | None = None,
    lm_order: int = 3,
    classifier: DataFrame | None = None,
    classifier_keep: str | None = None,
    classifier_min_margin: float = 0.0,
) -> DataFrame:
    """Raw transcripts → cleaned per-turn corpus.

    Returns (conv_id, turn_idx, clean_text, lang, n_tokens,
    quality_score): extracted main content for turns that pass the
    quality floor, the language allow-list (when given), the token
    floor, and near-dup removal (the smallest-id member of each verified
    near-dup group is kept — deterministic, layout-independent).

    ``lsh_bands`` should track ``dedup_threshold``: the banding collision
    threshold is (1/b)^(1/r) with r = num_hashes/b — the default 8 bands
    × 4 rows targets ≈ 0.59, right for a 0.7 verify threshold; 16 bands
    × 2 rows (≈ 0.25) generated 5× the candidates for the same verified
    pairs on the 1M-turn corpus.

    ``max_bucket_size`` caps LSH band buckets (skew backstop — exact
    dedup already ran, so an over-cap bucket is an ORGANIC near-dup
    family whose candidate pairs are dropped, costing recall). Buckets
    that exceed it are counted and logged by ``minhash_lsh_pairs`` so
    the loss is observable; pass ``None`` to disable the cap.
    """
    gated = _gated_turns(
        transcripts, min_quality, langs, min_tokens, depara,
        scrub_pii=scrub_pii, decontam_probes=decontam_probes,
        decontam_n=decontam_n, decontam_max_ratio=decontam_max_ratio,
        strip_line_repeats=strip_line_repeats, repetition_gate=repetition_gate,
        lm=lm, lm_max_ppl=lm_max_ppl, lm_order=lm_order,
        classifier=classifier, classifier_keep=classifier_keep,
        classifier_min_margin=classifier_min_margin,
    )
    # stage 1: EXACT dedup (hash groupBy — one shuffle on uniform md5
    # keys). Template-heavy corpora have huge identical families; running
    # LSH over them would put a whole family into one band bucket and
    # explode it quadratically. Keep the smallest surrogate id per hash.
    hashed = gated.withColumn("_h", F.md5(dedup.normalized_text(F.col("clean_text"))))
    reps = hashed.groupBy("_h").agg(F.min("_tid").alias("_tid"))
    # reused by the LSH build AND the final anti-join — materialize
    exact_kept = materialize(hashed.join(reps, ["_h", "_tid"]).drop("_h"))

    # stage 2: near-dup over the distinct representatives only, with a
    # bucket-size cap as the skew backstop. The final keeper equals the
    # unstaged pipeline's: each representative is already its exact
    # group's min id, and components take the min across groups.
    groups = dedup.near_dup_groups(
        exact_kept.select(F.col("_tid").alias("doc_id"), F.col("clean_text").alias("text")),
        threshold=dedup_threshold,
        num_hashes=num_hashes,
        bands=lsh_bands,
        parallelism=parallelism,
        max_bucket_size=max_bucket_size,
    )
    losers = groups.filter(F.col("id") != F.col("comp")).select(F.col("id").alias("_tid"))
    out = exact_kept.join(losers, "_tid", "left_anti")
    out = out.select("conv_id", "turn_idx", "clean_text", "lang", "n_tokens", "quality_score")
    # surface the LSH skew-cap recall-loss accounting on the RESULT: a
    # 100 TB operator alerts on dedup_metrics(out)["dropped_buckets"]
    # instead of grepping executor logs
    out._dedup_metrics = dedup_metrics(groups)
    return out


def dedup_metrics(df: DataFrame) -> dict | None:
    """Recall-loss accounting attached to a ``clean_corpus`` /
    ``clean_corpus_incremental`` / ``near_dup_groups`` /
    ``incremental_keep`` result: ``{"dropped_buckets": n, "max_bucket":
    m}`` — how many LSH band buckets the ``max_bucket_size`` skew cap
    dropped (candidate pairs from those buckets were never verified) and
    the largest bucket seen; zeros when uncapped or nothing dropped.

    Returns ``None`` when the frame carries NO metrics — i.e. it is not
    the DIRECT result of one of those operators (any ``.filter()`` /
    ``.repartition()`` / reload produces a fresh DataFrame object and
    the Python-side attribute does not follow). ``None`` must be treated
    as "metrics lost, read them off the original result", never as
    "no recall loss" — returning zeros here would be exactly the silent
    recall loss this accounting exists to prevent."""
    return getattr(df, "_dedup_metrics", None)


def clean_corpus_incremental(
    kept: DataFrame,
    transcripts: DataFrame,
    min_quality: float = 0.5,
    langs: list[str] | None = None,
    min_tokens: int = 5,
    dedup_threshold: float = 0.7,
    depara: dict | None = None,
    lsh_bands: int = 8,
    num_hashes: int = 32,
    parallelism: int | None = None,
    max_bucket_size: int | None = 256,
    kept_sigs: DataFrame | None = None,
    scrub_pii: bool = False,
    decontam_probes: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_max_ratio: float = 0.0,
    strip_line_repeats: str | None = None,
    repetition_gate: bool = False,
    lm: DataFrame | None = None,
    lm_max_ppl: float | None = None,
    lm_order: int = 3,
    classifier: DataFrame | None = None,
    classifier_keep: str | None = None,
    classifier_min_margin: float = 0.0,
) -> DataFrame:
    """Incremental ``clean_corpus`` — the operational shape for a corpus
    that GROWS: process only the NEW batch of raw transcripts against the
    previously-kept corpus, without re-extracting or re-shingling
    history. Returns the new batch's SURVIVING rows (same schema as
    ``clean_corpus``); the caller appends them to the stored corpus.

    Stages: the same extract → quality/language gates on the batch; then
    EXACT dedup both intra-batch (min-_tid representative per hash) and
    against the kept corpus (md5 anti-join); then incremental near-dup
    (``dedup.incremental_keep``): the batch is LSH-probed against the
    kept corpus' signatures plus itself, verified with exact Jaccard,
    and intra-batch components keep their smallest id unless linked to
    history.

    Equals the full recompute — ``clean_corpus(batch1 ∪ batch2) ==
    clean_corpus(batch1) ∪ clean_corpus_incremental(kept1, batch2)``,
    asserted byte-equal in tests — under the append contract: batch
    ``_tid``s sort after every kept ``_tid`` (string order of
    conv_id⟂turn_idx), thresholds unchanged, and no new turn chains two
    history entries together (see ``incremental_keep``; bridges/chains
    through dropped docs are the standard incremental-dedup divergence).

    ``kept_sigs``: the kept corpus' persisted signature table
    (``corpus_signatures`` — id = turn surrogate). At 100 TB persist it
    next to the corpus and append each batch's survivors' signatures;
    passing it removes the history re-hash (measured 72.8 → 62.1 s for
    an 82k-turn batch against a 960k-kept corpus — the remaining time is
    batch extraction, the kept-side md5 anti-join scan, candidate
    verify, and component rounds; BENCH.md r4). When omitted the
    signatures are recomputed from ``kept`` (one narrow scan — still far
    cheaper than re-extracting raw history)."""
    gated = _gated_turns(
        transcripts, min_quality, langs, min_tokens, depara,
        scrub_pii=scrub_pii, decontam_probes=decontam_probes,
        decontam_n=decontam_n, decontam_max_ratio=decontam_max_ratio,
        strip_line_repeats=strip_line_repeats, repetition_gate=repetition_gate,
        lm=lm, lm_max_ppl=lm_max_ppl, lm_order=lm_order,
        classifier=classifier, classifier_keep=classifier_keep,
        classifier_min_margin=classifier_min_margin,
    )
    hashed = gated.withColumn("_h", F.md5(dedup.normalized_text(F.col("clean_text"))))
    reps = hashed.groupBy("_h").agg(F.min("_tid").alias("_tid"))
    batch_reps = hashed.join(reps, ["_h", "_tid"])
    kept_t = kept.select(
        turn_id().alias("_tid"),
        F.col("clean_text"),
        F.md5(dedup.normalized_text(F.col("clean_text"))).alias("_h"),
    )
    exact_new = materialize(
        batch_reps.join(kept_t.select("_h"), "_h", "left_anti").drop("_h")
    )

    kept_rows = dedup.incremental_keep(
        kept_t.select(F.col("_tid").alias("doc_id"), F.col("clean_text").alias("text")),
        exact_new.select(F.col("_tid").alias("doc_id"), F.col("clean_text").alias("text")),
        threshold=dedup_threshold,
        num_hashes=num_hashes,
        bands=lsh_bands,
        parallelism=parallelism,
        kept_sigs=kept_sigs,
        max_bucket_size=max_bucket_size,
    )
    survivors = kept_rows.select(F.col("doc_id").alias("_tid"))
    out = exact_new.join(survivors, "_tid", "left_semi")
    out = out.select("conv_id", "turn_idx", "clean_text", "lang", "n_tokens", "quality_score")
    out._dedup_metrics = dedup_metrics(kept_rows)
    return out


def corpus_signatures(
    kept: DataFrame,
    num_hashes: int = 32,
    k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """(id, sig) MinHash signature table of a kept corpus (id = the turn
    surrogate ``turn_id()``) — THE incremental-dedup index. Persist it
    next to the corpus; after each ``clean_corpus_incremental`` batch,
    append the survivors' signatures (``corpus_signatures`` of the new
    rows) so the next batch probes history without re-hashing it. Must
    be built with the same ``num_hashes``/``k`` the dedup runs with."""
    d = kept.select(turn_id().alias("doc_id"), F.col("clean_text").alias("text"))
    return dedup.minhash_signatures(d, num_hashes=num_hashes, k=k, parallelism=parallelism)


def log_run(
    spark,
    runs_target: str,
    mode: str,
    run_id: str,
    rows_kept: int,
    metrics: dict | None,
) -> None:
    """Append one run-summary row (mode, run id, rows kept, the
    dropped-bucket recall-loss accounting) to the store's runs table —
    one row per corpus job (``runner`` keys it by the Spark application
    id), in the single schema both clean modes write."""
    from ..sources.io import local_frame, write_table

    m = metrics or {}
    write_table(
        local_frame(
            spark,
            [(mode, run_id, int(rows_kept), int(m.get("dropped_buckets") or 0), m.get("max_bucket"))],
            "mode STRING, run_id STRING, rows_kept LONG, dropped_buckets LONG, max_bucket LONG",
        ),
        runs_target,
        mode="append",
    )


def sync_signatures(
    spark,
    corpus_target: str,
    sig_target: str,
    num_hashes: int = 32,
    k: int = 3,
    parallelism: int | None = None,
) -> int:
    """Reconcile the stored signature index with the stored corpus:
    create it when missing, and backfill signatures for any corpus rows
    the index lacks (ids-only anti-join, then hashing ONLY the missing
    rows). Returns the number of rows backfilled (full count on create).

    This makes the corpus-append → signature-append pair SELF-HEALING
    rather than transactional: a crash between the two appends (or
    between the bootstrap create of each table) leaves the index behind
    the corpus, and a later near-dup of the unsignatured rows would be
    silently kept — run this before each incremental batch and every
    crash window closes at the cost of two narrow id scans.

    ``num_hashes``/``k`` are PERSISTED next to the index (a
    ``{sig_target}_props`` one-row table) and VERIFIED on every later sync: a mismatched index makes
    ``element_at`` return NULLs that ``concat_ws`` silently drops, so
    band hashes collapse — that must be a loud ValueError, not a recall
    loss (r5 advice). Pre-props indexes (r4 stores) get their props
    backfilled from the observed signature length."""
    from ..sources.io import read_table, table_exists, write_table

    def _write_props() -> None:
        write_table(
            spark.createDataFrame(
                [("num_hashes", str(num_hashes)), ("k", str(k))],
                "key STRING, value STRING",
            ),
            f"{sig_target}_props",
            mode="create",
        )

    stored = read_table(spark, corpus_target)
    if not table_exists(spark, sig_target):
        write_table(
            corpus_signatures(stored, num_hashes, k, parallelism), sig_target, mode="create"
        )
        _write_props()
        return read_table(spark, sig_target).count()
    if table_exists(spark, f"{sig_target}_props"):
        props = {r.key: r.value for r in read_table(spark, f"{sig_target}_props").collect()}
        mismatch = [
            f"{name}: stored={props[name]} requested={val}"
            for name, val in (("num_hashes", num_hashes), ("k", k))
            if name in props and props[name] != str(val)
        ]
        if mismatch:
            raise ValueError(
                f"signature index {sig_target} parameter mismatch "
                f"({'; '.join(mismatch)}) — probing it would silently "
                "collapse band hashes; rebuild the index or pass the "
                "stored parameters"
            )
    else:
        # pre-props index (r4 store): num_hashes is observable from any
        # stored row; trust it over the argument, then stamp props
        probe = read_table(spark, sig_target).select(F.size("sig").alias("n")).first()
        if probe is not None and probe.n != num_hashes:
            raise ValueError(
                f"signature index {sig_target} has {probe.n}-hash signatures "
                f"but num_hashes={num_hashes} was requested — rebuild or "
                "pass the matching num_hashes"
            )
        _write_props()
    sig_ids = read_table(spark, sig_target).select("id")
    missing = stored.join(sig_ids, turn_id() == sig_ids["id"], "left_anti")
    n = missing.count()
    if n:
        write_table(
            corpus_signatures(missing, num_hashes, k, parallelism), sig_target, mode="append"
        )
    return n
