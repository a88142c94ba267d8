"""Model-based quality classification (the CCNet / GPT-3 filter stage).

Web-scale pipelines gate crawl text with a lightweight classifier
trained on labeled seed corpora — GPT-3 (Brown et al. 2020,
arXiv:2005.14165 §A) scored pages with a linear classifier against
WebText-like positives; CCNet (Wenzek et al. 2020, arXiv:1911.00359)
used per-language model scores; LLaMA kept pages a classifier judged
"reference-like".  This module is the distributed form: a multinomial
Naive Bayes over word tokens whose MODEL IS A DATAFRAME — the same
engine-native contract as ops/lm.py (train once on seed data, persist
as a plain table, broadcast-join at gate time; no driver-side model
object, no pickled state).

Naive Bayes rather than SGD-trained logistic regression because the
sufficient statistics are pure aggregations: training is ONE tagged
corpus scan + one groupBy — embarrassingly parallel at 100 TB, no
iteration, no learning-rate state, deterministic.  Accuracy on the
"reference-like vs crawl-like" gate task is comparable in published
ablations; any engine-portable scorer can replace it behind the same
model-table contract.

Tokenization matches the repo convention (lowercased Java-``\\s`` ASCII
split — the same tokens ops/lm.py and ops/textstats.py see).

Model table layout (``kind``-tagged rows — explicit, no reserved-token
collisions, human-auditable):

    kind='tok'    (tok, label, cnt)   token occurrences per class
    kind='total'  ('',  label, cnt)   retained token mass per class
    kind='docs'   ('',  label, cnt)   training docs per class
    kind='vocab'  ('',  '',    cnt)   retained vocabulary size

``min_count`` pruning recomputes totals and vocabulary AFTER the prune,
so the persisted model is self-consistent (pruned tokens score exactly
like unseen ones).

Scoring: log P(l | doc) ∝ log(D_l/ΣD) + Σ_tok log(c_{tok,l} + α)
− n_toks·log(T_l + α·V) — per-token Laplace smoothing, unknown tokens
contribute log α (never −inf, one OOV token cannot veto a document).

Reference provenance: no classifier exists in the reference engine
(its corpus is per-invoice PDFs); this belongs to the LLM-training-
data operator family the build brief adds (like ops/lm.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stage import materialize

__all__ = ["train_nb", "score_nb", "classify_filter"]


def _exploded_tokens(df: DataFrame, text_col: str, id_col, outer: bool):
    """``(id, tok)`` token stream — row-for-row identical to
    ``explode[_outer](ws_tokens(text))`` but WITHOUT the array
    higher-order ``filter``: HOFs run interpreted per element (outside
    whole-stage codegen — the r6 substring finding), and on a corpus
    explode that interpreted pass measured 2.2 s cold vs 0.5 s for a
    plain split + codegen'd ROW filter on the bench table.  Exactness:
    Java ``split`` only emits ``""`` elements for leading/repeated
    separators, so dropping empty-string rows post-explode equals
    dropping them pre-explode; documents with no non-whitespace char
    (``rlike('\\S')`` — the same Java ``\\s`` class the split uses) get
    a NULL array so ``explode_outer`` still emits their single NULL
    row."""
    base = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    arr = F.when(base.rlike(r"\S"), F.split(base, r"\s+")).otherwise(
        F.lit(None).cast("array<string>")
    )
    ex = F.explode_outer(arr) if outer else F.explode(arr)
    out = df.select(F.col(id_col), ex.alias("tok"))
    keep = F.col("tok") != ""
    if outer:
        keep = F.col("tok").isNull() | keep
    return out.filter(keep)


def train_nb(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    min_count: int = 1,
) -> DataFrame:
    """Train the NB model: ``(kind, tok, label, cnt)`` (layout above).

    One corpus scan (explode) + one ``(tok, label)`` groupBy with
    map-side partial aggregation, MATERIALIZED once
    (``stage.materialize``): the total/vocab rows and the returned model
    all consume the count table, and without the cut each consumer
    re-executes the corpus explode+shuffle (the same multi-consumption
    trap ops/lm.py documents for its N row; measured 4× lineage here).
    The count table is distinct-vocabulary scale — cheap to pin.
    ``docs`` priors are a separate NARROW pass (no explode).  Rows with
    a NULL label are rejected loudly — a silently dropped label would
    skew the priors."""
    if min_count < 1:
        raise ValueError("min_count must be ≥ 1")
    # NULL labels fail INLINE (raise_error inside the projection — no
    # separate validation scan of a 100 TB frame)
    checked = F.when(F.col(label_col).isNotNull(), F.col(label_col)).otherwise(
        F.raise_error(F.lit("train_nb: NULL label in the training frame"))
    )
    base = df.select(checked.alias("label"), F.col(text_col).alias("_txt"))
    counts = (
        _exploded_tokens(base, "_txt", "label", outer=False)
        .groupBy("tok", "label")
        .agg(F.count("*").alias("cnt"))
    )
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    counts = materialize(counts)
    docs = base.select("label").groupBy("label").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("label").agg(F.sum("cnt").alias("cnt"))
    vocab = counts.select("tok").distinct().agg(F.count("*").alias("cnt"))
    model = (
        counts.select(F.lit("tok").alias("kind"), "tok", "label", "cnt")
        .unionByName(
            totals.select(
                F.lit("total").alias("kind"), F.lit("").alias("tok"), "label", "cnt"
            )
        )
        .unionByName(
            docs.select(
                F.lit("docs").alias("kind"), F.lit("").alias("tok"), "label", "cnt"
            )
        )
        .unionByName(
            vocab.select(
                F.lit("vocab").alias("kind"),
                F.lit("").alias("tok"),
                F.lit("").alias("label"),
                "cnt",
            )
        )
    )
    return model


def _model_meta(model: DataFrame) -> dict:
    """Collect the label-cardinality metadata rows (docs/total/vocab)
    once: ``{(kind, label): cnt}``.  Shared by ``score_nb`` and
    ``classify_filter`` so the gate pays ONE driver collect — the model
    is a lazy union, and every separate collect re-executes its
    docs-prior branch (a full seed-corpus scan per collect, r6
    measurement)."""
    return {
        (r["kind"], r["label"]): r["cnt"]
        for r in model.filter(F.col("kind") != "tok").collect()
    }


def score_nb(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    broadcast_model: bool = True,
    _meta: dict | None = None,
) -> DataFrame:
    """Per-document class log-posteriors: ``(id, n_toks, logp_<label>
    per class, pred, margin)``.  ``pred`` is the argmax label (ties →
    lexically-first, deterministic); ``margin`` is best − runner-up in
    mean-per-token log space (length-normalized, so one threshold works
    across document lengths; 0.0 for single-class models).

    Plan: the class metadata (docs/total/vocab rows — label-cardinality
    scale) is collected to the driver as plan CONSTANTS; the token
    table is pivoted wide (one row per vocab token) and broadcast by
    default (seed-corpus vocabularies fit executors; pass
    ``broadcast_model=False`` to shuffle-join a giant model).  ONE
    explode + ONE join + ONE per-doc aggregate."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    meta = _meta if _meta is not None else _model_meta(model)
    labels = sorted(l for (k, l) in meta if k == "docs")
    if not labels:
        raise ValueError("model has no 'docs' rows — not a train_nb output?")
    v = meta.get(("vocab", ""), 0)
    if v <= 0:
        raise ValueError(
            "model has zero retained vocabulary (min_count pruned every "
            "token, or the training text was all empty/whitespace) — "
            "every document would score identically; retrain"
        )
    d_total = sum(meta[("docs", l)] for l in labels)
    prior = {l: math.log(meta[("docs", l)] / d_total) for l in labels}
    denom = {l: math.log(meta.get(("total", l), 0) + alpha * v) for l in labels}

    wide = (
        model.filter(F.col("kind") == "tok")
        .groupBy("tok")
        .pivot("label", labels)
        .sum("cnt")
    )
    # positional rename: pivoted columns are the RAW label strings —
    # a label named 'id'/'tok' collides with the join/id columns and a
    # label containing dots breaks column parsing (r5 review finding,
    # live-confirmed AMBIGUOUS_REFERENCE). Index names dodge the class;
    # labels reappear only as final output aliases.
    wide = wide.toDF("tok", *[f"_c_{i}" for i in range(len(labels))])
    # precompute log(cnt + alpha) on the VOCAB-scale model side instead
    # of per token occurrence (r6, guide §2.3/§1.2 — per-task work after
    # the shape is right): the corpus-scale aggregate then sums
    # already-computed doubles, paying |vocab|·|labels| log() calls
    # instead of |token occurrences|·|labels|.  Same JVM Math.log on the
    # same double input → bit-identical scores (a missing label cell
    # stays NULL here and coalesces to the SAME JVM log(alpha) constant
    # below).
    wide = wide.select(
        "tok",
        *[
            F.log(
                F.coalesce(F.col(f"_c_{i}"), F.lit(0)).cast("double")
                + F.lit(alpha)
            ).alias(f"_l_{i}")
            for i in range(len(labels))
        ],
    )
    if broadcast_model:
        wide = F.broadcast(wide)

    toks = _exploded_tokens(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt")),
        "_txt",
        "id",
        outer=True,
    )
    joined = toks.join(wide, "tok", "left")
    # per-token smoothed log-likelihood; the explode_outer NULL row
    # (empty doc) contributes nothing but keeps the document's row
    unseen = F.log(F.lit(0).cast("double") + F.lit(alpha))
    per_tok = [
        F.sum(
            F.when(
                F.col("tok").isNotNull(),
                F.coalesce(F.col(f"_l_{i}"), unseen),
            ).otherwise(F.lit(0.0))
        ).alias(f"_s_{i}")
        for i in range(len(labels))
    ]
    agg = joined.groupBy("id").agg(
        F.count(F.col("tok")).alias("n_toks"), *per_tok
    )
    # internal _lp_{i} names (labels only reappear as OUTPUT aliases —
    # same collision class as the pivot rename above)
    logps = [
        (
            F.lit(prior[l])
            + F.col(f"_s_{i}")
            - F.col("n_toks") * F.lit(denom[l])
        ).alias(f"_lp_{i}")
        for i, l in enumerate(labels)
    ]
    scored = agg.select("id", "n_toks", *logps)
    idx = range(len(labels))
    # argmax + margin over a fixed, plan-time label list: pred is the
    # FIRST (lexically-smallest) label equal to the max — deterministic
    # on exact ties
    if len(labels) > 1:
        best = F.greatest(*[F.col(f"_lp_{i}") for i in idx])
    else:
        best = F.col("_lp_0")
    pred = None
    for i, l in enumerate(labels):
        cond = F.col(f"_lp_{i}") == best
        pred = F.when(cond, F.lit(l)) if pred is None else pred.when(cond, F.lit(l))
    if len(labels) > 1:
        # runner-up = max over the labels NOT at the max; if SEVERAL
        # labels tie at the max the runner-up IS the max, so the margin
        # reads 0 (the naive null-the-best-and-take-greatest form
        # nulled ALL tied labels and fell through to a lower class,
        # r5 review finding). Note a margin of exactly 0 still
        # satisfies min_margin=0 — classify_filter documents that.
        tie_n = None
        for i in idx:
            one = F.when(F.col(f"_lp_{i}") == best, 1).otherwise(0)
            tie_n = one if tie_n is None else tie_n + one
        others = [
            F.when(F.col(f"_lp_{i}") == best, F.lit(None)).otherwise(
                F.col(f"_lp_{i}")
            )
            for i in idx
        ]
        runner_raw = F.greatest(*others) if len(others) > 2 else F.coalesce(*others)
        runner = F.when(tie_n > 1, best).otherwise(runner_raw)
        margin = F.when(
            F.col("n_toks") > 0, (best - runner) / F.col("n_toks")
        ).otherwise(F.lit(0.0))
    else:
        margin = F.lit(0.0)
    return scored.select(
        "id",
        "n_toks",
        *[F.col(f"_lp_{i}").alias(f"logp_{l}") for i, l in enumerate(labels)],
        pred.alias("pred"),
        margin.alias("margin"),
    )


def classify_filter(
    df: DataFrame,
    model: DataFrame,
    keep_label: str,
    min_margin: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Keep only documents the model assigns to ``keep_label`` with at
    least ``min_margin`` mean-per-token log-odds over the runner-up
    class.  ``min_margin=0.0`` admits any win INCLUDING exact ties
    (raise it to reject zero-confidence predictions).  Documents with
    zero tokens are always dropped — with no evidence the "prediction"
    is just the class prior, and a quality gate must not admit
    empty/whitespace text on priors (r5 review finding; corpus
    pipelines usually also gate on min_tokens upstream).  ``id_col``
    must be unique and non-null.  Returns the input schema unchanged
    (semi join on the id).  An unknown ``keep_label`` raises instead of
    silently dropping the whole corpus (a typo'd --classifier-keep
    would otherwise write an empty corpus with a success summary)."""
    meta = _model_meta(model)
    known = sorted(l for (k, l) in meta if k == "docs")
    if keep_label not in known:
        raise ValueError(
            f"keep_label {keep_label!r} is not one of the model's classes "
            f"{known} — a silent empty result would look like success"
        )
    scored = score_nb(df, model, text_col, id_col, alpha=alpha, _meta=meta)
    kept = scored.filter(
        (F.col("pred") == keep_label)
        & (F.col("margin") >= min_margin)
        & (F.col("n_toks") > 0)
    ).select(F.col("id").alias(id_col))
    return df.join(kept, id_col, "left_semi")
