"""Intra-document and corpus-level repetition removal.

Two classes of repetition damage a training corpus that document-level
dedup (ops/dedup.py) cannot see:

* **Intra-document repetition** — generation loops, templated lists,
  OCR page-header echoes: the *document* is unique but most of its
  lines/paragraphs/n-grams repeat.  Gopher (Rae et al. 2021,
  arXiv:2112.11446 §A1.1) gates on per-document repetition fractions;
  `repetition_profile` computes the signal family and
  `repetition_filter` applies the published thresholds.
* **Cross-document boilerplate lines** — navigation chrome, cookie
  banners, license footers that appear verbatim in thousands of
  otherwise-distinct documents.  CCNet / C4 drop lines by corpus-wide
  occurrence; `strip_boilerplate_lines` is the distributed form.

Engine note (measured, BENCH.md r5): the Gopher signals exist in TWO
equivalent engines.  The default is a vectorized ``mapInPandas`` pass
(C-speed ``Counter`` counting — ~µs/doc, shuffle-free map), because the
pure-Catalyst array/higher-order-function form, while correct and kept
as the equality twin + DuckDB-oracle anchor, is 50-100× slower here:
lambda-bearing higher-order functions are evaluated INTERPRETED (no
whole-stage codegen), and in the filter form predicate pushdown
substitutes the staged array expressions INTO the predicate, re-
evaluating the sort/fold per reference (the repo's standing
expression-CSE pitfall, pushdown edition).  ``strip_boilerplate_lines``
(per-line corpus aggregation) stays pure-Catalyst — its work is joins
and hash aggregates, which codegen handles natively.

Reference provenance: the reference engine has no repetition stage
(its corpus is per-invoice PDFs); this module is part of the
LLM-training-data operator family the build brief adds on top of the
reference surface (like ops/dedup.py, ops/decontam.py).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dedup_lines",
    "repetition_profile",
    "repetition_filter",
    "strip_boilerplate_lines",
    "GOPHER_REPETITION_THRESHOLDS",
]


def _split_lines(col):
    """CRLF-normalized line array, trimmed, blank lines removed.

    Blank lines are layout, not content: counting them as 'duplicate
    lines' would flag every multi-paragraph document, and removing
    their duplicates would destroy paragraph structure."""
    raw = F.split(F.regexp_replace(col, "\r\n?", "\n"), "\n")
    return F.filter(F.transform(raw, lambda x: F.trim(x)), lambda x: x != "")


def _split_paragraphs(col):
    """Paragraph array: split on blank-line runs, trimmed, empties out."""
    raw = F.split(F.regexp_replace(col, "\r\n?", "\n"), "\n{2,}")
    return F.filter(F.transform(raw, lambda x: F.trim(x)), lambda x: x != "")


def _dup_fracs(sorted_arr):
    """(dup_frac, dup_char_frac) over a SORTED string array.

    An element is a duplicate-member when it equals a sorted neighbor —
    one linear pass over the sorted array instead of the O(n²)
    count-each-element-in-array shape.  dup_frac is the fraction of
    elements that belong to a >1 group; dup_char_frac weights by
    character length (Gopher's 'fraction of characters in duplicate
    lines')."""
    n = F.size(sorted_arr)
    # when() guards keep element_at indexes in [1, n] (index 0 raises,
    # and out-of-range raises under ANSI) — And/Or short-circuiting is
    # an implementation detail we do not lean on
    def _is_dup(x, i):
        prev_eq = F.when(i > 0, F.element_at(sorted_arr, i) == x).otherwise(
            F.lit(False)
        )
        next_eq = F.when(
            i < n - 1, F.element_at(sorted_arr, i + 2) == x
        ).otherwise(F.lit(False))
        return F.when(prev_eq | next_eq, F.lit(1)).otherwise(F.lit(0))

    flags = F.transform(sorted_arr, _is_dup)
    dup_n = F.aggregate(flags, F.lit(0), lambda acc, x: acc + x)
    total_chars = F.aggregate(
        sorted_arr, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    dup_chars = F.aggregate(
        F.zip_with(sorted_arr, flags, lambda x, fl: F.length(x) * fl),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    dup_frac = F.when(n > 0, dup_n / n).otherwise(F.lit(0.0))
    dup_char_frac = F.when(total_chars > 0, dup_chars / total_chars).otherwise(
        F.lit(0.0)
    )
    return dup_frac, dup_char_frac


def _word_grams(toks, n: int):
    """Overlapping word n-grams of a token array (space-joined)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _top_gram_char_frac(sorted_grams, n_nonspace_chars):
    """Fraction of non-space characters covered by the most frequent
    n-gram: (occurrences × non-space length of the gram) / total
    non-space chars.  One F.aggregate run-length pass over the sorted
    gram array; ties keep the lexically-first gram (deterministic).
    Gopher §A1.1's 'top n-gram character fraction' — our denominator is
    non-space characters (space placement between grams is ambiguous),
    documented and held consistent between numerator and denominator."""
    state0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("best_len"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, F.length(F.replace(x, F.lit(" "), F.lit(""))))
            .otherwise(acc["best_len"])
            .alias("best_len"),
        )

    final = F.aggregate(sorted_grams, state0, step)
    covered = final["best"] * final["best_len"]
    return F.when(
        n_nonspace_chars > 0,
        F.least(covered / n_nonspace_chars, F.lit(1.0)),
    ).otherwise(F.lit(0.0))


#: Gopher (arXiv:2112.11446 table A1) repetition gate: a document is
#: kept only if EVERY fraction is at or below its threshold.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
}


# ---------------------------------------------------------------------------
# Python signal engine (the default): exact-parity reimplementation of
# the expression forms below.  Tokenizer = Java \s (ASCII whitespace
# class) on lowercased text; trim = 0x20 only (Spark's trim); lines
# CRLF-normalized.  Any change here must keep the expr-twin test green.
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
_CR_RE = re.compile(r"\r\n?")
_PARA_RE = re.compile(r"\n{2,}")


def _py_dup_fracs(items: list[str]) -> tuple[float, float]:
    if not items:
        return 0.0, 0.0
    cnt = Counter(items)
    dup_n = 0
    total = 0
    dup_chars = 0
    for k, c in cnt.items():
        chars = len(k) * c
        total += chars
        if c > 1:
            dup_n += c
            dup_chars += chars
    return dup_n / len(items), (dup_chars / total) if total else 0.0


def _py_top_frac(toks: list[str], n: int, nsc: int) -> float:
    if len(toks) < n or nsc == 0:
        return 0.0
    cnt = Counter(tuple(toks[i : i + n]) for i in range(len(toks) - n + 1))
    m = max(cnt.values())
    # parity with the sorted-array fold: the winner is the lexically
    # smallest SPACE-JOINED gram among the max-count grams
    best = min(" ".join(g) for g, c in cnt.items() if c == m)
    return min(m * len(best.replace(" ", "")) / nsc, 1.0)


def _py_signals(text: str | None) -> tuple:
    """(n_toks, n_lines, n_paras, dup_line_frac, dup_line_char_frac,
    dup_para_frac, dup_para_char_frac, top2, top3, top4) — unrounded."""
    t = _CR_RE.sub("\n", text or "")
    lines = [s for s in (x.strip(" ") for x in t.split("\n")) if s]
    paras = [s for s in (x.strip(" ") for x in _PARA_RE.split(t)) if s]
    toks = [w for w in _WS_RE.split(t.lower()) if w]
    nsc = sum(len(w) for w in toks)
    dlf, dlcf = _py_dup_fracs(lines)
    dpf, dpcf = _py_dup_fracs(paras)
    return (
        len(toks),
        len(lines),
        len(paras),
        dlf,
        dlcf,
        dpf,
        dpcf,
        _py_top_frac(toks, 2, nsc),
        _py_top_frac(toks, 3, nsc),
        _py_top_frac(toks, 4, nsc),
    )


_PROFILE_SIG_SCHEMA = (
    "n_lines INT, n_paras INT, dup_line_frac DOUBLE, "
    "dup_line_char_frac DOUBLE, dup_para_frac DOUBLE, "
    "dup_para_char_frac DOUBLE, top_2gram_char_frac DOUBLE, "
    "top_3gram_char_frac DOUBLE, top_4gram_char_frac DOUBLE"
)


def _repetition_cols(text):
    """The seven Gopher signal expressions over a staged text column.

    Staged-projection discipline (the repo's standing expression
    pitfall): callers must pass a plain column REFERENCE (`F.col`),
    never an expensive expression — every signal re-references it."""
    from .textstats import ws_tokens

    lines = _split_lines(text)
    paras = _split_paragraphs(text)
    toks = ws_tokens(text)
    return lines, paras, toks


def repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "pandas",
) -> DataFrame:
    """Per-document Gopher repetition signals, one corpus scan.

    Returns ``(id, n_lines, n_paras, dup_line_frac, dup_line_char_frac,
    dup_para_frac, dup_para_char_frac, top_2gram_char_frac,
    top_3gram_char_frac, top_4gram_char_frac)``.  Complements
    textstats.text_profile's dup_word_frac / dup_2gram_frac (occurrence
    fractions) with the character-weighted line / paragraph / top-gram
    family Gopher actually gates on.

    ``engine='pandas'`` (default): one shuffle-free ``mapInPandas``
    map, C-speed Counter counting (measured 77k turns/s on the 1M-turn
    corpus at local[32]; the expression form was ~30× slower in-suite —
    see module docstring and BENCH.md r5).
    ``engine='expr'``: the pure-Catalyst array pipeline — the
    DuckDB-oracle anchor and equality twin; correct but interpreted
    (HOF lambdas don't codegen).  Both ride the input partitioning —
    no explode, no shuffle at any scale."""
    if engine == "pandas":
        import pandas as pd

        schema = (
            f"id {df.schema[id_col].dataType.simpleString()}, "
            + _PROFILE_SIG_SCHEMA
        )
        cols = [
            "n_lines", "n_paras", "dup_line_frac", "dup_line_char_frac",
            "dup_para_frac", "dup_para_char_frac", "top_2gram_char_frac",
            "top_3gram_char_frac", "top_4gram_char_frac",
        ]

        import numpy as np

        def _round6(series):
            # Spark's F.round on doubles is HALF_UP on the decimal
            # repr; pandas .round is banker's — a 7th-decimal tie
            # (e.g. 1/2,000,000) would break the expr-twin parity.
            # floor(x·1e6 + 0.5)/1e6 is HALF_UP for the non-negative
            # fractions these signals are.
            return np.floor(series.to_numpy(dtype=float) * 1e6 + 0.5) / 1e6

        def _prof(batches):
            for b in batches:
                sig = [_py_signals(t)[1:] for t in b[text_col]]
                out = pd.DataFrame(sig, columns=cols)
                for c in cols[2:]:
                    out[c] = _round6(out[c])
                out.insert(0, "id", b[id_col].values)
                yield out

        return df.select(id_col, text_col).mapInPandas(_prof, schema)
    if engine != "expr":
        raise ValueError(f"unknown engine: {engine!r}")
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.select(F.col(id_col).alias("id"), c.alias("_t"))
    lines, paras, toks = _repetition_cols(F.col("_t"))
    staged = staged.select(
        "id",
        F.array_sort(lines).alias("_sl"),
        F.array_sort(paras).alias("_sp"),
        toks.alias("_toks"),
    )
    # every gram order references _toks → stage it, then gram arrays
    staged = staged.select(
        "id",
        "_sl",
        "_sp",
        F.array_sort(_word_grams(F.col("_toks"), 2)).alias("_g2"),
        F.array_sort(_word_grams(F.col("_toks"), 3)).alias("_g3"),
        F.array_sort(_word_grams(F.col("_toks"), 4)).alias("_g4"),
        F.aggregate(
            F.col("_toks"), F.lit(0), lambda acc, x: acc + F.length(x)
        ).alias("_nsc"),
    )
    dl, dlc = _dup_fracs(F.col("_sl"))
    dp, dpc = _dup_fracs(F.col("_sp"))
    nsc = F.col("_nsc")
    return staged.select(
        "id",
        F.size("_sl").alias("n_lines"),
        F.size("_sp").alias("n_paras"),
        F.round(dl, 6).alias("dup_line_frac"),
        F.round(dlc, 6).alias("dup_line_char_frac"),
        F.round(dp, 6).alias("dup_para_frac"),
        F.round(dpc, 6).alias("dup_para_char_frac"),
        F.round(_top_gram_char_frac(F.col("_g2"), nsc), 6).alias(
            "top_2gram_char_frac"
        ),
        F.round(_top_gram_char_frac(F.col("_g3"), nsc), 6).alias(
            "top_3gram_char_frac"
        ),
        F.round(_top_gram_char_frac(F.col("_g4"), nsc), 6).alias(
            "top_4gram_char_frac"
        ),
    )


def repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
    min_tokens: int = 50,
    engine: str = "pandas",
) -> DataFrame:
    """Drop documents exceeding ANY Gopher repetition threshold.

    Join-free and shuffle-free in both engines.  ``engine='pandas'``
    (default) computes the signals in a ``mapInPandas`` pass-through
    that yields only the surviving rows — schema unchanged, any input
    column set.  ``engine='expr'`` builds the same gate as a Catalyst
    filter predicate — the equality twin; beware that predicate
    pushdown inlines the staged arrays into the predicate, so it is
    slow on wide corpora (module docstring).  Pass ``thresholds`` to
    override individual limits (unknown keys raise).

    The top-n-gram thresholds only apply to documents with at least
    ``min_tokens`` words (Gopher's 50-word floor): on a 12-word
    document a single 4-gram trivially covers >16% of the characters,
    so gating short docs on n-gram coverage deletes clean text — short
    docs face the line/paragraph duplicate gates only (and the corpus
    pipeline's own quality/min-token gates).  Pass ``min_tokens=0`` to
    gate everything.  Both engines gate on UNROUNDED signal values."""
    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown repetition thresholds: {sorted(unknown)}")
        th.update(thresholds)
    if engine == "pandas":
        t_dlf = th["dup_line_frac"]
        t_dlcf = th["dup_line_char_frac"]
        t_dpf = th["dup_para_frac"]
        t_dpcf = th["dup_para_char_frac"]
        t_g = (
            th["top_2gram_char_frac"],
            th["top_3gram_char_frac"],
            th["top_4gram_char_frac"],
        )

        def _keep(text) -> bool:
            n_toks, _nl, _np, dlf, dlcf, dpf, dpcf, g2, g3, g4 = _py_signals(
                text
            )
            if dlf > t_dlf or dlcf > t_dlcf or dpf > t_dpf or dpcf > t_dpcf:
                return False
            if n_toks >= min_tokens:
                for v, t in zip((g2, g3, g4), t_g):
                    if v > t:
                        return False
            return True

        def _gate(batches):
            for b in batches:
                yield b[[_keep(t) for t in b[text_col]]]

        return df.mapInPandas(_gate, df.schema)
    if engine != "expr":
        raise ValueError(f"unknown engine: {engine!r}")
    reserved = {"_rep_t", "_sl", "_sp", "_toks", "_g2", "_g3", "_g4", "_nsc"}
    clash = reserved & set(df.columns)
    if clash:
        # withColumn would silently OVERWRITE these and the final drop
        # would delete the user's data — refuse loudly (the pandas
        # engine has no staging columns and handles any schema)
        raise ValueError(
            f"engine='expr' stages columns that collide with input "
            f"columns {sorted(clash)}; rename them or use engine='pandas'"
        )
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumn("_rep_t", c)
    lines, paras, toks = _repetition_cols(F.col("_rep_t"))
    staged = (
        staged.withColumn("_sl", F.array_sort(lines))
        .withColumn("_sp", F.array_sort(paras))
        .withColumn("_toks", toks)
    )
    staged = (
        staged.withColumn("_g2", F.array_sort(_word_grams(F.col("_toks"), 2)))
        .withColumn("_g3", F.array_sort(_word_grams(F.col("_toks"), 3)))
        .withColumn("_g4", F.array_sort(_word_grams(F.col("_toks"), 4)))
        .withColumn(
            "_nsc",
            F.aggregate(F.col("_toks"), F.lit(0), lambda a, x: a + F.length(x)),
        )
    )
    dl, dlc = _dup_fracs(F.col("_sl"))
    dp, dpc = _dup_fracs(F.col("_sp"))
    nsc = F.col("_nsc")
    long_enough = F.size("_toks") >= min_tokens
    sig = {
        "dup_line_frac": (dl, False),
        "dup_line_char_frac": (dlc, False),
        "dup_para_frac": (dp, False),
        "dup_para_char_frac": (dpc, False),
        "top_2gram_char_frac": (_top_gram_char_frac(F.col("_g2"), nsc), True),
        "top_3gram_char_frac": (_top_gram_char_frac(F.col("_g3"), nsc), True),
        "top_4gram_char_frac": (_top_gram_char_frac(F.col("_g4"), nsc), True),
    }
    pred = F.lit(True)
    for name, (expr, gram_gate) in sig.items():
        ok = expr <= F.lit(th[name])
        if gram_gate:
            ok = ok | ~long_enough
        pred = pred & ok
    return staged.filter(pred).drop(
        "_rep_t", "_sl", "_sp", "_toks", "_g2", "_g3", "_g4", "_nsc"
    )


def dedup_lines(col, scope: str = "doc"):
    """Expression: text with repeated lines removed, first occurrence
    kept, original line order preserved.

    ``scope='doc'`` drops every later repeat anywhere in the document
    (`array_distinct` is order-preserving-first in Spark).
    ``scope='consecutive'`` collapses only runs of identical adjacent
    lines (generation-loop stutter) and leaves legitimate refrains
    alone.  Lines are compared after trim; blank lines are preserved
    verbatim in both scopes (layout, not content), and trailing
    whitespace differences do not defeat the match — the ORIGINAL line
    text is what survives.  NULL text stays NULL (pass a plain column
    reference, not an expensive expression — the null check references
    ``col`` a second time).

    Complexity note: ``scope='doc'`` is O(L²) in the LINE count per
    document (``array_position`` scans per line, interpreted HOF) —
    fine for turn/page-sized documents (the corpus path's shape); for
    10k-line documents prefer ``strip_boilerplate_lines``'s
    explode/groupBy shape or a mapInPandas pass.
    """
    raw = F.split(F.regexp_replace(col, "\r\n?", "\n"), "\n")
    trimmed = F.transform(raw, lambda x: F.trim(x))
    if scope == "doc":
        # keep raw[i] iff its trimmed form's FIRST index is i, or blank
        kept = F.filter(
            raw,
            lambda x, i: (F.trim(x) == "")
            | (F.array_position(trimmed, F.trim(x)) == i + 1),
        )
    elif scope == "consecutive":
        # when() guard: element_at index 0 raises — don't rely on |
        # short-circuiting
        kept = F.filter(
            raw,
            lambda x, i: (F.trim(x) == "")
            | F.when(
                i > 0, F.element_at(trimmed, i) != F.trim(x)
            ).otherwise(F.lit(True)),
        )
    else:
        raise ValueError(f"unknown dedup_lines scope: {scope!r}")
    # concat_ws ignores null args, so a NULL input would silently
    # become '' — preserve NULL explicitly
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat_ws("\n", kept)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 10,
    min_line_chars: int = 6,
) -> DataFrame:
    """Corpus-level boilerplate line removal (CCNet / C4 style): a line
    whose trimmed form appears in ≥ ``min_docs`` DISTINCT documents is
    navigation chrome / banner / footer — drop it from every document.

    Returns the input schema with ``text_col`` rewritten plus
    ``n_lines_dropped``.  Documents keep their row (possibly with empty
    text) so downstream joins never lose keys; line order is preserved
    exactly, and documents that lose NO line keep their original bytes
    verbatim (only rewritten documents are CRLF-normalized, the same
    untouched-pass-through contract as ``dedup_substrings``).  A
    NULL-id document cannot participate (the reassembly join cannot
    match it) and passes through untouched with ``n_lines_dropped=0``;
    ``id_col`` must be unique per row — duplicate ids would interleave
    the duplicate documents' lines into one merged text.

    Lines shorter than ``min_line_chars`` after trim never participate:
    "-", "1.", "" are common by virtue of being short, not boilerplate,
    and dropping them would shred lists.

    Scale shape (the reason this is not an array expression): the
    occurrence count is corpus-global.  Plan = posexplode → two-phase
    hash aggregate on md5(line) (partial map-side combine, uniform
    keys, no skew) → the boilerplate key set is filtered BEFORE the
    join so only true boilerplate hashes flow into the anti-join →
    groupBy(id) reassembly.  Three shuffles total, all on uniform keys;
    nothing is collected to the driver.
    """
    base = df.select(
        F.col(id_col).alias("_bid"),
        F.posexplode(
            F.split(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), "\r\n?", "\n"), "\n")
        ).alias("_pos", "_line"),
    )
    base = base.withColumn("_t", F.trim("_line")).withColumn(
        "_key",
        F.when(F.length("_t") >= min_line_chars, F.md5(F.col("_t"))),
    )
    boiler = (
        base.filter(F.col("_key").isNotNull())
        .groupBy("_key")
        .agg(F.count_distinct("_bid").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_key")
    )
    marked = base.join(boiler.withColumn("_drop", F.lit(True)), "_key", "left")
    rebuilt = marked.groupBy("_bid").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_drop").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("_new_text"),
        F.sum(F.when(F.col("_drop").isNotNull(), 1).otherwise(0)).alias(
            "n_lines_dropped"
        ),
    )
    out = df.join(
        rebuilt.withColumnRenamed("_bid", id_col), id_col, "left"
    )
    # untouched docs (zero lines dropped, or join-miss on a NULL id)
    # keep their ORIGINAL bytes — only rewritten docs get the
    # CRLF-normalized reassembly
    dropped = F.coalesce(F.col("n_lines_dropped"), F.lit(0))
    return out.withColumn(
        "n_lines_dropped", dropped
    ).withColumn(
        text_col,
        F.when(F.col("n_lines_dropped") > 0, F.col("_new_text")).otherwise(
            F.col(text_col)
        ),
    ).drop("_new_text")
