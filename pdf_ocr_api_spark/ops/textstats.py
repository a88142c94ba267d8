"""Text analysis operators: language-ID, quality scoring, token counting,
PII scrubbing — all JVM-side expressions (no UDFs), suitable for
a 100 TB corpus sweep (single scan, map-side only until the final agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_text

# stopword banks for the n-gram/stopword langid heuristic, as word lists
# (LANG_MARKERS derives the per-lang regexes; the sweep form fuses all
# banks into ONE extract pass + per-lang membership counts). Markers are
# matched on the accent-folded ASCII basis (_marker_basis), so every
# word here must be pure ASCII — 'não'→'nao', Polish 'się' is NOT usable
# (ę is outside the fold table) and the pl bank sticks to ASCII words.
# Declaration order is the tie-break: new languages append at the END so
# ties resolve exactly as before the r3 widening.
LANG_WORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in"],
    "es": ["el", "la", "los", "las", "de", "que", "y"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "des", "et", "est"],
    "pt": ["o", "a", "os", "as", "de", "que", "nao", "uma"],
    "it": ["il", "gli", "di", "che", "della", "sono", "anche"],
    "nl": ["het", "een", "van", "niet", "zijn", "maar"],
    "pl": ["jest", "nie", "przez", "oraz", "czy", "dla", "jak"],
    # r4 widening: da/sv chosen mutually disjoint (the classic confusion
    # pair) — da 'ikke/hvad/hvor/af/til' vs sv 'inte/vad/och/av/till';
    # å/ø words are unusable (outside the fold table) and 'är'→'ar' /
    # 'men'/'som' are avoided (cross-language token collisions)
    "da": ["ikke", "og", "jeg", "hvad", "hvor", "af", "til"],
    "sv": ["inte", "och", "jag", "vad", "att", "av", "till"],
}
LANG_MARKERS: dict[str, str] = {
    lang: r"\b(" + "|".join(words) + r")\b" for lang, words in LANG_WORDS.items()
}
# one alternation over every distinct marker word: \b-bounded single-word
# alternatives can only match a WHOLE token, so at any position at most
# one alternative fits and the combined extract's hits distribute exactly
# into the per-language counts (asserted fused == per-lang in tests)
_ALL_MARKER_WORDS: list[str] = list(dict.fromkeys(w for ws in LANG_WORDS.values() for w in ws))
COMBINED_MARKER_RX: str = r"\b(" + "|".join(_ALL_MARKER_WORDS) + r")\b"

_PUNCT = r"[.,;:!?…]"
_STOPWORDS_PT_EN = r"\b(the|and|of|o|a|de|que|e|do|da)\b"


def tokens(col):
    return F.split(normalized_text(col), " ")


def ws_tokens(col, lower: bool = True):
    """THE repo-convention whitespace tokenizer (Java ``\\s`` = the
    ASCII class ``[ \\t\\n\\x0b\\f\\r]``): NULL-safe, empties filtered,
    lowercased by default.  ``lower=False`` for case-exact operators
    (substring dedup).  ops/lm, ops/classify, ops/domains,
    ops/repetition and ops/substrings all build their token streams on
    this ONE expression — a tokenization change lands everywhere at
    once instead of silently diverging per module (r5 review finding)."""
    base = F.coalesce(col, F.lit(""))
    if lower:
        base = F.lower(base)
    return F.filter(F.split(base, r"\s+"), lambda x: x != "")


def token_count(col):
    """Whitespace token count (0 for empty AND null — a null-text row
    must not leak size()'s -1/null through a quality metric)."""
    n = normalized_text(F.coalesce(col, F.lit("")))
    return F.when(n == "", 0).otherwise(F.size(F.split(n, " ")))


def bpe_ish_token_count(col):
    """A BPE-ish proxy: alnum runs + punctuation marks each count as one
    token (regexp-driven, stays in codegen). Null-safe like token_count —
    size() of a null array is -1 (or null under ANSI) and must not leak
    into token metrics."""
    return F.size(
        F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(r"[A-Za-zÀ-ÿ0-9]+|[^A-Za-zÀ-ÿ0-9\s]"), 0)
    )


_ACC_SRC = "áàâãäéèêëíìîïóòôõöúùûüçñ"
_ACC_DST = "aaaaaeeeeiiiiooooouuuucn"


def _marker_basis(col):
    """lower + accent-fold: with only ASCII left, Java's Unicode-aware
    \b and RE2's ASCII \b agree — markers like 'não' fold to 'nao'
    and match identically in the Spark expr and the DuckDB oracle."""
    return F.translate(F.lower(F.coalesce(col, F.lit(""))), _ACC_SRC, _ACC_DST)


def _lang_id_from_scores(scores: list[tuple[str, "F.Column"]]):
    """argmax with LANG_MARKERS-order tie-break, built so each score
    expression appears at most TWICE (in greatest() and in one equality).

    The naive accumulator chain (best = when(s > best, s).otherwise(best))
    nests every previous score inside the next step: Spark does not CSE
    across conditional branches, so s_1 is evaluated O(2^n) times per row
    — measured as the dominant cost of a 1M-turn corpus sweep."""
    best = F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    pick = F.lit(None).cast("string")
    for lang, s in reversed(scores):
        pick = F.when(s == best, F.lit(lang)).otherwise(pick)
    return F.when(best > 0, pick).otherwise(F.lit("und"))


def lang_id(col):
    """argmax over marker scores; 'und' when all zero. Deterministic
    tie-break = LANG_MARKERS declaration order."""
    scores = [
        (lang, F.size(F.regexp_extract_all(_marker_basis(col), F.lit(rx), 0)))
        for lang, rx in LANG_MARKERS.items()
    ]
    return _lang_id_from_scores(scores)


SCRIPT_RANGES: dict[str, str] = {
    # Unicode block character classes — counted, not \b-matched, so the
    # expressions are engine-portable (Java and RE2 agree on explicit
    # range classes; they do NOT agree on \b around non-ASCII, which is
    # why the WORD-marker lang banks stay Latin-only and non-Latin
    # corpora route through script_id first). The latin range skips
    # U+00D7/U+00F7 (×/÷ — math signs inside Latin-1, not letters).
    "latin": r"A-Za-zÀ-ÖØ-öø-ɏ",
    "cyrillic": r"Ѐ-ӿ",
    "greek": r"Ͱ-Ͽ",
    "arabic": r"؀-ۿ",
    "devanagari": r"ऀ-ॿ",
    "cjk": r"一-鿿぀-ヿ가-힯",
}


def _script_count_exprs(col) -> list:
    """(name, count) per script — counted by LENGTH DELTA (strip the
    class, subtract), not regexp_extract_all: extracting materializes a
    per-character array of 1-char strings per row per script (×6), pure
    waste on a corpus sweep when only the count is needed."""
    base = F.coalesce(col, F.lit(""))
    return [
        (s, F.length(base) - F.length(F.regexp_replace(base, f"[{rng}]", "")))
        for s, rng in SCRIPT_RANGES.items()
    ]


def script_id(col):
    """Dominant writing system of a text ('und' when no scripted chars):
    argmax of per-script character counts, SCRIPT_RANGES declaration
    order as the tie-break — the routing stage a multilingual 100 TB
    pipeline runs BEFORE word-marker language-ID (the Latin banks are
    meaningless on Cyrillic/CJK text, and non-Latin word markers cannot
    be \\b-matched portably across engines)."""
    return _lang_id_from_scores(_script_count_exprs(col))


def with_script_id(df: DataFrame, text_col: str, out: str = "script") -> DataFrame:
    """Sweep form of ``script_id``: the per-script counts are staged as
    columns (each computed once per row — the argmax references them
    twice, and unstaged expressions would re-run every regex per
    reference; the CSE trap documented on ``_lang_id_from_scores``)."""
    staged = df.select(
        "*",
        *[c.alias(f"_sc_{s}") for s, c in _script_count_exprs(F.col(text_col))],
    )
    pick = _lang_id_from_scores([(s, F.col(f"_sc_{s}")) for s in SCRIPT_RANGES])
    return staged.withColumn(out, pick).drop(*[f"_sc_{s}" for s in SCRIPT_RANGES])


def with_lang_id(
    df: DataFrame, text_col: str, out: str = "lang", script_route: bool = False
) -> DataFrame:
    """Corpus-sweep form of lang_id: ONE combined regex pass over the
    accent-folded basis extracts every marker hit; per-language scores
    are membership counts over that (short) hit array — the text is
    traversed once regardless of how many language banks exist, where
    the per-lang form pays one full regex pass per language (10 passes
    after the r3/r4 widenings). Equivalence with ``lang_id``'s per-lang
    counts is structural (a \\b-bounded single-word alternative matches
    only whole tokens, so hits distribute exactly) and asserted in
    tests. Hit arrays and scores are STAGED as columns so each is
    computed once per row regardless of how the argmax references them.

    ``script_route`` (r5 — the wiring the routing stage was built for):
    compute the dominant script alongside the banks; rows whose script
    is latin (or 'und' — no scripted chars at all) keep the word-bank
    pick exactly as before, rows dominated by a non-Latin script get
    the tag ``und-<script>`` ('und-cjk', 'und-cyrillic', …) — a
    Cyrillic/CJK corpus is gated sanely instead of scored by
    meaningless Latin markers (non-Latin word markers cannot be
    \\b-matched portably, see SCRIPT_RANGES). The script and bank picks
    are computed as INDEPENDENT column pipelines and combined by a
    shallow final ``when`` — gating the marker regex per-row behind the
    script pick looks cheaper but nests the whole script expression
    inside ``_lh``, which CollapseProject then inlines into every one
    of the 10 score columns: measured as a Java-heap OOM in
    ``freshCopyIfContainsStatefulExpression`` (the repo's standing
    expression-CSE pitfall). Identical to the unrouted form on any
    latin/'und'-script row."""
    if script_route:
        df = with_script_id(df, text_col, out="_script")
    staged = df.withColumn(
        "_lh",
        F.regexp_extract_all(_marker_basis(F.col(text_col)), F.lit(COMBINED_MARKER_RX), 0),
    )
    score_cols = [
        F.size(F.filter(F.col("_lh"), lambda w: w.isin(*LANG_WORDS[lang]))).alias(f"_s_{lang}")
        for lang in LANG_WORDS
    ]
    staged = staged.select("*", *score_cols)
    pick = _lang_id_from_scores([(lang, F.col(f"_s_{lang}")) for lang in LANG_MARKERS])
    drop = ["_lh", *[f"_s_{lang}" for lang in LANG_MARKERS]]
    if script_route:
        pick = F.when(F.col("_script").isin("latin", "und"), pick).otherwise(
            F.concat_ws("-", F.lit("und"), F.col("_script"))
        )
        drop.append("_script")
    return staged.withColumn(out, pick).drop(*drop)


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword / digit ratios + a composite
    quality score in [0,1].

    Two-stage projection: the five expensive counts (regex extracts over
    the raw/normalized/accent-folded text) are STAGED as columns, and the
    ratios/score reference only those integer columns — each regex runs
    once per row (the nested single-expression form re-evaluated counts
    inside every when() branch; Spark does not CSE across branches)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.select(
        F.col(id_col).alias("id"),
        c.alias("_t"),
        normalized_text(c).alias("_n"),
        _marker_basis(c).alias("_b"),
    )
    counts = staged.select(
        "id",
        F.length("_t").alias("n_chars"),
        F.when(F.col("_n") == "", 0).otherwise(F.size(F.split("_n", " "))).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("_t"), F.lit(_PUNCT), 0)).alias("n_punct"),
        F.size(F.regexp_extract_all(F.col("_b"), F.lit(_STOPWORDS_PT_EN), 0)).alias("n_stop"),
        F.size(F.regexp_extract_all(F.col("_t"), F.lit(r"\d"), 0)).alias("n_digit"),
    )

    n_chars, n_tokens = F.col("n_chars"), F.col("n_tokens")
    n_punct, n_stop, n_digit = F.col("n_punct"), F.col("n_stop"), F.col("n_digit")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))

    # boilerpipe-flavored composite: long enough, words not too long,
    # some stopwords, not digit/punct soup
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), 0.2).otherwise(0.0)
        + F.least(stop_ratio * 2, F.lit(0.2))
        + F.when(punct_ratio <= 0.1, 0.1).otherwise(0.0)
        + F.when(digit_ratio <= 0.3, 0.1).otherwise(0.0)
    )

    return counts.select(
        "id",
        "n_chars",
        "n_tokens",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def with_quality(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus-sweep form of quality_features: appends ``n_tokens`` and
    ``quality_score`` to the input frame WITHOUT a self-join (the
    id-keyed quality_features would shuffle the corpus against its own
    aggregate). Same staged-counts structure — each regex once per row."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.select(
        "*",
        c.alias("_qt"),
        normalized_text(c).alias("_qn"),
        _marker_basis(c).alias("_qb"),
    )
    counts = staged.select(
        "*",
        F.length("_qt").alias("_q_chars"),
        F.when(F.col("_qn") == "", 0).otherwise(F.size(F.split("_qn", " "))).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("_qt"), F.lit(_PUNCT), 0)).alias("_q_punct"),
        F.size(F.regexp_extract_all(F.col("_qb"), F.lit(_STOPWORDS_PT_EN), 0)).alias("_q_stop"),
        F.size(F.regexp_extract_all(F.col("_qt"), F.lit(r"\d"), 0)).alias("_q_digit"),
    )
    n_chars, n_tokens = F.col("_q_chars"), F.col("n_tokens")
    punct_ratio = F.when(n_chars > 0, F.col("_q_punct") / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, F.col("_q_stop") / n_tokens).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, F.col("_q_digit") / n_chars).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), 0.2).otherwise(0.0)
        + F.least(stop_ratio * 2, F.lit(0.2))
        + F.when(punct_ratio <= 0.1, 0.1).otherwise(0.0)
        + F.when(digit_ratio <= 0.3, 0.1).otherwise(0.0)
    )
    return counts.withColumn("quality_score", F.round(score, 6)).drop(
        "_qt", "_qn", "_qb", "_q_chars", "_q_punct", "_q_stop", "_q_digit"
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document text profile: the quality_features columns
    + both token counts + Gopher-style repetition signals
    (``dup_word_frac``, ``dup_2gram_frac`` — the fraction of word /
    word-2-gram occurrences that are repeats; rep-heavy boilerplate and
    generation loops score high). ONE corpus scan, no joins — the r5
    consolidation of the separate quality/tokens sweeps.

    Same staged-projection discipline as quality_features: the token
    array and 2-gram array are STAGED as columns so each split/regex
    runs once per row no matter how many outputs reference it (Spark
    does not CSE across when() branches — the repo's standing
    expression pitfall)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.select(
        F.col(id_col).alias("id"),
        c.alias("_t"),
        normalized_text(c).alias("_n"),
        _marker_basis(c).alias("_b"),
    )
    # empty normalized text → genuinely zero tokens (split('') is [''])
    toks = F.when(
        F.col("_n") == "", F.array().cast("array<string>")
    ).otherwise(F.split("_n", " "))
    staged = staged.select("id", "_t", "_b", toks.alias("_toks"))
    g2 = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = staged.select(
        "id",
        F.length("_t").alias("n_chars"),
        F.size("_toks").alias("n_tokens"),
        F.size(
            F.regexp_extract_all(F.col("_t"), F.lit(r"[A-Za-zÀ-ÿ0-9]+|[^A-Za-zÀ-ÿ0-9\s]"), 0)
        ).alias("bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("_t"), F.lit(_PUNCT), 0)).alias("n_punct"),
        F.size(F.regexp_extract_all(F.col("_b"), F.lit(_STOPWORDS_PT_EN), 0)).alias("n_stop"),
        F.size(F.regexp_extract_all(F.col("_t"), F.lit(r"\d"), 0)).alias("n_digit"),
        F.size(F.array_distinct("_toks")).alias("_uniq_w"),
        F.size(g2).alias("_n_g2"),
        F.size(F.array_distinct(g2)).alias("_uniq_g2"),
    )
    n_chars, n_tokens = F.col("n_chars"), F.col("n_tokens")
    n_punct, n_stop, n_digit = F.col("n_punct"), F.col("n_stop"), F.col("n_digit")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))
    dup_word_frac = F.when(
        n_tokens > 0, 1 - F.col("_uniq_w") / n_tokens
    ).otherwise(F.lit(0.0))
    dup_2gram_frac = F.when(
        F.col("_n_g2") > 0, 1 - F.col("_uniq_g2") / F.col("_n_g2")
    ).otherwise(F.lit(0.0))
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), 0.2).otherwise(0.0)
        + F.least(stop_ratio * 2, F.lit(0.2))
        + F.when(punct_ratio <= 0.1, 0.1).otherwise(0.0)
        + F.when(digit_ratio <= 0.3, 0.1).otherwise(0.0)
    )
    return counts.select(
        "id",
        "n_chars",
        "n_tokens",
        "bpe_tokens",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(dup_word_frac, 6).alias("dup_word_frac"),
        F.round(dup_2gram_frac, 6).alias("dup_2gram_frac"),
        F.round(score, 6).alias("quality_score"),
    )


# PII redaction patterns — ordered MOST-specific first: an email's
# digits must not be half-eaten by the phone pattern, a card number
# must win over two phone-shaped halves. Java-regex lookarounds keep
# digit runs inside longer numbers (invoice ids) unredacted. Phone
# shape is the reference corpus' domain (Brazilian municipal
# documents): +CC / (DD) prefixes with 4-5+4 digit bodies.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cpf", r"(?<!\d)\d{3}\.\d{3}\.\d{3}-\d{2}(?!\d)", "<CPF>"),
    ("card", r"(?<![\d-])\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}(?![\d-])", "<CARD>"),
    ("ipv4", r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])", "<IP>"),
    (
        "phone",
        r"(?<![\d-])(?:\+\d{1,3}[ .-]?)?(?:\(\d{2,3}\)[ .-]?|\b\d{2,3}[ .-])?\d{4,5}[ .-]\d{4}(?![\d-])",
        "<PHONE>",
    ),
]


def scrub_pii(col):
    """Redact PII spans (emails, CPF, card numbers, IPv4, phone shapes)
    with typed placeholder tags — pure chained regexp_replace, stays in
    whole-stage codegen. The standard pre-training hygiene pass; chain
    order is load-bearing (see PII_PATTERNS)."""
    out = F.coalesce(col, F.lit(""))
    for _name, rx, tag in PII_PATTERNS:
        out = F.regexp_replace(out, rx, tag)
    return out


def md5_fingerprint(col):
    """Exact content fingerprint over normalized text."""
    return F.md5(normalized_text(col))
