"""Exact substring deduplication (Lee et al. 2021, arXiv:2107.06499).

Document-level dedup (ops/dedup.py) removes whole near-identical
documents; this operator removes *duplicated passages* — a license
block, a quoted article, a templated disclaimer — that repeat inside
otherwise-distinct documents.  The paper's property: every duplicated
token span of at least ``width`` tokens loses all but one occurrence
corpus-wide.

The paper builds a corpus suffix array; that is a single-machine
construction.  The distributed re-expression used here is the standard
windowed form: every duplicated span of ≥ ``width`` tokens contains,
at every alignment, a duplicated ``width``-token window — so stride-1
window fingerprints + window-level keep-one removal remove exactly the
duplicated-span occurrences (up to window-boundary slack at span edges,
< ``width`` tokens, documented below).  Spans shorter than ``width``
survive by design — ``width`` IS the paper's minimum match length
(their default: 50 tokens).

Plan shape (all keys uniform by construction — no skew surface):

1. tokenize + TWO independently-seeded per-token ``xxhash64`` streams
   JVM-side, then ONE vectorized numpy pass per Arrow batch computes
   stride-1 polynomial rolling hashes over each token-hash array —
   O(tokens), uint64 ring math (odd multiplier is invertible mod
   2^64) → a true 128-bit fingerprint: a false window match needs
   simultaneous collisions in two independent 64-bit token-hash
   streams (seeding matters — two rings over ONE token-hash stream
   would share every token-level collision);
2. ONE shuffle on the fingerprint: occurrence count and the canonical
   keeper ``min (id, pos)`` are WINDOW aggregates over
   ``partitionBy(h1, h2)``, so the token-scale window table streams
   through exactly once — never cached, never consumed twice (the
   bake-off vs the groupBy+join-back and cached forms is in BENCH.md);
3. non-keeper occurrences of ≥ ``min_count`` fingerprints regroup per
   document (small by construction — only true repeats);
4. per-document rebuild: numpy interval marking (+1/-1 diff array,
   cumsum > 0 = covered token) drops covered tokens; ONLY affected
   documents are rewritten (untouched documents keep their original
   bytes — rebuilds are whitespace-normalized, documented).

Nothing is collected to the driver; the duplicated-fingerprint set is
filtered BEFORE the join-back, so only true repeats flow through
stages 3-4.

Matching is case- and whitespace-token-exact (Java ``\\s`` ASCII
tokenizer): exact substring dedup means exact.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stage import materialize, one_wave

# Python twin of the JVM tokenizer (Java \s = ASCII whitespace class):
# the rebuild MUST tokenize exactly like window_fingerprints did, or
# cut positions drift
_WS_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")

__all__ = [
    "window_fingerprints",
    "dedup_substrings",
    "substring_index",
    "stamped_index",
    "merged_index",
    "dedup_substrings_incremental",
]

# two independent odd multipliers (random 64-bit, fixed for
# reproducibility across runs and stores)
_A1 = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
_A2 = np.uint64(0xC2B2AE3D27D4EB4F)  # xxhash64 prime_2 (odd)

#: Fingerprint-family version, stamped into persisted substring indexes
#: (see runner --dedup-substrings).  Bump whenever (h1, h2) values for
#: the same corpus change.  v2 (r6): token hashes moved from the JVM
#: ``transform(split, xxhash64)`` projection (higher-order functions are
#: NOT whole-stage-codegen'd — 2 × tokens interpreted expression evals
#: measured as 112 core-seconds cold on the 58k-doc bench table) into
#: the fingerprint Python stage: tokens are factorized per Arrow batch
#: and only DISTINCT tokens are hashed, with stdlib blake2b keyed per
#: stream (two independent functions, like the two xxhash64 seeds
#: before).  Dedup RESULTS are unchanged — grouping is by fingerprint
#: equality and the keeper is min (id, pos), both invariant under a
#: collision-free hash-family swap — but a persisted index written by
#: one family cannot be probed with the other.
FP_VERSION = 2

# blake2b personalization strings for the two independent token-hash
# streams (the two-ring design needs token-level independence: a
# collision in stream 1 must not imply one in stream 2)
_FP_PERSON1 = b"pdfocr-substr-1"
_FP_PERSON2 = b"pdfocr-substr-2"


def _hash_tokens(uniq: np.ndarray, person: bytes) -> np.ndarray:
    """uint64 hash per distinct token — stdlib blake2b (keyed by
    ``person``), little-endian first 8 digest bytes.  Called on the
    FACTORIZED distinct tokens only, so the per-call Python cost is paid
    per distinct token per batch, not per occurrence."""
    from hashlib import blake2b

    return np.fromiter(
        (
            int.from_bytes(
                blake2b(u.encode("utf-8"), digest_size=8, person=person).digest(),
                "little",
            )
            for u in uniq
        ),
        dtype=np.uint64,
        count=len(uniq),
    )


def _rolling(th: np.ndarray, width: int, a: np.uint64) -> np.ndarray:
    """Stride-1 polynomial window hashes H(i) = Σ_j th[i+j]·a^(W-1-j)
    over the uint64 ring, O(T) via prefix sums with the modular inverse
    of ``a`` (odd → invertible mod 2^64).  numpy uint64 arithmetic
    wraps silently, which here is exactly the ring semantics wanted.

    Per-document scalar form — kept as the equivalence twin for
    ``_batch_rolling`` (the r6 whole-batch vectorization; asserted
    byte-equal in tests)."""
    t = len(th)
    n = t - width + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    ainv = np.uint64(pow(int(a), -1, 1 << 64))
    with np.errstate(over="ignore"):
        # a^1..a^t and ainv^0..ainv^(t-1)
        apow = np.multiply.accumulate(np.full(t, a, dtype=np.uint64))
        ainvp = np.empty(t, dtype=np.uint64)
        ainvp[0] = np.uint64(1)
        if t > 1:
            ainvp[1:] = np.multiply.accumulate(
                np.full(t - 1, ainv, dtype=np.uint64)
            )
        # Q[k] = Σ_{j<k} th[j]·ainv^j ; H(i) = (Q[i+W]-Q[i])·a^(i+W-1)
        q = np.zeros(t + 1, dtype=np.uint64)
        np.add.accumulate(th * ainvp, out=q[1:])
        return (q[width:] - q[:-width]) * apow[width - 1 :]


# per-multiplier (apow, ainvp) power tables, grown geometrically and
# kept in a module-level cache: the tables depend only on the multiplier
# and the longest document seen, so a reused Python worker
# (spark.python.worker.reuse, default on) pays the build once per task
# at most — the r5 form rebuilt both arrays PER ROW (guide §4.5:
# heavyweight init once per task, not per row)
_POW_CACHE: dict = {}


def _powers(a: np.uint64, t: int):
    """apow[i] = a^(i+1), ainvp[i] = ainv^i for i < max(t, 1024)."""
    key = int(a)
    cur = _POW_CACHE.get(key)
    if cur is None or len(cur[0]) < t:
        n = max(t, 1024)
        if cur is not None:
            n = max(n, 2 * len(cur[0]))
        ainv = np.uint64(pow(key, -1, 1 << 64))
        with np.errstate(over="ignore"):
            apow = np.multiply.accumulate(np.full(n, a, dtype=np.uint64))
            ainvp = np.empty(n, dtype=np.uint64)
            ainvp[0] = np.uint64(1)
            ainvp[1:] = np.multiply.accumulate(
                np.full(n - 1, ainv, dtype=np.uint64)
            )
        cur = (apow, ainvp)
        _POW_CACHE[key] = cur
    return cur


def _batch_rolling(
    flat: np.ndarray,
    lens: np.ndarray,
    pos_in_doc: np.ndarray,
    width: int,
    a: np.uint64,
):
    """``_rolling`` over EVERY document of a batch in one vectorized
    pass: ``flat`` is the concatenation of all token-hash arrays,
    ``pos_in_doc`` each token's 0-based index within its document.

    Same prefix-sum identity as ``_rolling`` — the per-document
    exclusive prefixes all live inside ONE global cumsum because the
    base terms cancel in Q[i+W]−Q[i] (both prefixes share the same
    document start, and uint64 wraparound subtraction is exact ring
    arithmetic).  Returns (hashes, global_window_start_idx,
    pos_within_doc) for every valid window."""
    apow, ainvp = _powers(a, int(lens.max()) if len(lens) else 1)
    with np.errstate(over="ignore"):
        q = np.add.accumulate(flat * ainvp[pos_in_doc])  # inclusive prefix
        valid = pos_in_doc + width <= np.repeat(lens, lens)
        g = np.flatnonzero(valid)
        i = pos_in_doc[g]
        hi = q[g + width - 1]
        lo = np.zeros(len(g), dtype=np.uint64)
        nz = g > 0
        lo[nz] = q[g[nz] - 1]
        return (hi - lo) * apow[i + width - 1], g, i


def window_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", width: int = 50
) -> DataFrame:
    """(id, pos, h1, h2): the 128-bit fingerprint of every stride-1
    ``width``-token window of every document.  ``pos`` is the 0-based
    token index of the window start.  Documents shorter than ``width``
    tokens emit no rows (they cannot contain a ≥width dup span)."""
    if width < 2:
        raise ValueError("width must be ≥ 2")
    # the two rings consume INDEPENDENTLY-keyed per-token hashes — if
    # both rolled the same 64-bit token hash, a single token-level
    # collision (a few-percent birthday event among 10^9+ distinct
    # tokens) would defeat both rings at once and delete a
    # never-duplicated span; with separate keys a false window match
    # needs simultaneous collisions in two independent 64-bit streams.
    # Tokenize + hash happen INSIDE the Python stage (r6, FP_VERSION 2):
    # the former JVM ``transform(split, xxhash64)`` projection ran
    # per-element in interpreted mode (HOFs are outside whole-stage
    # codegen) and dominated the operator cold — 112 core-seconds on the
    # 58k-doc bench stage, vs ~25 for this form.  ``_WS_SPLIT`` is the
    # exact Java-\s twin the rebuild already uses, and factorize +
    # per-DISTINCT-token blake2b keeps the Python hash cost at
    # distinct-vocabulary scale per batch (guide §4.2/§4.5).
    toks = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )
    toks = one_wave(toks)

    def _fp(batches):
        for b in batches:
            n_rows = len(b)
            tok_lists = [
                [w for w in _WS_SPLIT.split(t) if w] for t in b["_t"]
            ]
            lens = np.fromiter(
                (len(x) for x in tok_lists), dtype=np.int64, count=n_rows
            )
            if n_rows == 0 or not (lens >= width).any():
                yield pd.DataFrame(
                    {
                        "id": pd.Series(dtype=object),
                        "pos": pd.Series(dtype=np.int64),
                        "h1": pd.Series(dtype=np.int64),
                        "h2": pd.Series(dtype=np.int64),
                    }
                )
                continue
            total = int(lens.sum())
            flat_tok = np.empty(total, dtype=object)
            at = 0
            for x in tok_lists:
                flat_tok[at : at + len(x)] = x
                at += len(x)
            codes, uniq = pd.factorize(flat_tok, use_na_sentinel=False)
            flat1 = _hash_tokens(uniq, _FP_PERSON1)[codes]
            flat2 = _hash_tokens(uniq, _FP_PERSON2)[codes]
            starts = np.zeros(n_rows, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            pos_in_doc = np.arange(total, dtype=np.int64) - np.repeat(
                starts, lens
            )
            h1, _, pos = _batch_rolling(flat1, lens, pos_in_doc, width, _A1)
            h2, _, _ = _batch_rolling(flat2, lens, pos_in_doc, width, _A2)
            n_win = np.maximum(lens - width + 1, 0)
            yield pd.DataFrame(
                {
                    "id": np.repeat(b["id"].to_numpy(), n_win),
                    "pos": pos,
                    "h1": h1.view(np.int64),
                    "h2": h2.view(np.int64),
                }
            )

    id_t = df.schema[id_col].dataType.simpleString()
    return toks.mapInPandas(
        _fp, f"id {id_t}, pos LONG, h1 LONG, h2 LONG"
    )


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Remove all-but-one occurrence of every duplicated ≥``width``-token
    span, corpus-wide.  Returns the input schema with ``text_col``
    rewritten plus ``n_tokens_removed``.

    The kept occurrence is deterministic and layout-independent: the
    minimum ``(id, pos)`` per window fingerprint.  ``id_col`` must be
    unique per row (duplicate ids would merge the duplicates' cut
    lists and apply them to every copy).  Every document keeps its row
    (a fully-duplicated non-keeper document becomes empty text).  Documents with nothing to remove keep their ORIGINAL bytes;
    rewritten documents are re-joined with single spaces
    (whitespace-token-normalized — the same contract as the paper's
    token-level operation).

    ``min_count`` raises the removal bar (e.g. 10 → only spans
    occurring ten-plus times are cut — the 'memorization risk' setting).

    Shape note (measured on the 1M-turn corpus, BENCH.md r5): the
    naive groupBy-then-join-back form consumes the token-scale window
    table TWICE — either the fingerprint pass re-executes (143 s) or
    the table must be cached (81.6M deserialized rows GC-thrashed a
    16g JVM to 281 s).  The occurrence count and the min-(id,pos)
    keeper are instead computed as window aggregates over
    ``partitionBy(h1, h2)``: ONE shuffle, the window table streams
    through exactly once, nothing is cached.  (The r6 groupBy+
    collect_list+explode re-expression was bench-marked against this
    window form and lost — 2.7 s vs 2.4 s warm — the hash-aggregate's
    per-group buffers cost more than the long-key sort.)

    Boundary slack: removal is the union of duplicated windows, so a
    duplicated span's first/last partial-window tokens (< ``width``)
    at the edges of a LONGER non-duplicated context are kept — the
    paper's suffix-array form has the same ±1-token edge convention.
    """
    wins = window_fingerprints(df, text_col, id_col, width)
    remove = _remove_table(wins, min_count)
    return _apply_cuts(df, remove, text_col, id_col, width)


def _remove_table(wins: DataFrame, min_count: int) -> DataFrame:
    """Per-doc sorted cut positions ``(id, _cut_pos)`` from the window
    table: ONE window-aggregate shuffle over ``partitionBy(h1, h2)``
    (count + min-(id,pos) keeper), filter to non-keeper occurrences of
    ≥``min_count`` fingerprints, regroup per document."""
    from pyspark.sql import Window

    w = Window.partitionBy("h1", "h2")
    return (
        wins.withColumn("_c", F.count("*").over(w))
        .withColumn("_k", F.min(F.struct("id", "pos")).over(w))
        .filter(
            (F.col("_c") >= min_count)
            & (
                (F.col("id") != F.col("_k.id"))
                | (F.col("pos") != F.col("_k.pos"))
            )
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_cut_pos"))
    )


def _apply_cuts(
    df: DataFrame,
    remove: DataFrame,
    text_col: str,
    id_col: str,
    width: int,
) -> DataFrame:
    """Join per-doc sorted cut positions (``remove``: (id, _cut_pos))
    back to the corpus and rebuild affected documents: numpy interval
    marking (+1/-1 diff, cumsum>0 = covered token) drops covered
    tokens; untouched docs pass through with their original bytes.

    r6 shape: only AFFECTED documents cross the Python boundary.  The
    r5 form shipped the ENTIRE corpus through the rebuild mapInPandas
    just to pass untouched rows back out — at 85-95 % untouched rows
    that Arrow round-trip (full text, both directions) was the single
    largest cost of the operator (measured: 3.3 s → 1.2 s warm on the
    58k-doc bench table; guide §4.1 — the Python boundary is paid per
    byte crossing it).  Untouched rows now take a pure-JVM anti-join
    branch.  The cut table is materialized once (``stage.materialize``)
    because both branches consume it and Catalyst has no cross-branch
    subplan sharing: without the cut the token-scale fingerprint
    pipeline would execute twice.  The cut table is affected-doc-scale
    (only true repeats) — cheap to pin by construction."""
    remove = materialize(remove.withColumnRenamed("id", id_col))
    # the cut table is already materialized, so sizing it costs one
    # metadata-cheap job — broadcast both branch joins when it fits
    # (neither branch then shuffles the CORPUS by id; with a giant cut
    # table both joins fall back to shuffle joins, the r5 cost times
    # two).  Size estimate: 8 B per cut position + ~48 B per row of id/
    # struct overhead, capped well under the 8 GB broadcast hard limit.
    stats = remove.agg(
        F.count("*").alias("n"), F.sum(F.size("_cut_pos")).alias("c")
    ).first()
    est_bytes = (stats["n"] or 0) * 48 + (stats["c"] or 0) * 8
    small = est_bytes <= 256 * 1024 * 1024
    cuts_side = F.broadcast(remove) if small else remove
    ids_side = remove.select(id_col)
    if small:
        ids_side = F.broadcast(ids_side)

    out_fields = df.schema.fieldNames()
    affected_in = df.join(cuts_side, id_col, "inner")
    if small:
        # the affected set is bounded by the (measured-small) cut table,
        # but the join output inherits the corpus scan's partitioning —
        # on an over-split scan that means one Python task per scan
        # partition for a handful of rows each.  Join-output plan stats
        # are join-estimate garbage (84 TB measured for a 9k-row output
        # on the bench table), so ``one_wave`` cannot see this; the cut
        # table's own measured size is the honest bound, and we only
        # coalesce in the regime where it is known small.
        affected_in = affected_in.coalesce(
            df.sparkSession.sparkContext.defaultParallelism
        )
    out_schema = affected_in.drop("_cut_pos").schema.add("n_tokens_removed", "long")

    def _rebuild(batches):
        for b in batches:
            texts = []
            removed = []
            for t, cuts in zip(b[text_col], b["_cut_pos"]):
                toks = [w for w in _WS_SPLIT.split(t or "") if w]
                cover = np.zeros(len(toks) + 1, dtype=np.int32)
                starts = np.asarray(cuts, dtype=np.int64)
                ends = np.minimum(starts + width, len(toks))
                np.add.at(cover, starts, 1)
                np.add.at(cover, ends, -1)
                mask = np.cumsum(cover[:-1]) > 0
                kept = [w for w, m in zip(toks, mask) if not m]
                texts.append(" ".join(kept))
                removed.append(int(mask.sum()))
            out = b.drop(columns=["_cut_pos"])
            out[text_col] = texts
            out["n_tokens_removed"] = removed
            yield out

    untouched = df.join(ids_side, id_col, "left_anti").withColumn(
        "n_tokens_removed", F.lit(0).cast("long")
    )
    affected = affected_in.mapInPandas(_rebuild, out_schema)
    return untouched.unionByName(affected).select(*out_fields, "n_tokens_removed")


def substring_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", width: int = 50
) -> DataFrame:
    """Aggregated fingerprint index ``(h1, h2, n_occ)`` of a KEPT
    corpus — the persistable state that makes substring dedup
    incremental (the ``kept_sigs`` pattern from ops/corpus.py applied
    here).  One token-scale pass, one partial-aggregated shuffle; the
    output is distinct-fingerprint-scale.  Store it partitioned/bucketed
    by (h1, h2) so batch probes shuffle only the batch side."""
    return (
        window_fingerprints(df, text_col, id_col, width)
        .groupBy("h1", "h2")
        .agg(F.count("*").alias("n_occ"))
    )


def stamped_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", width: int = 50
) -> DataFrame:
    """``substring_index`` rows as they are stored: ``(h1, h2, n_occ,
    width, fp_version)``.  A store is an append-only log of these deltas
    (crash-safe: a missing delta only costs recall later); ``merged_index``
    reads it back.  Index the CLEANED text, so a cut span does not count
    as a stored occurrence."""
    return (
        substring_index(df, text_col, id_col, width)
        .withColumn("width", F.lit(width))
        .withColumn("fp_version", F.lit(FP_VERSION))
    )


def merged_index(stored: DataFrame, width: int) -> DataFrame:
    """The probe index ``(h1, h2, n_occ)`` of a store of ``stamped_index``
    deltas, summed per fingerprint.

    Raises ``ValueError`` when the store holds another width, or was
    written by another fingerprint family (a store without ``fp_version``
    predates versioning: family 1) — probing it would silently match
    nothing and cost recall without a trace."""
    fp = F.col("fp_version") if "fp_version" in stored.columns else F.lit(1)
    stamps = stored.select("width", fp.alias("fp_version")).distinct().collect()
    widths = sorted({r.width for r in stamps})
    if widths and widths != [width]:
        raise ValueError(f"width {width} does not match the stored index width(s) {widths}")
    versions = sorted({r.fp_version for r in stamps})
    if versions and versions != [FP_VERSION]:
        raise ValueError(
            f"substring index written by fingerprint family {versions}, this build is "
            f"{FP_VERSION} — probing it would silently match nothing; rebuild the index"
        )
    return stored.groupBy("h1", "h2").agg(F.sum("n_occ").alias("n_occ"))


def dedup_substrings_incremental(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Incremental ``dedup_substrings``: clean only the NEW batch
    against the stored corpus' fingerprint index (``substring_index``)
    plus the batch itself — history is never re-tokenized.

    Removal rule per batch window: total occurrences (history count +
    batch count) ≥ ``min_count``, and the occurrence is removed unless
    it is the canonical keeper.  History always out-ranks the batch
    (the append contract: batch ids sort after every stored id, as in
    ``clean_corpus_incremental``), so any batch window whose
    fingerprint exists in the index is removed outright; a window new
    to the corpus keeps its min-(id,pos) batch occurrence.

    Equals the full recompute ``dedup_substrings(history ∪ batch)``
    under the append contract when the stored history text is itself
    the fixed point (nothing was cut from it — true for corpora that
    were clean on arrival, and asserted in tests); when history WAS cut
    in earlier rounds, the stored text is the canonical corpus and the
    batch is cleaned against it as-is — same "history is immutable"
    semantics as ``clean_corpus_incremental``.

    Plan: fingerprint the batch only; ONE window-aggregate shuffle over
    the batch windows; LEFT JOIN the (distinct-fingerprint-scale) index
    on (h1, h2) — with the index bucketed by (h1, h2) only the batch
    side shuffles; rebuild touches only affected batch docs."""
    from pyspark.sql import Window

    bwins = window_fingerprints(batch, text_col, id_col, width)
    w = Window.partitionBy("h1", "h2")
    probed = (
        bwins.withColumn("_bc", F.count("*").over(w))
        .withColumn("_k", F.min(F.struct("id", "pos")).over(w))
        .join(index.select("h1", "h2", "n_occ"), ["h1", "h2"], "left")
    )
    total = F.col("_bc") + F.coalesce(F.col("n_occ"), F.lit(0))
    in_history = F.col("n_occ").isNotNull()
    non_keeper = (F.col("id") != F.col("_k.id")) | (
        F.col("pos") != F.col("_k.pos")
    )
    remove = (
        probed.filter((total >= min_count) & (in_history | non_keeper))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_cut_pos"))
    )
    return _apply_cuts(batch, remove, text_col, id_col, width)
