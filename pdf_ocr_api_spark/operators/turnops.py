"""Turn-axis relational analogues of the reference's page operations
(SURVEY §2.5 O3, §2.6 U1-U4, §2.9).

The reference manipulates PDFs page-wise through a cloud API — reorder
(ref src/reorderpages/reorder-pdf-pages.js:90-95), delete
(src/deletepages/delete-pdf-pages.js:91-96), insert
(src/insertpages/insert-pdf-pages.js:111-116), replace
(src/replacepages/replace-pdf-pages.js:112-117), rotate
(src/rotatepages/rotate-pdf-pages.js:95-105), combine
(src/combinepdf/combine-pdf-with-page-ranges.js:98-113), split
(src/splitpdf/split-pdf-by-number-of-pages.js:51-52,
split-pdf-into-number-of-files.js:50-52, split-pdf-by-page-ranges.js:93-98).

Here the document is a conversation and the page axis is ``turn_idx``;
every operation is a pure DataFrame expression — range predicates,
anti-filters, unions, and window renumbering — so Catalyst gets full
pushdown/pruning visibility (no UDFs anywhere).

All operations renumber the result to a dense 0..n-1 ``turn_idx`` per
conversation (the page model: a PDF's pages are always contiguous),
keeping the original order stable via the (old turn_idx, source-rank)
sort key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _renumber(df: DataFrame, order_cols: list) -> DataFrame:
    """Dense 0..n-1 turn_idx per conversation in the given order."""
    w = Window.partitionBy("conv_id").orderBy(*order_cols)
    return (
        df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .drop("_src", "_ord")
    )


def select_turns(df: DataFrame, start: int, end: int) -> DataFrame:
    """O3 — page-range selection: keep turns in [start, end] and
    renumber (PageRanges.addRange analogue)."""
    return _renumber(
        df.filter(F.col("turn_idx").between(start, end)), [F.col("turn_idx")]
    )


def delete_turns(df: DataFrame, start: int, end: int) -> DataFrame:
    """U2 — delete a turn range (EXCEPT on the turn axis) + renumber."""
    return _renumber(
        df.filter(~F.col("turn_idx").between(start, end)), [F.col("turn_idx")]
    )


def insert_turns(base: DataFrame, insert: DataFrame, at: int, into_conv: str | None = None) -> DataFrame:
    """U4 — insert another conversation's turns at position ``at``:
    union + composite re-sort (ref insert-pdf-pages.js:111-116).

    ``into_conv``: relabel the inserted rows to this conversation. When
    the source carries a different conv_id and no relabel is given, the
    renumbering would run per-conv and silently interleave two
    numberings — the page model ("insert pages of B into A") always has
    a target document, so supply it whenever the frames differ.
    """
    if into_conv is not None:
        insert = insert.withColumn("conv_id", F.lit(into_conv))
    b = base.withColumn("_ord", F.when(F.col("turn_idx") < at, F.col("turn_idx")).otherwise(F.col("turn_idx") + F.lit(1_000_000))).withColumn("_src", F.lit(0))
    i = insert.withColumn("_ord", F.lit(at)).withColumn("_src", F.lit(1))
    u = b.unionByName(i)
    return _renumber(u, [F.col("_ord"), F.col("_src"), F.col("turn_idx")])


def replace_turns(
    base: DataFrame, replacement: DataFrame, start: int, end: int, into_conv: str | None = None
) -> DataFrame:
    """U3 — anti-filter + union: replace the [start, end] range with
    another conversation's turns (ref replace-pdf-pages.js:112-117).
    ``into_conv``: see insert_turns — required semantics when the
    replacement rows carry a different conv_id."""
    if into_conv is not None:
        replacement = replacement.withColumn("conv_id", F.lit(into_conv))
    kept = base.filter(~F.col("turn_idx").between(start, end)).withColumn(
        "_ord", F.when(F.col("turn_idx") < start, F.col("turn_idx")).otherwise(F.col("turn_idx") + F.lit(1_000_000))
    ).withColumn("_src", F.lit(0))
    rep = replacement.withColumn("_ord", F.lit(start)).withColumn("_src", F.lit(1))
    return _renumber(kept.unionByName(rep), [F.col("_ord"), F.col("_src"), F.col("turn_idx")])


def _renumber_within_chunk(df: DataFrame, tie: list[str] | None = None) -> DataFrame:
    """Dense 0..n-1 turn_idx within each (conv, chunk) — every split
    output is a standalone document whose pages start at 0, exactly the
    reference's split semantics (each output file's pages renumbered).

    ``tie``: extra ORDER BY columns after turn_idx. When the caller's
    frame can carry DUPLICATE turn_idx values per conversation (merged
    or un-renumbered inputs), the window order — and therefore the
    renumbering — is shuffle-order dependent without a unique tie-break;
    pass a natural key (e.g. ``["doc_id"]``) to make it deterministic."""
    order = [F.col("turn_idx")] + [F.col(c) for c in (tie or [])]
    w = Window.partitionBy("conv_id", "chunk").orderBy(*order)
    return df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))


def split_by_count(
    df: DataFrame, turns_per_chunk: int, tie: list[str] | None = None
) -> DataFrame:
    """X6 — split-by-number-of-pages: assign a chunk id every
    ``turns_per_chunk`` turns, turns renumbered densely within each
    chunk (ref split-pdf-by-number-of-pages.js:51-52 — each output
    document's pages start at 0, like split_by_ranges). ``tie``: see
    ``_renumber_within_chunk``."""
    out = df.withColumn("chunk", (F.col("turn_idx") / F.lit(turns_per_chunk)).cast("int"))
    return _renumber_within_chunk(out, tie)


def split_by_ranges(
    df: DataFrame, ranges: list[tuple[int, int]], tie: list[str] | None = None
) -> DataFrame:
    """X6 — split-by-page-ranges: each inclusive (start, end) range
    becomes one chunk, turns renumbered densely within (conv, chunk)
    (ref split-pdf-by-page-ranges.js:93-98 — each output document holds
    its range's pages, renumbered from 0). Turns outside every range are
    dropped; overlapping ranges assign the FIRST matching range (the
    reference API would emit the page into both files — pass
    non-overlapping ranges for that semantics one range at a time).
    ``tie``: see ``_renumber_within_chunk``."""
    chunk = F.lit(None).cast("int")
    for i, (s, e) in reversed(list(enumerate(ranges))):
        chunk = F.when(F.col("turn_idx").between(s, e), F.lit(i)).otherwise(chunk)
    out = df.withColumn("chunk", chunk).filter(F.col("chunk").isNotNull())
    return _renumber_within_chunk(out, tie)


def split_into_n(df: DataFrame, n_chunks: int, tie: list[str] | None = None) -> DataFrame:
    """X6 — split-into-number-of-files: ntile over the turn order,
    turns renumbered densely within each chunk (ref
    split-pdf-into-number-of-files.js:50-52). ``tie``: see
    ``_renumber_within_chunk`` — it orders BOTH the ntile assignment and
    the renumbering, so chunk membership is deterministic too."""
    order = [F.col("turn_idx")] + [F.col(c) for c in (tie or [])]
    w = Window.partitionBy("conv_id").orderBy(*order)
    out = df.withColumn("chunk", F.ntile(n_chunks).over(w) - 1)
    return _renumber_within_chunk(out, tie)
