"""Domain-level corpus operators (C4 / Gopher style).

Web-scale corpora are collections of *sites*, not just documents, and
two standard pipeline stages act on that axis:

* **Blocklist filtering** — C4 (Raffel et al. 2020, arXiv:1910.10683
  §2.2) drops every page from a curated bad-domain list before any
  per-document gate runs.  ``filter_domains`` is the distributed form
  (broadcast semi/anti join — the list is tiny next to the corpus).
* **Per-domain caps** — Gopher (Rae et al. 2021, arXiv:2112.11446
  §A1.2) caps how many documents any single site may contribute, so a
  giant auto-generated domain cannot dominate the training mix.
  ``cap_per_domain`` keeps a deterministic, layout-independent sample
  of ``n`` documents per domain.

Both stages key on a domain column the caller supplies.

Reference provenance: the reference engine has no domain stage (its
corpus is per-invoice PDFs); this module belongs to the LLM-training-
data operator family the build brief adds on top of the reference
surface (like ops/dedup.py, ops/repetition.py).

Scale notes (the design constraints, in order):

* The cap CANNOT be a bare ``row_number() over (partition by domain)``:
  at 100 TB one pathological domain can hold 10^9 rows, and a global
  window sorts that domain inside ONE task.  ``cap_per_domain`` instead
  does per-input-partition partial top-n first (bounded output:
  ≤ n · domains-per-partition rows), so the global rank only ever sees
  ≤ n · n_partitions rows per domain — the classic distributed top-k
  decomposition.  Exactness holds because any global n-smallest element
  is one of its own partition's n smallest.
* Selection is a pure function of ``(salt, domain, key)`` through the
  repo's md5-portable hash (``ops/training.portable_hash``) — no RNG
  state, reproducible in any engine with md5, layout- and
  partitioning-independent (tested), and incremental-friendly: a
  re-run over a grown corpus keeps a consistent uniform sample.
* Blocklists broadcast; nothing domain-scale ever shuffles on a skewed
  key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .training import portable_hash

__all__ = [
    "domain_stats",
    "filter_domains",
    "cap_per_domain",
]


def domain_stats(df: DataFrame, domain_col: str = "source", text_col: str = "text") -> DataFrame:
    """Per-domain corpus profile: ``(domain, n_docs, n_chars,
    n_tokens)`` — the frame an operator ranks to find cap candidates
    and blocklist suspects.  One partial-aggregated shuffle on the
    domain key."""
    from .textstats import ws_tokens

    return df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(F.coalesce(F.col(text_col), F.lit("")))).alias("n_chars"),
        F.sum(F.size(ws_tokens(F.col(text_col), lower=False))).alias("n_tokens"),
    )


def filter_domains(
    df: DataFrame,
    domains,
    domain_col: str = "source",
    mode: str = "block",
    match: str = "exact",
) -> DataFrame:
    """C4-style domain list filter.  ``domains`` is a Python sequence
    or a single-column DataFrame; ``mode='block'`` drops matching rows,
    ``mode='allow'`` keeps only them.

    ``match='exact'`` (default) compares the column verbatim — right
    when the column already holds the registered domain.
    ``match='suffix'`` additionally
    matches any SUBDOMAIN of a listed entry (``bad.com`` also hits
    ``cdn.bad.com`` — the C4 blocklist convention for raw-host
    columns) via exact-or-``.``-suffix predicates, so ``notbad.com``
    and ``bad.com.evil.org`` never false-positive.  Entries are
    expected lowercase.

    A sequence becomes a literal predicate in the plan (isin /
    endswith-chain — pushes toward the scan); a DataFrame becomes a
    broadcast LEFT_ANTI / LEFT_SEMI join for ``exact``, and is
    collected to the literal path for ``suffix`` (blocklists are
    curated-size by nature — never corpus-scale; the same
    metadata-scale-collect contract as any driver-side list).  NULL
    domains never match a list, so ``block`` keeps them and ``allow``
    drops them (documented C4 convention: an unattributable page
    cannot clear an allow-list)."""
    if mode not in ("block", "allow"):
        raise ValueError(f"unknown filter_domains mode: {mode!r}")
    if match not in ("exact", "suffix"):
        raise ValueError(f"unknown filter_domains match: {match!r}")
    if isinstance(domains, DataFrame):
        cols = domains.columns
        if len(cols) != 1:
            raise ValueError(
                f"domain list DataFrame must have exactly one column, got {cols}"
            )
        if match == "suffix":
            vals = [r[0] for r in domains.select(cols[0]).distinct().collect()]
            return filter_domains(df, vals, domain_col, mode, match)
        lst = F.broadcast(domains.select(F.col(cols[0]).alias(domain_col)).distinct())
        how = "left_anti" if mode == "block" else "left_semi"
        return df.join(lst, domain_col, how)
    entries = [str(d) for d in domains if d is not None]
    if match == "suffix":
        c = F.col(domain_col)
        pred = F.lit(False)
        for d in entries:
            d = d.lstrip(".")
            pred = pred | (c == d) | c.endswith("." + d)
    else:
        pred = F.col(domain_col).isin(entries)
    if mode == "block":
        # the predicate is NULL (not False) for NULL domains — keep
        # them explicitly
        return df.filter(~F.coalesce(pred, F.lit(False)))
    return df.filter(F.coalesce(pred, F.lit(False)))


def cap_per_domain(
    df: DataFrame,
    n: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "domain-cap-v1",
    parallelism: int | None = None,
) -> DataFrame:
    """Gopher-style per-domain document cap: every domain keeps at most
    ``n`` documents — the ones with the smallest portable hash of
    ``(domain <US> key <US> salt)``, i.e. a deterministic uniform
    sample that is independent of layout, partitioning, and engine
    (DuckDB reproduces the selection; tested).

    ``key_col`` must be unique and non-null per row (the kept set is
    joined back on it).  Returns the input schema unchanged.

    Plan shape (scale: see module docstring): narrow projection →
    per-partition partial top-n in one Arrow pass (bounded output) →
    global top-n per domain over the shrunken survivor set (window
    row_number — every domain now has ≤ n · n_partitions rows, so no
    single-task giant-domain sort) → broadcast-friendly semi join on
    the key.  Skewed domains cost their n survivors per partition,
    never their full row count.

    ``parallelism``: partitioning of the narrow (domain, key, hash)
    projection the Arrow partial-top-n stage runs over — the
    pandas-UDF-stage convention from ``dedup.simhash64``: ``None``
    (default) repartitions to the session's ``defaultParallelism``
    (ONE wave of cores; fewer, fuller Arrow batches ALSO shrink the
    survivor set the global rank sees), an int overrides, ``0`` keeps
    the input partitioning (no extra shuffle — the narrow projection
    is the only thing shuffled, never the full rows).
    """
    from pyspark.sql import Window

    survivors = _partial_topn(df, n, domain_col, key_col, salt, parallelism)
    w = Window.partitionBy("_d").orderBy("_h", "_k")
    kept = (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(F.col("_k").alias(key_col))
    )
    return df.join(kept, key_col, "left_semi")


def _partial_topn(
    df: DataFrame,
    n: int,
    domain_col: str,
    key_col: str,
    salt: str,
    parallelism: int | None,
) -> DataFrame:
    """Shared survivor stage for both cap forms: narrow (domain, key,
    hash) projection → per-PARTITION top-n per domain in one Arrow
    stage.  The fold accumulates across the partition's Arrow batches
    (a per-batch head(n) would bound survivors at n·batches, not
    n·partitions — at the module's 10^9-row-domain design point that
    re-creates the giant single-task sort the bound exists to preclude;
    r5 review finding, live-confirmed).  Running state stays ≤ n rows
    per domain seen, so memory is bounded regardless of batch count."""
    if n < 1:
        raise ValueError("n must be ≥ 1")
    import pandas as pd

    key_t = df.schema[key_col].dataType.simpleString()
    h = portable_hash(
        F.concat_ws(chr(0x1F), F.col(domain_col), F.col(key_col).cast("string")),
        salt,
    )
    narrow = df.select(
        F.col(domain_col).alias("_d"), F.col(key_col).alias("_k"), h.alias("_h")
    )
    if parallelism:
        narrow = narrow.repartition(parallelism)
    elif parallelism is None:
        # r6: the shared one-wave convention (ops/stage.one_wave) —
        # over-split inputs coalesce (narrow, no shuffle; the former
        # default REPARTITIONED the projection, a full shuffle of it at
        # any scale), under-split small inputs still repartition to a
        # full wave.  Fewer, fuller partitions also shrink the survivor
        # set the global rank sees (≤ n · n_partitions).  The selection
        # is partitioning-invariant (md5 hashes), so results are
        # byte-identical under any of these choices (tested).
        from .stage import one_wave

        narrow = one_wave(narrow)

    def _partial(batches):
        # dropna=False throughout: a NULL domain is a real group and
        # honors the cap like any other
        run = None
        for b in batches:
            both = b if run is None else pd.concat((run, b), ignore_index=True)
            run = (
                both.sort_values(["_d", "_h", "_k"])
                .groupby("_d", dropna=False)
                .head(n)
            )
        if run is not None:
            yield run

    return narrow.mapInPandas(
        _partial,
        f"_d {df.schema[domain_col].dataType.simpleString()}, _k {key_t}, _h long",
    )
