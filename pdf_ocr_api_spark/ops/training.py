"""Training-set assembly: leakage-safe splits, mixture weighting and
sequence packing.

The last mile of the training-data product: after cleaning
(``ops/corpus``), dedup (``ops/dedup``) and benchmark decontamination
(``ops/decontam``), a corpus still has to be *assembled* into a training
set — split into train/val/test without leakage, re-weighted to a target
domain mixture, shuffled reproducibly, and packed into fixed
token-budget sequences. The reference engine has no analogue (it is a
document-extraction service); these operators belong to the
training-data-pipeline axis the engine serves.

Design rules, Spark-first and 100 TB-first:

* **Every decision is a pure function of (key, salt)** — a 60-bit hash
  derived from ``md5``, computable identically in Spark
  (``conv(substr(md5(x),1,15),16,10)``) and in plain SQL engines
  (DuckDB: ``('0x'||substr(md5(x),1,15))::BIGINT``). No RNG state, no
  driver coordination: split/sample are map-side projections
  that shuffle NOTHING, and an incremental batch lands in the same
  split/sample its rows would have landed in during a full rebuild —
  the property that makes grow-only corpora (``clean_corpus_incremental``)
  composable with training-set assembly.
* **Mixture weights are monotone**: raising a domain's weight only ADDs
  rows (keep-if ``h < w·2^60``), so mixture iteration never invalidates
  previously-materialized samples.
* **Packing is bucket-local**: one hash shuffle into ``n_buckets``
  groups, then a vectorized per-bucket boundary walk (numpy
  ``searchsorted`` per PACK, not per row). Packs never span buckets, so
  there is no global sequential dependency — parallelism is chosen by
  bucket count, not dictated by corpus order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HASH_BITS = 60
HASH_SPACE = 1 << HASH_BITS

# \x1f (unit separator) keeps (key='a', salt='b') distinct from
# (key='ab', salt='') without being typable in normal corpus keys
_SEP = "\x1f"


def portable_hash(col, salt: str = ""):
    """Uniform int64 in ``[0, 2^60)`` from ``md5(key <US> salt)``.

    Engine-portable by construction: DuckDB's
    ``('0x' || substr(md5(key || chr(31) || salt), 1, 15))::BIGINT``
    produces the identical value (asserted cross-engine in tests), so
    split/sample assignments can be audited or recomputed outside Spark.
    NULL keys hash like the empty string (``concat_ws`` drops them):
    all-null keys land together — key choice is the caller's contract.
    """
    return (
        F.conv(F.substring(F.md5(F.concat_ws(_SEP, col.cast("string"), F.lit(salt))), 1, 15), 16, 10)
        .cast("bigint")
    )


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """Normalized cumulative hash thresholds for ``assign_splits`` —
    exposed so tests/audits can rebuild the exact decision boundaries."""
    names = list(weights)
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to > 0")
    out, cum = [], 0.0
    for name in names:
        cum += weights[name] / total
        out.append((name, min(HASH_SPACE, int(cum * HASH_SPACE))))
    out[-1] = (out[-1][0], HASH_SPACE)  # close float gap: last bin owns the tail
    return out


def assign_splits(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    key_col: str = "conv_id",
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: ``split = f(key, salt)``.

    Keying on the GROUP identity (conversation, document, source URL —
    not the row) is what prevents leakage: every turn of a conversation
    lands in the same split, on this run, on every rerun, and on every
    future incremental batch. A pure projection — no shuffle, no
    sampling state, codegen-friendly — and the boundaries are plain
    integer thresholds on the portable hash, so the assignment is
    reproducible in any engine with md5.
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    bounds = split_thresholds(weights)
    # stage the hash as a column FIRST — a when-chain over the raw md5
    # expr would inline it once per branch (expression-CSE pitfall)
    staged = df.withColumn("_h_split", portable_hash(F.col(key_col), salt))
    expr = F.lit(bounds[-1][0])
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(F.col("_h_split") < F.lit(upper), F.lit(name)).otherwise(expr)
    return staged.withColumn(out_col, expr).drop("_h_split")


def mixture_weights_plan(
    fractions: dict[str, float], default: float = 1.0
) -> list[tuple[str, int, int]]:
    """Per-domain (value, whole_copies, remainder_threshold) plan for
    ``mixture_sample``. A weight of 2.3 means: 2 deterministic copies of
    every row, plus a 3rd copy for rows with ``h < 0.3·2^60``."""
    plan = []
    for value, w in fractions.items():
        if w < 0:
            raise ValueError(f"mixture weight for {value!r} must be >= 0")
        whole = int(w)
        rem = min(HASH_SPACE, int(round((w - whole) * HASH_SPACE)))
        plan.append((value, whole, rem))
    if default < 0:
        raise ValueError("default mixture weight must be >= 0")
    return plan


def mixture_sample(
    df: DataFrame,
    fractions: dict[str, float],
    domain_col: str,
    key_col: str,
    salt: str = "",
    default: float = 1.0,
    copy_col: str = "mix_copy",
) -> DataFrame:
    """Deterministic domain re-weighting — the training-mixture operator.

    ``fractions`` maps domain values to target weights. Weights in
    ``[0, 1]`` DOWN-sample (keep iff ``h < w·2^60``); weights above 1
    UP-sample by deterministic replication (``floor(w)`` copies plus one
    more on the hash remainder — "2.3 epochs of code, 0.5 of web").
    Unlisted domains get ``default`` (1.0 = pass through).

    Properties a pipeline operator actually relies on, all tested:
    *monotone* (raising a weight only adds rows — existing samples stay
    valid), *stable* (same key+salt → same decision on every run and
    every incremental batch), *shuffle-free* (projection + ``explode`` of
    a tiny int sequence; no sampling state anywhere). Output rows carry
    ``copy_col`` (0-based copy index) so downstream shuffle/packing can
    scatter replicas: hash on ``(key, copy)`` — replicas of a row land in
    different packs, not adjacent ones.
    """
    plan = mixture_weights_plan(fractions, default)
    h = portable_hash(F.col(key_col), salt)

    d = F.col(domain_col).cast("string")
    whole = F.lit(int(default))
    rem = F.lit(min(HASH_SPACE, int(round((default - int(default)) * HASH_SPACE))))
    for value, w_whole, w_rem in reversed(plan):
        whole = F.when(d == F.lit(value), F.lit(w_whole)).otherwise(whole)
        rem = F.when(d == F.lit(value), F.lit(w_rem)).otherwise(rem)

    out = (
        df.withColumn("_h_mix", h)
        .withColumn("_copies", whole + (F.col("_h_mix") < rem).cast("int"))
        .filter(F.col("_copies") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(0), F.col("_copies") - 1)))
        .drop("_h_mix", "_copies")
    )
    return out


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

# pack_id = bucket << _PACK_SHIFT | bucket-local index: globally unique
# without any cross-bucket coordination (supports 2^24 buckets × 2^40
# packs per bucket)
_PACK_SHIFT = 40


def greedy_pack_bounds(tokens: np.ndarray, budget: int) -> np.ndarray:
    """Sequential greedy packing over an ORDERED token-count vector:
    returns the exclusive end index of each pack. Vectorized per pack —
    each iteration closes one pack with a ``searchsorted`` on the running
    cumsum — so the Python loop count is #packs (≈ n·avg_tokens/budget),
    not #rows. A single row over budget gets a pack of its own (the
    caller decides whether to truncate or drop oversize rows; packing
    itself never loses data)."""
    c = np.cumsum(tokens, dtype=np.int64)
    n = len(tokens)
    bounds = []
    start = 0
    while start < n:
        base = c[start - 1] if start else 0
        end = int(np.searchsorted(c, base + budget, side="right"))
        if end <= start:  # oversize single row
            end = start + 1
        bounds.append(end)
        start = end
    return np.asarray(bounds, dtype=np.int64)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    key_cols: list[str],
    salt: str = "",
    n_buckets: int | None = None,
    strategy: str = "sequential",
) -> DataFrame:
    """Pack rows into fixed token-budget sequences (training batches).

    Rows are hash-scattered into ``n_buckets`` buckets (one shuffle —
    the only one in the pass), deterministically ordered within each
    bucket by the same hash, and greedily packed: a pack closes when the
    next row would exceed ``budget``. Output adds ``pack_id`` (globally
    unique bigint, bucket-local counter under a bucket prefix — no
    cross-bucket coordination), ``pack_pos`` (0-based position within
    the pack) and ``pack_tokens`` (the pack's total, repeated on each
    member — oversize singles are exactly the rows with
    ``pack_tokens > budget``, detectable without a second pass).

    ``strategy``: ``"sequential"`` packs in hash order (the shuffled
    order training wants); ``"nfd"`` sorts each bucket by descending
    token count first (next-fit-decreasing — tighter packs, ≤ the
    sequential pack count, asserted in tests) at the cost of losing the
    shuffled order. Both are deterministic and partition-invariant: the
    bucket assignment and in-bucket order depend only on (key, salt).

    Scale: per-bucket state is one pandas frame of ``rows/n_buckets``
    rows; pick ``n_buckets`` so that fits comfortably (default:
    ``defaultParallelism`` — pandas-UDF stages want one wave of
    core-sized tasks, not 4×). Null/negative token counts are treated
    as 0 (they pack, they just don't count against the budget).
    """
    if strategy not in ("sequential", "nfd"):
        raise ValueError(f"unknown packing strategy: {strategy!r}")
    if budget <= 0:
        raise ValueError("budget must be > 0")
    spark = df.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism
    if n_buckets < 1 or n_buckets > (1 << (63 - _PACK_SHIFT)):
        raise ValueError("n_buckets out of range")

    key = F.concat_ws(_SEP, *[F.col(c).cast("string") for c in key_cols])
    staged = (
        df.withColumn("_pk_key", key)
        .withColumn("_pk_hash", portable_hash(F.col("_pk_key"), salt))
        .withColumn("_pk_bucket", F.pmod("_pk_hash", F.lit(n_buckets)).cast("int"))
        .withColumn("_pk_tok", F.greatest(F.coalesce(F.col(token_col).cast("long"), F.lit(0)), F.lit(0)))
    )

    out_schema = T.StructType(
        staged.schema.fields
        + [
            T.StructField("pack_id", T.LongType()),
            T.StructField("pack_pos", T.IntegerType()),
            T.StructField("pack_tokens", T.LongType()),
        ]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["_pk_bucket"].iloc[0])
        # key-string tie-break behind the hash: partition-invariant order
        # even on (rare at bucket scale, certain at corpus scale) hash ties
        keys = pdf["_pk_key"].to_numpy()
        if strategy == "nfd":
            order = np.lexsort((keys, pdf["_pk_hash"].to_numpy(), -pdf["_pk_tok"].to_numpy()))
        else:
            order = np.lexsort((keys, pdf["_pk_hash"].to_numpy()))
        pdf = pdf.iloc[order].reset_index(drop=True)
        tok = pdf["_pk_tok"].to_numpy(dtype=np.int64)
        bounds = greedy_pack_bounds(tok, budget)
        starts = np.concatenate(([0], bounds[:-1]))
        sizes = bounds - starts
        local = np.repeat(np.arange(len(bounds), dtype=np.int64), sizes)
        csum = np.cumsum(tok, dtype=np.int64)
        totals = csum[bounds - 1] - np.concatenate(([0], csum[bounds[:-1] - 1]))
        pdf["pack_id"] = (np.int64(bucket) << _PACK_SHIFT) | local
        pdf["pack_pos"] = (np.arange(len(pdf), dtype=np.int64) - np.repeat(starts, sizes)).astype(np.int32)
        pdf["pack_tokens"] = np.repeat(totals, sizes)
        return pdf

    packed = staged.groupBy("_pk_bucket").applyInPandas(_pack, schema=out_schema)
    return packed.drop("_pk_key", "_pk_hash", "_pk_bucket", "_pk_tok")
