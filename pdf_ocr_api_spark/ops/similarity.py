"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: dot product via
  ``aggregate(zip_with(...))`` (pure JVM expression, codegen'd), one
  orderBy+limit (Spark plans TakeOrderedAndProject — no full sort).
* LSH-bucketed ANN — signed-random-projection signatures computed from
  driver-seeded hyperplanes (literal arrays in the plan), bucket
  equality prunes the candidate set before the exact cosine rerank;
  multiprobe = flip each signature bit once.
* embedding near-duplicate pairs — an exact O(n²) self-join.

The brute force is a full scan per query (fine for batch scoring of a
handful of queries); the LSH variant turns it into a filter on
signature buckets over the same scan.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_to(query_vec: list[float], col):
    """Cosine similarity of an array<float> column to a literal query."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    return _dot(col.cast("array<double>"), q) / (_norm(col.cast("array<double>")) * F.lit(qn))


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k (ascending id tie-break for determinism)."""
    return (
        emb.select(
            F.col(id_col).alias("id"),
            F.round(cosine_to(query_vec, F.col(vec_col)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def srp_signature(col, planes: list[list[float]]):
    """Signed-random-projection bucket id (int, one bit per plane)."""
    sig = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(col.cast("array<double>"), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        sig = sig + F.shiftleft(bit, i)
    return sig


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 10,
    n_tables: int = 6,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: ``n_tables`` independent SRP tables
    (OR-construction — a vector is a candidate if it matches the query's
    bucket in ANY table, +1-bit multiprobe per table), exact rerank
    inside the union of candidates.

    A SINGLE table retains a true neighbor at cosine c only with
    probability ≈ (1−θ/π)^n_planes (≈ 0.16 at c = 0.9 for 12 planes —
    most true neighbors lost); the OR across tables compounds to
    1−(1−x)^n_tables. The defaults (10 planes × 6 tables, 1-bit
    multiprobe) were measured, not derived: recall@10 = 1.0 vs brute
    force on the planted-neighbor corpus with ~15 % of vectors
    surviving the filter (asserted ≥ 0.9 in tests). Each table is one
    signature expression over the same scan — candidates are a single
    filter with an OR of per-table bucket predicates, so the plan stays
    scan → filter → TakeOrdered with no join or shuffle."""
    cond = None
    for t in range(n_tables):
        planes = random_hyperplanes(len(query_vec), n_planes, seed + 1000 * t)
        qsig = 0
        for i, p in enumerate(planes):
            dot = sum(float(a) * float(b) for a, b in zip(query_vec, p))
            qsig |= (1 if dot >= 0 else 0) << i
        probes = [qsig] + ([qsig ^ (1 << i) for i in range(n_planes)] if multiprobe else [])
        table_hit = srp_signature(F.col(vec_col), planes).isin(probes)
        cond = table_hit if cond is None else (cond | table_hit)

    cand = emb.filter(cond)
    return brute_force_topk(cand, query_vec, k, id_col=id_col, vec_col=vec_col)


def cosine_pair_expr(a, b):
    """Cosine similarity between two array<float> columns (double math)."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def embedding_near_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact O(n²) self-join."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_pair_expr(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
