"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: dot product via
  ``aggregate(zip_with(...))`` (pure JVM expression, codegen'd), one
  orderBy+limit (Spark plans TakeOrderedAndProject — no full sort);
  ``brute_force_topk_batch`` answers many queries in one corpus scan.
* LSH-bucketed ANN — signed-random-projection signatures computed from
  driver-seeded hyperplanes (literal arrays in the plan), bucket
  equality prunes the candidate set before the exact cosine rerank;
  multiprobe = flip each signature bit once.
* embedding near-duplicate pairs — an exact O(n²) self-join and the
  banded-SRP blocked variant that verifies only candidate pairs.

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


def brute_force_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k for MANY queries in ONE corpus scan: broadcast
    the (small) query table, score every (vector, query) pair with the
    JVM cosine expression, keep each query's top k via a per-query
    window. Returns (query_id, id, cosine) with (cosine desc, id asc)
    rank order; cosine rounded to 6 decimals BEFORE ranking so ties
    break identically everywhere.

    This is the batch-scoring shape a training pipeline needs (dedupe a
    corpus against N seed/blocklist vectors, score against N probes):
    per-query ``brute_force_topk`` would scan the corpus N times; this
    scans once, and the only shuffle is the per-query top-k aggregation
    on uniform query-id keys. For the tens-of-queries regime the
    broadcast product is the right plan."""
    from pyspark.sql import Window

    scored = emb.crossJoin(F.broadcast(queries)).select(
        F.col(qid_col).alias("query_id"),
        F.col(id_col).alias("id"),
        F.round(
            cosine_to_query_expr(F.col(vec_col), F.col(qvec_col)), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
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


def cosine_to_query_expr(vec_col, qvec_col):
    """cosine(vec, query) between two array columns WITH the zero-query-
    norm guard ``cosine_to`` applies driver-side (``or 1.0``): an
    all-zero query vector scores 0.0 against every row instead of
    NULL-ing the whole column — without this, a batch path would rank
    all-NULL ties by id while the single-query path returns 0.0 rows,
    breaking the per-query equality contract."""
    vd = vec_col.cast("array<double>")
    qd = qvec_col.cast("array<double>")
    qn = _norm(qd)
    return _dot(vd, qd) / (_norm(vd) * F.when(qn == 0.0, F.lit(1.0)).otherwise(qn))


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
    """Embedding-cosine near-duplicate pairs, exact O(n²) self-join —
    the verification baseline (use the blocked variant at scale)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_pair_expr(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 8,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Scale path: **banded** SRP blocking (AND within a band, OR across
    bands) + exact cosine verify on the candidates.

    A single r-plane signature collides with probability
    p^r where p = 1 − θ/π — at cosine 0.9 (θ ≈ 0.451 rad, p ≈ 0.857)
    a 12-plane signature keeps only ~16 % of true pairs. With b bands of
    r planes the collision probability is 1 − (1 − p^r)^b: the default
    b=8, r=4 gives ≈ 0.998 at cosine 0.9 (and ≥ 0.96 down to cosine
    0.8) — asserted against the exact twin in tests.

    Plan shape: signatures explode to (band_idx, band_sig) rows WITHOUT
    the vector payload (ids only — b× id rows, not b× vectors), the
    self-join on uniform hash keys yields candidate id pairs, and the
    vectors join back only for the exact verify. No all-pairs stage
    anywhere; skew-free keys by construction."""
    if dim is None:
        head = emb.select(vec_col).head(1)
        if not head:  # empty input → empty pairs, correct schema
            return emb.limit(0).select(
                F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"), F.lit(0.0).alias("cosine")
            )
        dim = len(head[0][0])
    planes = random_hyperplanes(dim, n_bands * planes_per_band, seed)
    band_sigs = F.array(
        *[
            srp_signature(F.col(vec_col), planes[j * planes_per_band : (j + 1) * planes_per_band])
            for j in range(n_bands)
        ]
    )
    sig = emb.select(F.col(id_col).alias("id"), F.posexplode(band_sigs).alias("band", "bsig"))
    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine_pair_expr(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
