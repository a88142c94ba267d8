"""Training-set assembly operators (ops/training): leakage-safe splits,
mixture weighting, sequence packing.

The correctness axes that matter for these are OPERATIONAL properties —
determinism across runs and partitionings, cross-engine hash parity
(the audit contract), monotone mixtures, packing invariants — plus
exact equality with a plain-Python twin for the packing walk."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark.ops import training


def _docs(spark, n=400):
    rows = [
        (i, f"conv{i % 57}", ["web", "code", "chat", "paper"][i % 4], 5 + (i * 37) % 90)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "row_id INT, conv_id STRING, domain STRING, n_tokens INT")


# ---------------------------------------------------------------------------
# portable hash / splits
# ---------------------------------------------------------------------------

def test_portable_hash_matches_duckdb(spark):
    """The audit contract: Spark's portable_hash == DuckDB's
    ('0x'||substr(md5(key||chr(31)||salt),1,15))::BIGINT, value for value."""
    import duckdb

    keys = ["", "a", "conv42", "héllo wörld", "x" * 500]
    sdf = spark.createDataFrame([(k,) for k in keys], "k STRING")
    got = {
        r["k"]: r["h"]
        for r in sdf.select("k", training.portable_hash(F.col("k"), "s1").alias("h")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        (want,) = con.execute(
            "SELECT ('0x' || substr(md5(? || chr(31) || 's1'), 1, 15))::BIGINT", [k]
        ).fetchone()
        assert got[k] == want, k


def test_assign_splits_leakage_safe_and_stable(spark):
    df = _docs(spark)
    out = training.assign_splits(df, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="conv_id")
    rows = out.collect()
    # every row of a conversation lands in the same split
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_conv.values())
    # deterministic across runs AND partitionings
    again = training.assign_splits(
        df.repartition(13), {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="conv_id"
    ).collect()
    assert {(r.row_id, r.split) for r in rows} == {(r.row_id, r.split) for r in again}
    # all three splits populated at these sizes; fractions are per-KEY
    convs = {c: next(iter(s)) for c, s in by_conv.items()}
    counts = {s: list(convs.values()).count(s) for s in ("train", "val", "test")}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert sum(counts.values()) == len(by_conv)


def test_assign_splits_salt_changes_assignment(spark):
    df = _docs(spark)
    a = training.assign_splits(df, {"a": 0.5, "b": 0.5}, key_col="conv_id", salt="s1").collect()
    b = training.assign_splits(df, {"a": 0.5, "b": 0.5}, key_col="conv_id", salt="s2").collect()
    assert {(r.row_id, r.split) for r in a} != {(r.row_id, r.split) for r in b}


def test_split_thresholds_normalize_and_close():
    bounds = training.split_thresholds({"a": 2, "b": 1, "c": 1})
    assert bounds[-1] == ("c", training.HASH_SPACE)
    assert bounds[0][1] == int(0.5 * training.HASH_SPACE)
    with pytest.raises(ValueError):
        training.split_thresholds({"a": 0.0})


# ---------------------------------------------------------------------------
# mixture sampling
# ---------------------------------------------------------------------------

def test_mixture_downsample_and_upsample(spark):
    df = _docs(spark, 800)
    out = training.mixture_sample(
        df, {"web": 0.5, "code": 2.0, "chat": 2.5}, domain_col="domain", key_col="row_id"
    ).collect()
    n = {d: sum(1 for r in out if r.domain == d) for d in ("web", "code", "chat", "paper")}
    assert n["code"] == 2 * 200                      # exact integer replication
    assert 200 * 2 <= n["chat"] <= 200 * 3           # 2 + Bernoulli(0.5)
    assert abs(n["chat"] - 500) < 60                 # hash-uniformity at 200 keys
    assert 60 < n["web"] < 140                       # ~0.5 of 200
    assert n["paper"] == 200                         # default passthrough
    # copy indices are dense 0..copies-1 per kept row
    for r in out:
        assert r.mix_copy >= 0


def test_mixture_monotone_and_stable(spark):
    df = _docs(spark, 600)
    lo = training.mixture_sample(df, {"web": 0.3}, "domain", "row_id", salt="m").collect()
    hi = training.mixture_sample(df, {"web": 0.6}, "domain", "row_id", salt="m").collect()
    kept_lo = {(r.row_id, r.mix_copy) for r in lo if r.domain == "web"}
    kept_hi = {(r.row_id, r.mix_copy) for r in hi if r.domain == "web"}
    assert kept_lo <= kept_hi                        # raising a weight only adds
    again = training.mixture_sample(
        df.repartition(7), {"web": 0.3}, "domain", "row_id", salt="m"
    ).collect()
    assert {(r.row_id, r.mix_copy) for r in again} == {(r.row_id, r.mix_copy) for r in lo}


def test_mixture_rejects_negative_weights(spark):
    df = _docs(spark, 8)
    with pytest.raises(ValueError):
        training.mixture_sample(df, {"web": -0.1}, "domain", "row_id")


def test_mixture_zero_weight_drops_domain(spark):
    df = _docs(spark, 400)
    out = training.mixture_sample(df, {"web": 0.0}, "domain", "row_id").collect()
    assert not any(r.domain == "web" for r in out)
    assert sum(1 for r in out if r.domain == "code") == 100


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def _twin_pack(rows, budget, salt="", strategy="sequential", n_buckets=4):
    """Plain-Python packing twin: same hash, same bucket, same order,
    same greedy walk — computed with none of the Spark machinery."""
    import hashlib

    def h60(key):
        x = (key + "\x1f" + salt).encode()
        return int(hashlib.md5(x).hexdigest()[:15], 16)

    buckets = {}
    for row in rows:
        key = str(row["key"])
        hv = h60(key)
        buckets.setdefault(hv % n_buckets, []).append((hv, key, row))
    out = {}
    for b, items in buckets.items():
        if strategy == "nfd":
            items.sort(key=lambda t: (-max(0, t[2]["tok"] or 0), t[0], t[1]))
        else:
            items.sort(key=lambda t: (t[0], t[1]))
        pos, used, local = 0, 0, 0
        for hv, key, row in items:
            tok = max(0, row["tok"] or 0)
            if pos > 0 and used + tok > budget:
                local, used, pos = local + 1, 0, 0
            out[key] = ((b << 40) | local, pos)
            used += tok
            pos += 1
    return out


def test_pack_sequences_matches_python_twin(spark):
    rows = [{"key": i, "tok": 5 + (i * 37) % 90} for i in range(300)]
    # token outliers: oversize single + zero + null
    rows += [{"key": 1000, "tok": 5000}, {"key": 1001, "tok": 0}, {"key": 1002, "tok": None}]
    df = spark.createDataFrame([(r["key"], r["tok"]) for r in rows], "key INT, tok INT")
    for strategy in ("sequential", "nfd"):
        packed = training.pack_sequences(
            df, "tok", budget=256, key_cols=["key"], n_buckets=4, strategy=strategy
        ).collect()
        twin = _twin_pack(rows, 256, strategy=strategy, n_buckets=4)
        got = {str(r.key): (r.pack_id, r.pack_pos) for r in packed}
        assert got == twin, strategy


def test_pack_sequences_invariants(spark):
    df = _docs(spark, 700)
    packed = training.pack_sequences(df, "n_tokens", budget=300, key_cols=["row_id"], n_buckets=8)
    rows = packed.collect()
    assert len(rows) == 700                           # nothing lost, nothing duplicated
    assert len({r.row_id for r in rows}) == 700
    per_pack = {}
    for r in rows:
        per_pack.setdefault(r.pack_id, []).append(r)
    for pid, members in per_pack.items():
        total = sum(r.n_tokens for r in members)
        assert all(r.pack_tokens == total for r in members)
        assert total <= 300 or len(members) == 1      # budget, or oversize single
        assert sorted(r.pack_pos for r in members) == list(range(len(members)))
    # partition invariance
    again = training.pack_sequences(
        df.repartition(13), "n_tokens", budget=300, key_cols=["row_id"], n_buckets=8
    ).collect()
    assert {(r.row_id, r.pack_id, r.pack_pos) for r in again} == {
        (r.row_id, r.pack_id, r.pack_pos) for r in rows
    }


def test_pack_nfd_no_looser_than_sequential(spark):
    df = _docs(spark, 600)
    seq = training.pack_sequences(df, "n_tokens", 300, ["row_id"], n_buckets=4).select("pack_id").distinct().count()
    nfd = training.pack_sequences(df, "n_tokens", 300, ["row_id"], n_buckets=4, strategy="nfd").select("pack_id").distinct().count()
    assert nfd <= seq


def test_pack_rejects_bad_args(spark):
    df = _docs(spark, 8)
    with pytest.raises(ValueError):
        training.pack_sequences(df, "n_tokens", 0, ["row_id"])
    with pytest.raises(ValueError):
        training.pack_sequences(df, "n_tokens", 10, ["row_id"], strategy="bogus")


def test_greedy_pack_bounds_vector():
    tok = np.array([100, 100, 100, 500, 50, 50, 50, 50], dtype=np.int64)
    b = training.greedy_pack_bounds(tok, 300)
    assert b.tolist() == [3, 4, 8]                    # 300 | oversize 500 | 200
    assert training.greedy_pack_bounds(np.array([], dtype=np.int64), 300).tolist() == []


def test_split_mix_pack_compose(spark):
    """The end-to-end assembly story: split → mixture (replicas scattered
    by (key, copy)) → pack; replicas of a row land in different packs."""
    df = _docs(spark, 400)
    tr = training.assign_splits(df, {"train": 0.9, "val": 0.1}, key_col="conv_id")
    tr = tr.filter(F.col("split") == "train")
    mixed = training.mixture_sample(tr, {"code": 3.0}, "domain", "row_id")
    packed = training.pack_sequences(
        mixed, "n_tokens", budget=300, key_cols=["row_id", "mix_copy"], n_buckets=8
    )
    rows = packed.collect()
    code_rows = [r for r in rows if r.domain == "code"]
    by_row = {}
    for r in code_rows:
        by_row.setdefault(r.row_id, set()).add(r.pack_id)
    multi = [v for v in by_row.values() if len(v) > 1]
    assert len(multi) > len(by_row) * 0.8             # replicas scatter across packs


# ---------------------------------------------------------------------------
# plain-Python hash twin
# ---------------------------------------------------------------------------

def training_hash_py(key: str, salt: str) -> int:
    import hashlib
    h = hashlib.md5((key + "\x1f" + salt).encode()).hexdigest()
    return int(h[:15], 16)


def test_portable_hash_python_twin(spark):
    """A plain-Python reimplementation must match Spark's portable_hash
    (third engine after Spark + DuckDB)."""
    keys = ["", "a", "row42", "héllo"]
    sdf = spark.createDataFrame([(k,) for k in keys], "k STRING")
    got = {r["k"]: r["h"] for r in sdf.select(
        "k", training.portable_hash(F.col("k"), "s2").alias("h")).collect()}
    for k in keys:
        assert got[k] == training_hash_py(k, "s2"), k
