"""ops/substrings.py — exact substring dedup vs a brute-force oracle."""

from __future__ import annotations

import random
import re
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark.ops import substrings as S

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _brute(docs: list[tuple[int, str | None]], width: int, min_count: int = 2):
    """Reference implementation: enumerate every stride-1 width-token
    window as a TUPLE (no hashing), keep-one = min (id, pos), mark
    coverage, rebuild.  Mirrors the documented contract exactly."""
    toks = {i: [w for w in _WS.split(t or "") if w] for i, t in docs}
    occ = defaultdict(list)
    for i, ts in toks.items():
        for p in range(len(ts) - width + 1):
            occ[tuple(ts[p : p + width])].append((i, p))
    cuts = defaultdict(list)
    for places in occ.values():
        if len(places) >= min_count:
            keeper = min(places)
            for pl in places:
                if pl != keeper:
                    cuts[pl[0]].append(pl[1])
    out = {}
    for i, t in docs:
        ts = toks[i]
        if not cuts[i]:
            out[i] = (t, 0)
            continue
        covered = [False] * len(ts)
        for p in cuts[i]:
            for j in range(p, min(p + width, len(ts))):
                covered[j] = True
        kept = [w for w, c in zip(ts, covered) if not c]
        out[i] = (" ".join(kept), sum(covered))
    return out


def _run_spark(spark, docs, width, min_count=2, partitions=1):
    sdf = spark.createDataFrame(docs, "doc_id int, text string").repartition(
        partitions
    )
    got = S.dedup_substrings(sdf, width=width, min_count=min_count).collect()
    return {r["doc_id"]: (r["text"], r["n_tokens_removed"]) for r in got}


def test_keep_one_occurrence(spark):
    span = " ".join(f"dup{i}" for i in range(12))
    docs = [
        (1, "intro one two three " + span + " tail alpha beta"),
        (2, "different head here " + span + " other ending words"),
        (3, "totally unique doc with no shared content at all"),
        (4, span),
        (5, None),
    ]
    got = _run_spark(spark, docs, width=10)
    assert got == _brute(docs, width=10)
    # the min-(id,pos) doc keeps the span verbatim, others lose it
    assert span in got[1][0]
    assert "dup0" not in got[2][0] and got[2][1] == 12
    assert got[4] == ("", 12)
    assert got[5] == (None, 0)


def test_intra_document_repeat(spark):
    span = " ".join(f"w{i}" for i in range(8))
    docs = [(1, span + " middle filler words go here " + span)]
    got = _run_spark(spark, docs, width=8)
    # first occurrence kept, second (same doc) removed
    assert got == _brute(docs, width=8)
    assert got[1][0].startswith(span)
    assert got[1][1] == 8


def test_random_corpus_matches_oracle(spark):
    """30 docs over a 40-word vocab with planted shared spans AND
    accidental small-vocab repeats; exact match against the brute-force
    tuple-window oracle, under a 7-partition layout (layout
    independence rides the deterministic keeper rule)."""
    rng = random.Random(42)
    vocab = [f"v{i}" for i in range(40)]
    planted = [
        " ".join(rng.choice(vocab) for _ in range(15)) for _ in range(3)
    ]
    docs = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(5, 70))]
        if rng.random() < 0.5:
            p = rng.choice(planted).split()
            at = rng.randint(0, len(words))
            words = words[:at] + p + words[at:]
        docs.append((i, " ".join(words)))
    docs.append((30, None))
    docs.append((31, ""))
    for width, mc in ((8, 2), (8, 3), (12, 2)):
        got = _run_spark(spark, docs, width=width, min_count=mc, partitions=7)
        assert got == _brute(docs, width=width, min_count=mc), (width, mc)


def test_short_docs_emit_nothing(spark):
    docs = [(1, "a b c"), (2, "a b c"), (3, "a b c d e")]
    # width 4 > 3 tokens: identical short docs are NOT this operator's
    # job (document-level dedup owns them)
    got = _run_spark(spark, docs, width=4)
    assert all(v[1] == 0 for v in got.values())
    sdf = spark.createDataFrame(docs, "doc_id int, text string")
    assert S.window_fingerprints(sdf, width=4).count() == 2  # doc 3 only
    with pytest.raises(ValueError, match="width"):
        S.window_fingerprints(sdf, width=1)


def test_schema_passthrough_and_extra_columns(spark):
    span = " ".join(f"x{i}" for i in range(6))
    sdf = spark.createDataFrame(
        [(1, span, "keep1"), (2, span, "keep2")],
        "doc_id int, text string, tag string",
    )
    out = S.dedup_substrings(sdf, width=6)
    assert out.columns == ["doc_id", "text", "tag", "n_tokens_removed"]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["tag"] == "keep1" and rows[2]["tag"] == "keep2"
    assert rows[1]["n_tokens_removed"] == 0 and rows[2]["n_tokens_removed"] == 6


def _inc_oracle(hist_docs, batch_docs, width, min_count=2):
    """Full-recompute oracle over history ∪ batch, restricted to the
    batch rows (the incremental contract: history ids sort first)."""
    full = _brute(hist_docs + batch_docs, width, min_count)
    return {i: full[i] for i, _ in batch_docs}


def test_incremental_equals_full_recompute(spark):
    """incremental(index(hist), batch) == full recompute's batch rows
    when the stored history is its own fixed point (no internal dups)."""
    span = " ".join(f"q{i}" for i in range(10))
    hist = [
        (1, "stored document one holds " + span + " inside its body text"),
        (2, "another stored doc with fully unique phrasing and words"),
    ]
    batch = [
        (10, "new batch doc reusing " + span + " plus fresh tail words"),
        (11, "completely novel batch content nothing shared here at all"),
        (12, span + " appears twice in batch " + span),
    ]
    hdf = spark.createDataFrame(hist, "doc_id int, text string")
    bdf = spark.createDataFrame(batch, "doc_id int, text string")
    idx = S.substring_index(hdf, width=10)
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in S.dedup_substrings_incremental(idx, bdf, width=10).collect()
    }
    assert got == _inc_oracle(hist, batch, width=10)
    # history span out-ranks every batch occurrence: both copies in
    # doc 12 are gone, doc 10 loses its copy, doc 11 untouched
    assert "q0" not in got[10][0] and "q0" not in got[12][0]
    assert got[11][1] == 0


def test_incremental_min_count_spans_history_and_batch(spark):
    span = " ".join(f"m{i}" for i in range(8))
    hist = [(1, "stored context " + span + " stored tail")]
    batch = [(10, "batch head " + span + " batch tail")]
    hdf = spark.createDataFrame(hist, "doc_id int, text string")
    bdf = spark.createDataFrame(batch, "doc_id int, text string")
    idx = S.substring_index(hdf, width=8)
    # total occurrences = 1 hist + 1 batch = 2
    got2 = S.dedup_substrings_incremental(idx, bdf, width=8, min_count=2)
    assert got2.collect()[0]["n_tokens_removed"] == 8
    got3 = S.dedup_substrings_incremental(idx, bdf, width=8, min_count=3)
    assert got3.collect()[0]["n_tokens_removed"] == 0


def test_index_update_rounds(spark):
    """Three batches through the append-only index store: each round
    probes ``merged_index`` of the store and appends the CLEANED batch's
    ``stamped_index`` delta. A span stored in round 1 still suppresses
    copies arriving in round 3, and a cut span does not inflate n_occ."""
    span = " ".join(f"r{i}" for i in range(8))
    b1 = [(1, "first round doc with " + span + " inside")]
    b2 = [(10, "second round doc reusing " + span + " again")]
    b3 = [(20, "third round doc also reusing " + span + " here")]
    mk = lambda d: spark.createDataFrame(d, "doc_id int, text string")
    store = S.stamped_index(mk(b1), width=8)
    c2 = S.dedup_substrings_incremental(S.merged_index(store, 8), mk(b2), width=8)
    assert c2.collect()[0]["n_tokens_removed"] == 8
    store = store.unionByName(S.stamped_index(c2.select("doc_id", "text"), width=8))
    idx = S.merged_index(store, 8)
    c3 = S.dedup_substrings_incremental(idx, mk(b3), width=8)
    assert c3.collect()[0]["n_tokens_removed"] == 8
    # the span's fingerprint still counts exactly ONE stored occurrence
    # (round 2's copy was cut before its delta was indexed)
    stats = {(r["h1"], r["h2"]): r["n_occ"] for r in idx.collect()}
    hist_wins = S.window_fingerprints(mk(b1), width=8).collect()
    span_keys = {(r["h1"], r["h2"]) for r in hist_wins}
    # the pure-span window appears once in b1 and was never re-added
    assert all(stats[k] == 1 for k in span_keys if k in stats)


def test_runner_dedup_substrings_flag(spark, tmp_path):
    """CLI surface: --dedup-substrings removes duplicated spans in the
    full mode (keep-one within the batch), persists the fingerprint
    index, and the incremental mode cleans the next batch against
    history; width mismatch on an existing index exits."""
    from pdf_ocr_api_spark import runner

    span = " ".join(f"cli{i}" for i in range(10))
    mk = lambda cid, txt: (cid, 0, "user", txt, None)
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    b1 = spark.createDataFrame(
        [mk("a0", "first keeper document body holds " + span + " and more"),
         mk("a1", "second document repeats the block " + span + " again"),
         mk("a2", "independent unique content with nothing shared at all")],
        schema,
    )
    b2 = spark.createDataFrame(
        [mk("b0", "a later batch reusing " + span + " from history"),
         mk("b1", "fresh unseen batch text entirely its own words here")],
        schema,
    )
    in1, in2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    b1.write.parquet(in1)
    b2.write.parquet(in2)
    root = str(tmp_path / "run")
    knobs = ["--min-quality", "0.3", "--min-tokens", "3", "--dedup-threshold",
             "0.6", "--buckets", "8", "--dedup-substrings", "10"]
    assert runner.main(["--clean-corpus", "--input", in1, "--output", root] + knobs) == 0
    stored = {r.conv_id: r.clean_text for r in spark.read.parquet(f"{root}/corpus").collect()}
    assert span in stored["a0"]            # keeper (min turn-id)
    assert "cli0" not in stored["a1"]      # batch-internal repeat cut
    assert "nothing shared" in stored["a2"]
    idx = spark.read.parquet(f"{root}/substring_index")
    assert idx.columns == ["h1", "h2", "n_occ", "width", "fp_version"]
    assert idx.select("width").distinct().collect()[0][0] == 10
    assert idx.select("fp_version").distinct().collect()[0][0] == S.FP_VERSION

    assert runner.main(["--clean-incremental", "--input", in2, "--output", root] + knobs) == 0
    stored2 = {r.conv_id: r.clean_text for r in spark.read.parquet(f"{root}/corpus").collect()}
    assert "cli0" not in stored2["b0"]     # history suppresses the reuse
    assert "its own words" in stored2["b1"]

    # width mismatch on the stored index is a hard error
    bad = [k if k != "10" else "12" for k in knobs]
    with pytest.raises(SystemExit, match="width"):
        runner.main(["--clean-incremental", "--input", in2, "--output", root] + bad)


def test_batch_rolling_equals_scalar_rolling():
    """The r6 whole-batch vectorized rolling pass (`_batch_rolling`)
    must be byte-identical to the per-document scalar form
    (`_rolling`) for every document in a batch, including empty and
    shorter-than-width documents."""
    import numpy as np

    rng = random.Random(7)
    width = 5
    docs = [
        np.array(
            [rng.getrandbits(64) for _ in range(rng.choice([0, 1, 3, width - 1, width, 17, 64]))],
            dtype=np.uint64,
        )
        for _ in range(50)
    ]
    lens = np.array([len(d) for d in docs], dtype=np.int64)
    flat = (
        np.concatenate([d for d in docs if len(d)])
        if lens.sum()
        else np.empty(0, dtype=np.uint64)
    )
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    pos_in_doc = np.arange(len(flat), dtype=np.int64) - np.repeat(starts, lens)
    for a in (S._A1, S._A2):
        h, g, pos = S._batch_rolling(flat, lens, pos_in_doc, width, a)
        expected = [S._rolling(d, width, a) for d in docs]
        exp_flat = np.concatenate([e for e in expected]) if expected else np.empty(0)
        assert np.array_equal(h, exp_flat)
        # window positions are per-doc 0-based indices
        exp_pos = np.concatenate(
            [np.arange(max(len(d) - width + 1, 0)) for d in docs]
        )
        assert np.array_equal(pos, exp_pos)


def test_runner_rejects_stale_fingerprint_index(spark, tmp_path):
    """An index written by an older fingerprint family (different or
    absent fp_version) must hard-error on incremental probes — probing
    it would silently match nothing and cost recall without a trace."""
    from pyspark.sql import functions as F

    from pdf_ocr_api_spark import runner

    mk = lambda cid, txt: (cid, 0, "user", txt, None)
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    words = " ".join(f"w{i}" for i in range(30))
    b1 = spark.createDataFrame([mk("a0", words)], schema)
    in1 = str(tmp_path / "b1")
    b1.write.parquet(in1)
    root = str(tmp_path / "run")
    knobs = ["--min-quality", "0.0", "--min-tokens", "1", "--dedup-threshold",
             "0.6", "--buckets", "8", "--dedup-substrings", "10"]
    assert runner.main(["--clean-corpus", "--input", in1, "--output", root] + knobs) == 0
    # rewrite the index with a stale version stamp
    idx_path = f"{root}/substring_index"
    idx = spark.read.parquet(idx_path).withColumn("fp_version", F.lit(1))
    idx.write.mode("overwrite").parquet(str(tmp_path / "stale"))
    spark.read.parquet(str(tmp_path / "stale")).write.mode("overwrite").parquet(idx_path)
    with pytest.raises(SystemExit, match="fingerprint family"):
        runner.main(["--clean-incremental", "--input", in1, "--output", root] + knobs)
