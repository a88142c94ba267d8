"""Tests for the training-data pipeline operators (ops/)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark.ops import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat near the river bank today"),  # near dup of 0
        (3, "spark processes distributed data with resilient datasets and catalyst optimizer"),
        (4, "completely different content about cooking pasta with tomato sauce and basil"),
        (5, "El rápido zorro marrón salta sobre el perro perezoso cerca de la orilla"),
        (6, "THE QUICK  BROWN fox jumps over the lazy dog near the river bank today"),  # case/ws dup of 0
    ]
    return spark.createDataFrame(base, "doc_id LONG, text STRING")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.dup_count == 3  # 0, 1, 6 (case/whitespace-normalized)
    assert g.keep_id == 0
    assert list(g.member_ids) == [0, 1, 6]


def test_exact_duplicates_member_cap(spark):
    """max_members bounds member_ids BEFORE the collect (a 10^8-member
    template family must never materialize one giant array row);
    dup_count still carries the true size and keep_id the true min."""
    rows = [(i, "the very same template text repeated") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    g = dedup.exact_duplicates(df, max_members=5).collect()
    assert len(g) == 1
    assert g[0].dup_count == 20 and g[0].keep_id == 0
    assert list(g[0].member_ids) == [0, 1, 2, 3, 4]
    # the bounding window must ride the groupBy's hash partitioning —
    # exactly one exchange in the plan, same as the uncapped form
    from tests import plan_inspect as PI

    capped = PI.exchange_count(dedup.exact_duplicates(df, max_members=5))
    uncapped = PI.exchange_count(dedup.exact_duplicates(df, max_members=None))
    assert capped == uncapped


def test_minhash_lsh_finds_near_dups(docs):
    # bands=16 (r=2): P(collide) = 1-(1-j^2)^16 ≈ 0.9998 at j=0.65 — the
    # recall-tuned banding for near-dup candidates
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (0, 6) in got and (1, 6) in got  # exact dups always collide
    assert (0, 2) in got  # one-token change shares most shingles
    assert (0, 4) not in got and (3, 4) not in got  # unrelated never pair


def test_jaccard_verify(docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16)
    verified = dedup.jaccard_verify(docs, pairs, threshold=0.5).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in verified}
    assert jac[(0, 1)] == 1.0
    assert 0.5 <= jac[(0, 2)] < 1.0
    assert (0, 4) not in jac


def test_simhash_near_pairs(docs):
    sim = dedup.simhash64(docs)
    pairs = dedup.simhash_near_pairs(sim, max_hamming=10)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 1)) == 0 and got.get((0, 6)) == 0
    # near-dup has small but possibly nonzero hamming
    if (0, 2) in got:
        assert got[(0, 2)] <= 10
    assert (0, 4) not in got


def test_simhash_vectorized_matches_explode(spark, docs):
    """The vectorized (transform+xxhash64 → numpy bit-vote) build must be
    BYTE-IDENTICAL to the r1-r3 explode/aggregate twin — same xxhash64
    token values (seed 42 both paths), same strict-majority vote — and
    both must drop null-text docs the same way."""
    withnull = docs.union(
        spark.createDataFrame([(99, None)], "doc_id LONG, text STRING")
    )
    fast = sorted((r.id, r.simhash) for r in dedup.simhash64(withnull).collect())
    slow = sorted((r.id, r.simhash) for r in dedup.simhash64_explode(withnull).collect())
    assert fast == slow
    assert all(i != 99 for i, _ in fast)  # null text dropped, like explode
    # empty text still gets a signature (split("") -> [""], one token)
    empty = spark.createDataFrame([(7, "")], "doc_id LONG, text STRING")
    assert dedup.simhash64(empty).count() == 1


def test_simhash_banding_full_recall(spark):
    """Manku banding must have FULL recall at hamming ≤ k — including
    pairs whose differing bits all fall in the TOP bits (the pairs the
    old single-prefix blocking silently missed), and across random
    placements, verified against an exact O(n²) oracle."""
    import random

    rng = random.Random(1234)

    def _signed(v):  # 64-bit two's complement for Spark LONG
        return v - (1 << 64) if v >= (1 << 63) else v

    base = rng.getrandbits(63)
    rows = [(0, base)]
    nid = 1
    # plant pairs at hamming 1..3 with differing bits in the top 16 bits
    # (the old prefix block), the bottom bits, and straddling block edges
    for bits in ([63], [63, 62], [63, 47, 31], [0, 1], [15, 16, 17], [20, 41, 62]):
        v = base
        for b in bits:
            v ^= 1 << b
        rows.append((nid, _signed(v)))
        nid += 1
    # unrelated noise
    for _ in range(40):
        rows.append((nid, _signed(rng.getrandbits(64))))
        nid += 1

    def _h(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    want = {(a, b) for (a, va) in rows for (b, vb) in rows if a < b and _h(va, vb) <= 3}

    sim = spark.createDataFrame(rows, "id LONG, simhash LONG")
    got = {(r.id_a, r.id_b) for r in dedup.simhash_near_pairs(sim, max_hamming=3).collect()}
    assert got == want, (sorted(want - got), sorted(got - want))


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16).astype(np.float32)  # near neighbor of 0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>"), vecs


def test_brute_force_topk_matches_numpy(emb):
    df, vecs = emb
    q = [float(x) for x in vecs[0]]
    got = similarity.brute_force_topk(df.filter(F.col("vec_id") != 0), q, k=5).collect()
    v = vecs.astype(np.float64)
    cos = v @ v[0] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    want = sorted(((round(c, 6), i) for i, c in enumerate(cos) if i != 0), key=lambda t: (-t[0], t[1]))[:5]
    assert [r.id for r in got] == [i for _, i in want]
    assert got[0].id == 1  # the planted near neighbor wins


def test_lsh_topk_recall(emb):
    df, vecs = emb
    q = [float(x) for x in vecs[0]]
    brute = {r.id for r in similarity.brute_force_topk(df.filter(F.col("vec_id") != 0), q, k=5).collect()}
    approx = {r.id for r in similarity.lsh_topk(df.filter(F.col("vec_id") != 0), q, k=5, n_planes=8).collect()}
    # multiprobe SRP on 50 vectors must at least find the planted near-dup
    assert 1 in approx
    assert len(brute & approx) >= 2


def test_token_counts(docs):
    rows = {r.doc_id: (r.ws, r.bpe) for r in docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("ws"),
        textstats.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()}
    assert rows[0][0] == 14
    assert rows[6][0] == 14  # whitespace-normalized count
    assert rows[0][1] >= rows[0][0]  # BPE-ish ≥ whitespace tokens


def test_lang_id(spark):
    rows = [
        (0, "the cat and the dog of the house is in the garden"),
        (1, "el perro y la casa de los vecinos que viven cerca"),
        (2, "der hund und die katze ist nicht im haus"),
        (3, "xyzzy qwerty asdf"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.lang for r in df.select("doc_id", textstats.lang_id(F.col("text")).alias("lang")).collect()}
    assert got[0] == "en" and got[1] == "es" and got[2] == "de" and got[3] == "und"


def test_quality_features(docs, spark):
    q = {r.id: r for r in textstats.quality_features(docs).collect()}
    assert 0 < q[0].quality_score <= 1
    junk = spark.createDataFrame([(99, "1 2 3 4 5 , , , . . . 9 9 9")], "doc_id LONG, text STRING")
    jq = textstats.quality_features(junk).collect()[0]
    assert jq.quality_score < q[0].quality_score


def test_embedding_near_dup(emb, spark):
    df, vecs = emb
    exact = similarity.embedding_near_pairs_exact(df, threshold=0.95)
    pairs = {(r.id_a, r.id_b): r.cosine for r in exact.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99  # the planted near-dup


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """200 base vectors + 40 planted near-dups AT the 0.9 threshold
    (noise factors 0.40/0.48 → cosine ≈ 0.93/0.90) — the regime where a
    single 12-plane signature keeps only ~16 % of true pairs."""
    rng = np.random.default_rng(99)
    vecs = rng.standard_normal((200, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    nid = 200
    for i in range(40):
        src = vecs[i]
        g = rng.standard_normal(16)
        g = g / np.linalg.norm(g) * np.linalg.norm(src)
        factor = 0.40 if i % 2 == 0 else 0.48
        dup = src + factor * g
        rows.append((nid, [float(x) for x in dup]))
        nid += 1
    # a 12-neighbor cluster around vector 0 so its brute-force top-10 is
    # entirely in the cosine ≈ 0.88-0.95 regime (the lsh_topk recall test)
    for j in range(12):
        g = rng.standard_normal(16)
        g = g / np.linalg.norm(g) * np.linalg.norm(vecs[0])
        dup = vecs[0] + (0.33 + 0.015 * j) * g
        rows.append((nid, [float(x) for x in dup]))
        nid += 1
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_lsh_topk_multi_table_recall(near_dup_corpus):
    """OR-construction over independent SRP tables (defaults: 10 planes
    × 6 tables): recall@10 vs brute force ≥ 0.9 for a query whose true
    neighbors sit near cosine 0.9."""
    q = [float(x) for x in near_dup_corpus.filter(F.col("vec_id") == 0)
         .select("embedding").collect()[0][0]]
    cand = near_dup_corpus.filter(F.col("vec_id") != 0)
    brute = [r.id for r in similarity.brute_force_topk(cand, q, k=10).collect()]
    approx = {r.id for r in similarity.lsh_topk(cand, q, k=10).collect()}
    recall = len(set(brute) & approx) / 10
    assert recall >= 0.9, f"recall@10={recall} brute={brute} approx={sorted(approx)}"


def test_minhash_band_divisibility_guard(docs):
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=5)


def test_quality_features_null_text(spark):
    df = spark.createDataFrame([(1, None), (2, "texto normal aqui presente")], "doc_id LONG, text STRING")
    q = {r.id: r for r in textstats.quality_features(df).collect()}
    assert q[1].n_tokens == 0 and q[1].n_chars == 0
    assert q[1].quality_score == 0.1 + 0.1  # only the punct/digit bonuses
    assert q[2].n_tokens == 4


def test_connected_components_vs_union_find(spark):
    """Min-label propagation + pointer jumping must equal a Python
    union-find oracle on a graph with long chains (deep propagation),
    stars, singleton pairs, and a cycle."""
    import random

    rng = random.Random(7)
    edges = []
    # a 40-node chain (depth stress for the pointer jumping)
    chain = [1000 + i for i in range(40)]
    edges += list(zip(chain, chain[1:]))
    # a star
    edges += [(2000, 2000 + i) for i in range(1, 8)]
    # a cycle
    edges += [(3000, 3001), (3001, 3002), (3002, 3000)]
    # random pairs
    for _ in range(30):
        a, b = rng.sample(range(4000, 4060), 2)
        edges.append((a, b))

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    got = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert got == want


def test_near_dup_groups_end_to_end(docs):
    """LSH -> Jaccard verify -> components: the exact/near dups of doc 0
    form one group with keeper 0; unrelated docs form no group."""
    groups = {r.id: r.comp for r in dedup.near_dup_groups(docs, threshold=0.5, bands=16).collect()}
    assert groups.get(0) == 0 and groups.get(1) == 0 and groups.get(6) == 0
    assert groups.get(2) == 0  # one-token change passes jaccard 0.5 and links in
    assert 3 not in groups and 4 not in groups and 5 not in groups
    # dedup keep-list semantics: drop everything whose comp != id
    drop = {i for i, c in groups.items() if i != c}
    assert drop == {1, 2, 6}


def test_clean_corpus_end_to_end(spark, depara):
    """The corpus-cleaning composition: junk, too-short, wrong-language
    and near-duplicate turns are dropped; good prose survives with its
    language and quality attached."""
    from pdf_ocr_api_spark.ops import corpus

    good_en = ("the quick brown fox jumps over the lazy dog and runs across the river "
               "bank to find the other animals in the quiet green forest of the north")
    near_dup = good_en.replace("quiet green", "quiet dark")
    rows = [
        ("c0", 0, "user", good_en, None),
        ("c0", 1, "user", near_dup, None),                       # near-dup of turn 0
        ("c0", 2, "user", "1 2 3 , , , . . . 9 9 9 8 7", None),  # junk
        ("c0", 3, "user", "too short", None),                    # < 5 tokens
        ("c1", 0, "user", "el perro y la casa de los vecinos que viven cerca de la "
                           "plaza mayor donde los ninos juegan cada tarde de verano", None),  # es
        ("c1", 1, "user", "the cat and the dog of the house are in the garden near the "
                           "old stone wall where the birds sing in the morning light", None),
    ]
    sdf = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING")
    out = corpus.clean_corpus(sdf, min_quality=0.5, langs=["en"], dedup_threshold=0.6,
                              depara=depara, parallelism=4).collect()
    kept = {(r.conv_id, r.turn_idx): r for r in out}

    assert ("c1", 1) in kept and kept[("c1", 1)].lang == "en"
    assert ("c0", 2) not in kept          # junk quality
    assert ("c0", 3) not in kept          # token floor
    assert ("c1", 0) not in kept          # language gate
    # exactly ONE of the near-dup pair survives (keeper = smallest
    # surrogate hash — deterministic, not order-dependent)
    pair = [(c, t) for (c, t) in kept if c == "c0" and t in (0, 1)]
    assert len(pair) == 1, pair
    assert all(r.quality_score >= 0.5 and r.n_tokens >= 5 for r in out)


def _inc_corpus(spark):
    a = "the quick brown fox jumps over the lazy dog near the river bank in the north"
    b = "spark processes distributed data with resilient datasets and the catalyst optimizer engine"
    c = "cooking pasta with fresh tomato sauce and basil is a simple joy of summer evenings"
    d = "mountains rise steeply above the quiet valley where the cold streams run all year"
    f = "libraries hold thousands of old books about science history art and forgotten trades"
    batch1 = [
        (0, a),
        (1, a.replace("north", "south")),  # near-dup of 0 → intra-batch1 loser
        (2, b),
        (3, c),
        (4, d),
    ]
    batch2 = [
        (10, a.replace("quick", "swift")),  # cross-batch near-dup of 0 → dropped
        (11, b),                            # exact copy of kept 2 → dropped
        (12, f),
        (13, f.replace("forgotten", "ancient")),  # intra-batch2 near-dup → keep 12
        (14, "entirely new unique content about deep sea creatures and their glowing light organs"),
    ]
    schema = "doc_id LONG, text STRING"
    return (
        spark.createDataFrame(batch1, schema),
        spark.createDataFrame(batch2, schema),
    )


def test_incremental_keep_equals_full_recompute(spark):
    """incremental(batch1) + incremental(batch2 | kept1) must keep
    EXACTLY the ids the full near_dup_groups recompute over the union
    keeps — cross-batch near-dups planted in both directions (vs a kept
    doc, vs an exact copy of a kept doc, and intra-batch-2)."""
    b1, b2 = _inc_corpus(spark)
    kw = dict(threshold=0.5, num_hashes=32, bands=16)

    empty = b1.limit(0)
    kept1 = dedup.incremental_keep(empty, b1, **kw)
    got1 = {r.doc_id for r in kept1.collect()}
    assert got1 == {0, 2, 3, 4}

    kept2 = dedup.incremental_keep(kept1, b2, **kw)
    got2 = {r.doc_id for r in kept2.collect()}
    assert got2 == {12, 14}

    union = b1.unionByName(b2)
    groups = dedup.near_dup_groups(union, **kw)
    losers = {r.id for r in groups.collect() if r.id != r.comp}
    full_kept = {r.doc_id for r in union.collect()} - losers
    assert got1 | got2 == full_kept

    # the signature table IS the index: passing persisted kept signatures
    # must change nothing
    sigs1 = dedup.minhash_signatures(kept1, num_hashes=32)
    kept2b = dedup.incremental_keep(kept1, b2, kept_sigs=sigs1, **kw)
    assert {r.doc_id for r in kept2b.collect()} == got2


def test_clean_corpus_incremental_equals_full(spark, depara):
    """clean_corpus(b1 ∪ b2) == clean_corpus(b1) ∪
    clean_corpus_incremental(kept1, b2), byte-equal — with cross-batch
    near-dup AND cross-batch exact-dup turns planted. Batch-2 conv ids
    sort after batch-1's (the append contract)."""
    from pdf_ocr_api_spark.ops import corpus

    base = ("the quick brown fox jumps over the lazy dog and runs across the river "
            "bank to find the other animals in the quiet green forest of the north")
    uniq = ("the cat and the dog of the house are in the garden near the "
            "old stone wall where the birds sing in the morning light")
    b1_rows = [
        ("a0", 0, "user", base, None),
        ("a0", 1, "user", base.replace("green", "dark"), None),  # intra-b1 near-dup
        ("a1", 0, "user", uniq, None),
    ]
    b2_rows = [
        ("b0", 0, "user", base.replace("quick", "swift"), None),  # cross-batch near-dup
        ("b0", 1, "user", uniq, None),                            # cross-batch exact dup
        ("b1", 0, "user", "entirely new unique content about deep sea creatures and "
                           "their glowing light organs in the dark water", None),
    ]
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    b1 = spark.createDataFrame(b1_rows, schema)
    b2 = spark.createDataFrame(b2_rows, schema)
    kw = dict(min_quality=0.3, min_tokens=5, dedup_threshold=0.6, depara=depara,
              parallelism=4)

    full = corpus.clean_corpus(b1.unionByName(b2), **kw).collect()
    kept1 = corpus.clean_corpus(b1, **kw)
    inc2 = corpus.clean_corpus_incremental(kept1, b2, **kw).collect()

    def key(rows):
        return sorted((r.conv_id, r.turn_idx, r.clean_text, r.lang, r.n_tokens,
                       r.quality_score) for r in rows)

    assert key(full) == key(list(kept1.collect()) + list(inc2))
    # the planted drops actually happened
    got = {(r.conv_id, r.turn_idx) for r in inc2}
    assert ("b0", 0) not in got and ("b0", 1) not in got
    assert ("b1", 0) in got

    # the persisted-signature-table path (the production shape: never
    # re-hash history) must change nothing
    sigs1 = corpus.corpus_signatures(kept1)
    inc2b = corpus.clean_corpus_incremental(kept1, b2, kept_sigs=sigs1, **kw).collect()
    assert key(inc2b) == key(inc2)


def test_runner_clean_corpus_cycle(spark, tmp_path):
    """The spark-submit corpus-job surface: --clean-corpus writes
    corpus + signature index; --clean-incremental appends only the new
    batch's survivors (deduped against the STORED pair) — the chained
    store equals the full recompute, and the signature index stays
    row-consistent with the corpus."""
    from pdf_ocr_api_spark import runner
    from pdf_ocr_api_spark.ops import corpus

    base = ("the quick brown fox jumps over the lazy dog and runs across the river "
            "bank to find the other animals in the quiet green forest of the north")
    uniq = ("the cat and the dog of the house are in the garden near the "
            "old stone wall where the birds sing in the morning light")
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    b1 = spark.createDataFrame(
        [("a0", 0, "user", base, None), ("a1", 0, "user", uniq, None)], schema)
    b2 = spark.createDataFrame(
        [("b0", 0, "user", base.replace("quick", "swift"), None),  # near-dup of history
         ("b1", 0, "user", "entirely new unique content about deep sea creatures and "
                            "their glowing light organs in the dark water", None)], schema)
    in1, in2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    b1.write.parquet(in1)
    b2.write.parquet(in2)
    root = str(tmp_path / "run")
    knobs = ["--min-quality", "0.3", "--min-tokens", "5",
             "--dedup-threshold", "0.6", "--buckets", "8"]

    # incremental before any corpus exists must fail cleanly
    assert runner.main(["--clean-incremental", "--input", in2, "--output", root] + knobs) == 1

    assert runner.main(["--clean-corpus", "--input", in1, "--output", root] + knobs) == 0
    assert runner.main(["--clean-incremental", "--input", in2, "--output", root] + knobs) == 0

    stored = spark.read.parquet(f"{root}/corpus")
    full = corpus.clean_corpus(
        b1.unionByName(b2), min_quality=0.3, min_tokens=5, dedup_threshold=0.6, parallelism=8
    )
    key = lambda rows: sorted((r.conv_id, r.turn_idx, r.clean_text) for r in rows)
    assert key(stored.collect()) == key(full.collect())
    assert ("b0", 0) not in {(r.conv_id, r.turn_idx) for r in stored.collect()}
    sigs = spark.read.parquet(f"{root}/signatures")
    assert sigs.count() == stored.count()
    # the run log persists one summary row per job, with the recall-loss
    # accounting, next to the store
    runs = spark.read.parquet(f"{root}/runs").collect()
    assert sorted(r.mode for r in runs) == ["clean_corpus", "clean_incremental"]
    assert all(r.dropped_buckets == 0 for r in runs)


def test_runner_scrub_and_decontam_flags(spark, tmp_path):
    """r5 CLI surface: --scrub-pii redacts before the store is written,
    and --decontam-probes drops benchmark-overlapping turns in BOTH
    modes — the flags reach ops/corpus with the right plumbing."""
    from pdf_ocr_api_spark import runner

    bench = ("what is the capital of france and which river flows through "
             "the city on its way to the northern sea coast")
    keep = ("the cat and the dog of the house are in the garden near the "
            "old stone wall where the birds sing in the morning light")
    pii = ("please send the signed contract to maria.silva@example.com "
           "before the end of the week so the team can file it properly")
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    b1 = spark.createDataFrame([("a0", 0, "user", keep, None),
                                ("a1", 0, "user", pii, None)], schema)
    b2 = spark.createDataFrame([("b0", 0, "user", bench, None),
                                ("b1", 0, "user", "entirely new unique content about deep "
                                 "sea creatures and their glowing light organs", None)], schema)
    in1, in2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    b1.write.parquet(in1)
    b2.write.parquet(in2)
    probes_path = str(tmp_path / "probes")
    spark.createDataFrame([(bench,)], "text STRING").write.parquet(probes_path)
    root = str(tmp_path / "run")
    knobs = ["--min-quality", "0.3", "--min-tokens", "5", "--dedup-threshold", "0.6",
             "--buckets", "8", "--scrub-pii",
             "--decontam-probes", probes_path, "--decontam-n", "4"]

    assert runner.main(["--clean-corpus", "--input", in1, "--output", root] + knobs) == 0
    assert runner.main(["--clean-incremental", "--input", in2, "--output", root] + knobs) == 0

    stored = spark.read.parquet(f"{root}/corpus").collect()
    ids = {(r.conv_id, r.turn_idx) for r in stored}
    assert ("b0", 0) not in ids            # benchmark turn decontaminated
    assert ("b1", 0) in ids                # clean new content survives
    a1 = next(r.clean_text for r in stored if r.conv_id == "a1")
    assert "<EMAIL>" in a1 and "maria.silva@example.com" not in a1
    # signature index stays row-consistent through the gated path
    assert spark.read.parquet(f"{root}/signatures").count() == len(stored)


def test_runner_splits_flag(spark, tmp_path):
    """r5 CLI surface: --splits stores a leakage-safe hash split column;
    the assignment is hash-stable, so the incremental batch's rows agree
    with what a full rebuild would assign — and the run log still
    carries the dedup metrics (the split projection must not drop the
    metrics attribute)."""
    from pdf_ocr_api_spark import runner
    from pdf_ocr_api_spark.ops import training

    texts = [
        (f"c{i}", 0, "user",
         f"document number {i} about the {w} in the old town near the river "
         "where the market opens early and the stalls sell bread and fruit", None)
        for i, w in enumerate(["library", "station", "harbor", "school", "garden",
                               "museum", "bridge", "mill", "bakery", "tower"])
    ]
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    b1 = spark.createDataFrame(texts[:6], schema)
    b2 = spark.createDataFrame(texts[6:], schema)
    in1, in2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    b1.write.parquet(in1)
    b2.write.parquet(in2)
    root = str(tmp_path / "run")
    knobs = ["--min-quality", "0.3", "--min-tokens", "5", "--dedup-threshold", "0.6",
             "--buckets", "8", "--splits", "train=0.6,val=0.4", "--split-salt", "s9"]

    assert runner.main(["--clean-corpus", "--input", in1, "--output", root] + knobs) == 0
    assert runner.main(["--clean-incremental", "--input", in2, "--output", root] + knobs) == 0

    stored = spark.read.parquet(f"{root}/corpus")
    assert "split" in stored.columns
    # stored assignment == fresh assignment of the same keys (stability)
    want = {
        r.conv_id: r.split
        for r in training.assign_splits(
            stored.select("conv_id").distinct(), {"train": 0.6, "val": 0.4},
            key_col="conv_id", salt="s9",
        ).collect()
    }
    assert all(r.split == want[r.conv_id] for r in stored.collect())
    assert set(want.values()) == {"train", "val"}
    # metrics survived the split projection into the runs table
    runs = spark.read.parquet(f"{root}/runs").collect()
    assert all(r.dropped_buckets is not None for r in runs)


def test_incremental_kept_set_is_independent(spark):
    """Property over random corpora + planted near-dups: after
    incremental(b1) + incremental(b2 | kept1), NO verified near-dup pair
    exists WITHIN the final kept set (keepers are one per component, and
    batch-2 keepers must have no verified link to history). This is the
    semantic guarantee that survives even the documented divergence
    cases (bridges / chains-through-dropped), where set equality with
    the full recompute does not. Deterministic (seeded corpora + seeded
    engine hashes), three corpus draws."""
    import random

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
             "lima mike november oscar papa quebec romeo sierra tango uniform victor "
             "whiskey xray yankee zulu amber birch cedar dune ember fjord grove "
             "harbor inlet jetty knoll ledge mesa notch oxbow").split()
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        docs = []
        base_texts = []
        for i in range(14):
            t = " ".join(rng.choice(words) for _ in range(12))
            base_texts.append(t)
            docs.append((i, t))
        nid = 20
        for _ in range(6):  # near-dups of random bases, split across batches
            src = base_texts[rng.randrange(len(base_texts))].split()
            src[rng.randrange(len(src))] = rng.choice(words)
            docs.append((nid, " ".join(src)))
            nid += 1
        df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
        b1 = df.filter(F.col("doc_id") < 17)
        b2 = df.filter(F.col("doc_id") >= 17)
        kw = dict(threshold=0.6, num_hashes=32, bands=16)
        kept1 = dedup.incremental_keep(b1.limit(0), b1, **kw)
        kept2 = dedup.incremental_keep(kept1, b2, **kw)
        final = kept1.unionByName(kept2)
        fin = sorted(r.doc_id for r in final.select("doc_id").collect())
        pairs = [(a, b) for i, a in enumerate(fin) for b in fin[i + 1 :]]
        ver = dedup.jaccard_verify(
            final, spark.createDataFrame(pairs, "id_a LONG, id_b LONG"), threshold=0.6
        )
        assert ver.count() == 0, (seed, ver.collect())


def test_sync_signatures_self_heals(spark, tmp_path):
    """The corpus/signature store reconciler: creates a missing index,
    backfills rows the index lacks (the crash-between-appends window),
    and is a no-op when consistent."""
    from pdf_ocr_api_spark.ops import corpus

    rows = [("c%d" % i, 0, "text number %d with several distinct words here" % i,
             "en", 7, 0.9) for i in range(4)]
    df = spark.createDataFrame(
        rows,
        "conv_id STRING, turn_idx INT, clean_text STRING, lang STRING, "
        "n_tokens INT, quality_score DOUBLE",
    )
    ct = str(tmp_path / "corpus")
    st = str(tmp_path / "sigs")
    df.write.parquet(ct)

    assert corpus.sync_signatures(spark, ct, st) == 4  # create
    assert corpus.sync_signatures(spark, ct, st) == 0  # consistent

    st2 = str(tmp_path / "sigs_partial")
    spark.read.parquet(st).limit(2).write.parquet(st2)  # simulated half-append
    assert corpus.sync_signatures(spark, ct, st2) == 2  # backfill
    assert spark.read.parquet(st2).count() == 4


def test_clean_corpus_metrics_observable(spark, depara):
    """The LSH bucket-cap recall-loss accounting must be readable off the
    clean_corpus RESULT (dedup_metrics), not just executor logs."""
    from pdf_ocr_api_spark.ops import corpus

    fam = "the same exact sentence repeated for the template family test again and again"
    # distinct near-identical texts (exact dedup must NOT collapse them)
    rows = [("c%d" % i, 0, "user", fam + " variant %d" % i, None) for i in range(12)]
    sdf = spark.createDataFrame(
        rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    )
    out = corpus.clean_corpus(sdf, min_quality=0.0, min_tokens=3, dedup_threshold=0.5,
                              depara=depara, max_bucket_size=4)
    out.collect()
    m = corpus.dedup_metrics(out)
    assert m["dropped_buckets"] > 0 and m["max_bucket"] >= 12
    # uncapped run reports zeros
    out2 = corpus.clean_corpus(sdf, min_quality=0.0, min_tokens=3, dedup_threshold=0.5,
                               depara=depara, max_bucket_size=None)
    out2.collect()
    assert corpus.dedup_metrics(out2)["dropped_buckets"] == 0
    # a DERIVED frame has no metrics — None ("metrics lost"), never zeros
    assert corpus.dedup_metrics(out.limit(1)) is None


def test_incremental_keep_bucket_cap_and_metrics(spark):
    """incremental_keep must carry the same quadratic-skew backstop as
    the full pipeline: a template family in the batch (or a mega-bucket
    in the stored index) is dropped with OBSERVABLE accounting."""
    from pdf_ocr_api_spark.ops import corpus

    fam = [(i, "the same exact template sentence repeated again and again") for i in range(12)]
    uniq = [(100, "completely different content about cooking pasta with fresh tomato sauce")]
    batch = spark.createDataFrame(fam + uniq, "doc_id LONG, text STRING")
    empty = batch.limit(0)
    out = dedup.incremental_keep(empty, batch, threshold=0.5, bands=16, max_bucket_size=4)
    kept = {r.doc_id for r in out.collect()}
    # every family bucket over cap -> no intra candidates -> all kept
    assert kept == {i for i, _ in fam} | {100}
    m = corpus.dedup_metrics(out)
    assert m is not None and m["dropped_buckets"] > 0 and m["max_bucket"] >= 12
    # uncapped: family collapses to its min id
    out2 = dedup.incremental_keep(empty, batch, threshold=0.5, bands=16)
    assert {r.doc_id for r in out2.collect()} == {0, 100}
    assert corpus.dedup_metrics(out2) == {"dropped_buckets": 0, "max_bucket": None}


def test_connected_components_reliable_checkpoint(spark, request):
    """With a session checkpoint directory the cuts take the reliable
    path (storage-backed checkpoint() instead of executor-local blocks):
    identical components, and checkpoint data actually written under the
    directory."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    got_local = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    # requested only now: the local run above must not see the directory
    ckpt = request.getfixturevalue("checkpoint_dir")
    got_rel = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert got_rel == got_local
    written = list(ckpt.rglob("*"))
    assert written, "reliable checkpoint dir is empty — checkpoint() never wrote"


def test_near_dup_groups_reliable_checkpoint(docs, request):
    """near_dup_groups' cuts take the reliable path under a session
    checkpoint directory and return the same groups."""
    a = dedup.near_dup_groups(docs, threshold=0.5).collect()
    ckpt = request.getfixturevalue("checkpoint_dir")
    b = dedup.near_dup_groups(docs, threshold=0.5).collect()
    assert sorted((r.id, r.comp) for r in a) == sorted((r.id, r.comp) for r in b)
    assert list(ckpt.rglob("*")), "reliable checkpoint dir is empty — checkpoint() never wrote"


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter must raise, never silently return split
    groups (a chain of depth 3 cannot converge in one round)."""
    edges = [(i, i + 1) for i in range(1, 9)]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_bucket_cap_drop_is_observable(spark):
    """When the bucket cap drops a band bucket, bucket_cap_metrics must
    report a nonzero count (recall loss is never silent)."""
    # 12 identical docs -> every band bucket holds all 12 members
    rows = [(i, "the same exact sentence repeated for the template family test") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    raw = dedup.minhash_lsh_pairs(df, max_bucket_size=4)
    out = raw.select("id_a", "id_b").localCheckpoint(eager=True)
    assert out.count() == 0  # all buckets over cap -> no candidates
    assert dedup.bucket_cap_metrics(raw)["dropped_buckets"] > 0

    raw2 = dedup.minhash_lsh_pairs(df, max_bucket_size=100)
    raw2.select("id_a", "id_b").localCheckpoint(eager=True)
    assert dedup.bucket_cap_metrics(raw2)["dropped_buckets"] == 0


def test_script_id_routing(spark):
    """Script detection (r4): dominant-writing-system routing for
    multilingual corpora — char-class counts (engine-portable, unlike \\b
    on non-ASCII), 'und' for unscripted/null text, scalar == sweep."""
    from pdf_ocr_api_spark.ops import textstats

    rows = [
        (0, "hello world this is clearly latin text"),
        (1, "привет мир это текст на кириллице"),
        (2, "γειά σου κόσμε ελληνικά"),
        (3, "مرحبا بالعالم هذا نص عربي"),
        (4, "नमस्ते दुनिया यह हिंदी है"),
        (5, "你好世界 こんにちは 안녕하세요"),
        (6, "1234 ... !!! 555"),
        (7, None),
        (8, "mixed привет but mostly русская кириллица здесь"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    want = {0: "latin", 1: "cyrillic", 2: "greek", 3: "arabic",
            4: "devanagari", 5: "cjk", 6: "und", 7: "und", 8: "cyrillic"}
    got = {r.doc_id: r.s for r in
           df.select("doc_id", textstats.script_id(F.col("text")).alias("s")).collect()}
    assert got == want
    got2 = {r.doc_id: r.script for r in
            textstats.with_script_id(df, "text").select("doc_id", "script").collect()}
    assert got2 == want


def test_lang_id_da_sv_banks(spark):
    """r4 widening: Danish vs Swedish — the classic confusion pair —
    resolve through mutually disjoint markers (ikke/hvad/af/til vs
    inte/vad/av/till), including accented Swedish through the fold, and
    the German/Dutch neighbors stay unaffected."""
    from pdf_ocr_api_spark.ops import textstats

    rows = [
        (0, "jeg ved ikke hvad der sker og hvor vi skal hen til byen af den grund"),
        (1, "jag vet inte vad som sker och vi ska resa till staden av samma skal att se"),
        (2, "het huis van de buren is niet groot maar een tuin zijn er wel"),   # nl
        (3, "der hund ist nicht im haus und die katze"),                        # de
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.lang for r in
           textstats.with_lang_id(df, "text").select("doc_id", "lang").collect()}
    assert got == {0: "da", 1: "sv", 2: "nl", 3: "de"}
    # per-lang scalar form agrees with the fused sweep
    got2 = {r.doc_id: r.l for r in
            df.select("doc_id", textstats.lang_id(F.col("text")).alias("l")).collect()}
    assert got2 == got


def test_lang_id_widened_bank_and_confusion(spark):
    """r3 widened banks (it/nl/pl) classify correctly, and the CONFUSION
    cases that motivated careful word choices resolve right: Italian
    'di/che' vs pt 'de/que', Dutch 'van/het' vs de 'und/der', Polish
    ASCII markers vs de 'nie'(never), plus accented inputs through the
    fold."""
    rows = [
        (0, "il gatto e il cane sono nella casa che anche la nonna ama di piu"),
        (1, "het huis van de buren is niet groot maar een tuin zijn er wel"),
        (2, "to jest dom przez ktory czy dla nas jak oraz dla was jest dobry"),
        (3, "la casa del perro que esta cerca de los arboles y las flores"),
        (4, "não é uma casa de que os vizinhos gostam"),   # accents fold -> pt
        (5, "der hund ist nicht im haus und die katze"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.lang for r in df.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {0: "it", 1: "nl", 2: "pl", 3: "es", 4: "pt", 5: "de"}


def test_with_lang_id_fused_equals_per_lang(spark, docs):
    """The fused single-pass sweep form must equal the per-lang
    expression form on every row — including marker-free, null, empty
    and cross-lang-overlap texts ('de' appears in es/pt/fr banks)."""
    extra = [
        (1000, None),
        (1001, ""),
        (1002, "de de de de"),                       # overlap-only text
        (1003, "the la le der o il het jest"),       # one hit per bank
    ]
    df = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(extra, "doc_id LONG, text STRING")
    )
    per_lang = {
        r.doc_id: r.lang
        for r in df.select("doc_id", textstats.lang_id(F.col("text")).alias("lang")).collect()
    }
    fused = {
        r.doc_id: r.lang
        for r in textstats.with_lang_id(df, "text").select("doc_id", "lang").collect()
    }
    assert fused == per_lang


def test_with_lang_id_script_route(spark):
    """r5 wiring: script_route=True tags non-Latin-dominant rows
    'und-<script>' and leaves latin/'und'-script rows EXACTLY as the
    unrouted sweep (same banks, same argmax)."""
    rows = [
        (0, "the cat and the dog of the house are in the garden near the wall"),
        (1, "der hund ist nicht im haus und die katze"),
        (2, "привет мир это текст на кириллице и он довольно длинный"),
        (3, "你好世界这是一段中文文本没有空格"),
        (4, "مرحبا بالعالم هذا نص عربي طويل"),
        (5, "1234 ... !!! 555"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    routed = {r.doc_id: r.lang for r in
              textstats.with_lang_id(df, "text", script_route=True).collect()}
    plain = {r.doc_id: r.lang for r in
             textstats.with_lang_id(df, "text").collect()}
    assert routed[2] == "und-cyrillic"
    assert routed[3] == "und-cjk"
    assert routed[4] == "und-arabic"
    for i in (0, 1, 5, 6):  # latin / unscripted rows: byte-identical
        assert routed[i] == plain[i], i
    assert routed[0] == "en" and routed[1] == "de"


def test_clean_corpus_script_routing(spark, depara):
    """clean_corpus gates a multilingual corpus through script routing:
    a langs allow-list can KEEP a CJK corpus by its script tag while the
    Latin banks still gate Latin text — Cyrillic (not listed) drops."""
    from pdf_ocr_api_spark.ops import corpus

    en = ("the quick brown fox jumps over the lazy dog and runs across the "
          "river bank to find the other animals in the quiet forest")
    cjk = "你好 世界 这是 一段 中文 文本 关于 大海 和 山脉 的 故事"
    cyr = "привет мир это длинный текст на кириллице о горах и море"
    rows = [
        ("c0", 0, "user", en, None),
        ("c0", 1, "user", cjk, None),
        ("c0", 2, "user", cyr, None),
    ]
    sdf = spark.createDataFrame(
        rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    )
    out = corpus.clean_corpus(
        sdf, min_quality=0.0, langs=["en", "und-cjk"], min_tokens=3,
        depara=depara, parallelism=4,
    ).collect()
    kept = {(r.conv_id, r.turn_idx): r.lang for r in out}
    assert kept.get(("c0", 0)) == "en"
    assert kept.get(("c0", 1)) == "und-cjk"
    assert ("c0", 2) not in kept


def test_incremental_keep_sig_width_guard(spark):
    """r5 advice: a stored signature table built with a different
    num_hashes silently collapses band hashes (NULL-dropping concat_ws)
    — incremental_keep must refuse it loudly."""
    b1, b2 = _inc_corpus(spark)
    sigs_16 = dedup.minhash_signatures(b1, num_hashes=16)
    with pytest.raises(ValueError, match="num_hashes=16"):
        dedup.incremental_keep(b1, b2, num_hashes=32, bands=16, kept_sigs=sigs_16)


def test_sync_signatures_props_guard(spark, tmp_path):
    """r5 advice: sync_signatures persists num_hashes/k next to the
    index and refuses a mismatched re-sync; pre-props indexes (r4
    stores) are validated by observed signature width and stamped."""
    from pdf_ocr_api_spark.ops import corpus
    from pdf_ocr_api_spark.sources.io import read_table, table_exists

    rows = [("c0", i, f"some stored corpus turn number {i} with plenty of words", "en", 8, 0.9)
            for i in range(4)]
    ct = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "conv_id STRING, turn_idx INT, clean_text STRING, lang STRING, n_tokens INT, quality_score DOUBLE"
    ).write.parquet(ct)
    st = str(tmp_path / "sigs")
    assert corpus.sync_signatures(spark, ct, st, num_hashes=32, k=3) == 4
    assert table_exists(spark, f"{st}_props")
    props = {r.key: r.value for r in read_table(spark, f"{st}_props").collect()}
    assert props == {"num_hashes": "32", "k": "3"}
    with pytest.raises(ValueError, match="num_hashes"):
        corpus.sync_signatures(spark, ct, st, num_hashes=16, k=3)
    with pytest.raises(ValueError, match="k: stored=3"):
        corpus.sync_signatures(spark, ct, st, num_hashes=32, k=5)
    # pre-props store (props dir removed): width probe still guards, and
    # a matching sync backfills the props stamp
    import shutil

    shutil.rmtree(f"{st}_props")
    with pytest.raises(ValueError, match="32-hash"):
        corpus.sync_signatures(spark, ct, st, num_hashes=16, k=3)
    assert corpus.sync_signatures(spark, ct, st, num_hashes=32, k=3) == 0
    assert table_exists(spark, f"{st}_props")


def test_exact_duplicates_truncated_column(spark):
    """r5 advice: truncation is visible IN-SCHEMA via the boolean
    'truncated' column, not only by size-vs-count convention."""
    rows = [(i, "same text for everyone") for i in range(10)] + [
        (100, "a different pair of text"), (101, "a different pair of text")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    g = {r.dup_count: r for r in dedup.exact_duplicates(df, max_members=5).collect()}
    assert g[10].truncated and len(g[10].member_ids) == 5
    assert not g[2].truncated and len(g[2].member_ids) == 2
    unc = dedup.exact_duplicates(df, max_members=None).collect()
    assert all(not r.truncated for r in unc)


def test_runner_show_runs(spark, tmp_path, capsys):
    """r5: --show-runs is the operator's one-call alert surface — JSON
    per-mode summary of the persisted runs table, with the
    dropped-bucket recall-loss totals and the alert bit."""
    import json as _json

    from pdf_ocr_api_spark import runner

    text = ("the quick brown fox jumps over the lazy dog and runs across the "
            "river bank to find the other animals in the quiet forest")
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    b1 = spark.createDataFrame([("a0", 0, "user", text, None)], schema)
    in1 = str(tmp_path / "b1")
    b1.write.parquet(in1)
    root = str(tmp_path / "run")
    knobs = ["--min-quality", "0.3", "--min-tokens", "5", "--buckets", "4"]

    # no store yet → clean error, nonzero exit
    assert runner.main(["--show-runs", "--output", root]) == 1
    capsys.readouterr()

    assert runner.main(["--clean-corpus", "--input", in1, "--output", root] + knobs) == 0
    capsys.readouterr()
    assert runner.main(["--show-runs", "--output", root]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["modes"] and out["modes"][0]["mode"] == "clean_corpus"
    assert out["modes"][0]["runs"] == 1 and out["modes"][0]["rows_kept"] == 1
    assert out["dropped_buckets_total"] == 0 and out["recall_loss_alert"] is False

    # two incremental jobs in ONE Spark application share the run_id
    # (the applicationId) and must still count as two runs
    for i, extra in enumerate(["a sailor mends the torn net before the storm reaches "
                               "the harbour and the boats come home at dusk",
                               "the baker rises early to knead fresh dough while the "
                               "town sleeps and the ovens slowly warm up"]):
        inc = str(tmp_path / f"inc{i}")
        spark.createDataFrame([(f"n{i}", 0, "user", extra, None)], schema).write.parquet(inc)
        assert runner.main(["--clean-incremental", "--input", inc, "--output", root] + knobs) == 0
    capsys.readouterr()
    assert runner.main(["--show-runs", "--output", root]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    modes = {m["mode"]: m for m in out["modes"]}
    assert modes["clean_corpus"]["runs"] == 1
    assert modes["clean_incremental"]["runs"] == 2


# ---------------------------------------------------------------------------
# decontamination (r5)
# ---------------------------------------------------------------------------


def test_contamination_known_overlap(spark):
    """Planted 3-gram overlaps: an exact probe copy scores ratio 1.0, a
    doc sharing exactly one trigram scores 1/n_ngrams, a disjoint doc is
    absent from the report."""
    from pdf_ocr_api_spark.ops import decontam

    probes = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id LONG, text STRING"
    )
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),  # identical → ratio 1.0
            (1, "zero one alpha beta gamma nine eight"),  # shares trigrams
            (2, "totally disjoint words everywhere here"),  # no overlap
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: r
        for r in decontam.contamination(corpus, probes, n=3).collect()
    }
    assert set(got) == {0, 1}
    assert got[0]["n_hits"] == got[0]["n_ngrams"] == 3
    assert got[0]["contamination_ratio"] == 1.0
    # doc 1 has 5 distinct trigrams; exactly one ('alpha beta gamma') is
    # in the probe set
    assert got[1]["n_hits"] == 1 and got[1]["n_ngrams"] == 5
    assert got[1]["contamination_ratio"] == round(1 / 5, 6)


def test_contamination_hashed_equals_string(docs, spark):
    """The production xxhash64 join and the oracle-portable string join
    flag identical (doc_id, n_hits, n_ngrams) rows."""
    from pdf_ocr_api_spark.ops import decontam

    probes = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    key = lambda rows: sorted((r["doc_id"], r["n_hits"], r["n_ngrams"]) for r in rows)
    s = decontam.contamination(corpus, probes, n=2, hashed=False).collect()
    h = decontam.contamination(corpus, probes, n=2, hashed=True).collect()
    assert key(s) == key(h) and len(s) > 0


def test_decontaminate_policies(spark):
    """Strict policy (max_ratio=0) drops any overlap; a loose ratio
    threshold keeps lightly-contaminated docs; max_hits caps absolute
    overlap regardless of ratio."""
    from pdf_ocr_api_spark.ops import decontam

    probes = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id LONG, text STRING"
    )
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),  # ratio 1.0
            (1, "zero one alpha beta gamma nine eight two six five"),  # ratio 1/8
            (2, "totally disjoint words everywhere here"),  # clean
        ],
        "doc_id LONG, text STRING",
    )
    strict = decontam.decontaminate(corpus, probes, n=3, max_ratio=0.0)
    assert sorted(r["doc_id"] for r in strict.collect()) == [2]
    loose = decontam.decontaminate(corpus, probes, n=3, max_ratio=0.5)
    assert sorted(r["doc_id"] for r in loose.collect()) == [1, 2]
    capped = decontam.decontaminate(corpus, probes, n=3, max_ratio=1.0, max_hits=2)
    assert sorted(r["doc_id"] for r in capped.collect()) == [1, 2]


def test_contamination_broadcast_plan(docs):
    """Scale shape: the probe join must be a broadcast hash join (the
    corpus side never shuffles for the probe), with no nested-loop
    fallback anywhere in the plan."""
    from pdf_ocr_api_spark.ops import decontam
    from tests import plan_inspect as PI

    probes = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    out = decontam.contamination(corpus, probes, n=2, hashed=True)
    plan = PI.executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# one-pass text profile (r5 consolidation)
# ---------------------------------------------------------------------------


def test_text_profile_matches_components(docs):
    """text_profile's shared columns must equal the standalone
    quality_features / token-count operators row-for-row (the entry
    consolidation must not drift from the oracled components)."""
    prof = {r["id"]: r for r in textstats.text_profile(docs).collect()}
    qual = {r["id"]: r for r in textstats.quality_features(docs).collect()}
    toks = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            textstats.token_count(F.col("text")).alias("ws"),
            textstats.bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert set(prof) == set(qual)
    for i, p in prof.items():
        q = qual[i]
        for c in ("n_chars", "n_tokens", "punct_ratio", "stop_ratio", "digit_ratio", "quality_score"):
            assert p[c] == q[c], (i, c, p[c], q[c])
        assert p["n_tokens"] == toks[i]["ws"]
        assert p["bpe_tokens"] == toks[i]["bpe"]
        assert 0.0 <= p["dup_word_frac"] <= 1.0
        assert 0.0 <= p["dup_2gram_frac"] <= 1.0


def test_text_profile_repetition_signals(spark):
    """Gopher-style repetition: 'spam spam spam spam' has dup_word_frac
    3/4 and dup_2gram_frac 2/3; a no-repeat doc scores 0 on both; empty
    and single-token docs are well-defined."""
    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),
            (1, "all words here are unique tokens"),
            (2, ""),
            (3, "solo"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["id"]: r for r in textstats.text_profile(df).collect()}
    assert got[0]["dup_word_frac"] == 0.75
    assert got[0]["dup_2gram_frac"] == round(2 / 3, 6)
    assert got[1]["dup_word_frac"] == 0.0 and got[1]["dup_2gram_frac"] == 0.0
    assert got[2]["n_tokens"] == 0 and got[2]["dup_word_frac"] == 0.0
    assert got[3]["n_tokens"] == 1 and got[3]["dup_2gram_frac"] == 0.0


# ---------------------------------------------------------------------------
# PII scrubbing + corpus wiring (r5)
# ---------------------------------------------------------------------------


def test_scrub_pii_ground_truths(spark):
    """Each category redacts with its typed tag; structured ids that are
    NOT PII (plain digit runs, versions) survive; chain order keeps the
    card pattern from being eaten as two phone halves."""
    cases = [
        ("contact me at a.user+tag@mail-host.com today", "contact me at <EMAIL> today"),
        ("cpf 123.456.789-01 on file", "cpf <CPF> on file"),
        ("card 4111 1111 1111 1111 declined", "card <CARD> declined"),
        ("host 10.0.255.1 unreachable", "host <IP> unreachable"),
        ("call +55 11 91234-5678 now", "call <PHONE> now"),
        ("call (11) 91234-5678 now", "call <PHONE> now"),
        ("protocol 2023123456789 unchanged", "protocol 2023123456789 unchanged"),
        ("version 1.2.3 released", "version 1.2.3 released"),
        ("", ""),
        (None, ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i LONG, text STRING"
    )
    got = {r["i"]: r["out"] for r in df.select("i", textstats.scrub_pii(F.col("text")).alias("out")).collect()}
    for i, (_t, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i])


def test_clean_corpus_scrub_and_decontam(spark, depara):
    """clean_corpus with scrub_pii redacts emails in the kept text; with
    decontam_probes, turns overlapping the benchmark probe are dropped
    while clean turns survive."""
    from pdf_ocr_api_spark.ops import corpus

    leaky = ("please send the signed contract to maria.silva@example.com before the "
             "end of the week so the team can begin the review process on time")
    clean = ("the cat and the dog of the house are in the garden near the "
             "old stone wall where the birds sing in the morning light")
    rows = [
        ("c0", 0, "user", leaky, None),
        ("c1", 0, "user", clean, None),
    ]
    sdf = spark.createDataFrame(
        rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    )
    out = corpus.clean_corpus(
        sdf, min_quality=0.3, min_tokens=3, depara=depara, parallelism=4, scrub_pii=True
    ).collect()
    texts = {r.conv_id: r.clean_text for r in out}
    assert "<EMAIL>" in texts["c0"] and "example.com" not in texts["c0"]

    probes = spark.createDataFrame([(0, clean)], "doc_id LONG, text STRING")
    out2 = corpus.clean_corpus(
        sdf, min_quality=0.3, min_tokens=3, depara=depara, parallelism=4,
        decontam_probes=probes, decontam_n=3,
    ).collect()
    assert sorted(r.conv_id for r in out2) == ["c0"]
