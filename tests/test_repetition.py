"""ops/repetition.py — Gopher repetition signals/gate, intra-doc line
dedup, and corpus-level boilerplate-line removal."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark.ops import repetition as R

DOCS = [
    (1, "a line\nb line\na line\n\nc line"),
    (2, "hello world hello world hello world hello world"),
    (3, "unique one\nunique two\nunique three"),
    (4, ""),
    (5, None),
    (6, "x\nx\nx\nx"),
    (7, "para one text\n\npara one text\n\npara two text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_profile_hand_computed(docs):
    rows = {r["id"]: r for r in R.repetition_profile(docs).collect()}
    d1 = rows[1]
    # lines: [a line, b line, a line, c line] — 2 of 4 dup, 12/24 chars
    assert d1["n_lines"] == 4 and d1["n_paras"] == 2
    assert d1["dup_line_frac"] == 0.5
    assert d1["dup_line_char_frac"] == 0.5
    # tokens: a line b line a line c line → "a line" ×2, 5 nonspace
    # chars covered twice, 20 nonspace total
    assert d1["top_2gram_char_frac"] == 0.5
    # all-dup doc
    assert rows[6]["dup_line_frac"] == 1.0
    assert rows[6]["top_2gram_char_frac"] == 1.0
    # paragraph dup: 2 of 3 paras, 26/39 chars
    assert rows[7]["dup_para_frac"] == round(2 / 3, 6)
    assert rows[7]["dup_para_char_frac"] == round(26 / 39, 6)
    # empty / null → all zeros, no crash
    for i in (4, 5):
        assert rows[i]["n_lines"] == 0
        assert rows[i]["dup_line_frac"] == 0.0
        assert rows[i]["top_4gram_char_frac"] == 0.0


def test_profile_matches_duckdb_oracle(docs):
    """dup_line_frac / dup_line_char_frac re-derived in DuckDB from the
    same definition (group lines per doc, fraction of occurrences /
    characters in >1 groups)."""
    got = {
        r["id"]: (r["dup_line_frac"], r["dup_line_char_frac"])
        for r in R.repetition_profile(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id INT, text VARCHAR);"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?)", DOCS)
    oracle = con.execute(
        r"""
        WITH lines AS (
          SELECT doc_id, trim(l) AS line
          FROM docs,
               unnest(string_split(replace(replace(coalesce(text,''),
                      chr(13)||chr(10), chr(10)), chr(13), chr(10)),
                      chr(10))) AS t(l)
          WHERE trim(l) <> ''
        ), grp AS (
          SELECT doc_id, line, count(*) AS c,
                 count(*) * length(line) AS chars
          FROM lines GROUP BY 1, 2
        )
        SELECT doc_id,
               round(coalesce(sum(c) FILTER (c > 1) * 1.0 / sum(c), 0), 6),
               round(coalesce(sum(chars) FILTER (c > 1) * 1.0 / sum(chars), 0), 6)
        FROM grp GROUP BY 1
        """
    ).fetchall()
    con.close()
    checked = 0
    for doc_id, dlf, dlcf in oracle:
        assert got[doc_id] == (dlf, dlcf), doc_id
        checked += 1
    assert checked == 5  # docs 4/5 have no lines → absent from oracle
    for i in (4, 5):
        assert got[i] == (0.0, 0.0)


def test_filter_gopher_gate(spark):
    loopy = " ".join(["the same five words again"] * 20)  # 100 tokens
    clean = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, loopy), (2, clean), (3, "short unique line\nanother one")],
        "doc_id int, text string",
    )
    kept = sorted(r["doc_id"] for r in R.repetition_filter(df).collect())
    # loop doc dropped on top-gram coverage; long clean + short doc kept
    assert kept == [2, 3]
    # min_tokens=0 removes the short-doc bypass → doc 3's trivially
    # high top-gram coverage now gates it too
    kept0 = sorted(
        r["doc_id"] for r in R.repetition_filter(df, min_tokens=0).collect()
    )
    assert kept0 == [2]
    # schema passthrough: no staging columns leak
    assert R.repetition_filter(df).columns == ["doc_id", "text"]
    with pytest.raises(ValueError, match="unknown repetition"):
        R.repetition_filter(df, thresholds={"nope": 0.1})


def test_filter_threshold_override(spark):
    two_dup_lines = "dup line\ndup line\nother a\nother b\nother c"
    df = spark.createDataFrame([(1, two_dup_lines)], "doc_id int, text string")
    # 2/5 lines (0.4) and 16/37 chars (0.432) duplicated → both above
    # the 0.30 / 0.20 defaults → dropped
    assert R.repetition_filter(df).count() == 0
    # loosening BOTH violated thresholds keeps it; loosening one is not
    # enough (the gate is an AND over all signals)
    loose = {"dup_line_frac": 0.5, "dup_line_char_frac": 0.5}
    assert R.repetition_filter(df, thresholds=loose).count() == 1
    assert R.repetition_filter(df, thresholds={"dup_line_frac": 0.5}).count() == 0


def test_profile_and_filter_agree(docs):
    """filter(df) keeps exactly the docs whose profile passes the same
    thresholds — the inline predicate and the profile are twins."""
    prof = {r["id"]: r.asDict() for r in R.repetition_profile(docs).collect()}
    toks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower(F.coalesce("text", F.lit(""))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("n"),
        ).collect()
    }
    expect = []
    for i, p in prof.items():
        ok = all(
            p[k] <= v
            for k, v in R.GOPHER_REPETITION_THRESHOLDS.items()
            if not k.startswith("top_")
        )
        if toks[i] >= 50:
            ok = ok and all(
                p[k] <= v
                for k, v in R.GOPHER_REPETITION_THRESHOLDS.items()
                if k.startswith("top_")
            )
        if ok:
            expect.append(i)
    got = sorted(r["doc_id"] for r in R.repetition_filter(docs).collect())
    assert got == sorted(expect)


def test_dedup_lines_doc_scope(spark):
    df = spark.createDataFrame(
        [
            (1, "keep me\nand me\nkeep me \n\nand me"),
            (2, "a\r\nb\r\na"),
            (3, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["d"]
        for r in df.select(
            "doc_id", R.dedup_lines(F.col("text")).alias("d")
        ).collect()
    }
    # trim-matched repeats dropped ("keep me " matches "keep me"),
    # first occurrence's ORIGINAL bytes kept, blank lines preserved
    assert out[1] == "keep me\nand me\n"
    assert out[2] == "a\nb"
    assert out[3] is None  # NULL preserved (review fix: concat_ws
    # would silently turn NULL into '')


def test_dedup_lines_consecutive_scope(spark):
    df = spark.createDataFrame(
        [(1, "ref\nref\nref\nbody\nref"), (2, "a\n\n\na")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["d"]
        for r in df.select(
            "doc_id",
            R.dedup_lines(F.col("text"), scope="consecutive").alias("d"),
        ).collect()
    }
    # stutter collapsed, the later legitimate refrain SURVIVES
    assert out[1] == "ref\nbody\nref"
    # blank lines preserved verbatim even in runs
    assert out[2] == "a\n\n\na"
    with pytest.raises(ValueError, match="scope"):
        R.dedup_lines(F.col("text"), scope="nope")


def test_dedup_lines_idempotent(spark):
    df = spark.createDataFrame(
        [(i, f"l{i % 3}\nl{(i + 1) % 3}\nl{i % 3}\n\nl{i % 2}") for i in range(20)],
        "doc_id int, text string",
    )
    once = df.select("doc_id", R.dedup_lines(F.col("text")).alias("text"))
    twice = once.select("doc_id", R.dedup_lines(F.col("text")).alias("text"))
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_profile_is_shuffle_free(docs):
    """The profile and the gate are projections/filters over the scan —
    no Exchange anywhere in the plan."""
    for plan_df in (R.repetition_profile(docs), R.repetition_filter(docs)):
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_strip_boilerplate_lines(spark):
    rows = [
        (i, f"COOKIE CONSENT BANNER\nreal content {i}\nsite footer line vX")
        for i in range(12)
    ] + [(100, "COOKIE CONSENT BANNER"), (101, None), (102, "real content 3")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_lines_dropped"])
        for r in R.strip_boilerplate_lines(df, min_docs=10).collect()
    }
    assert out[3] == ("real content 3", 2)
    # all-boilerplate doc keeps its row, text emptied
    assert out[100] == ("", 1)
    # NULL text / NULL-signal pass-through keeps ORIGINAL value
    assert out[101] == (None, 0)
    # "real content 3" appears in only 2 docs < min_docs → untouched
    assert out[102] == ("real content 3", 0)
    assert len(out) == 15


def test_strip_boilerplate_short_lines_immune(spark):
    # "-" in every doc but shorter than min_line_chars → never dropped
    df = spark.createDataFrame(
        [(i, f"-\nbody {i}\n-") for i in range(20)], "doc_id int, text string"
    )
    out = R.strip_boilerplate_lines(df, min_docs=5, min_line_chars=6)
    got = out.filter(F.col("doc_id") == 1).collect()[0]
    assert got["text"] == "-\nbody 1\n-"
    assert got["n_lines_dropped"] == 0


def test_strip_boilerplate_order_and_bytes_preserved(spark):
    # non-boilerplate lines keep original bytes (incl. inner spacing)
    # and exact order across the explode/reassemble round-trip; the
    # repeated line is counted once per OCCURRENCE it is dropped
    rows = [
        (
            i,
            f"alpha  spaced {i}\nBOILERPLATE LINE\nzz last {i}"
            f"\nmiddle x {i}\nBOILERPLATE LINE",
        )
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = R.strip_boilerplate_lines(df, min_docs=10)
    got = out.filter(F.col("doc_id") == 0).collect()[0]
    assert got["text"] == "alpha  spaced 0\nzz last 0\nmiddle x 0"
    assert got["n_lines_dropped"] == 2


def test_clean_corpus_repetition_flags(spark, depara):
    """Pipeline wiring: strip_line_repeats dedups intra-turn lines
    BEFORE quality scoring, and repetition_gate drops Gopher-failing
    turns while clean prose survives — both through clean_corpus."""
    from pdf_ocr_api_spark.ops import corpus

    echoed = (
        "the quarterly report shows steady growth\n"
        "the quarterly report shows steady growth\n"
        "numbers improved across every region this year"
    )
    loopy = " ".join(["the same five words again"] * 20)  # 100 tokens
    clean = (
        "the cat and the dog of the house are in the garden near the "
        "old stone wall where the birds sing in the morning light"
    )
    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    sdf = spark.createDataFrame(
        [("c0", 0, "user", echoed, None),
         ("c1", 0, "user", loopy, None),
         ("c2", 0, "user", clean, None)],
        schema,
    )
    out = corpus.clean_corpus(
        sdf, min_quality=0.3, min_tokens=3, depara=depara, parallelism=4,
        strip_line_repeats="doc", repetition_gate=True,
    ).collect()
    texts = {r.conv_id: r.clean_text for r in out}
    # echoed line deduped to one occurrence, rest intact
    assert texts["c0"] == (
        "the quarterly report shows steady growth\n"
        "numbers improved across every region this year"
    )
    # generation loop gated out; clean prose survives
    assert "c1" not in texts
    assert texts["c2"] == clean


def test_clean_corpus_incremental_agrees_with_flags(spark, depara):
    """The incremental contract holds with the repetition flags on:
    clean_corpus(b1 ∪ b2) == clean_corpus(b1) ∪
    clean_corpus_incremental(kept1, b2) when both use the same flags."""
    from pdf_ocr_api_spark.ops import corpus

    schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    mk = lambda i, t: (f"c{i:03d}", 0, "user", t, None)
    b1 = [mk(i, f"report line {i} alpha\nreport line {i} alpha\n"
                f"body text number {i} goes here today") for i in range(6)]
    b2 = [mk(10 + i, f"fresh content {i} about the garden and the old "
                     f"stone wall where the birds sing") for i in range(4)]
    b2.append(mk(20, " ".join(["loop words repeat here now"] * 15)))
    kw = dict(min_quality=0.3, min_tokens=3, depara=depara, parallelism=4,
              strip_line_repeats="doc", repetition_gate=True)
    df1 = spark.createDataFrame(b1, schema)
    df2 = spark.createDataFrame(b2, schema)
    full = corpus.clean_corpus(df1.unionByName(df2), **kw)
    kept1 = corpus.clean_corpus(df1, **kw)
    inc = corpus.clean_corpus_incremental(kept1, df2, **kw)
    merged = kept1.unionByName(inc.select(*kept1.columns))
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0
    # the loop turn never made it into the store
    assert inc.filter("conv_id = 'c020'").count() == 0


def test_engine_twins_profile(spark, docs):
    """The pandas engine (default) and the pure-Catalyst expression
    engine compute identical signals — the expr form anchors the
    semantics (DuckDB-oracled above), the pandas form is the fast
    path."""
    import math

    # fixture docs + adversarial extras: CRLF, tabs, trailing spaces,
    # long loop, unicode accents
    extra = spark.createDataFrame(
        [
            (100, "tab\tsep words\r\ntab\tsep words\r\nother line "),
            (101, " lead space\n\n\nlead space \nLEAD SPACE"),
            (102, " ".join(["volta o texto de novo"] * 30)),
            (103, "acentuação já útil\nacentuação já útil"),
        ],
        "doc_id int, text string",
    )
    both = docs.unionByName(extra)
    a = {r["id"]: r.asDict() for r in R.repetition_profile(both).collect()}
    b = {
        r["id"]: r.asDict()
        for r in R.repetition_profile(both, engine="expr").collect()
    }
    assert a.keys() == b.keys()
    for i in a:
        for k in a[i]:
            va, vb = a[i][k], b[i][k]
            if isinstance(va, float):
                assert math.isclose(va, vb, abs_tol=1e-6), (i, k, va, vb)
            else:
                assert va == vb, (i, k, va, vb)


def test_engine_twins_filter(spark, docs):
    extra = spark.createDataFrame(
        [(200, " ".join(["loop words here"] * 40)),
         (201, " ".join(f"tok{i} unique{i}" for i in range(60)))],
        "doc_id int, text string",
    )
    both = docs.unionByName(extra)
    for kw in ({}, {"min_tokens": 0}, {"thresholds": {"dup_line_frac": 0.6}}):
        a = sorted(r["doc_id"] for r in R.repetition_filter(both, **kw).collect())
        b = sorted(
            r["doc_id"]
            for r in R.repetition_filter(both, engine="expr", **kw).collect()
        )
        assert a == b, kw
    with pytest.raises(ValueError, match="engine"):
        R.repetition_filter(both, engine="nope")
    with pytest.raises(ValueError, match="engine"):
        R.repetition_profile(both, engine="nope")


def test_strip_boilerplate_untouched_docs_keep_bytes(spark):
    """Review regression: a doc that loses NO line keeps its original
    bytes (CRLF endings included); NULL-id docs pass through."""
    rows = [(i, f"BANNER LINE HERE\r\nbody {i}\r\nmore {i}") for i in range(10)]
    rows.append((100, "clean\r\nuntouched\r\ndoc"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_lines_dropped"])
        for r in R.strip_boilerplate_lines(df, min_docs=10).collect()
    }
    # rewritten docs are CRLF-normalized; untouched doc keeps \r\n
    assert out[0] == ("body 0\nmore 0", 1)
    assert out[100] == ("clean\r\nuntouched\r\ndoc", 0)
    # NULL-id doc passes through untouched
    df2 = spark.createDataFrame(
        [(None, "null id original\r\nbytes"), (1, "other doc body here")],
        "doc_id int, text string",
    )
    out2 = R.strip_boilerplate_lines(df2, min_docs=2).collect()
    got = {r["doc_id"]: (r["text"], r["n_lines_dropped"]) for r in out2}
    assert got[None] == ("null id original\r\nbytes", 0)


def test_expr_engine_reserved_column_guard(spark):
    df = spark.createDataFrame([(1, "a b", 5)], "doc_id int, text string, _toks int")
    with pytest.raises(ValueError, match="_toks"):
        R.repetition_filter(df, engine="expr")
    # the pandas engine has no staging columns — any schema works
    assert R.repetition_filter(df).count() == 1
