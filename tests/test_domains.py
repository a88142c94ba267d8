"""Domain-level operators: registered-domain extraction, blocklist
filtering, Gopher-style per-domain caps (ops/domains.py)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark.ops import domains as D

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_domain_stats(spark, docs):
    out = {r["domain"]: r for r in D.domain_stats(docs).collect()}
    assert len(out) == 20
    total = sum(r["n_docs"] for r in out.values())
    assert total == docs.count()
    # n_chars / n_tokens recomputed for one domain via SQL
    con = duckdb.connect()
    exp = con.execute(
        f"""SELECT count(*), sum(length(text)),
              sum(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x != '')))
            FROM read_parquet('{SF_DIR}/documents.parquet') WHERE source = 'src3'"""
    ).fetchone()
    r = out["src3"]
    assert (r["n_docs"], r["n_chars"], r["n_tokens"]) == exp


def test_filter_domains_block_and_allow(spark, docs):
    blocked = ["src1", "src5"]
    out = D.filter_domains(docs, blocked, mode="block")
    assert out.filter(F.col("source").isin(blocked)).count() == 0
    assert out.count() == docs.count() - 50
    out2 = D.filter_domains(docs, blocked, mode="allow")
    assert out2.count() == 50
    assert set(r["source"] for r in out2.select("source").distinct().collect()) == set(blocked)
    with pytest.raises(ValueError, match="mode"):
        D.filter_domains(docs, blocked, mode="drop")


def test_filter_domains_dataframe_list_broadcasts(spark, docs):
    lst = spark.createDataFrame([("src1",), ("src5",)], "bad string")
    out = D.filter_domains(docs, lst, mode="block")
    assert out.count() == docs.count() - 50
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # allow mode keeps exactly the listed domains
    assert D.filter_domains(docs, lst, mode="allow").count() == 50
    with pytest.raises(ValueError, match="one column"):
        D.filter_domains(docs, docs.select("source", "doc_id"), mode="block")


def test_filter_domains_null_convention(spark):
    df = spark.createDataFrame(
        [(1, "bad.com"), (2, "good.com"), (3, None)], "doc_id int, source string"
    )
    kept = D.filter_domains(df, ["bad.com"], mode="block").collect()
    assert {r["doc_id"] for r in kept} == {2, 3}  # NULL survives a blocklist
    kept = D.filter_domains(df, ["bad.com"], mode="allow").collect()
    assert {r["doc_id"] for r in kept} == {1}  # NULL cannot clear an allow-list


def test_cap_per_domain_matches_duckdb_oracle(spark, docs):
    """The kept set is a pure function of (salt, domain, key) through
    the md5-portable hash — DuckDB reproduces the exact selection."""
    out = D.cap_per_domain(docs, 7, salt="t-v1")
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    con = duckdb.connect()
    exp = [
        r[0]
        for r in con.execute(
            f"""SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')
                QUALIFY row_number() OVER (
                  PARTITION BY source
                  ORDER BY ('0x' || substr(md5(source || chr(31) || doc_id || chr(31) || 't-v1'), 1, 15))::BIGINT,
                           doc_id) <= 7
                ORDER BY doc_id"""
        ).fetchall()
    ]
    assert got == exp
    assert len(got) == 20 * 7


def test_cap_per_domain_partition_invariant(spark, docs):
    a = sorted(r["doc_id"] for r in D.cap_per_domain(docs, 5).select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in D.cap_per_domain(docs.repartition(17, "lang"), 5)
        .select("doc_id")
        .collect()
    )
    c = sorted(
        r["doc_id"]
        for r in D.cap_per_domain(docs.coalesce(1), 5).select("doc_id").collect()
    )
    assert a == b == c


def test_cap_per_domain_under_cap_is_identity(spark, docs):
    out = D.cap_per_domain(docs, 1000)
    assert out.count() == docs.count()
    assert out.columns == docs.columns


def test_cap_per_domain_null_domain_group(spark):
    rows = [(i, "d1" if i < 10 else None) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = D.cap_per_domain(df, 3)
    per = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per == {"d1": 3, None: 3}
    with pytest.raises(ValueError, match="≥ 1"):
        D.cap_per_domain(df, 0)


def test_partial_topn_bounds_survivors_across_arrow_batches(spark):
    """Review regression (live-confirmed defect): the partial top-n
    must fold across a partition's Arrow batches — a per-batch head(n)
    bounds survivors at n·batches, re-creating the giant-domain sort
    the stage exists to preclude."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        df = spark.createDataFrame(
            [(i, "onedomain") for i in range(1000)], "doc_id int, source string"
        ).coalesce(1)
        surv = D._partial_topn(df, 2, "source", "doc_id", "s", parallelism=0)
        assert surv.count() == 2  # one partition → exactly n survivors
        # and the cap result is still the exact global top-n
        kept = sorted(
            r["doc_id"] for r in D.cap_per_domain(df, 2, salt="s").collect()
        )
        from pdf_ocr_api_spark.ops.training import portable_hash

        ranked = df.withColumn(
            "_h",
            portable_hash(
                F.concat_ws(chr(31), F.col("source"), F.col("doc_id").cast("string")),
                "s",
            ),
        )
        want = sorted(
            k for _, k in sorted(
                (r["_h"], r["doc_id"]) for r in ranked.collect()
            )[:2]
        )
        assert kept == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_filter_domains_suffix_match(spark):
    """match='suffix': a listed domain blocks its subdomains too, with
    no lookalike false positives; DataFrame lists delegate; allow mode
    and NULL conventions hold."""
    df = spark.createDataFrame(
        [
            (1, "bad.com"),
            (2, "cdn.bad.com"),
            (3, "a.b.bad.com"),
            (4, "notbad.com"),
            (5, "bad.com.evil.org"),
            (6, None),
        ],
        "doc_id int, source string",
    )
    kept = {r["doc_id"] for r in D.filter_domains(df, ["bad.com"], match="suffix").collect()}
    assert kept == {4, 5, 6}  # lookalikes and NULL survive
    allowed = {
        r["doc_id"]
        for r in D.filter_domains(df, [".bad.com"], mode="allow", match="suffix").collect()
    }
    assert allowed == {1, 2, 3}  # leading-dot entries normalized
    lst = spark.createDataFrame([("bad.com",)], "d string")
    kept2 = {r["doc_id"] for r in D.filter_domains(df, lst, match="suffix").collect()}
    assert kept2 == {4, 5, 6}
    with pytest.raises(ValueError, match="match"):
        D.filter_domains(df, ["x"], match="prefix")
