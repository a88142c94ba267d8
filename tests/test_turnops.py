"""Turn-axis page-operation analogues (SURVEY §2.5/2.6/2.9)."""

import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark.operators import turnops


@pytest.fixture(scope="module")
def convs(spark):
    rows = []
    for c, n in (("a", 8), ("b", 5)):
        for t in range(n):
            rows.append((c, t, f"{c}{t}"))
    return spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, payload STRING")


def _seq(df, conv):
    return [
        r.payload
        for r in df.filter(F.col("conv_id") == conv).orderBy("turn_idx").collect()
    ]


def test_select_turns(convs):
    out = turnops.select_turns(convs, 2, 5)
    assert _seq(out, "a") == ["a2", "a3", "a4", "a5"]
    assert _seq(out, "b") == ["b2", "b3", "b4"]
    # renumbered dense from 0
    assert [r.turn_idx for r in out.filter("conv_id='a'").orderBy("turn_idx").collect()] == [0, 1, 2, 3]


def test_delete_turns(convs):
    out = turnops.delete_turns(convs, 1, 3)
    assert _seq(out, "a") == ["a0", "a4", "a5", "a6", "a7"]
    assert _seq(out, "b") == ["b0", "b4"]


def test_insert_turns(convs, spark):
    ins = spark.createDataFrame(
        [("a", 0, "X0"), ("a", 1, "X1")], "conv_id STRING, turn_idx INT, payload STRING"
    )
    out = turnops.insert_turns(convs.filter("conv_id='a'"), ins, at=3)
    assert _seq(out, "a") == ["a0", "a1", "a2", "X0", "X1", "a3", "a4", "a5", "a6", "a7"]


def test_replace_turns(convs, spark):
    rep = spark.createDataFrame(
        [("a", 0, "R0"), ("a", 1, "R1")], "conv_id STRING, turn_idx INT, payload STRING"
    )
    out = turnops.replace_turns(convs.filter("conv_id='a'"), rep, 2, 5)
    assert _seq(out, "a") == ["a0", "a1", "R0", "R1", "a6", "a7"]


def test_split_by_count(convs):
    out = turnops.split_by_count(convs, 3)
    chunks = {r.payload: r.chunk for r in out.collect()}
    assert chunks["a0"] == 0 and chunks["a2"] == 0 and chunks["a3"] == 1 and chunks["a7"] == 2


def test_split_into_n(convs):
    out = turnops.split_into_n(convs, 4)
    a = {r.payload: r.chunk for r in out.filter("conv_id='a'").collect()}
    assert a["a0"] == 0 and a["a7"] == 3
    sizes = out.filter("conv_id='a'").groupBy("chunk").count().collect()
    assert all(r["count"] == 2 for r in sizes)


def test_replace_from_other_conversation_relabels(convs):
    """Cross-conversation replacement must adopt the target conv_id —
    without into_conv two parallel numberings would interleave (probe-
    found bug, fixed)."""
    a = convs.filter("conv_id='a'")
    b = turnops.select_turns(convs.filter("conv_id='b'"), 0, 1)
    out = turnops.replace_turns(a, b, 2, 5, into_conv="a")
    assert _seq(out, "a") == ["a0", "a1", "b0", "b1", "a6", "a7"]
    assert out.select("conv_id").distinct().count() == 1


def test_insert_from_other_conversation_relabels(convs):
    a = convs.filter("conv_id='a'")
    b = turnops.select_turns(convs.filter("conv_id='b'"), 3, 4)
    out = turnops.insert_turns(a, b, at=1, into_conv="a")
    assert _seq(out, "a") == ["a0", "b3", "b4", "a1", "a2", "a3", "a4", "a5", "a6", "a7"]


def test_split_by_ranges(spark):
    rows = [("c", i, i * 100) for i in range(10)]
    df = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, doc_id LONG")
    from pdf_ocr_api_spark.operators import turnops

    out = (
        turnops.split_by_ranges(df, [(0, 2), (5, 8)])
        .orderBy("chunk", "turn_idx")
        .collect()
    )
    got = [(r.chunk, r.turn_idx, r.doc_id) for r in out]
    assert got == [
        (0, 0, 0), (0, 1, 100), (0, 2, 200),
        (1, 0, 500), (1, 1, 600), (1, 2, 700), (1, 3, 800),
    ]


def test_split_variants_renumber_densely(convs):
    """Every split variant emits standalone chunks whose turn_idx starts
    at 0 — the reference's 'pages renumbered from 0' split semantics
    (split_by_ranges always did; by_count/into_n aligned in r3)."""
    for out in (
        turnops.split_by_count(convs, 3),
        turnops.split_into_n(convs, 4),
    ):
        firsts = (
            out.groupBy("conv_id", "chunk")
            .agg(F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi"), F.count("*").alias("n"))
            .collect()
        )
        for r in firsts:
            assert r.lo == 0 and r.hi == r.n - 1, r
