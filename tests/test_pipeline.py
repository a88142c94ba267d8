"""End-to-end Spark tests of the extraction pipeline (mapInPandas)."""

import json

import pytest

from pdf_ocr_api_spark import fixtures, pipeline


@pytest.fixture(scope="module")
def tiny(spark):
    meta = fixtures.fixture_frame(40, with_meta=True)
    sdf = spark.createDataFrame(meta[fixtures.TRANSCRIPT_COLUMNS])
    return meta, sdf


def _collect_sorted(df):
    return df.orderBy("conv_id", "turn_idx").toPandas()


def test_per_turn_equality_vs_generation_intent(spark, tiny, depara):
    """The per-turn text-equality gate (north rule): every turn's
    clean_text must equal the generation intent byte-for-byte, under
    stable (conv_id, turn_idx) ordering."""
    meta, sdf = tiny
    res = _collect_sorted(pipeline.extract_transcripts(sdf, depara))
    meta = meta.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(res) == len(meta)

    for i in range(len(meta)):
        gk, exp, row = meta.gen_kind[i], meta.expected[i], res.iloc[i]
        key = f"{row.conv_id}/{row.turn_idx} gen={gk}"
        if gk in ("plain", "boiler"):
            assert row.clean_text == "\n".join(exp["clean_lines"]), key
            assert row["kind"] == gk, key
        elif gk == "html":
            assert row.clean_text == "\n".join(t for _, t in exp["blocks"]), key
            assert row["kind"] == "html", key
        elif gk == "pdf_layout":
            assert row.clean_text == "\n".join(exp["reading_order"]), key
            assert row["kind"] == "pdf_layout", key
        elif gk == "pdf_table":
            assert row["kind"] == "pdf_table", key
            assert len(row.services) > 0, key
        elif gk == "cat":
            assert row["kind"] == "cat", key
        elif gk == "lines":
            assert row["kind"] == "lines", key


def test_spans_slice_clean_text(spark, tiny, depara):
    meta, sdf = tiny
    res = _collect_sorted(pipeline.extract_transcripts(sdf, depara))
    for _, row in res.iterrows():
        for sp in row.spans:
            s, e = sp["start"], sp["end"]
            assert 0 <= s <= e <= len(row.clean_text)
            if row["kind"] in ("plain", "boiler", "html", "pdf_layout"):
                seg = row.clean_text[s:e]
                assert "\n" not in seg
                assert seg == seg.strip()


def test_partition_invariance(spark, tiny, depara):
    """Same bytes out for 1 vs 16 input partitions and under salting —
    extraction must be a pure per-turn function (SURVEY §5.4)."""
    _, sdf = tiny
    a = _collect_sorted(pipeline.extract_transcripts(sdf.repartition(1), depara))
    b = _collect_sorted(pipeline.extract_transcripts(sdf.repartition(16), depara))
    c = _collect_sorted(pipeline.extract_transcripts(sdf, depara, salt=4))
    for col in ("conv_id", "turn_idx", "kind", "clean_text"):
        assert a[col].tolist() == b[col].tolist() == c[col].tolist(), col
    assert a["spans"].map(len).tolist() == b["spans"].map(len).tolist()
    assert a["services"].map(len).tolist() == c["services"].map(len).tolist()


def test_services_match_reference_cascade(spark, tiny, depara):
    """Spark-side services must equal the (node-parity-verified) local
    cascade output for every turn."""
    from pdf_ocr_api_spark.extract.services import parse_services

    meta, sdf = tiny
    res = _collect_sorted(pipeline.extract_transcripts(sdf, depara))
    meta = meta.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for i in range(len(meta)):
        raw = meta.text[i]
        row = res.iloc[i]
        t = (raw or "").lstrip()
        if t.startswith("{"):
            try:
                doc = json.loads(raw)
            except Exception:
                doc = {"text": raw, "pages": []}
            if isinstance(doc, dict) and "elements" in doc:
                doc = {"text": row.clean_text, "pages": []}
        elif row["kind"] == "html":
            doc = {"text": row.clean_text, "pages": []}
        else:
            doc = {"text": raw, "pages": []}
        want = parse_services(doc, depara)
        got = [
            {**(s.asDict() if hasattr(s, 'asDict') else dict(s)), 'Unidade': None if (s['Unidade'] if isinstance(s, dict) else s.Unidade) is None else int(s['Unidade'] if isinstance(s, dict) else s.Unidade)}
            for s in row.services
        ]
        assert got == want, f"{row.conv_id}/{row.turn_idx}"


def test_malformed_payloads_do_not_crash(spark, depara):
    rows = [
        ("c0", 0, "user", "{not json at all", None),
        ("c0", 1, "assistant", "{}", None),
        ("c0", 2, "tool", None, "search"),
        ("c0", 3, "user", "", None),
        ("c0", 4, "user", '{"elements": "garbage"}', None),
        ("c0", 5, "user", '{"pages": 17, "text": "x"}', None),
        ("c0", 6, "user", "<div>só um fragmento<", None),
    ]
    sdf = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING")
    res = _collect_sorted(pipeline.extract_transcripts(sdf, depara))
    assert len(res) == len(rows)
    assert (res.n_chars_out >= 0).all()


def test_hot_conversation_skew_fixture():
    """conv-000000 must hold ~20% of all turns (FIXTURES.md §1)."""
    pdf = fixtures.fixture_frame(60)
    share = (pdf.conv_id == "conv-000000").mean()
    assert 0.10 < share < 0.35


def test_distributed_generation_matches_driver(spark):
    want = fixtures.fixture_frame(12)
    got = (
        fixtures.spark_transcripts(spark, 12)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = want.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["text"].tolist() == want["text"].tolist()
    assert got["role"].tolist() == want["role"].tolist()


def test_text_only_mode_same_text_and_spans(spark, tiny, depara):
    """with_services=False: identical clean_text/spans, empty services,
    ~45% fewer output bytes (the corpus-cleaning fast path)."""
    _, sdf = tiny
    full = _collect_sorted(pipeline.extract_transcripts(sdf, depara))
    fast = _collect_sorted(pipeline.extract_transcripts(sdf, depara, with_services=False))
    assert fast.clean_text.tolist() == full.clean_text.tolist()
    assert fast.spans.map(len).tolist() == full.spans.map(len).tolist()
    assert (fast.services.map(len) == 0).all()
    # kind degrades only for cat/lines (cascade-derived labels)
    diffs = set(zip(full.kind[full.kind != fast.kind], fast.kind[full.kind != fast.kind]))
    assert diffs <= {("cat", "plain"), ("lines", "plain")}


def test_styled_extraction_schema_and_values(spark, depara):
    """with_styling=True widens the span struct with the reference's
    styling fields: populated on pdf_layout turns, null on text turns;
    clean_text/offsets identical to the default mode."""
    layout_doc = json.dumps({
        "elements": [
            {"Text": "Titulo grande", "Bounds": [50, 700, 500, 730], "Page": 0,
             "Path": "//Document/Title",
             "Font": {"family_name": "* Arial", "weight": 700, "italic": False},
             "TextSize": 16.0, "Lang": "pt"},
            {"Text": "corpo do texto", "Bounds": [50, 600, 500, 630], "Page": 0,
             "Path": "//Document/Sect/P",
             "Font": {"family_name": "* Times", "weight": 400, "italic": True},
             "TextSize": 10.0, "Lang": "pt"},
        ],
        "pages": [{"page_number": 0, "width": 612.0}],
    })
    rows = [
        ("c0", 0, "user", layout_doc, None),
        ("c0", 1, "user", "texto simples de prosa", None),
    ]
    sdf = spark.createDataFrame(rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING")
    out = pipeline.extract_transcripts(sdf, depara, with_styling=True)
    span_struct = out.schema["spans"].dataType.elementType
    assert {f.name for f in span_struct.fields} == {
        "start", "end", "kind", "font_family", "font_weight", "italic", "text_size", "lang"
    }
    res = _collect_sorted(out)
    styled = res.iloc[0].spans
    assert styled[0]["font_family"] == "* Arial" and styled[0]["font_weight"] == 700
    assert styled[0]["text_size"] == 16.0 and styled[0]["lang"] == "pt"
    assert styled[1]["italic"] is True or styled[1]["italic"] == True  # noqa: E712
    plain_turn = res.iloc[1].spans
    assert all(s["font_family"] is None and s["text_size"] is None for s in plain_turn)
    # offsets identical to the default mode
    base = _collect_sorted(pipeline.extract_transcripts(sdf, depara))
    assert base.iloc[0].clean_text == res.iloc[0].clean_text
    assert [(s["start"], s["end"]) for s in base.iloc[0].spans] == [
        (s["start"], s["end"]) for s in styled
    ]


def test_structured_tables_opt_in(spark, tiny, depara):
    """with_tables=True emits every DocAI table as structured
    header+rows (SURVEY §2.9 table-structure optional), equal to the
    scalar extract_tables_structured twin; non-json turns carry []."""
    from pdf_ocr_api_spark.extract.services import extract_tables_structured

    meta, sdf = tiny
    out = pipeline.extract_transcripts(sdf, depara, with_tables=True)
    assert "tables" in out.columns
    res = _collect_sorted(out)
    raw = {
        (r.conv_id, r.turn_idx): r.text
        for r in meta[["conv_id", "turn_idx", "text"]].itertuples()
    }
    checked_tables = 0
    for row in res.itertuples():
        got = [
            {"page": t["page"], "header": list(t["header"]), "rows": [list(x) for x in t["rows"]]}
            for t in row.tables
        ]
        text = raw[(row.conv_id, row.turn_idx)]
        t = (text or "").lstrip()
        want = []
        if t.startswith("{"):
            try:
                doc = json.loads(text)
                if isinstance(doc, dict) and "elements" not in doc:
                    want = extract_tables_structured(doc)
            except Exception:
                want = []
        assert got == want, (row.conv_id, row.turn_idx)
        checked_tables += len(got)
    assert checked_tables > 10  # the fixture corpus has real tables
    # default mode: no tables column
    assert "tables" not in pipeline.extract_transcripts(sdf, depara).columns


def test_extended_metadata(spark, depara):
    """§2.9 pdf-properties analogue: declared extended_metadata fields
    pass through verbatim; page_count/is_scanned/rotation derive from
    pages[] when undeclared; language falls back to the lang_id content
    heuristic; non-document payloads stay all-null (language still from
    content)."""
    layout_doc = {
        "version": {"json_export": "1.6.1"},
        "extended_metadata": {
            "language": "pt",
            "page_count": 4,
            "pdf_version": "1.7",
            "is_encrypted": False,
        },
        "elements": [
            {"ObjectID": 1, "Path": "//Document/P", "Text": "certidao de acervo",
             "Bounds": [50.0, 700.0, 400.0, 730.0], "Page": 0}
        ],
        "pages": [
            {"page_number": 0, "width": 600.0, "height": 800.0, "is_scanned": True, "rotation": 90}
        ],
    }
    bare_doc = {
        "elements": [
            {"ObjectID": 1, "Path": "//Document/P", "Text": "sem metadados declarados",
             "Bounds": [50.0, 700.0, 400.0, 730.0], "Page": 0}
        ],
        "pages": [
            {"page_number": 0, "width": 600.0, "height": 800.0, "is_scanned": False, "rotation": 0},
            {"page_number": 1, "width": 600.0, "height": 800.0, "is_scanned": True, "rotation": 180},
        ],
    }
    plain = ("the quick brown fox jumps over the lazy dog and runs across the "
             "river bank with the other animals")
    rows = [
        ("c0", 0, "user", json.dumps(layout_doc), None),
        ("c0", 1, "user", json.dumps(bare_doc), None),
        ("c0", 2, "user", plain, None),
    ]
    sdf = spark.createDataFrame(
        rows, "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
    )
    ext = pipeline.extract_transcripts(sdf, depara, with_metadata=True)
    out = {
        r.turn_idx: r.extended_metadata
        for r in pipeline.with_extended_metadata(ext).collect()
    }
    m0 = out[0]
    assert (m0.language, m0.page_count, m0.pdf_version, m0.is_encrypted,
            m0.is_scanned, m0.rotation) == ("pt", 4, "1.7", False, True, 90)
    m1 = out[1]
    assert m1.page_count == 2          # len(pages) fallback
    assert m1.is_scanned is True       # any-page OR
    assert m1.rotation == 0            # first page's
    assert m1.pdf_version is None and m1.is_encrypted is None
    m2 = out[2]
    assert m2.language == "en"         # lang_id content fallback
    assert m2.page_count is None and m2.is_scanned is None
    # default mode: no meta_* columns
    assert "meta_page_count" not in pipeline.extract_transcripts(sdf, depara).columns
