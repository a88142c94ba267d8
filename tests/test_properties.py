"""Property-based tests (hypothesis) for the pure scalar layer —
robustness over arbitrary unicode input, no Spark session needed."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_ocr_api_spark import fixtures
from pdf_ocr_api_spark.extract.document import parse_document_py
from pdf_ocr_api_spark.extract.services import parse_services
from pdf_ocr_api_spark.extract.units import detect_unidade
from pdf_ocr_api_spark.functions import normalize as N
from pdf_ocr_api_spark.functions import patterns as P

TEXT = st.text(max_size=400)
DEPARA = fixtures.runtime_depara()


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_clean_line_idempotent_and_trimmed(s):
    once = N.clean_line(s)
    assert N.clean_line(once) == once
    assert once == once.strip()
    assert "  " not in once and "\n" not in once and "\t" not in once


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_normalize_header_idempotent(s):
    once = N.normalize_header(s)
    assert N.normalize_header(once) == once


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_clean_ocr_alphabet(s):
    out = N.clean_ocr(s)
    assert all(c.isascii() and (c.isalnum() or c in "X%") for c in out), out


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_detect_quantidade_residual_invariant(s):
    qty, rest = P.detect_quantidade(s)
    if qty is not None:
        assert s.rstrip().endswith(qty)
    assert len(rest) <= len(s)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_detect_unidade_never_crashes_and_strips(s):
    uid, rest = detect_unidade(s, DEPARA["unidades"])
    assert (uid is None and rest == (s or "")) or (uid is not None and len(rest) < len(s))


@given(TEXT)
@settings(max_examples=150, deadline=None)
def test_parse_services_total_on_arbitrary_text(s):
    """The cascade must be total over arbitrary text payloads — every
    row shaped like the reference contract."""
    rows = parse_services({"text": s, "pages": []}, DEPARA)
    for r in rows:
        assert set(r) == {"Item", "Categoria", "Descricao", "Unidade", "Quantidade"}
        assert r["Unidade"] is None or isinstance(r["Unidade"], int)


@given(st.lists(TEXT, max_size=5))
@settings(max_examples=75, deadline=None)
def test_parse_document_total(docs):
    out = parse_document_py([{"text": t, "pages": []} for t in docs], DEPARA)
    assert set(out) >= {"NumerodaCertidao", "Estado", "TipodaCertidao", "Servicos"}
    json.dumps(out, ensure_ascii=False)  # fully serializable


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=300))
@settings(max_examples=150, deadline=None)
def test_html_extractor_total_and_spans_valid(s):
    from pdf_ocr_api_spark.extract.html_extract import extract_html

    clean, spans = extract_html("<body><p>" + s + "</p></body>")
    for a, b, _ in spans:
        assert 0 <= a <= b <= len(clean)
