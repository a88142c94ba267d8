"""HTML DOM-heuristics and PDF geometric layout extractors (Phase 2 b/c)."""

import json
import zipfile

from pdf_ocr_api_spark import fixtures
from pdf_ocr_api_spark.extract.html_extract import extract_html
from pdf_ocr_api_spark.extract.pdf_layout import extract_pdf_layout

from tests.conftest import REFERENCE_ROOT, requires_reference


def test_html_main_content_recovery():
    """Generated pages: nav/footer link blocks must be pruned, main div
    block texts recovered verbatim in document order."""
    for i in range(100):
        rng = fixtures.rng_for("t-html", i)
        text, exp = fixtures._gen_html(rng)
        clean, spans = extract_html(text)
        want = "\n".join(t for _, t in exp["blocks"])
        assert clean == want, f"case {i}"
        # spans slice exactly the block texts
        for (s, e, tag), (wtag, wtext) in zip(spans, exp["blocks"]):
            assert clean[s:e] == wtext
            assert tag == wtag


def test_html_malformed_inputs():
    # must not raise, must return something sane
    for payload in ["<div><p>aberto", "<<<", "<html>", "", "<body><p>x</p><p>y</p>"]:
        clean, spans = extract_html(payload)
        assert isinstance(clean, str)
        for s, e, _ in spans:
            assert 0 <= s <= e <= len(clean)


def test_html_link_density_pruning():
    page = (
        "<body><div id='menu'><li><a href='/'>aaaa</a></li><li><a href='/'>bbbb</a></li></div>"
        "<div id='main'><p>conteudo principal com bastante texto corrido aqui dentro</p>"
        "<p>segundo paragrafo igualmente longo para pesar o container</p></div></body>"
    )
    clean, _ = extract_html(page)
    assert "conteudo principal" in clean
    assert "aaaa" not in clean


def test_pdf_layout_reading_order():
    """Shuffled two-column pages must come back in reading order."""
    for i in range(100):
        rng = fixtures.rng_for("t-layout", i)
        text, exp = fixtures._gen_pdf_layout(rng)
        clean, spans = extract_pdf_layout(json.loads(text))
        assert clean == "\n".join(exp["reading_order"]), f"case {i}"
        for s, e, kind in spans:
            assert clean[s:e] == clean[s:e].strip()


@requires_reference
def test_pdf_layout_real_adobe_sample(tmp_path):
    """The reference repo's own golden output (result.zip →
    structuredData.json, ref SURVEY §5) must extract without error and
    keep every non-empty Text element."""
    with zipfile.ZipFile(REFERENCE_ROOT / "result.zip") as z:
        doc = json.loads(z.read("structuredData.json"))
    clean, spans = extract_pdf_layout(doc)
    n_text_elements = sum(1 for e in doc["elements"] if (e.get("Text") or "").strip())
    assert len(spans) == n_text_elements
    assert "CERTIDÃO DE ACERVO TÉCNICO" in clean
    for s, e, _ in spans:
        assert 0 <= s <= e <= len(clean)


def test_pdf_layout_empty_and_missing():
    assert extract_pdf_layout({}) == ("", [])
    assert extract_pdf_layout({"elements": [{"Path": "//P"}]}) == ("", [])


@requires_reference
def test_pdf_layout_styling_spans_from_ref_golden():
    """with_styling=True must surface the reference's styling-info model
    (Font family/weight/italic, TextSize, Lang — ref
    extract-text-table-info-with-styling-info-from-pdf.js:51-54, golden
    structuredData.json) on every span, byte-consistent with the plain
    variant's offsets."""
    with zipfile.ZipFile(REFERENCE_ROOT / "result.zip") as z:
        doc = json.loads(z.read("structuredData.json"))
    clean_plain, plain = extract_pdf_layout(doc)
    clean, styled = extract_pdf_layout(doc, with_styling=True)
    assert clean == clean_plain
    assert [(t[0], t[1], t[2]) for t in styled] == plain
    fams = {t[3] for t in styled}
    sizes = {t[6] for t in styled}
    assert any(f and "Arial" in f for f in fams), fams
    assert any(isinstance(s, float) and s > 0 for s in sizes)
    weights = {t[4] for t in styled}
    assert 400 in weights or 700 in weights
    # Lang is per-element in the golden
    assert "pt" in {t[7] for t in styled}


def test_cells_spans_multi_segment():
    """Default resolves the FIRST textSegment (ref parseServices.js:7-13);
    all_segments=True emits one span per segment (multi-segment cells
    exist in the reference corpus, ref test-documentai.js:17-31)."""
    from pdf_ocr_api_spark.pipeline import _cells_spans

    doc = {
        "text": "abcdefghij",
        "pages": [{
            "tables": [{
                "headerRows": [],
                "bodyRows": [{
                    "cells": [{
                        "layout": {"textAnchor": {"textSegments": [
                            {"startIndex": 0, "endIndex": 3},
                            {"startIndex": 5, "endIndex": 8},
                        ]}}
                    }]
                }],
            }]
        }],
    }
    first = _cells_spans(doc)
    assert [(s["start"], s["end"]) for s in first] == [(0, 3)]
    both = _cells_spans(doc, all_segments=True)
    assert [(s["start"], s["end"]) for s in both] == [(0, 3), (5, 8)]


def test_fast_html_tree_equals_stdlib():
    """The regex tokenizer must produce the same extraction output as
    the stdlib html.parser twin over the full fixture corpus and an
    adversarial payload set (entities, rawtext, mis-nesting, stray '<',
    quoted '>' in attrs, self-closing and void tags, skip-tag nesting)."""
    from pdf_ocr_api_spark.extract.html_extract import (
        _extract_from_root,
        _fast_tree,
        _stdlib_tree,
    )

    adversarial = [
        "<body><div><p>AT&amp;T &lt;tag&gt; &#65;</p></div></body>",
        "<div title=\"a>b\"><p>quoted gt in attr</p></div>",
        "<div><script>var s = \"<p>not content</p>\";</script><p>real</p></div>",
        "<div><style>p::before { content: \"<fake>\"; }</style><p>styled</p></div>",
        "<ul><li>um<li>dois<li>tres</ul>",                      # unclosed li
        "<div><p>mis<b>nested</p></b><p>after</p></div>",       # crossing tags
        "<p>1<2 and 3>4</p>",                                    # stray < in prose
        "<head><title>skip me</title></head><body><p>keep</p></body>",
        "<svg><text>vector text skipped</text></svg><p>kept</p>",
        "<noscript><p>hidden</p></noscript><p>shown</p>",
        "<div/><p>self-closed container</p>",
        "<br><hr/><img src=x><p>voids</p>",
        "<!-- <p>comment</p> --><p>visible</p>",
        "<!DOCTYPE html><?xml pi?><p>decls</p>",
        "<TABLE><TR><TD>Upper</TD></TR></TABLE>",
        "<template><p>nope</p></template><p>sim</p>",
        "<div><a href='#'>link heavy link heavy</a><p>tiny</p></div>",
        "texto puro sem tags",
        "",
    ]
    meta = fixtures.fixture_frame(200, with_meta=True)
    corpus = [t for t in meta["text"] if isinstance(t, str) and t.lstrip()[:1] == "<"]
    checked = 0
    for payload in adversarial + corpus:
        want = _extract_from_root(_stdlib_tree(payload))
        got = _extract_from_root(_fast_tree(payload))
        assert got == want, payload[:200]
        checked += 1
    assert checked > 100  # the corpus actually contributed


def test_html_rawtext_inside_skipped_subtree():
    """A close-tag-looking string inside <script> within an already
    skipped subtree (<svg>) must not terminate the skip — fast tree and
    stdlib twin must agree."""
    from pdf_ocr_api_spark.extract import html_extract as H

    payload = (
        '<html><body><svg><script>var s="</svg>";</script>'
        "<p>menu inside svg</p></svg><p>real body text here</p></body></html>"
    )
    fast_text, _ = H.extract_html(payload)
    assert "menu inside svg" not in fast_text
    assert "real body text" in fast_text
    # stdlib twin agreement on the extracted text
    root_fast = H._fast_tree(payload)
    root_std = H._stdlib_tree(payload)
    assert H._extract_from_root(root_fast) == H._extract_from_root(root_std)
