"""Conversation/document-level parity vs the reference (node oracle).

Covers A1-A6 windows + F2-F12 filters + T10/T11 + J6 as assembled by
ref parser/parseDocument.js (GPT header on its de-facto error path).
"""

import json

from pdf_ocr_api_spark import fixtures
from pdf_ocr_api_spark.extract.document import parse_document_py

from tests.conftest import requires_node, requires_reference, run_ref_oracle


def _conversations(n: int, depara):
    cases = []
    for i in range(n):
        rng = fixtures.rng_for("pytest-docparity", i)
        docs = []
        for j in range(rng.randint(1, 6)):
            kind = ("pdf_table", "cat", "lines", "plain", "boiler", "pdf_table")[(i + j) % 6]
            text, _ = fixtures._BUILDERS[kind](fixtures.rng_for("pytest-docparity", i, j))
            docs.append(json.loads(text) if kind == "pdf_table" else {"text": text, "pages": []})
        cases.append({"docs": docs, "depara": depara})
    return cases


@requires_node
@requires_reference
def test_parse_document_parity(depara):
    cases = _conversations(60, depara)
    ref = run_ref_oracle("parseDocument", cases)
    for i, (case, want) in enumerate(zip(cases, ref)):
        got = parse_document_py(case["docs"], case["depara"])
        assert got == want, f"conversation {i}"


@requires_node
@requires_reference
def test_parse_document_single_doc(depara):
    doc = {"text": "Certidão CAT CREA 98765/2023 estado BA\nATIVIDADES\nObra um - fase: x M2 10,00", "pages": []}
    want = run_ref_oracle("parseDocument", [{"docs": [doc], "depara": depara}])[0]
    got = parse_document_py([doc], depara)
    assert got == want
