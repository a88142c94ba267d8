"""Byte-parity of the parser cascade vs the reference (node oracle).

The strongest correctness gate: tools/ref_oracle.js runs the ACTUAL
read-only reference code (/root/reference/parser/*) on the same inputs;
these tests assert exact equality of the structured output.
"""

import json

from pdf_ocr_api_spark import fixtures
from pdf_ocr_api_spark.extract.services import parse_services
from pdf_ocr_api_spark.extract.tipo import detect_tipo_certidao, map_by_sigla
from pdf_ocr_api_spark.extract.units import normalize_unidade

from tests.conftest import requires_node, requires_reference, run_ref_oracle


def _payload_cases(n: int):
    cases, metas = [], []
    for i in range(n):
        rng = fixtures.rng_for("pytest-parity", i)
        kind = ("pdf_table", "cat", "lines", "plain", "boiler")[i % 5]
        text, _ = fixtures._BUILDERS[kind](rng)
        doc = json.loads(text) if kind == "pdf_table" else {"text": text, "pages": []}
        cases.append({"doc": doc, "depara": fixtures.runtime_depara()})
        metas.append((i, kind))
    return cases, metas


@requires_node
@requires_reference
def test_parse_services_fuzz_parity(depara):
    cases, metas = _payload_cases(300)
    ref = run_ref_oracle("parseServices", cases)
    for (i, kind), case, want in zip(metas, cases, ref):
        got = parse_services(case["doc"], case["depara"])
        assert got == want, f"case {i} kind={kind}"


ADVERSARIAL_TEXTS = [
    "Atividade Técnica: 1 - Execução X 10; 2 - obra Y",
    "Atividade Técnica: 1 - Execução de teste 99,9%;2 - Técnico apoio H 5",
    "PLANILHA DE SERVIÇOS EXECUTADOS\nABC\n1.2.3 Pintura M2 10,5\nTOTAL 100\nun\nUF: BA",
    "ITEM UND. QUANT\n1 Alvenaria M2 50,00\nxx",
    "linha curta\n12345 678,90\nSOMENTE MAIUSCULAS AQUI\n   \n%%% 12,3",
    "1. PLANILHA\nExecução de cobertura MES 3\nCategoria:\nMuro - pintura H 8",
    "Atividade Técnica: 1 - Planejamento total 1.234.567.890.123.456,78",
    "Execução %",
    "Atividade Técnica: 9 - Serviço especial UT 4,0; 10 - Obra geral KG 2",
    "\r\nPLANILHA DOS SERVIÇOS EXECUTADOS\r\n1 Demolição M3 7,77\r\n",
    "10.2.3Pintura M2 1,0",
    "Texto com M - Metro literal e 5,5",
    "mês 12",
    "ATIVIDADE TÉCNICA: 1 - EXECUÇÃO DE OBRA M2 10; 2 - COORDENAÇÃO H 4",
]


@requires_node
@requires_reference
def test_parse_services_adversarial_parity(depara):
    cases = [{"doc": {"text": t, "pages": []}, "depara": depara} for t in ADVERSARIAL_TEXTS]
    ref = run_ref_oracle("parseServices", cases)
    for t, case, want in zip(ADVERSARIAL_TEXTS, cases, ref):
        assert parse_services(case["doc"], case["depara"]) == want, repr(t[:60])


@requires_node
@requires_reference
def test_normalize_unidade_parity(depara):
    vals = [
        "M2", "m²", "M²", "M³", "m3", "KG", "kg", "UT", "un", "UN", "MÊS",
        "mes", "HORA", "h", "%", "METRO QUADRADO", "metro cubico",
        "Quilograma", "xyz", "M 2", "M-2", "M/2", "  m2  ", "47", "",
        None, "percentual", "PERCENTUAL", "M2.", "(M2)", "×", "X",
    ]
    unis = depara["unidades"]
    ref = run_ref_oracle("normalizeUnidade", [{"unidade": v, "listaUnidades": unis} for v in vals])
    for v, want in zip(vals, ref):
        assert normalize_unidade(v, unis) == want, repr(v)


@requires_node
@requires_reference
def test_detect_tipo_parity():
    lista = fixtures.DEPARA_RAW["tipoCertidao"]
    texts = [
        "Certidão de Acervo Técnico CREA-BA", "acervo operacional CAU",
        "CAT CRT", "cao cfta", "CERTIDAO ACERVO TECNICO CAU",
        "nothing here", "CRA cat", "CAO CRA", "CAT", "CREA",
        "Conselho CFTA acervo técnico", None, "",
    ]
    ref = run_ref_oracle("detectTipoCertidao", [{"texto": t, "listaTipos": lista} for t in texts])
    for t, want in zip(texts, ref):
        assert detect_tipo_certidao(t, lista) == want, repr(t)


@requires_node
@requires_reference
def test_map_by_sigla_parity():
    lista = fixtures.DEPARA_RAW["nivelAtividade"]
    vals = ["execução da obra", "obra executada", "fiscalização", "projeto básico",
            "ELABORAÇÃO", "nada", "Execução e Fiscalização", None, ""]
    ref = run_ref_oracle("mapBySigla", [{"valor": v, "lista": lista} for v in vals])
    for v, want in zip(vals, ref):
        assert map_by_sigla(v, lista) == want, repr(v)


def test_parse_lines_batch_matches_scalar(depara):
    """The batch-vectorized tier 3 must be byte-identical to the scalar
    _parse_lines on every fast-eligible turn (no ';', no markers)."""
    import pandas as pd

    from pdf_ocr_api_spark.extract import services as S
    from pdf_ocr_api_spark.functions import patterns as P
    from pdf_ocr_api_spark.functions.normalize import v_clean_line

    texts = []
    for i in range(300):
        rng = fixtures.rng_for("t-vec3", i)
        kind = ("plain", "boiler", "lines")[i % 3]
        t, _ = fixtures._BUILDERS[kind](rng)
        texts.append(t)
    texts += [
        "", "a\nbb\nccccc\n12345 678,90", "SOMENTE MAIUSCULAS",
        "1.2.3Pintura M2 1,0\nmês 12\nhora H 1",
        "１２ Execucao de alvenaria M2 10,00",   # full-width digits (unicode \d trap)
        "٣٤ obra arabe H 5",                     # arabic-indic digits
    ]
    texts = [
        t for t in texts
        if ";" not in t and not any(rx.search(t) for rx in P.PLANILHA_MARKERS)
    ]
    assert len(texts) > 150

    want = {i: S._parse_lines(t.replace("\r\n", "\n"), depara) for i, t in enumerate(texts)}
    lines = pd.Series(texts).str.split("\n").explode()
    got = S.parse_lines_batch(v_clean_line(lines), depara)
    for i in range(len(texts)):
        assert want[i] == got.get(i, []), repr(texts[i][:80])
