"""Dimension lookups J2/J3/J6 (SURVEY.md §2.3) + deterministic header rules.

* ``map_by_sigla``        — ref parser/mapBySigla.js:9-27 (J2)
* ``normalize_depara``    — ref parser/normalizeDepara.js:10-15
* ``detect_tipo_certidao``— ref parser/detectTipoCertidao.js:9-45 (J6)
* ``deterministic_header``— replaces the reference's GPT call (S7,
  ref gpt/extractHeader.js:11-134) with the same rules the prompt encodes,
  applied via J2 lookups; opt-in (parity mode emits the reference's
  de-facto all-null header, ref gpt/extractHeader.js:123-133).
"""

from __future__ import annotations

from ..functions.normalize import normaliza_depara, normaliza_sigla, normalize_tipo


def normalize_depara(lista, campo: str):
    """Normalize a de/para list to ``[{id, valor}]`` (T2 applied to campo)."""
    return [{"id": item["id"], "valor": normaliza_depara(item.get(campo))} for item in (lista or [])]


def map_by_sigla(valor: str | None, lista) -> int | None:
    """J2 — first item any of whose normalized siglas is contained in
    the normalized value."""
    if not valor or not isinstance(lista, list):
        return None
    v = normaliza_sigla(valor)
    for item in lista:
        siglas = item.get("siglas") if isinstance(item, dict) else None
        if not siglas:
            continue
        if any(normaliza_sigla(s) in v for s in siglas if s is not None):
            return item["id"]
    return None


# J6 — combo table, ref detectTipoCertidao.js:25-33 (order = precedence)
_TIPO_COMBOS = [
    ("CAT", "CREA", "CATCREA"),
    ("CAO", "CREA", "CAOCREA"),
    ("CAT", "CAU", "CATCAU"),
    ("CAO", "CAU", "CAOCAU"),
    ("CAT", "CRT", "CATCRT"),
    ("CAO", "CRT", "CAOCRT"),
    ("CAT", "CRA", "CATCRA"),
    ("CAO", "CRA", "CAOCRA"),
    ("CAO", "CFTA", "CAOCFTA"),
]


def detect_tipo_certidao(texto: str | None, lista_tipos) -> int | None:
    """J6 — classify (CAT|CAO) × council → name → id by normalized equality."""
    if not texto or not isinstance(lista_tipos, list):
        return None

    upper = normalize_tipo(texto)

    flags = {
        "CAT": "ACERVOTECNICO" in upper or "CAT" in upper,
        "CAO": "ACERVOOPERACIONAL" in upper or "CAO" in upper,
        "CREA": "CREA" in upper,
        "CAU": "CAU" in upper,
        "CRT": "CRT" in upper,
        "CRA": "CRA" in upper,
        "CFTA": "CFTA" in upper,
    }

    nome_detectado = None
    for kind, council, nome in _TIPO_COMBOS:
        if flags[kind] and flags[council]:
            nome_detectado = nome
            break
    if nome_detectado is None:
        return None

    for item in lista_tipos:
        texto_lista = item.get("tipoCertidao") or item.get("valor") or ""
        if normalize_tipo(texto_lista) == nome_detectado:
            return item["id"]
    return None


def deterministic_header(texto_cabecalho: str | None, depara: dict) -> dict:
    """Deterministic replacement for the reference's GPT header extractor.

    Applies the rules the GPT prompt encodes (ref gpt/extractHeader.js:41-74)
    using J2/J6 lookups over the first 8,000 chars (ref :23). Returns the
    same shape as the reference's response contract (ref :78-88).
    """
    if not texto_cabecalho:
        return {
            "TipodaCertidao": None,
            "NiveldeAtividade": None,
            "QualificacaoObra": None,
            "QualificacaoEspecifica": None,
            "ObjetodaCertidao": None,
        }
    head = texto_cabecalho[:8000]
    return {
        "TipodaCertidao": detect_tipo_certidao(head, depara.get("listaTiposOriginal") or depara.get("tipoCertidao")),
        "NiveldeAtividade": map_by_sigla(head, depara.get("nivelAtividade")),
        "QualificacaoObra": map_by_sigla(head, depara.get("qualificacaoObra")),
        "QualificacaoEspecifica": map_by_sigla(head, depara.get("qualificacaoEspecifica")),
        "ObjetodaCertidao": None,
    }
