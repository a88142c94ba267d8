"""Regex/pattern layer: F2-F12 predicates, T7-T14 extractors (SURVEY.md §2.2/2.7).

All patterns are behavior-faithful translations of the reference's JS
regexes (file:line cited inline). JS regexes are NOT unicode-aware by
default (``\\b``/``\\d``/``\\w`` are ASCII), so patterns relying on
boundaries/digit classes are compiled with ``re.ASCII``; patterns with
accented character classes keep unicode case folding (JS ``/i`` does
simple unicode folding even without ``u``).
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# F2 — boilerplate deny-list, ref parser/parseDocument.js:139-180 (36 patterns)
# Applied to `${Categoria} ${Descricao}`.trim() in the reference; our text
# path additionally applies it line-wise to strip boilerplate lines.
# ---------------------------------------------------------------------------

BOILERPLATE_PATTERNS_SRC: list[str] = [
    r"Certidão\s+de\s+Acervo\s+Técnico",
    r"Conselho\s+Regional\s+de\s+Engenharia\s+(e\s+)?Agronomia",
    r"Conselho\s+Regional\s+de\s+Engenharia\s*$",
    r"Regional\s+de\s+Engenharia\s+.*Agronomia\s+da\s+Bahia",
    r"CREA-\s*BA|CREA\s*-\s*BA",
    r"Página\s*\d+\s*\/\s*\d+",
    r"vinculado\s+à\s+Certidão",
    r"Chave\s+de\s+Impress[ãa]?o?",
    r"Certidão\s*[°º]\s*\d+\s*\/\s*\d*",
    r"\/\d{2}\/\d{4},\s*\d{2}:\s*$",
    r"^\/\d{2}\/\d{4},\s*\d{2}:$",
    r"Tel:\s*\+\s*55\s*\(\d{2}\)",
    r"Avenida\s+\d+|Avanida\s+\d+",
    r"Rua\s+[A-ZÀ-Ú]",
    r"Plataforma\s+[GL]\s*,?\s*Lado\s+[AB]",
    r"Centro\s+Administrativo\s+da\s+Bahia",
    r"Salvador-Bahia\s+CEP",
    r"Impresso\s+em:\s*\d{2}\/\d{2}\/\d{4}",
    r"Este\s+documento\s+encontra-se\s+registrado",
    r"O\s+documento\s+neste\s+ato\s+registrado",
    r"Resolução\s+N[°º]\s*\d+",
    r"CERTIFICAMOS\s*,",
    r"Coordenação\s+Executiva\s+de\s+Infraestrutura\s+da\s+Rede",
    r"Declaramos\s+que\s+todos\s+os\s+serviços",
    r"Comissão\s+Transitória\s+de\s+Recebimento",
    r"Coordenador\s+Executivo\s*$",
    r"Mat\.\s*\d+\.\d+\.\d+-\d*",
    r"E-mail:\s*creaba@creaba",
    r"Fax:\s*\+\s*55",
    r"Site:\s*www\.",
    r"GOVERNO\s+DO\s+ESTADO",
    r"Secretaria\s+da\s+Saúde\s+do\s+Estado",
    r"under\s+F\.L\.",
    r"^un\s*$",
    r"(?:Silvia|ílvia|Sílvia)\s+Maria\s+Pereira",
    r"Fernando\s+\.?\s*da\s+Cunha",
    r"Cesar\s+Maurício\s+B",
    r"ésar\s+Mauricio\s+Chastinet",
    r"^\d{2}\/\d{2}\/\d{4},\s*09:\s*$",
    r"^\s*\/\d{2}\/\d{4},\s*\d{2}:\s*$",
]

BOILERPLATE_PATTERNS = [re.compile(p, re.IGNORECASE) for p in BOILERPLATE_PATTERNS_SRC]

# One alternation for vectorized pandas `.str.contains`; capturing groups
# are rewritten non-capturing (no backreferences exist in the sources) so
# pandas treats it as a pure match. `^`/`$` anchors keep per-pattern meaning
# inside a (?:...) alternation with re.M off (matching per full string).
def _noncapturing(p: str) -> str:
    # rewrite unescaped capturing groups only (no backrefs in the sources)
    return re.sub(r"(?<!\\)\((?![?])", "(?:", p)


BOILERPLATE_COMBINED = re.compile(
    "|".join(f"(?:{_noncapturing(p)})" for p in BOILERPLATE_PATTERNS_SRC),
    re.IGNORECASE,
)

# Java-regex flavor for Spark `rlike`. (?iu): Java's bare (?i) folds ASCII
# only, while JS /i folds Unicode — (?u) restores parity for the accented
# pattern literals ( Técnico, à, º, …).
BOILERPLATE_COMBINED_JAVA = "(?iu)" + "|".join(
    f"(?:{_noncapturing(p)})" for p in BOILERPLATE_PATTERNS_SRC
)

DESC_MAX_LENGTH = 600  # ref parser/parseDocument.js:181


def is_boilerplate(text: str) -> bool:
    """F2 — any of the 36 patterns matches (ref parseDocument.js:202-214)."""
    return BOILERPLATE_COMBINED.search(text) is not None


# ---------------------------------------------------------------------------
# Vectorized line-wise F2 for the extraction hot path.
#
# The 40-alternation combined regex costs ~80 µs/line in CPython's
# backtracking engine — the single largest Python cost in the text path.
# Every pattern, however, REQUIRES one of a small set of case-folded
# literals (verified pattern-by-pattern; equality with the combined regex
# is asserted in tests over per-pattern witnesses AND the fixture corpus).
# The grouped matcher screens with C-speed substring scans and runs each
# tiny per-group regex only on the lines its literal admits — same result,
# ~8× less Python regex time. The scalar `is_boilerplate` twin is left
# untouched (parity baseline).
# ---------------------------------------------------------------------------

_F2_SCREEN: list[tuple[str, tuple[int, ...]]] = [
    ("certid", (0, 8)),
    ("conselho", (1, 2)),
    ("regional", (3,)),
    ("crea", (4,)),
    ("págin", (5,)),
    ("vinculado", (6,)),
    ("chave", (7,)),
    ("tel:", (11,)),
    ("aven", (12,)),
    ("avan", (12,)),
    ("rua", (13,)),
    ("plataforma", (14,)),
    ("centro", (15,)),
    ("salvador", (16,)),
    ("impresso", (17,)),
    ("documento", (18, 19)),
    ("resolu", (20,)),
    ("certificamos", (21,)),
    ("coorden", (22, 25)),
    ("declaramos", (23,)),
    ("comiss", (24,)),
    ("mat.", (26,)),
    ("e-mail", (27,)),
    ("fax", (28,)),
    ("site:", (29,)),
    ("governo", (30,)),
    ("secretaria", (31,)),
    ("under", (32,)),
    ("ilvia", (34,)),
    ("ílvia", (34,)),
    ("fernando", (35,)),
    ("cesar", (36,)),
    ("ésar", (37,)),
]
# the date-stamp patterns have no letter literal: they all require '/', ',', ':'
_F2_DATE_IDXS: tuple[int, ...] = (9, 10, 38, 39)
# ^un\s*$ — anchored, so startswith('un') is its sound screen
_F2_UN_IDX = 33

_F2_GROUP_RX: dict[tuple[int, ...], re.Pattern] = {}
for _lit, _idxs in list(_F2_SCREEN) + [("", _F2_DATE_IDXS), ("", (_F2_UN_IDX,))]:
    if _idxs not in _F2_GROUP_RX:
        _F2_GROUP_RX[_idxs] = re.compile(
            "|".join(f"(?:{_noncapturing(BOILERPLATE_PATTERNS_SRC[i])})" for i in _idxs),
            re.IGNORECASE,
        )


def boilerplate_mask(lines):
    """Per-line F2 over a pandas Series — identical to
    ``lines.str.contains(BOILERPLATE_COMBINED)`` (asserted in tests).

    The literal screen runs as C-speed ``str.find`` over ONE
    '\\n'-joined casefolded blob (no literal contains whitespace, so no
    match can cross the separator), positions mapped back to line ids
    with a searchsorted over the line-start offsets; the per-group
    regexes then touch only the admitted lines.

    The blob is ``str.casefold()``ed, not ``lower()``ed: IGNORECASE in
    the combined regex uses Unicode simple folds, so characters with
    irregular folds (U+017F 'ſ' matches 's' under IGNORECASE but
    survives lower()) would false-negative a lower()-based screen. The
    screen only ADMITS candidates — the authoritative match is always
    the IGNORECASE regex over the original line — so casefold widening
    (e.g. 'ß'→'ss') can only add candidates, never change the result.
    Casefold never produces or consumes '\\n', so line mapping is exact."""
    import numpy as np
    import pandas as pd

    if lines.empty:
        return pd.Series(np.zeros(0, dtype=bool), index=lines.index)
    vals = lines.to_numpy()
    low_vals = lines.str.casefold().to_numpy()
    n = len(vals)
    # ONE utf-8 encode of the joined blob; lines are recovered from byte
    # positions by counting '\n' bytes (0x0A never occurs inside a
    # multi-byte utf-8 sequence, so byte-level mapping is exact)
    bblob = "\n".join(low_vals).encode("utf-8")
    arr = np.frombuffer(bblob, np.uint8)
    nl = np.flatnonzero(arr == 10)
    out = np.zeros(n, dtype=bool)

    def _line_ids(positions) -> "np.ndarray":
        return np.unique(np.searchsorted(nl, positions))

    def _lines_with(lit: str):
        blit = lit.encode("utf-8")
        hits = []
        p = bblob.find(blit)
        while p != -1:
            hits.append(p)
            p = bblob.find(blit, p + len(blit))
        if not hits:
            return None
        return _line_ids(np.asarray(hits, np.int64))

    def _lines_with_char(c: str):
        pos = np.flatnonzero(arr == ord(c))
        return _line_ids(pos) if len(pos) else None

    def _run(cand, idxs: tuple[int, ...]):
        if cand is None or not len(cand):
            return
        cand = cand[~out[cand]]  # already-matched lines need no more work
        rx = _F2_GROUP_RX[idxs]
        for i in cand:
            if rx.search(vals[i]) is not None:
                out[i] = True

    for lit, idxs in _F2_SCREEN:
        _run(_lines_with(lit), idxs)

    slash = _lines_with_char("/")
    if slash is not None:
        comma = _lines_with_char(",")
        if comma is not None:
            cand = np.intersect1d(slash, comma, assume_unique=True)
            colon = _lines_with_char(":")
            if colon is not None and len(cand):
                _run(np.intersect1d(cand, colon, assume_unique=True), _F2_DATE_IDXS)

    # 'un' is frequent as a substring — match the 2-byte pair in numpy
    un = np.flatnonzero((arr[:-1] == ord("u")) & (arr[1:] == ord("n")))
    _run(_line_ids(un) if len(un) else None, (_F2_UN_IDX,))
    return pd.Series(out, index=lines.index)


# ---------------------------------------------------------------------------
# F4-F6 garbage predicates, ref parser/parseDocument.js:183-201
# ---------------------------------------------------------------------------

_PUNCT_ONLY = re.compile(r"^[.,;:\s]+$")
_DIGITS_ONLY = re.compile(r"^\d+$", re.ASCII)
_NUMERIC_ONLY = re.compile(r"^[\d.,]+$", re.ASCII)
_NON_DIGIT = re.compile(r"\D", re.ASCII)


def is_garbage_quantidade(qtd: str | None) -> bool:
    """F4 — ref parseDocument.js:183-190."""
    if qtd is None:
        return False
    s = str(qtd).strip()
    if _PUNCT_ONLY.match(s) or s == "" or len(s) > 25:
        return True
    if _DIGITS_ONLY.match(s) and len(s) > 12:
        return True
    if _NUMERIC_ONLY.match(s) and len(_NON_DIGIT.sub("", s)) > 15:
        return True
    return False


def is_garbage_item(item: str | None) -> bool:
    """F5 — ref parseDocument.js:191-195."""
    if item is None:
        return False
    s = str(item).strip()
    return bool(_DIGITS_ONLY.match(s)) and len(s) > 10


_IDX_LIKE = re.compile(r"^\d{1,4}$", re.ASCII)


def unidade_parece_indice(unidade) -> bool:
    """F6 — ref parseDocument.js:197-201 (1-4 digit positive number)."""
    if unidade is None:
        return False
    u = str(unidade).strip()
    return bool(_IDX_LIKE.match(u)) and int(u) > 0


PAGINA_DESC = re.compile(r"^Página\s*\d+\s*\/?\s*$", re.IGNORECASE)  # F12, :208


# ---------------------------------------------------------------------------
# T7/T8 — quantity / item detection, ref parser/parseServices.js:50-68
# ---------------------------------------------------------------------------

QUANTIDADE_TRAILING = re.compile(r"([\d.,]+)$", re.ASCII)
ITEM_LEADING = re.compile(r"^\d+(\.\d+)*", re.ASCII)
# single-capture variant for vectorized str.extract (same ASCII semantics)
ITEM_LEADING_CAPTURE = re.compile(r"^(\d+(?:\.\d+)*)", re.ASCII)
ITEM_FULL = re.compile(r"^\d+(\.\d+)*$", re.ASCII)  # parseServices.js:176


def detect_quantidade(linha: str) -> tuple[str | None, str]:
    """T7 — trailing `[\\d.,]+` → (qty, residual-trimmed)."""
    m = QUANTIDADE_TRAILING.search(linha)
    if not m:
        return None, linha
    return m.group(1), QUANTIDADE_TRAILING.sub("", linha, count=1).strip()


def detect_item(linha: str) -> tuple[str | None, str]:
    """T8 — leading dotted number → (item, residual-trimmed).

    The reference strips via ``String.replace(match[0])`` (string arg →
    first literal occurrence, which for a leading match is the prefix).
    """
    m = ITEM_LEADING.match(linha)
    if not m:
        return None, linha
    return m.group(0), linha[m.end():].strip()


# ---------------------------------------------------------------------------
# T10/T11 — numero / estado scalar extractions, ref parseDocument.js:85-91
# (JS \b and \d are ASCII → re.ASCII mirrors the semantics.)
# ---------------------------------------------------------------------------

NUMERO_RE = re.compile(r"\b\d{5,}/\d{4}\b", re.ASCII)
UF_RE = re.compile(
    r"\b(AC|AL|AP|AM|BA|CE|DF|ES|GO|MA|MT|MS|MG|PA|PB|PR|PE|PI|RJ|RN|RS|RO|RR|SC|SP|SE|TO)\b",
    re.ASCII,
)

# Spark/Java-regex twins. Java's \b is Unicode-aware (unlike JS / Python
# re.ASCII, where accented letters are non-word chars, so e.g. the "ES"
# inside "VERIFICAÇÕES" *is* a match in the reference) — replicate the JS
# semantics with explicit ASCII lookarounds.
_B_L = r"(?<![A-Za-z0-9_])"
_B_R = r"(?![A-Za-z0-9_])"
NUMERO_RE_JAVA = rf"{_B_L}\d{{5,}}/\d{{4}}{_B_R}"
UF_RE_JAVA = (
    rf"{_B_L}(AC|AL|AP|AM|BA|CE|DF|ES|GO|MA|MT|MS|MG|PA|PB|PR|PE|PI|RJ|RN|RS|RO|RR|SC|SP|SE|TO){_B_R}"
)


def extract_numero(texto: str) -> str | None:
    m = NUMERO_RE.search(texto)
    return m.group(0) if m else None


def extract_estado(texto: str) -> str | None:
    m = UF_RE.search(texto)
    return m.group(1) if m else None


# ---------------------------------------------------------------------------
# X2/X3 — tier-2 CAT splitter + tier-3 section markers,
# ref parser/parseServices.js:218-241, 249-253
# ---------------------------------------------------------------------------

CAT_SPLIT = re.compile(
    r";\s*(?=\d+\s*-\s*(?:Execução|Coordenação|Elaboração|Planejamento|Projeto|obra|Obra|serviço|Serviço|técnico|Técnico))",
    re.IGNORECASE,
)
ATIVIDADE_PREFIX = re.compile(r"^Atividade\s+Técnica:\s*", re.IGNORECASE)

PLANILHA_MARKERS = [
    re.compile(r"PLANILHA\s+(?:DOS\s+)?SERVI[CÇ]OS\s+EXECUTADOS", re.IGNORECASE),
    re.compile(r"ITEM\s+UND\.?\s+QUANT", re.IGNORECASE),
    re.compile(r"\d+\.\s*PLANILHA", re.IGNORECASE),
]

CATEGORIA_LINE = re.compile(r"^[A-Z\s]+$")  # parseServices.js:287 (ASCII class in JS)
TOTAL_PREFIX = re.compile(r"^TOTAL\b", re.ASCII)  # parseServices.js:179 (on normalized text)

# ---------------------------------------------------------------------------
# T16 — header→column mapping regexes, ref parseServices.js:24-41
# (applied to normalize_header output: ASCII-only by construction)
# ---------------------------------------------------------------------------

HDR_ITEM = re.compile(r"\bITEM\b", re.ASCII)
HDR_UNIDADE = re.compile(r"\bUNIDADE\b", re.ASCII)
HDR_QUANTIDADE = re.compile(r"\bQUANTIDADE\b|\bQTD\b", re.ASCII)
HDR_DESCRICAO = re.compile(r"\bNATUREZA\b|\bSERVIC|\bDESCRIC", re.ASCII)
