"""Deterministic synthetic transcript fixtures (FIXTURES.md §1-2, seed=42).

Every value is a pure function of ``(conv_id, turn_idx)`` via a crc32-seeded
``random.Random`` — generation is reproducible regardless of partitioning or
evaluation order, so the same table can be built driver-side (tiny pytest
fixtures) or distributed via ``mapInPandas`` (bench scale) with identical
bytes.

Payload kinds and weights per FIXTURES.md §1: plain 0.35, boiler 0.20,
html 0.15, pdf_table 0.15, pdf_layout 0.10, cat/lines 0.05.
"""

from __future__ import annotations

import json
import random
import zlib
from datetime import datetime, timedelta

import pandas as pd

SEED = 42

# ---------------------------------------------------------------------------
# De/para dimension fixtures (FIXTURES.md §2; shapes from ref parser/depara.js
# and the worker's normalize step, ref worker/processJob.js:28-50)
# ---------------------------------------------------------------------------

DEPARA_RAW: dict = {
    "tipoCertidao": [
        {"id": 1, "tipoCertidao": "CAT – CREA"},
        {"id": 2, "tipoCertidao": "CAO – CREA"},
        {"id": 3, "tipoCertidao": "CAT – CAU"},
        {"id": 4, "tipoCertidao": "CAO – CAU"},
        {"id": 5, "tipoCertidao": "CAT – CRT"},
        {"id": 6, "tipoCertidao": "CAO – CFTA"},
    ],
    "nivelAtividade": [
        {"id": 1, "nivelAtividade": "Execução", "siglas": ["EXECUCAO", "EXECUTADO"]},
        {"id": 2, "nivelAtividade": "Fiscalização", "siglas": ["FISCALIZACAO", "FISCAL"]},
        {"id": 3, "nivelAtividade": "Elaboração", "siglas": ["ELABORACAO", "PROJETO"]},
    ],
    "qualificacaoObra": [
        {"id": 1, "qualificacao": "Edificação", "siglas": ["EDIFICACAO", "OBRAS CIVIS"]},
        {"id": 2, "qualificacao": "Infraestrutura", "siglas": ["INFRAESTRUTURA"]},
    ],
    "qualificacaoEspecifica": [
        {"id": 1, "qualificacaoEspecifica": "Hospital", "siglas": ["HOSPITAL", "SAUDE"]},
        {"id": 2, "qualificacaoEspecifica": "Escolar", "siglas": ["ESCOLAR", "EDUCACAO"]},
    ],
    "unidades": [
        {"id": 1, "unidadeNome": "M - Metro"},
        {"id": 2, "unidadeNome": "M2 - Metro Quadrado"},
        {"id": 3, "unidadeNome": "M3 - Metro Cúbico"},
        {"id": 4, "unidadeNome": "UN - Unidade"},
        {"id": 5, "unidadeNome": "MES - Mês"},
        {"id": 6, "unidadeNome": "H - Hora"},
        {"id": 7, "unidadeNome": "% - Percentual"},
        {"id": 8, "unidadeNome": "KG - Quilograma"},
    ],
}

_DEPARA_FIELD = {
    "tipoCertidao": "tipoCertidao",
    "nivelAtividade": "nivelAtividade",
    "qualificacaoObra": "qualificacao",
    "qualificacaoEspecifica": "qualificacaoEspecifica",
    "unidades": "unidadeNome",
}


def runtime_depara() -> dict:
    """The depara dict exactly as the reference worker hands it to
    parseDocument (ref worker/processJob.js:28-50, 94-96): five normalized
    ``[{id, valor}]`` lists + the original tipo list."""
    from .extract.tipo import normalize_depara

    out = {k: normalize_depara(DEPARA_RAW[k], f) for k, f in _DEPARA_FIELD.items()}
    out["listaTiposOriginal"] = DEPARA_RAW["tipoCertidao"]
    return out


# ---------------------------------------------------------------------------
# Deterministic RNG per (conv_id, turn_idx)
# ---------------------------------------------------------------------------

def rng_for(*parts) -> random.Random:
    key = ":".join(str(p) for p in parts) + f":{SEED}"
    return random.Random(zlib.crc32(key.encode("utf-8")))


# ---------------------------------------------------------------------------
# Content pools
# ---------------------------------------------------------------------------

_PROSE_WORDS = (
    "o sistema processa cada etapa do fluxo de dados com precisão e o relatório "
    "descreve os resultados obtidos durante a análise técnica realizada pela "
    "equipe responsável incluindo medições verificações ensaios estruturais "
    "conforme as normas vigentes aplicáveis ao contrato firmado entre as partes"
).split()

_SERVICE_PHRASES = [
    "Execução de alvenaria de vedação",
    "Execução de estrutura de concreto armado",
    "Execução de pintura acrílica em paredes internas",
    "Execução de revestimento cerâmico",
    "Coordenação de equipe de obra civil",
    "Elaboração de projeto estrutural",
    "Planejamento de cronograma executivo",
    "Fiscalização de instalações elétricas",
    "Execução de cobertura metálica",
    "Execução de instalações hidráulicas",
    "Serviço de terraplenagem e compactação",
    "Execução de fundação profunda tipo estaca",
]

_CATEGORIES = [
    "SERVICOS PRELIMINARES",
    "FUNDACOES",
    "ESTRUTURA",
    "ALVENARIA",
    "INSTALACOES",
    "ACABAMENTO",
]

# every line here matches ≥1 of the reference's 36 boilerplate patterns
# (ref parser/parseDocument.js:139-180)
_BOILER_LINES = [
    "Certidão de Acervo Técnico Nº 12345",
    "Conselho Regional de Engenharia e Agronomia",
    "CREA-BA Regional",
    "Página 3/12",
    "Tel: + 55 (71) 3453-8000",
    "Rua Alfa Centro Empresarial",
    "Impresso em: 01/02/2024",
    "Este documento encontra-se registrado no sistema",
    "Resolução N° 1025 do CONFEA",
    "CERTIFICAMOS , para os devidos fins",
    "Site: www.creaba.org.br",
    "GOVERNO DO ESTADO DA BAHIA",
    "Fax: + 55 (71) 3453-8001",
    "Centro Administrativo da Bahia",
    "Salvador-Bahia CEP 41745-001",
]

_UF_CODES = ["BA", "SP", "RJ", "MG", "PR", "CE", "GO"]
_TOOLS = ["search", "browser", "python", "calculator"]

_KIND_CUM = [
    ("plain", 0.35),
    ("boiler", 0.55),
    ("html", 0.70),
    ("pdf_table", 0.85),
    ("pdf_layout", 0.95),
    ("cat", 0.975),
    ("lines", 1.0),
]


def _sentence(rng: random.Random, n: int | None = None) -> str:
    n = n or rng.randint(6, 14)
    words = [rng.choice(_PROSE_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _maybe_idents(rng: random.Random) -> list[str]:
    """Sometimes embed a certificate number / UF / tipo marker so the
    conversation-level scalar extractions (T10/T11, J6) have targets."""
    out = []
    if rng.random() < 0.30:
        # phrased to carry CAT/CREA + numero signals WITHOUT matching any
        # of the 36 boilerplate patterns (those lines must survive F2)
        out.append(
            f"Registro de acervo CAT CREA sob numero {rng.randint(10000, 999999)}/{rng.randint(2015, 2025)}."
        )
    if rng.random() < 0.30:
        out.append(f"Obra executada no estado {rng.choice(_UF_CODES)} conforme contrato.")
    return out


def _qty(rng: random.Random) -> str:
    if rng.random() < 0.3:
        return f"{rng.randint(1, 9)}.{rng.randint(100, 999)},{rng.randint(0, 99):02d}"
    return f"{rng.randint(1, 999)},{rng.randint(0, 99):02d}"


# ---------------------------------------------------------------------------
# Payload builders — each returns (text, expected) where expected describes
# the generation INTENT (used by tests; never fed to the engine)
# ---------------------------------------------------------------------------

def _gen_plain(rng: random.Random) -> tuple[str, dict]:
    lines = [_sentence(rng) for _ in range(rng.randint(3, 8))] + _maybe_idents(rng)
    if rng.random() < 0.3:
        lines.insert(rng.randrange(len(lines)), "")  # blank line to be dropped
    text = "\n".join(lines)
    kept = [" ".join(l.split()).strip() for l in lines if l.strip()]
    return text, {"clean_lines": kept}


def _gen_boiler(rng: random.Random) -> tuple[str, dict]:
    prose = [_sentence(rng) for _ in range(rng.randint(3, 6))] + _maybe_idents(rng)
    boiler = [rng.choice(_BOILER_LINES) for _ in range(rng.randint(2, 5))]
    lines: list[str] = []
    kept: list[str] = []
    pi, bi = 0, 0
    while pi < len(prose) or bi < len(boiler):
        take_boiler = bi < len(boiler) and (pi >= len(prose) or rng.random() < 0.45)
        if take_boiler:
            lines.append(boiler[bi])
            bi += 1
        else:
            lines.append(prose[pi])
            kept.append(" ".join(prose[pi].split()).strip())
            pi += 1
    return "\n".join(lines), {"clean_lines": kept}


def _gen_html(rng: random.Random) -> tuple[str, dict]:
    title = _sentence(rng, 4).rstrip(".")
    paras = [_sentence(rng, rng.randint(15, 30)) for _ in range(rng.randint(2, 5))]
    nav_links = "".join(
        f'<li><a href="/s{i}">{rng.choice(_PROSE_WORDS)} {i}</a></li>' for i in range(rng.randint(4, 9))
    )
    foot_links = " | ".join(f'<a href="/f{i}">{rng.choice(_PROSE_WORDS)}</a>' for i in range(rng.randint(3, 6)))
    body_paras = "".join(f"<p>{p}</p>" for p in paras)
    text = (
        "<!DOCTYPE html>\n"
        '<html lang="pt"><head><meta charset="utf-8"/>'
        "<style>.nav{color:#333;padding:4px}.content{margin:0 auto}</style>"
        f"<title>{title}</title></head>\n<body>\n"
        f'<nav class="nav"><ul>{nav_links}</ul></nav>\n'
        f'<div class="content"><h1>{title}</h1>{body_paras}</div>\n'
        f"<footer>{foot_links}<p>© 2024 Portal</p></footer>\n"
        "</body></html>"
    )
    return text, {"blocks": [("h1", title)] + [("p", p) for p in paras]}


def _gen_pdf_table(rng: random.Random) -> tuple[str, dict]:
    """Document-AI-shaped JSON payload (FIXTURES.md §1 kind 4)."""
    header_variant = rng.randrange(3)
    headers = {
        0: ["ITEM", "DESCRIÇÃO DOS SERVIÇOS", "UNIDADE", "QUANTIDADE"],
        1: ["ITEM", "NATUREZA DOS SERVIÇOS", "UNIDADE", "QTD"],
        2: ["ITEM", "DESCRIÇÃO DOS SERVIÇOS", "UNIDADE", "QUANTIDADE"],
    }[header_variant]
    header_in_body = header_variant == 2

    rows: list[list[str | None]] = []
    n_rows = rng.randint(3, 7)
    item_style = rng.choice(["plain", "dotted", "none"])
    for i in range(1, n_rows + 1):
        if rng.random() < 0.2:
            rows.append([None, rng.choice(_CATEGORIES), None, None])  # mother row
            continue
        item = {"plain": str(i), "dotted": f"{1 + i // 3}.{i}", "none": None}[item_style]
        desc = rng.choice(_SERVICE_PHRASES)
        unit = rng.choice(["M2", "M3", "M", "UN", "H", "MES", "%", "KG", "m²"])
        rows.append([item, desc, unit, _qty(rng)])
    if rng.random() < 0.6:
        rows.append([None, "TOTAL GERAL", None, _qty(rng)])

    intro = "Certidão CAT CREA. Planilha de serviços abaixo.\n"
    buf: list[str] = [intro]
    pos = len(intro)

    def cell(txt: str | None):
        nonlocal pos
        if txt is None:
            return {"layout": {"textAnchor": {"textSegments": []}}}
        start = pos
        buf.append(txt + "\n")
        pos += len(txt) + 1
        return {"layout": {"textAnchor": {"textSegments": [{"startIndex": start, "endIndex": start + len(txt)}]}}}

    all_rows = ([headers] if header_in_body else []) + rows
    header_cells = None if header_in_body else [cell(h) for h in headers]
    body_cells = [{"cells": [cell(c) for c in r]} for r in all_rows]

    table = {"bodyRows": body_cells}
    if header_cells is not None:
        table["headerRows"] = [{"cells": header_cells}]
    doc = {"text": "".join(buf), "pages": [{"tables": [table]}]}
    return json.dumps(doc, ensure_ascii=False), {"n_body_rows": len(rows)}


def _gen_pdf_layout(rng: random.Random) -> tuple[str, dict]:
    """Adobe-structuredData-shaped JSON payload (FIXTURES.md §1 kind 5):
    two-column page, elements shuffled out of reading order."""
    page_w, page_h = 586.56, 830.16
    col_x = [50.0, 320.0]
    title = _sentence(rng, 4).rstrip(".").upper()
    n_left, n_right = rng.randint(2, 4), rng.randint(2, 4)

    elements = []
    reading_order: list[str] = [title]
    elements.append(
        {
            "ObjectID": 1,
            "Path": "//Document/Title",
            "Text": title,
            "Bounds": [col_x[0], page_h - 60, page_w - 50, page_h - 30],
            "Page": 0,
        }
    )
    oid = 2
    for ci, n in ((0, n_left), (1, n_right)):
        y = page_h - 100
        for _ in range(n):
            t = _sentence(rng, rng.randint(8, 16))
            h = 40.0
            elements.append(
                {
                    "ObjectID": oid,
                    "Path": "//Document/Sect/P",
                    "Text": t,
                    "Bounds": [col_x[ci], y - h, col_x[ci] + 230.0, y],
                    "Page": 0,
                }
            )
            reading_order.append(t)
            oid += 1
            y -= h + rng.uniform(8, 20)

    # shuffle elements out of reading order (keep title position random too)
    rng.shuffle(elements)
    doc = {
        "version": {"json_export": "1.6.1"},
        "elements": elements,
        "pages": [
            {"page_number": 0, "width": page_w, "height": page_h, "is_scanned": True, "rotation": 0}
        ],
    }
    return json.dumps(doc, ensure_ascii=False), {"reading_order": reading_order}


def _gen_cat(rng: random.Random) -> tuple[str, dict]:
    n = rng.randint(2, 6)
    segs = []
    for i in range(1, n + 1):
        verb = rng.choice(["Execução", "Coordenação", "Elaboração", "Planejamento"])
        noun = rng.choice(["de alvenaria", "de obra predial", "de projeto elétrico", "de estrutura metálica"])
        unit = rng.choice(["M2", "M3", "H", "UN", "%"])
        segs.append(f"{i} - {verb} {noun} {unit} {_qty(rng)}")
    text = "Atividade Técnica: " + "; ".join(segs)
    if rng.random() < 0.5:
        text = _sentence(rng) + "\n" + text
    return text, {"n_segments": n}


def _gen_lines(rng: random.Random) -> tuple[str, dict]:
    marker = rng.choice(
        ["PLANILHA DOS SERVIÇOS EXECUTADOS", "PLANILHA DE SERVIÇOS EXECUTADOS", "ITEM UND. QUANT"]
    )
    out = [_sentence(rng), marker]
    n = rng.randint(3, 7)
    for i in range(1, n + 1):
        if rng.random() < 0.25:
            out.append(rng.choice(_CATEGORIES))
            continue
        desc = rng.choice(_SERVICE_PHRASES)
        unit = rng.choice(["M2", "M3", "UN", "H", "MES"])
        out.append(f"{i}.{rng.randint(1, 9)} {desc} {unit} {_qty(rng)}")
    return "\n".join(out), {"n_lines": n}


_BUILDERS = {
    "plain": _gen_plain,
    "boiler": _gen_boiler,
    "html": _gen_html,
    "pdf_table": _gen_pdf_table,
    "pdf_layout": _gen_pdf_layout,
    "cat": _gen_cat,
    "lines": _gen_lines,
}


def kind_for(rng_value: float) -> str:
    for kind, cum in _KIND_CUM:
        if rng_value < cum:
            return kind
    return "plain"


def gen_turn(conv_id: str, turn_idx: int) -> dict:
    """One deterministic transcript row + generation intent."""
    rng = rng_for(conv_id, turn_idx)
    kind = kind_for(rng.random())
    text, expected = _BUILDERS[kind](rng)
    role = ("user", "assistant", "tool")[turn_idx % 3]
    return {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": role,
        "text": text,
        "tool": rng.choice(_TOOLS) if role == "tool" else None,
        "ts": datetime(2025, 1, 1) + timedelta(minutes=turn_idx, seconds=zlib.crc32(conv_id.encode()) % 3600),
        "gen_kind": kind,
        "expected": expected,
    }


# ---------------------------------------------------------------------------
# Table assembly
# ---------------------------------------------------------------------------

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def n_turns_for(conv_id: str, avg_turns: int, hot_conv: str | None, hot_turns: int) -> int:
    if hot_conv is not None and conv_id == hot_conv:
        return hot_turns
    rng = rng_for("nturns", conv_id)
    return max(1, int(rng.gauss(avg_turns, avg_turns / 3)))


def conv_name(i: int) -> str:
    return f"conv-{i:06d}"


def fixture_frame(
    n_convs: int,
    avg_turns: int = 12,
    hot_frac: float = 0.2,
    with_meta: bool = False,
) -> pd.DataFrame:
    """Driver-side generation (tiny/pytest scale). conv-000000 is the hot
    conversation holding ~hot_frac of all turns (skew fixture)."""
    total_normal = n_convs * avg_turns
    hot_turns = int(total_normal * hot_frac / max(1e-9, 1 - hot_frac)) if hot_frac else 0
    rows = []
    for i in range(n_convs):
        cid = conv_name(i)
        n = n_turns_for(cid, avg_turns, conv_name(0) if hot_frac else None, hot_turns)
        for t in range(n):
            rows.append(gen_turn(cid, t))
    df = pd.DataFrame(rows)
    if not with_meta:
        df = df[TRANSCRIPT_COLUMNS]
    return df


def spark_transcripts(spark, n_convs: int, avg_turns: int = 12, hot_frac: float = 0.2):
    """Distributed generation of the same table via mapInPandas —
    byte-identical to ``fixture_frame`` for equal parameters."""
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    total_normal = n_convs * avg_turns
    hot_turns = int(total_normal * hot_frac / max(1e-9, 1 - hot_frac)) if hot_frac else 0
    hot_conv = conv_name(0) if hot_frac else None

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                cid = conv_name(int(i))
                n = n_turns_for(cid, avg_turns, hot_conv, hot_turns)
                for t in range(n):
                    row = gen_turn(cid, t)
                    out.append({k: row[k] for k in TRANSCRIPT_COLUMNS})
            yield pd.DataFrame(out, columns=TRANSCRIPT_COLUMNS)

    n_parts = min(256, max(8, n_convs // 64))
    return (
        spark.range(0, n_convs)
        .repartition(n_parts, F.col("id"))
        .mapInPandas(gen, schema=schema)
    )
