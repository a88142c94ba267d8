"""The per-turn extraction pipeline — one mapInPandas UDF (SURVEY §2.10).

Replaces the reference's sequential worker loop (ref worker/processJob.js:74-87,
flagged as the bottleneck by its own audit, ANALISE_PROJETO.md:142-153) with
Spark task parallelism: a content-sniffing router inside Arrow batches
dispatches each turn's payload to one of four extractors —

* **text path** (plain / boilerplate-laden prose): vectorized pandas line
  pipeline — T6 clean, F2 boilerplate strip, span assembly — no per-row
  Python for the 55 % majority of turns;
* **pdf_table** (Document-AI-shaped JSON, ref parser/parseServices.js:7-13):
  span-slice cells + tier-1 table parse;
* **pdf_layout** (Adobe element model, ref result.zip → structuredData.json):
  geometric reading-order recovery;
* **html**: DOM-heuristics main-content extraction.

Every turn also runs the reference's service-extraction cascade (X4) so the
conversation-level assembly (``conversation.py``) sees exactly what the
reference's parseDocument would see.

Scale design (100 TB / 10^12 turns):
* extraction is **shuffle-free** — mapInPandas rides the scan partitions;
  `repartition_salted` is opt-in for skewed inputs (hot conversations);
* batch size bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
* all routing is boolean-mask based; Python-level iteration happens only
  per *payload document*, never per extracted row.
"""

from __future__ import annotations

import json
import re

import pandas as pd

from .extract.html_extract import extract_html
from .extract.pdf_layout import document_metadata, extract_pdf_layout
from .extract.services import parse_services_tiered
from .functions import patterns as P
from .functions.normalize import v_clean_line

_HTML_RX = re.compile(r"(?i)<\s*(?:!doctype|html|head|body|div|p|h[1-6]|nav|table|ul|article)\b")
# tier-2 / tier-3-marker router gate: turns hitting either go through the
# scalar cascade; the rest take the batch-vectorized tier-3
_MARKER_RX = re.compile(
    r"PLANILHA\s+(?:DOS\s+)?SERVI[CÇ]OS\s+EXECUTADOS|ITEM\s+UND\.?\s+QUANT|\d+\.\s*PLANILHA",
    re.IGNORECASE,
)

SPAN_FIELDS = "start INT, end INT, kind STRING"
# styling-enriched spans (ref Extract getStylingInfo=true element model:
# Font.family_name/weight/italic, TextSize, Lang on structuredData elements)
STYLED_SPAN_FIELDS = (
    "start INT, end INT, kind STRING, font_family STRING, font_weight INT, "
    "italic BOOLEAN, text_size DOUBLE, lang STRING"
)
SERVICE_FIELDS = (
    "Item STRING, Categoria STRING, Descricao STRING, Unidade INT, Quantidade STRING"
)


TABLE_FIELDS = "page INT, header ARRAY<STRING>, rows ARRAY<ARRAY<STRING>>"

# §2.9 pdf-properties analogue (golden structuredData.json
# extended_metadata{language, page_count, pdf_version, is_encrypted} +
# pages[].is_scanned/rotation) — flat meta_* columns out of the UDF;
# with_extended_metadata() composes them into the struct with the
# lang_id content fallback
META_FIELDS = (
    "meta_language_hint STRING, meta_page_count INT, meta_pdf_version STRING, "
    "meta_is_encrypted BOOLEAN, meta_is_scanned BOOLEAN, meta_rotation INT"
)


def extract_schema(
    with_styling: bool = False, with_tables: bool = False, with_metadata: bool = False
) -> str:
    span_fields = STYLED_SPAN_FIELDS if with_styling else SPAN_FIELDS
    tables_col = f"tables ARRAY<STRUCT<{TABLE_FIELDS}>>, " if with_tables else ""
    meta_cols = f"{META_FIELDS}, " if with_metadata else ""
    return (
        "conv_id STRING, turn_idx INT, role STRING, kind STRING, "
        "clean_text STRING, "
        f"spans ARRAY<STRUCT<{span_fields}>>, "
        f"services ARRAY<STRUCT<{SERVICE_FIELDS}>>, "
        f"{tables_col}"
        f"{meta_cols}"
        "doc_text STRING, n_chars_in BIGINT, n_chars_out BIGINT, proc_us BIGINT"
    )


_STYLE_NULLS = {
    "font_family": None,
    "font_weight": None,
    "italic": None,
    "text_size": None,
    "lang": None,
}


def _span(start: int, end: int, kind: str) -> dict:
    return {"start": int(start), "end": int(end), "kind": kind}


def _styled_span(tup: tuple) -> dict:
    start, end, kind, family, weight, italic, size, lang = tup
    return {
        "start": int(start),
        "end": int(end),
        "kind": kind,
        "font_family": family,
        "font_weight": weight,
        "italic": italic,
        "text_size": size,
        "lang": lang,
    }


def classify_batch(text: pd.Series) -> pd.Series:
    """Vectorized payload-kind sniff → {'json', 'html', 'text'} per row."""
    # lstrip BEFORE slicing: a JSON payload behind >512 leading whitespace
    # chars must still sniff as json (the scalar twin lstrips first too)
    head = text.fillna("").str.lstrip().str.slice(0, 512)
    is_json = head.str.startswith("{")
    is_html = ~is_json & head.str.contains(_HTML_RX, regex=True)
    out = pd.Series("text", index=text.index, dtype=object)
    out[is_json] = "json"
    out[is_html] = "html"
    return out


def _text_path(raw: pd.Series) -> pd.DataFrame:
    """Vectorized line pipeline for prose turns: T6 clean + F2 strip + spans.

    Returns a frame indexed like ``raw`` with columns
    (clean_text, spans, dropped_boiler).
    """
    if raw.empty:
        empty = pd.DataFrame(
            {"clean_text": pd.Series(dtype=object), "spans": pd.Series(dtype=object),
             "dropped_boiler": pd.Series(dtype=int)}
        )
        return empty, pd.Series(dtype=object)
    lines = raw.fillna("").str.split("\n").explode()
    cleaned = v_clean_line(lines)
    nonempty = cleaned != ""
    boiler = nonempty & P.boilerplate_mask(cleaned)
    keep = nonempty & ~boiler

    kept = cleaned[keep]
    lens = kept.str.len()
    grp = lens.groupby(level=0)
    # start offset of each kept line inside its turn's joined clean_text
    starts = grp.cumsum() - lens
    starts = starts + grp.cumcount()  # account for '\n' separators

    if kept.empty:
        spans = pd.Series(dtype=object)
        clean_text = pd.Series(dtype=object)
    else:
        # numpy offset build instead of groupby().apply: explode keeps each
        # row's lines contiguous, so group boundaries are exactly the label
        # changes — one split, no per-group pandas dispatch in the hot path
        import numpy as np

        labels = kept.index.to_numpy()
        bounds = np.flatnonzero(labels[1:] != labels[:-1]) + 1
        uniq = labels[np.concatenate(([0], bounds))]
        s_splits = np.split(starts.to_numpy(), bounds)
        e_splits = np.split((starts + lens).to_numpy(), bounds)
        t_splits = np.split(kept.to_numpy(), bounds)
        spans = pd.Series(
            [
                [_span(s, e, "line") for s, e in zip(ss, es)]
                for ss, es in zip(s_splits, e_splits)
            ],
            index=uniq,
            dtype=object,
        )
        clean_text = pd.Series(["\n".join(ts) for ts in t_splits], index=uniq, dtype=object)
    dropped = boiler.groupby(level=0).sum()

    out = pd.DataFrame(index=raw.index)
    out["clean_text"] = clean_text.reindex(raw.index, fill_value="")
    # reindex on an object column turns missing into NaN — normalize to []
    out["spans"] = spans.reindex(raw.index)
    out["spans"] = out["spans"].apply(lambda v: v if isinstance(v, list) else [])
    out["dropped_boiler"] = dropped.reindex(raw.index, fill_value=0).astype(int)
    return out, cleaned


def _cells_spans(doc: dict, all_segments: bool = False) -> list[dict]:
    """Spans for a Document-AI-shaped doc: per table cell (P1 semantics,
    ref parser/parseServices.js:7-13) — offsets index into doc['text'].

    Default resolves the FIRST textSegment per cell, matching the
    reference byte-for-byte; the reference corpus shows multi-segment
    cells exist (ref test-documentai.js:17-31), so ``all_segments=True``
    emits one span per segment for consumers that need full coverage.
    """
    spans = []
    n = len(doc.get("text") or "")

    def _lst(v):
        return v if isinstance(v, list) else []

    def _clamp(seg):
        s = max(0, min(n, int(seg.get("startIndex", 0) or 0)))
        e = max(0, min(n, int(seg.get("endIndex", 0) or 0)))
        return (e, s) if s > e else (s, e)

    for page in _lst(doc.get("pages")):
        if not isinstance(page, dict):
            continue
        for table in _lst(page.get("tables")):
            if not isinstance(table, dict):
                continue
            for row in _lst(table.get("headerRows")) + _lst(table.get("bodyRows")):
                if not isinstance(row, dict):
                    continue
                for cell in _lst(row.get("cells")):
                    segs = ((cell or {}).get("layout") or {}).get("textAnchor", {}).get("textSegments")
                    if segs:
                        for seg in segs if all_segments else segs[:1]:
                            s, e = _clamp(seg)
                            spans.append(_span(s, e, "cell"))
    return spans


def make_extractor(
    depara: dict,
    with_services: bool = True,
    with_styling: bool = False,
    with_tables: bool = False,
    with_metadata: bool = False,
):
    """Build the mapInPandas function (depara captured in the closure —
    the dimension lists are tiny; this is the broadcast-dict analogue of
    the reference's per-job depara payload, ref server.cjs:34-43).

    ``with_services=False`` is the text-only fast path: clean_text +
    spans without the service cascade — services are ~45 % of the output
    Arrow bytes and ~40 % of the Python time, and a corpus-cleaning
    consumer (the north-rule product) does not need them. Conversation
    assembly requires the default True.

    ``with_styling=True`` widens the span struct with the reference's
    styling-info fields (Font family/weight/italic, TextSize, Lang —
    populated for pdf_layout turns, null elsewhere); pair it with
    ``extract_schema(with_styling=True)``.
    """

    def extract(batches):
        import time

        for pdf in batches:
            t0 = time.monotonic()
            out = _extract_frame(
                pdf, depara, with_services, with_styling, with_tables, with_metadata
            )
            # per-row share of the batch's Python wall time — summing the
            # column over any grouping gives that group's processing cost
            # (lineage metric, FIXTURES.md §4)
            elapsed_us = int((time.monotonic() - t0) * 1e6)
            out["proc_us"] = elapsed_us // max(1, len(out)) if len(out) else 0
            yield out

    return extract


def _extract_frame(
    pdf: pd.DataFrame,
    depara: dict,
    with_services: bool = True,
    with_styling: bool = False,
    with_tables: bool = False,
    with_metadata: bool = False,
) -> pd.DataFrame:
    route = classify_batch(pdf["text"])

    n = len(pdf)
    # positional python lists: per-cell pandas .at writes cost ~0.1 ms each
    # (12.5k of them dominated the profile); plain lists are ~free
    texts: list = pdf["text"].tolist()
    routes: list = route.tolist()
    kind: list = ["plain"] * n
    clean: list = [""] * n
    spans: list = [[] for _ in range(n)]
    services: list = [[] for _ in range(n)]
    tables: list = [[] for _ in range(n)] if with_tables else None
    # (language_hint, page_count, pdf_version, is_encrypted, is_scanned,
    # rotation) — all-null for non-document payloads
    metas: list = [(None,) * 6 for _ in range(n)] if with_metadata else None
    # what the reference's parseDocument would see as this chunk's doc.text
    # (A1 input, ref parseDocument.js:59-61)
    doc_text: list = [t if isinstance(t, str) else "" for t in texts]

    # ---------------- text path (clean/strip vectorized) ----------------
    tmask = route == "text"
    if tmask.any():
        sub = pdf.loc[tmask, "text"]
        tp, tp_lines = _text_path(sub)
        tp_clean = tp["clean_text"].tolist()
        tp_spans = tp["spans"].tolist()
        tp_boiler = tp["dropped_boiler"].tolist()

        batch_rows: dict = {}
        slow_labels: set = set()
        if with_services:
            # route: a REAL tier-2 trigger (CAT_SPLIT matching — not just
            # any ';': tier 2 falls through to the same line parser the
            # batch path twins when the split yields one segment, so
            # ';'-only texts are routed fast with identical output) or a
            # planilha marker (tier-3 slice) → scalar cascade; everything
            # else → batch tier 3 (parity-fuzzed against the scalar path
            # in tests). The ';' pre-screen keeps the heavier lookahead
            # regex off the (majority) semicolon-free texts.
            import pandas as _pd

            sub_f = sub.fillna("")
            semi = sub_f.str.contains(";", regex=False)
            cat_mask = _pd.Series(False, index=sub_f.index)
            if semi.any():
                cat_mask.loc[semi] = sub_f[semi].str.contains(P.CAT_SPLIT)
            slow_mask = cat_mask | sub_f.str.contains(_MARKER_RX, regex=True)
            slow_labels = set(sub.index[slow_mask])
            fast_lines = tp_lines[~tp_lines.index.isin(slow_labels)]
            from .extract.services import parse_lines_batch

            batch_rows = parse_lines_batch(fast_lines, depara)

        tpos = 0
        labels = list(sub.index)
        for p in range(n):
            if routes[p] != "text":
                continue
            raw = texts[p] if isinstance(texts[p], str) else ""
            clean[p] = tp_clean[tpos]
            spans[p] = tp_spans[tpos]
            if with_services:
                lbl = labels[tpos]
                if lbl in slow_labels:
                    svcs, tier = parse_services_tiered({"text": raw, "pages": []}, depara)
                else:
                    svcs = batch_rows.get(lbl, [])
                    tier = "lines" if svcs else None
                services[p] = svcs
                if tier == "cat":
                    kind[p] = "cat"
                elif tier == "lines" and (
                    any(s["Item"] is not None or s["Unidade"] is not None for s in svcs)
                    or (lbl in slow_labels and any(rx.search(raw) for rx in P.PLANILHA_MARKERS))
                ):
                    kind[p] = "lines"
                elif tp_boiler[tpos] > 0:
                    kind[p] = "boiler"
            elif tp_boiler[tpos] > 0:
                kind[p] = "boiler"
            tpos += 1

    # ---------------- html + json payloads ----------------
    # NOTE (measured, r3): deferring no-CAT/no-marker DOC texts to
    # parse_lines_batch was tried and REVERTED — doc payloads are
    # service-dense, so most lines hit the J4 unit gate and take the
    # per-line scalar loop inside the batch parser anyway; the batch
    # machinery overhead made extraction ~15 % slower (208 → 245 µs/turn).
    # The batch path wins only for prose-dominated text turns.
    for p in range(n):
        r = routes[p]
        if r == "text":
            continue
        raw = texts[p] if isinstance(texts[p], str) else ""

        if r == "html":
            text, sp = extract_html(raw)
            kind[p] = "html"
            clean[p] = text
            spans[p] = [_span(*t) for t in sp]
            if with_services:
                services[p] = parse_services_tiered({"text": text, "pages": []}, depara)[0]
            doc_text[p] = text
            continue

        try:
            doc = json.loads(raw)
            if not isinstance(doc, dict):
                raise ValueError("not an object")
        except Exception:
            # malformed JSON → degrade to the text path for this turn
            tp, _ = _text_path(pd.Series([raw]))
            clean[p] = tp["clean_text"].iloc[0]
            spans[p] = tp["spans"].iloc[0]
            if with_services:
                services[p] = parse_services_tiered({"text": raw, "pages": []}, depara)[0]
            continue

        if with_metadata:
            metas[p] = document_metadata(doc)

        if "elements" in doc:
            text, sp = extract_pdf_layout(doc, with_styling=with_styling)
            kind[p] = "pdf_layout"
            clean[p] = text
            spans[p] = [_styled_span(t) if with_styling else _span(*t) for t in sp]
            if with_services:
                services[p] = parse_services_tiered({"text": text, "pages": []}, depara)[0]
            doc_text[p] = text
        else:
            if with_services:
                svcs, tier = parse_services_tiered(doc, depara)
                kind[p] = "pdf_table" if tier == "table" else {"cat": "cat"}.get(tier, "pdf_text")
                services[p] = svcs
            else:
                kind[p] = "pdf_table" if '"textAnchor"' in raw else "pdf_text"
            clean[p] = doc.get("text") or ""
            spans[p] = _cells_spans(doc)
            doc_text[p] = doc.get("text") or ""
            if with_tables:
                from .extract.services import extract_tables_structured

                tables[p] = extract_tables_structured(doc)

    if with_styling:
        # non-layout spans gain null styling fields so the Arrow struct
        # schema is uniform across payload kinds
        spans = [
            [s if len(s) > 3 else {**s, **_STYLE_NULLS} for s in row]
            for row in spans
        ]

    out = pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy(),
            "turn_idx": pdf["turn_idx"].to_numpy().astype("int32"),
            "role": pdf["role"].to_numpy(),
            "kind": kind,
            "clean_text": clean,
            "spans": spans,
            "services": services,
            "doc_text": doc_text,
            "n_chars_in": [len(t) if isinstance(t, str) else 0 for t in texts],
            "n_chars_out": [len(c) for c in clean],
        }
    )
    if with_tables:
        # column order must match extract_schema: tables sits between
        # services and doc_text
        out.insert(out.columns.get_loc("doc_text"), "tables", tables)
    if with_metadata:
        # meta_* columns sit between tables (when present) and doc_text,
        # matching extract_schema order
        at = out.columns.get_loc("doc_text")
        names = [
            "meta_language_hint",
            "meta_page_count",
            "meta_pdf_version",
            "meta_is_encrypted",
            "meta_is_scanned",
            "meta_rotation",
        ]
        for off, name in enumerate(names):
            out.insert(at + off, name, [m[off] for m in metas])
        # pandas would store ints as float64 when nulls are present;
        # nullable Int32 keeps the Arrow cast exact
        out["meta_page_count"] = out["meta_page_count"].astype("Int32")
        out["meta_rotation"] = out["meta_rotation"].astype("Int32")
    return out


def extract_transcripts(
    df,
    depara: dict | None = None,
    salt: int | None = None,
    num_partitions: int | None = None,
    with_services: bool = True,
    with_styling: bool = False,
    with_tables: bool = False,
    with_metadata: bool = False,
):
    """Run the extraction pipeline over a transcripts DataFrame.

    Shuffle-free by default (extraction is per-turn independent — the map
    rides the scan partitions). Pass ``salt`` to force a salted round-robin
    repartition first when the input files are skewed (hot conversations
    pinned in one file — the distributed answer to the reference's
    single-process pin).
    """
    from pyspark.sql import functions as F  # noqa: N812

    if depara is None:
        from . import fixtures

        depara = fixtures.runtime_depara()

    if salt:
        key = F.concat_ws(
            "#",
            F.col("conv_id"),
            (F.crc32(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string"))) % salt).cast("string"),
        )
        # explicit numPartitions keeps AQE from re-coalescing the salted
        # exchange (an explicit user repartition count is respected)
        df = df.repartition(num_partitions, key) if num_partitions else df.repartition(key)

    return df.mapInPandas(
        make_extractor(depara, with_services, with_styling, with_tables, with_metadata),
        schema=extract_schema(with_styling, with_tables, with_metadata),
    )


def with_extended_metadata(extracted):
    """Compose the flat ``meta_*`` UDF columns (extraction run with
    ``with_metadata=True``) into the golden-schema ``extended_metadata``
    struct (ref structuredData.json: extended_metadata{language,
    page_count, pdf_version, is_encrypted}; get-pdf-properties.js:67-69),
    plus the per-page passthroughs.

    ``language`` = declared document language when the payload carries
    one, else the content heuristic ``ops.textstats.lang_id`` over the
    extracted text — staged score columns (one regex pass per marker per
    row, the CSE-safe sweep form), pure JVM expressions."""
    from pyspark.sql import functions as F  # noqa: N812

    from .ops.textstats import with_lang_id

    staged = with_lang_id(extracted, "clean_text", out="_content_lang")
    return staged.withColumn(
        "extended_metadata",
        F.struct(
            F.coalesce(F.col("meta_language_hint"), F.col("_content_lang")).alias("language"),
            F.col("meta_page_count").alias("page_count"),
            F.col("meta_pdf_version").alias("pdf_version"),
            F.col("meta_is_encrypted").alias("is_encrypted"),
            F.col("meta_is_scanned").alias("is_scanned"),
            F.col("meta_rotation").alias("rotation"),
        ),
    ).drop("_content_lang")
