"""Conversation-level assembly — pure Spark exprs (SURVEY §2.4, Phase 3).

The distributed twin of ``extract/document.py``: takes the per-turn
extraction output (``pipeline.extract_transcripts``) and reproduces the
reference's document assembly (ref parser/parseDocument.js:54-237) with
window functions and column predicates only — **no Python in the loop**:

* A5/A6  item renumbering   → bool_and + running sum (windowed or
                              segmented two-pass prefix, ref :104-114)
* A4     category inherit   → last(..., ignorenulls) scan, segmented
                              by default (ref :30-52)
* F7     header dedupe      → filter (ref :123-133)
* F2-F12 garbage filters    → column predicates + one rlike (ref :139-215)
* T10/11 numero/estado      → per-turn regexp_extract + min_by reduce —
                              exact vs the A1 concat, the patterns cannot
                              span the '\\n' join (ref :85-91)
* J6     tipo detection     → segmented accent-normalized contains flags
                              ('#'-fenced boundary stream for cross-chunk
                              matches) + broadcast lookup join
                              (ref detectTipoCertidao.js)

No stage in the default record plan is conversation-size-bound except
the output Servicos array itself (inherent to array output — see
``conversation_service_rows`` for the row-form record). The monolithic
window variant (``assemble_services``) stays as the byte-equality
reference the segmented assembly is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions.patterns import (
    BOILERPLATE_COMBINED_JAVA,
    DESC_MAX_LENGTH,
    NUMERO_RE_JAVA,
    UF_RE_JAVA,
)

# Latin-1 accent fold for the J6 normalize (ref detectTipoCertidao.js:1-7
# upper → NFD-strip → [^A-Z0-9] removal); Spark has no NFD builtin, but the
# precomposed Latin-1 set with NFD decompositions is finite: every such
# letter folds to its base here. Letters WITHOUT a decomposition (Ø Æ Þ Ð)
# are dropped by the [^A-Z0-9] strip in BOTH engines (NFD keeps them whole,
# then the twin's character filter removes them), and already-decomposed
# input (base + combining mark) loses only the mark to the same strip — so
# the distributed fold matches the unicodedata twin on the full Latin range.
_ACC_SRC = "ÁÀÂÃÄÅÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑÝŸ"
_ACC_DST = "AAAAAAEEEEIIIIOOOOOUUUUCNYY"


def _norm_tipo_col(c):
    return F.regexp_replace(F.translate(F.upper(c), _ACC_SRC, _ACC_DST), "[^A-Z0-9]", "")


def _trim_or_empty(c):
    return F.trim(F.coalesce(c.cast("string"), F.lit("")))


def _prefixo_expr():
    """T9 prefix fallback: Descricao cut at the EARLIER of " - " / ":"
    (ref parseDocument.js:13-24) — shared by both assembly variants."""
    d = F.trim(F.coalesce(F.col("Descricao"), F.lit("")))
    cut = F.least(F.nullif(F.locate(" - ", d), F.lit(0)), F.nullif(F.locate(":", d), F.lit(0)))
    p = F.nullif(F.trim(F.when(cut.isNotNull(), F.substring(d, 1, cut - 1)).otherwise(d)), F.lit(""))
    return F.when(F.col("Descricao").isNotNull(), p)


def explode_services(extracted: DataFrame) -> DataFrame:
    """A8 — per-turn services array → one row per service, keyed
    (conv_id, turn_idx, svc_idx) for the stable conversation-global order."""
    return extracted.select(
        "conv_id",
        "turn_idx",
        F.posexplode_outer("services").alias("svc_idx", "svc"),
    ).select(
        "conv_id",
        "turn_idx",
        "svc_idx",
        F.col("svc.Item").alias("Item"),
        F.col("svc.Categoria").alias("Categoria"),
        F.col("svc.Descricao").alias("Descricao"),
        F.col("svc.Unidade").alias("Unidade"),
        F.col("svc.Quantidade").alias("Quantidade"),
    )


def assemble_services(svc: DataFrame) -> DataFrame:
    """Renumber (A5/A6) → inherit category (A4) → dedupe (F7) → filter
    (F2-F12), semantics of ref parseDocument.js:104-215.

    Input: output of ``explode_services`` (null svc rows from empty arrays
    are tolerated and dropped first).
    """
    svc = svc.filter(F.col("svc_idx").isNotNull())

    conv = Window.partitionBy("conv_id")
    ordered = Window.partitionBy("conv_id").orderBy("turn_idx", "svc_idx")
    running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    has_qty = F.trim(F.coalesce(F.col("Quantidade"), F.lit(""))) != ""
    item_blank = F.trim(F.coalesce(F.col("Item"), F.lit(""))) == ""

    # A5: every item blank in the conversation (ref :104-106)
    all_blank = F.min(F.when(item_blank, 1).otherwise(0)).over(conv) == 1

    # A6: running counter over rows WITH quantity (ref :107-114)
    counter = F.sum(has_qty.cast("int")).over(running)
    item = F.when(
        all_blank,
        F.when(has_qty, counter.cast("string")).otherwise(F.lit(None).cast("string")),
    ).otherwise(F.col("Item"))
    svc = svc.withColumn("Item", item)

    # A4: category inheritance — mother = row without quantity whose
    # Descricao is truthy (ref :30-52; JS truthy = non-null, non-empty)
    is_mother = (~has_qty) & F.col("Descricao").isNotNull() & (F.col("Descricao") != "")
    vigente = F.last(F.when(is_mother, F.trim(F.col("Descricao"))), ignorenulls=True).over(running)

    svc = svc.withColumn("Categoria", F.coalesce(vigente, _prefixo_expr()))

    return _filter_assembled(svc)


def _filter_assembled(svc: DataFrame) -> DataFrame:
    """F7 dedupe + F2-F12 garbage/boilerplate filters (ref :123-215),
    shared by the monolithic and segmented assembly variants."""
    # F7: drop pure category-header rows (ref :123-133)
    cat_t = _trim_or_empty(F.col("Categoria"))
    desc_t = _trim_or_empty(F.col("Descricao"))
    sem_item = _trim_or_empty(F.col("Item")) == ""
    sem_unid = _trim_or_empty(F.col("Unidade")) == ""
    sem_qtd = _trim_or_empty(F.col("Quantidade")) == ""
    svc = svc.filter(~(sem_item & sem_unid & sem_qtd & (cat_t != "") & (cat_t == desc_t)))

    # F2-F12 (ref :181-215)
    qtd_t = _trim_or_empty(F.col("Quantidade"))
    item_t = _trim_or_empty(F.col("Item"))
    text = F.trim(F.concat_ws(" ", cat_t, desc_t))

    garbage_qtd = F.col("Quantidade").isNotNull() & (
        qtd_t.rlike(r"^[.,;:\s]+$")
        | (qtd_t == "")
        | (F.length(qtd_t) > 25)
        | (qtd_t.rlike(r"^\d+$") & (F.length(qtd_t) > 12))
        | (qtd_t.rlike(r"^[\d.,]+$") & (F.length(F.regexp_replace(qtd_t, r"\D", "")) > 15))
    )
    garbage_item = F.col("Item").isNotNull() & item_t.rlike(r"^\d+$") & (F.length(item_t) > 10)
    # F6: our Unidade is already the int dimension id → any 1-4 digit id > 0
    unidade_indice = F.col("Unidade").isNotNull() & (F.col("Unidade") > 0) & (F.col("Unidade") <= 9999)
    # JS falsy (null or '') for the 'un' rule (ref :211)
    qtd_falsy = F.col("Quantidade").isNull() | (F.col("Quantidade") == "")
    item_falsy = F.col("Item").isNull() | (F.col("Item") == "")

    keep = (
        (F.length(text) <= DESC_MAX_LENGTH)
        & ~((desc_t != "") & desc_t.rlike(r"(?iu)^Página\s*\d+\s*/?\s*$"))
        & ~((qtd_t == "47") & (desc_t == ""))
        & ~garbage_qtd
        & ~garbage_item
        & ~(((cat_t == "un") | (desc_t == "un")) & qtd_falsy & item_falsy)
        & ~(unidade_indice & sem_qtd & (cat_t != "") & (cat_t == desc_t))
        & ~text.rlike(BOILERPLATE_COMBINED_JAVA)
    )
    return svc.filter(keep)


# J6 tokens probed against the normalized conversation text
# (ref parser/detectTipoCertidao.js:9-31); the boundary-piece width below
# derives from the longest one.
_TIPO_TOKENS = [
    "ACERVOTECNICO",
    "CAT",
    "ACERVOOPERACIONAL",
    "CAO",
    "CREA",
    "CAU",
    "CRT",
    "CRA",
    "CFTA",
]
_TOK_MAXLEN = max(len(t) for t in _TIPO_TOKENS)


def conversation_scalars(extracted: DataFrame, chunk_turns: int = 512) -> DataFrame:
    """T10/T11 numero/estado + J6 tipo-token flags WITHOUT materializing
    any conversation's concatenated text — the segmented-scan twin of
    ``regexp_extract(conv_text, ...)`` / ``conv_text.contains(...)``.

    Exactness arguments (the reference computes on the full '\\n'-joined
    conversation text, ref parseDocument.js:59-91):

    * numero/estado are FIRST-match regexes whose alphabets ([0-9/], UF
      letters) and ASCII lookarounds cannot match or span the '\\n' join
      separator, so the global first match IS the first match of the
      earliest turn that has one: per-turn ``regexp_extract`` +
      ``min_by(match, turn_idx)`` — a plain hash aggregation with map-side
      partial combine, nothing conversation-sized anywhere.
    * the J6 normalize strips every non-[A-Z0-9] char INCLUDING the join
      separators, so a token CAN straddle turn (and chunk) boundaries.
      The straddle machinery is the *boundary stream*: a unit (turn, or
      chunk) contributes its whole normalized text when shorter than
      2·(maxlen−1), else its first and last (maxlen−1) chars fenced by a
      '#' (outside the [A-Z0-9] alphabet, so the fence can never sit
      inside a token match). Every adjacency in such a stream is a real
      adjacency in the full normalized text, and any straddling token
      lies within suffix_k ++ (whole short units) ++ prefix_m — so
      ``bool_or(unit contains) OR stream contains`` is exact.

      r6 applies the fence at BOTH levels (it was chunk-level only):
      each TURN's flags and boundary piece are computed map-side, so the
      chunk aggregation concats ≤(2·maxlen−1)-char turn pieces instead
      of whole turn texts — the shuffle carries ~33 bytes + 9 booleans
      per turn where it used to carry the full normalized text
      (guide §2.3: shuffle keys and metadata, not payloads; measured
      2.9 → 2.3 s warm on the bench scalars branch, value-identical).
      The chunk's real prefix/suffix needed for ITS piece fall out of
      the turn-piece stream: the stream's first (maxlen−1) chars always
      equal the chunk text's (a '#' can only appear ≥(maxlen−1) chars
      after a turn-piece start, and every adjacency is real), and the
      real chunk length is the sum of turn lengths. The conv-level
      reduce over #chunks tiny rows is unchanged.

    Returns (conv_id, NumerodaCertidao, Estado, _f_<token> boolean flags).
    """
    piece_len = _TOK_MAXLEN - 1
    t = F.coalesce(F.col("doc_text"), F.lit(""))
    e = extracted.select(
        "conv_id",
        "turn_idx",
        F.nullif(F.regexp_extract(t, NUMERO_RE_JAVA, 0), F.lit("")).alias("_num"),
        F.nullif(F.regexp_extract(t, UF_RE_JAVA, 1), F.lit("")).alias("_uf"),
        _norm_tipo_col(t).alias("_norm"),
        (F.col("turn_idx") / F.lit(chunk_turns)).cast("int").alias("_chunk"),
    )
    # turn-level flags + boundary piece, derived from the STAGED _norm
    # column (referenced 12×: CollapseProject leaves multi-referenced
    # non-trivial aliases staged, so the normalize regex runs once per
    # turn — the repo's standing expression-CSE discipline)
    tpiece = F.when(F.length("_norm") <= 2 * piece_len, F.col("_norm")).otherwise(
        F.concat(
            F.substring("_norm", 1, piece_len),
            F.lit("#"),
            F.substring(F.col("_norm"), -piece_len, piece_len),
        )
    )
    e = e.select(
        "conv_id",
        "turn_idx",
        "_num",
        "_uf",
        "_chunk",
        F.length("_norm").alias("_tlen"),
        tpiece.alias("_tpiece"),
        *[F.col("_norm").contains(tok).alias(f"_f_{tok}") for tok in _TIPO_TOKENS],
    )

    # pass 1: chunk-level — ordered concat of the TURN PIECES (buffer
    # bounded by chunk × ~33 chars) + first match per chunk + bool_or
    # of the turn flags
    chunks = e.groupBy("conv_id", "_chunk").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "_tpiece"))),
                lambda s: s["_tpiece"],
            ),
        ).alias("_stream"),
        F.sum("_tlen").alias("_clen"),
        F.min_by("_num", F.when(F.col("_num").isNotNull(), F.col("turn_idx"))).alias("_num"),
        F.min_by("_uf", F.when(F.col("_uf").isNotNull(), F.col("turn_idx"))).alias("_uf"),
        *[F.max(F.col(f"_f_{tok}")).alias(f"_f_{tok}") for tok in _TIPO_TOKENS],
    )
    # the chunk's boundary piece: when the real chunk text fits whole
    # (sum of turn lengths ≤ 2·piece_len) every turn contributed whole,
    # so the stream IS the chunk text; otherwise the stream's first and
    # last piece_len chars equal the chunk text's (see docstring)
    piece = F.when(F.col("_clen") <= 2 * piece_len, F.col("_stream")).otherwise(
        F.concat(
            F.substring("_stream", 1, piece_len),
            F.lit("#"),
            F.substring(F.col("_stream"), -piece_len, piece_len),
        )
    )
    chunks = chunks.select(
        "conv_id",
        "_chunk",
        "_num",
        "_uf",
        piece.alias("_piece"),
        *[
            (F.col(f"_f_{tok}") | F.col("_stream").contains(tok)).alias(f"_f_{tok}")
            for tok in _TIPO_TOKENS
        ],
    )

    # pass 2: conversation-level reduce over #chunks tiny rows
    conv = chunks.groupBy("conv_id").agg(
        F.min_by("_num", F.when(F.col("_num").isNotNull(), F.col("_chunk"))).alias("NumerodaCertidao"),
        F.min_by("_uf", F.when(F.col("_uf").isNotNull(), F.col("_chunk"))).alias("Estado"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_chunk", "_piece"))),
                lambda s: s["_piece"],
            ),
        ).alias("_bstream"),
        *[F.max(F.col(f"_f_{tok}")).alias(f"_f_{tok}") for tok in _TIPO_TOKENS],
    )
    return conv.select(
        "conv_id",
        "NumerodaCertidao",
        "Estado",
        *[
            (F.col(f"_f_{tok}") | F.col("_bstream").contains(tok)).alias(f"_f_{tok}")
            for tok in _TIPO_TOKENS
        ],
    )


def _sigla_chain(header_col, lista: list[dict]):
    """J2 map_by_sigla as a when-chain over a *driver-side* dimension
    list — first item in LIST ORDER whose normalized sigla is contained
    in the normalized header wins (ref parser/mapBySigla.js:9-27)."""
    from .functions.normalize import normaliza_sigla

    expr = F.lit(None).cast("int")
    for item in reversed(lista):
        siglas = [normaliza_sigla(s) for s in item.get("siglas") or [] if s]
        if not siglas:
            continue
        cond = None
        for s in siglas:
            c = header_col.contains(s)
            cond = c if cond is None else (cond | c)
        expr = F.when(cond, item["id"]).otherwise(expr)
    return expr


def header_fields(extracted: DataFrame, depara_raw: dict) -> DataFrame:
    """S7 deterministic header enrichment — the rules the reference's GPT
    prompt encodes (ref gpt/extractHeader.js:41-74), over the FIRST
    turn's first 8,000 chars (A2/A3, ref parseDocument.js:65,
    extractHeader.js:23). Pure expressions + one hash aggregation —
    ``min_by`` on turn_idx replaces the former row_number window, so no
    conversation's turns are ever sorted just to pick turn 1, and the agg
    buffer holds one 8,000-char head (A3-bounded), never a full turn."""
    first = extracted.groupBy("conv_id").agg(
        F.min_by(
            F.substring(F.coalesce("doc_text", "clean_text"), 1, 8000), F.col("turn_idx")
        ).alias("_head")
    )
    # (?U): Java \s is ASCII-only by default (misses NBSP, which the
    # scalar normaliza_sigla strips); also drop combining marks so
    # NFD-decomposed accents fold like the unicodedata-based twin
    norm = F.regexp_replace(
        F.regexp_replace(
            F.translate(F.upper(F.col("_head")), _ACC_SRC, _ACC_DST),
            "[\u0300-\u036f]",
            "",
        ),
        r"(?U)\s+",
        "",
    )
    first = first.withColumn("_hnorm", norm)
    return first.select(
        "conv_id",
        _sigla_chain(F.col("_hnorm"), depara_raw.get("nivelAtividade") or []).alias("NiveldeAtividade"),
        _sigla_chain(F.col("_hnorm"), depara_raw.get("qualificacaoObra") or []).alias("QualificacaoObra"),
        _sigla_chain(F.col("_hnorm"), depara_raw.get("qualificacaoEspecifica") or []).alias("QualificacaoEspecifica"),
    )


def _record_scalars(
    extracted: DataFrame, tipo_dim: DataFrame | None, chunk_turns: int
) -> DataFrame:
    """Scalar record fields (numero/estado/tipo) from the segmented
    scalars: the J6 combo chain over token flags (ref
    detectTipoCertidao.js:9-31 — first matching combo in table order)
    plus the broadcast tipo-dimension lookup."""
    scalars = conversation_scalars(extracted, chunk_turns=chunk_turns)

    flag = {tok: F.col(f"_f_{tok}") for tok in _TIPO_TOKENS}
    is_cat = flag["ACERVOTECNICO"] | flag["CAT"]
    is_cao = flag["ACERVOOPERACIONAL"] | flag["CAO"]
    combos = [
        (is_cat, "CREA", "CATCREA"), (is_cao, "CREA", "CAOCREA"),
        (is_cat, "CAU", "CATCAU"), (is_cao, "CAU", "CAOCAU"),
        (is_cat, "CRT", "CATCRT"), (is_cao, "CRT", "CAOCRT"),
        (is_cat, "CRA", "CATCRA"), (is_cao, "CRA", "CAOCRA"),
        (is_cao, "CFTA", "CAOCFTA"),
    ]
    nome = F.lit(None).cast("string")
    for kind_flag, council, combo in reversed(combos):
        nome = F.when(kind_flag & flag[council], combo).otherwise(nome)

    scalars = scalars.select(
        "conv_id",
        "NumerodaCertidao",
        "Estado",
        nome.alias("_tipo_nome"),
    )
    if tipo_dim is not None:
        scalars = scalars.join(
            F.broadcast(tipo_dim.select(F.col("id").alias("TipodaCertidao"), "nome_norm")),
            scalars["_tipo_nome"] == F.col("nome_norm"),
            "left",
        ).drop("nome_norm")
    else:
        scalars = scalars.withColumn("TipodaCertidao", F.lit(None).cast("int"))
    return scalars.drop("_tipo_nome")


def conversation_records(
    extracted: DataFrame,
    tipo_dim: DataFrame | None = None,
    header_depara: dict | None = None,
    chunk_turns: int = 512,
) -> DataFrame:
    """Full per-conversation record (ref :227-236): scalar fields + the
    filtered, ordered services array.

    ``tipo_dim``: DataFrame(id INT, nome_norm STRING) — the tipoCertidao
    dimension with pre-normalized names; broadcast-joined (J6).

    ``header_depara``: when given (the raw de/para dict), the record is
    enriched with the deterministic S7 header fields; by default the
    record matches the reference's de-facto output (GPT error path →
    those fields absent/null, ref gpt/extractHeader.js:123-133).

    The services come from the segmented-scan assembly — byte-identical
    to the single-window ``assemble_services`` (asserted in tests) with
    stragglers bounded by ``chunk_turns`` instead of conversation size.
    The conversation scalars are segmented too
    (``conversation_scalars`` — exact, never conversation-size-bound);
    the only remaining conversation-sized object in this plan is the
    final Servicos array itself, inherent to array output — use
    ``conversation_service_rows`` when even that must be avoided.
    """
    scalars = _record_scalars(extracted, tipo_dim, chunk_turns)
    svcs = assemble_services_segmented(explode_services(extracted), chunk_turns=chunk_turns)
    svc_arr = svcs.groupBy("conv_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("turn_idx", "svc_idx", "Item", "Categoria", "Descricao", "Unidade", "Quantidade")
                )
            ),
            lambda s: F.struct(
                s["Item"].alias("Item"),
                s["Categoria"].alias("Categoria"),
                s["Descricao"].alias("Descricao"),
                s["Unidade"].alias("Unidade"),
                s["Quantidade"].alias("Quantidade"),
            ),
        ).alias("Servicos")
    )

    out = scalars.join(svc_arr, "conv_id", "left")
    cols = [
        "conv_id",
        "NumerodaCertidao",
        # de-facto null in the reference (GPT error path), but the record
        # CONTRACT carries the field (ref parser/parseDocument.js:227-236,
        # gpt/extractHeader.js:78-88) — schema parity must be exact
        F.lit(None).cast("string").alias("ObjetodaCertidaCertidao"),
        "TipodaCertidao",
        "Estado",
        F.coalesce("Servicos", F.array().cast(svc_arr.schema["Servicos"].dataType)).alias("Servicos"),
    ]
    if header_depara is not None:
        hdr = header_fields(extracted, header_depara)
        out = out.join(hdr, "conv_id", "left")
        # twin key order: ...Tipo, QualificacaoObra, QualificacaoEspecifica,
        # NiveldeAtividade, Estado... (extract/document.py record contract)
        cols[4:4] = ["QualificacaoObra", "QualificacaoEspecifica", "NiveldeAtividade"]
    return out.select(*cols)


def conversation_service_rows(
    extracted: DataFrame,
    tipo_dim: DataFrame | None = None,
    header_depara: dict | None = None,
    chunk_turns: int = 512,
) -> DataFrame:
    """Row-form record output: the same scalar fields as
    ``conversation_records`` but one ROW per filtered service, keyed by
    (turn_idx, svc_idx) — the record for huge conversations.

    The array-form record must materialize a conversation's whole
    Servicos array in one aggregation buffer and land it in one output
    row; at 10^12-turn scale a hot conversation's array can exceed task
    memory. Here NOTHING in the plan — input split, shuffle block,
    output row — is conversation-sized: scalars come from the segmented
    reduce, the assembly is the segmented scan, and the join key
    (conv_id) shuffles service rows without aggregating them.
    ``array_sort``-ing the rows by (turn_idx, svc_idx) reproduces the
    exact Servicos order (asserted against the array form in tests).
    Conversations whose services were ALL filtered still emit their
    scalar record with null service columns (left join from scalars),
    matching the array form's empty-array row.
    """
    scalars = _record_scalars(extracted, tipo_dim, chunk_turns)
    svcs = assemble_services_segmented(explode_services(extracted), chunk_turns=chunk_turns)
    out = scalars.join(svcs, "conv_id", "left")
    cols = [
        "conv_id",
        "NumerodaCertidao",
        F.lit(None).cast("string").alias("ObjetodaCertidaCertidao"),
        "TipodaCertidao",
        "Estado",
        "turn_idx",
        "svc_idx",
        "Item",
        "Categoria",
        "Descricao",
        "Unidade",
        "Quantidade",
    ]
    if header_depara is not None:
        hdr = header_fields(extracted, header_depara)
        out = out.join(hdr, "conv_id", "left")
        cols[4:4] = ["QualificacaoObra", "QualificacaoEspecifica", "NiveldeAtividade"]
    return out.select(*cols)


def tipo_dim_df(spark, lista_tipos: list[dict]) -> DataFrame:
    """Build the J6 broadcast dimension (normalized names precomputed
    driver-side with the exact NFD semantics of the Python twin)."""
    from .functions.normalize import normalize_tipo
    from .sources.io import local_frame

    rows = []
    seen = set()
    for item in lista_tipos:
        nome = normalize_tipo(item.get("tipoCertidao") or item.get("valor") or "")
        if nome in seen:
            continue  # reference takes the FIRST list match (ref :39-44)
        seen.add(nome)
        rows.append((item["id"], nome))
    return local_frame(spark, rows, "id INT, nome_norm STRING")


def assemble_services_segmented(svc: DataFrame, chunk_turns: int = 512) -> DataFrame:
    """Straggler-free variant of ``assemble_services`` for huge
    conversations: the order-sensitive scans (A4 inheritance, A6
    renumbering) become SEGMENTED SCANS — a two-pass parallel prefix.

    A conversation is cut into contiguous chunks of ``chunk_turns``
    turns (``turn_idx // chunk_turns`` — contiguity by construction, no
    global sort needed). Pass 1 windows WITHIN (conv, chunk) — parallel
    across chunks, so the hot conversation spreads over
    n_turns/chunk_turns tasks instead of one. Pass 2 prefix-combines the
    tiny per-chunk summaries (last mother description, quantity count)
    over a (conv)-window of #chunks rows, and a broadcast-back join
    gives every row its carried-in state:

        Categoria  = coalesce(within-chunk last mother, carried-in, prefixo)
        counter    = within-chunk running count + carried-in count

    Semantics are byte-identical to ``assemble_services`` (asserted in
    tests incl. the skewed fixture); wall time for assembly scans is
    bounded by chunk size, not conversation size.
    """
    svc = svc.filter(F.col("svc_idx").isNotNull())
    svc = svc.withColumn("_chunk", (F.col("turn_idx") / F.lit(chunk_turns)).cast("int"))

    chunk_w = Window.partitionBy("conv_id", "_chunk").orderBy("turn_idx", "svc_idx")
    chunk_run = chunk_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    has_qty = F.trim(F.coalesce(F.col("Quantidade"), F.lit(""))) != ""
    item_blank = F.trim(F.coalesce(F.col("Item"), F.lit(""))) == ""
    is_mother = (~has_qty) & F.col("Descricao").isNotNull() & (F.col("Descricao") != "")

    # pass 1: within-chunk scans (parallel across chunks)
    svc_w = (
        svc.withColumn("_qty_in_chunk", F.sum(has_qty.cast("int")).over(chunk_run))
        .withColumn(
            "_mother_in_chunk",
            F.last(F.when(is_mother, F.trim(F.col("Descricao"))), ignorenulls=True).over(chunk_run),
        )
    )

    # chunk summaries: totals + last mother of each chunk (tiny per
    # conv), computed by PLAIN AGGREGATION over the raw columns — NOT
    # from the window outputs.  Catalyst has no cross-branch subplan
    # sharing, so svc_w.join(summaries) plans the upstream subtree on
    # both sides either way, and the executed plan shows NO
    # ReusedExchange between the branches (checked r6): the r5
    # window-derived form therefore paid a SECOND full exchange + sort
    # + window pass of every service row just to read the chunk totals
    # off the final rows.  The raw aggregation partial-aggregates
    # map-side (guide §2.3 — aggregate before you shuffle), so this
    # branch shuffles #(conv, chunk) summary rows instead of every
    # service row, and drops two Window + two SortAggregate operators
    # from the plan (measured: 2.07 → 1.89 s warm on the bench
    # assembly, byte-equal).
    # NOT F.last(...) — inside groupBy().agg() Last is order-NON-
    # deterministic (partial aggs merge in shuffle arrival order);
    # max_by keyed on the unique (turn_idx, svc_idx) is order-free, and
    # ignores NULL keys so non-mother rows never win.
    row_key = F.struct("turn_idx", "svc_idx")
    summaries = svc.groupBy("conv_id", "_chunk").agg(
        F.sum(has_qty.cast("int")).alias("_qty_total"),
        F.max_by(
            F.when(is_mother, F.trim(F.col("Descricao"))),
            F.when(is_mother, row_key),
        ).alias("_last_mother"),
        # A5 chunk partial: folded into this aggregation (and the
        # whole-partition window below) instead of a separate
        # conv-grain groupBy + join — one shuffle and one join fewer,
        # same chunk-parallel map-side combine
        F.min(F.when(item_blank, 1).otherwise(0)).alias("_blank_min"),
    )
    sum_w = Window.partitionBy("conv_id").orderBy("_chunk")
    prev = sum_w.rowsBetween(Window.unboundedPreceding, -1)
    whole = sum_w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    summaries = summaries.select(
        "conv_id",
        "_chunk",
        F.coalesce(F.sum("_qty_total").over(prev), F.lit(0)).alias("_qty_carry"),
        F.last("_last_mother", ignorenulls=True).over(prev).alias("_mother_carry"),
        # A5 conv total over the tiny summary rows — same sort, same
        # window exec, no extra exchange
        (F.min("_blank_min").over(whole) == 1).alias("_all_blank"),
    )

    # pass 2: join back the carried-in state (summaries ≈ #convs × #chunks
    # rows — small relative to the data, but NOT driver-broadcastable at
    # extreme conversation counts; AQE picks broadcast when it fits)
    svc = svc_w.join(summaries, ["conv_id", "_chunk"])

    counter = F.col("_qty_carry") + F.col("_qty_in_chunk")
    item = F.when(
        F.col("_all_blank"),
        F.when(has_qty, counter.cast("string")).otherwise(F.lit(None).cast("string")),
    ).otherwise(F.col("Item"))
    svc = svc.withColumn("Item", item)

    svc = svc.withColumn(
        "Categoria", F.coalesce(F.col("_mother_in_chunk"), F.col("_mother_carry"), _prefixo_expr())
    ).drop("_chunk", "_all_blank", "_qty_in_chunk", "_qty_carry", "_mother_carry", "_mother_in_chunk")

    return _filter_assembled(svc)
