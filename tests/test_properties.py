"""Property-based tests (hypothesis) for the pure scalar layer —
robustness over arbitrary unicode input, no Spark session needed."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_ocr_api_spark import fixtures
from pdf_ocr_api_spark.extract.document import parse_document_py
from pdf_ocr_api_spark.extract.services import parse_services
from pdf_ocr_api_spark.extract.units import detect_unidade, normalize_unidade
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


# ---------------------------------------------------------------------------
# pure-numpy codec properties (r3): encode→decode identity over arbitrary
# shapes/content; decoders never crash on arbitrary byte mutations — they
# either parse or raise ValueError (the multimodal routers rely on this
# to degrade gracefully instead of killing a job)
# ---------------------------------------------------------------------------

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_property(w, h, seed):
    from pdf_ocr_api_spark.ops import codecs

    rgb = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (codecs.decode_bmp(codecs.encode_bmp(rgb)) == rgb).all()


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 2000),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_property(n, ch, rate, seed):
    from pdf_ocr_api_spark.ops import codecs

    s = np.random.default_rng(seed).integers(-32768, 32768, (n, ch)).astype(np.int16)
    got, r = codecs.decode_wav(codecs.encode_wav(s, rate))
    assert r == rate and (got == s).all()


@settings(max_examples=30, deadline=None)
@given(
    nf=st.integers(0, 5),
    w=st.integers(1, 16),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_y4m_roundtrip_property(nf, w, h, seed):
    from pdf_ocr_api_spark.ops import codecs

    w, h = w * 2, h * 2  # 4:2:0 needs even dims
    frames = np.random.default_rng(seed).integers(0, 256, (nf, h, w), dtype=np.uint8)
    got, fps = codecs.decode_y4m(codecs.encode_y4m(frames, fps=25))
    assert fps == 25 and got.shape == frames.shape and (got == frames).all()


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_ppm_roundtrip_property(w, h, seed):
    from pdf_ocr_api_spark.ops import codecs

    rgb = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (codecs.decode_ppm(codecs.encode_ppm(rgb)) == rgb).all()


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 2000),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_au_roundtrip_property(n, ch, rate, seed):
    from pdf_ocr_api_spark.ops import codecs

    s = np.random.default_rng(seed).integers(-32768, 32768, (n, ch)).astype(np.int16)
    got, r = codecs.decode_au(codecs.encode_au(s, rate))
    assert r == rate and (got == s).all()


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_decoders_never_crash_unexpectedly(data):
    """Arbitrary bytes: every decoder either returns a parse or raises
    ValueError — never IndexError/struct.error/segfault-shaped failures.
    media_feature_vector must ALWAYS return a 16-dim vector."""
    from pdf_ocr_api_spark.ops import codecs, multimodal

    for fn in (codecs.decode_bmp, codecs.decode_wav, codecs.decode_y4m,
               codecs.decode_ppm, codecs.decode_au):
        try:
            fn(data)
        except ValueError:
            pass
    v = multimodal.media_feature_vector(data)
    assert v.shape == (16,)


@settings(max_examples=40, deadline=None)
@given(data=st.binary(min_size=0, max_size=300), seed=st.integers(0, 2**31 - 1))
def test_mutated_real_payloads_degrade(data, seed):
    """Real payloads with arbitrary corruption spliced in still resolve
    to SOME 16-dim feature vector (real parse or fake fallback)."""
    from pdf_ocr_api_spark.ops import codecs, multimodal

    rng = np.random.default_rng(seed)
    real = codecs.encode_bmp(rng.integers(0, 256, (6, 6, 3), dtype=np.uint8))
    cut = int(rng.integers(0, len(real)))
    mutated = real[:cut] + data
    v = multimodal.media_feature_vector(mutated)
    assert v.shape == (16,)


def test_wav_short_fmt_chunk_is_valueerror():
    """A RIFF/WAVE payload with a truncated fmt chunk must raise
    ValueError (not struct.error) so the multimodal routers degrade."""
    from pdf_ocr_api_spark.ops import codecs, multimodal

    bad = b"RIFF" + (20).to_bytes(4, "little") + b"WAVE" + b"fmt " + (4).to_bytes(4, "little") + b"\x01\x00\x01\x00" + b"data" + (0).to_bytes(4, "little")
    import pytest

    with pytest.raises(ValueError):
        codecs.decode_wav(bad)
    assert multimodal.media_feature_vector(bad).shape == (16,)


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    ch=st.sampled_from([3, 4]),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_png_roundtrip_any_filters(h, w, ch, seed, data):
    """r5 PNG property: ANY per-row filter assignment (types 0-4, drawn
    per scanline) decodes back to the original raster — the decoder's
    unfilter must invert the spec's filter for every type at every
    shape, including 1-pixel rows where the 'left' context is empty."""
    import struct
    import zlib

    from pdf_ocr_api_spark.ops import codecs

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    ftypes = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))

    from .png_ref import ref_png_stream

    png = ref_png_stream(img, ftypes)
    assert (codecs.decode_png(png) == img).all()


@settings(max_examples=40, deadline=None)
@given(data=st.binary(min_size=0, max_size=200), seed=st.integers(0, 2**31 - 1))
def test_png_corrupt_never_crashes_router(data, seed):
    """Mutated/truncated PNG-prefixed bytes must either decode or raise
    ValueError — the multimodal router always yields a 16-dim vector."""
    from pdf_ocr_api_spark.ops import codecs, multimodal

    rng = np.random.default_rng(seed)
    real = codecs.encode_png(rng.integers(0, 256, (5, 7, 3), dtype=np.uint8))
    cut = int(rng.integers(0, len(real)))
    mutated = real[:cut] + data
    try:
        codecs.decode_png(mutated)
    except ValueError:
        pass
    assert multimodal.media_feature_vector(mutated).shape == (16,)


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_probe_media_corrupt_never_escapes(data):
    """r5: probe_media on arbitrary bytes (incl. MP4/MP3-prefixed) must
    return a dict or raise ValueError — nothing else (the metadata UDF
    degrades on ValueError only)."""
    from pdf_ocr_api_spark.ops import mediameta

    for prefix in (b"", b"\x00\x00\x00\x18ftyp", b"ID3\x04\x00\x00\x00\x00\x00\x05",
                   b"\xff\xfb\x90\x00"):
        try:
            m = mediameta.probe_media(prefix + data)
            assert isinstance(m, dict)
        except ValueError:
            pass
