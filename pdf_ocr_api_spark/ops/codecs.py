"""Pure-numpy codecs for UNCOMPRESSED public media formats.

The container has no codec libraries (PIL/libvips/ffmpeg), but five
classic formats need none — their layouts are fixed-offset headers over
raw sample arrays, parseable with ``struct`` + ``numpy``:

* **BMP** (Windows bitmap, 24-bit uncompressed, BI_RGB): 14-byte file
  header + 40-byte BITMAPINFOHEADER + BGR rows padded to 4 bytes,
  bottom-up (or top-down when height < 0).
* **WAV** (RIFF/WAVE, PCM 16-bit): RIFF container, ``fmt `` chunk with
  format tag 1, ``data`` chunk of little-endian int16 samples.
* **Y4M** (YUV4MPEG2): ASCII stream header (``YUV4MPEG2 W.. H.. F..``),
  then per-frame ``FRAME\\n`` markers + raw 4:2:0 planes.
* **PPM** (Netpbm P6, r4): ASCII ``P6 <w> <h> <maxval>`` header with
  whitespace/comment syntax + raw 8-bit RGB raster.
* **AU** (Sun audio, r4): 24-byte big-endian header (magic ``.snd``,
  data offset/size, encoding 3 = PCM-16, rate, channels) + big-endian
  int16 samples.
* **PNG** (r5 — compressed, but needs no codec library): its only
  compression is DEFLATE, which is stdlib ``zlib`` — critical chunks
  (IHDR/IDAT/IEND, CRC-checked) + per-scanline unfiltering (types 0-4)
  over numpy, 8-bit truecolor RGB/RGBA, non-interlaced. Palette/gray/
  16-bit/Adam7 raise ValueError like any unsupported flavor.
* **GIF** (r5 — compressed, but LZW is an algorithm, not a library):
  variable-width LZW encode/decode + palette mapping, 87a/89a, global
  or local color table, first frame, non-interlaced; encode is
  lossless for ≤256-color images (GIF's own model).

These are the real-decoder backends for ``ops.multimodal`` — the
remaining codec-bound formats (JPEG/FLAC/MP3/MP4) stay stubbed behind
``NotImplementedError`` until a codec library exists here.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed)
# ---------------------------------------------------------------------------


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → 24-bit BI_RGB bottom-up BMP bytes."""
    a = np.asarray(rgb, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) uint8, got {a.shape}")
    h, w, _ = a.shape
    row_nbytes = w * 3
    pad = (-row_nbytes) % 4
    padded = row_nbytes + pad
    data_size = padded * h
    # rows bottom-up, channels BGR, right-padded with zeros
    rows = a[::-1, :, ::-1].reshape(h, row_nbytes)
    if pad:
        rows = np.concatenate([rows, np.zeros((h, pad), np.uint8)], axis=1)
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    return header + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP bytes → (H, W, 3) uint8 RGB (bottom-up or
    top-down). Raises ValueError on anything that is not this exact
    (but most common) flavor."""
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP flavor: bpp={bpp} compression={compression}")
    top_down = h_signed < 0
    h = abs(h_signed)
    row_nbytes = w * 3
    padded = row_nbytes + ((-row_nbytes) % 4)
    need = data_offset + padded * h
    if len(payload) < need:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(payload, np.uint8, count=padded * h, offset=data_offset)
    rows = rows.reshape(h, padded)[:, :row_nbytes].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def resize_nearest(rgb: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (pure index math — the deterministic,
    library-free kernel; a real pipeline swaps in an area/lanczos kernel
    with the same (array → array) contract)."""
    a = np.asarray(rgb)
    h, w = a.shape[:2]
    yi = (np.arange(height) * (h / height)).astype(np.int64).clip(0, h - 1)
    xi = (np.arange(width) * (w / width)).astype(np.int64).clip(0, w - 1)
    return a[yi][:, xi]


# ---------------------------------------------------------------------------
# WAV (RIFF PCM 16-bit)
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, channels) int16 → RIFF/WAVE PCM bytes."""
    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    data = a.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    out = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return out


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM-16 bytes → ((n, channels) int16, sample_rate)."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        # struct.error is NOT a ValueError — a short fmt chunk must still
        # surface as the parse-failure type the routers degrade on
        raise ValueError(f"WAV fmt chunk too short ({len(fmt)} bytes)")
    tag, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if tag != 1 or bits != 16 or ch < 1:
        # ch < 1 must be the ValueError the routers degrade on, not a
        # ZeroDivisionError escaping the catch below
        raise ValueError(f"unsupported WAV flavor: tag={tag} bits={bits} channels={ch}")
    n = len(data) // (2 * ch)
    samples = np.frombuffer(data, "<i2", count=n * ch).reshape(n, ch)
    return samples.copy(), rate


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2, 4:2:0)
# ---------------------------------------------------------------------------


def encode_y4m(frames_y: np.ndarray, fps: int = 25) -> bytes:
    """(n_frames, H, W) uint8 luma → YUV4MPEG2 4:2:0 bytes (chroma
    planes neutral 128 — a grayscale video)."""
    a = np.asarray(frames_y, dtype=np.uint8)
    n, h, w = a.shape
    if h % 2 or w % 2:
        raise ValueError("Y4M 4:2:0 needs even dimensions")
    chroma = np.full((h // 2) * (w // 2), 128, np.uint8).tobytes()
    out = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode("ascii")]
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(a[i].tobytes())
        out.append(chroma)
        out.append(chroma)
    return b"".join(out)


def decode_y4m(payload: bytes) -> tuple[np.ndarray, int]:
    """YUV4MPEG2 4:2:0 bytes → ((n_frames, H, W) uint8 luma, fps).
    Chroma planes are parsed (for offsets) but only luma is returned —
    the feature/frame-sample consumers here are luma-based."""
    if payload is None or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a Y4M payload")
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii", "replace").split(" ")
    w = h = None
    fps = 25
    for tok in header[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("F"):
            fps = int(tok[1:].split(":")[0])
        elif tok.startswith("C") and tok[1:] not in ("420", "420jpeg", "420mpeg2"):
            raise ValueError(f"unsupported Y4M chroma mode {tok}")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    luma_n = w * h
    chroma_n = (w // 2) * (h // 2)
    frame_n = luma_n + 2 * chroma_n
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fe = payload.index(b"\n", pos)  # FRAME line (may carry params)
        if not payload[pos:fe].startswith(b"FRAME"):
            raise ValueError("Y4M frame marker missing")
        body = payload[fe + 1 : fe + 1 + frame_n]
        if len(body) < frame_n:
            raise ValueError("truncated Y4M frame")
        frames.append(np.frombuffer(body, np.uint8, count=luma_n).reshape(h, w))
        pos = fe + 1 + frame_n
    return np.stack(frames) if frames else np.zeros((0, h, w), np.uint8), fps


# ---------------------------------------------------------------------------
# PPM (Netpbm P6, 8-bit binary RGB)
# ---------------------------------------------------------------------------


def encode_ppm(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → binary PPM (P6, maxval 255) bytes."""
    a = np.asarray(rgb, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) uint8, got {a.shape}")
    h, w, _ = a.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + a.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) bytes → (H, W, 3) uint8 RGB. Handles Netpbm
    whitespace/comment header syntax; 8-bit maxval only (the 16-bit
    big-endian variant raises ValueError like any unsupported flavor)."""
    if payload is None or payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c in b" \t\r\n":
            pos += 1
        elif c == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("truncated PPM comment")
            pos = nl + 1
        elif c.isdigit():
            end = pos
            while end < len(payload) and payload[end : end + 1].isdigit():
                end += 1
            fields.append(int(payload[pos:end]))
            pos = end
        else:
            raise ValueError(f"bad PPM header byte {c!r}")
    w, h, maxval = fields
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported PPM maxval {maxval} (8-bit only)")
    if w <= 0 or h <= 0:
        raise ValueError(f"bad PPM dimensions {w}x{h}")
    # exactly ONE whitespace byte separates maxval from the raster — and
    # it must BE whitespace, or a malformed header (e.g. CRLF counted as
    # data) would silently shift every sample by a byte
    if payload[pos : pos + 1] not in (b" ", b"\t", b"\r", b"\n"):
        raise ValueError("PPM maxval not followed by a whitespace byte")
    pos += 1
    need = w * h * 3
    if len(payload) - pos < need:
        raise ValueError("truncated PPM raster")
    a = np.frombuffer(payload, np.uint8, count=need, offset=pos).reshape(h, w, 3)
    if maxval != 255:
        # spec-valid sub-255 maxval: samples are 0..maxval — rescale to
        # the 0..255 basis every consumer here assumes (features divide
        # by 255), instead of returning systematically dark pixels
        a = (a.astype(np.float32) * (255.0 / maxval)).round().clip(0, 255).astype(np.uint8)
        return a
    return a.copy()


# ---------------------------------------------------------------------------
# AU (Sun audio, 16-bit linear PCM — big-endian throughout)
# ---------------------------------------------------------------------------

_AU_PCM16 = 3  # encoding id: 16-bit linear PCM


def encode_au(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, channels) int16 → Sun .au (encoding 3) bytes."""
    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    data = a.astype(">i2").tobytes()
    header = struct.pack(">4sIIIII", b".snd", 24, len(data), _AU_PCM16, sample_rate, ch)
    return header + data


def decode_au(payload: bytes) -> tuple[np.ndarray, int]:
    """Sun .au 16-bit PCM bytes → ((n, channels) int16, sample_rate).
    Honors the header's data offset; a 0xFFFFFFFF ("unknown") data size
    means read to end-of-payload, per the format."""
    if payload is None or len(payload) < 24 or payload[:4] != b".snd":
        raise ValueError("not an AU payload")
    _magic, offset, size, enc, rate, ch = struct.unpack_from(">4sIIIII", payload, 0)
    if enc != _AU_PCM16 or ch < 1 or offset < 24:
        raise ValueError(f"unsupported AU flavor: encoding={enc} channels={ch} offset={offset}")
    body = payload[offset:] if size == 0xFFFFFFFF else payload[offset : offset + size]
    n = len(body) // (2 * ch)
    samples = np.frombuffer(body, ">i2", count=n * ch).reshape(n, ch)
    return samples.astype(np.int16), rate


# ---------------------------------------------------------------------------
# PNG (8-bit truecolor RGB/RGBA, non-interlaced — stdlib zlib, r5)
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray) -> bytes:
    """(H, W, 3|4) uint8 → PNG bytes (8-bit truecolor, filter 0 on
    every scanline, one zlib-deflated IDAT). PNG's only compression is
    DEFLATE — stdlib ``zlib``, no codec library needed."""
    import zlib

    a = np.asarray(rgb, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError(f"expected (H, W, 3|4) uint8, got {a.shape}")
    h, w, ch = a.shape
    color_type = 2 if ch == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # each scanline prefixed with filter byte 0 (None)
    raw = np.concatenate([np.zeros((h, 1), np.uint8), a.reshape(h, w * ch)], axis=1)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(filt: np.ndarray, ftypes: np.ndarray, bpp: int) -> np.ndarray:
    """Reverse per-scanline PNG filtering (types 0-4) in place-ish:
    (H, stride) filtered bytes + per-row filter types → recon bytes.

    Row-sequential by construction (Up/Average/Paeth reference the
    reconstructed row above); within a row, None/Up are fully
    vectorized, Sub is a per-byte-lane cumsum mod 256, and only
    Average/Paeth walk pixels (vectorized across the bpp lanes)."""
    h, stride = filt.shape
    recon = np.zeros_like(filt)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        row = filt[y].astype(np.int32)
        t = int(ftypes[y])
        if t == 0:
            out = row
        elif t == 1:  # Sub: recon[i] = row[i] + recon[i-bpp] → lane cumsum
            out = row.reshape(-1, bpp).cumsum(axis=0).reshape(-1) & 0xFF
        elif t == 2:  # Up
            out = (row + prev) & 0xFF
        elif t == 3:  # Average
            out = np.empty(stride, np.int32)
            out[:bpp] = (row[:bpp] + (prev[:bpp] >> 1)) & 0xFF
            for i in range(bpp, stride, bpp):
                out[i : i + bpp] = (
                    row[i : i + bpp] + ((out[i - bpp : i] + prev[i : i + bpp]) >> 1)
                ) & 0xFF
        elif t == 4:  # Paeth
            out = np.empty(stride, np.int32)
            out[:bpp] = (row[:bpp] + prev[:bpp]) & 0xFF  # left=0 ⇒ predictor=up
            for i in range(bpp, stride, bpp):
                a = out[i - bpp : i]
                b = prev[i : i + bpp]
                c = prev[i - bpp : i]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                out[i : i + bpp] = (row[i : i + bpp] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {t} on row {y}")
        recon[y] = out.astype(np.uint8)
        prev = out
    return recon


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (H, W, 3|4) uint8. Critical chunks only; 8-bit
    truecolor (color types 2/6), non-interlaced — the PIL-free subset a
    stdlib-``zlib`` + numpy decoder can do exactly. Palette/gray/16-bit/
    Adam7 raise ValueError (→ ``fake_features`` fallback upstream, same
    as any unsupported flavor)."""
    import zlib

    if payload is None or len(payload) < 45 or payload[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_MAGIC)
    ihdr = None
    idat = bytearray()
    saw_iend = False
    while pos + 8 <= len(payload):
        (length,), tag = struct.unpack_from(">I", payload, pos), payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        crc_end = pos + 8 + length + 4
        if crc_end > len(payload):
            raise ValueError("truncated PNG chunk CRC")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if len(body) != 13:
                # CRC-valid but wrong-sized IHDR: struct.error is not
                # ValueError and would escape the router's degrade path
                raise ValueError(f"bad IHDR length {len(body)}")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            saw_iend = True
            break
        # ancillary chunks (tEXt, pHYs, …) are skipped; PLTE only
        # matters for color type 3, which is rejected below
        pos = crc_end
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    if not saw_iend:
        raise ValueError("PNG missing IEND (truncated stream)")
    w, h, depth, color_type, comp, filt_method, interlace = ihdr
    if depth != 8 or color_type not in (2, 6):
        raise ValueError(
            f"unsupported PNG flavor: depth={depth} color_type={color_type} "
            "(8-bit truecolor RGB/RGBA only)"
        )
    if comp != 0 or filt_method != 0:
        raise ValueError(f"bad PNG compression/filter method {comp}/{filt_method}")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG unsupported")
    if w <= 0 or h <= 0 or not idat:
        raise ValueError("empty PNG image")
    ch = 3 if color_type == 2 else 4
    stride = w * ch
    want = h * (stride + 1)
    if want > (1 << 28):
        # hostile IHDR dims → bounded refusal before any allocation
        raise ValueError(f"implausible PNG dimensions {w}x{h}")
    try:
        # bounded inflate: the raster size is KNOWN from IHDR, so a
        # DEFLATE bomb (1 MB payload → ~1 GB inflated) is cut off at
        # want+1 bytes instead of materialized then length-rejected
        dec = zlib.decompressobj()
        inflated = dec.decompress(bytes(idat), want + 1)
    except zlib.error as e:
        # only reachable with CRC-valid-but-corrupt DEFLATE (crafted
        # input) — still must be ValueError so the router degrades
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if len(inflated) > want or dec.unconsumed_tail:
        raise ValueError("PNG raster larger than IHDR declares")
    raw = np.frombuffer(inflated, np.uint8)
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG raster size mismatch: got {len(raw)}, want {h * (stride + 1)}"
        )
    rows = raw.reshape(h, stride + 1)
    recon = _png_unfilter(rows[:, 1:], rows[:, 0], ch)
    return recon.reshape(h, w, ch)


# ---------------------------------------------------------------------------
# GIF (87a/89a, LZW — pure Python/numpy, r5)
# ---------------------------------------------------------------------------
#
# GIF's only compression is LZW with variable-width codes — an
# algorithm, not a codec library dependency: a dictionary walk plus
# LSB-first bit packing. Scope: 8-bit palette images (≤256 distinct
# colors on encode — GIF's own model), global or local color table,
# non-interlaced (Adam-less GIF interlace raises ValueError like PNG's
# Adam7 does), first image frame; transparency/animation extensions are
# skipped structurally (sub-block walk), not decoded.

_GIF_MAX_CODE = 1 << 12  # LZW codes are capped at 12 bits


def _gif_lzw_compress(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-variant LZW over palette indices → raw code stream (caller
    sub-blocks it). Emits CLEAR up front and on table overflow, EOI at
    the end; code width grows in the decoder-synchronized off-by-one
    pattern (widen when next_code == (1<<width)+1)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    buf = nbits = 0

    width = mcs + 1

    def emit(code: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    emit(clear)
    cur = -1
    for px in indices.tolist():
        if cur < 0:
            cur = px
            continue
        key = (cur, px)
        if key in table:
            cur = table[key]
            continue
        emit(cur)
        if next_code < _GIF_MAX_CODE:
            table[key] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            # table full (code 4095 assigned): a 4096th code would need
            # 13 bits — reset instead of adding, decoder-synchronized
            emit(clear)
            table.clear()
            width = mcs + 1
            next_code = eoi + 1
        cur = px
    if cur >= 0:
        emit(cur)
    emit(eoi)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, mcs: int, n_pixels: int) -> np.ndarray:
    """Raw LZW code stream → exactly n_pixels palette indices. Output is
    bounded by n_pixels regardless of stream content (bomb guard); any
    out-of-range or early-EOI stream raises ValueError."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"bad GIF LZW min code size {mcs}")
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = np.empty(n_pixels, np.uint8)
    n_out = 0
    # dictionary as prefix/suffix arrays — O(1) append, stack-based expand
    prefix = np.zeros(_GIF_MAX_CODE, np.int32)
    suffix = np.zeros(_GIF_MAX_CODE, np.uint8)
    for c in range(clear):
        suffix[c] = c
    width = mcs + 1
    next_code = eoi + 1
    buf = nbits = pos = 0
    prev = -1
    stack = bytearray()
    while n_out < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream ended before raster complete")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width
        if code == clear:
            width = mcs + 1
            next_code = eoi + 1
            prev = -1
            continue
        if code == eoi:
            raise ValueError("GIF LZW EOI before raster complete")
        if code >= next_code or (prev < 0 and code >= clear):
            if not (code == next_code and prev >= 0):
                raise ValueError(f"GIF LZW code {code} out of range")
        # expand: walk suffix chain (KwKwK case uses prev + its head)
        stack.clear()
        c = code
        if code == next_code:  # KwKwK
            c = prev
        while c >= clear:  # composite codes only; roots are < clear
            stack.append(suffix[c])
            c = prefix[c]
        stack.append(suffix[c])
        first = stack[-1]
        if code == next_code:
            stack.insert(0, first)
        n = len(stack)
        if n_out + n > n_pixels:
            raise ValueError("GIF LZW produces more pixels than the raster holds")
        out[n_out : n_out + n] = np.frombuffer(bytes(stack), np.uint8)[::-1]
        n_out += n
        if prev >= 0 and next_code < _GIF_MAX_CODE:
            prefix[next_code] = prev
            suffix[next_code] = first
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    return out


def encode_gif(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → single-frame GIF89a with a global color table.
    Lossless for images with ≤256 distinct colors (GIF's own model);
    more colors raise ValueError — palette quantization is a policy, not
    a codec, decision."""
    import struct

    rgb = np.ascontiguousarray(rgb, np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_gif expects (H, W, 3) uint8")
    h, w = rgb.shape[:2]
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"GIF dimensions out of range: {w}x{h}")
    flat = rgb.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"GIF needs <=256 distinct colors, image has {len(palette)}")
    # GCT size is a power of two >= 4 (mcs >= 2 per spec)
    bits = max(2, int(np.ceil(np.log2(max(len(palette), 2)))))
    gct = np.zeros((1 << bits, 3), np.uint8)
    gct[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += gct.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)  # image descriptor
    mcs = bits
    out.append(mcs)
    stream = _gif_lzw_compress(inverse.astype(np.int32), mcs)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a first frame → (H, W, 3) uint8. Global or local color
    table, non-interlaced; extensions are skipped by their sub-block
    structure. Interlaced images, missing color tables, and any LZW /
    table inconsistency raise ValueError."""
    import struct

    d = payload
    if d is None or len(d) < 13 or d[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    _sw, _sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", d, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(d):
            raise ValueError("truncated GIF global color table")
        gct = np.frombuffer(d, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while True:
        if pos >= len(d):
            raise ValueError("GIF ended before an image descriptor")
        block = d[pos]
        pos += 1
        if block == 0x3B:
            raise ValueError("GIF has no image frame")
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(d):
                    raise ValueError("truncated GIF extension")
                sz = d[pos]
                pos += 1 + sz
                if sz == 0:
                    break
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        break
    if pos + 9 > len(d):
        raise ValueError("truncated GIF image descriptor")
    _left, _top, iw, ih, iflags = struct.unpack_from("<HHHHB", d, pos)
    pos += 9
    if iw == 0 or ih == 0:
        raise ValueError("bad GIF image dimensions")
    if iflags & 0x40:
        raise ValueError("interlaced GIF not supported")
    ct = gct
    if iflags & 0x80:
        n = 2 << (iflags & 0x07)
        if pos + 3 * n > len(d):
            raise ValueError("truncated GIF local color table")
        ct = np.frombuffer(d, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    if ct is None:
        raise ValueError("GIF image has no color table")
    if pos >= len(d):
        raise ValueError("truncated GIF before LZW data")
    mcs = d[pos]
    pos += 1
    stream = bytearray()
    while True:
        if pos >= len(d):
            raise ValueError("truncated GIF image data")
        sz = d[pos]
        pos += 1
        if sz == 0:
            break
        if pos + sz > len(d):
            raise ValueError("truncated GIF data sub-block")
        stream += d[pos : pos + sz]
        pos += sz
    idx = _gif_lzw_decompress(bytes(stream), mcs, iw * ih)
    if int(idx.max(initial=0)) >= len(ct):
        raise ValueError("GIF pixel index outside color table")
    return ct[idx].reshape(ih, iw, 3).copy()


# ---------------------------------------------------------------------------
# magic-byte sniffing
# ---------------------------------------------------------------------------


def sniff_codec(payload: bytes | None) -> str | None:
    """'bmp' | 'wav' | 'y4m' | 'ppm' | 'au' | 'png' | 'gif' when the
    payload is one of the decodable formats, else None (codec-bound or
    unknown)."""
    if not payload:
        return None
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:8] == _PNG_MAGIC:
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:9] == b"YUV4MPEG2":
        return "y4m"
    # tuple membership, not `in b"..."`: an empty slice (payload == b"P6")
    # is a subsequence of every bytes object and would false-positive
    if payload[:2] == b"P6" and payload[2:3] in (b" ", b"\t", b"\r", b"\n", b"#"):
        return "ppm"
    if payload[:4] == b".snd":
        return "au"
    return None
