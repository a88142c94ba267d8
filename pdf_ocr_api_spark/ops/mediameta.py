"""Media METADATA probing without decoding (r5).

The multimodal table's typed metadata struct (``MEDIA_SCHEMA``:
mime/width/height/duration_ms) never needed a codec library — container
and header formats are pure ``struct`` arithmetic even when the sample
data inside is codec-bound:

* **MP4 / ISO BMFF**: box walk (32/64-bit sizes) → ``mvhd``
  timescale+duration, first video ``tkhd`` 16.16 width/height, ``stsd``
  sample-entry fourcc. The mdat payload stays opaque.
* **MP3 / MPEG audio**: ID3v2 skip (synchsafe size), then a frame-header
  walk (version/layer/bitrate/samplerate tables) summing
  samples-per-frame / samplerate — exact duration for CBR and VBR both,
  no Xing header trusted.
* The seven DECODABLE formats (``codecs.py``) get their metadata from
  their own headers via the same probe surface.

So the stub boundary moves again: MP3/MP4 *decode* remains
``NotImplementedError``, but a 100 TB media pipeline's partition/filter
columns (mime, dimensions, duration) are REAL for all nine formats.
Every malformed stream raises ValueError — the mapInPandas router
(``multimodal.media_metadata``) degrades to an all-null struct, never
kills the job.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# MP4 (ISO base media file format)
# ---------------------------------------------------------------------------

_MP4_BRANDS = (b"ftyp", b"styp")


def _mp4_boxes(d: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for the boxes in [start, end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", d, pos)
        typ = d[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack_from(">Q", d, pos + 8)
            hdr = 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"bad MP4 box size {size} for {typ!r}")
        yield typ, pos + hdr, pos + size
        pos += size


def _mp4_find(d: bytes, start: int, end: int, typ: bytes):
    for t, b, e in _mp4_boxes(d, start, end):
        if t == typ:
            return b, e
    return None


def _valueerror_only(fn):
    """Container parsers walk attacker-controlled offsets: convert the
    index/struct errors truncated bodies produce into the module's
    single failure type (callers catch ValueError, nothing else)."""
    import functools

    @functools.wraps(fn)
    def wrapped(payload):
        try:
            return fn(payload)
        except (IndexError, struct.error) as e:
            raise ValueError(f"malformed media payload: {e}") from e

    return wrapped


@_valueerror_only
def probe_mp4(payload: bytes) -> dict:
    """ISO BMFF container probe → {mime, width, height, duration_ms,
    n_tracks, codecs} — no sample data is touched."""
    d = payload
    if d is None or len(d) < 12 or d[4:8] not in _MP4_BRANDS:
        raise ValueError("not an ISO BMFF (MP4) payload")
    moov = _mp4_find(d, 0, len(d), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov box")
    ms, me = moov
    out = {
        "mime": "video/mp4", "width": None, "height": None,
        "duration_ms": None, "n_tracks": 0, "codecs": [],
    }
    mvhd = _mp4_find(d, ms, me, b"mvhd")
    if mvhd is not None:
        b, e = mvhd
        ver = d[b]
        if ver == 1:
            timescale, duration = struct.unpack_from(">IQ", d, b + 20)
            unknown = duration == 0xFFFFFFFFFFFFFFFF
        else:
            timescale, duration = struct.unpack_from(">II", d, b + 12)
            unknown = duration == 0xFFFFFFFF
        # all-ones duration is the ISO 14496-12 "unknown" sentinel
        # (fragmented/live files) — report None, not an 83-day movie
        if timescale and not unknown:
            out["duration_ms"] = int(duration * 1000 // timescale)
    for t, b, e in _mp4_boxes(d, ms, me):
        if t != b"trak":
            continue
        out["n_tracks"] += 1
        tkhd = _mp4_find(d, b, e, b"tkhd")
        if tkhd is not None:
            tb, _te = tkhd
            ver = d[tb]
            off = tb + (88 if ver == 1 else 76)
            w16, h16 = struct.unpack_from(">II", d, off)
            w, h = w16 >> 16, h16 >> 16
            if w and h and out["width"] is None:
                out["width"], out["height"] = w, h
        mdia = _mp4_find(d, b, e, b"mdia")
        if mdia is None:
            continue
        minf = _mp4_find(d, *mdia, b"minf")
        if minf is None:
            continue
        stbl = _mp4_find(d, *minf, b"stbl")
        if stbl is None:
            continue
        stsd = _mp4_find(d, *stbl, b"stsd")
        if stsd is not None:
            sb, se = stsd
            if sb + 16 <= se:
                out["codecs"].append(d[sb + 12 : sb + 16].decode("latin1"))
    return out


# ---------------------------------------------------------------------------
# MP3 (MPEG-1/2/2.5 audio frames; Layer I-III headers)
# ---------------------------------------------------------------------------

# bitrate tables, kbit/s (index 1..14; 0 = free, 15 = bad)
_BR_V1 = {
    1: [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    2: [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    3: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
}
_BR_V2 = {
    1: [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    3: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_SR = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}


def _id3v2_size(d: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent)."""
    if len(d) >= 10 and d[:3] == b"ID3":
        ss = d[6:10]
        if any(b & 0x80 for b in ss):
            raise ValueError("bad ID3v2 synchsafe size")
        size = 10 + ((ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3])
        if d[5] & 0x10:  # ID3v2.4 footer flag: 10 more bytes after the tag
            size += 10
        return size
    return 0


@_valueerror_only
def probe_mp3(payload: bytes) -> dict:
    """MPEG-audio frame walk → {mime, duration_ms, sample_rate,
    n_frames, bitrate_kbps (mean), layer, channels} without decoding.
    Walks EVERY frame (VBR-exact); trailing ID3v1 tolerated."""
    d = payload
    if d is None or len(d) < 4:
        raise ValueError("not an MPEG audio payload")
    pos = _id3v2_size(d)
    end = len(d)
    if end - pos >= 128 and d[end - 128 : end - 125] == b"TAG":
        end -= 128  # ID3v1 trailer
    n_frames = 0
    seconds = 0.0
    kbps_sum = 0
    sr_out = layer_out = ch_out = None
    while pos + 4 <= end:
        b1, b2, b3, b4 = d[pos : pos + 4]
        if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
            raise ValueError(f"lost MPEG frame sync at {pos}")
        ver = (b2 >> 3) & 3        # 0=2.5, 2=MPEG2, 3=MPEG1 (1=reserved)
        layer = 4 - ((b2 >> 1) & 3)  # 1..3; (b2>>1)&3 == 0 is reserved
        br_i = b3 >> 4
        sr_i = (b3 >> 2) & 3
        pad = (b3 >> 1) & 1
        if ver == 1 or ((b2 >> 1) & 3) == 0 or br_i in (0, 15) or sr_i == 3:
            raise ValueError("unsupported/invalid MPEG frame header")
        table = _BR_V1 if ver == 3 else _BR_V2
        kbps = table[layer][br_i]
        sr = _SR[ver][sr_i]
        if layer == 1:
            flen = (12 * kbps * 1000 // sr + pad) * 4
            spf = 384
        else:
            per = 144 if (layer == 3 and ver == 3) or layer == 2 else 72
            flen = per * kbps * 1000 // sr + pad
            spf = 1152 if layer == 2 or ver == 3 else 576
        if flen <= 4:
            raise ValueError("degenerate MPEG frame length")
        if pos + flen > end:
            raise ValueError("truncated final MPEG frame")
        n_frames += 1
        # per-frame seconds, not a shared samplerate: a concatenated
        # 22.05k+44.1k stream (naive file cat) must not be 2x off
        seconds += spf / sr
        kbps_sum += kbps
        if sr_out is None:
            sr_out, layer_out = sr, layer
            ch_out = 1 if ((b4 >> 6) & 3) == 3 else 2
        pos += flen
    if n_frames == 0:
        raise ValueError("no MPEG frames found")
    return {
        "mime": "audio/mpeg",
        "duration_ms": int(seconds * 1000),
        "sample_rate": sr_out,
        "n_frames": n_frames,
        "bitrate_kbps": kbps_sum // n_frames,
        "layer": layer_out,
        "channels": ch_out,
    }


# ---------------------------------------------------------------------------
# MP4 sample demux (r5): the container layer is pure table arithmetic
# ---------------------------------------------------------------------------
#
# ISO BMFF stores every sample's (offset, size, time) in four stbl
# tables — stts (decode deltas, run-length), stsc (samples-per-chunk
# runs), stsz (sizes), stco/co64 (chunk offsets). Walking them is plain
# struct math: DEMUX — pulling the exact frame/sample bytes out of a
# video file — needs no codec at all. Only decoding the pulled sample
# bytes into pixels (H.264/AAC) is codec-bound and stays stubbed. This
# is the real boundary a 100 TB media pipeline cares about: frame
# sampling, per-frame sharding, and sample-level dedup all run on the
# demuxed bytes without ever touching a codec.


def _stts_expand(d: bytes, b: int, e: int) -> list[int]:
    """stts body → per-sample decode times (track timescale units)."""
    (n,) = struct.unpack_from(">I", d, b + 4)
    times, t = [], 0
    pos = b + 8
    for _ in range(n):
        if pos + 8 > e:
            raise ValueError("truncated stts")
        cnt, delta = struct.unpack_from(">II", d, pos)
        if cnt > 1 << 24:
            raise ValueError("absurd stts run length")
        for _ in range(cnt):
            times.append(t)
            t += delta
        pos += 8
    return times


def _stsz_sizes(d: bytes, b: int, e: int) -> list[int]:
    uniform, count = struct.unpack_from(">II", d, b + 4)
    if count > 1 << 24:
        raise ValueError("absurd stsz count")
    if uniform:
        return [uniform] * count
    if b + 12 + 4 * count > e:
        raise ValueError("truncated stsz")
    return list(struct.unpack_from(f">{count}I", d, b + 12))


def _stsc_runs(d: bytes, b: int, e: int) -> list[tuple[int, int]]:
    """stsc body → [(first_chunk, samples_per_chunk)] runs (1-based)."""
    (n,) = struct.unpack_from(">I", d, b + 4)
    runs = []
    pos = b + 8
    for _ in range(n):
        if pos + 12 > e:
            raise ValueError("truncated stsc")
        first, spc, _sdi = struct.unpack_from(">III", d, pos)
        runs.append((first, spc))
        pos += 12
    return runs


def _chunk_offsets(d: bytes, sb: int, se: int) -> list[int]:
    stco = _mp4_find(d, sb, se, b"stco")
    if stco is not None:
        b, e = stco
        (n,) = struct.unpack_from(">I", d, b + 4)
        if b + 8 + 4 * n > e:
            raise ValueError("truncated stco")
        return list(struct.unpack_from(f">{n}I", d, b + 8))
    co64 = _mp4_find(d, sb, se, b"co64")
    if co64 is None:
        raise ValueError("MP4 track missing stco/co64")
    b, e = co64
    (n,) = struct.unpack_from(">I", d, b + 4)
    if b + 8 + 8 * n > e:
        raise ValueError("truncated co64")
    return list(struct.unpack_from(f">{n}Q", d, b + 8))


@_valueerror_only
def demux_mp4(payload: bytes) -> list[dict]:
    """Full container demux: every track's samples as real byte slices.

    Returns one dict per track: ``{handler, codec, timescale, samples}``
    where ``samples`` is a list of ``{idx, offset, size, time, time_ms,
    data}`` — ``data`` being the EXACT sample bytes from mdat, resolved
    through stsc/stco/stsz, with decode times expanded from stts. Every
    table inconsistency (sample count mismatch, range outside the
    payload, truncated table) raises ValueError."""
    d = payload
    if d is None or len(d) < 12 or d[4:8] not in _MP4_BRANDS:
        raise ValueError("not an ISO BMFF (MP4) payload")
    moov = _mp4_find(d, 0, len(d), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov box")
    tracks = []
    for t, tb, te in _mp4_boxes(d, *moov):
        if t != b"trak":
            continue
        mdia = _mp4_find(d, tb, te, b"mdia")
        if mdia is None:
            raise ValueError("MP4 trak missing mdia")
        mdhd = _mp4_find(d, *mdia, b"mdhd")
        if mdhd is None:
            raise ValueError("MP4 trak missing mdhd")
        mb, _me = mdhd
        ver = d[mb]
        timescale = struct.unpack_from(">I", d, mb + (20 if ver == 1 else 12))[0]
        hdlr = _mp4_find(d, *mdia, b"hdlr")
        handler = d[hdlr[0] + 8 : hdlr[0] + 12].decode("latin1") if hdlr else "????"
        minf = _mp4_find(d, *mdia, b"minf")
        if minf is None:
            raise ValueError("MP4 trak missing minf")
        stbl = _mp4_find(d, *minf, b"stbl")
        if stbl is None:
            raise ValueError("MP4 trak missing stbl")
        sb, se = stbl
        stsd = _mp4_find(d, sb, se, b"stsd")
        codec = d[stsd[0] + 12 : stsd[0] + 16].decode("latin1") if stsd else "????"
        stts = _mp4_find(d, sb, se, b"stts")
        stsz = _mp4_find(d, sb, se, b"stsz")
        stsc = _mp4_find(d, sb, se, b"stsc")
        if stts is None or stsz is None or stsc is None:
            raise ValueError("MP4 stbl missing stts/stsz/stsc")
        times = _stts_expand(d, *stts)
        sizes = _stsz_sizes(d, *stsz)
        runs = _stsc_runs(d, *stsc)
        offsets = _chunk_offsets(d, sb, se)
        if len(times) != len(sizes):
            raise ValueError(
                f"stts/stsz sample count mismatch ({len(times)} vs {len(sizes)})"
            )
        if not runs or runs[0][0] != 1:
            raise ValueError("stsc must start at chunk 1")
        # expand stsc runs across the stco chunk list → per-sample ranges
        samples, si = [], 0
        for ci, chunk_off in enumerate(offsets, start=1):
            spc = 0
            for first, run_spc in runs:
                if first <= ci:
                    spc = run_spc
                else:
                    break
            pos = chunk_off
            for _ in range(spc):
                if si >= len(sizes):
                    raise ValueError("stsc maps more samples than stsz declares")
                size = sizes[si]
                if pos + size > len(d):
                    raise ValueError("MP4 sample range outside payload")
                samples.append(
                    {
                        "idx": si,
                        "offset": pos,
                        "size": size,
                        "time": times[si],
                        "time_ms": int(times[si] * 1000 // timescale) if timescale else 0,
                        "data": d[pos : pos + size],
                    }
                )
                pos += size
                si += 1
        if si != len(sizes):
            raise ValueError(
                f"chunk tables map {si} samples, stsz declares {len(sizes)}"
            )
        tracks.append(
            {"handler": handler, "codec": codec, "timescale": timescale, "samples": samples}
        )
    if not tracks:
        raise ValueError("MP4 has no tracks")
    return tracks


def mp4_track_samples(payload: bytes, handler: str = "vide") -> list[dict]:
    """Samples of the first track with the given handler ('vide'/'soun');
    ValueError when no such track exists."""
    for tr in demux_mp4(payload):
        if tr["handler"] == handler:
            return tr["samples"]
    raise ValueError(f"MP4 has no '{handler}' track")


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _fbox(typ: bytes, ver: int, flags: int, body: bytes) -> bytes:
    return _box(typ, struct.pack(">I", (ver << 24) | flags) + body)


def _rle(vals: list[int]) -> list[tuple[int, int]]:
    runs: list[tuple[int, int]] = []
    for v in vals:
        if runs and runs[-1][1] == v:
            runs[-1] = (runs[-1][0] + 1, v)
        else:
            runs.append((1, v))
    return runs


def mux_mp4(tracks: list[dict], movie_timescale: int = 1000) -> bytes:
    """Minimal ISO BMFF muxer — the deterministic fixture builder the
    demux tests drive. Each track dict:
    ``{handler: 'vide'|'soun', codec: 4-char fourcc, timescale,
    samples: [bytes], deltas: [int], samples_per_chunk: [int],
    width?, height?}``. Writes ftyp + mdat + moov with real stts/stsc/
    stsz/stco tables (run-length-compressed where the format does), so a
    round-trip exercises the same table arithmetic a camera file does.
    """
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    # mdat layout: chunks in track order; remember absolute offsets
    mdat_body = bytearray()
    chunk_offs: list[list[int]] = []
    mdat_start = len(ftyp) + 8
    for tr in tracks:
        samples, spcs = tr["samples"], tr["samples_per_chunk"]
        if sum(spcs) != len(samples):
            raise ValueError("samples_per_chunk must sum to len(samples)")
        offs, si = [], 0
        for spc in spcs:
            offs.append(mdat_start + len(mdat_body))
            for _ in range(spc):
                mdat_body += samples[si]
                si += 1
        chunk_offs.append(offs)
    mdat = _box(b"mdat", bytes(mdat_body))

    traks = b""
    max_dur_movie = 0
    for tid, tr in enumerate(tracks, start=1):
        ts, deltas = tr["timescale"], tr["deltas"]
        dur = sum(deltas)
        dur_movie = dur * movie_timescale // max(ts, 1)
        max_dur_movie = max(max_dur_movie, dur_movie)
        w, h = tr.get("width", 0), tr.get("height", 0)
        tkhd = _fbox(
            b"tkhd",
            0,
            7,  # enabled | in_movie | in_preview
            struct.pack(">II", 0, 0)  # times
            + struct.pack(">I", tid)
            + b"\x00" * 4
            + struct.pack(">I", dur_movie)
            + b"\x00" * 8  # reserved
            + struct.pack(">hhhh", 0, 0, 0, 0)  # layer/group/volume/pad
            + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _fbox(
            b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, ts, dur, 0x55C4, 0)
        )
        hdlr = _fbox(
            b"hdlr",
            0,
            0,
            b"\x00" * 4 + tr["handler"].encode("latin1") + b"\x00" * 12 + b"mux\x00",
        )
        if tr["handler"] == "vide":
            mhd = _fbox(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
            entry_body = (
                b"\x00" * 6
                + struct.pack(">H", 1)  # data_ref_index
                + b"\x00" * 16
                + struct.pack(">HH", w, h)
                + struct.pack(">II", 0x480000, 0x480000)
                + b"\x00" * 4
                + struct.pack(">H", 1)
                + b"\x00" * 32
                + struct.pack(">H", 0x18)
                + struct.pack(">h", -1)
            )
        else:
            mhd = _fbox(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
            entry_body = (
                b"\x00" * 6
                + struct.pack(">H", 1)
                + b"\x00" * 8
                + struct.pack(">HHI", 2, 16, 0)
                + struct.pack(">I", tr["timescale"] << 16)
            )
        stsd = _fbox(
            b"stsd",
            0,
            0,
            struct.pack(">I", 1) + _box(tr["codec"].encode("latin1"), entry_body),
        )
        stts_runs = _rle(deltas)
        stts = _fbox(
            b"stts",
            0,
            0,
            struct.pack(">I", len(stts_runs))
            + b"".join(struct.pack(">II", c, v) for c, v in stts_runs),
        )
        # stsc: collapse consecutive equal samples-per-chunk into runs
        spc_runs: list[tuple[int, int]] = []
        for ci, spc in enumerate(tr["samples_per_chunk"], start=1):
            if spc_runs and spc_runs[-1][1] == spc:
                continue
            spc_runs.append((ci, spc))
        stsc = _fbox(
            b"stsc",
            0,
            0,
            struct.pack(">I", len(spc_runs))
            + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in spc_runs),
        )
        sizes = [len(s) for s in tr["samples"]]
        uniform = sizes and all(s == sizes[0] for s in sizes)
        stsz = _fbox(
            b"stsz",
            0,
            0,
            struct.pack(">II", sizes[0] if uniform else 0, len(sizes))
            + (b"" if uniform else b"".join(struct.pack(">I", s) for s in sizes)),
        )
        stco = _fbox(
            b"stco",
            0,
            0,
            struct.pack(">I", len(chunk_offs[tid - 1]))
            + b"".join(struct.pack(">I", o) for o in chunk_offs[tid - 1]),
        )
        dinf = _box(
            b"dinf",
            _fbox(b"dref", 0, 0, struct.pack(">I", 1) + _fbox(b"url ", 0, 1, b"")),
        )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", mhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        traks += _box(b"trak", tkhd + mdia)
    mvhd = _fbox(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, movie_timescale, max_dur_movie)
        + struct.pack(">IH", 0x10000, 0x100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),
    )
    moov = _box(b"moov", mvhd + traks)
    return ftyp + mdat + moov


# ---------------------------------------------------------------------------
# unified probe over all known formats
# ---------------------------------------------------------------------------


def _png_dims(d: bytes) -> tuple[int, int]:
    """PNG dimensions from IHDR alone (the spec pins IHDR as the first
    chunk) — no inflate, no unfilter."""
    if len(d) < 24 or d[12:16] != b"IHDR":
        raise ValueError("PNG missing leading IHDR")
    w, h = struct.unpack_from(">II", d, 16)
    if w <= 0 or h <= 0:
        raise ValueError("bad PNG dimensions")
    return w, h


def _y4m_meta(d: bytes) -> tuple[int, int, int, int]:
    """Y4M (w, h, fps, n_frames) by a FRAME-marker walk — fixed stride
    per frame, zero plane materialization (decode_y4m would allocate
    every luma plane just to be counted)."""
    nl = d.index(b"\n")
    header = d[:nl].decode("ascii", "replace").split(" ")
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
    frame_n = w * h + 2 * ((w // 2) * (h // 2))
    n = 0
    pos = nl + 1
    while pos < len(d):
        fe = d.index(b"\n", pos)
        if not d[pos:fe].startswith(b"FRAME"):
            raise ValueError("Y4M frame marker missing")
        if fe + 1 + frame_n > len(d):
            raise ValueError("truncated Y4M frame")
        n += 1
        pos = fe + 1 + frame_n
    return w, h, fps, n


def probe_media(payload: bytes) -> dict:
    """One probe for the MEDIA_SCHEMA meta struct: {mime, width, height,
    duration_ms} for every format this engine knows. A probe is
    HEADER-ONLY wherever the format allows: PNG/GIF dimensions come
    from IHDR/the logical-screen descriptor without inflating anything
    (decoding compressed rasters just to read a width would make the
    metadata pass as expensive as the decode pass at 100 TB); BMP/PPM/
    WAV/AU/Y4M 'decodes' are header parses over zero-copy views and are
    used as-is; MP4/MP3 are container/frame-walk derived with sample
    data untouched. ValueError for unknown/corrupt payloads (callers
    degrade) — index/struct errors from truncated container bodies are
    CONVERTED (the metadata UDF catches only ValueError; a leaked
    struct.error from one corrupt MP4 row would kill the job, the r5
    review finding)."""
    try:
        return _probe_media_impl(payload)
    except (IndexError, struct.error) as e:
        raise ValueError(f"malformed media payload: {e}") from e


def _probe_media_impl(payload: bytes) -> dict:
    from . import codecs

    d = payload
    if not d:
        raise ValueError("empty payload")
    meta = {"mime": None, "width": None, "height": None, "duration_ms": None}
    kind = codecs.sniff_codec(d)
    if kind in ("png", "gif"):
        if kind == "gif":
            # logical-screen descriptor alone — no LZW touched
            w, h = struct.unpack_from("<HH", d, 6)
            if w <= 0 or h <= 0:
                raise ValueError("bad GIF dimensions")
        else:
            w, h = _png_dims(d)
        meta.update(mime=f"image/{kind}", width=w, height=h)
        return meta
    if kind in ("bmp", "ppm"):
        img = codecs.decode_bmp(d) if kind == "bmp" else codecs.decode_ppm(d)
        meta.update(mime=f"image/{kind}", width=img.shape[1], height=img.shape[0])
        return meta
    if kind in ("wav", "au"):
        samples, rate = codecs.decode_wav(d) if kind == "wav" else codecs.decode_au(d)
        mime = "audio/wav" if kind == "wav" else "audio/basic"
        meta.update(mime=mime, duration_ms=int(len(samples) * 1000 / max(rate, 1)))
        return meta
    if kind == "y4m":
        w, h, fps, n_frames = _y4m_meta(d)
        meta.update(
            mime="video/x-yuv4mpeg", width=w, height=h,
            duration_ms=int(n_frames * 1000 / max(fps, 1)),
        )
        return meta
    if len(d) >= 12 and d[4:8] in _MP4_BRANDS:
        p = probe_mp4(d)
        meta.update(
            mime=p["mime"], width=p["width"], height=p["height"],
            duration_ms=p["duration_ms"],
        )
        return meta
    if d[:3] == b"ID3" or (len(d) >= 2 and d[0] == 0xFF and (d[1] & 0xE0) == 0xE0):
        p = probe_mp3(d)
        meta.update(mime=p["mime"], duration_ms=p["duration_ms"])
        return meta
    raise ValueError("unknown media format")
