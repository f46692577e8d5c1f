"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns; decode and hashing run as
Arrow-batched ``mapInPandas`` stages. One codec-free decode stack
serves every media query: ``decode_gray_milli`` turns 8-bit PNG
(including Adam7), GIF (including interlaced), baseline and
progressive JPEG, PPM and 24bpp BMP into an integer milli-luma pixel
matrix; ``_wav_samples_int`` turns PCM WAV into integer samples; and
Motion-JPEG video frames (AVI / MOV sample tables, ``_mjpeg_frames``)
go through the same JPEG decoder. Other codecs return None and the
row's hash is null.

- media bytes never pass through Python row-at-a-time — Arrow batches
  only (mapInPandas);
- decode output is a fixed-width integer hash, so downstream is
  ordinary relational processing and only 8-byte hashes shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_data_anomaly_detection_spark.plans.inspect import (
    broadcast_if_small,
    materialize,
    sort_past_boundary,
)


def _ppm_pixels(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Codec-free binary PPM (P6) pixel extraction with numpy alone:
    (height, width, rgb uint8 [h*w, 3]) in row-major top-down order."""
    if payload[:2] != b"P6":
        return None
    # Header: "P6" <ws> width <ws> height <ws> maxval <single ws> pixels.
    # '#' comments run to end of line.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        return None  # 16-bit-per-sample PPM: out of scope for the builtin
    n = width * height * 3
    rgb = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos).reshape(-1, 3)
    return height, width, rgb


def _png_unfilter(
    raw: np.ndarray, height: int, row_bytes: int, bpp: int
) -> np.ndarray | None:
    """Reverse PNG scanline filters (spec §9: None/Sub/Up/Average/
    Paeth). Up is vectorized; Sub/Average/Paeth carry an intra-row
    pixel dependency, so those rows run per-byte — fine for the
    fixture-sized images this builtin targets."""
    out = np.zeros((height, row_bytes), dtype=np.uint16)
    pos = 0
    for r in range(height):
        ftype = int(raw[pos])
        line = raw[pos + 1 : pos + 1 + row_bytes].astype(np.uint16)
        pos += 1 + row_bytes
        prev = out[r - 1] if r else np.zeros(row_bytes, dtype=np.uint16)
        if ftype == 0:
            out[r] = line
        elif ftype == 2:  # Up
            out[r] = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = out[r]
            for x in range(row_bytes):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if ftype == 1:  # Sub
                    pred = a
                elif ftype == 3:  # Average
                    pred = (a + b) >> 1
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            return None
    return out


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per PNG spec §8.2.
_ADAM7_PASSES = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _png_pixels(payload: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """Codec-free PNG pixel extraction (stdlib zlib + numpy unfilter),
    8-bit gray / gray+alpha / RGB / RGBA / paletted, non-interlaced
    AND Adam7 interlaced (seven independently-filtered
    sub-images scattered back on the pass grid; paletted indices map
    through PLTE after unfiltering): (height, width, channels,
    px uint8 [h*w, channels]) top-down row-major. 16-bit falls
    through (None)."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    import zlib

    ihdr, idat, plte, pos = None, [], None, 8
    while pos + 8 <= len(payload):
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # 4 length + 4 type + data + 4 CRC
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IEND":
            break
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if bit_depth != 8 or channels is None or interlace not in (0, 1):
        return None
    if color_type == 3 and plte is None:
        return None

    def _finish(flat: np.ndarray):
        if color_type == 3:  # palette lookup AFTER unfiltering
            rgb = plte[flat.reshape(-1).astype(np.int64) % len(plte)]
            return height, width, 3, rgb
        return height, width, channels, flat.reshape(
            height * width, channels
        )

    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if interlace == 0:
        row_bytes = width * channels
        if raw.size != height * (row_bytes + 1):
            return None
        recon = _png_unfilter(raw, height, row_bytes, channels)
        if recon is None:
            return None
        return _finish(recon)
    # Adam7: each pass is an independent sub-image (its own filter
    # bytes, its own left/up neighbors); empty passes emit NO bytes.
    out = np.zeros((height, width, channels), dtype=np.uint16)
    pos = 0
    for x0, y0, xs, ys in _ADAM7_PASSES:
        pw = (width - x0 + xs - 1) // xs
        ph = (height - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        rb = pw * channels
        need = ph * (rb + 1)
        sub = raw[pos : pos + need]
        if sub.size != need:
            return None
        pos += need
        rec = _png_unfilter(sub, ph, rb, channels)
        if rec is None:
            return None
        out[y0::ys, x0::xs, :] = rec.reshape(ph, pw, channels)
    if pos != raw.size:
        return None
    return _finish(out)


def _gif_lzw_decode(min_code_size: int, data: bytes) -> list[int] | None:
    """GIF-variant LZW decode (LSB-first packed codes, clear/EOI
    codes, width growth at table-full, 12-bit cap)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits:
        # one ≤12-bit LSB-first code per 3-byte window (the JPEG LUT
        # discipline): the loop guard guarantees the code's
        # bits are in range, and little-endian from_bytes of a short
        # tail slice zero-fills only bytes PAST them
        b = bitpos >> 3
        code = (
            int.from_bytes(data[b : b + 3], "little") >> (bitpos & 7)
        ) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table) or not table[code]:
                return None
            entry = table[code]
        else:
            if code < len(table) and table[code]:
                entry = table[code]
            elif code == len(table):
                entry = prev + [prev[0]]  # the KwKwK case
            else:
                return None
            table.append(prev + [entry[0]])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        out.extend(entry)
        prev = entry
    return out


def _gif_pixels(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Codec-free GIF pixel extraction (87a/89a, first frame,
    interlaced or not — the four-pass row deinterlace):
    (height, width, rgb uint8 [h*w, 3]) top-down row-major."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos).reshape(
            -1, 3
        )
        pos += n
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            width = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            height = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:  # local color table
                n = 3 * (2 << (ipacked & 0x07))
                ct = np.frombuffer(
                    payload, dtype=np.uint8, count=n, offset=pos
                ).reshape(-1, 3)
                pos += n
            if ct is None:  # no palette anywhere
                return None
            min_code_size = payload[pos]
            pos += 1
            chunks = []
            while payload[pos] != 0:
                ln = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = _gif_lzw_decode(min_code_size, b"".join(chunks))
            if idx is None or len(idx) < width * height:
                return None
            px = ct[np.asarray(idx[: width * height]) % len(ct)]
            if ipacked & 0x40:  # interlaced: rows stored in 4 passes
                stored = px.reshape(height, width, 3)
                order = (
                    list(range(0, height, 8))
                    + list(range(4, height, 8))
                    + list(range(2, height, 4))
                    + list(range(1, height, 2))
                )
                display = np.zeros_like(stored)
                display[np.asarray(order)] = stored
                px = display.reshape(height * width, 3)
            return height, width, px
        elif block == 0x3B:
            break
        else:
            return None
    return None


# --- Baseline JPEG (JFIF) decode, codec-free -------------------------------
#
# Entropy decode + inverse transform in numpy/stdlib. Scope: baseline
# DCT (SOF0/SOF1) and progressive (SOF2 — spectral selection +
# successive approximation, _jpeg_decode_progressive); 8-bit, Huffman;
# arithmetic coding and 12-bit return None. Hashing needs only LUMA:
# the JPEG Y component IS the ITU-R 601 luma decode_gray_milli
# computes for RGB formats, so chroma blocks are Huffman-decoded (the
# bitstream must advance) but their coefficients are discarded — no
# upsampling/color-convert work.

_JPEG_ZIGZAG = np.array(
    [
         0,  1,  8, 16,  9,  2,  3, 10,
        17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# Orthonormal 8x8 DCT-II basis: pixels = C.T @ coefs @ C.
_DCT_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


# LUT cache keyed by the DHT payload (counts, values) — MJPEG streams
# repeat the identical table definitions on every frame, so across a
# corpus the 64Ki-entry build is paid once per DISTINCT table, not per
# frame. Bounded: cleared wholesale at 64 entries (a stream defines at
# most 8 table slots; 64 distinct definitions means a pathological mix
# and a rebuild is cheaper than an unbounded cache).
_HUFF_LUT_CACHE: dict[tuple[bytes, bytes], list[int]] = {}


def _jpeg_build_huff(counts: list[int], values: bytes) -> list[int]:
    """Canonical JPEG Huffman table as a 16-bit-window LUT: entry
    ``lut[w]`` for every 16-bit window ``w`` is ``(symbol << 5) | code_length`` of the unique code that
    prefixes ``w`` (prefix-freedom makes the fill ranges disjoint), 0
    where no code ≤16 bits matches. One list index replaces the
    per-bit walk + dict probe of the previous decoder — same canonical
    assignment (T.81 C.2), same symbols, integer domain only, so the
    decoded stream is bit-identical."""
    key = (bytes(counts), bytes(values))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is not None:
        return lut
    arr = np.zeros(1 << 16, dtype=np.int32)
    code, k = 0, 0
    for length in range(1, 17):
        span = 1 << (16 - length)
        for _ in range(counts[length - 1]):
            base = code << (16 - length)
            if base + span <= (1 << 16):  # malformed over-long tables
                arr[base : base + span] = (values[k] << 5) | length
            code += 1
            k += 1
        code <<= 1
    lut = arr.tolist()  # plain-list indexing beats ndarray scalar get
    if len(_HUFF_LUT_CACHE) >= 64:
        _HUFF_LUT_CACHE.clear()
    _HUFF_LUT_CACHE[key] = lut
    return lut


class _JpegBits:
    """MSB-first bit reader over an entropy-coded segment (0xFF00
    byte-stuffing removed by the caller). read_huff/read_bits extract
    whole windows via int.from_bytes instead of per-bit loops —
    tools/decode_ladder.py measured the per-bit walk at ~48% of frame
    cost. Semantics are unchanged: EOFError exactly when a consumed
    bit would pass the end of data, ValueError when no code matches."""

    def __init__(self, data: bytes):
        self.data = data
        # zero-padded so window extraction never handles a short slice;
        # padding past end-of-data is safe: the prefix property means
        # any code fully inside the real bits matches identically, and
        # a match that needed padded bits fails the nbits check with
        # the same EOFError the per-bit walk raised.
        self.buf = data + b"\x00\x00\x00\x00"
        self.nbits = len(data) << 3
        self.pos = 0  # bit position

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self.nbits:
            raise EOFError
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if n > 16:
            # only reachable through a malformed DHT whose symbol (a
            # raw byte) exceeds JPEG's real category range; keep the
            # per-bit walk so behavior on hostile input is IDENTICAL
            # to the pre-LUT decoder (the 4-byte window below covers
            # (pos&7)+n ≤ 23 bits only)
            v = 0
            for _ in range(n):
                v = (v << 1) | self.read_bit()
            return v
        pos = self.pos
        end = pos + n
        if end > self.nbits:
            raise EOFError
        self.pos = end
        window = int.from_bytes(self.buf[pos >> 3 : (pos >> 3) + 4], "big")
        return (window >> (32 - (pos & 7) - n)) & ((1 << n) - 1)

    def read_huff(self, table: list[int]) -> int:
        pos = self.pos
        b = pos >> 3
        window = int.from_bytes(self.buf[b : b + 3], "big")
        ent = table[(window >> (8 - (pos & 7))) & 0xFFFF]
        length = ent & 31
        if length == 0:
            raise ValueError("invalid Huffman code")
        pos += length
        if pos > self.nbits:
            raise EOFError
        self.pos = pos
        return ent >> 5


def _jpeg_extend(v: int, t: int) -> int:
    """DC/AC magnitude-category decode (ITU T.81 F.2.2.1 EXTEND)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _entropy_segments(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy-coded data into restart segments
    (0xFF00 unstuffed, split at RSTn); returns (segments, index of the
    0xFF byte of the marker that terminated the scan, or len(payload)).

    Jumps between 0xFF occurrences with bulk slice copies:
    entropy bytes are overwhelmingly non-FF (stuffing exists precisely
    because FF is rare), so bytes.find + extend replaces the per-byte
    Python walk at identical semantics — including the lone trailing
    0xFF, which is data (no room for a marker id), exactly as the
    byte-walk's ``i + 1 < n`` guard treated it."""
    segments: list[bytes] = []
    cur = bytearray()
    i, n = start, len(payload)
    while i < n:
        j = payload.find(b"\xff", i)
        if j == -1:
            cur.extend(payload[i:])
            i = n
            break
        cur.extend(payload[i:j])
        if j + 1 >= n:  # trailing lone 0xFF is data, ends the walk
            cur.append(0xFF)
            i = n
            break
        nxt = payload[j + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            i = j + 2
            continue
        if 0xD0 <= nxt <= 0xD7:  # RSTn: segment boundary
            segments.append(bytes(cur))
            cur = bytearray()
            i = j + 2
            continue
        i = j
        break  # any other marker ends the scan
    segments.append(bytes(cur))
    return segments, i


def _jpeg_gray_pixels(payload: bytes) -> np.ndarray | None:
    """Codec-free JPEG luma-plane decode: marker parse + canonical
    Huffman + dequant + inverse zigzag + numpy IDCT. Handles BASELINE
    (SOF0/1, single scan) and PROGRESSIVE (SOF2 — spectral
    selection, successive approximation with DC/AC first and refine
    passes, EOBRUN, per-scan Huffman redefinitions, restart
    intervals). Returns the gray pixel MATRIX (h×w, 0-255), or None
    for 12-bit, lossless, or arithmetic-coded streams."""
    if payload[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    progressive = False
    scans: list[dict] = []
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        seg = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(
                        np.int32
                    )
                    p += 64
                else:
                    tbl = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                qt[tq] = tbl
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if seg[0] != 8:  # 12-bit precision unsupported
                return None
            progressive = marker == 0xC2
            height = int.from_bytes(seg[1:3], "big")
            width = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = [
                {
                    "id": seg[6 + 3 * c],
                    "h": seg[7 + 3 * c] >> 4,
                    "v": seg[7 + 3 * c] & 0xF,
                    "tq": seg[8 + 3 * c],
                }
                for c in range(ncomp)
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # lossless/arithmetic: not decoded
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                counts = list(seg[p + 1 : p + 17])
                nvals = sum(counts)
                huff[(tc, th)] = _jpeg_build_huff(
                    counts, seg[p + 17 : p + 17 + nvals]
                )
                p += 17 + nvals
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            ns = seg[0]
            scan = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next(cc for cc in comps if cc["id"] == cid)
                scan.append({**comp, "td": tt >> 4, "ta": tt & 0xF})
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            data_start = i + 2 + seg_len
            if not progressive:
                return _jpeg_decode_scan(
                    payload, data_start, scan, qt, huff, width, height,
                    restart_interval,
                )
            segments, nxt = _entropy_segments(payload, data_start)
            scans.append(
                {
                    "comps": scan,
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0xF,
                    "segments": segments,
                    "huff": dict(huff),  # tables as of THIS scan
                    "ri": restart_interval,
                }
            )
            i = nxt
            continue
        i += 2 + seg_len
    if progressive and scans:
        return _jpeg_decode_progressive(scans, qt, comps, width, height)
    return None


def _jpeg_decode_scan(
    payload: bytes,
    start: int,
    scan: list[dict],
    qt: dict,
    huff: dict,
    width: int,
    height: int,
    restart_interval: int,
) -> np.ndarray | None:
    segments, _ = _entropy_segments(payload, start)

    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    luma = scan[0]
    lw, lh = mcus_x * 8 * luma["h"], mcus_y * 8 * luma["v"]
    plane = np.zeros((lh, lw), dtype=np.float64)

    # Entropy-decode collects the luma blocks' NONZERO coefficients as
    # flat (block, slot, value) triples — RLE sparsity means a handful
    # per block — then dequant + inverse zigzag + IDCT run ONCE batched
    # after the loop (the per-block np.zeros/scatter/8×8-
    # matmul calls were ~43% of frame cost; broadcast (n,8,8) @ (8,8)
    # matmul is verified bit-identical to the per-block product on
    # this BLAS, and everything upstream of the matmul is
    # integer-exact).
    #
    # The symbol loop is fully inlined: ONE
    # 40-bit window read per symbol serves both the 16-bit LUT lookup
    # and the value bits that follow the code — worst case
    # 7 (byte offset) + 16 (code) + 15 (AC size) / 17 (DC category
    # fast path) = 38/40 bits, so the fused extract never needs a
    # second int.from_bytes. Failure semantics are the _JpegBits
    # reader's exactly: abort (None) when a consumed bit would pass
    # end-of-data, when no table entry prefixes the window, or when a
    # run passes slot 63; DC categories past the fused window (only
    # reachable via a malformed DHT's raw-byte symbol > 17) take the
    # same per-bit walk read_bits kept for widths past ITS window.
    comp_tabs = [
        (ci, comp, huff[(0, comp["td"])], huff[(1, comp["ta"])])
        for ci, comp in enumerate(scan)
    ]
    # DPCM predictors keyed by component ID, as the dict version was —
    # a malformed scan listing one id twice must SHARE its predictor
    ids: list[int] = []
    for c in scan:
        if c["id"] not in ids:
            ids.append(c["id"])
    flat_tabs = [
        (ci == 0, ids.index(comp["id"]), comp["h"] * comp["v"], dc, ac)
        for ci, comp, dc, ac in comp_tabs
    ]
    npred = len(ids)
    nzi: list[int] = []  # luma block ordinal << 6 | zigzag slot
    nzv: list[int] = []  # coefficient
    ai, av = nzi.append, nzv.append

    def _windows(seg: bytes) -> tuple[bytes, list[int], int]:
        # per-byte 40-bit big-endian windows, built once per segment
        # with numpy: symbol decode then costs ONE list index instead
        # of a bytes slice + int.from_bytes per symbol
        buf = seg + b"\x00\x00\x00\x00\x00\x00"
        u = np.frombuffer(buf, dtype=np.uint8).astype(np.uint64)
        win = (
            (u[:-4] << np.uint64(32))
            | (u[1:-3] << np.uint64(24))
            | (u[2:-2] << np.uint64(16))
            | (u[3:-1] << np.uint64(8))
            | u[4:]
        )
        return buf, win.tolist(), len(seg) << 3

    buf, win, nbits = _windows(segments[0])
    pos = 0
    seg_idx = 0
    preds = [0] * npred
    nluma = 0
    bi = 0
    try:
        for mcu in range(mcus_x * mcus_y):
            if restart_interval and mcu and mcu % restart_interval == 0:
                seg_idx += 1
                buf, win, nbits = _windows(segments[seg_idx])
                pos = 0
                preds = [0] * npred
            for luma_blk, pi, nblk, dc_tab, ac_tab in flat_tabs:
                for _ in range(nblk):
                    # ---- DC: code + category bits from one window
                    shift = 40 - (pos & 7)
                    window = win[pos >> 3]
                    ent = dc_tab[(window >> (shift - 16)) & 0xFFFF]
                    length = ent & 31
                    if length == 0:
                        return None  # no code prefixes the window
                    t = ent >> 5
                    pos += length
                    if pos > nbits:
                        return None  # code needed padding bits
                    if t:
                        if t <= 17:
                            if pos + t > nbits:
                                return None
                            v = (window >> (shift - length - t)) & (
                                (1 << t) - 1
                            )
                            pos += t
                        else:  # hostile-DHT width: per-bit walk
                            v = 0
                            for _ in range(t):
                                if pos >= nbits:
                                    return None
                                v = (v << 1) | (
                                    (buf[pos >> 3] >> (7 - (pos & 7))) & 1
                                )
                                pos += 1
                        if v < (1 << (t - 1)):  # EXTEND (T.81 F.2.2.1)
                            v += 1 - (1 << t)
                        preds[pi] += v
                    if luma_blk:
                        bi = nluma << 6
                        nluma += 1
                        if preds[pi]:
                            ai(bi)
                            av(preds[pi])
                    # ---- AC: run of (runlength, size) symbols
                    k = 1
                    while k < 64:
                        shift = 40 - (pos & 7)
                        window = win[pos >> 3]
                        ent = ac_tab[(window >> (shift - 16)) & 0xFFFF]
                        length = ent & 31
                        if length == 0:
                            return None
                        rs = ent >> 5
                        pos += length
                        if pos > nbits:
                            return None
                        s = rs & 15
                        if s == 0:
                            if rs == 0xF0:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            return None
                        if pos + s > nbits:
                            return None
                        v = (window >> (shift - length - s)) & ((1 << s) - 1)
                        pos += s
                        if v < (1 << (s - 1)):  # EXTEND
                            v += 1 - (1 << s)
                        if luma_blk:
                            ai(bi | k)
                            av(v)
                        k += 1
    except (EOFError, IndexError, KeyError, StopIteration, ValueError):
        return None
    if nluma:
        deq = np.zeros((nluma, 64), dtype=np.int32)
        if nzv:
            deq.reshape(-1)[nzi] = np.array(nzv, dtype=np.int32)
        deq *= qt[luma["tq"]]
        blks = np.zeros((nluma, 64), dtype=np.float64)
        blks[:, _JPEG_ZIGZAG] = deq
        px = _DCT_C.T @ blks.reshape(-1, 8, 8) @ _DCT_C + 128.0
        # block ordinal → plane offset, vectorized: luma blocks were
        # appended in (mcu row-major, by, bx) order
        h_l, v_l = luma["h"], luma["v"]
        mcu_i, within = np.divmod(np.arange(nluma), h_l * v_l)
        my, mx = np.divmod(mcu_i, mcus_x)
        by, bx = np.divmod(within, h_l)
        y0 = (my * v_l + by) * 8
        x0 = (mx * h_l + bx) * 8
        plane[
            y0[:, None, None] + np.arange(8)[None, :, None],
            x0[:, None, None] + np.arange(8)[None, None, :],
        ] = px
    # luma plane is stored at luma resolution; crop to image size scaled
    # by the luma sampling factor (luma h==hmax, v==vmax in practice)
    crop_w = -(-width * luma["h"] // hmax)
    crop_h = -(-height * luma["v"] // vmax)
    return np.clip(np.round(plane[:crop_h, :crop_w]), 0, 255)


def _jpeg_decode_progressive(
    scans: list[dict],
    qt: dict,
    comps: list[dict],
    width: int,
    height: int,
) -> np.ndarray | None:
    """Progressive (SOF2) coefficient accumulation across scans, then
    one dequant + IDCT of the luma plane. Per-pass semantics follow
    ITU T.81 §G.2 exactly as libjpeg implements them (jdphuff.c):

    - DC first  (Ss=0, Ah=0): DPCM magnitude decode, value << Al.
    - DC refine (Ss=0, Ah>0): one raw bit per block, OR-ed at Al.
    - AC first  (Ss>0, Ah=0): band [Ss, Se], run/size with EOB RUNS —
      (r<15, s=0) ends (1<<r)+bits(r) blocks including this one.
    - AC refine (Ss>0, Ah>0): new coefficients appear as ±(1<<Al);
      every already-nonzero coefficient passed over consumes one
      correction bit that may grow its magnitude by (1<<Al); EOBRUN
      blocks still consume correction bits for their nonzero history.

    Interleaved scans (ns>1 — DC only) walk MCU order; single-
    component scans walk the component's OWN block raster (its used
    blocks, not the MCU-padded grid). Restart intervals reset DC
    predictors and EOBRUN per segment, counting MCUs or blocks
    respectively. Chroma scans are decoded too (their bits must be
    consumed to keep per-scan state honest) but only luma is
    reconstructed."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    coefs: dict[int, np.ndarray] = {}
    used: dict[int, tuple[int, int]] = {}
    for c in comps:
        bw_full, bh_full = mcus_x * c["h"], mcus_y * c["v"]
        coefs[c["id"]] = np.zeros((bh_full, bw_full, 64), dtype=np.int32)
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        used[c["id"]] = (-(-ch // 8), -(-cw // 8))

    def dc_first(bits, blk, comp, preds, al, huffs):
        t = bits.read_huff(huffs[(0, comp["td"])])
        diff = _jpeg_extend(bits.read_bits(t), t) if t else 0
        preds[comp["id"]] += diff
        blk[0] = preds[comp["id"]] << al

    def dc_refine(bits, blk, al):
        if bits.read_bit():
            blk[0] |= 1 << al

    def ac_first(bits, blk, comp, ss, se, al, huffs, state):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        ac_tab = huffs[(1, comp["ta"])]
        k = ss
        while k <= se:
            rs = bits.read_huff(ac_tab)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += bits.read_bits(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC coefficient outside band")
            blk[k] = _jpeg_extend(bits.read_bits(s), s) << al
            k += 1

    def ac_refine(bits, blk, comp, ss, se, al, huffs, state):
        p1, m1 = 1 << al, -(1 << al)
        k = ss
        if state["eobrun"] == 0:
            ac_tab = huffs[(1, comp["ta"])]
            while k <= se:
                rs = bits.read_huff(ac_tab)
                r, s = rs >> 4, rs & 0xF
                val = 0
                if s:
                    if s != 1:
                        raise ValueError("AC refine size must be 1")
                    val = p1 if bits.read_bit() else m1
                else:
                    if r < 15:
                        state["eobrun"] = 1 << r
                        if r:
                            state["eobrun"] += bits.read_bits(r)
                        break
                    # r == 15: ZRL — skip 16 zero-history positions
                while k <= se:
                    if blk[k] != 0:
                        if bits.read_bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if blk[k] != 0:
                    if bits.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                k += 1
            state["eobrun"] -= 1

    try:
        for sc in scans:
            scomps = sc["comps"]
            ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
            huffs = sc["huff"]
            segments, ri = sc["segments"], sc["ri"]
            seg_idx = 0
            bits = _JpegBits(segments[0])
            preds = {c["id"]: 0 for c in scomps}
            state = {"eobrun": 0}
            unit = 0  # MCUs (interleaved) or blocks (single-component)

            def maybe_restart():
                nonlocal seg_idx, bits, preds, state
                if ri and unit and unit % ri == 0:
                    seg_idx += 1
                    bits = _JpegBits(segments[seg_idx])
                    preds = {c["id"]: 0 for c in scomps}
                    state = {"eobrun": 0}

            if len(scomps) > 1:  # interleaved — DC band only (T.81 G.1.1)
                if ss != 0:
                    return None
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        maybe_restart()
                        for comp in scomps:
                            arr = coefs[comp["id"]]
                            for by in range(comp["v"]):
                                for bx in range(comp["h"]):
                                    blk = arr[
                                        my * comp["v"] + by,
                                        mx * comp["h"] + bx,
                                    ]
                                    if ah == 0:
                                        dc_first(bits, blk, comp, preds, al,
                                                 huffs)
                                    else:
                                        dc_refine(bits, blk, al)
                        unit += 1
            else:
                comp = scomps[0]
                arr = coefs[comp["id"]]
                nbh, nbw = used[comp["id"]]
                for by in range(nbh):
                    for bx in range(nbw):
                        maybe_restart()
                        blk = arr[by, bx]
                        if ss == 0:
                            if ah == 0:
                                dc_first(bits, blk, comp, preds, al, huffs)
                            else:
                                dc_refine(bits, blk, al)
                        elif ah == 0:
                            ac_first(bits, blk, comp, ss, se, al, huffs, state)
                        else:
                            ac_refine(bits, blk, comp, ss, se, al, huffs,
                                      state)
                        unit += 1
    except (EOFError, IndexError, KeyError, StopIteration, ValueError):
        return None

    luma = comps[0]
    arr = coefs[luma["id"]]
    q = qt[luma["tq"]]
    bh_full, bw_full = arr.shape[0], arr.shape[1]
    # Batched dequant + inverse zigzag + IDCT: broadcast
    # (n,8,8) @ (8,8) is verified bit-identical to the per-block
    # product; the block→plane scatter is a pure axis reorder.
    blks = np.zeros((bh_full * bw_full, 64), dtype=np.float64)
    blks[:, _JPEG_ZIGZAG] = arr.reshape(-1, 64) * q
    px = _DCT_C.T @ blks.reshape(-1, 8, 8) @ _DCT_C + 128.0
    plane = (
        px.reshape(bh_full, bw_full, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh_full * 8, bw_full * 8)
    )
    crop_w = -(-width * luma["h"] // hmax)
    crop_h = -(-height * luma["v"] // vmax)
    return np.clip(np.round(plane[:crop_h, :crop_w]), 0, 255)


def _bmp_pixels(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Codec-free uncompressed 24bpp BMP pixel extraction: (height,
    width, rgb uint8 [h*w, 3]) in TOP-DOWN row order (positive-height
    BMPs store rows bottom-up and are flipped here — histograms don't
    care, but perceptual hashes do)."""
    if payload[:2] != b"BM":
        return None
    pixel_off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        return None
    row_bytes = (width * 3 + 3) & ~3  # rows padded to 4-byte multiples
    rows = []
    for r in range(abs(height)):
        off = pixel_off + r * row_bytes
        row = np.frombuffer(payload, dtype=np.uint8, count=width * 3, offset=off)
        rows.append(row.reshape(-1, 3))
    if height > 0:  # bottom-up storage → flip to top-down
        rows.reverse()
    bgr = np.concatenate(rows)  # BMP stores BGR
    return abs(height), width, bgr[:, ::-1]


# ---------------------------------------------------------------------------
# Motion-JPEG frame decode: AVI (RIFF) and MOV (ISO-BMFF 'jpeg' codec)
# sample tables parsed with stdlib byte slicing, each frame fed to the
# baseline/progressive JPEG decoder.
# ---------------------------------------------------------------------------


def _avi_mjpeg_frames(payload: bytes) -> list[bytes] | None:
    """Frame byte-streams of a Motion-JPEG AVI, in storage order —
    codec-free RIFF walk: LIST recursion, the 'strh' stream header
    must declare a 'vids' stream with an MJPG-family handler (DMB1 is
    the OpenDML alias), frames are that STREAM's '##dc'
    compressed-video chunks (the two digits are the stream index —
    strh order assigns it, so a multi-stream AVI with one MJPG track
    next to a foreign-codec track yields only the MJPG frames;
    even-padded per RIFF). Returns None for non-AVI
    bytes, torn chunk trees, or no MJPEG video stream (those still
    need real codecs)."""
    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        return None
    mjpg_streams: set[bytes] = set()
    n_streams = 0
    frames: list[tuple[bytes, bytes]] = []  # (stream id, frame bytes)

    def chunks(start: int, end: int):
        off = start
        while off + 8 <= end:
            cid = payload[off:off + 4]
            size = int.from_bytes(payload[off + 4:off + 8], "little")
            data_end = off + 8 + size
            if data_end > end:
                return
            yield cid, off + 8, data_end
            off = data_end + (size & 1)  # chunks pad to even offsets

    def walk(start: int, end: int) -> None:
        nonlocal n_streams
        for cid, s, e in chunks(start, end):
            if cid == b"LIST":
                walk(s + 4, e)  # skip the 4-byte list type
            elif cid == b"strh" and e - s >= 8:
                if payload[s:s + 4] == b"vids" and payload[
                    s + 4:s + 8
                ].upper() in (b"MJPG", b"DMB1"):
                    mjpg_streams.add(b"%02d" % n_streams)
                n_streams += 1
            elif cid[2:4] == b"dc" and cid[:2].isdigit():
                frames.append((cid[:2], payload[s:e]))

    try:
        walk(12, len(payload))
    except Exception:
        return None
    out = [fb for sid, fb in frames if sid in mjpg_streams]
    return out if out else None


def _mov_jpeg_frames(payload: bytes) -> list[bytes] | None:
    """Frame byte-streams of a QuickTime/MP4 photo-JPEG track —
    ISO-BMFF walk to the sample table (stsd codec gate on the
    jpeg/mjpa/mjpb families, stsz sizes, stsc sample→chunk runs,
    stco/co64 chunk offsets), samples sliced straight out of mdat by
    ABSOLUTE file offset, the BMFF contract. Returns None for
    non-BMFF bytes, other codecs, or a sample table pointing outside
    the payload (torn file)."""

    def boxes(start: int, end: int):
        off = start
        while off + 8 <= end:
            size = int.from_bytes(payload[off:off + 4], "big")
            btype = payload[off + 4:off + 8]
            hdr = 8
            if size == 1:
                if off + 16 > end:
                    return
                size = int.from_bytes(payload[off + 8:off + 16], "big")
                hdr = 16
            elif size == 0:
                size = end - off
            if size < hdr or off + size > end:
                return
            yield btype, off + hdr, off + size
            off += size

    def find(start: int, end: int, name: bytes):
        for t, s, e in boxes(start, end):
            if t == name:
                return s, e
        return None

    try:
        moov = find(0, len(payload), b"moov")
        if moov is None:
            return None
        for t, s, e in boxes(*moov):
            if t != b"trak":
                continue
            span = (s, e)
            stbl = None
            for name in (b"mdia", b"minf", b"stbl"):
                span = find(span[0], span[1], name)
                if span is None:
                    break
            else:
                stbl = span
            if stbl is None:
                continue
            stsd = find(stbl[0], stbl[1], b"stsd")
            if stsd is None or stsd[1] - stsd[0] < 16:
                continue
            fmt = payload[stsd[0] + 12:stsd[0] + 16]
            if fmt.lower() not in (b"jpeg", b"mjpa", b"mjpb", b"mjpg"):
                continue
            stsz = find(stbl[0], stbl[1], b"stsz")
            stsc = find(stbl[0], stbl[1], b"stsc")
            stco = find(stbl[0], stbl[1], b"stco")
            wide = False
            if stco is None:
                stco = find(stbl[0], stbl[1], b"co64")
                wide = True
            if stsz is None or stsc is None or stco is None:
                return None
            u32 = lambda o: int.from_bytes(payload[o:o + 4], "big")  # noqa: E731
            # The 32-bit counts are untrusted and the lists below hold one
            # entry per counted item, so each count is clamped to what its
            # box (for a fixed sample size: the payload) can hold.
            fixed = u32(stsz[0] + 4)
            n_samples = min(
                u32(stsz[0] + 8),
                len(payload) // fixed if fixed else (stsz[1] - stsz[0] - 12) // 4,
            )
            sizes = (
                [fixed] * n_samples
                if fixed
                else [u32(stsz[0] + 12 + 4 * i) for i in range(n_samples)]
            )
            n_runs = min(u32(stsc[0] + 4), (stsc[1] - stsc[0] - 8) // 12)
            runs = [
                (u32(stsc[0] + 8 + 12 * i), u32(stsc[0] + 12 + 12 * i))
                for i in range(n_runs)
            ]  # (first_chunk 1-based, samples_per_chunk)
            width = 8 if wide else 4
            n_chunks = min(u32(stco[0] + 4), (stco[1] - stco[0] - 8) // width)
            offs = [
                int.from_bytes(
                    payload[stco[0] + 8 + width * i:stco[0] + 8 + width * (i + 1)],
                    "big",
                )
                for i in range(n_chunks)
            ]
            frames: list[bytes] = []
            si = 0
            ri = -1  # the run holding chunk ci: runs ascend by first_chunk
            for ci in range(n_chunks):
                while ri + 1 < n_runs and runs[ri + 1][0] <= ci + 1:
                    ri += 1
                spc = runs[ri][1] if ri >= 0 else 0
                off = offs[ci]
                for _ in range(spc):
                    if si >= n_samples:
                        break
                    sz = sizes[si]
                    if off + sz > len(payload):
                        return None  # sample table points past EOF
                    frames.append(payload[off:off + sz])
                    off += sz
                    si += 1
            return frames or None
    except Exception:
        return None
    return None


def _mjpeg_frames(payload: bytes) -> list[bytes] | None:
    """Container dispatch for Motion-JPEG frame extraction: AVI RIFF
    first (cheap magic check), then the BMFF photo-JPEG track."""
    frames = _avi_mjpeg_frames(payload)
    return frames if frames is not None else _mov_jpeg_frames(payload)


# ---------------------------------------------------------------------------
# Perceptual hashes: integer dHash / aHash over the codec-free pixel
# decodes — engine-replayable bit functions of a gray milli-luma matrix.
# ---------------------------------------------------------------------------


def decode_gray_milli(payload: bytes) -> np.ndarray | None:
    """Gray PIXEL MATRIX (int64, h×w) in milli-luma units
    g = 299·R + 587·G + 114·B — pure INTEGER algebra, so every engine
    (and the DuckDB oracle of q_image_neardup_md5) reproduces it
    bit-exactly; no float luma rounding ambiguity. Codec-free formats
    only (PPM P6, 8-bit PNG including Adam7, 24bpp BMP, GIF including
    interlaced, baseline + progressive JPEG luma — the pixel-exposing
    builtin decoders);
    others return None and callers fall back / skip."""
    payload = bytes(payload)
    out = _ppm_pixels(payload)
    if out is not None:
        h, w, rgb = out
        g = rgb.astype(np.int64)
        return (g[:, 0] * 299 + g[:, 1] * 587 + g[:, 2] * 114).reshape(h, w)
    png = _png_pixels(payload)
    if png is not None:
        h, w, ch, px = png
        g = px.astype(np.int64)
        if ch >= 3:
            gm = g[:, 0] * 299 + g[:, 1] * 587 + g[:, 2] * 114
        else:
            gm = g[:, 0] * 1000
        return gm.reshape(h, w)
    bmp = _bmp_pixels(payload)
    if bmp is not None:
        h, w, rgb = bmp
        g = rgb.astype(np.int64)
        return (g[:, 0] * 299 + g[:, 1] * 587 + g[:, 2] * 114).reshape(h, w)
    gif = _gif_pixels(payload)
    if gif is not None:
        h, w, rgb = gif
        g = rgb.astype(np.int64)
        return (g[:, 0] * 299 + g[:, 1] * 587 + g[:, 2] * 114).reshape(h, w)
    jg = _jpeg_gray_pixels(payload)
    if jg is not None:
        # luma plane already gray (0-255); scale to the milli contract
        return jg.astype(np.int64) * 1000
    return None


def _block_means(
    gm: np.ndarray, row_edges: list[int], col_edges: list[int]
) -> np.ndarray:
    """Integer block means over an edge grid, vectorized: one SIMD
    column-sum per ROW BAND (hash_h numpy calls) collapses each band
    to a single row, then ONE cumsum over the tiny (hash_h × w)
    intermediate turns every block sum into a 2-point column-edge
    difference — a per-band 1-D integral image. Replaces the
    per-block Python loop that ran ~72 interpreter round-trips per
    image: measured 2.5-2.8× per
    image at 64²-256², 1.7× at 1024² (SCALING.md). The full 2-D
    integral image was measured and REJECTED — its two full-resolution
    cumsum passes + (h+1)×(w+1) temp lose to the loop's SIMD block
    sums above ~256² (0.4× at 256², 0.06× at 1024²).

    Bit-equal to the loop by construction: each block sum adds the
    same integers, and the floor division is the same (numpy and
    Python `//` both floor, negatives included — the brightness-shift
    property test exercises negative values). Pinned against a
    straight loop reference in
    tests/test_multimodal.py::test_block_means_match_loop.

    Bound: |pixel| · image area must fit int64 — milli-luma
    (≤ 255 000) allows ~3.6e13 pixels/image, far past any real photo."""
    c = np.asarray(col_edges, dtype=np.int64)
    n_bands_rows = len(row_edges) - 1
    rs = np.empty((n_bands_rows, gm.shape[1] + 1), dtype=np.int64)
    rs[:, 0] = 0
    for i in range(n_bands_rows):
        np.cumsum(
            gm[row_edges[i]: row_edges[i + 1]].sum(axis=0, dtype=np.int64),
            out=rs[i, 1:],
        )
    sums = rs[:, c[1:]] - rs[:, c[:-1]]
    sizes = np.diff(np.asarray(row_edges, dtype=np.int64))[:, None] * np.diff(
        c
    )[None, :]
    return sums // sizes


def _pack_bits_le(flags: np.ndarray) -> int:
    """Boolean vector → Python int with bit b set iff flags[b] — the
    vectorized form of ``bits |= 1 << b`` loops (arbitrary precision,
    so no int64 sign trap at bit 63); caller applies the signed-64
    wrap."""
    return int.from_bytes(
        np.packbits(flags, bitorder="little").tobytes(), "little"
    )


def dhash_bits(gm: np.ndarray, hash_w: int = 8, hash_h: int = 8) -> int:
    """Difference hash over a gray matrix: integer block-mean resize
    to (hash_h rows × hash_w+1 cols) — block (i, j) spans rows
    [i·h div H, (i+1)·h div H) etc., mean is floor division — then
    bit i·hash_w+j is set iff block(i,j) < block(i,j+1). Every step
    is integer floor arithmetic: engine-replayable, no resampling
    kernel ambiguity. Returns a signed-64 wrapped Python int.

    Vectorized: banded block sums (_block_means) + a
    packbits bit-pack — zero per-block Python; outputs pinned
    bit-equal to the original loops on random matrices."""
    h, w = gm.shape
    cols = hash_w + 1
    if h < hash_h or w < cols:
        raise ValueError(f"image {h}x{w} smaller than hash grid")
    re = [(i * h) // hash_h for i in range(hash_h + 1)]
    ce = [(j * w) // cols for j in range(cols + 1)]
    m = _block_means(gm, re, ce)
    bits = _pack_bits_le((m[:, :-1] < m[:, 1:]).ravel())
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def ahash_bits(gm: np.ndarray, hash_w: int = 8, hash_h: int = 8) -> int:
    """Average hash over a gray matrix: the same integer block-mean
    resize as dhash_bits but to an (hash_h × hash_w) grid, then bit
    i·hash_w+j is set iff the block mean EXCEEDS the grid mean —
    compared by integer cross-multiplication (cells·block > Σblocks),
    no division, so it is engine-replayable exactly like dhash_bits
    and the audio band hash. dHash survives global brightness shifts
    better; aHash survives local noise better — ship both, band
    either. Vectorized like dhash_bits (banded block sums + packbits);
    the cross-multiply stays int64-safe while cells·max-block-mean
    < 2^63 (milli-luma: 4096 cells · 255 000 ≈ 2^30)."""
    h, w = gm.shape
    if h < hash_h or w < hash_w:
        raise ValueError(f"image {h}x{w} smaller than hash grid")
    re = [(i * h) // hash_h for i in range(hash_h + 1)]
    ce = [(j * w) // hash_w for j in range(hash_w + 1)]
    cells = hash_h * hash_w
    m = _block_means(gm, re, ce)
    total = m.sum()
    bits = _pack_bits_le((cells * m > total).ravel())
    return bits - (1 << 64) if bits >= 1 << 63 else bits


# ---------------------------------------------------------------------------
# The fingerprint relation. An image is a one-frame video: every media
# operator below decodes its payloads through ONE mapInPandas body into
# (id, frame_idx, hash) rows — an image's frame split is [payload], a
# Motion-JPEG video's is its container's frame list — and the banded
# Hamming algebra (pairs, persisted index, match, admission) runs on that
# relation whichever media it came from. The public image_* / video_*
# functions are the caller-specific ends: which split, which output
# names, which admission rule.
# ---------------------------------------------------------------------------


def _int64_col(values: list) -> pd.array:
    """Nullable pandas Int64 column for Arrow handoff. The naive
    ``pd.DataFrame({"h": [None, big_int, ...]})`` infers FLOAT64 the
    moment any chunk mixes a null with ints — and float64 silently
    rounds 64-bit hashes past 2^53, so a torn payload co-batched with
    good ones CORRUPTED the good rows' hashes by up to ±7 ulps
    (found when a streamed micro-batch put an undecodable video
    next to a decodable one, its frame hashes lost their low bits,
    and the near-dup gate silently admitted a duplicate). Nullable
    Int64 keeps the integers exact through Arrow; pinned in
    tests/test_multimodal.py::test_null_cobatched_hashes_stay_exact."""
    return pd.array(values, dtype="Int64")


def _one_frame(payload: bytes) -> list[bytes]:
    """An image's frame split: the payload is its only frame."""
    return [payload]


def _fingerprints(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    split,
    hash_w: int,
    hash_h: int,
    bits=dhash_bits,
    hash_col: str = "dhash",
) -> DataFrame:
    """(id, frame_idx, hash) per frame of each payload, via one
    Arrow-batched mapInPandas. ``split`` cuts a payload into frame
    byte-streams (``_one_frame`` for an image, ``_mjpeg_frames`` for a
    Motion-JPEG video); every frame decodes through decode_gray_milli
    and hashes with ``bits`` (dhash_bits or ahash_bits) on the
    hash_w × hash_h grid — so a video frame's hash equals the image
    hash of the same bytes. Pixels die in the Arrow worker; only
    8-byte hashes leave it, through _int64_col.

    Contract: a null payload, or one whose split finds no frames (an
    undecodable container), yields ONE (id, null, null) row — kept, so
    joins don't silently drop it; an undecodable, torn or
    smaller-than-grid frame yields (id, frame_idx, null). The guard is
    per frame, so one corrupt byte stream never fails the job."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("frame_idx", T.LongType(), True),
            T.StructField(hash_col, T.LongType(), True),
        ]
    )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                frames = None if payload is None else split(bytes(payload))
                if not frames:
                    ids.append(mid)
                    idxs.append(None)
                    hashes.append(None)
                    continue
                for i, fb in enumerate(frames):
                    try:
                        gm = decode_gray_milli(fb)
                        h = None if gm is None else bits(gm, hash_w, hash_h)
                    except Exception:
                        h = None
                    ids.append(mid)
                    idxs.append(i)
                    hashes.append(h)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": _int64_col(idxs),
                    hash_col: _int64_col(hashes),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_hash, schema)


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 8,
) -> DataFrame:
    """(id, dhash BIGINT) per image — the one-frame case of
    _fingerprints; an undecodable, torn or smaller-than-grid payload
    yields a null dhash."""
    return _fingerprints(
        df, payload_col, id_col, _one_frame, hash_w, hash_h
    ).drop("frame_idx")


def image_ahash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 8,
) -> DataFrame:
    """(id, ahash BIGINT) per image — average-hash sibling of
    image_dhash, same decode and null contract."""
    return _fingerprints(
        df, payload_col, id_col, _one_frame, hash_w, hash_h, ahash_bits, "ahash"
    ).drop("frame_idx")


def video_frame_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 8,
) -> DataFrame:
    """(id, frame_idx, dhash) per Motion-JPEG video frame (AVI or
    MOV container) — _fingerprints over the container's frame split.
    An undecodable container yields one (id, null, null) row; a
    decodable container's torn frame yields (id, frame_idx, null)."""
    return _fingerprints(df, payload_col, id_col, _mjpeg_frames, hash_w, hash_h)


def _band_fps(
    fps: DataFrame, id_col: str, nbits: int, n_bands: int,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, dhash) → exploded band rows (id, dhash, band, key, bk):
    the hash splits into ``n_bands`` equal chunks; ``bk`` packs
    (band, key) into ONE bigint (band·2^bw + key) so band-bucket
    equi-joins ride a single key and a PERSISTED index can sort by it
    for parquet row-group pruning. shiftright is arithmetic but the
    mask strips the sign extension, so keys are always in [0, 2^bw).
    ``extra_cols`` ride along unchanged (video frames carry
    frame_idx)."""
    if nbits % n_bands:
        raise ValueError("n_bands must divide hash_w*hash_h")
    bw = nbits // n_bands
    mask = (1 << bw) - 1
    chunk = lambda i: F.shiftright(F.col("dhash"), i * bw).bitwiseAND(  # noqa: E731
        F.lit(mask)
    )
    return fps.select(
        id_col,
        *extra_cols,
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), chunk(i).alias("key"))
                    for i in range(n_bands)
                ]
            )
        ).alias("bk_s"),
    ).select(
        id_col,
        *extra_cols,
        "dhash",
        "bk_s.band",
        "bk_s.key",
        (F.col("bk_s.band").cast("bigint") * F.lit(mask + 1).cast("bigint")
         + F.col("bk_s.key").cast("bigint")).alias("bk"),
    )


def _default_bands(nbits: int, max_hamming: int) -> int:
    """Smallest divisor of ``nbits`` strictly greater than
    ``max_hamming`` — the narrowest banding that is still LOSSLESS by
    pigeonhole for Hamming distance ≤ max_hamming (fewer bands = fewer
    exploded rows = cheaper self-join).

    Floored at 2 bands: ``max_hamming=0`` (exact
    dup search) would otherwise resolve to ONE band of nbits bits,
    whose band mask (1<<64)-1 cannot be a Spark BIGINT literal —
    2 bands keep band width ≤ 32 bits and are still lossless for
    distance 0 or 1. max_hamming ≥ nbits has no lossless banding at
    all (every divisor ≤ nbits ≤ max_hamming): a descriptive
    ValueError instead of a bare StopIteration."""
    if max_hamming >= nbits:
        raise ValueError(
            f"max_hamming={max_hamming} >= hash bits {nbits}: every "
            "image is within range of every other; no banding (and no "
            "meaningful near-dup search) exists at this radius"
        )
    return next(
        b
        for b in range(max(max_hamming + 1, 2), nbits + 1)
        if nbits % b == 0
    )


def _geometry(
    hash_w: int, hash_h: int, n_bands: int | None, max_hamming: int
) -> tuple[int, int]:
    """(hash bits, band count): ``n_bands=None`` resolves to
    _default_bands, the lossless banding for ``max_hamming``."""
    nbits = hash_w * hash_h
    if n_bands is None:
        n_bands = _default_bands(nbits, max_hamming)
    return nbits, n_bands


def _hamming(a: str, b: str):
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def _near_pairs(
    fps: DataFrame, id_col: str, nbits: int, n_bands: int, max_hamming: int
) -> DataFrame:
    """The banded self-join over decodable fingerprint rows
    (id, frame_idx, dhash): (_a, _fa, _b, _fb, hamming) for every pair
    of frames of items _a < _b within ``max_hamming`` bits. Candidates
    are band-bucket pairs (pigeonhole: distance < n_bands guarantees
    one identical chunk), verified with bit_count(xor) — never
    all-pairs, and only 8-byte hashes and band keys shuffle. Frames of
    one item never pair. Not deduplicated: a pair sharing several
    bands repeats. The quadratic hazard is band-bucket saturation;
    SCALING §7.2's sizing rule (band width grows with the corpus)
    applies."""
    banded = _band_fps(fps, id_col, nbits, n_bands, extra_cols=("frame_idx",))

    def side(s: str) -> DataFrame:
        return banded.select(
            F.col(id_col).alias(f"_{s}"),
            F.col("frame_idx").alias(f"_f{s}"),
            F.col("dhash").alias(f"_h{s}"),
            "bk",
        )

    return (
        side("a").join(side("b"), "bk")
        .filter(F.col("_a") < F.col("_b"))
        .select("_a", "_fa", "_b", "_fb", _hamming("_ha", "_hb").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def image_neardup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 6,
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """Image pairs (img_a < img_b, hamming) whose dHash Hamming
    distance ≤ ``max_hamming`` — the perceptual twin of
    dedup.simhash_pairs: _near_pairs over the images' one-frame
    fingerprints, decoded once.

    ``n_bands=None`` picks the smallest divisor of
    the hash width STRICTLY GREATER than ``max_hamming``, so the
    default call honors the documented ≤ max_hamming contract
    losslessly (the old fixed default of 4 silently missed pairs at
    distance 4-6). An explicit ``n_bands <= max_hamming`` is allowed
    for recall-oriented wide searches but warns that banding is lossy."""
    nbits, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    if nbits % n_bands:
        raise ValueError("n_bands must divide hash_w*hash_h")
    if max_hamming >= n_bands:
        import warnings

        warnings.warn(
            f"n_bands={n_bands} <= max_hamming={max_hamming}: banding is "
            "lossless only for distance < n_bands; pairs at distance "
            f">= {n_bands} may be missed",
            stacklevel=2,
        )
    fps = _fingerprints(df, payload_col, id_col, _one_frame, hash_w, hash_h)
    # Both self-join sides consume fps — unmaterialized, the Python
    # DECODE subplan evaluates twice. The checkpointed relation is
    # (id, frame_idx, hash), 24 B/row, never payloads.
    fps = materialize(fps.filter(F.col("dhash").isNotNull()), gate_on=df)
    return (
        _near_pairs(fps, id_col, nbits, n_bands, max_hamming)
        .select(F.col("_a").alias("img_a"), F.col("_b").alias("img_b"), "hamming")
        .distinct()
    )


def video_neardup_pairs(
    videos: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    min_frac: float = 0.5,
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """Video-vs-video near-dup over frame perceptual hashes: a pair
    qualifies when at least ``min_frac`` of the SHORTER video's decodable frames have a dHash match (Hamming ≤
    ``max_hamming``) somewhere in the other — the frame-containment
    rule, robust to one video being a clip/extension of the other.
    Returns (vid_a, vid_b, n_a, n_b, matched_a, matched_b) with
    vid_a < vid_b; matched_x = distinct frames of x with a
    cross-video match.

    Shape: one decode pass, _near_pairs over the frames, then two
    counts-sized aggregations — per-(pair, frame) dedup and the
    per-pair roll-up joined against the per-video frame counts."""
    nbits, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    fps = video_frame_dhash(
        videos, payload_col, id_col, hash_w, hash_h
    ).filter(F.col("dhash").isNotNull())
    fps = materialize(fps, gate_on=videos)  # decode once: counts + join
    n_frames = fps.groupBy(id_col).agg(
        F.countDistinct("frame_idx").alias("n_frames")
    )
    hits = (
        _near_pairs(fps, id_col, nbits, n_bands, max_hamming)
        .select(
            F.col("_a").alias("vid_a"),
            F.col("_b").alias("vid_b"),
            F.col("_fa").alias("f_a"),
            F.col("_fb").alias("f_b"),
        )
        .distinct()
    )
    per_pair = hits.groupBy("vid_a", "vid_b").agg(
        F.countDistinct("f_a").alias("matched_a"),
        F.countDistinct("f_b").alias("matched_b"),
    )
    na = n_frames.select(
        F.col(id_col).alias("vid_a"), F.col("n_frames").alias("n_a")
    )
    nb_ = n_frames.select(
        F.col(id_col).alias("vid_b"), F.col("n_frames").alias("n_b")
    )
    return (
        per_pair.join(F.broadcast(na), "vid_a")
        .join(F.broadcast(nb_), "vid_b")
        .filter(
            F.when(
                F.col("n_a") <= F.col("n_b"),
                F.col("matched_a") >= F.ceil(F.col("n_a") * F.lit(min_frac)),
            ).otherwise(
                F.col("matched_b") >= F.ceil(F.col("n_b") * F.lit(min_frac))
            )
        )
        .select("vid_a", "vid_b", "n_a", "n_b", "matched_a", "matched_b")
    )


def video_scene_cuts(
    videos: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    threshold: int = 10,
    hash_w: int = 8,
    hash_h: int = 8,
) -> DataFrame:
    """Scene-change detection over Motion-JPEG frame hashes: a cut is
    a frame whose dHash Hamming distance to the PREVIOUS decodable frame exceeds ``threshold`` bits — the
    classic hash-delta detector, here as one decode pass plus a lag
    window per video (JVM-side; pixels never leave the Arrow
    worker). Returns (id, frame_idx, prev_idx, hamming, is_cut) for
    every frame with a predecessor; frame-sampling pipelines keep
    one frame per cut segment instead of a fixed stride, which is
    what makes per-frame near-dup indexes affordable on long
    videos (cuts, not frames, carry the information)."""
    fps = video_frame_dhash(videos, payload_col, id_col, hash_w, hash_h)
    fps = fps.filter(F.col("dhash").isNotNull())
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    prev_h = F.lag("dhash").over(w)
    prev_i = F.lag("frame_idx").over(w)
    hamming = F.bit_count(F.col("dhash").bitwiseXOR(prev_h))
    return (
        fps.select(
            id_col,
            "frame_idx",
            prev_i.alias("prev_idx"),
            hamming.alias("hamming"),
            (hamming > threshold).alias("is_cut"),
        )
        .filter(F.col("prev_idx").isNotNull())
    )


# ---------------------------------------------------------------------------
# Persisted fingerprint index: build once, match new batches incrementally,
# and admit a crawl batch against everything ever seen — the multimodal
# analog of the text MinHash persisted/incremental index family. One
# writer, one match body and one covered-frames relation serve images and
# videos alike.
# ---------------------------------------------------------------------------


def image_band_rows(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
    max_hamming: int = 3,
) -> DataFrame:
    """The banded fingerprint relation a persisted image index stores:
    (id, dhash, band, key, bk) per DECODABLE image — undecodable/torn
    payloads contribute no rows (they can never match anything).
    ``n_bands=None`` resolves like image_neardup_pairs (smallest
    divisor of the hash width above ``max_hamming`` — lossless)."""
    nbits, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    fps = image_dhash(df, payload_col, id_col, hash_w, hash_h).filter(
        F.col("dhash").isNotNull()
    )
    return _band_fps(fps, id_col, nbits, n_bands)


def _write_index(
    rows: DataFrame,
    index_path: str,
    hash_w: int,
    hash_h: int,
    n_bands: int,
    num_files: int,
) -> None:
    """Persist banded fingerprint rows as an index: ``index_path``/seed
    is range-partitioned and sorted by ``bk``, so an incremental
    match's bk IN-list prunes parquet row groups instead of scanning
    every indexed hash; readers load
    ``spark.read.parquet(f"{index_path}/seed")``. The index holds
    hashes and band keys only, never pixels, and a rebuild is one
    map-only decode pass.

    The banding geometry (hash_w, hash_h, n_bands) goes to
    ``index_path``/meta.json: the packed ``bk`` keys are only
    comparable under the SAME geometry, so a reader matching with
    different parameters would silently join almost nothing —
    ``check_image_index_meta`` turns that mismatch into a loud
    ValueError."""
    import json as _json

    from real_time_data_anomaly_detection_spark import fs as _fs

    rows.repartitionByRange(num_files, "bk").sortWithinPartitions(
        "bk"
    ).write.mode("overwrite").parquet(f"{index_path}/seed")
    # meta.json is written AFTER the seed's _SUCCESS commit (readers
    # gate on the marker, so a torn meta write is never authoritative);
    # the Hadoop FS shim makes the index portable to hdfs://s3a://
    _fs.write_text(
        f"{index_path}/meta.json",
        _json.dumps({"hash_w": hash_w, "hash_h": hash_h, "n_bands": n_bands}),
        rows.sparkSession,
    )


def build_image_index(
    images: DataFrame,
    index_path: str,
    payload_col: str = "payload",
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
    max_hamming: int = 3,
    num_files: int = 8,
) -> None:
    """Seed a persisted image-hash index: image_band_rows — (id,
    dhash, band, key, bk) per decodable image — through _write_index
    (bk-sorted ``index_path``/seed plus the meta.json geometry)."""
    _, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    rows = image_band_rows(images, payload_col, id_col, hash_w, hash_h, n_bands)
    _write_index(rows, index_path, hash_w, hash_h, n_bands, num_files)


def build_video_index(
    videos: DataFrame,
    index_path: str,
    payload_col: str = "payload",
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
    max_hamming: int = 3,
    num_files: int = 8,
) -> None:
    """Seed the persisted SEEN-FRAME index for the video gate: the
    banded per-frame rows (id, frame_idx, dhash, band, key, bk) of
    every decodable frame through _write_index (bk-sorted
    ``index_path``/seed plus the meta.json geometry)."""
    nbits, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    fps = video_frame_dhash(videos, payload_col, id_col, hash_w, hash_h)
    fps = fps.filter(F.col("dhash").isNotNull())
    rows = _band_fps(fps, id_col, nbits, n_bands, extra_cols=("frame_idx",))
    _write_index(rows, index_path, hash_w, hash_h, n_bands, num_files)


def check_image_index_meta(
    index_path: str,
    hash_w: int,
    hash_h: int,
    n_bands: int,
) -> None:
    """Raise ValueError when the caller's banding geometry disagrees
    with the persisted index's meta.json — a mismatch does not error
    at join time, it silently produces (mostly) empty matches because
    the packed bk domains differ. Indexes from before meta.json
    existed pass unchecked (nothing to compare)."""
    import json as _json

    from real_time_data_anomaly_detection_spark import fs as _fs

    p = f"{index_path}/meta.json"
    if not _fs.exists(p):
        return
    meta = _json.loads(_fs.read_text(p))
    mine = {"hash_w": hash_w, "hash_h": hash_h, "n_bands": n_bands}
    if meta != mine:
        raise ValueError(
            f"image index at {index_path} was built with {meta}; "
            f"caller passed {mine} — banding geometries must match "
            "exactly or the bk equi-join silently drops pairs"
        )


# Most distinct band keys a batch may push into the index scan.
PRUNE_KEYS_MAX = 100_000


def _bk_prune_inlist(
    idx: DataFrame, bands: DataFrame, prune_keys_max: int
) -> DataFrame:
    """The two-hop-keys index prune of _index_match. The
    candidate band keys go into the index scan as ONE parsed SQL
    ``bk IN (...)`` string instead of ``isin(list)``, whose per-literal
    py4j expression assembly measured ~1.1 ms/key (13 s of pure
    DRIVER time at the 12k keys a backfill-sized video batch
    produces, dwarfing the 1.9 s scan it was pruning). A single
    string crosses py4j once and Catalyst folds it to an InSet;
    row-group pruning on the bk-sorted index layout is unchanged.
    Batches holding more than ``prune_keys_max`` distinct keys skip
    the filter — at that size the batch touches most of the index's
    band-key domain and the full scan is the cheaper plan.

    The keys come back as ONE row, capped twice with slice: first per
    input partition, then after the merge. Any partition holding more
    than prune_keys_max keys alone pushes the merged set over the cap,
    so the skip decision is exact, while the final merge task and the
    driver fetch hold at most P × (prune_keys_max+1) and
    prune_keys_max+1 keys. One aggregate row instead of
    distinct().limit().collect() measured 0.44 -> 0.16 s on the sf0.1
    video batch."""
    cap = prune_keys_max + 1
    merged = F.array_distinct(F.flatten(F.collect_list("ks")))
    row = (
        bands.groupBy(F.spark_partition_id().alias("_part"))
        .agg(F.slice(F.collect_set("bk"), 1, cap).alias("ks"))
        .agg(F.slice(merged, 1, cap).alias("ks"))
        .head()
    )
    keys = [int(x) for x in (row.ks or [])]
    if len(keys) > prune_keys_max:
        return idx
    if not keys:
        # no decodable frames in the batch: nothing can match (the
        # isin([])-is-false behavior this replaces, minus a parse error
        # on the empty IN-list)
        return idx.filter(F.lit(False))
    return idx.filter(F.expr(f"bk IN ({','.join(map(str, keys))})"))


def _index_match(
    index_bands: DataFrame,
    batch: DataFrame,
    split,
    payload_col: str,
    id_col: str,
    max_hamming: int,
    hash_w: int,
    hash_h: int,
    n_bands: int | None,
) -> DataFrame:
    """(idx_id, id, frame_idx, hamming ≤ max_hamming) for every
    decodable frame of a new batch (frames cut by ``split``) against a
    persisted index (build_image_index or build_video_index).

    The batch decodes ONCE onto a size-gated localCheckpoint of the
    hash relation; its band rows go through broadcast_if_small, so a
    micro-batch's index relation never moves; and when the batch
    holds ≤ PRUNE_KEYS_MAX distinct band keys they are pushed as a bk
    IN-list into the index scan — the two-hop-keys trick: the index
    is bk-sorted, so parquet row-group stats skip everything the
    batch can't touch and per-trigger cost scales with the BATCH, not
    the corpus. The prune probe reads the CHECKPOINTED hashes; an
    unmaterialized (backfill-sized) batch skips it, because the probe
    would re-run the decode and a batch that big is past
    PRUNE_KEYS_MAX anyway.

    Callers run :func:`check_image_index_meta` with their geometry,
    then read ``index_bands`` with
    ``spark.read.parquet(f"{index_path}/seed")`` — a mismatched index
    silently matches (almost) nothing."""
    nbits, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    decoded = _fingerprints(
        batch, payload_col, id_col, split, hash_w, hash_h
    ).filter(F.col("dhash").isNotNull())
    fps = materialize(decoded, gate_on=batch)
    b = _band_fps(fps, id_col, nbits, n_bands, extra_cols=("frame_idx",)).select(
        id_col, "frame_idx", F.col("dhash").alias("h_new"), "bk"
    )
    idx = index_bands.select(
        F.col(id_col).alias("idx_id"), F.col("dhash").alias("h_idx"), "bk"
    )
    if fps is not decoded:
        idx = _bk_prune_inlist(idx, b, PRUNE_KEYS_MAX)
    return (
        idx.join(broadcast_if_small(b, batch), "bk")
        .select("idx_id", id_col, "frame_idx", _hamming("h_idx", "h_new").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def image_index_match(
    index_bands: DataFrame,
    batch_images: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """Match a NEW image batch against a persisted index: pairs
    (idx_id, new_id, hamming ≤ max_hamming) — _index_match over the
    images' one-frame fingerprints."""
    return _index_match(
        index_bands, batch_images, _one_frame, payload_col, id_col,
        max_hamming, hash_w, hash_h, n_bands,
    ).select("idx_id", F.col(id_col).alias("new_id"), "hamming")


def video_index_match(
    index_bands: DataFrame,
    batch_videos: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """Match every FRAME of a new Motion-JPEG video batch against a
    persisted index — an image index answers "does this video contain
    a shot of anything we've already indexed". Returns (idx_id,
    video_id, frame_idx, hamming ≤ max_hamming) via _index_match."""
    return _index_match(
        index_bands, batch_videos, _mjpeg_frames, payload_col, id_col,
        max_hamming, hash_w, hash_h, n_bands,
    ).select(
        "idx_id", F.col(id_col).alias("video_id"), "frame_idx", "hamming"
    )


def _covered_frames(
    index_bands: DataFrame,
    fps: DataFrame,
    gate_on: DataFrame,
    id_col: str,
    nbits: int,
    n_bands: int,
    max_hamming: int,
) -> DataFrame:
    """Distinct (id, frame_idx) of the batch frames already COVERED,
    the relation both admission gates decide on. ``fps`` is the
    batch's materialized fingerprint relation. A frame is covered
    when its dHash is within ``max_hamming`` of a hash in the seen
    index OR of a frame of a SMALLER-ID item of the same batch
    (first arrival wins; frames of one item never cover each other —
    a static shot is not a dup). Undecodable rows cover nothing and
    are never covered.

    Hamming similarity is NOT transitive, so the rule is deliberate:
    an index that remembers EVERY item ever presented — admitted or
    rejected — makes "covered by an earlier batch" and "covered by a
    smaller-id item of this batch" compose to exactly "covered by ANY
    smaller-id item or the seed" under id-ordered arrival. Coverage
    needs no per-item grouping of the index side."""
    good = fps.filter(F.col("dhash").isNotNull())
    new_side = _band_fps(
        good, id_col, nbits, n_bands, extra_cols=("frame_idx",)
    ).select(id_col, "frame_idx", F.col("dhash").alias("h_new"), "bk")
    hit_idx = (
        index_bands.select(F.col("dhash").alias("h_idx"), "bk")
        .join(broadcast_if_small(new_side, gate_on), "bk")
        .filter(_hamming("h_idx", "h_new") <= max_hamming)
        .select(id_col, "frame_idx")
    )
    hit_intra = _near_pairs(good, id_col, nbits, n_bands, max_hamming).select(
        F.col("_b").alias(id_col), F.col("_fb").alias("frame_idx")
    )
    return hit_idx.unionByName(hit_intra).distinct()


def image_neardup_admit(
    index_bands: DataFrame,
    batch_images: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """Admission decision for a new image batch against everything
    SEEN so far: admit exactly the images whose one frame is not
    covered (_covered_frames) — no indexed near-dup within
    ``max_hamming`` and no SMALLER-ID batch neighbor. Returns (id,
    dhash); dhash is null for undecodable payloads, which are
    admitted: no evidence of duplication, and the crawl keeps the
    bytes for a later decoder.

    Run :func:`check_image_index_meta` with the caller's geometry,
    then read ``index_bands`` with
    ``spark.read.parquet(f"{index_path}/seed")`` — a mismatched index
    silently admits near-everything."""
    nbits, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    fps = materialize(
        _fingerprints(batch_images, payload_col, id_col, _one_frame, hash_w, hash_h),
        gate_on=batch_images,
    )
    covered = _covered_frames(
        index_bands, fps, batch_images, id_col, nbits, n_bands, max_hamming
    )
    return fps.drop("frame_idx").join(covered.select(id_col), id_col, "left_anti")


def video_neardup_admit(
    index_bands: DataFrame,
    batch_videos: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    min_frac: float = 0.5,
    hash_w: int = 8,
    hash_h: int = 8,
    n_bands: int | None = None,
) -> DataFrame:
    """Frame-coverage admission for a video batch: admit exactly the
    videos for which FEWER than ``min_frac`` of their decodable frames
    are covered (_covered_frames: a near-dup in the seen-frame index
    or in a smaller-id video of the batch), i.e. covered <
    ceil(n_frames·min_frac). Returns (id, n_frames, covered) for
    admitted videos; videos with NO decodable frames are admitted
    with (0, 0) — no evidence of duplication, the image gate's
    null-hash policy."""
    nbits, n_bands = _geometry(hash_w, hash_h, n_bands, max_hamming)
    fps = materialize(
        video_frame_dhash(batch_videos, payload_col, id_col, hash_w, hash_h),
        gate_on=batch_videos,
    )
    covered = (
        _covered_frames(
            index_bands, fps, batch_videos, id_col, nbits, n_bands, max_hamming
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered"))
    )
    n_frames = (
        fps.filter(F.col("dhash").isNotNull())
        .groupBy(id_col)
        .agg(F.countDistinct("frame_idx").alias("n_frames"))
    )
    # one row per presented video (undecodable containers included via
    # the fps null rows -> n_frames 0)
    stats = (
        fps.select(id_col).distinct()
        .join(n_frames, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_frames", F.lit(0)).alias("n_frames"),
            F.coalesce("covered", F.lit(0)).alias("covered"),
        )
    )
    return stats.filter(
        (F.col("covered") < F.ceil(F.col("n_frames") * F.lit(min_frac)))
        | (F.col("n_frames") == 0)
    )


# ---------------------------------------------------------------------------
# Oracle-backed md5 twin: synthetic 9x7 PPM images whose pixels are a pure
# function of (doc_id, md5) — the Spark side builds REAL P6 binaries and runs
# the REAL decode + dHash + banding; the DuckDB oracle replays the identical
# integer algebra from the md5 hex directly (the SimHash-md5 discipline).
# ---------------------------------------------------------------------------

from real_time_data_anomaly_detection_spark.io import (  # noqa: E402
    corpus_cache_path,
    load_table,
)
from real_time_data_anomaly_detection_spark.operators.registry import query  # noqa: E402

_IMG_MD5S = 12  # 12 * 16 bytes = 192 >= 9*7*3 = 189 pixel bytes
_IMG_HX_SQL = " || ".join(
    f"md5('img:' || CAST(doc_id // 5 AS VARCHAR) || ':{k}')"
    for k in range(_IMG_MD5S)
)


def _synth_doc_images(d: DataFrame) -> DataFrame:
    """(doc_id, payload): a REAL 9×7 binary PPM per document — 189
    pixel bytes from md5('img:' || doc_id div 5 || ':k') (five docs
    share each base image) with the first byte replaced by
    (doc_id % 5)·24, a one-pixel perturbation. Shared by the image
    md5-twin queries; the DuckDB side replays the same bytes from
    _IMG_HX_SQL."""
    header_hex = "P6 9 7 255\n".encode().hex()
    hx = F.concat(
        *[
            F.md5(
                F.concat(
                    F.lit("img:"),
                    F.expr("cast(doc_id div 5 as string)"),
                    F.lit(f":{k}"),
                )
            )
            for k in range(_IMG_MD5S)
        ]
    )
    return d.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(header_hex)),
            F.unhex(
                F.concat(
                    F.lpad(F.hex((F.col("doc_id") % 5) * 24), 2, "0"),
                    F.substring(hx, 3, 376),
                )
            ),
        ).alias("payload"),
    )


# Shared DuckDB replay of the synthetic-image decode + dHash + banding
# (pixel bytes from _IMG_HX_SQL → integer luma → adjacent comparisons →
# 56-bit pack → 4×14-bit bands) — the CTE prefix of every image md5 twin.
_IMG_DHASH_CTES = f"""
        WITH base AS (
            SELECT doc_id,
                   (doc_id % 5) * 24 AS p0,
                   {_IMG_HX_SQL} AS hx
            FROM documents),
        g AS (
            SELECT doc_id, n // 9 AS i, n % 9 AS j,
                   299 * (CASE WHEN n = 0 THEN p0
                          ELSE ('0x' || substr(hx, 2*(n*3) + 1, 2))::INT END)
                 + 587 * ('0x' || substr(hx, 2*(n*3+1) + 1, 2))::INT
                 + 114 * ('0x' || substr(hx, 2*(n*3+2) + 1, 2))::INT AS gg
            FROM base, UNNEST(generate_series(0, 62)) AS t(n)),
        bits AS (
            SELECT a.doc_id, (a.i * 8 + a.j) AS b,
                   CASE WHEN a.gg < c.gg THEN 1 ELSE 0 END AS v
            FROM g a JOIN g c ON a.doc_id = c.doc_id AND a.i = c.i
                             AND c.j = a.j + 1
            WHERE a.j < 8),
        h AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN v = 1 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS dh
            FROM bits GROUP BY 1),
        banded AS (
            SELECT doc_id, dh, k, (dh >> (k * 14)) & 16383 AS key
            FROM h, UNNEST(generate_series(0, 3)) AS t(k))"""


@query(
    "q_image_neardup_md5",
    oracle=f"""{_IMG_DHASH_CTES},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.dh AS ha, b.dh AS hb
            FROM banded a
            JOIN banded b ON a.k = b.k AND a.key = b.key
                         AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        ORDER BY doc_a, doc_b
    """,
)
def q_image_neardup_md5(spark, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup, oracle-checked end-to-end: every
    document gets a REAL 9×7 binary PPM whose 189 pixel bytes come
    from md5('img:' || doc_id div 5 || ':k') — five docs share each
    base image — with the first byte replaced by (doc_id % 5)·24, a
    one-pixel perturbation that flips at most dHash bit 0. The Spark
    side decodes the actual P6 bytes (codec-free _ppm_pixels), hashes
    with the integer dHash (8×7 grid → 56 bits, sign-safe in both
    engines), bands 4×14 bits and verifies Hamming ≤ 3 (< n_bands ⇒
    banding is lossless by pigeonhole); the oracle replays pixel
    bytes, luma, comparisons, bit-pack, banding and bit_count(xor)
    in DuckDB — so the DECODER itself is hash-checked cross-engine,
    not just the pair algebra. Expected pairs: exactly the
    same-base-image quintuples at distance ≤ 1 (random cross-base
    56-bit hashes land within 3 bits with probability ~3e-12)."""
    d = load_table(spark, sf_dir, "documents")
    img = _synth_doc_images(d)
    pairs = image_neardup_pairs(
        img, "payload", "doc_id", max_hamming=3, hash_w=8, hash_h=7
    )
    return pairs.select(
        F.col("img_a").alias("doc_a"),
        F.col("img_b").alias("doc_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Audio fingerprint (same discipline as the image twin): integer
# band-energy sign hash over the REAL WAV decode, md5-oracle-checked.
# ---------------------------------------------------------------------------


def _wav_samples_int(payload: bytes) -> np.ndarray | None:
    """First-channel PCM samples as CENTERED int64 (s − midpoint) —
    exact integer arithmetic, so fingerprints are engine-replayable."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as w:
        channels = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 1:  # unsigned 8-bit
        data = np.frombuffer(frames, dtype=np.uint8).astype(np.int64) - 128
    elif width == 2:
        data = np.frombuffer(frames, dtype="<i2").astype(np.int64)
    elif width == 4:
        data = np.frombuffer(frames, dtype="<i4").astype(np.int64)
    else:
        return None
    usable = (data.size // channels) * channels
    return data[:usable].reshape(-1, channels)[:, 0]


def audio_band_hash(samples: np.ndarray, n_bands: int = 16) -> int:
    """``n_bands``-bit loudness-contour fingerprint: split the sample
    stream into equal bands (trailing remainder dropped), band energy
    = Σ|s| (exact integers), bit k set iff n_bands·E_k > ΣE — i.e.
    the band is louder than the mean, compared by integer
    cross-multiplication, no division. Engine-replayable like
    dhash_bits."""
    n = (samples.size // n_bands) * n_bands
    if n == 0:
        return 0
    e = np.abs(samples[:n]).reshape(n_bands, -1).sum(axis=1)
    total = int(e.sum())
    bits = 0
    for k in range(n_bands):
        if n_bands * int(e[k]) > total:
            bits |= 1 << k
    return bits


def audio_fingerprints(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    n_bands: int = 16,
) -> DataFrame:
    """(id, fingerprint BIGINT) per audio payload via Arrow-batched
    mapInPandas over the REAL WAV decode; undecodable or torn payloads
    (truncated RIFF, non-PCM chunks → wave.Error) yield null instead
    of failing the job. Near-dup pairing reuses image_neardup_pairs'
    band-bucket join shape if needed; the fingerprint itself is the
    oracle-checked unit (q_audio_fingerprint_md5)."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("fingerprint", T.LongType(), True),
        ]
    )

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf[payload_col]:
                if payload is None:
                    out.append(None)
                    continue
                try:
                    s = _wav_samples_int(bytes(payload))
                    out.append(
                        None if s is None else audio_band_hash(s, n_bands)
                    )
                except Exception:
                    out.append(None)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "fingerprint": _int64_col(out)}
            )

    return df.select(id_col, payload_col).mapInPandas(_fp, schema)


# 44-byte canonical RIFF header: PCM, mono, 8-bit, 8000 Hz, 128 samples.
_WAV128_HEADER_HEX = (
    "52494646a400000057415645666d7420100000000100010040"
    "1f0000401f0000010008006461746180000000"
)
_AUD_MD5S = 8  # 8 * 16 = 128 sample bytes
_AUD_HX_SQL = " || ".join(
    f"md5('aud:' || CAST(doc_id AS VARCHAR) || ':{k}')"
    for k in range(_AUD_MD5S)
)


@query(
    "q_audio_fingerprint_md5",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, {_AUD_HX_SQL} AS hx FROM documents),
        s AS (
            SELECT doc_id, i // 8 AS band,
                   abs(('0x' || substr(hx, 2*i + 1, 2))::INT - 128) AS a
            FROM base, UNNEST(generate_series(0, 127)) AS t(i)),
        e AS (
            SELECT doc_id, band, sum(a) AS eb FROM s GROUP BY 1, 2),
        tot AS (
            SELECT doc_id, sum(eb) AS te FROM e GROUP BY 1)
        SELECT e.doc_id,
               CAST(sum(CASE WHEN 16 * eb > te THEN (1::BIGINT << band)
                        ELSE 0 END) AS BIGINT) AS fingerprint
        FROM e JOIN tot ON e.doc_id = tot.doc_id
        GROUP BY 1 ORDER BY 1
    """,
)
def q_audio_fingerprint_md5(spark, sf_dir: str) -> DataFrame:
    """Audio loudness-contour fingerprints, oracle-checked through the
    REAL decoder: every document gets an actual 44-byte-header RIFF
    PCM WAV (8-bit mono, 128 samples from md5('aud:' || doc_id)
    bytes); Spark decodes it with the stdlib wave parser and computes
    the 16-band integer sign hash, while DuckDB replays sample bytes,
    band energies and the cross-multiplied mean comparison from the
    md5 hex — so the WAV decode path itself is hash-checked
    cross-engine, the audio analog of q_image_neardup_md5."""
    d = load_table(spark, sf_dir, "documents")
    hx = F.concat(
        *[
            F.md5(
                F.concat(
                    F.lit("aud:"),
                    F.col("doc_id").cast("string"),
                    F.lit(f":{k}"),
                )
            )
            for k in range(_AUD_MD5S)
        ]
    )
    wav = d.select(
        "doc_id",
        F.unhex(F.concat(F.lit(_WAV128_HEADER_HEX), hx)).alias("payload"),
    )
    out = audio_fingerprints(wav, "payload", "doc_id").select(
        "doc_id", F.col("fingerprint").cast("bigint").alias("fingerprint")
    )
    # the sort's sampling job must not re-run the WAV decode pass
    return sort_past_boundary(out, "doc_id")


@query(
    "q_image_ahash_md5",
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   (doc_id % 5) * 24 AS p0,
                   {_IMG_HX_SQL} AS hx
            FROM documents),
        g AS (
            SELECT doc_id, n // 9 AS i, n % 9 AS j,
                   299 * (CASE WHEN n = 0 THEN p0
                          ELSE ('0x' || substr(hx, 2*(n*3) + 1, 2))::INT END)
                 + 587 * ('0x' || substr(hx, 2*(n*3+1) + 1, 2))::INT
                 + 114 * ('0x' || substr(hx, 2*(n*3+2) + 1, 2))::INT AS gg
            FROM base, UNNEST(generate_series(0, 62)) AS t(n)),
        tot AS (SELECT doc_id, sum(gg) AS tg FROM g GROUP BY 1)
        SELECT g.doc_id,
               CAST(sum(CASE WHEN 63 * gg > tg
                        THEN (1::BIGINT << (i * 9 + j)) ELSE 0 END)
                    AS BIGINT) AS ahash
        FROM g JOIN tot ON g.doc_id = tot.doc_id
        GROUP BY 1 ORDER BY 1
    """,
)
def q_image_ahash_md5(spark, sf_dir: str) -> DataFrame:
    """Average-hash fingerprints through the REAL decode: the same
    synthetic 9×7 PPMs as q_image_neardup_md5, hashed with
    ahash_bits on the identity 9×7 grid (63 bits — bit 62 max, sign-
    safe in both engines; block mean > grid mean decided by integer
    cross-multiplication, no division). The oracle replays pixel
    bytes, luma and the 63-cell mean comparison from the md5 hex —
    dHash checks adjacent-gradient structure, aHash checks
    global-contrast structure, and with both twins green the whole
    perceptual-hash toolbox is decoder-to-bits oracle-verified."""
    d = load_table(spark, sf_dir, "documents")
    img = _synth_doc_images(d)
    out = image_ahash(img, "payload", "doc_id", hash_w=9, hash_h=7).select(
        "doc_id", F.col("ahash").cast("bigint").alias("ahash")
    )
    # the sort's sampling job must not re-run the PPM decode pass
    return sort_past_boundary(out, "doc_id")


def _index_seed(spark, sf_dir: str, prefix: str, synth, build):
    """(index bands, batch) for the persisted-index md5 twins. The
    index is built once per (corpus, session) under
    io.corpus_cache_path(sf_dir, "documents", prefix) by ``build``
    over the CORPUS half of the ``synth`` fixture (doc_id % 10 ∈ {0,
    1} — every even base quintuple has 2 corpus + 3 batch members and
    every odd quintuple is batch-only, so the index-hit and the
    intra-batch paths both run at every SF). The BATCH half comes
    back UNDECODED: every invocation pays its own batch decode (the
    persisted artifact is the index under test, not a cache of decode
    output). Each half is filtered BEFORE synthesis, because a filter
    cannot push below the video fixture's mapInPandas."""
    from real_time_data_anomaly_detection_spark import fs as _fs

    d = load_table(spark, sf_dir, "documents")
    path = corpus_cache_path(sf_dir, "documents", prefix)
    if not _fs.exists(path + "/seed/_SUCCESS", spark):
        build(
            synth(d.filter(F.col("doc_id") % 10 <= 1)), path, "payload",
            "doc_id", hash_w=8, hash_h=7, n_bands=4,
        )
    batch = synth(d.filter(F.col("doc_id") % 10 >= 2))
    return spark.read.parquet(f"{path}/seed"), batch


@query(
    "q_image_index_md5",
    oracle=f"""{_IMG_DHASH_CTES}
        SELECT DISTINCT a.doc_id AS corpus_doc, b.doc_id AS batch_doc,
               CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
        FROM banded a JOIN banded b ON a.k = b.k AND a.key = b.key
        WHERE a.doc_id % 10 <= 1 AND b.doc_id % 10 >= 2
          AND bit_count(xor(a.dh, b.dh)) <= 3
        ORDER BY corpus_doc, batch_doc
    """,
)
def q_image_index_md5(spark, sf_dir: str) -> DataFrame:
    """Incremental image near-dup through the PERSISTED index: the
    corpus half of the synthetic 9×7 PPMs is indexed
    ONCE (build_image_index — banded dHash rows sorted by bk under
    /tmp, the q_index_phrase_search build-once discipline), then the
    batch half matches against the index read back from parquet
    (image_index_match → _index_match). The oracle replays decode +
    dHash + banding in DuckDB and joins the two halves directly — a
    hash-match proves the PERSISTED path returns exactly what the
    inline pair search would, the index == inline discipline."""
    idx, batch = _index_seed(
        spark, sf_dir, "imgidx", _synth_doc_images, build_image_index
    )
    pairs = image_index_match(
        idx, batch, "payload", "doc_id", max_hamming=3, hash_w=8, hash_h=7,
        n_bands=4,
    )
    return pairs.select(
        F.col("idx_id").alias("corpus_doc"),
        F.col("new_id").alias("batch_doc"),
        F.col("hamming").cast("bigint").alias("hamming"),
    ).orderBy("corpus_doc", "batch_doc")


@query(
    "q_image_ingest_admit_md5",
    oracle=f"""{_IMG_DHASH_CTES}
        SELECT b.doc_id, b.dh AS dhash
        FROM h b
        WHERE b.doc_id % 10 >= 2
          AND NOT EXISTS (
            SELECT 1 FROM banded x JOIN banded y
                ON x.k = y.k AND x.key = y.key
            WHERE y.doc_id = b.doc_id AND x.doc_id % 10 <= 1
              AND bit_count(xor(x.dh, y.dh)) <= 3)
          AND NOT EXISTS (
            SELECT 1 FROM banded x JOIN banded y
                ON x.k = y.k AND x.key = y.key
            WHERE y.doc_id = b.doc_id AND x.doc_id % 10 >= 2
              AND x.doc_id < b.doc_id
              AND bit_count(xor(x.dh, y.dh)) <= 3)
        ORDER BY doc_id
    """,
)
def q_image_ingest_admit_md5(spark, sf_dir: str) -> DataFrame:
    """The image-crawl ADMISSION decision, oracle-checked end-to-end
    admit exactly the batch images with no indexed
    near-dup (Hamming ≤ 3 to the corpus half) and no smaller-id batch
    neighbor — image_neardup_admit's seen-keys contract. Even base-image
    quintuples have corpus members, so their batch images are all
    rejected via the index; odd quintuples are batch-only, so exactly
    their min-id member survives the intra-batch rule — both paths
    exercised at every SF. The oracle replays the full decode → dHash
    → banding → double NOT EXISTS in DuckDB."""
    idx, batch = _index_seed(
        spark, sf_dir, "imgidx", _synth_doc_images, build_image_index
    )
    admitted = image_neardup_admit(
        idx, batch, "payload", "doc_id", max_hamming=3, hash_w=8, hash_h=7,
        n_bands=4,
    )
    return admitted.select(
        "doc_id", F.col("dhash").cast("bigint").alias("dhash")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Video md5 twins: the image family's
# hard cross-engine discipline extended to the video pipeline. Synthetic
# Motion-JPEG videos whose DECODED pixels are a SQL-replayable function of
# md5 hex — every frame is a REAL baseline JPEG (DC-only blocks, Q00 = 8, so
# IDCT yields exactly dc + 128 per pixel) inside a REAL container (AVI RIFF
# for even doc_ids, QuickTime/BMFF for odd ones), so the oracle checks the
# container walk + JPEG entropy decode + dHash + banding END-TO-END, not
# just the pair algebra. Reference parity: the reference has no video path
# at all (its media surface is the Kafka JSON feed, producer/producer-3.py);
# this is the §2.3 LLM-data-pipeline extension family.
# ---------------------------------------------------------------------------


def _vid_huff_canonical(counts: list[int], values: bytes) -> dict:
    """symbol -> (bit_length, code), the ENCODER side of
    _jpeg_build_huff's canonical assignment (same walk, inverted)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[values[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


# Minimal private Huffman alphabet: DC categories 0..7 as 4-bit codes
# 0000..0111 (diffs are multiples of 8 in [-120, 120], category <= 7),
# AC table holding ONLY the EOB symbol as the 2-bit code 00. Neither
# table uses the all-ones code of its length.
_VID_DC_COUNTS = [0, 0, 0, 8] + [0] * 12
_VID_DC_VALUES = bytes(range(8))
_VID_AC_COUNTS = [0, 1] + [0] * 14
_VID_AC_VALUES = bytes([0x00])
_VID_DC_CODES = _vid_huff_canonical(_VID_DC_COUNTS, _VID_DC_VALUES)
_VID_AC_CODES = _vid_huff_canonical(_VID_AC_COUNTS, _VID_AC_VALUES)


def _dc_only_jpeg(dcs: list[int], blocks_w: int, blocks_h: int) -> bytes:
    """REAL baseline grayscale JPEG (8·blocks_h × 8·blocks_w px) whose
    block i (row-major) decodes FLAT at luma dc_i + 128, exactly: with
    only the DC coefficient set and Q00 = 8, the orthonormal IDCT gives
    dc·8/8 + 128 per pixel (the float products are integers ± ~1e-14,
    so the decoder's round() lands exactly). The entropy stream is the
    standard DPCM DC chain + EOB per block with 0xFF byte-stuffing —
    the SAME code path (marker parse, canonical Huffman, EXTEND,
    dequant, IDCT) any real baseline JPEG takes through
    _jpeg_gray_pixels."""
    w, h = blocks_w * 8, blocks_h * 8

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes([8] + [1] * 63))
    out += seg(
        0xC0,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x01" + b"\x01\x11\x00",
    )
    out += seg(0xC4, b"\x00" + bytes(_VID_DC_COUNTS) + _VID_DC_VALUES)
    out += seg(0xC4, b"\x10" + bytes(_VID_AC_COUNTS) + _VID_AC_VALUES)
    out += seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")

    # Entropy stream as ONE arbitrary-precision accumulator, not a
    # per-bit loop: each block appends its (DC code | value bits | EOB)
    # group with two shifts, the final 1-padding closes the last byte,
    # and 0xFF byte-stuffing is a single bytes.replace — stuffing the
    # finished stream inserts 0x00 after every literal 0xFF exactly
    # like stuffing at write time did. Byte-identical output (pinned
    # by tests/test_multimodal.py), ~5x faster per frame; this
    # synthesis runs inside every video-family query invocation, so
    # its per-task Python cost is real bench/oracle time (guide §4.2).
    acc = 0
    nbits = 0
    ac_len, ac_code = _VID_AC_CODES[0x00]
    pred = 0
    for dc in dcs:
        diff = dc - pred
        pred = dc
        t = abs(diff).bit_length()
        dlen, dcode = _VID_DC_CODES[t]
        if t:
            acc = (
                (acc << (dlen + t))
                | (dcode << t)
                | (diff if diff > 0 else diff + (1 << t) - 1)
            )
            nbits += dlen + t
        else:
            acc = (acc << dlen) | dcode
            nbits += dlen
        acc = (acc << ac_len) | ac_code
        nbits += ac_len
    pad = (-nbits) % 8
    acc = (acc << pad) | ((1 << pad) - 1)
    nbits += pad
    out += acc.to_bytes(nbits // 8, "big").replace(b"\xff", b"\xff\x00")
    out += b"\xff\xd9"
    return bytes(out)


def _synth_avi(frames: list[bytes]) -> bytes:
    """Minimal REAL AVI-MJPEG container: RIFF/AVI with a hdrl LIST
    declaring one 'vids'/'MJPG' stream and a movi LIST of even-padded
    00dc frame chunks — everything _avi_mjpeg_frames walks."""

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return cid + len(data).to_bytes(4, "little") + data + pad

    strh = chunk(b"strh", b"vidsMJPG" + b"\x00" * 48)
    hdrl = chunk(b"LIST", b"hdrl" + strh)
    movi = chunk(
        b"LIST", b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _synth_mov(frames: list[bytes]) -> bytes:
    """Minimal REAL QuickTime photo-JPEG container: moov/trak/mdia/
    minf/stbl with stsd('jpeg'), per-sample stsz, a single-chunk stsc
    run and an ABSOLUTE stco offset into the trailing mdat — the full
    sample-table walk _mov_jpeg_frames performs."""

    def box(btype: bytes, data: bytes) -> bytes:
        return (len(data) + 8).to_bytes(4, "big") + btype + data

    n = len(frames)
    entry = (86).to_bytes(4, "big") + b"jpeg" + b"\x00" * 78
    stsd = box(b"stsd", b"\x00" * 4 + (1).to_bytes(4, "big") + entry)
    stsz = box(
        b"stsz",
        b"\x00" * 4 + (0).to_bytes(4, "big") + n.to_bytes(4, "big")
        + b"".join(len(f).to_bytes(4, "big") for f in frames),
    )
    stsc = box(
        b"stsc",
        b"\x00" * 4 + (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
        + (1).to_bytes(4, "big"),
    )

    def build(off: int) -> bytes:
        stco = box(
            b"stco", b"\x00" * 4 + (1).to_bytes(4, "big") + off.to_bytes(4, "big")
        )
        return box(
            b"moov",
            box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stsd + stsz + stsc + stco)))),
        )

    moov = build(len(build(0)) + 8)
    return moov + box(b"mdat", b"".join(frames))


_VID_BLOCKS_W, _VID_BLOCKS_H = 9, 7  # 63 blocks = 63 md5 nibbles; 56-bit dHash


def _synth_video_payload(doc_id: int) -> bytes:
    """Deterministic per-document Motion-JPEG video: 2 + doc_id % 3
    frames of 72×56 px, 63 flat 8×8 blocks per frame with
    dc = nibble·8 − 64 from md5('vid:' || doc_id div 5 || ':' || f ||
    ':' || k) (k = 0, 1 — 64 hex chars, first 63 used; five docs share
    each base video), frame 0's first block replaced by the per-doc
    perturbation (doc_id % 5)·16 − 64 (flips at most dHash bit 0, the
    image twins' one-cell discipline). Container alternates by parity:
    even doc_ids → AVI RIFF, odd → QuickTime BMFF, so BOTH walkers sit
    under the oracle gate at every SF."""
    import hashlib as _hl

    base = doc_id // 5
    frames = []
    for f in range(2 + doc_id % 3):
        hx = (
            _hl.md5(f"vid:{base}:{f}:0".encode()).hexdigest()
            + _hl.md5(f"vid:{base}:{f}:1".encode()).hexdigest()
        )
        dcs = [int(c, 16) * 8 - 64 for c in hx[:63]]
        if f == 0:
            dcs[0] = (doc_id % 5) * 16 - 64
        frames.append(_dc_only_jpeg(dcs, _VID_BLOCKS_W, _VID_BLOCKS_H))
    return _synth_avi(frames) if doc_id % 2 == 0 else _synth_mov(frames)


def _synth_doc_videos(d: DataFrame) -> DataFrame:
    """(doc_id, payload): the per-document synthetic video relation —
    built in the Arrow worker (the bitstream assembly is Python, like
    a real crawl's payloads would arrive opaque); everything AFTER
    this point is the production pipeline under test.

    The id relation is repartitioned to defaultParallelism BEFORE the
    mapInPandas: documents.parquet is one small file, so the scan
    yields one partition and the Python bitstream assembly + the
    downstream JPEG decode would otherwise run on a single core (a
    39 s q_video_dhash_md5 bench row was exactly this).
    Only 8-byte ids shuffle; a REAL crawl corpus arrives as many
    splits and needs no such spread — this is fixture plumbing."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [_synth_video_payload(i) for i in ids],
                }
            )

    n = d.sparkSession.sparkContext.defaultParallelism
    return d.select("doc_id").repartition(n, "doc_id").mapInPandas(_gen, schema)


# Shared DuckDB replay of the synthetic-video decode + per-frame dHash +
# banding: md5 hex → DC values → (pixels are dc + 128, a strictly
# monotone map, so adjacent-cell mean comparisons reduce to dc
# comparisons) → 56-bit pack → 4×14-bit bands. The CTE prefix of every
# video md5 twin; 'vban' carries (doc_id, f, dh, k, key).
_VID_DHASH_CTES = """
        WITH vf AS (
            SELECT doc_id, f
            FROM documents, UNNEST(generate_series(0, 1 + doc_id % 3)) AS t(f)),
        vhx AS (
            SELECT doc_id, f,
                   md5('vid:' || CAST(doc_id // 5 AS VARCHAR) || ':'
                       || CAST(f AS VARCHAR) || ':0')
                || md5('vid:' || CAST(doc_id // 5 AS VARCHAR) || ':'
                       || CAST(f AS VARCHAR) || ':1') AS hex
            FROM vf),
        vdc AS (
            SELECT doc_id, f, i,
                   CASE WHEN f = 0 AND i = 0 THEN (doc_id % 5) * 16 - 64
                        ELSE ('0x' || substr(hex, i + 1, 1))::INT * 8 - 64
                   END AS dc
            FROM vhx, UNNEST(generate_series(0, 62)) AS t(i)),
        vbits AS (
            SELECT a.doc_id, a.f, (a.i // 9) * 8 + (a.i % 9) AS b,
                   CASE WHEN a.dc < c.dc THEN 1 ELSE 0 END AS v
            FROM vdc a JOIN vdc c ON a.doc_id = c.doc_id AND a.f = c.f
                                 AND c.i = a.i + 1
            WHERE a.i % 9 < 8),
        vh AS (
            SELECT doc_id, f,
                   CAST(sum(CASE WHEN v = 1 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS dh
            FROM vbits GROUP BY 1, 2),
        vban AS (
            SELECT doc_id, f, dh, k, (dh >> (k * 14)) & 16383 AS key
            FROM vh, UNNEST(generate_series(0, 3)) AS t(k))"""


@query(
    "q_video_dhash_md5",
    oracle=f"""{_VID_DHASH_CTES}
        SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, dh AS dhash
        FROM vh ORDER BY doc_id, frame_idx
    """,
)
def q_video_dhash_md5(spark, sf_dir: str) -> DataFrame:
    """Per-frame video perceptual hashes, oracle-checked END-TO-END
    every document gets a REAL Motion-JPEG video — 2-4
    frames of 72×56 px, each a real baseline JPEG whose DC-only blocks
    put pixel = dc + 128 with dc from md5 nibbles, inside a real AVI
    (even doc_ids) or QuickTime (odd doc_ids) container. The Spark
    side runs the PRODUCTION path — _avi_mjpeg_frames /
    _mov_jpeg_frames container walk, the full baseline JPEG entropy
    decode (_jpeg_gray_pixels), integer block-mean dHash on the 8×7
    grid (56 bits, sign-safe in both engines) — while the oracle
    replays md5 hex → DC values → adjacent-cell comparisons → bit-pack
    in DuckDB. A hash match proves BOTH container walkers and the
    Huffman/DPCM/IDCT decode chain bit-exact cross-engine, the
    q_image_neardup_md5 discipline extended to video
    (multimodal.py:_mjpeg_frames, video_frame_dhash). The decode runs
    INSIDE every invocation (no cross-run hash cache — the bench must
    compute from the parquet inputs), partition-parallel
    (_synth_doc_videos repartitions to defaultParallelism)."""
    d = load_table(spark, sf_dir, "documents")
    vids = _synth_doc_videos(d)
    fps = video_frame_dhash(
        vids, "payload", "doc_id", hash_w=8, hash_h=7
    )
    out = fps.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("dhash").cast("bigint").alias("dhash"),
    )
    # Unmaterialized, the sort's sampling job re-ran the whole
    # synth+decode chain (measured 2.14 s vs 0.98 s for one pass at
    # sf0.1); the checkpoint is ~24 bytes/frame.
    return sort_past_boundary(out, "doc_id", "frame_idx")


@query(
    "q_video_index_md5",
    oracle=f"""{_VID_DHASH_CTES}
        SELECT DISTINCT a.doc_id AS corpus_doc, b.doc_id AS batch_doc,
               CAST(b.f AS BIGINT) AS frame_idx,
               CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
        FROM vban a JOIN vban b ON a.k = b.k AND a.key = b.key
        WHERE a.doc_id % 10 <= 1 AND b.doc_id % 10 >= 2
          AND bit_count(xor(a.dh, b.dh)) <= 3
        ORDER BY corpus_doc, batch_doc, frame_idx, hamming
    """,
)
def q_video_index_md5(spark, sf_dir: str) -> DataFrame:
    """Cross-media frame match through the PERSISTED video index: the
    corpus half of the synthetic videos is indexed
    ONCE (build_video_index — banded per-frame dHash rows, bk-sorted
    parquet), then every FRAME of the batch half matches against the
    index read back from disk (video_index_match → _index_match, the
    body q_image_index_md5 runs). The oracle replays
    decode + dHash + banding for both halves and joins them directly —
    a hash match proves the PERSISTED path returns exactly what an
    inline frame join would, q_image_index_md5's index == inline
    discipline at frame granularity."""
    idx, batch = _index_seed(
        spark, sf_dir, "vididx", _synth_doc_videos, build_video_index
    )
    pairs = video_index_match(
        idx, batch, "payload", "doc_id", max_hamming=3, hash_w=8, hash_h=7,
        n_bands=4,
    )
    return pairs.select(
        F.col("idx_id").alias("corpus_doc"),
        F.col("video_id").alias("batch_doc"),
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("hamming").cast("bigint").alias("hamming"),
    ).orderBy("corpus_doc", "batch_doc", "frame_idx", "hamming")


@query(
    "q_video_ingest_admit_md5",
    oracle=f"""{_VID_DHASH_CTES},
        cov AS (
            SELECT DISTINCT b.doc_id, b.f
            FROM vban b JOIN vban x ON b.k = x.k AND b.key = x.key
            WHERE b.doc_id % 10 >= 2
              AND (x.doc_id % 10 <= 1
                   OR (x.doc_id % 10 >= 2 AND x.doc_id < b.doc_id))
              AND bit_count(xor(x.dh, b.dh)) <= 3),
        nf AS (
            SELECT doc_id, CAST(count(DISTINCT f) AS BIGINT) AS n_frames
            FROM vh WHERE doc_id % 10 >= 2 GROUP BY 1),
        cv AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
            FROM cov GROUP BY 1)
        SELECT nf.doc_id, nf.n_frames,
               CAST(COALESCE(cv.covered, 0) AS BIGINT) AS covered
        FROM nf LEFT JOIN cv USING (doc_id)
        WHERE COALESCE(cv.covered, 0)
              < CAST(ceil(nf.n_frames * 0.5) AS BIGINT)
        ORDER BY doc_id
    """,
)
def q_video_ingest_admit_md5(spark, sf_dir: str) -> DataFrame:
    """The video-crawl ADMISSION decision, oracle-checked end-to-end
    admit exactly the batch videos with FEWER than half
    their frames covered — a frame is covered when it has a dHash
    near-dup (Hamming ≤ 3) in the persisted seen-frame index or in a
    SMALLER-ID batch video (first-arrival wins, frames of the same
    video never cover each other) — video_neardup_admit's frame-
    coverage contract. Even base quintuples have corpus members (their
    batch videos' frames are index-covered except the perturbed frame
    0 of far perturbations); odd quintuples are batch-only (coverage
    comes from the min-id member) — both paths live at every SF. The
    oracle replays decode → dHash → banding → coverage → the
    covered < ceil(n_frames·0.5) admission inequality VERBATIM in
    DuckDB (the superficially equivalent
    2·covered ≤ n_frames admits the exactly-half-covered even-n case
    the production rule rejects — replicate the rule, don't
    re-derive it)."""
    idx, batch = _index_seed(
        spark, sf_dir, "vididx", _synth_doc_videos, build_video_index
    )
    admitted = video_neardup_admit(
        idx, batch, "payload", "doc_id", max_hamming=3, min_frac=0.5,
        hash_w=8, hash_h=7, n_bands=4,
    )
    return admitted.select(
        "doc_id",
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("covered").cast("bigint").alias("covered"),
    ).orderBy("doc_id")


@query(
    "q_video_scene_cuts_md5",
    oracle=f"""{_VID_DHASH_CTES}
        SELECT a.doc_id AS doc_id, CAST(a.f AS BIGINT) AS frame_idx,
               CAST(a.f - 1 AS BIGINT) AS prev_idx,
               CAST(bit_count(xor(a.dh, p.dh)) AS BIGINT) AS hamming,
               bit_count(xor(a.dh, p.dh)) > 10 AS is_cut
        FROM vh a JOIN vh p ON a.doc_id = p.doc_id AND p.f = a.f - 1
        ORDER BY a.doc_id, frame_idx
    """,
)
def q_video_scene_cuts_md5(spark, sf_dir: str) -> DataFrame:
    """Scene-change detection over the synthetic Motion-JPEG fixture,
    oracle-checked end-to-end: video_scene_cuts' hash-delta
    detector — per video, each frame's dHash Hamming distance to the
    previous decodable frame, cut iff > 10 bits — replayed in DuckDB
    from the md5-derived DC grid. Every frame decodes, so the lag
    window's predecessor is always frame f−1 and the oracle joins
    adjacent frame indexes directly; consecutive frames have
    independent md5-derived hashes (expected distance ~28 bits), so
    both cut and non-cut rows appear whenever a quintuple's perturbed
    frame 0 sits near its base (the one-bit perturbation makes
    frame 0→1 distances vary across same-base docs)."""
    d = load_table(spark, sf_dir, "documents")
    vids = _synth_doc_videos(d)
    cuts = video_scene_cuts(
        vids, "payload", "doc_id", threshold=10, hash_w=8, hash_h=7
    )
    return cuts.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("prev_idx").cast("bigint").alias("prev_idx"),
        F.col("hamming").cast("bigint").alias("hamming"),
        "is_cut",
    ).orderBy("doc_id", "frame_idx")


@query(
    "q_video_neardup_md5",
    oracle=f"""{_VID_DHASH_CTES},
        hits AS (
            SELECT DISTINCT a.doc_id AS va, b.doc_id AS vb,
                   a.f AS fa, b.f AS fb
            FROM vban a JOIN vban b ON a.k = b.k AND a.key = b.key
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.dh, b.dh)) <= 3),
        pp AS (
            SELECT va, vb,
                   CAST(count(DISTINCT fa) AS BIGINT) AS matched_a,
                   CAST(count(DISTINCT fb) AS BIGINT) AS matched_b
            FROM hits GROUP BY 1, 2),
        nf AS (
            SELECT doc_id, CAST(count(DISTINCT f) AS BIGINT) AS n
            FROM vh GROUP BY 1)
        SELECT pp.va AS vid_a, pp.vb AS vid_b, na.n AS n_a, nb.n AS n_b,
               pp.matched_a, pp.matched_b
        FROM pp JOIN nf na ON na.doc_id = pp.va
                JOIN nf nb ON nb.doc_id = pp.vb
        WHERE CASE WHEN na.n <= nb.n
               THEN pp.matched_a >= CAST(ceil(na.n * 0.5) AS BIGINT)
               ELSE pp.matched_b >= CAST(ceil(nb.n * 0.5) AS BIGINT) END
        ORDER BY vid_a, vid_b
    """,
)
def q_video_neardup_md5(spark, sf_dir: str) -> DataFrame:
    """Video-vs-video near-dup via the frame-containment rule, oracle-
    checked end-to-end: video_neardup_pairs — banded frame
    self-join, per-pair distinct-frame match counts, a pair qualifies
    when ≥ half the SHORTER video's frames match somewhere in the
    other — replayed in DuckDB over the md5-derived frame hashes.
    Same-base quintuples (frames identical except the one-dc frame-0
    perturbation, lengths 2-4 varying by doc_id % 3) exercise both
    the clip-containment branch (shorter video fully matched) and the
    matched-count algebra; the oracle runs the identical band join →
    DISTINCT → roll-up → ceil(min_frac·n) inequality."""
    d = load_table(spark, sf_dir, "documents")
    vids = _synth_doc_videos(d)
    pairs = video_neardup_pairs(
        vids, "payload", "doc_id", max_hamming=3, min_frac=0.5,
        hash_w=8, hash_h=7, n_bands=4,
    )
    return pairs.select(
        "vid_a", "vid_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("matched_a").cast("bigint").alias("matched_a"),
        F.col("matched_b").cast("bigint").alias("matched_b"),
    ).orderBy("vid_a", "vid_b")
