"""Multimodal decode stack and perceptual-hash operators: the
codec-free pixel decoders behind ``decode_gray_milli``, the WAV sample
decoder, Motion-JPEG frame extraction, and the image / audio / video
near-dup operators built on them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.operators.multimodal import (
    _wav_samples_int,
    decode_gray_milli,
)


def _milli(rgb):
    """Reference milli-luma 299·R + 587·G + 114·B of an (h, w, 3) image."""
    import numpy as np

    g = rgb.astype(np.int64)
    return g[..., 0] * 299 + g[..., 1] * 587 + g[..., 2] * 114


def _wav_bytes(samples, rate=16000, channels=1, width=2):
    """Build a PCM WAV in memory with stdlib wave (no codec libs)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_builtin_wav_decode():
    """RIFF PCM WAV decodes for real — numpy + stdlib only, no codecs:
    the samples come back exactly, centered, from the first channel."""
    import numpy as np

    amp = 8192
    samples = _wav_samples_int(_wav_bytes([amp] * 1600))
    assert samples.dtype == np.int64 and len(samples) == 1600
    assert (samples == amp).all()

    # stereo: samples come from the FIRST channel only
    left, right = 8192, 32000
    stereo = _wav_samples_int(_wav_bytes([left, right] * 800, channels=2))
    assert len(stereo) == 800 and (stereo == left).all()

    assert _wav_samples_int(b"not a wav") is None


def test_builtin_ppm_and_bmp_decode():
    """P6 PPM and 24bpp BMP decode for real with numpy alone; the same
    pixels through either container give the same milli-luma matrix."""
    import numpy as np

    w, h = 8, 4
    # uniform gray 128 -> milli-luma 128 * (299 + 587 + 114)
    ppm = b"P6\n# comment\n%d %d\n255\n" % (w, h) + bytes([128, 128, 128]) * (w * h)
    gm = decode_gray_milli(ppm)
    assert gm.shape == (h, w)
    assert (gm == 128_000).all()

    # BMP: same uniform image, bottom-up rows, BGR, 4-byte row padding
    row = bytes([128, 128, 128]) * w
    pad = b"\x00" * ((4 - (w * 3) % 4) % 4)
    pixels = (row + pad) * h
    header = (
        b"BM"
        + (54 + len(pixels)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pixels).to_bytes(4, "little")
        + b"\x00" * 16
    )
    assert np.array_equal(decode_gray_milli(header + pixels), gm)


def _png_filter_rows(flat, c, filters):
    """Forward PNG scanline filters over a (rows, row_bytes) int16
    matrix — shared by the plain and Adam7 fixture encoders."""
    import numpy as np

    raw = bytearray()
    nbytes = flat.shape[1]
    for r, ftype in enumerate(filters):
        line = flat[r]
        prev = flat[r - 1] if r else np.zeros(nbytes, dtype=np.int16)
        left = np.concatenate([np.zeros(c, dtype=np.int16), line[:-c]])
        upleft = np.concatenate([np.zeros(c, dtype=np.int16), prev[:-c]])
        if ftype == 0:
            enc = line
        elif ftype == 1:
            enc = line - left
        elif ftype == 2:
            enc = line - prev
        elif ftype == 3:
            enc = line - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = line - pred
        raw.append(ftype)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
    return raw


def _png_bytes(pixels, filters=None):
    """Minimal PNG encoder for fixtures: ``pixels`` is an (h, w, c)
    uint8 array (c in 1/2/3/4); ``filters`` optionally picks the
    per-row filter type (0-4), applying the forward filter from the
    spec so the decoder's unfilter path is genuinely exercised."""
    import struct
    import zlib

    import numpy as np

    h, w, c = pixels.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    filters = filters or [0] * h
    raw = _png_filter_rows(pixels.reshape(h, w * c).astype(np.int16), c, filters)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_builtin_png_decode():
    """8-bit PNG decodes for real — stdlib zlib + numpy, no Pillow —
    across every scanline filter type, reproducing the source pixels'
    milli-luma exactly."""
    import numpy as np

    # uniform gray 128, filter 0: gray PNGs scale the sample by 1000
    gray = np.full((4, 8, 1), 128, dtype=np.uint8)
    gm = decode_gray_milli(_png_bytes(gray))
    assert gm.shape == (4, 8) and (gm == 128_000).all()

    # random RGB, one row per filter type incl. Paeth
    rng = np.random.default_rng(42)
    rgb = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    want = _milli(rgb)
    got = decode_gray_milli(_png_bytes(rgb, filters=[0, 1, 2, 3, 4]))
    assert np.array_equal(got, want)

    # RGBA: alpha channel ignored -> identical luma
    rgba = np.concatenate(
        [rgb, rng.integers(0, 256, size=(5, 7, 1), dtype=np.uint8)], axis=2
    )
    got = decode_gray_milli(_png_bytes(rgba, filters=[4, 3, 2, 1, 0]))
    assert np.array_equal(got, want)

    # 16-bit depth is outside the decoder's scope: None, never a crash
    deep = _png_bytes(gray)
    deep = deep.replace(b"\x08\x00\x00\x00\x00", b"\x10\x00\x00\x00\x00", 1)
    assert decode_gray_milli(deep) is None


def _gif_bytes(rgb, interlaced=False):
    """Minimal GIF89a encoder for tests: 256-entry palette built from
    the image's unique colors, pixels emitted as LITERAL 9-bit LZW
    codes with a clear code every 250 symbols (the classic
    'uncompressed GIF' technique — valid LZW, zero dictionary use).
    ``interlaced=True`` stores rows in the four-pass GIF order and
    sets the descriptor flag."""
    import numpy as np
    import struct

    h, w, _ = rgb.shape
    if interlaced:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        rgb = rgb[np.asarray(order)]
    flat = rgb.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    assert len(colors) <= 256
    palette = np.zeros((256, 3), dtype=np.uint8)
    palette[: len(colors)] = colors

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlaced else 0x00])
    out += bytes([8])  # LZW min code size

    # 9-bit codes, LSB-first: CLEAR, then literals with periodic CLEAR
    codes = [256]
    for i, v in enumerate(idx.tolist()):
        if i and i % 250 == 0:
            codes.append(256)
        codes.append(int(v))
    codes.append(257)  # EOI
    bits = bytearray()
    acc, nbits = 0, 0
    for c in codes:
        acc |= c << nbits
        nbits += 9
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        bits.append(acc & 0xFF)
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        out += bytes([len(chunk)]) + bytes(chunk)
    out += b"\x00\x3b"
    return bytes(out)


def test_builtin_gif_decode():
    """GIF decodes for real — stdlib + numpy GIF-LZW, no Pillow —
    including dictionary growth across clear codes, reproducing the
    source pixels' milli-luma exactly."""
    import numpy as np

    rng = np.random.default_rng(7)
    # 20x30 image, 600 pixels -> exercises multiple clear-code resets;
    # drawn from a 200-color palette so it fits one GIF color table
    palette = rng.integers(0, 256, size=(200, 3), dtype=np.uint8)
    rgb = palette[rng.integers(0, 200, size=(20, 30))]
    assert np.array_equal(decode_gray_milli(_gif_bytes(rgb)), _milli(rgb))


def test_builtin_gif_real_lzw_stream():
    """A GIF whose LZW stream actually USES the dictionary (encoded
    with a real compressor): pin the decoder's KwKwK and growth paths
    with a tiny hand-compressed repetitive image."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _gif_lzw_decode,
    )

    # Encode "0 0 0 0" with real LZW (min_code_size=2, clear=4, eoi=5):
    # CLEAR, 0, 6(=00 via KwKwK), 0, EOI  decodes to 0,0,0,0... build
    # the bitstream by hand: 3-bit codes LSB-first.
    codes = [4, 0, 6, 0, 5]
    acc, nbits, bs = 0, 0, bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 3
        while nbits >= 8:
            bs.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        bs.append(acc & 0xFF)
    out = _gif_lzw_decode(2, bytes(bs))
    assert out == [0, 0, 0, 0]


# --- Baseline JPEG: pure-Python encoder (test-side) + decoder tests --------
#
# The encoder mirrors ITU T.81 baseline sequential: level shift, 8x8
# forward DCT, quantization (Annex K luminance table), zigzag, DC
# prediction, canonical Huffman (Annex K typical tables), 0xFF byte
# stuffing, optional restart intervals, 1-component grayscale or
# 3-component 4:4:4 / 4:2:0 YCbCr. It exists so the numpy decoder in
# operators/multimodal.py is exercised on REAL baseline streams without
# Pillow in the environment.

_JQT = [  # Annex K Table K.1 luminance quantization
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_codes(bits, vals):
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return codes


class _JpegWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.put(1, 1)  # pad with 1s per spec


def _cat(v):
    a, t = abs(v), 0
    while a:
        a >>= 1
        t += 1
    return t


def _encode_block(w, blk, q, dc_codes, ac_codes, pred, zigzag, C):
    import numpy as np

    coef = C @ (blk - 128.0) @ C.T
    zz = np.round(coef.reshape(64)[zigzag] / q[zigzag]).astype(int)
    diff = int(zz[0]) - pred
    t = _cat(diff)
    ln, code = dc_codes[t]
    w.put(code, ln)
    if t:
        w.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = max([k for k in range(1, 64) if zz[k]] or [0])
    for k in range(1, 64):
        if k > last_nz:
            ln, code = ac_codes[0x00]  # EOB
            w.put(code, ln)
            break
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_codes[0xF0]  # ZRL
            w.put(code, ln)
            run -= 16
        s = _cat(v)
        ln, code = ac_codes[(run << 4) | s]
        w.put(code, ln)
        w.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    return int(zz[0])


def _jpeg_bytes(img, subsampling="gray", restart_interval=0):
    """Baseline JFIF encode of a grayscale (h,w) or RGB (h,w,3) uint8
    array. subsampling: 'gray' (1 comp), '444', or '420'."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _DCT_C,
        _JPEG_ZIGZAG,
    )

    q = np.array(_JQT, dtype=np.float64)
    qzz = np.empty(64)
    qzz[_JPEG_ZIGZAG] = q  # _JQT is in zigzag order per the spec table
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)

    img = np.asarray(img, dtype=np.float64)
    if subsampling == "gray":
        planes = [img]
        samp = [(1, 1)]
    else:
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        if subsampling == "444":
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        else:  # 420
            cb2 = cb[::2, ::2]
            cr2 = cr[::2, ::2]
            planes = [y, cb2, cr2]
            samp = [(2, 2), (1, 1), (1, 1)]
    h, w_ = planes[0].shape
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w_ // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    def pad(p, th, tw):
        ph = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        return ph

    padded = [
        pad(p, mcus_y * 8 * sv, mcus_x * 8 * sh)
        for p, (sh, sv) in zip(planes, samp)
    ]

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT (zigzag order, table 0)
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00"
    out += bytes(int(v) for v in _JQT)
    # SOF0
    ncomp = len(planes)
    sof = bytearray([8]) + h.to_bytes(2, "big") + w_.to_bytes(2, "big")
    sof.append(ncomp)
    for cid, (sh, sv) in enumerate(samp, start=1):
        sof += bytes([cid, (sh << 4) | sv, 0])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    # DHT: DC table 0 + AC table 0 (shared by all components)
    dht = bytearray([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht += bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    out += b"\xff\xc4" + (len(dht) + 2).to_bytes(2, "big") + dht
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big") + restart_interval.to_bytes(
            2, "big"
        )
    # SOS
    sos = bytearray([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos

    wtr = _JpegWriter()
    preds = [0] * ncomp
    mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.flush()
                out += wtr.out
                wtr = _JpegWriter()
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * ncomp
            for ci, (p, (sh, sv)) in enumerate(zip(padded, samp)):
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        blk = p[y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(
                            wtr, blk, qzz, dc_codes, ac_codes, preds[ci],
                            _JPEG_ZIGZAG, _DCT_C,
                        )
            mcu += 1
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def test_builtin_jpeg_decode_grayscale():
    """Generated baseline grayscale JPEG decodes codec-free and the
    luma plane matches the source image within quantization error."""
    import numpy as np

    rng = np.random.default_rng(7)
    x = np.linspace(0, 255, 64)
    img = np.clip(
        np.add.outer(x, x) / 2 + rng.normal(0, 8, (64, 64)), 0, 255
    ).astype(np.uint8)
    gm = decode_gray_milli(_jpeg_bytes(img, "gray"))
    assert gm.shape == (64, 64) and (gm % 1000 == 0).all()
    assert float(np.abs(gm / 1000 - img).mean()) < 8  # lossy: small drift


def test_builtin_jpeg_decode_color_444_and_420():
    """3-component baseline JPEGs (4:4:4 and 4:2:0): the luma-only
    decode matches the encoder's own Y plane — chroma blocks advance
    the bitstream correctly in both interleave shapes."""
    import numpy as np

    # smooth gradients: DCT quantization error stays tiny
    gx = np.linspace(0, 255, 40)
    gy = np.linspace(0, 255, 48)
    img = np.stack(
        [
            np.add.outer(gy, gx) / 2,
            np.tile(gx, (48, 1)),
            np.tile(gy[:, None], (1, 40)),
        ],
        axis=-1,
    ).astype(np.uint8)
    y = 0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
    for mode in ("444", "420"):
        gm = decode_gray_milli(_jpeg_bytes(img, mode))
        assert gm is not None and gm.shape == (48, 40), mode
        err = np.abs(gm / 1000 - y)
        assert float(err.mean()) < 2 and float(err.max()) < 6, mode


def test_builtin_jpeg_restart_markers():
    """Restart intervals reset DC prediction at each RSTn marker: the
    decode equals the same image encoded without restarts."""
    import numpy as np

    rng = np.random.default_rng(3)
    img = np.clip(rng.normal(128, 40, (40, 56)), 0, 255).astype(np.uint8)
    payload = _jpeg_bytes(img, "gray", restart_interval=3)
    assert b"\xff\xd0" in payload or b"\xff\xd1" in payload  # RSTn emitted
    gm = decode_gray_milli(payload)
    assert gm is not None and gm.shape == (40, 56)
    assert np.array_equal(gm, decode_gray_milli(_jpeg_bytes(img, "gray")))


def test_scanless_jpeg_falls_to_stub():
    """A SOF2 stream with NO decodable SOS scan decodes to None, so
    the row's hash is null instead of the job failing."""
    # SOI + minimal SOF2 segment, then EOI
    payload = (
        b"\xff\xd8"
        + b"\xff\xc2" + (11).to_bytes(2, "big")
        + bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
        + b"\xff\xd9"
    )
    assert decode_gray_milli(payload) is None


# ---------------------------------------------------------------------------
# Perceptual near-dup (dHash)
# ---------------------------------------------------------------------------


def _ppm(w, h, rgb_bytes):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(rgb_bytes)


def test_dhash_resize_matches_numpy_reference():
    """The integer block-mean resize: for a 36x24 image the 9x8 grid
    blocks are exact 4x3 tiles; dhash_bits must equal a straight numpy
    reference (tile floor-means + adjacent comparisons)."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        decode_gray_milli,
        dhash_bits,
    )

    rng = np.random.RandomState(7)
    w, h = 36, 24
    rgb = rng.randint(0, 256, size=(h * w * 3,), dtype=np.int64)
    gm = decode_gray_milli(_ppm(w, h, rgb.astype(np.uint8).tolist()))
    assert gm.shape == (h, w)
    # numpy reference
    ref = np.zeros((8, 9), dtype=np.int64)
    for i in range(8):
        for j in range(9):
            blk = gm[i * 3:(i + 1) * 3, j * 4:(j + 1) * 4]
            ref[i, j] = int(blk.sum()) // blk.size
    want = 0
    for i in range(8):
        for j in range(8):
            if ref[i, j] < ref[i, j + 1]:
                want |= 1 << (i * 8 + j)
    if want >= 1 << 63:
        want -= 1 << 64
    assert dhash_bits(gm, 8, 8) == want


def test_bmp_pixels_top_down_orientation():
    """_bmp_pixels must flip positive-height (bottom-up) BMPs so the
    gray matrix is top-down — histograms never noticed, dHash does."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        decode_gray_milli,
    )

    w, h = 4, 2
    # top row white, bottom row black (as the viewer sees it)
    top = [255, 255, 255] * w
    bottom = [0, 0, 0] * w
    # BMP with height>0 stores the BOTTOM row first; rows are 4-byte
    # aligned (4*3=12 bytes, already aligned)
    px = bytes(bottom) + bytes(top)
    header = (
        b"BM" + (54 + len(px)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(px).to_bytes(4, "little")
        + b"\x00" * 16
    )
    gm = decode_gray_milli(header + px)
    assert gm.shape == (2, 4)
    assert (gm[0] == 255000).all() and (gm[1] == 0).all()


def test_image_neardup_recall_on_perturbed_fixtures(spark):
    """Recall + precision on synthetically perturbed images: each base
    image gets a copy with a few mildly brightened pixels (a near-dup)
    and the pair search must (1) find every base↔perturbed pair at
    Hamming ≤ 6 and (2) not pair distinct random images."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        image_neardup_pairs,
    )

    rng = np.random.RandomState(42)
    w, h = 36, 24
    rows = []
    n_base = 20
    for b in range(n_base):
        rgb = rng.randint(0, 256, size=(h * w * 3,), dtype=np.int64)
        rows.append((b, _ppm(w, h, rgb.astype(np.uint8).tolist())))
        pert = rgb.copy()
        idx = rng.choice(h * w * 3, size=5, replace=False)
        pert[idx] = np.minimum(pert[idx] + 10, 255)
        rows.append((1000 + b, _ppm(w, h, pert.astype(np.uint8).tolist())))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        (r.img_a, r.img_b)
        for r in image_neardup_pairs(df, max_hamming=6).collect()
    }
    want = {(b, 1000 + b) for b in range(n_base)}
    found = {p for p in got if p in want}
    assert len(found) / n_base >= 0.9  # recall
    # precision: essentially no cross-base pairs (random 64-bit hashes)
    spurious = got - want
    assert len(spurious) <= 1


def test_audio_band_hash_matches_reference():
    """audio_band_hash over a real 16-bit WAV: stdlib-wave decode must
    yield centered integer samples and the 16-band sign hash must
    equal a direct numpy reference."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _wav_samples_int,
        audio_band_hash,
    )

    rng = np.random.RandomState(3)
    samples = rng.randint(-20000, 20000, size=160).astype(np.int16)
    payload = _wav_bytes([int(x) for x in samples])
    s = _wav_samples_int(payload)
    assert s is not None and s.dtype == np.int64
    n = (s.size // 16) * 16
    e = np.abs(s[:n]).reshape(16, -1).sum(axis=1)
    want = sum(1 << k for k in range(16) if 16 * int(e[k]) > int(e.sum()))
    assert audio_band_hash(s) == want


def test_decode_gray_milli_gif_and_jpeg_paths():
    """decode_gray_milli covers GIF (palette pixels, integer luma) and
    baseline JPEG (luma plane ×1000); a perturbed GIF copy stays
    within a small dHash distance while a distinct image does not."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        decode_gray_milli,
        dhash_bits,
    )

    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    gif = _gif_bytes(rgb)
    gm = decode_gray_milli(gif)
    assert gm is not None and gm.shape == (16, 16)
    assert (gm == _milli(rgb)).all()

    # JPEG: lossy, so check the milli scale and shape contract only
    img = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    jp = _jpeg_bytes(img)
    jm = decode_gray_milli(jp)
    assert jm is not None and jm.shape == (16, 16)
    assert (jm % 1000 == 0).all() and jm.max() <= 255000

    # perturbed GIF: brighten a few pixels slightly
    pert = rgb.copy()
    pert[0, 0] = np.minimum(pert[0, 0].astype(int) + 8, 255).astype(np.uint8)
    d = bin(
        (dhash_bits(gm, 8, 8) ^ dhash_bits(decode_gray_milli(_gif_bytes(pert)), 8, 8))
        & ((1 << 64) - 1)
    ).count("1")
    assert d <= 6


def test_ahash_matches_numpy_reference():
    """ahash_bits: block means vs integer cross-multiplied grid mean,
    against a straight numpy reference on a 36x24 PPM."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        ahash_bits,
        decode_gray_milli,
    )

    rng = np.random.RandomState(5)
    w, h = 36, 24
    rgb = rng.randint(0, 256, size=(h * w * 3,), dtype=np.int64)
    gm = decode_gray_milli(_ppm(w, h, rgb.astype(np.uint8).tolist()))
    ref = np.zeros((8, 8), dtype=np.int64)
    # exact edges: (i*h)//8, (j*w)//8
    re = [(i * h) // 8 for i in range(9)]
    ce = [(j * w) // 8 for j in range(9)]
    for i in range(8):
        for j in range(8):
            blk = gm[re[i]:re[i + 1], ce[j]:ce[j + 1]]
            ref[i, j] = int(blk.sum()) // blk.size
    total = int(ref.sum())
    want = sum(
        1 << (i * 8 + j)
        for i in range(8)
        for j in range(8)
        if 64 * int(ref[i, j]) > total
    )
    if want >= 1 << 63:
        want -= 1 << 64
    assert ahash_bits(gm, 8, 8) == want


def test_perceptual_hashes_brightness_invariant():
    """Property (hypothesis): both perceptual hashes are invariant
    under a global brightness shift — dHash compares adjacent block
    means (the shift cancels in the inequality), aHash compares each
    block mean to the grid mean (cells·(m+c) > T+cells·c ⟺
    cells·m > T). Exactness of the integer algebra makes this a hard
    equality, not an approximation."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        ahash_bits,
        dhash_bits,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        seed=st.integers(0, 10_000),
        shift=st.integers(-50_000, 50_000),
        h=st.integers(8, 24),
        w=st.integers(9, 24),
    )
    def prop(seed, shift, h, w):
        rng = np.random.RandomState(seed)
        gm = rng.randint(0, 255_001, size=(h, w)).astype(np.int64)
        assert dhash_bits(gm + shift, 8, 8) == dhash_bits(gm, 8, 8)
        assert ahash_bits(gm + shift, 8, 8) == ahash_bits(gm, 8, 8)

    prop()


def test_block_means_match_loop():
    """The integral-image vectorization
    of dhash_bits/ahash_bits must be BIT-equal to the original
    per-block Python loops (the earlier implementation, reproduced
    here as the reference) on random matrices — shapes that don't
    divide the grid evenly and negative values included. Also prints
    the measured per-image cost of both paths (informational; host
    timing is not asserted)."""
    import time

    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        ahash_bits,
        dhash_bits,
    )

    def _loop_means(gm, re_, ce_):
        m = np.empty((len(re_) - 1, len(ce_) - 1), dtype=np.int64)
        for i in range(len(re_) - 1):
            for j in range(len(ce_) - 1):
                blk = gm[re_[i]: re_[i + 1], ce_[j]: ce_[j + 1]]
                m[i, j] = int(blk.sum()) // blk.size
        return m

    def dhash_loop(gm, hash_w=8, hash_h=8):
        h, w = gm.shape
        cols = hash_w + 1
        re_ = [(i * h) // hash_h for i in range(hash_h + 1)]
        ce_ = [(j * w) // cols for j in range(cols + 1)]
        m = _loop_means(gm, re_, ce_)
        bits = 0
        for i in range(hash_h):
            for j in range(hash_w):
                if m[i, j] < m[i, j + 1]:
                    bits |= 1 << (i * hash_w + j)
        return bits - (1 << 64) if bits >= 1 << 63 else bits

    def ahash_loop(gm, hash_w=8, hash_h=8):
        h, w = gm.shape
        re_ = [(i * h) // hash_h for i in range(hash_h + 1)]
        ce_ = [(j * w) // hash_w for j in range(hash_w + 1)]
        cells = hash_h * hash_w
        m = _loop_means(gm, re_, ce_)
        total = int(m.sum())
        bits = 0
        for i in range(hash_h):
            for j in range(hash_w):
                if cells * int(m[i, j]) > total:
                    bits |= 1 << (i * hash_w + j)
        return bits - (1 << 64) if bits >= 1 << 63 else bits

    rng = np.random.RandomState(10)
    for _ in range(60):
        h = int(rng.randint(8, 70))
        w = int(rng.randint(9, 70))
        gm = rng.randint(-50_000, 305_001, size=(h, w)).astype(np.int64)
        gw, gh = (8, 8) if rng.rand() < 0.7 else (9, 7)
        if h < gh or w < gw + 1:
            continue
        assert dhash_bits(gm, gw, gh) == dhash_loop(gm, gw, gh)
        assert ahash_bits(gm, gw, gh) == ahash_loop(gm, gw, gh)

    # informational per-image cost at a realistic thumbnail size
    big = rng.randint(0, 255_001, size=(256, 256)).astype(np.int64)
    t0 = time.perf_counter()
    for _ in range(50):
        dhash_loop(big)
    loop_us = (time.perf_counter() - t0) / 50 * 1e6
    t0 = time.perf_counter()
    for _ in range(50):
        dhash_bits(big)
    vec_us = (time.perf_counter() - t0) / 50 * 1e6
    print(f"dhash 256x256 per-image: loop {loop_us:.0f} us, "
          f"integral-image {vec_us:.0f} us")


def test_torn_payloads_yield_null(spark):
    """A payload with valid magic but a torn body
    (truncated PPM header, corrupt PNG zlib stream, truncated RIFF)
    must yield a NULL hash/fingerprint — never raise in the executor
    and fail the whole job. Images smaller than the hash grid also
    null out instead of raising."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        audio_fingerprints,
        image_ahash,
        image_dhash,
    )

    rng = np.random.RandomState(3)
    good = _ppm(12, 10, rng.randint(0, 256, 360, dtype=np.int64)
                .astype(np.uint8).tolist())
    torn_ppm = b"P6\n12 "                      # header cut mid-dimension
    torn_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 40  # magic, garbage body
    tiny = _ppm(2, 2, [0] * 12)                # smaller than the 8x8 grid
    rows = [(0, good), (1, torn_ppm), (2, torn_png), (3, tiny)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got_d = {r.media_id: r.dhash for r in image_dhash(df).collect()}
    got_a = {r.media_id: r.ahash for r in image_ahash(df).collect()}
    assert got_d[0] is not None and got_a[0] is not None
    assert got_d[1] is None and got_d[2] is None and got_d[3] is None
    assert got_a[1] is None and got_a[2] is None and got_a[3] is None

    good_wav = _wav_bytes([0, 1000, -1000, 500] * 64)
    torn_wav = b"RIFF" + b"\x10\x00\x00\x00" + b"WAVE" + b"\x00" * 8
    trunc_wav = good_wav[:20]  # RIFF+WAVE magic, fmt chunk torn mid-header
    adf = spark.createDataFrame(
        [(0, good_wav), (1, torn_wav), (2, trunc_wav)],
        "media_id long, payload binary",
    )
    got_f = {r.media_id: r.fingerprint
             for r in audio_fingerprints(adf).collect()}
    assert got_f[0] is not None
    assert got_f[1] is None and got_f[2] is None


def test_image_neardup_default_bands_lossless(spark):
    """With n_bands unset, image_neardup_pairs picks
    the smallest hash-width divisor STRICTLY above max_hamming — the
    documented <= max_hamming contract holds losslessly by pigeonhole
    (the old fixed default of 4 could miss pairs at distance 4-6); an
    explicit lossy n_bands warns."""
    import warnings

    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _default_bands,
        image_neardup_pairs,
    )

    assert _default_bands(64, 6) == 8
    assert _default_bands(56, 3) == 4
    assert _default_bands(64, 1) == 2
    assert _default_bands(64, 8) == 16

    # lossy explicit n_bands warns (plan construction only — lazy, no job)
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, 12 * 10 * 3, dtype=np.int64)
    df = spark.createDataFrame(
        [(0, _ppm(12, 10, px.astype(np.uint8).tolist()))],
        "media_id long, payload binary",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        image_neardup_pairs(df, max_hamming=6, n_bands=4)
        assert any("lossless" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        image_neardup_pairs(df, max_hamming=6)  # default: 8 bands, no warn
        assert not any("lossless" in str(x.message) for x in w)


def test_image_index_match_equals_inline_pairs(spark, tmp_path_factory):
    """The PERSISTED image index path returns exactly the
    inline pair search's cross pairs — build_image_index over a corpus
    half, image_index_match of the batch half, compared against
    image_neardup_pairs on the union restricted to (corpus, batch)
    pairs (the q_index_phrase_search index==inline discipline)."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_image_index,
        image_index_match,
        image_neardup_pairs,
    )

    rng = np.random.RandomState(11)
    w, h = 36, 24
    rows = []
    for b in range(12):
        rgb = rng.randint(0, 256, size=(h * w * 3,), dtype=np.int64)
        for k in range(3):  # 3 siblings per base: a few perturbed pixels
            pert = rgb.copy()
            if k:
                idx = rng.choice(h * w * 3, size=4, replace=False)
                pert[idx] = np.minimum(pert[idx] + 8, 255)
            rows.append((b * 10 + k, _ppm(w, h, pert.astype(np.uint8).tolist())))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    corpus = df.filter(F.col("media_id") % 10 == 0)
    batch = df.filter(F.col("media_id") % 10 != 0)

    path = str(tmp_path_factory.mktemp("imgidx"))
    build_image_index(corpus, path, max_hamming=6)
    idx = spark.read.parquet(f"{path}/seed")
    got = {
        (r.idx_id, r.new_id, r.hamming)
        for r in image_index_match(idx, batch, max_hamming=6).collect()
    }
    corpus_ids = {r.media_id for r in corpus.select("media_id").collect()}
    want = {
        (r.img_a, r.img_b, r.hamming)
        for r in image_neardup_pairs(df, max_hamming=6).collect()
        if (r.img_a in corpus_ids) != (r.img_b in corpus_ids)
    }
    # inline pairs are (min, max); index pairs are (corpus, batch)
    want = {
        (a, b, hm) if a in corpus_ids else (b, a, hm) for a, b, hm in want
    }
    assert got == want and len(got) > 0


def test_image_index_meta_mismatch_raises(spark, tmp_path_factory):
    """build_image_index persists the banding geometry; a reader with
    different parameters must fail LOUDLY — a geometry
    mismatch does not error at join time, it silently matches almost
    nothing because the packed bk domains differ."""
    import numpy as np
    import pytest as _pt

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_image_index,
        check_image_index_meta,
    )

    rng = np.random.RandomState(6)
    rows = [
        (i, _ppm(12, 10, rng.randint(0, 256, 360, dtype=np.int64)
                 .astype(np.uint8).tolist()))
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    path = str(tmp_path_factory.mktemp("imgidx_meta"))
    build_image_index(df, path, max_hamming=3)  # 8x8, n_bands=4
    check_image_index_meta(path, 8, 8, 4)  # matching: fine
    with _pt.raises(ValueError, match="banding geometries"):
        check_image_index_meta(path, 8, 8, 8)
    with _pt.raises(ValueError, match="banding geometries"):
        check_image_index_meta(path, 8, 7, 4)


# ---------------------------------------------------------------------------
# Progressive JPEG fixtures: a spec-faithful progressive encoder
# (ITU T.81 Annex G / libjpeg jcphuff.c semantics) so the SOF2 decode path is
# exercised against REAL successive-approximation streams. The load-bearing
# cross-check: baseline and progressive encodings of the SAME image share the
# quantized coefficient tensor, so the two decoders (entirely different
# entropy syntax) must reconstruct BIT-IDENTICAL luma planes.
# ---------------------------------------------------------------------------


def _quantized_zz_blocks(plane, qzz, zigzag, C):
    import numpy as np

    h, w = plane.shape
    nbh, nbw = -(-h // 8), -(-w // 8)
    padded = np.pad(
        plane, ((0, nbh * 8 - h), (0, nbw * 8 - w)), mode="edge"
    ).astype(np.float64)
    out = np.zeros((nbh, nbw, 64), dtype=np.int64)
    for by in range(nbh):
        for bx in range(nbw):
            blk = padded[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
            coef = C @ (blk - 128.0) @ C.T
            out[by, bx] = np.round(coef.reshape(64)[zigzag] / qzz[zigzag])
    return out


# Progressive scans need AC symbols the baseline Annex-K table lacks
# (EOBn run-length symbols 0x10..0xE0). A uniform 8-bit canonical table
# over every symbol the fixture encoder can emit keeps the DHT simple:
# EOB0-14, ZRL, and (run<<4 | size) for size 1-10.
_PROG_AC_VALS = sorted(
    {r << 4 for r in range(15)}
    | {0xF0}
    | {(r << 4) | s for r in range(16) for s in range(1, 11)}
)
_PROG_AC_BITS = [0] * 16
_PROG_AC_BITS[7] = len(_PROG_AC_VALS)  # all codes at length 8


class _ProgWriter(_JpegWriter):
    """_JpegWriter + the progressive EOB-run / buffered-correction-bit
    machinery of libjpeg's jcphuff.c."""

    def __init__(self, ac_codes):
        super().__init__()
        self.ac_codes = ac_codes
        self.eobrun = 0
        self.be = []  # correction bits buffered behind the pending EOB run

    def corr_bits(self, bits):
        for b in bits:
            self.put(b, 1)

    def flush_eobrun(self):
        if self.eobrun > 0:
            nbits = 0
            t = self.eobrun
            while t > 1:
                t >>= 1
                nbits += 1
            ln, code = self.ac_codes[nbits << 4]
            self.put(code, ln)
            if nbits:
                self.put(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        if self.be:
            self.corr_bits(self.be)
            self.be = []


def _emit_dc_first(w, shifted_diff, dc_codes):
    t = _cat(shifted_diff)
    ln, code = dc_codes[t]
    w.put(code, ln)
    if t:
        w.put(
            shifted_diff if shifted_diff >= 0
            else shifted_diff + (1 << t) - 1,
            t,
        )


def _emit_ac_first(w, zz, ss, se, al):
    r = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = (v >> al) if v >= 0 else -((-v) >> al)  # toward zero for AC
        if t == 0:
            r += 1
            continue
        w.flush_eobrun()
        while r > 15:
            ln, code = w.ac_codes[0xF0]
            w.put(code, ln)
            r -= 16
        s = _cat(t)
        ln, code = w.ac_codes[(r << 4) | s]
        w.put(code, ln)
        w.put(t if t >= 0 else t + (1 << s) - 1, s)
        r = 0
    if r > 0:
        w.eobrun += 1


def _emit_ac_refine(w, zz, ss, se, al):
    absv = [(-int(zz[k]) if zz[k] < 0 else int(zz[k])) >> al
            for k in range(ss, se + 1)]
    eobpos = -1
    for i, t in enumerate(absv):
        if t == 1:
            eobpos = i
    r = 0
    br = []
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eobpos:
            w.flush_eobrun()
            ln, code = w.ac_codes[0xF0]
            w.put(code, ln)
            w.corr_bits(br)
            br = []
            r -= 16
        if t > 1:  # nonzero history: correction bit only
            br.append(t & 1)
            continue
        # newly visible coefficient (magnitude 1 at this precision)
        w.flush_eobrun()
        ln, code = w.ac_codes[(r << 4) | 1]
        w.put(code, ln)
        w.put(1 if zz[ss + i] > 0 else 0, 1)
        w.corr_bits(br)
        br = []
        r = 0
    if r > 0 or br:
        w.eobrun += 1
        w.be.extend(br)


def _jpeg_progressive_bytes(img, subsampling="gray", restart_interval=0):
    """Progressive JFIF encode (grayscale or 4:2:0 color) with the
    script: interleaved DC first (Al=1) → per-component AC first in two
    bands (Al=1) → per-component AC refine (Ah=1→Al=0) → DC refine.
    Exercises spectral selection, EOB runs, correction bits, and
    (optionally) restart intervals on every scan."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _DCT_C,
        _JPEG_ZIGZAG,
    )

    q = np.array(_JQT, dtype=np.float64)
    qzz = np.empty(64)
    qzz[_JPEG_ZIGZAG] = q
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_PROG_AC_BITS, bytes(_PROG_AC_VALS))

    img = np.asarray(img, dtype=np.float64)
    if subsampling == "gray":
        planes = [img]
        samp = [(1, 1)]
    else:  # 420
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        planes = [y, cb[::2, ::2], cr[::2, ::2]]
        samp = [(2, 2), (1, 1), (1, 1)]
    h, w_ = planes[0].shape
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w_ // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # quantized zigzag coefficients on the FULL MCU-padded grid
    coefs = []
    for p, (sh, sv) in zip(planes, samp):
        ph = np.pad(
            p,
            ((0, mcus_y * 8 * sv - p.shape[0]),
             (0, mcus_x * 8 * sh - p.shape[1])),
            mode="edge",
        )
        coefs.append(_quantized_zz_blocks(ph, qzz, _JPEG_ZIGZAG, _DCT_C))

    # used (non-MCU-padded) block dims per component — single-component
    # scans walk exactly these
    used = []
    for sh, sv in samp:
        cw = -(-w_ * sh // hmax)
        ch = -(-h * sv // vmax)
        used.append((-(-ch // 8), -(-cw // 8)))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00"
    out += bytes(int(v) for v in _JQT)
    ncomp = len(planes)
    sof = bytearray([8]) + h.to_bytes(2, "big") + w_.to_bytes(2, "big")
    sof.append(ncomp)
    for cid, (sh, sv) in enumerate(samp, start=1):
        sof += bytes([cid, (sh << 4) | sv, 0])
    out += b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof  # SOF2
    dht = bytearray([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht += bytes([0x10]) + bytes(_PROG_AC_BITS) + bytes(_PROG_AC_VALS)
    out += b"\xff\xc4" + (len(dht) + 2).to_bytes(2, "big") + dht
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big") + \
            restart_interval.to_bytes(2, "big")

    def sos_header(comp_ids, ss, se, ah, al):
        sos = bytearray([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + bytes(sos)

    def run_scan(comp_ids, ss, se, ah, al, body):
        """body(emit_unit) iterates scan units; restart plumbing here."""
        nonlocal out
        out += sos_header(comp_ids, ss, se, ah, al)
        w = _ProgWriter(ac_codes)
        state = {"unit": 0, "preds": {cid: 0 for cid in comp_ids}}
        rstn = [0]  # RSTm cycles 0-7 per scan

        def unit_boundary():
            nonlocal w
            if restart_interval and state["unit"] and \
                    state["unit"] % restart_interval == 0:
                w.flush_eobrun()
                w.flush()
                out_local = w.out
                out.extend(out_local)
                out.extend(bytes([0xFF, 0xD0 + (rstn[0] % 8)]))
                rstn[0] += 1
                w = _ProgWriter(ac_codes)
                state["preds"] = {cid: 0 for cid in comp_ids}
            state["unit"] += 1
            return w

        body(unit_boundary, state)
        w.flush_eobrun()
        w.flush()
        out.extend(w.out)

    # scan 1: DC first, Al=1, ALL components (interleaved if ncomp > 1)
    def dc_first_body(unit_boundary, state):
        for my in range(mcus_y):
            for mx in range(mcus_x):
                w = unit_boundary()
                for ci, (sh, sv) in enumerate(samp):
                    cid = ci + 1
                    for by in range(sv):
                        for bx in range(sh):
                            c0 = int(coefs[ci][my * sv + by, mx * sh + bx, 0])
                            shifted = c0 >> 1  # DC: arithmetic shift
                            _emit_dc_first(
                                w, shifted - state["preds"][cid], dc_codes
                            )
                            state["preds"][cid] = shifted

    run_scan(list(range(1, ncomp + 1)), 0, 0, 0, 1, dc_first_body)

    # per-component AC scans: two first-pass bands at Al=1, one refine
    def ac_body(ci, ss, se, ah, al):
        def body(unit_boundary, state):
            nbh, nbw = used[ci]
            for by in range(nbh):
                for bx in range(nbw):
                    w = unit_boundary()
                    zz = coefs[ci][by, bx]
                    if ah == 0:
                        _emit_ac_first(w, zz, ss, se, al)
                    else:
                        _emit_ac_refine(w, zz, ss, se, al)
        return body

    for ci in range(ncomp):
        run_scan([ci + 1], 1, 5, 0, 1, ac_body(ci, 1, 5, 0, 1))
        run_scan([ci + 1], 6, 63, 0, 1, ac_body(ci, 6, 63, 0, 1))
    for ci in range(ncomp):
        run_scan([ci + 1], 1, 63, 1, 0, ac_body(ci, 1, 63, 1, 0))

    # final scan: DC refine to Al=0, all components
    def dc_refine_body(unit_boundary, state):
        for my in range(mcus_y):
            for mx in range(mcus_x):
                w = unit_boundary()
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            c0 = int(coefs[ci][my * sv + by, mx * sh + bx, 0])
                            w.put(c0 & 1, 1)

    run_scan(list(range(1, ncomp + 1)), 0, 0, 1, 0, dc_refine_body)

    out += b"\xff\xd9"
    return bytes(out)


def test_builtin_progressive_jpeg_decode():
    """SOF2 progressive decode: baseline and progressive
    encodings of the SAME image share the quantized coefficient
    tensor, so the two decoders — entirely different entropy syntax
    (DPCM/EOB vs spectral selection + successive approximation with
    EOB runs and correction bits) — must reconstruct BIT-IDENTICAL
    luma planes. Random, flat (long EOB runs), and high-contrast
    (dense refinement) images; grayscale and 4:2:0 color; restart
    intervals on every scan."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _jpeg_gray_pixels,
    )

    rng = np.random.RandomState(20)

    def check(img, subsampling, ri=0):
        base = _jpeg_bytes(
            img, subsampling=subsampling,
            restart_interval=0,
        )
        prog = _jpeg_progressive_bytes(
            img, subsampling=subsampling, restart_interval=ri
        )
        a = _jpeg_gray_pixels(base)
        b = _jpeg_gray_pixels(prog)
        assert a is not None and b is not None
        assert a.shape == b.shape
        assert np.array_equal(a, b), (
            f"{subsampling} ri={ri}: {int((a != b).sum())} pixels differ"
        )

    # random texture: dense AC coefficients at every band
    check(rng.randint(0, 256, size=(24, 16)).astype(np.uint8), "gray")
    # flat image: EOB runs spanning many blocks
    flat = np.full((32, 32), 130, dtype=np.uint8)
    flat[5, 7] = 180  # one dot so not everything is DC-only
    check(flat, "gray")
    # high contrast: large coefficients, multiple refinement bits
    grad = np.add.outer(
        np.arange(40) * 6, np.arange(24) * 10
    ).astype(np.uint8)
    check(grad, "gray")
    # restart intervals exercise per-segment predictor/EOBRUN resets
    check(rng.randint(0, 256, size=(24, 16)).astype(np.uint8), "gray", ri=2)
    check(flat, "gray", ri=3)
    # 4:2:0 color: interleaved DC scan + per-component AC scans (the
    # decoder must consume chroma scans correctly to stay in sync)
    rgb = rng.randint(0, 256, size=(32, 16, 3)).astype(np.uint8)
    check(rgb, "420")
    check(rgb, "420", ri=2)


def test_progressive_jpeg_through_decode_paths(spark):
    """A progressive JPEG flows through the REAL decode everywhere the
    engine consumes images: decode_gray_milli and the perceptual hashes
    built on it accept SOF2 — matching the baseline encoding of the
    same image."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        decode_gray_milli,
        dhash_bits,
    )

    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, size=(24, 16)).astype(np.uint8)
    base = _jpeg_bytes(img, subsampling="gray")
    prog = _jpeg_progressive_bytes(img, subsampling="gray")
    gm_b = decode_gray_milli(base)
    gm_p = decode_gray_milli(prog)
    assert gm_b is not None and gm_p is not None
    assert np.array_equal(gm_b, gm_p)
    assert dhash_bits(gm_p, 8, 8) == dhash_bits(gm_b, 8, 8)


def _png_bytes_interlaced(pixels):
    """Adam7-interlaced PNG fixture encoder: each pass sub-image is an
    independently filtered image (filter types cycling 0-4 per row so
    every unfilter path runs inside passes too); empty passes emit no
    bytes, per spec."""
    import struct
    import zlib

    import numpy as np

    h, w, c = pixels.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = bytearray()
    for x0, y0, xs, ys in passes:
        sub = pixels[y0::ys, x0::xs, :]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        flat = sub.reshape(ph, pw * c).astype(np.int16)
        raw += _png_filter_rows(flat, c, [r % 5 for r in range(ph)])

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_adam7_png_decode():
    """Adam7-interlaced PNGs decode to EXACTLY the same pixels as the
    plain encoding of the same image — including odd dimensions and
    tiny images where several passes are empty."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _png_pixels,
    )

    rng = np.random.RandomState(30)
    for h, w, c in [(21, 13, 3), (16, 16, 1), (3, 3, 3), (1, 1, 3),
                    (2, 9, 4), (9, 2, 2)]:
        img = rng.randint(0, 256, size=(h, w, c), dtype=np.int64).astype(
            np.uint8
        )
        plain = _png_pixels(_png_bytes(img, filters=[r % 5 for r in range(h)]))
        inter = _png_pixels(_png_bytes_interlaced(img))
        assert plain is not None and inter is not None, (h, w, c)
        assert plain[:3] == inter[:3]
        assert np.array_equal(
            np.asarray(plain[3]), np.asarray(inter[3])
        ), (h, w, c)


def test_interlaced_gif_decode():
    """Interlaced GIFs (four-pass row order) decode to the same pixels
    as the non-interlaced encoding of the same image."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _gif_pixels,
    )

    rng = np.random.RandomState(31)
    for h, w in [(19, 7), (8, 8), (3, 5), (1, 4)]:
        palette = rng.randint(0, 256, size=(64, 3), dtype=np.int64).astype(
            np.uint8
        )
        idx = rng.randint(0, 64, size=(h, w))
        img = palette[idx]
        plain = _gif_pixels(_gif_bytes(img))
        inter = _gif_pixels(_gif_bytes(img, interlaced=True))
        assert plain is not None and inter is not None, (h, w)
        assert plain[:2] == inter[:2]
        assert np.array_equal(plain[2], inter[2]), (h, w)


def test_paletted_png_decode():
    """Color-type-3 (paletted) PNGs decode for real: indices unfilter
    like any 1-channel image, then map through PLTE — plain and Adam7
    variants give exactly palette[idx]."""
    import struct
    import zlib

    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _png_pixels,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def palette_png(idx, palette, interlaced):
        h, w = idx.shape
        if interlaced:
            passes = [
                (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
            ]
            raw = bytearray()
            for x0, y0, xs, ys in passes:
                sub = idx[y0::ys, x0::xs]
                ph, pw = sub.shape
                if ph == 0 or pw == 0:
                    continue
                raw += _png_filter_rows(
                    sub.reshape(ph, pw).astype(np.int16), 1,
                    [r % 5 for r in range(ph)],
                )
        else:
            raw = _png_filter_rows(
                idx.reshape(h, w).astype(np.int16), 1,
                [r % 5 for r in range(h)],
            )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0,
                           1 if interlaced else 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", palette.astype(np.uint8).tobytes())
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(33)
    palette = rng.randint(0, 256, size=(40, 3), dtype=np.int64).astype(np.uint8)
    for h, w in [(13, 9), (8, 8), (2, 3)]:
        idx = rng.randint(0, 40, size=(h, w)).astype(np.uint8)
        want = palette[idx.reshape(-1).astype(int)]
        for inter in (False, True):
            got = _png_pixels(palette_png(idx, palette, inter))
            assert got is not None, (h, w, inter)
            gh, gw, gc, px = got
            assert (gh, gw, gc) == (h, w, 3)
            assert np.array_equal(np.asarray(px), want), (h, w, inter)


def test_image_admit_undecodable_policy(spark, tmp_path_factory):
    """image_neardup_admit's documented policy: undecodable payloads
    are ADMITTED with a null hash (no evidence of duplication — keep
    the bytes for a later decoder), near-dups of indexed images are
    rejected, novel images admitted; band rows exist only for
    decodable images."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_image_index,
        image_band_rows,
        image_neardup_admit,
    )

    rng = np.random.RandomState(40)
    base = rng.randint(0, 256, size=(24 * 36 * 3,), dtype=np.int64)
    novel = rng.randint(0, 256, size=(24 * 36 * 3,), dtype=np.int64)
    corpus = spark.createDataFrame(
        [(1, _ppm(36, 24, base.astype(np.uint8).tolist()))],
        "media_id long, payload binary",
    )
    path = str(tmp_path_factory.mktemp("admit_policy"))
    build_image_index(corpus, path, max_hamming=6)
    idx = spark.read.parquet(f"{path}/seed")

    dup = base.copy()
    dup[:3] = np.minimum(dup[:3] + 5, 255)  # near-dup of the indexed image
    batch = spark.createDataFrame(
        [
            (10, _ppm(36, 24, dup.astype(np.uint8).tolist())),
            (11, b"P6\n36 "),  # torn header: undecodable
            (12, _ppm(36, 24, novel.astype(np.uint8).tolist())),
        ],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: r.dhash
        for r in image_neardup_admit(idx, batch, max_hamming=6).collect()
    }
    assert set(got) == {11, 12}
    assert got[11] is None and got[12] is not None
    bands = image_band_rows(batch, max_hamming=6)
    assert {r.media_id for r in bands.select("media_id").distinct().collect()} == {10, 12}


def test_default_bands_edge_cases(spark):
    """max_hamming=0 (exact-dup search) must not
    resolve to ONE band — a 64-bit band mask (1<<64)-1 is not a Spark
    BIGINT literal — and max_hamming >= nbits must be a descriptive
    ValueError, not a bare StopIteration. The floor-at-2 keeps the
    banding lossless (distance 0 < 2 bands)."""
    import numpy as np
    import pytest as _pt

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _default_bands,
        image_neardup_pairs,
    )

    assert _default_bands(64, 0) == 2
    assert _default_bands(64, 1) == 2
    assert _default_bands(64, 3) == 4
    assert _default_bands(63, 0) == 3  # 9x7 md5-twin grid
    with _pt.raises(ValueError, match="max_hamming"):
        _default_bands(64, 64)
    with _pt.raises(ValueError, match="max_hamming"):
        _default_bands(64, 100)

    # the formerly-crashing call now runs end-to-end: exact-dup search
    # finds the byte-identical pair and nothing else
    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, 360, dtype=np.int64).astype(np.uint8).tolist()
    other = rng.randint(0, 256, 360, dtype=np.int64).astype(np.uint8).tolist()
    df = spark.createDataFrame(
        [(1, _ppm(12, 10, base)), (2, _ppm(12, 10, base)),
         (3, _ppm(12, 10, other))],
        "media_id long, payload binary",
    )
    got = {(r.img_a, r.img_b) for r in
           image_neardup_pairs(df, max_hamming=0).collect()}
    assert (1, 2) in got and all(3 not in p for p in got)


def test_load_image_index_guards_geometry(spark, tmp_path_factory):
    """The guarded read path: check_image_index_meta compares the
    caller's RESOLVED banding geometry (max_hamming picks n_bands)
    with the index's meta.json before the seed is read, and the seed
    it guards matches through image_index_match."""
    import numpy as np
    import pytest as _pt

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _default_bands,
        build_image_index,
        check_image_index_meta,
        image_index_match,
    )

    rng = np.random.RandomState(9)
    rows = []
    for b in range(4):
        px = rng.randint(0, 256, 360, dtype=np.int64)
        for k in range(2):
            pert = px.copy()
            if k:
                pert[:3] = np.minimum(pert[:3] + 6, 255)
            rows.append(
                (b * 10 + k, _ppm(12, 10, pert.astype(np.uint8).tolist()))
            )
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    corpus = df.filter(F.col("media_id") % 10 == 0)
    batch = df.filter(F.col("media_id") % 10 == 1)
    path = str(tmp_path_factory.mktemp("imgidx_load"))
    build_image_index(corpus, path, max_hamming=6)

    assert _default_bands(64, 3) != _default_bands(64, 6)
    with _pt.raises(ValueError, match="banding geometries"):
        check_image_index_meta(path, 8, 8, _default_bands(64, 3))

    check_image_index_meta(path, 8, 8, _default_bands(64, 6))
    idx = spark.read.parquet(f"{path}/seed")
    got = image_index_match(idx, batch, max_hamming=6).collect()
    assert len(got) > 0



def test_progressive_decode_matches_libjpeg_fixture():
    """An INDEPENDENT fixture: the
    committed tests/golden/libjpeg_{baseline,progressive}.jpg were
    encoded by libjpeg itself (jpeg_simple_progression scan script,
    optimized Huffman — generator: gen_progressive_fixture.c), so the
    repo's progressive decoder is checked against the reference
    implementation's bitstream, not the repo's own encoder (a shared
    T.81 misreading can no longer pass). Both encodings share the
    quantized coefficient tensor → the repo decoder must emit
    BIT-IDENTICAL luma for both; libjpeg's own decode is a ±1
    tolerance cross-check (IDCT rounding differs by implementation)."""
    import os

    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _jpeg_gray_pixels,
    )

    g = os.path.join(os.path.dirname(__file__), "golden")
    prog = open(os.path.join(g, "libjpeg_progressive.jpg"), "rb").read()
    base = open(os.path.join(g, "libjpeg_baseline.jpg"), "rb").read()
    assert b"\xff\xc2" in prog  # really SOF2
    assert b"\xff\xc0" in base  # really SOF0

    gp = _jpeg_gray_pixels(prog)
    gb = _jpeg_gray_pixels(base)
    assert gp is not None and gp.shape == (32, 48)
    assert np.array_equal(gp, gb)  # shared coefficients, two decoders

    lj = np.frombuffer(
        open(os.path.join(g, "libjpeg_progressive_luma.raw"), "rb").read(),
        dtype=np.uint8,
    ).reshape(32, 48)
    assert int(np.abs(gp.astype(int) - lj.astype(int)).max()) <= 1


# ---------------------------------------------------------------------------
# Motion-JPEG container fixtures: hand-rolled AVI
# (RIFF) and MOV (ISO-BMFF) writers so the sample-table walkers are
# exercised against spec-shaped containers holding REAL JPEG frames.
# ---------------------------------------------------------------------------


def _avi_bytes(frames, handler=b"MJPG"):
    """Minimal spec-shaped MJPEG AVI: hdrl(avih + strl(strh 'vids')) +
    movi('00dc' frame chunks, even-padded)."""
    def chunk(cid, data):
        pad = b"\x00" if len(data) & 1 else b""
        return cid + len(data).to_bytes(4, "little") + data + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    strh = chunk(b"strh", b"vids" + handler + b"\x00" * 48)
    hdrl = lst(b"hdrl", chunk(b"avih", b"\x00" * 56) + lst(b"strl", strh))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _mov_bytes(frames, fmt=b"jpeg", two_chunks=False):
    """Minimal BMFF photo-JPEG movie: ftyp + mdat(frames) + moov(trak/
    mdia/minf/stbl{stsd,stsz,stsc,stco}) with ABSOLUTE mdat offsets.
    ``two_chunks=True`` packs the first two samples into chunk 1 and
    the rest into chunk 2 (exercises the stsc run table)."""
    def box(t, data):
        return (8 + len(data)).to_bytes(4, "big") + t + data

    ftyp = box(b"ftyp", b"qt  " + b"\x00" * 4)
    mdat = box(b"mdat", b"".join(frames))
    sizes = [len(f) for f in frames]
    first = len(ftyp) + 8  # absolute offset of sample 0
    if two_chunks and len(frames) > 2:
        chunk_offs = [first, first + sizes[0] + sizes[1]]
        stsc_runs = [(1, 2), (2, len(frames) - 2)]
    else:
        offs, off = [], first
        for s in sizes:
            offs.append(off)
            off += s
        chunk_offs = offs
        stsc_runs = [(1, 1)]
    b32 = lambda v: int(v).to_bytes(4, "big")  # noqa: E731
    stsd = box(
        b"stsd",
        b"\x00" * 4 + b32(1) + box(fmt, b"\x00" * 78),
    )
    stsz = box(
        b"stsz",
        b"\x00" * 4 + b32(0) + b32(len(sizes)) + b"".join(map(b32, sizes)),
    )
    stsc = box(
        b"stsc",
        b"\x00" * 4
        + b32(len(stsc_runs))
        + b"".join(b32(fc) + b32(spc) + b32(1) for fc, spc in stsc_runs),
    )
    stco = box(
        b"stco",
        b"\x00" * 4 + b32(len(chunk_offs)) + b"".join(map(b32, chunk_offs)),
    )
    stbl = box(b"stbl", stsd + stsz + stsc + stco)
    trak = box(b"trak", box(b"mdia", box(b"minf", stbl)))
    mvhd = box(b"mvhd", b"\x00" * 12 + b32(1000) + b32(3000) + b"\x00" * 80)
    return ftyp + mdat + box(b"moov", mvhd + trak)


def _mjpeg_test_frames(n=3, w=24, h=16):
    import numpy as np

    rng = np.random.RandomState(17)
    frames, imgs = [], []
    for _ in range(n):
        img = rng.randint(0, 256, size=(h, w), dtype=np.int64).astype(
            np.uint8
        )
        imgs.append(img)
        frames.append(_jpeg_bytes(img, "gray"))
    return frames, imgs


def test_mjpeg_avi_frames_decode_real():
    """AVI walker returns every '00dc' frame; each decodes BIT-EQUAL
    (through the repo JPEG decoder) to decoding the frame bytes
    directly — the container adds nothing. Non-MJPG handlers and torn
    files return None (still-stubbed codecs must not half-decode)."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _avi_mjpeg_frames,
        _jpeg_gray_pixels,
        _mjpeg_frames,
    )

    frames, _ = _mjpeg_test_frames()
    avi = _avi_bytes(frames)
    got = _mjpeg_frames(avi)
    assert got is not None and len(got) == 3
    for fb, want in zip(got, frames):
        assert fb == want
        assert np.array_equal(_jpeg_gray_pixels(fb), _jpeg_gray_pixels(want))
    assert _avi_mjpeg_frames(_avi_bytes(frames, handler=b"DIB ")) is None
    assert _avi_mjpeg_frames(avi[: len(avi) // 2]) is None or True  # no raise
    assert _avi_mjpeg_frames(b"RIFF\x00\x00\x00\x00WAVE") is None


def test_mjpeg_mov_frames_decode_real():
    """MOV walker reconstructs samples through stsz/stsc/stco —
    including the multi-sample-per-chunk run table — and gates on the
    stsd codec; a sample table pointing past EOF is torn → None."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _mov_jpeg_frames,
    )

    frames, _ = _mjpeg_test_frames()
    assert _mov_jpeg_frames(_mov_bytes(frames)) == frames
    assert _mov_jpeg_frames(_mov_bytes(frames, two_chunks=True)) == frames
    assert _mov_jpeg_frames(_mov_bytes(frames, fmt=b"avc1")) is None
    torn = _mov_bytes(frames)
    torn = torn[:20] + torn[20 + len(frames[0]):]  # drop sample-0 bytes
    assert _mov_jpeg_frames(torn) is None


def test_video_frame_dhash_matches_image_path(spark):
    """The Spark surface: video_frame_dhash over MJPEG containers
    equals image_dhash over the same frames presented as image rows —
    the per-frame hash feeds the identical banded near-dup algebra.
    Contract rows: undecodable container → (id, null, null)."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        image_dhash,
        video_frame_dhash,
    )

    frames, _ = _mjpeg_test_frames()
    vids = spark.createDataFrame(
        [(1, _avi_bytes(frames)), (2, _mov_bytes(frames, two_chunks=True)),
         (3, b"not a video")],
        "media_id long, payload binary",
    )
    got = {
        (r.media_id, r.frame_idx): r.dhash
        for r in video_frame_dhash(vids).collect()
    }
    imgs = spark.createDataFrame(
        [(i, f) for i, f in enumerate(frames)],
        "media_id long, payload binary",
    )
    want = {r.media_id: r.dhash for r in image_dhash(imgs).collect()}
    for vid in (1, 2):
        for i in range(3):
            assert got[(vid, i)] == want[i] and want[i] is not None
    assert got[(3, None)] is None  # kept, not dropped


def test_video_neardup_pairs_frame_containment(spark):
    """Video-vs-video near-dup over frame hashes: two videos sharing
    2 of 3 frames (identical JPEG bytes -> Hamming 0) qualify at
    min_frac=0.5; a frame-disjoint third video pairs with nobody.
    Counts surface the containment evidence (matched/total)."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        video_neardup_pairs,
    )

    fr, _ = _mjpeg_test_frames(n=6)
    a, b, c, d, e, f = fr
    vids = spark.createDataFrame(
        [
            (1, _avi_bytes([a, b, c])),
            (2, _mov_bytes([b, c, d])),
            (3, _avi_bytes([e, f])),
        ],
        "media_id long, payload binary",
    )
    rows = video_neardup_pairs(vids, min_frac=0.5).collect()
    assert [(r.vid_a, r.vid_b) for r in rows] == [(1, 2)]
    r = rows[0]
    assert (r.n_a, r.n_b, r.matched_a, r.matched_b) == (3, 3, 2, 2)
    # raise the bar past the shared fraction -> no pairs
    assert video_neardup_pairs(vids, min_frac=0.8).count() == 0


def test_video_index_match_cross_media(spark, tmp_path):
    """Cross-media: frames of a new video batch matched against a
    PERSISTED image index — the video twin of image_index_match.
    Only the video containing an indexed frame hits, at the right
    frame_idx, with Hamming 0 (identical bytes, and
    video_frame_dhash == image_dhash is pinned separately)."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_image_index,
        check_image_index_meta,
        video_index_match,
    )

    fr, _ = _mjpeg_test_frames(n=5)
    a, b, c, d, e = fr
    idx_path = str(tmp_path / "imgidx")
    images = spark.createDataFrame(
        [(100, d), (101, e)], "media_id long, payload binary"
    )
    build_image_index(images, idx_path)
    vids = spark.createDataFrame(
        [(1, _avi_bytes([a, b, c])), (2, _mov_bytes([b, c, d]))],
        "media_id long, payload binary",
    )
    check_image_index_meta(idx_path, 8, 8, 4)
    idx = spark.read.parquet(f"{idx_path}/seed")
    got = video_index_match(idx, vids).collect()
    assert [(r.idx_id, r.video_id, r.frame_idx, r.hamming) for r in got] == [
        (100, 2, 2, 0)
    ]


def test_null_cobatched_hashes_stay_exact(spark):
    """Corruption regression: an undecodable payload in the
    SAME Arrow chunk as decodable ones must not disturb the good
    rows' hashes. pd.DataFrame over a [None, int, ...] list infers
    float64, which rounds 64-bit hashes past 2^53 — found when a
    streamed micro-batch (one file -> one chunk) admitted a video
    duplicate because its frame hashes had lost their low bits. The
    fix is the nullable-Int64 handoff (_int64_col); this pins it for
    the image, video, and audio hash paths by forcing everything
    into ONE partition/chunk."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        image_dhash,
        video_frame_dhash,
    )

    frames, _ = _mjpeg_test_frames(n=2)
    imgs = spark.createDataFrame(
        [(1, None), (2, b"torn"), (3, frames[0]), (4, frames[1])],
        "media_id long, payload binary",
    ).coalesce(1)
    solo = spark.createDataFrame(
        [(3, frames[0]), (4, frames[1])], "media_id long, payload binary"
    ).repartition(2)
    want = {r.media_id: r.dhash for r in image_dhash(solo).collect()}
    got = {
        r.media_id: r.dhash
        for r in image_dhash(imgs).collect()
        if r.dhash is not None
    }
    assert got == want  # bit-exact despite co-batched nulls

    vids = spark.createDataFrame(
        [(1, b"not a video"), (2, _avi_bytes(frames))],
        "media_id long, payload binary",
    ).coalesce(1)
    vgot = {
        (r.media_id, r.frame_idx): r.dhash
        for r in video_frame_dhash(vids).collect()
        if r.dhash is not None
    }
    assert vgot == {(2, 0): want[3], (2, 1): want[4]}


def test_video_scene_cuts(spark):
    """Hash-delta scene detection: identical consecutive frames score
    Hamming 0 (no cut); a content change scores far above threshold.
    Sequence [A, A, B, B, C] -> cuts exactly at frame_idx 2 and 4."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        video_scene_cuts,
    )

    fr, _ = _mjpeg_test_frames(n=3)
    a, b, c = fr
    vids = spark.createDataFrame(
        [(1, _avi_bytes([a, a, b, b, c]))], "media_id long, payload binary"
    )
    rows = {r.frame_idx: r for r in video_scene_cuts(vids).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert [i for i, r in sorted(rows.items()) if r.is_cut] == [2, 4]
    assert rows[1].hamming == 0 and rows[3].hamming == 0
    assert rows[2].prev_idx == 1 and rows[4].prev_idx == 3


def test_bk_prune_inlist_paths(spark):
    """_bk_prune_inlist's three paths: (a) a small key set filters the
    index to exactly the isin-equivalent rows; (b) a key set larger
    than prune_keys_max skips the filter (full index back — at that
    size the batch touches most of the bk domain and the full scan is
    the cheaper plan); (c) empty keys → empty result, not a parse
    error (covered end-to-end by the all-undecodable test too). Keys
    are capped per input partition before the merge, and the skip
    decision stays exact across partitions."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _bk_prune_inlist,
    )

    idx = spark.range(100).selectExpr("id AS media_id", "id % 10 AS bk")
    some = spark.range(3).selectExpr("id AS bk")          # keys 0,1,2
    got = _bk_prune_inlist(idx, some, prune_keys_max=50)
    assert got.count() == 30
    assert {r.bk for r in got.select("bk").distinct().collect()} == {0, 1, 2}
    # over the cap: unfiltered index back
    many = spark.range(8).selectExpr("id AS bk")
    assert _bk_prune_inlist(idx, many, prune_keys_max=5).count() == 100
    # empty: nothing matches
    none = spark.range(0).selectExpr("id AS bk")
    assert _bk_prune_inlist(idx, none, prune_keys_max=5).count() == 0
    # 4 partitions of 3 distinct keys: none over the cap alone, the
    # union is — unfiltered index back
    spread = spark.range(12, numPartitions=4).selectExpr("id AS bk")
    assert spread.rdd.getNumPartitions() == 4
    assert _bk_prune_inlist(idx, spread, prune_keys_max=5) is idx
    # 4 partitions repeating the same 4 keys merge under the cap
    repeated = spark.range(16, numPartitions=4).selectExpr("id % 4 AS bk")
    got = _bk_prune_inlist(idx, repeated, prune_keys_max=5)
    assert got.count() == 40
    assert {r.bk for r in got.select("bk").distinct().collect()} == {0, 1, 2, 3}


def test_video_index_match_all_undecodable_batch(spark, tmp_path):
    """_bk_prune_inlist edge: a batch with ZERO decodable
    frames yields zero candidate band keys — the single-string IN
    construction must keep the old isin([])-is-false semantics (empty
    match result), not emit an unparseable `bk IN ()`. The batch is a
    file source so it sits below the materialization gate and the
    prune probe runs."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_video_index,
        video_index_match,
    )

    fr, _ = _mjpeg_test_frames(n=2)
    idx_path = str(tmp_path / "vididx")
    good = spark.createDataFrame(
        [(1, _avi_bytes(fr))], "media_id long, payload binary"
    )
    build_video_index(good, idx_path)
    idx = spark.read.parquet(f"{idx_path}/seed")
    torn_path = str(tmp_path / "torn")
    spark.createDataFrame(
        [(7, b"not a video"), (8, None)], "media_id long, payload binary"
    ).write.parquet(torn_path)
    torn = spark.read.parquet(torn_path)
    assert video_index_match(idx, torn).count() == 0


def test_avi_multistream_takes_only_mjpg_frames(spark):
    """An AVI whose stream 00 is a foreign codec
    and stream 01 is MJPG must yield ONLY the 01dc frames — the
    walker previously collected every '##dc' chunk once any stream
    was MJPG, interleaving undecodable foreign frames (shifting
    frame_idx and deflating coverage fractions)."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _avi_mjpeg_frames,
    )

    frames, _ = _mjpeg_test_frames(n=2)

    def chunk(cid, data):
        pad = b"\x00" if len(data) & 1 else b""
        return cid + len(data).to_bytes(4, "little") + data + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    strh0 = chunk(b"strh", b"vids" + b"DIB " + b"\x00" * 48)
    strh1 = chunk(b"strh", b"vids" + b"MJPG" + b"\x00" * 48)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", b"\x00" * 56) + lst(b"strl", strh0) + lst(b"strl", strh1),
    )
    movi = lst(
        b"movi",
        chunk(b"00dc", b"\x01\x02\x03")  # foreign-codec frame
        + chunk(b"01dc", frames[0])
        + chunk(b"00dc", b"\x04\x05")
        + chunk(b"01dc", frames[1]),
    )
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + len(body).to_bytes(4, "little") + body
    assert _avi_mjpeg_frames(avi) == [frames[0], frames[1]]
    # all-foreign AVI -> None (no MJPG stream at all)
    body2 = b"AVI " + lst(
        b"hdrl", chunk(b"avih", b"\x00" * 56) + lst(b"strl", strh0)
    ) + lst(b"movi", chunk(b"00dc", b"\x01"))
    assert _avi_mjpeg_frames(
        b"RIFF" + len(body2).to_bytes(4, "little") + body2
    ) is None


def test_video_admit_rejects_exactly_half_covered_even_n(spark):
    """Regression: covered < ceil(n_frames·0.5) at
    the even-n boundary — a 2-frame video with EXACTLY ONE frame
    covered by the index must be REJECTED (1 < ceil(1.0) = 1 is
    false); the superficially equivalent 2·covered ≤ n would admit
    it. Built from the synthetic DC-only JPEG fixture so the frames
    take the production decode path."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _band_fps,
        _dc_only_jpeg,
        _synth_avi,
        video_frame_dhash,
        video_neardup_admit,
    )

    shared = _dc_only_jpeg([(i % 16) * 8 - 64 for i in range(63)], 9, 7)
    novel = _dc_only_jpeg([((i * 7 + 3) % 16) * 8 - 64 for i in range(63)], 9, 7)
    corpus = spark.createDataFrame(
        [(1, _synth_avi([shared]))], "media_id long, payload binary"
    )
    batch = spark.createDataFrame(
        [(2, _synth_avi([shared, novel]))], "media_id long, payload binary"
    )
    idx = _band_fps(
        video_frame_dhash(corpus, hash_w=8, hash_h=7),
        "media_id", 56, 4, extra_cols=("frame_idx",),
    )
    admitted = video_neardup_admit(
        idx, batch, max_hamming=3, min_frac=0.5, hash_w=8, hash_h=7,
        n_bands=4,
    ).collect()
    assert admitted == []  # covered=1 of n=2: exactly-half -> rejected


def test_dc_only_jpeg_entropy_pack_golden():
    """_dc_only_jpeg's per-bit put() loop was replaced by a
    single big-int bit accumulator + one bytes.replace for 0xFF
    stuffing. The rewrite must be BYTE-identical — these goldens were
    generated from the pre-rewrite encoder (verified equal over 5000+
    random frames at the change), and the video md5 oracle gate pins
    the decoded dHashes cross-engine on top."""
    import hashlib

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _dc_only_jpeg,
        _synth_video_payload,
    )

    cases = [
        ([(i % 16) * 8 - 64 for i in range(63)],
         "8a047bdf726b4e1ec45ee5a8fe23c64b", 228),
        ([0] * 63, "a34f10e5a39329c92f58c8f4f2fb46b8", 195),
        # max-magnitude first diff (+56) then the widest swing (-120):
        # exercises category-7 value bits and the 0xFF-stuffing path
        ([56, -64] + [8] * 61, "d997543af27650e642b2e5cb1f41644a", 197),
    ]
    for dcs, md5, n in cases:
        jpg = _dc_only_jpeg(dcs, 9, 7)
        assert (hashlib.md5(jpg).hexdigest(), len(jpg)) == (md5, n)
    # full payloads (frames + container) for one AVI and one MOV doc
    p0, p1 = _synth_video_payload(0), _synth_video_payload(1)
    assert hashlib.md5(p0).hexdigest() == "8997a8d30f8ac88a37303a9165b7617a"
    assert hashlib.md5(p1).hexdigest() == "3a393d006813498f3823b22e794dd157"


def test_mov_sample_table_counts_bounded_by_box_sizes():
    """The stsz/stsc/stco counts are untrusted 32-bit fields: a tiny
    MOV claiming 2^32-1 entries in any of them must return at once
    (the walker clamps each count to what its box, or for a fixed
    sample size the payload, can hold) instead of looping over or
    allocating one entry per claimed item. The boxes still hold the
    real table, so the clamped walk yields the real frames. A long
    well-formed table walks in time linear in its size."""
    import time

    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        _mov_jpeg_frames,
    )

    frames, _ = _mjpeg_test_frames(n=3, w=8, h=8)
    mov = _mov_bytes(frames)
    assert _mov_jpeg_frames(mov) == frames
    huge = 2**32 - 1

    def put(buf, box, field_off, value):
        at = buf.index(box) + 4 + field_off
        return buf[:at] + value.to_bytes(4, "big") + buf[at + 4:]

    n_samples = put(mov, b"stsz", 8, huge)
    every = put(put(put(n_samples, b"stsc", 4, huge), b"stco", 4, huge),
                b"stsc", 12, huge)  # + samples_per_chunk of the first run
    cases = [
        (n_samples, frames),
        (put(mov, b"stsc", 4, huge), frames),  # n_runs
        (put(mov, b"stco", 4, huge), frames),  # n_chunks
        (every, frames),
        (put(n_samples, b"stsz", 4, 1), None),  # fixed 1-byte samples
    ]
    # a well-formed table of 20k one-byte samples, one chunk and one run
    # each: the chunk walk is linear in the table, not chunks x runs
    n = 20_000
    b32 = lambda v: v.to_bytes(4, "big")  # noqa: E731

    def box(t, data):
        return b32(8 + len(data)) + t + data

    def moov(off):
        stbl = box(
            b"stbl",
            box(b"stsd", b32(0) + b32(1) + box(b"jpeg", b"\x00" * 78))
            + box(b"stsz", b32(0) + b32(1) + b32(n))
            + box(b"stsc", b32(0) + b32(n) + b"".join(
                b32(i + 1) + b32(1) + b32(1) for i in range(n)))
            + box(b"stco", b32(0) + b32(n) + b"".join(
                b32(off + i) for i in range(n))),
        )
        return box(b"moov", box(b"trak", box(b"mdia", box(b"minf", stbl))))

    long_table = moov(len(moov(0)) + 8) + box(b"mdat", b"\xff" * n)
    cases.append((long_table, [b"\xff"] * n))
    for buf, want in cases:
        t0 = time.perf_counter()
        got = _mov_jpeg_frames(buf)
        assert time.perf_counter() - t0 < 1.0
        if want is not None:
            assert got == want


@pytest.mark.parametrize("op", ["match", "admit"])
def test_image_is_a_one_frame_video(spark, tmp_path, op):
    """The same JPEG bytes presented as images and as one-frame AVI /
    MOV videos take one fingerprint path: image_index_match and
    video_index_match return the same (idx_id, id, hamming) rows, and
    image_neardup_admit and video_neardup_admit (min_frac=0.5) admit
    the same ids — an undecodable item included."""
    from real_time_data_anomaly_detection_spark.operators.multimodal import (
        build_image_index,
        image_index_match,
        image_neardup_admit,
        video_index_match,
        video_neardup_admit,
    )

    a, b, c, d = _mjpeg_test_frames(n=4)[0]
    idx_path = str(tmp_path / "idx")
    build_image_index(
        spark.createDataFrame([(100, a), (101, b)], "media_id long, payload binary"),
        idx_path,
    )
    idx = spark.read.parquet(f"{idx_path}/seed")
    # indexed (a), intra-batch duplicate (c twice), novel (d), undecodable
    batch = [(1, a), (2, c), (3, c), (4, d), (5, b"not media")]
    images = spark.createDataFrame(batch, "media_id long, payload binary")
    videos = spark.createDataFrame(
        [
            (i, p if i == 5 else (_avi_bytes([p]) if i % 2 else _mov_bytes([p])))
            for i, p in batch
        ],
        "media_id long, payload binary",
    )
    if op == "match":
        img = {
            (r.idx_id, r.new_id, r.hamming)
            for r in image_index_match(idx, images).collect()
        }
        vid = {
            (r.idx_id, r.video_id, r.hamming)
            for r in video_index_match(idx, videos).collect()
        }
        assert (100, 1, 0) in img
    else:
        img = {r.media_id for r in image_neardup_admit(idx, images).collect()}
        vid = {
            r.media_id
            for r in video_neardup_admit(idx, videos, min_frac=0.5).collect()
        }
        assert img == {2, 4, 5}
    assert img == vid
