"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with a typed metadata struct;
all per-asset compute (decode, resize, feature extraction, frame
sampling) runs as Arrow-batched ``mapInPandas`` so bytes never leave
the executor and batches amortize Python crossing costs.

Decode reality in this container (matches COVERAGE.md's table): audio
PCM WAV decodes for REAL via the stdlib ``wave`` fallback, video
decodes for REAL for the RAWV raw-frame container (pure Python), and
image decodes for REAL for binary netpbm (P5 grayscale / P6 RGB),
non-interlaced PNG (stdlib zlib inflate + per-scanline unfilter,
8/16-bit gray/RGB/alpha), baseline-sequential JPEG (Huffman entropy
decode, dequant, IDCT, chroma upsampling, YCbCr->gray) AND
progressive JPEG with a DC-first scan (SOF2 spectral-selection
decode of the DC scan — round 6) — all with no third-party codec.
Arithmetic-coded / hierarchical JPEG, progressive streams whose
first scan is not DC, and compressed audio/video (MP3, H.264, …)
need system codecs this sandbox lacks — those paths record per-row
NotImplementedError (PIL, when deployed, is the import-gated escape
hatch). The Spark-side plumbing (schema, partitioning, batch shape,
UDF signatures) is identical for every path and tested with the
deterministic fake as well.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # image|audio|video
    T.StructField("media", T.BinaryType(), True),       # opaque payload
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]), True),
])

FEATURE_SCHEMA = ("asset_id long, kind string, n_bytes long, "
                  "feature array<double>, decode_ok boolean, error string")


def _netpbm_gray(payload: bytes):
    """Parse a binary netpbm image (P5 grayscale / P6 RGB — REAL public
    formats, pure stdlib+numpy) into a normalized [0,1] grayscale
    (h, w) array. Returns None when the magic doesn't match (so the
    caller can fall through to PIL); raises ValueError on a corrupt
    header/raster."""
    import numpy as np

    if payload is None or payload[:2] not in (b"P5", b"P6"):
        return None
    # header: magic, then 3 ints (w, h, maxval) separated by
    # whitespace, with '#' comments running to end-of-line
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("corrupt netpbm header (unclosed comment)")
            pos = nl + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("corrupt netpbm header (missing field)")
        vals.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then the raster
    w, h, maxval = vals
    if w <= 0 or h <= 0 or maxval <= 0 or maxval > 65535:
        raise ValueError("corrupt netpbm header (bad dimensions)")
    nch = 3 if payload[:2] == b"P6" else 1
    dt = np.dtype(">u2" if maxval > 255 else "u1")
    need = w * h * nch * dt.itemsize
    raster = payload[pos:pos + need]
    if len(raster) < need:
        raise ValueError("truncated netpbm raster")
    px = np.frombuffer(raster, dtype=dt).astype(np.float64) / maxval
    if nch == 3:
        px = px.reshape(h, w, 3).mean(axis=2)
    else:
        px = px.reshape(h, w)
    return px


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_gray(payload: bytes):
    """Parse a non-interlaced PNG (a REAL public format, RFC 2083)
    into a normalized [0,1] grayscale (h, w) array using ONLY the
    stdlib (zlib inflate + per-scanline unfilter) + numpy. Supports
    bit depth 8/16 and color types 0 (gray), 2 (RGB), 4 (gray+alpha),
    6 (RGBA). Returns None when the signature doesn't match (caller
    falls through); raises ValueError on corrupt/unsupported data
    (interlaced, palette) — recorded per-row by callers."""
    import zlib

    import numpy as np

    if payload is None or payload[:8] != _PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # len + type + data + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("corrupt PNG (missing IHDR/IDAT)")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, _comp, _filt, interlace = ihdr[8:13]
    if w <= 0 or h <= 0:
        raise ValueError("corrupt PNG header (bad dimensions)")
    if interlace:
        raise ValueError("interlaced (Adam7) PNG unsupported")
    nch = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"PNG color type {ctype} unsupported "
                         "(palette needs PLTE handling)")
    if depth not in (8, 16):
        raise ValueError(f"PNG bit depth {depth} unsupported")
    bps = depth // 8
    bpp = nch * bps                      # filter byte distance
    stride = w * bpp
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}")
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG raster")

    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        rofs = y * (stride + 1)
        ftype = raw[rofs]
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=stride, offset=rofs + 1).copy()
        if ftype == 0:                    # None
            pass
        elif ftype == 2:                  # Up
            line += prev
        elif ftype in (1, 3, 4):          # Sub / Average / Paeth
            # sequential in x (recon[x] needs recon[x-bpp]); ints
            # wrap mod 256 per the spec
            up = prev.astype(np.int32)
            ln = line.astype(np.int32)
            rec = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = int(up[x])
                if ftype == 1:
                    rec[x] = (ln[x] + a) & 0xFF
                elif ftype == 3:
                    rec[x] = (ln[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(up[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                    rec[x] = (ln[x] + pred) & 0xFF
            line = rec.astype(np.uint8)
        else:
            raise ValueError(f"corrupt PNG (filter type {ftype})")
        out[y] = line
        prev = out[y]

    maxval = (1 << depth) - 1
    px = np.frombuffer(out.tobytes(),
                       dtype=np.dtype(">u2" if depth == 16 else "u1"))
    px = px.reshape(h, w, nch).astype(np.float64) / maxval
    if ctype == 2:
        return px.mean(axis=2)
    if ctype == 6:
        return px[:, :, :3].mean(axis=2)
    return px[:, :, 0]                   # gray / gray+alpha


class _BitReader:
    """JPEG entropy-segment bit reader: handles 0xFF00 byte stuffing
    and stops at (without consuming past) restart/terminating
    markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0

    def read_bit(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy data")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt != 0x00:
                raise ValueError("truncated JPEG entropy data "
                                 "(marker inside scan)")
        b = (byte >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
            if byte == 0xFF:     # skip the stuffed 0x00
                self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self):
        if self.bit:
            self.bit = 0
            self.pos += 1


def _receive_extend(r: _BitReader, s: int) -> int:
    """JPEG RECEIVE+EXTEND: an s-bit magnitude where a leading 0 bit
    means negative (value - (2^s - 1))."""
    if s == 0:
        return 0
    v = r.read_bits(s)
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]


def _jpeg_gray(payload: bytes):
    """Baseline-sequential JPEG decode (ITU T.81, a REAL public
    format) with ONLY the stdlib + numpy: segment parse, Huffman
    entropy decode (DC prediction + AC run-length), dequantize,
    un-zigzag, 8x8 IDCT via one basis-matrix GEMM, 4:2:0/4:2:2 chroma
    upsampling, YCbCr->RGB->mean-gray (mean matches the P6/PNG
    convention). Progressive (SOF2) streams decode their DC first
    scan into the 8x-downsampled raster (enough for every downstream
    block-mean/phash feature). Returns None when the SOI signature
    doesn't match; raises ValueError for corrupt or unsupported
    (arithmetic, hierarchical, 12-bit, non-DC-first progressive)
    streams — recorded per-row by callers."""
    import numpy as np

    if payload is None or payload[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart = 0
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG (lost marker sync)")
        marker = payload[pos + 1]
        if marker == 0xD9:               # EOI
            break
        if marker == 0xFF:               # fill byte (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / standalone RSTn carry NO length field — reading
            # one desyncs the whole segment scan (ADVICE r5)
            pos += 2
            continue
        ln = int.from_bytes(payload[pos + 2:pos + 4], "big")
        seg = payload[pos + 4:pos + 2 + ln]
        if marker == 0xDB:               # DQT
            i = 0
            while i < len(seg):
                pq_, tq = seg[i] >> 4, seg[i] & 0xF
                n = 64 * (2 if pq_ else 1)
                raw = seg[i + 1:i + 1 + n]
                tbl = (np.frombuffer(raw, dtype=">u2") if pq_
                       else np.frombuffer(raw, dtype=np.uint8))
                qt[tq] = tbl.astype(np.int32)
                i += 1 + n
        elif marker == 0xC4:             # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                counts = seg[i + 1:i + 17]
                syms = seg[i + 17:i + 17 + sum(counts)]
                table, code, k = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = syms[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = table
                i += 17 + sum(counts)
        elif marker in (0xC0, 0xC1):     # SOF0/1 baseline+extended
            prec, h, w, nc = seg[0], int.from_bytes(seg[1:3], "big"), \
                int.from_bytes(seg[3:5], "big"), seg[5]
            if prec != 8:
                raise ValueError(f"JPEG precision {prec} unsupported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], \
                    seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker == 0xC2:             # SOF2 progressive (DC-only)
            prec, h, w, nc = seg[0], int.from_bytes(seg[1:3], "big"), \
                int.from_bytes(seg[3:5], "big"), seg[5]
            if prec != 8:
                raise ValueError(f"JPEG precision {prec} unsupported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], \
                    seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": True}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("arithmetic/hierarchical JPEG unsupported "
                             "(baseline + progressive-DC only)")
        elif marker == 0xDD:             # DRI
            restart = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:             # SOS
            if frame is None:
                raise ValueError("corrupt JPEG (SOS before SOF)")
            ns = seg[0]
            sel = {}
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                sel[cs] = (tt >> 4, tt & 0xF)
            if frame.get("progressive"):
                # Progressive decode is FIRST-SCAN-ONLY by design: the
                # DC scan (Ss=Se=0, Ah=0) yields the 8x-downsampled
                # image — exactly the raster the 64x64 phash/block-
                # mean features need; later refinement scans only add
                # detail the features discard. Spectral-selection or
                # refinement first scans stay per-row errors.
                ss_, se_ = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
                if ss_ == 0 and se_ == 0 and ah == 0:
                    return _jpeg_dc_scan(payload, pos + 2 + ln, frame,
                                         sel, qt, huff, restart, al)
                raise ValueError(
                    "progressive JPEG: only a DC first scan "
                    "(Ss=Se=0, Ah=0) is decoded")
            return _jpeg_scan(payload, pos + 2 + ln, frame, sel, qt,
                              huff, restart)
        pos += 2 + ln
    raise ValueError("corrupt JPEG (no scan)")


def _decode_huff(r: _BitReader, table) -> int:
    length, code = 0, 0
    while length < 16:
        code = (code << 1) | r.read_bit()
        length += 1
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("corrupt JPEG Huffman code")


def _jpeg_dc_scan(payload, pos, frame, sel, qt, huff, restart, al):
    """Progressive DC first scan (T.81 G.2): per block, one Huffman-
    coded DC diff, point-transformed by ``al`` — no AC coefficients in
    the stream at all. The block's spatial mean is dc*q0/8 + 128 (the
    orthonormal IDCT's constant basis), so the scan IS the
    8x-downsampled image; the raster is pixel-replicated back to the
    frame's (h, w) so downstream fixed-strip features see the same
    geometry as a baseline decode of the same image."""
    import numpy as np

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [np.zeros((mcuy * c["v"], mcux * c["h"])) for c in comps]
    r = _BitReader(payload, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                r.align_to_marker()
                mk = payload[r.pos:r.pos + 2]
                if len(mk) == 2 and mk[0] == 0xFF and \
                        0xD0 <= mk[1] <= 0xD7:
                    r.pos += 2
                    pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t = huff[(0, sel[c["id"]][0])]
                q0 = int(qt[c["tq"]][0])
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        s = _decode_huff(r, dc_t)
                        pred[ci] += _receive_extend(r, s)
                        planes[ci][my * c["v"] + by,
                                   mx * c["h"] + bx] = \
                            (pred[ci] << al) * q0 / 8 + 128
            mcu_count += 1

    dh, dw = -(-h // 8), -(-w // 8)      # ceil: blocks covering image
    full = []
    for ci, c in enumerate(comps):
        p = np.repeat(np.repeat(planes[ci], vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        full.append(p[:dh, :dw])
    if len(full) == 1:
        gray = full[0]
    elif len(full) == 3:
        y, cb, cr = full[0], full[1] - 128, full[2] - 128
        rch = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        gray = (rch + g + b) / 3
    else:
        raise ValueError(f"JPEG with {len(full)} components unsupported")
    # pixel-replicate back to the image's true (h, w): downstream
    # features split the raster into fixed strip counts, so a
    # w/8-wide raster would zero-pad strips whenever w < 8*strips
    # (progressive vs baseline encodings of the SAME image would
    # then hash apart — the opposite of what near-dup needs), and
    # the resize path is downscale-only. Nearest-neighbor is exact
    # for the DC-only content: every replicated pixel IS its
    # block's mean.
    gray = np.repeat(np.repeat(gray, 8, axis=0), 8, axis=1)[:h, :w]
    return np.clip(gray, 0, 255) / 255.0


def _jpeg_scan(payload, pos, frame, sel, qt, huff, restart):
    import numpy as np

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # orthonormal 8x8 DCT basis: spatial = A.T @ coeff @ A
    k_ = np.arange(8)
    a = np.cos((2 * k_[None, :] + 1) * k_[:, None] * np.pi / 16) / 2
    a[0, :] *= 1 / np.sqrt(2)
    planes = [np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))
              for c in comps]
    zz = np.array(_ZIGZAG)

    decode_huff = _decode_huff
    r = _BitReader(payload, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                r.align_to_marker()
                mk = payload[r.pos:r.pos + 2]
                if len(mk) == 2 and mk[0] == 0xFF and \
                        0xD0 <= mk[1] <= 0xD7:
                    r.pos += 2
                    pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t = huff[(0, sel[c["id"]][0])]
                ac_t = huff[(1, sel[c["id"]][1])]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64, dtype=np.int64)
                        s = decode_huff(r, dc_t)
                        pred[ci] += _receive_extend(r, s)
                        coef[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = decode_huff(r, ac_t)
                            rr, ss = rs >> 4, rs & 0xF
                            if ss == 0:
                                if rr == 15:
                                    k += 16      # ZRL
                                    continue
                                break            # EOB
                            k += rr
                            if k > 63:
                                raise ValueError("corrupt JPEG AC run")
                            coef[k] = _receive_extend(r, ss)
                            k += 1
                        blk = np.zeros(64)
                        blk[zz] = coef * q       # dequant + unzigzag
                        px = a.T @ blk.reshape(8, 8) @ a + 128
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = px
            mcu_count += 1

    # upsample subsampled planes to full MCU grid, crop, color-convert
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        gray = full[0]
    elif len(full) == 3:
        y, cb, cr = full[0], full[1] - 128, full[2] - 128
        rch = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        gray = (rch + g + b) / 3
    else:
        raise ValueError(f"JPEG with {len(full)} components unsupported")
    return np.clip(gray, 0, 255) / 255.0


def decode_image(payload: bytes, dims: int = 8) -> list[float]:
    """Real image decode — THREE formats parse with only the stdlib +
    numpy: binary netpbm (P5/P6), non-interlaced PNG (zlib inflate +
    per-scanline unfilter), and baseline-sequential JPEG (Huffman +
    dequant + IDCT + chroma upsampling) — into a ``dims``-strip of
    block-mean normalized intensities (the decode_video_frame feature
    shape). Unrecognized formats go through PIL when installed;
    without it they raise NotImplementedError — callers record the
    error per-row instead of failing the job."""
    import numpy as np

    gray = _netpbm_gray(payload)
    if gray is None:
        gray = _png_gray(payload)
    if gray is None:
        gray = _jpeg_gray(payload)
    if gray is not None:
        return [float(c.mean()) if c.size else 0.0 for c in
                np.array_split(gray, dims, axis=1)]
    try:
        from PIL import Image
    except ImportError:
        raise NotImplementedError(
            "netpbm (P5/P6), non-interlaced PNG, and baseline JPEG "
            "decode in-environment; other formats need PIL; use "
            "fake_decode=True for deterministic plumbing tests")
    import io
    img = Image.open(io.BytesIO(payload)).convert("L").resize((dims, 1))
    return [p / 255.0 for p in img.getdata()]


def decode_audio(payload: bytes, dims: int = 8) -> list[float]:
    """Real audio decode: mono -> mean absolute amplitude over ``dims``
    equal chunks (a coarse loudness envelope). Prefers soundfile (any
    libsndfile format) when installed; falls back to the stdlib
    ``wave`` module for PCM WAV — a REAL decode with no third-party
    codec, which is what this container exercises. Non-WAV payloads
    without soundfile raise NotImplementedError (recorded per-row by
    callers)."""
    import io

    import numpy as np
    try:
        import soundfile as sf
        data, _sr = sf.read(io.BytesIO(payload))
    except ImportError:
        data = _wav_pcm_samples(payload)
    if getattr(data, "ndim", 1) > 1:
        data = data.mean(axis=1)
    if len(data) == 0:
        return [0.0] * dims
    return [float(c.mean()) if len(c) else 0.0
            for c in np.array_split(np.abs(data), dims)]


def _wav_pcm_samples(payload: bytes):
    """PCM WAV -> float array in [-1, 1] via the stdlib wave module
    (8/16/32-bit int PCM; channels averaged by the caller)."""
    import io
    import wave

    import numpy as np
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            width = w.getsampwidth()
            nch = w.getnchannels()
            frames = w.readframes(w.getnframes())
    except (wave.Error, EOFError) as e:
        raise NotImplementedError(
            f"not a PCM WAV and soundfile is not installed ({e}); "
            "use fake_decode=True for plumbing tests")
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise NotImplementedError(f"unsupported PCM width {width}")
    data = np.frombuffer(frames, dtype=dtype).astype(np.float64)
    if width == 1:                       # 8-bit WAV is unsigned
        data = data - 128.0
    data /= float(2 ** (8 * width - 1))
    if nch > 1:
        data = data.reshape(-1, nch)
    return data


_REAL_DECODERS = {"image": decode_image, "audio": decode_audio}


def _fake_feature(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic stand-in feature: byte-histogram moments. Keeps the
    full pipeline (schema, batching, ranking) testable without codecs."""
    if not payload:
        return [0.0] * dims
    return [payload[i % len(payload)] / 255.0 for i in range(dims)]


def extract_features(assets: DataFrame, fake_decode: bool = True,
                     dims: int = 8) -> DataFrame:
    """Per-asset feature extraction over mapInPandas. One pass over the
    binary column; output is a narrow feature table (the wide media
    bytes are dropped executor-side, never shuffled)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, oks, errs = [], [], []
            for payload, kind in zip(pdf["media"], pdf["kind"]):
                try:
                    if fake_decode:
                        feats.append(_fake_feature(payload, dims))
                    else:
                        decoder = _REAL_DECODERS.get(kind)
                        if decoder is None:
                            raise NotImplementedError(
                                f"no codec for kind={kind} "
                                "(video decode needs ffmpeg deployment)")
                        feats.append(decoder(payload, dims))
                    oks.append(True)
                    errs.append(None)
                except Exception as e:  # malformed payloads included
                    feats.append(None)
                    oks.append(False)
                    errs.append(str(e)[:100])
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["media"].map(lambda b: len(b) if b is not None else 0),
                "feature": feats,
                "decode_ok": oks,
                "error": errs,
            })

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000,
                      audio_window_ms: int = 500,
                      audio_hop_ms: int = 250) -> DataFrame:
    """Media sampling *plan* (JVM-side sequences — the decode itself
    would consume this plan in a mapInPandas pass):

    - video: one row per frame tick every ``every_ms``
      (``ts_ms = end_ms``, a point sample);
    - audio: one row per analysis window of ``audio_window_ms`` hopped
      by ``audio_hop_ms`` (overlapping when hop < window, the standard
      STFT framing) — ``ts_ms`` is the window start, ``end_ms`` its
      exclusive end, clipped to the asset duration.
    """
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0))

    video = assets.where(F.col("kind") == "video")
    n_frames = F.greatest((dur / every_ms).cast("int"), F.lit(0))
    frames = video.select(
        "asset_id", F.col("kind"),
        F.explode(F.sequence(F.lit(0), n_frames)).alias("frame_idx"),
    ).select("asset_id", "kind", "frame_idx",
             (F.col("frame_idx") * every_ms).alias("ts_ms"),
             (F.col("frame_idx") * every_ms).alias("end_ms"))

    audio = assets.where((F.col("kind") == "audio") & (dur > 0))
    last_start = F.greatest(
        (F.ceil((dur - audio_window_ms) / audio_hop_ms)).cast("int"),
        F.lit(0))
    windows = audio.select(
        "asset_id", F.col("kind"), dur.alias("_dur"),
        F.explode(F.sequence(F.lit(0), last_start)).alias("frame_idx"),
    ).select("asset_id", "kind", "frame_idx",
             (F.col("frame_idx") * audio_hop_ms).alias("ts_ms"),
             F.least(F.col("frame_idx") * audio_hop_ms + audio_window_ms,
                     F.col("_dur")).alias("end_ms"))
    return frames.unionByName(windows)


FRAME_SCHEMA = ("asset_id long, frame_idx int, ts_ms int, "
                "feature array<double>, decode_ok boolean, error string")


RAWV_MAGIC = b"RAWV"
_RAWV_HEADER_LEN = 10  # magic + u16 width + u16 height + u16 frame_ms


def encode_rawv(frames: list[bytes], width: int, height: int,
                frame_ms: int) -> bytes:
    """Encode grayscale frames into the RAWV container: ``RAWV`` magic,
    little-endian u16 width/height/frame-interval-ms, then frames of
    ``width*height`` intensity bytes concatenated in order."""
    import struct
    if any(len(f) != width * height for f in frames):
        raise ValueError("every RAWV frame must be width*height bytes")
    return (RAWV_MAGIC + struct.pack("<HHH", width, height, frame_ms)
            + b"".join(frames))


def decode_video_frame(payload: bytes, ts_ms: int, dims: int = 8) -> list[float]:
    """Real video frame decode for the RAWV raw-frame container (pure
    Python, no system codecs): seek to the frame covering ``ts_ms`` and
    reduce it to a ``dims``-value strip of mean normalized intensities —
    the same feature shape as ``decode_image``. Non-RAWV payloads raise
    NotImplementedError (compressed codecs need a PyAV/ffmpeg deployment
    this container lacks); corrupt RAWV raises ValueError. Either way the
    caller records the error per-row and never fails the job."""
    import struct
    if payload is None or len(payload) < _RAWV_HEADER_LEN \
            or payload[:4] != RAWV_MAGIC:
        raise NotImplementedError(
            "only the RAWV raw-frame container decodes in-environment; "
            "compressed video needs PyAV/ffmpeg deployment")
    width, height, frame_ms = struct.unpack_from("<HHH", payload, 4)
    if width == 0 or height == 0 or frame_ms == 0:
        raise ValueError("corrupt RAWV header (zero dimension/interval)")
    if ts_ms < 0:
        # floor division would seek a negative offset into the header
        raise ValueError(f"negative frame timestamp {ts_ms}ms")
    fsize = width * height
    idx = ts_ms // frame_ms
    off = _RAWV_HEADER_LEN + idx * fsize
    if off + fsize > len(payload):
        raise ValueError(f"frame {idx} (ts={ts_ms}ms) beyond payload")
    frame = payload[off:off + fsize]
    # mean intensity over `dims` contiguous pixel blocks; when
    # dims > pixels some blocks are empty — they repeat the nearest
    # in-range pixel (clamped index) rather than dividing by zero
    step = fsize / dims
    out = []
    for i in range(dims):
        lo, hi = round(i * step), round((i + 1) * step)
        block = frame[lo:hi]
        if not block:
            j = min(lo, fsize - 1)
            block = frame[j:j + 1]
        out.append(sum(block) / len(block) / 255.0)
    return out


def _fake_frame_feature(payload: bytes, ts_ms: int, dims: int = 8) -> list[float]:
    """Deterministic per-frame stand-in: byte strip offset by the frame
    timestamp, so distinct frames of one asset get distinct features."""
    if not payload:
        return [0.0] * dims
    return [payload[(ts_ms + i) % len(payload)] / 255.0 for i in range(dims)]


def video_frame_features(assets: DataFrame, every_ms: int = 1000,
                         dims: int = 8, fake_decode: bool = True) -> DataFrame:
    """Per-frame feature extraction for video assets.

    Frame ticks are regenerated executor-side in Python (same arithmetic
    as ``frame_sample_plan``: one tick every ``every_ms``, inclusive of
    t=0) rather than joining the JVM plan back to the media column — a
    plan-side join would replicate each asset's bytes once PER FRAME
    through the shuffle, which at 100 TB of video is the whole job cost.
    Here each asset's bytes cross the Arrow boundary exactly once and
    fan out to frames in memory; ``frame_sample_plan`` remains the
    JVM-side source of truth for metadata-only consumers (scheduling,
    cost estimation) and the tests assert tick parity between the two.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("asset_id", "frame_idx", "ts_ms",
                                   "feature", "decode_ok", "error")}
            for aid, payload, meta in zip(pdf["asset_id"], pdf["media"],
                                          pdf["meta"]):
                dur = (meta or {}).get("duration_ms") or 0
                n_frames = max(int(dur / every_ms), 0)
                for idx in range(n_frames + 1):
                    ts = idx * every_ms
                    try:
                        if fake_decode:
                            feat = _fake_frame_feature(payload, ts, dims)
                        else:
                            feat = decode_video_frame(payload, ts, dims)
                        ok, err = True, None
                    except Exception as e:
                        feat, ok, err = None, False, str(e)[:100]
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(idx)
                    out["ts_ms"].append(ts)
                    out["feature"].append(feat)
                    out["decode_ok"].append(ok)
                    out["error"].append(err)
            yield pd.DataFrame(out)

    video = assets.where(F.col("kind") == "video") \
        .select("asset_id", "media", "meta")
    return video.mapInPandas(run, schema=FRAME_SCHEMA)


def fake_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic asset table for tests."""
    rows = []
    kinds = ("image", "audio", "video")
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes((i * j) % 256 for j in range(32 + (i % 5) * 16))
        duration = {"video": 1000 * (i % 4),
                    "audio": 1200 * (i % 3)}.get(kind)
        rows.append((i, kind, payload,
                     ("application/octet-stream", 4, 4, duration)))
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def blockhash63(feature):
    """63-bit Blockhash-style perceptual hash from a 63-strip feature
    array (Yang/Oostveen block-mean hashing, public): bit i = strip
    i's mean intensity above the array median (exact middle of 63
    values — every strip contributes a bit, no blind-spot strip).
    Pure higher-order column expression over the decoded feature —
    per-row, no UDF beyond the decode itself; bit 63 stays clear so
    the value is positive (same convention as
    operators/dedup.simhash64, so the banding/verify machinery is
    shared)."""
    from pyspark.sql import functions as F

    med = F.element_at(F.array_sort(feature), 32)
    out = F.lit(0).cast("long")
    for i in range(63):
        out = out.bitwiseOR(
            F.when(F.element_at(feature, i + 1) > med,
                   F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    return out


RESIZED_SCHEMA = ("asset_id long, media binary, width int, height int, "
                  "resize_ok boolean, error string")


def resize_gray(gray, out_w: int, out_h: int):
    """Block-mean downscale of a [0,1] grayscale array to
    (out_h, out_w) — numpy reshape-mean when dimensions divide evenly,
    per-axis array_split means otherwise (area-average resampling, the
    standard thumbnailing kernel)."""
    import numpy as np

    h, w = gray.shape
    if out_h > h or out_w > w:
        # upscale would feed empty splits (NaN means); this is a
        # downscale kernel — record the error per-row instead of
        # emitting garbage pixels with resize_ok=True
        raise ValueError(
            f"resize_gray is downscale-only: {h}x{w} -> {out_h}x{out_w}")
    if h % out_h == 0 and w % out_w == 0:
        return gray.reshape(out_h, h // out_h, out_w,
                            w // out_w).mean(axis=(1, 3))
    rows = [r.mean(axis=0) for r in np.array_split(gray, out_h, axis=0)]
    return np.stack([
        np.array([c.mean() for c in np.array_split(row, out_w)])
        for row in rows])


def encode_p5(gray) -> bytes:
    """Re-encode a [0,1] grayscale array as binary netpbm P5 — the
    inverse of _netpbm_gray, so resize output round-trips through the
    same real decoder."""
    import numpy as np

    h, w = gray.shape
    raster = np.clip(np.rint(gray * 255.0), 0, 255).astype(np.uint8)
    return f"P5\n{w} {h}\n255\n".encode() + raster.tobytes()


def resize_images(assets: DataFrame, out_w: int = 8,
                  out_h: int = 8) -> DataFrame:
    """Arrow-batched image resize: decode netpbm payloads, block-mean
    downscale to (out_w, out_h), re-encode P5. Same executor-side
    shape as extract_features — wide media bytes cross Arrow once per
    direction and never ride a shuffle; malformed payloads record a
    per-row error instead of failing the job."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, oks, errs = [], [], []
            for payload in pdf["media"]:
                try:
                    gray = _netpbm_gray(payload)
                    if gray is None:
                        raise NotImplementedError(
                            "only netpbm (P5/P6) resizes in-environment")
                    outs.append(encode_p5(resize_gray(gray, out_w,
                                                      out_h)))
                    oks.append(True)
                    errs.append(None)
                except Exception as e:
                    outs.append(None)
                    oks.append(False)
                    errs.append(str(e)[:100])
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "media": outs,
                "width": out_w, "height": out_h,
                "resize_ok": oks, "error": errs,
            })

    return assets.where(F.col("kind") == "image") \
        .select("asset_id", "kind", "media") \
        .mapInPandas(run, schema=RESIZED_SCHEMA)


def synth_wav_assets(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_samples: int = 8192) -> DataFrame:
    """Render each document's text as a REAL 8-bit PCM WAV payload
    (stdlib ``wave`` writer; samples = the text's own bytes, capped at
    ``max_samples``, NO padding or cycling — the signal's duration is
    the text's length, so feature windows computed relative to
    duration stay content-aligned; padding would hand every short doc
    an identical constant tail and cycling would phase-shift the
    whole signal under a one-word edit). The ingest-side twin of
    decode_audio's stdlib parser: downstream audio operators exercise
    a genuine encode->decode round trip instead of fake bytes.
    Deterministic: same text, same payload. Runs in mapInPandas; text
    never rides a shuffle as audio."""
    import io
    import wave
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias, durs = [], []
            for text in pdf["_t"]:
                raw = (text or " ").encode("utf-8", "replace")
                samples = raw[:max_samples]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(1)
                    w.setframerate(8000)
                    w.writeframes(samples)
                medias.append(buf.getvalue())
                durs.append(len(samples) * 1000 // 8000)
            yield pd.DataFrame({
                "asset_id": pdf["_id"], "kind": "audio",
                "media": medias,
                "meta": [{"mime": "audio/wav", "width": None,
                          "height": None, "duration_ms": dur}
                         for dur in durs],
            })

    src = docs.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_t"))
    return src.mapInPandas(run, schema=ASSET_SCHEMA)


def diffhash63(feature):
    """63-bit sign-of-difference audio fingerprint from a 64-window
    loudness envelope: bit i = window i+1 louder than window i — the
    Haitsma-Kalker (2002) robust-hash shape (energy DIFFERENCES, not
    absolute levels, so the hash is invariant to overall gain and far
    more discriminative than a median threshold on near-constant
    envelopes). Pure higher-order column expression; bit 63 stays
    clear so the value is positive and the shared 4x16 banding
    applies."""
    from pyspark.sql import functions as F

    out = F.lit(0).cast("long")
    for i in range(63):
        out = out.bitwiseOR(
            F.when(F.element_at(feature, i + 2)
                   > F.element_at(feature, i + 1),
                   F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    return out


def synth_rawv_assets(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", frame_w: int = 8,
                      frame_h: int = 8, max_frames: int = 8,
                      frame_ms: int = 1000) -> DataFrame:
    """Render each document's text as a REAL RAWV video payload: the
    normalized text splits into width*height-byte frames (last frame
    space-padded, count capped at ``max_frames``), so a text edit is a
    FRAME-LOCAL pixel change and document length is the video's
    duration. The ingest twin of decode_video_frame — downstream video
    operators exercise the genuine container round trip. Deterministic;
    text never rides a shuffle as video."""
    from collections.abc import Iterator

    import pandas as pd

    fsize = frame_w * frame_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias, metas = [], []
            for text in pdf["_t"]:
                raw = (text or " ").encode("utf-8", "replace")
                n = min(max(1, -(-len(raw) // fsize)), max_frames)
                frames = [raw[i * fsize:(i + 1) * fsize]
                          .ljust(fsize, b" ") for i in range(n)]
                medias.append(encode_rawv(frames, frame_w, frame_h,
                                          frame_ms))
                # ticks run 0..duration inclusive; (n-1)*frame_ms
                # samples exactly the n real frames
                metas.append({"mime": "video/x-rawv", "width": frame_w,
                              "height": frame_h,
                              "duration_ms": (n - 1) * frame_ms})
            yield pd.DataFrame({
                "asset_id": pdf["_id"], "kind": "video",
                "media": medias, "meta": metas,
            })

    src = docs.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_t"))
    return src.mapInPandas(run, schema=ASSET_SCHEMA)
