"""Pure-stdlib baseline JPEG decoder — the real JPEG kernel.

The container ships no image libraries, but baseline (SOF0) JPEG is
self-contained arithmetic: canonical Huffman tables (DHT), zigzag
dequantization (DQT), an 8x8 inverse DCT, chroma upsampling and the
YCbCr->RGB transform.  This module turns JPEG payloads in
`multimodal.decode_images` from an env-blocked NotImplementedError
seam into a real decoder.

Supported: baseline sequential DCT (SOF0), 8-bit samples, grayscale
and 3-component YCbCr, 4:4:4 / 4:2:2 / 4:2:0 sampling, restart
markers (DRI), multi-table DQT/DHT segments, 16-bit quantizer
entries.  Progressive (SOF2), arithmetic coding and 12-bit precision
raise :class:`JpegError` — surfaced per row by the kernels, never a
batch abort.

Exact-value testability without a reference decoder: for an image
whose 8x8 blocks are each CONSTANT, the DCT has only a DC
coefficient; with a unit quantization table the round trip is
LOSSLESS (DC = 8·(value−128) survives quantize/dequantize exactly,
and the IDCT of a DC-only block is the constant DC/8+128).  The
fixture encoder below writes exactly such grayscale JPEGs with the
spec's Annex-K Huffman tables, so `tests/test_jpeg.py` verifies the
full marker/Huffman/bitstream/IDCT path against hand-computable
pixels — the same trick the PNG/GIF fixtures use.

IDCT note: floating-point 2D separable IDCT with final
round-half-away-from-zero; for DC-only blocks this is exact, and the
color transform (ITU-T T.871) is mirrored in tests from the same
formula.
"""

from __future__ import annotations

import math
import struct

JPEG_SOI = b"\xFF\xD8"

# a hostile SOF can declare 65535x65535 (a 13 GB RGB buffer decoded one
# coefficient at a time); cap what the pure-Python path will attempt —
# real pipelines swap in libjpeg at the same kernel seam
MAX_PIXELS = 1 << 26

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# IDCT basis: cos((2x+1) u pi / 16) * C(u)/2, precomputed 8x8
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16)
         * ((1 / math.sqrt(2)) if u == 0 else 1.0) / 2
         for u in range(8)] for x in range(8)]


class JpegError(ValueError):
    """Malformed or unsupported JPEG input."""


class _Huffman:
    """Canonical JPEG Huffman table: (counts[16], symbols) -> a
    code->symbol map keyed by (length, code)."""

    def __init__(self, counts: bytes, symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                if k >= len(symbols):
                    raise JpegError("DHT symbol underrun")
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first entropy-coded segment reader: un-stuffs 0xFF00,
    stops at markers, handles RSTn via :meth:`restart`."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.bits = 0

    def _fill(self):
        if self.pos >= len(self.data):
            raise JpegError("entropy stream truncated")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(
                self.data) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                # fabricate 1-bits until the decoder consumes the
                # segment's padding; restart() skips the marker
                self.acc = (self.acc << 8) | 0xFF
                self.bits += 8
                return
            else:
                # EOI or other marker: pad with 1s per spec
                self.acc = (self.acc << 8) | 0xFF
                self.bits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.bits += 8

    def read_bit(self) -> int:
        if self.bits == 0:
            self._fill()
        self.bits -= 1
        return (self.acc >> self.bits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huffman(self, table: _Huffman) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise JpegError("invalid Huffman code")

    def restart(self):
        """Align to byte and skip the RSTn marker."""
        self.bits = 0
        while self.pos + 1 < len(self.data):
            if (self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
                self.pos += 2
                return
            self.pos += 1
        raise JpegError("missing restart marker")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _idct_block(coef: list[int]) -> list[int]:
    """2D separable IDCT, round-half-away-from-zero, clamp to 0..255.
    Input: 64 dequantized coefficients in natural (row-major) order,
    output: 64 level-shifted samples."""
    # rows (u over columns), then columns
    tmp = [0.0] * 64
    for y in range(8):
        row = coef[8 * y:8 * y + 8]
        if not any(row):
            continue
        for x in range(8):
            cx = _COS[x]
            tmp[8 * y + x] = sum(row[u] * cx[u] for u in range(8))
    out = [0] * 64
    for x in range(8):
        col = [tmp[8 * v + x] for v in range(8)]
        if not any(col):
            for y in range(8):
                out[8 * y + x] = 128
            continue
        for y in range(8):
            cy = _COS[y]
            s = sum(col[v] * cy[v] for v in range(8)) + 128.0
            iv = int(s + 0.5) if s >= 0 else -int(-s + 0.5)
            out[8 * y + x] = 0 if iv < 0 else (255 if iv > 255 else iv)
    return out


def _clamp(v: float) -> int:
    iv = int(v + 0.5) if v >= 0 else 0
    return 0 if iv < 0 else (255 if iv > 255 else iv)


def decode_jpeg(data: bytes):
    """Decode a baseline JPEG: ``(width, height, n_components,
    pixels)`` — pixels row-major, interleaved (1 byte/component,
    grayscale or RGB).  Malformed input raises :class:`JpegError`
    ONLY — hostile web payloads must surface as per-row errors in the
    Spark kernels, never a batch abort, so any parser slip
    (struct.error / IndexError / ValueError on a truncated or
    garbage segment) is converted here at the single entry point."""
    try:
        return _decode_jpeg_checked(data)
    except JpegError:
        raise
    except (struct.error, IndexError, ValueError) as e:
        raise JpegError(
            f"malformed JPEG ({type(e).__name__}: {e})") from e


def _decode_jpeg_checked(data: bytes):
    if not data.startswith(JPEG_SOI):
        raise JpegError("bad JPEG signature")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, _Huffman] = {}
    huff_ac: dict[int, _Huffman] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while True:
        if pos + 4 > len(data):
            raise JpegError("truncated before SOS")
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD8:
            continue
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        seg = data[pos + 2:pos + seglen]
        if len(seg) != seglen - 2:
            raise JpegError("truncated segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                n = 64 * (2 if pq else 1)
                raw = seg[i:i + n]
                if len(raw) != n:
                    raise JpegError("truncated DQT")
                vals = (list(struct.unpack(f">{64}H", raw)) if pq
                        else list(raw))
                table = [0] * 64
                for j, z in enumerate(ZIGZAG):
                    table[z] = vals[j]
                qt[tq] = table
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = seg[i + 1:i + 17]
                n = sum(counts)
                symbols = seg[i + 17:i + 17 + n]
                (huff_dc if tc == 0 else huff_ac)[th] = _Huffman(
                    counts, symbols)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline-ish
            precision, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), \
                seg[5]
            if precision != 8:
                raise JpegError(f"unsupported precision {precision}")
            if w == 0 or h == 0:
                raise JpegError("zero image dimension")
            if w * h > MAX_PIXELS:
                raise JpegError(
                    f"image too large for the pure-Python decoder "
                    f"({w}x{h} > {MAX_PIXELS} px)")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(
                f"unsupported JPEG mode (SOF marker 0x{marker:02X}; "
                "only baseline sequential is implemented)")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next((cc for cc in frame["comps"]
                             if cc["id"] == cs), None)
                if comp is None:
                    raise JpegError("scan references unknown component")
                scan.append({**comp, "td": tdta >> 4, "ta": tdta & 0x0F})
            return _decode_scan(data, pos + seglen, frame, scan, qt,
                                huff_dc, huff_ac, restart_interval)
        elif marker == 0xD9:
            raise JpegError("EOI before scan data")
        # APPn / COM / others: skipped
        pos += seglen


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac,
                 restart_interval):
    w, h = frame["w"], frame["h"]
    if w == 0 or h == 0:
        raise JpegError("zero-sized image")
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    if hmax < 1 or vmax < 1:
        raise JpegError("bad sampling factors")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component sample planes at full MCU-padded resolution
    planes = []
    for c in scan:
        cw, ch = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(bytearray(cw * ch))
        c["cw"], c["ch"] = cw, ch
        if c["tq"] not in qt:
            raise JpegError(f"missing quant table {c['tq']}")
    r = _BitReader(data, pos)
    pred = [0] * len(scan)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                r.restart()
                pred = [0] * len(scan)
            mcu_count += 1
            for ci, c in enumerate(scan):
                if c["td"] not in huff_dc or c["ta"] not in huff_ac:
                    raise JpegError("missing Huffman table")
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = [0] * 64
                        s = r.decode_huffman(huff_dc[c["td"]])
                        diff = _extend(r.receive(s), s) if s else 0
                        pred[ci] += diff
                        coef[0] = pred[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = r.decode_huffman(huff_ac[c["ta"]])
                            rr, ss = rs >> 4, rs & 0x0F
                            if ss == 0:
                                if rr == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += rr
                            if k > 63:
                                raise JpegError("AC index overrun")
                            z = ZIGZAG[k]
                            coef[z] = _extend(r.receive(ss), ss) * q[z]
                            k += 1
                        px = _idct_block(coef)
                        ox = (mx * c["h"] + bx) * 8
                        oy = (my * c["v"] + by) * 8
                        for yy in range(8):
                            row = (oy + yy) * c["cw"] + ox
                            planes[ci][row:row + 8] = bytes(
                                px[8 * yy:8 * yy + 8])
    return _assemble(w, h, scan, planes, hmax, vmax)


def _assemble(w, h, scan, planes, hmax, vmax):
    if len(scan) == 1:
        c = scan[0]
        out = bytearray(w * h)
        for y in range(h):
            src = (y * c["v"] // vmax) * c["cw"]
            row = planes[0]
            if c["h"] == hmax:
                out[y * w:(y + 1) * w] = row[src:src + w]
            else:
                for x in range(w):
                    out[y * w + x] = row[src + x * c["h"] // hmax]
        return w, h, 1, bytes(out)
    if len(scan) != 3:
        raise JpegError(f"unsupported component count {len(scan)}")
    out = bytearray(w * h * 3)
    # index via integer row bases — slicing planes[i][offset:] per row
    # copies the remainder of each plane every row (O(h x plane) bytes)
    p0, p1, p2 = planes
    h0, h1, h2 = scan[0]["h"], scan[1]["h"], scan[2]["h"]
    for y in range(h):
        b0 = (y * scan[0]["v"] // vmax) * scan[0]["cw"]
        b1 = (y * scan[1]["v"] // vmax) * scan[1]["cw"]
        b2 = (y * scan[2]["v"] // vmax) * scan[2]["cw"]
        for x in range(w):
            yy = p0[b0 + x * h0 // hmax]
            cb = p1[b1 + x * h1 // hmax] - 128
            cr = p2[b2 + x * h2 // hmax] - 128
            o = 3 * (y * w + x)
            out[o] = _clamp(yy + 1.402 * cr)
            out[o + 1] = _clamp(yy - 0.344136 * cb - 0.714136 * cr)
            out[o + 2] = _clamp(yy + 1.772 * cb)
    return w, h, 3, bytes(out)


# --- fixture encoder ---------------------------------------------------------
#
# Annex K (ITU T.81) luminance Huffman tables — the standard tables
# every camera writes; using them exercises realistic code lengths.

_DC_COUNTS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
_DC_SYMBOLS = bytes(range(12))
_AC_COUNTS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D])
_AC_SYMBOLS = bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])


def _huff_codes(counts: bytes, symbols: bytes) -> dict[int, tuple[int, int]]:
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.bits = 0

    def write(self, length: int, code: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.bits += 1
            if self.bits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.bits = 0

    def flush(self):
        while self.bits:
            self.write(1, 1)  # pad with 1s per spec


def encode_gray_blocks_jpeg(blocks_w: int, blocks_h: int,
                            block_values,
                            restart_interval: int = 0) -> bytes:
    """Grayscale baseline JPEG of ``8·blocks_w x 8·blocks_h`` pixels
    where block (bx, by) is the CONSTANT ``block_values[by][bx]`` —
    with a unit quantization table this encodes LOSSLESSLY (DC-only
    blocks), so the decoder's output is exactly the input values.
    ``restart_interval`` > 0 writes a DRI segment and RSTn markers
    every that many MCUs (with the spec's predictor reset), so the
    decoder's restart path is byte-testable too."""
    dc_codes = _huff_codes(_DC_COUNTS, _DC_SYMBOLS)
    ac_codes = _huff_codes(_AC_COUNTS, _AC_SYMBOLS)
    w, h = 8 * blocks_w, 8 * blocks_h
    out = bytearray(JPEG_SOI)
    # DQT: table 0, unit entries
    out += b"\xFF\xDB" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    # SOF0: 1 component, 1x1 sampling, quant table 0
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 11, 8, h, w, 1) \
        + bytes([1, 0x11, 0])
    # DHT: DC table 0 + AC table 0
    out += b"\xFF\xC4" + struct.pack(
        ">H", 2 + 1 + 16 + len(_DC_SYMBOLS)) + b"\x00" \
        + _DC_COUNTS + _DC_SYMBOLS
    out += b"\xFF\xC4" + struct.pack(
        ">H", 2 + 1 + 16 + len(_AC_SYMBOLS)) + b"\x10" \
        + _AC_COUNTS + _AC_SYMBOLS
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xFF\xDA" + struct.pack(">H", 8) + bytes(
        [1, 1, 0x00, 0, 63, 0])
    bw = _BitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for by in range(blocks_h):
        for bx in range(blocks_w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                out += bw.out
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = 0
            mcu += 1
            v = block_values[by][bx]
            if not 0 <= v <= 255:
                raise ValueError("block value out of range")
            dc = 8 * (v - 128)  # DCT DC of a constant block
            diff = dc - pred
            pred = dc
            if diff == 0:
                s = 0
            else:
                s = abs(diff).bit_length()
            length, code = dc_codes[s]
            bw.write(length, code)
            if s:
                bw.write(s, diff if diff > 0 else diff + (1 << s) - 1)
            # EOB: no AC coefficients
            length, code = ac_codes[0x00]
            bw.write(length, code)
    bw.flush()
    out += bw.out
    out += b"\xFF\xD9"
    return bytes(out)


def synth_jpeg_bytes(doc_id: int) -> bytes:
    """Deterministic grayscale fixture: ``(2 + doc_id % 3) x
    (1 + doc_id % 2)`` blocks, block (bx, by) constant
    ``(doc_id * 11 + (by * bw + bx) * 29) % 256`` — integer
    arithmetic a SQL oracle reproduces, and losslessly encoded (see
    :func:`encode_gray_blocks_jpeg`)."""
    bw_, bh = 2 + doc_id % 3, 1 + doc_id % 2
    vals = [[(doc_id * 11 + (by * bw_ + bx) * 29) % 256
             for bx in range(bw_)] for by in range(bh)]
    return encode_gray_blocks_jpeg(bw_, bh, vals)
