"""Minimal baseline TIFF codec (grayscale) — stdlib struct + numpy.

Newspaper scan corpora are commonly TIFF (the reference decodes them via
PIL, ``engines/tesseract_engine.py:133-144``); this closes the last
sniffed-but-stubbed image format in ``operators/multimodal.py``:

- :func:`decode_tiff_gray` — baseline TIFF → (H, W) uint8 (page N of
  the chained-IFD sequence; :func:`decode_tiff_pages` iterates every
  page of a multi-IFD issue and :func:`tiff_page_count` probes the
  chain):
  8-bit grayscale (PhotometricInterpretation 0/1, BlackIsZero or
  WhiteIsZero), 1-bit bilevel (the newspaper-archive staple — bits
  unpacked MSB-first per row), and 8-bit RGB (converted with the same
  PIL-exact integer luma as the PNG path); uncompressed (Compression=1),
  CCITT Group 4 (4 — the dominant archival bilevel compression, full
  T.6 2-D coding with the T.4 run tables), CCITT Group 3 (3 — the
  fax-era coding: T.4 1-D EOL-synced rows plus the 2-D and
  byte-aligned-EOL T4Options variants, sharing the G4 machinery),
  PackBits (32773), or LZW (5, libtiff early-change semantics) with
  optional horizontal-differencing Predictor (tag 317 = 2); strip-based,
  both byte orders (II/MM); FillOrder=2 (LSB-first, fax-origin files)
  bit-reverses each bit-serial strip.
- :func:`encode_tiff_gray` / :func:`encode_tiff_multi` — single-strip
  uncompressed little-endian grayscale writers (single- and chained-IFD
  multi-page); :func:`encode_ccitt_g4` emits T.6 payloads for the TIFF
  and PDF CCITT arms; tests additionally hand-build LZW/bilevel/CCITT
  streams with in-module/test-local compressors.

Anything else (tiles, JPEG-in-TIFF, planar, palettes, T4Options
uncompressed mode, T6Options extensions) raises ``ValueError`` — the
same loud-failure/quarantine contract as the PNG and JPEG codecs.
"""

from __future__ import annotations

import struct

import numpy as np

# tag ids (public TIFF 6.0 spec constants)
_WIDTH, _HEIGHT = 256, 257
_BITS, _COMPRESSION, _PHOTOMETRIC = 258, 259, 262
_STRIP_OFFSETS, _SAMPLES_PER_PIXEL, _ROWS_PER_STRIP = 273, 277, 278
_STRIP_BYTE_COUNTS = 279
_PREDICTOR = 317
_T4_OPTIONS = 292
_T6_OPTIONS = 293
_FILL_ORDER = 266
_PLANAR_CONFIG = 284

# byte → bit-reversed byte, for FillOrder=2 (LSB-first) strips
_BITREV = bytes(int(f"{b:08b}"[::-1], 2) for b in range(256))

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
               10: 8, 11: 4, 12: 8}


def _unpackbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits (RLE) decompression, spec algorithm: n in [0,127] copies
    n+1 literal bytes; n in [-127,-1] repeats the next byte 1-n times;
    -128 is a no-op."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expected:
        b = data[i]
        i += 1
        code = b - 256 if b > 127 else b
        if code >= 0:
            out += data[i:i + code + 1]
            i += code + 1
        elif code != -128:
            if i >= n:
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (1 - code)
            i += 1
    if len(out) < expected:
        raise ValueError("PackBits output shorter than strip")
    return bytes(out[:expected])


_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF LZW decompression (TIFF 6.0 §13, libtiff "early change"
    semantics): MSB-first variable-width codes starting at 9 bits,
    ClearCode=256, EOI=257; the code width bumps when the table reaches
    511/1023/2047 entries (one code earlier than GIF-style LZW)."""
    out = bytearray()
    buf = nbits = i = 0
    n = len(data)
    table: list[bytes] = []
    width = 9
    prev = b""

    def reset():
        nonlocal table, width, prev
        table = [bytes([k]) for k in range(256)] + [b"", b""]
        width = 9
        prev = b""

    reset()
    while len(out) < expected:
        while nbits < width:
            if i >= n:
                raise ValueError("truncated TIFF LZW data")
            buf = (buf << 8) | data[i]
            i += 1
            nbits += 8
        code = (buf >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == _LZW_CLEAR:
            reset()
            continue
        if code == _LZW_EOI:
            break
        if not prev:
            if code >= 256:
                raise ValueError("bad TIFF LZW first code")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError("bad TIFF LZW code")
            table.append(prev + entry[:1])
            # early change: the decoder's table lags the encoder's by one
            # entry, so it must widen one entry earlier (TIFF 6.0 §13)
            if len(table) in (510, 1022, 2046):
                width += 1
        out += entry
        prev = entry
    if len(out) < expected:
        raise ValueError("TIFF LZW output shorter than strip")
    return bytes(out[:expected])


class _LZWWriter:
    """TIFF LZW compressor (test generator; same early-change discipline
    as the decoder, with table reset at 4093 entries like libtiff)."""

    def __init__(self):
        self.bits: list[tuple[int, int]] = []
        self.reset()
        self._emit(_LZW_CLEAR)

    def reset(self):
        self.table = {bytes([k]): k for k in range(256)}
        self.next_code = 258
        self.width = 9

    def _emit(self, code: int):
        self.bits.append((code, self.width))

    def feed(self, data: bytes):
        w = b""
        for b in data:
            wc = w + bytes([b])
            if wc in self.table:
                w = wc
                continue
            self._emit(self.table[w])
            self.table[wc] = self.next_code
            self.next_code += 1
            if self.next_code in (511, 1023, 2047):
                self.width += 1
            elif self.next_code == 4093:
                self._emit(_LZW_CLEAR)
                self.reset()
            w = bytes([b])
        if w:
            self._emit(self.table[w])
        self._emit(_LZW_EOI)

    def tobytes(self) -> bytes:
        buf = nbits = 0
        out = bytearray()
        for code, width in self.bits:
            buf = (buf << width) | code
            nbits += width
            while nbits >= 8:
                out.append((buf >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((buf << (8 - nbits)) & 0xFF)
        return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    wtr = _LZWWriter()
    wtr.feed(data)
    return wtr.tobytes()


# --- CCITT Group 4 (ITU-T T.6) bilevel decode ------------------------------
# Run-length code tables from the public ITU-T T.4 spec (Tables 1-3):
# terminating codes (runs 0-63), makeup codes (64-1728 per colour), and
# the shared extended makeup codes (1792-2560).

_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
}
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100",
    1024: "011010101", 1088: "011010110", 1152: "011010111",
    1216: "011011000", 1280: "011011001", 1344: "011011010",
    1408: "011011011", 1472: "010011000", 1536: "010011001",
    1600: "010011010", 1664: "011000", 1728: "010011011",
}
_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
}
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
# extended makeup codes (shared white/black), 1792-2560
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}






def _build_run_peek(*tables) -> list[int]:
    """13-bit peek table for T.4 run codes: peek → ``(run << 5) | code
    length`` or -1 — one list index replaces per-length string prefix
    matching (the same peek-table trick as the JPEG decoder)."""
    entry = [-1] * (1 << 13)
    for t in tables:
        for run, code in t.items():
            ln = len(code)
            base = int(code, 2) << (13 - ln)
            packed = (run << 5) | ln
            for i in range(1 << (13 - ln)):
                entry[base + i] = packed
    return entry


_WPEEK = _build_run_peek(_WHITE_TERM, _WHITE_MAKEUP, _EXT_MAKEUP)
_BPEEK = _build_run_peek(_BLACK_TERM, _BLACK_MAKEUP, _EXT_MAKEUP)

# 7-bit peek table for the 2-D mode codes: peek → (mode << 4) | length.
# Modes: 0 V0, 1 VR1, 2 VR2, 3 VR3, 4 VL1, 5 VL2, 6 VL3, 7 pass, 8 H.
_MODE_PEEK = [-1] * (1 << 7)
for _mode, _code in ((0, "1"), (1, "011"), (2, "000011"), (3, "0000011"),
                     (4, "010"), (5, "000010"), (6, "0000010"),
                     (7, "0001"), (8, "001")):
    _base = int(_code, 2) << (7 - len(_code))
    for _i in range(1 << (7 - len(_code))):
        _MODE_PEEK[_base + _i] = (_mode << 4) | len(_code)
del _mode, _code, _base, _i


def _bit_windows(data: bytes) -> list[int]:
    """Per-byte 24-bit MSB-first windows over ``data`` + 4 zero-pad
    bytes, precomputed in one vectorized pass: the per-code 16-bit peek
    becomes one list index + shift instead of a bytes slice +
    ``int.from_bytes`` per Huffman code (the CCITT hot loop's dominant
    cost). Past-end bits read as zeros — same semantics as the old
    zero-padded copy; loudness is preserved because no T.4/mode code is
    all-zero and the top-level decoders check the final consumed
    position against the real bit length.

    The pad covers every reachable peek: a peek at or past bit ``nbits``
    reads only zeros and raises, so every decoded code starts before
    ``nbits``, and codes are at most 13 bits long; the farthest peek, at
    bit ``nbits + 12``, reads window ``n + 1``, the last one. MH row
    alignment cannot pass ``nbits`` either: a row ends on a terminating
    code, which is checked against ``nbits``."""
    d = np.frombuffer(data + b"\x00" * 4, dtype=np.uint8).astype(np.uint32)
    return ((d[:-2] << 8 | d[1:-1]) << 8 | d[2:]).tolist()


def _peek16(wins: list[int], p: int) -> int:
    """16-bit MSB-first peek at bit ``p`` over :func:`_bit_windows`."""
    return (wins[p >> 3] >> (8 - (p & 7))) & 0xFFFF


def _read_t4_run(wins: list[int], nbits: int, p: int,
                 peek: list[int]) -> tuple[int, int]:
    """One T.4 run length at bit ``p`` → (total, new_pos): makeup codes
    (≥64) accumulate until a terminating code (<64) ends the run (runs
    beyond 2560 repeat makeups). Shared by the G4 and MH decoders."""
    total = 0
    while True:
        e = peek[((wins[p >> 3] >> (8 - (p & 7))) & 0xFFFF) >> 3]
        if e < 0:
            raise ValueError("bad T.4 run code")
        p += e & 31
        run = e >> 5
        total += run
        if run < 64:
            if p > nbits:
                raise ValueError("truncated CCITT data")
            return total, p


def _ccitt_2d_row(wins: list[int], nbits: int, pos: int, ref: list[int],
                  w: int) -> tuple[list[int], int]:
    """One 2-D-coded row (shared by T.6/G4 and T.4 2-D/G3): decode the
    vertical/pass/horizontal modes against the reference line's
    colour-change positions → (this row's change positions, new bit
    pos). The reference-line cursor advances monotonically with a0, so
    a row decodes in O(changes) — a halftone region with 10³ changes per
    row stays linear, not quadratic. ``wins`` is the precomputed window
    list; the caller checks the final position against the real length."""
    cur: list[int] = []
    a0 = -1
    color = 0  # 0 = white
    ri = 0     # first ref index with ref[ri] > a0 (monotone in a0)
    while a0 < w:
        while ref[ri] <= a0:
            ri += 1
        # b1: first change > a0 whose index parity matches the colour
        # (even = white→black); changes strictly increase, so at most
        # one step right fixes the parity
        bi = ri if ri % 2 == color else ri + 1
        b1 = ref[bi]
        b2 = ref[bi + 1]
        e = _MODE_PEEK[((wins[pos >> 3] >> (8 - (pos & 7))) & 0xFFFF) >> 9]
        if e < 0:
            raise ValueError("bad G4 mode code")
        pos += e & 15
        mode = e >> 4
        if mode < 7:  # vertical: a1 = b1 + {0,+1,+2,+3,-1,-2,-3}
            a1 = b1 + (mode if mode < 4 else 3 - mode)
        elif mode == 7:  # pass
            a0 = b2
            continue
        else:  # horizontal: two T.4 runs
            first = _WPEEK if color == 0 else _BPEEK
            second = _BPEEK if color == 0 else _WPEEK
            r1, pos = _read_t4_run(wins, nbits, pos, first)
            r2, pos = _read_t4_run(wins, nbits, pos, second)
            start = a0 if a0 > 0 else 0
            a1, a2 = start + r1, start + r1 + r2
            if a2 > w:
                raise ValueError("G4 horizontal run overflows row")
            cur.extend((a1, a2))
            a0 = a2
            continue
        # coding elements move strictly rightward (T.6): a crafted
        # pass-then-VL sequence could otherwise step left past a0 and
        # decode silent garbage instead of quarantining
        if a1 > w or a1 <= a0:
            raise ValueError("G4 vertical move out of range")
        cur.append(a1)
        color ^= 1
        a0 = a1
    return cur, pos


def _paint_row(out: np.ndarray, y: int, cur: list[int], w: int) -> None:
    """Change positions → pixels: odd-indexed spans are black."""
    col = 0
    prev = 0
    for pxy in cur:
        if col:
            out[y, prev:min(pxy, w)] = 1
        prev = pxy
        col ^= 1
    if col:
        out[y, prev:w] = 1


_PAINT_CHUNK_ROWS = 256  # bounds transient delta/cumsum memory per call


def _paint_rows(rows: list[list[int]], w: int) -> np.ndarray:
    """All rows' change positions → (h, w) uint8 pixels in a vectorized
    pass (replaces per-span Python slice assignment): +1 at black-span
    starts, −1 at ends in a flat delta array, cumsum, >0. Identical to
    :func:`_paint_row` per row — spans never overlap (change positions
    strictly increase), and an unpaired trailing change paints to ``w``.
    Processed in row chunks so the int32 delta/cumsum temporaries stay
    bounded (a broadsheet-size page would otherwise transiently allocate
    ~8 bytes/pixel against the 1-byte output).
    """
    h = len(rows)
    out = np.empty((h, w), dtype=np.uint8)
    stride = w + 1
    for y0 in range(0, h, _PAINT_CHUNK_ROWS):
        chunk = rows[y0:y0 + _PAINT_CHUNK_ROWS]
        starts, ends = [], []
        for y, cur in enumerate(chunk):
            if not cur:
                continue
            arr = np.asarray(cur if len(cur) % 2 == 0 else cur + [w],
                             dtype=np.int64)
            np.minimum(arr, w, out=arr)
            base = y * stride
            starts.append(arr[0::2] + base)
            ends.append(arr[1::2] + base)
        delta = np.zeros(len(chunk) * stride, dtype=np.int32)
        if starts:
            np.add.at(delta, np.concatenate(starts), 1)
            np.add.at(delta, np.concatenate(ends), -1)
        painted = np.cumsum(delta.reshape(len(chunk), stride)[:, :w], axis=1)
        np.greater(painted, 0, out=out[y0:y0 + len(chunk)])
    return out


def _g4_decode(data: bytes, w: int, h: int) -> np.ndarray:
    """T.6 (Group 4) bitstream → (h, w) uint8 with 1 = black — the
    dominant archival bilevel compression. Pure 2-D coding: every row is
    coded against the previous row's colour-change positions; the
    imaginary line above row 0 is all white."""
    nbits = len(data) * 8
    wins = _bit_windows(data)
    pos = 0
    ref = [w, w, w, w]
    rows: list[list[int]] = []
    for y in range(h):
        cur, pos = _ccitt_2d_row(wins, nbits, pos, ref, w)
        rows.append(cur)
        ref = cur + [w, w, w, w]
    if pos > nbits:
        raise ValueError("truncated CCITT data")
    return _paint_rows(rows, w)


def _t4_1d_row(wins: list[int], nbits: int, pos: int,
               w: int) -> tuple[list[int], int]:
    """One 1-D (MH) coded row → (change positions, new bit pos):
    alternating white/black T.4 runs starting white; only the leading
    white run may be zero-length (a row that starts black)."""
    cur: list[int] = []
    x = 0
    color = 0
    first = True
    while x < w:
        peek = _WPEEK if color == 0 else _BPEEK
        run, pos = _read_t4_run(wins, nbits, pos, peek)
        if run == 0 and not first:
            raise ValueError("zero-length mid-row T.4 run")
        first = False
        if x + run > w:
            raise ValueError("T.4 run overflows row")
        x += run
        cur.append(x)
        color ^= 1
    return cur, pos


def _mh_continuous_decode(data: bytes, w: int, h: int) -> np.ndarray:
    """Concatenated T.4 1-D (MH) rows with NO row sync — no EOL codes,
    no byte alignment (the PDF CCITTFaxDecode K=0 default: /EndOfLine
    and /EncodedByteAlign both false)."""
    nbits = len(data) * 8
    wins = _bit_windows(data)
    pos = 0
    rows: list[list[int]] = []
    for y in range(h):
        cur, pos = _t4_1d_row(wins, nbits, pos, w)
        rows.append(cur)
    if pos > nbits:
        raise ValueError("truncated CCITT data")
    return _paint_rows(rows, w)


def _find_eol(data: bytes, nbits: int, pos: int) -> int | None:
    """Consume fill bits + one T.4 EOL (≥11 zero bits then a 1) at
    ``pos`` → position after the EOL, or None if the bits at ``pos`` are
    not fill+EOL. No valid T.4/T.6 code has ≥8 leading zeros, so ≥11
    zeros-then-1 identifies EOL unambiguously (that is WHY EOL is 11
    zeros — T.4 §4.1.2)."""
    zeros = 0
    q = pos
    while q < nbits and not (data[q >> 3] >> (7 - (q & 7))) & 1:
        zeros += 1
        q += 1
    if q < nbits and zeros >= 11:
        return q + 1
    return None


def _g3_decode(data: bytes, w: int, h: int,
               two_dim: bool = False) -> np.ndarray:
    """T.4 (Group 3) bitstream → (h, w) uint8 with 1 = black — the
    fax-era coding (TIFF Compression=3). Every row is preceded by an EOL
    sync code (fill bits before it cover the T4Options byte-align
    variant); in 2-D mode (T4Options bit 0) a tag bit after each EOL
    says whether the next row is 1-D (MH runs) or 2-D (the shared
    vertical/pass/horizontal machinery against the previous row). A
    missing EOL is tolerated only before row 0 (common in the wild);
    that row is then necessarily 1-D."""
    nbits = len(data) * 8
    wins = _bit_windows(data)
    pos = 0
    ref = [w, w, w, w]
    rows: list[list[int]] = []
    for y in range(h):
        after = _find_eol(data, nbits, pos)
        if after is None:
            if y != 0:
                raise ValueError("G3 row missing EOL")
            one_d = True  # headerless first row is 1-D by construction
        else:
            pos = after
            if two_dim:
                if pos >= nbits:
                    raise ValueError("truncated G3 stream")
                one_d = bool((data[pos >> 3] >> (7 - (pos & 7))) & 1)
                pos += 1
            else:
                one_d = True
        if one_d:
            cur, pos = _t4_1d_row(wins, nbits, pos, w)
        else:
            cur, pos = _ccitt_2d_row(wins, nbits, pos, ref, w)
        rows.append(cur)
        ref = cur + [w, w, w, w]
    if pos > nbits:
        raise ValueError("truncated CCITT data")
    return _paint_rows(rows, w)



def _mh_decode(data: bytes, w: int, h: int) -> np.ndarray:
    """CCITT "Modified Huffman" RLE (TIFF Compression=2): each row is an
    independent sequence of alternating white/black T.4 runs starting
    white, byte-aligned at the start of every row — the 1-D cousin of
    Group 4, sharing its run tables and run reader."""
    nbits = len(data) * 8
    wins = _bit_windows(data)
    pos = 0
    rows: list[list[int]] = []
    for y in range(h):
        pos = (pos + 7) & ~7  # rows are byte-aligned
        x = 0
        color = 0
        cur: list[int] = []
        while x < w:
            peek = _WPEEK if color == 0 else _BPEEK
            total, pos = _read_t4_run(wins, nbits, pos, peek)
            if x + total > w:
                raise ValueError("MH run overflows row")
            x += total
            cur.append(x)
            color ^= 1
        rows.append(cur)
    return _paint_rows(rows, w)


def _read_ifd_at(data: bytes, bo: str,
                 ifd_off: int) -> tuple[dict[int, list[int]], int]:
    """Parse one IFD at a byte offset → (tags, next-IFD offset or 0)."""
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF (no IFD)")
    (n_entries,) = struct.unpack(bo + "H", data[ifd_off:ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(data):
            raise ValueError("truncated TIFF IFD")
        tag, typ, count = struct.unpack(bo + "HHI", data[off:off + 8])
        size = _TYPE_SIZES.get(typ)
        if size is None:
            continue
        total = size * count
        if total <= 4:
            raw = data[off + 8:off + 8 + total]
        else:
            (voff,) = struct.unpack(bo + "I", data[off + 8:off + 12])
            raw = data[voff:voff + total]
            if len(raw) != total:
                raise ValueError("truncated TIFF tag data")
        if typ == 3:
            vals = list(struct.unpack(bo + "H" * count, raw))
        elif typ == 4:
            vals = list(struct.unpack(bo + "I" * count, raw))
        elif typ == 1:
            vals = list(raw)
        else:  # rationals etc — resolution metadata, not needed
            vals = []
        tags[tag] = vals
    next_at = ifd_off + 2 + 12 * n_entries
    if next_at + 4 > len(data):
        raise ValueError("truncated TIFF IFD (no next pointer)")
    (next_off,) = struct.unpack(bo + "I", data[next_at:next_at + 4])
    return tags, next_off


def _tiff_byte_order(data: bytes) -> str:
    if data[:4] == b"II*\x00":
        return "<"
    if data[:4] == b"MM\x00*":
        return ">"
    raise ValueError("not a TIFF (bad byte-order header)")


def _ifd_offsets(data: bytes, bo: str) -> list[int]:
    """The IFD chain (multi-page TIFF = linked IFDs, TIFF 6.0 §2);
    cycle- and length-guarded so crafted chains quarantine."""
    if len(data) < 8:
        raise ValueError("truncated TIFF header")
    (off,) = struct.unpack(bo + "I", data[4:8])
    offs: list[int] = []
    seen: set[int] = set()
    while off:
        if off in seen or len(offs) >= 10_000:
            raise ValueError("TIFF IFD chain is cyclic or too long")
        seen.add(off)
        offs.append(off)
        _, off = _read_ifd_at(data, bo, off)
    if not offs:
        raise ValueError("TIFF has no IFDs")
    return offs


def tiff_page_count(data: bytes) -> int:
    """Number of pages (IFDs) — an O(chain) metadata probe, no pixel
    decode (the TIFF analog of :func:`stages.pdf.pdf_page_count`)."""
    bo = _tiff_byte_order(data)
    return len(_ifd_offsets(data, bo))


def decode_tiff_pages(data: bytes):
    """Every page of a multi-IFD TIFF in chain order — the shape a
    scanned newspaper ISSUE has (one IFD per page). Yields
    ``(page_index, (H, W) uint8)`` lazily so callers can bound work."""
    bo = _tiff_byte_order(data)
    for idx, off in enumerate(_ifd_offsets(data, bo)):
        tags, _ = _read_ifd_at(data, bo, off)
        yield idx, _decode_ifd(data, bo, tags)


def decode_tiff_gray(data: bytes, page: int = 0) -> np.ndarray:
    """Baseline TIFF bytes → (H, W) uint8 luma plane (page ``page`` of
    the IFD chain; single-page files have exactly one)."""
    bo = _tiff_byte_order(data)
    offs = _ifd_offsets(data, bo)
    if not 0 <= page < len(offs):
        raise ValueError(f"TIFF has {len(offs)} pages, no page {page}")
    tags, _ = _read_ifd_at(data, bo, offs[page])
    return _decode_ifd(data, bo, tags)


def _decode_ifd(data: bytes, bo: str,
                tags: dict[int, list[int]]) -> np.ndarray:

    def one(tag, default=None):
        v = tags.get(tag)
        if not v:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w, h = one(_WIDTH), one(_HEIGHT)
    if w == 0 or h == 0:
        raise ValueError("empty TIFF frame")
    spp = one(_SAMPLES_PER_PIXEL, 1)
    bits = tags.get(_BITS, [8])
    bilevel = bits == [1] and spp == 1
    gray16 = bits == [16] and spp == 1
    if not bilevel and not gray16 and (any(b != 8 for b in bits)
                                       or spp not in (1, 3)):
        raise ValueError(f"unsupported TIFF (bits={bits} samples={spp}); "
                         "8/16-bit gray, 8-bit RGB, or 1-bit bilevel only")
    if one(_PLANAR_CONFIG, 1) != 1:
        raise ValueError("unsupported TIFF PlanarConfiguration (chunky "
                         "only)")
    fill_order = one(_FILL_ORDER, 1)
    if fill_order not in (1, 2):
        raise ValueError(f"invalid TIFF FillOrder {fill_order}")
    compression = one(_COMPRESSION, 1)
    if compression not in (1, 2, 3, 4, 5, 32773):
        raise ValueError(f"unsupported TIFF compression {compression}; "
                         "uncompressed/MH/G3/G4/LZW/PackBits only")
    if fill_order == 2 and not (bilevel or compression in (2, 3, 4)):
        # LSB-first bit packing only makes sense for bit-serial data —
        # on 8/16-bit samples it would scramble every byte silently
        raise ValueError("TIFF FillOrder=2 on multi-bit samples "
                         "unsupported")
    if compression in (2, 3, 4):
        if not bilevel:
            raise ValueError(
                "TIFF CCITT compression requires 1-bit data")
        if compression == 4 and one(_T6_OPTIONS, 0) != 0:
            raise ValueError("unsupported TIFF T6Options")
        if compression == 3:
            t4 = one(_T4_OPTIONS, 0)
            if t4 & ~0x5:  # bit0 = 2-D, bit2 = byte-aligned EOLs
                raise ValueError(f"unsupported TIFF T4Options {t4}")
    predictor = one(_PREDICTOR, 1)
    if predictor not in (1, 2) or (predictor == 2 and bilevel):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    photometric = one(_PHOTOMETRIC, 1)
    # photometric must MATCH the sample layout: gray needs 0/1, RGB needs
    # 2 — a WhiteIsZero tag on RGB data would otherwise be silently
    # ignored (the spp==3 branch never runs the inversion)
    if spp == 3:
        if photometric != 2:
            raise ValueError(
                f"unsupported TIFF photometric {photometric} for RGB")
    elif photometric not in (0, 1):
        raise ValueError(f"unsupported TIFF photometric {photometric}")

    offsets = tags.get(_STRIP_OFFSETS)
    counts = tags.get(_STRIP_BYTE_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/byte counts")
    rows_per_strip = one(_ROWS_PER_STRIP, h)

    row_bytes = (-(-w // 8)) if bilevel else w * spp * (2 if gray16 else 1)
    out = bytearray()
    remaining_rows = h
    t4_opts = one(_T4_OPTIONS, 0) if compression == 3 else 0
    for off, cnt in zip(offsets, counts):
        strip = data[off:off + cnt]
        if len(strip) != cnt:
            raise ValueError("truncated TIFF strip")
        if fill_order == 2 and compression in (2, 3, 4):
            # LSB-first within each byte → reverse to the MSB-first order
            # the CCITT decoders assume. Bit-serial codecs only: the
            # entropy STREAM carries the bit order, so reversal happens
            # before decode; byte-oriented codecs (raw/PackBits/LZW)
            # carry LSB-first bits inside decoded PIXEL bytes and are
            # reversed after decompression below (libtiff semantics —
            # reversing their control streams would corrupt them)
            strip = strip.translate(_BITREV)
        n_rows = min(rows_per_strip, remaining_rows)
        expected = n_rows * row_bytes
        if compression == 32773:
            dec = _unpackbits_decode(strip, expected)
            out += dec.translate(_BITREV) if fill_order == 2 else dec
        elif compression in (2, 3, 4):
            # decode to 1 bit per pixel, repacked to the row-padded layout
            if compression == 4:
                bits01 = _g4_decode(strip, w, n_rows)
            elif compression == 3:
                bits01 = _g3_decode(strip, w, n_rows,
                                    two_dim=bool(t4_opts & 1))
            else:
                bits01 = _mh_decode(strip, w, n_rows)
            out += np.packbits(bits01, axis=1).tobytes()
        elif compression == 5:
            dec = _lzw_decode(strip, expected)
            out += dec.translate(_BITREV) if fill_order == 2 else dec
        else:
            if len(strip) < expected:
                raise ValueError("TIFF strip shorter than its rows")
            raw_strip = strip[:expected]
            out += raw_strip.translate(_BITREV) if fill_order == 2 \
                else raw_strip
        remaining_rows -= n_rows
    if remaining_rows > 0:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")

    arr = np.frombuffer(bytes(out), dtype=np.uint8)
    if gray16:
        # 16-bit samples in the FILE's byte order -> high byte (the same
        # I;16 -> L view as the PNG path); predictor 2 diffs 16-bit values
        a16 = np.frombuffer(bytes(out), dtype=bo + "u2") \
            .reshape(h, w).astype(np.uint32)
        if predictor == 2:
            a16 = np.cumsum(a16, axis=1, dtype=np.uint32) & 0xFFFF
        gray = (a16 >> 8).astype(np.uint8)
        if photometric == 0:
            gray = (255 - gray.astype(np.int16)).astype(np.uint8)
        return gray
    if bilevel:
        # bits MSB-first per row, each row padded to a byte boundary;
        # bit 1 = max value under BlackIsZero, = black under WhiteIsZero
        rows = np.unpackbits(arr.reshape(h, row_bytes), axis=1)[:, :w]
        gray = (rows * 255).astype(np.uint8)
        if photometric == 0:
            gray = (255 - gray.astype(np.int16)).astype(np.uint8)
        return gray
    if predictor == 2:
        # horizontal differencing: each sample is stored as the delta to
        # the previous sample of the same channel in the row
        px = arr.reshape(h, w, spp).astype(np.uint32)
        arr = np.cumsum(px, axis=1, dtype=np.uint32).astype(np.uint8) \
            .reshape(-1)
    if spp == 3:
        from .png import to_grayscale
        return to_grayscale(arr.reshape(h, w, 3))
    gray = arr.reshape(h, w)
    if photometric == 0:  # WhiteIsZero: invert to the BlackIsZero view
        gray = (255 - gray.astype(np.int16)).astype(np.uint8)
    return gray


def encode_ccitt_g4(img01: np.ndarray) -> bytes:
    """(H, W) 0/1 array (1 = black) → a T.6 (Group 4) bitstream, EOFB-
    terminated and byte-padded — the payload shape of a CCITT TIFF strip
    or a PDF ``/CCITTFaxDecode /K -1`` image. Pure 2-D coding against
    the previous row's change positions using the in-module T.4 run
    tables (the decoder's own alphabet); exactness is pinned by decoder
    roundtrips plus the spec-literal bitstream fixtures in the tests."""
    img01 = np.asarray(img01)
    if img01.ndim != 2 or not np.isin(img01, (0, 1)).all():
        raise ValueError("encode_ccitt_g4 wants a (H, W) 0/1 array")
    h, w = img01.shape
    bits: list[str] = []

    def emit_run(run: int, term: dict, makeup: dict) -> None:
        while run >= 64:
            best = max(k for k in list(makeup) + list(_EXT_MAKEUP)
                       if 64 <= k <= run)
            bits.append(makeup.get(best) or _EXT_MAKEUP[best])
            run -= best
        bits.append(term[run])

    vcode = {0: "1", 1: "011", 2: "000011", 3: "0000011",
             -1: "010", -2: "000010", -3: "0000010"}
    ref = [w, w, w, w]
    for y in range(h):
        row = img01[y]
        cur = np.nonzero(np.diff(np.concatenate(([0], row))))[0].tolist()
        curp = cur + [w, w]
        a0, color = -1, 0
        ci = 0  # first cur index with cur[ci] > a0 (monotone in a0)
        ri = 0  # first ref index with ref[ri] > a0 (monotone in a0)
        nc = len(cur)
        while a0 < w:
            while ci < nc and curp[ci] <= a0:
                ci += 1
            a1 = curp[ci] if ci < nc else w
            while ref[ri] <= a0:
                ri += 1
            bi = ri if ri % 2 == color else ri + 1
            b1 = ref[bi]
            b2 = ref[bi + 1]
            if b2 < a1:
                bits.append("0001")  # pass
                a0 = b2
                continue
            delta = a1 - b1
            if -3 <= delta <= 3:
                bits.append(vcode[delta])
                a0 = a1
                color ^= 1
                continue
            a2 = curp[ci + 1] if ci + 1 < nc else w
            start = a0 if a0 > 0 else 0
            bits.append("001")  # horizontal: two T.4 runs
            if color == 0:
                emit_run(a1 - start, _WHITE_TERM, _WHITE_MAKEUP)
                emit_run(a2 - a1, _BLACK_TERM, _BLACK_MAKEUP)
            else:
                emit_run(a1 - start, _BLACK_TERM, _BLACK_MAKEUP)
                emit_run(a2 - a1, _WHITE_TERM, _WHITE_MAKEUP)
            a0 = a2
        ref = cur + [w, w, w, w]
    bits.append("000000000001000000000001")  # EOFB
    s = "".join(bits)
    s += "0" * ((-len(s)) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def encode_tiff_multi(arrs: list[np.ndarray]) -> bytes:
    """(H, W) uint8 pages → a multi-page (chained-IFD) uncompressed
    little-endian TIFF — the shape a scanned newspaper ISSUE has (one
    IFD per page, TIFF 6.0 §2)."""
    if not arrs:
        raise ValueError("encode_tiff_multi wants at least one page")
    pages = []
    for arr in arrs:
        arr = np.ascontiguousarray(arr, dtype=np.uint8)
        if arr.ndim != 2:
            raise ValueError("encode_tiff_multi takes 2-D grayscale "
                             "arrays")
        pages.append(arr)
    out = bytearray(b"II*\x00\x00\x00\x00\x00")  # next: patch below
    prev_next_at = 4  # header's first-IFD pointer
    for arr in pages:
        h, w = arr.shape
        pixels = arr.tobytes()
        strip_off = len(out)
        out += pixels
        ifd_off = len(out)
        struct.pack_into("<I", out, prev_next_at, ifd_off)
        entries = [
            (_WIDTH, 3, 1, w),
            (_HEIGHT, 3, 1, h),
            (_BITS, 3, 1, 8),
            (_COMPRESSION, 3, 1, 1),
            (_PHOTOMETRIC, 3, 1, 1),          # BlackIsZero
            (_STRIP_OFFSETS, 4, 1, strip_off),
            (_SAMPLES_PER_PIXEL, 3, 1, 1),
            (_ROWS_PER_STRIP, 3, 1, h),
            (_STRIP_BYTE_COUNTS, 4, 1, len(pixels)),
        ]
        out += struct.pack("<H", len(entries))
        for tag, typ, count, value in entries:
            out += struct.pack("<HHII", tag, typ, count, value)
        prev_next_at = len(out)
        out += struct.pack("<I", 0)  # next IFD (patched by next page)
    return bytes(out)


def encode_tiff_gray(arr: np.ndarray) -> bytes:
    """(H, W) uint8 → single-strip uncompressed little-endian TIFF."""
    return encode_tiff_multi([arr])
