"""Baseline TIFF codec: round-trips, byte orders, PackBits, photometric
inversion, strip handling, loud failure, and the raster-leg wiring (the
reference decodes newspaper scans from TIFF via PIL,
``tesseract_engine.py:133-144``)."""

import struct

import numpy as np
import pytest

from norsk_historisk_avis_ocr_spark.stages.tiff import (
    _unpackbits_decode, decode_tiff_gray, encode_tiff_gray,
)


def _gradient(h, w):
    y = np.arange(h).reshape(-1, 1)
    x = np.arange(w).reshape(1, -1)
    return ((y * 7 + x * 3) % 256).astype(np.uint8)


def _build_tiff(bo, tags, payload):
    """Hand-assemble a single-IFD TIFF with the given (tag, type, count,
    value-or-bytes) entries; out-of-line values land after the IFD."""
    magic = b"II*\x00" if bo == "<" else b"MM\x00*"
    header = magic + struct.pack(bo + "I", 8)
    ifd = struct.pack(bo + "H", len(tags))
    extra = b""
    extra_off = 8 + 2 + 12 * len(tags) + 4
    for tag, typ, count, value in tags:
        if isinstance(value, bytes):
            ifd += struct.pack(bo + "HHII", tag, typ, count,
                               extra_off + len(extra) + len(payload))
            extra += value
        elif typ == 3:
            ifd += struct.pack(bo + "HHI", tag, typ, count) \
                + struct.pack(bo + "H", value) + b"\x00\x00"
        else:
            ifd += struct.pack(bo + "HHII", tag, typ, count, value)
    ifd += struct.pack(bo + "I", 0)
    # payload sits right after the IFD; strip offset tags must match
    return header + ifd + payload + extra


def test_roundtrip_exact():
    img = _gradient(33, 47)
    assert (decode_tiff_gray(encode_tiff_gray(img)) == img).all()


def test_big_endian_and_white_is_zero():
    img = _gradient(6, 8)
    strip_off = 8 + 2 + 12 * 9 + 4
    tags = [(256, 3, 1, 8), (257, 3, 1, 6), (258, 3, 1, 8),
            (259, 3, 1, 1), (262, 3, 1, 0),       # WhiteIsZero
            (273, 4, 1, strip_off), (277, 3, 1, 1), (278, 3, 1, 6),
            (279, 4, 1, 48)]
    data = _build_tiff(">", tags, img.tobytes())
    out = decode_tiff_gray(data)
    assert (out == 255 - img).all()               # inverted to BlackIsZero


def test_multi_strip_and_packbits():
    img = _gradient(8, 10)
    # PackBits-compress each 4-row strip: literal runs only (worst case)
    def pack_literal(b):
        out = bytearray()
        i = 0
        while i < len(b):
            n = min(128, len(b) - i)
            out += bytes([n - 1]) + b[i:i + n]
            i += n
        return bytes(out)

    s1 = pack_literal(img[:4].tobytes())
    s2 = pack_literal(img[4:].tobytes())
    base = 8 + 2 + 12 * 9 + 4
    # strips first, then the out-of-line offset/count arrays
    payload = s1 + s2
    off_arr = struct.pack("<II", base, base + len(s1))
    cnt_arr = struct.pack("<II", len(s1), len(s2))
    tags = [(256, 3, 1, 10), (257, 3, 1, 8), (258, 3, 1, 8),
            (259, 3, 1, 32773), (262, 3, 1, 1),
            (273, 4, 2, off_arr), (277, 3, 1, 1), (278, 3, 1, 4),
            (279, 4, 2, cnt_arr)]
    data = _build_tiff("<", tags, payload)
    assert (decode_tiff_gray(data) == img).all()


def test_packbits_runs():
    # repeat run: -3 encodes 4 copies; literal run; no-op -128 skipped
    packed = bytes([0xFD, 7, 2, 1, 2, 3, 0x80, 0x00, 9])
    assert _unpackbits_decode(packed, 8) == bytes([7, 7, 7, 7, 1, 2, 3, 9])
    with pytest.raises(ValueError, match="shorter"):
        _unpackbits_decode(bytes([0xFD, 7]), 10)


def test_rejects_unsupported_and_garbage():
    img = _gradient(6, 6)
    data = bytearray(encode_tiff_gray(img))
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff_gray(b"not a tiff")
    with pytest.raises(ValueError):
        decode_tiff_gray(bytes(data[:20]))        # truncated IFD
    # flip compression to JPEG-in-TIFF (7): loud reject, not a mis-decode
    jpg = bytearray(data)
    idx = bytes(jpg).find(struct.pack("<HH", 259, 3))
    jpg[idx + 8] = 7
    with pytest.raises(ValueError, match="compression"):
        decode_tiff_gray(bytes(jpg))
    # relabeling RAW data as LZW (5) must also be loud (now a supported
    # compression — the raw bytes are simply not a valid LZW stream)
    lzw = bytearray(data)
    lzw[idx + 8] = 5
    with pytest.raises(ValueError):
        decode_tiff_gray(bytes(lzw))


def test_decode_media_tiff_is_real():
    from norsk_historisk_avis_ocr_spark.operators.multimodal import (
        decode_media, sniff_media_type,
    )
    img = _gradient(24, 40)
    data = encode_tiff_gray(img)
    assert sniff_media_type(data) == "image/tiff"
    meta = decode_media(data)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (40, 24, 1)
    broken = decode_media(data[:16])              # stub fallback
    assert broken["width"] >= 256


def test_tiff_raster_leg_geometry_parity(spark):
    """TIFF page bytes → decode → L1-L4 geometry, vs the EXECUTED
    reference on the same decoded pixels (lossless, so also identical to
    the PNG leg's geometry for the same page)."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.refexec import golden_geometry
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    pages = [(f"tf-{i}", bytearray(encode_tiff_gray(
        synth_page_array(f"tf-{i}", width=700, height=520))))
        for i in range(3)]
    df = spark.createDataFrame(pages, "page_id string, png binary")
    rows = {r.page_id: r for r in segment_image_pages(df).collect()}
    for pid, _raw in pages:
        r = rows[pid]
        assert r.decode_error is None
        want_title, want_cols = golden_geometry(
            synth_page_array(pid, width=700, height=520))
        got_cols = [(b.x0, b.y0, b.x1, b.y1) for b in r.column_boxes]
        assert got_cols == want_cols, pid
        got_title = (None if r.title_box is None else
                     (r.title_box.x0, r.title_box.y0,
                      r.title_box.x1, r.title_box.y1))
        assert got_title == want_title, pid


def _simple_tiff(pixels: bytes, w, h, *, bits=8, spp=1, compression=1,
                photometric=1, predictor=None, bo="<", extra=()):
    """Hand-build a single-strip TIFF with arbitrary tag values."""
    strip_off = 8
    ifd_off = strip_off + len(pixels)
    entries = [(256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, bits),
               (259, 3, 1, compression), (262, 3, 1, photometric),
               (273, 4, 1, strip_off), (277, 3, 1, spp),
               (278, 3, 1, h), (279, 4, 1, len(pixels))]
    entries.extend(extra)
    if predictor is not None:
        entries.append((317, 3, 1, predictor))
    entries.sort()
    ifd = struct.pack(bo + "H", len(entries))
    for tag, typ, count, value in entries:
        if typ == 3:  # SHORT value occupies the FIRST 2 value bytes
            ifd += struct.pack(bo + "HHI", tag, typ, count) \
                + struct.pack(bo + "H", value) + b"\x00\x00"
        else:
            ifd += struct.pack(bo + "HHII", tag, typ, count, value)
    ifd += struct.pack(bo + "I", 0)
    magic = b"II*\x00" if bo == "<" else b"MM\x00*"
    return magic + struct.pack(bo + "I", ifd_off) + pixels + ifd


def test_lzw_roundtrip_exact():
    """LZW-compressed strips (the classic archival-scan compression)
    decode to exact pixels; TIFF early-change width semantics pinned by
    the in-module compressor."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import _lzw_encode
    img = _gradient(120, 200)  # big enough to grow the code width
    data = _simple_tiff(_lzw_encode(img.tobytes()), 200, 120, compression=5)
    assert (decode_tiff_gray(data) == img).all()


def test_lzw_with_horizontal_predictor():
    """Predictor=2 stores per-row sample deltas before compression —
    decode must cumsum them back (mod 256)."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import _lzw_encode
    img = _gradient(40, 64)
    diff = img.astype(np.int16)
    diff[:, 1:] = (diff[:, 1:] - diff[:, :-1]) % 256
    data = _simple_tiff(_lzw_encode(diff.astype(np.uint8).tobytes()),
                       64, 40, compression=5, predictor=2)
    assert (decode_tiff_gray(data) == img).all()


def test_bilevel_bits_unpack_both_photometrics():
    """1-bit bilevel (the newspaper-archive staple): MSB-first packed
    rows, byte-aligned per row, both photometric polarities."""
    img01 = (np.indices((10, 13)).sum(axis=0) % 2).astype(np.uint8)
    row_bytes = -(-13 // 8)
    packed = np.packbits(
        np.pad(img01, ((0, 0), (0, row_bytes * 8 - 13))), axis=1).tobytes()
    # BlackIsZero: bit 1 -> 255
    d1 = _simple_tiff(packed, 13, 10, bits=1, photometric=1)
    assert (decode_tiff_gray(d1) == img01 * 255).all()
    # WhiteIsZero: bit 1 -> 0 (fax polarity)
    d0 = _simple_tiff(packed, 13, 10, bits=1, photometric=0)
    assert (decode_tiff_gray(d0) == (1 - img01) * 255).all()
    # PackBits-compressed bilevel also decodes
    from norsk_historisk_avis_ocr_spark.stages.tiff import _unpackbits_decode
    # (trivial literal-run PackBits encoding)
    pb = b"".join(bytes([len(packed[i:i + 128]) - 1]) + packed[i:i + 128]
                  for i in range(0, len(packed), 128))
    d2 = _simple_tiff(pb, 13, 10, bits=1, photometric=1, compression=32773)
    assert (decode_tiff_gray(d2) == img01 * 255).all()


def test_lzw_corrupt_is_loud():
    from norsk_historisk_avis_ocr_spark.stages.tiff import _lzw_encode
    img = _gradient(24, 24)
    good = _lzw_encode(img.tobytes())
    for broken in (good[:10], bytes([0xFF] * 20), good[:-5]):
        with pytest.raises(ValueError):
            decode_tiff_gray(_simple_tiff(broken, 24, 24, compression=5))


def test_16bit_gray_high_byte_both_orders():
    """16-bit gray decodes via the high byte in the FILE's byte order;
    horizontal predictor diffs 16-bit samples."""
    hi = _gradient(6, 9)
    for bo, dt in (("<", "<u2"), (">", ">u2")):
        samples = ((hi.astype(np.uint16) << 8) | 0x37).astype(dt)
        data = _simple_tiff(samples.tobytes(), 9, 6, bits=16, bo=bo)
        assert (decode_tiff_gray(data) == hi).all(), bo
    # predictor 2 over 16-bit deltas
    s16 = ((hi.astype(np.uint16) << 8)).astype(np.int32)
    diff = s16.copy()
    diff[:, 1:] = (s16[:, 1:] - s16[:, :-1]) % 65536
    data = _simple_tiff(diff.astype("<u2").tobytes(), 9, 6, bits=16,
                        predictor=2)
    assert (decode_tiff_gray(data) == hi).all()


def _t4_tables():
    from norsk_historisk_avis_ocr_spark.stages.tiff import (
        _BLACK_MAKEUP, _BLACK_TERM, _EXT_MAKEUP, _WHITE_MAKEUP, _WHITE_TERM,
    )
    return _WHITE_TERM, _WHITE_MAKEUP, _BLACK_TERM, _BLACK_MAKEUP, \
        _EXT_MAKEUP


def _emit_run(bits, run, term, makeup, ext):
    while run >= 64:
        best = max(k for k in list(makeup) + list(ext) if 64 <= k <= run)
        bits.append(makeup.get(best) or ext[best])
        run -= best
    bits.append(term[run])


def _row_changes(row, w):
    ch = []
    prev = 0
    for x in range(w):
        if row[x] != prev:
            ch.append(x)
            prev = row[x]
    return ch


def _encode_2d_row(bits, cur, ref, w):
    """2-D (vertical/pass/horizontal) coding of one row's change list
    against the reference line's — shared by the G4 and G3-2D test
    encoders."""
    wt, wm, bt, bm, ext = _t4_tables()
    a0, color = -1, 0
    while a0 < w:
        a1 = next((p for p in cur if p > a0), w)
        b1 = w
        for idx, p in enumerate(ref):
            if p > a0 and idx % 2 == color:
                b1 = p
                break
        b2 = next((p for p in ref if p > b1), w)
        if b2 < a1:
            bits.append("0001")  # pass
            a0 = b2
            continue
        d = a1 - b1
        if -3 <= d <= 3:
            bits.append({0: "1", 1: "011", 2: "000011", 3: "0000011",
                         -1: "010", -2: "000010", -3: "0000010"}[d])
            a0 = a1
            color ^= 1
            continue
        a2 = next((p for p in cur if p > a1), w)
        start = a0 if a0 > 0 else 0
        bits.append("001")
        if color == 0:
            _emit_run(bits, a1 - start, wt, wm, ext)
            _emit_run(bits, a2 - a1, bt, bm, ext)
        else:
            _emit_run(bits, a1 - start, bt, bm, ext)
            _emit_run(bits, a2 - a1, wt, wm, ext)
        a0 = a2


def _encode_1d_row(bits, row, w):
    """MH (1-D) coding of one pixel row: alternating white/black T.4
    runs starting white."""
    wt, wm, bt, bm, ext = _t4_tables()
    x, color = 0, 0
    while x < w:
        run = 0
        while x + run < w and row[x + run] == color:
            run += 1
        _emit_run(bits, run, wt if color == 0 else bt,
                  wm if color == 0 else bm, ext)
        x += run
        color ^= 1


def _g4_encode(img01: np.ndarray, w: int) -> bytes:
    """T.6 fixtures now come from the in-tree encoder (stages/tiff.py
    encode_ccitt_g4 — it also feeds the PDF CCITT bench/contract arms);
    independence of the roundtrip tests is preserved by the spec-literal
    bitstream fixtures below."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import encode_ccitt_g4
    return encode_ccitt_g4(img01)


def _g3_encode(img01: np.ndarray, w: int, *, two_dim=False,
               byte_align=False, leading_eol=True, k=4) -> bytes:
    """Test-local T.4 (Group 3) encoder: EOL before every row (optional
    fill bits for the byte-aligned variant), 1-D MH rows, and in 2-D
    mode a tag bit after each EOL with a 1-D row every ``k`` rows."""
    bits: list[str] = []
    ref = [w, w]
    for y, row in enumerate(img01):
        if y > 0 or leading_eol:
            if byte_align:
                n = sum(len(b) for b in bits)
                bits.append("0" * ((-(n + 12)) % 8))
            bits.append("000000000001")  # EOL
            emit_tag = True
        else:
            emit_tag = False  # headerless first row: no EOL, no tag
        one_d = (not two_dim) or y % k == 0 or not emit_tag
        if two_dim and emit_tag:
            bits.append("1" if one_d else "0")
        cur = _row_changes(row, w)
        if one_d:
            _encode_1d_row(bits, row, w)
        else:
            _encode_2d_row(bits, cur, ref, w)
        ref = cur + [w, w]
    return _pack_bitstring("".join(bits))


def test_g4_bilevel_roundtrips():
    """CCITT Group 4 (the dominant archival bilevel compression):
    vertical/pass/horizontal modes and multi-makeup runs all roundtrip
    exactly, both photometric polarities."""
    rng = np.random.default_rng(11)
    cases = [rng.integers(0, 2, size=(13, 37)).astype(np.uint8),
             (np.indices((9, 130)).sum(axis=0) % 9 < 4).astype(np.uint8),
             np.zeros((5, 200), dtype=np.uint8),
             np.ones((4, 150), dtype=np.uint8)]
    cases[2][:, 190:] = 1  # long white run -> makeup codes
    for img01 in cases:
        h, w = img01.shape
        data = _simple_tiff(_g4_encode(img01, w), w, h, bits=1,
                            compression=4, photometric=0)
        # photometric 0 (min-is-white): bit 1 = black = 0 after mapping
        assert (decode_tiff_gray(data) == (1 - img01) * 255).all()
        data1 = _simple_tiff(_g4_encode(img01, w), w, h, bits=1,
                             compression=4, photometric=1)
        assert (decode_tiff_gray(data1) == img01 * 255).all()


def test_g4_thresholded_page_segments(spark):
    """A thresholded (bilevel) synthetic page compressed with G4 decodes
    through the Spark raster operator end-to-end."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_image_pages,
    )
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    page = synth_page_array("g4-1", width=300, height=260)
    img01 = (page < 128).astype(np.uint8)  # ink = 1
    data = _simple_tiff(_g4_encode(img01, 300), 300, 260, bits=1,
                        compression=4, photometric=0)
    df = spark.createDataFrame([("g4-1", bytearray(data))],
                               "page_id string, png binary")
    row = segment_image_pages(df).collect()[0]
    assert row.decode_error is None
    assert row.boundaries


def test_g4_corrupt_is_loud():
    img01 = np.ones((6, 40), dtype=np.uint8)
    good = _g4_encode(img01, 40)
    for broken in (good[:2], bytes([0x04] * 6)):
        with pytest.raises(ValueError):
            decode_tiff_gray(_simple_tiff(broken, 40, 6, bits=1,
                                          compression=4))
    # G4 on 8-bit data is contradictory
    with pytest.raises(ValueError, match="1-bit"):
        decode_tiff_gray(_simple_tiff(b"\x00" * 16, 4, 4, bits=8,
                                      compression=4))


def _mh_encode(img01: np.ndarray) -> bytes:
    """CCITT Modified Huffman bitstream of a 0/1 image: byte-aligned 1-D
    rows of alternating white/black runs, same T.4 tables as G4."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import (
        _BLACK_MAKEUP, _BLACK_TERM, _EXT_MAKEUP, _WHITE_MAKEUP, _WHITE_TERM,
    )
    w = img01.shape[1]
    bits = []

    def emit(run, term, makeup):
        while run >= 64:
            best = max(k for k in list(makeup) + list(_EXT_MAKEUP)
                       if 64 <= k <= run)
            bits.append(makeup.get(best) or _EXT_MAKEUP[best])
            run -= best
        bits.append(term[run])

    for row in img01:
        # byte-align the row start
        n = sum(len(b) for b in bits)
        bits.append("0" * ((-n) % 8))
        x, color = 0, 0
        while x < w:
            run = 0
            while x + run < w and row[x + run] == color:
                run += 1
            emit(run, _WHITE_TERM if color == 0 else _BLACK_TERM,
                 _WHITE_MAKEUP if color == 0 else _BLACK_MAKEUP)
            x += run
            color ^= 1
    s = "".join(bits)
    s += "0" * ((-len(s)) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def test_mh_rle_bilevel_roundtrip():
    """CCITT Modified Huffman (Compression=2): byte-aligned 1-D rows of
    alternating white/black runs, same T.4 tables as G4."""
    rng = np.random.default_rng(4)
    img01 = rng.integers(0, 2, size=(7, 90)).astype(np.uint8)
    img01[3] = 0            # all-white row (single 90 run)
    img01[4] = 1            # all-black row (0-white then 90-black)
    payload = _mh_encode(img01)
    data = _simple_tiff(payload, 90, 7, bits=1, compression=2,
                        photometric=0)
    assert (decode_tiff_gray(data) == (1 - img01) * 255).all()
    with pytest.raises(ValueError):
        decode_tiff_gray(_simple_tiff(payload[:3], 90, 7, bits=1,
                                      compression=2))


def _pack_bitstring(s: str) -> bytes:
    s += "0" * ((-len(s)) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def test_g4_spec_literal_fixture():
    """Hand-derived T.6 bitstreams with SPEC-LITERAL code words — pins
    the transcribed run tables against regression (a table typo would
    keep encoder/decoder roundtrips green while breaking real-world
    files; these literals come straight from ITU-T T.4/T.6)."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import _g4_decode
    # row 1 vs all-white reference: horizontal, white run 4 ("1011"),
    # black run 4 ("011"); row 2 identical to row 1: V0 ("1") twice
    bits = "001" + "1011" + "011" + "1" + "1"
    out = _g4_decode(_pack_bitstring(bits), 8, 2)
    want = np.array([[0, 0, 0, 0, 1, 1, 1, 1]] * 2, dtype=np.uint8)
    assert (out == want).all()
    # VR1/VL1: row 2 shifts the black edge right (VR1 "011"), ends it
    # left of the row end (VL1 "010"), then closes with V0 to w
    bits2 = ("001" + "1011" + "011"      # row 1: 4 white, 4 black
             + "011" + "010" + "1")      # row 2: VR1, VL1, V0-to-end
    out2 = _g4_decode(_pack_bitstring(bits2), 8, 2)
    want2 = np.array([[0, 0, 0, 0, 1, 1, 1, 1],
                      [0, 0, 0, 0, 0, 1, 1, 0]], dtype=np.uint8)
    assert (out2 == want2).all()
    # pass mode: row 1 has a black island [2,4); row 2 all white to 6.
    # row 2 coding: pass (island skipped), then horizontal white 6? —
    # after pass a0=4; horizontal from 4: white 2 ("0111"), black 2
    # ("11") gives [6,8) black
    bits3 = ("001" + "0111" + "11" + "1"  # row 1: H(w2 "0111", b2 "11"), V0
             + "0001" + "001" + "0111" + "11")  # row 2: pass, H(w2,b2)
    out3 = _g4_decode(_pack_bitstring(bits3), 8, 2)
    want3 = np.array([[0, 0, 1, 1, 0, 0, 0, 0],
                      [0, 0, 0, 0, 0, 0, 1, 1]], dtype=np.uint8)
    assert (out3 == want3).all()


def test_g4_nonmonotone_stream_is_loud():
    """A crafted pass-then-vertical-left sequence that would move a1
    back past a0 must raise, not decode silent garbage (review r4)."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import _g4_decode
    # row 1: 2 white, 2 black, 4 white  -> changes [2, 4]
    # row 2: pass (a0 = 4), then VL3 against b1 = 8 -> a1 = 5 > 4 OK;
    # instead craft VL against a closer b1: use changes [5,6]: row 1 =
    # H(w5("1100"), b1("010")); row 2: pass -> a0 = 6; VL3 on b1 = 8
    # would be a1 = 5 < a0 -> must raise
    bits = ("001" + "1100" + "010" + "1"  # row 1: H(w5 "1100", b1 "010"), V0
            + "0001" + "0000010")         # row 2: pass then VL3 left of a0
    with pytest.raises(ValueError, match="vertical move"):
        _g4_decode(_pack_bitstring(bits), 8, 2)


def test_g4_halftone_row_performance():
    """A dithered (every-other-pixel) wide row — the halftone shape —
    must decode in linear time (monotone reference cursor)."""
    import time
    img01 = np.zeros((8, 2048), dtype=np.uint8)
    img01[:, ::2] = 1  # 1024 changes per row
    data = _g4_encode(img01, 2048)
    t0 = time.time()
    from norsk_historisk_avis_ocr_spark.stages.tiff import _g4_decode
    out = _g4_decode(data, 2048, 8)
    dt = time.time() - t0
    assert (out == img01).all()
    assert dt < 2.0, f"halftone decode too slow: {dt:.2f}s"


def test_g3_1d_roundtrip_with_and_without_leading_eol():
    """CCITT Group 3 1-D (Compression=3, T4Options=0): EOL-synced MH
    rows roundtrip exactly; a stream whose writer omitted the leading
    EOL (common in the wild) also decodes."""
    rng = np.random.default_rng(9)
    img01 = rng.integers(0, 2, size=(9, 77)).astype(np.uint8)
    img01[2] = 0
    img01[5] = 1  # starts black -> leading zero-length white run
    for leading in (True, False):
        payload = _g3_encode(img01, 77, leading_eol=leading)
        data = _simple_tiff(payload, 77, 9, bits=1, compression=3,
                            photometric=0)
        assert (decode_tiff_gray(data) == (1 - img01) * 255).all(), leading


def test_g3_byte_aligned_eols():
    """T4Options bit 2 (byte-aligned EOLs): fill bits before each EOL
    are consumed transparently."""
    rng = np.random.default_rng(10)
    img01 = rng.integers(0, 2, size=(6, 100)).astype(np.uint8)
    payload = _g3_encode(img01, 100, byte_align=True)
    data = _simple_tiff(payload, 100, 6, bits=1, compression=3,
                        photometric=0, extra=[(292, 4, 1, 4)])
    assert (decode_tiff_gray(data) == (1 - img01) * 255).all()


def test_g3_2d_roundtrip():
    """T4Options bit 0 (2-D coding): tag bits select 1-D/2-D per row;
    2-D rows reuse the shared vertical/pass/horizontal machinery."""
    rng = np.random.default_rng(11)
    cases = [rng.integers(0, 2, size=(11, 64)).astype(np.uint8),
             (np.indices((8, 200)).sum(axis=0) % 7 < 3).astype(np.uint8)]
    for img01 in cases:
        h, w = img01.shape
        payload = _g3_encode(img01, w, two_dim=True, k=4)
        data = _simple_tiff(payload, w, h, bits=1, compression=3,
                            photometric=0, extra=[(292, 4, 1, 1)])
        assert (decode_tiff_gray(data) == (1 - img01) * 255).all()
    # 2-D + byte-aligned EOLs together (T4Options = 5)
    img01 = cases[0]
    payload = _g3_encode(img01, 64, two_dim=True, byte_align=True)
    data = _simple_tiff(payload, 64, 11, bits=1, compression=3,
                        photometric=0, extra=[(292, 4, 1, 5)])
    assert (decode_tiff_gray(data) == (1 - img01) * 255).all()


def test_g3_malformed_is_loud():
    img01 = np.ones((5, 40), dtype=np.uint8)
    good = _g3_encode(img01, 40)
    # truncated stream / garbage must raise, not mis-decode
    for broken in (good[:3], bytes([0x00] * 10)):
        with pytest.raises(ValueError):
            decode_tiff_gray(_simple_tiff(broken, 40, 5, bits=1,
                                          compression=3))
    # uncompressed-mode T4Options (bit 1) is unsupported -> loud
    with pytest.raises(ValueError, match="T4Options"):
        decode_tiff_gray(_simple_tiff(good, 40, 5, bits=1, compression=3,
                                      extra=[(292, 4, 1, 2)]))
    # G3 on 8-bit data is contradictory
    with pytest.raises(ValueError, match="1-bit"):
        decode_tiff_gray(_simple_tiff(b"\x00" * 16, 4, 4, bits=8,
                                      compression=3))


def test_fillorder2_bit_reversal():
    """FillOrder=2 (LSB-first, fax-origin archives): every strip byte is
    bit-reversed before decode — G3/G4/MH and raw bilevel all supported;
    multi-bit samples with FillOrder=2 quarantine loudly."""
    rng = np.random.default_rng(12)
    img01 = rng.integers(0, 2, size=(7, 50)).astype(np.uint8)
    rev = bytes(int(f"{b:08b}"[::-1], 2) for b in range(256))
    for comp, enc in ((3, lambda: _g3_encode(img01, 50)),
                      (4, lambda: _g4_encode(img01, 50))):
        payload = enc().translate(rev)  # LSB-first stream
        data = _simple_tiff(payload, 50, 7, bits=1, compression=comp,
                            photometric=0, extra=[(266, 3, 1, 2)])
        assert (decode_tiff_gray(data) == (1 - img01) * 255).all(), comp
    # raw (uncompressed) bilevel with FillOrder=2
    row_bytes = -(-50 // 8)
    packed = np.packbits(
        np.pad(img01, ((0, 0), (0, row_bytes * 8 - 50))), axis=1).tobytes()
    data = _simple_tiff(packed.translate(rev), 50, 7, bits=1,
                        photometric=1, extra=[(266, 3, 1, 2)])
    assert (decode_tiff_gray(data) == img01 * 255).all()
    # FillOrder=2 on 8-bit samples would scramble bytes -> loud
    with pytest.raises(ValueError, match="FillOrder"):
        decode_tiff_gray(_simple_tiff(b"\x00" * 16, 4, 4,
                                      extra=[(266, 3, 1, 2)]))
    with pytest.raises(ValueError, match="FillOrder"):
        decode_tiff_gray(_simple_tiff(b"\x00" * 16, 4, 4,
                                      extra=[(266, 3, 1, 3)]))


def test_planar_configuration_raises_explicitly():
    """PlanarConfiguration=2 (planar) is out of scope and must say so
    (review r4: it previously failed only incidentally)."""
    with pytest.raises(ValueError, match="PlanarConfiguration"):
        decode_tiff_gray(_simple_tiff(b"\x00" * 48, 4, 4, spp=3,
                                      photometric=2,
                                      extra=[(284, 3, 1, 2)]))


def test_ccitt_roundtrip_property():
    """Hypothesis fuzz over the CCITT codings: arbitrary small bilevel
    images roundtrip through G4 (in-tree encoder), G3 1-D, and G3 2-D —
    edge shapes (1-wide, all-black, single-pixel, column stripes) that
    fixed seeds miss."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from norsk_historisk_avis_ocr_spark.stages.tiff import (
        _g3_decode, _g4_decode, encode_ccitt_g4,
    )

    @settings(max_examples=60, deadline=None)
    @given(h=st.integers(1, 12), w=st.integers(1, 40),
           seed=st.integers(0, 2**31), kind=st.sampled_from(
               ["random", "black", "white", "stripes"]))
    def roundtrip(h, w, seed, kind):
        rng = np.random.default_rng(seed)
        if kind == "random":
            img01 = rng.integers(0, 2, size=(h, w)).astype(np.uint8)
        elif kind == "black":
            img01 = np.ones((h, w), dtype=np.uint8)
        elif kind == "white":
            img01 = np.zeros((h, w), dtype=np.uint8)
        else:
            img01 = np.tile((np.arange(w) % 2).astype(np.uint8), (h, 1))
        assert (_g4_decode(encode_ccitt_g4(img01), w, h) == img01).all()
        assert (_g3_decode(_g3_encode(img01, w), w, h) == img01).all()
        assert (_g3_decode(_g3_encode(img01, w, two_dim=True), w, h,
                           two_dim=True) == img01).all()

    roundtrip()


def test_fillorder2_byte_oriented_codecs():
    """FillOrder=2 with byte-oriented codecs (raw/PackBits/LZW) reverses
    the DECODED pixel bytes, never the compressed control stream
    (review r5: reversing a PackBits stream scrambles run lengths
    silently; reversing an LZW stream falsely rejects valid files)."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import _lzw_encode
    rng = np.random.default_rng(41)
    img01 = rng.integers(0, 2, size=(6, 29)).astype(np.uint8)
    rb = -(-29 // 8)
    packed = np.packbits(
        np.pad(img01, ((0, 0), (0, rb * 8 - 29))), axis=1).tobytes()
    rev = bytes(int(f"{b:08b}"[::-1], 2) for b in range(256))
    lsb_pixels = packed.translate(rev)  # LSB-first pixel bytes
    # PackBits over the LSB-first pixel bytes (literal runs)
    pb = b"".join(bytes([len(lsb_pixels[i:i + 128]) - 1])
                  + lsb_pixels[i:i + 128]
                  for i in range(0, len(lsb_pixels), 128))
    d_pb = _simple_tiff(pb, 29, 6, bits=1, photometric=1,
                        compression=32773, extra=[(266, 3, 1, 2)])
    assert (decode_tiff_gray(d_pb) == img01 * 255).all()
    # LZW over the LSB-first pixel bytes
    d_lzw = _simple_tiff(_lzw_encode(lsb_pixels), 29, 6, bits=1,
                         photometric=1, compression=5,
                         extra=[(266, 3, 1, 2)])
    assert (decode_tiff_gray(d_lzw) == img01 * 255).all()


def test_multipage_tiff_roundtrip_and_count():
    """Multi-IFD TIFFs (one page per IFD — the scanned-issue shape)
    roundtrip per page; tiff_page_count is a metadata probe."""
    from norsk_historisk_avis_ocr_spark.stages.tiff import (
        decode_tiff_gray, decode_tiff_pages, encode_tiff_multi,
        tiff_page_count,
    )
    pages = [_gradient(20 + k, 30 + 2 * k) for k in range(3)]
    data = encode_tiff_multi(pages)
    assert tiff_page_count(data) == 3
    for idx, arr in decode_tiff_pages(data):
        assert (arr == pages[idx]).all(), idx
    assert (decode_tiff_gray(data, page=2) == pages[2]).all()
    with pytest.raises(ValueError, match="no page"):
        decode_tiff_gray(data, page=3)
    # a cyclic IFD chain quarantines instead of looping
    ifd2_at = data.index(struct.pack("<HHII", 256, 3, 1, 30)) - 2
    evil = bytearray(data)
    # patch the LAST next-IFD pointer (trailing 4 bytes) to the first IFD
    first_ifd = struct.unpack("<I", data[4:8])[0]
    evil[-4:] = struct.pack("<I", first_ifd)
    with pytest.raises(ValueError, match="cyclic"):
        tiff_page_count(bytes(evil))


def test_segment_tiff_issues_explodes_pages(spark):
    """segment_tiff_issues: 1 issue -> N page rows; a corrupt issue and
    a corrupt single page quarantine without failing the task."""
    from norsk_historisk_avis_ocr_spark.operators.raster import (
        segment_tiff_issues,
    )
    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        synth_page_array,
    )
    from norsk_historisk_avis_ocr_spark.stages.tiff import (
        encode_tiff_multi,
    )
    pages = [synth_page_array(f"ti-{k}", width=300, height=260)
             for k in range(3)]
    good = encode_tiff_multi(pages)
    corrupt = good[:40]
    df = spark.createDataFrame(
        [("issue-good", bytearray(good)), ("issue-bad", bytearray(corrupt))],
        "issue_id string, tiff binary")
    rows = segment_tiff_issues(df).collect()
    by = {(r.issue_id, r.page_index): r for r in rows}
    assert len(by) == 4
    for k in range(3):
        r = by[("issue-good", k)]
        assert r.decode_error is None and r.boundaries
    assert by[("issue-bad", -1)].decode_error is not None


def test_tiff_quarantine_contract_under_corruption():
    """Same ValueError-only fuzz for the TIFF surface (multi-page chain
    walking included): corrupted files decode or raise ValueError."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from norsk_historisk_avis_ocr_spark.stages.tiff import (
        decode_tiff_pages, encode_ccitt_g4, encode_tiff_multi,
    )
    pages = [_gradient(10 + k, 20) for k in range(3)]
    g4img = (_gradient(12, 40) < 128).astype(np.uint8)
    # MH, the byte-aligned 1-D leg: runs of 130 white and 80 black take
    # makeup codes
    mhimg = np.zeros((6, 130), dtype=np.uint8)
    mhimg[1:5, 20:100] = 1
    mh = _mh_encode(mhimg)
    bases = [
        encode_tiff_multi(pages),
        _simple_tiff(encode_ccitt_g4(g4img), 40, 12, bits=1,
                     compression=4, photometric=0),
        _simple_tiff(mh, 130, 6, bits=1, compression=2, photometric=0),
    ]
    # every truncation of the MH strip: row alignment puts peeks at and
    # past the end of the data, which must read as zeros
    for k in range(len(mh)):
        with pytest.raises(ValueError):
            for _idx, arr in decode_tiff_pages(_simple_tiff(
                    mh[:k], 130, 6, bits=1, compression=2, photometric=0)):
                pass

    @settings(max_examples=120, deadline=None)
    @given(base=st.integers(0, len(bases) - 1),
           edits=st.lists(st.tuples(st.integers(0, 10**9),
                                    st.integers(0, 255)),
                          min_size=1, max_size=8))
    def corrupt(base, edits):
        data = bytearray(bases[base])
        for pos, val in edits:
            data[pos % len(data)] = val
        try:
            for _idx, arr in decode_tiff_pages(bytes(data)):
                assert arr.ndim == 2
        except ValueError:
            pass  # the quarantine contract

    corrupt()


def test_paint_rows_equals_paint_row_reference():
    """The vectorized batch painter (r6) must match the per-row reference
    painter on random change-position lists, including odd counts
    (unpaired trailing change) and positions clamped at the row width."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from norsk_historisk_avis_ocr_spark.stages.tiff import (
        _paint_row, _paint_rows,
    )

    w = 23
    changes = st.lists(st.integers(min_value=0, max_value=w),
                       max_size=10).map(sorted)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(changes, max_size=6))
    def check(rows):
        ref = np.zeros((len(rows), w), dtype=np.uint8)
        for y, cur in enumerate(rows):
            _paint_row(ref, y, cur, w)
        got = _paint_rows(rows, w)
        assert got.shape == ref.shape
        assert (got == ref).all()

    check()
