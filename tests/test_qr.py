"""Real QR decode (functions/qr.py): a genuine detect -> sample ->
de-mask -> Reed-Solomon-correct -> parse decode, called directly by
``operators.multimodal.extract_qr`` (reference api/util.py:8007-8051
decodes the AGT invoice QR through pyzbar over a PIL page image).
Library-side pins here; the Spark-side oracle certification is the
contract query ``qr_real_roundtrip`` (CONTRACT_LOCAL_r05.txt)."""
import numpy as np
import pytest

from angola_erp_ocr_spark.functions import qr
from angola_erp_ocr_spark.functions.png import decode_png, to_gray
from angola_erp_ocr_spark.operators import multimodal


def _gray(png_blob: bytes) -> np.ndarray:
    return to_gray(decode_png(png_blob)[0])


def test_rs_corrects_up_to_design_distance():
    """Random codewords for every supported (data, ecc) split: clean
    passes through, floor(ecc/2) injected byte errors are corrected
    exactly, and the syndrome re-check never lets a bad fix through."""
    rng = np.random.RandomState(3)
    for n_data, n_ecc in [(19, 7), (16, 10), (13, 13), (9, 17),
                          (34, 10), (28, 16), (55, 15), (44, 26)]:
        data = [int(v) for v in rng.randint(0, 256, n_data)]
        cw = data + qr.rs_encode(data, n_ecc)
        assert qr.rs_correct(cw, n_ecc) == cw
        bad = cw[:]
        for p in rng.choice(len(cw), n_ecc // 2, replace=False):
            bad[p] ^= int(rng.randint(1, 256))
        assert qr.rs_correct(bad, n_ecc) == cw, (n_data, n_ecc)


def test_qr_matrix_roundtrip_every_combo_and_mask():
    """Full-capacity payload through every supported version x ECC
    combo x all 8 masks — single-block AND multi-block (V3-Q/H, V4-V6,
    including the V5-Q/H two-group shapes); capacities cross-checked
    against the published byte-mode table (V1-L=17, V2-M=26, V3-L=53,
    V4-H=34, V5-Q=60, V6-L=134)."""
    assert qr.data_capacity(1, "L") == 17
    assert qr.data_capacity(2, "M") == 26
    assert qr.data_capacity(3, "L") == 53
    assert qr.data_capacity(4, "H") == 34
    assert qr.data_capacity(5, "Q") == 60
    assert qr.data_capacity(6, "L") == 134
    # every block table row sums to the version's total codeword count
    for (v, ecl), (ec_pb, groups) in qr._BLOCK_STRUCT.items():
        n_blocks = sum(n for n, _ in groups)
        assert (sum(n * d for n, d in groups) + n_blocks * ec_pb
                == qr._TOTAL_CW[v]), (v, ecl)
    rng = np.random.RandomState(11)
    for (v, ecl) in qr._BLOCK_STRUCT:
        payload = bytes(int(b) for b in
                        rng.randint(32, 127, qr.data_capacity(v, ecl)))
        for mask in range(8):
            m = qr.encode_qr_matrix(payload, version=v, ecl=ecl, mask=mask)
            assert qr.decode_qr_matrix(m) == payload, (v, ecl, mask)


def test_qr_pixel_detection_scales_rotations_contrast():
    """Finder-pattern detection + grid sampling from rendered pixels:
    module scales 1/2/3/5 px, all four 90-degree rotations, and a
    contrast-squashed render (threshold is (min+max)/2, not fixed)."""
    payload = b"https://portaldocontribuinte.gov.ao/x=1"
    for scale in (1, 2, 3, 5):
        for rot in range(4):
            blob = qr.render_qr_png(payload, ecl="M", mask=5,
                                    scale=scale, border=4, rotate=rot)
            assert qr.decode_qr_pixels(_gray(blob)) == payload, (scale, rot)
    dim = (_gray(qr.render_qr_png(payload, ecl="L", scale=2))
           .astype(np.int32) * 100 // 255 + 80).astype(np.uint8)
    assert qr.decode_qr_pixels(dim) == payload


def test_qr_damage_within_rs_capacity_recovers():
    """A 3x3-module inverted patch in the data region is healed by the
    real RS correction; flat/noise images return None, never garbage."""
    payload = b"https://portaldocontribuinte.gov.ao/x=1"
    m = qr.encode_qr_matrix(payload, version=3, ecl="M", mask=2)
    img = np.pad(np.kron(np.where(m, 0, 255).astype(np.uint8),
                         np.ones((3, 3), np.uint8)), 12,
                 constant_values=255)
    img[40:49, 40:49] = 255 - img[40:49, 40:49]
    assert qr.decode_qr_pixels(img) == payload
    assert qr.decode_qr_pixels(np.full((50, 50), 128, np.uint8)) is None
    rng = np.random.RandomState(3)
    assert qr.decode_qr_pixels(
        rng.randint(0, 256, (60, 60)).astype(np.uint8)) is None


def test_qr_false_finder_clusters_do_not_block_detection():
    """Regression: at 2-px modules, mask-2's column stripes can form
    1:1:3:1:1 clusters in the data region that out-rank a real finder
    in a naive top-3-by-hits pick (first seen on sf0.01 doc 26). The
    triple-scoring detector must still decode; the exact offender is
    pinned here payload-for-payload."""
    payload = b"QR-26-92e2db928f0233fc"
    blob = qr.render_qr_png(payload, ecl="L", mask=2, scale=2,
                            border=4, rotate=2)
    assert qr.decode_qr_pixels(_gray(blob)) == payload
    # the mask-6 variants that failed the same sweep
    for doc in (110, 360):
        p = f"QR-{doc}-92e2db928f0233fc".encode()
        blob = qr.render_qr_png(p, ecl="L", mask=doc % 8, scale=2,
                                border=4, rotate=doc % 4)
        assert qr.decode_qr_pixels(_gray(blob)) == p


def test_qr_multiblock_pixels_and_burst_damage():
    """Multi-block symbols decode from rendered pixels, and the
    column-wise interleave does its spec job: a CONTIGUOUS burst of
    corrupt codewords in transmission order spreads one-per-block, so
    a burst longer than one block's own t still heals. V6-M (4 blocks,
    t=8/block): a 24-codeword burst = 6 errors/block, recoverable;
    a single-block layout of the same strength (t=8) would fail."""
    payload = bytes(range(32, 32 + 100))                 # 100 B -> V6-M
    m = qr.encode_qr_matrix(payload, version=6, ecl="M", mask=3)
    assert qr.decode_qr_matrix(m) == payload
    img = np.where(m, 0, 255).astype(np.uint8)
    img = np.kron(img, np.ones((2, 2), dtype=np.uint8))
    img = np.pad(img, 8, constant_values=255)
    assert qr.decode_qr_pixels(img) == payload           # detector leg

    # burst: flip codewords 10..33 (interleaved order) via the zigzag
    fm = qr._function_map(m.shape[0])
    coords = qr._data_coords(m.shape[0], fm)
    m2 = m.copy()
    for cw_i in range(10, 34):
        for bit_i in range(3):                           # 3 bits/cw wrong
            r, c = coords[cw_i * 8 + bit_i]
            m2[r, c] = not m2[r, c]
    assert qr.decode_qr_matrix(m2) == payload


def test_qr_cluster_merge_is_module_gated():
    """Regression: this V5-M mask-3 scale-3 rot-3 symbol's data pattern
    produces finder-shaped runs NEXT TO the true top-left finder with a
    DIFFERENT module estimate; without the module-similarity gate on
    cluster merge they mean-drag the finder center ~3 px off and grid
    sampling fails (found by the 500-doc oracle sweep, doc 115)."""
    p = (b"QR-115-c3c7d17d7aaddb2d07b10e6898b12c44"
         b"c3c7d17d7aaddb2d07b10e6898b12c44")
    blob = qr.render_qr_png(p, ecl="M", mask=3, scale=3, border=4, rotate=3)
    assert qr.decode_qr_pixels(_gray(blob)) == p


def test_qr_format_info_matches_iso_vector_and_reader_layout():
    """Format info pinned against public ground truth: the ISO/IEC
    18004 worked example (data 00101 = ECL M, mask 101 -> masked string
    100000011001110) and the placement layout shared by the reference
    encoder/decoder implementations — bit 14 (MSB) at (row 8, col 0),
    bit 0 (LSB) at (row 0, col 8), copy 2 running under the TR finder
    then beside the BL finder. Both copies of an encoded symbol read
    back the identical 15-bit string. (A review claimed copy 1 is
    bit-reversed vs ISO; this vector + layout pin adjudicates it.)"""
    assert qr._format_bits("M", 5) == 0b100000011001110
    c1, c2 = qr._format_coords(25)
    assert c1[0] == (0, 8) and c1[14] == (8, 0)          # LSB / MSB copy 1
    assert c1[6:9] == [(7, 8), (8, 8), (8, 7)]           # timing-skip elbow
    assert c2[0] == (8, 24) and c2[7] == (8, 17)         # row-8 strip
    assert c2[8] == (18, 8) and c2[14] == (24, 8)        # col-8 strip
    m = qr.encode_qr_matrix(b"hi", version=2, ecl="M", mask=5)
    for coords in (c1, c2):
        got = sum(int(m[r, c]) << i for i, (r, c) in enumerate(coords))
        assert got == 0b100000011001110


def test_qr_inverted_brightness_decodes():
    """Light-modules-on-dark (negative scan / dark-mode render) decodes
    via the polarity retry; the normal path is unaffected."""
    payload = b"QR-inv-0123456789abcdef"
    g = _gray(qr.render_qr_png(payload, ecl="L", mask=4, scale=2))
    assert qr.decode_qr_pixels(255 - g) == payload
    assert qr.decode_qr_pixels(g) == payload


def test_qr_correction_capacity_respects_misdecode_reservation():
    """ISO reserves p misdecode-protection codewords at low versions:
    V1-L corrects 2 of its 7 ecc codewords, not 3. Two corrupted
    codewords decode; three raise — never a silent wrong payload."""
    payload = b"hello-iso-p"
    m = qr.encode_qr_matrix(payload, version=1, ecl="L", mask=0)
    fm = qr._function_map(21)
    coords = qr._data_coords(21, fm)
    bits = [int(m[r, c]) ^ int(qr._MASKS[0](r, c)) for r, c in coords]
    cw = [sum(b << (7 - i) for i, b in enumerate(bits[p:p + 8]))
          for p in range(0, 26 * 8, 8)]

    def rebuild(codewords):
        mm = m.copy()
        allbits = [(c >> (7 - i)) & 1 for c in codewords for i in range(8)]
        for i, (r, c) in enumerate(coords):
            v = allbits[i] if i < len(allbits) else 0
            mm[r, c] = bool(v) ^ qr._MASKS[0](r, c)
        return mm

    two = cw[:]; two[0] ^= 0x55; two[10] ^= 0xAA
    assert qr.decode_qr_matrix(rebuild(two)) == payload
    three = cw[:]; three[0] ^= 0x55; three[10] ^= 0xAA; three[20] ^= 0x33
    with pytest.raises(ValueError):
        qr.decode_qr_matrix(rebuild(three))


def test_decode_qr_media_skips_corrupt_blobs_not_the_stage(spark):
    """One rotted blob in a 100-TB corpus must not fail the stage: an
    undecodable IMAGE (non-PNG bytes, bad CRC) yields no row — same as
    a readable page with no QR."""
    payload = b"QR-ok-0123456789abcdef"
    rows = [("image://ok", bytearray(qr.render_qr_png(payload, scale=2))),
            ("image://rot", bytearray(b"\xff\xd8\xff not a png at all"))]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = multimodal.decode_qr_media(df).collect()
    assert [(r["media_ref"], r["qr_text"]) for r in got] == [
        ("image://ok", payload.decode())]


def test_certification_queries_are_not_split_starved(spark):
    """Regression tripwire for the sf0.1 starvation wart (BENCH/
    ANALYSIS.md): the test parquets are single-row-group files, so
    without an explicit repartition the expensive render->decode Arrow
    stage inherits ONE scan split and runs single-task (measured 116 s
    vs 6.8 s on 32 cores). Pin that both certification queries carry a
    round-robin exchange ahead of the Python stage."""
    import __spark_entry__ as e

    for name in ("png_roundtrip", "qr_real_roundtrip"):
        plan = (e.queries()[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        mapin = plan.find("MapInPandas")
        assert mapin != -1, name
        assert "RoundRobinPartitioning" in plan[mapin:], (
            f"{name}: no round-robin exchange below the Arrow stage — "
            "single-row-group input will run it single-task")


def test_qr_unsupported_inputs_fail_loudly():
    """Out-of-envelope inputs raise, never mis-decode: payload over
    capacity, V7+ (version-info blocks), bad mask id."""
    with pytest.raises(ValueError, match="capacity|too long"):
        qr.encode_qr_matrix(b"x" * 135, ecl="L")         # V6-L caps at 134
    with pytest.raises(ValueError, match="combo"):
        qr.encode_qr_matrix(b"x" * 10, version=7, ecl="L")
    with pytest.raises(ValueError, match="mask"):
        qr.encode_qr_matrix(b"x", mask=8)
    with pytest.raises(ValueError, match="ECC level"):
        qr.encode_qr_matrix(b"x", ecl="X")   # KeyError would be a break
    with pytest.raises(ValueError, match="module grid"):
        qr.decode_qr_matrix(np.zeros((20, 20), dtype=bool))
    with pytest.raises(ValueError, match="version"):
        qr.decode_qr_matrix(np.zeros((45, 45), dtype=bool))  # V7 grid


def test_decode_qr_media_real_png_decode(spark):
    """decode_qr_media(df) runs a REAL PNG decode + numpy QR detect on
    executors for every rendered symbol; a non-QR PNG yields no row
    rather than a fake."""
    payloads = {f"image://qr/{i}":
                f"QR-{i}-{'ab3f9c01d7e25468'[:16]}" for i in range(4)}
    rows = [(ref, bytearray(qr.render_qr_png(
                text.encode(), ecl="LM"[i % 2], mask=i % 8,
                scale=2 + i % 2, rotate=i % 4)))
            for i, (ref, text) in enumerate(payloads.items())]
    from angola_erp_ocr_spark.functions.png import encode_png
    rows.append(("image://qr/none", bytearray(encode_png(
        np.zeros((12, 12), dtype=np.uint8)))))
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = {r["media_ref"]: r["qr_text"]
           for r in multimodal.decode_qr_media(df).collect()}
    assert got == payloads


def test_qr_segment_mode_capacities_match_published_table():
    """Per-mode capacities pinned against the published ISO capacity
    table (denser modes hold more chars in the same symbol): V1-L
    41/25/17, V2-M 63/38/26, V6-L 322/195/134 numeric/alnum/byte."""
    assert qr.data_capacity(1, "L", qr.MODE_NUMERIC) == 41
    assert qr.data_capacity(1, "L", qr.MODE_ALNUM) == 25
    assert qr.data_capacity(1, "L", qr.MODE_BYTE) == 17
    assert qr.data_capacity(2, "M", qr.MODE_NUMERIC) == 63
    assert qr.data_capacity(2, "M", qr.MODE_ALNUM) == 38
    assert qr.data_capacity(6, "L", qr.MODE_NUMERIC) == 322
    assert qr.data_capacity(6, "L", qr.MODE_ALNUM) == 195
    assert qr.data_capacity(6, "L", qr.MODE_BYTE) == 134


def test_qr_numeric_and_alnum_modes_roundtrip():
    """Numeric and alphanumeric segments (ISO 8.4.2/8.4.3) roundtrip at
    the matrix AND pixel level, with mode auto-selected from the
    payload charset; every tail shape is hit (numeric len%3 = 0/1/2,
    alnum odd/even), and a digits payload beyond byte capacity fits the
    denser numeric packing in the same version family."""
    assert qr.choose_mode(b"0042199") == qr.MODE_NUMERIC
    assert qr.choose_mode(b"AGT-REF: 42/99.X") == qr.MODE_ALNUM
    assert qr.choose_mode(b"agt-lower") == qr.MODE_BYTE
    assert qr.choose_mode(b"") == qr.MODE_BYTE
    cases = [b"1", b"12", b"123", b"1234", b"007", b"9" * 41,
             b"A", b"AB", b"HTTPS://PORTAL.AGT.GOV.AO/R/ABC123",
             b"$%*+-./: X", b"9" * 300]          # 300 digits > 134-B byte cap
    for payload in cases:
        for ecl in "LMQH":
            if len(payload) > qr.data_capacity(6, ecl,
                                               qr.choose_mode(payload)):
                continue
            m = qr.encode_qr_matrix(payload, ecl=ecl, mask=1)
            assert qr.decode_qr_matrix(m) == payload, (payload, ecl)
    for payload in (b"012345678901234567890", b"AGT INVOICE 2024/55: OK"):
        blob = qr.render_qr_png(payload, ecl="M", mask=4, scale=2,
                                border=4, rotate=3)
        assert qr.decode_qr_pixels(_gray(blob)) == payload


def test_qr_multisegment_stream_roundtrip():
    """An explicit multi-segment symbol — the shape real AGT invoice
    QRs use (alnum URL + numeric document number + byte signature) —
    decodes to the concatenated payload through both the matrix parser
    and the full pixel seam; a charset/mode mismatch raises ValueError
    instead of mis-encoding."""
    segs = [(b"HTTPS://PORTAL.AGT.GOV.AO/R/", qr.MODE_ALNUM),
            (b"202400012345", qr.MODE_NUMERIC),
            (b"|sig=ab", qr.MODE_BYTE)]
    want = b"".join(p for p, _ in segs)
    m = qr.encode_qr_matrix(segments=segs, ecl="M", mask=6)
    assert qr.decode_qr_matrix(m) == want
    from angola_erp_ocr_spark.functions.png import encode_png
    img = np.pad(np.kron(np.where(m, 0, 255).astype(np.uint8),
                         np.ones((2, 2), np.uint8)), 8,
                 constant_values=255)
    assert qr.decode_qr_pixels(img) == want
    assert qr.decode_qr_pixels(_gray(encode_png(img))) == want
    with pytest.raises(ValueError, match="charset"):
        qr.encode_qr_matrix(segments=[(b"abc", qr.MODE_NUMERIC)])
    with pytest.raises(ValueError, match="charset"):
        qr.encode_qr_matrix(b"abc", mode=qr.MODE_ALNUM)
    with pytest.raises(ValueError, match="ASCII"):
        qr.encode_qr_matrix(segments=[(b"\xc3\xa9", qr.MODE_ALNUM)])
    # forcing a LESS dense but charset-compatible mode is spec-legal:
    # digits are inside the alnum charset (and any bytes inside byte)
    m = qr.encode_qr_matrix(b"123", mode=qr.MODE_ALNUM)
    assert qr.decode_qr_matrix(m) == b"123"
    m = qr.encode_qr_matrix(b"123", mode=qr.MODE_BYTE)
    assert qr.decode_qr_matrix(m) == b"123"


def _matrix_from_dbits(bits, version=1, ecl="L", mask=0):
    """Build a valid-RS symbol around an arbitrary data bitstream (the
    encoder refuses to emit malformed segments, so decoder-robustness
    vectors are assembled from the module internals)."""
    ec_pb, lengths = qr._block_lengths(version, ecl)
    n_data = sum(lengths)
    bits = bits + [0] * (n_data * 8 - len(bits))
    data = [sum(b << (7 - i) for i, b in enumerate(bits[p:p + 8]))
            for p in range(0, n_data * 8, 8)]
    dblocks, pos = [], 0
    for ln in lengths:
        dblocks.append(data[pos:pos + ln])
        pos += ln
    eblocks = [qr.rs_encode(b, ec_pb) for b in dblocks]
    codewords = qr._interleave(dblocks) + qr._interleave(eblocks)
    size = qr._size(version)
    fm = qr._function_map(size)
    m = qr._base_matrix(size)
    allbits = [(cw >> (7 - i)) & 1 for cw in codewords for i in range(8)]
    for i, (r, c) in enumerate(qr._data_coords(size, fm)):
        v = allbits[i] if i < len(allbits) else 0
        m[r, c] = bool(v) ^ qr._MASKS[mask](r, c)
    fmt = qr._format_bits(ecl, mask)
    for coords in qr._format_coords(size):
        for i, (r, c) in enumerate(coords):
            m[r, c] = bool((fmt >> i) & 1)
    return m


def test_qr_malformed_segment_values_fail_loudly():
    """Decoder robustness on RS-valid but semantically invalid streams
    (a damaged-then-'corrected' symbol can land here): out-of-range
    alnum pairs (>= 45*45), numeric groups (>= 1000), and a count field
    overrunning the data all raise ValueError — never garbage text."""
    put = qr._put
    with pytest.raises(ValueError, match="alphanumeric pair"):
        qr.decode_qr_matrix(_matrix_from_dbits(
            put(2, 4) + put(2, 9) + put(45 * 45, 11)))
    with pytest.raises(ValueError, match="numeric group"):
        qr.decode_qr_matrix(_matrix_from_dbits(
            put(1, 4) + put(3, 10) + put(1000, 10)))
    with pytest.raises(ValueError, match="overruns"):
        qr.decode_qr_matrix(_matrix_from_dbits(
            put(4, 4) + put(200, 8) + put(0, 8)))
    with pytest.raises(ValueError, match="mode"):
        qr.decode_qr_matrix(_matrix_from_dbits(put(0b0011, 4)))  # struct.app.
    with pytest.raises(ValueError, match="ECI"):
        qr.decode_qr_matrix(_matrix_from_dbits(
            put(7, 4) + put(0b11100000, 8)))     # reserved designator form


def test_qr_eci_prefixed_symbols_decode():
    """Phone generators commonly prefix a UTF-8 ECI designator (26)
    before the byte segment; the designator is charset metadata, so the
    decoder skips it (1- and 2-byte designator forms) and returns the
    payload bytes unchanged — instead of rejecting a symbol class
    pyzbar handles."""
    put = qr._put
    payload = "Fatura nº 42 — AGT".encode("utf-8")
    seg = qr._segment_bits(payload, qr.MODE_BYTE)
    m = _matrix_from_dbits(put(7, 4) + put(26, 8) + seg,
                           version=2, ecl="M", mask=3)
    assert qr.decode_qr_matrix(m) == payload
    # 2-byte designator form (value in 128..16383), then numeric data
    seg2 = qr._segment_bits(b"20240042", qr.MODE_NUMERIC)
    m2 = _matrix_from_dbits(
        put(7, 4) + put(0b10000000, 8) + put(170, 8) + seg2,
        version=1, ecl="M", mask=5)
    assert qr.decode_qr_matrix(m2) == b"20240042"


# ---------------------------------------------------------------------------
# Property: arbitrary payload x ECL x mask roundtrips at the matrix level
# (hypothesis; version auto-picked 1-6, so every block shape gets hit)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@st.composite
def _qr_case(draw):
    """Arbitrary payloads per segment mode, capped at each mode's own
    V6 capacity — digits/alnum draws exercise the dense packings, the
    binary draw the byte path (and auto mode selection throughout)."""
    ecl = draw(st.sampled_from("LMQH"))
    kind = draw(st.sampled_from(["bytes", "digits", "alnum"]))
    if kind == "bytes":
        payload = draw(st.binary(
            min_size=0, max_size=qr.data_capacity(6, ecl)))
    elif kind == "digits":
        payload = draw(st.text(
            "0123456789", min_size=1,
            max_size=qr.data_capacity(6, ecl, qr.MODE_NUMERIC))).encode()
    else:
        payload = draw(st.text(
            qr._ALNUM, min_size=1,
            max_size=qr.data_capacity(6, ecl, qr.MODE_ALNUM))).encode()
    mask = draw(st.integers(0, 7))
    return payload, ecl, mask


@settings(max_examples=40, deadline=None)
@given(_qr_case())
def test_qr_matrix_roundtrip_property(case):
    payload, ecl, mask = case
    m = qr.encode_qr_matrix(payload, ecl=ecl, mask=mask)
    assert qr.decode_qr_matrix(m) == payload
    # one corrupted ECC codeword (block 0, always <= its t) still heals
    version = (m.shape[0] - 17) // 4
    _, lengths = qr._block_lengths(version, ecl)
    fm = qr._function_map(m.shape[0])
    coords = qr._data_coords(m.shape[0], fm)
    cw = sum(lengths)                       # first interleaved ECC codeword
    m2 = m.copy()
    for b in range(8):
        r, c = coords[cw * 8 + b]
        m2[r, c] = not m2[r, c]
    assert qr.decode_qr_matrix(m2) == payload
