"""Pure-numpy QR encoder/decoder.

The reference decodes the AGT tax-portal QR printed on invoices through
pyzbar over a PIL page image (api/util.py:8007-8051; cv2 fallback
8083-8086) and follows the decoded URL. No QR library is assumed here:
the QR symbology (ISO/IEC 18004) is implementable from public spec with
nothing beyond numpy, so ``operators.multimodal.extract_qr`` calls
``decode_qr_pixels`` directly on the grayscale plane of a PNG decoded by
``functions/png.py`` — a REAL detect → sample → de-mask →
Reed-Solomon-correct → parse decode on executors.

Scope (declared, loudly enforced — never a silent mis-decode):

- Versions 1-6 (21-41 modules), numeric + alphanumeric + byte modes
  (auto-selected on encode from the payload charset, parsed as
  sequential segments on decode — real AGT portal QRs put the
  uppercase URL in an alphanumeric segment and document numbers in
  numeric ones; ECI charset designators are parsed and skipped, the
  payload bytes returned unchanged), EVERY ECC level — including
  the multi-block combos (V3-Q/H, V4-V6: per-block Reed-Solomon over
  column-wise interleaved codewords, two-group shapes at V5-Q/H);
  payload capacity up to 134 bytes (V6-L). V7+ (version-info blocks,
  multi-alignment grids) raises ``ValueError``.
- All 8 mask patterns, both format-info copies, BCH(15,5) format
  correction up to its design distance (<=3 bit errors).
- Full Reed-Solomon error correction over GF(256) (poly 0x11d):
  Peterson-Gorenstein-Zierler locator + Chien root search + a
  Vandermonde solve for magnitudes, verified by re-checking every
  syndrome — up to floor(ecc/2) wrong codewords are corrected, more
  fails loudly.
- Detection handles clean renders/scans: axis-parallel module grids at
  any 90-degree rotation, any integer module scale, any quiet-zone
  margin, light-on-dark or inverted brightness (threshold is
  (min+max)/2). Perspective warp / arbitrary tilt is out of scope —
  a real camera pipeline would rectify first (the reference's inputs
  are rendered PDF pages, also rectified).

Spark posture: QR decode is a stateless per-row kernel inside one
Arrow-batched ``mapInPandas`` stage (``operators.multimodal.
decode_qr_media``) — embarrassingly parallel, no shuffle, so at 100 TB
it scales with executor count exactly like the OCR decode stage.
"""
from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# GF(256), poly x^8 + x^4 + x^3 + x^2 + 1 (0x11d) — the QR field
# ---------------------------------------------------------------------------

_EXP = np.zeros(512, dtype=np.int32)
_LOG = np.zeros(256, dtype=np.int32)
_x = 1
for _i in range(255):
    _EXP[_i] = _x
    _LOG[_x] = _i
    _x <<= 1
    if _x & 0x100:
        _x ^= 0x11D
_EXP[255:510] = _EXP[:255]


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return int(_EXP[_LOG[a] + _LOG[b]])


def _ginv(a: int) -> int:
    if a == 0:
        raise ZeroDivisionError("GF(256) inverse of 0")
    return int(_EXP[255 - _LOG[a]])


def _poly_eval(p: list[int], x: int) -> int:
    """Evaluate polynomial (MSB-first coefficient list) at x (Horner)."""
    y = p[0]
    for c in p[1:]:
        y = _gmul(y, x) ^ c
    return y


def rs_encode(data: list[int], n_ecc: int) -> list[int]:
    """Reed-Solomon ECC codewords for ``data`` (generator roots
    alpha^0..alpha^{n_ecc-1}, the QR convention)."""
    gen = [1]
    for i in range(n_ecc):
        # gen *= (x - alpha^i); minus == plus in GF(2^8)
        nxt = [0] * (len(gen) + 1)
        for j, g in enumerate(gen):
            nxt[j] ^= _gmul(g, int(_EXP[i]))
            nxt[j + 1] ^= g
        gen = nxt
    gen = gen[::-1]  # MSB-first
    rem = list(data) + [0] * n_ecc
    for i in range(len(data)):
        f = rem[i]
        if f:
            for j in range(1, len(gen)):
                rem[i + j] ^= _gmul(gen[j], f)
    return rem[len(data):]


def _gf_solve(a: list[list[int]], b: list[int]) -> list[int] | None:
    """Gaussian elimination over GF(256); None when singular."""
    n = len(b)
    m = [row[:] + [b[i]] for i, row in enumerate(a)]
    for col in range(n):
        piv = next((r for r in range(col, n) if m[r][col]), None)
        if piv is None:
            return None
        m[col], m[piv] = m[piv], m[col]
        inv = _ginv(m[col][col])
        m[col] = [_gmul(v, inv) for v in m[col]]
        for r in range(n):
            if r != col and m[r][col]:
                f = m[r][col]
                m[r] = [v ^ _gmul(f, m[col][c]) for c, v in enumerate(m[r])]
    return [m[r][n] for r in range(n)]


def rs_correct(codeword: list[int], n_ecc: int,
               max_errors: int | None = None) -> list[int]:
    """Correct up to ``max_errors`` (default floor(n_ecc/2)) codeword
    errors in a place-safe copy; raises ValueError when uncorrectable.
    PGZ locator + Chien search + Vandermonde magnitude solve, then every
    syndrome re-verified — a wrong 'correction' can never be returned
    silently. QR callers pass the ISO capacity t = (n_ecc - p)/2, where
    p misdecode-protection codewords are RESERVED from correction at
    low versions (spec table: V1-L corrects 2 of 7, not 3) precisely so
    a heavily damaged codeword cannot land within corrective distance
    of a *different* valid codeword."""
    n = len(codeword)
    t_max = n_ecc // 2 if max_errors is None else min(max_errors, n_ecc // 2)
    synd = [_poly_eval(codeword, int(_EXP[i])) for i in range(n_ecc)]
    if not any(synd):
        return list(codeword)
    if t_max < 1:
        raise ValueError("RS: errors present but correction capacity 0")
    # PGZ: largest nu with non-singular syndrome matrix
    for nu in range(t_max, 0, -1):
        a = [[synd[r + c] for c in range(nu)] for r in range(nu)]
        b = [synd[r + nu] for r in range(nu)]
        mu = _gf_solve(a, b)
        if mu is not None:
            break
    else:
        raise ValueError("RS: syndrome system singular at every order")
    # locator Lambda(x) = 1 + l1 x + ... + l_nu x^nu, l_k = mu[nu-k]
    lam = [1] + [mu[nu - k] for k in range(1, nu + 1)]
    # Chien: roots alpha^k give error positions X = alpha^{-k} = alpha^{p},
    # poly position p maps to codeword index n-1-p
    positions = []
    for k in range(255):
        if _poly_eval(lam[::-1], int(_EXP[k])) == 0:
            p = (255 - k) % 255
            idx = n - 1 - p
            if 0 <= idx < n:
                positions.append(idx)
    if len(positions) != nu:
        raise ValueError("RS: error locator roots != error count")
    # magnitudes: S_j = sum e_i * X_i^j  (Vandermonde in X_i)
    xs = [int(_EXP[(n - 1 - idx) % 255]) for idx in positions]
    a = [[1] * nu]
    for _ in range(1, nu):
        a.append([_gmul(a[-1][i], xs[i]) for i in range(nu)])
    mags = _gf_solve(a, synd[:nu])
    if mags is None:
        raise ValueError("RS: magnitude system singular")
    out = list(codeword)
    for idx, e in zip(positions, mags):
        out[idx] ^= e
    if any(_poly_eval(out, int(_EXP[i])) for i in range(n_ecc)):
        raise ValueError("RS: correction failed syndrome re-check")
    return out


# ---------------------------------------------------------------------------
# QR tables (ISO/IEC 18004) — versions 1-6, every ECC level
# ---------------------------------------------------------------------------

_TOTAL_CW = {1: 26, 2: 44, 3: 70, 4: 100, 5: 134, 6: 172}
# (version, ecl) -> (ecc codewords PER BLOCK, block groups) where groups
# is ((n_blocks, data_cw_per_block), ...) — ISO 18004 table 9. V5-Q/H
# are the two-group shapes (short blocks first, then one-longer blocks).
# Versions <= 6 all share the single-alignment-pattern geometry and
# 8-bit byte-mode counts, so _function_map/_base_matrix hold unchanged;
# V7+ adds version-info blocks and more alignment patterns (out of
# scope, loud ValueError via _TOTAL_CW).
_BLOCK_STRUCT: dict[tuple[int, str], tuple[int, tuple[tuple[int, int], ...]]]
_BLOCK_STRUCT = {
    (1, "L"): (7, ((1, 19),)), (1, "M"): (10, ((1, 16),)),
    (1, "Q"): (13, ((1, 13),)), (1, "H"): (17, ((1, 9),)),
    (2, "L"): (10, ((1, 34),)), (2, "M"): (16, ((1, 28),)),
    (2, "Q"): (22, ((1, 22),)), (2, "H"): (28, ((1, 16),)),
    (3, "L"): (15, ((1, 55),)), (3, "M"): (26, ((1, 44),)),
    (3, "Q"): (18, ((2, 17),)), (3, "H"): (22, ((2, 13),)),
    (4, "L"): (20, ((1, 80),)), (4, "M"): (18, ((2, 32),)),
    (4, "Q"): (26, ((2, 24),)), (4, "H"): (16, ((4, 9),)),
    (5, "L"): (26, ((1, 108),)), (5, "M"): (24, ((2, 43),)),
    (5, "Q"): (18, ((2, 15), (2, 16))), (5, "H"): (22, ((2, 11), (2, 12))),
    (6, "L"): (18, ((2, 68),)), (6, "M"): (16, ((4, 27),)),
    (6, "Q"): (24, ((4, 19),)), (6, "H"): (28, ((4, 15),)),
}
# ISO error-correction capacity t per (version, ECL), PER BLOCK:
# (ecc_per_block - p) / 2 with p misdecode-protection codewords reserved
# at low versions — V1-L has 7 ecc but corrects only 2 (p=3), per the
# spec's capacity table; p = 0 from V2-M up except V2-L/V3-L.
_T_CAP = {(1, "L"): 2, (1, "M"): 4, (1, "Q"): 6, (1, "H"): 8,
          (2, "L"): 4, (2, "M"): 8, (2, "Q"): 11, (2, "H"): 14,
          (3, "L"): 7, (3, "M"): 13, (3, "Q"): 9, (3, "H"): 11,
          (4, "L"): 10, (4, "M"): 9, (4, "Q"): 13, (4, "H"): 8,
          (5, "L"): 13, (5, "M"): 12, (5, "Q"): 9, (5, "H"): 11,
          (6, "L"): 9, (6, "M"): 8, (6, "Q"): 12, (6, "H"): 14}


def _block_lengths(version: int, ecl: str) -> tuple[int, list[int]]:
    """(ecc_per_block, [data_cw_per_block in block order])."""
    ec_pb, groups = _BLOCK_STRUCT[(version, ecl)]
    return ec_pb, [d for n, d in groups for _ in range(n)]


def _interleave(blocks: list[list[int]]) -> list[int]:
    """Column-wise codeword interleave (ISO 8.6): codeword i of every
    block in block order, blocks already exhausted skipped."""
    out = []
    for i in range(max(len(b) for b in blocks)):
        out.extend(b[i] for b in blocks if i < len(b))
    return out


def _deinterleave(seq: list[int], lengths: list[int]) -> list[list[int]]:
    blocks: list[list[int]] = [[] for _ in lengths]
    it = iter(seq)
    for i in range(max(lengths)):
        for bi, ln in enumerate(lengths):
            if i < ln:
                blocks[bi].append(next(it))
    return blocks
_ECL_BITS = {"L": 1, "M": 0, "Q": 3, "H": 2}

# Segment modes (ISO 18004 8.4) and their count-field widths at V1-9.
# Versions <= 6 all sit in the V1-9 count-width class, so the widths
# are constants here; V10+ widths differ but V7+ already raises.
MODE_NUMERIC, MODE_ALNUM, MODE_BYTE = 1, 2, 4
_COUNT_BITS = {MODE_NUMERIC: 10, MODE_ALNUM: 9, MODE_BYTE: 8}
_ALNUM = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ $%*+-./:"
_ALNUM_INV = {c: i for i, c in enumerate(_ALNUM)}


def _size(version: int) -> int:
    return 17 + 4 * version


def data_capacity(version: int, ecl: str, mode: int = MODE_BYTE) -> int:
    """Max single-segment payload length (chars for numeric/alnum,
    bytes for byte mode) after the 4-bit mode + count-field overhead —
    matches the published per-mode capacity table (e.g. V1-L: 41
    numeric / 25 alnum / 17 byte; V6-L: 322 / 195 / 134)."""
    _, lengths = _block_lengths(version, ecl)
    bits = sum(lengths) * 8 - 4 - _COUNT_BITS[mode]
    if mode == MODE_BYTE:
        return bits // 8
    if mode == MODE_ALNUM:
        pairs, rem = divmod(bits, 11)
        return pairs * 2 + (1 if rem >= 6 else 0)
    groups, rem = divmod(bits, 10)
    return groups * 3 + (2 if rem >= 7 else 1 if rem >= 4 else 0)


def _function_map(size: int) -> np.ndarray:
    """True where a module is function/format-reserved (data zigzag
    skips it). Finder+separator+format corners, timing, alignment."""
    fm = np.zeros((size, size), dtype=bool)
    fm[0:9, 0:9] = True
    fm[0:9, size - 8:] = True
    fm[size - 8:, 0:9] = True
    fm[6, :] = True
    fm[:, 6] = True
    if size >= 25:  # V2+: one alignment pattern at (size-7, size-7)
        a = size - 7
        fm[a - 2:a + 3, a - 2:a + 3] = True
    return fm


def _base_matrix(size: int) -> np.ndarray:
    """Function-pattern colors (True = dark): finders, timing, alignment,
    dark module. Format bits are written separately."""
    m = np.zeros((size, size), dtype=bool)

    def finder(r0: int, c0: int) -> None:
        for dr in range(-4, 5):
            for dc in range(-4, 5):
                r, c = r0 + dr, c0 + dc
                if 0 <= r < size and 0 <= c < size:
                    m[r, c] = max(abs(dr), abs(dc)) not in (2, 4)

    finder(3, 3)
    finder(3, size - 4)
    finder(size - 4, 3)
    for i in range(8, size - 8):
        m[6, i] = i % 2 == 0
        m[i, 6] = i % 2 == 0
    if size >= 25:
        a = size - 7
        for dr in range(-2, 3):
            for dc in range(-2, 3):
                m[a + dr, a + dc] = max(abs(dr), abs(dc)) != 1
    m[size - 8, 8] = True  # dark module
    return m


def _format_bits(ecl: str, mask: int) -> int:
    data = (_ECL_BITS[ecl] << 3) | mask
    rem = data
    for _ in range(10):
        rem = (rem << 1) ^ ((rem >> 9) * 0x537)
    return ((data << 10) | rem) ^ 0x5412


def _format_coords(size: int) -> tuple[list, list]:
    """(row, col) of format bit i (LSB-indexed) for both copies."""
    c1 = ([(i, 8) for i in range(6)] + [(7, 8), (8, 8), (8, 7)]
          + [(8, 14 - i) for i in range(9, 15)])
    c2 = ([(8, size - 1 - i) for i in range(8)]
          + [(size - 15 + i, 8) for i in range(8, 15)])
    return c1, c2


def _data_coords(size: int, fm: np.ndarray) -> list[tuple[int, int]]:
    """Zigzag module order (two-column strips bottom-up/top-down,
    skipping timing column 6 and all function modules)."""
    coords = []
    right = size - 1
    while right >= 1:
        if right == 6:
            right = 5
        for vert in range(size):
            for j in range(2):
                col = right - j
                upward = ((right + 1) & 2) == 0
                row = size - 1 - vert if upward else vert
                if not fm[row, col]:
                    coords.append((row, col))
        right -= 2
    return coords


_MASKS = [
    lambda r, c: (r + c) % 2 == 0,
    lambda r, c: r % 2 == 0,
    lambda r, c: c % 3 == 0,
    lambda r, c: (r + c) % 3 == 0,
    lambda r, c: (r // 2 + c // 3) % 2 == 0,
    lambda r, c: (r * c) % 2 + (r * c) % 3 == 0,
    lambda r, c: ((r * c) % 2 + (r * c) % 3) % 2 == 0,
    lambda r, c: ((r + c) % 2 + (r * c) % 3) % 2 == 0,
]


# ---------------------------------------------------------------------------
# Encode: payload -> module matrix -> PNG render
# ---------------------------------------------------------------------------

def _put(v: int, n: int) -> list[int]:
    return [(v >> i) & 1 for i in range(n - 1, -1, -1)]


def choose_mode(payload: bytes) -> int:
    """Densest applicable segment mode for ``payload`` (the standard
    single-segment encoder policy): all-digits -> numeric (10/3 bits
    per char), alphanumeric-charset -> alnum (11/2), else byte (8)."""
    try:
        s = payload.decode("ascii")
    except UnicodeDecodeError:
        return MODE_BYTE
    if s and all("0" <= c <= "9" for c in s):
        return MODE_NUMERIC
    if s and all(c in _ALNUM_INV for c in s):
        return MODE_ALNUM
    return MODE_BYTE


def _segment_bits(payload: bytes, mode: int) -> list[int]:
    """Mode indicator + count field + payload bits for one segment
    (ISO 18004 8.4.2-8.4.4)."""
    if mode not in _COUNT_BITS:
        raise ValueError(f"unsupported QR segment mode {mode}")
    bits = _put(mode, 4)
    if mode == MODE_BYTE:
        bits += _put(len(payload), 8)
        for b in payload:
            bits += _put(b, 8)
        return bits
    try:
        s = payload.decode("ascii")
    except UnicodeDecodeError as exc:
        raise ValueError(f"mode {mode} payload must be ASCII") from exc
    want = MODE_NUMERIC if mode == MODE_NUMERIC else MODE_ALNUM
    ok = (all("0" <= c <= "9" for c in s) if want == MODE_NUMERIC
          else all(c in _ALNUM_INV for c in s))
    if not ok:
        raise ValueError(f"payload charset does not fit mode {mode}")
    bits += _put(len(s), _COUNT_BITS[mode])
    if mode == MODE_ALNUM:
        for i in range(0, len(s) - 1, 2):
            bits += _put(_ALNUM_INV[s[i]] * 45 + _ALNUM_INV[s[i + 1]], 11)
        if len(s) % 2:
            bits += _put(_ALNUM_INV[s[-1]], 6)
        return bits
    # numeric: 3 digits -> 10 bits, tail 2 -> 7, tail 1 -> 4
    full = len(s) - len(s) % 3
    for i in range(0, full, 3):
        bits += _put(int(s[i:i + 3]), 10)
    if len(s) - full == 2:
        bits += _put(int(s[full:]), 7)
    elif len(s) - full == 1:
        bits += _put(int(s[full:]), 4)
    return bits


def encode_qr_matrix(payload: bytes = b"", version: int | None = None,
                     ecl: str = "L", mask: int = 0,
                     mode: int | None = None,
                     segments: list[tuple[bytes, int]] | None = None
                     ) -> np.ndarray:
    """QR module matrix (bool, True = dark). ``mode`` defaults to the
    densest segment mode the payload charset admits (choose_mode);
    passing ``MODE_BYTE`` forces byte encoding of any payload.
    ``segments`` replaces (payload, mode) with an explicit
    [(payload, mode), ...] multi-segment stream — the shape real AGT
    invoice symbols use (alnum URL + numeric document number)."""
    if not 0 <= mask <= 7:
        raise ValueError("mask must be 0..7")
    if ecl not in _ECL_BITS:
        # guard before the table lookups: every rejection is ValueError
        raise ValueError(f"unknown ECC level {ecl!r} (expected L/M/Q/H)")
    if segments is None:
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        if mode is None:
            mode = choose_mode(payload)
        # charset-vs-mode compatibility is _segment_bits' job: digits
        # forced into MODE_ALNUM are legal (the charset admits them),
        # lowercase forced into MODE_ALNUM raises there
        segments = [(payload, mode)]
    seg: list[int] = []
    for p, md in segments:
        seg += _segment_bits(p.encode("utf-8") if isinstance(p, str)
                             else p, md)
    payload = b"".join(p.encode("utf-8") if isinstance(p, str) else p
                       for p, _ in segments)
    if version is None:
        version = next(
            (v for v in sorted(_TOTAL_CW)
             if len(seg) <= sum(_block_lengths(v, ecl)[1]) * 8), None)
        if version is None:
            raise ValueError(f"payload too long for supported versions "
                             f"at ECC {ecl}")
    if (version, ecl) not in _BLOCK_STRUCT:
        raise ValueError(f"unsupported combo: V{version}-{ecl}")
    ec_pb, lengths = _block_lengths(version, ecl)
    n_data = sum(lengths)
    if len(seg) > n_data * 8:
        raise ValueError(f"payload {len(payload)}B (mode {mode}) > "
                         f"V{version}-{ecl} capacity")
    # bitstream: segment, terminator, pad bytes
    bits = list(seg)
    bits += [0] * min(4, n_data * 8 - len(bits))
    bits += [0] * (-len(bits) % 8)
    data = [sum(bit << (7 - i) for i, bit in enumerate(bits[p:p + 8]))
            for p in range(0, len(bits), 8)]
    pad = (0xEC, 0x11)
    while len(data) < n_data:
        data.append(pad[(len(data) - len(bits) // 8) % 2])
    # split into RS blocks, ECC per block, column-wise interleave
    # (ISO 8.6) — all data codewords first, then all ECC codewords
    dblocks, pos = [], 0
    for ln in lengths:
        dblocks.append(data[pos:pos + ln])
        pos += ln
    eblocks = [rs_encode(b, ec_pb) for b in dblocks]
    codewords = _interleave(dblocks) + _interleave(eblocks)

    size = _size(version)
    fm = _function_map(size)
    m = _base_matrix(size)
    allbits = [(cw >> (7 - i)) & 1 for cw in codewords for i in range(8)]
    for i, (r, c) in enumerate(_data_coords(size, fm)):
        v = allbits[i] if i < len(allbits) else 0  # remainder bits light
        m[r, c] = bool(v) ^ _MASKS[mask](r, c)
    fmt = _format_bits(ecl, mask)
    for coords in _format_coords(size):
        for i, (r, c) in enumerate(coords):
            m[r, c] = bool((fmt >> i) & 1)
    return m


def render_qr_png(payload: bytes | str, version: int | None = None,
                  ecl: str = "L", mask: int = 0, scale: int = 3,
                  border: int = 4, rotate: int = 0) -> bytes:
    """Encode payload and render the symbol as a grayscale PNG
    (functions/png.py), ``scale`` px per module, ``border`` quiet-zone
    modules, rotated by ``rotate`` x 90 degrees."""
    from .png import encode_png

    m = encode_qr_matrix(payload, version=version, ecl=ecl, mask=mask)
    img = np.where(m, 0, 255).astype(np.uint8)
    img = np.kron(img, np.ones((scale, scale), dtype=np.uint8))
    img = np.pad(img, border * scale, constant_values=255)
    return encode_png(np.rot90(img, k=rotate % 4))


# ---------------------------------------------------------------------------
# Decode: grayscale pixels -> finder detection -> sample -> payload
# ---------------------------------------------------------------------------

def _runs(line: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Run-length encode a bool line -> (start, length, value) arrays."""
    idx = np.flatnonzero(np.diff(line.astype(np.int8))) + 1
    bounds = np.concatenate(([0], idx, [line.shape[0]]))
    return bounds[:-1], np.diff(bounds), line[bounds[:-1]]


def _ratio_ok(lens: np.ndarray) -> float | None:
    """1:1:3:1:1 check; returns the module estimate or None."""
    m = lens.sum() / 7.0
    if m < 0.9:
        return None
    tol = max(1.0, m * 0.5)
    if (abs(lens[0] - m) <= tol and abs(lens[1] - m) <= tol
            and abs(lens[2] - 3 * m) <= 3 * tol
            and abs(lens[3] - m) <= tol and abs(lens[4] - m) <= tol):
        return float(m)
    return None


def _finder_centers(
        dark: np.ndarray) -> list[tuple[float, float, float, bool]]:
    """Scan for finder patterns: horizontal 1:1:3:1:1 runs confirmed by
    a vertical 1:1:3:1:1 through the candidate center; cluster the
    (cx, cy, module) hits. ONE pass serves BOTH polarities — the same
    run-length encoding carries a normal finder (window starts on a
    dark run) and an inverted one (starts on a light run), so
    supporting negative scans costs no second image sweep. Returns
    clusters sorted by hit count as (cx, cy, module, polarity) with
    polarity=True for normal (dark-module) candidates."""
    h, w = dark.shape
    clusters: list[list[float]] = []  # [cx, cy, module, hits, pol]
    for y in range(h):
        starts, lens, vals = _runs(dark[y])
        for s in range(len(lens) - 4):
            pol = bool(vals[s])
            m = _ratio_ok(lens[s:s + 5])
            if m is None:
                continue
            # pixel-INDEX center ((len-1)/2, not len/2): at 1-px modules a
            # continuous-coordinate center lands on .5 and rint's
            # half-to-even rounding can leave the module entirely
            cx = float(starts[s] + lens[s] + lens[s + 1]
                       + (lens[s + 2] - 1) / 2.0)
            col = int(round(cx))
            if not (0 <= col < w):
                continue
            vstarts, vlens, vvals = _runs(dark[:, col])
            ri = int(np.searchsorted(vstarts, y, side="right")) - 1
            if not (2 <= ri < len(vlens) - 2) or bool(vvals[ri]) != pol:
                continue
            vm = _ratio_ok(vlens[ri - 2:ri + 3])
            if vm is None:
                continue
            cy = float(vstarts[ri] + (vlens[ri] - 1) / 2.0)
            mod = (m + vm) / 2.0
            for cl in clusters:
                # merge gate includes MODULE similarity: data-pattern
                # hits landing near a true finder carry a different run
                # module, and mean-merging them drags the cluster center
                # off the finder (observed: V5-M mask-3 scale-3 rot-3
                # symbols whose dragged TL center broke grid sampling)
                if (cl[4] == pol and abs(cl[0] - cx) < 3 * mod
                        and abs(cl[1] - cy) < 3 * mod
                        and abs(cl[2] - mod) < 0.3 * cl[2]):
                    k = cl[3]
                    cl[0] = (cl[0] * k + cx) / (k + 1)
                    cl[1] = (cl[1] * k + cy) / (k + 1)
                    cl[2] = (cl[2] * k + mod) / (k + 1)
                    cl[3] = k + 1
                    break
            else:
                clusters.append([cx, cy, mod, 1, pol])
    return [(c[0], c[1], c[2], c[4]) for c in
            sorted(clusters, key=lambda c: -c[3])]


def _read_format(m: np.ndarray) -> tuple[str, int] | None:
    """Read/BCH-correct format info from either copy (min Hamming
    distance over the 32 valid codewords, accepted at <= 3)."""
    size = m.shape[0]
    valid = [(_format_bits(e, mk), e, mk)
             for e in "LMQH" for mk in range(8)]
    best = None
    for coords in _format_coords(size):
        got = sum(int(m[r, c]) << i for i, (r, c) in enumerate(coords))
        for bits, e, mk in valid:
            d = bin(got ^ bits).count("1")
            if best is None or d < best[0]:
                best = (d, e, mk)
    if best is None or best[0] > 3:
        return None
    return best[1], best[2]


def decode_qr_matrix(m: np.ndarray) -> bytes:
    """Decode a sampled module matrix (bool, True = dark): format info,
    unmask, zigzag read, RS-correct, parse byte-mode bitstream."""
    size = m.shape[0]
    if m.shape != (size, size) or (size - 17) % 4:
        raise ValueError(f"not a QR module grid: {m.shape}")
    version = (size - 17) // 4
    if version not in _TOTAL_CW:
        raise ValueError(f"unsupported QR version {version}")
    fmt = _read_format(m)
    if fmt is None:
        raise ValueError("format info unreadable (both copies)")
    ecl, mask = fmt
    fm = _function_map(size)
    coords = _data_coords(size, fm)
    bits = [int(m[r, c]) ^ int(_MASKS[mask](r, c)) for r, c in coords]
    total = _TOTAL_CW[version]
    codewords = [sum(bit << (7 - i) for i, bit in enumerate(bits[p:p + 8]))
                 for p in range(0, total * 8, 8)]
    # de-interleave into RS blocks (reverse of ISO 8.6), correct each
    # block independently, concatenate data in block order
    ec_pb, lengths = _block_lengths(version, ecl)
    n_data = sum(lengths)
    dblocks = _deinterleave(codewords[:n_data], lengths)
    eblocks = _deinterleave(codewords[n_data:], [ec_pb] * len(lengths))
    t_cap = _T_CAP[(version, ecl)]
    data = []
    for db, eb in zip(dblocks, eblocks):
        data += rs_correct(db + eb, ec_pb, max_errors=t_cap)[:len(db)]
    # parse the segment stream: numeric / alphanumeric / byte segments
    # in sequence until the terminator (ISO 18004 8.4) — out-of-range
    # group values and overruns raise, never mis-decode
    dbits = [(cw >> (7 - i)) & 1 for cw in data for i in range(8)]
    pos, out = 0, bytearray()

    def take(n: int) -> int:
        nonlocal pos
        if pos + n > len(dbits):
            raise ValueError("QR segment overruns data")
        v = sum(b << (n - 1 - i) for i, b in enumerate(dbits[pos:pos + n]))
        pos += n
        return v

    while pos + 4 <= len(dbits):
        mode = take(4)
        if mode == 0:
            break
        if mode == 7:
            # ECI (ISO 6.4.2): charset metadata ahead of a segment —
            # phone generators commonly emit a UTF-8 designator (26)
            # before the byte segment. The payload bytes are returned
            # unchanged (the seam's contract is raw bytes), so the
            # designator is parsed (1/2/3-byte forms) and skipped.
            lead = take(8)
            if lead >> 7 == 0b0:
                pass
            elif lead >> 6 == 0b10:
                take(8)
            elif lead >> 5 == 0b110:
                take(16)
            else:
                raise ValueError("invalid ECI designator")
            continue
        if mode not in _COUNT_BITS:
            raise ValueError(f"unsupported QR mode {mode:04b}")
        cnt = take(_COUNT_BITS[mode])
        if mode == MODE_BYTE:
            for _ in range(cnt):
                out.append(take(8))
        elif mode == MODE_ALNUM:
            for _ in range(cnt // 2):
                v = take(11)
                if v >= 45 * 45:
                    raise ValueError("alphanumeric pair out of range")
                out += (_ALNUM[v // 45] + _ALNUM[v % 45]).encode("ascii")
            if cnt % 2:
                v = take(6)
                if v >= 45:
                    raise ValueError("alphanumeric tail out of range")
                out += _ALNUM[v].encode("ascii")
        else:  # MODE_NUMERIC
            for _ in range(cnt // 3):
                v = take(10)
                if v >= 1000:
                    raise ValueError("numeric group out of range")
                out += b"%03d" % v
            rem = cnt % 3
            if rem == 2:
                v = take(7)
                if v >= 100:
                    raise ValueError("numeric tail out of range")
                out += b"%02d" % v
            elif rem == 1:
                v = take(4)
                if v >= 10:
                    raise ValueError("numeric tail out of range")
                out += b"%d" % v
    return bytes(out)


def _try_finder_triple(dark: np.ndarray, pts: np.ndarray,
                       module: float, tl: int) -> bytes | None:
    """Attempt a full decode assuming ``pts`` are the three finder
    centers and ``pts[tl]`` the corner (top-left) one: orient TR/BL by
    cross product in image coords, estimate version from span/module,
    affine-sample the grid, decode. None on any failure."""
    a, b = pts[(tl + 1) % 3], pts[(tl + 2) % 3]
    t = pts[tl]
    if (a - t)[0] * (b - t)[1] - (a - t)[1] * (b - t)[0] > 0:
        tr, bl = a, b
    else:
        tr, bl = b, a
    span = float(np.linalg.norm(tr - t))
    version = int(round((span / module + 7 - 17) / 4))
    if version not in _TOTAL_CW:
        return None
    size = _size(version)
    ex = (tr - t) / (size - 7)
    ey = (bl - t) / (size - 7)
    # sample: pixel(col, row) = TL + (col-3)*ex + (row-3)*ey
    rows = np.arange(size) - 3.0
    cols = np.arange(size) - 3.0
    xs = t[0] + cols[None, :] * ex[0] + rows[:, None] * ey[0]
    ys = t[1] + cols[None, :] * ex[1] + rows[:, None] * ey[1]
    xi = np.rint(xs).astype(int)
    yi = np.rint(ys).astype(int)
    h, w = dark.shape
    if xi.min() < 0 or yi.min() < 0 or xi.max() >= w or yi.max() >= h:
        return None
    try:
        return decode_qr_matrix(dark[yi, xi])
    except ValueError:
        return None


def _detect_in(dark: np.ndarray,
               centers: list[tuple[float, float, float, bool]]
               ) -> bytes | None:
    """Decode one symbol from pre-scanned finder candidates over a
    boolean (True = module-dark) image. Dense data regions can produce
    false 1:1:3:1:1 clusters (a mask-2 column pattern at small scales
    is a reliable offender), so no fixed top-3 pick is trusted: every
    triple from the strongest candidate clusters is scored by finder
    geometry — right isosceles corner, equal spans, consistent module
    estimates — and decode is attempted in score order until one triple
    yields a valid symbol (the RS syndrome re-check makes a false
    triple fail, never mis-decode)."""
    if len(centers) < 3:
        return None

    from itertools import combinations

    scored = []
    for i, j, k in combinations(range(len(centers)), 3):
        pts = np.array([centers[m][:2] for m in (i, j, k)])
        mods = np.array([centers[m][2] for m in (i, j, k)])
        module = float(mods.mean())
        if mods.max() > 1.5 * mods.min():  # inconsistent module sizes
            continue
        corner = min(range(3), key=lambda c: abs(float(
            np.dot(pts[(c + 1) % 3] - pts[c], pts[(c + 2) % 3] - pts[c]))
            / (np.linalg.norm(pts[(c + 1) % 3] - pts[c])
               * np.linalg.norm(pts[(c + 2) % 3] - pts[c]) + 1e-9)))
        v1 = pts[(corner + 1) % 3] - pts[corner]
        v2 = pts[(corner + 2) % 3] - pts[corner]
        d1, d2 = np.linalg.norm(v1), np.linalg.norm(v2)
        if min(d1, d2) < 7 * module:  # closer than adjacent finders can be
            continue
        cos = abs(float(np.dot(v1, v2))) / (d1 * d2 + 1e-9)
        span_mismatch = abs(d1 - d2) / max(d1, d2)
        mod_spread = float(mods.max() / mods.min()) - 1.0
        scored.append((cos + span_mismatch + mod_spread, pts, module, corner))
    scored.sort(key=lambda s: s[0])
    for _, pts, module, corner in scored[:20]:
        payload = _try_finder_triple(dark, pts, module, corner)
        if payload is not None:
            return payload
    return None


def decode_qr_pixels(gray: np.ndarray) -> bytes | None:
    """Detect and decode one QR symbol in a grayscale uint8 image;
    None when no decodable symbol is found. See module docstring for
    the detection envelope. Both polarities are supported (light
    modules on a dark background — a dark-mode render or a negative
    scan) from ONE finder scan: the run-length sweep tags each
    candidate with its polarity, so a page with no symbol pays a single
    image pass, not one per polarity. Normal-polarity triples are
    attempted first."""
    if gray.ndim != 2 or gray.size == 0:
        return None
    lo, hi = int(gray.min()), int(gray.max())
    if hi - lo < 32:  # flat image: nothing to threshold
        return None
    dark = gray < (lo + hi) / 2.0
    centers = _finder_centers(dark)
    for pol in (True, False):
        cand = [c for c in centers if c[3] == pol][:10]
        payload = _detect_in(dark if pol else ~dark, cand)
        if payload is not None:
            return payload
    return None

