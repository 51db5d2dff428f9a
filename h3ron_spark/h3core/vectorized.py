"""Numpy-vectorized batch kernels for the H3 hot paths.

The scalar modules (coords/index/cells) are the reference
implementation; this module re-expresses the *encode* path
(latlng -> cell, the single hottest kernel in the engine: every
point-indexing query, polyfill boundary trace, and raster pipeline
funnels through it) as whole-batch numpy array programs. Parity
target: h3ron/src/cell.rs:66-71 (`from_point`); the algorithm is the
published H3 geoToH3 pipeline (geo -> face gnomonic hex2d -> ijk ->
digit aggregation -> base cell + rotations).

Strategy: the hex-cell fast path (110 of 122 base cells, ~98.6% of
the sphere) vectorizes exactly — the per-resolution digit loop runs
``res`` iterations of O(n) numpy ops instead of n Python loops.
Pentagon-rooted cells and any row the fast path flags (non-unit digit
diff, out-of-cube base position) fall back to the scalar kernel
row-by-row, guaranteeing bit-exact agreement with the reference
implementation everywhere.

Correctness gate: tests/test_vectorized.py drives random global
batches through both paths and asserts exact int64 equality.
"""

from __future__ import annotations

import math

import numpy as np

from h3ron_spark.h3core import derive
from h3ron_spark.h3core import index as ix
from h3ron_spark.h3core.constants import (
    BASE_CELL_DATA,
    BC_OFFSET,
    EPSILON,
    FACE_AXES_AZ_0,
    FACE_CENTER_GEO,
    K_AXES_DIGIT,
    M_2PI,
    M_AP7_ROT_RADS,
    M_SIN60,
    M_SQRT7,
    MAX_DIM_BY_CII_RES,
    PENTAGON_BASE_CELLS,
    RES0_U_GNOMONIC,
    UNIT_VECS,
)
from h3ron_spark.h3core.coords import geo_to_vec3, rotate_digit_ccw

_I64 = np.int64
_U64 = np.uint64

# --------------------------------------------------------------- LUTs

_LUTS: dict | None = None


def _luts() -> dict:
    """Lazy-build the numpy lookup tables (once per worker process)."""
    global _LUTS
    if _LUTS is None:
        face_v3 = np.array(
            [geo_to_vec3(la, ln) for la, ln in FACE_CENTER_GEO], dtype=np.float64
        )
        fc = np.array(FACE_CENTER_GEO, dtype=np.float64)
        axes = np.array(FACE_AXES_AZ_0, dtype=np.float64)

        # face/ijk -> (base cell, ccw rotations) as a dense cube
        derive.face_ijk_base_cell(0, (0, 0, 0))  # force-build
        bc_lut = np.full((20, 3, 3, 3), -1, dtype=_I64)
        rot_lut = np.zeros((20, 3, 3, 3), dtype=_I64)
        for (f, (i, j, k)), (bc, rot) in derive._FACE_IJK_BC.items():
            if max(i, j, k) <= 2:
                bc_lut[f, i, j, k] = bc
                rot_lut[f, i, j, k] = rot

        # digit ccw-rotation composed powers (0..5 rotations)
        rot_pow = np.empty((6, 8), dtype=_I64)
        for d in range(8):
            cur = d
            for p in range(6):
                rot_pow[p, d] = cur
                cur = rotate_digit_ccw(cur)

        is_pent = np.zeros(128, dtype=bool)
        for p in PENTAGON_BASE_CELLS:
            is_pent[p] = True

        # base-cell x face -> is-cw-offset (index._base_cell_is_cw_offset)
        cw_off = np.zeros((122, 20), dtype=bool)
        for b, (_hf, _hijk, _p, offs) in enumerate(BASE_CELL_DATA):
            for f in offs:
                if 0 <= f < 20:
                    cw_off[b, f] = True

        # base cell -> home (face, ijk); direction digit -> unit ijk
        home = np.zeros((122, 4), dtype=_I64)
        for b, (hf, hijk, _p, _o) in enumerate(BASE_CELL_DATA):
            home[b] = (hf, *hijk)
        uv = np.array(UNIT_VECS + ((0, 0, 0),), dtype=_I64)  # digit 7 pad

        _LUTS = {
            "home": home,
            "unit_vecs": uv,
            "face_v3": face_v3,
            "fc_lat": fc[:, 0].copy(),
            "fc_lng": fc[:, 1].copy(),
            "axes": axes,
            "bc": bc_lut,
            "rot": rot_lut,
            "rot_pow": rot_pow,
            "is_pent": is_pent,
            "cw_off": cw_off,
        }
    return _LUTS


# ------------------------------------------------------- array helpers


def _norm3(i, j, k):
    """Vectorized ijk_normalize (coords.py:27-41). Every scalar
    normalize step subtracts the SAME value from all three axes (a
    uniform shift), so the staged negative-elimination composes to the
    single closed form x - min(i, j, k) — 5 array passes instead of
    ~18 (the encode kernel's hottest helper)."""
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def _lround(x):
    """Vectorized C lround (round half away from zero)."""
    return np.where(
        x >= 0.0, np.floor(x + 0.5), -np.floor(-x + 0.5)
    ).astype(_I64)


def _lround_div7(p):
    """Exact integer lround(p / 7) for int arrays — identical to the
    float path: p/7 is never within 1/14 of a half-integer (7 is odd),
    and double error (~1e-16) cannot bridge that gap, so the rational
    rounding floor((2|p|+7)/14) matches C lround bit-for-bit while
    skipping the int->float->int round trip of the hot lattice step."""
    q = (2 * np.abs(p) + 7) // 14
    return np.where(p >= 0, q, -q)


def _hex2d_to_ijk(x, y):
    """Vectorized hex-rounding case analysis (coords.py:141-181)."""
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = np.floor(x1).astype(_I64)
    m2 = np.floor(x2).astype(_I64)
    r1 = x1 - m1
    r2 = x2 - m2

    in_a = r1 < 0.5
    in_b = r1 < 1.0 / 3.0  # within in_a
    in_c = r1 < 2.0 / 3.0  # within ~in_a

    i = np.where(
        in_a,
        np.where(in_b, m1, m1 + (((1.0 - r1) <= r2) & (r2 < 2.0 * r1))),
        np.where(
            in_c,
            m1 + ~(((2.0 * r1 - 1.0) < r2) & (r2 < (1.0 - r1))),
            m1 + 1,
        ),
    )
    j = np.where(
        in_a,
        np.where(
            in_b, m2 + (r2 >= (1.0 + r1) / 2.0), m2 + (r2 >= (1.0 - r1))
        ),
        np.where(in_c, m2 + (r2 >= (1.0 - r1)), m2 + (r2 >= r1 / 2.0)),
    )

    neg_x = x < 0.0
    j_even = (j % 2) == 0
    axisi = np.where(j_even, j // 2, (j + 1) // 2)
    diff = i - axisi
    i = np.where(
        neg_x, np.where(j_even, i - 2 * diff, i - (2 * diff + 1)), i
    )
    neg_y = y < 0.0
    i = np.where(neg_y, i - (2 * j + 1) // 2, i)
    j = np.where(neg_y, -j, j)
    return _norm3(i, j, np.zeros_like(i))


# ----------------------------------------------------------- the kernel


def _encode_res(lat_r, lng_r, res: int):
    """Encode radian coordinate arrays at one resolution.

    Returns (h: uint64 array, fallback: bool array) — rows flagged
    in ``fallback`` (pentagons, off-cube) must be re-encoded scalar.
    """
    L = _luts()
    n = lat_r.shape[0]

    cl = np.cos(lat_r)
    v = np.empty((n, 3), dtype=np.float64)
    v[:, 0] = cl * np.cos(lng_r)
    v[:, 1] = cl * np.sin(lng_r)
    v[:, 2] = np.sin(lat_r)
    dots = v @ L["face_v3"].T
    face = np.argmax(dots, axis=1)
    dot = np.clip(dots[np.arange(n), face], -1.0, 1.0)
    r = np.arccos(dot)

    fc_lat = L["fc_lat"][face]
    fc_lng = L["fc_lng"][face]
    az = np.arctan2(
        np.cos(lat_r) * np.sin(lng_r - fc_lng),
        np.cos(fc_lat) * np.sin(lat_r)
        - np.sin(fc_lat) * np.cos(lat_r) * np.cos(lng_r - fc_lng),
    )
    theta = np.mod(L["axes"][face] - np.mod(az, M_2PI), M_2PI)
    if res % 2 == 1:  # Class III
        theta = np.mod(theta - M_AP7_ROT_RADS, M_2PI)
    rr = np.tan(r) / RES0_U_GNOMONIC * (M_SQRT7**res)
    small = r < EPSILON
    x = np.where(small, 0.0, rr * np.cos(theta))
    y = np.where(small, 0.0, rr * np.sin(theta))

    i, j, k = _hex2d_to_ijk(x, y)
    # pent_adj is the decode-side wedge glue — legitimate for point
    # encode (scalar face_ijk_to_h3 applies the same rotation)
    h, fallback, _pent_adj = _ijk_to_h3(face, i, j, k, res)
    return h, fallback


def _ijk_to_h3(face, i, j, k, res: int):
    """Vectorized ``face_ijk_to_h3`` (index.py:170-208) for the
    hexagon fast path. ``face``/``i``/``j``/``k``: int64 arrays of one
    (face, ijk) grid position per row at resolution ``res``. Returns
    (h int64 array, fallback bool array, pent_adj bool array) —
    fallback rows (off-cube aggregation, unmapped cube position,
    non-unit digit) must be redone with the scalar kernel. Pentagon
    base cells are encoded in-batch (leading-K cw-offset + deleted-K
    pentagon rotations, scalar parity); ``pent_adj`` marks rows whose
    position lay on a pentagon's deleted-K wedge and was glued onto
    the canonical cell — correct for point encode/decode, but offset
    DISTANCES through such a position are unreliable, so the disk
    kernel must route those rows to the scalar BFS."""
    L = _luts()
    n = i.shape[0]

    bad = np.zeros(n, dtype=bool)
    digits = np.empty((res, n), dtype=_I64) if res else None
    for rv in range(res, 0, -1):
        li, lj, lk = i, j, k
        ia = li - lk
        ja = lj - lk
        if rv % 2 == 1:  # Class III: up_ap7 / down_ap7
            ni = _lround_div7(3 * ia - ja)
            nj = _lround_div7(ia + 2 * ja)
            i, j, k = _norm3(ni, nj, np.zeros_like(ni))
            ci, cj, ck = _norm3(3 * i + j, 3 * j + k, i + 3 * k)
        else:  # Class II: up_ap7r / down_ap7r
            ni = _lround_div7(2 * ia + ja)
            nj = _lround_div7(3 * ja - ia)
            i, j, k = _norm3(ni, nj, np.zeros_like(ni))
            ci, cj, ck = _norm3(3 * i + k, i + 3 * j, j + 3 * k)
        di, dj, dk = _norm3(li - ci, lj - cj, lk - ck)
        bad |= (di > 1) | (dj > 1) | (dk > 1) | ((di + dj + dk) == 3)
        digits[rv - 1] = 4 * di + 2 * dj + dk

    off_cube = (i > 2) | (j > 2) | (k > 2)
    ic = np.clip(i, 0, 2)
    jc = np.clip(j, 0, 2)
    kc = np.clip(k, 0, 2)
    bc = L["bc"][face, ic, jc, kc]
    rots = L["rot"][face, ic, jc, kc]
    fallback = bad | off_cube | (bc < 0)
    pent = L["is_pent"][np.clip(bc, 0, 127)] & ~fallback
    pent_adj = np.zeros(n, dtype=bool)

    if res:
        npent_m = (~pent)[None, :]
        # non-pentagon base-cell rotations: compose on the digit table
        digits = np.where(
            npent_m, L["rot_pow"][rots[None, :], digits], digits
        )
        if pent.any():
            # pentagon path (face_ijk_to_h3, index.py:197-204):
            # leading-K cw-offset adjustment, then num_rots pentagon
            # rotations that skip the deleted K subsequence. Zeros are
            # rotation-invariant, so the leading-nonzero POSITION is
            # stable and "rotate, then re-check leading==K" is exactly
            # the scalar's in-loop formulation.
            nz = digits != 0
            lead = np.where(
                nz.any(axis=0),
                digits[np.argmax(nz, axis=0), np.arange(n)],
                0,
            )
            ccw1 = L["rot_pow"][1]
            cw1 = L["rot_pow"][5]
            adj = pent & (lead == K_AXES_DIGIT)
            pent_adj |= adj
            if adj.any():
                is_cw = L["cw_off"][np.clip(bc, 0, 121), face]
                digits = np.where(
                    (adj & is_cw)[None, :], cw1[digits], digits
                )
                digits = np.where(
                    (adj & ~is_cw)[None, :], ccw1[digits], digits
                )
            for p in range(5):
                rm = pent & (rots > p)
                if not rm.any():
                    break
                digits = np.where(rm[None, :], ccw1[digits], digits)
                nz = digits != 0
                lead = np.where(
                    nz.any(axis=0),
                    digits[np.argmax(nz, axis=0), np.arange(n)],
                    0,
                )
                rm2 = rm & (lead == K_AXES_DIGIT)
                if rm2.any():
                    digits = np.where(
                        rm2[None, :], ccw1[digits], digits
                    )

    base_h = ix.init_cell(res)
    for rv in range(1, res + 1):
        base_h &= ~(7 << (3 * (15 - rv)))
    h = np.full(n, base_h, dtype=_U64)
    h |= np.clip(bc, 0, 127).astype(_U64) << _U64(BC_OFFSET)
    for rv in range(1, res + 1):
        h |= digits[rv - 1].astype(_U64) << _U64(3 * (15 - rv))
    return h.astype(_I64), fallback, pent_adj


def latlng_to_cell_batch(lat_deg, lng_deg, res):
    """Batch latlng (degrees) -> H3 cell, bit-exact vs the scalar path.

    ``lat_deg``/``lng_deg``: float64 arrays (NaN rows -> 0 / invalid
    mask is the caller's job). ``res``: scalar int or int array.
    Returns an int64 array; rows with out-of-domain inputs return 0.
    """
    lat_deg = np.asarray(lat_deg, dtype=np.float64)
    lng_deg = np.asarray(lng_deg, dtype=np.float64)
    n = lat_deg.shape[0]
    out = np.zeros(n, dtype=_I64)
    if n == 0:
        return out

    valid = (
        np.isfinite(lat_deg)
        & np.isfinite(lng_deg)
        & (lat_deg >= -90.0)
        & (lat_deg <= 90.0)
    )

    res_arr = np.broadcast_to(np.asarray(res, dtype=_I64), (n,))
    valid &= (res_arr >= 0) & (res_arr <= 15)

    lat_r = np.radians(np.where(valid, lat_deg, 0.0))
    lng_r = np.radians(np.where(valid, lng_deg, 0.0))

    for rv in np.unique(res_arr[valid]):
        sel = valid & (res_arr == rv)
        idx = np.nonzero(sel)[0]
        h, fb = _encode_res(lat_r[idx], lng_r[idx], int(rv))
        if fb.any():
            enc = ix.latlng_to_cell
            for t in np.nonzero(fb)[0]:
                g = idx[t]
                try:
                    h[t] = enc(float(lat_r[g]), float(lng_r[g]), int(rv))
                except Exception:
                    h[t] = 0
        out[idx] = h
    return out


# -------------------------------------------------- vectorized decode
#
# cell -> (face, ijk) is PURE INTEGER math (h3_to_face_ijk), vectorized
# bit-exactly; the trailing (face, ijk) -> latlng leg is float and uses
# numpy transcendentals, which may differ from the scalar libm path by
# <= 1 ulp. The VECTOR path is the canonical decode (the scalar kernel
# is the cross-check, compared under tolerance in tests/test_vectorized
# — the round-1 bit-exact cross-kernel contract is retired). Pentagon
# base cells (12/122) decode in-batch too (leading-5 index rotation +
# the bounded substrate-overage fixpoint loop); only rows that would
# exceed the loop's pass budget — never observed — flag for the
# callers' scalar rescue paths.

_DECODE_T: dict | None = None


def _decode_tables() -> dict:
    global _DECODE_T
    if _DECODE_T is not None:
        return _DECODE_T
    from h3ron_spark.h3core import derive
    from h3ron_spark.h3core.constants import (
        BASE_CELL_DATA,
        FACE_AXES_AZ_0,
        FACE_CENTER_GEO,
        MAX_DIM_BY_CII_RES,
        UNIT_SCALE_BY_CII_RES,
        UNIT_VECS,
    )

    T: dict = {}
    T["home_face"] = np.array([d[0] for d in BASE_CELL_DATA], dtype=_I64)
    hijk = np.array([d[1] for d in BASE_CELL_DATA], dtype=_I64)
    T["home_i"], T["home_j"], T["home_k"] = hijk[:, 0], hijk[:, 1], hijk[:, 2]
    T["is_pent"] = np.array([bool(d[2]) for d in BASE_CELL_DATA], dtype=bool)
    T["unit_i"] = np.array([v[0] for v in UNIT_VECS] + [0], dtype=_I64)
    T["unit_j"] = np.array([v[1] for v in UNIT_VECS] + [0], dtype=_I64)
    T["unit_k"] = np.array([v[2] for v in UNIT_VECS] + [0], dtype=_I64)
    # face-neighbor orientation per (face, dir) with dirs 0=ij 1=ki 2=jk
    fnf = np.zeros((20, 3), dtype=_I64)
    fnr = np.zeros((20, 3), dtype=_I64)
    fnt = np.zeros((20, 3, 3), dtype=_I64)
    for f in range(20):
        for d_idx, edge in enumerate(("ij", "ki", "jk")):
            fo = derive.face_neighbor(f, edge)
            fnf[f, d_idx] = fo.face
            fnr[f, d_idx] = fo.ccw_rot60
            fnt[f, d_idx] = fo.translate
    # int32: all table values fit with huge margin; int32 tables keep
    # int32 coordinate pipelines from silently promoting back to
    # int64 mid-kernel (int64 callers are unaffected — mixing
    # promotes to their width)
    T["fn_face"], T["fn_rot"], T["fn_trans"] = (
        fnf.astype(np.int32),
        fnr.astype(np.int32),
        fnt.astype(np.int32),
    )
    T["max_dim"] = np.array(MAX_DIM_BY_CII_RES, dtype=np.int32)
    T["unit_scale"] = np.array(UNIT_SCALE_BY_CII_RES, dtype=np.int32)
    T["face_lat"] = np.array([g[0] for g in FACE_CENTER_GEO])
    T["face_lng"] = np.array([g[1] for g in FACE_CENTER_GEO])
    T["face_az"] = np.array(FACE_AXES_AZ_0)
    _DECODE_T = T
    return T


# _norm3 collapsed to the same closed form; keep one implementation
_ijk_normalize_np = _norm3


def _ijk_rotate60_ccw_np(i, j, k):
    return _ijk_normalize_np(i + k, i + j, j + k)


def _ijk_rotate60_cw_np(i, j, k):
    return _ijk_normalize_np(i + j, j + k, i + k)


def _leading_nonzero_digit_np(c, res):
    """Vectorized index.leading_nonzero_digit."""
    lead = np.zeros(c.shape, dtype=_I64)
    found = np.zeros(c.shape, dtype=bool)
    for r in range(1, 16):
        m = (res >= r) & ~found
        if not m.any():
            break
        d = (c >> _I64(3 * (15 - r))) & _I64(7)
        newly = m & (d != 0)
        lead = np.where(newly, d, lead)
        found |= newly
    return lead


def _rotate60_cw_index_np(c, res, mask):
    """Vectorized index.rotate60_cw on the masked rows: every digit
    mapped through the cw table (= 5 ccw compositions)."""
    cw = _luts()["rot_pow"][5]
    out = c.copy()
    for r in range(1, 16):
        m = mask & (res >= r)
        if not m.any():
            break
        shift = _I64(3 * (15 - r))
        d = (out >> shift) & _I64(7)
        nd = cw[d]
        out = np.where(m, (out & ~(_I64(7) << shift)) | (nd << shift), out)
    return out


def _substrate_to_cell_np(odd, si, sj, sk):
    """Return odd (Class III) rows from the aperture-7r substrate to
    the cell grid via up_ap7r (exact integer lround); even rows pass
    through."""
    ia = si - sk
    ja = sj - sk
    ui = _lround_div7(2 * ia + ja)
    uj = _lround_div7(3 * ja - ia)
    ui, uj, uk = _ijk_normalize_np(ui, uj, np.zeros_like(ui))
    return (
        np.where(odd, ui, si),
        np.where(odd, uj, sj),
        np.where(odd, uk, sk),
    )


def _adjust_overage_cii_core(face, si, sj, sk, eff_res, eligible, pl4=None):
    """One pass of index.adjust_overage_class_ii (substrate=False) in
    ALREADY-substrate coordinates, vectorized: rows in ``eligible``
    whose coords overflow their face translate onto the neighbor
    face's grid; ``pl4`` rows crossing the ki edge first rotate about
    the pentagonal corner to skip the deleted-K subsequence
    (index.py:243-254). Returns (face, i, j, k, adjusted_mask)."""
    T = _decode_tables()
    maxd = T["max_dim"][eff_res]
    over = ((si + sj + sk) > maxd) & eligible
    if not over.any():
        return face, si, sj, sk, over
    # direction chosen from the PRE-rotation coords (scalar order)
    dir_idx = np.where(sk > 0, np.where(sj > 0, 2, 1), 0)
    if pl4 is not None:
        cr = over & pl4 & (sk > 0) & (sj <= 0)
        if cr.any():
            ti, tj, tk = _ijk_rotate60_cw_np(si - maxd, sj, sk)
            si = np.where(cr, ti + maxd, si)
            sj = np.where(cr, tj, sj)
            sk = np.where(cr, tk, sk)
    nf = T["fn_face"][face, dir_idx]
    rot = T["fn_rot"][face, dir_idx]
    ti = T["fn_trans"][face, dir_idx, 0]
    tj = T["fn_trans"][face, dir_idx, 1]
    tk = T["fn_trans"][face, dir_idx, 2]
    oi, oj, ok_ = si.copy(), sj.copy(), sk.copy()
    for step in range(5):
        rm = over & (rot > step)
        if not rm.any():
            break
        ri, rj, rk = _ijk_rotate60_ccw_np(oi, oj, ok_)
        oi = np.where(rm, ri, oi)
        oj = np.where(rm, rj, oj)
        ok_ = np.where(rm, rk, ok_)
    scale = T["unit_scale"][eff_res]
    oi, oj, ok_ = _ijk_normalize_np(
        oi + ti * scale, oj + tj * scale, ok_ + tk * scale
    )
    face = np.where(over, nf, face)
    si = np.where(over, oi, si)
    sj = np.where(over, oj, sj)
    sk = np.where(over, ok_, sk)
    return face, si, sj, sk, over


def decode_face_ijk_np(cells: np.ndarray):
    """Vectorized h3_to_face_ijk for ALL cells, pentagon base cells
    included: leading-5 rows rotate the whole index cw first
    (index.py:290-291), the digit walk runs from the home (face, ijk),
    and overage adjusts on the Class II substrate — one pass for
    hexagon bases, looped to fixpoint for pentagon bases with the
    deleted-K corner rotation on leading-4 rows (index.py:303-316).
    Returns (face, i, j, k, fallback); fallback marks only rows still
    overflowing after the bounded adjustment loop (never observed —
    callers route them to their scalar rescue paths). Integer math
    only — bit-exact vs index.h3_to_face_ijk."""
    T = _decode_tables()
    c = np.asarray(cells, dtype=_I64)
    n = c.shape[0]
    res = ((c >> _I64(52)) & _I64(15)).astype(_I64)
    bc = ((c >> _I64(45)) & _I64(127)).astype(_I64)
    pentb = T["is_pent"][np.clip(bc, 0, 121)]
    if pentb.any():
        # the leading digit only matters for pentagon-base rows —
        # skip the 15-pass digit scan for the ~98.6% all-hexagon case
        lead = _leading_nonzero_digit_np(c, res)
        rot5 = pentb & (lead == 5)
        if rot5.any():
            c = _rotate60_cw_index_np(c, res, rot5)
            lead = np.where(rot5, _luts()["rot_pow"][5][lead], lead)
    else:
        lead = np.zeros(n, dtype=_I64)
    face = T["home_face"][bc].copy()
    i = T["home_i"][bc].copy()
    j = T["home_j"][bc].copy()
    k = T["home_k"][bc].copy()
    # scalar rule (_h3_to_face_ijk_with_initialized): overage is
    # impossible for a non-pentagon when res==0 or the home coord is
    # the face center; pentagon bases can always overflow
    possible = pentb | ~((res == 0) | ((i | j | k) == 0))
    for r in range(1, 16):
        m = res >= r
        if not m.any():
            break
        if r % 2 == 1:  # down_ap7
            ni, nj, nk = 3 * i + j, 3 * j + k, i + 3 * k
        else:  # down_ap7r
            ni, nj, nk = 3 * i + k, i + 3 * j, j + 3 * k
        ni, nj, nk = _ijk_normalize_np(ni, nj, nk)
        d = (c >> _I64(3 * (15 - r))) & _I64(7)
        ni = ni + T["unit_i"][d]
        nj = nj + T["unit_j"][d]
        nk = nk + T["unit_k"][d]
        ni, nj, nk = _ijk_normalize_np(ni, nj, nk)
        i = np.where(m, ni, i)
        j = np.where(m, nj, j)
        k = np.where(m, nk, k)
    # ---- overage: substrate-ify odd rows, adjust, un-substrate ----
    odd = (res % 2) == 1
    eff_res = res + odd.astype(_I64)
    si = np.where(odd, 3 * i + k, i)
    sj = np.where(odd, i + 3 * j, j)
    sk = np.where(odd, j + 3 * k, k)
    si, sj, sk = _ijk_normalize_np(si, sj, sk)
    pl4 = pentb & (lead == 4)
    face, si, sj, sk, adj = _adjust_overage_cii_core(
        face, si, sj, sk, eff_res, possible, pl4=pl4
    )
    adjusted = adj.copy()
    # pentagon bases loop to fixpoint (index.py:308-314); hexagons
    # never re-overflow after one adjustment
    for _ in range(4):
        face, si, sj, sk, adj = _adjust_overage_cii_core(
            face, si, sj, sk, eff_res, adjusted & pentb
        )
        if not adj.any():
            break
        adjusted |= adj
    # safety net for the bounded loop: any row STILL overflowing after
    # 5 total passes is flagged for the callers' scalar rescue paths
    # instead of returning silently-wrong coords. Empirically the
    # scalar loop never needs more than 3 passes (instrumented over
    # exhaustive pentagon-descendant + deep random batteries), so this
    # mask is expected to stay all-False.
    fallback = adjusted & (
        (si + sj + sk) > T["max_dim"][eff_res]
    )
    if adjusted.any():
        fi, fj, fk = _substrate_to_cell_np(odd, si, sj, sk)
        i = np.where(adjusted, fi, i)
        j = np.where(adjusted, fj, j)
        k = np.where(adjusted, fk, k)
    return face, i, j, k, fallback


def _adjust_overage_np(face, i, j, k, res, eligible=None):
    """Vectorized ``index.adjust_overage_class_ii`` for hexagon frames
    (pent_leading_4 rows must be excluded via ``eligible``): translate
    (face, ijk, res) positions that overflow their face onto the
    neighboring face's grid. Odd (Class III) resolutions adjust on the
    aperture-7r Class II substrate, exactly like ``h3_to_face_ijk``
    (index.py:300-317). Returns (face, i, j, k, still_over) where
    ``still_over`` marks rows that overflow even after one adjustment
    (corner/double overage — callers must route those to the scalar
    kernel; the non-pentagon decode never produces them)."""
    T = _decode_tables()
    res = np.asarray(res, dtype=_I64)
    if res.ndim == 0:
        res = np.broadcast_to(res, face.shape)
    odd = (res % 2) == 1
    eff_res = res + odd.astype(_I64)
    # Class III rows work on the aperture-7r substrate
    si = np.where(odd, 3 * i + k, i)
    sj = np.where(odd, i + 3 * j, j)
    sk = np.where(odd, j + 3 * k, k)
    si, sj, sk = _ijk_normalize_np(si, sj, sk)
    elig = (
        eligible
        if eligible is not None
        else np.ones(face.shape, dtype=bool)
    )
    # single-pass class II adjustment — shared core with the decode's
    # fixpoint loop
    face, si, sj, sk, over = _adjust_overage_cii_core(
        face, si, sj, sk, eff_res, elig
    )
    still_over = over & ((si + sj + sk) > T["max_dim"][eff_res])
    if over.any():
        fi, fj, fk = _substrate_to_cell_np(odd, si, sj, sk)
        i = np.where(over, fi, i)
        j = np.where(over, fj, j)
        k = np.where(over, fk, k)
    return face, i, j, k, still_over


def cell_to_latlng_np(cells: np.ndarray):
    """Vectorized cell -> (lat_rad, lng_rad). Valid cells only; the
    decode handles pentagon bases in-batch, and the (never-observed)
    decode-fallback rows are rescued scalar below."""
    from h3ron_spark.h3core.constants import (
        EPSILON,
        M_2PI,
        M_AP7_ROT_RADS,
        M_SQRT3_2,
        M_SQRT7,
        RES0_U_GNOMONIC,
    )

    T = _decode_tables()
    c = np.asarray(cells, dtype=_I64)
    res = ((c >> _I64(52)) & _I64(15)).astype(_I64)
    face, i, j, k, fb = decode_face_ijk_np(c)
    ia = (i - k).astype(np.float64)
    ja = (j - k).astype(np.float64)
    x = ia - 0.5 * ja
    y = ja * M_SQRT3_2
    r = np.hypot(x, y)
    theta = np.arctan2(y, x)
    r = r / np.power(M_SQRT7, res.astype(np.float64))
    r = r * RES0_U_GNOMONIC
    r = np.arctan(r)
    odd = (res % 2) == 1
    theta = np.where(odd, np.mod(theta + M_AP7_ROT_RADS, M_2PI), theta)
    theta = np.mod(T["face_az"][face] - np.mod(theta, M_2PI), M_2PI)
    # geo_az_distance from the face center
    flat = T["face_lat"][face]
    flng = T["face_lng"][face]
    sin_lat = np.clip(
        np.sin(flat) * np.cos(r)
        + np.cos(flat) * np.sin(r) * np.cos(theta),
        -1.0,
        1.0,
    )
    lat2 = np.arcsin(sin_lat)
    yy = np.sin(theta) * np.sin(r) * np.cos(flat)
    xx = np.cos(r) - np.sin(flat) * sin_lat
    lng2 = flng + np.arctan2(yy, xx)
    lng2 = np.mod(lng2 + math.pi, M_2PI) - math.pi
    small = r < EPSILON
    lat = np.where(small, flat, lat2)
    lng = np.where(small, flng, lng2)
    if fb.any():
        dec = ix.cell_to_latlng
        for t in np.nonzero(fb)[0]:
            a, b = dec(int(c[t]))
            lat[t] = a
            lng[t] = b
    return lat, lng


def _hex2d_to_geo_np(face, x, y, res, substrate):
    """Vectorized coords.hex2d_to_geo; ``res`` may be an int array."""
    from h3ron_spark.h3core.constants import (
        EPSILON,
        M_2PI,
        M_AP7_ROT_RADS,
        M_SQRT7,
        RES0_U_GNOMONIC,
    )

    T = _decode_tables()
    r = np.hypot(x, y)
    theta = np.arctan2(y, x)
    r = r / np.power(M_SQRT7, res.astype(np.float64))
    odd = (res % 2) == 1
    if substrate:
        r = r / 3.0
        r = np.where(odd, r / M_SQRT7, r)
    r = np.arctan(r * RES0_U_GNOMONIC)
    if not substrate:
        theta = np.where(odd, np.mod(theta + M_AP7_ROT_RADS, M_2PI), theta)
    theta = np.mod(T["face_az"][face] - np.mod(theta, M_2PI), M_2PI)
    flat = T["face_lat"][face]
    flng = T["face_lng"][face]
    sin_lat = np.clip(
        np.sin(flat) * np.cos(r) + np.cos(flat) * np.sin(r) * np.cos(theta),
        -1.0,
        1.0,
    )
    lat2 = np.arcsin(sin_lat)
    yy = np.sin(theta) * np.sin(r) * np.cos(flat)
    xx = np.cos(r) - np.sin(flat) * sin_lat
    lng2 = flng + np.arctan2(yy, xx)
    lng2 = np.mod(lng2 + math.pi, M_2PI) - math.pi
    small = r < EPSILON
    return np.where(small, flat, lat2), np.where(small, flng, lng2)


# substrate vertex offsets (Class II / Class III), libh3 faceijk.c
_VERTS_CII = ((2, 1, 0), (1, 2, 0), (0, 2, 1), (0, 1, 2), (1, 0, 2), (2, 0, 1))
_VERTS_CIII = ((5, 4, 0), (1, 5, 0), (0, 5, 4), (0, 1, 5), (4, 0, 5), (5, 0, 1))


def cell_to_boundary_np(cells: np.ndarray):
    """Vectorized S3: (lat_deg[n,6], lng_deg[n,6], fallback). Hexagon
    cells produce exactly 6 vertices (this kernel's documented
    divergence: no Class III 7-vertex split points — same contract as
    the scalar kernel); pentagon-base rows are flagged for the scalar
    path (5 vertices + dedup)."""
    T = _decode_tables()
    c = np.asarray(cells, dtype=_I64)
    n = c.shape[0]
    res = ((c >> _I64(52)) & _I64(15)).astype(_I64)
    face, i, j, k, _fb = decode_face_ijk_np(c)
    # actual pentagon CELLS keep the scalar 5-vertex path (deleted-K
    # vertex set); pentagon-base hexagons go through the generic
    # vertex kernel like libh3's hexagon boundary does. Any decode-
    # fallback row (never observed) is rescued scalar too.
    fb = _is_pentagon_np(c, res) | _fb
    odd = (res % 2) == 1
    # aperture-3x3r substrate: down_ap3 then down_ap3r (+ap7r if odd)
    i, j, k = _ijk_normalize_np(2 * i + j, 2 * j + k, i + 2 * k)
    i, j, k = _ijk_normalize_np(2 * i + k, i + 2 * j, j + 2 * k)
    oi, oj, ok_ = _ijk_normalize_np(3 * i + k, i + 3 * j, j + 3 * k)
    i = np.where(odd, oi, i)
    j = np.where(odd, oj, j)
    k = np.where(odd, ok_, k)
    adj_res = res + odd.astype(_I64)
    maxd = T["max_dim"][adj_res] * 3
    scale = T["unit_scale"][adj_res] * 3
    lat_out = np.empty((n, 6), dtype=np.float64)
    lng_out = np.empty((n, 6), dtype=np.float64)
    vci = np.array(_VERTS_CII, dtype=_I64)
    vc3 = np.array(_VERTS_CIII, dtype=_I64)
    for v in range(6):
        vi = i + np.where(odd, vc3[v, 0], vci[v, 0])
        vj = j + np.where(odd, vc3[v, 1], vci[v, 1])
        vk = k + np.where(odd, vc3[v, 2], vci[v, 2])
        vi, vj, vk = _ijk_normalize_np(vi, vj, vk)
        vface = face.copy()
        # substrate overage: NEW_FACE can chain at icosa corners;
        # bounded masked passes (libh3's loop terminates in <= a few)
        for _ in range(4):
            over = (vi + vj + vk) > maxd
            if not over.any():
                break
            dir_idx = np.where(vk > 0, np.where(vj > 0, 2, 1), 0)
            nf = T["fn_face"][vface, dir_idx]
            rot = T["fn_rot"][vface, dir_idx]
            ti = T["fn_trans"][vface, dir_idx, 0]
            tj = T["fn_trans"][vface, dir_idx, 1]
            tk = T["fn_trans"][vface, dir_idx, 2]
            ri, rj, rk = vi.copy(), vj.copy(), vk.copy()
            for step in range(5):
                rm = over & (rot > step)
                if not rm.any():
                    break
                qi, qj, qk = _ijk_rotate60_ccw_np(ri, rj, rk)
                ri = np.where(rm, qi, ri)
                rj = np.where(rm, qj, rj)
                rk = np.where(rm, qk, rk)
            ri, rj, rk = _ijk_normalize_np(
                ri + ti * scale, rj + tj * scale, rk + tk * scale
            )
            vface = np.where(over, nf, vface)
            vi = np.where(over, ri, vi)
            vj = np.where(over, rj, vj)
            vk = np.where(over, rk, vk)
        # same safety net as the decode's bounded loop: a vertex still
        # overflowing after the pass budget (never observed) must take
        # the scalar path, not return silently-wrong coordinates
        fb = fb | ((vi + vj + vk) > maxd)
        from h3ron_spark.h3core.constants import M_SQRT3_2

        ia = (vi - vk).astype(np.float64)
        ja = (vj - vk).astype(np.float64)
        x = ia - 0.5 * ja
        y = ja * M_SQRT3_2
        la, ln = _hex2d_to_geo_np(vface, x, y, adj_res, substrate=True)
        lat_out[:, v] = la
        lng_out[:, v] = ln
    r2d = 180.0 / math.pi
    return lat_out * r2d, lng_out * r2d, fb


def cell_to_boundary_batch(cells):
    """Batch S3 over distinct cells: list of [(lat,lng)...] per row
    (degrees), None for invalid; pentagons via the scalar kernel."""
    from h3ron_spark.h3core import cells as cells_mod

    cells = np.asarray(cells, dtype=_I64)
    uniq, inv = np.unique(cells, return_inverse=True)
    valid = is_valid_cell_np(uniq)
    out: list = [None] * len(uniq)
    if valid.any():
        vidx = np.nonzero(valid)[0]
        la, ln, fb = cell_to_boundary_np(uniq[vidx])
        for t, g in enumerate(vidx):
            if fb[t]:
                out[g] = cells_mod.cell_to_boundary(int(uniq[g]))
            else:
                out[g] = list(zip(la[t].tolist(), ln[t].tolist()))
    return [out[t] for t in inv]


def cell_to_latlng_batch(cells):
    """Batch cell -> (lat_deg, lng_deg): numpy decode (canonical path)
    over the distinct cells (decode inputs repeat heavily after
    groupBys), NaN for invalid."""
    cells = np.asarray(cells, dtype=_I64)
    uniq, inv = np.unique(cells, return_inverse=True)
    la = np.full(len(uniq), np.nan)
    ln = np.full(len(uniq), np.nan)
    valid = is_valid_cell_np(uniq)
    if valid.any():
        lat_r, lng_r = cell_to_latlng_np(uniq[valid])
        r2d = 180.0 / math.pi
        la[valid] = lat_r * r2d
        ln[valid] = lng_r * r2d
    return la[inv], ln[inv]


# ----------------------------------------------- hierarchy batch kernels

_PENT_BASES_NP = np.array(PENTAGON_BASE_CELLS, dtype=_I64)
_RES_MASK = _I64(15 << 52)
_LOW45 = _I64((1 << 45) - 1)
_COMBO_CACHE: dict = {}
# rows x 7^k children matrices are materialized per chunk; bound the
# footprint so a huge res span can't allocate GBs at once
_CHILD_CHUNK_CELLS = 1 << 25


def _child_combos(k: int) -> np.ndarray:
    """All 7^k child digit paths below a non-pentagon cell, packed as
    base-8 (3 bits per level, first descended digit most significant).
    Ascending order == the scalar recursion's enumeration order
    (cells.cell_to_children)."""
    got = _COMBO_CACHE.get(k)
    if got is None:
        n = 7**k
        idx = np.arange(n, dtype=_I64)
        out = np.zeros(n, dtype=_I64)
        for level in range(k):  # level 0 = first descended digit
            stride = _I64(7 ** (k - 1 - level))
            out |= ((idx // stride) % 7) << _I64(3 * (k - 1 - level))
        _COMBO_CACHE[k] = got = out
    return got


def _is_pentagon_np(cells: np.ndarray, res: np.ndarray) -> np.ndarray:
    """Pentagon cells: pentagon base + the all-zero center-digit chain
    (trailing digits past res are the 7-sentinel)."""
    trailing = (_I64(1) << (3 * (15 - res)).astype(_I64)) - _I64(1)
    return np.isin((cells >> _I64(45)) & _I64(127), _PENT_BASES_NP) & (
        (cells & _LOW45) == trailing
    )


def cell_to_children_batch(
    cells: np.ndarray, target_res: int
) -> tuple[np.ndarray, np.ndarray]:
    """Batch S7: flattened children of every cell at ``target_res``
    plus per-input counts (scalar parity: cells.cell_to_children,
    h3ron/src/cell.rs:115-130 semantics). Input order and the per-cell
    enumeration order match the scalar kernel exactly. Cells finer
    than the target (or with out-of-range res) contribute 0 children.
    Pentagon subtrees (deleted K-subsequence) route through the scalar
    kernel; everything else is pure int64 bit math."""
    from h3ron_spark.h3core import cells as cells_mod

    cells = np.asarray(cells, dtype=_I64)
    n = cells.shape[0]
    res = ((cells >> _I64(52)) & _I64(15)).astype(_I64)
    k = _I64(target_res) - res
    ok = (k >= 0) & (res >= 0) & (target_res <= 15)
    pent = ok & _is_pentagon_np(cells, res) & (k > 0)
    fast = ok & ~pent

    counts = np.zeros(n, dtype=_I64)
    counts[fast] = np.power(_I64(7), k[fast])
    pent_rows = np.nonzero(pent)[0]
    pent_children = [
        cells_mod.cell_to_children(int(cells[i]), target_res) for i in pent_rows
    ]
    counts[pent_rows] = [len(ch) for ch in pent_children]

    offsets = np.zeros(n + 1, dtype=_I64)
    np.cumsum(counts, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=_I64)

    shift = _I64(3 * (15 - target_res))
    for kv in np.unique(k[fast]) if n else ():
        rows = np.nonzero(fast & (k == kv))[0]
        kv = int(kv)
        width = 7**kv
        base = (cells[rows] & ~_RES_MASK) | _I64(target_res << 52)
        if kv > 0:
            base = base & ~_I64(((1 << (3 * kv)) - 1) << (3 * (15 - target_res)))
            combos = _child_combos(kv) << shift
        step = max(1, _CHILD_CHUNK_CELLS // width)
        for s in range(0, len(rows), step):
            r = rows[s : s + step]
            b = base[s : s + step]
            kids = b[:, None] | combos[None, :] if kv > 0 else b[:, None]
            pos = offsets[r][:, None] + np.arange(width, dtype=_I64)[None, :]
            out[pos] = kids
    for i, ch in zip(pent_rows, pent_children):
        out[int(offsets[i]) : int(offsets[i]) + len(ch)] = ch
    return out, counts


def compact_cells_np(cells: np.ndarray) -> np.ndarray:
    """Batch D3: minimal covering set through the resolution hierarchy
    (scalar parity: cells.compact_cells, h3ron/src/lib.rs:62-76 /
    CompactedCellVec semantics; output sorted ascending = the scalar
    kernel's sorted() contract). Pure int64 bit math: per resolution,
    parents whose full sibling set (6 for pentagons) is present
    swallow their children."""
    cells = np.unique(np.asarray(cells, dtype=_I64))
    if cells.size == 0:
        return cells
    # Non-canonical int64s (wrong mode / set reserved bits) break the
    # res-major sort order the bucketing below relies on; the scalar
    # set-based compact passes such garbage through untouched, so do
    # the same: compact the valid subset, re-merge the rest sorted.
    valid = is_valid_cell_np(cells)
    if not valid.all():
        passthrough = cells[~valid]
        compacted = compact_cells_np(cells[valid])
        return np.sort(np.concatenate([compacted, passthrough]))
    # int64 order groups by the res field (bits 52-55 sit above base
    # cell + digits), so the sorted array splits into contiguous
    # per-res runs — bucket ONCE and never re-sort the full set. For
    # same-res sorted cells the parent map (digit->7, res-1) is
    # monotone, so sibling counting is a run-length pass, and new
    # parents merge into the (small) next-coarser bucket only.
    res = (cells >> _I64(52)) & _I64(15)
    bounds = np.searchsorted(res, np.arange(17, dtype=_I64))
    by_res: list[np.ndarray] = [
        cells[bounds[r] : bounds[r + 1]] for r in range(16)
    ]
    for r in range(15, 0, -1):
        cur = by_res[r]
        if cur.size == 0:
            continue
        shift = _I64(3 * (15 - r))
        parents = ((cur | (_I64(7) << shift)) & ~_RES_MASK) | _I64((r - 1) << 52)
        newrun = np.empty(parents.size, dtype=bool)
        newrun[0] = True
        np.not_equal(parents[1:], parents[:-1], out=newrun[1:])
        run_ids = np.cumsum(newrun) - 1
        counts = np.bincount(run_ids)
        uniq = parents[newrun]
        need = np.where(
            _is_pentagon_np(uniq, np.full(uniq.shape, r - 1, dtype=_I64)),
            _I64(6),
            _I64(7),
        )
        collapse = counts == need
        if not collapse.any():
            continue
        by_res[r] = cur[~collapse[run_ids]]
        newp = uniq[collapse]
        by_res[r - 1] = (
            np.unique(np.concatenate([by_res[r - 1], newp]))
            if by_res[r - 1].size
            else newp
        )
    # per-res blocks are each sorted; res-ascending concatenation is
    # the scalar kernel's global ascending order
    return np.concatenate(by_res)


def is_valid_cell_np(cells: np.ndarray) -> np.ndarray:
    """Batch S5 validity (scalar parity: index.is_valid_cell): cell
    mode, zero reserved bits, known base, digits 0..6 up to res with
    the 7-sentinel past it, pentagon deleted-K leading-digit rule."""
    c = np.asarray(cells, dtype=_I64)
    res = (c >> _I64(52)) & _I64(15)
    base = (c >> _I64(45)) & _I64(127)
    ok = (
        (c > 0)
        & (((c >> _I64(59)) & _I64(15)) == 1)
        & (((c >> _I64(56)) & _I64(7)) == 0)
        & (base < 122)
    )
    pent = np.isin(base, _PENT_BASES_NP)
    lead_zero = np.ones(c.shape, dtype=bool)
    for d in range(1, 16):
        dig = (c >> _I64(3 * (15 - d))) & _I64(7)
        in_range = d <= res
        ok &= np.where(in_range, dig != 7, dig == 7)
        ok &= ~(pent & in_range & lead_zero & (dig == 1))
        lead_zero &= dig == 0
    return ok


def cell_to_parent_np(cells: np.ndarray, parent_res: np.ndarray) -> np.ndarray:
    """Batch S6 (scalar parity: cells.cell_to_parent): digits past the
    parent res become the 7-sentinel. Caller guarantees
    parent_res <= res(cell)."""
    c = np.asarray(cells, dtype=_I64)
    res = (c >> _I64(52)) & _I64(15)
    pr = np.asarray(parent_res, dtype=_I64)
    span = (res - pr).astype(_I64)
    mask = ((_I64(1) << (3 * span)) - _I64(1)) << (3 * (15 - res)).astype(_I64)
    return ((c | mask) & ~_RES_MASK) | (pr << _I64(52))


# ------------------------------------------------- traversal batch kernel

_DISK_OFF_CACHE: dict = {}


def _disk_offset_arrays(k: int):
    from h3ron_spark.h3core import cells as CM

    got = _DISK_OFF_CACHE.get(k)
    if got is None:
        items = CM._disk_offsets(k)
        offs = np.array([o for o, _ in items], dtype=_I64)
        dist = np.array([d for _, d in items], dtype=_I64)
        _DISK_OFF_CACHE[k] = got = (offs, dist)
    return got


def _disk_encode_group(
    rows, rv, fi, fj, fk, faces, offs, od, m, k_min, fallback, counts,
    groups,
):
    """Encode one cache-sized chunk of same-res disk rows: offset
    expansion, vectorized overage translation, batch ijk->h3 encode,
    dedup/pentagon bail-out marking, and per-row (cell, k) column
    ordering. Mutates ``fallback``/``counts`` and appends to
    ``groups`` (see grid_disk_distances_batch)."""
    # int32 lattice arithmetic: the raw coordinates are bounded by
    # ~4 * max_dim[16] ~ 4.6e7, but the compound expressions inside
    # the /7 lattice steps (2*(3*j - i) on substrate coords via
    # _substrate_to_cell_np -> _lround_div7) reach ~1.4e9 worst case —
    # only ~1.5x inside int32, so any growth in k_max or substrate
    # scaling must re-run this bound. Halving the element width halves
    # the memory traffic of the ~300 array passes in the encode walk.
    i32 = np.int32
    big_i = (fi[rows][:, None] + offs[:, 0][None, :]).ravel().astype(i32)
    big_j = (fj[rows][:, None] + offs[:, 1][None, :]).ravel().astype(i32)
    big_k = (fk[rows][:, None] + offs[:, 2][None, :]).ravel().astype(i32)
    ii, jj, kk = _norm3(big_i, big_j, big_k)
    bigf = np.repeat(faces[rows], m).astype(i32)
    # face-crossing offsets translate onto the neighbor face's
    # grid (vectorized adjust_overage_class_ii) instead of
    # falling the whole row back to the scalar BFS; only double
    # (corner) overage, pentagon hits, and duplicates still bail
    bigf, ii, jj, kk, still = _adjust_overage_np(
        bigf, ii, jj, kk, int(rv)
    )
    h, fb, padj = _ijk_to_h3(bigf, ii, jj, kk, int(rv))
    # wedge-glued positions and actual pentagon outputs distort
    # offset distances — those rows take the exact scalar BFS
    fb |= still | padj
    fb |= _is_pentagon_np(h, np.full(h.shape, int(rv), dtype=_I64))
    H = h.reshape(-1, m)
    bad = fb.reshape(-1, m).any(axis=1)
    hs = np.sort(H, axis=1)
    bad |= (hs[:, 1:] == hs[:, :-1]).any(axis=1)
    good = ~bad
    fallback[rows[bad]] = True
    grows = rows[good]
    if grows.size == 0:
        return
    G = H[good]
    idx1 = np.argsort(G, axis=1, kind="stable")
    G = np.take_along_axis(G, idx1, axis=1)
    D = np.take_along_axis(
        np.broadcast_to(od, G.shape), idx1, axis=1
    )
    idx2 = np.argsort(D, axis=1, kind="stable")
    G = np.take_along_axis(G, idx2, axis=1)
    D = np.take_along_axis(D, idx2, axis=1)
    kcols = np.nonzero(D[0] >= k_min)[0]
    counts[grows] = kcols.size
    groups.append((grows, G[:, kcols], D[:, kcols]))


def grid_disk_distances_batch(
    cells: np.ndarray, k_max: int, k_min: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch S10/S11/S12 (scalar parity: cells.grid_disk_distances):
    per input cell, all cells with grid distance in [k_min, k_max]
    sorted by (distance, cell). Returns (flat cells, flat distances,
    per-row counts); invalid inputs yield 0 entries.

    Fast path: one scalar face decompose per origin (~9us), then ONE
    vectorized ``_ijk_to_h3`` evaluation over origin x offset —
    replacing the per-offset scalar grid math (~28us each).
    Face-crossing offsets are translated onto the neighbor face's
    grid in-batch via the vectorized overage tables (the icosahedron
    unfolding across a shared edge is a lattice isometry, so offset
    distances are preserved; ref grid_disk.rs:16-103 relies on the
    same property). Only rows whose disk double-crosses at a face
    corner, lands on a pentagon, hits a duplicate, or starts on a
    pentagon fall back to the exact scalar BFS — matching libh3's
    gridDiskUnsafe bail conditions."""
    from h3ron_spark.h3core import cells as CM
    from h3ron_spark.h3core import index as ixm

    cells_np = np.asarray(cells, dtype=_I64)
    n = cells_np.size
    counts = np.zeros(n, dtype=_I64)
    if n == 0 or k_max < 0:
        return np.empty(0, _I64), np.empty(0, _I64), counts
    offs, od = _disk_offset_arrays(k_max)
    m = od.size
    res = (cells_np >> _I64(52)) & _I64(15)
    valid = is_valid_cell_np(cells_np)
    pent = _is_pentagon_np(cells_np, res)
    fallback = valid & pent

    faces = np.zeros(n, dtype=_I64)
    fi = np.zeros(n, dtype=_I64)
    fj = np.zeros(n, dtype=_I64)
    fk = np.zeros(n, dtype=_I64)
    decomp_rows = np.nonzero(valid & ~pent)[0]
    if decomp_rows.size:
        df, di_, dj_, dk_, dfb = decode_face_ijk_np(cells_np[decomp_rows])
        faces[decomp_rows] = df
        fi[decomp_rows] = di_
        fj[decomp_rows] = dj_
        fk[decomp_rows] = dk_
        # scalar rescue for decode-fallback rows (the bounded overage
        # loop's never-observed safety net — pentagon-base hexagons
        # themselves decode in-batch now)
        h3_to_face_ijk = ixm.h3_to_face_ijk
        for t in decomp_rows[dfb]:
            f, (a, b, c) = h3_to_face_ijk(int(cells_np[t]))
            faces[t] = f
            fi[t] = a
            fj[t] = b
            fk[t] = c

    groups: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    # chunk each res group so the m-wide expansion's temporaries stay
    # cache-resident: beyond ~10^6 elements the encode's memory-bound
    # array passes fall off L2/L3 and per-element cost TRIPLES
    # (measured 20k rows x 37 offsets: 150us/row vs 460us/row at 200k)
    chunk_rows = max(1, 250_000 // m)
    for rv in np.unique(res[decomp_rows]) if decomp_rows.size else ():
        res_rows = decomp_rows[res[decomp_rows] == rv]
        for s in range(0, res_rows.size, chunk_rows):
            rows = res_rows[s : s + chunk_rows]
            _disk_encode_group(
                rows, rv, fi, fj, fk, faces, offs, od, m, k_min,
                fallback, counts, groups,
            )

    fb_rows = np.nonzero(fallback)[0]
    # straight to the BFS: these rows were flagged precisely because
    # the offset fast path can't represent them, so retrying
    # _grid_disk_fast per row would just fail again
    fb_items = [
        CM.grid_disk_bfs(int(cells_np[t]), k_max, k_min)
        for t in fb_rows
    ]
    counts[fb_rows] = [len(items) for items in fb_items]

    offsets = np.zeros(n + 1, dtype=_I64)
    np.cumsum(counts, out=offsets[1:])
    out_c = np.empty(int(offsets[-1]), dtype=_I64)
    out_d = np.empty(int(offsets[-1]), dtype=_I64)
    for grows, G, D in groups:
        pos = offsets[grows][:, None] + np.arange(G.shape[1], dtype=_I64)
        out_c[pos] = G
        out_d[pos] = D
    for t, items in zip(fb_rows, fb_items):
        s = int(offsets[t])
        out_c[s : s + len(items)] = [c for c, _ in items]
        out_d[s : s + len(items)] = [d for _, d in items]
    return out_c, out_d, counts


def cube_round_np(fi: np.ndarray, fj: np.ndarray):
    """Vectorized cells._cube_round: round fractional local-axial
    (i, j) to the nearest hex in cube space (x=i, z=-j, y=j-i)."""
    x = fi
    z = -fj
    y = -x - z
    rx = np.round(x)
    ry = np.round(y)
    rz = np.round(z)
    dx = np.abs(rx - x)
    dy = np.abs(ry - y)
    dz = np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    fix_z = ~fix_x & ~fix_y
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(_I64), (-rz).astype(_I64)
