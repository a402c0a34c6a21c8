"""S2-style spherical cell index.

Implements the public S2 geometry scheme from the published design
(six cube faces -> quadratic (u,v)->(s,t) projection -> leaf (i,j) at
level 30 -> space-filling-curve position; 64-bit id = 3 face bits +
2*level position bits + trailing 1, parents via low-bit clearing).
The curve here is a per-face Hilbert ordering (classic xy2d rules,
vectorized): it preserves S2's locality and hierarchy properties.
Exact numeric parity with Google's library ids is NOT claimed (the s2
library is unavailable in this container to calibrate orientation
tables).

``with_s2_cell`` is the engine's encoder: JVM Column math rendered as
one SQL string, no Python worker. ``s2_cell_id_np`` is the same
encode in batched numpy, the independent answer the tests and the
benchmark check it against.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30


def _lonlat_to_xyz(lon: np.ndarray, lat: np.ndarray):
    phi = np.radians(lat)
    theta = np.radians(lon)
    cos_phi = np.cos(phi)
    return cos_phi * np.cos(theta), cos_phi * np.sin(theta), np.sin(phi)


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    )
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f in range(6):
        m = face == f
        if not m.any():
            continue
        if f == 0:
            u[m], v[m] = y[m] / x[m], z[m] / x[m]
        elif f == 1:
            u[m], v[m] = -x[m] / y[m], z[m] / y[m]
        elif f == 2:
            u[m], v[m] = -x[m] / z[m], -y[m] / z[m]
        elif f == 3:
            u[m], v[m] = z[m] / x[m], y[m] / x[m]
        elif f == 4:
            u[m], v[m] = z[m] / y[m], -x[m] / y[m]
        else:
            u[m], v[m] = -y[m] / z[m], -x[m] / z[m]
    return face.astype(np.int64), u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2's quadratic projection (area-uniformizing)."""
    with np.errstate(invalid="ignore"):  # np.where evaluates both branches
        return np.where(
            u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
        )


def _st_to_ij(s: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    return np.clip((s * n).astype(np.int64), 0, n - 1)


def _hilbert_d(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """Vectorized Hilbert xy2d at the given level (classic rotation
    rules, applied top-down)."""
    d = np.zeros_like(i)
    x = i.copy()
    y = j.copy()
    s = np.int64(1) << (level - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: when ry==0, flip if rx==1, then swap x/y
        flip = (ry == 0) & (rx == 1)
        x = np.where(flip, s - 1 - x, x)
        y = np.where(flip, s - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


def s2_cell_id_np(lon: np.ndarray, lat: np.ndarray, level: int = MAX_LEVEL) -> np.ndarray:
    """Cell ids at the given level, S2 bit layout:
    face(3 bits) | curve position (2*level bits) | 1."""
    x, y, z = _lonlat_to_xyz(lon, lat)
    face, u, v = _xyz_to_face_uv(x, y, z)
    s = _uv_to_st(u)
    t = _uv_to_st(v)
    i = _st_to_ij(s, level)
    j = _st_to_ij(t, level)
    pos = _hilbert_d(i, j, level)
    shift = 2 * (MAX_LEVEL - level) + 1
    base = (face.astype(np.uint64) << np.uint64(61)) | (
        pos.astype(np.uint64) << np.uint64(shift)
    )
    cell = base | np.uint64(1 << (shift - 1))
    return cell.astype(np.int64)


def s2_parent_np(cell: np.ndarray, level: int) -> np.ndarray:
    """Parent id at a coarser level (clear low bits, set sentinel)."""
    cell_u = cell.astype(np.uint64)
    new_lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((cell_u & ~(new_lsb - np.uint64(1))) | new_lsb).astype(np.int64)


def with_s2_cell(df, level: int = 12):
    """Append (or replace in place) the ``cell_s2`` column: the S2
    cell id of the ``lon``/``lat`` columns at ``level``, as pure JVM
    Column math — zero Python, zero Arrow transport; the whole encode
    stays inside one WholeStageCodegen span next to the rest of the
    plan.

    Bit-for-bit the same ids as ``s2_cell_id_np`` (parity pinned in
    tests/test_geo.py on a deterministic global sweep): same cube-face
    selection, quadratic (u,v)->(s,t), truncating ij quantization, and
    the same per-face Hilbert curve — xy2d expressed as the 4-state
    lookup machine, ``level`` materialized 3-column steps. The state
    index column is referenced twice by each step, which is exactly
    the case Catalyst's CollapseProject declines to inline, so the
    plan stays a layered project chain — linear expression growth —
    small enough for the fused span to stay under codegen's
    method-size limits. It scales like any other codegen map stage;
    an Arrow kernel would pay a per-batch transport floor that does not
    parallelize in local mode (the r4 ``s2_cells`` 0.728 scaling leg).
    """
    import math

    # Construction is ONE nested-SELECT SQL string (r6): the previous
    # per-level withColumn/Column-operator form cost ~250 py4j round
    # trips plus ~55 eager re-analyses of a growing plan — 0.48s of
    # DRIVER time per call, ~40% of the headline s2_cells leg. The
    # whole layered chain now builds as a Python string and crosses
    # py4j ONCE via spark.sql(..., df=df) (double literals carry the D
    # suffix so they stay DoubleType, never decimal); layer structure,
    # the optimized/codegen plan shape and emitted bits are unchanged
    # (numpy parity pinned in tests/test_geo.py, tile_cell_ids oracle
    # green, plan diff: identical Project layering).

    _TEMPS = (
        "_s2x", "_s2y", "_s2z", "_s2f", "_s2i", "_s2j", "_s2d",
        "_s2s", "_s2k",
    )
    clash = set(_TEMPS) & set(df.columns)
    if clash:
        # the old withColumn form silently REPLACED (and then dropped)
        # such input columns — an explicit error is the honest contract
        raise ValueError(
            f"with_s2_cell: input columns {sorted(clash)} collide "
            "with the encoder's internal _s2* temporaries; rename them"
        )

    # radians via explicit multiply (numpy's deg2rad is a constant
    # multiply; JVM Math.toRadians divides first — different last-ulp)
    d2r = repr(math.pi / 180.0) + "D"
    base_cols = [f"`{c}`" for c in df.columns]

    q = ["{df}"]  # innermost FROM: the input DataFrame, substituted by spark.sql

    # pure string builder, called for its effect on q[0] — every layer
    # (including the last) appends one SELECT wrapper; the single
    # spark.sql call at the end materializes the chain
    def layer(keep, *exprs):
        q[0] = (
            f"SELECT {', '.join(list(keep) + list(exprs))} FROM "
            + (q[0] if q[0] == "{df}" else f"({q[0]})")
        )

    ln, lt = "`lon`", "`lat`"
    layer(
        base_cols,
        f"cos({lt} * {d2r}) * cos({ln} * {d2r}) AS _s2x",
        f"cos({lt} * {d2r}) * sin({ln} * {d2r}) AS _s2y",
        f"sin({lt} * {d2r}) AS _s2z",
    )
    face = (
        "CAST(CASE WHEN (abs(_s2x) >= abs(_s2y)) AND (abs(_s2x) >= abs(_s2z)) "
        "THEN (CASE WHEN _s2x >= 0 THEN 0 ELSE 3 END) "
        "ELSE (CASE WHEN abs(_s2y) >= abs(_s2z) "
        "THEN (CASE WHEN _s2y >= 0 THEN 1 ELSE 4 END) "
        "ELSE (CASE WHEN _s2z >= 0 THEN 2 ELSE 5 END) END) END AS BIGINT)"
    )
    layer(base_cols + ["_s2x", "_s2y", "_s2z"], f"{face} AS _s2f")

    u = (
        "CASE WHEN _s2f = 0 THEN _s2y / _s2x WHEN _s2f = 1 THEN -_s2x / _s2y "
        "WHEN _s2f = 2 THEN -_s2x / _s2z WHEN _s2f = 3 THEN _s2z / _s2x "
        "WHEN _s2f = 4 THEN _s2z / _s2y ELSE -_s2y / _s2z END"
    )
    v = (
        "CASE WHEN _s2f = 0 THEN _s2z / _s2x WHEN _s2f = 1 THEN _s2z / _s2y "
        "WHEN _s2f = 2 THEN -_s2y / _s2z WHEN _s2f = 3 THEN _s2y / _s2x "
        "WHEN _s2f = 4 THEN -_s2x / _s2y ELSE -_s2x / _s2z END"
    )

    def st(c):
        return (
            f"CASE WHEN ({c}) >= 0 THEN 0.5D * sqrt(1.0D + 3.0D * ({c})) "
            f"ELSE 1.0D - 0.5D * sqrt(1.0D - 3.0D * ({c})) END"
        )

    n = 1 << level

    def ij(c):
        return (
            f"least(greatest(CAST(({c}) * {float(n)!r}D AS BIGINT), "
            f"CAST(0 AS BIGINT)), CAST({n - 1} AS BIGINT))"
        )

    layer(
        base_cols + ["_s2x", "_s2y", "_s2z", "_s2f"],
        f"{ij(st(u))} AS _s2i", f"{ij(st(v))} AS _s2j",
    )

    # Hilbert xy2d as the 4-STATE LOOKUP machine, MSB-first: per level
    # THREE narrow integer expressions (quadrant index, curve digit,
    # next state) against two packed 32-bit constant tables — instead
    # of the classic flip/swap rotation, whose ~7 CASE-bearing columns
    # per level blew the fused span past codegen's method-size limit
    # and dropped the whole chain to interpreted Projects (measured
    # ~3x the Arrow kernel's wall on the headline corpus). This form
    # generates a few shift/mask lines per level and stays compiled.
    # ``_s2k`` is a materialized column referenced twice (digit + next
    # state), which CollapseProject declines to inline, so the chain
    # stays layered with linear — not exponential — expression growth.
    # DT/NT pack the 4x4 digit / next-state tables 2 bits per entry;
    # bit parity with the rotate/flip ``_hilbert_d`` is pinned in
    # tests/test_geo.py.
    DT, NT = 0x1E369CB4, 0xB7CA5C21
    carry = base_cols + ["_s2x", "_s2y", "_s2z", "_s2f", "_s2i", "_s2j"]
    layer(carry, "CAST(0 AS BIGINT) AS _s2d", "CAST(0 AS BIGINT) AS _s2s")
    for b in range(level - 1, -1, -1):
        layer(
            carry + ["_s2d", "_s2s"],
            "CAST((shiftleft(_s2s, 3) + shiftleft(shiftright(_s2i, "
            f"{b}) & 1, 2) + shiftleft(shiftright(_s2j, {b}) & 1, 1)) "
            "AS INT) AS _s2k",
        )
        layer(
            carry + ["_s2k"],
            f"shiftleft(_s2d, 2) | (shiftright({DT}, _s2k) & 3) AS _s2d",
            f"CAST(shiftright({NT}, _s2k) & 3 AS BIGINT) AS _s2s",
        )

    shift = 2 * (MAX_LEVEL - level) + 1
    cell = (
        f"shiftleft(_s2f, 61) | shiftleft(_s2d, {shift}) | "
        f"{1 << (shift - 1)}L"
    )
    if "cell_s2" in df.columns:
        # mimic withColumn's replace-in-place: the new expression takes
        # the existing column's position instead of appending a
        # duplicate name (re-encoding at another level is legal)
        final = [
            f"{cell} AS `cell_s2`" if c == "cell_s2" else f"`{c}`"
            for c in df.columns
        ]
    else:
        final = base_cols + [f"{cell} AS `cell_s2`"]
    layer(final)
    return df.sparkSession.sql(q[0], df=df)

