"""Ring algebra for geometry construction — pure Python/NumPy, no Spark.

These functions run PER RELATION GROUP inside applyInPandas (grouped-map):
each group holds the handful of member-way rings of one relation, so the
per-group Python cost is bounded and the distribution axis is the relation
id.  Semantics ported from the reference:

  * join/merge open ways into closed rings by endpoint refs, 4 orientation
    cases, recursive on the remainder   (makegeometries.go:335-429)
  * ring validity: >=3 points and first ref == last ref (:354-362)
  * assign inner rings to containing outers via segment-intersection test
    then pnpoly on the first vertex     (:431-470, zorder.go:201-238)
  * polygon area: drop repeated points, rings <4 points rejected, outer
    minus inners, orientation fixed     (zorder.go:133-199)

A ring is a list of (ref, lon, lat) tuples (fixed-point int coords).
"""

from __future__ import annotations

import math

from .quadtree import merc as _merc_arr

EARTH_HALF_CIRCUM = 20037508.3428


def _merc_xy_arrays(lons, lats):
    """Full-scale mercator XY for a ring's coordinate arrays.  Uses numpy's
    transcendentals (not math.*) so the scalar ring path is bit-identical
    to the vectorized kernel (numpy's SIMD tan/log differ from C libm by
    ~1 ulp on ~25% of inputs — measured; the op ORDER here mirrors the
    reference exactly, zorder.go:168-176)."""
    import numpy as np

    lons = np.asarray(lons, dtype=np.int64)
    lats = np.asarray(lats, dtype=np.int64)
    x = lons * 0.0000001 * EARTH_HALF_CIRCUM / 180.0
    y = (
        np.log(np.tan(np.pi * (1.0 + lats * 0.0000001 / 90.0) / 4.0))
        * 90.0
        / np.pi
        * EARTH_HALF_CIRCUM
        / 90.0
    )
    return x, y


def check_ring(ring) -> bool:
    if len(ring) < 3:
        return False
    return ring[0][0] == ring[-1][0]


def _join_exact(a, rev_a, b, rev_b):
    # literal port: ans has len(a)+len(b)-1 slots; A fills [0, len(a)),
    # B fills [len(a)-1, ...) — B's first written slot overwrites A's last.
    n = len(a) + len(b) - 1
    ans = [None] * n
    for i, p in enumerate(a):
        j = (len(a) - 1 - i) if rev_a else i
        ans[j] = p
    for i, p in enumerate(b):
        j = (len(b) + len(a) - 2 - i) if rev_b else (len(a) - 1 + i)
        ans[j] = p
    return ans


def merge_rings(rings):
    """Join open ways into closed rings (merge_rings,
    makegeometries.go:364-429): already-closed rings pass through; one open
    chain grows by endpoint-matching; unmatched ways recurse."""
    if not rings:
        return []
    if len(rings) == 1:
        return list(rings)
    r0 = None
    a = b = None
    rem, fin = [], []
    added = False
    for r in rings:
        if r[0][0] == r[-1][0]:
            fin.append(r)
        elif r0 is None:
            r0 = list(r)
            a, b = r0[0][0], r0[-1][0]
        elif r[0][0] == a:
            r0 = _join_exact(r0, True, r, False)
            a, b = r0[0][0], r0[-1][0]
            added = True
        elif r[0][0] == b:
            r0 = _join_exact(r0, False, r, False)
            a, b = r0[0][0], r0[-1][0]
            added = True
        elif r[-1][0] == a:
            r0 = _join_exact(r0, True, r, True)
            a, b = r0[0][0], r0[-1][0]
            added = True
        elif r[-1][0] == b:
            r0 = _join_exact(r0, False, r, True)
            a, b = r0[0][0], r0[-1][0]
            added = True
        else:
            rem.append(r)
    if r0 is not None:
        if a == b or not added:
            fin.append(r0)
        else:
            rem.append(r0)
    if rem:
        fin.extend(merge_rings(rem))
    return fin


def _lines_intersect(p0, p1, p2, p3) -> bool:
    # zorder.go:225-238 (float segment intersection; division by zero for
    # parallel segments yields inf/nan -> False, as in the reference)
    s1x = float(p1[1] - p0[1])
    s1y = float(p1[2] - p0[2])
    s2x = float(p3[1] - p2[1])
    s2y = float(p3[2] - p2[2])
    qx = float(p0[1] - p2[1])
    qy = float(p0[2] - p2[2])
    den = -s2x * s1y + s1x * s2y
    if den == 0:
        return False
    s = (-s1y * qx + s1x * qy) / den
    t = (s2x * qy - s2y * qx) / den
    return 0 <= s <= 1 and 0 <= t <= 1


def _rings_intersect(lhs, rhs) -> bool:
    for i in range(len(lhs) - 1):
        for j in range(len(rhs) - 1):
            if _lines_intersect(lhs[i], lhs[i + 1], rhs[j], rhs[j + 1]):
                return True
    return False


def _pnpoly(ring, lon: int, lat: int) -> bool:
    j = len(ring) - 1
    c = False
    for i in range(len(ring)):
        if (ring[i][2] > lat) != (ring[j][2] > lat):
            tp = float(ring[j][1] - ring[i][1]) * float(lat - ring[i][2]) / float(
                ring[j][2] - ring[i][2]
            ) + float(ring[i][1])
            if float(lon) < tp:
                c = not c
        j = i
    return c


def ring_contains(outer, inner) -> bool:
    # zorder.go:201-223: containment iff no segment intersection and the
    # inner's first vertex is inside
    if _rings_intersect(outer, inner):
        return False
    return _pnpoly(outer, inner[0][1], inner[0][2])


def group_rings(outers, inners, allow_loose: bool = True):
    """Assign inner rings to containing outers (makegeometries.go:431-470).
    allow_loose drops orphan inners instead of failing."""
    if len(outers) == 1:
        return [[outers[0]] + list(inners)]
    if not inners:
        return [[o] for o in outers]
    ans = [[o] for o in outers]
    for inner in inners:
        added = False
        for grp in ans:
            if ring_contains(grp[0], inner):
                grp.append(inner)
                added = True
                # reference `continue`s the inner loop: an inner can attach
                # to MULTIPLE outers (continue, not break)
        if not added and not allow_loose:
            raise ValueError("inner ring not contained by any outer")
    return ans


def drop_repeats(ring):
    if not ring:
        return ring
    out = [ring[0]]
    for p in ring[1:]:
        if p[1] != out[-1][1] or p[2] != out[-1][2]:
            out.append(p)
    return out


def ring_area_merc(ring):
    """Signed-magnitude ring area over full-scale mercator XY with the
    reference's triangle form (zorder.go:178-199): returns (area, is_ccw)."""
    n = len(ring)
    if n < 3:
        return 0.0, False
    xs, ys = _merc_xy_arrays([p[1] for p in ring], [p[2] for p in ring])
    ss = 0.0
    for i in range(1, n):
        if i == n - 1:
            ss += xs[0] * (ys[1] - ys[i - 1])
        else:
            ss += xs[i] * (ys[i + 1] - ys[i - 1])
    return abs(ss) / 2.0, ss > 0


def polygon_area(poly):
    """Outer-minus-inners area with orientation fixing and repeat-dropping
    (zorder.go:148-166).  Mutates ring order like the reference (outer CCW,
    inners CW).  Raises on rings that collapse below 4 points."""
    total = 0.0
    for i in range(len(poly)):
        sign = 1.0 if i == 0 else -1.0
        poly[i] = drop_repeats(poly[i])
        if len(poly[i]) < 4:
            raise ValueError("Not enough points in ring")
        area, is_ccw = ring_area_merc(poly[i])
        if is_ccw != (i != 0):
            poly[i] = list(reversed(poly[i]))
        total += area * sign
    return total


def ring_areas_vectorized(lons_seq, lats_seq):
    """Vectorized single-ring mercator areas over a batch of ragged rings —
    the Arrow-kernel replacement for calling polygon_area([ring]) per row.

    Bit-identical to the scalar path per ring: same drop-repeats rule, the
    same merc transform operation order as _merc_xy, the same triangle-form
    terms (zorder.go:178-199), and a SEQUENTIAL left-fold accumulation per
    ring (vectorized ACROSS rings, position-by-position along them, adding
    exact-identity 0.0 past each ring's end) — numpy's pairwise np.sum
    would round differently.  Rings that collapse below 4 points after
    repeat-dropping yield 0.0 (the ValueError path of polygon_area).

    lons_seq / lats_seq: sequences of per-ring int coordinate arrays.
    Returns float64 areas array.
    """
    import numpy as np

    n = len(lons_seq)
    out = np.zeros(n)
    if n == 0:
        return out
    lens = np.fromiter((len(x) for x in lons_seq), dtype=np.int64, count=n)
    nonempty = lens > 0
    if not nonempty.any():
        return out
    flat_lon = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x, m in zip(lons_seq, nonempty)
         if m]
    )
    flat_lat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x, m in zip(lats_seq, nonempty)
         if m]
    )
    ne_lens = lens[nonempty]
    starts = np.concatenate([[0], np.cumsum(ne_lens)[:-1]])

    # drop consecutive coordinate repeats (drop_repeats): raw-predecessor
    # equality == last-kept equality by induction (dropped points equal the
    # last kept one)
    total = int(ne_lens.sum())
    prev_same = np.zeros(total, dtype=bool)
    prev_same[1:] = (flat_lon[1:] == flat_lon[:-1]) & (
        flat_lat[1:] == flat_lat[:-1]
    )
    prev_same[starts] = False
    keep = ~prev_same
    new_lens = np.add.reduceat(keep.astype(np.int64), starts)

    fx, fy = _merc_xy_arrays(flat_lon[keep], flat_lat[keep])

    starts2 = np.concatenate([[0], np.cumsum(new_lens)[:-1]])
    valid = new_lens >= 4
    if not valid.any():
        return out
    vs = starts2[valid]
    vl = new_lens[valid]
    ktotal = int(new_lens.sum())

    # flat general terms: T[i] = x[i] * (y[i+1] - y[i-1]); ring-boundary
    # positions get overwritten (first term unused, last term special-cased)
    T = np.zeros(ktotal)
    if ktotal >= 3:
        T[1:-1] = fx[1:-1] * (fy[2:] - fy[:-2])
    # wrap term at each valid ring's last position:
    # x[0] * (y[1] - y[m-2])
    T[vs + vl - 1] = fx[vs] * (fy[vs + 1] - fy[vs + vl - 2])

    # sequential per-ring accumulation, vectorized across rings
    acc = np.zeros(len(vs))
    maxm = int(vl.max())
    for j in range(1, maxm):
        live = j <= vl - 1
        idx = np.minimum(vs + j, ktotal - 1)
        acc = acc + np.where(live, T[idx], 0.0)

    areas_valid = np.abs(acc) / 2.0
    res_ne = np.zeros(len(ne_lens))
    res_ne[valid] = areas_valid
    out[nonempty] = res_ne
    return out


# highway ranking for z-order (zorder.go:20-46)
HIGHWAY_ORDER = {
    "service": 1, "footway": 1, "path": 1, "footpath": 1, "cycleway": 1,
    "bridlepath": 1, "living_street": 2, "pedestrian": 2, "residential": 3,
    "unclassified": 3, "road": 3, "tertiary_link": 4, "tertiary": 4,
    "secondary_link": 6, "secondary": 6, "primary_link": 7, "primary": 7,
    "trunk_link": 8, "trunk": 8, "motorway_link": 9, "motorway": 9,
}


def _is_false(v: str) -> bool:
    return v.lower() in ("0", "no", "false")


def find_zorder(tags: dict) -> int:
    """Tag-driven z-order (find_zorder, zorder.go:60-119) — exact port,
    order-independent by construction: highway rank applies only when > 1
    and MAXes into zo, railway MAXes 5, layer values ACCUMULATE into l,
    bridge/tunnel are +/-1 on l unless explicitly false (!is_false), an
    explicit z_order tag replaces zo (unparseable -> the reference returns
    an error and callers fall back to 0), and l*10 is added LAST — i.e.
    after the override too."""
    zo = 0
    l = 0
    has_zo = None
    for k, v in tags.items():
        if k == "z_order":
            has_zo = v
        if k == "highway":
            z = HIGHWAY_ORDER.get(v, 0)
            if z > 1 and z > zo:
                zo = z
        elif k == "railway":
            if zo < 5:
                zo = 5
        elif k == "layer":
            try:
                l += int(v)
            except ValueError:
                pass
        elif k == "bridge":
            if not _is_false(v):
                l += 1
        elif k == "tunnel":
            if not _is_false(v):
                l -= 1
    if has_zo is not None and has_zo != "":
        try:
            zo = int(has_zo)
        except ValueError:
            return 0
    return zo + l * 10
