"""Literal scalar semantics of the reference cell math — TEST ORACLE ONLY.

This module is a minimal, line-faithful transcription of the algorithms in
/root/reference/quadtree/quadtree.go and bbox.go so the vectorized NumPy
kernels in qtcore.quadtree can be property-tested against an independent
implementation.  It is never imported by engine code and is deliberately
slow (per-value Python).
"""

from __future__ import annotations

import math


def to_float(i: int) -> float:
    return i * 0.0000001


def to_int(f: float) -> int:
    if f < 0:
        return int(f * 10000000.0 - 0.5)
    return int(f * 10000000.0 + 0.5)


def merc(y: float) -> float:
    return math.log(math.tan(math.pi * (1.0 + y / 90.0) / 4.0)) * 90.0 / math.pi


def un_merc(d: float) -> float:
    return (math.atan(math.exp(d * math.pi / 90.0)) * 4.0 / math.pi - 1.0) * 90.0


def _find_quad(mx, my, Mx, My, bf):
    # quadtree.go:62-86 — ordered elif chain, buffered overhang branches
    if mx < (-1 - bf) or my < (-1 - bf) or Mx > (1 + bf) or My > (1 + bf):
        return -1
    if Mx <= 0 and my >= 0:
        return 0
    elif mx >= 0 and my >= 0:
        return 1
    elif Mx <= 0 and My <= 0:
        return 2
    elif mx >= 0 and My <= 0:
        return 3
    elif (Mx < bf and abs(Mx) < abs(mx)) and (my > -bf and abs(My) >= abs(my)):
        return 0
    elif (mx > -bf and abs(Mx) >= abs(mx)) and (my > -bf and abs(My) >= abs(my)):
        return 1
    elif (Mx < bf and abs(Mx) < abs(mx)) and (My < bf and abs(My) < abs(my)):
        return 2
    elif (mx > -bf and abs(Mx) >= abs(mx)) and (My < bf and abs(My) < abs(my)):
        return 3
    return -1


def _make_quadtree(mx, my, Mx, My, mxl, bf, cl):
    # quadtree.go:88-113 — recursive descent accumulating digit + depth
    if mxl == 0:
        return 0
    q = _find_quad(mx, my, Mx, My, bf)
    if q == -1:
        return 0
    if q == 0 or q == 2:
        mx += 0.5
        Mx += 0.5
    else:
        mx -= 0.5
        Mx -= 0.5
    if q == 2 or q == 3:
        my += 0.5
        My += 0.5
    else:
        my -= 0.5
        My -= 0.5
    return (q << (61 - 2 * cl)) + 1 + _make_quadtree(
        2 * mx, 2 * my, 2 * Mx, 2 * My, mxl - 1, bf, cl + 1
    )


def calculate(minx: int, miny: int, maxx: int, maxy: int,
              buffer: float = 0.05, max_level: int = 18) -> int:
    # quadtree.go:44-60, :246-251
    mx, my = to_float(minx), to_float(miny)
    Mx, My = to_float(maxx), to_float(maxy)
    if mx > Mx or my > My:
        return -1
    if Mx == mx:
        Mx += 0.0000001
    if My == my:
        My += 0.0000001
    mym = merc(my) / 90.0
    Mym = merc(My) / 90.0
    mxm = mx / 180.0
    Mxm = Mx / 180.0
    return _make_quadtree(mxm, mym, Mxm, Mym, max_level, buffer, 0)


def cell_string(qt: int) -> str:
    # quadtree.go:115-137
    if qt <= -1:
        return "NULL"
    l = qt & 31
    out = []
    for i in range(l):
        out.append("ABCD"[(qt >> (61 - 2 * i)) & 3])
    return "".join(out)


def cell_tuple(qt: int):
    # quadtree.go:181-203
    if qt == -1:
        return (-1, -1, -1)
    z = qt & 31
    x = y = 0
    for i in range(z):
        x <<= 1
        y <<= 1
        t = (qt >> (61 - 2 * i)) & 3
        if t & 1:
            x |= 1
        if t & 2:
            y |= 1
    return (x, y, z)


def round_cell(qt: int, level: int) -> int:
    # quadtree.go:206-213
    if (qt & 31) < level:
        return qt
    qt >>= 63 - 2 * level
    qt <<= 63 - 2 * level
    return qt + level


def common(qt: int, other: int) -> int:
    # quadtree.go:216-241
    if qt == -1:
        return other
    if other == -1:
        return qt
    if qt == other:
        return qt
    d = qt & 31
    if other & 31 < d:
        d = other & 31
    p = 0
    for i in range(d):
        q = round_cell(qt, i + 1)
        if q != round_cell(other, i + 1):
            return p
        p = q
    return p


def cell_bounds(qt: int, buffer: float):
    # quadtree.go:139-177
    mx, my, Mx, My = -180.0, -90.0, 180.0, 90.0
    l = qt & 31
    for i in range(l):
        v = (qt >> (61 - 2 * i)) & 3
        if v in (0, 2):
            Mx -= (Mx - mx) / 2
        else:
            mx += (Mx - mx) / 2
        if v in (2, 3):
            My -= (My - my) / 2
        else:
            my += (My - my) / 2
    my = un_merc(my)
    My = un_merc(My)
    if buffer > 0.0:
        xx = (Mx - mx) * buffer
        yy = (My - my) * buffer
        mx -= xx
        my -= yy
        Mx += xx
        My += yy
    return (to_int(mx), to_int(my), to_int(Mx), to_int(My))


def point_in_poly(lons, lats, testlon: int, testlat: int) -> bool:
    # bbox.go:158-194 (pnpoly crossing number, float interpolation)
    j = len(lons) - 1
    c = False
    for i in range(len(lons)):
        if (lats[i] > testlat) != (lats[j] > testlat):
            tp = float(lons[j] - lons[i]) * float(testlat - lats[i]) / float(
                lats[j] - lats[i]
            ) + float(lons[i])
            if float(testlon) < tp:
                c = not c
        j = i
    return c
