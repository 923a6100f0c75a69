"""DuckDB oracle for the buffered quadtree descent, fully unrolled.

The reference's Calculate (quadtree.go:44-113) is a recursion over at most
`max_level` levels.  For the driver's side-by-side correctness gate we unroll
it into a chain of CTE levels, each computing the quadrant choice (the exact
ordered elif-chain of findQuad, quadtree.go:62-86), accumulating the digit
and depth, and rescaling the working coordinates.  Floating-point op order
matches qtcore.calculate_cells, so DuckDB / NumPy / the scalar port agree
bit-for-bit.

This module emits DuckDB SQL only — the engine side evaluates the same
algorithm through the Arrow-vectorized pandas UDF (functions/udfs.py).
"""

from __future__ import annotations


def _find_quad_case(bf: float) -> str:
    """CASE expression mirroring findQuad's ordered branches on working
    coords (mx,my,hx,hy)."""
    b = f"cast('{bf!r}' as double)"
    lo = f"cast('{(-1.0 - bf)!r}' as double)"
    hi = f"cast('{(1.0 + bf)!r}' as double)"
    nb = f"cast('{(-bf)!r}' as double)"
    return f"""case
      when mx < {lo} or my < {lo} or hx > {hi} or hy > {hi} then -1
      when hx <= 0e0 and my >= 0e0 then 0
      when mx >= 0e0 and my >= 0e0 then 1
      when hx <= 0e0 and hy <= 0e0 then 2
      when mx >= 0e0 and hy <= 0e0 then 3
      when (hx < {b} and abs(hx) < abs(mx)) and (my > {nb} and abs(hy) >= abs(my)) then 0
      when (mx > {nb} and abs(hx) >= abs(mx)) and (my > {nb} and abs(hy) >= abs(my)) then 1
      when (hx < {b} and abs(hx) < abs(mx)) and (hy < {b} and abs(hy) < abs(my)) then 2
      when (mx > {nb} and abs(hx) >= abs(mx)) and (hy < {b} and abs(hy) < abs(my)) then 3
      else -1 end"""


def calculate_cte_fragments(source_sql: str, key_cols: str,
                            buffer: float = 0.05, max_level: int = 18,
                            out_name: str = "cell", prefix: str = "l") -> str:
    """CTE fragment chain (no leading WITH) computing the buffered cell per
    row of `source_sql` (which must yield `key_cols` + int64 minx/miny/maxx/
    maxy).  The last CTE is named `{prefix}_cells` selecting key_cols +
    `{out_name}`.  Compose: `with {other_ctes}, {fragments} select ...`."""
    lines = [f"{prefix}0 as (\n  select {key_cols},"]
    lines.append(
        """    (minx * 1e-7 > maxx * 1e-7
      or miny * 1e-7 > maxy * 1e-7) as invalid,
    false as done,
    cast(0 as bigint) as res,
    (minx * 1e-7) / 180e0 as mx,
    (case when maxx * 1e-7 = minx * 1e-7
          then maxx * 1e-7 + 1e-7 else maxx * 1e-7 end) / 180e0 as hx,
    (ln(tan(pi() * (1e0 + (miny * 1e-7) / 90e0) / 4e0)) * 90e0 / pi()) / 90e0 as my,
    (ln(tan(pi() * (1e0 + (case when maxy * 1e-7 = miny * 1e-7
           then maxy * 1e-7 + 1e-7 else maxy * 1e-7 end) / 90e0) / 4e0))
       * 90e0 / pi()) / 90e0 as hy
  from (%s)
)""" % source_sql
    )
    q = _find_quad_case(buffer)
    for cl in range(max_level):
        shift = 61 - 2 * cl
        lines.append(
            f""", {prefix}{cl + 1} as (
  select {key_cols}, invalid,
    done or q < 0 as done,
    case when not done and q >= 0
         then res + (cast(q as bigint) << {shift}) + 1 else res end as res,
    (mx + xs) * 2e0 as mx, (hx + xs) * 2e0 as hx,
    (my + ys) * 2e0 as my, (hy + ys) * 2e0 as hy
  from (
    select *,
      case when q = 0 or q = 2 then 0.5e0 else -0.5e0 end as xs,
      case when q = 2 or q = 3 then 0.5e0 else -0.5e0 end as ys
    from (select *, {q} as q from {prefix}{cl})
  )
)"""
        )
    lines.append(
        f""", {prefix}_cells as (
  select {key_cols}, case when invalid then -1 else res end as {out_name}
  from {prefix}{max_level}
)"""
    )
    return "\n".join(lines)
