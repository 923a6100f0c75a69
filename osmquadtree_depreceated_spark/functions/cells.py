"""Native Spark Column builders for the cell algebra.

These are the engine's hot path: pure Catalyst expressions (generated by
oracle/sqlgen.py in the Spark dialect) that stay inside whole-stage codegen —
zero Python per row.  Exact buffered-bbox cell calculation, which is
inherently iterative, lives in functions/udfs.py as Arrow-vectorized pandas
UDFs instead.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..oracle import sqlgen
from ..oracle.sqlgen import SPARK


def _sql_of(col) -> str:
    """Render a Column (or name) as a SQL fragment for F.expr composition."""
    if isinstance(col, Column):
        # Column -> SQL text; for engine-internal composition we require the
        # caller to pass simple column names or SQL strings instead.
        raise TypeError(
            "pass column names or SQL fragments (strings), not Column objects"
        )
    return str(col)


def cell_round(cell, level: int) -> Column:
    """Parent cell at `level` (quadtree.go:206-213)."""
    return F.expr(sqlgen.cell_round_sql(SPARK, _sql_of(cell), level))


def cell_string(cell, max_depth: int = 18) -> Column:
    """Cell key -> 'ABCD…' (quadtree.go:115-137)."""
    return F.expr(sqlgen.cell_string_sql(SPARK, _sql_of(cell), max_depth))


def common_agg(cell) -> list:
    """Partial aggregates for the distributed Common-ancestor fold: three
    native aggregates over non-null cells, finished by `with_common_finish`
    in a subsequent projection.  Associative + commutative, so map-side
    partial aggregation applies (SURVEY.md §7.4)."""
    c = _sql_of(cell)
    valid = f"(case when ({c}) >= 0 then ({c}) end)"
    return [
        F.expr(f"min({valid} & -32)").alias("_common_min"),
        F.expr(f"max({valid} & -32)").alias("_common_max"),
        F.expr(f"min({valid} & 31)").alias("_common_mind"),
    ]


# ----------------------------------------------------------------------
# Stepped (chained-withColumn) builders — the HOT-PATH forms.
#
# Written as one expression, the Morton spread/compact steps reference
# their input twice each -> 2^5 copies of the base expression; codegen
# subexpression elimination does not reliably collapse them (measured ~6x
# slowdown on the rollup stage).  These builders materialize each step as
# an intermediate column, so every step is computed exactly once per row.
# CollapseProject keeps them separate because each intermediate is
# non-cheap and referenced more than once.  The single-expression SQL of
# the same functions lives in oracle/sqlgen.py for the DuckDB oracles.
# ----------------------------------------------------------------------

_SPREAD_STEPS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]
_COMPACT_STEPS = [
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0x00000000FFFFFFFF),
]


def with_point_cell(df, lon: str, lat: str, out: str = "cell",
                    level: int = 18):
    """Append a depth-`level` point-cell column via stepped native
    expressions (semantics of qtcore point_cells_closed_form).

    Mercator note: merc(lat) is computed with JVM ln/tan.  JVM Math and C
    libm agree to within 1 ulp; a 1-ulp difference can flip the depth-18
    floor ONLY for latitudes whose merc-y lies within ~2^-52 of a tile edge
    (measured zero occurrences on the gate fixtures; bounded divergence
    documented in COVERAGE.md)."""
    n = 1 << level
    t = f"__pc_{out}"
    df = df.withColumn(
        f"{t}_xt",
        F.expr(
            f"least(greatest(cast(floor((({lon}) * 1e-7 / 180e0 + 1e0)"
            f" / 2e0 * {n}e0) as bigint), 0), {n - 1})"
        ),
    ).withColumn(
        f"{t}_ys",
        F.expr(
            f"{n - 1} - least(greatest(cast(floor(((ln(tan(pi() * (1e0 + "
            f"({lat}) * 1e-7 / 90e0) / 4e0)) * 90e0 / pi() / 90e0) + 1e0)"
            f" / 2e0 * {n}e0) as bigint), 0), {n - 1})"
        ),
    )
    for src in ("xt", "ys"):
        cur = f"{t}_{src}"
        for shift, mask in _SPREAD_STEPS:
            nxt = f"{cur}s{shift}"
            df = df.withColumn(
                nxt,
                F.expr(f"(({cur}) | shiftleft({cur}, {shift})) & {mask}"),
            )
            cur = nxt
        df = df.withColumn(f"{t}_{src}_sp", F.col(cur))
    df = df.withColumn(
        out,
        F.expr(
            f"shiftleft(({t}_xt_sp | shiftleft({t}_ys_sp, 1)),"
            f" {63 - 2 * level}) | {level}"
        ),
    )
    return df.drop(*[c for c in df.columns if c.startswith(t)])


def with_cell_tuple(df, cell: str, prefix: str = "tile_"):
    """Append slippy `{prefix}x/y/z` columns for a cell column via stepped
    native expressions (quadtree.go:181-203; -1 cells give -1 x/y/z)."""
    t = f"__ct_{prefix}"
    df = df.withColumn(f"{t}path",
                       F.expr(f"shiftright({cell}, 5) & 288230376151711743"))
    for src, shift0 in (("fx", 0), ("fy", 1)):
        cur = f"{t}{src}"
        base = (f"({t}path) & 6148914691236517205" if shift0 == 0
                else f"shiftright({t}path, 1) & 6148914691236517205")
        df = df.withColumn(cur, F.expr(base))
        for shift, mask in _COMPACT_STEPS:
            nxt = f"{cur}c{shift}"
            df = df.withColumn(
                nxt,
                F.expr(f"(({cur}) | shiftright({cur}, {shift})) & {mask}"),
            )
            cur = nxt
        df = df.withColumn(f"{t}{src}_done", F.col(cur))
    df = (
        df.withColumn(f"{t}z", F.expr(f"({cell}) & 31"))
        .withColumn(
            f"{t}shift", F.expr(f"cast(29 - least({t}z, 29) as int)")
        )
        .withColumn(
            f"{prefix}x",
            F.expr(
                f"case when ({cell}) = -1 then -1 else "
                f"shiftright({t}fx_done, {t}shift) end"
            ),
        )
        .withColumn(
            f"{prefix}y",
            F.expr(
                f"case when ({cell}) = -1 then -1 else "
                f"shiftright({t}fy_done, {t}shift) end"
            ),
        )
        .withColumn(
            f"{prefix}z",
            F.expr(f"case when ({cell}) = -1 then -1 else {t}z end"),
        )
    )
    return df.drop(*[c for c in df.columns if c.startswith(t)])


def with_common_finish(df, out: str = "cell",
                       min_col: str = "_common_min",
                       max_col: str = "_common_max",
                       mind_col: str = "_common_mind"):
    """Append `out` = Common over the three `common_agg` partial-aggregate
    columns, then drop them.  NULL (no non-null input cells) propagates,
    mirroring Common's Null identity (quadtree.go:216-221)."""
    t = "__cf"
    df = df.withColumn(f"{t}x", F.expr(f"{min_col} ^ {max_col}"))
    cur = f"{t}x"
    for s in (1, 2, 4, 8, 16, 32):
        nxt = f"{cur}s{s}"
        df = df.withColumn(nxt, F.expr(f"({cur}) | shiftright({cur}, {s})"))
        cur = nxt
    df = (
        df.withColumn(
            f"{t}s",
            F.expr(
                f"least(case when {t}x > 0 then "
                f"shiftright(63 - bit_count({cur}), 1) else 31 end, "
                f"{mind_col})"
            ),
        )
        .withColumn(f"{t}shift", F.expr(f"cast(63 - 2 * {t}s as int)"))
        .withColumn(
            out,
            F.expr(
                f"shiftleft(shiftright({min_col}, {t}shift), {t}shift)"
                f" + {t}s"
            ),
        )
    )
    return df.drop(
        *[c for c in df.columns if c.startswith(t)], min_col, max_col,
        mind_col
    )
