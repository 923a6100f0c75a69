"""qtcore — pure NumPy quadtree cell algebra (no Spark imports).

Reimplements the semantics of the reference's cell math
(/root/reference/quadtree/quadtree.go, /root/reference/quadtree/bbox.go)
as vectorized NumPy so it can run inside Arrow-batched pandas UDFs.
"""

from .quadtree import (  # noqa: F401
    MAX_LON,
    MAX_LAT,
    MIN_LON,
    MIN_LAT,
    NULL_QT,
    to_int,
    to_float,
    merc,
    un_merc,
    calculate_cells,
    cells_to_strings,
    strings_to_cells,
    cells_to_tuples,
    tuples_to_cells,
    round_cells,
    common_cells,
    common_reduce,
    cell_bounds,
    cover_cells,
    point_cells_closed_form,
)
from .bbox import (  # noqa: F401
    point_in_poly,
)
