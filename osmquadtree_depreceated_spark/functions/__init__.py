from .cells import (  # noqa: F401
    cell_round,
    cell_string,
    common_agg,
    bbox_intersects,
    contains_xy,
)
from .udfs import (  # noqa: F401
    cell_of_bbox_udf,
    point_in_poly_udf,
    cell_bounds_udf,
)
