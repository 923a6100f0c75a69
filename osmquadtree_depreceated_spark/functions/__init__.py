from .cells import (  # noqa: F401
    cell_round,
    cell_string,
    common_agg,
)
from .udfs import (  # noqa: F401
    cell_of_bbox_udf,
)
