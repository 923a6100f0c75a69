from .calcqts import (  # noqa: F401
    way_bboxes,
    way_cells,
    node_cells,
    relation_cells,
)
from .spatial_join import (  # noqa: F401
    bbox_join,
    knn_join,
    raster_vector_join,
)
