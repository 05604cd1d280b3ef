"""Pure-numpy geo kernel: cells, PIP, Albers, WKB, hull, geoparse.

Everything here is deterministic (pure functions of inputs, no wall-clock,
no RNG) because the correctness gate pins byte-identical outputs per url
across reruns and partition counts (BASELINE.json input_hint).
"""

from socialmapper_spark.geo.cells import (  # noqa: F401
    cell_bounds,
    cell_center,
    cell_col,
    cell_np,
    cell_size_deg,
    cell_to_parent,
    cell_to_parent_col,
    decode_cell,
    grid_disk,
)
from socialmapper_spark.geo.albers import albers5070_forward  # noqa: F401
from socialmapper_spark.geo.pip import points_in_polygon, points_in_ring  # noqa: F401
from socialmapper_spark.geo.wkb import (  # noqa: F401
    polygon_to_wkb,
    wkb_to_rings,
)
from socialmapper_spark.geo.hull import convex_hull  # noqa: F401
from socialmapper_spark.geo.geoparse import (  # noqa: F401
    GAZETTEER,
    geoparse_cols,
    geoparse_py,
)
