from socialmapper_spark.operators.spatial_join import (  # noqa: F401
    PolygonIndex,
    add_cells,
    spatial_join,
)
from socialmapper_spark.operators.knn import knn_join  # noqa: F401
from socialmapper_spark.operators.events import (  # noqa: F401
    sessionize,
    window_rollup,
    window_rollup_stream,
)
from socialmapper_spark.operators.stats import (  # noqa: F401
    cluster_metrics,
    geoid_prefix_groups,
    isochrone_area,
    null_rate_stats,
    quantile_bins,
)
from socialmapper_spark.operators.census import (  # noqa: F401
    demographic_summary,
    dedup_units,
    pivot_census,
)
from socialmapper_spark.operators.raster import (  # noqa: F401
    rasterize_counts,
    tile_arrays,
    vectorize_threshold,
)
from socialmapper_spark.operators.skew import salted_count_by_key  # noqa: F401
from socialmapper_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_ann_topk,
    lsh_ann_topk,
)
from socialmapper_spark.operators.dedup import (  # noqa: F401
    jaccard_verify,
    near_dup_pairs_minhash,
    simhash_docs,
)
from socialmapper_spark.operators.multimodal import (  # noqa: F401
    binary_metadata,
    frame_sample,
)
from socialmapper_spark.operators.temporal import (  # noqa: F401
    asof_join,
    interval_join,
)
