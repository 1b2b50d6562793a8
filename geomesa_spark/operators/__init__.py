"""Operator surface (see COVERAGE.md for the reference mapping)."""

from .dedup import (  # noqa: F401
    connected_components,
    dup_span_stats,
    exact_dedup,
    hamming_neardup_pairs,
    minhash_lsh_pairs,
    simhash64,
    simhash_pairs,
    winnow_overlap_pairs,
)
from .density import cell_density, density, tile_pyramid  # noqa: F401
from .geometry_join import (  # noqa: F401
    geometry_join,
    geometry_join_tables,
    geometry_join_time,
)
from .hull import convex_hull, convex_hull_vertices  # noqa: F401
from .knn import knn_join, knn_join_table  # noqa: F401
from .proximity import lookup_join, proximity_join  # noqa: F401
from .media import audio_features, video_frame_sample  # noqa: F401
from .raster import resize_images, tile_assignments, tile_density  # noqa: F401
from .asof import asof_join  # noqa: F401
from .retrieval import bm25_topk  # noqa: F401
from .sampling import sample_fraction, sample_nth, sample_stratified  # noqa: F401
from .sessions import (  # noqa: F401
    cohort_retention,
    funnel,
    funnel_counts,
    session_stats,
    sessionize,
    transition_counts,
)
from .spatial_join import prepare_polygons, spatial_join  # noqa: F401
from .stats import quantiles_by, run_stats  # noqa: F401
from .tracks import point2point, route_search, track_label, tube_select  # noqa: F401
from .similarity import (  # noqa: F401
    brute_force_topk,
    embedding_neardup_pairs,
    ivf_topk,
    lsh_topk,
    pq_encode,
    pq_topk,
    build_pq_index,
    pq_topk_indexed,
    train_pq_codebooks,
)
