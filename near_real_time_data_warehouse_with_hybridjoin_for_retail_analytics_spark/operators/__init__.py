"""Beyond-reference operators for large-scale training-data pipelines.

Not present in the reference system, but first-class components of a
100 TB deployment of this engine: deduplication (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding cosine), approximate similarity
search, text analysis, and multimodal-column plumbing.

Importing this package registers the operators' graded queries.
"""

from . import (  # noqa: F401
    clusters,
    curation,
    dedup,
    funnels,
    layout,
    multimodal,
    sampling,
    similarity,
    sketches,
    textops,
    timeseries,
)
from ..streaming import (  # noqa: F401  (registers etl_* stream twins)
    dedup_stream,
    interval_join,
    sessions,
    windows,
)


def reset_session_caches() -> None:
    """Drop every per-session operator cache (persisted shingles/edges/
    candidate pairs, component labels). Used by the bench harness
    between measurement passes so each pass rebuilds state exactly as a
    fresh session would — min-of-N stays a measurement, not a cache
    readout. (The trained ANN index — coarse quantizer + PQ codebook —
    is session-cached since round 8; clearing it here means each bench
    pass pays the deterministic training once, in the first consumer
    that runs, exactly as a fresh session would.)"""
    for df in dedup._DF_CACHE.values():
        df.unpersist()
    dedup._DF_CACHE.clear()
    for df in clusters._EDGE_CACHE.values():
        df.unpersist()
    clusters._EDGE_CACHE.clear()
    clusters._COMPONENT_CACHE.clear()
    similarity._N_CACHE.clear()
    similarity._CENT_CACHE.clear()
    similarity._PQ_CB_CACHE.clear()
    similarity._PCA_CACHE.clear()
    textops._BPE_CACHE.clear()
