"""Session-shared-artifact query groups: the bench-gating unit for
queries whose cost attribution shifts with suite order.

Several registry queries consume an artifact that is built once per
SparkSession through ``caching.shared_artifact(spark, sf_dir, name,
build)`` and reused by every later consumer (the r10 BASELINE.md
observation: "the GROUP total is the stable unit"). One group per
artifact name:

- ``winnow_fps``       — the persisted winnowing fingerprint table
- ``clusters``         — the connected-components cluster table
  (``dedup_clusters_build`` releases and rebuilds it, paying the cold
  cost by design)
- ``sim_edges``        — the thresholded MinHash similarity edge list
- ``kmeans_centroids`` — the trained k-means centroids (driver floats)
- ``pq_codebooks``     — the PQ codebooks trained on the full corpus
  (driver floats)
- ``pca``              — the fitted PCA mean and components (driver
  floats)
- ``ivf_index`` / ``pq_index`` — the ANN indexes saved under the
  session's scratch directory and reloaded
- ``edc_index``        — the saved decontam-corpus IVF index

A query belongs to a group when its function reaches the artifact's
``shared_artifact`` call, directly or through other module-level
functions (``decontam_agreement`` runs ``decontam_embedding``,
``similarity_pq_recall`` runs ``similarity_pq_adc_knn``).

Whichever group member runs FIRST in a session pays the one-time
build; every later member runs warm. A per-query ratio gate therefore
produces order-dependent false flags (the r10 ``dedup_source_matrix``
investigation) — ``tools/bench_compare.py`` gates ``sum(group)``
instead and reports members informationally.

``tests/test_registry.py`` re-derives this map from the registry
source with ``ast`` (a call-graph closure from each registered query
to the ``shared_artifact`` calls), so a new consumer or a renamed
query fails the suite here rather than silently escaping its group.
"""

from __future__ import annotations

#: group (= artifact name) -> sorted list of registered query names
#: sharing one session-scoped artifact. Keep sorted; the consistency
#: test compares against the source-derived map exactly.
SHARED_CACHE_GROUPS: dict[str, list[str]] = {
    "winnow_fps": [
        "dedup_source_matrix",
        "dedup_winnowing",
        "dedup_winnowing_incremental",
    ],
    "clusters": [
        "dedup_cluster_sizes",
        "dedup_clusters_build",
        "dedup_clusters_cc",
        "dedup_soft_weights",
        "pipeline_best_of_cluster",
        "pipeline_data_card",
        "split_leakage_safe",
    ],
    "sim_edges": [
        "graph_pagerank_weighted",
        "graph_triangles",
    ],
    "kmeans_centroids": [
        "cluster_kmeans",
        "cluster_kmeans_profile",
        "cluster_semantic_dedup",
        "clustering_tree_assign",
        "pipeline_semantic_prep",
    ],
    "pq_codebooks": [
        "similarity_pq_adc_knn",
        "similarity_pq_codes",
        "similarity_pq_recall",
    ],
    "pca": [
        "embedding_pca_projection",
        "embedding_pca_variance",
    ],
    "ivf_index": [
        "similarity_index_drift",
        "similarity_ivf_ingest_assign",
        "similarity_ivf_probe_incremental",
        "similarity_ivf_probe_recall",
    ],
    "pq_index": [
        "similarity_pq_ingest_codes",
        "similarity_pq_probe_incremental",
        "streaming_pq_ingest",
    ],
    "edc_index": [
        "decontam_agreement",
        "decontam_embedding",
        "pipeline_decontam_purge",
    ],
}
