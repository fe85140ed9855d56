"""The benchmark's workloads: which queries, on which corpus.

Every workload clears both caches (the package's ``cache.cached``
registry and Spark's CacheManager) before every sample.  Before timing,
the JVM is warmed by running the workload's queries once on
``warm_up_corpus``, a smaller corpus, so code paths are compiled and
the heap has grown, but no data of the timed corpus is cached.

Corpora: ``sf0.001`` and ``sf0.1`` are generated by datagen.py; ``x16``
is the 16x key-remapped replica of ``sf0.1``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    corpus: str
    warm_up_corpus: str


WORKLOADS = {
    w.name: w
    for w in [
        # scan/join/aggregate: execution and Arrow transport dominate
        Workload(
            "scan_x16",
            (
                "agg_groupby", "join_sortmerge", "join_multiway_star",
                "report_volume_shipping", "scan_dpp_star_join",
                "report_market_share", "agg_bitmap_distinct", "win_moving_avg",
                "report_last_touch_attribution", "agg_decimal_exact",
                "ts_ohlc_bars", "llm_text_tokens",
            ),
            "x16",
            "sf0.1",
        ),
        # iterative, eager and write-path: persists, checkpoints, state
        # commits, MERGE and file-sink writes happen while a query builds
        Workload(
            "iterative_cold",
            (
                "graph_pagerank", "ml_kmeans_lloyd", "ml_pca_power",
                "graph_hits_scores", "graph_connected_components",
                "llm_dedup_clusters", "llm_ann_pq", "etl_merge_into",
                "stream_tumbling_counts", "stream_stream_join",
                "stream_file_sink", "etl_incremental_agg",
            ),
            "sf0.1",
            "sf0.001",
        ),
    ]
}
