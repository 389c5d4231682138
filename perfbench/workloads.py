"""The benchmark's named workloads.

Each workload is a fixed query list run by one client in a closed loop:
the next query starts only after the previous one has returned its
result and released its pinned frames. ``queries`` are keys of
``registry.queries()``. ``pass_s`` is the time one pass over them took
on the host the benchmark was sized on (README.md); a run does
``--seconds / pass_s`` timed passes, rounded, so that the work in a run
does not depend on how fast the host or the program happens to be.
README.md in this directory says why each workload was chosen and which
layer each one stresses.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pass_s: float
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ref_interactive",
            "the paper's six reference queries on the star schema: sub-second,"
            " latency-bound, no build-time jobs and no Python workers",
            5.0,
            (
                "q1_yearly_top_order",
                "q2_top_customers_by_spend",
                "q3_top_orders_by_big_items",
                "q4_price_spread",
                "q5_user_event_totals",
                "q6_distinct_suppliers_of_qualifying_brands",
            ),
        ),
        Workload(
            "iterative_loops",
            "iterative operators whose time goes to Spark jobs launched"
            " while the frame is being built",
            21.0,
            (
                "er_entity_clusters",
                "emb_pca_power",
                "kmeans_train",
                "ml_perceptron_ovr_confusion",
                "ret_rank_agreement",
            ),
        ),
        Workload(
            "python_boundary",
            "mapInPandas and applyInPandas bodies whose executor time sits"
            " in Python workers",
            5.5,
            # Trimmed to fit the run budget: mm_sample_frames alone took 40%
            # of a pass.
            (
                "mm_image_decode",
                "mm_byte_histogram",
                "mm_audio_features",
                "text_heavy_hitters",
                "pandas_source_stats",
            ),
        ),
        Workload(
            "dedup_batch",
            "CPU- and shuffle-bound batch queries whose pinned frames are"
            " read many times",
            6.0,
            # Trimmed to fit the run budget: the query that pins the most
            # frames, and the cheapest of the rest to check.
            ("dedup_ngram_jaccard_capped", "simhash_fingerprint"),
        ),
    )
}
