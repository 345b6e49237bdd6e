"""The benchmark's workloads: a fixed list of registry queries each.

Every workload is one closed-loop client: it runs its queries one after
another, each to the noop sink, and starts the next query only when the
previous one has finished. The seed only permutes the order of each
pass; the inputs are the fixed sf0.01 tables. Why each workload exists
is stated once, in ``BENCHMARK.json``.
"""

from __future__ import annotations

# The read-only synthetic tables at the scale the registry's DuckDB
# oracles are checked at (see TESTDATA.md): the sibling of the engine's
# default table directory with this name.
SCALE_DIR = "sf0.01"

WORKLOADS: dict[str, tuple[str, ...]] = {
    "batch": (
        "q1_pricing_summary",
        "q5_regional_revenue",
        "events_dau_wau_mau_hll",
        "window_tumbling_hourly",
        "interval_join",
        "embedding_kmeans",
        "lang_id_ngram",
    ),
    "stream_replay": (
        "streaming_window_hourly",
        "streaming_hotitems_topn",
        "streaming_allowed_lateness",
    ),
}
