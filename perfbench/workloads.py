"""The benchmark's workloads: which ops one client runs back to back, on
which generated input. ``why`` is the one-line reason each exists;
README.md carries the layer-to-metric predictions."""

from __future__ import annotations

WORKLOADS = {
    "mapreduce_sql": {
        "ops": [
            "text_bigram_freq",
            "agg_hash_count",
            "join_sortmerge",
            "sql_market_share",
            "sql_large_volume_customers",
            "analytics_sessionize",
            "win_frame",
        ],
        # fact tables replicated under the seed; dimensions stay natural size
        "replicate": frozenset({"lineitem", "orders", "events", "documents"}),
        "factor": 2,
        "input_tables": [
            "lineitem", "orders", "customer", "part", "supplier",
            "nation", "region", "events", "documents",
        ],
        "why": "the reference map-shuffle-aggregate dataflow on JVM-only relational ops: "
        "scan, shuffle and codegen work, no Python workers",
    },
    "curation_stream": {
        "ops": [
            "dedup_minhash",
            "quality_classifier_score",
            "stream_stateful_dedup",
        ],
        "replicate": frozenset(),
        "factor": 1,
        "input_tables": ["documents", "events"],
        "why": "fixed per-op cost: Python workers and Arrow transfer, eager op bodies, "
        "shared ckpt builds, and per-micro-batch planning, WAL and state commits",
    },
}
