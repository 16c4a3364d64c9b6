"""The benchmark's workloads: a seeded input size and a fixed op list each.

Ops are ``harness.SPARK_QUERIES`` keys, plus ``replicate`` (perfbench/
replicate.py). ``unit`` sizes the input (perfbench/inputs.py): ``unit`` 1
is a hundredth of the sf0.1 test data's row counts (50 documents, 1k
events, 1.5k orders). Every workload hands the same multiplier,
``run.MULT``, to ``tools/make_scale_data.py``. Each workload is meant to
put most of its time in the layers ``layer`` names. README.md gives the
reasons.
"""

from __future__ import annotations

WORKLOADS = {
    "graph_ingest": {
        "layer": "components, traversal, streaming, episodes, db, kvstore",
        "unit": 1,
        "ops": [
            "graph_components",
            "graph_bfs_depth",
            "graph_descendants",
            "streaming_rollup_ingest",
            "replicate",
        ],
    },
    "similarity_dedup": {
        "layer": "grams, overlaps, dedup, search, multimodal, functions",
        "unit": 4,
        "ops": [
            "search",
            "overlaps",
            "dedup_lsh_verify",
            "dedup_simhash",
            "multimodal_decode",
        ],
    },
}
