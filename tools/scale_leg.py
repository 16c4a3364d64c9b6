"""Round-10 core-scaling leg (VERDICT r9 #2): the sf0.1 suite is
scheduling-overhead-bound (8 cores beats 32 on most keys), so the low-core
bench provides no evidence about parallelism at 100 TB. This tool times the
TOP keys on an sf1-class directory (tools/make_scale_data.py) at a given
core count — run it once per core count IN A FRESH PROCESS (the master is
fixed at session creation):

    python tools/make_scale_data.py /root/testdata/sf0.1 /tmp/sf1 10
    SPARK_GRAFT_CPUS=32 python tools/scale_leg.py /tmp/sf1 > /tmp/leg32.json
    SPARK_GRAFT_CPUS=8  python tools/scale_leg.py /tmp/sf1 > /tmp/leg8.json

Timing discipline mirrors bench.py (same cold-key cache resets, min-of-2,
count() action) plus a noop-sink column (guide §1.4) because two of the
targeted keys (graph_triangles, table_profile) hide most of their compute
from count(). Output: one JSON line per run; compare the legs of two core
counts side by side.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# VERDICT r9 #2's top-10 list
KEYS = [
    "graph_kcore",
    "streaming_sessions_ingest",
    "streaming_broadcast_ingest",
    "overlaps_prefix",
    "graph_triangles",
    "table_profile",
    "dedup_lsh_verify",
    "graph_components",
    "kmeans_train",
    "view_tile",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    from bench import reset_shared_caches, warmup
    from assemblagedb_spark.harness import SPARK_QUERIES
    from assemblagedb_spark.session import get_spark

    spark = get_spark("assemblagedb-scale-leg")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    warmup(spark, sf_dir)

    out: dict[str, dict[str, float]] = {}
    for name in KEYS:
        spark.sparkContext.setJobDescription(f"scale-leg:{name}")
        row: dict[str, float] = {}
        for action in ("count", "noop"):
            best = float("inf")
            for rep in range(2):
                print(f"# start {name} {action} rep{rep}", file=sys.stderr,
                      flush=True)
                reset_shared_caches(name)
                t0 = time.time()
                df = SPARK_QUERIES[name](spark, sf_dir)
                if action == "count":
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
                # at 10x the graded SF the localCheckpoint blocks of one
                # run are GBs; drop the Python references NOW so the
                # ContextCleaner unpins them before the next run instead
                # of accumulating toward the heap limit (outside the
                # timed region — the timing discipline is bench.py's)
                del df
                import gc

                gc.collect()
            row[action] = round(best, 3)
        out[name] = row
        print(f"# {name}: {row}", file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"cpus": cpus, "sf_dir": sf_dir, "keys": out}))


if __name__ == "__main__":
    main()
