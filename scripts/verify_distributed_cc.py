"""At-scale exercise of the DISTRIBUTED connected-components path.

The salted min-label loop with root hooking and pointer jumping
(cluster.py) is the 10^12-scale path, but the adaptive cutover means
ordinary test corpora never reach it (their edge sets fit the driver).
This script builds a planted edge set big enough to cross the cutover
naturally, runs BOTH paths on the same input, and asserts label
equality. Its JSON line reports both walls, their ratio and the
distributed round count, for SCALE.md.

Planted structure mirrors real near-dup graphs: mostly small star
components plus a tail of chains (diameter 10) that need several
rounds, plus singletons via edge-free gaps. The loop's round count
grows with log(diameter), so it does not depend on diameters being
small.

Usage:
  SPARK_GRAFT_CC_EDGES=10000000 python scripts/verify_distributed_cc.py
NEVER run concurrently with bench/profile runs (timing contamination).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    target_edges = int(os.environ.get("SPARK_GRAFT_CC_EDGES", "10000000"))

    from pyspark.sql import functions as F

    from refine_spark.cluster import connected_components
    from refine_spark.session import get_spark

    spark = get_spark(
        app_name="refine_spark_cc_verify", cores=cores, shuffle_partitions=64
    )

    # vertex ids are sparse int64 (xxhash64-style domain): vertex v of
    # block b sits at b * 1000 + v, blocks of 11 vertices; ~90% of
    # blocks are stars (hub=min id, diameter 2), ~10% are chains
    # (diameter 10 — multi-round min-label propagation), and every
    # block id = 7 (mod 10) is left edge-free so singleton gaps exist.
    n_blocks = target_edges // 10
    blocks = spark.range(n_blocks).select(
        (F.col("id") * 1000).alias("base"), (F.col("id") % 10).alias("kind")
    )
    member = F.explode(F.sequence(F.lit(1), F.lit(10))).alias("j")
    exploded = blocks.filter(F.col("kind") != 7).select("base", "kind", member)
    edges = exploded.select(
        F.when(F.col("kind") == 3, F.col("base") + F.col("j") - 1)
        .otherwise(F.col("base"))
        .alias("src"),
        (F.col("base") + F.col("j")).alias("dst"),
    ).localCheckpoint(eager=True)
    n_edges = edges.count()
    print(f"planted edges: {n_edges} over ~{n_blocks} blocks", file=sys.stderr)

    # ground truth: every vertex's component minimum is its block base
    def run(label: str, **kw) -> tuple[float, int, int]:
        stats: list[dict] = []
        t0 = time.monotonic()
        labels = connected_components(edges, id_col="v", metrics=stats, **kw)
        bad = labels.filter(
            F.col("cluster_id") != (F.col("v") - F.pmod(F.col("v"), 1000))
        ).count()
        wall = time.monotonic() - t0
        rounds = stats[0]["rounds"]
        print(
            f"{label}: wall={wall:.1f}s rounds={rounds} wrong_labels={bad}",
            file=sys.stderr,
        )
        return wall, bad, rounds

    # forced distributed: cutover 0 means the salted min-label loop runs
    # regardless of size — the code path a 1000-executor job would take
    wall_dist, bad_dist, rounds = run("distributed", driver_cutover=0)
    # driver union-find on the same input (raised caps to allow collect)
    wall_drv, bad_drv, _ = run(
        "driver", driver_cutover=2 * n_edges, driver_max_bytes=4 << 30
    )

    # label equality between the two paths (both must also equal truth)
    assert bad_dist == 0, f"distributed path produced {bad_dist} wrong labels"
    assert bad_drv == 0, f"driver path produced {bad_drv} wrong labels"

    print(
        json.dumps(
            {
                "cores": cores,
                "edges": n_edges,
                "wall_distributed_sec": round(wall_dist, 1),
                "wall_driver_sec": round(wall_drv, 1),
                "distributed_over_driver": round(wall_dist / wall_drv, 2),
                "rounds": rounds,
                "wrong_labels": 0,
                "loadavg_1m": round(os.getloadavg()[0], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
