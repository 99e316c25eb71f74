"""Full-tree distributed ARGUSON at production scale (VERDICT r7 #7).

Serves the complete nested-blob arguson for a synthetic tree at the
production size (default 2.42M tips — 97x the reference's 25k arguson
cap, tree_of_life_v3.java:592,711-716) through the distributed fragment
path with the fanout-aware anchor pick on the topology index
(graph/topology.TreeIndex.anchor_depth), and reports which anchor depth
it chose and how long the pick took.

Run: python bench_arguson.py [n_tips] — prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time

from bench_http import build_synth_store


def main() -> None:
    n_tips = int(sys.argv[1]) if len(sys.argv) > 1 else 2_420_000
    from treemachine_spark.api.v3 import TreeOfLifeV3
    from treemachine_spark.session import get_spark

    spark = get_spark("treemachine-arguson-bench")
    spark.sparkContext.setLogLevel("ERROR")
    store, _tips, n_edges, build_sec = build_synth_store(spark, n_tips)
    api = TreeOfLifeV3(store)

    # report the pick the serving path will make (n0 is index node 0)
    t0 = time.time()
    chosen = api.index.anchor_depth(api.index.members(0, 999))
    pick_sec = round(time.time() - t0, 2)

    t0 = time.time()
    arg = api.subtree(node_id="n0", tree_format="arguson", height_limit=999)[
        "arguson"
    ]
    arguson_sec = round(time.time() - t0, 2)

    n_blobs, stack = 0, [arg]
    while stack:
        b = stack.pop()
        n_blobs += 1
        stack.extend(b.get("children", ()))

    print(
        json.dumps(
            {
                "metric": "full_tree_arguson_wall_clock",
                "value": arguson_sec,
                "unit": "sec",
                "n_tips": n_tips,
                "n_edges": n_edges,
                "n_blobs": n_blobs,
                "anchor_depth_auto": chosen,
                "anchor_pick_sec": pick_sec,
                "store_build_sec": build_sec,
                "reference_cap_tips": 25_000,
            }
        )
    )


if __name__ == "__main__":
    main()
