"""Subprocess worker for the pin durability test
(test_graph_sketches.py). It starts its own Spark driver with
``spark.checkpoint.dir`` set, so every ``pin`` takes the reliable
``checkpoint()`` path, and runs the two iterative operators on the
test's fixed graphs. The test session's own driver never sees the
setting, so no other test switches to reliable checkpoints.

argv: <checkpoint_dir> <out_json>

Writes {"checkpoint_dir": ..., "pagerank": {id: rank},
"components": {id: cluster_id}} to <out_json>.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_tool_rep_spark.operators.cluster import (  # noqa: E402
    connected_components)
from etl_tool_rep_spark.operators.graph import pagerank  # noqa: E402
from etl_tool_rep_spark.session import get_spark  # noqa: E402

PAGERANK_EDGES = [(1, 2), (2, 3), (3, 1), (2, 1), (4, 1)]
CC_PAIRS = [(1, 2), (2, 3), (10, 11)]


def run(spark) -> dict:
    """Both operators on the fixed graphs, as JSON-ready dicts."""
    edges = spark.createDataFrame(PAGERANK_EDGES, ["src", "dst"])
    pairs = spark.createDataFrame(CC_PAIRS, "id_1 long, id_2 long")
    return {
        "pagerank": {str(r["id"]): r["rank"]
                     for r in pagerank(edges, max_iterations=20)
                     .collect()},
        "components": {str(r["id"]): r["cluster_id"]
                       for r in connected_components(pairs).collect()},
    }


def main() -> int:
    ckpt, out = sys.argv[1], sys.argv[2]
    spark = get_spark("pin-durability", master="local[2]",
                      extra_conf={"spark.checkpoint.dir": ckpt,
                                  "spark.sql.shuffle.partitions": "4",
                                  "spark.driver.memory": "2g"})
    res = run(spark)
    res["checkpoint_dir"] = spark.sparkContext.getCheckpointDir()
    with open(out, "w") as fh:
        json.dump(res, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
