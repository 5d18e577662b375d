"""Subprocess worker for pagerank_exact's declared precondition test
(test_tier20.py). It starts its own Spark driver with
``spark.driver.maxResultSize=1m`` and feeds pagerank_exact one order
with 400 suppliers: 400 * 399 = 159,600 distinct edges, about 2.5 MiB
as Arrow, so the one edge-list collect must exceed the limit. The
test session's own driver never sees the setting.

argv: <out_json>

Writes {"error": <message of the Py4J error>} to <out_json>, or
{"rows": <count>} if the query returned.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError  # noqa: E402

import etl_tool_rep_spark.queries.tier20 as t20  # noqa: E402
from etl_tool_rep_spark.session import get_spark  # noqa: E402

SUPPLIERS = 400


def main() -> int:
    out = sys.argv[1]
    spark = get_spark("pagerank-result-size", master="local[2]",
                      extra_conf={"spark.driver.maxResultSize": "1m",
                                  "spark.sql.shuffle.partitions": "4",
                                  "spark.driver.memory": "2g"})
    li = spark.createDataFrame([(0, s) for s in range(SUPPLIERS)],
                               "l_orderkey long, l_suppkey long")
    t20.load = lambda s, d, n: li
    try:
        res = {"rows": t20.pagerank_exact(spark, "ignored").count()}
    except Py4JJavaError as e:
        res = {"error": str(e)}
    with open(out, "w") as fh:
        json.dump(res, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
