"""PageRank vs numpy power iteration; heavy-hitter exactness on
skewed synthetic data."""

import json
import os
import subprocess
import sys

import numpy as np
from pyspark.sql import functions as F

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.operators.graph import pagerank
from etl_tool_rep_spark.operators.sketches import heavy_hitters

import pin_durability_worker

_WORKER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "pin_durability_worker.py")


def _co_supplier_edges(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l1 = li.toDF("ok", "a")
    l2 = li.toDF("ok2", "b")
    return (l1.join(l2, (F.col("ok") == F.col("ok2"))
                    & (F.col("a") != F.col("b")))
              .select(F.col("a").alias("src"), F.col("b").alias("dst"))
              .distinct())


def test_pagerank_matches_numpy(spark, sf_dir):
    edges = _co_supplier_edges(spark, sf_dir)
    got = {r["id"]: r["rank"]
           for r in pagerank(edges, max_iterations=40,
                             tol=1e-10).collect()}
    # numpy reference on the same edge list
    es = [(r["src"], r["dst"]) for r in edges.collect()]
    nodes = sorted({v for e in es for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for s, d in es:
        M[idx[d], idx[s]] = 1.0
    out_deg = M.sum(axis=0)
    dangling = out_deg == 0
    Mn = np.divide(M, np.where(dangling, 1.0, out_deg),
                   where=~dangling[None, :])
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(200):
        r = (1 - d) / n + d * (Mn @ r + r[dangling].sum() / n)
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-6


def test_pagerank_dangling_nodes(spark):
    # 1 -> 2 -> 3, 3 has no out-edges (dangling)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], ["src", "dst"])
    got = {r["id"]: r["rank"]
           for r in pagerank(edges, max_iterations=60,
                             tol=1e-12).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[3] > got[2] > 0  # chain accumulates rank downstream


def test_heavy_hitters_exact_on_skew(spark):
    # zipf-ish: key_0 appears 1000x, key_1 500x, tail keys once each
    rows = ([("key_0",)] * 1000 + [("key_1",)] * 500
            + [(f"tail_{i}",) for i in range(2000)])
    df = spark.createDataFrame(rows, ["word"]).repartition(8)
    n = df.count()
    thresh = (n + 199) // 200  # 0.5%
    got = {r["word"]: r["cnt"]
           for r in heavy_hitters(df, "word", min_count=thresh,
                                  k=300).collect()}
    # exact ground truth via direct groupBy
    want = {r["word"]: r["cnt"]
            for r in df.groupBy("word")
                       .agg(F.count(F.lit(1)).alias("cnt"))
                       .filter(F.col("cnt") >= thresh).collect()}
    assert got == want
    assert got["key_0"] == 1000 and got["key_1"] == 500


def test_pagerank_reliable_checkpoint_matches_local(spark, tmp_path):
    """A driver started with ``spark.checkpoint.dir`` pins through
    reliable ``checkpoint()``; pagerank and connected_components must
    give the same results as this session's local-checkpoint pins,
    and the checkpoint files must actually be written. The durable
    run is a separate process so the setting cannot leak into the
    session-wide fixture."""
    assert spark.sparkContext.getCheckpointDir() is None
    local = pin_durability_worker.run(spark)
    ckpt, out = tmp_path / "ckpt", tmp_path / "durable.json"
    subprocess.run(
        [sys.executable, _WORKER, str(ckpt), str(out)],
        check=True, timeout=300, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL)
    durable = json.loads(out.read_text())
    assert str(ckpt) in durable["checkpoint_dir"]
    assert durable["components"] == local["components"]
    assert durable["pagerank"].keys() == local["pagerank"].keys()
    for v, rank in local["pagerank"].items():
        # same arithmetic; only the float summation order may differ
        # between the two drivers' partitionings
        assert abs(durable["pagerank"][v] - rank) < 1e-12
    written = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert written  # the pins really went to the checkpoint dir
