"""Unit semantics for the tier-20 additions on hand-built frames.

* dedup_components_exact: a 3-doc near-dup chain (A~B~C, A!~C)
  collapses to one component labeled by the min doc_id; an isolated
  pair forms its own; non-duplicated docs are absent.
* rolling_active_users: exact trailing-24h distinct counts on a
  hand-placed timeline, including the window boundary at exactly
  23 hours back (inclusive) and 24 hours back (excluded).
* pagerank_exact: ranking and mass on a star graph, an edgeless
  input and two components; bit-exact ranks against the DuckDB
  oracle; the declared spark.driver.maxResultSize precondition.
"""

import datetime
import json
import os
import subprocess
import sys

import pytest

from etl_tool_rep_spark.queries import QUERIES

_SIZE_WORKER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "pagerank_result_size_worker.py")


def _t(day, hour):
    return datetime.datetime(2024, 1, day, hour, 0, 0)


@pytest.fixture()
def chain_docs(spark):
    # B overlaps heavily with both A and C, but A and C share almost
    # nothing directly -> transitivity must link them (1 component)
    a = "one two three four five six seven eight"
    b = "two three four five six seven eight nine"
    c = "three four five six seven eight nine ten"
    d = "island alpha beta gamma delta epsilon zeta"
    e_ = "island alpha beta gamma delta epsilon eta"
    f = "completely different words in this document here"
    rows = [(10, a), (11, b), (12, c), (20, d), (21, e_), (30, f)]
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")


def test_components_chain_and_island(spark, chain_docs, monkeypatch):
    import etl_tool_rep_spark.queries.tier20 as t20
    monkeypatch.setattr(t20, "load", lambda s, d, n: chain_docs)
    got = {r["doc_id"]: r["component"] for r in
           QUERIES["dedup_components_exact"](spark, "ignored").collect()}
    assert got[10] == got[11] == got[12] == 10   # chain collapses
    assert got[20] == got[21] == 20              # island pair
    assert 30 not in got                         # singleton absent


def test_rolling_active_users_boundaries(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier20 as t20
    # user 1 at day1 00:00; user 2 at day1 23:00 (inside user 1's
    # 24h window ending 23:00); user 3 at day2 00:00 — user 1's hour
    # is exactly 24h back by then and must be EXCLUDED
    events = spark.createDataFrame(
        [(1, _t(1, 0), 1, "click", 1.0, None),
         (2, _t(1, 23), 2, "click", 1.0, None),
         (3, _t(2, 0), 3, "click", 1.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    monkeypatch.setattr(t20, "load", lambda s, d, n: events)
    got = {r["hour"]: r["active_users"] for r in
           QUERIES["rolling_active_users"](spark, "ignored").collect()}
    assert got[_t(1, 0)] == 1          # only user 1 so far
    assert got[_t(1, 23)] == 2         # 00:00 is 23h back -> included
    assert got[_t(2, 0)] == 2          # user 1 now 24h back -> out
    assert len(got) == 3               # only event-bearing hours emit


def test_bpe_merge_train_hand_corpus(spark, monkeypatch):
    # corpus: abab x2, abc x1 -> round 1 merges (a,b) count 5;
    # round 2 ties (ab,ab)=2 vs (ab,</w>)=2 -> '</w>' < 'ab' wins;
    # round 3 merges (ab, ab</w>) count 2
    import etl_tool_rep_spark.queries.tier15 as t15
    docs = spark.createDataFrame(
        [(0, "abab abab abc", "en", "s", 13)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    monkeypatch.setattr(t15, "load", lambda s, d, n: docs)
    from etl_tool_rep_spark.queries import QUERIES
    got = {r["merge_round"]: (r["left_sym"], r["right_sym"],
                              r["merged"], r["pair_count"])
           for r in QUERIES["bpe_merge_train"](spark, "ignored")
                    .collect()}
    assert got[1] == ("a", "b", "ab", 5)
    assert got[2] == ("ab", "</w>", "ab</w>", 2)
    assert got[3] == ("ab", "ab</w>", "abab</w>", 2)


def _pagerank_exact_on(spark, monkeypatch, orders):
    """pagerank_exact over hand-placed orders, each a list of
    suppliers (every pair of suppliers on one order is an edge)."""
    import etl_tool_rep_spark.queries.tier20 as t20
    li = spark.createDataFrame(
        [(o, s) for o, sups in enumerate(orders) for s in sups],
        "l_orderkey long, l_suppkey long")
    monkeypatch.setattr(t20, "load", lambda s, d, n: li)
    return QUERIES["pagerank_exact"](spark, "ignored")


def test_pagerank_exact_mass_and_ranking(spark, monkeypatch):
    # star graph: hub 1 <-> spokes 2,3,4 (symmetric edges via shared
    # orders). Hub must outrank spokes; total mass stays ~1 under the
    # 1e-12 quantization (error bound: iters * n * 1e-12).
    star = [[1, 2], [1, 3], [1, 4]]
    got = {r["id"]: r["pr"] for r in
           _pagerank_exact_on(spark, monkeypatch, star).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1] > got[2] == got[3] == got[4]
    assert abs(sum(got.values()) - 1.0) < 1e-9

    # no order has two suppliers: no edges, so an empty frame with
    # the declared schema (no division by n = 0)
    empty = _pagerank_exact_on(spark, monkeypatch, [[1], [2], [3]])
    assert empty.schema.simpleString() == "struct<id:bigint,pr:double>"
    assert empty.collect() == []

    # the star plus a disconnected triangle: teleport spreads 1/n to
    # every node, so each component keeps its |C|/n share of the mass
    got = {r["id"]: r["pr"] for r in _pagerank_exact_on(
        spark, monkeypatch, star + [[10, 11, 12]]).collect()}
    assert set(got) == {1, 2, 3, 4, 10, 11, 12}
    assert got[1] > got[2] == got[3] == got[4]
    assert abs(sum(got[k] for k in (1, 2, 3, 4)) - 4 / 7) < 1e-9
    assert abs(sum(got[k] for k in (10, 11, 12)) - 3 / 7) < 1e-9


def test_pagerank_exact_bits_match_oracle(spark, sf_dir, monkeypatch):
    """check_oracle compares floats at 9 decimals, which cannot see a
    1-ulp drift; the quantized arithmetic is meant to be exact, so
    the ranks must equal DuckDB's _PR_ORACLE bit for bit. The small
    fixture's graph can be complete (every rank equal), so an
    irregular hand-built graph carries the rounding cases too."""
    import duckdb

    from etl_tool_rep_spark.queries.tier20 import _PR_ORACLE
    from tools.check_oracle import duck_connection

    def bits(rows):
        return {(int(i), float(p).hex()) for i, p in rows}

    got = QUERIES["pagerank_exact"](spark, sf_dir).collect()
    want = duck_connection(sf_dir).execute(_PR_ORACLE).fetchall()
    assert bits(got) == bits(want) and got

    orders = [[(o * 7 + k * 3) % 23 for k in range(2 + o % 4)]
              for o in range(30)]
    got = _pagerank_exact_on(spark, monkeypatch, orders).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT,"
                " l_suppkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)",
                    [(o, s) for o, sups in enumerate(orders)
                     for s in sups])
    want = con.execute(_PR_ORACLE).fetchall()
    assert bits(got) == bits(want) and len(got) == 23


def test_pagerank_exact_result_size_precondition(tmp_path):
    """The declared precondition: the distinct edge list must fit in
    spark.driver.maxResultSize. A driver with a 1 MiB limit given a
    159,600-edge graph must fail with Spark's own result-size check,
    not hold the data. Runs in a subprocess so the shared session
    keeps the default limit."""
    out = tmp_path / "result.json"
    subprocess.run([sys.executable, _SIZE_WORKER, str(out)], check=True,
                   timeout=300, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    res = json.loads(out.read_text())
    assert "org.apache.spark.SparkException" in res.get("error", ""), res
    assert "bigger than spark.driver.maxResultSize" in res["error"], res


def test_bellman_ford_weighted_paths(spark, monkeypatch):
    # weighted line graph via shared orders: s1-s2 share 1 order,
    # s2-s3 share 2, s1-s3 share none -> dist(s3) = w12 + w23 = 3,
    # not the 1-hop INF. Source = min supplier = 1.
    # All orderkeys divisible by 4 so the determinstic sample keeps
    # every edge.
    import etl_tool_rep_spark.queries.tier20 as t20
    rows = []
    rows += [(4, 1), (4, 2)]              # order 4: s1,s2  (w12=1)
    rows += [(8, 2), (8, 3), (12, 2), (12, 3)]   # w23=2
    li = spark.createDataFrame(rows, "l_orderkey long, l_suppkey long")
    monkeypatch.setattr(t20, "load", lambda s, d, n: li)
    from etl_tool_rep_spark.queries import QUERIES
    got = {r["id"]: r["dist"] for r in
           QUERIES["bellman_ford_exact"](spark, "x").collect()}
    assert got == {1: 0, 2: 1, 3: 3}
