"""``operators.pin.pin``: the package's only materialization point.

Every checkpoint in the package and its tools goes through ``pin``: a
raw checkpoint call anywhere else would bypass its eagerness,
durability and naming decisions. Test fixtures under tests/ may keep
raw calls. Durability is covered by
test_graph_sketches.test_pagerank_reliable_checkpoint_matches_local."""

import os
import re

from etl_tool_rep_spark.operators.pin import pin

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PIN = os.path.join("etl_tool_rep_spark", "operators", "pin.py")
_RAW = re.compile(r"localCheckpoint\(|\.checkpoint\(")


def test_no_raw_checkpoint_outside_pin():
    offenders = []
    for top in ("etl_tool_rep_spark", "tools"):
        for d, _, files in os.walk(os.path.join(_ROOT, top)):
            for f in files:
                path = os.path.join(d, f)
                rel = os.path.relpath(path, _ROOT)
                if not f.endswith(".py") or rel == _PIN:
                    continue
                with open(path, encoding="utf-8") as fh:
                    offenders += [f"{rel}:{i}" for i, line
                                  in enumerate(fh, 1) if _RAW.search(line)]
    assert offenders == []


def test_pin_is_eager_and_names_its_job(spark):
    """The pin's job runs (eagerly) under the pin's name, inside the
    caller's job group; the caller's description comes back after."""
    sc = spark.sparkContext
    sc.setJobGroup("pin-test", "outer")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup("pin-test"))
        pinned = pin(spark.range(5), "pin_test.frame")
        jobs = set(sc.statusTracker().getJobIdsForGroup("pin-test"))
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    store = sc._jsc.sc().statusStore()
    assert {store.job(j).description().get()
            for j in jobs - before} == {"pin_test.frame"}
    assert pinned.count() == 5
