"""The one mutation write path of sources/cow_table.py: every keyed
mutation (cow merge, mor merge, dv delete) classifies its rows once
(``CowTable._classify``), writes them with one writer
(``CowTable._write_files``) and commits through one tail
(``CowTable._commit_mutation``).  On a change-feed table one
partitioned staging write emits data files and change files together
from a single evaluation.  Invariants pinned here:

* data files physically carry a hidden all-NULL ``_change_type``
  column, and every reader surface (snapshot read, recorded schema)
  projects it away;
* the per-mutation Spark JOB budget, for every strategy with the feed
  off and on, and for the dv delete;
* the bulk matched-key path (> _MATCHED_INLINE_MAX triples) pins the
  matched set as a localCheckpoint instead of driver literals, and
  still produces the exact feed;
* every pinned frame is released: the persistent-RDD count returns to
  its baseline after each mutation;
* a losing racer's output (data dir, change dir, staging dir) is
  cleaned up;
* change files are bounded by the mutation's coalesce, not
  shuffle-partition scatter, when a caller-built session has AQE off.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import (  # noqa: E402
    cow_table as ct_mod,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (  # noqa: E402
    CowTable,
)


def _mk(spark, tmp_path, name, n=40, parts=2, change_feed=True):
    df = (
        spark.range(n)
        .selectExpr("id AS k", "id * 10 AS v")
        .repartition(parts)
    )
    return CowTable.create(
        spark, str(tmp_path / name), df, change_feed=change_feed
    )


def _feed(t, lo, hi=None):
    return sorted(
        tuple(r)
        for r in t.read_changes(lo, hi)
        .select("k", "v", "_change_type")
        .collect()
    )


def _merge_once(spark, t, strategy="cow"):
    """The canonical mixed mutation: update k=5, insert k=100,
    delete k=7."""
    t.merge(
        spark.createDataFrame([(5, 555), (100, 1000)], "k long, v long"),
        "k",
        deletes=spark.createDataFrame([(7,)], "k long"),
        strategy=strategy,
    )
    return [
        (5, 50, "update_preimage"),
        (5, 555, "update_postimage"),
        (7, 70, "delete"),
        (100, 1000, "insert"),
    ]


def test_fused_data_files_hide_change_type(spark, tmp_path):
    t = _mk(spark, tmp_path, "hide")
    expect = _merge_once(spark, t)
    assert _feed(t, 1, 1) == expect
    doc = t._commit_doc(1)
    new_files = [
        f for f in doc["files"] if os.path.basename(f) not in {
            os.path.basename(g) for g in t._commit_doc(0)["files"]
        }
    ]
    assert new_files, "fused merge wrote no data files"
    # the raw parquet carries the hidden column, all NULL
    raw = spark.read.parquet(*new_files)
    assert "_change_type" in raw.columns
    assert raw.filter(F.col("_change_type").isNotNull()).count() == 0
    # ...but no reader surface shows it
    assert "_change_type" not in t.read().columns
    rec = [f["name"] for f in doc["schema"]["fields"]]
    assert "_change_type" not in rec
    # snapshot content is the merged row set
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == 555 and got[100] == 1000 and 7 not in got
    # no staging leftovers
    stage = os.path.join(t.path, "_stage")
    assert not os.path.isdir(stage) or os.listdir(stage) == []


@pytest.mark.parametrize("feed", [False, True], ids=["feed_off", "feed_on"])
@pytest.mark.parametrize("op", ["cow", "mor", "dv"])
def test_fused_merge_job_budget(spark, tmp_path, op, feed):
    """Every keyed mutation runs in a bounded driver-job count, with
    the change feed off or on: the touch probe, the matching collect
    (cow detection, or the dv position harvest), and ONE write --
    data and change files from the same job."""
    t = _mk(spark, tmp_path, "budget", change_feed=feed)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    if op == "dv":
        t.delete("k", values=[5, 7])
    else:
        _merge_once(spark, t, strategy=op)
    after = set(st.getJobIdsForGroup(None))
    n_jobs = len(after - before)
    assert n_jobs <= 10, (
        f"{op} mutation (feed={feed}) ran {n_jobs} driver jobs -- the "
        "one-write budget (<=10, measured 4-9 incl. AQE stage jobs) "
        "regressed"
    )


def test_bulk_matched_path_pins_not_inlines(spark, tmp_path, monkeypatch):
    """Past _MATCHED_INLINE_MAX matched triples the detection probe
    overflows: the matched keys pin as ONE localCheckpoint (driver
    never materializes the set) and the fused write joins against the
    pinned frame -- same feed, same snapshot (VERDICT r18 next #7)."""
    monkeypatch.setattr(ct_mod, "_MATCHED_INLINE_MAX", 3)
    calls = []
    cls = type(spark.range(1))  # the concrete DataFrame class
    orig = cls.localCheckpoint

    def spy(self, *a, **k):
        calls.append(self.columns)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    t = _mk(spark, tmp_path, "bulk")
    src = spark.createDataFrame(
        [(k, k * 1000) for k in range(10)], "k long, v long"
    )
    t.merge(src, "k")
    # the matched triples (cap overflowed at 3 < 10 matches) pinned
    assert ["_file", "_k", "_s"] in calls, calls
    got = {r["k"]: r["v"] for r in t.read().collect()}
    for k in range(10):
        assert got[k] == k * 1000
    feed = _feed(t, 1, 1)
    assert (3, 30, "update_preimage") in feed
    assert (3, 3000, "update_postimage") in feed
    assert len([x for x in feed if x[2] == "insert"]) == 0


def test_mutations_release_every_pin(spark, tmp_path, monkeypatch):
    """The persistent-RDD count returns to its baseline after a CDF dv
    delete, a CDF mor merge and a bulk-path cow merge -- the pinned
    pre-image / matched-key frames are released by the commit tail,
    not left for the JVM GC's ContextCleaner.  The matched cap is
    lowered so every shape takes its pinned-marker path."""
    monkeypatch.setattr(ct_mod, "_MATCHED_INLINE_MAX", 3)
    jsc = spark.sparkContext._jsc
    src = spark.createDataFrame(
        [(k, k * 1000) for k in range(10)], "k long, v long"
    )
    upserted = sorted(
        [(k, k * 10, "update_preimage") for k in range(10)]
        + [(k, k * 1000, "update_postimage") for k in range(10)]
    )
    for name, mutate, want in (
        (
            "dv",
            lambda t: t.delete("k", values=list(range(8))),
            [(k, k * 10, "delete") for k in range(8)],
        ),
        ("mor", lambda t: t.merge(src, "k", strategy="mor"), upserted),
        ("cow", lambda t: t.merge(src, "k"), upserted),
    ):
        t = _mk(spark, tmp_path, f"pins_{name}")
        base = jsc.getPersistentRDDs().size()
        mutate(t)
        assert jsc.getPersistentRDDs().size() == base, name
        # the pinned-marker paths still produce the exact feed
        assert _feed(t, 1, 1) == want, name


def test_fused_loser_cleanup(spark, tmp_path, monkeypatch):
    """A merge that loses the commit race removes its fused output --
    data dir, change dir, staging -- so the raw change-feed glob
    never sees a loser's rows once cleanup ran."""
    t = _mk(spark, tmp_path, "loser")
    # steal version 1 mid-merge: the racing winner's commit lands
    # right after the loser's fused write (stats harvest) finishes
    doc0 = t._commit_doc(0)
    fake = {**doc0, "version": 1, "op": "merge", "parent": 0}
    orig_h = CowTable._harvest_file_stats
    state = {"done": False}

    def steal(self, files):
        if not state["done"]:
            state["done"] = True
            with open(
                os.path.join(t.path, "_log", "00000001.json"), "w"
            ) as f:
                json.dump(fake, f)
        return orig_h(self, files)

    monkeypatch.setattr(CowTable, "_harvest_file_stats", steal)
    chg_root = os.path.join(t.path, "changes")
    with pytest.raises(ct_mod.ConcurrentWriteError):
        _merge_once(spark, t)
    # loser's change dir removed (or empty), no stage leftovers
    leftover = [
        d for d in (os.listdir(chg_root) if os.path.isdir(chg_root) else [])
        if os.listdir(os.path.join(chg_root, d))
    ]
    assert leftover == []
    stage = os.path.join(t.path, "_stage")
    assert not os.path.isdir(stage) or os.listdir(stage) == []
    # the stolen version's files are exactly v0's -- no loser data refs
    assert t.files(1) == doc0["files"]


def test_change_write_coalesces_without_aqe(spark, tmp_path):
    """ADVICE r18 #4: with adaptive execution off, the change write's
    REBALANCE hint would no-op and scatter the delta over
    shuffle-partition near-empty files; the fallback bounds it to 8."""
    t = _mk(spark, tmp_path, "noaqe", n=60, parts=3)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ddoc = t.delete("k", values=[1, 2, 3, 4, 5])
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert ddoc.get("change_files")
    assert len(ddoc["change_files"]) <= 8
    assert sorted(x[2] for x in _feed(t, 1, 1)) == ["delete"] * 5
