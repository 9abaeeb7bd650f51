"""The r19 commit-doc memo (sources/cow_table._DOC_CACHE): parsed
commit docs are process-cached keyed by (path, mtime_ns, size) --
commit docs are immutable once linked, but they carry per-file stats,
so one mutation used to re-parse the head doc 6-10 times.  Pinned
here: cache hits return the committed content, and a table REMOVED
and RE-CREATED at the same path can never serve a stale doc (the
stat-identity key)."""

from __future__ import annotations

import shutil
import sys

import pytest

sys.path.insert(0, "/root/repo")

from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (  # noqa: E402
    CowTable,
)


def test_doc_cache_serves_committed_content(spark, tmp_path):
    df = spark.range(10).selectExpr("id AS k", "id AS v")
    t = CowTable.create(spark, str(tmp_path / "t"), df)
    d1 = t._commit_doc(0)
    d2 = CowTable(spark, str(tmp_path / "t"))._commit_doc(0)
    assert d1 is d2  # memo hit across instances
    assert d1["op"] == "create" and d1["version"] == 0


def test_doc_cache_never_stale_after_recreate(spark, tmp_path):
    p = str(tmp_path / "re")
    t = CowTable.create(
        spark, p,
        spark.range(5).selectExpr("id AS k", "id AS v").coalesce(1),
    )
    assert t._commit_doc(0)["files_written"] == 1
    shutil.rmtree(p)
    t2 = CowTable.create(
        spark, p,
        spark.range(20).selectExpr("id AS k", "id AS v").repartition(2),
    )
    doc = t2._commit_doc(0)
    assert doc["files_written"] == 2  # fresh table's doc, not the memo
    assert len(t2.read().collect()) == 20


def test_doc_cache_missing_version_raises(spark, tmp_path):
    t = CowTable.create(
        spark, str(tmp_path / "m"),
        spark.range(3).selectExpr("id AS k", "id AS v"),
    )
    with pytest.raises(OSError):
        t._commit_doc(7)


def test_doc_cache_eviction_is_thread_safe(tmp_path):
    """The memo is process-wide, so threads sharing tables race its
    evict step: without the lock, two threads that both see the cache
    full pop the same oldest key and one raises ``KeyError`` (or
    ``RuntimeError`` when the dict changes mid-iteration).  8 threads
    cycle through more versions than ``_DOC_CACHE_MAX`` with the GIL
    switch interval lowered so the interleaving actually happens."""
    import json
    import os
    import threading

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import (
        cow_table as ct,
    )

    n_versions = 4 * ct._DOC_CACHE_MAX
    t = CowTable(None, str(tmp_path / "hammer"))
    os.makedirs(os.path.join(t.path, "_log"))
    for v in range(n_versions):
        with open(ct._commit_path(t.path, v), "w") as f:
            json.dump({"version": v, "op": "merge", "files": []}, f)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    errors: list = []
    start = threading.Barrier(8)

    def hammer(seed: int):
        start.wait()
        try:
            for i in range(300):
                v = (seed * 7 + i) % n_versions
                assert t._commit_doc(v)["version"] == v
        except Exception as exc:  # noqa: BLE001 -- collected, re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=hammer, args=(s,)) for s in range(8)]
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(ct._DOC_CACHE) <= ct._DOC_CACHE_MAX
