"""Session cache lifecycle (VERDICT r9 item 7).

The catalog's session state lives in catalog._cache: persisted layouts
(_COPURCHASE_CACHE, the MinHash/SimHash signature layouts, IVF centroids,
the trigram postings) are SessionLayoutCache instances, and derived
driver-side values (_KCORE_K, the similarity query vector and centroids)
are SessionScalarCache instances. Both follow ONE lifecycle, keyed by
(session identity, applicationId, sf_dir). These tests pin the documented
contract: an entry is a SNAPSHOT of the table at first use (same semantics
as Spark's CACHE TABLE — in-place file mutation is not detected), the
module-level ``_cache.invalidate()`` (or a cache's own ``invalidate()``) is
the explicit escape hatch, and switching sf_dir or session rebuilds
without manual action.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_pyspark_spark.catalog._cache import SessionLayoutCache  # noqa: E402


def _write(spark, path: str, n: int) -> None:
    spark.range(n).withColumnRenamed("id", "k").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_same_session_writes_are_seen_through_the_cache(spark, tmp_path):
    """A write THROUGH this session refreshes Spark's cached blocks by
    path (InsertIntoHadoopFsRelation → refreshByPath), so the layout
    transparently re-materializes from the new files — with no rebuild
    of the Python-side entry."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    cache = SessionLayoutCache()
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(table)

    first = cache.get_or_build(spark, str(tmp_path), build)
    assert first.count() == 3 and len(builds) == 1

    _write(spark, table, 5)  # same-session overwrite
    again = cache.get_or_build(spark, str(tmp_path), build)
    assert len(builds) == 1  # python entry reused
    assert again.count() == 5  # Spark refreshed the cached blocks itself


def test_out_of_band_mutation_follows_snapshot_contract(spark, tmp_path):
    """A mutation Spark does NOT see (external process writing the files
    directly) leaves the materialized blocks serving the snapshot — the
    documented contract — and invalidate() is the escape hatch."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    cache = SessionLayoutCache()
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(table)

    first = cache.get_or_build(spark, str(tmp_path), build)
    assert first.count() == 3 and len(builds) == 1

    # out-of-band rewrite: no spark catalog refresh happens
    shutil.rmtree(table)
    os.makedirs(table)
    pq.write_table(
        pa.table({"k": pa.array(range(5), type=pa.int64())}),
        os.path.join(table, "part-0.parquet"),
    )
    again = cache.get_or_build(spark, str(tmp_path), build)
    assert len(builds) == 1
    assert again.count() == 3  # materialized snapshot, stale BY CONTRACT

    # the documented escape hatch picks up the mutation
    cache.invalidate()
    fresh = cache.get_or_build(spark, str(tmp_path), build)
    assert len(builds) == 2
    assert fresh.count() == 5


def test_dir_switch_rebuilds_and_displaces(spark, tmp_path):
    """A different sf_dir is a different key: rebuilds immediately and
    unpersists the displaced layout (single-live-entry discipline)."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(spark, a + "/t.parquet", 2)
    _write(spark, b + "/t.parquet", 7)
    cache = SessionLayoutCache()
    da = cache.get_or_build(
        spark, a, lambda: spark.read.parquet(a + "/t.parquet")
    )
    assert da.count() == 2 and da.storageLevel.useMemory
    db = cache.get_or_build(
        spark, b, lambda: spark.read.parquet(b + "/t.parquet")
    )
    assert db.count() == 7
    assert not da.storageLevel.useMemory  # displaced entry unpersisted
    # switching back is also a rebuild (single entry, not an LRU)
    da2 = cache.get_or_build(
        spark, a, lambda: spark.read.parquet(a + "/t.parquet")
    )
    assert da2.count() == 2


def test_sibling_session_rebuilds_in_its_own_session(spark, tmp_path):
    """Sibling sessions share an applicationId but NOT temp-view catalogs
    or SQL confs, so the session must be part of the cache key: handing
    session A's frame to session B registers B's temp views in A's
    catalog (the layout audit caught this in sql_dup_clusters_recursive)
    and runs B's query under A's layout conf. A sibling call must rebuild
    with a frame bound to the sibling."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 4)
    cache = SessionLayoutCache()
    builds = []

    def build_on(sess):
        def build():
            builds.append(1)
            return sess.read.parquet(table)

        return build

    da = cache.get_or_build(spark, str(tmp_path), build_on(spark))
    assert da.count() == 4 and len(builds) == 1

    sib = spark.newSession()
    db = cache.get_or_build(sib, str(tmp_path), build_on(sib))
    assert len(builds) == 2  # same appId, different session => rebuild
    assert db.sparkSession is sib
    # the sibling's frame registers temp views in the SIBLING's catalog
    db.createOrReplaceTempView("__cache_sib_probe")
    assert sib.sql("SELECT COUNT(*) AS n FROM __cache_sib_probe").first().n == 4
    sib.catalog.dropTempView("__cache_sib_probe")


def test_concurrent_misses_build_once(spark, tmp_path):
    """Two request threads missing simultaneously must not double-build:
    the loser's persist() would be displaced with no unpersist (a storage
    leak in a long-lived serving process). The lock serializes the build;
    the second thread sees the fresh entry and reuses it."""
    import threading
    import time

    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    cache = SessionLayoutCache()
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.2)  # widen the race window
        return spark.read.parquet(table)

    results = []

    def worker():
        results.append(cache.get_or_build(spark, str(tmp_path), build))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1
    assert all(r is results[0] for r in results)


def test_invalidate_is_safe_when_empty():
    SessionLayoutCache().invalidate()  # no entry, no error


class _StubSpark:
    """Minimal stand-in: SessionScalarCache touches only
    sparkContext.applicationId and object identity."""

    class _Ctx:
        def __init__(self, app_id):
            self.applicationId = app_id

    def __init__(self, app_id="app-1"):
        self.sparkContext = self._Ctx(app_id)


def test_scalar_cache_follows_layout_lifecycle():
    """VERDICT r15 item 8: the scalar session state (_KCORE_K,
    _BLOOM_SPLIT, _SYNDICATION_N) obeys the SAME key/displacement/
    invalidate discipline as the layout caches — single live entry,
    rebuild on app/dir/session change, explicit invalidate, and a
    cached None (empty-input sentinel) never re-runs the build."""
    from nyc_taxi_pyspark_spark.catalog._cache import SessionScalarCache

    cache = SessionScalarCache()
    calls = []

    def build(v):
        def _b():
            calls.append(v)
            return v

        return _b

    s1 = _StubSpark("app-1")
    assert cache.get_or_build(s1, "/d1", build(41)) == 41
    assert cache.get_or_build(s1, "/d1", build(99)) == 41  # hit, no rebuild
    assert calls == [41]
    # dir switch displaces the single entry
    assert cache.get_or_build(s1, "/d2", build(42)) == 42
    # ...and switching back rebuilds (single-entry, bounded)
    assert cache.get_or_build(s1, "/d1", build(43)) == 43
    # session identity is part of the key even with the same applicationId
    s1b = _StubSpark("app-1")
    assert cache.get_or_build(s1b, "/d1", build(44)) == 44
    # invalidate is the external-writer escape hatch
    cache.invalidate()
    assert cache.get_or_build(s1b, "/d1", build(45)) == 45
    # a cached None (e.g. kcore's empty-graph k) is a value, not a miss
    s2 = _StubSpark("app-2")
    assert cache.get_or_build(s2, "/d1", build(None)) is None
    assert cache.get_or_build(s2, "/d1", build(46)) is None
    assert calls == [41, 42, 43, 44, 45, None]


def test_module_invalidate_drops_layouts_and_scalars(spark, tmp_path):
    """One module-level invalidate() drops every entry: a layout and the
    scalar derived from it are rebuilt together, and a failed build
    leaves the previous entry in place."""
    from nyc_taxi_pyspark_spark.catalog import _cache

    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    layout, scalar = _cache.SessionLayoutCache(), _cache.SessionScalarCache()
    df = layout.get_or_build(spark, "/d", lambda: spark.read.parquet(table))
    assert scalar.get_or_build(spark, "/d", df.count) == 3
    assert df.storageLevel.useMemory

    def failing():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        layout.get_or_build(spark, "/other", failing)
    assert layout.get_or_build(spark, "/d", failing) is df  # old entry kept

    _cache.invalidate()
    assert not df.storageLevel.useMemory  # layout unpersisted
    assert scalar.get_or_build(spark, "/d", lambda: 7) == 7  # scalar rebuilt


def test_similarity_memos_follow_invalidate(spark, tmp_path):
    """The similarity query vector and IVF centroids are session state:
    after an out-of-band rewrite of embeddings.parquet, invalidate()
    makes the next call read the new values."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from conftest import SF_DIR

    from nyc_taxi_pyspark_spark.catalog import _cache
    from nyc_taxi_pyspark_spark.catalog.similarity import (
        _centroids,
        _query_vec_literal,
    )

    sf = str(tmp_path)
    path = os.path.join(sf, "embeddings.parquet")
    emb = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    pq.write_table(emb, path)
    old_q = _query_vec_literal(spark, sf)
    old_c = _centroids(spark, sf)

    # out-of-band rewrite: every vector scaled by 2 (exact in float32)
    vecs = emb["embedding"].combine_chunks()
    doubled = pa.ListArray.from_arrays(
        vecs.offsets,
        pc.multiply(vecs.values, pa.scalar(2.0, pa.float32())),
        mask=vecs.is_null(),
    )
    pq.write_table(emb.set_column(1, "embedding", doubled), path)
    _cache.invalidate()

    assert _query_vec_literal(spark, sf) == [2 * x for x in old_q]
    assert _centroids(spark, sf) == [
        (i, [2 * x for x in v]) for i, v in old_c
    ]
