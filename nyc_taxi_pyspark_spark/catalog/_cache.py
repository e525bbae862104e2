"""Single-entry per-session caches for derived catalog state.

Catalog queries that reuse a derived layout (bucketed embeddings, MinHash /
SimHash signature scans, candidate pair sets) persist it once per
(SparkSession, table dir) — locally a ``persist()``, at 100 TB a layout
written next to the table at ingest — and keep derived driver-side values
(a count, a split point, a query vector) the same way. Both share one
lifecycle, :class:`SessionScalarCache`; :class:`SessionLayoutCache` only
persists the value it keeps and unpersists the one it drops. ONE live
entry per cache bounds executor storage in long-lived multi-session
processes: a stale applicationId or a switch to another table dir can
never pin dead blocks.

Staleness contract (tests/test_cache_lifecycle.py pins it): a layout entry
IS a Spark ``persist()``, so writes that go THROUGH the session are picked
up automatically (``InsertIntoHadoopFsRelation`` refreshes cached blocks by
path), while a mutation Spark cannot see (an external process rewriting
the files) keeps serving the snapshot. That is deliberate: the testdata
dirs are read-only and a 100 TB ingest-time layout is versioned with its
table, so change detection would cost a listing per call for nothing.
External writers must call the module-level :func:`invalidate` (or open a
new session / new dir) before reading cache-backed queries; it drops every
entry at once, so no derived value outlives the layout it came from.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_CACHES: weakref.WeakSet[SessionScalarCache] = weakref.WeakSet()


class SessionScalarCache:
    """One live driver-side value (a count, a split point, a query vector),
    keyed by (SparkSession identity, applicationId, sf_dir).

    The SESSION must be part of the key, not just the applicationId: a
    DataFrame is bound to the session that built it, and sibling sessions
    from ``newSession()`` share one applicationId while holding separate
    SQL confs and separate temp-view catalogs. Handing session A's cached
    frame to session B silently runs B's query under A's
    shuffle-partition/AQE layout, and ``createOrReplaceTempView`` on it
    registers the view in A's catalog where B's ``spark.sql`` can never
    see it (the layout-invariance audit caught exactly that in
    ``sql_dup_clusters_recursive``). Alternating sibling sessions
    therefore rebuild rather than share — correct, just unshared; one
    session per catalog run (the normal shape) still pays the build once.

    A cached ``None`` (an empty-input sentinel) is a value, not a miss.
    The new value is built before the old one is released, so a failed
    build leaves the old entry in place.
    """

    def __init__(self) -> None:
        self._session: SparkSession | None = None
        self._key: tuple[str, str] | None = None
        self._value = None
        self._has_value = False
        # the serving layer can run catalog queries from concurrent
        # request threads; without the lock two simultaneous misses
        # double-build and the loser's persist() leaks (displaced with no
        # unpersist). build() runs under the lock — a duplicate build
        # costs more than the brief serialization it prevents.
        self._lock = threading.Lock()
        _CACHES.add(self)

    def _keep(self, value):
        return value

    def _release(self, value) -> None:
        pass

    def get_or_build(self, spark: SparkSession, sf_dir: str, build: Callable):
        key = (spark.sparkContext.applicationId, sf_dir)
        with self._lock:
            if (
                not self._has_value
                or self._key != key
                or self._session is not spark
            ):
                value = self._keep(build())
                self._drop()
                self._session, self._key = spark, key
                self._value, self._has_value = value, True
            return self._value

    def _drop(self) -> None:
        if self._has_value:
            self._release(self._value)
        self._session, self._key = None, None
        self._value, self._has_value = None, False

    def invalidate(self) -> None:
        """Drop the live entry so the next get_or_build rebuilds from the
        current table state."""
        with self._lock:
            self._drop()


class SessionLayoutCache(SessionScalarCache):
    """One live persisted DataFrame: the value is ``persist()``-ed when
    kept and ``unpersist()``-ed when displaced or invalidated."""

    def _keep(self, value: DataFrame) -> DataFrame:
        return value.persist()

    def _release(self, value: DataFrame) -> None:
        try:
            value.unpersist()
        except Exception:
            pass  # dead session: blocks are already gone


def invalidate() -> None:
    """Drop every entry of every session cache — the escape hatch of the
    snapshot contract (module docstring) for out-of-band table writes."""
    for cache in list(_CACHES):
        cache.invalidate()
