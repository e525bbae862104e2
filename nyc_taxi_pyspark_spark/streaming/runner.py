"""Structured Streaming execution harness.

``run_stream_once`` drives a parquet-directory source through a
transformation to a memory sink synchronously — the local-mode stand-in for
a Kafka→sink pipeline, and what the streaming tests use to prove the batch
twins really run as streams (same plan, watermark attached).

``run_stream_cached`` keeps one persistent stream per (session, source,
transform, output mode). It holds no registry of its own: each session's
``StreamingQueryManager`` (``spark.streams``) is the stream registry, and
``stop_all_streams`` stops what it lists.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import uuid
from collections.abc import Callable

from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def run_stream_once(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Read ``source_dir`` as a file stream, apply ``transform``, drain all
    available input into an in-memory table, and return it as a DataFrame.
    """
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        transform(stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _active_query(spark: SparkSession, name: str):
    """The session's active query named ``name``, or None."""
    return next((q for q in spark.streams.active if q.name == name), None)


def run_stream_cached(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    key: str | None = None,
) -> DataFrame:
    """:func:`run_stream_once` with a persistent stream: the first call
    pays full stream startup (source listing, state-store init, the
    micro-batch drain); later calls against the SAME (session, source,
    transform, mode) just ``processAllAvailable()`` on the already-running
    query — a no-op when no new files arrived — and read the memory sink.

    This is the honest long-lived-stream shape: a production monitor
    doesn't restart per evaluation, it stays subscribed and its sink
    accumulates update-mode rows; consumers reduce to final state exactly
    as the batch twins here already do (max-struct per key).

    The query name is derived from (source realpath, ``key`` or the
    transform's name, output mode), and the session's own
    ``StreamingQueryManager`` is the registry: it allows one active query
    per name per session, the memory sink's table is a temp view of that
    session (so a sibling session starts and reads its own query), and
    every query ends with its SparkContext. Concurrent first callers race
    on ``start()``; the losers get Spark's duplicate-name error and drain
    the winner's query instead. A reused query whose drain fails is
    stopped and started once afresh; a start whose first drain fails is
    stopped before the error propagates, so no query is left running.
    """
    ident = "\0".join(
        (
            os.path.realpath(source_dir),
            key or getattr(transform, "__name__", repr(transform)),
            output_mode,
        )
    )
    name = "stream_keep_" + hashlib.sha1(ident.encode()).hexdigest()[:16]
    q = _active_query(spark, name)
    if q is not None:
        try:
            q.processAllAvailable()
            return spark.table(name)
        except Exception:
            with contextlib.suppress(Exception):
                q.stop()
    try:
        q = (
            transform(spark.readStream.schema(schema).parquet(source_dir))
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    except IllegalArgumentException:
        # lost the start race: another caller's query holds the name
        q = _active_query(spark, name)
        if q is None:
            raise
    try:
        q.processAllAvailable()
    except Exception:
        with contextlib.suppress(Exception):
            q.stop()
        raise
    return spark.table(name)


def stop_all_streams(spark: SparkSession) -> None:
    """Stop every active query of ``spark`` (sibling sessions keep theirs).

    Call this before ``spark.stop()`` / process exit: a memory-sink
    stream left running while the JVM tears down races its own scheduler
    threads and prints a ScheduledThreadPoolExecutor stack trace to
    stderr during shutdown (harmless but noisy — it corrupted the tail
    of a bench artifact once). Idempotent; never raises."""
    with contextlib.suppress(Exception):
        for q in spark.streams.active:
            with contextlib.suppress(Exception):
                q.stop()


def parquet_stream_dir(src_file: str) -> str:
    """Expose a parquet table — a single FILE or a Spark-written DIRECTORY
    of part files — as a readStream-able directory via a deterministic
    per-source symlink dir (no data copy; reused across invocations
    instead of leaking a mkdtemp per run; stale links from a regenerated
    source are replaced).

    The directory case is the one that matters at scale: every
    Spark/ingest-written table is a directory of part-*.parquet, and
    Spark's file stream source does NOT recurse into a nested directory —
    symlinking the directory itself silently yields an EMPTY stream (the
    input-layout audit caught exactly that in stream_stateful_totals). A
    directory source therefore gets one symlink PER data file, and links
    whose target no longer belongs to the source (regeneration changed
    the part set) are pruned so the stream never reads a stale mix.
    """
    import tempfile

    src = os.path.realpath(src_file)
    tag = hashlib.sha1(src.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"stateful_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    if os.path.isdir(src):
        wanted = {
            n: os.path.join(src, n)
            for n in os.listdir(src)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        }
        if not wanted:
            raise RuntimeError(
                f"parquet_stream_dir: no part-*.parquet data files in {src!r}"
            )
    else:
        wanted = {os.path.basename(src): src}
    # Prune anything in the link dir that is not a symlink resolving to a
    # CURRENT data file: stale links from a regenerated source (lexists
    # catches dangling symlinks that exists() would miss), but also a
    # plain file or directory squatting on a link name. Concurrent
    # sessions share this tempdir and race on the prune itself — the
    # loser's unlink hits an already-removed name, which is success, not
    # failure (the creation loop below tolerates the same interleave).
    for n in os.listdir(d):
        p = os.path.join(d, n)
        ok = (
            os.path.islink(p)
            and n in wanted
            and os.path.realpath(p) == os.path.realpath(wanted[n])
        )
        if not ok:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(p)
    # Creation races with a concurrent session: both can pass the prune,
    # so the loser's symlink() raises FileExistsError — benign iff what
    # won resolves to the same target (re-validated), one retry covers
    # the unlink/symlink interleave.
    for name, target in wanted.items():
        link = os.path.join(d, name)
        for _ in range(2):
            if os.path.islink(link) and os.path.realpath(link) == (
                os.path.realpath(target)
            ):
                break
            if os.path.lexists(link):
                os.unlink(link)
            try:
                os.symlink(target, link)
            except FileExistsError:
                continue  # concurrent creator won; re-validate
            break
        if not (
            os.path.islink(link)
            and os.path.realpath(link) == os.path.realpath(target)
        ):
            raise RuntimeError(
                f"parquet_stream_dir: {link!r} is contended by another "
                f"writer and does not resolve to {target!r}"
            )
    return d
