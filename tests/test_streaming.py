"""Streaming tests: the batch twins must produce the same results when the
same transform runs under readStream (memory sink, drained synchronously)."""

from __future__ import annotations

import contextlib
import tempfile

import pytest
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.schemas import TESTDATA_SCHEMAS
from nyc_taxi_pyspark_spark.sources.io import load_table
from nyc_taxi_pyspark_spark.streaming.runner import run_stream_once
from nyc_taxi_pyspark_spark.streaming.windows import (
    session_counts,
    tumbling_counts,
    with_watermark,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """Materialize the events table (unit-sniffed by load_table) as a
    µs-timestamp parquet dir that readStream can consume."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(d)
    return d


def test_stream_tumbling_equals_batch(spark, events_dir):
    batch = tumbling_counts(load_table(spark, SF_DIR, "events"))
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: tumbling_counts(with_watermark(s)),
        output_mode="complete",
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s
    assert len(b) > 0


def test_stream_session_window_runs(spark, events_dir):
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: session_counts(with_watermark(s)),
        output_mode="complete",
    )
    batch = session_counts(load_table(spark, SF_DIR, "events"))
    assert streamed.count() == batch.count() > 0
    # streamed and batch session sets are identical
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s


def test_watermark_drops_late_data(spark):
    """Late-data semantics (§2.9): in append mode, an event arriving after
    the window's state has been evicted (watermark passed the window end at
    least one batch earlier) is DROPPED — the closed window's aggregate does
    not change. Micro-batches are forced with maxFilesPerTrigger=1. Note the
    one-batch lag: batch N runs with the watermark computed at the end of
    batch N-1, and state eviction happens at batch end — so the late event
    must arrive two batches after the watermark-advancing event (Spark only
    guarantees dropping data later than the watermark, it may still accept
    data while the window state lives)."""
    import time as _time

    import pandas as pd

    d = tempfile.mkdtemp(prefix="late_events_")

    def write_batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf, TESTDATA_SCHEMAS["events"])
        sdf.coalesce(1).write.mode("append").parquet(d)

    base = "2024-01-01 "
    # batch 0: the 10:00 window's on-time events + a 13:00 event that will
    # advance the watermark to 12:50 at batch end
    write_batch(
        [
            (1, base + "10:00:00", 1, "click", 1.0, "{}"),
            (2, base + "10:15:00", 1, "click", 1.0, "{}"),
            (3, base + "10:30:00", 2, "click", 1.0, "{}"),
            (4, base + "13:00:00", 2, "click", 1.0, "{}"),
        ]
    )
    _time.sleep(1.2)  # order file mtimes so triggers run in write order
    # batch 1 runs with watermark 12:50 > 11:00: the 10:00 window is
    # finalized (emitted with 3) and its state evicted at batch end
    write_batch([(5, base + "13:30:00", 2, "click", 1.0, "{}")])
    _time.sleep(1.2)
    # batch 2: a 10:45 straggler, now strictly later than the watermark and
    # with no live state — deterministically dropped
    write_batch([(6, base + "10:45:00", 1, "click", 1.0, "{}")])

    from nyc_taxi_pyspark_spark.streaming.windows import tumbling_counts

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = tumbling_counts(with_watermark(stream, "10 minutes"))
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM late_test WHERE window_start = TIMESTAMP '2024-01-01 10:00:00'"
    ).collect()
    # the 10:00 window was finalized by batch 1's watermark with 3 events;
    # the late 10:45 event from batch 2 was dropped, not re-emitted
    assert len(rows) == 1
    assert rows[0].n_events == 3


def test_stream_dedup_equals_batch(spark, events_dir):
    from nyc_taxi_pyspark_spark.streaming.windows import dedup_keys

    batch = dedup_keys(load_table(spark, SF_DIR, "events"))
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: dedup_keys(with_watermark(s)),
        output_mode="append",
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_stream_interval_join_equals_batch(spark, events_dir):
    """The interval join must produce identical pairs under readStream
    (watermarks on BOTH sides bound the join state) and in batch."""
    import uuid

    from nyc_taxi_pyspark_spark.streaming.windows import interval_join

    ev = load_table(spark, SF_DIR, "events")
    batch = interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
    )

    def stream_side():
        return spark.readStream.schema(TESTDATA_SCHEMAS["events"]).parquet(
            events_dir
        )

    clicks = with_watermark(stream_side().filter(F.col("event_type") == "click"))
    errors = with_watermark(stream_side().filter(F.col("event_type") == "error"))
    name = f"ij_{uuid.uuid4().hex[:8]}"
    q = (
        interval_join(clicks, errors)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in spark.table(name).collect()}
    assert b == s and len(b) > 0


def test_stream_static_enrich_equals_batch(spark, events_dir):
    """Stream-static broadcast join: append-mode, stateless — streamed
    output must equal the batch twin exactly."""
    from nyc_taxi_pyspark_spark.streaming.windows import enrich_static, severity_dim

    dim = severity_dim(spark)
    batch = enrich_static(load_table(spark, SF_DIR, "events"), dim)
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: enrich_static(s, dim),
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_parquet_stream_dir_replaces_squatters_and_stale_links(tmp_path):
    import os

    from nyc_taxi_pyspark_spark.streaming.runner import parquet_stream_dir

    src = tmp_path / "events.parquet"
    src.write_bytes(b"PAR1fake")
    d = parquet_stream_dir(str(src))
    link = os.path.join(d, "events.parquet")
    assert os.path.islink(link)
    assert os.path.realpath(link) == os.path.realpath(str(src))

    # idempotent reuse: same dir, link untouched
    assert parquet_stream_dir(str(src)) == d

    # a plain FILE squatting at the link path is replaced, not streamed
    os.unlink(link)
    with open(link, "wb") as fh:
        fh.write(b"not a symlink")
    parquet_stream_dir(str(src))
    assert os.path.islink(link)
    assert os.path.realpath(link) == os.path.realpath(str(src))

    # a DANGLING symlink (regenerated source) is replaced too
    os.unlink(link)
    os.symlink(str(tmp_path / "gone.parquet"), link)
    parquet_stream_dir(str(src))
    assert os.path.realpath(link) == os.path.realpath(str(src))

    # stale link to a DIFFERENT real file is repointed
    other = tmp_path / "other.parquet"
    other.write_bytes(b"PAR1other")
    os.unlink(link)
    os.symlink(str(other), link)
    parquet_stream_dir(str(src))
    assert os.path.realpath(link) == os.path.realpath(str(src))


def test_parquet_stream_dir_directory_source(tmp_path):
    """A Spark-written table is a DIRECTORY of part files — the shape
    every real ingest produces. The stream dir must link each data file
    (Spark's file source does not recurse into a nested directory; the
    input-layout audit caught stream_stateful_totals returning an EMPTY
    stream on exactly this), skip _SUCCESS/markers, and prune part links
    that a regeneration removed."""
    import os

    from nyc_taxi_pyspark_spark.streaming.runner import parquet_stream_dir

    src = tmp_path / "events.parquet"
    src.mkdir()
    (src / "part-00000-aaa.parquet").write_bytes(b"PAR1a")
    (src / "part-00001-bbb.parquet").write_bytes(b"PAR1b")
    (src / "_SUCCESS").write_bytes(b"")
    (src / ".part-00002-ccc.parquet.crc").write_bytes(b"x")

    d = parquet_stream_dir(str(src))
    links = sorted(os.listdir(d))
    assert links == ["part-00000-aaa.parquet", "part-00001-bbb.parquet"]
    for n in links:
        p = os.path.join(d, n)
        assert os.path.islink(p)
        assert os.path.realpath(p) == os.path.realpath(str(src / n))

    # regeneration changes the part set: removed parts are pruned, new
    # parts linked — the stream never reads a stale mix
    os.unlink(src / "part-00001-bbb.parquet")
    (src / "part-00003-ddd.parquet").write_bytes(b"PAR1d")
    assert parquet_stream_dir(str(src)) == d
    assert sorted(os.listdir(d)) == [
        "part-00000-aaa.parquet",
        "part-00003-ddd.parquet",
    ]


def test_stateful_stream_matches_on_directory_table(spark, tmp_path):
    """End-to-end: the stateful streaming query must produce the same
    final states whether events is a single parquet file (driver
    testdata) or a Spark-written multi-file directory (every real
    table)."""
    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )
    from nyc_taxi_pyspark_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    resharded = str(tmp_path / "resharded")
    load_table(spark, sf, "events").repartition(5).write.parquet(
        resharded + "/events.parquet"
    )
    # stop the streams this test starts so the reuse test below still
    # observes a cold first invocation
    with _stops_new_queries(spark):
        single = {
            tuple(r) for r in stream_stateful_totals(spark, sf).collect()
        }
        multi = {
            tuple(r)
            for r in stream_stateful_totals(spark, resharded).collect()
        }
        assert len(single) > 0
        assert single == multi


@contextlib.contextmanager
def _stops_new_queries(*sessions):
    """Stop, on exit, every query the block started on ``sessions``:
    the ids active on exit minus the ids active on entry."""
    before = {q.id for s in sessions for q in s.streams.active}
    try:
        yield
    finally:
        for s in sessions:
            for q in s.streams.active:
                if q.id not in before:
                    q.stop()


def _active_ids(*sessions) -> dict:
    """{(session index, query name): query id} over the active queries."""
    return {
        (i, q.name): q.id
        for i, s in enumerate(sessions)
        for q in s.streams.active
    }


def _small_source(spark, tmp_path, n: int = 100):
    """An ``n``-row events parquet directory and its schema."""
    src = str(tmp_path / "src")
    df = load_table(spark, SF_DIR, "events").limit(n)
    df.write.parquet(src)
    return src, spark.read.parquet(src).schema


def test_sibling_sessions_keep_their_own_tracked_streams(spark):
    """The memory sink's table is a temp view of the session that started
    the query, so each session must own its query: a sibling session's
    call starts its own query under the same name, gets the same rows,
    and leaves the first session's query running."""
    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )

    sf = SF_DIR
    sib = spark.newSession()
    with _stops_new_queries(spark, sib):
        a = {tuple(r) for r in stream_stateful_totals(spark, sf).collect()}
        mine = {q.name: q.id for q in spark.streams.active}
        b = {tuple(r) for r in stream_stateful_totals(sib, sf).collect()}
        theirs = {q.name: q.id for q in sib.streams.active}
        assert a == b and len(a) > 0
        shared = set(mine) & set(theirs)
        assert len(shared) == 1  # one query per session under one name
        (name,) = shared
        assert mine[name] != theirs[name]
        # the sibling's start took nothing over
        assert {q.name: q.id for q in spark.streams.active} == mine


def test_cached_stream_reuses_running_query(spark):
    """A second invocation drains the running query (no full stream
    startup): same rows, and the session still runs the SAME query id."""
    import time as _time

    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )

    sf = SF_DIR
    with _stops_new_queries(spark):
        before = _active_ids(spark)
        t0 = _time.perf_counter()
        first = stream_stateful_totals(spark, sf).collect()
        t_first = _time.perf_counter() - t0
        started = _active_ids(spark)
        assert len(set(started) - set(before)) == 1  # a cold first call
        t0 = _time.perf_counter()
        second = stream_stateful_totals(spark, sf).collect()
        t_second = _time.perf_counter() - t0
        assert second == first and len(first) > 0
        assert _active_ids(spark) == started  # reused, not restarted
        assert t_second < 0.5 * t_first, (t_first, t_second)


def test_concurrent_first_calls_share_one_query(spark, tmp_path):
    """More threads than cores making the first call on one key at once:
    one wins Spark's start, the others get the duplicate-name error and
    drain the winner's query. One query stays active and every call sees
    all rows."""
    import sys
    import threading

    from nyc_taxi_pyspark_spark.streaming.runner import run_stream_cached

    src, schema = _small_source(spark, tmp_path)
    n_callers = 8  # more than the session's local[4] cores
    barrier = threading.Barrier(n_callers)
    counts, errors = [], []

    def call():
        barrier.wait()
        try:
            out = run_stream_cached(
                spark, src, schema, lambda d: d, key="concurrent"
            )
            counts.append(out.count())
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with _stops_new_queries(spark):
            before = _active_ids(spark)
            threads = [threading.Thread(target=call) for _ in range(n_callers)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=180)
            assert not any(t.is_alive() for t in threads)
            assert not errors, errors
            assert counts == [100] * n_callers
            assert len(set(_active_ids(spark)) - set(before)) == 1
    finally:
        sys.setswitchinterval(interval)


def test_hung_drain_on_one_key_does_not_block_other_keys(spark, tmp_path):
    """A drain stuck on one key (a UDF that waits for a release file)
    must not block run_stream_cached on a DIFFERENT key: no lock is
    shared between keys, so the independent call completes while the
    stuck one is still draining."""
    import threading

    from nyc_taxi_pyspark_spark.streaming.runner import run_stream_cached

    src, schema = _small_source(spark, tmp_path)
    release = str(tmp_path / "release")

    def wait_for_release(d):
        @F.udf("long")
        def held(x):
            import os
            import time

            deadline = time.time() + 120
            while not os.path.exists(release) and time.time() < deadline:
                time.sleep(0.05)
            return x

        return d.select(held("event_id").alias("event_id"))

    counts: dict = {}

    def run(key, transform):
        out = run_stream_cached(spark, src, schema, transform, key=key)
        counts[key] = out.count()

    with _stops_new_queries(spark):
        stuck = threading.Thread(
            target=run, args=("stuck", wait_for_release), daemon=True
        )
        stuck.start()
        try:
            other = threading.Thread(
                target=run, args=("independent", lambda d: d), daemon=True
            )
            other.start()
            other.join(timeout=120)
            assert not other.is_alive(), "independent key blocked"
            assert counts.get("independent") == 100
            assert stuck.is_alive()  # the stuck drain was really running
        finally:
            open(release, "w").close()
            stuck.join(timeout=120)
        assert counts.get("stuck") == 100


def test_stop_all_streams_drains_registry(spark):
    """stop_all_streams must stop every query of the session — the
    pre-exit drain bench.py runs so no memory-sink stream races JVM
    teardown (the BENCH_r11 tail stack trace) — leave a sibling
    session's queries running, and be idempotent."""
    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )
    from nyc_taxi_pyspark_spark.streaming import runner

    sf = SF_DIR
    sib = spark.newSession()
    with _stops_new_queries(sib):
        assert len(stream_stateful_totals(spark, sf).collect()) > 0
        assert len(stream_stateful_totals(sib, sf).collect()) > 0
        sib_ids = _active_ids(sib)
        assert spark.streams.active and sib_ids
        runner.stop_all_streams(spark)
        assert not spark.streams.active
        assert _active_ids(sib) == sib_ids  # the sibling's keep running
        runner.stop_all_streams(spark)  # idempotent on a drained session
        assert not spark.streams.active


def test_failed_start_leaves_no_active_query(spark, tmp_path):
    """A stream whose first drain fails raises to the caller and leaves
    no query running; the next call starts afresh."""
    from nyc_taxi_pyspark_spark.streaming.runner import run_stream_cached

    src, schema = _small_source(spark, tmp_path)

    def failing(d):
        @F.udf("long")
        def boom(x):
            raise ValueError("boom")

        return d.select(boom("event_id").alias("event_id"))

    with _stops_new_queries(spark):
        before = _active_ids(spark)
        with pytest.raises(Exception, match="boom"):
            run_stream_cached(spark, src, schema, failing, key="failing")
        assert _active_ids(spark) == before


def test_restart_from_checkpoint_no_reprocessing(spark, tmp_path):
    """Exactly-once across a stop/restart: a checkpointed foreachBatch sink
    is stopped mid-stream, new source files arrive, and the RESTARTED query
    (same checkpoint) must pick up only the unseen files — every source row
    lands in the output exactly once, none twice, under fresh epoch ids."""
    from nyc_taxi_pyspark_spark.streaming.sinks import (
        write_stream_exactly_once,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(src)

    def start():
        stream = spark.readStream.schema(TESTDATA_SCHEMAS["events"]).parquet(
            src
        )
        return write_stream_exactly_once(stream, out, ckpt)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count() > 0

    second.write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(out)
    assert final.count() == ev.count()  # nothing lost, NOTHING reprocessed
    assert final.select("event_id").distinct().count() == ev.count()


def test_transform_with_state_twin(spark, events_dir):
    """Spark 4 transformWithStateInPandas twin of the GroupState operator:
    same per-user totals. Requires protobuf (the state-server wire format)
    — absent in this container, so the test documents the gate by skipping
    rather than silently passing."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip(
            "protobuf not installed: transformWithStateInPandas cannot "
            "start its state server here (documented environment stub; "
            "semantics covered by the applyInPandasWithState twin)"
        )
    from pyspark.sql import types as T

    from nyc_taxi_pyspark_spark.streaming.stateful import running_totals_tws

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    streamed = run_stream_once(
        spark, events_dir, schema, running_totals_tws, output_mode="update"
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "sum_value_cents"
            ),
        )
    )
    final = (
        streamed.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value_cents")).alias("s"))
        .select("user_id", "s.n_events", "s.sum_value_cents")
    )
    assert {tuple(r) for r in final.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_stream_ewma_matches_batch_window(spark):
    """The stateful ring-buffer EWMA's final emission per user must equal
    the batch window form evaluated at that user's last event — including
    bit-exact doubles (dyadic weights)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyc_taxi_pyspark_spark.catalog.streaming import stream_ewma_monitor
    from nyc_taxi_pyspark_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["value"], r["ewma"], r["deviation"])
        for r in stream_ewma_monitor(spark, sf).collect()
    }

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", j).over(w) for j in range(1, 9)]
    num = lags[0] * 128
    for j, lg in enumerate(lags[1:], start=1):
        num = num + lg * (2 ** (7 - j))
    batch = (
        ev.select(
            "user_id",
            "value",
            (num / F.lit(255.0)).alias("ewma"),
            lags[7].alias("l8"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            )
            .alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .alias("n_events"),
        )
        .filter((F.col("rn") == 1) & F.col("l8").isNotNull())
    )
    want = {
        r["user_id"]: (
            r["n_events"],
            r["value"],
            r["ewma"],
            r["value"] - r["ewma"],
        )
        for r in batch.collect()
    }
    assert got == want and len(got) > 0
