"""catalog-sweep worker: one Spark session that times the pinned catalog
queries, each materialized to the noop sink, in a seed-shuffled order.

    python3 perfbench/catalog_sweep.py --seed 1 --seconds 14 --trace 0 --workdir DIR

Prints ``PERFBENCH_READY`` once the session is up and the catalog imported,
then ``PERFBENCH_RESULT {...}`` as its last line. With ``--setup-only`` it
stops after the ready line. Started and timed by ``run.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import random
import sys
import time

import common
import metrics
import queries
import spans
import stats

# 5 queries x 4 passes = 20 latency samples, the fewest that leave ten
# beyond the p50
MIN_WARM_PASSES = 4
PASS_SECONDS = 3.5


def warm_passes(seconds: float) -> int:
    """A fixed number of warm passes for a run of ``seconds``, never fewer
    than MIN_WARM_PASSES."""
    return max(MIN_WARM_PASSES, round(seconds / PASS_SECONDS))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Sweep:
    """Runs passes over the queries. In a traced run each query's build
    (the query function) and action (the noop write) get their own Spark
    job group and time window, so the event log attributes every job."""

    def __init__(self, spark, query_fns, names, outcomes, tracer=None):
        self.spark, self.fns, self.names = spark, query_fns, names
        self.outcomes, self.tracer = outcomes, tracer
        self.windows: list[tuple[str, float, float]] = []

    def run_pass(self, label: str, traced: bool, collect: bool = False) -> dict:
        """One pass over the queries. The action is the noop write, or with
        ``collect`` a ``toPandas()`` whose results the pass returns."""
        sc = self.spark.sparkContext
        tracer = self.tracer
        if tracer is not None:
            tracer.enabled = traced
        before = dict(tracer.counts) if tracer else {}
        per_query, results = {}, {}
        t_pass = time.perf_counter()
        for name in self.names:
            if tracer is not None:
                tracer.set_trace(f"{label}:{name}")
                sc.setJobGroup(f"pb:{label}:{name}:build", name)
            w0, t0 = time.time(), time.perf_counter()
            try:
                with self._span("catalog.build"):
                    df = self.fns[name](self.spark, common.DATA_DIR)
                t1, w1 = time.perf_counter(), time.time()
                if tracer is not None:
                    sc.setJobGroup(f"pb:{label}:{name}:action", name)
                w1b, t1b = time.time(), time.perf_counter()
                with self._span("catalog.action"):
                    if collect:
                        results[name] = df.toPandas()
                    else:
                        materialize(df)
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                self.outcomes.record(False, f"{label} {name}: {type(e).__name__}: {e}"[:300])
                continue
            t2, w2 = time.perf_counter(), time.time()
            self.outcomes.record(True)
            per_query[name] = (t1 - t0, t2 - t1b)
            self.windows += [(f"{label}:{name}:build", w0, w1),
                             (f"{label}:{name}:action", w1b, w2)]
        if tracer is not None:
            sc.setJobGroup("pb:idle", "idle")
            tracer.set_trace(None)
        counts = {k: v - before.get(k, 0) for k, v in tracer.counts.items()} if tracer else {}
        return {"queries": per_query, "wall_s": time.perf_counter() - t_pass, "counts": counts,
                "results": results}

    def _span(self, name: str):
        if self.tracer is None or not self.tracer.enabled:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def time_plans(self) -> dict:
        """Analysis and planning of every query, outside the timed passes so
        that it adds nothing to their wall time: one timed
        ``formatted_plan(df)`` and one ``shuffle_count(df)`` per query."""
        from nyc_taxi_pyspark_spark.plans.explain import formatted_plan, shuffle_count

        self.tracer.enabled = False
        self.spark.sparkContext.setJobGroup("pb:plans", "plans")
        plan_ms, exchanges = [], 0
        for name in self.names:
            df = self.fns[name](self.spark, common.DATA_DIR)
            t0 = time.perf_counter()
            formatted_plan(df)
            plan_ms.append((time.perf_counter() - t0) * 1000)
            exchanges += shuffle_count(df)
        self.spark.sparkContext.setJobGroup("pb:idle", "idle")
        return {"plan_ms": plan_ms, "exchanges": exchanges}


def check_results(results, oracles, names, outcomes: stats.Outcomes) -> None:
    """Compare each query's collected rows with its DuckDB oracle, using the
    repository's parity comparator (``scripts/check_parity.py``). A query
    that failed in the pass has no rows and was counted there."""
    import duckdb

    parity = _load_parity_module()
    con = duckdb.connect()
    for t in sorted(os.listdir(common.DATA_DIR)):
        if t.endswith(".parquet"):
            path = os.path.join(common.DATA_DIR, t)
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
    for name in names:
        if name not in results:
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
            problems = parity.compare(name, results[name], want)
        except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
            problems = [f"error: {type(e).__name__}: {e}"]
        outcomes.record(not problems, f"check {name}: {'; '.join(problems)}"[:300])
    con.close()


def _load_parity_module():
    import importlib.util

    path = os.path.join(common.checkout_root(), "scripts", "check_parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)

    common.import_program()
    from nyc_taxi_pyspark_spark.catalog import ORACLES, QUERIES
    from nyc_taxi_pyspark_spark.session import get_spark

    tracer = spans.Tracer() if args.trace else None
    extra_conf = None
    log_dir = os.path.join(args.workdir, "eventlog")
    if tracer is not None:
        import layers

        layers.install(tracer)
        extra_conf = common.event_log_conf(log_dir)
    t0 = time.perf_counter()
    spark = get_spark("perfbench-catalog-sweep", extra_conf=extra_conf)
    session_start_s = time.perf_counter() - t0
    common.emit(common.READY)
    if args.setup_only:
        time.sleep(600)  # run.py kills the process group after the ready line
        return 0

    names = list(queries.SWEEP)
    random.Random(args.seed).shuffle(names)
    outcomes = stats.Outcomes()
    sweep = Sweep(spark, QUERIES, names, outcomes, tracer)

    # the cold pass collects every answer; comparing them with the oracles
    # is not timed
    cold = sweep.run_pass("cold", traced=True, collect=True)
    t_check = time.perf_counter()
    check_results(cold.pop("results"), ORACLES, sorted(names), outcomes)
    check_s = time.perf_counter() - t_check
    # untimed: the first pass after the cold one is still much slower (JIT)
    sweep.run_pass("warmup", traced=False)
    # In a traced run the warm passes switch the wrappers off, on, on, off
    # (and so on), which cancels a steady warm-up trend; the on passes' wall
    # time against the off passes' is the tracing overhead.
    warm = [
        sweep.run_pass(f"warm{i}", traced=traced_pass(i))
        for i in range(warm_passes(args.seconds))
    ]
    plans = sweep.time_plans() if tracer is not None else None
    persisted = common.persisted_mb(spark)

    result = summarize(names, cold, warm, outcomes)
    result["peak_rss_mb"] = stats.tree_hwm_mb(os.getpid())
    result["context"] = {"check_s": check_s, "jvm_probe_s": common.jvm_probe(spark),
                         "python_probe_s": common.python_probe()}
    if tracer is not None:
        spark.stop()  # completes the event log; run.py kills an untraced worker
        layer_values, per_query = layer_metrics(
            names, sweep, cold, warm, plans, tracer, log_dir, session_start_s, persisted,
            outcomes,
        )
        result["layers"] = layer_values
        tracer.dump(os.path.join(args.workdir, "spans-catalog-sweep.json"),
                    {"per_query": per_query, "layers": layer_values})
    common.emit(common.RESULT, result)
    return 0


def traced_pass(i: int) -> bool:
    return i % 4 in (1, 2)


def summarize(names, cold, warm, outcomes) -> dict:
    lat_ms = [(b + a) * 1000 for p in warm for (b, a) in p["queries"].values()]
    walls = [p["wall_s"] for p in warm]
    return {
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "problems": outcomes.problems,
        "n_queries": len(names),
        "warm_passes": len(warm),
        "latency_samples": len(lat_ms),
        "cold_s": cold["wall_s"],
        "warm_pass_walls_s": walls,
        "cold_query_s": {n: b + a for n, (b, a) in cold["queries"].items()},
        "warm_query_s": {n: [sum(p["queries"][n]) for p in warm if n in p["queries"]]
                         for n in names},
        "ops_per_s": len(names) / stats.median(walls),
        "op_p50_ms": stats.percentile(lat_ms, 50)
        if stats.tail_percentile(len(lat_ms), 50) else None,
    }


def layer_metrics(names, sweep, cold, warm, plans, tracer, log_dir, session_start_s,
                  persisted_mb, outcomes) -> tuple[dict, dict]:
    """Per-layer figures: medians over the traced warm passes, plus the
    cold pass's layout builds. Also returns per-query job counts."""
    log = spans.parse_event_log(spans.event_log_files(log_dir))
    by_key = spans.attribute_jobs(log["jobs"], sweep.windows, prefix="pb:")
    on = [i for i in range(len(warm)) if traced_pass(i)]
    traced = [warm[i] for i in on]

    per_pass = []
    # (jobs, stages, tasks) of each query in each traced warm pass
    counts_per_query: dict[str, list[tuple[int, int, int]]] = {n: [] for n in names}
    for i, p in zip(on, traced):
        label = f"warm{i}"
        build_jobs, all_jobs = [], []
        for n in names:
            b = by_key.get(f"{label}:{n}:build", [])
            a = by_key.get(f"{label}:{n}:action", [])
            build_jobs += b
            all_jobs += b + a
            q = spans.sum_jobs(b + a)
            counts_per_query[n].append((q["jobs"], q["stages"], q["tasks"]))
        per_pass.append({
            "wall_s": p["wall_s"],
            "build_s": sum(b for b, _a in p["queries"].values()),
            "action_s": sum(a for _b, a in p["queries"].values()),
            "build_jobs": len(build_jobs),
            "stream_s": sum(sum(t) for n, t in p["queries"].items() if n.startswith("stream_")),
            **spans.sum_jobs(all_jobs),
        })
    untraced_wall = stats.median([p["wall_s"] for i, p in enumerate(warm) if i not in on])
    drift = sorted(n for n, cs in counts_per_query.items() if len(set(cs)) > 1)
    m = {k: stats.median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    counts = traced[0]["counts"]
    hits = counts.get("catalog.layout_hits", 0)
    builds = counts.get("catalog.layout_builds", 0)
    cold_self = spans.self_times([s for s in tracer.spans if (s["trace"] or "").startswith("cold:")])

    out = dict.fromkeys(metrics.PER_LAYER, 0.0)
    out.update(metrics.spark_layers(m, len(names), m["wall_s"], common.CORES))
    out.update({
        "session.start_s": session_start_s,
        "sources.load_table_calls": counts.get("sources.load_table", 0),
        "operators.calls": counts.get("operators.call", 0),
        "catalog.build_s": m["build_s"],
        "catalog.action_s": m["action_s"],
        "catalog.build_jobs": m["build_jobs"],
        "catalog.jobs": m["jobs"],
        "catalog.stages": m["stages"],
        "catalog.tasks": m["tasks"],
        "catalog.max_query_jobs": max(c[0] for cs in counts_per_query.values() for c in cs),
        "catalog.count_drift_queries": len(drift),
        "catalog.layout_builds": cold["counts"].get("catalog.layout_builds", 0),
        "catalog.layout_hits": hits,
        "catalog.layout_hit_ratio": hits / (hits + builds) if hits + builds else 1.0,
        "catalog.layout_build_s": cold_self.get("catalog.layout_build", 0.0),
        "catalog.persisted_mb": persisted_mb,
        "streaming.query_s": m["stream_s"],
        "plans.plan_ms": stats.median(plans["plan_ms"]),
        "plans.exchanges": plans["exchanges"],
        "failed_share": outcomes.failed_share,
        "trace.overhead_pct": (m["wall_s"] / untraced_wall - 1) * 100,
    })
    return out, {"jobs_stages_tasks_per_warm_pass": counts_per_query, "count_drift": drift}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except common.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(3)
