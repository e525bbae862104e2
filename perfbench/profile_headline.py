"""Profile of all 109 headline queries, and the stratified choice of the
five queries the catalog-sweep workload times (``queries.SWEEP``).

    python3 perfbench/profile_headline.py --out perfbench/data/headline_profile.json

Runs ``queries.HEADLINE`` in one session on the pinned sf0.01 tables, with
4 cores and the program's own 16 GB driver-memory default: a cold pass,
then two warm passes, each query to the noop sink with its own Spark job
group per phase and Spark's event log on. It saves, per query, the warm
time (median of the warm passes), the time inside the query function, the
jobs, stages and tasks of each warm pass and whether the query reaches the
session layout caches or the streaming runner. Then it prints the choice
beside per-query means of the whole pass and of the sample. Takes about 5
minutes and up to 4.5 GB of memory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import common
import queries
import spans
import stats

STRATA = 5


def choose(profile: dict, k: int = STRATA) -> list[str]:
    """Stratified sample of ``k`` queries, on measured warm time and jobs.

    The queries, sorted by warm time, are cut into ``k`` strata of (nearly)
    equal size. Each stratum contributes the query whose warm job count is
    nearest the stratum's median job count, ties going to the query whose
    time is nearest the stratum's median time, then to the name. So the
    sample spans the whole cost range, one query per k-th of it, and within
    each it is a typical query by jobs.

    Two layers are reached by few queries: the streaming runner and the
    session layout caches. If no pick reaches one of them, the stratum
    holding the nearest-to-typical query that does swaps its pick for it
    (a stratum whose pick is the sample's only query of the other layer is
    not swapped), so that every layer the workload reports is measured
    where the profile allows it.
    """
    qs = profile["queries"]
    names = sorted(qs, key=lambda n: (qs[n]["warm_s"], n))
    strata = [names[i * len(names) // k:(i + 1) * len(names) // k] for i in range(k)]

    def distance(n: str, stratum: list[str]) -> tuple:
        jobs = stats.median([qs[m]["jobs"] for m in stratum])
        t = stats.median([qs[m]["warm_s"] for m in stratum])
        return (abs(qs[n]["jobs"] - jobs), abs(qs[n]["warm_s"] - t), n)

    picks = [min(s, key=lambda n: distance(n, s)) for s in strata]
    for layer in ("streaming", "layouts"):
        if any(qs[p][layer] for p in picks):
            continue
        other = "layouts" if layer == "streaming" else "streaming"
        candidates = [
            (distance(n, s), i, n) for i, s in enumerate(strata) for n in s
            if qs[n][layer] and not (qs[picks[i]][other]
                                     and sum(qs[p][other] for p in picks) == 1)
        ]
        if candidates:
            _d, i, n = min(candidates)
            picks[i] = n
    return picks


def summary(profile: dict, names: list[str]) -> dict:
    """Per-query means of a set of queries, to set a sample beside the full
    pass."""
    qs = [profile["queries"][n] for n in names]
    warm = sum(q["warm_s"] for q in qs)
    return {
        "queries": len(qs),
        "warm_s_per_query": warm / len(qs),
        "jobs_per_query": sum(q["jobs"] for q in qs) / len(qs),
        "stages_per_query": sum(q["stages"] for q in qs) / len(qs),
        "tasks_per_query": sum(q["tasks"] for q in qs) / len(qs),
        "build_share": sum(q["build_s"] for q in qs) / warm,
        "streaming_queries": sum(q["streaming"] for q in qs),
        "layout_queries": sum(q["layouts"] for q in qs),
    }


def profile_headline(workdir: str, warm_passes: int = 2) -> dict:
    import layers
    import run
    from catalog_sweep import Sweep

    os.environ.update(run.child_env(workdir))
    os.environ.pop("SPARK_DRIVER_MEMORY")
    common.import_program()
    from nyc_taxi_pyspark_spark.catalog import QUERIES
    from nyc_taxi_pyspark_spark.session import get_spark

    tracer = spans.Tracer()
    layers.install(tracer)
    log_dir = os.path.join(workdir, "eventlog")
    spark = get_spark("perfbench-headline-profile", extra_conf=common.event_log_conf(log_dir))
    names = list(queries.HEADLINE)
    outcomes = stats.Outcomes()
    sweep = Sweep(spark, QUERIES, names, outcomes, tracer)
    t0 = time.perf_counter()
    cold = sweep.run_pass("cold", traced=True)
    cold_s = time.perf_counter() - t0
    # warm passes run with the wrappers switched off; job groups stay on
    warm = [sweep.run_pass(f"warm{i}", traced=False) for i in range(warm_passes)]
    spark.stop()
    if outcomes.failed:
        raise RuntimeError(f"failed queries: {outcomes.problems}")

    by_key = spans.attribute_jobs(
        spans.parse_event_log(spans.event_log_files(log_dir))["jobs"], sweep.windows, "pb:"
    )
    reached: dict[str, set] = {n: set() for n in names}
    for s in tracer.spans:
        trace = s["trace"] or ""
        if trace.startswith("cold:"):
            reached[trace[len("cold:"):]].add(s["name"])
    per_query = {}
    for n in names:
        counts = []
        for i in range(warm_passes):
            q = spans.sum_jobs(by_key.get(f"warm{i}:{n}:build", [])
                               + by_key.get(f"warm{i}:{n}:action", []))
            counts.append((q["jobs"], q["stages"], q["tasks"]))
        per_query[n] = {
            "warm_s": stats.median([sum(p["queries"][n]) for p in warm]),
            "build_s": stats.median([p["queries"][n][0] for p in warm]),
            "cold_s": sum(cold["queries"][n]),
            "jobs": stats.median([c[0] for c in counts]),
            "stages": stats.median([c[1] for c in counts]),
            "tasks": stats.median([c[2] for c in counts]),
            "counts_per_warm_pass": counts,
            "streaming": "streaming.run" in reached[n],
            "layouts": "catalog.layout_get" in reached[n],
        }
    return {
        "cores": common.CORES,
        "cold_pass_s": cold_s,
        "warm_pass_s": [p["wall_s"] for p in warm],
        "queries": per_query,
    }


def report(profile: dict) -> dict:
    picks = choose(profile)
    full = summary(profile, list(profile["queries"]))
    sample = summary(profile, picks)
    return {"sweep": picks, "full_pass": full, "sample": sample}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True, help="save the profile here")
    args = ap.parse_args(argv)
    workdir = os.path.join(common.checkout_root(), ".perfbench_work", "headline-profile")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    profile = profile_headline(workdir)
    with open(args.out, "w") as f:
        json.dump(profile, f, indent=1, sort_keys=True)
    print(json.dumps(report(profile), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
