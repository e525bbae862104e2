"""Process plumbing shared by the benchmark's child processes: locating the
program in the checkout, Spark settings for a traced run, and the fixed
machine probes recorded as run context."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
READY = "PERFBENCH_READY"
RESULT = "PERFBENCH_RESULT"
PACKAGE = "nyc_taxi_pyspark_spark"
# the program runs as local[CORES] (SPARK_GRAFT_CPUS) in every workload
CORES = 4
# a run gives up (and prints no result) after this long
RUN_LIMIT_S = 170


class MissingProgram(RuntimeError):
    pass


def checkout_root() -> str:
    """The directory the benchmark runs from; the program lives beside
    ``perfbench/``."""
    return os.path.dirname(HERE)


def import_program():
    """Import the package from the checkout, never from anywhere else."""
    root = checkout_root()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        raise MissingProgram(f"no {PACKAGE}/ package beside perfbench/ in {root}")
    if root not in sys.path:
        sys.path.insert(0, root)
    import nyc_taxi_pyspark_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(root + os.sep):
        raise MissingProgram(f"{PACKAGE} imported from {pkg.__file__}, not {root}")
    return pkg


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


JVM_PROBE_SQL = "SELECT SUM(hash(id) % 1000) AS s FROM range(0, 4000000, 1, 4)"


def jvm_probe(spark, reps: int = 3) -> float:
    """Median seconds of a fixed CPU-bound Spark job: a context figure that
    shows when the JVM side of the machine is slow, not a gated metric."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.sql(JVM_PROBE_SQL).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def python_probe() -> float:
    """Seconds for a fixed pure-Python loop (context only)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def persisted_mb(spark) -> float:
    """Memory plus disk size of every RDD block the session holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def emit(tag: str, payload: dict | None = None) -> None:
    line = tag if payload is None else f"{tag} {json.dumps(payload, default=float)}"
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
