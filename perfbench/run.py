"""Benchmark entry point: run one workload with one seed and print its
metrics as a JSON line.

    python3 perfbench/run.py --workload catalog-sweep --seed 1 --seconds 14 --trace 0

Run from the repository root. The program is started as child processes
(the catalog worker or the web console), so the set-up time covers a whole
process start: interpreter, imports, JVM and Spark session. Every
process started is stopped and waited for before this one exits.

The last line of standard output is
``{"correct": ..., "attempted": N, "failed": N, "metrics": {...}}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The line before it holds the run's context (seed, machine probes, sample
counts). A traced run also writes its spans under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time
import urllib.parse

import common
import console
import metrics
import stats

WORKLOADS = ("catalog-sweep", "sql-console")
SETUP_SAMPLES = 2

class Child:
    """A benchmark child process in its own process group, with stdout read
    line by line against a deadline and stderr sent to a log file."""

    def __init__(self, cmd: list[str], env: dict, log_path: str, deadline: float):
        self.deadline = deadline
        self.log = open(log_path, "ab")
        self.t_start = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=self.log, env=env,
            cwd=common.checkout_root(), start_new_session=True,
        )
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.proc.stdout, selectors.EVENT_READ)
        self._buf = b""

    def wait_line(self, prefix: str) -> str:
        """Block until a stdout line starting with ``prefix``; return it."""
        while True:
            while b"\n" in self._buf:
                line, self._buf = self._buf.split(b"\n", 1)
                text = line.decode("utf-8", "replace")
                if text.startswith(prefix):
                    return text
            left = self.deadline - time.time()
            if left <= 0:
                raise TimeoutError(f"no {prefix!r} line before the deadline")
            if not self.sel.select(timeout=min(left, 1.0)):
                continue
            chunk = os.read(self.proc.stdout.fileno(), 65536)
            if not chunk:
                raise RuntimeError(f"child exited with {self.proc.wait()} before {prefix!r}")
            self._buf += chunk

    def stop(self) -> None:
        """Kill the whole process group (interpreter, JVM, Python workers)
        and wait until every member has ended."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for _ in range(200):
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        self.sel.close()
        self.proc.stdout.close()
        self.log.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.stop()
        return False


def child_env(workdir: str) -> dict:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([common.HERE, common.checkout_root()]),
        PYTHONUNBUFFERED="1",
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(common.CORES),
        # A 1 GB driver heap instead of the program's 16 GB default: with the
        # default, peak RSS follows the garbage collector's heap sizing and
        # varied by 26-36% (IQR/median) between runs, more than any bound
        # allows. README.md, "Driver memory", has both measurements.
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # keep the JVM's temp files and perf-data file inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def extra_setups(args) -> int:
    """Set-up-only process starts before the main one; a traced run reports
    no set-up time, so it starts none."""
    return 0 if args.trace else SETUP_SAMPLES - 1


def run_catalog(args, env, workdir, deadline) -> tuple[list[float], dict]:
    cmd = [sys.executable, os.path.join(common.HERE, "catalog_sweep.py"),
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--workdir", workdir]
    log = os.path.join(workdir, "catalog-sweep.log")
    setups = []
    for _ in range(extra_setups(args)):
        with Child(cmd + ["--setup-only"], env, log, deadline) as c:
            c.wait_line(common.READY)
            setups.append(time.perf_counter() - c.t_start)
    with Child(cmd, env, log, deadline) as c:
        c.wait_line(common.READY)
        setups.append(time.perf_counter() - c.t_start)
        line = c.wait_line(common.RESULT)
    return setups, json.loads(line[len(common.RESULT):])


def start_console(env, workdir, deadline, trace: bool) -> tuple["Child", int, float]:
    """Start the console server; return it, its port and its set-up time
    (process start until ``/tables`` answers)."""
    cmd = [sys.executable, "-u", os.path.join(common.HERE, "console_server.py"),
           "--workdir", workdir] + (["--trace"] if trace else [])
    c = Child(cmd, env, os.path.join(workdir, "sql-console.log"), deadline)
    try:
        line = c.wait_line("engine-web listening on")
        port = int(line.rsplit(":", 1)[1].strip().rstrip("/"))
        while True:
            try:
                status, _body = console.fetch(port, "/tables", timeout=5)
                if status == 200:
                    break
            except OSError:
                pass
            if time.time() > deadline:
                raise TimeoutError("console never answered /tables")
            time.sleep(0.02)
        return c, port, time.perf_counter() - c.t_start
    except BaseException:
        c.stop()
        raise


def run_console(args, env, workdir, deadline) -> tuple[list[float], dict]:
    setups = []
    for _ in range(extra_setups(args)):
        c, _port, setup = start_console(env, workdir, deadline, trace=False)
        c.stop()
        setups.append(setup)
    c, port, setup = start_console(env, workdir, deadline, trace=bool(args.trace))
    setups.append(setup)
    outcomes = stats.Outcomes()
    try:
        toggle = None
        if args.trace:
            def toggle(on: bool) -> None:
                console.fetch(port, f"/__perfbench/trace?on={int(on)}")
        res = console.drive(port, args.seed, args.seconds, outcomes, toggle_trace=toggle)
        res["context"] = {"jvm_probe_s": _console_jvm_probe(port)}
        res["peak_rss_mb"] = stats.tree_hwm_mb(c.proc.pid)
        if args.trace:
            res["layers"] = console.layer_metrics(port, workdir, res, outcomes)
    finally:
        c.stop()
    res.update(attempted=outcomes.attempted, failed=outcomes.failed, problems=outcomes.problems)
    return setups, res


def _console_jvm_probe(port: int, reps: int = 3) -> float:
    """The catalog worker's fixed JVM probe, sent through the console."""
    url = "/sql?format=json&q=" + urllib.parse.quote(common.JVM_PROBE_SQL)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        console.fetch(port, url)
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_begin = time.time()
    deadline = t_begin + common.RUN_LIMIT_S
    root = common.checkout_root()
    if not os.path.isfile(os.path.join(root, common.PACKAGE, "__init__.py")):
        print(f"perfbench: no {common.PACKAGE}/ package in {root}", file=sys.stderr)
        return 3
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    env = child_env(workdir)

    cpu0 = stats.cpu_times()
    run = run_catalog if args.workload == "catalog-sweep" else run_console
    try:
        setups, res = run(args, env, workdir, deadline)
    except (RuntimeError, TimeoutError, OSError, ValueError) as e:
        print(f"perfbench: {args.workload} failed: {e}; see {workdir}/*.log", file=sys.stderr)
        return 1
    cpu1 = stats.cpu_times()

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": common.CORES,
        "steal_share": stats.steal_share(cpu0, cpu1),
        "setup_samples_s": setups,
        "run_wall_s": time.time() - t_begin,
        **{k: res[k] for k in ("latency_samples", "warm_passes", "n_queries", "window_s",
                               "status_4xx", "status_5xx") if k in res},
        **res.get("context", {}),
        "problems": res.get("problems", [])[:10],
    }
    if args.trace:
        values = res["layers"]
    else:
        values = {**res, "setup_s": stats.median(setups)}
        values = {k: values.get(k) for k in metrics.END_TO_END}
    missing = [k for k, v in values.items() if v is None]
    reported = {
        k: {"value": v, "unit": unit_of(k)} for k, v in values.items() if v is not None
    }
    with open(os.path.join(workdir, "result.json"), "w") as f:
        json.dump({"context": context, "metrics": reported, "missing": missing,
                   "worker": {k: v for k, v in res.items() if k != "layers"}}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": res["failed"] == 0 and not missing,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": reported,
    }))
    return 0


def unit_of(name: str) -> str:
    return metrics.END_TO_END.get(name) or metrics.PER_LAYER[name]


if __name__ == "__main__":
    sys.exit(main())
