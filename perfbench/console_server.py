"""Launcher for the SQL console under test: ``serve.web.main`` on the
benchmark's pinned tables, optionally with tracing wrappers installed first.

    python3 -u perfbench/console_server.py --workdir DIR [--trace]

Untraced, this is exactly ``python -m nyc_taxi_pyspark_spark.serve.web
--sf-dir perfbench/data/sf0.01 --port 0``. Traced, it also

* wraps ``session.get_spark`` to enable Spark's event log and time start-up;
* wraps each layer's public functions (``layers.install``) and the request
  path (``Engine.sql``, ``WebApp.dispatch``), tagging each request's Spark
  jobs with a job group named after the request;
* serves three benchmark routes through the dispatch wrapper:
  ``/__perfbench/trace?on=0|1`` switches span recording,
  ``/__perfbench/spans`` returns spans and counts as JSON, and
  ``/__perfbench/stop`` stops the Spark session so the event log is
  complete.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys

import common
import spans


def install_tracing(tracer: spans.Tracer, log_dir: str) -> None:
    from nyc_taxi_pyspark_spark import session
    from nyc_taxi_pyspark_spark.serve import engine, web

    import layers

    layers.install(tracer)
    orig_get_spark = session.get_spark

    def get_spark(*args, extra_conf=None, **kwargs):
        conf = {**(extra_conf or {}), **common.event_log_conf(log_dir)}
        with tracer.span("session.start"):
            return orig_get_spark(*args, extra_conf=conf, **kwargs)

    spans.replace_everywhere(orig_get_spark, get_spark)
    engine.Engine.sql = tracer.wrap(engine.Engine.sql, "serve.analyze")

    orig_dispatch = web.WebApp.dispatch
    request_ids = itertools.count(1)

    def bench_route(app, path, q):
        if path == "/__perfbench/trace":
            tracer.enabled = q.get("on", ["1"])[0] == "1"
            return 200, "application/json", b"{}"
        if path == "/__perfbench/spans":
            body = {"spans": tracer.spans, "counts": dict(tracer.counts)}
            return 200, "application/json", json.dumps(body, default=str).encode()
        if path == "/__perfbench/stop":
            app.engine.spark.stop()
            return 200, "application/json", b"{}"
        return 404, "text/plain", b"not found"

    def dispatch(self, path, q):
        if path.startswith("/__perfbench/"):
            return bench_route(self, path, q)
        rid = next(request_ids)
        self.engine.spark.sparkContext.setJobGroup(f"pb:req{rid}", path)
        tracer.set_trace(f"req{rid}")
        try:
            with tracer.span("serve.handler"):
                return orig_dispatch(self, path, q)
        finally:
            tracer.set_trace(None)

    web.WebApp.dispatch = dispatch


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    common.import_program()
    from nyc_taxi_pyspark_spark.serve import web

    if args.trace:
        install_tracing(spans.Tracer(), os.path.join(args.workdir, "eventlog"))
    return web.main(["--sf-dir", common.DATA_DIR, "--port", "0"])


if __name__ == "__main__":
    try:
        sys.exit(main())
    except common.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(3)
