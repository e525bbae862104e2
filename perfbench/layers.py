"""Wrappers that record spans and counts around calls into the program's
layers. Installed by the benchmark's own processes for a traced run only;
nothing inside the package is changed on disk."""

from __future__ import annotations

from spans import replace_everywhere


def install(tracer) -> None:
    """Wrap the public functions of each layer the workloads reach.

    Must run after the catalog and serve modules are imported, so that the
    ``from x import f`` bindings they hold are found and replaced.
    """
    from nyc_taxi_pyspark_spark.operators import taxi, transforms
    from nyc_taxi_pyspark_spark.plans import explain
    from nyc_taxi_pyspark_spark.sources import io
    from nyc_taxi_pyspark_spark.streaming import runner

    for fn_name in ("load_table", "register_views"):
        tracer.wrap_everywhere(getattr(io, fn_name), f"sources.{fn_name}")
    tracer.wrap_everywhere(io.to_pandas_sanitized, "serve.collect")
    for mod, names in (
        (taxi, ("clean_trips", "engineer_features", "payment_lookup", "kpi_by_payment",
                "kpi_heatmap", "kpi_distance_buckets")),
        (transforms, ("apply_rules", "dedup", "dedup_deterministic", "taxi_cleaning_rules")),
    ):
        for fn_name in names:
            tracer.wrap_everywhere(getattr(mod, fn_name), "operators.call")
    for fn_name in ("run_stream_cached", "run_stream_once"):
        tracer.wrap_everywhere(getattr(runner, fn_name), "streaming.run")
    tracer.wrap_everywhere(explain.formatted_plan, "plans.plan")
    _count_shuffles(tracer, explain)
    _count_cache(tracer)


def _count_shuffles(tracer, explain) -> None:
    orig = explain.shuffle_count

    def shuffle_count(df):
        n = orig(df)
        if tracer.enabled:
            tracer.count("plans.exchanges", n)
        return n

    replace_everywhere(orig, shuffle_count)


def _count_cache(tracer) -> None:
    """Count hits and builds of the session layout and scalar caches by
    wrapping their ``get_or_build``: a call whose ``build`` ran is a build,
    any other call is a hit."""
    from nyc_taxi_pyspark_spark.catalog import _cache

    for cls in (_cache.SessionLayoutCache, _cache.SessionScalarCache):
        orig = cls.get_or_build

        def get_or_build(self, spark, sf_dir, build, _orig=orig):
            if not tracer.enabled:
                return _orig(self, spark, sf_dir, build)
            built = []

            def counted_build():
                built.append(True)
                with tracer.span("catalog.layout_build"):
                    return build()

            with tracer.span("catalog.layout_get"):
                out = _orig(self, spark, sf_dir, counted_build)
            tracer.count("catalog.layout_builds" if built else "catalog.layout_hits")
            return out

        cls.get_or_build = get_or_build
