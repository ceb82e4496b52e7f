"""The traced run: wrap each engine layer's public functions from here,
run one traced pass plus one read sweep, and report per-layer metrics.

Layers (engine modules) and what is wrapped:

=====================  ==================================================
``csv_source``         ``read_csv``, ``split_corrupt``, ``sample_cap``
``scaling``            ``scale_segments``, ``drop_null_metrics`` (as
                       imported by ``kcache`` and ``pipeline``)
``tuner``              ``optimal_k_sweep`` (as imported by ``kcache``)
``clustering``         ``SegmentedClusterer.fit_summarize``
``kcache``             ``cluster_with_cache``, ``KCache.lookup``/``append``
``pipeline``           ``run_interval``, ``run_grid``, ``cluster_segments``
``sinks``              ``original_documents``, ``d3_documents``,
                       ``write_documents``, ``latest_document``,
                       ``dropdown_options``
=====================  ==================================================

``session`` is timed once, in set-up (``session.start_s``).
"""

from __future__ import annotations

import inspect
import sys
import time


from spans import COUNT_LAYER, Tracer, _union_length, layer_table, spark_counters

ENGINE_LAYERS = ("csv_source", "scaling", "tuner", "clustering", "kcache", "pipeline", "sinks")
SPARK_KEYS = ("jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_bytes", "gc_s")


def _bound(fn, args, kwargs) -> dict:
    ba = inspect.signature(fn).bind(*args, **kwargs)
    ba.apply_defaults()
    return ba.arguments


def install(tr: Tracer) -> None:
    """Wrap every layer's public entry points as module attributes."""
    from clustering_spark import pipeline
    from clustering_spark.functions import scaling
    from clustering_spark.operators import clustering, kcache, sinks, tuner
    from clustering_spark.sources import csv_source

    def rows_in(out, args, kwargs):
        tr.add("csv_source.rows_in", out.count())

    def corrupt(out, args, kwargs):
        tr.add("csv_source.corrupt_rows", out[1].count())

    def capped(out, args, kwargs):
        tr.add("csv_source.cap_rows_out", out.count())

    def dropped(out, args, kwargs):
        tr.add("scaling.rows_dropped", args[0].count() - out.count())

    def swept(out, args, kwargs):
        a = _bound(tuner.optimal_k_sweep, args, kwargs)
        segs = [tuple(r) for r in out.select(*a["segment_cols"]).collect()]
        tr.see("tuner.segments", segs)
        algos = len(a["algorithms"] or [a["algorithm"]])
        ks = a["stop_k"] - a["start_k"] + 1
        tr.add("tuner.fits", len(segs) * algos * ks * len(a["seeds"]))

    def fitted(out, args, kwargs):
        cols = args[0].segment_cols
        tr.see("clustering.segments", [tuple(r) for r in out.select(*cols).distinct().collect()])

    def cached(out, args, kwargs):
        summaries, stats = out
        a = _bound(kcache.cluster_with_cache, args, kwargs)
        n = summaries.select(a["macro_col"], a["micro_col"]).distinct().count()
        tr.add("kcache.lookups", n)
        tr.add("kcache.hits", n - stats["misses"])
        tr.add("kcache.regressed", stats["regressed"])

    def appended(out, args, kwargs):
        tr.add("kcache.rows_appended", args[1].count())

    def written(out, args, kwargs):
        tr.add("sinks.docs_written", args[0].count())

    def scanned(out, args, kwargs):
        tr.add("sinks.files_scanned", len(args[0].inputFiles()))

    tr.wrap(csv_source, "read_csv", "csv_source", rows_in)
    tr.wrap(csv_source, "split_corrupt", "csv_source", corrupt)
    tr.wrap(csv_source, "sample_cap", "csv_source", capped)
    tr.wrap(scaling, "scale_segments", "scaling")  # kcache imports it per call
    tr.wrap(pipeline, "scale_segments", "scaling")
    tr.wrap(kcache, "drop_null_metrics", "scaling", dropped)
    tr.wrap(pipeline, "drop_null_metrics", "scaling", dropped)
    tr.wrap(kcache, "optimal_k_sweep", "tuner", swept)
    tr.wrap(clustering.SegmentedClusterer, "fit_summarize", "clustering", fitted)
    tr.wrap(kcache, "cluster_with_cache", "kcache", cached)
    tr.wrap(kcache.KCache, "lookup", "kcache")
    tr.wrap(kcache.KCache, "append", "kcache", appended)
    tr.wrap(pipeline, "run_interval", "pipeline")
    tr.wrap(pipeline, "run_grid", "pipeline")
    tr.wrap(pipeline, "cluster_segments", "pipeline")
    for name in ("original_documents", "d3_documents"):
        tr.wrap(sinks, name, "sinks")
    tr.wrap(sinks, "write_documents", "sinks", written)
    tr.wrap(sinks, "latest_document", "sinks", scanned)
    tr.wrap(sinks, "dropdown_options", "sinks", scanned)


def traced_run(spark, wl, times: dict, checks, spans_path: str) -> dict:
    """One untraced pass and read sweep (the baseline), then one traced
    pass and one traced read sweep; returns the per-layer metrics of the
    traced pair."""
    wl.reset()
    t0 = time.perf_counter()
    out = wl.run_pass()
    base_run = time.perf_counter() - t0
    checks.extend(wl.check(out))
    sweep = len(wl.read_ops())
    t0 = time.perf_counter()
    wl.read(sweep, checks)
    base_sweep = time.perf_counter() - t0

    wl.reset()
    tr = Tracer(spark, f"sb{int(time.time())}")
    install(tr)
    try:
        root = tr.begin("pass", "bench")
        out = wl.run_pass()
        tr.end(root)
        reads = tr.begin("read_sweep", "bench")
        wl.read(sweep, checks)
        tr.end(reads)
    finally:
        tr.uninstall()
    tr.dump(spans_path)
    checks.extend(wl.check(out))
    metrics = per_layer(spark, tr, wl, times)
    pass_s, sweep_s = root.end - root.start, reads.end - reads.start
    metrics["trace.overhead_s"] = (pass_s + sweep_s) - (base_run + base_sweep)
    metrics["trace.untraced_s"] = base_run + base_sweep
    construction_checks(checks, wl, metrics)
    print("per-layer: " + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()), file=sys.stderr)
    units = {"_s": "s", "_bytes": "bytes", "_share": "share", "bytes_written": "bytes"}
    return {k: {"value": v, "unit": next((u for suf, u in units.items() if k.endswith(suf)),
                                         "count")}
            for k, v in metrics.items()}


def per_layer(spark, tr: Tracer, wl, times: dict) -> dict:
    table = layer_table(tr.spans)
    counters, job_ivs = spark_counters(spark, tr.spans)
    layer_of = {s.id: s.layer for s in tr.spans}
    m: dict[str, float] = {"session.start_s": times["start_s"]}
    for layer in ENGINE_LAYERS:
        m[f"{layer}.busy_s"] = table["layers"].get(layer, 0.0)
        m[f"{layer}.jobs"] = sum(c["jobs"] for sid, c in counters.items() if layer_of[sid] == layer)
        m[f"{layer}.executor_run_s"] = sum(
            c["executor_run_s"] for sid, c in counters.items() if layer_of[sid] == layer)
    for key in ("csv_source.rows_in", "csv_source.corrupt_rows", "csv_source.cap_rows_out",
                "scaling.rows_dropped", "tuner.fits", "kcache.regressed",
                "kcache.rows_appended", "sinks.docs_written", "sinks.files_scanned"):
        m[key] = tr.counts.get(key, 0)
    m["tuner.segments"] = tr.distinct("tuner.segments")
    m["clustering.segments"] = tr.distinct("clustering.segments")
    lookups = tr.counts.get("kcache.lookups", 0)
    m["kcache.hit_share"] = tr.counts.get("kcache.hits", 0) / lookups if lookups else 0.0
    m["sinks.write_s"] = sum(s.end - s.start for s in tr.spans if s.name == "write_documents")
    m["sinks.read_s"] = sum(s.end - s.start for s in tr.spans
                            if s.name in ("latest_document", "dropdown_options"))
    m["sinks.bytes_written"] = wl.new_bytes() if hasattr(wl, "new_bytes") else 0
    # driver gap: time inside the outermost pipeline spans (and the whole
    # traced pass) with no Spark job of this run running
    all_jobs = [iv for ivs in job_ivs.values() for iv in ivs]
    by_id = {s.id: s for s in tr.spans}
    outer = [s for s in tr.spans if s.layer == "pipeline"
             and (s.parent is None or by_id[s.parent].layer != "pipeline")]
    m["pipeline.driver_gap_s"] = sum(
        (s.end - s.start) - _union_length(all_jobs, s.start, s.end) for s in outer)
    roots = [s for s in tr.spans if s.parent is None]
    m["spark.driver_gap_s"] = sum(
        (s.end - s.start) - _union_length(all_jobs, s.start, s.end) for s in roots)
    # the benchmark's counting jobs are tracing overhead, not engine work
    for key in SPARK_KEYS:
        m[f"spark.{key}"] = sum(c[key] for sid, c in counters.items()
                                if layer_of[sid] != COUNT_LAYER)
    m["trace.wall_s"] = table["wall_s"]
    m["trace.uncovered_s"] = table["uncovered_s"]
    m["trace.count_s"] = table["layers"].get(COUNT_LAYER, 0.0)
    m["trace.self_sum_s"] = table["uncovered_s"] + sum(table["layers"].values())
    return m


def construction_checks(c, wl, m: dict) -> None:
    """The traced counts must match how the input was built."""
    g = wl.g
    c.add("trace_self_times_sum", abs(m["trace.self_sum_s"] - m["trace.wall_s"]) < 1e-6)
    c.add("trace_corrupt_rows", m["csv_source.corrupt_rows"] == g.corrupt_rows)
    cells = len(list(wl.cfg.grid()))
    if wl.name == "rerun_warm":
        planted = len(g.drifted()) * cells
        c.add("trace_drifted_regressed", m["kcache.regressed"] >= planted)
        c.add("regressed_planted", m["kcache.regressed"] == planted)
        c.add("trace_tuner_drifted", m["tuner.segments"] >= len(g.drifted()))
    else:
        c.add("trace_tuner_idle", m["tuner.busy_s"] == 0.0)
        c.add("trace_docs_written", m["sinks.docs_written"] == 2 * cells)
