"""End-to-end segment→scale→cluster→metrics pipeline
(reference: cluster.py:74-173 `createClusters` — the main "query").

The reference's 5-deep (macro, micro, x, y, algorithm) loop ×
ThreadPoolExecutor (cluster.py:277-287) maps to `run_grid`: in scale
mode every (macro, micro, x, y) column pair is ONE `cluster_segments`
plan that fits all of the pair's algorithms inside one Arrow task, so
each segment matrix is null-dropped, scaled and shuffled once per pair,
not once per algorithm. Parity mode (MLlib, which cannot share a fit)
keeps one plan per (pair, algorithm) cell.

Output schema = `cluster_results` (FIXTURES.md §4): one row per
(segment, cluster) with algorithm/grid metadata, entropy, silhouette,
cluster_name, center_x/center_y (flat scalar columns — arrays don't
sort/hash cleanly downstream), cluster_size, radius.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clustering_spark.config import PREDICTION_COL, PipelineConfig
from clustering_spark.functions.scaling import scale_segments, scaled_name
from clustering_spark.operators.clustering import SegmentedClusterer
from clustering_spark.operators.metrics import (
    cluster_summaries,
    d3_normalize,
    nullsafe_equi_join,
    segment_entropy,
)
from clustering_spark.operators.segmentation import drop_null_metrics

RESULT_COLUMNS = [
    "algorithm",
    "macro_col",
    "micro_col",
    "x_col",
    "y_col",
    "macro_id",
    "micro_id",
    "entropy",
    "silhouette",
    "cluster_name",
    "center_x",
    "center_y",
    "cluster_size",
    "radius",
]


def cluster_segments(
    df: DataFrame,
    macro_col: str,
    micro_col: str,
    x_col: str,
    y_col: str,
    algorithm: str = "KMeans",
    config: PipelineConfig | None = None,
    k: int = 3,
    k_col: str | None = None,
    algorithms: list[str] | None = None,
) -> DataFrame:
    """Run one grid cell end-to-end; returns the flat results table.

    Steps (all lazily composed — one optimized plan):
      na.drop on metrics (preprocess.py:89) → per-segment scaling
      (preprocess.py:73-111) → per-segment fit+label (cluster.py:44-71)
      → single-pass summaries + entropy (metrics.py) → d3 size.

    ``algorithms`` (scale mode only): fit SEVERAL algorithms in the
    same single shuffle — the segment matrix is fit once per algorithm
    inside one Arrow task, emitting per-algorithm rows identical to
    running the pipeline once per algorithm and unioning (same seeds;
    d3 size normalization is scoped per algorithm to preserve that
    equivalence). An n-algorithm grid costs ONE fact-table scan +
    shuffle instead of n.
    """
    config = config or PipelineConfig()
    if algorithms is not None and config.fit_mode != "scale":
        raise ValueError("multi-algorithm fit requires fit_mode='scale'")
    segment_cols = [macro_col, micro_col]
    metric_cols = [x_col, y_col]

    clean = drop_null_metrics(df, metric_cols)
    scaled = scale_segments(clean, metric_cols, segment_cols, config.dont_scale)
    feat_cols = [scaled_name(x_col, metric_cols), scaled_name(y_col, metric_cols)]

    clusterer = SegmentedClusterer(
        segment_cols=segment_cols,
        feature_cols=feat_cols,
        algorithm=algorithm,
        default_k=k,
        seeds=tuple(config.seeds(config.iter_num)),
        k_col=k_col,
        mode=config.fit_mode,
        fit_timeout=config.fit_timeout,
    )
    narrowed = scaled.select(
        *segment_cols, *feat_cols, *([k_col] if k_col else [])
    )

    if config.fit_mode == "scale":
        # single-pass plan: fit AND summarize inside one Arrow task per
        # segment — the fact table is shuffled exactly once (the groupBy)
        # and each model is fit exactly once (see fit_summarize docstring).
        summaries = clusterer.fit_summarize(
            narrowed, algorithms=algorithms
        ).withColumnRenamed("cluster_name", PREDICTION_COL)
    else:
        # parity mode keeps the labeled-rows path: MLlib fit + relational
        # metrics block (metrics.py), matching reference numerics.
        labeled = clusterer.fit_predict(narrowed)
        # null-safe on the segment keys: fit_predict and
        # cluster_summaries both preserve NULL-segment groups, so a
        # name-based on=segment_cols join here would hand exactly those
        # clusters a NULL entropy while scale mode emits the real value
        summaries = nullsafe_equi_join(
            cluster_summaries(labeled, segment_cols, feat_cols),
            F.broadcast(segment_entropy(labeled, segment_cols)),
            list(segment_cols),
            "left",
        )

    if algorithms is None:
        summaries = summaries.withColumn("algorithm", F.lit(algorithm))
    # else: the kernel emitted the per-row algorithm column itself
    out = (
        summaries.withColumn("macro_col", F.lit(macro_col))
        .withColumn("micro_col", F.lit(micro_col))
        .withColumn("x_col", F.lit(x_col))
        .withColumn("y_col", F.lit(y_col))
        .withColumnRenamed(PREDICTION_COL, "cluster_name")
        .withColumnRenamed("center_0", "center_x")
        .withColumnRenamed("center_1", "center_y")
        .withColumn("macro_id", F.col(macro_col).cast("string"))
        .withColumn("micro_id", F.col(micro_col).cast("string"))
    )
    out = d3_normalize(
        out,
        "radius",
        "size",
        config.d3_normalize_max,
        partition_cols=None if algorithms is None else ["algorithm"],
    )
    return out.select(*RESULT_COLUMNS, "size")


def run_grid(df: DataFrame, config: PipelineConfig, k: int = 3) -> DataFrame:
    """All grid cells unioned into one results table (cluster.py main).

    One fit stage per (macro, micro, x, y) column pair: in scale mode
    the pair's algorithms share one `cluster_segments` call (one null
    drop, one scaling, one shuffle, one Arrow fit task per segment),
    with rows and d3 sizes identical to one call per algorithm. Parity
    mode fits through MLlib, which cannot share a fit, so it keeps one
    call per (pair, algorithm) cell.
    """
    pairs: dict[tuple[str, str, str, str], list[str]] = {}
    for macro, micro, x, y, alg in config.grid():
        pairs.setdefault((macro, micro, x, y), []).append(alg)
    if not pairs:
        # loud failure at the misconfiguration, not an AttributeError
        # three calls later on a silently-returned None
        raise ValueError(
            "run_grid: config.grid() is empty — check algorithms / "
            "filtering_columns / columns in PipelineConfig"
        )
    if config.fit_mode == "scale":
        cells = [
            cluster_segments(df, *pair, config=config, k=k, algorithms=algs)
            for pair, algs in pairs.items()
        ]
    else:
        cells = [
            cluster_segments(df, *pair, alg, config, k=k)
            for pair, algs in pairs.items()
            for alg in algs
        ]
    return reduce(DataFrame.unionByName, cells)


def run_interval(
    df: DataFrame,
    interval: str,
    config: PipelineConfig,
    out_path: str,
    run_date: str,
    version: int = 0,
    k: int = 3,
) -> DataFrame:
    """One scheduled run, end-to-end (reference cluster.py main flow):
    apply the per-interval row cap, run every grid cell, and write the
    original + D3 documents under ``out_path/{original,d3}/{interval}``.
    Document JSON key names follow each cell's (macro, micro) columns.
    Source acknowledgment (S11) is the caller's move — see
    ``sources.filesource.acknowledge``. Returns the flat results table.
    """
    from clustering_spark.operators.sinks import (
        d3_documents,
        original_documents,
        write_documents,
    )
    from clustering_spark.sources.csv_source import sample_cap

    # `is not None`, not truthiness: a configured limit of 0 means
    # "cap to nothing", not "uncapped" — the truthy check silently ran
    # the full fact table through every grid cell for limit=0
    limit = config.limits.get(interval)
    capped = (
        sample_cap(df, limit, seed=config.base_seed)
        if limit is not None
        else df
    )
    # stage the results ONCE: the loop below writes two document kinds
    # per (macro, micro) and the caller may materialize the return —
    # without the checkpoint every consumer re-fits every grid cell's
    # models (the model-sized frame is cheap to hold; the fits are not)
    results = run_grid(capped, config, k=k).localCheckpoint(eager=False)
    for macro, micro in {(m, mi) for m, mi, *_ in config.grid()}:
        cell = results.filter(
            (F.col("macro_col") == macro) & (F.col("micro_col") == micro)
        )
        write_documents(
            original_documents(cell, macro, micro, run_date, version),
            f"{out_path}/original",
            interval,
        )
        write_documents(
            d3_documents(cell, macro, micro, run_date, version, config.d3_normalize_max),
            f"{out_path}/d3",
            interval,
        )
    return results
