"""k-cache: persisted optimal-k per (algorithm, macro_col, micro_col,
x, y, macro_id, micro_id) with latest-wins reads and a
regression-gated re-tune flow.

Reference: MongoDB ``kCollection`` — read cluster.py:19-41
(``getKList``: find_one latest by _id), upserts at three granularities
(optimal_k.py:195-283: whole grid / one macro / one micro), and the
consumption flow cluster.py:95-136 (miss at macro level -> tune all
its micros; miss at micro level -> tune that micro; silhouette
regression below ``cached * oldSilhouetteThreshold`` -> re-tune and
re-cluster).

Spark-first re-design: the cache is an append-only parquet table read
with an explicit schema; "latest wins" is a window
``row_number() == 1`` over the key ordered by version desc (T3). All
three reference upsert granularities are the same operation here —
append a batch of rows — because the read path resolves recency per
key. A Delta ``MERGE`` would compact this at scale; plain parquet
keeps the harness dependency-free.

``cluster_with_cache`` reads the cache ONCE per grid cell: the lookup
is broadcast-joined onto the scaled segment matrix (the Spark analog
of the reference's driver-side dict .get — the cache is #segments
rows, orders of magnitude smaller than the fact table). Every
per-segment decision — miss, cached-k fit, regression, re-tune — is
taken inside one tuner Arrow pass (``optimal_k_sweep`` in cached-bar
mode), whose tiny output of re-tuned segments is collected once and
appended; one clustering pass then fits every segment with its
decided k. A rerun pays the sweep only for segments that missed or
regressed.

Versioning: callers pass an explicit monotonically increasing integer
``version`` (the reference stamps ``str(date.today())``; an explicit
version keeps tests deterministic and makes ties impossible).

CONCURRENCY CONTRACT (single writer per interval): appends are plain
parquet file adds with no transaction log, so two interval jobs
appending the SAME version concurrently could interleave and leave two
rows for one key at the max version — the latest-wins window would
then pick one arbitrarily. The scheduler that calls
``cluster_with_cache`` (like the reference's cron calling
cluster.py) runs ONE tuner job per interval, which makes versions
unique per writer; a multi-writer 1000-executor
deployment should either route all appends through one driver (the
cheap answer — the cache is #segments rows) or swap the sink for a
Delta/Iceberg MERGE, which this layout maps onto 1:1.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clustering_spark.config import PipelineConfig
from clustering_spark.operators.clustering import SegmentedClusterer
from clustering_spark.operators.segmentation import drop_null_metrics
from clustering_spark.operators.tuner import optimal_k_sweep
from clustering_spark.sources.filesource import source_exists

KEY_COLS = [
    "algorithm",
    "macro_col",
    "micro_col",
    "x_col",
    "y_col",
    "macro_id",
    "micro_id",
]
CACHE_TYPES = {
    **{c: "string" for c in KEY_COLS},
    "k": "int",
    "silhouette": "double",
    "version": "long",
}
CACHE_SCHEMA = ", ".join(f"{c} {t}" for c, t in CACHE_TYPES.items())


@dataclass
class KCache:
    """Append-only parquet k-cache with latest-wins resolution."""

    path: str

    def append(self, entries: DataFrame, version: int) -> None:
        """Upsert = append with a version stamp; any granularity (one
        micro, one macro's micros, the whole grid) is just a batch of
        rows (S9's three Mongo upsert shapes collapse into one op)."""
        out = entries.withColumn("version", F.lit(version)).select(
            *[F.col(c).cast(t) for c, t in CACHE_TYPES.items()]
        )
        out.write.mode("append").parquet(self.path)

    def _read_cache(self, spark: SparkSession) -> DataFrame:
        """The raw cache table, or an empty CACHE_SCHEMA frame when the
        path does not exist yet (the read-or-empty-on-first-run
        contract all three readers share). Only a MISSING path means
        'no cache yet': a present cache that fails to read (permissions,
        corrupt file) raises instead of silently re-tuning the whole
        grid. The schema is explicit, so a read runs no footer-inference
        job; ``append`` casts every batch to it."""
        if not source_exists(spark, self.path):
            return spark.createDataFrame([], CACHE_SCHEMA)
        return spark.read.schema(CACHE_SCHEMA).parquet(self.path)

    def read_latest(self, spark: SparkSession) -> DataFrame:
        """All keys at their latest version (empty frame if no cache
        yet). One window over the (tiny) cache table."""
        raw = self._read_cache(spark)
        w = Window.partitionBy(*KEY_COLS).orderBy(F.col("version").desc())
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def version_conflicts(self, spark: SparkSession) -> DataFrame:
        """Keys holding MORE THAN ONE row at their max version — the
        signature of two writers appending the same version (see the
        single-writer contract in the module docstring). Empty under
        the supported one-tuner-per-interval scheduling; a multi-writer
        deployment can assert on this after each interval, or migrate
        the sink to a Delta/Iceberg MERGE."""
        raw = self._read_cache(spark)
        w = Window.partitionBy(*KEY_COLS).orderBy(F.col("version").desc())
        ranked = raw.withColumn(
            "__rk", F.rank().over(w)  # rank, not row_number: ties share 1
        )
        return (
            ranked.filter(F.col("__rk") == 1)
            .groupBy(*KEY_COLS, "version")
            .agg(F.count(F.lit(1)).alias("n_writers"))
            .filter(F.col("n_writers") > 1)
        )

    def lookup(
        self,
        spark: SparkSession,
        algorithm: str,
        macro_col: str,
        micro_col: str,
        x_col: str,
        y_col: str,
    ) -> DataFrame:
        """Latest k/silhouette (and the version that set them) per
        (macro_id, micro_id) for one grid cell — the J4 lookup join
        input. The 5-tuple filter pushes into the parquet scan before
        the window."""
        raw = self._read_cache(spark)
        scoped = raw.filter(
            (F.col("algorithm") == algorithm)
            & (F.col("macro_col") == macro_col)
            & (F.col("micro_col") == micro_col)
            & (F.col("x_col") == x_col)
            & (F.col("y_col") == y_col)
        )
        w = Window.partitionBy("macro_id", "micro_id").orderBy(
            F.col("version").desc()
        )
        return (
            scoped.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("macro_id", "micro_id", "k", "silhouette", "version")
        )


def _cache_rows(
    tuned: DataFrame,
    algorithm: str,
    macro_col: str,
    micro_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """(segment, chosen_k, silhouette) -> cache-schema rows."""
    return tuned.select(
        F.lit(algorithm).alias("algorithm"),
        F.lit(macro_col).alias("macro_col"),
        F.lit(micro_col).alias("micro_col"),
        F.lit(x_col).alias("x_col"),
        F.lit(y_col).alias("y_col"),
        F.col(macro_col).cast("string").alias("macro_id"),
        F.col(micro_col).cast("string").alias("micro_id"),
        F.col("chosen_k").alias("k"),
        F.col("silhouette"),
    )


def cluster_with_cache(
    df: DataFrame,
    macro_col: str,
    micro_col: str,
    x_col: str,
    y_col: str,
    algorithm: str,
    cache: KCache,
    version: int,
    config: PipelineConfig | None = None,
) -> tuple[DataFrame, dict]:
    """The reference's cached-k clustering flow (cluster.py:95-136),
    segments-in-parallel, as one cache read and two Arrow passes:

      1. read: ONE ``cache.lookup``, broadcast-joined (null-safe) onto
         the scaled segment matrix with a hit marker — a miss is a
         segment with no cache row;
      2. decide: ONE ``optimal_k_sweep`` pass in cached-bar mode — per
         segment, sweep a miss; fit a hit with its cached k and sweep
         it when that fit falls below ``cached *
         old_silhouette_threshold`` (a miss is also fitted against its
         fresh bar). Only swept segments come out; the tiny frame is
         checkpointed and collected once for ``stats``, then its misses
         are appended at ``version`` and its regressions at
         ``version + 1``;
      3. cluster: ONE ``fit_summarize`` over every segment, with the
         tuned k and bar where the segment was swept (unless the cache
         already holds a newer row — latest wins), else the cached ones.

    Returns (per-(segment, cluster) summaries, stats dict with
    ``misses`` / ``regressed`` counts). Driver round-trips: one collect
    of the tuned rows — the same decision points the reference takes
    per segment, taken inside the per-segment Arrow tasks here.
    """
    from clustering_spark.functions.scaling import scale_segments, scaled_name
    from clustering_spark.operators.metrics import nullsafe_equi_join

    config = config or PipelineConfig()
    spark = df.sparkSession
    segment_cols = [macro_col, micro_col]
    metric_cols = [x_col, y_col]
    thr = config.old_silhouette_threshold
    # M6: the cached silhouette is the quality bar — the gate and the
    # summary fits draw up to thresholded_iter_num seeds but stop once
    # a fit reaches cached * thr (reference thresholdedOptimalModel)
    fit_seeds = tuple(config.seeds(config.thresholded_iter_num))

    clean = drop_null_metrics(df, metric_cols)
    scaled = scale_segments(clean, metric_cols, segment_cols, config.dont_scale)
    feat_cols = [scaled_name(x_col, metric_cols), scaled_name(y_col, metric_cols)]

    # 1. one read. eqNullSafe: a NULL macro/micro segment is a real
    # group (groupBy keeps it) and must match its own cache row —
    # plain == re-tunes it every run and ignores the result
    kmap = cache.lookup(spark, algorithm, macro_col, micro_col, x_col, y_col)
    narrowed = (
        scaled.select(*segment_cols, *feat_cols)
        .join(
            F.broadcast(
                kmap.select(
                    F.col("macro_id").alias("__mk"),
                    F.col("micro_id").alias("__mi"),
                    F.col("k").alias("__cached_k"),
                    F.col("silhouette").alias("__cached_sil"),
                    F.col("version").alias("__cached_v"),
                    F.lit(True).alias("__hit"),
                )
            ),
            F.col(macro_col).cast("string").eqNullSafe(F.col("__mk"))
            & F.col(micro_col).cast("string").eqNullSafe(F.col("__mi")),
            "left",
        )
        .drop("__mk", "__mi")
        .localCheckpoint()
    )

    # 2. one tuner pass decides every segment; collect its tiny output
    tuned = optimal_k_sweep(
        narrowed.select(
            *segment_cols, *feat_cols, "__cached_k", "__cached_sil", "__hit"
        ),
        segment_cols,
        feat_cols,
        algorithm=algorithm,
        seeds=tuple(config.seeds(config.iter_num)),
        start_k=config.start_k,
        stop_k=config.stop_k,
        silhouette_threshold=config.silhouette_threshold,
        hit_col="__hit",
        k_col="__cached_k",
        old_sil_col="__cached_sil",
        old_sil_threshold=thr,
        fit_seeds=fit_seeds,
    ).localCheckpoint()
    decided = tuned.select("missed", "regressed").collect()
    stats = {
        "misses": sum(r.missed for r in decided),
        "regressed": sum(r.regressed for r in decided),
    }
    cell = (algorithm, macro_col, micro_col, x_col, y_col)
    if stats["misses"]:
        cache.append(_cache_rows(tuned.filter("missed"), *cell), version)
    if stats["regressed"]:
        cache.append(_cache_rows(tuned.filter("regressed"), *cell), version + 1)

    # 3. one clustering pass. A tuned row was appended at version + 1
    # if regressed, else at version; it wins unless the cache already
    # held a newer row for the segment (latest wins, as a re-read
    # would). Null-safe join: a NULL-keyed segment that was re-tuned
    # must get its tuned k, which a name-based join would drop
    with_tuned = nullsafe_equi_join(
        narrowed,
        F.broadcast(
            tuned.select(
                *segment_cols,
                F.col("chosen_k").alias("__tuned_k"),
                F.col("silhouette").alias("__tuned_sil"),
                (F.lit(version) + F.col("regressed").cast("long")).alias(
                    "__tuned_v"
                ),
            )
        ),
        segment_cols,
        "left",
    )
    use_tuned = F.col("__tuned_v").isNotNull() & (
        F.col("__cached_v").isNull() | (F.col("__tuned_v") >= F.col("__cached_v"))
    )
    clusterer = SegmentedClusterer(
        segment_cols=segment_cols,
        feature_cols=feat_cols,
        algorithm=algorithm,
        default_k=config.start_k,
        seeds=fit_seeds,
        k_col="__k",
        old_sil_col="__sil",
        old_sil_threshold=thr,
    )
    summaries = clusterer.fit_summarize(
        with_tuned.select(
            *segment_cols,
            *feat_cols,
            F.when(use_tuned, F.col("__tuned_k"))
            .otherwise(F.col("__cached_k"))
            .alias("__k"),
            F.when(use_tuned, F.col("__tuned_sil"))
            .otherwise(F.col("__cached_sil"))
            .alias("__sil"),
        )
    )
    return summaries, stats
