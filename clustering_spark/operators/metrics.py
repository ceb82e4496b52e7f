"""Cluster metrics block (reference: metrics.py; SURVEY §2.3, §7.3).

Reference pathologies NOT copied (SURVEY §4.3.4):
  * per-cluster ``where(pred==c).count()`` loops for entropy
    (metrics.py:131-133) — here ONE groupBy;
  * per-cluster ``Summarizer.mean`` jobs for centers (metrics.py:50-53)
    — here avg() per feature column in the same groupBy;
  * python UDF squared distance (metrics.py:26-27) — here a native
    column expression.

Everything in this module is a constant number of Spark jobs regardless
of segment count or k: one groupBy(segment, prediction) for cluster
summaries + one groupBy(segment) rollup. Both partial-aggregate
map-side, so at 100 TB the shuffle carries #segments×k rows, not data.

The pipeline computes the same summaries inside its per-segment fit
task (``SegmentedClusterer.fit_summarize``). ``cluster_summaries`` and
``segment_entropy`` over ``fit_predict``'s labelled rows are the
relational reference that the tests hold those summaries to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clustering_spark.config import PREDICTION_COL
from clustering_spark.functions.entropy import group_entropy


def nullsafe_equi_join(
    left: DataFrame, right: DataFrame, keys: list[str], how: str
) -> DataFrame:
    """Equi-join on ``keys`` that treats NULL == NULL as a match: the
    right side's keys are renamed, joined via ``eqNullSafe`` (still a
    hashable equi-join for the planner — broadcastable), and the
    renamed copies dropped. Use instead of ``on=keys`` anywhere a NULL
    key value is a legitimate group (segment columns throughout this
    engine), because a name-based join null-rejects and silently drops
    those rows one stage after a null-safe fit preserved them."""
    renamed = right
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__rk_{k}")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__rk_{k}"))
    return left.join(renamed, on=cond, how=how).drop(
        *[f"__rk_{k}" for k in keys]
    )


def cluster_summaries(
    labeled: DataFrame,
    segment_cols: list[str],
    feature_cols: list[str],
    prediction_col: str = PREDICTION_COL,
    extra_first_cols: tuple[str, ...] = ("silhouette", "wssse"),
) -> DataFrame:
    """One row per (segment, cluster): size, center as SCALAR columns
    ``center_0..center_{d-1}`` (per-dim means — A6), radius = sqrt(max
    squared distance to center) (A7). Centers are flat columns, not an
    array, so the result sorts/hashes cleanly downstream.

    Radius needs the center first, so this is two passes over the
    *labeled* data: (1) groupBy centers, (2) broadcast-join centers back
    and max-aggregate distances. Both map-side combine; no wide shuffle
    of the fact table (the join is broadcast: #segments×k rows).

    Both joins are NULL-SAFE on the keys: a NULL segment value is a
    real group (groupBy keeps it, and ``fit_predict`` / the k-cache
    join preserve it with eqNullSafe), so a name-based ``on=keys``
    equi-join here would silently drop every NULL-segment cluster from
    the summaries one stage after the fit preserved them.
    """
    keys = [*segment_cols, prediction_col]

    aggs = [F.count(F.lit(1)).alias("cluster_size")]
    for c in feature_cols:
        aggs.append(F.avg(c).alias(f"__ctr_{c}"))
    for c in extra_first_cols:
        if c in labeled.columns:
            aggs.append(F.first(c).alias(c))
    centers = labeled.groupBy(*keys).agg(*aggs)

    def _nullsafe_join(left, right, how):
        return nullsafe_equi_join(left, right, keys, how)

    joined = _nullsafe_join(
        labeled.select(*keys, *feature_cols), F.broadcast(centers), "inner"
    )
    dist2 = None
    for c in feature_cols:
        term = (F.col(c) - F.col(f"__ctr_{c}")) * (F.col(c) - F.col(f"__ctr_{c}"))
        dist2 = term if dist2 is None else dist2 + term
    radii = joined.groupBy(*keys).agg(F.sqrt(F.max(dist2)).alias("radius"))

    out = _nullsafe_join(centers, radii, "inner")
    center_flat = [
        F.col(f"__ctr_{c}").alias(f"center_{i}") for i, c in enumerate(feature_cols)
    ]
    keep = (
        [F.col(k) for k in keys]
        + [F.col("cluster_size"), *center_flat, F.col("radius")]
        + [F.col(c) for c in extra_first_cols if c in centers.columns]
    )
    return out.select(*keep)


def segment_entropy(
    labeled: DataFrame,
    segment_cols: list[str],
    prediction_col: str = PREDICTION_COL,
) -> DataFrame:
    """Shannon entropy (base 2) of the cluster-size distribution per
    segment (metrics.py:113-137 `calculateEntropy`). Delegates to
    :func:`clustering_spark.functions.entropy.group_entropy` — ONE
    definition of the aggregation, so the two call sites cannot
    drift."""
    return group_entropy(labeled, segment_cols, prediction_col)


def d3_normalize(
    summaries: DataFrame,
    value_col: str = "radius",
    out_col: str = "size",
    d3_max: float = 50.0,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Affine-normalize ``value_col`` into [1, d3_max] across the whole
    result set (metrics.py:151-171 `scaleD3`); degenerate range -> 1.0.
    ``partition_cols`` scopes the min/max per partition value instead —
    e.g. per ``algorithm`` when one frame carries several runs, which
    must normalize exactly as the runs would separately.

    The reference computes min/max with a driver-side nested loop (and a
    bug: its `elif` skips the max update when a value also won the min —
    metrics.py:159; SURVEY appendix).

    Implementation: an UNPARTITIONED min/max window. That is normally a
    scale trap (all rows through one partition) but is the right plan
    here BY CONTRACT: the input is the summaries frame, #segments x k
    rows, never fact data. The alternative (1-row aggregate +
    crossJoin-back) re-evaluates the summaries subtree twice — for a
    clustering pipeline that means fitting every model twice, which
    benchmarking showed dominates the flagship query's cost.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*(partition_cols or []))
    mn = F.min(value_col).over(w)
    mx = F.max(value_col).over(w)
    scaled = F.when(mx == mn, F.lit(1.0)).otherwise(
        (F.col(value_col) - mn) / (mx - mn) * (F.lit(d3_max) - 1.0) + 1.0
    )
    return summaries.withColumn(out_col, scaled)


def intra_cluster_mean_pairdist(
    df: DataFrame,
    cluster_cols: list[str],
    feature_cols: list[str],
    out_col: str = "mean_pair_dist2",
) -> DataFrame:
    """Mean pairwise SQUARED euclidean distance within each cluster
    (reference metrics.py:57-80 — dead code there: collect + O(n²)
    Python double loop). Spark-native via the moment identity

        sum_{i != j} ||x_i - x_j||^2 = 2n * sum_i ||x_i||^2
                                       - 2 * ||sum_i x_i||^2

    so the whole metric is ONE map-side-combinable aggregation of
    (n, sum x, sum x²) per cluster — no self-join, no pair blow-up;
    the correctness oracle is DuckDB's naive O(n²) self-join, which
    proves the identity on real data. Clusters with n < 2 yield NULL
    (the reference divides by n(n-1))."""
    g = _cluster_moments(df, cluster_cols, feature_cols)
    return _intra_from_moments(g, cluster_cols, feature_cols, out_col)


def _cluster_moments(
    df: DataFrame, cluster_cols: list[str], feature_cols: list[str]
) -> DataFrame:
    """Per-cluster (n, sum x, sum x²) — the shared sufficient statistic
    for BOTH pairwise-distance metrics; one map-side-combinable agg."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in feature_cols:
        aggs.append(F.sum(F.col(c)).alias(f"__s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"__s2_{c}"))
    return df.groupBy(*cluster_cols).agg(*aggs)


def _intra_from_moments(
    g: DataFrame, cluster_cols: list[str], feature_cols: list[str], out_col: str
) -> DataFrame:
    n = F.col("__n").cast("double")
    total = None
    for c in feature_cols:
        term = 2.0 * n * F.col(f"__s2_{c}") - 2.0 * F.col(f"__s_{c}") ** 2
        total = term if total is None else total + term
    mean = F.when(F.col("__n") >= 2, total / (n * (n - 1.0)))
    return g.select(*cluster_cols, F.col("__n").alias("n_points"), mean.alias(out_col))


def inter_cluster_mean_pairdist(
    df: DataFrame,
    cluster_cols: list[str],
    feature_cols: list[str],
    out_col: str = "mean_pair_dist2",
) -> DataFrame:
    """Mean pairwise SQUARED euclidean distance BETWEEN each pair of
    clusters (reference metrics.py:83-110 — dead code: collect both
    sides + O(n·m) loop). Same moment trick:

        sum_{i in A, j in B} ||x_i - x_j||^2
            = n_B * sum_A ||x||^2 + n_A * sum_B ||x||^2
              - 2 * <sum_A x, sum_B x>

    → one per-cluster moment aggregation, then a join over CLUSTER
    PAIRS (k² rows — model-sized, never point-sized). Emits one row
    per unordered pair (a < b on the cluster key tuple)."""
    g = _cluster_moments(df, cluster_cols, feature_cols)
    return _inter_from_moments(g, cluster_cols, feature_cols, out_col)


def _inter_from_moments(
    g: DataFrame, cluster_cols: list[str], feature_cols: list[str], out_col: str
) -> DataFrame:
    a = g.select(
        *[F.col(c).alias(f"{c}_a") for c in cluster_cols],
        F.col("__n").alias("__n_a"),
        *[F.col(f"__s_{c}").alias(f"__s_{c}_a") for c in feature_cols],
        *[F.col(f"__s2_{c}").alias(f"__s2_{c}_a") for c in feature_cols],
    )
    b = g.select(
        *[F.col(c).alias(f"{c}_b") for c in cluster_cols],
        F.col("__n").alias("__n_b"),
        *[F.col(f"__s_{c}").alias(f"__s_{c}_b") for c in feature_cols],
        *[F.col(f"__s2_{c}").alias(f"__s2_{c}_b") for c in feature_cols],
    )
    order_a = F.struct(*[F.col(f"{c}_a") for c in cluster_cols])
    order_b = F.struct(*[F.col(f"{c}_b") for c in cluster_cols])
    pairs = a.crossJoin(b).filter(order_a < order_b)
    na = F.col("__n_a").cast("double")
    nb = F.col("__n_b").cast("double")
    total = None
    for c in feature_cols:
        term = (
            nb * F.col(f"__s2_{c}_a")
            + na * F.col(f"__s2_{c}_b")
            - 2.0 * F.col(f"__s_{c}_a") * F.col(f"__s_{c}_b")
        )
        total = term if total is None else total + term
    return pairs.select(
        *[F.col(f"{c}_a") for c in cluster_cols],
        *[F.col(f"{c}_b") for c in cluster_cols],
        (total / (na * nb)).alias(out_col),
    )


def pairdist_stats(
    df: DataFrame,
    cluster_cols: list[str],
    feature_cols: list[str],
    out_col: str = "mean_pair_dist2",
) -> DataFrame:
    """Intra AND inter mean pairwise squared distances from ONE scan:
    both metrics are functions of the same per-cluster moments
    (n, Σx, Σx²), so the fact table is aggregated once, the k-row
    moment frame is localCheckpointed (without it each union branch
    re-plans the scan — verified 3 scans, 0 exchange reuse), and the
    two branches are tiny projections/joins of it. Output: one row per
    cluster (scope='intra', seg_a = seg_b) plus one per unordered
    cluster pair (scope='inter')."""
    g = _cluster_moments(df, cluster_cols, feature_cols).localCheckpoint()
    intra = _intra_from_moments(g, cluster_cols, feature_cols, out_col).select(
        F.lit("intra").alias("scope"),
        *[F.col(c).alias(f"{c}_a") for c in cluster_cols],
        *[F.col(c).alias(f"{c}_b") for c in cluster_cols],
        F.col(out_col),
    )
    inter = _inter_from_moments(g, cluster_cols, feature_cols, out_col).select(
        F.lit("inter").alias("scope"),
        *[F.col(f"{c}_a") for c in cluster_cols],
        *[F.col(f"{c}_b") for c in cluster_cols],
        F.col(out_col),
    )
    return intra.unionByName(inter)
