"""Optimal-k tuner (reference: optimal_k.py — entry point #1).

Re-expressed Spark-first:

* The pure decision logic — elbow distance (reference
  preprocess.py:173-188 ``distanceToLine``) and the top-3 silhouette
  rule (optimal_k.py:141-192 ``optimalK``) — is kept verbatim as
  unit-testable Python functions.
* The k sweep (optimal_k.py:103-138 ``createGraphs``: for k in
  [startK, stopK], best-of-seeds fit, record WSSSE + silhouette) runs
  INSIDE the per-segment Arrow task on the in-memory numpy matrix —
  one ``groupBy(segment).applyInPandas`` shuffle tunes EVERY segment,
  vs the reference's (stopK-startK+1) x iterNum = 27 distributed MLlib
  fits per segment driven serially from the driver. At 100 TB the
  fact table is read once and shuffled once; the sweep is CPU-local.
* Thresholded seed search (optimal_k.py:75-100
  ``thresholdedOptimalModel``): early-stops as soon as a fit reaches
  ``old_silhouette * threshold``.
* Cached-bar (gate) mode of ``optimal_k_sweep`` — the k-cache's
  per-segment decision (cluster.py:95-136) in the same Arrow task:
  sweep a segment with no cache row; fit a cached one with its k via
  ``clustering.fit_segment`` (the summary stage's own fit) and sweep
  it only when that fit falls below ``cached * old_sil_threshold``.
  It emits only the swept segments, flagged ``missed`` /
  ``regressed``, so a warm rerun's output is a handful of rows.

Randomness: the reference draws unseeded ``np.random.randint`` seeds
(SURVEY §4.3.7); here seed lists are explicit and deterministic.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from clustering_spark.operators.clustering import (  # noqa: F401
    best_of_seeds,
    thresholded_best_of_seeds,  # re-export: part of the tuner API (M6)
)


def distance_to_line(
    point: tuple[float, float],
    line_point1: tuple[float, float],
    line_point2: tuple[float, float],
) -> float:
    """Perpendicular distance of ``point`` to the chord through the two
    line points — the elbow heuristic (reference preprocess.py:173-188,
    math kept verbatim). Requires distinct x coordinates."""
    x0, y0 = point
    x1, y1 = line_point1
    x2, y2 = line_point2
    a = -(float(y2 - y1) / float(x2 - x1))
    b = 1.0
    c = -y1 + (-a * x1)
    return abs(a * x0 + b * y0 + c) / math.sqrt(a**2 + b**2)


def choose_k(
    silhouettes: Sequence[tuple[int, float]],
    wssse_by_k: dict[int, float] | None,
    algorithm: str = "KMeans",
    silhouette_threshold: float = 0.9,
) -> tuple[int, float]:
    """The top-3 silhouette decision rule (optimal_k.py:141-192).

    ``silhouettes``: (k, silhouette) pairs. ``wssse_by_k``: the elbow
    curve (None / ignored for GaussianMixture — the reference skips
    computeCost for GMM and takes plain argmax-silhouette).

    Rule: rank by silhouette desc; prefer #1 unless #2 is within
    ``silhouette_threshold`` of it AND farther from the start->stop
    WSSSE chord; the same check can promote #3 over the winner.
    Ties rank deterministically (silhouette desc, then k asc).
    """
    cands = sorted(silhouettes, key=lambda t: (-t[1], t[0]))
    if not cands:
        raise ValueError("no (k, silhouette) candidates")
    if algorithm == "GaussianMixture" or wssse_by_k is None or len(cands) == 1:
        return cands[0]

    ks = sorted(wssse_by_k)
    start_k, stop_k = ks[0], ks[-1]
    if start_k == stop_k:
        return cands[0]
    chord = ((start_k, wssse_by_k[start_k]), (stop_k, wssse_by_k[stop_k]))
    dist = {k: distance_to_line((k, w), *chord) for k, w in wssse_by_k.items()}

    best = cands[:3]
    if best[0][1] * silhouette_threshold > best[1][1]:
        opt = best[0]
    elif dist[best[1][0]] > dist[best[0][0]]:
        opt = best[1]
    else:
        opt = best[0]
    if len(best) >= 3 and opt[1] * silhouette_threshold < best[2][1]:
        if dist[best[2][0]] > dist[opt[0]]:
            opt = best[2]
    return opt


def sweep_k(
    X: np.ndarray,
    algorithm: str,
    seeds: Iterable[int],
    start_k: int = 2,
    stop_k: int = 10,
) -> tuple[dict[int, float], list[tuple[int, float]]]:
    """The k sweep (optimal_k.py:103-138): for each k, best-of-seeds
    fit; returns (wssse_by_k, [(k, silhouette)]). Runs on an in-memory
    matrix — callers in Spark invoke this inside the per-segment Arrow
    task. k is capped at the number of distinct points."""
    seeds = tuple(seeds)  # re-iterated once per k: a generator input
    # would exhaust after the first k and crash best_of_seeds
    if not seeds:
        # fail fast on BOTH branches: the KMeans branch would raise in
        # best_of_seeds anyway, but the BisectingKMeans branch built
        # zero paths and silently returned no candidates — tune_k then
        # cached k=1 for a perfectly clusterable segment
        raise ValueError("sweep_k: empty seed list")
    n_distinct = len(np.unique(X, axis=0))
    k_hi = min(stop_k, n_distinct)
    wssse_by_k: dict[int, float] = {}
    silhouettes: list[tuple[int, float]] = []
    if algorithm == "BisectingKMeans":
        # the k-cluster bisecting fit is a prefix of the k_hi hierarchy:
        # one path build per seed covers every k (identical results to
        # per-k refits, ~9x less fitting work at stop_k=10)
        from clustering_spark.operators.clustering import (
            bisecting_kmeans_path,
            squared_euclidean_silhouette,
        )

        paths = [bisecting_kmeans_path(X, k_hi, s) for s in seeds]
        for k in range(start_k, k_hi + 1):
            best = None
            for path in paths:
                if k not in path:
                    continue
                labels, _, wssse = path[k]
                sil = squared_euclidean_silhouette(X, labels)
                if best is None or sil > best[0]:
                    best = (sil, wssse)
            if best is not None:
                wssse_by_k[k] = best[1]
                silhouettes.append((k, best[0]))
        return wssse_by_k, silhouettes
    for k in range(start_k, k_hi + 1):
        _, _, sil, wssse = best_of_seeds(X, k, algorithm, seeds)
        wssse_by_k[k] = wssse
        silhouettes.append((k, sil))
    return wssse_by_k, silhouettes


def tune_k(
    X: np.ndarray,
    algorithm: str,
    seeds: Iterable[int],
    start_k: int = 2,
    stop_k: int = 10,
    silhouette_threshold: float = 0.9,
) -> tuple[int, float]:
    """Sweep + decide: the whole per-segment tuner. Degenerate input
    (fewer than 2 distinct points) -> (1, 0.0)."""
    wssse_by_k, silhouettes = sweep_k(X, algorithm, seeds, start_k, stop_k)
    if not silhouettes:
        return 1, 0.0
    use_elbow = None if algorithm == "GaussianMixture" else wssse_by_k
    return choose_k(silhouettes, use_elbow, algorithm, silhouette_threshold)


def optimal_k_sweep(
    df: DataFrame,
    segment_cols: list[str],
    feature_cols: list[str],
    algorithm: str = "KMeans",
    seeds: tuple[int, ...] = (42,),
    start_k: int = 2,
    stop_k: int = 10,
    silhouette_threshold: float = 0.9,
    algorithms: list[str] | None = None,
    hit_col: str | None = None,
    k_col: str | None = None,
    old_sil_col: str | None = None,
    old_sil_threshold: float = 0.8,
    fit_seeds: tuple[int, ...] | None = None,
) -> DataFrame:
    """Tune k for EVERY segment in one shuffle: groupBy(segment)
    .applyInPandas, sweep + decision rule per Arrow task. Output: one
    row per segment with ``chosen_k`` and its ``silhouette``.

    This is the reference's optimal_k.py driver re-planned for scale:
    segments tune in parallel across executors, and the per-segment
    sweep touches only in-memory numpy data.

    ``algorithms``: tune SEVERAL algorithms per segment inside the same
    Arrow task (reference optimal_k.py:382-389 tunes all three) —
    output gains a leading ``algorithm`` column, one row per
    (algorithm, segment), and the input is scanned + shuffled once
    instead of once per algorithm. Identical to unioning per-algorithm
    sweeps (same seeds).

    Cached-bar (gate) mode, on when ``hit_col`` is given: the input
    carries each segment's k-cache lookup — ``hit_col`` true when a
    cache row exists, ``k_col`` / ``old_sil_col`` its k and
    silhouette — and each Arrow task takes the reference's decision
    (cluster.py:95-136). A miss is swept; a hit is fitted with its
    cached k through ``clustering.fit_segment`` (``fit_seeds``,
    thresholded at ``old_sil_col * old_sil_threshold``, the same fit
    the summary stage makes) and swept only if that fit falls below
    the bar. A miss is also fitted against its freshly tuned bar.
    Only swept segments come out, flagged ``missed`` / ``regressed``
    (a miss that fails its own bar carries both); a segment that hits
    and holds its bar emits nothing. Single algorithm only.
    """
    from pyspark.sql.types import BooleanType, StringType

    from clustering_spark.operators.clustering import (
        _FITTERS,
        _segment_value,
        fit_segment,
    )

    multi = algorithms is not None
    gate = hit_col is not None
    algo_list = list(algorithms) if multi else [algorithm]
    if multi and not algo_list:
        # [] validated vacuously and every group emitted zero rows —
        # a misconfigured sweep read as 'no segments'
        raise ValueError("algorithms=[] — pass None for the default")
    if gate and (multi or None in (k_col, old_sil_col, fit_seeds)):
        # the cached k and bar are per (algorithm, segment): a gate
        # over several algorithms, or without them, has nothing to
        # decide against
        raise ValueError(
            "cached-bar mode needs k_col, old_sil_col, fit_seeds and "
            "one algorithm"
        )
    unknown = [a for a in algo_list if a not in _FITTERS]
    if unknown:
        # fail at the driver, not as an opaque KeyError inside an
        # executor Arrow task after the shuffle has already run
        raise ValueError(f"unknown algorithm(s): {unknown}")
    if not tuple(seeds) or (gate and not tuple(fit_seeds)):
        # same driver-fail-fast rule: sweep_k's own ValueError fires
        # only inside an executor task after the scan+shuffle
        raise ValueError("empty seed list")
    out_names = (
        {"chosen_k", "silhouette"}
        | ({"algorithm"} if multi else set())
        | ({"missed", "regressed"} if gate else set())
    )
    clash = out_names & set(segment_cols)
    if clash:
        # a segment column named like an output field is silently
        # OVERWRITTEN by the tuned value in tune_group's row dict
        # (breaking the join back to the fact table), or duplicates
        # the schema field under multi=True
        raise ValueError(
            f"segment column(s) {sorted(clash)} collide with "
            "optimal_k_sweep output columns; rename them first"
        )
    seg_fields = [df.schema[c] for c in segment_cols]
    out_schema = StructType(
        ([StructField("algorithm", StringType(), False)] if multi else [])
        + [StructField(f.name, f.dataType, True) for f in seg_fields]
        + [
            StructField("chosen_k", IntegerType(), False),
            StructField("silhouette", DoubleType(), False),
        ]
        + (
            [
                StructField("missed", BooleanType(), False),
                StructField("regressed", BooleanType(), False),
            ]
            if gate
            else []
        )
    )
    out_cols = [f.name for f in out_schema.fields]
    feature_cols = list(feature_cols)
    segment_cols = list(segment_cols)
    seeds = tuple(seeds)
    fit_seeds = tuple(fit_seeds or ())

    def tune_group(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        seg_vals = {c: pdf[c].iloc[0] for c in segment_cols}
        rows = []
        for algo in algo_list:
            k, sil = tune_k(
                X, algo, seeds, start_k, stop_k, silhouette_threshold
            )
            row = {"algorithm": algo} if multi else {}
            row.update(seg_vals)
            row["chosen_k"] = int(k)
            row["silhouette"] = float(sil)
            rows.append(row)
        return pd.DataFrame(rows, columns=out_cols)

    def tune(X: np.ndarray) -> tuple[int, float]:
        k, sil = tune_k(
            X, algorithm, seeds, start_k, stop_k, silhouette_threshold
        )
        return int(k), float(sil)

    def below_bar(X: np.ndarray, k: int, bar: float) -> bool:
        _, sil, _ = fit_segment(
            X, k, algorithm, fit_seeds, bar, old_sil_threshold
        )
        return sil < bar * old_sil_threshold

    def gate_group(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[feature_cols].to_numpy(dtype=np.float64)
        missed = not _segment_value(pdf, hit_col, False)
        if missed:
            k, sil = tune(X)
            regressed = below_bar(X, k, sil)
        else:
            bar = _segment_value(pdf, old_sil_col)
            # no cached bar: nothing can regress (the reference
            # compares against a stored silhouette)
            if bar is None or not below_bar(
                X, int(_segment_value(pdf, k_col, start_k)), bar
            ):
                return pd.DataFrame([], columns=out_cols)
            k, sil = tune(X)
            regressed = True
        row = {c: pdf[c].iloc[0] for c in segment_cols}
        row.update(chosen_k=k, silhouette=sil, missed=missed, regressed=regressed)
        return pd.DataFrame([row], columns=out_cols)

    from clustering_spark.operators.segmentation import spread_groups

    # compute-bound Arrow stage: pre-spread by the segment keys so AQE
    # byte-coalescing can't serialize the sweeps (see spread_groups)
    return (
        spread_groups(df, segment_cols)
        .groupBy(*segment_cols)
        .applyInPandas(gate_group if gate else tune_group, out_schema)
    )
