"""Per-segment clustering (reference: cluster.py:44-71 `kClustering`,
optimal_k.py:16-100 seed search; algorithms M1-M6 in SURVEY §2.6).

Two execution modes behind one API (SURVEY §7.2):

* ``scale`` (default): ``groupBy(segment).applyInPandas(fit_fn)`` — one
  Arrow-batched task per segment, numpy implementations of KMeans /
  BisectingKMeans / GaussianMixture. Scales to millions of segments on a
  1000-executor cluster: the only shuffle is the groupBy on the segment
  keys, and each task is independent. This is the Spark-native answer to
  the reference's driver-side ThreadPoolExecutor (cluster.py:276-287).
  Constraint: one segment must fit in one worker's memory (inherent to
  per-segment model fitting; the reference has the same bound on the
  driver).

* ``parity``: Spark MLlib estimators fit per segment in a driver loop —
  matches the reference's numerics exactly (same MLlib KMeans'|| init,
  same ClusteringEvaluator silhouette). Right choice when segments are
  huge (each fit is itself distributed) and segment count is small.

  GaussianMixture parity exception: to keep EM off the F2J-LAPACK
  NaN-spin (see fit_guard), parity-mode GMM fits on unit-variance-
  scaled features (with a x1000 rescue rung per seed). Scaling is an
  invertible affine map, so the MODEL FAMILY is preserved — same
  mixture structure, and silhouette/WSSSE are still computed on the
  original features — but a specific seeded EM TRAJECTORY (and hence
  labels on ambiguous points) can diverge from a raw-feature MLlib
  fit: affine invariance holds for the family, not for one seeded run.
  KMeans / BisectingKMeans parity remains raw-feature and exact.

Numerics note: the numpy KMeans uses k-means++ init + Lloyd iterations
(maxIter=20, tol=1e-4 — MLlib's defaults); BisectingKMeans repeatedly
2-means-splits the largest-SSE cluster; GMM is full-covariance EM
initialized from k-means. Assignments agree with MLlib on separated
data but are not bit-identical (SURVEY §7.7) — correctness tests pin
invariants + planted-blob recovery, not cross-mode equality.

Seed search (optimal_k.py:16-72 `optimalModel`): fit ``len(seeds)``
models, keep the best silhouette. The reference draws unseeded random
seeds (SURVEY §4.3.7); we take an explicit deterministic seed list.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from clustering_spark.config import PREDICTION_COL

SILHOUETTE_COL = "silhouette"
_MAX_ITER = 20
_TOL = 1e-4


# ---------------------------------------------------------------- numpy core


def _kmeanspp_init(X: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    n = X.shape[0]
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        total = d2.sum()
        if total <= 0:
            centers[i:] = X[rng.randint(n, size=k - i)]
            break
        probs = d2 / total
        centers[i] = X[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    return centers


def _assign(X: np.ndarray, centers: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over c
    d2 = (
        (X**2).sum(axis=1)[:, None]
        - 2.0 * X @ centers.T
        + (centers**2).sum(axis=1)[None, :]
    )
    np.maximum(d2, 0.0, out=d2)
    labels = d2.argmin(axis=1)
    return labels, d2


def kmeans_fit(
    X: np.ndarray, k: int, seed: int, max_iter: int = _MAX_ITER, tol: float = _TOL
) -> tuple[np.ndarray, np.ndarray, float]:
    """Lloyd's KMeans. Returns (labels, centers, wssse)."""
    rng = np.random.RandomState(seed)
    k = min(k, len(np.unique(X, axis=0)))
    centers = _kmeanspp_init(X, k, rng)
    labels = np.zeros(len(X), dtype=np.int64)
    for _ in range(max_iter):
        labels, d2 = _assign(X, centers)
        new_centers = centers.copy()
        for c in range(k):
            mask = labels == c
            if mask.any():
                new_centers[c] = X[mask].mean(axis=0)
        shift = np.sqrt(((new_centers - centers) ** 2).sum(axis=1)).max()
        centers = new_centers
        if shift <= tol:
            break
    labels, d2 = _assign(X, centers)
    wssse = float(d2[np.arange(len(X)), labels].sum())
    return labels, centers, wssse


def _labels_to_fit(
    X: np.ndarray, labels: np.ndarray, n_clusters: int
) -> tuple[np.ndarray, np.ndarray, float]:
    centers = np.vstack(
        [
            X[labels == c].mean(axis=0) if (labels == c).any() else np.zeros(X.shape[1])
            for c in range(n_clusters)
        ]
    )
    _, d2 = _assign(X, centers)
    wssse = float(d2[np.arange(len(X)), labels].sum())
    return labels, centers, wssse


def bisecting_kmeans_path(
    X: np.ndarray, k_max: int, seed: int
) -> dict[int, tuple[np.ndarray, np.ndarray, float]]:
    """Top-down bisecting KMeans, returning a SNAPSHOT at every
    intermediate cluster count 1..k_max: {k: (labels, centers, wssse)}.

    Because the greedy split order for a given seed is deterministic,
    the k-cluster fit is exactly the (k-1)-split prefix of the k_max
    hierarchy — so a k sweep needs ONE hierarchy build per seed, not
    one per k (the per-k refit measured ~9x this cost at stop_k=10)."""
    rng = np.random.RandomState(seed)
    labels = np.zeros(len(X), dtype=np.int64)
    n_clusters = 1
    out = {1: _labels_to_fit(X, labels.copy(), 1)}
    while n_clusters < k_max:
        # pick the splittable cluster with largest SSE
        sses = []
        for c in range(n_clusters):
            pts = X[labels == c]
            if len(np.unique(pts, axis=0)) < 2:
                sses.append(-1.0)
            else:
                sses.append(float(((pts - pts.mean(axis=0)) ** 2).sum()))
        target = int(np.argmax(sses))
        if sses[target] < 0:
            break
        mask = labels == target
        sub_labels, _, _ = kmeans_fit(X[mask], 2, rng.randint(2**31 - 1))
        new_label = n_clusters
        idx = np.where(mask)[0]
        labels[idx[sub_labels == 1]] = new_label
        n_clusters += 1
        out[n_clusters] = _labels_to_fit(X, labels.copy(), n_clusters)
    return out


def bisecting_kmeans_fit(
    X: np.ndarray, k: int, seed: int
) -> tuple[np.ndarray, np.ndarray, float]:
    """Top-down bisecting KMeans: repeatedly 2-means-split the cluster
    with the largest SSE until k clusters exist (MLlib BisectingKMeans
    semantics, greedy-largest variant)."""
    path = bisecting_kmeans_path(X, k, seed)
    return path[max(path)]


def gmm_fit(
    X: np.ndarray, k: int, seed: int, max_iter: int = 100, tol: float = 1e-3
) -> tuple[np.ndarray, np.ndarray, float]:
    """Full-covariance Gaussian Mixture EM, k-means initialized.

    Per reference semantics (M3, cluster.py:152-153): reported centers
    are the per-cluster MEAN OF ASSIGNED POINTS (metrics.py:32-54), not
    the Gaussian means; WSSSE is not defined for GMM (optimal_k.py:129)
    so we return it w.r.t. those empirical centers for completeness.
    """
    n, d = X.shape
    labels0, centers0, _ = kmeans_fit(X, k, seed)
    k = centers0.shape[0]
    means = centers0.copy()
    covs = np.array([np.cov(X.T) + np.eye(d) * 1e-6 for _ in range(k)])
    weights = np.array([(labels0 == c).mean() for c in range(k)])
    weights = np.clip(weights, 1e-12, None)
    weights /= weights.sum()

    def log_gauss_all(X, means, covs):
        # batched over components: one stacked Cholesky + triangular
        # solve instead of a per-component Python loop
        covs = covs + np.eye(d)[None, :, :] * 1e-9
        try:
            chol = np.linalg.cholesky(covs)  # (k, d, d)
        except np.linalg.LinAlgError:
            # jitter ONLY the components that fail (matches the old
            # per-component loop): a blanket jitter would perturb the
            # healthy components too, changing degenerate-path fits
            chol = np.empty_like(covs)
            for c in range(covs.shape[0]):
                try:
                    chol[c] = np.linalg.cholesky(covs[c])
                except np.linalg.LinAlgError:
                    chol[c] = np.linalg.cholesky(
                        covs[c] + np.eye(d) * 1e-3
                    )
        diff = X[None, :, :] - means[:, None, :]  # (k, n, d)
        y = np.linalg.solve(chol, diff.transpose(0, 2, 1))  # (k, d, n)
        maha = (y**2).sum(axis=1)  # (k, n)
        logdet = 2.0 * np.log(
            np.diagonal(chol, axis1=1, axis2=2)
        ).sum(axis=1)  # (k,)
        return -0.5 * (d * np.log(2 * np.pi) + logdet[:, None] + maha)

    prev_ll = -np.inf
    resp = np.zeros((n, k))
    for _ in range(max_iter):
        logp = (np.log(weights)[:, None] + log_gauss_all(X, means, covs)).T
        m = logp.max(axis=1, keepdims=True)
        lse = m[:, 0] + np.log(np.exp(logp - m).sum(axis=1))
        resp = np.exp(logp - lse[:, None])
        ll = float(lse.sum())
        nk = resp.sum(axis=0) + 1e-12
        weights = nk / n
        means = (resp.T @ X) / nk[:, None]
        diff = X[None, :, :] - means[:, None, :]  # (k, n, d)
        covs = (
            np.einsum("nk,knd,kne->kde", resp, diff, diff)
            / nk[:, None, None]
            + np.eye(d)[None, :, :] * 1e-6
        )
        if abs(ll - prev_ll) < tol * max(1.0, abs(prev_ll)):
            break
        prev_ll = ll
    labels = resp.argmax(axis=1)
    emp_centers = np.vstack(
        [
            X[labels == c].mean(axis=0) if (labels == c).any() else means[c]
            for c in range(k)
        ]
    )
    _, d2 = _assign(X, emp_centers)
    wssse = float(d2[np.arange(len(X)), labels].sum())
    return labels, emp_centers, wssse


def gmm_fit_seeds(
    X: np.ndarray,
    k: int,
    seeds: tuple[int, ...],
    max_iter: int = 100,
    tol: float = 1e-3,
) -> list[tuple[np.ndarray, np.ndarray, float]]:
    """``[gmm_fit(X, k, s) for s in seeds]`` computed as ONE stacked EM
    — bit-identical to it on the BLAS builds the parity test has run
    on, cheaper by the numpy-dispatch floor. On the 12-point gate
    segments each scalar EM iteration is ~25 numpy calls on
    ~24-600-element arrays, i.e. per-op overhead, not arithmetic;
    stacking the seed axis amortizes that overhead across the sweep's
    3 seeds (measured ~90 -> ~45 ms/segment for the k=2..10 GMM sweep).

    Parity argument (pinned by tests/test_clustering_invariants.py in
    each environment): every op is elementwise, per-slice LAPACK
    (cholesky/solve loop dpotrf/dgesv per matrix either way), a
    per-slice dgemm (whose layout differs from the scalar path's — see
    the M-step note), or a reduction whose per-output-element
    accumulation order over the reduced axis is unchanged by the added
    leading seed axis (einsum spelled with the same index structure,
    optimize left OFF). Per-seed convergence is FROZEN exactly as the
    scalar loop leaves it: the breaking iteration's M-step still
    applies (scalar updates params before its break), resp is captured
    at the breaking iteration's E-step, and frozen slices are carried
    through np.where untouched while the remaining seeds iterate."""
    n, d = X.shape
    inits = [kmeans_fit(X, k, s) for s in seeds]
    k = inits[0][1].shape[0]  # capped identically for every seed
    S = len(seeds)
    means = np.stack([c.copy() for _, c, _ in inits])  # (S,k,d)
    base_cov = np.cov(X.T) + np.eye(d) * 1e-6
    covs = np.broadcast_to(base_cov, (S, k, d, d)).copy()
    weights = np.stack(
        [
            np.array([(labels0 == c).mean() for c in range(k)])
            for labels0, _, _ in inits
        ]
    )
    weights = np.clip(weights, 1e-12, None)
    weights /= weights.sum(axis=1, keepdims=True)

    def log_gauss_all(means, covs):
        covs = covs + np.eye(d)[None, None, :, :] * 1e-9
        try:
            chol = np.linalg.cholesky(covs)  # (S,k,d,d)
        except np.linalg.LinAlgError:
            chol = np.empty_like(covs)
            for s in range(S):
                for c in range(k):
                    try:
                        chol[s, c] = np.linalg.cholesky(covs[s, c])
                    except np.linalg.LinAlgError:
                        chol[s, c] = np.linalg.cholesky(
                            covs[s, c] + np.eye(d) * 1e-3
                        )
        diff = X[None, None, :, :] - means[:, :, None, :]  # (S,k,n,d)
        y = np.linalg.solve(chol, diff.transpose(0, 1, 3, 2))  # (S,k,d,n)
        maha = (y**2).sum(axis=2)  # (S,k,n)
        logdet = 2.0 * np.log(
            np.diagonal(chol, axis1=2, axis2=3)
        ).sum(axis=2)  # (S,k)
        return -0.5 * (d * np.log(2 * np.pi) + logdet[:, :, None] + maha)

    prev_ll = np.full(S, -np.inf)
    resp_final = np.zeros((S, n, k))
    active = np.ones(S, dtype=bool)
    for _ in range(max_iter):
        logp = (
            np.log(weights)[:, :, None] + log_gauss_all(means, covs)
        ).transpose(0, 2, 1)  # (S,n,k)
        m = logp.max(axis=2, keepdims=True)
        lse = m[:, :, 0] + np.log(np.exp(logp - m).sum(axis=2))
        resp = np.exp(logp - lse[:, :, None])
        ll = lse.sum(axis=1)  # (S,)
        resp_final[active] = resp[active]
        nk = resp.sum(axis=1) + 1e-12  # (S,k)
        new_weights = nk / n
        # per-slice 2-D matmul on a FRESH F-ordered copy, NOT batched
        # np.matmul on the stacked view: dgemm's bit-level result
        # depends on both the gufunc-vs-2-D dispatch path and the
        # input pointer alignment (a mid-stack slice sits at a
        # different mod-64 offset than the scalar path's fresh np.exp
        # allocation; both were caught by the bitwise parity sweep),
        # and an empty component's nk ~ 1e-12 amplifies the ulp into
        # a visibly different fallback center. The copy gives each
        # slice a fresh buffer (~1.5 KB per seed) but NOT the scalar
        # path's layout: its .T is C-contiguous, the scalar resp.T an
        # F-contiguous view. Parity therefore rests on this BLAS
        # treating both layouts alike — pinned by the bitwise parity
        # test in each environment it runs in, not by construction.
        new_means = np.stack(
            [resp[s].copy(order="F").T @ X for s in range(len(seeds))]
        ) / nk[:, :, None]
        diff = X[None, None, :, :] - new_means[:, :, None, :]
        new_covs = (
            np.einsum("snk,sknd,skne->skde", resp, diff, diff)
            / nk[:, :, None, None]
            + np.eye(d)[None, None, :, :] * 1e-6
        )
        weights = np.where(active[:, None], new_weights, weights)
        means = np.where(active[:, None, None], new_means, means)
        covs = np.where(active[:, None, None, None], new_covs, covs)
        conv = np.abs(ll - prev_ll) < tol * np.maximum(1.0, np.abs(prev_ll))
        prev_ll = np.where(active & ~conv, ll, prev_ll)
        active = active & ~conv
        if not active.any():
            break
    out = []
    for s in range(S):
        resp = resp_final[s]
        labels = resp.argmax(axis=1)
        emp_centers = np.vstack(
            [
                X[labels == c].mean(axis=0)
                if (labels == c).any()
                else means[s, c]
                for c in range(k)
            ]
        )
        _, d2 = _assign(X, emp_centers)
        wssse = float(d2[np.arange(len(X)), labels].sum())
        out.append((labels, emp_centers, wssse))
    return out


_FITTERS = {
    "KMeans": kmeans_fit,
    "BisectingKMeans": bisecting_kmeans_fit,
    "GaussianMixture": gmm_fit,
}


def squared_euclidean_silhouette(X: np.ndarray, labels: np.ndarray) -> float:
    """Centroid-based squared-Euclidean silhouette — the O(n·k) measure
    MLlib's ClusteringEvaluator computes (vs classic O(n^2)):
    a(i) uses own-cluster stats, b(i) = min over other clusters of
    avg||x - y||^2 = ||x||^2 - 2 x·mu_c + E_c[||y||^2].
    Returns 0.0 for a single cluster (metrics.py:140-148 parity)."""
    uniq = np.unique(labels)
    if len(uniq) < 2:
        return 0.0
    n = len(X)
    idx = np.searchsorted(uniq, labels)  # label -> dense cluster index
    counts = np.bincount(idx, minlength=len(uniq)).astype(np.float64)
    mus = np.zeros((len(uniq), X.shape[1]))
    np.add.at(mus, idx, X)
    mus /= counts[:, None]
    xsq = (X**2).sum(axis=1)
    msq = np.zeros(len(uniq))
    np.add.at(msq, idx, xsq)
    msq /= counts
    # D[i,c] = avg sq-dist from x_i to cluster c (one GEMM, no per-point loop)
    D = xsq[:, None] - 2.0 * X @ mus.T + msq[None, :]
    np.maximum(D, 0.0, out=D)
    rows = np.arange(n)
    a = D[rows, idx]
    D[rows, idx] = np.inf
    b = D.min(axis=1)
    denom = np.maximum(a, b)
    with np.errstate(invalid="ignore"):
        scores = np.where(denom <= 0, 0.0, (b - a) / denom)
    return float(scores.mean())


def best_of_seeds(
    X: np.ndarray, k: int, algorithm: str, seeds: Iterable[int]
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """Seed search (optimal_k.py:16-72): fit one model per seed, keep the
    max-silhouette one. Returns (labels, centers, silhouette, wssse)."""
    fitter = _FITTERS[algorithm]
    seeds = tuple(seeds)  # tolerate generators; callers loop per k
    if not seeds:
        raise ValueError("best_of_seeds: empty seed list")
    if algorithm == "GaussianMixture" and len(seeds) > 1:
        # every seed is fitted anyway (no early stop here, unlike
        # thresholded_best_of_seeds), so run the seed axis as ONE
        # stacked EM — bit-identical per gmm_fit_seeds' parity
        # contract, ~2x less numpy-dispatch overhead on tiny segments
        fits = gmm_fit_seeds(X, k, seeds)
    else:
        fits = (fitter(X, k, seed) for seed in seeds)
    best = None
    for labels, centers, wssse in fits:
        sil = squared_euclidean_silhouette(X, labels)
        if best is None or sil > best[2]:
            best = (labels, centers, sil, wssse)
    return best


def thresholded_best_of_seeds(
    X: np.ndarray,
    k: int,
    algorithm: str,
    seeds: Iterable[int],
    old_silhouette: float,
    threshold: float = 0.8,
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """Thresholded seed search (M6, optimal_k.py:75-100): keep drawing
    seeds (up to ``len(seeds)``) while the best silhouette is below
    ``old_silhouette * threshold``; early-stop once reached. Returns
    (labels, centers, silhouette, wssse) of the best fit seen."""
    fitter = _FITTERS[algorithm]
    seeds = tuple(seeds)
    if not seeds:
        # same fast-fail as best_of_seeds: returning None here would
        # surface as an opaque unpack TypeError inside the Arrow task
        raise ValueError("thresholded_best_of_seeds: empty seed list")
    best = None
    for seed in seeds:
        labels, centers, wssse = fitter(X, k, seed)
        sil = squared_euclidean_silhouette(X, labels)
        if best is None or sil > best[2]:
            best = (labels, centers, sil, wssse)
        if best[2] >= old_silhouette * threshold:
            break
    return best


def size_desc_relabel(labels: np.ndarray) -> dict:
    """Deterministic relabel map {raw cluster id -> rank}: by cluster
    size desc, ties by first appearance in ``labels``. THE single
    definition — ``fit_predict`` and ``fit_summarize`` must assign the
    same ``cluster_name`` for the same fit, so both call this.

    One np.unique pass: the earlier form rescanned the full labels
    array once per cluster inside the sort key (argmax(labels == c) —
    O(n·k) + a boolean temp per cluster, in the hot Arrow task);
    return_index gives the same first-occurrence tiebreak in the
    single O(n log n) pass that already computes the sizes."""
    uniq, first_idx, counts = np.unique(
        labels, return_index=True, return_counts=True
    )
    order = np.lexsort((first_idx, -counts))  # size desc, first-seen asc
    return {uniq[i]: rank for rank, i in enumerate(order)}


def _segment_value(pdf: pd.DataFrame, col: str | None, default=None):
    """The segment-constant value of ``col`` (first row) when the
    column is present and non-NaN, else ``default`` — the cached k and
    silhouette bar of a k-cache join. Shared by fit_group,
    summarize_group and the tuner's cached-bar gate (the drift class
    size_desc_relabel was centralized to prevent)."""
    if col is not None and col in pdf.columns:
        v = pdf[col].iloc[0]
        if pd.notna(v):
            return v
    return default


def fit_segment(
    X: np.ndarray,
    k: int,
    algorithm: str,
    seeds: tuple[int, ...],
    old_silhouette: float | None = None,
    threshold: float = 0.8,
) -> tuple[np.ndarray, float, float]:
    """One segment's fit at a requested k -> (labels, silhouette,
    wssse): fewer than 2 distinct points is one cluster at silhouette
    0; k is clamped to ``[2, n_distinct]``; a cached ``old_silhouette``
    selects the M6 thresholded seed search, else best-of-seeds.
    fit_group, summarize_group and the tuner's cached-bar gate all call
    it, so the fit that decides a regression is the fit summarized."""
    n_distinct = len(np.unique(X, axis=0))
    if n_distinct < 2 or len(X) < 2:
        return np.zeros(len(X), dtype=np.int64), 0.0, 0.0
    k = max(2, min(k, n_distinct))
    if old_silhouette is None:
        labels, _, sil, wssse = best_of_seeds(X, k, algorithm, seeds)
    else:
        labels, _, sil, wssse = thresholded_best_of_seeds(
            X, k, algorithm, seeds, old_silhouette, threshold
        )
    return labels, sil, wssse


# ------------------------------------------------------------- Spark driver


@dataclass
class SegmentedClusterer:
    """Fit one clustering model per (segment) group of one DataFrame.

    Input contract: ``df`` has ``segment_cols`` plus numeric
    ``feature_cols`` (already scaled), plus optionally a per-segment
    ``k_col`` (from the k-cache join); segments lacking it fall back to
    ``default_k``.

    Output: input rows + ``prediction`` (int, cluster id within the
    segment, ordered by cluster size desc then first-occurrence for
    determinism) + ``silhouette`` (double, constant per segment) +
    ``wssse`` (double, constant per segment).
    """

    segment_cols: list[str]
    feature_cols: list[str]
    algorithm: str = "KMeans"
    default_k: int = 3
    seeds: tuple[int, ...] = (42,)
    k_col: str | None = None
    mode: str = "scale"
    # M6 (optimal_k.py:75-100 thresholdedOptimalModel): when set, the
    # named column carries each segment's cached silhouette; the seed
    # search early-stops once a fit reaches old_sil * threshold instead
    # of exhausting the seed list. Pair with a longer seeds tuple
    # (thresholded_iter_num) — the common case stops after seed #1.
    old_sil_col: str | None = None
    old_sil_threshold: float = 0.8
    # parity-mode MLlib fits run under a driver watchdog (fit_guard):
    # a fit exceeding this many seconds is cancelled via its job group
    # and the next seed is tried. Guards the known F2J-LAPACK infinite
    # spin in GaussianMixture EM on degenerate covariances.
    fit_timeout: float = 300.0

    def fit_predict(self, df: DataFrame) -> DataFrame:
        if self.algorithm not in _FITTERS:
            raise ValueError(f"unknown algorithm {self.algorithm!r}")
        if not tuple(self.seeds):
            # driver-side fast-fail for BOTH modes: scale mode's
            # best_of_seeds raises only inside an executor task (after
            # the scan+shuffle), and parity mode's seed loop left
            # best=None -> an opaque 'cannot unpack NoneType' at the
            # unpack site — the exact failure best_of_seeds' own check
            # exists to avoid
            raise ValueError("empty seed list")
        # fast-fail on output-column collisions: scale mode would build
        # a duplicate-field schema (ambiguous-column AnalysisException
        # deep inside the Arrow query), parity mode's withColumn would
        # silently OVERWRITE the caller's column — e.g. re-clustering a
        # frame that already came out of fit_predict
        clash = {PREDICTION_COL, SILHOUETTE_COL, "wssse"} & set(df.columns)
        if clash:
            raise ValueError(
                f"input already has output column(s) {sorted(clash)}; "
                "drop or rename them before fit_predict"
            )
        if self.mode == "scale":
            return self._fit_apply_in_pandas(df)
        elif self.mode == "parity":
            return self._fit_mllib_loop(df)
        raise ValueError(f"unknown mode {self.mode!r}")

    # -- scale mode: one Arrow task per segment ---------------------------
    def _fit_apply_in_pandas(self, df: DataFrame) -> DataFrame:
        out_schema = StructType(
            df.schema.fields
            + [
                StructField(PREDICTION_COL, IntegerType(), False),
                StructField(SILHOUETTE_COL, DoubleType(), False),
                StructField("wssse", DoubleType(), False),
            ]
        )
        feature_cols = list(self.feature_cols)
        k_col, default_k = self.k_col, self.default_k
        algorithm, seeds = self.algorithm, tuple(self.seeds)
        old_sil_col, thr = self.old_sil_col, self.old_sil_threshold

        def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
            X = pdf[feature_cols].to_numpy(dtype=np.float64)
            labels, sil, wssse = fit_segment(
                X,
                int(_segment_value(pdf, k_col, default_k)),
                algorithm,
                seeds,
                _segment_value(pdf, old_sil_col),
                thr,
            )
            # deterministic relabel: by cluster size desc, then by first
            # appearance — stable across seeds that find the same split
            order = size_desc_relabel(labels)
            pdf = pdf.copy()
            pdf[PREDICTION_COL] = np.array([order[c] for c in labels], dtype=np.int32)
            pdf[SILHOUETTE_COL] = sil
            pdf["wssse"] = wssse
            return pdf

        from clustering_spark.operators.segmentation import spread_groups

        # compute-bound Arrow stage: pre-spread so AQE byte-coalescing
        # can't serialize per-segment fits (see spread_groups)
        return (
            spread_groups(df, self.segment_cols)
            .groupBy(*self.segment_cols)
            .applyInPandas(fit_group, out_schema)
        )

    # -- scale mode, summary output: one row per (segment, cluster) -------
    def fit_summarize(
        self, df: DataFrame, algorithms: list[str] | None = None
    ) -> DataFrame:
        """Fit per segment and emit per-cluster SUMMARIES directly from
        the same Arrow task: cluster_name, cluster_size, center, radius,
        entropy, silhouette, wssse.

        Why: the labeled-rows output feeds 3 downstream aggregations
        (centers, radii, entropy — metrics.py path), and without
        caching, Spark recomputes the model fit for each. The group
        already holds everything in memory — summarizing in-place makes
        the whole pipeline ONE shuffle (the groupBy) and the output
        #segments×k rows. This is the 100 TB plan: fact data is read
        once, shuffled once, and never materialized again.

        ``algorithms``: fit SEVERAL algorithms per segment inside the
        same Arrow task, emitting an extra ``algorithm`` column. The
        segment matrix is already in memory, so an n-algorithm sweep
        costs n fits but only ONE scan + ONE shuffle of the fact table
        (vs n of each when n single-algorithm pipelines are unioned).
        Results are bit-identical to the union of single-algorithm runs
        with the same seeds.

        Centers are emitted as SCALAR columns ``center_0..center_{d-1}``
        (one per feature), not an array — flat schemas sort/hash cleanly
        downstream and stay fully typed.
        """
        from pyspark.sql.types import LongType, StringType

        if self.mode == "parity":
            # fit_summarize is the numpy scale path by construction;
            # silently running it under mode='parity' would hand back
            # non-MLlib numerics to a caller who explicitly asked for
            # MLlib parity. The parity entry point is fit_predict +
            # the relational metrics block (pipeline.cluster_segments).
            raise ValueError(
                "fit_summarize has no parity implementation; use "
                "mode='scale', or fit_predict + metrics.cluster_summaries "
                "for MLlib-parity numerics"
            )
        multi = algorithms is not None
        algo_list = list(algorithms) if multi else [self.algorithm]
        if multi and not algo_list:
            # [] passed validation vacuously and every Arrow group
            # emitted zero rows — a misconfigured sweep read as
            # 'no segments' instead of failing fast
            raise ValueError("algorithms=[] — pass None for the default")
        for a in algo_list:
            if a not in _FITTERS:
                raise ValueError(f"unknown algorithm {a!r}")

        center_cols = [f"center_{i}" for i in range(len(self.feature_cols))]
        fixed_out = (
            {"cluster_name", "cluster_size", "radius", "entropy",
             SILHOUETTE_COL, "wssse", *center_cols}
            | ({"algorithm"} if multi else set())
        )
        clash = fixed_out & set(self.segment_cols)
        if clash:
            # same failure class the fit_predict guard closes: a
            # segment column named like an output field produces a
            # duplicate-field Arrow schema (opaque ambiguous-column
            # error) or a silently overwritten segment key
            raise ValueError(
                f"segment column(s) {sorted(clash)} collide with "
                "fit_summarize output columns; rename them first"
            )
        seg_fields = [df.schema[c] for c in self.segment_cols]
        out_schema = StructType(
            [StructField(f.name, f.dataType, True) for f in seg_fields]
            + ([StructField("algorithm", StringType(), False)] if multi else [])
            + [
                StructField("cluster_name", IntegerType(), False),
                StructField("cluster_size", LongType(), False),
            ]
            + [StructField(c, DoubleType(), False) for c in center_cols]
            + [
                StructField("radius", DoubleType(), False),
                StructField("entropy", DoubleType(), False),
                StructField(SILHOUETTE_COL, DoubleType(), False),
                StructField("wssse", DoubleType(), False),
            ]
        )
        feature_cols = list(self.feature_cols)
        segment_cols = list(self.segment_cols)
        k_col, default_k = self.k_col, self.default_k
        seeds = tuple(self.seeds)
        old_sil_col, thr = self.old_sil_col, self.old_sil_threshold

        def summarize_group(pdf: pd.DataFrame) -> pd.DataFrame:
            X = pdf[feature_cols].to_numpy(dtype=np.float64)
            seg_vals = {c: pdf[c].iloc[0] for c in segment_cols}
            k = int(_segment_value(pdf, k_col, default_k))
            bar = _segment_value(pdf, old_sil_col)
            rows = []
            for algo in algo_list:
                labels, sil, wssse = fit_segment(X, k, algo, seeds, bar, thr)
                uniq, counts = np.unique(labels, return_counts=True)
                # size-desc, first-occurrence relabel — shared helper,
                # so this and fit_predict cannot drift
                rank_of = size_desc_relabel(labels)
                order = sorted(rank_of, key=rank_of.get)
                p = counts / counts.sum()
                entropy = (
                    float(-(p * np.log2(p)).sum()) if len(uniq) > 1 else 0.0
                )
                algo_val = {"algorithm": algo} if multi else {}
                for rank, c in enumerate(order):
                    pts = X[labels == c]
                    ctr = pts.mean(axis=0)
                    radius = float(
                        np.sqrt(((pts - ctr) ** 2).sum(axis=1).max())
                    )
                    rows.append(
                        {
                            **seg_vals,
                            **algo_val,
                            "cluster_name": rank,
                            "cluster_size": int(len(pts)),
                            **{
                                center_cols[i]: float(ctr[i])
                                for i in range(len(center_cols))
                            },
                            "radius": radius,
                            "entropy": abs(entropy),
                            SILHOUETTE_COL: sil,
                            "wssse": wssse,
                        }
                    )
            return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

        from clustering_spark.operators.segmentation import spread_groups

        return (
            spread_groups(df, self.segment_cols)
            .groupBy(*self.segment_cols)
            .applyInPandas(summarize_group, out_schema)
        )

    # -- parity mode: MLlib estimators, driver loop over segments ---------
    def _fit_mllib_loop(self, df: DataFrame) -> DataFrame:
        """MLlib path for strict numeric parity with the reference
        (cluster.py:44-71). Distributed per-fit, serial over segments —
        use when segments are few and large. Requires a vector features
        column; we assemble arrays on the fly.

        GaussianMixture fits on unit-variance-scaled features (computed
        per segment with native aggregates). EM's covariance
        eigendecomposition runs on pure-Java F2J LAPACK in this sandbox
        and can spin FOREVER on tight blobs (sigma~0.1 scale) whose
        covariances collapse toward singular; unit variance conditions
        EM so they stay finite. Per-feature scaling is an invertible
        affine map, so the mixture structure is preserved — predictions
        come from the scaled-space fit, while silhouette and WSSSE are
        still computed on the ORIGINAL features, matching the
        reference's reporting. Every fit additionally runs under the
        fit_guard watchdog (timeout -> cancelJobGroup -> next seed), so
        a hang can never take the driver down with it.
        """
        from pyspark.ml.clustering import BisectingKMeans, GaussianMixture, KMeans
        from pyspark.ml.evaluation import ClusteringEvaluator
        from pyspark.ml.feature import VectorAssembler

        from clustering_spark.operators.fit_guard import FitTimeout, guarded_fit

        est_cls = {
            "KMeans": KMeans,
            "BisectingKMeans": BisectingKMeans,
            "GaussianMixture": GaussianMixture,
        }[self.algorithm]

        assembler = VectorAssembler(
            inputCols=self.feature_cols, outputCol="__features_vec"
        )
        assembled = assembler.transform(df)
        # one driver round-trip gathering segment ids AND each segment's
        # cached k / cached silhouette (both constant within a segment —
        # first() is it)
        seg_sel = df.groupBy(*self.segment_cols).agg(
            # `in df.columns`, matching scale mode's fit_group contract:
            # a configured-but-absent k_col (k-cache miss path) falls
            # back to default_k instead of AnalysisException-ing
            F.first(
                F.col(self.k_col)
                if self.k_col and self.k_col in df.columns
                else F.lit(None)
            ).alias("__k"),
            F.first(
                F.col(self.old_sil_col)
                if self.old_sil_col and self.old_sil_col in df.columns
                else F.lit(None).cast("double")
            ).alias("__osil"),
        )
        segs = [r.asDict() for r in seg_sel.collect()]
        if len(segs) > 200:
            raise ValueError(
                f"parity mode fits segments serially via MLlib; {len(segs)} "
                "segments would launch that many fit loops — use mode='scale'"
            )
        evaluator = ClusteringEvaluator(
            predictionCol=PREDICTION_COL, featuresCol="__features_vec"
        )
        empty_shaped = (
            assembled.drop("__features_vec")
            .withColumn(PREDICTION_COL, F.lit(0))
            .withColumn(SILHOUETTE_COL, F.lit(0.0))
            .withColumn("wssse", F.lit(0.0))
            .limit(0)
        )
        if not segs:
            return empty_shaped
        parts = []
        for seg in segs:
            seg_k = seg.pop("__k", None)
            seg_osil = seg.pop("__osil", None)
            # pd.notna: a NaN cached k (DoubleType cache column) passes
            # `is not None` but int(NaN) raises — scale mode's
            # fit_group guards identically
            k = (
                int(seg_k)
                if seg_k is not None and pd.notna(seg_k)
                else self.default_k
            )
            cond = F.lit(True)
            for c in self.segment_cols:
                # eqNullSafe: groupBy above emits NULL-key segments,
                # and == NULL would filter to an empty frame — parity
                # mode silently losing rows that scale mode clusters
                cond = cond & F.col(c).eqNullSafe(F.lit(seg[c]))
            sdf = assembled.filter(cond).cache()
            try:
                # exact distinct count (not a limit(2) probe): parity
                # must clamp k to [2, n_distinct] like scale mode does
                # (clustering.py fit_group) — an unclamped cached k can
                # crash GaussianMixture outright (fewer points than
                # components) or make the two modes disagree. Parity is
                # the few-large-segments path, so the extra aggregation
                # per segment is acceptable by its own contract.
                n_distinct = sdf.select(*self.feature_cols).distinct().count()
                if n_distinct < 2:
                    labeled = sdf.withColumn(PREDICTION_COL, F.lit(0)).withColumn(
                        SILHOUETTE_COL, F.lit(0.0)
                    ).withColumn("wssse", F.lit(0.0))
                    # materialize before unpersist so the union below
                    # doesn't recompute the filter
                    parts.append(labeled.drop("__features_vec").localCheckpoint())
                    continue
                k = max(2, min(k, n_distinct))
                fit_df, fit_feat_col, std_helper_cols = sdf, "__features_vec", []
                if est_cls is GaussianMixture:
                    # unit-variance conditioning (see method docstring):
                    # one native agg per segment — parity is the
                    # few-large-segments path, same budget as the
                    # n_distinct probe above
                    std_row = sdf.agg(
                        *[
                            F.stddev_samp(F.col(c)).alias(f"__s{i}")
                            for i, c in enumerate(self.feature_cols)
                        ]
                    ).collect()[0]
                    stds = [
                        float(s) if s is not None and s == s and s > 0 else 1.0
                        for s in std_row
                    ]
                    std_helper_cols = [
                        f"__std_{i}" for i in range(len(self.feature_cols))
                    ]
                    fit_df = sdf.select(
                        "*",
                        *[
                            (F.col(c) / F.lit(stds[i])).alias(std_helper_cols[i])
                            for i, c in enumerate(self.feature_cols)
                        ],
                    )
                    fit_df = VectorAssembler(
                        inputCols=std_helper_cols, outputCol="__features_std"
                    ).transform(fit_df)
                    fit_feat_col = "__features_std"
                    # rescue rung: the SAME features x1000. Unit dataset
                    # variance conditions the initial EM steps, but a
                    # component converging onto a tight blob still drives
                    # its own covariance toward the underflow regime
                    # where F2J dsyev/dlascl can NaN-spin — observed
                    # nondeterministically (treeAggregate summation
                    # order) even post-standardization. Scaling up by
                    # 1e3 multiplies every covariance by 1e6, far from
                    # underflow, while staying an invertible affine map
                    # (same mixture structure, same labels for a sane
                    # fit); silhouette/wssse still come from ORIGINAL
                    # features either way.
                    rescue_cols = [f"__rsc_{i}" for i in std_helper_cols]
                    fit_df = fit_df.select(
                        "*",
                        *[
                            (F.col(sc) * F.lit(1000.0)).alias(rc)
                            for sc, rc in zip(std_helper_cols, rescue_cols)
                        ],
                    )
                    fit_df = VectorAssembler(
                        inputCols=rescue_cols, outputCol="__features_rescue"
                    ).transform(fit_df)
                    std_helper_cols = (
                        std_helper_cols
                        + rescue_cols
                        + ["__features_std", "__features_rescue"]
                    )
                # per-seed attempt ladder: normal conditioning first,
                # then (GMM only) the x1000 rescue rung on the SAME
                # seed before burning it — a 1-seed parity config must
                # not fail outright because one trajectory hit the spin
                attempt_cols = [fit_feat_col]
                if est_cls is GaussianMixture:
                    attempt_cols.append("__features_rescue")
                best = None
                timed_out = 0
                for seed in self.seeds:
                    model = None
                    for att_col in attempt_cols:
                        est = est_cls(
                            featuresCol=att_col,
                            predictionCol=PREDICTION_COL,
                            k=k,
                            seed=seed,
                        )
                        try:
                            model = guarded_fit(
                                est,
                                fit_df,
                                timeout=self.fit_timeout,
                                desc=(
                                    f"parity {self.algorithm} k={k} "
                                    f"seed={seed} features={att_col}"
                                ),
                            )
                            break
                        except FitTimeout:
                            # try the next conditioning rung, then the
                            # next seed — never the driver's patience
                            continue
                    if model is None:
                        timed_out += 1
                        continue
                    labeled = model.transform(fit_df)
                    n_clusters = labeled.select(PREDICTION_COL).distinct().count()
                    sil = evaluator.evaluate(labeled) if n_clusters >= 2 else 0.0
                    if est_cls is GaussianMixture:
                        # GaussianMixtureSummary has no trainingCost;
                        # the empirical-center WSSSE (scale mode's
                        # gmm_fit semantics) is computed ONCE for the
                        # winning fit below — a per-seed job here would
                        # multiply parity's cost for a value only the
                        # best fit reports
                        wssse = float("nan")
                    else:
                        wssse = float(model.summary.trainingCost)
                    if best is None or sil > best[1]:
                        best = (labeled, sil, wssse)
                    # M6 thresholded early-stop — same rule as the
                    # scale path's thresholded_best_of_seeds: stop
                    # burning MLlib fits once a fit clears the cached
                    # quality bar
                    if (
                        seg_osil is not None
                        and best[1] >= float(seg_osil) * self.old_sil_threshold
                    ):
                        break
                if best is None:
                    # every seed hit the watchdog — surface a clear,
                    # terminating error instead of the silent forever-
                    # hang this path used to risk
                    raise RuntimeError(
                        f"parity {self.algorithm} fit timed out for all "
                        f"{timed_out} seed(s) on segment {seg} "
                        f"(watchdog {self.fit_timeout:.0f}s each); "
                        "raise fit_timeout or use mode='scale'"
                    )
                labeled, sil, wssse = best
                if est_cls is GaussianMixture:
                    # empirical-center WSSSE for the winning fit —
                    # parity previously emitted a constant 0.0 here
                    # (swallowed AttributeError) while scale mode
                    # emitted the real value: a silent mode-dependent
                    # metric. One broadcast join over the cached
                    # segment frame; parity is the few-large-segments
                    # path, so the extra job is within its contract.
                    ctr_aggs = [
                        F.avg(F.col(c)).alias(f"__ctr_{i}")
                        for i, c in enumerate(self.feature_cols)
                    ]
                    ctrs = labeled.groupBy(PREDICTION_COL).agg(*ctr_aggs)
                    d2 = sum(
                        (F.col(c) - F.col(f"__ctr_{i}")) ** 2
                        for i, c in enumerate(self.feature_cols)
                    )
                    wssse = float(
                        labeled.join(F.broadcast(ctrs), on=PREDICTION_COL)
                        .agg(F.sum(d2).alias("__w"))
                        .collect()[0]["__w"]
                    )
                parts.append(
                    labeled.withColumn(SILHOUETTE_COL, F.lit(sil))
                    .withColumn("wssse", F.lit(wssse))
                    .drop("__features_vec", *std_helper_cols)
                    .localCheckpoint()
                )
            finally:
                sdf.unpersist()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
