"""Clustering correctness without an oracle (SURVEY §5.2 item 3):
fixed-seed determinism, invariants, planted-blob recovery, and
fit_predict/fit_summarize agreement.
"""

from __future__ import annotations

import numpy as np
import pytest

from clustering_spark.operators.clustering import (
    SegmentedClusterer,
    best_of_seeds,
    bisecting_kmeans_fit,
    gmm_fit,
    kmeans_fit,
    squared_euclidean_silhouette,
)


def planted_blobs(k=3, n_per=40, spread=0.05, seed=7):
    """Well-separated 2-d blobs; planted label = blob index."""
    rng = np.random.RandomState(seed)
    centers = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]])[:k]
    X = np.vstack(
        [c + rng.randn(n_per, 2) * spread for c in centers]
    )
    truth = np.repeat(np.arange(k), n_per)
    return X, truth


def blobs_recovered(labels, truth, k):
    """Every planted blob maps to exactly one predicted label and
    vice versa (permutation-invariant exact recovery)."""
    mapping = {}
    for b in range(k):
        got = set(labels[truth == b])
        if len(got) != 1:
            return False
        mapping[b] = got.pop()
    return len(set(mapping.values())) == k


@pytest.mark.parametrize("fitter", [kmeans_fit, bisecting_kmeans_fit, gmm_fit])
def test_fit_invariants(fitter):
    X, _ = planted_blobs(k=3)
    labels, centers, wssse = fitter(X, 3, seed=11)
    # every row labeled, labels in [0, k)
    assert labels.shape == (len(X),)
    assert set(labels) <= set(range(3))
    # centers inside the data bounding box
    assert (centers >= X.min(axis=0) - 1e-9).all()
    assert (centers <= X.max(axis=0) + 1e-9).all()
    assert wssse >= 0.0


@pytest.mark.parametrize("fitter", [kmeans_fit, bisecting_kmeans_fit, gmm_fit])
def test_planted_blob_recovery(fitter):
    X, truth = planted_blobs(k=3)
    labels, _, _ = fitter(X, 3, seed=11)
    assert blobs_recovered(labels, truth, 3)


def test_fixed_seed_determinism():
    X, _ = planted_blobs(k=3)
    l1, c1, w1 = kmeans_fit(X, 3, seed=42)
    l2, c2, w2 = kmeans_fit(X, 3, seed=42)
    assert (l1 == l2).all()
    assert np.allclose(c1, c2)
    assert w1 == w2


def test_k_capped_at_distinct_points():
    X = np.array([[1.0, 1.0], [1.0, 1.0], [2.0, 2.0]])
    labels, centers, _ = kmeans_fit(X, 5, seed=1)
    # only 2 distinct points -> at most 2 clusters
    assert len(set(labels)) <= 2
    assert centers.shape[0] <= 2


def test_silhouette_range_and_single_cluster():
    X, _ = planted_blobs(k=2)
    labels, _, _ = kmeans_fit(X, 2, seed=3)
    s = squared_euclidean_silhouette(X, labels)
    assert -1.0 <= s <= 1.0
    # well-separated blobs -> near-perfect silhouette
    assert s > 0.9
    # single cluster -> 0.0 (metrics.py:140-148 parity)
    assert squared_euclidean_silhouette(X, np.zeros(len(X), dtype=int)) == 0.0


def test_best_of_seeds_picks_max_silhouette():
    X, _ = planted_blobs(k=3)
    _, _, sil, _ = best_of_seeds(X, 3, "KMeans", seeds=(1, 2, 3))
    for seed in (1, 2, 3):
        labels, _, _ = kmeans_fit(X, 3, seed)
        assert sil >= squared_euclidean_silhouette(X, labels) - 1e-12


def _blob_df(spark, segs=("s1", "s2")):
    rows = []
    for seg in segs:
        X, _ = planted_blobs(k=3, n_per=30)
        rows += [(seg, float(x), float(y)) for x, y in X]
    return spark.createDataFrame(rows, "seg string, fx double, fy double")


def test_fit_predict_invariants_spark(spark):
    df = _blob_df(spark)
    clusterer = SegmentedClusterer(
        segment_cols=["seg"], feature_cols=["fx", "fy"], default_k=3, seeds=(42,)
    )
    pdf = clusterer.fit_predict(df).toPandas()
    assert len(pdf) == df.count()
    for seg, grp in pdf.groupby("seg"):
        assert set(grp.prediction) == {0, 1, 2}
        assert grp.silhouette.nunique() == 1
        assert -1.0 <= grp.silhouette.iloc[0] <= 1.0
        # deterministic relabel: label 0 is the biggest cluster
        sizes = grp.prediction.value_counts()
        assert sizes[0] == sizes.max()


def test_fit_summarize_agrees_with_fit_predict(spark):
    df = _blob_df(spark, segs=("only",))
    clusterer = SegmentedClusterer(
        segment_cols=["seg"], feature_cols=["fx", "fy"], default_k=3, seeds=(42,)
    )
    labeled = clusterer.fit_predict(df).toPandas()
    summary = clusterer.fit_summarize(df).toPandas()
    assert len(summary) == 3
    # sizes per cluster_name match the labeled row counts
    sizes_l = labeled.prediction.value_counts().to_dict()
    sizes_s = dict(zip(summary.cluster_name, summary.cluster_size))
    assert sizes_l == sizes_s
    # flat scalar centers, inside data bounds
    assert {"center_0", "center_1"} <= set(summary.columns)
    assert summary.center_0.between(labeled.fx.min(), labeled.fx.max()).all()
    # entropy of 3 equal blobs ~ log2(3)
    assert abs(summary.entropy.iloc[0] - np.log2(3)) < 0.1


@pytest.mark.parametrize(
    "algorithm", ["KMeans", "BisectingKMeans", "GaussianMixture"]
)
def test_fit_summarize_matches_labelled_reference(spark, algorithm):
    """fit_summarize's in-task summaries equal the relational metrics
    block run over fit_predict's labelled rows — on every algorithm
    and on a NULL micro-segment, which groupBy keeps as a real group
    and which must get its real entropy, not a NULL one."""
    from clustering_spark.operators.metrics import (
        cluster_summaries,
        segment_entropy,
    )

    rows = []
    for i, micro in enumerate(("m1", None, "m2")):
        X, _ = planted_blobs(k=3, n_per=20, spread=0.5, seed=i)
        rows += [("c1", micro, float(x), float(y)) for x, y in X]
    df = spark.createDataFrame(
        rows, "macro string, micro string, fx double, fy double"
    )
    segs = ["macro", "micro"]
    clusterer = SegmentedClusterer(
        segment_cols=segs, feature_cols=["fx", "fy"],
        algorithm=algorithm, default_k=3, seeds=(42, 7),
    )
    labelled = clusterer.fit_predict(df)
    keys = [*segs, "cluster_name"]
    ref = (
        cluster_summaries(labelled, segs, ["fx", "fy"])
        .withColumnRenamed("prediction", "cluster_name")
        .toPandas()
        .merge(segment_entropy(labelled, segs).toPandas(), on=segs)
    )
    got = clusterer.fit_summarize(df).toPandas()

    def by_key(pdf):
        pdf = pdf.assign(micro=pdf.micro.fillna("<null>"))
        return pdf.sort_values(keys).set_index(keys)

    ref, got = by_key(ref), by_key(got)
    assert ("c1", "<null>", 0) in got.index
    assert list(got.index) == list(ref.index)
    assert (got.cluster_size == ref.cluster_size).all()
    for col in ("center_0", "center_1", "radius", "entropy", "silhouette"):
        np.testing.assert_allclose(got[col], ref[col], rtol=0, atol=1e-9)
    # a real entropy on the NULL segment: three clusters, 0 < H <= log2 3
    null_h = got.xs("<null>", level="micro").entropy
    assert ((null_h > 0.0) & (null_h <= np.log2(3) + 1e-9)).all()


def test_multi_algorithm_equals_union_of_singles(spark):
    """fit_summarize(algorithms=[...]) must be bit-identical to running
    each algorithm alone (same seeds) — this pins the single-shuffle
    multi-algorithm path used by the cluster_fit registry query."""
    df = _blob_df(spark, segs=("a", "b"))
    kw = dict(segment_cols=["seg"], feature_cols=["fx", "fy"], default_k=3, seeds=(42,))
    algos = ["KMeans", "BisectingKMeans", "GaussianMixture"]
    multi = (
        SegmentedClusterer(**kw)
        .fit_summarize(df, algorithms=algos)
        .toPandas()
        .sort_values(["algorithm", "seg", "cluster_name"])
        .reset_index(drop=True)
    )
    singles = []
    for a in algos:
        s = SegmentedClusterer(algorithm=a, **kw).fit_summarize(df).toPandas()
        s.insert(1, "algorithm", a)
        singles.append(s)
    import pandas as pd

    expect = (
        pd.concat(singles)
        .sort_values(["algorithm", "seg", "cluster_name"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(multi[expect.columns], expect)


def test_degenerate_segment_single_cluster(spark):
    df = spark.createDataFrame(
        [("s", 1.0, 1.0)] * 5, "seg string, fx double, fy double"
    )
    clusterer = SegmentedClusterer(
        segment_cols=["seg"], feature_cols=["fx", "fy"], default_k=3, seeds=(42,)
    )
    pdf = clusterer.fit_predict(df).toPandas()
    assert set(pdf.prediction) == {0}
    assert set(pdf.silhouette) == {0.0}


def test_fit_predict_rejects_output_column_collision(spark):
    df = _blob_df(spark, segs=("a",))
    clus = SegmentedClusterer(segment_cols=["seg"], feature_cols=["fx", "fy"])
    once = clus.fit_predict(df)
    with pytest.raises(ValueError, match="output column"):
        clus.fit_predict(once)


@pytest.mark.parametrize("case", ["clamped", "nan", "absent"])
def test_fit_predict_segment_k(spark, case):
    """A segment's k comes from ``k_col``: clamped to the segment's
    distinct points, and ``default_k`` where the value is NaN or the
    column is absent (a k-cache miss)."""
    if case == "clamped":
        pts = [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)]
    else:
        pts = [(float(i % 5), float(i // 5)) for i in range(20)]
    schema = "seg string, x double, y double"
    rows = [("s", x, y) for x, y in pts]
    if case != "absent":
        k = 5.0 if case == "clamped" else float("nan")
        schema += ", cached_k double"
        rows = [r + (k,) for r in rows]
    out = SegmentedClusterer(
        segment_cols=["seg"], feature_cols=["x", "y"],
        k_col="cached_k", default_k=2,
    ).fit_predict(spark.createDataFrame(rows, schema)).toPandas()
    assert len(out) == len(pts)
    assert out.prediction.nunique() == (3 if case == "clamped" else 2)


# ----------------------------------------- round-7 batch-16 review pins


def test_size_desc_relabel_single_pass_equivalent():
    """The np.unique rewrite must keep the exact (size desc,
    first-appearance asc) semantics of the per-cluster-rescan form."""
    from clustering_spark.operators.clustering import size_desc_relabel

    rng = np.random.RandomState(0)
    for _ in range(50):
        labels = rng.randint(0, 8, size=rng.randint(1, 60))
        got = size_desc_relabel(labels)
        sizes = {c: int((labels == c).sum()) for c in set(labels.tolist())}
        first = {c: int(np.argmax(labels == c)) for c in sizes}
        expect = {
            c: r
            for r, c in enumerate(
                sorted(sizes, key=lambda c: (-sizes[c], first[c]))
            )
        }
        assert {int(k): v for k, v in got.items()} == expect


def test_empty_seeds_fast_fail(spark):
    df = spark.createDataFrame(
        [("s", 1.0, 2.0)], "seg string, x double, y double"
    )
    with pytest.raises(ValueError, match="empty seed list"):
        SegmentedClusterer(
            segment_cols=["seg"], feature_cols=["x", "y"], seeds=()
        ).fit_predict(df)


def test_fit_summarize_guards(spark):
    df = spark.createDataFrame(
        [("s", 1.0, 2.0)], "seg string, x double, y double"
    )
    with pytest.raises(ValueError, match="algorithms"):
        SegmentedClusterer(
            segment_cols=["seg"], feature_cols=["x", "y"]
        ).fit_summarize(df, algorithms=[])
    df2 = spark.createDataFrame(
        [("s", 1.0, 2.0)], "wssse string, x double, y double"
    )
    with pytest.raises(ValueError, match="collide"):
        SegmentedClusterer(
            segment_cols=["wssse"], feature_cols=["x", "y"]
        ).fit_summarize(df2)


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_cluster_assign_recovers_blob_partition(spark, sf_dir):
    """The hash-gated cluster_assign entry rests on one assumption:
    seeded k-means at k=3 converges to the planted-blob partition, so
    its output is SQL-derivable. Pin that directly at every local
    scale — if a seed/kernel change ever breaks exact recovery, this
    points at the assumption instead of a generic gate hash-mismatch."""
    import os

    from clustering_spark.queries import QUERIES

    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    pdf = QUERIES["cluster_assign"](spark, sf_dir).toPandas()
    assert list(pdf.cluster_name) == [0, 1, 2]
    sizes = list(pdf.cluster_size)
    assert sizes[0] > sizes[1] > sizes[2]  # strict 3:2:1 construction
    # centers sit on the planted blob offsets (jitter is +-0.1)
    centers = {
        (round(r.center_fx), round(r.center_fy)) for r in pdf.itertuples()
    }
    assert centers == {(0, 0), (10, 0), (0, 10)}
    # radius bounded by the jitter envelope, wssse consistent with it
    assert (pdf.radius <= 0.15).all()
    assert 0 < pdf.wssse.iloc[0] < 0.01 * sizes[0] * 6


def test_gmm_fit_seeds_bitwise_parity_with_scalar():
    """best_of_seeds' stacked-EM fast path (gmm_fit_seeds) must be
    BIT-IDENTICAL to the scalar gmm_fit loop it replaces — labels,
    centers (including the empty-cluster fallback to the EM means,
    where an nk ~ 1e-12 amplifies any ulp drift), and wssse. The sweep
    deliberately includes d=1, duplicate-heavy (degenerate-covariance)
    inputs and k far above the distinct-point count — the shapes that
    exposed the batched-matmul and allocation-alignment ulp drifts the
    implementation now guards against."""
    import numpy as np

    from clustering_spark.operators.clustering import gmm_fit, gmm_fit_seeds

    rng = np.random.RandomState(7)
    for trial in range(12):
        n = rng.randint(4, 80)
        d = rng.choice([1, 2, 3])
        X = np.round(rng.randn(n, d) * rng.choice([0.1, 1.0, 10.0]), 2)
        if trial % 4 == 0:
            X[: n // 2] = X[0]  # duplicates -> degenerate covariances
        for k in (2, 5, 9):
            seeds = (42, 43, 44)
            stacked = gmm_fit_seeds(X, k, seeds)
            for s, seed in enumerate(seeds):
                la, ca, wa = gmm_fit(X, k, seed)
                lb, cb, wb = stacked[s]
                assert np.array_equal(la, lb), (trial, n, d, k, seed)
                assert np.array_equal(ca, cb), (trial, n, d, k, seed)
                assert wa == wb, (trial, n, d, k, seed)
