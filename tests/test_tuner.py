"""Tuner unit tests on hand-computed fixtures (SURVEY M5-M9;
reference optimal_k.py:141-192, preprocess.py:173-188).
"""

from __future__ import annotations

import math

import numpy as np

from clustering_spark.operators.tuner import (
    choose_k,
    distance_to_line,
    optimal_k_sweep,
    sweep_k,
    thresholded_best_of_seeds,
    tune_k,
)
from tests.test_clustering_invariants import planted_blobs


def test_distance_to_line_hand_computed():
    # chord y = 10 - x from (0,10) to (10,0); point (0,0) is at
    # distance 10/sqrt(2)
    d = distance_to_line((0, 0), (0, 10), (10, 0))
    assert abs(d - 10 / math.sqrt(2)) < 1e-12
    # point on the line -> 0
    assert distance_to_line((5, 5), (0, 10), (10, 0)) < 1e-12
    # horizontal chord: plain vertical distance
    assert abs(distance_to_line((3, 7), (0, 1), (10, 1)) - 6.0) < 1e-12


def test_choose_k_clear_winner():
    sils = [(2, 0.9), (3, 0.5), (4, 0.4)]
    wssse = {2: 100.0, 3: 50.0, 4: 40.0}
    # 0.9 * 0.9 = 0.81 > 0.5 -> #1 wins outright
    assert choose_k(sils, wssse) == (2, 0.9)


def test_choose_k_promotes_runner_up_on_elbow():
    # #2 within threshold of #1 (0.88 > 0.9*0.9=0.81) and farther from
    # the chord -> promoted
    sils = [(2, 0.9), (6, 0.88), (9, 0.2)]
    # strong elbow at k=6: chord from (2,100) to (10,10)
    wssse = {2: 100.0, 3: 90.0, 4: 80.0, 5: 70.0, 6: 20.0, 7: 18.0, 8: 15.0, 9: 12.0, 10: 10.0}
    assert choose_k(sils, wssse) == (6, 0.88)


def test_choose_k_third_candidate_promotion():
    # winner = #1 (elbow check keeps it), but #3 is within threshold of
    # the winner AND farther from the chord -> promoted
    sils = [(2, 0.9), (3, 0.89), (6, 0.85)]
    wssse = {2: 100.0, 3: 95.0, 4: 80.0, 5: 60.0, 6: 20.0, 7: 18.0, 8: 16.0, 9: 13.0, 10: 10.0}
    # dist: k=3 is near the chord (slightly above), k=6 far below
    k, sil = choose_k(sils, wssse)
    assert (k, sil) == (6, 0.85)


def test_choose_k_gmm_is_argmax():
    sils = [(2, 0.7), (5, 0.9), (8, 0.8)]
    assert choose_k(sils, None, algorithm="GaussianMixture") == (5, 0.9)
    # wssse present but algorithm is GMM -> still argmax
    assert choose_k(sils, {2: 1.0, 5: 0.5, 8: 0.2}, "GaussianMixture") == (5, 0.9)


def test_choose_k_deterministic_tiebreak():
    sils = [(4, 0.9), (2, 0.9), (3, 0.1)]
    # equal silhouettes rank k asc -> k=2 first
    assert choose_k(sils, None, algorithm="GaussianMixture")[0] == 2


def test_sweep_recovers_planted_k():
    X, _ = planted_blobs(k=3, n_per=40)
    wssse, sils = sweep_k(X, "KMeans", seeds=(42, 7), start_k=2, stop_k=6)
    assert set(wssse) == {2, 3, 4, 5, 6}
    k, sil = tune_k(X, "KMeans", seeds=(42, 7), start_k=2, stop_k=6)
    assert k == 3
    assert sil > 0.9


def test_tune_k_degenerate():
    X = np.ones((5, 2))
    assert tune_k(X, "KMeans", seeds=(1,)) == (1, 0.0)


def test_thresholded_seed_search_early_stop():
    X, _ = planted_blobs(k=3)
    consumed = []

    def counting_seeds():
        for s in (42, 7, 13, 99):
            consumed.append(s)
            yield s

    # old_silhouette=-1: any fit passes the bar -> stop after seed #1
    best = thresholded_best_of_seeds(
        X, 3, "KMeans", list(counting_seeds()), old_silhouette=-1.0
    )
    assert best is not None
    # early stop is internal; verify via an impossible bar instead:
    # silhouette can never reach 2.0*0.8 so all seeds are consumed
    consumed.clear()
    seeds = (42, 7, 13)
    best_all = thresholded_best_of_seeds(
        X, 3, "KMeans", seeds, old_silhouette=2.0, threshold=0.8
    )
    # exhausts seeds and still returns the best fit seen
    assert best_all[2] > 0.9


def test_optimal_k_sweep_spark(spark):
    rows = []
    for seg, k_true in (("a", 2), ("b", 3)):
        X, _ = planted_blobs(k=k_true, n_per=30)
        rows += [(seg, float(x), float(y)) for x, y in X]
    df = spark.createDataFrame(rows, "seg string, fx double, fy double")
    out = optimal_k_sweep(
        df, ["seg"], ["fx", "fy"], seeds=(42,), start_k=2, stop_k=6
    ).toPandas()
    got = dict(zip(out.seg, out.chosen_k))
    assert got == {"a": 2, "b": 3}
    assert (out.silhouette > 0.9).all()


def test_optimal_k_sweep_multi_algo_equals_singles(spark):
    """The single-shuffle multi-algorithm sweep must equal the union
    of per-algorithm sweeps (same seeds) — pins the merged optimal_k
    registry query's kernel."""
    import pandas as pd

    rows = []
    for seg, k_true in (("a", 2), ("b", 3)):
        X, _ = planted_blobs(k=k_true, n_per=30)
        rows += [(seg, float(x), float(y)) for x, y in X]
    df = spark.createDataFrame(rows, "seg string, fx double, fy double")
    algos = ["KMeans", "BisectingKMeans", "GaussianMixture"]
    kw = dict(seeds=(42,), start_k=2, stop_k=5)
    multi = (
        optimal_k_sweep(df, ["seg"], ["fx", "fy"], algorithms=algos, **kw)
        .toPandas()
        .sort_values(["algorithm", "seg"])
        .reset_index(drop=True)
    )
    singles = []
    for a in algos:
        s = optimal_k_sweep(df, ["seg"], ["fx", "fy"], algorithm=a, **kw).toPandas()
        s.insert(0, "algorithm", a)
        singles.append(s)
    expect = (
        pd.concat(singles).sort_values(["algorithm", "seg"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(multi, expect)


def test_empty_seed_lists_raise():
    import pytest

    X = planted_blobs(k=2)[0]
    # BOTH sweep branches (the BisectingKMeans one silently returned
    # zero candidates -> tune_k cached k=1) and the thresholded search
    # (returned None -> opaque unpack error in the Arrow task)
    for algo in ("KMeans", "BisectingKMeans"):
        with pytest.raises(ValueError, match="empty seed"):
            sweep_k(X, algo, ())
    with pytest.raises(ValueError, match="empty seed"):
        thresholded_best_of_seeds(X, 2, "KMeans", (), 0.5)


def test_optimal_k_sweep_driver_guards(spark):
    """Misconfigurations must fail at the DRIVER, before the
    scan+shuffle: empty seeds, algorithms=[], and segment columns
    that collide with (and would be silently overwritten by) the
    output fields."""
    import pytest

    from clustering_spark.operators.tuner import optimal_k_sweep

    df = spark.createDataFrame(
        [("s", 1.0, 2.0)], "seg string, x double, y double"
    )
    with pytest.raises(ValueError, match="empty seed list"):
        optimal_k_sweep(df, ["seg"], ["x", "y"], seeds=())
    with pytest.raises(ValueError, match="algorithms"):
        optimal_k_sweep(df, ["seg"], ["x", "y"], seeds=(1,), algorithms=[])
    df2 = spark.createDataFrame(
        [("s", 1.0, 2.0)], "chosen_k string, x double, y double"
    )
    with pytest.raises(ValueError, match="collide"):
        optimal_k_sweep(df2, ["chosen_k"], ["x", "y"], seeds=(1,))


def _gate_frame(spark, cache_rows):
    """Segments a (2 blobs), b (3 blobs), c (3 blobs) with per-segment
    cache columns: ``cache_rows[seg]`` is (k, silhouette), or None for
    a miss (no cache row: null hit marker)."""
    rows = []
    for seg, k_true in (("a", 2), ("b", 3), ("c", 3)):
        X, _ = planted_blobs(k=k_true, n_per=30)
        hit = cache_rows[seg]
        k, sil = hit if hit is not None else (None, None)
        rows += [(seg, float(x), float(y), k, sil, True if hit else None)
                 for x, y in X]
    return spark.createDataFrame(
        rows,
        "seg string, fx double, fy double, ck int, csil double, hit boolean",
    )


GATE = dict(
    seeds=(42,), start_k=2, stop_k=5, hit_col="hit", k_col="ck",
    old_sil_col="csil", old_sil_threshold=0.8, fit_seeds=(42, 43, 44),
)


def test_gate_mode_all_hits_holding_their_bar_is_empty(spark):
    df = _gate_frame(spark, {"a": (2, 0.5), "b": (3, 0.5), "c": (3, 0.5)})
    out = optimal_k_sweep(df, ["seg"], ["fx", "fy"], **GATE)
    assert out.columns == ["seg", "chosen_k", "silhouette", "missed", "regressed"]
    assert out.count() == 0


def test_gate_mode_returns_only_missed_and_regressed(spark):
    # a hits and holds; b misses; c's cached k=2 at 0.99 cannot be
    # held by a 2-cluster fit of 3 blobs, so it regresses and re-tunes
    df = _gate_frame(spark, {"a": (2, 0.5), "b": None, "c": (2, 0.99)})
    out = optimal_k_sweep(df, ["seg"], ["fx", "fy"], **GATE).toPandas()
    got = {r.seg: (r.chosen_k, r.missed, r.regressed) for r in out.itertuples()}
    assert got == {"b": (3, True, False), "c": (3, False, True)}
    # the swept rows are the default mode's answer for those segments
    plain = optimal_k_sweep(
        df.select("seg", "fx", "fy"), ["seg"], ["fx", "fy"],
        seeds=(42,), start_k=2, stop_k=5,
    ).toPandas()
    want = dict(zip(plain.seg, zip(plain.chosen_k, plain.silhouette)))
    for r in out.itertuples():
        assert (r.chosen_k, r.silhouette) == want[r.seg]


def test_gate_mode_leaves_default_mode_unchanged(spark):
    """Default mode keeps its three-column output and matches the
    in-memory tuner per segment; gate-only options are rejected where
    they cannot apply."""
    import pytest

    df = _gate_frame(spark, {"a": None, "b": None, "c": None})
    plain = optimal_k_sweep(
        df, ["seg"], ["fx", "fy"], seeds=(42,), start_k=2, stop_k=5
    ).toPandas()
    assert list(plain.columns) == ["seg", "chosen_k", "silhouette"]
    for seg, k_true in (("a", 2), ("b", 3), ("c", 3)):
        X, _ = planted_blobs(k=k_true, n_per=30)
        k, sil = tune_k(X, "KMeans", (42,), 2, 5)
        row = plain[plain.seg == seg].iloc[0]
        assert row.chosen_k == k and abs(row.silhouette - sil) < 1e-9
    with pytest.raises(ValueError, match="cached-bar"):
        optimal_k_sweep(df, ["seg"], ["fx", "fy"], algorithms=["KMeans"], **GATE)
    with pytest.raises(ValueError, match="cached-bar"):
        optimal_k_sweep(df, ["seg"], ["fx", "fy"], hit_col="hit")
