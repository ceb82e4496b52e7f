"""Watchdog coverage for MLlib fits (fit_guard): pass-through,
error relay, injected-hang termination, a real MLlib fit, and the pin
that every MLlib fit goes through the guard.
"""

from __future__ import annotations

import threading
import time

import pytest

from clustering_spark.operators.fit_guard import FitTimeout, guarded_fit

from tests.test_clustering_invariants import planted_blobs


class _HangingEstimator:
    """Fake estimator whose fit blocks until released — simulates the
    F2J LAPACK spin without burning a real MLlib job."""

    def __init__(self):
        self.release = threading.Event()
        self.started = threading.Event()

    def fit(self, df):
        self.started.set()
        self.release.wait()
        return "too-late"


class _FailingEstimator:
    def fit(self, df):
        raise ValueError("synthetic fit failure")


class _InstantEstimator:
    def fit(self, df):
        return ("model", df.count())


def _tiny_df(spark):
    return spark.createDataFrame([(1.0,), (2.0,)], "x double")


def test_guarded_fit_passes_through_model(spark):
    model = guarded_fit(_InstantEstimator(), _tiny_df(spark), timeout=60.0)
    assert model == ("model", 2)


def test_guarded_fit_relays_fit_exception(spark):
    with pytest.raises(ValueError, match="synthetic fit failure"):
        guarded_fit(_FailingEstimator(), _tiny_df(spark), timeout=60.0)


def test_guarded_fit_terminates_injected_hang(spark):
    est = _HangingEstimator()
    t0 = time.monotonic()
    with pytest.raises(FitTimeout, match="cancelled"):
        guarded_fit(est, _tiny_df(spark), timeout=1.0, desc="injected hang")
    # terminated at the driver well before any "wait it out" horizon;
    # generous bound to keep CI-noise immunity (1s timeout + grace)
    assert time.monotonic() - t0 < 30.0
    assert est.started.is_set()
    est.release.set()  # unblock the daemon thread for hygiene


def test_guarded_fit_real_mllib_fit(spark):
    """A real MLlib LogisticRegression (the estimator quality_model
    fits) through the guard returns a usable model — the guard is a
    watchdog, not a semantic layer."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    X, truth = planted_blobs(k=2, n_per=20)
    df = spark.createDataFrame(
        [(float(a), float(b), float(t)) for (a, b), t in zip(X, truth)],
        "fx double, fy double, label double",
    )
    vec = VectorAssembler(inputCols=["fx", "fy"], outputCol="feat").transform(df)
    model = guarded_fit(
        LogisticRegression(featuresCol="feat", maxIter=10), vec, timeout=120.0
    )
    assert len(model.coefficients) == 2


def test_no_bare_mllib_fit_outside_guard():
    """Source pin: every MLlib ``.fit(`` in the package goes through
    fit_guard. The only unguarded fits allowed are the numpy-based
    IVFIndex (no JVM job to watchdog) and fit_guard itself."""
    import pathlib

    import clustering_spark

    pkg = pathlib.Path(clustering_spark.__file__).parent
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.name == "fit_guard.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".fit(" in line and "IVFIndex" not in line:
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, f"unguarded .fit( call sites: {offenders}"
