"""Worker-environment contract of session.get_spark: BLAS pools inside
Python UDF workers are pinned (default 1 thread) so per-task numpy
kernels don't oversubscribe the box — measured 25-60% wall-clock on the
dense-kernel queries (see OPTIMIZATION_r16.md). The assertion runs a
real pandas UDF so it checks the env the WORKER sees, not just the conf
string."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_worker_blas_threads_pinned(spark):
    def probe(s):
        import os

        return pd.Series(
            [
                "/".join(
                    os.environ.get(v, "UNSET")
                    for v in (
                        "OMP_NUM_THREADS",
                        "OPENBLAS_NUM_THREADS",
                        "MKL_NUM_THREADS",
                    )
                )
                for _ in s
            ]
        )

    probe.__annotations__ = {"s": pd.Series, "return": pd.Series}
    [row] = (
        spark.range(1).select(F.pandas_udf(probe, "string")(F.col("id"))).collect()
    )
    # the worker sees exactly the conf get_spark set (one value for all
    # three variables, see test_worker_blas_pin_is_one_rule)
    expected = [
        spark.conf.get(f"spark.executorEnv.{v}")
        for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
    ]
    assert row[0] == "/".join(expected)


BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


@pytest.mark.parametrize("override, expected", [(None, "1"), ("2", "2")])
def test_worker_blas_pin_is_one_rule(monkeypatch, override, expected):
    """All three worker BLAS variables get SPARK_GRAFT_WORKER_BLAS_THREADS
    if set, else 1. An OMP_NUM_THREADS exported for the driver process
    does not leak into the workers' pin."""
    from pyspark.sql import SparkSession

    from clustering_spark import session

    class Built(Exception):
        pass

    def capture(builder):
        raise Built(dict(builder._options))

    monkeypatch.setenv("OMP_NUM_THREADS", "4")
    if override is None:
        monkeypatch.delenv("SPARK_GRAFT_WORKER_BLAS_THREADS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_WORKER_BLAS_THREADS", override)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Built) as built:
        session.get_spark(master="local[1]")
    [options] = built.value.args
    assert {options[f"spark.executorEnv.{v}"] for v in BLAS_VARS} == {expected}
