"""End-to-end interval run (reference cluster.py main): row cap ->
grid -> document sinks -> acknowledgment, over a container_stats-shaped
fixture (FIXTURES.md §1).
"""

from __future__ import annotations

import json
from functools import reduce
from pathlib import Path

import numpy as np
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import DataFrame

from clustering_spark.config import PipelineConfig
from clustering_spark.pipeline import cluster_segments, run_interval
from clustering_spark.operators.sinks import (
    d3_documents,
    latest_document,
    original_documents,
)
from tools.bson_lite import key_paths

ALGORITHMS = ["KMeans", "GaussianMixture", "BisectingKMeans"]
GRID_CELL = ("customer_id", "application_id", "cpu_percent", "ram_usage")
# tools/bson_lite.key_paths of the original and d3 documents written by
# three_algorithm_run below: the paper's document layout, gated without
# the reference's mongodump. Change it only with an intended layout change.
FROZEN_KEY_PATHS = Path(__file__).parent / "fixtures" / "interval_doc_key_paths.json"


@pytest.fixture(scope="module")
def container_stats(spark):
    """Small container-stats table: 2 customers x 2 apps, blobby
    (cpu_percent, ram_usage) metrics, ram_limit sibling present."""
    rng = np.random.RandomState(9)
    rows = []
    for cust in ("cust1", "cust2"):
        for app in ("app1", "app2"):
            for c in range(2):
                base = np.array([20.0 + 40 * c, 2e9 + 4e9 * c])
                pts = base + rng.randn(20, 2) * [1.0, 5e7]
                for cpu, ram in pts:
                    rows.append(
                        (cust, app, float(cpu), float(ram), 8.2e9, 1583000000000)
                    )
    return spark.createDataFrame(
        rows,
        "customer_id string, application_id string, cpu_percent double, "
        "ram_usage double, ram_limit double, time long",
    )


def test_run_interval_writes_documents(spark, container_stats, tmp_path):
    cfg = PipelineConfig(
        filtering_columns={"customer_id": ["application_id"]},
        columns={"cpu_percent": ["ram_usage"]},
        algorithms=["KMeans"],
        dont_scale=["cpu_percent"],
        limits={"daily": 10_000},  # cap above input size: no sampling
    )
    out = str(tmp_path / "results")
    results = run_interval(
        container_stats, "daily", cfg, out, run_date="2026-08-13", version=1, k=2
    )
    pdf = results.toPandas()
    # 4 segments x k=2 clusters
    assert len(pdf) == 8
    # ram_usage has a ram_limit sibling -> percent-of-limit scaling put
    # centers under 100; cpu_percent is in dont_scale (raw passthrough)
    assert (pdf.center_y <= 100.0).all()

    docs = spark.read.parquet(f"{out}/d3/daily")
    got = latest_document(
        docs, "KMeans", "customer_id", "application_id", "cpu_percent", "ram_usage"
    ).collect()
    assert len(got) == 1
    doc = json.loads(got[0].doc)
    assert doc["name"] == "clusters"
    assert {m["name"] for m in doc["children"]} == {"cust1", "cust2"}
    orig = spark.read.parquet(f"{out}/original/daily")
    odoc = json.loads(orig.collect()[0].doc)
    assert "customer_id" in odoc["list"][0]
    assert "application_id_List" in odoc["list"][0]


def test_run_interval_applies_row_cap(spark, container_stats, tmp_path):
    cfg = PipelineConfig(
        filtering_columns={"customer_id": ["application_id"]},
        columns={"cpu_percent": ["ram_usage"]},
        algorithms=["KMeans"],
        dont_scale=["cpu_percent"],
        limits={"daily": 40},
    )
    results = run_interval(
        container_stats, "daily", cfg, str(tmp_path / "r"), "d", k=2
    )
    # capped input: total cluster membership well below the 160 rows
    total = results.toPandas().cluster_size.sum()
    assert total < 100


def test_run_interval_limit_zero_caps_to_nothing(spark, container_stats, tmp_path):
    """limits={interval: 0} means 'cap to nothing' — the old truthy
    check treated 0 as 'uncapped' and ran the full table."""
    cfg = PipelineConfig(
        filtering_columns={"customer_id": ["application_id"]},
        columns={"cpu_percent": ["ram_usage"]},
        algorithms=["KMeans"],
        dont_scale=["cpu_percent"],
        limits={"daily": 0},
    )
    results = run_interval(
        container_stats, "daily", cfg, str(tmp_path / "r0"), "d", k=2
    )
    assert results.count() == 0


@pytest.fixture(scope="module")
def three_algorithm_run(spark, container_stats, tmp_path_factory):
    """One uncapped run_interval over all three algorithms: the config,
    the document root and the results table."""
    macro, micro, x, y = GRID_CELL
    cfg = PipelineConfig(
        filtering_columns={macro: [micro]},
        columns={x: [y]},
        algorithms=ALGORITHMS,
        dont_scale=[x],
        limits={},  # no row cap: the union below sees the same rows
    )
    out = str(tmp_path_factory.mktemp("three_algorithms"))
    results = run_interval(
        container_stats, "daily", cfg, out, run_date="2026-08-13", version=1, k=2
    )
    return cfg, out, results.toPandas()


def _sorted(pdf):
    keys = ["algorithm", "macro_id", "micro_id", "cluster_name"]
    return pdf.sort_values(keys).reset_index(drop=True)


def _docs_by_algorithm(docs: DataFrame) -> dict:
    return {r.algorithm: json.loads(r.doc) for r in docs.collect()}


def test_multi_algorithm_interval_equals_union_of_single_cells(
    spark, container_stats, three_algorithm_run
):
    """run_grid fits a column pair's algorithms in one plan; the results
    table (size included) and both documents must equal what one
    cluster_segments call per algorithm produces."""
    cfg, out, got = three_algorithm_run
    macro, micro, _, _ = GRID_CELL
    union = reduce(
        DataFrame.unionByName,
        [cluster_segments(container_stats, *GRID_CELL, alg, cfg, k=2) for alg in ALGORITHMS],
    )
    assert_frame_equal(_sorted(got), _sorted(union.toPandas()))

    expected = {
        "original": original_documents(union, macro, micro, "2026-08-13", 1),
        "d3": d3_documents(union, macro, micro, "2026-08-13", 1, cfg.d3_normalize_max),
    }
    for kind, docs in expected.items():
        written = _docs_by_algorithm(spark.read.parquet(f"{out}/{kind}/daily"))
        assert written == _docs_by_algorithm(docs), kind


def test_multi_algorithm_documents_keep_frozen_key_paths(spark, three_algorithm_run):
    """Both documents of every algorithm keep the key paths of the
    frozen fixture: no key added, dropped or renamed."""
    _, out, _ = three_algorithm_run
    frozen = json.loads(FROZEN_KEY_PATHS.read_text())
    for kind in ("original", "d3"):
        written = _docs_by_algorithm(spark.read.parquet(f"{out}/{kind}/daily"))
        assert sorted(written) == sorted(ALGORITHMS), kind
        for alg, doc in written.items():
            assert sorted(key_paths(doc)) == frozen[kind], (kind, alg)
