"""Sink contract tests (SURVEY §1.4): nested document key names and
shape, size bounds, writer round-trip, latest-wins + swapped-pair GUI
read, dropdown sources.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clustering_spark.operators import sinks


@pytest.fixture
def results(spark):
    """Hand-made flat results: 1 grid cell, 2 macros x 1-2 micros,
    2 clusters each (matches pipeline.RESULT_COLUMNS + size)."""
    rows = []
    for macro, micros in (("cust1", ["app1", "app2"]), ("cust2", ["app1"])):
        for micro in micros:
            for c in (0, 1):
                rows.append(
                    (
                        "KMeans", "customer_id", "application_id",
                        "cpu_percent", "ram_usage",
                        macro, micro, 0.9, 0.7, c,
                        float(c), float(c) * 2, 10 + c, 1.0 + c,
                    )
                )
    df = spark.createDataFrame(
        rows,
        "algorithm string, macro_col string, micro_col string, x_col string, "
        "y_col string, macro_id string, micro_id string, entropy double, "
        "silhouette double, cluster_name int, center_x double, center_y double, "
        "cluster_size long, radius double",
    )
    from clustering_spark.operators.metrics import d3_normalize

    return d3_normalize(df, "radius", "size", 50.0)


def test_original_document_shape(results):
    docs = sinks.original_documents(
        results, "customer_id", "application_id", run_date="2026-08-13"
    ).collect()
    assert len(docs) == 1
    doc = json.loads(docs[0].doc)
    # §1.4 key names
    assert set(doc) == {
        "algorithm", "macro", "micro", "firstColumn", "secondColumn",
        "date", "list",
    }
    assert doc["macro"] == "customer_id"
    macros = {m["customer_id"]: m for m in doc["list"]}
    assert set(macros) == {"cust1", "cust2"}
    micros = macros["cust1"]["application_id_List"]
    assert {m["application_id"] for m in micros} == {"app1", "app2"}
    m = micros[0]
    assert {"entropy", "silhouette", "clusters"} <= set(m)
    cl = m["clusters"][0]
    assert set(cl) == {"name", "center", "clusterSize", "radius"}
    assert isinstance(cl["center"], list) and len(cl["center"]) == 2
    # clusters sorted by name
    assert [c["name"] for c in m["clusters"]] == [0, 1]


def test_d3_document_shape_and_size_bounds(results):
    docs = sinks.d3_documents(
        results, "customer_id", "application_id", run_date="2026-08-13"
    ).collect()
    doc = json.loads(docs[0].doc)
    assert doc["name"] == "clusters"
    assert doc["firstColumn"] == "cpu_percent"
    level1 = doc["children"]
    assert {n["name"] for n in level1} == {"cust1", "cust2"}
    leaf = level1[0]["children"][0]["children"][0]
    assert {"name", "center", "clusterSize", "radius", "size"} <= set(leaf)
    # every leaf size within [1, 50]
    sizes = [
        c["size"]
        for mac in level1
        for mic in mac["children"]
        for c in mic["children"]
    ]
    assert all(1.0 <= s <= 50.0 for s in sizes)
    assert min(sizes) == 1.0 and max(sizes) == 50.0


def test_no_value_corruption_when_value_contains_column_name(spark, results):
    """The reference's JSON string-replace would corrupt a macro_id
    VALUE equal to the column name; the relational build must not."""
    weird = results.withColumn(
        "macro_id", F.lit("customer_id")  # value == column name
    )
    doc = json.loads(
        sinks.original_documents(weird, "customer_id", "application_id", "d")
        .collect()[0]
        .doc
    )
    assert doc["list"][0]["customer_id"] == "customer_id"


def test_write_and_latest_document_roundtrip(spark, results, tmp_path):
    path = str(tmp_path / "docs")
    d1 = sinks.d3_documents(results, "customer_id", "application_id", "d1", version=1)
    d2 = sinks.d3_documents(results, "customer_id", "application_id", "d2", version=2)
    sinks.write_documents(d1, path, "daily")
    sinks.write_documents(d2, path, "daily")
    docs = spark.read.parquet(f"{path}/daily")
    got = sinks.latest_document(
        docs, "KMeans", "customer_id", "application_id", "cpu_percent", "ram_usage"
    ).collect()
    assert len(got) == 1
    assert got[0].date == "d2"  # latest version wins


def test_latest_document_swapped_pair_fallback(spark, results, tmp_path):
    path = str(tmp_path / "docs")
    d1 = sinks.d3_documents(results, "customer_id", "application_id", "d1", version=1)
    sinks.write_documents(d1, path, "daily")
    docs = spark.read.parquet(f"{path}/daily")
    # query with the column pair REVERSED: falls back to the stored doc
    got = sinks.latest_document(
        docs, "KMeans", "customer_id", "application_id", "ram_usage", "cpu_percent"
    ).collect()
    assert len(got) == 1 and got[0].x_col == "cpu_percent"
    # nonexistent cell -> empty
    none = sinks.latest_document(
        docs, "KMeans", "customer_id", "application_id", "io_usage", "pids"
    )
    assert none.count() == 0


def test_dropdown_options(results):
    docs = sinks.d3_documents(results, "customer_id", "application_id", "d")
    opts = sinks.dropdown_options(docs).toPandas()
    got = {
        (r.field, r.value) for r in opts.itertuples()
    }
    assert ("macro", "customer_id") in got
    assert ("algorithm", "KMeans") in got
    assert ("firstColumn", "cpu_percent") in got


def test_document_json_is_deterministic_across_runs(spark, results):
    """Every collect_list level is sorted, so two runs over a
    multi-partition frame emit byte-identical document JSON."""
    shuffled = results.repartition(16)
    a = sorted(
        r.doc
        for r in sinks.original_documents(
            shuffled, "customer_id", "application_id", run_date="r"
        ).collect()
    )
    b = sorted(
        r.doc
        for r in sinks.original_documents(
            shuffled.repartition(7), "customer_id", "application_id", run_date="r"
        ).collect()
    )
    assert a == b
    da = sorted(
        r.doc
        for r in sinks.d3_documents(
            shuffled, "customer_id", "application_id", run_date="r"
        ).collect()
    )
    db = sorted(
        r.doc
        for r in sinks.d3_documents(
            shuffled.repartition(7), "customer_id", "application_id", run_date="r"
        ).collect()
    )
    assert da == db


def test_latest_document_equal_versions_latest_date_wins(spark, results, tmp_path):
    """run_interval appends version=0 every run, so equal versions are
    the NORMAL case across daily reruns: the newest date must win (the
    version-only ordering picked an arbitrary row)."""
    path = str(tmp_path / "docs")
    day1 = sinks.d3_documents(
        results, "customer_id", "application_id", "2026-08-01", version=0
    )
    day2 = sinks.d3_documents(
        results, "customer_id", "application_id", "2026-08-02", version=0
    )
    sinks.write_documents(day1, path, "daily")
    sinks.write_documents(day2, path, "daily")
    docs = spark.read.parquet(f"{path}/daily")
    got = sinks.latest_document(
        docs, "KMeans", "customer_id", "application_id", "cpu_percent", "ram_usage"
    ).collect()
    assert len(got) == 1
    assert got[0].date == "2026-08-02"


# ---------------------------------------------- GUI read plans vs references

STORE_SCHEMA = (
    "algorithm string, macro_col string, micro_col string, x_col string, "
    "y_col string, date string, version long, doc string"
)


def _window_latest(docs, algorithm, macro_col, micro_col, x_col, y_col):
    """The former latest_document: row_number() over a window keyed by
    the orientation-normalized grid cell. Kept as the reference."""
    from pyspark.sql import Window

    exact = (F.col("x_col") == x_col) & (F.col("y_col") == y_col)
    swapped = (F.col("x_col") == y_col) & (F.col("y_col") == x_col)
    scoped = docs.filter(
        (F.col("algorithm") == algorithm)
        & (F.col("macro_col") == macro_col)
        & (F.col("micro_col") == micro_col)
        & (exact | swapped)
    ).withColumn("__rank", F.when(exact, 0).otherwise(1))
    w = Window.partitionBy(
        "algorithm",
        "macro_col",
        "micro_col",
        F.least("x_col", "y_col"),
        F.greatest("x_col", "y_col"),
    ).orderBy(F.col("__rank"), F.col("version").desc(), F.col("date").desc())
    return (
        scoped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rank", "__rn")
    )


def _union_dropdown(docs):
    """The former dropdown_options: five selects, unioned, distinct."""
    fields = {
        "macro": "macro_col",
        "micro": "micro_col",
        "firstColumn": "x_col",
        "secondColumn": "y_col",
        "algorithm": "algorithm",
    }
    parts = [
        docs.select(F.lit(n).alias("field"), F.col(c).cast("string").alias("value"))
        for n, c in fields.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """A random multi-file document store: several algorithms and cells,
    cells stored in one or both orientations, equal versions on
    different dates, and NULL version/date rows. Within one cell and
    orientation every (version, date) is unique, so the latest row is
    well defined and both formulations must agree on it."""
    import itertools
    import random

    rng = random.Random(11)
    keys = list(itertools.product((None, 0, 1, 2), (None, "d1", "d2", "d3")))
    rows = []
    for alg in ("KMeans", "GaussianMixture", "BisectingKMeans"):
        for macro, micro in (("m1", "u1"), ("m2", "u1")):
            for x, y in (("cpu", "ram"), ("cpu", "net"), ("ram", "net")):
                orients = rng.choice([[(x, y)], [(y, x)], [(x, y), (y, x)]])
                for a, b in orients:
                    for version, date in rng.sample(keys, rng.randint(1, 6)):
                        rows.append(
                            (alg, macro, micro, a, b, date, version,
                             f"doc-{len(rows)}")
                        )
    path = str(tmp_path_factory.mktemp("gui") / "docs")
    spark.createDataFrame(rows, STORE_SCHEMA).repartition(4).write.parquet(path)
    return spark.read.parquet(path)


def test_latest_document_matches_window_reference(history):
    cells = {
        (r.algorithm, r.macro_col, r.micro_col, *sorted((r.x_col, r.y_col)))
        for r in history.select(
            "algorithm", "macro_col", "micro_col", "x_col", "y_col"
        ).distinct().collect()
    }
    assert len(cells) == 18
    for alg, macro, micro, a, b in sorted(cells):
        for x, y in ((a, b), (b, a)):
            got = sinks.latest_document(history, alg, macro, micro, x, y).collect()
            ref = _window_latest(history, alg, macro, micro, x, y).collect()
            assert len(got) == 1
            assert got == ref, (alg, macro, micro, x, y)


def test_latest_document_missing_cell_is_empty(history):
    for args in (
        ("KMeans", "m1", "u1", "cpu", "io"),  # pair never stored
        ("KMeans", "m3", "u1", "cpu", "ram"),  # macro never stored
        ("ALS", "m1", "u1", "cpu", "ram"),  # algorithm never stored
    ):
        assert sinks.latest_document(history, *args).collect() == []


def test_dropdown_options_matches_union_reference(spark, history):
    null_row = spark.createDataFrame(
        [("KMeans", None, "u1", "cpu", "ram", "d1", 0, "doc-null")], STORE_SCHEMA
    )
    docs = history.unionByName(null_row)
    got = sinks.dropdown_options(docs).collect()
    assert len(got) == len(set(got))
    assert set(got) == set(_union_dropdown(docs).collect())
    assert ("macro", None) in {(r.field, r.value) for r in got}


def _executed_tree(df) -> str:
    """The physical plan ``df`` ran, after collecting it; for an
    adaptive plan, only its final plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_gui_read_plans_have_no_shuffle(history):
    tree = _executed_tree(
        sinks.latest_document(history, "KMeans", "m1", "u1", "ram", "cpu")
    )
    assert "TakeOrderedAndProject" in tree
    assert "Exchange" not in tree and "Window" not in tree, tree

    tree = _executed_tree(sinks.dropdown_options(history))
    assert tree.count("FileScan") == 1 and "Union" not in tree, tree
    assert "Exchange" not in tree, tree


def test_each_gui_read_is_one_spark_job(history, count_jobs):
    read = sinks.latest_document(history, "KMeans", "m1", "u1", "ram", "cpu")
    assert count_jobs(read.collect) == 1
    assert count_jobs(sinks.dropdown_options(history).collect) == 1
