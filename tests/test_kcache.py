"""k-cache scenario tests (SURVEY J4/S6/S9/M10; reference
cluster.py:95-136): miss -> tune -> hit -> regression -> re-tune,
plus latest-wins read semantics.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from clustering_spark.config import PipelineConfig
from clustering_spark.operators.kcache import KCache, cluster_with_cache
from tests.test_clustering_invariants import planted_blobs


@pytest.fixture
def seg_df(spark):
    # planted k in (3, 4): away from start_k — the reference's elbow
    # rule gives the chord ENDPOINTS zero distance, so a planted
    # k == start_k legitimately loses to a within-threshold runner-up
    # (reference-faithful; see choose_k)
    rows = []
    for macro, micro, k_true in (("m1", "u1", 3), ("m1", "u2", 3), ("m2", "u1", 4)):
        X, _ = planted_blobs(k=k_true, n_per=25)
        rows += [(macro, micro, float(x), float(y)) for x, y in X]
    return spark.createDataFrame(
        rows, "macro string, micro string, x double, y double"
    )


CFG = PipelineConfig(dont_scale=[], stop_k=6)
ARGS = dict(
    macro_col="macro",
    micro_col="micro",
    x_col="x",
    y_col="y",
    algorithm="KMeans",
    config=CFG,
)


def test_latest_wins_read(spark, tmp_path):
    cache = KCache(str(tmp_path / "kc"))
    entry = spark.createDataFrame(
        [("KMeans", "m", "u", "x", "y", "a", "b")],
        "algorithm string, macro_col string, micro_col string, "
        "x_col string, y_col string, macro_id string, micro_id string",
    )
    cache.append(entry.withColumn("k", F.lit(3)).withColumn("silhouette", F.lit(0.5)), version=1)
    cache.append(entry.withColumn("k", F.lit(5)).withColumn("silhouette", F.lit(0.7)), version=2)
    got = cache.lookup(spark, "KMeans", "m", "u", "x", "y").collect()
    assert len(got) == 1
    assert got[0].k == 5 and got[0].silhouette == 0.7
    # other grid cells don't leak in
    assert cache.lookup(spark, "KMeans", "m", "u", "y", "x").count() == 0


def test_empty_cache_reads(spark, tmp_path):
    cache = KCache(str(tmp_path / "nope"))
    assert cache.read_latest(spark).count() == 0
    assert cache.lookup(spark, "KMeans", "m", "u", "x", "y").count() == 0
    assert cache.version_conflicts(spark).count() == 0


def test_version_conflict_detection(spark, tmp_path):
    """Two writers appending the SAME version for one key (the case the
    single-writer contract forbids) must be visible to the detector;
    distinct versions must not trip it."""
    cache = KCache(str(tmp_path / "kc"))
    entry = spark.createDataFrame(
        [("KMeans", "m", "u", "x", "y", "a", "b")],
        "algorithm string, macro_col string, micro_col string, "
        "x_col string, y_col string, macro_id string, micro_id string",
    )
    e = entry.withColumn("k", F.lit(3)).withColumn("silhouette", F.lit(0.5))
    cache.append(e, version=1)
    cache.append(e.withColumn("k", F.lit(5)), version=2)
    assert cache.version_conflicts(spark).count() == 0  # distinct versions
    cache.append(e.withColumn("k", F.lit(7)), version=2)  # concurrent writer
    bad = cache.version_conflicts(spark).collect()
    assert len(bad) == 1
    assert bad[0].version == 2 and bad[0].n_writers == 2


def test_miss_tune_hit_flow(spark, tmp_path, seg_df):
    cache = KCache(str(tmp_path / "kc"))
    res1, s1 = cluster_with_cache(seg_df, cache=cache, version=1, **ARGS)
    assert s1["misses"] == 3  # all segments tuned on first run
    r1 = res1.toPandas()
    # tuned k recovered per planted segment
    ks = r1.groupby(["macro", "micro"]).cluster_name.nunique().to_dict()
    assert ks == {("m1", "u1"): 3, ("m1", "u2"): 3, ("m2", "u1"): 4}

    res2, s2 = cluster_with_cache(seg_df, cache=cache, version=2, **ARGS)
    assert s2["misses"] == 0 and s2["regressed"] == 0  # warm cache
    assert res2.count() == res1.count()


def test_regression_triggers_retune(spark, tmp_path, seg_df):
    cache = KCache(str(tmp_path / "kc"))
    # poison the cache: claim segment (m1, u2) clusters perfectly with
    # k=2 at silhouette 0.99 — fresh k=2 on 3 blobs scores well below
    # 0.99 * 0.8, tripping the regression gate
    poison = spark.createDataFrame(
        [("KMeans", "macro", "micro", "x", "y", "m1", "u2", 2, 0.99)],
        "algorithm string, macro_col string, micro_col string, x_col string, "
        "y_col string, macro_id string, micro_id string, k int, silhouette double",
    )
    cache.append(poison, version=1)
    res, stats = cluster_with_cache(seg_df, cache=cache, version=2, **ARGS)
    assert stats["misses"] == 2  # the two unpoisoned segments
    assert stats["regressed"] == 1
    pdf = res.toPandas()
    # after re-tune the poisoned segment recovers its true k=3
    k_u2 = pdf[(pdf.macro == "m1") & (pdf.micro == "u2")].cluster_name.nunique()
    assert k_u2 == 3
    # and the cache now holds the corrected entry at the newer version
    fixed = (
        cache.lookup(spark, "KMeans", "macro", "micro", "x", "y")
        .filter((F.col("macro_id") == "m1") & (F.col("micro_id") == "u2"))
        .collect()[0]
    )
    assert fixed.k == 3


def test_cache_read_errors_distinguish_missing_from_broken(spark, tmp_path):
    """Missing cache path -> empty frame; a PRESENT but unreadable
    cache must RAISE (silently re-tuning the grid with default_k is
    the failure mode the ledger test already pins for ingest)."""
    from clustering_spark.operators.kcache import KCache

    missing = KCache(str(tmp_path / "nope"))
    assert missing.read_latest(spark).count() == 0
    assert missing.version_conflicts(spark).count() == 0
    # version_conflicts carries its full schema even before first run
    assert "n_writers" in missing.version_conflicts(spark).columns

    broken_dir = tmp_path / "broken"
    broken_dir.mkdir()
    (broken_dir / "part-0.parquet").write_bytes(b"not a parquet file")
    broken = KCache(str(broken_dir))
    import pytest as _pt

    with _pt.raises(Exception):
        broken.read_latest(spark).count()


def test_null_keyed_segment_is_tuned_and_cached(spark, tmp_path):
    # a NULL macro value is a real group: it must be tuned on run 1
    # (not just counted as a miss) and be a cache HIT on run 2 — the
    # old on=segment_cols semi join null-rejected exactly those rows,
    # re-detecting the miss forever while never caching anything
    rows = []
    for macro, k_true in ((None, 3), ("m1", 4)):
        X, _ = planted_blobs(k=k_true, n_per=25)
        rows += [(macro, "u1", float(x), float(y)) for x, y in X]
    df = spark.createDataFrame(
        rows, "macro string, micro string, x double, y double"
    )
    cache = KCache(str(tmp_path / "kc"))
    res1, s1 = cluster_with_cache(df, cache=cache, version=1, **ARGS)
    assert s1["misses"] == 2
    # the NULL segment really got cached (macro_id NULL row present)
    cached = cache.lookup(spark, "KMeans", "macro", "micro", "x", "y").collect()
    assert any(r.macro_id is None for r in cached)
    # and clustered: its rows appear in the output with a tuned k
    p1 = res1.toPandas()
    assert p1[p1.macro.isna()].cluster_name.nunique() == 3
    res2, s2 = cluster_with_cache(df, cache=cache, version=2, **ARGS)
    assert s2["misses"] == 0 and s2["regressed"] == 0


def test_null_keyed_regression_is_respliced(spark, tmp_path):
    # poison the NULL-keyed segment's cache entry: the re-tune must
    # actually replace its stale summary rows, not just count it
    rows = []
    X, _ = planted_blobs(k=3, n_per=25)
    rows += [(None, "u1", float(x), float(y)) for x, y in X]
    df = spark.createDataFrame(
        rows, "macro string, micro string, x double, y double"
    )
    cache = KCache(str(tmp_path / "kc"))
    poison = spark.createDataFrame(
        [("KMeans", "macro", "micro", "x", "y", None, "u1", 2, 0.99)],
        "algorithm string, macro_col string, micro_col string, x_col string, "
        "y_col string, macro_id string, micro_id string, k int, silhouette double",
    )
    cache.append(poison, version=1)
    res, stats = cluster_with_cache(df, cache=cache, version=2, **ARGS)
    assert stats["misses"] == 0
    assert stats["regressed"] == 1
    pdf = res.toPandas()
    assert pdf.cluster_name.nunique() == 3  # re-tuned, stale k=2 rows gone
    fixed = cache.lookup(spark, "KMeans", "macro", "micro", "x", "y").collect()
    assert any(r.macro_id is None and r.k == 3 for r in fixed)


def test_parity_mode_config_rejected(spark, tmp_path, seg_df):
    # silently fitting scale-mode numerics under a parity config would
    # corrupt parity comparisons with no error
    cfg = PipelineConfig(dont_scale=[], stop_k=6, fit_mode="parity")
    with pytest.raises(ValueError, match="fit_mode"):
        cluster_with_cache(
            seg_df,
            macro_col="macro",
            micro_col="micro",
            x_col="x",
            y_col="y",
            algorithm="KMeans",
            config=cfg,
            cache=KCache(str(tmp_path / "kc")),
            version=1,
        )


def _cache_rows_by_version(spark, cache):
    """{version: {(macro_id, micro_id): (k, silhouette)}} over every
    row ever appended (not just the latest)."""
    out: dict = {}
    for r in spark.read.parquet(cache.path).collect():
        out.setdefault(r.version, {})[(r.macro_id, r.micro_id)] = (r.k, r.silhouette)
    return out


def test_pyarrow_written_cache_reads_back(spark, tmp_path):
    """A cache file written outside Spark (int32 k, int64 version, as a
    prior-day export would write it) reads back equal through the
    explicit cache schema, and Spark appends stay readable beside it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "kc"
    path.mkdir()
    keys = ["algorithm", "macro_col", "micro_col", "x_col", "y_col",
            "macro_id", "micro_id"]
    vals = [("KMeans", "m", "u", "x", "y", "a", "b"),
            ("KMeans", "m", "u", "x", "y", "a", None)]
    pq.write_table(
        pa.table({
            **{c: pa.array([v[i] for v in vals], pa.string())
               for i, c in enumerate(keys)},
            "k": pa.array([3, 4], pa.int32()),
            "silhouette": pa.array([0.5, 0.25], pa.float64()),
            "version": pa.array([7, 7], pa.int64()),
        }),
        str(path / "part-prior.parquet"),
    )
    cache = KCache(str(path))
    got = {
        (r.macro_id, r.micro_id, r.k, r.silhouette, r.version)
        for r in cache.lookup(spark, "KMeans", "m", "u", "x", "y").collect()
    }
    assert got == {("a", None, 4, 0.25, 7), ("a", "b", 3, 0.5, 7)}
    assert [tuple(r) for r in cache.read_latest(spark).orderBy("k").collect()] == [
        (*v, k, s, 7) for v, k, s in zip(vals, (3, 4), (0.5, 0.25))
    ]
    newer = spark.createDataFrame(
        [("KMeans", "m", "u", "x", "y", "a", "b", 5, 0.75)],
        "algorithm string, macro_col string, micro_col string, x_col string, "
        "y_col string, macro_id string, micro_id string, k long, silhouette double",
    )
    cache.append(newer, version=8)  # k long: cast to the cache's int on write
    latest = {(r.macro_id, r.micro_id): (r.k, r.version)
              for r in cache.lookup(spark, "KMeans", "m", "u", "x", "y").collect()}
    assert latest == {("a", "b"): (5, 8), ("a", None): (4, 7)}
    assert cache.version_conflicts(spark).count() == 0


@pytest.mark.parametrize("thr", [1.0, 1.5])
def test_miss_then_regress_writes_both_versions(spark, tmp_path, seg_df, thr):
    """A miss whose fit fails its own freshly tuned bar counts as a miss
    AND a regression, and is appended at ``version`` and again at
    ``version + 1``. A bar of 1.5x is out of reach, so every segment
    takes that route; at 1.0x whatever is counted must be in both."""
    cache = KCache(str(tmp_path / "kc"))
    cfg = PipelineConfig(dont_scale=[], stop_k=6, old_silhouette_threshold=thr)
    res, stats = cluster_with_cache(
        seg_df, cache=cache, version=5, **{**ARGS, "config": cfg}
    )
    by_v = _cache_rows_by_version(spark, cache)
    assert stats["misses"] == 3 and len(by_v[5]) == 3
    regressed = by_v.get(6, {})
    assert stats["regressed"] == len(regressed)
    if thr > 1.0:
        assert stats["regressed"] == 3
    for key, row in regressed.items():
        assert by_v[5][key] == row  # the same sweep, appended twice
    ks = res.toPandas().groupby(["macro", "micro"]).cluster_name.nunique().to_dict()
    assert ks == {("m1", "u1"): 3, ("m1", "u2"): 3, ("m2", "u1"): 4}


def test_future_version_row_keeps_latest_wins(spark, tmp_path, seg_df):
    """A cache row NEWER than ``version + 1`` outranks the re-tune:
    the regressed segment is still re-tuned and appended at
    ``version + 1``, but latest-wins keeps the newer row, so the
    segment is clustered with the newer row's k."""
    cache = KCache(str(tmp_path / "kc"))
    cluster_with_cache(seg_df, cache=cache, version=1, **ARGS)
    poison = spark.createDataFrame(
        [("KMeans", "macro", "micro", "x", "y", "m1", "u2", 2, 0.99)],
        "algorithm string, macro_col string, micro_col string, x_col string, "
        "y_col string, macro_id string, micro_id string, k int, silhouette double",
    )
    cache.append(poison, version=10)
    res, stats = cluster_with_cache(seg_df, cache=cache, version=2, **ARGS)
    assert stats == {"misses": 0, "regressed": 1}
    assert _cache_rows_by_version(spark, cache)[3][("m1", "u2")][0] == 3
    ks = res.toPandas().groupby(["macro", "micro"]).cluster_name.nunique().to_dict()
    assert ks == {("m1", "u1"): 3, ("m1", "u2"): 2, ("m2", "u1"): 4}
    latest = {(r.macro_id, r.micro_id): r.k
              for r in cache.lookup(spark, "KMeans", "macro", "micro", "x", "y").collect()}
    assert latest[("m1", "u2")] == 2


def test_hit_holds_its_bar(spark, tmp_path, seg_df):
    """Every segment not counted as regressed comes out at or above
    ``cached * old_silhouette_threshold`` — the gate fit and the
    summary fit are the same fit."""
    cfg = PipelineConfig(dont_scale=[], stop_k=6, old_silhouette_threshold=0.99)
    args = {**ARGS, "config": cfg}
    cache = KCache(str(tmp_path / "kc"))
    cluster_with_cache(seg_df, cache=cache, version=1, **args)
    poison = spark.createDataFrame(
        [("KMeans", "macro", "micro", "x", "y", "m2", "u1", 2, 0.99)],
        "algorithm string, macro_col string, micro_col string, x_col string, "
        "y_col string, macro_id string, micro_id string, k int, silhouette double",
    )
    cache.append(poison, version=2)
    bar = {(r.macro_id, r.micro_id): r.silhouette
           for r in cache.lookup(spark, "KMeans", "macro", "micro", "x", "y").collect()}
    res, stats = cluster_with_cache(seg_df, cache=cache, version=3, **args)
    regressed = set(_cache_rows_by_version(spark, cache).get(4, {}))
    assert stats["regressed"] == len(regressed) and ("m2", "u1") in regressed
    sil = {(r.macro, r.micro): r.silhouette for r in res.collect()}
    held = set(sil) - regressed
    assert held == {("m1", "u1"), ("m1", "u2")}
    for seg in held:
        assert sil[seg] >= bar[seg] * 0.99


# Spark jobs of one warm cluster_with_cache call plus the collect of
# its summaries on seg_df (AQE on, 8 shuffle partitions); a flow that
# re-reads the cache for each decision takes 20
WARM_CALL_JOBS = 11


def test_warm_call_job_count(spark, tmp_path, seg_df):
    """Pins the one-read, two-pass shape: a warm call must not grow
    back the per-decision cache re-reads and count queries."""
    cache = KCache(str(tmp_path / "kc"))
    cluster_with_cache(seg_df, cache=cache, version=1, **ARGS)
    sc = spark.sparkContext
    group = f"kcache-warm-{tmp_path.name}"
    sc.setJobGroup(group, "warm cluster_with_cache")
    try:
        res, stats = cluster_with_cache(seg_df, cache=cache, version=2, **ARGS)
        res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats == {"misses": 0, "regressed": 0}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= WARM_CALL_JOBS + 2, n_jobs
