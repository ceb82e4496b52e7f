"""Manifest (dataset inventory + integrity diff) and ledger
(incremental batch ingest) scenario tests over tmp_path datasets.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from clustering_spark.sources import ledger as L
from clustering_spark.sources import manifest as M


def _write_ds(spark, path, n=100, parts=4):
    spark.range(n).withColumn("v", F.col("id") * 2).repartition(
        parts
    ).write.mode("overwrite").parquet(path)


# -- manifest ---------------------------------------------------------


def _local(uri: str) -> str:
    """file:///a/b -> /a/b for direct os-level manipulation."""
    assert uri.startswith("file:///")
    return uri[len("file://"):]


def test_manifest_counts_and_sizes(spark, tmp_path):
    p = str(tmp_path / "ds")
    _write_ds(spark, p, n=100, parts=4)
    m = M.write_manifest(spark, p).collect()
    assert sum(r.n_rows for r in m) == 100
    assert all(r.bytes > 0 for r in m)
    assert all(r.file.endswith(".parquet") for r in m)
    # full RESOLVABLE URIs — a consumer can open every listed file
    assert all(r.file.startswith("file:///") for r in m)
    # manifest lives under the dataset but does NOT pollute reads
    assert spark.read.parquet(p).count() == 100
    # round-trips through the stored copy
    stored = M.read_manifest(spark, p).collect()
    assert sorted((r.file, r.n_rows) for r in stored) == sorted(
        (r.file, r.n_rows) for r in m
    )


def test_verify_manifest_clean_dataset(spark, tmp_path):
    p = str(tmp_path / "ds")
    _write_ds(spark, p)
    M.write_manifest(spark, p)
    assert M.verify_manifest(spark, p).count() == 0


def test_verify_manifest_detects_missing_and_unexpected(spark, tmp_path):
    p = str(tmp_path / "ds")
    _write_ds(spark, p, n=60, parts=3)
    m = M.write_manifest(spark, p).collect()
    # delete one manifested data file
    victim = next(r.file for r in m)
    os.remove(_local(victim))
    # drop in a stray extra file (simulated partial write from another
    # run): copy one surviving part under a new data-looking name
    survivor = next(r.file for r in m if r.file != victim)
    stray = os.path.join(os.path.dirname(_local(survivor)), "part-stray.parquet")
    with open(_local(survivor), "rb") as s, open(stray, "wb") as d:
        d.write(s.read())
    problems = {r.file: r.problem for r in M.verify_manifest(spark, p).collect()}
    assert problems[victim] == "missing"
    assert problems["file://" + stray] == "unexpected"
    assert len(problems) == 2


# -- ledger -----------------------------------------------------------


def test_incremental_batch_processes_each_file_once(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    led = str(tmp_path / "ledger")
    spark.range(10).coalesce(1).write.parquet(str(src / "a.parquet"))
    spark.range(5).coalesce(1).write.parquet(str(src / "b.parquet"))

    data, new = L.incremental_batch(spark, f"{src}/*", led)
    assert data.count() == 15
    assert new.count() == 2  # two parquet part files, one per dataset
    L.record_processed(new, led)

    # nothing new -> no work
    data2, new2 = L.incremental_batch(spark, f"{src}/*", led)
    assert data2 is None and new2.count() == 0

    # a third drop arrives -> only it is read
    spark.range(7).coalesce(1).write.parquet(str(src / "c.parquet"))
    data3, new3 = L.incremental_batch(spark, f"{src}/*", led)
    assert data3.count() == 7
    assert new3.count() == 1
    L.record_processed(new3, led)
    assert L.read_ledger(spark, led).count() == 3


def test_changed_file_requalifies(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    led = str(tmp_path / "ledger")
    spark.range(10).coalesce(1).write.parquet(str(src / "a.parquet"))
    _, new = L.incremental_batch(spark, f"{src}/*", led)
    L.record_processed(new, led)
    assert L.incremental_batch(spark, f"{src}/*", led)[0] is None

    # rewrite the dataset with different contents: size/mtime change
    time.sleep(0.05)
    spark.range(99).coalesce(1).write.mode("overwrite").parquet(
        str(src / "a.parquet")
    )
    data, new2 = L.incremental_batch(spark, f"{src}/*", led)
    assert data is not None and data.count() == 99
    assert new2.count() >= 1


def test_list_source_files_skips_metadata(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    spark.range(3).coalesce(1).write.parquet(str(src / "a.parquet"))
    files = L.list_source_files(spark, f"{src}/*").collect()
    names = [os.path.basename(r.file) for r in files]
    assert all(not n.startswith(("_", ".")) for n in names)
    assert all(r.bytes > 0 and r.mtime_ms > 0 for r in files)


def test_manifest_roundtrip_with_space_in_path(spark, tmp_path):
    """input_file_name percent-encodes URIs; the listing side doesn't.
    A path with a space must still verify clean (join keys reconciled)."""
    p = str(tmp_path / "run 1" / "ds")
    _write_ds(spark, p, n=30, parts=2)
    m = M.write_manifest(spark, p).collect()
    assert sum(r.n_rows for r in m) == 30
    assert all(" " in r.file and "%20" not in r.file for r in m)
    assert M.verify_manifest(spark, p).count() == 0


def test_manifest_roundtrip_with_bare_percent_in_path(spark, tmp_path):
    """A literal '%' that isn't a valid %XX escape (here '%.p' via the
    directory name 'report 50%') is a malformed URL on the raw listing
    side — try_url_decode must fall back to the raw path instead of
    erroring, and the two sides must still reconcile."""
    p = str(tmp_path / "report 50%" / "ds")
    _write_ds(spark, p, n=30, parts=2)
    m = M.write_manifest(spark, p).collect()
    assert sum(r.n_rows for r in m) == 30
    assert all("report 50%" in r.file for r in m)
    assert M.verify_manifest(spark, p).count() == 0


def test_ledger_skips_metadata_at_top_level(spark, tmp_path):
    """A bare '/drop/*' glob matches _SUCCESS & co; the lister must
    skip them or the load crashes / ingests bookkeeping files."""
    src = tmp_path / "drop"
    src.mkdir()
    spark.range(4).coalesce(1).write.parquet(str(src / "a.parquet"))
    (src / "_SUCCESS").write_text("")
    (src / ".hidden.crc").write_text("x")
    files = L.list_source_files(spark, f"{src}/*").collect()
    names = [os.path.basename(r.file) for r in files]
    assert names and all(not n.startswith(("_", ".")) for n in names)
    data, new = L.incremental_batch(spark, f"{src}/*", str(tmp_path / "led"))
    assert data.count() == 4


def test_ledger_expands_hive_partitioned_dirs(spark, tmp_path):
    """A matched directory whose children are PARTITION subdirs must
    contribute its leaf files (recursive expansion), not silently
    nothing."""
    src = tmp_path / "drop"
    src.mkdir()
    spark.range(20).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(str(src / "batch1"))
    files = L.list_source_files(spark, f"{src}/*").collect()
    assert len(files) >= 2  # one leaf file per partition at minimum
    assert all(r.file.endswith(".parquet") for r in files)


def test_read_ledger_raises_on_corrupt_ledger(spark, tmp_path):
    """Only a MISSING ledger means 'no runs yet'; a present-but-
    unreadable ledger must raise, not silently reprocess the world."""
    import pytest

    led = tmp_path / "ledger"
    led.mkdir()
    (led / "part-00000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception) as e:
        L.read_ledger(spark, str(led)).collect()
    assert "PATH_NOT_FOUND" not in str(e.value)


def test_missing_ledger_is_empty_without_a_read(spark, tmp_path, monkeypatch):
    """No ledger yet is found by a FileSystem existence check, not by a
    failed ``spark.read.parquet`` and its logged stack trace."""
    from pyspark.sql.readwriter import DataFrameReader

    def no_read(*a, **k):
        raise AssertionError("spark.read.parquet called on a missing path")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    led = L.read_ledger(spark, str(tmp_path / "no_ledger"))
    assert led.count() == 0
    assert led.schema == spark.createDataFrame([], L.LEDGER_SCHEMA).schema


def test_incremental_batch_recovers_hive_partition_columns(spark, tmp_path):
    """Loading leaf part files of a hive-partitioned dataset must keep
    the partition column (basePath anchored at the glob's static
    prefix) — without it the date=... level silently vanishes."""
    import clustering_spark.sources.ledger as L

    root = tmp_path / "drop"
    src = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "id long, date string"
    )
    src.write.partitionBy("date").parquet(str(root / "ds"))
    ledger = str(tmp_path / "ledger")
    data, new = L.incremental_batch(spark, f"{root}/*", ledger)
    assert data is not None
    assert "date" in data.columns
    assert {str(r.date) for r in data.select("date").collect()} == {
        "2024-01-01",
        "2024-01-02",
    }


def test_manifest_roundtrip_with_hive_escaped_partition_values(spark, tmp_path):
    # Spark's escapePathName writes partition values containing ':'
    # as %3A on disk; the listing side must NOT url-decode that raw
    # name (it would split every such file into two half-rows, one
    # n_rows=0 and one bytes=0)
    p = str(tmp_path / "ds")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:00"), (3, "2024-02-02 11:22:33")],
        "id long, ts string",
    ).write.partitionBy("ts").parquet(p)
    assert any("%3A" in d for d in os.listdir(p))  # precondition: escapes on disk
    m = M.write_manifest(spark, p).collect()
    assert sum(r.n_rows for r in m) == 3
    assert all(r.n_rows > 0 and r.bytes > 0 for r in m)
    assert M.verify_manifest(spark, p).count() == 0


def test_verify_manifest_reports_missing_when_all_data_files_gone(spark, tmp_path):
    # the canonical integrity failure: every data file deleted but the
    # manifest intact — must report each file 'missing', not crash on
    # parquet schema inference
    p = str(tmp_path / "ds")
    _write_ds(spark, p, n=40, parts=2)
    m = M.write_manifest(spark, p).collect()
    for r in m:
        os.remove(_local(r.file))
    problems = {r.file: r.problem for r in M.verify_manifest(spark, p).collect()}
    assert set(problems.values()) == {"missing"}
    assert set(problems) == {r.file for r in m}


def test_manifest_includes_extensionless_data_files(spark, tmp_path):
    # Hive/Impala-written datasets name part files without .parquet;
    # the scan reads them, so the listing must list them too
    p = str(tmp_path / "ds")
    _write_ds(spark, p, n=30, parts=1)
    src = next(
        f for f in os.listdir(p) if f.endswith(".parquet") and not f.startswith(".")
    )
    os.rename(os.path.join(p, src), os.path.join(p, "000000_0"))
    crc = os.path.join(p, "." + src + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    m = M.build_manifest(spark, p).collect()
    assert len(m) == 1
    assert m[0].file.endswith("000000_0")
    assert m[0].n_rows == 30 and m[0].bytes > 0


def test_incremental_batch_csv_with_schema_and_options(spark, tmp_path):
    # text formats need the engine's ingestion doctrine applied; the
    # passthrough lets incremental_batch reuse it instead of ingesting
    # header rows as all-string _c0.. data
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.csv").write_text("id,name\n1,alice\n2,bob\n")
    ledger_p = str(tmp_path / "ledger")
    data, new = L.incremental_batch(
        spark,
        str(drop / "*.csv"),
        ledger_p,
        fmt="csv",
        schema="id long, name string",
        options={"header": "true"},
    )
    rows = sorted((r.id, r.name) for r in data.collect())
    assert rows == [(1, "alice"), (2, "bob")]
    assert new.count() == 1


def test_file_uri_authority_preserved(spark):
    """Round-16 review: the old 'file:/+' collapse folded a non-empty
    authority (file://host/p) into a leading path segment, splitting
    scan/listing join keys for host-addressed datasets. Only the
    empty-authority slash forms normalize."""
    from clustering_spark.sources.manifest import (
        _norm_list_uri,
        _norm_scan_uri,
    )

    cases = {
        "file:/data/x.parquet": "file:///data/x.parquet",
        "file:///data/x.parquet": "file:///data/x.parquet",
        "file:////data/x.parquet": "file:///data/x.parquet",
        "file://localhost/data/x.parquet": "file://localhost/data/x.parquet",
        "s3a://bucket/data/x.parquet": "s3a://bucket/data/x.parquet",
    }
    df = spark.createDataFrame([(k,) for k in cases], "u string")
    for fn in (_norm_scan_uri, _norm_list_uri):
        got = [r.c for r in df.select(fn(F.col("u")).alias("c")).collect()]
        for (u, want), g in zip(cases.items(), got):
            assert g == want, (fn.__name__, u, g, want)
