"""Ingestion-mode tests (SURVEY §1.1 / VERDICT #9): dirty CSV under
explicit-schema PERMISSIVE — corrupt rows observable, clean types
preserved — vs the reference's silent inferSchema demotion; row cap;
file lifecycle helpers.
"""

from __future__ import annotations

import pytest

from clustering_spark.sources import (
    CONTAINER_STATS_SCHEMA,
    acknowledge,
    read_csv,
    read_csv_inferred,
    sample_cap,
    source_exists,
    split_corrupt,
)

HEADER = (
    "ram_usage,cpu_percent,node_id,io_usage,application_id,ram_limit,"
    "container_id,customer_id,time,network_usage,pids"
)
CLEAN = [
    "1000.0,50.0,n1,10.0,app1,2000.0,c1,cust1,1583000000000,5.0,3.0",
    "1500.0,70.0,n1,12.0,app2,2000.0,c2,cust1,1583000001000,6.0,4.0",
]
# shifted row: text where `time` belongs + an extra 12th field
DIRTY = "2000.0,80.0,n1,13.0,app1,2000.0,c3,cust2,Teknosa,7.0,5.0,EXTRA"


@pytest.fixture
def csv_path(tmp_path):
    p = tmp_path / "daily_data.csv"
    p.write_text("\n".join([HEADER, *CLEAN, DIRTY]) + "\n")
    return str(p)


def test_permissive_mode_captures_corrupt_rows(spark, csv_path):
    df = read_csv(spark, csv_path)
    clean, corrupt = split_corrupt(df)
    assert clean.count() == 2
    assert corrupt.count() == 1
    # the corrupt row is preserved verbatim for quarantine/debugging
    raw = corrupt.collect()[0]["_corrupt_record"]
    assert "Teknosa" in raw and "EXTRA" in raw
    # clean rows keep their declared types (no demotion)
    schema = dict((f.name, f.dataType.simpleString()) for f in clean.schema.fields)
    assert schema["time"] == "bigint"
    assert schema["ram_usage"] == "double"


def test_inferschema_silently_demotes(spark, csv_path):
    """Reference-parity mode: the dirty row demotes `time` to string —
    the behavior the engine mode exists to avoid."""
    df = read_csv_inferred(spark, csv_path)
    schema = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert schema["time"] == "string"
    assert df.count() == 3  # nothing rejected, dirt included


def test_schema_matches_reference_header(spark):
    assert [f.name for f in CONTAINER_STATS_SCHEMA.fields] == HEADER.split(",")


def test_sample_cap(spark):
    df = spark.range(1000)
    capped = sample_cap(df, 100, seed=42)
    n = capped.count()
    assert 50 <= n <= 160  # Bernoulli: approximate by design
    # deterministic for a fixed seed
    assert sample_cap(df, 100, seed=42).count() == n
    # under the cap: untouched
    assert sample_cap(spark.range(50), 100).count() == 50


def test_source_exists_and_acknowledge_move(spark, tmp_path):
    src = tmp_path / "in" / "daily.csv"
    src.parent.mkdir()
    src.write_text("x\n1\n")
    path = str(src)
    assert source_exists(spark, path)
    processed = str(tmp_path / "processed")
    assert acknowledge(spark, path, processed_dir=processed)
    assert not source_exists(spark, path)
    assert source_exists(spark, f"{processed}/daily.csv")
    # second ack of the same file reports failure, not silence
    assert not acknowledge(spark, path, processed_dir=processed)


def test_acknowledge_delete_mode(spark, tmp_path):
    src = tmp_path / "gone.csv"
    src.write_text("x\n")
    assert acknowledge(spark, str(src))
    assert not source_exists(spark, str(src))


def test_acknowledge_move_uniquifies_on_collision(spark, tmp_path):
    """Two runs consuming a fixed-name interval file: the second move
    must not fail on the existing processed/daily.csv (Hadoop rename
    to an existing destination returns false, leaving the input to be
    reprocessed forever)."""
    from clustering_spark.sources.filesource import acknowledge, source_exists

    processed = str(tmp_path / "processed")
    for run in range(2):
        src = tmp_path / "in" / "daily.csv"
        src.parent.mkdir(exist_ok=True)
        src.write_text(f"run {run}\n")
        assert acknowledge(spark, str(src), processed) is True
        assert not source_exists(spark, str(src))
    names = sorted(p.name for p in (tmp_path / "processed").iterdir())
    assert len(names) == 2 and names[0] == "daily.csv"
    assert names[1].startswith("daily.csv.")


def test_default_master_respects_launcher_gateway(monkeypatch):
    # under spark-submit/pyspark the gateway port is exported and
    # spark.master comes from the launcher — get_spark must not force
    # local[N] there (it would run a cluster job on the driver node)
    from clustering_spark import session as S

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert S._default_master() == f"local[{S.DEFAULT_CPUS}]"
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "45555")
    assert S._default_master() is None


def test_fair_pools_file_marks_default_pool_fair():
    from clustering_spark import session as S

    path = S._fair_pools_file()
    assert path
    with open(path) as f:
        xml = f.read()
    assert 'name="default"' in xml and "FAIR" in xml
