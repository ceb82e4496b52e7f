"""File-level incremental batch ingest ledger (beyond-reference scope;
the reference re-reads its whole HDFS drop directory every cron run —
hdfs_operations.py — and relies on moving files aside to avoid
reprocessing, which loses the audit trail and breaks if the move
fails mid-run).

Structured Streaming already tracks processed files in its checkpoint,
but plenty of pipeline stages are BATCH jobs run on a schedule. The
ledger gives those the same exactly-once-per-file discipline without
adopting streaming: a small parquet table of (file, bytes, mtime)
records every file a previous run consumed; the next run lists the
source, anti-joins the ledger, processes only the remainder, and
appends what it processed. Re-listing is cheap (driver-side Hadoop FS
call, #files rows); the anti-join is broadcast (the file list is tiny
next to the data).

Semantics: at-least-once per file. Record AFTER the processing commit
— a crash between processing and recording reprocesses that batch,
which downstream idempotent sinks (exact dedup, latest-wins upsert,
novelty anti-join — all in this repo) absorb. A file is re-ingested if
its size OR mtime changes: appends-in-place show up as changed bytes,
rewrites as changed mtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clustering_spark.sources.filesource import _fs, source_exists

LEDGER_SCHEMA = "file string, bytes long, mtime_ms long"


def _is_metadata(name: str) -> bool:
    return name.startswith("_") or name.startswith(".")


def _static_prefix(pattern: str) -> str:
    """Directory part of a glob pattern before its first wildcard —
    the deepest path guaranteed to be an ancestor of every match."""
    import re

    m = re.search(r"[*?\[{]", pattern)
    stem = pattern if m is None else pattern[: m.start()]
    return stem.rsplit("/", 1)[0] or "/"


def list_source_files(spark: SparkSession, pattern: str) -> DataFrame:
    """(file, bytes, mtime_ms) for every data file matching ``pattern``
    (glob, e.g. ``/drop/*.jsonl``) via the Hadoop FileSystem API —
    works on any Hadoop-compatible FS. Matched directories are
    expanded RECURSIVELY (a "file" that is really a parquet dataset
    directory — possibly hive-partitioned — is listed as its leaf
    part files). ``_``/``.``-prefixed names are skipped at every
    level: _SUCCESS, .crc sidecars, _spark_metadata are bookkeeping,
    not data — globs like ``/drop/*`` would otherwise match them and
    either crash the load or ingest garbage."""
    fs, jpath, _ = _fs(spark, pattern)
    matches = fs.globStatus(jpath) or []
    rows = []
    stack = []
    for st in matches:
        if _is_metadata(st.getPath().getName()):
            continue
        stack.append(st)
    while stack:
        st = stack.pop()
        if st.isDirectory():
            for sub in fs.listStatus(st.getPath()):
                if not _is_metadata(sub.getPath().getName()):
                    stack.append(sub)
        else:
            rows.append(
                (st.getPath().toString(), st.getLen(), st.getModificationTime())
            )
    return spark.createDataFrame(rows, LEDGER_SCHEMA)


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    """The processed-file ledger; empty frame when no run has recorded
    yet (missing path only — any OTHER read failure propagates:
    swallowing a transient FS/permission error here would silently
    reprocess the entire source and double-append the ledger)."""
    if not source_exists(spark, ledger_path):
        return spark.createDataFrame([], LEDGER_SCHEMA)
    return spark.read.parquet(ledger_path).select("file", "bytes", "mtime_ms")


def unprocessed(files: DataFrame, ledger: DataFrame) -> DataFrame:
    """Files not yet consumed: anti-join on the FULL identity
    (file, bytes, mtime) so a changed file re-qualifies. Ledger side
    broadcast — it is #files rows by construction."""
    return files.join(
        F.broadcast(ledger), on=["file", "bytes", "mtime_ms"], how="left_anti"
    )


def record_processed(files: DataFrame, ledger_path: str) -> None:
    """Append the consumed batch to the ledger. Call AFTER the
    processing commit (at-least-once contract — module docstring).
    Single-writer per ledger, same contract as the k-cache
    (operators/kcache.py): schedulers running one instance of a given
    ingest job satisfy it by construction.

    Each run appends one small file; after ~thousands of runs, compact
    the ledger offline (read_ledger → overwrite via
    sources.compaction.write_compacted) — the ledger is #files rows,
    so compaction is trivial and the single-writer window covers it."""
    files.select("file", "bytes", "mtime_ms").coalesce(1).write.mode(
        "append"
    ).parquet(ledger_path)


def incremental_batch(
    spark: SparkSession,
    pattern: str,
    ledger_path: str,
    fmt: str = "parquet",
    schema=None,
    options: dict | None = None,
) -> tuple[DataFrame | None, DataFrame]:
    """One incremental ingest step: list → anti-join ledger → load.

    Returns ``(data, new_files)`` where ``data`` reads ONLY the new
    files (None when there are none — callers skip the run) and
    ``new_files`` is what to pass to :func:`record_processed` after
    the processing commit. The driver collect is the file list — #new
    files rows, the same bounded listing every batch scheduler does.

    ``schema``/``options`` pass through to the reader so text formats
    can apply the engine's ingestion doctrine (explicit schema +
    PERMISSIVE + corrupt-record column — see ``sources.csv_source`` /
    ``sources.jsonl_source``). A bare ``fmt='csv'`` with neither would
    ingest header rows as data into all-string _c0.. columns — pass
    e.g. ``schema=..., options={'header': 'true', 'mode': 'PERMISSIVE',
    'columnNameOfCorruptRecord': '_corrupt'}``.
    """
    new = unprocessed(list_source_files(spark, pattern), read_ledger(spark, ledger_path))
    paths = [r.file for r in new.collect()]
    if not paths:
        return None, new
    # basePath = the glob's static prefix: list_source_files expands
    # dataset DIRECTORIES into leaf part files, and loading leaf files
    # without a basePath makes Spark treat each file's parent as the
    # root — silently DROPPING every hive partition column (date=...,
    # lang=...) from the schema. Anchoring at the static prefix
    # recovers all key=value directory levels below it.
    reader = spark.read.format(fmt).option("basePath", _static_prefix(pattern))
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    data = reader.load(paths)
    return data, new
