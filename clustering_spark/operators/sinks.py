"""Result sinks + GUI read contract (SURVEY §1.4, S7/S8/S13/S14;
reference cluster.py:176-235 ``insertToMongo``, views.py:25-41,
forms.py:19-23).

The reference builds its D3 document by string-replacing column names
inside a JSON dump (cluster.py:202-208) — which also corrupts any DATA
VALUE containing the column name (SURVEY §4.3.6). Here both documents
are built relationally: two levels of ``collect_list(struct(...))``
with aliases carrying the §1.4 key names, then ``to_json``. Key-name
parity with the reference:

* original doc:  {algorithm, macro, micro, firstColumn, secondColumn,
  date, list: [{<macro_col>: macro_id, <micro_col>_List:
  [{<micro_col>: micro_id, entropy, silhouette, clusters:
  [{name, center, clusterSize, radius}]}]}]}
* d3 doc: {name: 'clusters', children: [{name: macro_id, children:
  [{name: micro_id, entropy, silhouette, children: [{name, center,
  clusterSize, radius, size}]}]}], algorithm, macro, micro,
  firstColumn, secondColumn, date} — ``size`` is the radius affine-
  normalized to [1, d3NormalizeMax] (metrics.d3_normalize).

Scale shape: both aggregations group the (already tiny,
#segments x k rows) RESULTS table, never fact data; the JSON build is
a pure projection. Each (algorithm, grid-cell) document collapses to
ONE row. Each GUI read is one Spark job with no shuffle:
``latest_document`` is a filtered top-1, ``dropdown_options`` one scan
deduplicated in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clustering_spark.config import LIST_SUFFIX

GRID_COLS = ["algorithm", "macro_col", "micro_col", "x_col", "y_col"]


def _nested_docs(
    results: DataFrame,
    cluster_fields: list,
    micro_key: str,
    clusters_key: str = "clusters",
):
    """Shared two-level collect_list(struct) rollup. ``cluster_fields``
    are the aliased per-cluster columns; ``micro_key``/``clusters_key``
    name the micro-level id and cluster-array fields (the d3 document
    calls both 'name'/'children'). EVERY level is sort_array-ed —
    collect_list aggregates in shuffle-arrival order, so without the
    sorts two identical runs produce byte-different document JSON
    (struct sort = first-field order: cluster name / micro id)."""
    cluster_struct = F.struct(*cluster_fields)
    micro = (
        results.groupBy(*GRID_COLS, "macro_id", "micro_id", "entropy", "silhouette")
        .agg(F.sort_array(F.collect_list(cluster_struct)).alias("__clusters"))
    )
    micro_struct = F.struct(
        F.col("micro_id").alias(micro_key),
        F.col("entropy"),
        F.col("silhouette"),
        F.col("__clusters").alias(clusters_key),
    )
    macro = micro.groupBy(*GRID_COLS, "macro_id").agg(
        F.sort_array(F.collect_list(micro_struct)).alias("__micros")
    )
    return macro


def original_documents(
    results: DataFrame,
    macro_col: str,
    micro_col: str,
    run_date: str,
    version: int = 0,
) -> DataFrame:
    """S7: the 'original' nested result document, one row per
    (algorithm, grid cell), with ``doc`` as a JSON string honoring the
    reference key names (<macro_col>, <micro_col>_List, clusters)."""
    cluster_fields = [
        F.col("cluster_name").alias("name"),
        F.array("center_x", "center_y").alias("center"),
        F.col("cluster_size").alias("clusterSize"),
        F.col("radius"),
    ]
    macro = _nested_docs(results, cluster_fields, micro_col)
    macro_struct = F.struct(
        F.col("macro_id").alias(macro_col),
        F.col("__micros").alias(f"{micro_col}{LIST_SUFFIX}"),
    )
    docs = macro.groupBy(*GRID_COLS).agg(
        F.sort_array(F.collect_list(macro_struct)).alias("__list")
    )
    return docs.select(
        *GRID_COLS,
        F.lit(run_date).alias("date"),
        F.lit(version).cast("long").alias("version"),
        F.to_json(
            F.struct(
                F.col("algorithm"),
                F.col("macro_col").alias("macro"),
                F.col("micro_col").alias("micro"),
                F.col("x_col").alias("firstColumn"),
                F.col("y_col").alias("secondColumn"),
                F.lit(run_date).alias("date"),
                F.col("__list").alias("list"),
            )
        ).alias("doc"),
    )


def d3_documents(
    results: DataFrame,
    macro_col: str,
    micro_col: str,
    run_date: str,
    version: int = 0,
    d3_max: float = 50.0,
) -> DataFrame:
    """S8: the D3 circle-packing document — name/children nesting with
    per-cluster ``size`` normalized to [1, d3_max] across the run.
    Built relationally; data values are never rewritten (unlike the
    reference's JSON string replace)."""
    from clustering_spark.operators.metrics import d3_normalize

    # fallback normalization is scoped PER GRID CELL: this frame can
    # legitimately union several cells/algorithms (one doc per cell is
    # emitted below), and an unscoped min/max would couple every
    # document's sizes to every other run's radii — the divergence
    # d3_normalize's own docstring warns about
    sized = (
        d3_normalize(results, "radius", "size", d3_max, partition_cols=GRID_COLS)
        if "size" not in results.columns
        else results
    )
    cluster_fields = [
        F.col("cluster_name").alias("name"),
        F.array("center_x", "center_y").alias("center"),
        F.col("cluster_size").alias("clusterSize"),
        F.col("radius"),
        F.col("size"),
    ]
    macro = _nested_docs(sized, cluster_fields, "name", clusters_key="children")
    macro_struct = F.struct(
        F.col("macro_id").alias("name"), F.col("__micros").alias("children")
    )
    docs = macro.groupBy(*GRID_COLS).agg(
        F.sort_array(F.collect_list(macro_struct)).alias("__children")
    )
    return docs.select(
        *GRID_COLS,
        F.lit(run_date).alias("date"),
        F.lit(version).cast("long").alias("version"),
        F.to_json(
            F.struct(
                F.lit("clusters").alias("name"),
                F.col("__children").alias("children"),
                F.col("algorithm"),
                F.col("macro_col").alias("macro"),
                F.col("micro_col").alias("micro"),
                F.col("x_col").alias("firstColumn"),
                F.col("y_col").alias("secondColumn"),
                F.lit(run_date).alias("date"),
            )
        ).alias("doc"),
    )


def write_documents(docs: DataFrame, path: str, interval: str) -> None:
    """Append-mode parquet sink, one directory per schedule interval
    (the reference's ``{interval}_originalCollection`` split). Append +
    version column = the Mongo insert_one history; readers resolve
    recency with latest_document (T3)."""
    docs.write.mode("append").parquet(f"{path}/{interval}")


def latest_document(
    docs: DataFrame,
    algorithm: str,
    macro_col: str,
    micro_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """S13: the GUI read — latest doc for the 5-tuple, falling back to
    the swapped (x, y) pair when the exact orientation was never
    computed (views.py:25-41: a real semantic, preserved). Exact
    matches rank before swapped, then version desc, then date desc.

    The filter fixes algorithm, macro and micro to literals and admits
    only the exact or the swapped pair, so every surviving row belongs
    to ONE grid cell: the answer is a plain top-1, which Spark plans as
    TakeOrderedAndProject — one job, no shuffle, no window.

    date desc breaks version ties: run_interval appends with the
    default version=0 every run, so version alone would make "latest"
    an arbitrary pick across reruns. A residual tie on (version, date)
    means two byte-identical runs of the same day: either row is the
    same answer."""
    exact = (F.col("x_col") == x_col) & (F.col("y_col") == y_col)
    swapped = (F.col("x_col") == y_col) & (F.col("y_col") == x_col)
    return (
        docs.filter(
            (F.col("algorithm") == algorithm)
            & (F.col("macro_col") == macro_col)
            & (F.col("micro_col") == micro_col)
            & (exact | swapped)
        )
        .orderBy(
            F.when(exact, 0).otherwise(1),
            F.col("version").desc(),
            F.col("date").desc(),
        )
        .limit(1)
    )


def dropdown_options(docs: DataFrame) -> DataFrame:
    """S14: the GUI dropdown sources — distinct (field, value) per
    selector field (forms.py:19-23 ran five Mongo ``distinct()``
    calls). One column-pruned scan explodes the five selector columns;
    one task is enough for the distinct, because the store holds one
    row per (cell, run) and the scan reads five short strings a row."""
    fields = {
        "macro": "macro_col",
        "micro": "micro_col",
        "firstColumn": "x_col",
        "secondColumn": "y_col",
        "algorithm": "algorithm",
    }
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("field"), F.col(src).cast("string").alias("value")
            )
            for name, src in fields.items()
        ]
    )
    return docs.select(F.inline(pairs)).coalesce(1).distinct()
