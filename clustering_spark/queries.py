r"""Query registry: every operator from SURVEY.md §2 (plus the
beyond-reference LLM-pipeline operators) as a named (Spark callable,
DuckDB oracle SQL) pair, consumed by ``__spark_entry__.py``.

Conventions (driver contract):
  * each callable takes (spark, sf_dir) and returns a DataFrame;
  * every computed column is aliased IDENTICALLY in Spark and SQL;
  * floats that pass through aggregation are rounded (ROUND_*) so the
    order-insensitive value hash is stable across engines — Spark and
    DuckDB sum doubles in different orders;
  * timestamp-bearing outputs are reduced to epoch seconds (bigint)
    with the session forced to UTC, sidestepping tz-rendering drift;
  * oracle regexes NEVER use ``\s``: DuckDB's RE2 ``\s`` is
    ``[\t\n\f\r ]`` while Spark's Java ``\s`` adds ``\x0B`` — text
    containing a vertical tab would tokenize differently in the two
    engines, so whitespace is always spelled as the explicit class
    ``[ \t\n\x0b\f\r]``.

Queries without an oracle entry (clustering, MinHash/SimHash — not
ANSI-SQL-expressible) get the driver's weaker rows-only check and are
covered by invariant tests in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clustering_spark.config import PipelineConfig
from clustering_spark.functions.scaling import scale_segments
from clustering_spark.operators import dedup, similarity, textnorm, textops
from clustering_spark.pipeline import cluster_segments
from clustering_spark.oracles import (  # noqa: F401 -- re-exported:
    # oracle SQL + shared constants split out in round 15
    NGRAM_CLOSURE_HOPS,
    PINNED_QUALITY_MODEL,
    QUERY_VEC,
    ROUND,
    ROUND_SUM,
    SEMANTIC_CLOSURE_HOPS,
    SQL_APPROX_DISTINCT,
    SQL_ASOF_LAST_PURCHASE,
    SQL_BPE_IDS,
    SQL_CENTER_RADIUS,
    SQL_CLICKS_AFTER_SIGNUP,
    SQL_CLUSTER_ASSIGN,
    SQL_CONTAMINATION,
    SQL_CSV_INGEST,
    SQL_DEDUP_EXACT,
    SQL_DOC_CHUNKS,
    SQL_EMBEDDING_NEARDUP,
    SQL_EMBEDDING_NEARDUP_LSH,
    SQL_ENTROPY,
    SQL_GROUP_STATS,
    SQL_HASH_SPLIT_COUNTS,
    SQL_HIERARCHY,
    SQL_JSON_PROPS_STATS,
    SQL_KNN_JOIN,
    SQL_LATEST_EVENT,
    SQL_LIMIT_SCALE,
    SQL_MEDIA_METADATA,
    SQL_MINHASH_NEARDUP,
    SQL_MINMAX_SCALE,
    SQL_NEARDUP_COMPONENTS,
    SQL_NGRAM_JACCARD,
    SQL_NULLDROP,
    SQL_PAIRDIST,
    SQL_PIVOT_USER_EVENT_COUNTS,
    SQL_PRICING_SUMMARY,
    SQL_QUALITY_SCORE,
    SQL_REVENUE_BY_NATION,
    SQL_SALTED_JOIN_REVENUE,
    SQL_SEGMENT_COUNTS,
    SQL_SEMANTIC_PAIRS,
    SQL_SIMHASH_NEARDUP,
    SQL_SLIDING_WINDOW_EVENTS,
    SQL_STATEFUL_USER_STATS,
    SQL_STREAM_DEDUP_REPLAY,
    SQL_STREAM_DISTINCT_TYPES,
    SQL_STREAM_SESSIONS,
    SQL_STRIP_HTML,
    SQL_TEXT_PROFILE,
    SQL_TEXT_QUALITY,
    SQL_TOPK,
    SQL_TUNE_K_PLANTED,
    SQL_WARC_CRAWL,
    SQL_WINDOWED_EVENTS,
    SQL_WINDOW_EVENTS,
    SQL_WINDOW_EVENTS_MODES,
    _CSV_INGEST_PATH,
    _PII_EMAIL_SQL,
    _PII_TOTAL_SQL,
    _QV_SQL,
    _TEXT_QUALITY_CTE,
    _WARC_CRAWL_DIR,
    _WARC_N_PLAIN,
    _WARC_N_RECORDS,
    _WARC_N_WAT_PER,
    _WARC_N_WET_PER,
    _ivf_topk_sql,
    _lang_values_sql,
    _media_metadata_sql,
    _pca_project_sql,
    _pii_count_sql,
    _pinned_cells_cte,
    _quality_z_sql,
    _semantic_dedup_keep_sql,
)


def nz(col):
    """Canonicalize IEEE signed zero on a rounded double column:
    ``-0.0 + 0.0 == +0.0`` (and a no-op for every other value). Spark's
    ``round`` goes through BigDecimal, which has no signed zero, while
    DuckDB's ``round`` preserves the IEEE sign — so a tiny-negative
    mean that rounds to zero hashes differently on the two sides
    (round-10 ``cluster_assign`` red row). Apply to BOTH sides of any
    oracle pair whose rounded doubles can straddle zero; the SQL twin
    is a literal ``+ 0.0`` after the ``round(...)``."""
    return col + F.lit(0.0)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _input_bytes(path: str) -> int:
    """Total bytes of a local file or directory tree; 0 when the path
    is missing or not a local filesystem path (callers fall back to
    full parallelism then)."""
    import os

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total
    if os.path.exists(path):
        return os.path.getsize(path)
    return 0


def load_spread(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Load + round-robin repartition for CPU-heavy per-row pipelines
    (shingling, signatures, vector math) over sources that arrive as
    FEW large files: a single-file parquet scan is one partition, which
    serializes all expression work onto one core. The repartition is a
    tiny narrow-row shuffle bought back many times over; on a real
    cluster the same logic keeps a skewed file layout from starving
    executors.

    The partition count is SCALE-ADAPTIVE (guide §2), not a constant:
    ``clamp(ceil(input_bytes / bytes_per_task), 1, defaultParallelism)``.
    The default target (SPARK_GRAFT_SPREAD_BYTES, 32 KB) sizes a task
    at ~100-400 ms of Python-kernel CPU at the measured ~12 µs/byte
    worst-case shingle rate — 20-50x the per-task Arrow/scheduling
    setup cost, so neither overhead nor stragglers dominate. On any
    real corpus the clamp lands at full cluster parallelism; at bench
    scale it stops a ~600 KB table from paying 32 task setups per
    Python stage (interleaved A/B over the 7 spread consumers: 7.6 s
    at 32 partitions -> 6.1-6.9 s at the derived ~16-25). Callers
    whose per-byte cost is far above the shingle rate (codec/blob
    kernels) pass a smaller ``bytes_per_task``. Non-local paths fall
    back to full parallelism.

    NOTE: ``input_bytes`` is the COMPRESSED on-disk parquet size while
    the per-byte kernel rates are measured on decompressed text — a
    highly compressible column under-partitions CPU-heavy stages by
    the compression ratio. The default target already bakes in the
    bench corpus's ~2-4x text ratio; a caller with extreme-ratio data
    should scale its ``bytes_per_task`` accordingly. Perf heuristic
    only — the clamp still lands at full parallelism at real scale."""
    import os

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    par = max(1, spark.sparkContext.defaultParallelism)
    target = bytes_per_task or int(
        os.environ.get("SPARK_GRAFT_SPREAD_BYTES", str(32 << 10))
    )
    nbytes = _input_bytes(f"{sf_dir}/{name}.parquet")
    n = par if nbytes == 0 else max(1, min(par, -(-nbytes // target)))
    if n == 1:
        # a sub-target table needs no spreading: repartition(1) would
        # still plan an Exchange SinglePartition per consumer subtree
        # (two of them under broadcast builds in the LSH verify), and
        # the natural scan layout of a < bytes_per_task source is at
        # most a few partitions already. Results are partitioning-
        # independent by the spread contract (round-robin placement is
        # a performance choice; every consumer is order-insensitive).
        return df
    return df.repartition(n)


# bytes_per_task for load_spread over DENSE NUMERIC VECTOR tables
# (embeddings): the per-byte kernel cost of the vector consumers (band
# GEMM, knn/pca GEMM, cell argmin) is ~100-300x below the ~12 µs/byte
# worst-case shingle rate the 32 KB default is calibrated for — their
# per-task cost is dominated by the Arrow transfer itself (~40-80 ms at
# 4 MB), so a 32 KB spread just multiplies Python-task setup floors with
# no compute to amortize them (interleaved A/B at sf0.1: lsh 1.67->1.33,
# knn_join 0.77->0.67, pca_project 0.44->0.38). Still scale-adaptive:
# a real corpus (100 TB / 4 MB >> cores) clamps to full parallelism.
VEC_SPREAD_BYTES = 4 << 20

# bytes_per_task for load_spread over SIGNATURE-kernel consumers
# (simhash): the word-shingle + hash-vote pandas kernel measures
# ~0.5-1 µs/byte — ~15-25x below the ~12 µs/byte char-5-shingle rate
# the 32 KB default is calibrated for — so a 32 KB spread leaves each
# task with ~15-30 ms of kernel against a comparable setup floor.
# 256 KB sizes a task at ~150-250 ms of kernel CPU (interleaved 3-arm
# A/B at sf0.1/local[32]: min 0.79 s @ 32 KB → 0.56 s @ 256 KB ≈
# 0.55 s @ 1 MB; 256 KB keeps more width as the corpus grows). Still
# scale-adaptive: any real corpus clamps to full parallelism.
SIG_SPREAD_BYTES = 256 << 10


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _with_ts_utc(e: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column — which the driver has shipped
    as TIMESTAMP(NANOS)-as-long in one round and timestamp[us] (read by
    Spark as TIMESTAMP_NTZ) in another — to two canonical columns:
    ``ts_utc`` (TIMESTAMP, session tz forced to UTC upstream) and
    ``ts_us`` (bigint epoch microseconds, for exact integer arithmetic
    that can't drift vs the DuckDB oracles), plus ``ts_ord`` — the
    FULL-PRECISION ordering key (raw ns for the legacy encoding, µs
    otherwise) so latest-wins tie-breaks match an oracle that orders by
    the un-truncated source column. Downstream queries use ONLY these,
    never raw ``ts``."""
    # The NTZ->timestamp cast resolves wall-clock via the session tz;
    # force UTC here so correctness never depends on the caller having
    # remembered to (the instant would silently shift otherwise).
    _utc(e.sparkSession)
    t = dict(e.dtypes)["ts"]
    if t == "bigint":  # legacy: ns-since-epoch surfaced as long
        e = e.withColumn("ts_utc", F.expr("timestamp_micros(ts DIV 1000)"))
        e = e.withColumn("ts_ord", F.col("ts"))
    else:  # timestamp / timestamp_ntz: NTZ wall-clock == UTC instant here
        e = e.withColumn("ts_utc", F.col("ts").cast("timestamp"))
        e = e.withColumn("ts_ord", F.unix_micros("ts_utc"))
    return e.withColumn("ts_us", F.unix_micros("ts_utc"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of events.parquet with ``ts`` normalized to
    ``ts_utc``/``ts_us`` (see _with_ts_utc); tolerant of both timestamp
    encodings the test-data generator has used.

    CONTRACT: this sets ``spark.sql.legacy.parquet.nanosAsLong=true``
    for the WHOLE session (it cannot be scoped: lazy batch plans and
    running streams consult it at execution, so a set→read→restore
    would corrupt them). It is a no-op for µs-encoded files, and
    ``session.get_spark`` declares the same value at build time, so
    every supported session state is identical whether or not an
    events reader ran first."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _with_ts_utc(e)


def _events_schema(spark: SparkSession, path: str):
    """Schema of the static events source, memoized per process (the
    same input-staging contract as _STREAM_STAGING_CACHE: a pure
    function of the static source table). Every stream drain needs the
    explicit schema, and re-deriving it is a per-run driver-side
    parquet footer read (~55 ms measured) — one per drain, three per
    folded stream_window_events run. nanosAsLong must be set BEFORE
    the derivation so the memoized schema matches what a fresh read
    would see."""
    key = ("schema", path)
    schema = _STREAM_STAGING_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _STREAM_STAGING_CACHE[key] = schema
    return schema


def _events_stream(
    spark: SparkSession, sf_dir: str, src_dir: str | None = None
) -> DataFrame:
    """readStream source over events.parquet. File streams require an
    explicit schema; deriving it from a one-off batch read keeps the
    stream in lockstep with whatever encoding the generator used, and
    the same _with_ts_utc normalization applies. ``src_dir`` lets a
    caller pre-stage the stream directory (e.g. to add a sentinel
    file) and still get identical ingestion."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = _events_schema(spark, path)
    ev = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir or _as_stream_dir(path))
    )
    return _with_ts_utc(ev)


# =====================================================================
# §2.2 projection / filter / derivation
# =====================================================================


def q_nulldrop_projection(spark, sf_dir):
    """P2/P3: projection + na.drop (preprocess.py:89)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .na.drop(subset=["l_quantity", "l_extendedprice"])
    )


def q_segment_counts(spark, sf_dir):
    """P4/A1 (segment carve as groupBy, not filter loops — SURVEY
    §4.3.1) + A3 (degenerate-segment guard, distinct metric tuples
    >= 2, cluster.py:115) in ONE aggregate pass: the guard's distinct
    count shares the segment shuffle the carve already pays, emitted
    as a 0/1 ``passes_guard`` column instead of a filter so the carve
    rows stay complete. (Folded from the former segment_counts +
    distinct_guard entries, round 10, freeing a slot for the
    oracle-gated cluster_assign entry.)"""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.struct("c_acctbal", "c_custkey")).alias(
                "n_distinct_points"
            ),
        )
        .withColumn(
            "passes_guard", (F.col("n_distinct_points") >= 2).cast("int")
        )
    )


def q_minmax_scale(spark, sf_dir):
    """P6: per-segment min-max scale to [0,100] (preprocess.py:93-106),
    single groupBy-stats + broadcast-join plan."""
    c = load(spark, sf_dir, "customer")
    scaled = scale_segments(
        c, ["c_acctbal"], ["c_nationkey", "c_mktsegment"], dont_scale=[]
    )
    return scaled.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_scaled"), ROUND).alias("acctbal_scaled"),
    )


def q_limit_scale(spark, sf_dir):
    """P5: percent-of-limit scaling (preprocess.py:95-97) — the capacity
    column arrives via a dim join. No forced broadcast: part grows
    linearly with SF, so AQE decides broadcast-vs-shuffle at runtime."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100.0 / F.col("p_retailprice"), ROUND)
            .alias("price_pct_of_retail"),
        )
    )


# =====================================================================
# §2.3 aggregations
# =====================================================================


def q_cluster_assign(spark, sf_dir):
    """M1 (KMeans fit) on the HASH GATE: a deterministic-by-
    construction fit whose labels, sizes, centers, radius and wssse
    are ALL oracle-expressible. Points are three well-separated 2-d
    blobs derived arithmetically from ``c_custkey`` (offsets (0,0)/
    (10,0)/(0,10), hash jitter within ±0.1, member counts in a strict
    3:2:1 ratio so the size-desc relabel is unambiguous); any correct
    k-means at k=3 MUST converge to the blob partition, so every fit
    output becomes pure SQL over the construction rule. This converts
    clustering coverage from rows-only+invariants (cluster_fit) to
    hash-matched — the actual Arrow fit kernel, relabel rule, center/
    radius/wssse arithmetic all sit on the DuckDB gate (round-8 advice
    item 7). cluster_fit stays the production-shaped entry on real
    (non-plantable) data."""
    from clustering_spark.operators.clustering import SegmentedClusterer

    # single-segment fit = ONE Arrow task holds every point, so the
    # construction is BOUNDED by a deterministic pushed-down key cap:
    # unaffected at every driver scale (sf0.1 tops out at 15k
    # customers) and still a ~1 MB task at petabyte-table scale. The
    # oracle carries the identical predicate.
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 60_000)
    r6 = F.pmod(F.col("c_custkey"), F.lit(6))
    jx = (
        F.pmod(F.col("c_custkey") * F.lit(2654435761), F.lit(1000)) / 1000.0
        - 0.5
    ) * 0.2
    jy = (
        F.pmod(F.col("c_custkey") * F.lit(40503), F.lit(1000)) / 1000.0 - 0.5
    ) * 0.2
    pts = c.select(
        F.lit("all").alias("seg"),
        (F.when((r6 >= 3) & (r6 < 5), 10.0).otherwise(0.0) + jx).alias("fx"),
        (F.when(r6 == 5, 10.0).otherwise(0.0) + jy).alias("fy"),
    )
    clusterer = SegmentedClusterer(
        segment_cols=["seg"],
        feature_cols=["fx", "fy"],
        algorithm="KMeans",
        default_k=3,
        seeds=(42,),
    )
    # nz(): the blob-0 jitter mean is tiny-negative, so the rounded
    # center straddles zero — without canonicalization Spark emits 0.0
    # where DuckDB keeps IEEE -0.0 and the driver's value hash splits.
    return clusterer.fit_summarize(pts).select(
        "cluster_name",
        "cluster_size",
        nz(F.round("center_0", ROUND)).alias("center_fx"),
        nz(F.round("center_1", ROUND)).alias("center_fy"),
        F.round("radius", ROUND).alias("radius"),
        F.round("wssse", ROUND).alias("wssse"),
    )


def q_group_stats(spark, sf_dir):
    """A4 (min/max scaling bounds) + exact per-group percentiles
    (p50/p95, continuous interpolation), every metric in ONE
    aggregation job (vs the reference's 2 collects per column per
    segment, SURVEY §4.3.3). Spark's `percentile` and DuckDB's
    `quantile_cont` share the interpolation rule, so this hash-matches
    exactly; flat scalar columns because the driver canonicalizer
    sorts on all columns. (Merged from the former group_minmax +
    group_percentiles registry entries — one groupBy was always the
    right plan for both.)"""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("o_totalprice"), ROUND).alias("price_min"),
        F.round(F.max("o_totalprice"), ROUND).alias("price_max"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), ROUND).alias("price_p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), ROUND).alias("price_p95"),
    )


def q_entropy(spark, sf_dir):
    """A5: Shannon entropy of a group-size distribution as ONE
    aggregation pipeline (vs k+1 count jobs, metrics.py:131-135).
    Here: entropy of order-priority mix per customer segment."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    sizes = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n")
    plogp = F.sum(F.col("n").cast("double") * F.log2(F.col("n").cast("double")))
    return sizes.groupBy("c_mktsegment").agg(
        F.round(F.abs(-(plogp / total - F.log2(total))), ROUND).alias("entropy")
    )


def q_center_radius(spark, sf_dir):
    """A6 (per-group mean vector — cluster centers for GMM parity,
    metrics.py:32-54) + A7 (cluster radius = sqrt(max squared distance
    to the group centroid), metrics.py:12-29) in one query: centers are
    a first-level aggregate broadcast back onto the points — no
    per-cluster jobs, no python UDF (P8 fix). (Merged from the former
    group_mean_center + radius registry entries; the radius pass
    already computed the centers, so one query does both A-ops with
    the same two shuffles the radius alone needed.)"""
    c = load(spark, sf_dir, "customer")
    centers = c.groupBy("c_mktsegment").agg(
        F.avg("c_acctbal").alias("ctr_bal"),
        F.avg(F.col("c_nationkey").cast("double")).alias("ctr_nat"),
        # nz(): c_acctbal can be negative, so the rounded mean can in
        # principle straddle zero (signed-zero hash hazard)
        nz(F.round(F.avg("c_acctbal"), ROUND)).alias("center_acctbal"),
        F.round(F.avg(F.col("c_custkey").cast("double")), ROUND).alias(
            "center_custkey"
        ),
    )
    d2 = (F.col("c_acctbal") - F.col("ctr_bal")) ** 2 + (
        F.col("c_nationkey").cast("double") - F.col("ctr_nat")
    ) ** 2
    return (
        c.join(F.broadcast(centers), on="c_mktsegment")
        # the center columns are functionally dependent on the segment,
        # so grouping by them only carries them through the aggregate
        .groupBy("c_mktsegment", "center_acctbal", "center_custkey")
        .agg(F.round(F.sqrt(F.max(d2)), ROUND).alias("radius"))
        .select("c_mktsegment", "center_acctbal", "center_custkey", "radius")
    )


# =====================================================================
# §2.5 sort / limit / top-k
# =====================================================================


def q_topk_segments(spark, sf_dir):
    """T1: top-3 by score with deterministic tiebreak
    (optimal_k.py:160-162 relational form)."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        # nz(): c_acctbal can be negative (min ≈ -1000 in testdata), so
        # a segment sum could in principle round to signed zero
        .agg(nz(F.round(F.sum("c_acctbal"), ROUND_SUM)).alias("total_bal"))
        .orderBy(F.col("total_bal").desc(), F.col("c_mktsegment"))
        .limit(3)
    )


def q_latest_event_per_user(spark, sf_dir):
    """T3: latest-document-wins (Mongo `_id` DESC find_one,
    cluster.py:27 / views.py:31-34) as row_number()==1."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir)
    # ts_ord is the FULL-precision key (raw ns under the legacy
    # encoding): the oracle orders by un-truncated ts, so ordering by
    # µs-truncated ts_us could break ties differently there.
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_ord").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("ts_us DIV 1000000").alias("ts_epoch"),
        )
    )


# =====================================================================
# S3: CSV engine-mode ingestion (explicit schema + PERMISSIVE +
# corrupt-record capture) on the driver's hash gate, not just pytest
# =====================================================================


def _write_ingest_csv() -> str:
    """Deterministic dirty CSV in the reference's container-stats shape
    (FIXTURES.md §1): 2000 rows, every 97th carries a non-numeric
    cpu_percent token — the row shape Spark's PERMISSIVE mode flags as
    corrupt and DuckDB's TRY_CAST can flag identically. Written
    atomically to a FIXED path so the static oracle SQL can read the
    same bytes."""
    import os
    import tempfile

    os.makedirs(os.path.dirname(_CSV_INGEST_PATH), exist_ok=True)
    lines = [
        "ram_usage,cpu_percent,node_id,io_usage,application_id,"
        "ram_limit,container_id,customer_id,time,network_usage,pids"
    ]
    for i in range(2000):
        cpu = "garbage" if i % 97 == 0 else f"{(i * 37) % 1000 / 10:.1f}"
        lines.append(
            f"{i * 1.5:.1f},{cpu},node{i % 7},{(i * 13) % 500}.0,"
            f"app{i % 11},4096.0,c{i:05d},cust{i % 23},"
            f"{1700000000 + i * 60},{(i * 7) % 900}.0,{(i % 40) + 1}.0"
        )
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(_CSV_INGEST_PATH))
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, _CSV_INGEST_PATH)
    return _CSV_INGEST_PATH


def q_csv_ingest(spark, sf_dir):
    """S3 engine mode end-to-end: explicit-schema PERMISSIVE CSV scan,
    corrupt rows captured as rows (never silent type demotion —
    SURVEY §4.3.9; reference preprocess.py:31-71 relies on
    inferSchema demoting mixed columns to string). Output: per-node
    aggregate over CLEAN rows plus one '__corrupt__' row counting the
    quarantined records, so both branches of the split ride the hash
    gate. Round 12 folded the former `row_cap` entry in here (freeing
    a registry slot for `pca_project`): the S4/T4 input row cap — the
    reference applies it inside the SAME CSV source, preprocess.py:59-
    63 — caps the clean rows to the FIRST 1500 by container_id
    (deterministic order+limit, SURVEY §4.3.7) before aggregation, so
    a cap regression shifts every per-node count and breaks the hash.
    The sampling form stays pinned in tests/test_sources.py."""
    from clustering_spark.sources.csv_source import read_csv, split_corrupt

    path = _write_ingest_csv()
    clean, corrupt = split_corrupt(read_csv(spark, path))
    capped = clean.orderBy("container_id").limit(1500)
    per_node = capped.groupBy("node_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("cpu_percent"), ROUND).alias("avg_cpu"),
        F.round(F.sum("ram_usage"), ROUND_SUM).alias("ram_sum"),
    )
    bad = corrupt.agg(
        F.lit("__corrupt__").alias("node_id"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(None).cast("double").alias("avg_cpu"),
        F.lit(None).cast("double").alias("ram_sum"),
    )
    return per_node.unionByName(bad)


# =====================================================================
# §1.4 / P9: hierarchy rollup (pre-JSON exploded rows)
# =====================================================================


def q_hierarchy_rollup(spark, sf_dir):
    """P9: the D3 hierarchy built relationally (region -> nation ->
    aggregate), i.e. the exploded form of the nested doc — never by
    string-replacing JSON (SURVEY §4.3.6)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("name"),
            F.col("n_name").alias("child_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # nz(): acctbal sums can straddle zero (signed-zero hazard)
            nz(F.round(F.sum("c_acctbal"), ROUND_SUM)).alias("total_bal"),
        )
    )


# =====================================================================
# headline analytics (bench workload; TPC-H-shaped)
# =====================================================================


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the scan+agg throughput
    headline. Catalyst pushes the shipdate filter into the parquet
    scan; aggregation partial-aggregates map-side."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), ROUND_SUM).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), ROUND_SUM).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), ROUND_SUM
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                ROUND_SUM,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), ROUND).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), ROUND).alias("avg_price"),
            F.round(F.avg("l_discount"), ROUND).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    """Join-heavy headline: fact (lineitem⋈orders) co-partitioned on
    the orderkey, then the customer dim — customer grows linearly with
    SF, so it gets NO broadcast hint (a forced broadcast OOMs executors
    at 100×; AQE picks broadcast only while it actually fits). Nation
    (25 rows, constant) is safely broadcast."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), ROUND_SUM
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_windowed_events(spark, sf_dir):
    """Batch event-time windowing, both shapes in one query (analog of
    the cron windows, SURVEY §2.8/§7.6): TUMBLING 1-hour counts and
    SLIDING 1 h / 15 min counts (each event in window/slide = 4
    overlapping windows), tagged by ``window_kind`` and unioned.
    (Merged from the former window_events + sliding_window_events
    registry entries; the streaming forms keep their own entries and
    still share these oracles.) Oracle: tumbling = epoch floor;
    sliding = explode each event into its 4 window starts via an
    unnested range."""
    e = load_events(spark, sf_dir)
    # ONE events scan for both window shapes: pre-aggregate to 15-min
    # buckets (the gcd of slide and width; exact integer µs DIV — no
    # float boundary drift), localCheckpoint the bucket frame (bounded:
    # #buckets × #types), then both windows are tiny rollups of it —
    # tumbling-1h = 4 aligned buckets, sliding-1h/15m = each bucket
    # feeds its 4 covering windows. Without the checkpoint each union
    # branch re-scans the fact table (verified: 2 scans, 0 reuse).
    buckets = (
        e.groupBy(
            F.expr("ts_us DIV 900000000").alias("__bkt"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("value").alias("__v"))
        .localCheckpoint()
    )

    def rollup(frame, start_expr, kind):
        return (
            frame.groupBy(start_expr.alias("win_start_epoch"), "event_type")
            .agg(
                F.sum("__n").alias("n_events"),
                F.round(F.sum("__v"), ROUND_SUM).alias("total_value"),
            )
            .select(
                F.lit(kind).alias("window_kind"),
                "win_start_epoch",
                "event_type",
                "n_events",
                "total_value",
            )
        )

    tumb = rollup(buckets, F.expr("(__bkt DIV 4) * 3600"), "tumbling")
    slide = rollup(
        buckets.select(
            "*", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("__i")
        ),
        (F.col("__bkt") - F.col("__i")) * 900,
        "sliding",
    )
    return tumb.unionByName(slide)


# process-lifetime cache of staged STREAM SOURCE directories (sentinel
# copies, multi-file rewrites): input staging is a pure function of the
# static source table, so re-staging per call only adds scaffolding
# cost to every repeat run. Streaming state (checkpoints, sinks, memory
# tables) is NEVER cached — each run gets fresh ones.
_STREAM_STAGING_CACHE: dict[tuple, str] = {}


class _stream_state_partitions:
    """Scale-ADAPTIVE state-store partition count for the bounded
    stream drains (guide §2: derive partitioning from input size, never
    a constant tuned to one box). Structured Streaming pins
    ``spark.sql.shuffle.partitions`` into the checkpoint's offset log at
    query start and keeps it for the stream's lifetime, so the value
    must be set BEFORE ``.start()`` — this context manager sets
    ``clamp(ceil(source_bytes / target), 1, defaultParallelism)`` and
    restores the session default afterwards (batch plans built after
    the drain are unaffected). On a 100 TB events directory the clamp
    lands at full cluster parallelism; on a few-MB replay it stops a
    2-task stream from paying 32 state-store instances per micro-batch
    (measured ~2x the whole drain at local[32]). ``target`` defaults to
    64 MB per state partition, overridable via
    SPARK_GRAFT_STREAM_PART_BYTES.

    CONCURRENCY CONTRACT (single batch-planner while scoped): the
    override mutates the session-global ``spark.sql.shuffle.partitions``
    — any BATCH query planned on another thread inside this scope would
    silently inherit the streaming value. Every call site in this
    registry satisfies the contract: registry entries execute
    sequentially (driver gate, bench, sweep), and the one concurrent
    construct — q_stream_window_events' 3-drain pool — runs entirely
    INSIDE one scope, with streams only (each pins the value into its
    own checkpoint at .start()). A future caller that plans batch work
    concurrently must move the override to a per-query mechanism first.
    Pinned by tests/test_streaming.py (clamp/restore + non-local
    fallback)."""

    def __init__(self, spark, src_path: str):
        import os

        self.spark = spark
        target = int(
            os.environ.get("SPARK_GRAFT_STREAM_PART_BYTES", str(64 << 20))
        )
        nbytes = 0
        if os.path.isdir(src_path):
            for root, _dirs, files in os.walk(src_path):
                nbytes += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(src_path):
            nbytes = os.path.getsize(src_path)
        par = max(1, spark.sparkContext.defaultParallelism)
        # 0 bytes means the driver could not size the source (non-local
        # URI, missing path): fall back to FULL parallelism — the same
        # contract as load_spread. Without this, an hdfs:// events
        # directory at any scale would pin ONE state-store partition
        # into the checkpoint (found by the round-17 contract test).
        self.n = par if nbytes == 0 else max(1, min(par, -(-nbytes // target)))

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _as_stream_dir(path: str) -> str:
    """File-stream sources require a DIRECTORY; the driver's testdata
    tables are single parquet files. Symlink the file into a temp dir
    (local-FS only — a real deployment streams a real directory)."""
    import os
    import tempfile

    if os.path.isdir(path):
        return path
    d = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
    return d


def _stream_window_events_memory(spark, sf_dir):
    """§2.8: the STREAMING form of ``window_events`` — file-source
    readStream over the same events parquet, watermarked tumbling
    windows, drained with availableNow into a memory sink. Complete
    mode keeps every window, and a static directory has no late data,
    so the drained table must EXACTLY equal the batch/oracle result —
    streaming correctness rides the same hash-checked gate."""
    import tempfile
    import uuid

    from clustering_spark.streaming.events_stream import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    ev = _events_stream(spark, sf_dir)
    agg = windowed_event_counts(
        ev, window="1 hour", watermark="2 hours", ts_col="ts_utc"
    )
    name = "stream_win_" + uuid.uuid4().hex[:8]
    run_stream_to_memory(agg, name, tempfile.mkdtemp(prefix="ckpt_swin_"))
    return spark.table(name)


def q_stream_sliding_windows(spark, sf_dir):
    """§2.8: SLIDING event-time windows (1 h window, 15 min slide) on
    the events stream — same incremental operator as the tumbling form,
    but each event updates window/slide = 4 overlapping windows of
    state. Over a static directory the drained complete-mode table must
    equal the batch ``sliding_window_events`` result, so it shares that
    query's exploded-range DuckDB oracle."""
    import tempfile
    import uuid

    from clustering_spark.streaming.events_stream import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    ev = _events_stream(spark, sf_dir)
    agg = windowed_event_counts(
        ev,
        window="1 hour",
        watermark="2 hours",
        ts_col="ts_utc",
        slide="15 minutes",
    ).withColumnRenamed("hour_epoch", "win_start_epoch")
    name = "stream_slide_" + uuid.uuid4().hex[:8]
    run_stream_to_memory(agg, name, tempfile.mkdtemp(prefix="ckpt_sslide_"))
    return spark.table(name)


def q_stream_sessions(spark, sf_dir):
    """§2.8: gap-based session windows (30 min) per user over the
    events stream — Spark's built-in stateful session_window operator,
    drained with availableNow. Oracle: gaps-and-islands SQL (lag +
    running break count) reproducing session_window's semantics
    exactly (end = last event + gap)."""
    import tempfile
    import uuid

    from clustering_spark.streaming.events_stream import (
        run_stream_to_memory,
        session_event_stats,
    )

    ev = _events_stream(spark, sf_dir)
    sess = session_event_stats(
        ev, gap="30 minutes", watermark="4 hours", ts_col="ts_utc"
    )
    name = "stream_sess_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        run_stream_to_memory(sess, name, tempfile.mkdtemp(prefix="ckpt_sess_"))
    return spark.table(name)


def _stream_window_events_parquet(spark, sf_dir):
    """§2.8: the DURABLE-SINK form of ``stream_window_events`` —
    watermarked tumbling windows drained through the append-mode
    parquet file sink (exactly-once via the sink's _spark_metadata
    transaction log), then read back from disk. Append mode only emits
    a window once the watermark passes its end, so a bounded replay
    would silently withhold the last <watermark> hours of windows; a
    SENTINEL event 20 h past the real data advances the watermark so
    every real window finalizes (Spark then runs a no-data batch that
    flushes them — SPARK-24156), and the sentinel's own window — still
    inside the final watermark — is never emitted. The read-back parquet
    must therefore EXACTLY equal the batch/oracle result: the durable
    path rides the same hash-checked gate as the memory-sink form."""
    import os
    import tempfile
    import uuid

    from clustering_spark.streaming.events_stream import (
        run_stream_to_parquet,
        windowed_event_counts,
    )

    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    # the sentinel-staged source dir is INPUT STAGING, a pure function
    # of the (static) source table — reuse it across calls in the same
    # process so repeat runs (bench's 5x, the multi-mode fold) measure
    # the stream, not the scaffolding re-write. Checkpoint/output dirs
    # below stay fresh per run: streaming STATE is never reused.
    cache_key = ("sentinel_src", sf_dir)
    src_dir = _STREAM_STAGING_CACHE.get(cache_key)
    if src_dir is None:
        batch = spark.read.parquet(path)
        # Sentinel is written in the SOURCE's own ts encoding (derived
        # from the batch schema, same as _events_stream) so it survives
        # the generator flipping between ns-as-long and timestamp[us].
        max_us = int(
            _with_ts_utc(batch).agg(F.max("ts_us").alias("m")).collect()[0]["m"]
        )
        sent_us = max_us + 20 * 3600 * 1_000_000  # +20 h, in µs
        ts_type = dict(batch.dtypes)["ts"]
        if ts_type == "bigint":
            ts_expr = F.lit(sent_us * 1000).cast("long")  # legacy ns-as-long
        else:
            ts_expr = F.timestamp_micros(F.lit(sent_us)).cast(
                batch.schema["ts"].dataType
            )
        sent_exprs = {
            "event_id": F.lit(-1).cast("long"),
            "user_id": F.lit(-1).cast("long"),
            "event_type": F.lit("__sentinel__"),
            "ts": ts_expr,
            "value": F.lit(0.0),
        }
        sentinel = spark.range(1).select(
            *[
                sent_exprs.get(f.name, F.lit(None).cast(f.dataType)).alias(
                    f.name
                )
                for f in batch.schema.fields
            ]
        )
        src_dir = _as_stream_dir(path)
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, "zz_sentinel.parquet")
        )
        _STREAM_STAGING_CACHE[cache_key] = src_dir
    ev = _events_stream(spark, sf_dir, src_dir=src_dir)
    agg = windowed_event_counts(
        ev, window="1 hour", watermark="2 hours", ts_col="ts_utc"
    )
    out_dir = tempfile.mkdtemp(prefix="sink_swin_" + uuid.uuid4().hex[:8])
    run_stream_to_parquet(agg, out_dir, tempfile.mkdtemp(prefix="ckpt_swinp_"))
    # read back with the EXPLICIT sink schema (the stream just wrote
    # agg's schema verbatim): schema inference re-reads parquet footers
    # in a driver-side job per run (~80 ms measured) — pure scaffolding
    # the drain's timed region does not need. File listing still goes
    # through the sink's _spark_metadata transaction log either way, so
    # exactly-once read-back semantics are unchanged.
    return (
        spark.read.schema(agg.schema)
        .parquet(out_dir)
        .filter(F.col("event_type") != "__sentinel__")
    )


def q_stream_stateful_user_stats(spark, sf_dir):
    """§2.8: the custom stateful operator (``applyInPandasWithState``)
    — per-user running totals with event-time-timeout eviction — over
    the events stream, drained in update mode. Latest-wins per user
    (T3) reduces the per-batch emissions to final per-user totals.
    ORACLE-GATED (SQL_STATEFUL_USER_STATS): the intermediate state
    machine is not SQL-expressible, but the latest-wins drain reduces
    its output to final per-user totals, which ARE — so this entry
    lives in the oracle-gated section of QUERIES and must stay there
    (the registry pins oracle-gated entries before rows-only ones).
    Streaming-only invariants (timeout finalization, state eviction)
    are covered in tests/test_streaming.py."""
    import tempfile
    import uuid

    from pyspark.sql import Window as W

    from clustering_spark.streaming.events_stream import (
        run_stream_to_memory,
        stateful_user_stats,
    )

    ev = _events_stream(spark, sf_dir)
    stats = stateful_user_stats(ev, ts_col="ts_utc", watermark="2 hours")
    name = "stream_state_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        run_stream_to_memory(
            stats,
            name,
            tempfile.mkdtemp(prefix="ckpt_state_"),
            output_mode="update",
        )
    w = W.partitionBy("user_id").orderBy(
        F.col("n_events").desc(), F.col("closed").desc()
    )
    return (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.unix_timestamp("last_seen").alias("last_seen_epoch"),
        )
    )


def _stream_window_events_incremental(spark, sf_dir):
    """§2.8: the MULTI-BATCH form of ``stream_window_events`` — the
    events table is re-written as 2 files and streamed with
    maxFilesPerTrigger=1, so the tumbling-window state is built
    incrementally across micro-batches (checkpoint-tracked file
    source) instead of one availableNow gulp. The drained complete-mode
    table must STILL exactly equal the batch oracle: incremental state
    accumulation is what Structured Streaming guarantees, and this
    query puts that guarantee on the hash gate.

    The re-write is HARNESS SCAFFOLDING only — the driver's testdata is
    one file, and a file stream needs >1 file to form >1 micro-batch.
    Production never copies the fact table: a real events directory is
    already many files and streams incrementally as-is."""
    import tempfile
    import uuid

    from clustering_spark.streaming.events_stream import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    # input staging (see the sentinel cache above): the 2-file rewrite
    # is a pure function of the static source — reuse per process so
    # repeat runs measure incremental state accumulation, not the
    # rewrite; checkpoints stay fresh per run. The batch read exists
    # only for the rewrite, so it lives inside the cache miss; the
    # schema comes from the memoized derivation (_events_schema).
    cache_key = ("inc_src", sf_dir)
    src_dir = _STREAM_STAGING_CACHE.get(cache_key)
    if src_dir is None:
        src_dir = tempfile.mkdtemp(prefix="stream_inc_")
        # 2 deterministic files (hash-partitioned by event_id); file
        # order doesn't matter — windows are event-time, not arrival
        spark.read.parquet(path).repartition(2, "event_id").write.mode(
            "overwrite"
        ).parquet(src_dir)
        _STREAM_STAGING_CACHE[cache_key] = src_dir
    ev = (
        spark.readStream.schema(_events_schema(spark, path))
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = windowed_event_counts(
        _with_ts_utc(ev), window="1 hour", watermark="2 hours", ts_col="ts_utc"
    )
    name = "stream_inc_" + uuid.uuid4().hex[:8]
    run_stream_to_memory(agg, name, tempfile.mkdtemp(prefix="ckpt_sinc_"))
    return spark.table(name)


def q_stream_window_events(spark, sf_dir):
    """§2.8: the watermarked tumbling-window stream in ALL THREE drain
    modes as ONE hash-gated entry — rows tagged by ``mode``:

    - ``memory``: availableNow drain into a memory sink;
    - ``parquet``: append-mode durable file sink (exactly-once via the
      sink's _spark_metadata log) read back from disk, with the
      sentinel-advanced watermark so every real window finalizes;
    - ``incremental``: maxFilesPerTrigger=1 over a 2-file split, so
      window state accumulates across micro-batches.

    Over a static directory each drain must EXACTLY equal the batch
    result, so the oracle is the batch window SQL replicated per mode
    tag (SQL_WINDOW_EVENTS_MODES). Folding the three registry entries
    (round-8 advice item 2) frees driver-gate slots for strip_html and
    semantic_dedup_keep without weakening any check — all three modes
    stay on the hash gate.

    The three drains are INDEPENDENT streaming queries (disjoint
    checkpoints, sinks, and memory tables) over the same static
    source, so they run CONCURRENTLY from a small thread pool (guide
    §2.6: overlap independent jobs): each drain's micro-batch tail
    leaves most cores idle, and the session's FAIR pool lets the next
    drain's tasks back-fill them — wall-clock becomes ~max of the
    three instead of their sum. Results are unchanged: concurrency is
    between queries, never within one query's state."""
    from concurrent.futures import ThreadPoolExecutor

    # all three streams START inside this scope, so each pins the
    # input-derived state partition count into its own checkpoint
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_mem = pool.submit(_stream_window_events_memory, spark, sf_dir)
            f_pq = pool.submit(_stream_window_events_parquet, spark, sf_dir)
            f_inc = pool.submit(
                _stream_window_events_incremental, spark, sf_dir
            )
            mem, pq, inc = f_mem.result(), f_pq.result(), f_inc.result()
    return (
        mem.withColumn("mode", F.lit("memory"))
        .unionByName(pq.withColumn("mode", F.lit("parquet")))
        .unionByName(inc.withColumn("mode", F.lit("incremental")))
    )


def q_stream_dedup_replay(spark, sf_dir):
    """§2.8: ``dropDuplicatesWithinWatermark`` — the at-least-once →
    exactly-once repair. The events file is deliberately staged TWICE
    in the stream directory (a duplicated replay, the failure mode of
    at-least-once upstream delivery); keyed dedup state on event_id,
    bounded by the watermark, must collapse the replay so the drained
    per-type totals hash-match the SINGLE-copy batch oracle. State is
    O(events inside the watermark), not O(stream): expired keys are
    evicted, which is why this beats plain dropDuplicates at scale."""
    import os
    import tempfile
    import uuid

    from clustering_spark.streaming.events_stream import run_stream_to_memory

    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = _events_schema(spark, path)
    src_dir = tempfile.mkdtemp(prefix="stream_dup_")
    for copy in ("a", "b"):  # the duplicated replay
        os.symlink(
            os.path.abspath(path), os.path.join(src_dir, f"{copy}_events.parquet")
        )
    # recursiveFileLookup: if the generator ships events.parquet as a
    # DIRECTORY, each symlink above is a directory and a non-recursive
    # listing would stream zero files (same pattern as _events_stream)
    ev = _with_ts_utc(
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    deduped = ev.withWatermark("ts_utc", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), ROUND_SUM).alias("total_value"),
    )
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark, src_dir):
        run_stream_to_memory(agg, name, tempfile.mkdtemp(prefix="ckpt_sdup_"))
    return spark.table(name)


def q_stream_distinct_event_types(spark, sf_dir):
    """§2.8 extension: streaming DISTINCT via keyed-state aggregation.
    count(DISTINCT) is not a supported streaming aggregate and
    dropDuplicates→agg would be a chained-stateful-operator plan, so
    the (user, type) groupBy IS the distinct state — bounded at
    O(users × event types) with no watermark needed — and the drained
    complete-mode table is collapsed to per-user distinct-type counts
    as a batch projection."""
    import tempfile
    import uuid

    from clustering_spark.streaming.events_stream import run_stream_to_memory

    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    name = "stream_dtypes_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        run_stream_to_memory(agg, name, tempfile.mkdtemp(prefix="ckpt_sdt_"))
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("n").alias("n_events"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_user_event_counts(spark, sf_dir):
    """Pivot: per-user event counts spread into one column per event
    type, with a FIXED value set. Implemented as conditional aggregates
    (count_if per type) — ONE shuffle, map-side combined — rather than
    ``df.groupBy().pivot(col, values)``: Spark plans pivot as a
    (user, type) aggregate plus a second pivotfirst aggregate (2
    exchanges, measured), and without explicit values it adds a whole
    distinct-values scan. ``.pivot()`` stays the right call only when
    the column set is dynamic; a fixed schema is the 100 TB case."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        *[
            F.count_if(F.col("event_type") == t).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ]
    )


def q_approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ cardinality (approx_count_distinct, rsd=0.01) —
    THE 100 TB distinct-count tool: constant memory per group vs a
    distinct shuffle whose state is the key set itself.

    HASH-GATED since round 13: the estimate itself is implementation-
    specific (no oracle can replay Spark's HLL++ registers), but for
    FIXED data the estimate is deterministic, so its tolerance verdict
    is too — emit (event_type, exact_users, hll_within_5pct) where the
    boolean compares the estimate to the exact count computed in the
    same aggregate. The oracle replays the exact counts and the
    literal 1: a broken sketch (merge bug, register-width regression,
    rsd ignored) flips the hash. The 5% band = 5x the requested rsd,
    the same pin tests/test_registry.py has carried since round 6."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).cast("int").alias("hll_within_5pct"),
    )


def q_salted_join_revenue(spark, sf_dir):
    """Skew-mitigated equi-join (operators/skew.py): lineitem salted
    over 8 buckets against the replicated supplier dim, then revenue
    per supplier nation. Salting is semantics-preserving — the oracle
    is the PLAIN join — so the driver's hash gate proves the physical
    rewrite changes nothing. The tool for hot keys AQE can't split
    (one build key > task memory, or forced co-partitioning)."""
    from clustering_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice", "l_discount"
    )
    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    j = salted_join(li, sup, on=["suppkey"], salt_buckets=8)
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            ROUND_SUM,
        ).alias("revenue"),
    )


def q_json_props_stats(spark, sf_dir):
    """Semi-structured extraction: the events ``props`` JSON column
    parsed with a SCHEMA'D from_json (JVM-side, codegen — never a
    Python json.loads UDF) and aggregated per event type. At scale the
    parse cost is the scan's: one pass, no shuffle beyond the tiny
    per-type agg."""
    e = load(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), ROUND).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# =====================================================================
# clustering pipeline (non-SQL-expressible; rows-only checks)
# =====================================================================


def _flagship(spark, sf_dir, algorithm):
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    df = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    return cluster_segments(
        df,
        macro_col="n_name",
        micro_col="c_mktsegment",
        x_col="c_acctbal",
        y_col="c_custkey",
        algorithm=algorithm,
        config=PipelineConfig(dont_scale=[]),
        k=3,
    )


def q_cluster_kmeans(spark, sf_dir):
    """M1/M4/M5 + full metrics block: the flagship segment→scale→
    KMeans→summaries pipeline (cluster.py:74-173 re-expressed).
    Registered via q_cluster_fit; kept standalone for plan pins
    (tests/test_plans.py) and the driver entry()."""
    return _flagship(spark, sf_dir, "KMeans")


def q_cluster_fit(spark, sf_dir):
    """M1+M2+M3 (+M4/M5 + the metrics block) in one registry entry:
    the flagship pipeline under all three reference algorithms —
    KMeans, BisectingKMeans (one hierarchy per seed), GaussianMixture
    (centers = per-cluster empirical means, reference semantics
    metrics.py:32-54) — in ONE shuffle: each Arrow task already holds
    its segment matrix, so all three fits run inside the same task
    (SegmentedClusterer.fit_summarize(algorithms=...)), and the fact
    table is scanned + shuffled once instead of three times. Output
    identical to the union of the three single-algorithm runs (same
    seeds; d3 size normalized per algorithm) — pinned by
    tests/test_clustering_invariants.py. Rows-only (iterative ML).
    (Merged from the former cluster_kmeans / cluster_bisecting /
    cluster_gmm registry entries.)"""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    df = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    return cluster_segments(
        df,
        macro_col="n_name",
        micro_col="c_mktsegment",
        x_col="c_acctbal",
        y_col="c_custkey",
        config=PipelineConfig(dont_scale=[]),
        k=3,
        algorithms=["KMeans", "BisectingKMeans", "GaussianMixture"],
    )


def q_result_docs(spark, sf_dir):
    """S7 + S8, one registry entry tagged by ``doc_kind`` (merged from
    the former result_doc_original / result_doc_d3 entries):
    - ``original``: the nested result document (collect_list(struct)
      x2 + to_json with reference key names);
    - ``d3``: the D3 circle-packing document with per-cluster size
      normalized into [1, 50] — relational build, never JSON
      string-replace.
    Rows-only (one JSON doc per grid cell per kind).

    The flagship summaries frame (model-sized: #segments × k rows) is
    localCheckpointed so the clustering pipeline — including every
    model fit — runs ONCE for both document kinds; without it each
    branch re-plans the whole fit (verified: 8 scans → 0 in the final
    plan, fits halved)."""
    from clustering_spark.operators.sinks import d3_documents, original_documents

    res = _flagship(spark, sf_dir, "KMeans").localCheckpoint()
    orig = original_documents(res, "n_name", "c_mktsegment", run_date="r")
    d3 = d3_documents(res, "n_name", "c_mktsegment", run_date="r")
    return orig.select(F.lit("original").alias("doc_kind"), "*").unionByName(
        d3.select(F.lit("d3").alias("doc_kind"), "*")
    )


def _optimal_k(spark, sf_dir, algorithm, algorithms=None):
    """M5-M9: the optimal-k tuner — k sweep (2..10) x seed search with
    elbow + top-3-silhouette decision (GMM: plain argmax-silhouette,
    optimal_k.py:188-190), per segment, in ONE applyInPandas shuffle
    (vs the reference's 27 MLlib fits per segment; optimal_k.py).
    ``algorithms`` sweeps several algorithms inside that same shuffle.
    Rows-only (iterative ML)."""
    from clustering_spark.functions.scaling import scale_segments, scaled_name
    from clustering_spark.operators.segmentation import drop_null_metrics
    from clustering_spark.operators.tuner import optimal_k_sweep

    cfg = PipelineConfig(dont_scale=[])
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    df = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    metric_cols = ["c_acctbal", "c_custkey"]
    seg_cols = ["n_name", "c_mktsegment"]
    clean = drop_null_metrics(df, metric_cols)
    scaled = scale_segments(clean, metric_cols, seg_cols, cfg.dont_scale)
    feats = [scaled_name(c, metric_cols) for c in metric_cols]
    return optimal_k_sweep(
        scaled.select(*seg_cols, *feats),
        seg_cols,
        feats,
        algorithm=algorithm,
        seeds=tuple(cfg.seeds(cfg.iter_num)),
        start_k=cfg.start_k,
        stop_k=cfg.stop_k,
        silhouette_threshold=cfg.silhouette_threshold,
        algorithms=algorithms,
    )


def q_optimal_k(spark, sf_dir):
    """M5-M9 under ALL THREE algorithms (reference optimal_k.py:382-389
    tunes all three), one registry entry tagged by ``algorithm``:
    KMeans and BisectingKMeans use elbow + top-3-silhouette; for
    GaussianMixture the reference skips computeCost and takes
    argmax-silhouette (optimal_k.py:188-190). All three sweeps run
    inside ONE applyInPandas shuffle (optimal_k_sweep(algorithms=...))
    — the scaled segment frame crosses the wire once, not three times.
    Rows-only (iterative ML); decision-rule math is pinned in
    tests/test_tuner.py. (Merged from the former optimal_k /
    optimal_k_bisecting / optimal_k_gmm registry entries.)"""
    return _optimal_k(
        spark,
        sf_dir,
        "KMeans",
        algorithms=["KMeans", "BisectingKMeans", "GaussianMixture"],
    )


def q_tune_k_planted(spark, sf_dir):
    """M5-M9 ON THE HASH GATE (round 13): the k sweep + elbow +
    top-3-silhouette decision (operators/tuner.py:45,62,105) on a
    deterministic-by-construction corpus — the ``cluster_assign``
    precedent (q_cluster_assign above) applied to the TUNER. Three
    segments carved from ``c_custkey % 3`` carry planted k = 3/4/5
    blobs on a 10-spaced grid with ±0.1 hash jitter
    (separation/width = 50): any correct sweep+decision MUST recover
    the planted k under every algorithm — silhouette at the planted k
    is ~1 and provably below the 0.9 promotion threshold elsewhere
    (a merged pair at k-1 caps it; a split blob at k+1 halves it) —
    so ``chosen_k`` is pure SQL over the construction rule, for all
    THREE algorithms swept inside ONE applyInPandas shuffle.
    Verified 27/27 (3 sf x 3 segments x 3 algorithms) at
    sf0.001/0.01/0.1 before gating. ``optimal_k`` stays the
    production-shaped rows-only twin on real (non-plantable) data.
    Same bounded-construction posture as cluster_assign: the
    pushed-down ``c_custkey <= 60000`` cap keeps the Arrow tasks
    ~1 MB at any driver scale."""
    from clustering_spark.operators.tuner import optimal_k_sweep

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 60_000)
    pts = c.selectExpr(
        "concat('g', c_custkey % 3 + 3) AS seg",
        "((c_custkey DIV 3) % (c_custkey % 3 + 3)) % 3 * 10.0 "
        "+ ((c_custkey * 2654435761) % 1000 / 1000.0 - 0.5) * 0.2 AS fx",
        "((c_custkey DIV 3) % (c_custkey % 3 + 3)) DIV 3 * 10.0 "
        "+ ((c_custkey * 40503) % 1000 / 1000.0 - 0.5) * 0.2 AS fy",
    )
    swept = optimal_k_sweep(
        pts,
        ["seg"],
        ["fx", "fy"],
        seeds=(42, 43, 44),
        start_k=2,
        stop_k=8,
        algorithms=["KMeans", "BisectingKMeans", "GaussianMixture"],
    )
    # silhouette is fit-internal (not SQL-replayable) — the gated
    # surface is the DECISION, one row per (algorithm, segment)
    return swept.select(
        "algorithm", "seg", F.col("chosen_k").cast("long").alias("chosen_k")
    )


# =====================================================================
# beyond-reference: dedup / similarity / text analysis (SURVEY §7.6)
# =====================================================================


def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy (min-id survivor). The
    shuffle carries (hash, id) pairs only — never document bodies.

    Plain ``load``, not ``load_spread``: the md5 projection is
    whole-stage-codegen JVM work at ~ns/byte — there is no Python
    kernel to spread, and at real scale the parquet scan is already
    as parallel as the file layout allows. The round-robin Exchange
    was pure overhead (interleaved A/B at sf0.1/local[32]:
    min 0.59 s spread → 0.31 s unspread)."""
    d = load(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, ["text"], "doc_id")


def q_ngram_jaccard(spark, sf_dir):
    """Char-5-gram EXACT Jaccard near-dup pairs: prefix-filtered
    candidate generation (lossless — PPJoin-style rarity prefixes),
    exact verification on the full shingle sets."""
    d = load_spread(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=5, jaccard_threshold=0.5)


def q_hash_split_counts(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/sampling.py):
    membership is a pure function of md5(key), so splits are
    reproducible across runs/engines/cluster sizes — vs the reference's
    unseeded df.sample (SURVEY §4.3.7). The oracle replays the same md5
    hex-range rule verbatim."""
    from clustering_spark.operators.sampling import hash_split

    c = load(spark, sf_dir, "customer")
    split = hash_split(
        c, "c_custkey", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.groupBy("c_mktsegment", "split").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def q_asof_last_purchase(spark, sf_dir):
    """As-of join (operators/asof.py): every click event annotated with
    the user's latest prior-or-equal purchase value — ONE keyed window
    shuffle, no join. Oracle: DuckDB's native ASOF LEFT JOIN. The right
    side is pre-aggregated to unique (user, ts) so the tie rule is
    deterministic in both engines."""
    from clustering_spark.operators.asof import asof_join

    e = load_events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_utc"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_utc")
        .agg(F.round(F.max("value"), ROUND).alias("last_purchase_value"))
    )
    out = asof_join(clicks, purchases, ["user_id"], "ts_utc", ["last_purchase_value"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts_utc").alias("ts_us"),
        "last_purchase_value",
    )


def q_clicks_after_signup(spark, sf_dir):
    """Binned time-range join (operators/rangejoin.py): for every
    signup, the count of click events (any user) in the following
    hour. The bucket trick turns the naive O(n·m) BETWEEN cross join
    into an equi-join on a window-sized bucket id; the oracle IS the
    naive BETWEEN join."""
    from clustering_spark.operators.rangejoin import time_range_join

    e = load_events(spark, sf_dir)
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", F.unix_micros("ts_utc").alias("s_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.unix_micros("ts_utc").alias("c_ts")
    )
    pairs = time_range_join(
        signups, clicks, "s_ts", "c_ts", lower_us=0, upper_us=3_600_000_000
    )
    counts = pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_clicks_1h"))
    return signups.join(counts, on="event_id", how="left").select(
        "event_id", F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h")
    )


def q_pairdist(spark, sf_dir):
    """A8 + A9/J3 (both dead code in the reference: collect + O(n²)
    Python loops, metrics.py:57-110) in one query, tagged by ``scope``:

    - ``intra``: mean pairwise squared distance WITHIN each cluster —
      ONE moment aggregation via the algebraic identity
      sum_pairs ||xi-xj||² = 2n·sum||x||² - 2||sum x||²
      (seg_a = seg_b = the cluster);
    - ``inter``: mean pairwise squared distance BETWEEN cluster pairs —
      per-cluster moments + a k²-row cluster-pair join (model-sized,
      never point-sized).

    The oracle is DuckDB's naive self-join on both branches, which
    proves the moment identities on real data. Both scopes derive from
    the SAME per-cluster moments (n, Σx, Σx²), so the fact table is
    scanned and aggregated once (metrics.pairdist_stats). (Merged from
    the former intra_pairdist + inter_pairdist registry entries.)"""
    from clustering_spark.operators.metrics import pairdist_stats

    c = load(spark, sf_dir, "customer")
    out = pairdist_stats(c, ["c_mktsegment"], ["c_acctbal", "c_nationkey"])
    return out.select(
        "scope",
        F.col("c_mktsegment_a").alias("seg_a"),
        F.col("c_mktsegment_b").alias("seg_b"),
        F.round("mean_pair_dist2", ROUND_SUM).alias("mean_pair_dist2"),
    )


def q_neardup_components(spark, sf_dir):
    """Near-dup GROUPS, not just pairs: the exact ngram-Jaccard pairs
    are the edges of an undirected graph; alternating large-star/
    small-star rounds (operators/graph.py) find each doc's connected
    component (= min member id); docs in no pair are singletons. The
    classic LLM-corpus dedup stage: keep one doc per component."""
    from clustering_spark.operators.graph import (
        assign_components,
        connected_components,
    )

    d = load_spread(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", n=5, jaccard_threshold=0.5
    )
    comp = connected_components(pairs, "id_a", "id_b")
    out = assign_components(d.select("doc_id"), "doc_id", comp).select(
        "doc_id", F.col("component").cast("long").alias("component")
    )
    # kept = min-id survivor of its component: the rows a downstream
    # corpus build retains (graph.dedup_by_component's filter, inlined
    # so components AND the keep-set ride one gate entry)
    return out.withColumn(
        "kept", (F.col("doc_id") == F.col("component")).cast("int")
    )


def q_media_metadata(spark, sf_dir):
    """Multimodal metadata path (operators/multimodal), two stages in
    one gate entry:

    1. media_metadata — native byte-size + sha256 (the exact-binary
       dedup key) over text bytes standing in for a payload column;
    2. media_header_meta — the mixed-corpus header router (image/
       audio/video families in ONE mapInPandas scan) over a
       deterministic per-doc blob (synthetic_media_blob: FAKE image /
       WAV / MP4 / WEBP / AVI / GIF / garbage / MP3 / FLAC /
       Matroska-WebM keyed on doc_id % 10), whose header parameters
       are pure arithmetic in doc_id so the DuckDB oracle recomputes
       every field the router must recover without parsing a byte —
       the strip_html round-trip template pattern. The MP3 members
       alternate arithmetically between Xing-tagged and tagless, so
       BOTH the tag path and the full frame walk are hash-checked;
       the MKV members alternate DocType, so EBML string decode is
       too;
    3. image_dhash — the perceptual 64-bit dHash over the same blobs.
       Fam-0 images carry an arithmetic pixel pattern, so the oracle
       ENUMERATES the pixels in SQL and replays the exact 9x8
       area-mean + left>right bit packing; fam-5 (round 12) is a REAL
       single-frame GIF of the same doctrine — pixels drawn from the
       EXACT_LUMAS table so the decode->BT.601-luma path is
       integer-exact — which puts the LZW codec itself on the hash
       gate (Spark can only match by decoding the GIF). Cell sums are
       integer-valued doubles, hence bit-identical in both engines;
       the other families hash to NULL on both sides.

    The joins are doc_id-equi over the same scan; at gate scale AQE
    broadcasts them, and the real 100 TB surface is each stage alone."""
    import pandas as pd

    from clustering_spark.operators.multimodal import (
        image_dhash,
        media_header_meta,
        media_metadata,
        synthetic_media_blob,
    )

    # round 17: the round-16 2 KB bytes_per_task special case was
    # re-measured and REVERTED to the 32 KB default — it was calibrated
    # before the worker BLAS pin and the single blob build, which
    # together made each codec task ~10x cheaper, so the dense spread
    # now just multiplies task-setup floors (interleaved 3-arm A/B:
    # gate-scale min 1.34 s @ 2 KB -> 0.94 @ 8 KB ~= 0.91 @ 32 KB;
    # sf0.1 min 1.62 -> 1.25 @ 32 KB). Still clamps to full
    # parallelism on any real corpus.
    d = load_spread(spark, sf_dir, "documents")
    meta = media_metadata(
        d.select("doc_id", F.encode("text", "UTF-8").alias("media")),
        "media",
        "doc_id",
    ).select("doc_id", F.col("n_bytes").cast("long"), "content_sha256")

    def build(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": [
                        None if pd.isna(x) else synthetic_media_blob(int(x))
                        for x in pdf["doc_id"]
                    ],
                }
            )

    # materialize the blob table ONCE: both consumers below (the header
    # router and the dhash kernel) read it, and without the checkpoint
    # the synthetic_media_blob construction — which LZW-encodes a real
    # GIF per fam-5 row — re-executes per consumer branch (plan showed
    # build(doc_id) under BOTH BroadcastExchanges). Same slim-RDD
    # staging pattern as minhash/LSH; storage is (id, small blob) only.
    blobs = (
        d.select("doc_id")
        .mapInPandas(build, "doc_id long, blob binary")
        .localCheckpoint(eager=False)
    )
    hdr = media_header_meta(blobs, "blob", "doc_id").select(
        F.col("id").alias("doc_id"),
        "media_type",
        "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        "audio_duration_sec",
        F.col("n_tracks").cast("long").alias("n_tracks"),
        "video_duration_sec",
    )
    # the hash rides the GATE as a decimal STRING: a nullable int64
    # column pays a float64 round-trip in both engines' pandas bridges
    # (None + int infers float), and hashes whose set-bit span exceeds
    # the 53-bit mantissa then round DIFFERENTLY in Arrow vs DuckDB
    # (found on a real fam-5 value, doc 397 at sf0.001) — strings
    # compare exactly; production callers keep the long column
    dh = image_dhash(blobs, "blob", "doc_id").select(
        F.col("id").alias("doc_id"),
        F.col("dhash").cast("string").alias("dhash"),
    )
    return meta.join(hdr, "doc_id").join(dh, "doc_id")


# Oracle twin of synthetic_media_blob's arithmetic (family = doc_id
# % 10) — keep in lock-step with
# operators/multimodal.py:synthetic_media_blob.
# The dh CTE replays _dhash64 exactly on the TWO decodable-image
# families: fam 0's raw pixel formula (7x + 13y + d mod 256) and fam
# 5's REAL GIF, whose pixels index the EXACT_LUMAS table (gray levels
# with bit-exact BT.601 luma on equal channels — so Spark's
# decode_gif → RGB → luma path lands on the same integers). Enumerate
# pixels, bin with the same integer-division 9x8 edges, area-mean per
# cell (integer-valued doubles → order-independent sums), bit = left >
# right, weight 2^(r*8+c) with the top bit folded into BIGINT's sign.
# Spark can only match fam 5 by actually LZW-decoding the GIF: the
# codec is on the hash gate.


def q_text_quality(spark, sf_dir):
    """Quality-signal features per document (length/punct/digit/
    stopword ratios + composite score), Gopher-style repetition
    signals (duplicate-line / repeated-2-gram / top-token ratios,
    textnorm.repetition_signals), and PII match counts
    (textnorm.pii_counts) — pure native expressions, one scan."""
    d = load_spread(spark, sf_dir, "documents")
    d = textops.quality_features(d, "text")
    d = textnorm.repetition_signals(d, "text")
    d = textnorm.pii_counts(d, "text")
    return d.select(
        "doc_id",
        "n_tokens",
        "avg_token_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_score",
        "dup_line_ratio",
        "rep_2gram_ratio",
        "top_token_ratio",
        "n_pii_email",
        "n_pii_total",
    )


def q_quality_score(spark, sf_dir):
    """Learned quality filter scoring (operators/quality_model):
    the pinned linear model applied as ONE whole-stage-codegen
    projection — feature build, standardize, dot product all native,
    zero shuffle, the learn-tiny/apply-wide 100 TB pattern. The gate
    compares the raw LOGIT (deterministic +,*,/ only; the sigmoid's
    exp() differs by ulps across engines) rounded to 6dp, plus the
    keep decision at the 0.5-probability (logit >= 0) threshold."""
    from clustering_spark.operators import quality_model

    d = load_spread(spark, sf_dir, "documents")
    scored = quality_model.score_quality_linear(
        d,
        "text",
        PINNED_QUALITY_MODEL,
        out_col="__prob",
        logit_col="quality_logit",
        feature_decimals=6,
    )
    return scored.select(
        "doc_id",
        nz(F.round(F.col("quality_logit"), 6)).alias("quality_logit"),
        (F.col("quality_logit") >= 0).cast("int").alias("keep"),
    )


def q_text_profile(spark, sf_dir):
    """Per-document text profile in ONE scan, no joins (merged from
    the former lang_id + token_counts + fingerprint registry entries —
    all three were independent projections of the same documents
    scan):
    - heuristic function-word language ID (argmax over per-language
      token-hit ratios; deterministic tiebreak, 'und' when all zero);
    - whitespace + BPE-ish (regex-piece) token counts;
    - normalized-content fingerprint (md5 of lower-cased,
      whitespace-collapsed text) — the dedup key for formatting-only
      edits.
    All native expressions, JVM-side, whole-stage codegen."""
    d = load_spread(spark, sf_dir, "documents")
    prof = textops.fingerprint(textops.lang_id(d, "text"), "text")
    return prof.select(
        "doc_id",
        "lang_pred",
        "lang_score",
        textops.token_count("text").alias("n_ws_tokens"),
        textops.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        "fingerprint",
    )


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking (textops.chunk_documents): 200-char
    chunks, 150-char stride, hashes not text on the wire. Native
    explode — no shuffle, no UDF."""
    from clustering_spark.operators.textops import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), "doc_id", "text", size=200, stride=150
    )


def q_contamination_check(spark, sf_dir):
    """Benchmark-contamination sweep (dedup.contamination_pairs): the
    documents table is hash-split 90/10 into pseudo train/eval, then
    (test, train) pairs sharing >= 3 distinct word 3-grams are
    flagged — the n-gram-overlap decontamination rule. The small test
    side is broadcast; the train corpus is scanned once."""
    from clustering_spark.operators.dedup import contamination_pairs
    from clustering_spark.operators.sampling import hash_split

    # load_spread, not load: the shingle explode is CPU-bound and the
    # single-file scan would otherwise serialize it onto one core
    # (measured 6.9 s -> 1.7 s at sf0.1)
    docs = hash_split(
        load_spread(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "test": 0.1},
        salt="contam",
    )
    return contamination_pairs(
        docs.filter(F.col("split") == "train"),
        docs.filter(F.col("split") == "test"),
        "doc_id",
        "text",
        shingle_words=3,
        min_shared=3,
    )


def q_knn_join(spark, sf_dir):
    """k-NN join (3 query vectors broadcast × corpus, per-query top-5)
    UNION the single-query brute-force cosine top-k tagged query_id=-1
    — round 12 folded the former `cosine_topk` entry in here to free a
    registry slot for `warc_crawl` without dropping either operator
    from the hash gate: both similarity entry points (the bounded
    multi-query Arrow kernel and the scan-shaped TakeOrdered single
    query) stay oracle-checked in one entry."""
    from pyspark.sql import Window

    e = load_spread(spark, sf_dir, "embeddings", bytes_per_task=VEC_SPREAD_BYTES)
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    knn = similarity.knn_join(e, q, "embedding", "vec_id", "qvec", "qid", k=5)
    topk = similarity.cosine_topk(e, "embedding", QUERY_VEC, "vec_id", k=10)
    topk_tagged = topk.select(
        F.lit(-1).cast("long").alias("query_id"),
        F.col("vec_id").alias("corpus_id"),
        "cosine",
        F.row_number()
        .over(
            Window.orderBy(F.col("cosine").desc_nulls_last(), F.col("vec_id"))
        )
        .alias("rank"),
    )
    return knn.unionByName(topk_tagged)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, EXACT all-pairs variant
    (explicit lsh_planes=0) — the oracle path; the scale path is
    ``embedding_neardup_lsh`` below."""
    e = load_spread(spark, sf_dir, "embeddings", bytes_per_task=VEC_SPREAD_BYTES)
    return dedup.embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.4, lsh_planes=0
    )


def q_embedding_neardup_lsh(spark, sf_dir):
    """Banded hyperplane-LSH near-dup pairs (the 100 TB path), on the
    HASH GATE via planted construction (the `cluster_assign` pattern):
    every embedding is rebuilt arithmetically from vec_id —
    group ``gid = (vec_id div 2) mod 4096`` maps to the weighted
    two-hot vector ``2·e_i + e_j`` with ``i = gid mod 64``,
    ``j = gid div 64``. Vectors are IDENTICAL within a group (cosine
    1: sign bits equal under ANY hyperplane set, so every band
    collides — LSH recall is exactly 1, hash-function-independent) and
    provably below the 0.9 threshold across groups (max cross cosine
    is 6/(3√5) ≈ 0.894 for ``3e_i`` vs ``2e_i + e_j``), so the exact
    verify makes the emitted pair set EQUAL the SQL-expressible
    same-gid pair set. The probabilistic-recall regime (0.5 ≤ cos < 1
    positives) stays pinned in tests/test_dedup.py where the gate
    can't reach."""
    e = load_spread(spark, sf_dir, "embeddings", bytes_per_task=VEC_SPREAD_BYTES)
    i = F.expr("((vec_id div 2) % 4096) % 64")  # exact long arithmetic
    j = F.expr("((vec_id div 2) % 4096) div 64")
    planted = e.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda k: (
                F.when(k == i, F.lit(2.0)).otherwise(F.lit(0.0))
                + F.when(k == j, F.lit(1.0)).otherwise(F.lit(0.0))
            ),
        ).alias("embedding"),
    )
    return dedup.embedding_neardup_pairs(
        planted, "vec_id", "embedding", threshold=0.9,
        lsh_planes=64, lsh_bands=8, dim=64,
    )


def _planted_group_text(id_col: str, group: int, n_tokens: int = 12):
    """Deterministic text whose WORD-SHINGLE set is equal within an id
    group and disjoint across groups: token t of group g is ``g{g}w{t}``
    — every token carries the group id, so any two different groups
    share zero 3-word shingles (Jaccard 0 / far-apart SimHash), while
    same-group texts are byte-identical."""
    gid = F.expr(f"{id_col} div {group}")
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(n_tokens)),
        lambda t: F.concat(
            F.lit("g"), gid.cast("string"), F.lit("w"), t.cast("string")
        ),
    )
    return F.array_join(toks, " ")


def q_minhash_neardup(spark, sf_dir):
    """MinHash+LSH banded near-dup pairs, on the HASH GATE via planted
    construction: text is rebuilt arithmetically from doc_id (groups
    of 4 consecutive ids share byte-identical text; different groups
    share zero shingles — see _planted_group_text). At
    jaccard_threshold=1.0 the exact verify keeps ONLY equal shingle
    sets (J ≥ 1 ⟺ set equality), and identical texts produce identical
    signatures that collide in every band regardless of the hash
    function — so the emitted pair set provably equals the same-group
    pair set, with recall 1 and precision 1. xxhash64's actual values
    never reach the output, which is what makes the entry
    oracle-expressible; the probabilistic 0.5-threshold regime stays
    pinned in tests/test_dedup.py."""
    d = load_spread(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id", _planted_group_text("doc_id", 4).alias("text")
    )
    return dedup.minhash_lsh_pairs(
        planted, "doc_id", "text",
        num_hashes=64, bands=16, jaccard_threshold=1.0,
    )


def q_simhash_neardup(spark, sf_dir):
    """SimHash pigeonhole-chunk near-dup pairs, on the HASH GATE via
    the same planted construction (groups of 5 here, so the two text
    gates don't share a pair set): at max_hamming=0 the verify keeps
    only EQUAL 64-bit signatures, identical texts always collide (and
    at hamming 0 the single 64-bit chunk join is exhaustive — the
    pigeonhole argument is exact, not probabilistic), and distinct
    token sets colliding on all 64 bits was ruled out by running the
    deterministic construction at sf0.01 and sf0.1. Emitted pairs =
    same-group pairs. Wide-radius recall stays in tests/."""
    d = load_spread(
        spark, sf_dir, "documents", bytes_per_task=SIG_SPREAD_BYTES
    )
    planted = d.select(
        "doc_id", _planted_group_text("doc_id", 5).alias("text")
    )
    out = dedup.simhash_pairs(planted, "doc_id", "text", max_hamming=0)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


def q_ivf_topk(spark, sf_dir):
    """IVF-ANN top-k, on the HASH GATE via pinned centroids (the
    quality_score oracle-from-pinned-constants pattern): the 16-cell
    codebook fit once on the sf0.01 corpus (IVFIndex(nlist=16,
    seed=42).fit) is frozen in clustering_spark/pinned.py, so cell
    assignment is pure arithmetic the oracle replays with DuckDB list
    math, the probed-cell set is a pinned function of centroids +
    QUERY_VEC, and the exact top-10 over the probed cells is plain
    SQL. Searching with a FROZEN codebook is exactly how production
    IVF works (train once, serve many); the live fit path + the
    recall-vs-exact pin stay in tests/test_similarity.py and
    tests/test_registry.py."""
    import numpy as np

    from clustering_spark.pinned import IVF_CENTROIDS

    e = load_spread(spark, sf_dir, "embeddings", bytes_per_task=VEC_SPREAD_BYTES)
    idx = similarity.IVFIndex(nlist=16, seed=42)
    idx.centroids = np.asarray(IVF_CENTROIDS, dtype=np.float64)
    indexed = idx.transform(e, "embedding")
    return idx.search(indexed, "embedding", "vec_id", QUERY_VEC, k=10, nprobe=4)


def q_pca_project(spark, sf_dir):
    """PCA whitening apply (operators/embeddings.apply_pca) with the
    frozen sf0.01 model (clustering_spark/pinned.py) — the learned
    quality filter's gate pattern applied to the dimension-reduction
    stage: projection ``y = diag(1/√(λ+ε)) · W (x − μ)`` is pure
    +,*,/ arithmetic over pinned constants, emitted as per-component
    rounded scalars through nz() (centered values straddle zero)."""
    from clustering_spark.operators.embeddings import apply_pca
    from clustering_spark.pinned import PCA_MODEL

    e = load_spread(spark, sf_dir, "embeddings", bytes_per_task=VEC_SPREAD_BYTES)
    out = apply_pca(e, "embedding", PCA_MODEL, out_col="pca")
    return out.select(
        "vec_id",
        *[
            nz(F.round(F.col("pca")[i], 6)).alias(f"pc{i + 1}")
            for i in range(len(PCA_MODEL["components"]))
        ],
    )


def q_strip_html(spark, sf_dir):
    """HTML text extraction (textnorm.strip_html) on the hash gate: each
    document's text is entity-escaped and wrapped in a deterministic
    HTML template exercising the extractor's passes — doctype/container
    tags, a dropped <style> payload, a dropped <script> payload (with a
    literal '<' inside), a comment, block tags (h1/p -> newlines), an
    inline <b> split mid-word, and the entity round-trip (&amp;/&lt;/
    &gt; decode back to the original characters). Because the payload
    is escaped, stripping is an exact inverse up to the documented
    whitespace normalization, so the DuckDB oracle reconstructs the
    expected text from the RAW column by replaying only the whitespace
    passes on the template skeleton — no DOM parser needed, and any
    drift in tag classification, payload dropping, entity order, or
    whitespace collapsing breaks the hash."""
    from clustering_spark.operators.textnorm import extract_html_text

    d = load_spread(spark, sf_dir, "documents")
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    html = F.concat(
        F.lit(
            "<!DOCTYPE html><html><head><style>p{color:red}</style></head>"
            '<body><!-- nav --><script type="text/javascript">var x = 1 < 2;'
            "</script><h1>Ti<b>tle</b></h1><p>"
        ),
        esc,
        F.lit("</p></body></html>"),
    )
    return extract_html_text(
        d.select("doc_id", html.alias("html")), "html", "text"
    ).select("doc_id", "text")


# =====================================================================
# WARC crawl front door (read_warc -> warc_responses -> strip_html) on
# the hash gate — the format a real 100 TB text pipeline starts from
# =====================================================================


def _crawl_payload_text(i: int) -> str:
    """Arithmetic-in-record-id page text (the synthetic_media_blob /
    csv_ingest construction doctrine) — plain [a-z0-9 ] words so HTML
    entity-escaping is the identity and the oracle replays it
    verbatim."""
    return f"warc doc {i} alpha{(i * 7) % 13} beta{(i * 3) % 11}"


def _write_crawl_warc() -> str:
    """Deterministic two-file crawl fixture at a FIXED path:
    ``crawl.warc.gz`` uses the per-record-gzip-member wire layout
    Common-Crawl-style segments ship (every 6th record is a request,
    excluded downstream; every 10th-i%10==3 response is a 404),
    ``plain.warc`` carries the same construction UNCOMPRESSED (both
    wire layouts on the gate; its records continue the arithmetic at
    construction ids >= _WARC_N_RECORDS while record_idx restarts per
    file), and ``junk.warc`` is structural garbage exercising the
    per-file corrupt-degrade contract. Each html response body is the
    strip_html template from q_strip_html wrapped around
    _crawl_payload_text; every i%6==5 response is instead a REAL PDF
    (alternating classic-xref / xref-stream / ObjStm layouts) whose
    single page shows the same payload, so the SQL oracle
    reconstructs every output column from the construction rule
    alone — DuckDB never needs a WARC reader or a PDF reader."""
    import os
    import tempfile

    from clustering_spark.sources.warc_source import (
        make_http_response,
        make_warc,
    )

    os.makedirs(_WARC_CRAWL_DIR, exist_ok=True)
    # read_warc scans the whole DIRECTORY, so any stray file (a
    # mkstemp orphan from a crashed previous writer, say) would add
    # corrupt rows and break the hash — drop everything that isn't
    # one of the two fixture names before (re)writing them
    for junk in os.listdir(_WARC_CRAWL_DIR):
        if junk not in ("crawl.warc.gz", "plain.warc", "junk.warc"):
            try:
                os.remove(os.path.join(_WARC_CRAWL_DIR, junk))
            except OSError:
                pass
    def _records(lo: int, hi: int) -> list:
        from clustering_spark.operators.pdf import make_pdf

        recs = []
        for i in range(lo, hi):
            url = f"http://site{i % 5}.example/page/{i}"
            if i % 6 == 0:
                recs.append(("request", url, b"GET / HTTP/1.1\r\n\r\n"))
                continue
            status = 404 if i % 10 == 3 else 200
            if i % 6 == 5:
                # PDF responses (round 12): single-line arithmetic
                # page text, so extract_pdf_text returns the payload
                # VERBATIM and the oracle replays it without a PDF
                # reader; the xref layout alternates so classic
                # tables, xref streams and ObjStm are all under the
                # hash
                xs = bool((i // 6) % 2)
                blob = make_pdf(
                    [_crawl_payload_text(i)],
                    xref_stream=xs,
                    use_objstm=xs and bool((i // 12) % 2),
                )
                recs.append(
                    ("response", url, make_http_response(
                        blob, status, content_type="application/pdf"
                    ))
                )
                continue
            if i % 6 == 4:
                # DOCX responses (round 12, later): the OOXML ZIP
                # container + w:p/w:t walk under the hash — the
                # single arithmetic paragraph extracts verbatim.
                # (ZIP member timestamps make the BYTES
                # nondeterministic; the gate compares extracted TEXT,
                # which is not.)
                from clustering_spark.operators.office import make_docx

                recs.append(
                    ("response", url, make_http_response(
                        make_docx([_crawl_payload_text(i)]), status,
                        content_type=(
                            "application/vnd.openxmlformats-"
                            "officedocument.wordprocessingml.document"
                        ),
                    ))
                )
                continue
            html = (
                "<!DOCTYPE html><html><head><style>p{color:red}</style>"
                '</head><body><!-- nav --><script type="text/javascript">'
                "var x = 1 < 2;</script><h1>Ti<b>tle</b></h1><p>"
                + _crawl_payload_text(i)
                + "</p></body></html>"
            )
            recs.append(
                ("response", url, make_http_response(html.encode(), status))
            )
        return recs

    def _wetwat(lo_wet: int, lo_wat: int) -> list:
        """WET conversion + WAT metadata records appended AFTER the
        main block of each file (round 16 — the refiners' routing and
        make_valid_utf8 degrade onto the hash gate without moving any
        existing record_idx). Every j%5==2 WET text and k%4==3 WAT
        title carries one invalid UTF-8 byte the operator must
        degrade to U+FFFD; the oracle replays chr(65533) from the
        same rule."""
        recs = []
        for j in range(lo_wet, lo_wet + _WARC_N_WET_PER):
            body = f"wet doc {j} gamma{(j * 5) % 7}".encode()
            if j % 5 == 2:
                body += b"\xff"
            recs.append(
                ("conversion", f"http://wet{j % 5}.example/conv/{j}",
                 body)
            )
        for k in range(lo_wat, lo_wat + _WARC_N_WAT_PER):
            body = f'{{"k":{k},"title":"wat doc {k}'.encode()
            if k % 4 == 3:
                body += b"\xff"
            body += b'"}'
            recs.append(
                ("metadata", f"http://wat{k % 5}.example/meta/{k}",
                 body)
            )
        return recs

    for fname, blob in (
        ("crawl.warc.gz", make_warc(
            _records(0, _WARC_N_RECORDS) + _wetwat(0, 0),
            gzip_members=True)),
        ("plain.warc", make_warc(
            _records(_WARC_N_RECORDS, _WARC_N_RECORDS + _WARC_N_PLAIN)
            + _wetwat(_WARC_N_WET_PER, _WARC_N_WAT_PER),
            gzip_members=False)),
    ):
        fd, tmp = tempfile.mkstemp(dir=_WARC_CRAWL_DIR)
        with os.fdopen(fd, "wb") as f:
            f.write(blob)
        os.replace(tmp, f"{_WARC_CRAWL_DIR}/{fname}")
    fd, tmp = tempfile.mkstemp(dir=_WARC_CRAWL_DIR)
    with os.fdopen(fd, "wb") as f:
        f.write(b"NOT A WARC SEGMENT")
    os.replace(tmp, f"{_WARC_CRAWL_DIR}/junk.warc")
    return _WARC_CRAWL_DIR


def q_warc_crawl(spark, sf_dir):
    """The crawl front door end-to-end on the hash gate: read_warc
    (gzip-member split + header parse) -> warc_responses (HTTP head
    projection) -> per-content-type text extraction — strip_html for
    the text/html responses, extract_pdf_text for the
    application/pdf ones (round 12: the PDF parser's xref/ObjStm/
    content-stream walk is under the hash too), and
    extract_office_text for the OOXML DOCX ones (round 12, later:
    the ZIP container + w:p/w:t walk as well) — plus the
    corrupt-file degrade surfaced as one '__corrupt__' row whose
    text carries the exact deterministic error — plus (round 16) the
    Common Crawl WET/WAT refiners: each fixture file carries
    appended ``conversion`` and ``metadata`` records (with planted
    invalid-UTF-8 bytes), so wet_conversions/wat_metadata routing
    and the make_valid_utf8 U+FFFD degrade are hash-checked too. A
    parse-position regression, a misrouted record type, a dropped
    404, a broken xref resolver, a ZIP-member misread, or a
    degrade-contract break all flip the hash."""
    from clustering_spark.sources.warc_source import (
        crawl_documents,
        read_warc,
        warc_responses,
        wat_metadata,
        wet_conversions,
    )

    path = _write_crawl_warc()
    recs = read_warc(spark, path)
    # ONE extraction pass over all three response modalities
    # (crawl_documents dispatches on body magic: HTML stays in the
    # JVM strip_html projection, PDF/DOCX extract in the Arrow
    # stage) — the corrupt branch is the only second read of the
    # source, and at production scale it rides the same single
    # read_warc pass into a staging table
    good = crawl_documents(warc_responses(recs)).select(
        F.col("record_idx").cast("long").alias("record_idx"),
        "url",
        F.col("http_status").cast("long").alias("http_status"),
        "http_content_type",
        "text_plain",
    )
    corrupt = recs.filter(F.col("warc_type") == "corrupt").select(
        F.lit(-1).cast("long").alias("record_idx"),
        F.lit("__corrupt__").alias("url"),
        F.lit(None).cast("long").alias("http_status"),
        F.lit(None).cast("string").alias("http_content_type"),
        F.col("error").alias("text_plain"),
    )
    # WET/WAT refiner rows (round 16): conversion text and metadata
    # JSON ride the same gate — a misrouted warc_type, a dropped
    # make_valid_utf8 degrade (the fixture plants invalid bytes), or
    # a mangled payload cast all flip the hash. No HTTP envelope on
    # these record types, so status/content-type are NULL.
    def _ww(df, text_col):
        return df.select(
            F.col("record_idx").cast("long").alias("record_idx"),
            "url",
            F.lit(None).cast("long").alias("http_status"),
            F.lit(None).cast("string").alias("http_content_type"),
            F.col(text_col).alias("text_plain"),
        )

    wet = _ww(wet_conversions(recs), "text")
    wat = _ww(wat_metadata(recs), "json")
    return good.unionByName(wet).unionByName(wat).unionByName(corrupt)


def q_semantic_dedup_keep(spark, sf_dir):
    """SemDeDup survivor set ON THE HASH GATE (round 12): frozen-
    codebook cells (clustering_spark/pinned.py — the same sf0.01
    fit ivf_topk pins, so the two gates share one cell-assignment
    truth) -> per-cell exact cosine GEMM pairs -> connected
    components -> min-id survivor. Every stage is now oracle-
    replayable: cell argmin is pinned arithmetic, within-cell pairs
    are a SQL self-join, components are the recursive-CTE pattern
    SQL_NEARDUP_COMPONENTS established. The live fit path (centroids
    omitted) keeps its pytest recall pin in tests/test_dedup.py."""
    from clustering_spark.pinned import IVF_CENTROIDS

    e = load_spread(spark, sf_dir, "embeddings", bytes_per_task=VEC_SPREAD_BYTES)
    return dedup.semantic_dedup_keep(
        e, "vec_id", "embedding", threshold=0.4, nlist=16, seed=42,
        centroids=IVF_CENTROIDS,
    )


# =====================================================================
# registry
# =====================================================================

# REGISTRY CONTRACT (pinned by tests/test_registry.py): the external
# correctness runner records exactly the FIRST 50 dict entries — the
# registry must stay <= 50 total, with every oracle-gated entry before
# any rows-only entry so a future cap shrink drops the weakest checks
# first. Consolidations (round 6): group_minmax+group_percentiles →
# group_stats; group_mean_center+radius → center_radius; window_events+
# sliding_window_events → windowed_events; lang_id+token_counts+
# fingerprint → text_profile; intra/inter_pairdist → pairdist;
# neardup_dedup_keep folded into neardup_components (kept column);
# cluster_* → cluster_fit; optimal_k_* → optimal_k; result_doc_* →
# result_docs.
#
# STEADY-STATE SLOT POLICY (round 16, per the r15 verdict ask — the
# window is full and this is the intended end state):
#  * A gate slot requires a DuckDB-replayable oracle (value-hash
#    evidence). Rows-only entries are the tail of the dict, capped at
#    the current three iterative-ML cases, each with a hash-gated
#    planted-construction twin elsewhere in the window.
#  * A NEW operator earns gate evidence by FOLDING into an existing
#    composition entry (warc_crawl's modalities, media_metadata's blob
#    families, bpe_ids' encode+pack chain) — not by claiming a slot.
#    Only an operator whose semantics no gated entry can carry may
#    displace one, and only by retiring an entry whose check is fully
#    subsumed by another gated entry (precedents: revenue_by_nation ⊂
#    salted_join_revenue's join+agg, strip_html ⊂ warc_crawl's HTML
#    modality).
#  * Retirement moves the entry to OFF_GATE_QUERIES/OFF_GATE_ORACLES
#    (never deletion): bench.py and tools/verify_oracle.py merge both
#    dicts, so off-gate still sweeps green every round; the off-gate
#    set itself is pinned by tests/test_registry.py so membership
#    changes are deliberate diffs, not drift.
#  * pytest-only (no queries() entry) is for operators whose evidence
#    is differential/property testing (codecs) AND
#    whose output already rides a gated composition; a pytest-only
#    operator with NO gated representation is a coverage gap to fix.
def q_bpe_ids(spark, sf_dir):
    """The trainer-input chain on the HASH GATE (round 15): pinned
    byte-level BPE model (pinned.BPE_MERGES, trained once on this
    corpus) -> bpe_encode_ids (pretokenize, merge walk, vocab ids)
    -> per-doc truncation to the first 8 ids -> pack_sequences ->
    materialize_id_rows (EOS/PAD layout + doc_map), exploded to one
    scalar row per sequence position so the driver's value hash
    covers every id, owner, and pad byte.

    The construction makes the packing layout ARITHMETIC so the
    DuckDB oracle can replay it without an FFD implementation: every
    doc is budgeted at exactly 9 tokens (8 ids + EOS; the corpus
    guarantees >= 10 words/doc so truncation always reaches 8),
    max_tokens=36 in ONE bucket => FFD fills bins in (equal-size ->
    doc_id asc) order, i.e. pack = doc-rank // 4 and member ordinal
    = doc-rank % 4; seq_len=40 leaves 4 PAD positions per pack so
    the padding path is on the hash too. The oracle replays ids from
    the frozen (pre-token form -> ids) golden — see
    oracles._bpe_ids_sql. num_buckets=1 is gate-only (oracle
    replayability); production keeps the default 64-way bucket
    sharding."""
    from clustering_spark.operators.bpe import EOS, PAD, UNK, bpe_encode_ids
    from clustering_spark.operators.packing import (
        materialize_id_rows,
        pack_sequences,
    )
    from clustering_spark.pinned import bpe_model

    from clustering_spark.operators.bpe import build_vocab

    model = bpe_model()
    specials = (UNK, PAD, EOS)
    # derive the reserved ids from the SAME vocab the encoder uses
    # (round-15 review: hardcoded 2/1 duplicated derivable state) —
    # the oracle still pins them as literals, so a layout change
    # breaks the gate rather than silently shifting both sides
    vocab = build_vocab(model, specials)
    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    enc = bpe_encode_ids(
        docs, "text", model, out_col="bpe_ids", specials=specials
    )
    t = enc.select(
        "doc_id", F.slice("bpe_ids", 1, 8).alias("ids8")
    ).withColumn("n_tok", (F.size("ids8") + F.lit(1)).cast("long"))
    asg = pack_sequences(t, "doc_id", "n_tok", max_tokens=36, num_buckets=1)
    rows = materialize_id_rows(
        t, asg, "doc_id", "ids8", seq_len=40,
        eos_id=vocab[EOS], pad_id=vocab[PAD],
    )
    return rows.select(
        "pack_id",
        "n_docs",
        "n_real_tokens",
        "overflow",
        F.posexplode(F.arrays_zip("input_ids", "doc_map")),
    ).select(
        "pack_id",
        "n_docs",
        "n_real_tokens",
        "overflow",
        F.col("pos").cast("int").alias("pos"),
        F.col("col.input_ids").alias("token_id"),
        F.col("col.doc_map").alias("doc_ord"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- oracle-gated (hash-checked against DuckDB) -------------------
    # round 12: cosine_topk folded into knn_join and row_cap into
    # csv_ingest (operators still gated, in composition) to free two
    # slots; the four ex-rows-only entries (minhash/simhash/embedding-
    # LSH via planted identical-content corpora, ivf_topk via pinned
    # centroids) moved up here, and warc_crawl + pca_project joined
    "text_profile": q_text_profile,
    "doc_chunks": q_doc_chunks,
    "contamination_check": q_contamination_check,
    "knn_join": q_knn_join,
    "embedding_neardup": q_embedding_neardup,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "minhash_neardup": q_minhash_neardup,
    "simhash_neardup": q_simhash_neardup,
    "ivf_topk": q_ivf_topk,
    "pca_project": q_pca_project,
    "warc_crawl": q_warc_crawl,
    "media_metadata": q_media_metadata,
    "text_quality": q_text_quality,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "neardup_components": q_neardup_components,
    "hash_split_counts": q_hash_split_counts,
    "asof_last_purchase": q_asof_last_purchase,
    "clicks_after_signup": q_clicks_after_signup,
    "pairdist": q_pairdist,
    "nulldrop_projection": q_nulldrop_projection,
    "segment_counts": q_segment_counts,
    "minmax_scale": q_minmax_scale,
    "limit_scale": q_limit_scale,
    "cluster_assign": q_cluster_assign,
    "group_stats": q_group_stats,
    "entropy": q_entropy,
    "center_radius": q_center_radius,
    "topk_segments": q_topk_segments,
    "latest_event_per_user": q_latest_event_per_user,
    "csv_ingest": q_csv_ingest,
    "hierarchy_rollup": q_hierarchy_rollup,
    "pricing_summary": q_pricing_summary,
    # round 13: revenue_by_nation retired from the gate to
    # OFF_GATE_QUERIES (its join+agg shape is fully covered by
    # salted_join_revenue, which gates the same revenue computation
    # PLUS skew handling; bench still tracks it) — slot goes to
    # tune_k_planted, putting the tuner's sweep+decision (M5-M9) on
    # the hash gate via planted-k blob corpora.
    "tune_k_planted": q_tune_k_planted,
    "windowed_events": q_windowed_events,
    "json_props_stats": q_json_props_stats,
    "salted_join_revenue": q_salted_join_revenue,
    "pivot_user_event_counts": q_pivot_user_event_counts,
    # round 10: the three SQL_WINDOW_EVENTS-backed stream entries
    # (memory / parquet / incremental drains) folded into ONE
    # mode-tagged entry — frees two slots for strip_html (oracle-gated)
    # and semantic_dedup_keep (rows-only) without weakening any check
    "stream_window_events": q_stream_window_events,
    # round 11: stream_sliding_windows retired from the gate — its
    # sliding-window drain duplicates windowed_events' sliding half and
    # stream_window_events' mode coverage (pytest still exercises the
    # operator: tests/test_streaming.py). Slot goes to quality_score,
    # the learned-filter scoring projection with a pinned linear model.
    "quality_score": q_quality_score,
    "stream_sessions": q_stream_sessions,
    "stream_stateful_user_stats": q_stream_stateful_user_stats,
    "stream_distinct_event_types": q_stream_distinct_event_types,
    "stream_dedup_replay": q_stream_dedup_replay,
    # round 15: strip_html retired to OFF_GATE_QUERIES (its extraction
    # is already hash-checked inside warc_crawl's HTML modality; same
    # precedent as revenue_by_nation -> salted_join_revenue). Slot
    # goes to bpe_ids — the BPE encode + packing trainer-input chain
    # on the hash gate via the pinned byte-level vocab.
    "bpe_ids": q_bpe_ids,
    "semantic_dedup_keep": q_semantic_dedup_keep,
    # round 13: approx_distinct_users converted from rows-only to the
    # hash gate — the HLL estimate stays un-replayable, but its
    # tolerance verdict vs the exact count is deterministic for fixed
    # data, so the oracle replays exact counts + literal true
    "approx_distinct_users": q_approx_distinct_users,
    # -- rows-only (not ANSI-SQL-expressible; invariants in tests/) ---
    "cluster_fit": q_cluster_fit,
    "optimal_k": q_optimal_k,
    "result_docs": q_result_docs,
}

ORACLES: dict[str, str] = {
    "text_profile": SQL_TEXT_PROFILE,
    "doc_chunks": SQL_DOC_CHUNKS,
    "contamination_check": SQL_CONTAMINATION,
    "knn_join": SQL_KNN_JOIN,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "embedding_neardup_lsh": SQL_EMBEDDING_NEARDUP_LSH,
    "minhash_neardup": SQL_MINHASH_NEARDUP,
    "simhash_neardup": SQL_SIMHASH_NEARDUP,
    "ivf_topk": _ivf_topk_sql(),
    "pca_project": _pca_project_sql(),
    "warc_crawl": SQL_WARC_CRAWL,
    "media_metadata": SQL_MEDIA_METADATA,
    "text_quality": SQL_TEXT_QUALITY,
    "dedup_exact": SQL_DEDUP_EXACT,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "neardup_components": SQL_NEARDUP_COMPONENTS,
    "hash_split_counts": SQL_HASH_SPLIT_COUNTS,
    "asof_last_purchase": SQL_ASOF_LAST_PURCHASE,
    "clicks_after_signup": SQL_CLICKS_AFTER_SIGNUP,
    "pairdist": SQL_PAIRDIST,
    "nulldrop_projection": SQL_NULLDROP,
    "segment_counts": SQL_SEGMENT_COUNTS,
    "minmax_scale": SQL_MINMAX_SCALE,
    "limit_scale": SQL_LIMIT_SCALE,
    "cluster_assign": SQL_CLUSTER_ASSIGN,
    "group_stats": SQL_GROUP_STATS,
    "entropy": SQL_ENTROPY,
    "center_radius": SQL_CENTER_RADIUS,
    "topk_segments": SQL_TOPK,
    "latest_event_per_user": SQL_LATEST_EVENT,
    "csv_ingest": SQL_CSV_INGEST,
    "hierarchy_rollup": SQL_HIERARCHY,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "tune_k_planted": SQL_TUNE_K_PLANTED,
    "windowed_events": SQL_WINDOWED_EVENTS,
    "json_props_stats": SQL_JSON_PROPS_STATS,
    "salted_join_revenue": SQL_SALTED_JOIN_REVENUE,
    "pivot_user_event_counts": SQL_PIVOT_USER_EVENT_COUNTS,
    "stream_window_events": SQL_WINDOW_EVENTS_MODES,
    "quality_score": SQL_QUALITY_SCORE,
    "stream_sessions": SQL_STREAM_SESSIONS,
    "stream_stateful_user_stats": SQL_STATEFUL_USER_STATS,
    "stream_distinct_event_types": SQL_STREAM_DISTINCT_TYPES,
    "stream_dedup_replay": SQL_STREAM_DEDUP_REPLAY,
    "bpe_ids": SQL_BPE_IDS,
    "semantic_dedup_keep": _semantic_dedup_keep_sql(),
    "approx_distinct_users": SQL_APPROX_DISTINCT,
    # no oracle (not ANSI-SQL-expressible) — rows-only checks:
    #   cluster_fit / optimal_k / result_docs (iterative ML on the
    #   real tables — cluster_assign and tune_k_planted are their
    #   gated planted-construction twins).
    # Round 12 converted the near-dup trio (planted identical-content
    # corpora — recall provably 1, verify exactly the SQL set),
    # ivf_topk AND semantic_dedup_keep (both via the pinned sf0.01
    # codebook) to full hash gates above.
    # Round 13 converted the tuner (tune_k_planted — planted-k blob
    # corpora, M5-M9 on the decision surface).
    # Invariants covered in tests/.
}

# Queries retired from the driver's 50-entry gate window but still
# maintained (bench rows, plan pins, pytest oracle parity). Retirement
# means "off the external gate", never "unchecked".
OFF_GATE_QUERIES: dict[str, object] = {
    "revenue_by_nation": q_revenue_by_nation,
    "strip_html": q_strip_html,
}

OFF_GATE_ORACLES: dict[str, str] = {
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "strip_html": SQL_STRIP_HTML,
}
