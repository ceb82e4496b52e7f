"""Streaming ingest of the events table: file-source readStream ->
watermarked tumbling/session windows -> sink.

Design notes for scale:
* The aggregations are the SAME expressions as the batch
  ``window_events`` query — Structured Streaming incrementalizes them;
  correctness tests run the stream with ``availableNow`` over a static
  directory and compare against the batch result.
* The watermark bounds state: late events beyond it are dropped, so
  state size is O(active windows x groups), independent of stream
  length.
* File sources track processed files in the checkpoint — the streaming
  analog of the reference's delete-after-consume (S11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clustering_spark.functions.rounding import round6_half_up
from clustering_spark.sources.filesource import source_exists

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of event files. Streams
    require a user-supplied schema (no inference race on a growing
    directory)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) event-time window counts
    + value sums per event_type — the streaming form of the batch
    ``window_events`` / ``sliding_window_events`` queries. The
    watermark admits late data up to its bound, then finalizes the
    window (state is dropped)."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_event_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user session windows (gap-based): event count and value sum
    per session. ``session_window`` is the built-in stateful operator —
    no custom applyInPandasWithState needed for this shape."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("s.start")).alias("session_start"),
            F.unix_timestamp(F.col("s.end")).alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stateful_user_stats(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    idle_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running totals carried across micro-batches, with EVENT-TIME-TIMEOUT
    finalization — a user idle for ``idle_timeout_ms`` of event time
    (per the watermark clock) emits a final ``closed=true`` summary row
    and its state is DROPPED, so state stays O(active users) no matter
    how long the stream runs. This is the shape built-in windowed aggs
    can't express: arbitrary per-key state (running sums + last-seen)
    with an explicit eviction policy.

    Output (update mode): one row per touched/expired user per batch —
    (user_id, n_events, total_value, last_seen, closed). Downstream
    latest-wins per user (T3) gives current totals.
    """
    import pandas as pd  # local: streaming module stays import-light

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("last_seen", T.TimestampType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("last_us", T.LongType()),
            # TRUE UTC epoch of the last event, computed JVM-side by
            # unix_micros: pandas delivers TimestampType as
            # SESSION-LOCAL naive values, so last_us is epoch-shifted
            # by the session tz offset — fine for the symmetric
            # last_seen round-trip, WRONG against
            # getCurrentWatermarkMs()/setTimeoutTimestamp, which
            # speak true UTC epoch ms (round-16 review: a UTC-5
            # session closed every active user one batch early and
            # reset its totals; UTC+X kept users open X hours late).
            # Both clocks are carried because local-naive and UTC
            # differ by a DST-dependent offset no kernel-side
            # arithmetic can recover.
            T.StructField("last_utc_us", T.LongType()),
        ]
    )

    # HALF_UP (ties away from zero) like Spark/DuckDB round(); the
    # shared scalar form — see functions/rounding.py for variant choice
    _round6 = round6_half_up

    # UNSET sentinel for "user seen only via NULL-ts rows": LONG_MIN,
    # not 0, so the earliest observable timestamp (epoch + 1 us — rows
    # at/below the initial watermark 0 are dropped by Spark's late-row
    # filter before reaching this operator; measured in
    # test_stateful_user_stats_epoch_adjacent_ts_is_not_null) and the
    # whole pre-1970 range stay distinct from "unset", while the batch
    # oracle's max-over-all-NULLs stays NULL
    _unset_us = -(2**63)

    def _last_seen(last_us: int):
        # pd.NaT (not None) keeps the column datetime64-typed for Arrow
        return pd.Timestamp(last_us, unit="us") if last_us != _unset_us else pd.NaT

    def update(key, pdf_iter, state):
        user_id = key[0]
        if state.hasTimedOut:
            n, total, last_us, _last_utc = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [_round6(total)],
                    "last_seen": [_last_seen(last_us)],
                    "closed": [True],
                }
            )
            return
        n, total, last_us, last_utc = (
            state.get if state.exists else (0, 0.0, _unset_us, _unset_us)
        )
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            # pandas Timestamp.value is ns since epoch regardless of
            # unit; state keeps MICROseconds so last_seen round-trips
            # the source's microsecond timestamps exactly
            ts_max = pdf[ts_col].max()
            # all-NaT batch (every ts NULL): max() is NaT, whose .value
            # is int64-min — skip instead of poisoning last_seen with a
            # 1970 epoch sentinel
            if pd.notna(ts_max):
                last_us = max(last_us, int(ts_max.value // 1_000))
            # the UTC clock for the timeout math (see state_schema
            # comment); NULL-ts rows carry NULL here, skipped by max()
            utc_max = pdf["__ts_utc_us"].max()
            if pd.notna(utc_max):
                last_utc = max(last_utc, int(utc_max))
        state.update((n, total, last_us, last_utc))
        # timeout must stay ahead of the current watermark or Spark
        # rejects it; a user already past-due simply expires next batch
        state.setTimeoutTimestamp(
            max(
                last_utc // 1_000 + idle_timeout_ms,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [_round6(total)],
                "last_seen": [_last_seen(last_us)],
                "closed": [False],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    if "__ts_utc_us" in events.columns:
        raise ValueError(
            "input already has a '__ts_utc_us' column — rename it"
            " before stateful_user_stats"
        )
    return (
        events.withWatermark(ts_col, watermark)
        .withColumn("__ts_utc_us", F.unix_micros(F.col(ts_col)))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the stream with availableNow into a DURABLE parquet sink —
    the production path (the memory sink in ``run_stream_to_memory`` is
    harness scaffolding only). The file sink is append-only: a windowed
    aggregate emits each window exactly once, when the watermark passes
    its end — i.e. the sink holds only FINALIZED windows, and restarts
    resume from the checkpoint without rewriting them. Exactly-once to
    the directory comes from the sink's transaction log
    (_spark_metadata), which is how a 1000-executor cluster writes a
    stream safely with no coordinator beyond the driver.

    Note for bounded replays: windows still inside the watermark at
    end-of-input are NOT emitted (they could still change). A caller
    replaying a static directory who wants every window finalized must
    advance the watermark past the data — e.g. the sentinel-row pattern
    in ``q_stream_window_events_parquet``."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    upper_us: int = 3_600_000_000,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER interval join: pairs every left row with
    the right rows whose event time falls in (left_ts, left_ts +
    upper_us µs] — the streaming form of the batch binned range join
    (operators/rangejoin.py; e.g. clicks within 1 h of each signup).

    Spark refuses stream-stream joins WITHOUT an equality predicate
    (the state store is keyed by the equi-columns), so this uses the
    same bucket trick as the batch operator: left rows explode into
    their window bucket and the next (≤2×, exact — a right row in
    (t, t+upper] lies in bucket(t) or bucket(t)+1), right rows carry
    their own bucket, and the join is an EQUI-join on bucket plus the
    exact event-time range as a residual TIMESTAMP comparison (kept as
    raw column comparisons so Spark's watermark analysis derives state
    eviction bounds from it).

    Scale contract: both sides watermarked + the range condition →
    join state is O(events inside watermark + upper), not O(stream).
    Inner matches emit as soon as both rows have arrived (the
    watermark only bounds state/lateness), so an availableNow replay
    over a static directory drains the COMPLETE pair set — pinned by
    the batch-equivalence test.

    Column names must be disjoint (rename before calling).

    Negative (pre-1970) timestamps are safe with DIV's
    truncate-toward-zero semantics even though it differs from floor
    there (round-15 review): bucket(x) = trunc(x/U) is monotone with
    breakpoints spaced AT LEAST U apart (exactly U everywhere except
    the zero-straddling bucket, which spans (-U, U) — 2U between its
    neighbors), so any half-open window of length U contains at most
    one breakpoint — the right row's bucket is always bucket(left)
    or bucket(left)+1, the two the explode emits."""
    # same contract as the batch twin time_range_join (round-16
    # review: the stream variant silently diverged — upper_us=0 made
    # every bucket NULL/DIVIDE_BY_ZERO and the join emitted nothing
    # forever, and unquoted ts names broke on non-bare identifiers)
    if upper_us <= 0:
        raise ValueError(f"upper_us must be positive, got {upper_us}")
    lts, rts = left_ts.replace("`", "``"), right_ts.replace("`", "``")
    l = (
        left.withWatermark(left_ts, watermark)
        .withColumn(
            "__bkt_l",
            F.explode(
                F.array(
                    F.expr(f"unix_micros(`{lts}`) DIV {upper_us}"),
                    F.expr(f"unix_micros(`{lts}`) DIV {upper_us} + 1"),
                )
            ),
        )
    )
    r = right.withWatermark(right_ts, watermark).withColumn(
        "__bkt_r", F.expr(f"unix_micros(`{rts}`) DIV {upper_us}")
    )
    cond = (
        (F.col("__bkt_l") == F.col("__bkt_r"))
        & (F.col(right_ts) > F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {upper_us} MICROSECOND")
        )
    )
    return l.join(r, cond, "inner").drop("__bkt_l", "__bkt_r")


def run_stream_upsert_parquet(
    stream_df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    path: str,
    checkpoint_dir: str,
) -> None:
    """Update-mode drain through ``foreachBatch`` into a LATEST-WINS
    parquet state table — the streaming analog of the reference's
    Mongo upsert sinks (S9): each micro-batch's emissions merge into
    the table keyed by ``key_cols``, keeping the row with the highest
    ``order_cols`` per key (batch rows win ties, so monotone snapshot
    re-emissions converge).

    The state table is KEY-SPACE-sized (e.g. one row per user), so the
    merge rewrites it wholesale each batch: read current → union →
    latest-wins window → localCheckpoint (materialize BEFORE the
    overwrite clobbers the files being read) → overwrite. That is the
    honest dependency-free version; a production deployment swaps the
    body for a Delta/Iceberg ``MERGE`` (same keys, same ordering) and
    gets atomicity + O(changed keys) writes. foreachBatch + the
    checkpoint give at-least-once batch delivery; the merge is
    idempotent (same batch re-applied = same table), which upgrades
    the sink to effectively-once."""
    from pyspark.sql import Window

    # collision guard (round-16 review — the asof_join/time_range_join
    # convention): a caller column named __is_new/__rn would be
    # silently overwritten, folded into the latest-wins ordering, and
    # then DROPPED from the persisted state table
    clash = {"__is_new", "__rn"} & set(stream_df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with the upsert"
            " sink's internals — rename them first"
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols], F.col("__is_new").desc()
        )
        new = batch_df.withColumn("__is_new", F.lit(1))
        # ONLY a missing table means 'first batch'. A present one that
        # fails to read (transient FS error, partial table from a
        # crashed overwrite, schema drift breaking unionByName) must
        # raise so the foreachBatch retry redoes the merge: merged=new
        # would make the overwrite below drop every accumulated key.
        if source_exists(spark, path):
            cur = spark.read.parquet(path).withColumn("__is_new", F.lit(0))
            merged = cur.unionByName(new)
        else:
            merged = new
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__is_new")
            .localCheckpoint()  # cut lineage off the files we overwrite
        )
        latest.write.mode("overwrite").parquet(path)

    q = (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> None:
    """Drain the stream with availableNow into an in-memory table —
    the test/driver harness path; production sinks swap in
    ``format('parquet')`` + append/update. ``update`` mode (stateful
    operators) appends each batch's emitted rows to the memory table."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
