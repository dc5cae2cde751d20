"""Structured Streaming surface.

The reference has NO streaming (SURVEY.md §1.1 — the only loop is the
Streamlit rerun loop); this module is the forward-looking twin of the batch
`q_tumble` operator: the *same* tumbling-window aggregation expressed over
`readStream`, with a watermark for late data. Batch and stream share the
window operator, which is the Spark-native way to keep the two planes
consistent (kappa-style: one query definition, two execution modes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
    TimestampNTZType,
)

from ..functions.helpers import dec_sum
from ..session import tune

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", TimestampNTZType(), True),  # µs TIMESTAMP (see catalog)
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])  # fixture-writer schema for tests; live reads sniff the footer instead


def events_stream(spark: SparkSession, input_dir: str,
                  raw: bool = False) -> DataFrame:
    """Streaming read of an events directory, schema taken from the input's
    own parquet footer (readStream needs an explicit schema; a hard-coded
    one breaks whenever the lake flips `ts` between INT64-nanos and
    TIMESTAMP — it has flipped once already). Unless ``raw``, adds `ts_us`,
    the same µs-precision normalization the batch path uses
    (catalog.ts_us_timestamp), so stream ops never care which variant
    shipped.
    """
    from ..catalog import read_files, ts_us_timestamp

    tune(spark)  # nanosAsLong must be set before the footer sniff
    # the footer sniff is a Spark job; read_files runs it once per unchanged
    # input directory
    schema = read_files(spark, "parquet", input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)
    if raw:
        return stream
    return stream.withColumn("ts_us", ts_us_timestamp(stream))


def stream_tumbling_agg(spark: SparkSession, input_dir: str,
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming tumbling-window counts/sums over an events file stream.

    Watermark bounds state: buckets older than (max event time − watermark)
    finalize and evict — the knob that keeps a 100 TB/day stream's state
    finite. Output mirrors q_tumble (epoch-second buckets).
    """
    stream = events_stream(spark, input_dir).withWatermark("ts_us", watermark)
    return (
        stream.groupBy(F.window("ts_us", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dec_sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("bucket_epoch"),
            "event_type", "cnt", "sum_value",
        )
    )


def stream_sliding_agg(spark: SparkSession, input_dir: str,
                       window: str = "2 hours", slide: str = "1 hour",
                       watermark: str = "4 hours") -> DataFrame:
    """Sliding (hopping) window counts/sums: each event lands in
    window/slide overlapping buckets (2 here). Same state-bounding
    watermark story as the tumbling form; at 100 TB the state size is
    (#open windows × #groups), i.e. overlap factor × the tumbling state —
    the overlap factor, not the data volume, is the knob.
    """
    stream = events_stream(spark, input_dir).withWatermark("ts_us", watermark)
    return (
        stream.groupBy(F.window("ts_us", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dec_sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("bucket_epoch"),
            "event_type", "cnt", "sum_value",
        )
    )


def stream_distinct(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming exact dedup: the distinct (user_id, event_type) pairs seen
    so far. `dropDuplicates` keeps one state row per distinct key — exact,
    but the state never ages out. For an unbounded 100 TB/day stream switch
    to `dropDuplicatesWithinWatermark` (same plan + state TTL at the cost of
    only-within-horizon exactness); for bounded/availableNow runs the exact
    form is right and matches SELECT DISTINCT bit-for-bit.
    """
    stream = events_stream(spark, input_dir, raw=True)
    return stream.select("user_id", "event_type").dropDuplicates()


def stream_distinct_within_watermark(spark: SparkSession, input_dir: str,
                                     watermark: str = "3650 days") -> DataFrame:
    """Streaming dedup with TTL'd state: `dropDuplicatesWithinWatermark`
    keeps one state row per key only within the watermark horizon, then
    evicts — the configuration an unbounded 100 TB/day stream must run
    (plain dropDuplicates state never ages out). The trade is horizon-
    bounded exactness: a duplicate arriving after eviction re-emits. With
    a horizon covering the whole bounded fixture, the result equals exact
    SELECT DISTINCT, which is what the oracle checks; the state-eviction
    behavior itself is the op's reason to exist at scale.
    """
    stream = (events_stream(spark, input_dir)
              .withWatermark("ts_us", watermark))
    return (stream.select("user_id", "event_type", "ts_us")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type"))


def stream_static_enrich(spark: SparkSession, input_dir: str,
                         customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with customer→nation dims
    and aggregate per (nation, event_type).

    The static side is planned per micro-batch and broadcast (both dims are
    small); the stream side never shuffles for the join — only the final
    aggregation exchanges on the group key. This is the canonical shape for
    dimension enrichment at 100 TB/day: dims broadcast, facts stay put.
    """
    tune(spark)
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_nationkey")
    ).join(nation.select("n_nationkey", "n_name"),
           F.col("c_nationkey") == F.col("n_nationkey")) \
        .select("user_id", F.col("n_name").alias("nation"))
    stream = events_stream(spark, input_dir, raw=True)
    return (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("nation", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dec_sum("value").alias("sum_value"))
    )


def stream_interval_join(spark: SparkSession, input_dir: str,
                         lookback: str = "INTERVAL 1 HOUR",
                         watermark: str = "2 hours",
                         how: str = "inner") -> DataFrame:
    """Stream-stream interval join: each 'error' event paired with the same
    user's 'click' events in the preceding hour.

    Both sides carry a watermark and the join condition bounds event time
    in BOTH directions (click ∈ [error − 1h, error]), which is what lets
    the state store evict: a buffered click older than
    (watermark horizon + lookback) can never match a future error, so
    state stays proportional to the time bound, not the stream length —
    the one non-negotiable requirement for a stream-stream join at
    100 TB/day. A single availableNow pass buffers-then-joins everything,
    so the result equals the batch interval join and shares its oracle.

    ``how="left_outer"`` is the production enrich-with-misses shape:
    errors with NO same-user click in the window still emit, click
    columns null. Outer rows materialize only on state EVICTION — the
    engine can't know "no match will come" until the watermark passes
    err_ts + lookback — so a bounded replay must push the watermark past
    the last real row to flush them (the registered op plants a far-
    future sentinel row for exactly this; Spark's terminal no-data
    micro-batch then emits the withheld rows before availableNow stops).
    On an unbounded production stream the advancing watermark does this
    continuously and no sentinel is needed.
    """
    tune(spark)

    def side(evt: str, prefix: str) -> DataFrame:
        return (
            events_stream(spark, input_dir)
            .filter(F.col("event_type") == evt)
            .select(F.col("event_id").alias(f"{prefix}_id"),
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("ts_us").alias(f"{prefix}_ts"))
            .withWatermark(f"{prefix}_ts", watermark)
        )

    errors, clicks = side("error", "err"), side("click", "click")
    return (
        errors.join(
            clicks,
            (F.col("err_user") == F.col("click_user"))
            & (F.col("click_ts") >= F.col("err_ts") - F.expr(lookback))
            & (F.col("click_ts") <= F.col("err_ts")),
            how)
        .select("err_id", "click_id", F.col("err_user").alias("user_id"))
    )


def _scoped_stream_shuffle(spark: SparkSession, n: int = 8):
    """Context manager: temporarily shrink shuffle partitions for a local
    availableNow parity run. A stateful stream spins up one state-store
    instance per shuffle partition per stateful stage; at fixture scale 32
    of them is pure per-op overhead (measured: stream_tumble 10.2 s → the
    state machinery, not the data). The number is pinned at query START and
    recorded in the checkpoint, so a real deployment — which sets its own
    sizing — is unaffected by this local harness choice."""
    import contextlib

    @contextlib.contextmanager
    def scope():
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return scope()


def run_to_memory(sdf: DataFrame, table: str,
                  output_mode: str = "complete") -> None:
    """Drive any streaming DataFrame with availableNow into an in-memory
    sink table (the batch-parity harness shared by the stream_* ops)."""
    with _scoped_stream_shuffle(sdf.sparkSession):
        q = (
            sdf.writeStream.format("memory").queryName(table)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def stream_to_bronze(spark: SparkSession, input_dir: str, lake_dir: str,
                     name: str, checkpoint_dir: str) -> str:
    """Streaming ingestion into the bronze lake via foreachBatch: each
    micro-batch appends through the same write_bronze path batch ingestion
    uses (one sink implementation, two execution modes). Exactly-once comes
    from the checkpoint + parquet append idempotence per epoch.

    Returns the bronze path.
    """
    import os

    from ..sources.bronze import bronze_path, write_bronze

    stream = events_stream(spark, input_dir, raw=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_bronze(batch_df, lake_dir, name, mode="append")

    with _scoped_stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(checkpoint_dir, name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return bronze_path(lake_dir, name)


def run_stream_to_table(spark: SparkSession, input_dir: str, table: str,
                        window: str = "1 hour") -> None:
    """Drive the stream with availableNow (process-everything-then-stop) into
    an in-memory sink table — the batch-parity harness used by tests and the
    stream_tumble verification query."""
    run_to_memory(stream_tumbling_agg(spark, input_dir, window=window), table)


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def use_rocksdb_state(spark: SparkSession, enable: bool = True) -> None:
    """Switch stateful streaming to the RocksDB state store (or back).

    The default HDFS-backed store keeps every key in executor heap — fine
    for the fixture streams, lethal for a 100 TB/day stream whose
    deduplication/session state outgrows memory. RocksDB spills state to
    local SSD with incremental (changelog) checkpointing, bounding heap by
    the block cache instead of by key count. Bundled with stock Spark ≥3.2;
    takes effect for queries STARTED after the conf is set.
    """
    if enable:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       ROCKSDB_PROVIDER)
        # Changelog checkpointing: upload per-batch deltas, not full
        # SST snapshots — the difference between O(changed keys) and
        # O(total state) per commit at scale.
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true")
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
