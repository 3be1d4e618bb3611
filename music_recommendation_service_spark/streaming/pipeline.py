"""Structured Streaming pipelines.

Reference parity (SURVEY.md §2.9): the reference runs one streaming job —
Kafka -> cast(value as string) -> from_json(declared schema) -> flatten ->
Delta append with checkpoint (``process_recommendation_events.py:57-84``,
T1/T2). It has NO watermarks, event-time windows, or stateful aggregation;
those are the generalizations a 100 TB engine needs and are provided here
(tumbling/sliding/session windows with late-data handling).

Scale design
------------
- Sources are swappable: the same parse/window/sink graph runs over Kafka
  (production) or a file directory (tests/backfill). Micro-batch offsets +
  sink checkpointing give exactly-once into the lake (T2).
- Watermarks bound state: a window aggregate without a watermark grows state
  forever at 100 TB/day; every windowed helper here requires one.
- Window aggregates are partial-aggregated per input partition before the
  single keyed-state shuffle (Catalyst does this for streaming aggs the same
  way as batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: picks up files as they land (the landing-zone
    pattern, ``dag_weekly_trends_ingestion.py`` S1 made incremental).
    Schema is declared, never inferred (reference behavior §1.3)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if fmt == "json":
        # Same wire contract as the producer side (JSON_TS_OPTIONS below).
        for k, v in JSON_TS_OPTIONS.items():
            reader = reader.option(k, v)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (S3, ``process_recommendation_events.py:57-62``).
    Requires the spark-sql-kafka package on the cluster classpath."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


# Timestamp wire formats for JSON payloads: Spark's to_json default emits
# milliseconds only, silently truncating microsecond event times on the
# producer side — pin a microsecond format on BOTH directions of the
# contract (SURVEY.md §3.2's schema-mismatch lesson applied to precision).
# TIMESTAMP (instant) columns carry a zone offset; TIMESTAMP_NTZ (wall-clock)
# columns are serialized offset-free — an ntz value has no instant, so an
# offset suffix would force a spurious zone interpretation on reparse. Both
# options ride on every serialize/parse call so a schema may mix the two.
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
JSON_TS_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
JSON_TS_OPTIONS = {
    "timestampFormat": JSON_TS_FORMAT,
    "timestampNTZFormat": JSON_TS_NTZ_FORMAT,
    # The pinned microsecond format is the PRODUCER contract; payloads from
    # other producers legitimately carry second/millisecond precision
    # ('2024-01-01T00:00:00Z'). Without the fallback those would strict-fail
    # the SSSSSS pattern and become silent nulls in PERMISSIVE mode; with it
    # Spark retries the standard ISO-8601 parser. Write paths ignore the key.
    "enableDateTimeParsingFallback": "true",
}


def parse_json_payload(raw: DataFrame, schema: StructType, value_col: str = "value") -> DataFrame:
    """T1 parse step: binary/string payload -> struct -> flattened columns
    (``process_recommendation_events.py:66-67``)."""
    return raw.select(
        F.from_json(
            F.col(value_col).cast("string"),
            schema,
            JSON_TS_OPTIONS,
        ).alias("data")
    ).select("data.*")


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Event-time tumbling-window counts with late-data bound."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Sliding windows: each event lands in window/slide buckets."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            *keys,
            "n_events",
        )
    )


def session_stats(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
) -> DataFrame:
    """Session windows (dynamic length, closed after ``gap`` of silence).
    ``session_window.end`` is last-event + gap, so last_event_ts is
    recovered by subtracting the gap."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key, F.session_window(ts_col, gap))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            (F.col("session_window.end") - F.expr(f"INTERVAL {gap}")).alias(
                "last_event_ts"
            ),
            "n_events",
            "total_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream watermarked interval join — the streaming twin of the
    batch range join (q49): pair a left event with every right event whose
    ``right_ts`` falls in ``[left_ts + lower, left_ts + upper]``, matched
    on the ``on`` equality pairs ``[(left_col, right_col), ...]``.

    Both sides are watermarked, which is what makes this runnable
    unbounded: Spark derives the state-retention bound from the watermark
    delays plus the interval width, so join state for a left row is
    EVICTED once the right-side watermark passes ``left_ts + upper`` (and
    vice versa) — without the time bound the state would grow forever and
    Spark rejects the query. Late rows below the watermark are dropped,
    never joined; ``how='leftOuter'`` additionally null-pads a left row
    when its state expires unmatched.

    Column names must be disjoint across the two sides (rename upstream,
    as with any self-join) so the joined schema is unambiguous.

    Reference tie: the reference's streaming job is single-stream
    (``pyspark_jobs/process_recommendation_events.py:57-84``); SURVEY
    §2.9 names stream-stream joins as the generalization a Spark-first
    engine should add.
    """
    import functools

    if not on:
        raise ValueError("interval_join: need at least one equality pair")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"interval_join: ambiguous column(s) {sorted(overlap)} — "
            "rename one side upstream"
        )
    l = left.withWatermark(left_ts, left_watermark)
    r = right.withWatermark(right_ts, right_watermark)
    cond = functools.reduce(
        lambda a, b: a & b, [l[lc] == r[rc] for lc, rc in on]
    )
    cond = (
        cond
        & (r[right_ts] >= l[left_ts] + F.expr(f"INTERVAL {lower}"))
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)


def write_stream_console(
    df: DataFrame, truncate: bool = False, num_rows: int = 20
) -> StreamingQuery:
    """Console debug sink (S8, ``process_recommendation_events.py:70-74``):
    the reference tees its stream to console alongside the lake sink."""
    return (
        df.writeStream.outputMode("append")
        .format("console")
        .option("truncate", str(truncate).lower())
        .option("numRows", str(num_rows))
        .start()
    )


def kafka_json_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    key_col: str | None = None,
) -> StreamingQuery:
    """Kafka producer sink (S10, ``KafkaEventProducer.cs:42-51`` engine-side):
    every row serialized as one JSON message via ``to_json(struct(*))`` —
    the exact payload shape the reference's .NET producer emits and its
    Spark job parses back (T1). Avro (S11) swaps ``to_json`` for
    ``to_avro`` when the spark-avro package is on the classpath.

    Requires spark-sql-kafka on the cluster classpath; construction is
    lazy, so building the writer without a broker is side-effect free."""
    cols = [
        F.to_json(F.struct(*df.columns), JSON_TS_OPTIONS).alias("value")
    ]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return (
        df.select(*cols)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def avro_payload(df: DataFrame, json_format_schema: str | None = None) -> DataFrame:
    """S11 producer-side packaging (``KafkaEventProducer.cs:53-65``): rows ->
    one Avro-binary ``value`` column via ``to_avro(struct(*))``. Schema may
    be pinned explicitly (the Schema-Registry contract) or derived from the
    DataFrame schema.

    The spark-avro jar is the first-choice implementation (JVM-side,
    codegen). Where it is absent (the Spark binary distro does not bundle
    it) and a schema is pinned, this falls back to the spec-compliant
    pure-Python codec in ``streaming/avrocodec.py`` — byte-compatible
    output, Arrow-batched (tests/test_avro_codec.py pins the wire bytes;
    tests/test_gated_formats.py runs the jar path wherever present)."""
    from music_recommendation_service_spark.streaming.avrocodec import (
        avro_payload_py,
        spark_avro_on_classpath,
    )

    if not spark_avro_on_classpath(df.sparkSession):
        if json_format_schema is not None:
            return avro_payload_py(df, json_format_schema)
        # The Python to_avro wrapper imports fine without the jar and only
        # dies at action time with an opaque JVM ClassNotFoundException —
        # fail here, at call time, with the actual remedy.
        raise RuntimeError(
            "avro_payload without a pinned schema needs the spark-avro jar "
            "on the classpath (schema derivation happens JVM-side); either "
            "add the jar or pass json_format_schema to use the pure-Python "
            "codec fallback"
        )
    from pyspark.sql.avro.functions import to_avro

    packed = F.struct(*df.columns)
    col = to_avro(packed) if json_format_schema is None else to_avro(packed, json_format_schema)
    return df.select(col.alias("value"))


def parse_avro_payload(
    raw: DataFrame, json_format_schema: str, value_col: str = "value"
) -> DataFrame:
    """S11 consumer side: Avro binary -> struct -> flattened columns under a
    DECLARED Avro schema (the reference fetches it from Schema Registry;
    the engine takes the JSON text — same contract, no SR dependency).
    Falls back to the pure-Python codec when the spark-avro jar is absent
    (same bytes, Arrow-batched — see ``streaming/avrocodec.py``)."""
    from music_recommendation_service_spark.streaming.avrocodec import (
        parse_avro_payload_py,
        spark_avro_on_classpath,
    )

    if not spark_avro_on_classpath(raw.sparkSession):
        return parse_avro_payload_py(raw, json_format_schema, value_col=value_col)
    from pyspark.sql.avro.functions import from_avro

    return raw.select(
        from_avro(F.col(value_col), json_format_schema).alias("data")
    ).select("data.*")


def kafka_avro_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    json_format_schema: str | None = None,
    key_col: str | None = None,
) -> StreamingQuery:
    """Kafka producer sink, Avro payload (S11): ``kafka_json_sink`` with
    ``to_avro`` packaging. Requires spark-avro AND spark-sql-kafka on the
    classpath; construction is lazy."""
    from pyspark.sql.avro.functions import to_avro

    packed = F.struct(*df.columns)
    value = (
        to_avro(packed) if json_format_schema is None else to_avro(packed, json_format_schema)
    ).alias("value")
    cols = [value]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return (
        df.select(*cols)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def foreach_batch_merge(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: tuple[str, ...],
    seq_col: str,
    available_now: bool = True,
    max_merge_retries: int = 5,
    output_mode: str = "append",
    merge_mode: str = "rewrite",
) -> StreamingQuery:
    """Stream-materialized KEYED table: upsert each micro-batch by key
    through the snapshot protocol's MERGE — the stream->dim-table pattern
    the reference's append-only sink (S7) cannot express. Each micro-batch
    becomes one snapshot version; only files containing a matched key are
    rewritten (per-file min/max key stats prune the rest), so cost per
    batch is O(matched files), not O(|table|). Read the result with
    ``sources.snapshots.snapshot_read`` (time travel included).

    The row with the HIGHEST ``seq_col`` per key wins across batch and
    table, so an out-of-order micro-batch carrying lower sequence numbers
    than the table holds never regresses a key to stale state. Incoming
    wins seq ties, so replaying an already-applied batch is a content
    no-op, and each batch commits atomically or not at all: the idempotent
    sink exactly-once needs (SURVEY.md T2).

    A concurrent writer committing between a merge's state read and its
    manifest write makes the merge's rewrite plan stale; ``snapshot_merge``
    detects that and raises ``ConcurrentSnapshotError``. Each retry is a
    FULL recompute against the fresh manifest (pruning included), so the
    merge result is correct whatever the competing commit changed. After
    ``max_merge_retries`` stale attempts the batch fails — by then the table
    is under sustained multi-writer contention and crash-looping the stream
    is better signal than spinning.

    ``merge_mode="dv"`` lands each micro-batch with deletion-vector MERGE
    (beaten rows die by position, only the batch's survivors hit disk):
    per-batch write cost becomes O(batch) at ANY table file size — the
    sustainable shape for high-frequency streaming upserts against a
    100 TB silver table, with ``snapshot_compact(purge_dvs=True)`` as the
    scheduled companion.
    """
    from music_recommendation_service_spark.sources import snapshots

    def merge(batch: DataFrame, _batch_id: int) -> None:
        for attempt in range(max_merge_retries):
            try:
                snapshots.snapshot_merge(
                    batch, path, key_cols=key_cols, seq_col=seq_col,
                    mode=merge_mode,
                )
                return
            except snapshots.ConcurrentSnapshotError:
                if attempt == max_merge_retries - 1:
                    raise

    writer = (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Checkpointed append sink (S7 semantics on parquet; Delta when the
    package is present). availableNow drains everything pending then stops —
    the batch-backfill trigger; pass False for a continuous micro-batch job."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def snapshot_table_stream(
    spark: SparkSession,
    table_path: str,
    cdf: bool = False,
    starting_version: int | str | None = None,
    skip_change_commits: bool = False,
) -> DataFrame:
    """A snapshot table AS a streaming source — ``readStream.format(
    "snapshot")`` (sources/datasource.py) with the engine's option
    spelling. Default semantics are Delta's: initial snapshot of the
    current version, then one micro-batch slice per commit, exactly-once
    through the checkpointed offset log. ``cdf=True`` emits row-level
    ``_change_type``/``_commit_version`` changes instead of append-only
    rows (and accepts delete/rewrite commits an append stream must
    reject)."""
    from music_recommendation_service_spark.sources.datasource import (
        register_snapshot_datasource,
    )

    register_snapshot_datasource(spark)
    reader = spark.readStream.format("snapshot")
    if cdf:
        reader = reader.option("readChangeFeed", "true")
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    if skip_change_commits:
        reader = reader.option("skipChangeCommits", "true")
    return reader.load(table_path)


def maintain_on_commit(
    spark: SparkSession,
    source_path: str,
    maintain,
    checkpoint: str,
    available_now: bool = True,
    processing_time: str = "1 second",
) -> StreamingQuery:
    """Continuous view maintenance: watch ``source_path`` through the
    snapshot stream source and invoke ``maintain()`` (a closure over
    snapshot_maintain_aggregate / _join / _topk / the incremental-reco DAG)
    whenever new commits land — the PUSH composition of the round-7
    maintenance family, replacing cron-style polling.

    Layered exactly-once, by construction rather than coordination: the
    stream's checkpoint dedups commit NOTIFICATIONS, while the maintenance
    ops themselves consume the source's change feed through their own
    applied-version cursors — so a replayed or spurious trigger (including
    the initial-snapshot batch) is a no-op, and a trigger that observes N
    commits applies exactly those commits' changes. The micro-batch
    content is only a wake-up signal; nothing reads it.

    CDF mode with ``skipChangeCommits`` unset means delete/rewrite commits
    also wake the maintainer — necessary for views with delete folds."""
    stream = snapshot_table_stream(spark, source_path, cdf=True)

    def fire(batch: DataFrame, _batch_id: int) -> None:
        if not batch.isEmpty():
            maintain()

    writer = (
        stream.writeStream.foreachBatch(fire)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
