"""Structured Streaming ingest (the bronze hop) + optional stateful
sessionization.

Reference behavior reproduced (SURVEY.md §2.1 S1-S4, §2.8):
- Kafka source with earliest offsets, bounded offsets/trigger, tolerant
  of data loss (reference bronze_load_raw_data.py:65-72)
- schema-ful JSON decode of the Kafka value (:74-75)
- append-only, checkpointed, processing-time-triggered day-partitioned
  sink (:84-90) — the recovery unit is the checkpoint + atomic commit
- NO watermark/aggregation in the stream: the reference deliberately
  keeps the stream raw-append-only and sessionizes in batch
  (README issue #2); that split is the default here too.

``streaming_sessionize`` is the opt-in idiomatic-Spark EXTENSION the
reference chose not to ship: watermarked ``session_window`` gap
sessionization with the same rollup semantics as the batch operator
(operators/sessionize.py) — same gap parameter, same aggregate columns.

Scale notes: the bronze sink's only shuffle-free guarantee is worth
keeping — ingest is a narrow map (parse + project + partition column),
so throughput scales with Kafka partitions x executors. The extension
aggregation shuffles on (user, session_window) and holds state sized by
active sessions; the watermark bounds that state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from w_userflow_featurestore_spark.operators.sessionize import (
    DEFAULT_GAP_MS,
)


def read_event_stream(spark: SparkSession, *, format: str = "kafka",
                      path: str | None = None,
                      schema: StructType | str | None = None,
                      kafka_bootstrap: str | None = None,
                      topic: str | None = None,
                      max_offsets_per_trigger: int = 5000) -> DataFrame:
    """Streaming source. ``kafka`` mirrors the reference's options
    (earliest offsets, bounded batches, failOnDataLoss=false); ``parquet``
    / ``json`` file sources serve tests and replay (schema required)."""
    if format == "kafka":
        return (spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", kafka_bootstrap)
                .option("subscribe", topic)
                .option("startingOffsets", "earliest")
                .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
                .option("failOnDataLoss", "false")
                .load())
    if format in ("parquet", "json"):
        reader = spark.readStream.format(format)
        if schema is None:
            raise ValueError("file-source streams require an explicit schema")
        return reader.schema(schema).load(path)
    raise ValueError(f"unsupported stream format: {format!r}")


def parse_kafka_events(raw: DataFrame, schema: StructType | str) -> DataFrame:
    """Kafka value bytes -> typed rows: CAST + from_json + flatten
    (reference S2), plus the day partition column."""
    return (raw.selectExpr("CAST(value AS STRING) AS json")
               .select(F.from_json("json", schema).alias("data"))
               .select("data.*")
               .withColumn("datetime", F.to_date("ts")))


def bronze_ingest(events: DataFrame, path: str, checkpoint: str,
                  trigger_seconds: int | None = 30,
                  available_now: bool = False,
                  table_format: str = "parquet"):
    """Append-only day-partitioned bronze sink with checkpoint recovery
    (reference S4). ``available_now`` drains the source and stops —
    the test/backfill trigger.

    ``table_format="log"`` lands every micro-batch as ONE atomic
    LogTable append commit carrying the batch id as an idempotence
    token — the reference's Kafka->Iceberg hop semantics for real:
    checkpoint recovery may REPLAY the last micro-batch, and the token
    makes the replayed commit a no-op (exactly-once at the table), while
    each commit becomes a snapshot the silver LakehousePlanner reads
    incrementally (reference bronze_load_raw_data.py:84-90 +
    silver_user_session_events.py:67-76 as one pipeline)."""
    if "datetime" not in events.columns:
        events = events.withColumn("datetime", F.to_date("ts"))
    if table_format == "log":
        from w_userflow_featurestore_spark.sources.lakehouse import (
            LogTable,
        )

        def _sink(batch: DataFrame, batch_id: int) -> None:
            # ts stats in every commit manifest: the bronze table's
            # dominant read is a time-range scan, and file-level
            # min/max skips intra-day files partition dirs can't
            t = LogTable.create(batch.sparkSession, path, ["datetime"],
                                stats_columns=["ts"])
            t.append(batch, txn=f"bronze:{checkpoint}:{batch_id}")

        writer = (events.writeStream.foreachBatch(_sink)
                  .option("checkpointLocation", checkpoint))
    else:
        writer = (events.writeStream
                  .format("parquet")
                  .outputMode("append")
                  .option("checkpointLocation", checkpoint)
                  .option("path", path)
                  .partitionBy("datetime"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def debug_sink(events: DataFrame, *, num_rows: int = 20,
               truncate: bool = False, available_now: bool = True,
               query_name: str = "debug_console"):
    """Console debug sink (reference S3): the dev-only side stream the
    reference attaches next to its bronze writer —
    ``writeStream.format("console"), truncate=false``
    (bronze_load_raw_data.py:79-82). Rows print to driver stdout; no
    checkpoint, no state — NEVER the durable path (that is
    :func:`bronze_ingest`). Kept inspectable rather than dropped so the
    §2 surface is complete; defaults drain-and-stop
    (``availableNow``) so a test or an operator poking at a live
    pipeline gets one bounded dump instead of a runaway printer.

    Reference quirk NOT reproduced: the reference awaits the console
    query BEFORE its Iceberg query (``:92-93``), making line 93
    unreachable — callers here get the handle back and choose what to
    await."""
    writer = (events.writeStream.format("console")
              .outputMode("append")
              .queryName(query_name)
              .option("numRows", str(num_rows))
              .option("truncate", str(truncate).lower()))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(events: DataFrame, gap_ms: int = DEFAULT_GAP_MS,
                         watermark: str = "10 minutes",
                         ts_col: str = "ts",
                         user_col: str = "user_id") -> DataFrame:
    """Watermarked session_window sessionization (EXTENSION — the
    reference's batch re-aggregation stays the compatible default).

    Same grouping semantics as the batch gaps-and-islands operator: two
    events of one user belong to one session iff chained by gaps <=
    ``gap_ms``. Produces the same rollup columns; session identity is
    (user_id, window.start) instead of a synthetic id.
    """
    # milliseconds verbatim: flooring to whole seconds silently moved
    # session boundaries vs the batch operator for any gap not a
    # multiple of 1000 (and produced an invalid '0 seconds' below 1s)
    gap = f"{gap_ms} milliseconds"
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.col(user_col),
                     F.session_window(F.col(ts_col), gap).alias("sw"))
            .agg(F.min(ts_col).alias("start_time"),
                 F.max(ts_col).alias("end_time"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.min_by("event_type", ts_col).alias("entry_event_type"),
                 F.max("value").alias("max_value"))
            .select(user_col, "start_time", "end_time", "n_events",
                    "entry_event_type", "max_value"))


def streaming_window_counts(events: DataFrame, size: str = "1 hour",
                            watermark: str = "10 minutes",
                            ts_col: str = "ts",
                            dim_col: str = "event_type") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming form of
    ``operators.temporal.tumbling_window_counts`` (same groupBy(window,
    dim) plan; the watermark both bounds state and defines the late-data
    drop: an event older than max(ts)-watermark at arrival is discarded
    instead of reopening its finalized window). Append mode emits a
    window only once the watermark passes its end — exactly-once per
    window, idempotent downstream."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, size).alias("w"), F.col(dim_col))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("value").alias("max_value"))
            .select(F.col("w.start").alias("window_start"),
                    dim_col, "n_events", "max_value"))


def stream_upsert(events: DataFrame, path: str, checkpoint: str, *,
                  keys: list[str], partition_by: list[str],
                  transform=None, trigger_seconds: int | None = 30,
                  available_now: bool = False):
    """MERGE-INTO as a streaming sink: ``foreachBatch`` applies an
    optional batch ``transform`` (e.g. dedup/sessionize/classify) to
    each micro-batch, then upserts it into the day-partitioned parquet
    target on ``keys`` via :func:`~...sources.parquet.merge_upsert`.

    This is the reference's Silver loop (stage + MERGE every 10 minutes,
    silver_user_session_events.py:146-186) collapsed into the stream:
    the micro-batch replaces the Airflow tick. End-to-end idempotence
    holds for the same reason the reference's does — the merge converges
    per key, so a replayed batch (checkpoint recovery re-delivers the
    last uncommitted micro-batch) rewrites the same rows to the same
    values. At scale the merge rewrites only the partitions a batch
    touches, so steady-state cost tracks batch size, not table size.
    """
    from w_userflow_featurestore_spark.sources.parquet import merge_upsert

    def _sink(batch: DataFrame, _batch_id: int) -> None:
        if transform is not None:
            batch = transform(batch)
        if not batch.isEmpty():
            merge_upsert(batch.sparkSession, path, batch,
                         keys, partition_by)

    writer = (events.writeStream
              .foreachBatch(_sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def streaming_dedup(events: DataFrame, key_cols: list[str] | None = None,
                    ts_col: str = "ts",
                    watermark: str = "10 minutes") -> DataFrame:
    """In-stream event dedup — the streaming twin of batch D1
    (cleanse.dedup_latest; reference silver_user_session_events.py:87-92).

    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival of each
    key and drops re-deliveries while the key is inside the watermark —
    exactly the at-least-once replay window of a Kafka source, which is
    where duplicate event_ids come from (re-delivered payloads are
    byte-identical, so first-arrival == latest-by-ts in content and the
    batch D1 result matches). Unlike a bare streaming dropDuplicates,
    state is BOUNDED by the watermark instead of growing with every key
    ever seen — the difference between O(replay window) and O(stream
    lifetime) state at scale."""
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(key_cols or ["event_id"]))


def streaming_drift_monitor(events: DataFrame, table_path: str,
                            checkpoint: str, *,
                            dim_col: str = "event_type",
                            ts_col: str = "ts",
                            trigger_seconds: int | None = 30,
                            available_now: bool = False,
                            compact_every: int | None = 16):
    """Ingest-health monitoring as a streaming job: each micro-batch
    appends its (datetime, category, n) count DELTAS to an append-only
    LogTable ledger with a per-batch txn token — checkpoint recovery
    re-delivers the last unacknowledged batch, and the token makes the
    replayed append a no-op, so counts are exactly-once at the table
    (the same protocol as the bronze sink). ``read_drift`` then sums
    the deltas and runs the batch drift core, so the monitor's numbers
    are IDENTICAL to running operators/temporal.distribution_drift
    over the full event history — no separate streaming math to trust.

    Scale: each delta append is O(|dim| x days-in-batch) rows; the
    ledger grows one tiny file per batch. Every ``compact_every``
    batches the sink rolls the accumulated deltas up into their
    group-sum in ONE atomic ``LogTable.rewrite`` commit
    (``streaming_novelty_monitor``'s discipline): the summed view is
    unchanged by construction (sum of sums), so ``read_drift``'s
    numbers are untouched, while physical rows stay bounded by
    |days| x |categories| + the deltas since the last roll-up and file
    count by ~``compact_every`` + 1 — without it both grow with stream
    LIFETIME, one tiny file and |dim|-rows per batch forever. A
    checkpoint-recovery replay of a roll-up batch re-runs the rewrite
    on already-summed content — an identical-rows replace commit,
    idempotent where it matters. ``compact_every=None`` disables the
    roll-up for deployments running ``LogTable.compact``/rewrite
    out-of-band. The stream itself carries no state — aggregation
    happens inside foreachBatch on the batch frame, so there is no
    unbounded streaming-state store.
    """
    from w_userflow_featurestore_spark.sources import LogTable

    def _sink(batch: DataFrame, batch_id: int) -> None:
        inc = (batch.groupBy(F.to_date(F.col(ts_col)).alias("datetime"),
                             F.col(dim_col).alias("category"))
                    .agg(F.count(F.lit(1)).cast("long").alias("n")))
        if not inc.isEmpty():
            t = LogTable.create(batch.sparkSession, table_path, [])
            t.append(inc, txn=f"drift:{checkpoint}:{batch_id}")
            if compact_every and (batch_id + 1) % compact_every == 0:
                # roll-up: deltas -> their group-sum, one replace commit
                # against the snapshot it summed
                base = t.latest_snapshot_id()
                t.rewrite(read_drift_ledger(batch.sparkSession, table_path,
                                            base),
                          expected_base=base)

    writer = (events.writeStream
              .foreachBatch(_sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def read_drift_ledger(spark: SparkSession, table_path: str,
                      snapshot_id: int | None = None) -> DataFrame:
    """(datetime, category, n) counts over a ``streaming_drift_monitor``
    delta table at ``snapshot_id`` (default: latest): sum the per-batch
    deltas — equals one groupBy-count over the ingested event history."""
    from w_userflow_featurestore_spark.sources import LogTable
    return (LogTable(spark, table_path).read(snapshot_id)
            .groupBy("datetime", "category")
            .agg(F.sum("n").cast("long").alias("n")))


def read_drift(spark: SparkSession, table_path: str,
               threshold_micro: int = 100_000) -> DataFrame:
    """Current drift view over a ``streaming_drift_monitor`` ledger:
    sum the count deltas per (day, category), then the exact batch
    drift core (operators/temporal.drift_from_daily_counts)."""
    from w_userflow_featurestore_spark.operators.temporal import (
        drift_from_daily_counts,
    )
    from w_userflow_featurestore_spark.sources import LogTable

    return drift_from_daily_counts(LogTable(spark, table_path).read(),
                                   threshold_micro)


def streaming_scd2(events: DataFrame, table_path: str, checkpoint: str, *,
                   key_col: str = "user_id", ts_col: str = "ts",
                   attr_col: str = "event_type",
                   tiebreak_col: str = "event_id",
                   trigger_seconds: int | None = 30,
                   available_now: bool = False):
    """Maintain an SCD Type-2 validity-interval LogTable from a stream
    — Delta Live Tables' APPLY CHANGES ... STORED AS SCD TYPE 2, on
    this engine's own table format.

    Each micro-batch folds into the interval table via
    operators/scd.scd2_apply_batch: continuing values extend the open
    interval, changed values close it and open the next version, all
    as ONE transactional merge per batch carrying a per-batch txn
    token — checkpoint recovery re-delivers the last unacknowledged
    batch and the token makes the replayed merge a no-op (re-APPLYING
    a multi-run batch would corrupt intervals, so exactly-once here is
    load-bearing, not cosmetic). The maintained table is byte-equal to
    running operators/scd.scd2_history over the full event history
    (equivalence-tested), so consumers point AS-OF joins at it without
    trusting separate streaming math.

    The stream carries no state store at all — per-key state IS the
    table's is_current rows, read back per batch via a key semi-join.
    """
    from w_userflow_featurestore_spark.operators.scd import (
        scd2_apply_batch,
    )
    from w_userflow_featurestore_spark.sources import LogTable

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        t = LogTable.create(batch.sparkSession, table_path, [])
        scd2_apply_batch(t, batch, key_col, ts_col, attr_col,
                         tiebreak_col,
                         txn=f"scd2:{checkpoint}:{batch_id}")

    writer = (events.writeStream
              .foreachBatch(_sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def parse_with_dead_letter(raw: DataFrame, schema: StructType | str,
                           required: tuple[str, ...] = ("event_id", "ts"),
                           ) -> tuple[DataFrame, DataFrame]:
    """parse_kafka_events with a dead-letter split: returns
    ``(valid, dead)`` where ``valid`` is the typed flattened stream
    (exactly parse_kafka_events' shape) and ``dead`` carries the RAW
    payload plus a reason — ``unparseable`` (from_json returned null:
    malformed JSON / wrong root type) or ``missing:<col>`` (parsed but
    a required key is absent) — so bad producer payloads land in a
    quarantine table instead of silently becoming null rows or
    poisoning downstream null-key drops.

    Pure transformation (one projection, no shuffle): works identically
    on a batch frame and a streaming frame, so the batch test IS the
    streaming semantics (the wire-schema plan-equivalence discipline).
    Route ``dead`` to an append sink (LogTable DLQ) and replay after
    the producer fix — payloads pass through byte-faithful.
    """
    # PERMISSIVE from_json yields an all-null row (not a null struct)
    # for malformed input, so detection needs the corrupt-record column
    # contract: an extra field that from_json fills with the raw text
    # exactly when parsing failed.
    if isinstance(schema, str):
        full = schema + ", _corrupt string"
    else:
        from pyspark.sql.types import StringType, StructField
        # StructType.add MUTATES (and returns) self — build a fresh
        # StructType so the caller's schema object stays untouched
        full = StructType(list(schema.fields)
                          + [StructField("_corrupt", StringType())])
    parsed = (raw.selectExpr("CAST(value AS STRING) AS _json")
                 .withColumn("_data", F.from_json(
                     "_json", full,
                     {"columnNameOfCorruptRecord": "_corrupt"})))
    # unparseable covers: corrupt-record capture (malformed JSON),
    # NULL payloads (Kafka tombstones -> NULL _json), and JSON whose
    # root is literal null (from_json yields a NULL struct, which the
    # corrupt column does NOT flag)
    bad_json = (F.col("_data._corrupt").isNotNull()
                | F.col("_json").isNull() | F.col("_data").isNull())
    ok = ~bad_json
    for c in required:
        ok = ok & F.col(f"_data.{c}").isNotNull()
    valid = (parsed.where(ok)
                   .select("_data.*").drop("_corrupt")
                   .withColumn("datetime", F.to_date("ts")))
    reason = F.when(bad_json, F.lit("unparseable"))
    for c in required:
        reason = reason.when(F.col(f"_data.{c}").isNull(),
                             F.lit(f"missing:{c}"))
    dead = (parsed.where(~F.coalesce(ok, F.lit(False)))
                  .select(F.col("_json").alias("payload"),
                          reason.alias("reason")))
    return valid, dead


def streaming_attribution(purchases: DataFrame, clicks: DataFrame,
                          window: str = "30 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """Watermarked STREAM-STREAM left-outer join: each purchase joined
    to the user's clicks within the lookback ``window`` — the
    candidate-generation half of last-touch attribution (the batch
    ``attribution`` query then picks the latest touch; a stream-stream
    join cannot rank within the frame, so ranking belongs downstream
    in foreachBatch or the batch layer).

    Both sides carry event-time watermarks and the join predicate
    carries the time-range constraint — the two conditions Spark needs
    to BOUND the join state store: a click's state is dropped once the
    purchase watermark passes click_ts + window, so state is
    O(replay window x click rate), not stream lifetime. Unmatched
    purchases emit with NULL click columns when the watermark closes
    their window (left-outer stream-stream semantics).
    """
    p = purchases.withWatermark("ts", watermark)
    c = (clicks.select(F.col("user_id").alias("c_user_id"),
                       F.col("ts").alias("click_ts"),
                       F.col("event_id").alias("click_event_id"))
               .withWatermark("click_ts", watermark))
    cond = (
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("ts"))
        & (F.col("click_ts") >= F.col("ts") - F.expr(f"interval {window}"))
    )
    return (p.join(c, cond, "leftOuter")
             .drop("c_user_id"))


def streaming_novelty_monitor(docs: DataFrame, scores_path: str,
                              ledger_path: str, checkpoint: str, *,
                              n: int = 3, id_col: str = "doc_id",
                              text_col: str = "text",
                              trigger_seconds: int | None = 30,
                              available_now: bool = False,
                              compact_every: int | None = 16):
    """Novelty scoring as a streaming job — the crawl-intake form of
    ``operators/dedup.incremental_novelty``: each micro-batch is scored
    against the corpus HISTORY (everything ingested by prior batches),
    the scores land in an append-only LogTable, and the batch's own
    shingle-df counts append to a DELTA ledger. Both appends carry a
    per-batch txn token, so checkpoint recovery's re-delivered batch is
    a no-op at both tables — exactly-once without a pointer protocol.

    The ledger is stored as additive DELTAS (one tiny file per batch,
    ``streaming_drift_monitor``'s discipline): per-doc-distinct shingle
    counts sum across disjoint batches, so the CURRENT ledger is one
    group-sum over the delta table (:func:`read_streaming_novelty_ledger`)
    and equals ``shingle_ledger`` over the full ingested history —
    batch-vs-stream parity is tested, not trusted. Scores are computed
    BEFORE the batch's delta lands, so a document is never compared
    against itself twice (the score-then-ingest order the batch runner
    documents).

    ROLL-UP COMPACTION (round-9 ADVICE: without it, per-batch cost and
    file count grow unboundedly with stream lifetime): every
    ``compact_every`` batches the sink replaces the accumulated delta
    rows with their group-sum in ONE atomic ``LogTable.rewrite``
    commit — the summed view is unchanged by construction (sum of
    sums), so scoring semantics are untouched, while ledger rows are
    bounded by |distinct shingles| + the deltas since the last roll-up
    and file count by ~``compact_every`` + 1. A checkpoint-recovery
    replay of a roll-up batch re-runs the rewrite on already-summed
    content — an extra replace commit with identical rows, idempotent
    where it matters. ``compact_every=None`` disables the roll-up for
    deployments running ``LogTable.compact``/rewrite out-of-band.
    """
    from w_userflow_featurestore_spark.operators.dedup import (
        incremental_novelty, shingle_ledger,
    )
    from w_userflow_featurestore_spark.sources import LogTable

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # one derivation feeds the scoring AND the delta append
        batch = batch.select(F.col(id_col), F.col(text_col)) \
            .localCheckpoint(eager=True)
        # zero-commit guard: a crash between LogTable.create() and the
        # first ledger append leaves _txn_log present but empty — on
        # checkpoint replay is_log_table() alone would route into
        # read() and raise 'has no commits' on EVERY retry, wedging
        # the stream permanently (runner.py's ledger readers guard
        # this same state)
        if (LogTable.is_log_table(ledger_path)
                and LogTable(spark, ledger_path)
                        .latest_snapshot_id() is not None):
            led = read_streaming_novelty_ledger(spark, ledger_path)
        else:
            led = spark.createDataFrame([], "sh long, n_docs long")
        scores = (incremental_novelty(batch, led, n, text_col, id_col)
                  .withColumn("batch_id",
                              F.lit(batch_id).cast("long")))
        st = LogTable.create(spark, scores_path, [])
        st.append(scores, txn=f"nov-scores:{checkpoint}:{batch_id}")
        lt = LogTable.create(spark, ledger_path, [])
        lt.append(shingle_ledger(batch, n, text_col, id_col),
                  txn=f"nov-ledger:{checkpoint}:{batch_id}")
        if compact_every and (batch_id + 1) % compact_every == 0:
            # roll-up: deltas -> their group-sum, one replace commit
            # against the snapshot it summed
            base = lt.latest_snapshot_id()
            lt.rewrite(read_streaming_novelty_ledger(spark, ledger_path,
                                                     base),
                       expected_base=base)

    writer = (docs.writeStream
              .foreachBatch(_sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def read_streaming_novelty_ledger(spark: SparkSession, ledger_path: str,
                                  snapshot_id: int | None = None
                                  ) -> DataFrame:
    """Shingle-df ledger view over a ``streaming_novelty_monitor`` delta
    table at ``snapshot_id`` (default: latest): sum the per-batch
    deltas — equals ``shingle_ledger`` over everything ingested."""
    from w_userflow_featurestore_spark.sources import LogTable
    return (LogTable(spark, ledger_path).read(snapshot_id)
            .groupBy("sh")
            .agg(F.sum("n_docs").cast("long").alias("n_docs")))
