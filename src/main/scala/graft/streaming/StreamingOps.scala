package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.{QueryDef, QueryModule, Tables}

/** Structured Streaming coverage (SURVEY.md §2.9): file source →
  * event-time windowed aggregation with watermark, streaming
  * deduplication, and arbitrary stateful processing via
  * `mapGroupsWithState` (the modern replacement for the reference's
  * DStream `updateStateByKey`/`mapWithState`,
  * `streaming/.../PairDStreamFunctions.scala:380-475`).
  *
  * Each query drives a real micro-batch execution (`MicroBatchExecution`,
  * reference `StreamExecution.scala:217 runBatches`) over the events table
  * replayed through the parquet file source, lands in a memory sink, and
  * returns the final table — so the driver's DuckDB oracle checks the
  * *streaming* result against the batch-SQL answer (stream/batch
  * consistency, the core Structured Streaming contract).
  *
  * Scale: state lives in the executor state store (RocksDB/HDFS-backed in
  * production); watermarks bound it. Complete mode is used only where the
  * result cardinality is small (per-type hourly counts).
  */
object StreamingOps extends QueryModule {

  /** events replayed as a stream: same ts normalization as the batch
    * reader (Tables.normalizeEventTs). */
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    Tables.normalizeEventTs(
      s.readStream.schema(Tables.schema(s, d, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
  }

  private def runToTable(s: SparkSession, df: DataFrame, mode: OutputMode,
      name: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  /** Tumbling event-time window + watermark; complete mode to a memory
    * sink. Window starts align to the hour ⇒ oracle via date_trunc. */
  val qHourly: QueryDef = QueryDef(
    "q90_stream_hourly_counts",
    (s, d) => {
      import s.implicits._
      val agg = eventStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,6)")).cast("double").as("total_value"))
      runToTable(s, agg, OutputMode.Complete, "graft_stream_hourly")
        .select($"window.start".as("wstart"), $"event_type", $"n", $"total_value")
        .orderBy($"wstart", $"event_type")
    },
    Some("""
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Streaming deduplication (`dropDuplicates` on the stream) feeding an
    * aggregate — result must equal batch COUNT(DISTINCT). */
  val qDedup: QueryDef = QueryDef(
    "q91_stream_dedup_users",
    (s, d) => {
      import s.implicits._
      val deduped = eventStream(s, d)
        .select($"user_id")
        .dropDuplicates("user_id")
        .groupBy().agg(count(lit(1)).as("n_users"))
      runToTable(s, deduped, OutputMode.Complete, "graft_stream_dedup")
    },
    Some("SELECT COUNT(DISTINCT user_id) AS n_users FROM events"))

  /** Arbitrary stateful op: per-user running event count via
    * mapGroupsWithState (update mode). The memory sink accumulates one row
    * per (user, batch); max(n) per user is the final state — equal to the
    * batch group count. */
  val qStateful: QueryDef = QueryDef(
    "q92_stream_stateful_counts",
    (s, d) => {
      import s.implicits._
      val counted = eventStream(s, d)
        .select($"user_id").as[Long]
        .groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            (user, n)
        }
        .toDF("user_id", "n_events")
      runToTable(s, counted, OutputMode.Update, "graft_stream_stateful")
        .groupBy($"user_id").agg(max($"n_events").as("n_events"))
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Sliding event-time windows (1 h window, 30 min slide) — each event
    * lands in two windows (reference `TimeWindowing` rule expands to
    * Expand+Filter); oracle enumerates both buckets per event. */
  val qSliding: QueryDef = QueryDef(
    "q135_stream_sliding_window",
    (s, d) => {
      import s.implicits._
      val agg = eventStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
      runToTable(s, agg, OutputMode.Complete, "graft_stream_sliding")
        .select($"window.start".as("wstart"), $"n")
        .orderBy($"wstart")
    },
    Some("""
      SELECT wstart, COUNT(*) AS n FROM (
        SELECT TIMESTAMP '1970-01-01 00:00:00'
            + ((CAST(floor(epoch(ts) / 1800) AS BIGINT) - x.k) * 1800)
              * INTERVAL 1 SECOND AS wstart, ts
        FROM events
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) x)
      WHERE epoch(wstart) + 3600 > epoch(ts) AND epoch(wstart) <= epoch(ts)
      GROUP BY wstart ORDER BY wstart"""))

  /** File sink with checkpointed exactly-once semantics (reference
    * `sql/core/.../execution/streaming/FileStreamSink.scala`: the sink's
    * transaction log records committed batch ids, so a restarted query
    * neither re-writes nor double-counts). The query runs TWICE against
    * the same checkpoint — the second AvailableNow run replays the offset
    * log, finds nothing new, and commits nothing — and the oracle then
    * checks the read-back equals exactly ONE copy of the batch answer.
    * That read path also exercises the sink's `_spark_metadata` log (the
    * batch reader lists committed files through it, not the directory). */
  val qFileSink: QueryDef = QueryDef(
    "q165_stream_file_sink",
    (s, d) => {
      import s.implicits._
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"),
        s"graft_filesink_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      base.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(base, true)
      val out = new org.apache.hadoop.fs.Path(base, "data").toString
      val ckpt = new org.apache.hadoop.fs.Path(base, "ckpt").toString
      def runOnce(): Unit = {
        val q = eventStream(s, d)
          .select($"event_type", $"value")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce()
      runOnce() // restart from checkpoint: no new data, no duplicates
      s.read.parquet(out)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** flatMapGroupsWithState — the many-rows-per-group sibling of q92's
    * mapGroupsWithState (the full replacement surface for the reference's
    * DStream `updateStateByKey`, `PairDStreamFunctions.scala:397`): state
    * carries (count, exact-decimal sum) per user and each batch emits the
    * updated totals. Decimal state keeps the emitted sum independent of
    * row order within and across batches, so the streaming result
    * hash-matches the batch oracle. */
  val qFlatMapGroups: QueryDef = QueryDef(
    "q173_stream_flatmapgroups",
    (s, d) => {
      import s.implicits._
      val updated = eventStream(s, d)
        .select($"user_id", $"value").as[(Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Double)],
              state: GroupState[(Long, BigDecimal)]) =>
            var (n, sum) = state.getOption.getOrElse((0L, BigDecimal(0)))
            rows.foreach { r =>
              n += 1
              sum += BigDecimal(r._2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            }
            state.update((n, sum))
            Iterator((user, n, sum.toDouble))
        }
        .toDF("user_id", "n_events", "sum_value")
      // One row per (user, batch) lands in the sink; the final state per
      // user is the row with the largest n_events.
      runToTable(s, updated, OutputMode.Update, "graft_stream_fmg")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"sum_value")).as("m"))
        .select($"user_id", $"m.n_events".as("n_events"),
          $"m.sum_value".as("sum_value"))
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** State-store READER (Spark 4's `statestore` batch source,
    * `execution/datasources/v2/state/StateDataSource`): a streaming
    * per-user count runs against a checkpoint, then the operator's state
    * is read BACK as a DataFrame straight from the checkpoint files — no
    * re-run of the stream — and hash-checked against the batch answer.
    * This is the state-debugging/repair/migration surface a production
    * streaming user needs (inspect a live pipeline's state, bootstrap a
    * replacement query from it via transformWithState initial state,
    * audit skew across `partition_id`). Scale: the reader plans one
    * split per state-store partition, so a 200-partition stateful job
    * reads as 200 parallel tasks; no stream replay, no shuffle. */
  val qStateStoreRead: QueryDef = QueryDef(
    "q230_statestore_reader",
    (s, d) => {
      import s.implicits._
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"),
        s"graft_statestore_${d.replaceAll("[^A-Za-z0-9]", "_")}")
      base.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(base, true)
      val ckpt = new org.apache.hadoop.fs.Path(base, "ckpt").toString
      val agg = eventStream(s, d)
        .groupBy($"user_id").agg(count(lit(1)).as("n_events"))
      val q = agg.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("graft_statestore_sink")
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      // The aggregation state lives in operator 0's default store; `key`
      // is the grouping struct, `value` the agg buffer (single count).
      s.read.format("statestore").option("path", ckpt).load()
        .select($"key.user_id", $"value.*")
        .toDF("user_id", "n_events")
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** `dropDuplicatesWithinWatermark` (SPARK-42931): dedup whose state
    * EXPIRES — unlike q91's `dropDuplicates`, whose per-key state lives
    * forever, this keeps a key only `withWatermark` long after its last
    * sighting, which is the only dedup a 24/7 stream can afford (state is
    * bounded by the delay window, not by lifetime key cardinality). The
    * whole events file replays inside one micro-batch here, so every
    * duplicate is inside the window and the result equals batch
    * DISTINCT — the stream/batch consistency the API contracts. */
  val qDedupWatermark: QueryDef = QueryDef(
    "q233_stream_dedup_watermark",
    (s, d) => {
      import s.implicits._
      val deduped = eventStream(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id")
        .select($"user_id")
      runToTable(s, deduped, OutputMode.Append, "graft_stream_dedup_wm")
        .groupBy($"user_id").agg(count(lit(1)).as("n_emitted"))
        .orderBy($"user_id")
    },
    Some("""
      SELECT DISTINCT user_id, CAST(1 AS BIGINT) AS n_emitted
      FROM events ORDER BY user_id"""))

  override def defs: Seq[QueryDef] =
    Seq(qHourly, qDedup, qStateful, qSliding, qFileSink, qFlatMapGroups,
      qStateStoreRead, qDedupWatermark)
}
