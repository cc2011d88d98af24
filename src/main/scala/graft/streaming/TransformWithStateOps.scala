package graft.streaming

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState,
  OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TimeMode,
  TimerValues, TTLConfig, ValueState}

import graft.{Confs, QueryDef, QueryModule, Tables}

/** `transformWithState` — Spark 4's arbitrary-stateful-processing API
  * (the successor of q92/q173's `mapGroupsWithState`/
  * `flatMapGroupsWithState`, and the modern endpoint of the lineage that
  * starts at the reference's DStream `updateStateByKey`/`mapWithState`,
  * `streaming/.../PairDStreamFunctions.scala:380-475`): a long-lived
  * [[StatefulProcessor]] object per key with NAMED, independently-typed
  * state variables (ValueState/ListState/MapState, optional TTL, timers)
  * instead of one opaque state value.
  *
  * Scale shape: state is partitioned by grouping key across executors and
  * lives in the RocksDB state store (transformWithState requires the
  * RocksDB provider — enforced by Spark, scoped here via Confs), so
  * per-key state is off-heap and bounded by disk, not executor memory;
  * each micro-batch shuffles only that batch's rows. The exact-decimal
  * accumulator mirrors the q92 pattern so the streaming total is
  * bit-identical to the batch oracle at any scale factor.
  */
object TransformWithStateOps extends QueryModule {

  /** Per-user event count + exact-decimal value total in two named
    * ValueStates. Emits the running (count, total) after each batch;
    * the final state row per user equals the batch group-by. */
  class UserTotalsProcessor
      extends StatefulProcessor[Long, (Long, JBigDecimal), (Long, Long, JBigDecimal)] {
    @transient private var nState: ValueState[Long] = _
    @transient private var sumState: ValueState[JBigDecimal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      sumState = getHandle.getValueState[JBigDecimal]("sum", Encoders.DECIMAL, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, JBigDecimal)],
        timerValues: TimerValues): Iterator[(Long, Long, JBigDecimal)] = {
      var n = if (nState.exists()) nState.get() else 0L
      var total = if (sumState.exists()) sumState.get() else JBigDecimal.ZERO
      rows.foreach { r => n += 1; total = total.add(r._2) }
      nState.update(n)
      sumState.update(total)
      Iterator.single((key, n, total))
    }
  }

  /** Per-user MapState keyed by event_type — the "named sub-key" shape
    * that mapGroupsWithState forces into one monolithic value. Used by
    * TransformWithStateSpec; emits (user, type, count) updates. */
  class PerTypeCountProcessor
      extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long](
        "perType", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val t = r._2
        counts.updateValue(t, (if (counts.containsKey(t)) counts.getValue(t) else 0L) + 1L)
        touched += t
      }
      touched.iterator.map(t => (key, t, counts.getValue(t)))
    }
  }

  /** UserTotalsProcessor with BATCH-BOOTSTRAPPED state
    * (StatefulProcessorWithInitialState): the migration path for moving a
    * standing aggregate into a stream — seed each key's state from a
    * batch Dataset (a parquet snapshot of historical totals), then
    * resume counting increments. handleInitialState runs once per seeded
    * key before any input rows; keys absent from the seed start cold.
    * Used by TransformWithStateSpec. */
  class BootstrappedTotalsProcessor
      extends StatefulProcessorWithInitialState[
        Long, (Long, JBigDecimal), (Long, Long, JBigDecimal), (Long, JBigDecimal)] {
    @transient private var nState: ValueState[Long] = _
    @transient private var sumState: ValueState[JBigDecimal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      sumState = getHandle.getValueState[JBigDecimal]("sum", Encoders.DECIMAL, TTLConfig.NONE)
    }

    override def handleInitialState(key: Long, initialState: (Long, JBigDecimal),
        timerValues: TimerValues): Unit = {
      nState.update(initialState._1)
      sumState.update(initialState._2)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, JBigDecimal)],
        timerValues: TimerValues): Iterator[(Long, Long, JBigDecimal)] = {
      var n = if (nState.exists()) nState.get() else 0L
      var total = if (sumState.exists()) sumState.get() else JBigDecimal.ZERO
      rows.foreach { r => n += 1; total = total.add(r._2) }
      nState.update(n)
      sumState.update(total)
      Iterator.single((key, n, total))
    }
  }

  /** Gap-based sessionization with EVENT-TIME TIMERS: event times
    * accumulate in a ListState; each batch re-arms one timer at
    * max(event time)+gap, and when the watermark passes it,
    * `handleExpiredTimer` emits the closed session (count + duration)
    * and clears the key's state. This is the custom form of q139's
    * built-in session_window — the shape to reach for when session
    * close needs side outputs or non-time close conditions. State per
    * key is one list + one timer; both vanish at session close, so
    * steady-state store size tracks OPEN sessions only. Used by
    * TransformWithStateSpec. */
  class SessionGapProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long, Long)] {
    @transient private var times: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      times = getHandle.getListState[Long]("times", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      rows.foreach(r => times.appendValue(r._2.getTime))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(times.get().max + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      val ts = times.get().toList
      times.clear()
      Iterator.single((key, ts.size.toLong, ts.max - ts.min))
    }
  }

  /** events replayed through the file source → per-user running totals
    * via transformWithState (update mode, RocksDB provider scoped). The
    * memory sink accumulates one row per (user, batch); max_by picks the
    * final state, which must equal the batch aggregate. */
  val qTransformWithState: QueryDef = QueryDef(
    "q212_stream_transform_with_state",
    (s, d) => {
      import s.implicits._
      val batchSchema = Tables.schema(s, d, "events")
      Confs.withValues(s,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val updates = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(d)
          .select($"user_id", $"value".cast("decimal(18,6)").as("v"))
          .as[(Long, JBigDecimal)]
          .groupByKey(_._1)
          .transformWithState(new UserTotalsProcessor, TimeMode.None(), OutputMode.Update)
          .toDF("user_id", "n_events", "total_value")
        val q = updates.writeStream.outputMode(OutputMode.Update)
          .format("memory").queryName("graft_tws").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_tws")
        .groupBy($"user_id")
        .agg(max($"n_events").as("n_events"),
          expr("max_by(total_value, n_events)").as("tv"))
        .select($"user_id", $"n_events", $"tv".cast("double").as("total_value"))
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY user_id ORDER BY user_id"""))

  override def defs: Seq[QueryDef] = Seq(qTransformWithState)
}
