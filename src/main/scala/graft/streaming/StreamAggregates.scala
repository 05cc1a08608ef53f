package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Streaming aggregation surfaces beyond the ingest chain: watermarked
  * event-time windows and explicit keyed state via mapGroupsWithState.
  *
  * The reference needs neither (its pipeline is a stateless full refresh
  * per run — SURVEY §2.9 T5); these are the north-star streaming operators
  * a general engine must offer. Both run identically under
  * `Trigger.AvailableNow` micro-batches and a continuous trigger.
  */
object StreamAggregates {

  /** Event-time tumbling-window counts with a watermark: late rows beyond
    * the delay are dropped and window state is reclaimed — the bounded-state
    * shape that survives unbounded streams. */
  def windowedTypeCounts(
      events: DataFrame, windowLen: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  case class SessionOut(
      user_id: Long, session_idx: Long, n_events: Long,
      start_us: Long, end_us: Long,
      duration_secs: Double, distinct_event_types: Long)

  /** Gap-based sessionization as a streaming operator: per-user event
    * groups sessionized inside flatMapGroupsWithState (sort by event time,
    * cut at >6h gaps — identical rule to the batch
    * [[graft.queries.Temporal.sessionize]]). Event times travel as
    * epoch-MICROS longs end to end (java.sql.Timestamp.getTime is
    * ms-truncated and would corrupt sub-ms parity with the unix_micros
    * batch twin). Under a bounded Trigger.AvailableNow backfill each key's
    * history arrives within the pass, so every session is emitted; an
    * unbounded deployment would keep the open tail session in GroupState
    * and emit it on timeout — the state slot is reserved but unused in the
    * bounded path. */
  def sessionized(
      events: Dataset[(Long, Long, Long, String)],
      gapUs: Long = 6L * 3600 * 1000000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         _: GroupState[Long]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          if (sorted.isEmpty) Iterator.empty
          else {
            // session index assignment (1-based, matching the batch twin's
            // running sum of boundary flags)
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var idx = 0L
            var buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
            def flush(): Unit = if (buf.nonEmpty) {
              val start = buf.head._2; val end = buf.last._2
              out += SessionOut(user, idx, buf.size.toLong, start, end,
                (end - start) / 1e6,
                buf.map(_._4).distinct.size.toLong)
              buf = scala.collection.mutable.ArrayBuffer.empty
            }
            var prevUs = Long.MinValue
            sorted.foreach { r =>
              if (prevUs == Long.MinValue || r._2 - prevUs > gapUs) { flush(); idx += 1 }
              buf += r
              prevUs = r._2
            }
            flush()
            out.iterator
          }
      }
  }

  case class TwsTotal(user_id: Long, events: Long, q_sum: Long)

  /** Spark 4's arbitrary-state API ([[org.apache.spark.sql.streaming.StatefulProcessor]]
    * / `transformWithState` — the successor to mapGroupsWithState): per-user
    * running (count, quantized value sum) held in two typed ValueStates,
    * snapshot emitted per key per micro-batch in update mode. Requires the
    * RocksDB state-store provider (changelog-capable stores are the
    * operator's contract; the gate runner in [[StreamGate]] sets it for
    * any plan holding this operator). The sum travels
    * as a QUANTIZED long so merging across any micro-batch order is exact.
    */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), TwsTotal] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var nState: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var qState: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      qState = getHandle.getValueState[Long]("q", E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsTotal] = {
      var n = if (nState.exists()) nState.get() else 0L
      var q = if (qState.exists()) qState.get() else 0L
      rows.foreach { case (_, rq) => n += 1; q += rq }
      nState.update(n)
      qState.update(q)
      Iterator.single(TwsTotal(key, n, q))
    }
  }

  /** [[UserTotalsProcessor]] wired into the stream: groupByKey on user,
    * transformWithState with no event-time dependency, update-mode
    * snapshots. */
  def runningUserTotalsTws(events: Dataset[(Long, Long)]): Dataset[TwsTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(
        new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  case class UserTotal(user_id: Long, events: Long, total_value: Double)

  /** Explicit keyed running state: per-user event counts and value sums
    * maintained across micro-batches via GroupState (the
    * mapGroupsWithState custom-state surface). */
  def runningUserTotals(
      events: Dataset[(Long, Double)]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotal, UserTotal] {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          val batch = rows.toSeq
          val next = UserTotal(
            user,
            prev.events + batch.size,
            prev.total_value + batch.map(_._2).sum)
          state.update(next)
          next
      }
  }
}
