package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events stream (extension — the reference
  * has NO streaming at all, SURVEY §2.10; its closest analog is the dwweek
  * continuous-load scenario. These are the streaming duals of the batch
  * EventsQueries, so a user gets identical semantics on bounded and
  * unbounded input).
  *
  * All operators are incremental + watermark-bounded: state size is
  * O(open windows × keys), late data beyond the watermark is dropped, and
  * each micro-batch shuffles only on the grouping key — the standard
  * scalable shape for 100 TB/day event volumes.
  */
object EventsStream {

  /** The events schema as the stream sources deliver it. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based stream source over a directory of parquet events. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Session clone for one micro-batch run, its shuffle (= state-store)
    * partition count derived from the staged input's bytes.
    *
    * A streaming query freezes `spark.sql.shuffle.partitions` into its
    * checkpoint as the STATE partition count, and every stateful
    * operator then pays per-partition state-store open/commit cost on
    * every micro-batch. Sized to the machine's core count (the batch
    * default) that fixed cost dwarfs a small stream: the bench's 2 MB
    * staged events ran StreamingSymmetricHashJoin with 32 state
    * partitions — profiled at 27 s of the 32 s wall, almost all
    * per-partition store overhead. Deriving the count from staged bytes
    * (~4 MB of input per state partition, capped by the session's own
    * shuffle setting, floor 4) keeps state partitions proportional to
    * the data at ANY size: a 100 GB staging dir saturates the cap and
    * behaves exactly as before, a megabyte-scale drill gets the handful
    * of stores it can actually fill. The clone leaves the caller's
    * session conf untouched (bench sections run concurrent queries on
    * the shared session — a temporary set/restore there would race). */
  def streamSession(s: SparkSession, stagedDir: String): SparkSession = {
    val bytes =
      try {
        val p = java.nio.file.Paths.get(stagedDir)
        scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
          val it = st.iterator()
          var n = 0L
          while (it.hasNext) {
            val f = it.next()
            if (java.nio.file.Files.isRegularFile(f))
              n += java.nio.file.Files.size(f)
          }
          n
        }
      } catch { case _: Exception => 0L }
    // floor 4, not 1: AQE is disabled inside streaming queries, so the
    // per-batch BATCH work (foreachBatch joins, verify maps) runs at
    // exactly this partition count with no runtime coalesce/split — a
    // floor keeps a few cores on compute-dense batches while still
    // cutting the per-partition state-store fixed cost 8× vs the
    // core-count default
    val cap = s.sessionState.conf.numShufflePartitions
    val parts = math.min(cap.toLong, math.max(4L, bytes / (4L << 20) + 1))
    val s2 = s.newSession()
    graft.Tables.tune(s2)
    s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s2
  }

  /** Tumbling 1-hour counts per event type, 10-minute watermark
    * (streaming dual of EventsQueries.tumbling). With `exactSums` the
    * value column sums through exact DECIMAL so the output is
    * byte-identical regardless of micro-batch/merge order — what the
    * oracle-gated x_stream_tumbling needs. */
  def tumblingCounts(events: DataFrame,
      watermark: String = "10 minutes",
      exactSums: Boolean = false): DataFrame = {
    val sumValue =
      if (exactSums) sum(col("value").cast("decimal(28,10)")).cast("double")
      else sum(col("value"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding 1-hour/30-minute averages (dual of EventsQueries.sliding). */
  def slidingAvg(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("window.start").as("window_start"), col("n"),
        col("avg_value"))

  /** Session windows with a 10-minute gap (dual of
    * EventsQueries.sessionize) — built-in session_window keeps state only
    * for open sessions. With `exactSums` the value column sums through
    * exact DECIMAL so output is byte-identical regardless of
    * micro-batch/session-merge order (what the oracle-gated
    * x_stream_session needs). */
  def sessionWindows(events: DataFrame,
      gap: String = "10 minutes",
      watermark: String = "10 minutes",
      exactSums: Boolean = false): DataFrame = {
    val sumValue =
      if (exactSums) sum(col("value").cast("decimal(28,10)")).cast("double")
      else sum(col("value"))
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sumValue.as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"),
        col("n_events"), col("sum_value"))
  }

  /** Event dedup by event_id alone within the watermark horizon — a
    * redelivered id with a re-stamped timestamp still dedups (state = ids
    * seen, GC'd once the watermark passes each event's time). */
  def dedupById(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
      max_value: Double)
  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  case class LastEvent(ts_ms: Long, event_id: Long, event_type: String)
  case class TransitionPair(user_id: Long, prev_type: String,
      event_type: String)

  /** Streaming Markov transition pairs (streaming dual of
    * EventsQueries.transitions): flatMapGroupsWithState keeps ONE event
    * per user — the max-by-(ts, event_id) seen — and each micro-batch
    * emits the (prev → curr) pairs formed by the carried event plus the
    * batch's rows in (ts, event_id) order. State is O(users) regardless
    * of stream length.
    *
    * Equivalence with the batch lag() matrix holds exactly when
    * micro-batches respect per-user (ts, event_id) order (true for the
    * availableNow file harness, which delivers everything in one batch).
    * An event arriving in a LATER micro-batch than a (ts, event_id)-
    * greater sibling is a straggler batch lag() would have paired
    * differently; the merge below is order-aware — stragglers older than
    * the carried state are dropped rather than emitting phantom pairs or
    * regressing the carried state to an older event. */
  def transitionPairs(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, TransitionPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[LastEvent]) =>
          val carried = state.getOption
          val incoming = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id))
            .map(r => LastEvent(r.ts.getTime, r.event_id, r.event_type))
          // order-aware merge: drop cross-batch stragglers that are not
          // strictly newer than the carried last event
          val fresh = carried match {
            case Some(c) => incoming.filter(e =>
              e.ts_ms > c.ts_ms ||
                (e.ts_ms == c.ts_ms && e.event_id > c.event_id))
            case None => incoming
          }
          val seq = carried.toSeq ++ fresh
          val pairs = seq.sliding(2).collect {
            case Seq(a, b) => TransitionPair(uid, a.event_type, b.event_type)
          }.toList
          if (seq.nonEmpty) state.update(seq.last)
          pairs.iterator
      }.toDF()
  }

  /** Custom per-key running state via mapGroupsWithState: running
    * count/sum/max per user, emitted each micro-batch (the reference has
    * no analog; this is the KeyValueGroupedDataset stateful surface). */
  def userRunningTotals(events: Dataset[EventRow]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0,
            Double.MinValue))
          val batch = rows.toSeq
          val next = UserRunning(uid,
            prev.n_events + batch.size,
            prev.total_value + batch.map(_.value).sum,
            math.max(prev.max_value, batch.map(_.value).max))
          state.update(next)
          next
      }
  }

  /** JSON-enriched filtered stream (stateless transform chain). */
  def enriched(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .filter(col("value") > 0)
      .withColumn("hour_bucket", date_trunc("hour", col("ts")))

  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Custom gap-sessionization via flatMapGroupsWithState with event-time
    * timeout: sessions are emitted only when the watermark passes the gap
    * (the hand-rolled dual of session_window, showing the full custom-state
    * surface — per-key state is one open session, GC'd by timeout). */
  def customSessions(events: Dataset[EventRow],
      gapMs: Long = 10 * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // within gap of either session boundary (late-but-in-
                // watermark events can precede the open session's start)
                case Some(s) if t >= s.start - gapMs && t <= s.end + gapMs =>
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.end, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(uid, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream inner join: each click joined to the same user's
    * purchases landing within [click, click + 30 min]. Both sides carry a
    * watermark and the join condition bounds event-time distance, so
    * Spark GCs join state once the watermark passes click_ts + 30 min —
    * state stays O(events in the 40-minute horizon) per key at any
    * volume, the canonical scalable stream-join shape. Inner-join matches
    * emit as soon as both rows have arrived (no watermark flush delay). */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_ts").cast("long") - col("click_ts").cast("long"))
          .as("wait_sec"))
  }

  /** foreachBatch sink, idempotent per micro-batch: each batch OVERWRITES
    * its own batch_id=N partition directory, so a replayed batch (failure
    * before the checkpoint commit) rewrites the same files instead of
    * appending duplicates — the standard exactly-once file-sink pattern.
    * Readers take the latest state per key via the max batch_id. */
  def writeViaForeachBatch(agg: DataFrame, outPath: String) =
    agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outPath/batch_id=$id")
      }
}
