package graft

import graft.streaming.EventsStream
import graft.streaming.EventsStream.EventRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class StreamingSpec extends GraftSuite {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def ev(id: Long, minute: Int, user: Long, typ: String,
      value: Double): EventRow =
    EventRow(id, ts(minute), user, typ, value, s"""{"k": $id}""")

  test("tumbling window counts aggregate a micro-batch") {
    val mem = MemoryStream[EventRow]
    mem.addData(ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "click", 2.0),
      ev(3, 20, 2, "view", 3.0))
    val q = EventsStream.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    q.processAllAvailable()
    val rows = spark.table("tumbling").collect()
    q.stop()
    assert(rows.length == 2) // click + view in one 1h window
    val click = rows.find(_.getString(1) == "click").get
    assert(click.getLong(2) == 2L)
    assert(math.abs(click.getDouble(3) - 3.0) < 1e-9)
  }

  test("session windows split on the gap") {
    val mem = MemoryStream[EventRow]
    // user 1: events at :00,:05 (one session), :30 (new session, gap 25m)
    mem.addData(ev(1, 0, 1, "a", 1.0), ev(2, 5, 1, "a", 1.0),
      ev(3, 30, 1, "a", 1.0))
    val q = EventsStream.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L))
  }

  test("dedupById drops duplicate event ids within the watermark") {
    val mem = MemoryStream[EventRow]
    mem.addData(ev(1, 0, 1, "a", 1.0), ev(1, 0, 1, "a", 1.0),
      ev(2, 1, 1, "a", 1.0))
    val q = EventsStream.dedupById(mem.toDF())
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    q.processAllAvailable()
    val n = spark.table("deduped").count()
    q.stop()
    assert(n == 2L)
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    val mem = MemoryStream[EventRow]
    val q = EventsStream.userRunningTotals(mem.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    mem.addData(ev(1, 0, 7, "a", 2.0), ev(2, 1, 7, "a", 3.0))
    q.processAllAvailable()
    mem.addData(ev(3, 2, 7, "a", 5.0))
    q.processAllAvailable()
    val last = spark.table("running").collect()
      .filter(_.getLong(0) == 7L).maxBy(_.getLong(1))
    q.stop()
    assert(last.getLong(1) == 3L) // 3 events total
    assert(math.abs(last.getDouble(2) - 10.0) < 1e-9)
    assert(math.abs(last.getDouble(3) - 5.0) < 1e-9)
  }

  test("custom flatMapGroupsWithState sessions close after the gap") {
    val mem = MemoryStream[EventRow]
    val q = EventsStream.customSessions(mem.toDS())
      .writeStream.format("memory").queryName("custom_sessions")
      .outputMode("append").start()
    // session A at :00-:05; a later event at :40 advances the watermark
    // (40m - 10m wm = :30) past A's gap deadline (:15) → A closes
    mem.addData(ev(1, 0, 1, "a", 1.0), ev(2, 5, 1, "a", 2.0))
    q.processAllAvailable()
    mem.addData(ev(3, 40, 1, "a", 5.0))
    q.processAllAvailable()
    mem.addData(ev(4, 59, 2, "b", 0.5)) // push watermark further
    q.processAllAvailable()
    val rows = spark.table("custom_sessions").collect()
    q.stop()
    assert(rows.length >= 1, "first session never emitted")
    val s = rows.minBy(_.getTimestamp(1).getTime)
    assert(s.getLong(0) == 1L && s.getLong(3) == 2L &&
      math.abs(s.getDouble(4) - 3.0) < 1e-9)
  }

  test("foreachBatch sink appends micro-batches to parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val mem = MemoryStream[EventRow]
    val agg = EventsStream.tumblingCounts(mem.toDF())
    val q = EventsStream.writeViaForeachBatch(agg, s"$tmp/out").start()
    mem.addData(ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(s"$tmp/out")
    assert(written.count() >= 1)
    assert(written.columns.contains("batch_id"))
  }

  test("stream-stream join pairs clicks with purchases inside the interval") {
    val mem = MemoryStream[EventRow]
    // user 1: click at :00 → purchases at :10 (match) and :45 (outside 30m);
    // user 2: purchase at :05 with no click — must not appear
    mem.addData(
      ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "purchase", 5.0),
      ev(3, 45, 1, "purchase", 5.0), ev(4, 5, 2, "purchase", 2.0))
    val q = EventsStream.clickPurchaseJoin(mem.toDF())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    q.processAllAvailable()
    val rows = spark.table("ss_join").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L) // user_id
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 2L)
    assert(rows(0).getLong(3) == 600L) // wait_sec = 10 minutes
  }

  test("stream-stream join matches the batch interval join on real data") {
    val e = Tables.table(spark, sf, "events")
    val batch = e.filter(col("event_type") === "click").alias("c")
      .join(e.filter(col("event_type") === "purchase").alias("p"),
        col("p.user_id") === col("c.user_id") &&
          col("p.ts") >= col("c.ts") &&
          col("p.ts") <= col("c.ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("c.user_id"), col("c.event_id").as("click_id"),
        col("p.event_id").as("purchase_id"))
    val mem = MemoryStream[EventRow]
    mem.addData(e.as[EventRow].collect().toIndexedSeq)
    val q = EventsStream.clickPurchaseJoin(mem.toDF())
      .writeStream.format("memory").queryName("ss_join_parity")
      .outputMode("append").start()
    q.processAllAvailable()
    val streamed = spark.table("ss_join_parity")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    val diff = batch.exceptAll(streamed).count() +
      streamed.exceptAll(batch).count()
    q.stop()
    assert(diff == 0, "stream-stream and batch interval join disagree")
  }

  test("transition pairs carry state across micro-batches") {
    // user 1's stream splits across two batches: the pair spanning the
    // batch boundary (B → C) must still be emitted via the carried state
    val mem = MemoryStream[EventRow]
    def e(id: Long, min: Int, typ: String) =
      EventRow(id, ts(min), 1L, typ, 1.0, "{}")
    val q = EventsStream.transitionPairs(mem.toDF())
      .writeStream.format("memory").queryName("stream_transitions_t")
      .outputMode("append").start()
    mem.addData(e(1, 1, "A"), e(2, 2, "B"))
    q.processAllAvailable()
    mem.addData(e(3, 3, "C"), e(4, 4, "A"))
    q.processAllAvailable()
    val pairs = spark.table("stream_transitions_t")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    q.stop()
    assert(pairs.sorted == Seq(("A", "B"), ("B", "C"), ("C", "A")).sorted,
      pairs.toString)
  }

  test("streaming tumbling matches batch tumbling on the same data") {
    val batch = operators.EventsQueries.tumbling.run(spark, sf)
      .select(col("window_start"), col("event_type"), col("n"))
    val mem = MemoryStream[EventRow]
    val events = Tables.table(spark, sf, "events").as[EventRow].collect()
    mem.addData(events.toIndexedSeq)
    val q = EventsStream.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("stream_batch_parity")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("stream_batch_parity")
      .select(col("window_start"), col("event_type"), col("n"))
    val diff = batch.exceptAll(streamed).count() +
      streamed.exceptAll(batch).count()
    q.stop()
    assert(diff == 0, "streaming and batch tumbling disagree")
  }

  test("streaming cdc upsert state equals the batch last-writer-wins answer") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{row_number, count, lit}
    val state = operators.EventsQueries.streamCdcUpsert.run(spark, sf)
    val ev = Tables.table(spark, sf, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val batch = ev.withColumn("rk", row_number().over(w))
      .withColumn("n_events",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_type"), col("value").as("last_value"),
        col("n_events"))
    val diff = state.exceptAll(batch).count() + batch.exceptAll(state).count()
    assert(diff == 0, "4-micro-batch merged state must equal batch LWW")
    // every merge vacuums the state to one retained version
    val manifests = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_ddl_scratch_${ProcessHandle.current().pid()}",
      "stream_cdc_upsert", "state", "_manifest")
    val published = scala.util.Using.resource(
      java.nio.file.Files.list(manifests))(_.iterator().asScala
      .count(_.getFileName.toString.matches("v\\d+")))
    assert(published >= 1 && published <= 2,
      s"4 micro-batches left $published manifests")
  }

  /** The catalog at `tmp` that holds the CDC state table `state`. */
  private def cdcState(tmp: String) = new sources.Catalog(spark, tmp)

  test("cdc batch apply is idempotent on replay and absorbs an unpublished commit") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cdc_sim").toString
    def stateCount: Map[Long, Long] =
      cdcState(tmp).table("state").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    val ev = Tables.table(spark, sf, "events")
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 === 1)
    try {
      operators.EventsQueries.applyCdcBatch(tmp, b0, 0L)
      val after0 = stateCount
      // REPLAY batch 0 (crash after the commit, before the stream
      // checkpoint committed): the applied batch id in the manifest must
      // make it a no-op — without it the n running sums double
      operators.EventsQueries.applyCdcBatch(tmp, b0, 0L)
      assert(stateCount == after0, "replayed batch must not double-count")
      // a crash inside batch 1's commit: its files written into the
      // commit directory the next version would use, no manifest naming
      // them
      val next = cdcState(tmp).versions("state").size + 1
      cdcState(tmp).table("state").write
        .parquet(Paths.get(tmp, "state", s"c$next").toString)
      operators.EventsQueries.applyCdcBatch(tmp, b1, 1L)
      val total = stateCount.values.sum
      assert(total == ev.count(),
        s"recovered state must absorb both batches exactly once: $total")
    } finally {
      sources.FsUtil.deleteRecursively(Paths.get(tmp), swallowErrors = true)
    }
  }

  test("cdc apply detects a checkpoint reset against persisted state") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_cdc_reset").toString
    val ev = Tables.table(spark, sf, "events")
    val b0 = ev.filter(col("event_id") % 2 === 0)
    try {
      // lineage A applies batches 0 and 1 and stamps the state
      operators.EventsQueries.applyCdcBatch(tmp, b0, 0L, "lineageA")
      operators.EventsQueries.applyCdcBatch(tmp, b0, 1L, "lineageA")
      // same-lineage replay of an absorbed batch stays a silent no-op
      val before = cdcState(tmp).table("state").count()
      operators.EventsQueries.applyCdcBatch(tmp, b0, 1L, "lineageA")
      assert(cdcState(tmp).table("state").count() == before)
      // a NEW lineage (checkpoint deleted/re-pointed; bids restart at 0)
      // must fail loudly — the old guard silently dropped every batch
      val e = intercept[IllegalStateException](
        operators.EventsQueries.applyCdcBatch(tmp, b0, 0L, "lineageB"))
      assert(e.getMessage.contains("checkpoint was reset"))
      // the lineage id file itself: stable across same-checkpoint reads,
      // fresh for a fresh checkpoint dir
      val cp = s"$tmp/cp"
      val id1 = operators.EventsQueries.streamLineageId(cp)
      assert(operators.EventsQueries.streamLineageId(cp) == id1)
      assert(operators.EventsQueries.streamLineageId(s"$tmp/cp2") != id1)
      // the refused batch changed nothing: the original lineage's next
      // batch merges in order under its own stamp
      operators.EventsQueries.applyCdcBatch(tmp, b0, 2L, "lineageA")
      assert(cdcState(tmp).prop("state", "cdc.batch") == Some("2"))
      assert(cdcState(tmp).prop("state", "cdc.lineage") == Some("lineageA"))
      // a reset is refused at any batch id, not only at 0
      val e3 = intercept[IllegalStateException](
        operators.EventsQueries.applyCdcBatch(tmp, b0, 5L, "lineageC"))
      assert(e3.getMessage.contains("checkpoint was reset"))
      assert(cdcState(tmp).prop("state", "cdc.batch") == Some("2"))
    } finally {
      sources.FsUtil.deleteRecursively(Paths.get(tmp), swallowErrors = true)
    }
  }
}
