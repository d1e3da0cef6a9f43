package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Schedule.{Commit, Fingerprint, Order, OrdersModel, WriterPlan}

/** Analytic reads the dwweek readers issue. Each groups the table its own
  * way and also returns, per group, the row count, key sum, price sum in
  * cents and highest commit generation, from which the reader checks that
  * it saw one whole committed snapshot. */
object DwReads {
  val kinds: Vector[(String, Column, Column)] = Vector(
    ("by_priority", col("o_orderpriority"), avg("o_totalprice").as("avg_price")),
    ("by_status", col("o_orderstatus"), max("o_totalprice").as("max_price")),
    ("by_year", year(col("o_orderdate")).as("year"),
      countDistinct("o_custkey").as("customers")))

  def name(kind: Int): String = kinds(kind)._1

  def shaped(kind: Int, df: DataFrame): DataFrame = {
    val (_, key, measure) = kinds(kind)
    df.groupBy(key).agg(measure, count(lit(1)).as("n"),
      sum("o_orderkey").as("key_sum"),
      sum(round(col("o_totalprice") * 100).cast("long")).as("cents_sum"),
      max("gen").as("max_gen"))
  }
}

/** `dwweek_mixed`: the reference's nightly load alongside daytime query
  * groups, on a catalog copy of an `orders` slice (every tenth order).
  * One writer commits on an open-loop schedule (seed-chosen upsert or
  * insertIntoSelect batches, vacuumVersions every few commits); two
  * closed-loop readers run short analytic reads through readCommitted.
  * It is the only workload that exercises sources.Catalog and its table
  * locks, and the one where every commit forces a fresh file listing
  * instead of a cached relation. The writer is open-loop so that a faster
  * commit path cannot raise the write load and show up as slower reads. */
object DwWeek {
  val table = "dw_orders"
  val readers = 2
  val commitIntervalMs = 2000.0
  val keepVersions = 3
  // untimed warm-up, a fixed amount of work so that set-up time moves
  // with the program's speed: reads by `cores` readers alone, then
  // closed-loop commits beside the two readers
  val warmReadsPerReader = 16
  val warmCommits = 4

  /** Catalog-layer metrics for workloads that never touch the catalog.
    * They are reported as 0 because every traced run must name every
    * per-layer metric; `idleCatalogNote` marks them as not measured. */
  val idleCatalogLayers: Seq[(String, Double)] = Seq(
    "catalog.commit_ms", "catalog.commit_job_ms", "catalog.commit_nonjob_ms",
    "catalog.commit_p50_ms", "catalog.commit_p90_ms",
    "catalog.bytes_written_per_user_byte", "catalog.versions_retained",
    "catalog.vacuum_ms", "catalog.read_attempts_per_read",
    "catalog.space_amp", "writer.late_ms").map(_ -> 0.0)

  def idleCatalogNote(traced: Boolean): Seq[(String, String)] =
    if (!traced) Nil
    else Seq("not_measured" -> idleCatalogLayers.map(l => Json.str(l._1))
      .mkString("[", ",", "]"))

  private def batch(rows: Seq[Order], spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows.map(o => (o.key, o.cust, o.status, o.cents, o.day, o.priority, o.gen))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "cents", "day",
        "o_orderpriority", "gen")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("cents") / 100.0).as("o_totalprice"),
        date_from_unix_date(col("day")).as("o_orderdate"),
        col("o_orderpriority"), col("gen"))
  }

  private def readBack(df: DataFrame): Seq[Order] =
    df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long"),
      unix_date(col("o_orderdate")), col("o_orderpriority"), col("gen"))
      .collect().map(r => Order(r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getInt(4), r.getString(5), r.getInt(6)))
      .toSeq.sortBy(_.key)

  /** Bytes in regular files under `root`, counting hard links once. */
  private def bytesUnder(root: Path): Long =
    scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => Files.getAttribute(p, "unix:ino") -> Files.size(p))
        .toMap.values.sum
    }

  def run(r: Run): String = {
    val a = r.a
    var cat: graft.sources.Catalog = null
    val root = s"${a.work}/catalog"
    var model: OrdersModel = null
    var userBytesPerRow = 0.0
    val plan = new WriterPlan(a.seed)
    // the fingerprint each generation must read as, registered before its
    // commit starts: a reader may see the post-image before the ack
    val expected = TrieMap.empty[Int, Fingerprint]
    var gen = 0
    val attempts = new AtomicLong
    val tracedUserRows = new AtomicLong

    def read(k: Int, lastGen: Int, kind: String): Int =
      r.op(kind, DwReads.name(k)) { construct =>
        val rows = cat.readCommitted(table) { df =>
          attempts.incrementAndGet()
          construct(DwReads.shaped(k, df)).collect()
        }
        val fp = Fingerprint(rows.map(_.getAs[Long]("n")).sum,
          rows.map(_.getAs[Long]("key_sum")).sum,
          rows.map(_.getAs[Long]("cents_sum")).sum)
        val g = rows.map(_.getAs[Int]("max_gen")).max
        if (!expected.get(g).contains(fp) || g < lastGen)
          r.fail(s"$kind ${DwReads.name(k)}: snapshot $fp at generation $g " +
            s"matches no committed state (reader last saw $lastGen)")
        g
      }.getOrElse(lastGen)

    def commit(kind: String, due: Double): Unit = {
      gen += 1
      val c: Commit = plan.next(gen, model)
      expected(c.gen) = model.after(c)
      val traced = r.tracer.isDefined
      val ok = r.op(kind, if (c.upsert) "upsert" else "insert", due) {
        construct =>
          val b = construct(batch(c.rows, r.spark))
          if (c.upsert) cat.upsert(table, b, Seq("o_orderkey"))
          else cat.insertIntoSelect(table, b)
      }.isDefined
      if (ok) {
        model(c)
        if (traced) tracedUserRows.addAndGet(c.rows.size)
        if (c.vacuumAfter)
          r.op("vacuum", "vacuumVersions")(_ =>
            cat.vacuumVersions(table, keepVersions))
      }
    }

    // The writer and the two readers side by side. The readers start at
    // `start` and read until `stop` holds; operations are recorded under
    // the given read kind.
    def traffic(start: Double, readKind: String, stop: () => Boolean)(
        writer: => Unit): Unit = {
      val w = new Thread(() => { r.pool("writer"); writer })
      val rs = (1 to readers).map(u => new Thread(() => {
        r.pool(s"reader$u")
        r.clock.sleepUntil(start)
        var i = 0
        var last = 0
        while (!stop()) {
          last = read(Schedule.readKind(a.seed, u, i), last, readKind)
          i += 1
        }
      }))
      w.start(); rs.foreach(_.start())
      w.join(); rs.foreach(_.join())
    }

    // The open-loop window: commits due every `commitIntervalMs` from its
    // start for `--seconds`, beside the readers. Returns the start.
    def window(readKind: String, commitKind: String): Double = {
      val start = r.clock.nowMs() + 50
      val until = start + a.seconds * 1000.0
      traffic(start, readKind, () => r.clock.nowMs() >= until) {
        Schedule.openLoop(start, until, commitIntervalMs, r.clock) {
          (_, due) => commit(commitKind, due)
        }
      }
      start
    }

    val setup = r.setup {
      cat = new graft.sources.Catalog(r.spark, root)
      cat.createTableAs(table, graft.Tables.table(r.spark, a.data, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"), lit(0).as("gen")))
      model = new OrdersModel(readBack(cat.table(table)))
      expected(0) = model.fingerprint
      userBytesPerRow =
        bytesUnder(Paths.get(cat.tablePath(table))).toDouble / model.size
      // Untimed warm-up: read latency keeps falling for the first tens of
      // seconds of a fresh JVM while the planner's code compiles, so the
      // timed window would otherwise sit at a load-dependent point of that
      // curve. First `cores` readers alone (the most planning per second),
      // then closed-loop commits beside the two readers.
      (1 to a.cores).map(u => new Thread(() => {
        r.pool(s"reader$u")
        for (i <- 0 until warmReadsPerReader)
          read(i % DwReads.kinds.size, 0, "warm")
      })).map { t => t.start(); t }.foreach(_.join())
      @volatile var written = false
      traffic(r.clock.nowMs(), "warm", () => written) {
        try (1 to warmCommits).foreach(_ => commit("warm", Double.NaN))
        finally written = true
      }
    }
    attempts.set(0)
    val start = window("read", "commit")
    if (a.trace) r.traced(window("read", "commit"))

    // the final readback must equal the writer's acknowledged state
    r.op("readback", table) { _ =>
      val got = readBack(cat.table(table))
      if (got != model.snapshot)
        r.fail(s"readback $table: ${got.size} rows read, ${model.size} " +
          s"acknowledged; ${got.toSet.diff(model.snapshot.toSet).size} differ")
    }

    val reads = r.timed(Set("read"), traced = false)
    val lat = reads.filter(_.ok).map(_.latencyMs)
    val commits = r.timed(Set("commit"), traced = false)
    val commitLat = commits.filter(_.ok).map(_.latencyMs)
    val late = commits.map(_.lateMs)
    val versions = cat.versions(table).size
    val spaceAmp = bytesUnder(Paths.get(root)).toDouble /
      bytesUnder(Paths.get(cat.tablePath(table)))
    val allReads = r.timed(Set("read"), traced = false).size +
      r.timed(Set("read"), traced = true).size
    val e2e = Seq(
      "setup_s" -> setup,
      "queries_per_min" -> lat.size /
        ((reads.map(_.end).max - start) / 60000),
      "query_p50_ms" -> Stats.median(lat))
    val extra = Seq(
      "tables_register_ms" -> Json.num(r.registerMs),
      "query_samples" -> lat.size.toString,
      "query_p90_ms" -> (if (Stats.tailPercentile(lat.size).exists(_ >= 90))
        Json.num(Stats.quantile(lat, 0.9)) else "null"),
      "query_tail" -> Json.tail(lat),
      "commit_samples" -> commitLat.size.toString,
      "commit_p50_ms" -> Json.num(Stats.median(commitLat)),
      "commit_p90_ms" -> Json.num(Stats.quantile(commitLat, 0.9)),
      "commit_tail" -> Json.tail(commitLat),
      "writer_late_p50_ms" -> Json.num(Stats.median(late)),
      "writer_late_max_ms" -> Json.num(if (late.isEmpty) 0 else late.max),
      "space_amp" -> Json.num(spaceAmp),
      "versions_retained" -> versions.toString,
      "read_attempts_per_read" -> Json.num(attempts.get.toDouble / allReads))
    val layers = r.tracedOps.toSeq.flatMap { t =>
      val spans = t.spansOf
      val tc = r.timed(Set("commit"), traced = true)
      def jobMs(o: OpRec) = Stats.covered(Stats.clip(spans.getOrElse(o.id, Nil)
        .filter(_.layer == "job").map(_.iv), Stats.Iv(o.start, o.end)))
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val tcLat = tc.filter(_.ok).map(_.latencyMs)
      val written = tc.map(o => t.totalsOf(o.id).outputBytes.toDouble).sum
      val userBytes = tracedUserRows.get * userBytesPerRow
      r.layerMetrics(Set("read")) ++ Seq(
        "catalog.commit_ms" -> mean(tc.map(_.wallMs)),
        "catalog.commit_job_ms" -> mean(tc.map(jobMs)),
        "catalog.commit_nonjob_ms" -> mean(tc.map(o => o.wallMs - jobMs(o))),
        "catalog.commit_p50_ms" -> Stats.median(tcLat),
        "catalog.commit_p90_ms" -> Stats.quantile(tcLat, 0.9),
        "catalog.bytes_written_per_user_byte" -> written / userBytes,
        "catalog.versions_retained" -> versions.toDouble,
        "catalog.vacuum_ms" -> mean(r.timed(Set("vacuum"), traced = true)
          .map(_.wallMs)),
        "catalog.read_attempts_per_read" -> attempts.get.toDouble / allReads,
        "catalog.space_amp" -> spaceAmp,
        "writer.late_ms" -> mean(tc.map(_.lateMs)))
    }
    r.result(e2e, extra, layers)
  }
}
