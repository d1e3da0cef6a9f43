package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import Stats.Iv

/** Benchmark harness. Drives the engine only through its public entry
  * points and writes one JSON result file; `run.py` builds, launches,
  * checks outputs and prints the contract line.
  *
  * Usage: perfbench.Main --workload power_stream|dwweek_mixed --seed N
  *   --seconds T --trace 0|1 --data DIR --work DIR --out FILE --cores N
  * or:    perfbench.Main --dump-oracle FILE  (oracle SQL of power_stream)
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: String, out: String, cores: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    kv.get("--dump-oracle") match {
      case Some(file) =>
        val sql = graft.SparkEntry.oracleSql
        Files.writeString(Paths.get(file), Json.obj(PowerStream.queries
          .filter(sql.contains).map(n => n -> Json.str(sql(n)))))
      case None =>
        val a = Args(kv("--workload"), kv("--seed").toLong,
          kv("--seconds").toInt, kv("--trace") == "1", kv("--data"),
          kv("--work"), kv("--out"), kv("--cores").toInt)
        val run = new Run(a)
        val result = a.workload match {
          case "power_stream" => PowerStream.run(run)
          case "dwweek_mixed" => DwWeek.run(run)
          case w => sys.error(s"unknown workload $w")
        }
        Files.writeString(Paths.get(a.out), result)
        run.stop()
    }
  }
}

/** One finished operation. `due` is set for open-loop requests. */
final case class OpRec(id: Long, kind: String, name: String, start: Double,
    end: Double, construct: Option[Iv], ok: Boolean, traced: Boolean,
    due: Double = Double.NaN) {
  def wallMs: Double = end - start
  def latencyMs: Double = if (due.isNaN) wallMs else end - due
  def lateMs: Double = if (due.isNaN) 0.0 else start - due
}

/** State shared by the workloads: the session, the operation log, the
  * failure list and, in a traced window, the tracer. */
final class Run(val a: Main.Args,
    val clock: Schedule.Clock = Schedule.WallClock) {
  var spark: SparkSession = _
  @volatile var tracer: Option[Tracer] = None
  private var finished: Option[Tracer] = None
  def tracedOps: Option[Tracer] = finished
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong
  private val ids = new AtomicLong
  var registerMs = Double.NaN

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      // one pool per client thread, so a reader's small job does not
      // queue behind every stage of the writer's commit
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up once, cold, in this fresh JVM: session start,
    * `Tables.registerAll` (schema inference included, since nothing is
    * cached yet), then the workload's own set-up and untimed warm pass
    * (`warm`). Returns the seconds all of it took. */
  def setup(warm: => Unit): Double = {
    val t0 = clock.nowMs()
    spark = newSession()
    val r0 = clock.nowMs()
    graft.Tables.registerAll(spark, a.data)
    registerMs = clock.nowMs() - r0
    warm
    (clock.nowMs() - t0) / 1000
  }

  /** Between operations: drop SQL-cache entries and dead checkpoint
    * blocks, as the repository's own bench does before each query. */
  def resetState(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def pool(name: String): Unit =
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)

  /** Run one operation, timed from its start (or from `due` for an
    * open-loop request), and traced while a tracer is installed unless
    * `trace` is off. `body` gets a `construct` marker to call around the
    * engine's DataFrame construction. Failures are recorded by name and
    * counted; the operation's result is returned when it succeeded. */
  def op[A](kind: String, name: String, due: Double = Double.NaN,
      trace: Boolean = true)(body: Construct => A): Option[A] = {
    val id = ids.incrementAndGet()
    val tr = tracer.filter(_ => trace)
    val c = new Construct(tr.isDefined)
    attempted.incrementAndGet()
    val start = clock.nowMs()
    val res =
      try Right(tr.map(_.attributed(id)(body(c))).getOrElse(body(c)))
      catch { case e: Throwable => Left(e) }
    val end = clock.nowMs()
    res.left.foreach { e =>
      failures.add(s"$kind $name: ${String.valueOf(e.getMessage).linesIterator
        .nextOption().getOrElse(e.getClass.getName).take(300)}")
    }
    ops.add(OpRec(id, kind, name, start, end, c.iv, res.isRight,
      tr.isDefined, due))
    tr.foreach { t =>
      t.span(id, name, s"op.$kind", "", start, end)
      c.iv.foreach(iv => t.span(id, name, "operators.construct", "op",
        iv.start, iv.end))
    }
    res.toOption
  }

  final class Construct(record: Boolean) {
    var iv: Option[Iv] = None
    def apply[A](f: => A): A =
      if (!record) f
      else {
        val s = clock.nowMs()
        try f finally iv = Some(Iv(s, clock.nowMs()))
      }
  }

  def fail(msg: String): Unit = failures.add(msg)

  /** Run `f` with a tracer installed; the per-layer metrics come from the
    * operations it records. */
  def traced(f: => Unit): Unit = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    tracer = Some(t)
    try f finally {
      tracer = None
      t.settle()
      spark.sparkContext.removeSparkListener(t)
      finished = Some(t)
    }
  }

  def timed(kinds: Set[String], traced: Boolean): Seq[OpRec] =
    ops.asScala.toSeq.filter(o => kinds(o.kind) && o.traced == traced)

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def identity: Seq[(String, String)] = Seq(
    "workload" -> Json.str(a.workload),
    "seed" -> a.seed.toString,
    "seconds" -> a.seconds.toString,
    "trace" -> (if (a.trace) "1" else "0"),
    "master" -> Json.str(spark.sparkContext.master),
    "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
    "spark_version" -> Json.str(spark.version),
    "java_version" -> Json.str(System.getProperty("java.version")))

  /** Per-layer metrics of the traced operations: layer times are means per
    * query operation, so construct + catalyst + job + residual = wall.
    * The overhead compares them with the untraced operations of the same
    * kinds recorded alongside. */
  def layerMetrics(queryKinds: Set[String]): Seq[(String, Double)] = {
    val traced = timed(queryKinds, traced = true)
    val t = finished.getOrElse(sys.error("no traced window"))
    val spans = t.spansOf
    val ls = traced.map(o =>
      Layers.of(Iv(o.start, o.end), o.construct, spans.getOrElse(o.id, Nil)))
    val tt = traced.map(o => t.totalsOf(o.id))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val jobMs = ls.map(_.jobMs).sum
    val taskMs = tt.map(_.runMs).sum
    val untraced = timed(queryKinds, traced = false)
    Seq(
      "op.wall_ms" -> mean(ls.map(_.wall)),
      "operators.construct_ms" -> mean(ls.map(_.construct)),
      "operators.construct_jobs" -> mean(ls.map(_.constructJobs.toDouble)),
      "operators.construct_job_ms" -> mean(ls.map(_.constructJobMs)),
      "catalyst.analysis_ms" -> mean(ls.map(_.analysis)),
      "catalyst.optimization_ms" -> mean(ls.map(_.optimization)),
      "catalyst.planning_ms" -> mean(ls.map(_.planning)),
      "driver.residual_ms" -> mean(ls.map(_.residual)),
      "exec.jobs" -> mean(ls.map(_.jobs.toDouble)),
      "exec.stages" -> mean(traced.map(o => t.stagesOf(o.id).toDouble)),
      "exec.tasks" -> mean(tt.map(_.tasks.toDouble)),
      "exec.job_ms" -> mean(ls.map(_.jobMs)),
      "exec.task_ms" -> mean(tt.map(_.runMs)),
      "exec.cpu_ms" -> mean(tt.map(_.cpuMs)),
      "exec.gc_ms" -> mean(tt.map(_.gcMs)),
      "exec.slot_util" -> (if (jobMs > 0) taskMs / (jobMs * a.cores) else 0.0),
      "exec.input_bytes" -> mean(tt.map(_.inputBytes.toDouble)),
      "exec.shuffle_write_bytes" -> mean(tt.map(_.shuffleWrite.toDouble)),
      "exec.shuffle_read_bytes" -> mean(tt.map(_.shuffleRead.toDouble)),
      "exec.spill_bytes" -> mean(tt.map(_.spill.toDouble)),
      "exec.task_failures" -> tt.map(_.failures.toDouble).sum,
      "tables.register_ms" -> registerMs,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.overhead_pct" -> {
        val u = mean(untraced.map(_.wallMs))
        if (u > 0) (mean(traced.map(_.wallMs)) / u - 1) * 100 else 0.0
      })
  }

  def spansFile(): String = {
    val f = Paths.get(a.work, "spans.jsonl")
    finished.foreach(t => Files.write(f,
      t.spans.asScala.toSeq.sortBy(s => (s.op, s.start)).map(_.json).asJava))
    f.toString
  }

  /** Every timed operation as [kind, name, traced, start ms from the first
    * operation, latency ms, ok], for the run record. */
  private def samplesJson: String = {
    val all = ops.asScala.toSeq.sortBy(_.start)
    val t0 = all.headOption.map(_.start).getOrElse(0.0)
    all.map(o => Seq(Json.str(o.kind), Json.str(o.name), o.traced.toString,
      Json.num(o.start - t0), Json.num(o.latencyMs), o.ok.toString)
      .mkString("[", ",", "]")).mkString("[", ",", "]")
  }

  def result(e2e: Seq[(String, Double)], extra: Seq[(String, String)],
      layers: Seq[(String, Double)]): String = {
    val fails = failures.asScala.toSeq
    Json.obj(Seq(
      "identity" -> Json.obj(identity),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(extra),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> attempted.get.toString,
      "failed" -> fails.size.toString,
      "failures" -> fails.map(Json.str).mkString("[", ",", "]"),
      "samples" -> samplesJson) ++
      (if (a.trace) Seq("spans_file" -> Json.str(spansFile())) else Nil))
  }

  def stop(): Unit = if (spark != null) spark.stop()
}
