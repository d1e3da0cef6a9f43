package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

import Stats.Iv

/** A span the benchmark recorded around one of its calls into a layer, or
  * a Spark job / Catalyst phase interval a listener attributed to an
  * operation. Every span of one operation carries its `op` id. */
final case class Span(op: Long, name: String, layer: String, start: Double,
    end: Double, parent: String) {
  def iv: Iv = Iv(start, end)
  def json: String =
    s"""{"op":$op,"name":${Json.str(name)},"layer":${Json.str(layer)},""" +
      s""""start_ms":${Json.num(start)},"end_ms":${Json.num(end)},""" +
      s""""parent":${Json.str(parent)}}"""
}

/** Per-operation executor counters summed over the operation's tasks. */
final class TaskTotals {
  var tasks, failures = 0L
  var runMs, cpuMs, gcMs = 0.0
  var inputBytes, shuffleWrite, shuffleRead, spill, outputBytes = 0L
}

/** Collects the spans of a traced run. The benchmark tags each operation's
  * thread with a Spark job tag before it calls the engine; jobs and SQL
  * executions carry the tag, which attributes jobs, stages, tasks and
  * Catalyst phases (from each SQL execution's planning tracker) to the
  * operation, also when operations run concurrently. Everything is kept
  * in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val tagPrefix = "perfbench-op-"
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobOp = TrieMap.empty[Int, Long]
  private val jobStart = TrieMap.empty[Int, Double]
  private val stageOp = TrieMap.empty[Int, Long]
  private val stagesRun = TrieMap.empty[Long, AtomicLong]
  private val execOp = TrieMap.empty[Long, Long]
  private val totals = TrieMap.empty[Long, TaskTotals]
  private val openJobs = new AtomicLong
  private val openExecs = new AtomicLong

  def tag(op: Long): String = tagPrefix + op

  /** Run `f` with this thread's Spark work attributed to `op`. */
  def attributed[A](op: Long)(f: => A): A = {
    sc.addJobTag(tag(op))
    try f finally sc.removeJobTag(tag(op))
  }

  def span(op: Long, name: String, layer: String, parent: String,
      start: Double, end: Double): Unit =
    spans.add(Span(op, name, layer, start, end, parent))

  private def opOf(tags: Iterable[String]): Option[Long] =
    tags.find(_.startsWith(tagPrefix)).map(_.stripPrefix(tagPrefix).toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    openJobs.incrementAndGet()
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
    opOf(tags).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time.toDouble
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobOp.get(e.jobId).foreach(op => spans.add(Span(op, s"job ${e.jobId}",
      "job", jobStart(e.jobId), e.time.toDouble, "op")))
    openJobs.decrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageOp.get(e.stageInfo.stageId).foreach(op =>
      stagesRun.getOrElseUpdate(op, new AtomicLong).incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val t = totals.getOrElseUpdate(op, new TaskTotals)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (!e.taskInfo.successful) t.failures += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuMs += m.executorCpuTime / 1e6
          t.gcMs += m.jvmGCTime
          t.inputBytes += m.inputMetrics.bytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      openExecs.incrementAndGet()
      opOf(s.jobTags).foreach(execOp(s.executionId) = _)
    case end: SparkListenerSQLExecutionEnd =>
      for (op <- execOp.get(end.executionId);
           qe <- org.apache.spark.sql.perfbench.SqlEvents.queryExecution(end);
           (phase, p) <- qe.tracker.phases)
        spans.add(Span(op, phase, s"catalyst.$phase", p.startTimeMs.toDouble,
          p.endTimeMs.toDouble, "op"))
      openExecs.decrementAndGet()
    case _ =>
  }

  /** Wait until the listener bus has delivered the end of every job and
    * SQL execution started so far (bounded; the bus is asynchronous). */
  def settle(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while ((openJobs.get > 0 || openExecs.get > 0) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  def totalsOf(op: Long): TaskTotals = totals.getOrElse(op, new TaskTotals)
  def stagesOf(op: Long): Long = stagesRun.get(op).map(_.get).getOrElse(0L)
  def spansOf: Map[Long, Seq[Span]] = spans.asScala.toSeq.groupBy(_.op)
}

/** One operation's wall split into disjoint layers. Job time wins where
  * intervals overlap, then the Catalyst phases in order, then the
  * benchmark's construction span; what none of them covers is the
  * residual, so the parts always add up to the wall. */
final case class Layers(wall: Double, construct: Double, constructJobs: Int,
    constructJobMs: Double, analysis: Double, optimization: Double,
    planning: Double, jobs: Int, jobMs: Double, residual: Double)

object Layers {
  def of(wall: Iv, construct: Option[Iv], spans: Seq[Span]): Layers = {
    def ivs(layer: String) =
      Stats.clip(spans.filter(_.layer == layer).map(_.iv), wall)
    val jobs = spans.filter(_.layer == "job")
    val jobIvs = Stats.clip(jobs.map(_.iv), wall)
    var taken = Stats.union(jobIvs)
    def claim(part: Seq[Iv]): Double = {
      val own = Stats.subtract(part, taken)
      taken = Stats.union(taken ++ own)
      Stats.covered(own)
    }
    val analysis = claim(ivs("catalyst.analysis"))
    val optimization = claim(ivs("catalyst.optimization"))
    val planning = claim(ivs("catalyst.planning"))
    val constructSelf = claim(construct.toSeq.flatMap(c =>
      Stats.clip(Seq(c), wall)))
    val inConstruct = construct.toSeq.flatMap(c =>
      jobs.filter(j => j.start >= c.start && j.start < c.end))
    Layers(
      wall = wall.length,
      construct = constructSelf,
      constructJobs = inConstruct.size,
      constructJobMs = construct.map(c =>
        Stats.covered(Stats.clip(inConstruct.map(_.iv), c))).getOrElse(0.0),
      analysis = analysis, optimization = optimization, planning = planning,
      jobs = jobs.size,
      jobMs = Stats.covered(jobIvs),
      residual = wall.length - Stats.covered(taken))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  /** Highest percentile with at least ten samples beyond it, as
    * {"p":…,"ms":…,"n":…}, or null when the sample supports none. */
  def tail(xs: Seq[Double]): String =
    Stats.tailPercentile(xs.size).map(p => obj(Seq(
      "p" -> p.toString, "ms" -> num(Stats.quantile(xs, p / 100.0)),
      "n" -> xs.size.toString))).getOrElse("null")

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
