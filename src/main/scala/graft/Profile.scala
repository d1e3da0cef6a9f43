package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.SparkSession

/** Per-job/stage wall-time profiler for one registered query — the
  * measurement companion to graft.Explain (which shows plan SHAPE, not
  * where the seconds go). Usage:
  *   scripts/run_class.sh graft.Profile <sfDir> <query> [reps]
  * Runs the query `reps` times through the noop sink (first rep warms
  * codegen/page cache like the bench), then prints, for the LAST rep,
  * how many generated classes it compiled and in how many ms, every Spark
  * job with its wall ms and every stage with wall ms, task count, and
  * name — the local[™] stand-in for the Spark UI timeline the
  * optimization guide (§1.1, §7.1) starts from. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q01_pricing_summary")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.tune(spark)

    case class Job(id: Int, desc: String, t0: Long, var t1: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Long, Int)]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) jobs.put(e.jobId,
          Job(e.jobId, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), System.nanoTime()))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.t1 = System.nanoTime()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = e.stageInfo
          val wall = (for {a <- i.completionTime; b <- i.submissionTime}
            yield a - b).getOrElse(-1L)
          // the RDD scope names (operator names) beat the generic
          // callsite for telling WHICH part of the query a stage is
          val scopes = i.rddInfos.flatMap(r => r.scope.map(_.name))
            .distinct.take(6).mkString(">")
          stages.add((i.stageId,
            (if (scopes.nonEmpty) scopes else i.name.linesIterator.next())
              .take(140), wall, i.numTasks))
        }
    })

    def once(): Double = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (i <- 1 until reps) println(f"rep $i: ${once()}%.3f s")
    Thread.sleep(400)
    jobs.clear(); stages.clear(); record = true
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val wall = once()
    val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    Thread.sleep(400)
    record = false
    println(f"last rep: $wall%.3f s  ($name @ $sfDir)")
    // a warm rep should find every generated class in Spark's cache
    println(f"-- codegen: $classes classes compiled, $compileMs%.1f ms --")
    import scala.jdk.CollectionConverters._
    val js = jobs.values().asScala.toSeq.sortBy(_.id)
    println(s"-- ${js.size} jobs --")
    js.foreach { j =>
      val ms = if (j.t1 > 0) (j.t1 - j.t0) / 1e6 else -1.0
      println(f"job ${j.id}%3d  $ms%8.1f ms  ${j.desc.take(80)}")
    }
    val ss = stages.asScala.toSeq.sortBy(_._1)
    println(s"-- ${ss.size} stages --")
    ss.foreach { case (id, nm, ms, nt) =>
      println(f"stage $id%4d  $ms%6d ms  tasks=$nt%3d  $nm")
    }
    spark.stop()
  }
}
