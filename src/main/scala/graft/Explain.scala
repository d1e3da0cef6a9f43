package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints the formatted plan (and post-AQE executed
  * plan) for the named queries. Usage:
  *   scripts/run_class.sh graft.Explain <sfDir> q01_pricing_summary …
  *   scripts/run_class.sh graft.Explain <sfDir> --canon [names…]
  * `--canon` prints, without executing, the exact text
  * `QueryStats.planHash` fingerprints (`QueryStats.stableString`) for
  * the named queries, or for the whole registry when none are named:
  * the diagnostic for "why did this query's plan_hash move between
  * runs" (diff two sessions' dumps; `scripts/canon_drill.sh`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // --canon is accepted in either position (ADVICE r12: requiring it
    // second made the sfDir argument mandatory even though the
    // non-canon path defaults it): `--canon [names…]` and
    // `<sfDir> --canon [names…]` both work
    val canonFirst = args.headOption.contains("--canon")
    val sfDir =
      if (canonFirst) "/root/testdata/sf0.1"
      else args.headOption.getOrElse("/root/testdata/sf0.1")
    val canon = canonFirst || args.lift(1).contains("--canon")
    val rest = args.drop(if (canonFirst) 1 else if (canon) 2 else 1).toSeq
    val names =
      if (rest.nonEmpty) rest
      else if (canon) SparkEntry.queries.keys.toSeq
      else Bench.headline
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
    if (canon) {
      names.foreach { name =>
        // drop persist()s left by the previous query, as Verify does
        spark.catalog.clearCache()
        val stable = plans.QueryStats.stableString(
          SparkEntry.queries(name)(spark, sfDir))
        println(s"\n===== $name (fingerprint input; hash=${
          plans.QueryStats.hashOf(stable)}) =====")
        println(stable)
      }
      spark.stop()
      return
    }
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n===== $name (formatted, pre-execution) =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      // r15: finalize THIS DataFrame's own QueryExecution (a noop write
      // plans a separate one, so the printed "post-AQE" tree used to be
      // the still-initial adaptive plan — isFinalPlan=false — hiding
      // every runtime join demotion/broadcast conversion the bench
      // actually runs with). collect() is safe here: Explain is a
      // diagnostic main run on registered queries with bounded outputs.
      df.collect()
      println(s"===== $name (executed, post-AQE final) =====")
      println(df.queryExecution.executedPlan.toString.take(8000))
    }
    spark.stop()
  }
}
