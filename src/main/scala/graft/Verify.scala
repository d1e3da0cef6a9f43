package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional name filter (local iteration); the driver passes none
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // the correctness sweep's walls join the same persisted query
    // history the bench feeds (reference: querystats accumulates
    // across ALL query executions, not only the perf harness's) —
    // under verify_* run_ids so the bench's sweep-median anomaly bar
    // (which reads sweep_* only) never mixes in the dump's extra
    // write-to-parquet cost. Fallible and opt-out-able exactly like
    // the bench's recorder: history must never break the gate.
    val histEntries =
      scala.collection.mutable.ListBuffer.empty[plans.QueryStats.Entry]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // drop persist()s left by a previous query (the ANN trainings
      // cache assignments) so the dump's footprint stays flat
      spark.catalog.clearCache()
      try {
        val df = fn(spark, sfDir)
        // the driver's comparator sorts every output column in pandas;
        // array-typed cells are unhashable there and crash the gate —
        // surface the mistake here, at authoring time
        df.schema.fields.filter(f => f.dataType.typeName == "array").foreach {
          f => System.err.println(
            s"[verify] WARNING $name emits array column '${f.name}' — " +
              "driver compare cannot sort it; serialize to string")
        }
        val t0 = System.nanoTime()
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val wallMs = (System.nanoTime() - t0) / 1e6
        try histEntries += plans.QueryStats.Entry(name, wallMs, -1L,
          System.currentTimeMillis(), plans.QueryStats.planHash(df))
        catch { case _: Throwable => }
      }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // delete any output from a previous run: a stale parquet dir would
        // silently pass the oracle compare for a now-broken query. The
        // cleanup itself must not abort the run (a locked/partial file would
        // otherwise skip every later query AND the oracle_sql.json emission).
        try sources.FsUtil.deleteRecursively(Paths.get(s"$outDir/$name"),
          swallowErrors = true)
        catch { case c: Throwable =>
          System.err.println(s"[verify] $name stale-output cleanup: $c")
        }
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.mkString(", ")}")
    val histRoot =
      sys.env.getOrElse("SPARK_GRAFT_HISTORY_DIR", "bench_history")
    try {
      if (histRoot.nonEmpty && histEntries.nonEmpty) {
        // run_id carries the SCALE as well as the recorder: verify runs
        // happen at all three SFs, and a trailing median mixing an
        // sf0.1 wall into sf0.01 priors would flag a 10× "regression"
        // that is just the corpus. verify_<sfTag>_* makes the verify
        // basis per-scale the same way bench_/sweep_/verify_ keeps the
        // three recorders apart.
        val sfTag = new java.io.File(sfDir).getName
        plans.QueryStats.append(spark, histRoot,
          s"verify_${sfTag}_${System.currentTimeMillis()}",
          histEntries.toSeq)
        // tripwire over the verify basis (runPrefix-scoped — verify
        // walls include the parquet dump, so they only ever compare
        // against other verify walls at the SAME scale): advisory
        // stderr report; the bench's bench_*-scoped verdict stays the
        // artifact of record
        val flagged = plans.QueryStats
          .regressions(plans.QueryStats.history(spark, histRoot),
            runPrefix = Some(s"verify_${sfTag}_"))
          .select("query", "kind").collect()
          .map(r => s"${r.getString(0)}:${r.getString(1)}").sorted
        System.err.println(s"[verify] regressions (verify_${sfTag}_ " +
          s"basis): ${flagged.length}${
            if (flagged.nonEmpty) " " + flagged.mkString(", ") else ""}")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] history append: $e")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
