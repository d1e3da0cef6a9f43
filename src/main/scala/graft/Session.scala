package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one place engine sessions are started and given their settings,
  * as InfiniDB's processes all read theirs from one `Calpont.xml`
  * (reference: oam/etc/Calpont.xml, dbcon/joblist/resourcemanager.h:56).
  * Every main and child JVM calls `local`; a caller that builds its own
  * session calls `tune` on it before its first query. */
object Session {
  /** Worker threads of a `local` session: SPARK_GRAFT_CPUS, else every
    * core of the machine. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core, UTC,
    * no UI, FAIR job scheduling and WARN logging, tuned before it is
    * returned. FAIR matters only when several threads submit jobs (the
    * bench's multi-user legs): under FIFO a 0.1 s scan-agg from user B
    * queues behind every stage of user A's join, so small-query latency
    * would measure queue depth, not the engine. With one submitting
    * thread it runs jobs in FIFO order. */
  def local(cores: Int = Session.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
    spark
  }

  /** Entries in Spark's generated-class cache. One `power_stream` pass
    * (TPC-H q01-q22 plus the classifier) cycles through ~350 generated
    * classes; at Spark's default of 100 every lookup missed, so each run
    * Janino-compiled every class again on the driver. ~3x that working set. */
  private val codegenCacheEntries = 1000

  /** Session defaults we care about regardless of how the driver built the
    * session. Idempotent; applied once per session. `Tables.table` calls
    * it before every read, first of all, because the schema it converts
    * from a file footer depends on `nanosAsLong`. A session counts as
    * tuned once its own function registry holds graft's functions, which
    * `tune` registers last; temp functions belong to one session, so a
    * `newSession()` is tuned on its first read and no session is kept
    * reachable here. All settings are runtime confs except the
    * generated-class cache size: a static conf that Spark reads once per
    * JVM, when it first generates code, so it takes effect only if `tune`
    * runs before the JVM's first codegen.
    * `local` runs it before returning; a session built elsewhere (the
    * benchmark harness's) gets it from its first `Tables.registerAll`. */
  def tune(spark: SparkSession): Unit = {
    if (spark.sessionState.functionRegistry.functionExists(
        FunctionIdentifier("simhash64"))) return
    // `spark.conf.set` refuses static confs; the session's SQLConf does not
    spark.sessionState.conf.setConfString(
      "spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
    // The cache is keyed by source text, and the class name carried the
    // whole-stage codegen stage id, which AQE numbers in the order stages
    // materialize: q21's two broadcast stages race, so one pipeline got
    // two names and two compiles. Without the id, equal pipelines share a
    // class within and across queries.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // AQE coalescing floor: left at Spark's 1 MB default, on purpose.
    // r15 measured a 16 KB floor both ways: it parallelizes the rare
    // compute-dense sub-MB shuffle stage, but every stage-DENSE pipeline
    // (the ANN train/encode chains: dozens of tiny shuffles + broadcast
    // materializations + checkpoint barriers) regressed ~2×
    // (x_ann_ivfpq_topk 8.1 s → 19.1 s, x_ann_pq_topk 3.9 s → 8.5 s at
    // sf0.1/local[32]) because each of its many stages fanned out to
    // 16–32 near-empty tasks whose launch/fetch overhead multiplied.
    // The single-task hot spots are fixed structurally instead
    // (Tables.spread at the operator's input + codegen'd fold kernels),
    // which parallelizes exactly the stages that need it and nothing
    // else. Override per session via standard Spark conf if a future
    // workload wants a different floor.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // The reference broadcasts join small sides under 64 MB
    // (oam/etc/Calpont.xml:483 PmMaxMemorySmallSide); match that.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    // rejects; read as long and convert. Tables.table reads the footer
    // schema under this setting, so it must be set before the first read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // every unpersist of a localCheckpoint barrier's RDD logs an
    // expected "was locally checkpointed … cannot be recomputed after
    // unpersisting" WARN: hundreds of lines of noise per run
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    // AQE stays on for batch queries; Spark turns it off inside every
    // streaming query and WARNs each time it does
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      org.apache.logging.log4j.Level.ERROR)
    plans.GraftExtensions.registerAll(spark)
  }
}
