package graft.sources

import org.apache.spark.sql.DataFrame

/** Lineage barrier for iterative operators (connected components,
  * pagerank, label propagation, the banded dedup family): materialize an
  * intermediate result and truncate its query lineage so per-round plans
  * stay O(1).
  *
  * Two modes:
  *
  *  - default: `localCheckpoint()` — executor-local blocks, no external
  *    storage, fastest. The blocks die with an executor, so on a real
  *    cluster a lost node forces whole-job recomputation.
  *  - reliable: set `spark.graft.checkpoint.dir` (SparkConf) to a
  *    fault-tolerant path (HDFS/S3/...) and every barrier becomes a
  *    reliable `checkpoint()` persisted there — iterative state survives
  *    executor loss, the way the reference survives a PM crash through
  *    its persistent extent state (reference:
  *    versioning/BRM/extentmap.h:116).
  *
  * At 100 TB the reliable mode is the production setting: a 10-round
  * star-contraction over a trillion edges cannot afford to restart
  * because one of 1000 executors was preempted.
  */
object Checkpoints {

  /** Resolved checkpoint dir, if reliable mode is enabled. */
  def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption("spark.graft.checkpoint.dir")
      .filter(_.nonEmpty)

  /** The raw configured dir this process last applied to each context:
    * a changed `spark.graft.checkpoint.dir` rotates storage at the next
    * barrier instead of being first-wins for the context's lifetime (a
    * long-lived serving session must be able to move checkpoint traffic
    * off a draining filesystem). Weak keys: a stopped context drops its
    * entry. */
  private val applied =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, String]()

  /** Eagerly materialize `df` with truncated lineage — reliable
    * `checkpoint()` when a checkpoint dir is configured, else
    * `localCheckpoint()`.
    *
    * The configured dir is resolved PER BARRIER: when it differs from
    * what this process last applied to the context, `setCheckpointDir`
    * runs again, so future barriers land under the new path while
    * already-written checkpoints stay readable where they are.
    * Reliable-mode data retention is the operator's call (or
    * spark.cleaner.referenceTracking.cleanCheckpoints). */
  def barrier(df: DataFrame): DataFrame = reliableDir(df) match {
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      applied.synchronized {
        if (applied.get(sc) != dir) {
          sc.setCheckpointDir(dir)
          applied.put(sc, dir)
        }
      }
      df.checkpoint()
    case None => df.localCheckpoint()
  }

  /** `df.barrier()` sugar so call sites chain like `localCheckpoint`. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def barrier(): DataFrame = Checkpoints.barrier(df)
  }
}
