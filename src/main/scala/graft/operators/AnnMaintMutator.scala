package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Child-JVM mutator for the two-process ANN maintenance contention
  * test: runs `rounds` of append → tombstone → (every other round)
  * compact against the segmented index under `dir`, each mutation under
  * the maint writer lock, while the PARENT process queries `maintQuery`
  * in a loop. Each mutation commits catalog tables and then one `index`
  * commit, the index's only publish point. The mutation sequence is a
  * deterministic function of (corpus, round) on purpose — the parent
  * replays it serially against a second copy of the corpus and asserts
  * the concurrent end state equals the serial one, proving no `index`
  * read-modify-write was lost across processes (the same guarantee the
  * Catalog DML two-JVM test pins for table commits).
  *
  * Flags for the parent: `<dir>/_mutating` exists while a mutation is
  * in flight (so the parent can count reads that truly overlapped a
  * mutator window, including compaction), `<dir>/_mutator_done` appears
  * after the last round.
  */
object AnnMaintMutator {
  def main(args: Array[String]): Unit = {
    val Array(dir, roundsStr) = args
    val rounds = roundsStr.toInt
    val spark = graft.Session.local(2)
    applyRounds(spark, dir, rounds,
      Some(java.nio.file.Paths.get(dir, "_mutating")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_mutator_done"), "done\n")
    spark.stop()
  }

  /** The deterministic mutation schedule, shared by the child (flagged)
    * and the parent's serial replay (unflagged). */
  def applyRounds(spark: SparkSession, dir: String, rounds: Int,
      flag: Option[java.nio.file.Path]): Unit = {
    def withFlag[T](f: => T): T = flag match {
      case Some(p) =>
        java.nio.file.Files.writeString(p, "1\n")
        try f finally java.nio.file.Files.deleteIfExists(p)
      case None => f
    }
    val all = graft.Tables.table(spark, dir, "embeddings")
    val heldOut = all.filter(pmod(col("vec_id"), lit(8)) === 0)
    for (r <- 1 to rounds) {
      // slice on vec_id/8 (consecutive ints over the held-out set), NOT
      // vec_id itself: every held-out id is a multiple of 8, so
      // pmod(vec_id, rounds) would be identically 0 for rounds ∈
      // {2,4,8} and rounds 2..n would append EMPTY segments — the
      // parent test pins each slice non-empty to keep this honest
      withFlag(AnnIndex.appendSegment(spark, dir,
        heldOut.filter(pmod((col("vec_id") / lit(8)).cast("long"),
          lit(rounds.toLong)) === (r - 1)),
        s"seg$r"))
      withFlag(AnnIndex.writeTombstones(spark, dir,
        all.filter(pmod(col("vec_id"), lit(7)) === (r % 7))
          .select(col("vec_id"))))
      if (r % 2 == 0) withFlag(AnnIndex.compact(spark, dir))
    }
  }
}
