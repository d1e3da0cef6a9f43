package graft.sources

/** Child-JVM writer for the soak's crash-recovery cycle — the dwweek
  * scenario's missing piece (reference: utils/scenarios/dwweek runs a
  * week of nightly loads WITH failures along the way; recovery is
  * DMLProc crash → cleartablelock, dbcon/dmlpackageproc/
  * commandpackageprocessor.cpp:34 + versioning/BRM tablelockdata).
  *
  * Runs one locked `Catalog.upsert` of the parquet batch at `batchPath`
  * into `table` under `root`, keyed on `keys` (comma-separated). The
  * parent harness sets GRAFT_SWAP_PAUSE_MS so the upsert parks inside
  * the commit window (files written, manifest not yet published, table
  * lock held) and flags `<root>/_locks/.midswap_<table>`; the parent
  * then kill -9s this process at that flag — a real cross-process
  * mid-commit crash, not a simulated one — and proves the next
  * reader/writer sees a consistent snapshot and gets the lock at once:
  * the kernel dropped the dead writer's file lock with its process.
  */
object SoakCrashWriter {
  def main(args: Array[String]): Unit = {
    val Array(root, table, batchPath, keys) = args
    val spark = graft.Session.local(2)
    val cat = new Catalog(spark, root)
    cat.attach()
    cat.upsert(table, spark.read.parquet(batchPath),
      keys.split(",").toSeq)
    spark.stop()
  }
}
