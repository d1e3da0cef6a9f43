package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Operator-visible incident log for a catalog root — the queryable
  * trail behind the two loud-but-ephemeral stderr edge paths the
  * round-10 review flagged (reference analog: the server writes
  * crit/warning lines into its log tables rather than only stderr —
  * utils/loggingcpp; an operator diagnoses yesterday's anomaly from
  * persisted state, not from a scrollback that no longer exists).
  *
  * Nothing records an incident today: the only writers are the
  * `d_incidents` query and CatalogSpec's rotation test, which plant
  * lines to read back. The two kinds the log was built for survive as
  * log-format data only, and logs that hold them still parse:
  *  - `lock_restore_lost` came from TableLocks' old rename-aside steal,
  *    replaced by the kernel's file lock;
  *  - `torn_listing` came from Catalog's old directory-listing bracket.
  *
  * Storage is one O_APPEND text line per incident under
  * `<root>/_incidents/log` — small single writes are atomic on POSIX,
  * so concurrent recorders (multiple sessions, multiple JVMs) never
  * interleave bytes, and recording takes no locks (an incident
  * recorder must never deadlock with the failure it is reporting).
  * Recording also never throws: a full disk while logging an incident
  * must not convert a diagnosable anomaly into a new failure.
  *
  * The log is SIZE-CAPPED: when an append finds the live file over
  * `rotateBytes` (1 MiB ≈ thousands of incidents — far beyond
  * "rare by construction"), it first rotates it aside to `log.1`
  * (atomic rename, replacing any previous `log.1`) so unbounded
  * pathology — an incident storm from a broken deployment — cannot
  * grow the file without limit, while the most recent ~2 MiB of
  * trail always survives for forensics. Rotation is rename-based and
  * lock-free: a writer racing the rotation appends either to the
  * pre-rotation file (its line lands in `log.1` — preserved) or to a
  * fresh post-rotation `log`; a second concurrent rotator's rename
  * fails on the missing source and is swallowed. `list` reads
  * `log.1` then `log`, so rotation is invisible to readers.
  */
object Incidents {
  final case class Incident(tsMillis: Long, pid: Long, kind: String,
      table: String, detail: String)

  /** Rotate-aside threshold for the live log file. */
  val rotateBytes: Long = 1L << 20

  private def logFile(root: String): Path =
    Paths.get(root, "_incidents", "log")

  /** Append one incident line; never throws, takes no locks.
    * `capBytes` is overridable for tests only. */
  def record(root: String, kind: String, table: String,
      detail: String, capBytes: Long = rotateBytes): Unit =
    try {
      val f = logFile(root)
      Files.createDirectories(f.getParent)
      try {
        if (Files.exists(f) && Files.size(f) > capBytes)
          try Files.move(f, f.resolveSibling("log.1"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          catch {
            // ADVICE r12: some network/overlay mounts don't support
            // ATOMIC_MOVE — swallowing that here would fail rotation on
            // EVERY append and regrow the file without bound, exactly
            // the pathology the cap exists to prevent. Fall back to a
            // non-atomic move (worst case a racing reader sees a
            // short gap), and if even that fails, delete the oversized
            // file — the size bound holds on all filesystems; bounded
            // loss beats unbounded growth in a pathological storm.
            case _: java.nio.file.AtomicMoveNotSupportedException =>
              try Files.move(f, f.resolveSibling("log.1"),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              catch { case _: Exception => Files.deleteIfExists(f) }
          }
      } catch { case _: Exception => () } // lost rotation race: append on
      val d = detail.replaceAll("\\s+", " ").trim.take(400)
      Files.writeString(f,
        s"${System.currentTimeMillis()} ${ProcessHandle.current().pid()} " +
          s"$kind $table $d\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } catch { case _: Exception => () }

  /** All recorded incidents under `root`, oldest first (the rotated
    * `log.1` generation, then the live `log`). Unparseable lines (a
    * torn write from a crashed recorder) are skipped rather than
    * failing the whole read. */
  def list(root: String): Seq[Incident] = {
    val live = logFile(root)
    Seq(live.resolveSibling("log.1"), live).flatMap { f =>
      if (!Files.exists(f)) Seq.empty
      else
        try {
          import scala.jdk.CollectionConverters._
          Files.readAllLines(f).asScala.toSeq.flatMap { line =>
            val p = line.split(" ", 5)
            if (p.length < 4) None
            else
              try Some(Incident(p(0).toLong, p(1).toLong, p(2), p(3),
                if (p.length > 4) p(4) else ""))
              catch { case _: Exception => None }
          }
        } catch { case _: Exception => Seq.empty }
    }
  }

  /** The incident log as a DataFrame — queryable with the engine
    * itself, like the lock view and query history. Driver-side parse
    * of a small operational log (incidents are rare by construction),
    * not a data path. */
  def df(spark: org.apache.spark.sql.SparkSession,
      root: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    list(root).toDF("ts", "pid", "kind", "table_name", "detail")
  }
}
