package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption => O}
import java.util.concurrent.locks.ReentrantLock
import scala.collection.concurrent.TrieMap

/** Per-table WRITER lock — the DML table-lock analog.
  *
  * The reference serializes all DML through table locks: DMLProc acquires
  * a table lock before any insert/update/delete and releases it at
  * commit/rollback (reference:
  * dbcon/dmlpackageproc/commandpackageprocessor.cpp:34; lock state in
  * versioning/BRM/tablelockdata.h). Without it, two concurrent writers
  * can silently lose one writer's batch (writer A publishes a commit
  * computed from a pre-B snapshot, erasing B's committed rows). Readers
  * never take it (they read pinned manifests).
  *
  * Two layers:
  *
  *  - in-JVM: one `ReentrantLock` per lock file (keyed by its normalized
  *    absolute path), for threads and for reentrancy;
  *  - cross-process: the kernel's file lock (`FileChannel.tryLock`) on
  *    `<root>/_locks/<table>.lock`. The kernel drops it when its process
  *    dies, so a crashed writer needs no liveness guess and no clear (the
  *    reference's cleartablelock): the next writer just gets it. On an
  *    NFSv4 root the server's lock manager does the same.
  *
  * ONE-DESCRIPTOR RULE: the kernel lock is a POSIX record lock, owned by
  * the PROCESS, and closing ANY descriptor this process has on the file
  * releases it — a `Files.readString`, or a second channel whose tryLock
  * failed. So a JVM opens a descriptor on a lock file only while it
  * holds that file's in-JVM lock; `list` obeys the same rule.
  *
  * The lock file stays on disk after release: deleting it would let a
  * contender lock the unlinked inode while a third process creates and
  * locks a fresh file at the same path. Its content is the last holder's
  * pid, written through the holder's own channel, for `list` only.
  */
object TableLocks {
  private val jvmLocks = TrieMap.empty[Path, ReentrantLock]

  private def lockFile(root: String, table: String): Path =
    Paths.get(root, "_locks", s"$table.lock").toAbsolutePath.normalize

  private def jvmLock(lf: Path) =
    jvmLocks.getOrElseUpdate(lf, new ReentrantLock())

  private def pidIn(ch: FileChannel): Long = {
    val buf = ByteBuffer.allocate(32)
    ch.read(buf, 0)
    try new String(buf.array, 0, buf.position(), UTF_8).trim.toLong
    catch { case _: NumberFormatException => -1L }
  }

  /** A held table lock and its holder's pid — the viewtablelock analog
    * (reference: tools/viewtablelock/viewtablelock.cpp prints table and
    * owner PID per BRM table lock). `pid` is -1 when the holder has not
    * stamped the file yet. */
  final case class LockInfo(table: String, pid: Long)

  /** The tables under `root` whose lock some live process holds now. A
    * table held by a thread of this JVM reports this pid without opening
    * the file (the one-descriptor rule). */
  def list(root: String): Seq[LockInfo] = {
    val d = Paths.get(root, "_locks")
    val files =
      if (!Files.isDirectory(d)) Seq.empty
      else scala.util.Using.resource(Files.list(d)) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.getFileName.toString.endsWith(".lock"))
          .map(_.toAbsolutePath.normalize).toSeq
      }
    files.flatMap { lf =>
      val table = lf.getFileName.toString.stripSuffix(".lock")
      val jl = jvmLock(lf)
      if (jl.isHeldByCurrentThread || !jl.tryLock())
        Some(LockInfo(table, ProcessHandle.current().pid()))
      else try scala.util.Using.resource(FileChannel.open(lf, O.READ)) { ch =>
        val probe = ch.tryLock(0L, Long.MaxValue, true)
        if (probe != null) { probe.release(); None }
        else Some(LockInfo(table, pidIn(ch)))
      } finally jl.unlock()
    }.sortBy(_.table)
  }

  /** Acquire the table's writer lock, run `f`, release. Reentrant within
    * a thread (upsert → rewrite style nesting takes it once). Polls the
    * kernel lock every 20 ms and throws after `timeoutMs` if another
    * process keeps holding it. */
  def withLock[T](root: String, table: String,
      timeoutMs: Long = 60000)(f: => T): T = {
    val lf = lockFile(root, table)
    val jl = jvmLock(lf)
    jl.lock()
    try {
      if (jl.getHoldCount > 1) f
      else {
        Files.createDirectories(lf.getParent)
        scala.util.Using.resource(
            FileChannel.open(lf, O.CREATE, O.READ, O.WRITE)) { ch =>
          val deadline = System.nanoTime() + timeoutMs * 1000000L
          while (ch.tryLock() == null) {
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"timed out acquiring table lock for $table " +
                  s"(held by pid ${pidIn(ch)})")
            Thread.sleep(20)
          }
          ch.truncate(0)
          ch.write(ByteBuffer.wrap(
            s"${ProcessHandle.current().pid()}\n".getBytes(UTF_8)), 0)
          f
        } // closing the channel releases the kernel lock
      }
    } finally jl.unlock()
  }
}

/** Tiny main for the cross-process lock tests: holds `table`'s lock under
  * `root` for `holdMillis`, touching `<root>/_locks/.holding_<table>`
  * while inside so the parent test can observe the hold window. No Spark
  * dependency — the lock layer is pure java.nio, which is the point: a
  * second JVM (a concurrent loader, a second session) contends through
  * the filesystem alone. */
object TableLockHolder {
  def main(args: Array[String]): Unit = {
    val Array(root, table, holdMillis) = args
    val flag = Paths.get(root, "_locks", s".holding_$table")
    TableLocks.withLock(root, table) {
      Files.createDirectories(flag.getParent)
      Files.writeString(flag, s"${ProcessHandle.current().pid()}\n")
      Thread.sleep(holdMillis.toLong)
      Files.deleteIfExists(flag)
    }
  }
}

/** Cross-process lock CONTENTION hammer: loops `rounds` critical
  * sections under `table`'s lock, appending enter/exit records (pid,
  * System.nanoTime — CLOCK_MONOTONIC on Linux, comparable across
  * processes within one boot) to `<root>/log` with O_APPEND. Same-JVM
  * threads serialize on the in-JVM lock before reaching the kernel lock,
  * so only several of these JVMs racing each other exercise the
  * cross-process layer; the parent asserts the logged critical sections
  * never overlap. Writes are single small O_APPEND lines (atomic on
  * POSIX for < PIPE_BUF). */
object LockContender {
  def main(args: Array[String]): Unit = {
    val Array(root, table, rounds) = args
    val log = Paths.get(root, "log")
    val pid = ProcessHandle.current().pid()
    def rec(tag: String): Unit =
      Files.writeString(log, s"$pid $tag ${System.nanoTime()}\n",
        O.CREATE, O.APPEND)
    for (_ <- 1 to rounds.toInt)
      TableLocks.withLock(root, table, timeoutMs = 60000) {
        rec("enter")
        Thread.sleep(3)
        rec("exit")
      }
  }
}
