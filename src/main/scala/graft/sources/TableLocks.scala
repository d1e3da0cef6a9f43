package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap

/** Advisory per-table WRITER lock — the DML table-lock analog.
  *
  * The reference serializes all DML through table locks: DMLProc acquires
  * a table lock before any insert/update/delete and releases it at
  * commit/rollback (reference:
  * dbcon/dmlpackageproc/commandpackageprocessor.cpp:34 CLEANUP/table-lock
  * release path; versioning/BRM tablelockdata.h — lock state keyed by
  * table OID with owner/session/txn). Without it, two concurrent writers
  * can silently lose one writer's batch (writer A publishes a rewrite
  * computed from a pre-B snapshot, erasing B's committed rows).
  *
  * Two layers, both advisory (readers never block — MVCC semantics):
  *
  *  - in-process: one reentrant lock per (catalog root, table), so
  *    concurrent sessions/threads in one JVM serialize cheaply;
  *  - cross-process: a lock FILE at `<root>/_locks/<table>.lock`, claimed
  *    by hard-LINKING a stamped temp file into place (link(2) fails
  *    atomically when the target exists, so exactly one process wins
  *    with its content already published).
  *
  * The claim stamp is `pid pidStartMillis hostId wallMillis` — owner
  * identity that survives the two failure modes a bare pid cannot:
  *
  *  - PID REUSE: a recycled pid on the same host carries a different
  *    process start time, so a dead owner whose pid was reissued still
  *    reads as dead (the stamp's startInstant no longer matches the
  *    live process's);
  *  - MULTI-HOST sharing (HDFS/NFS roots): a claim stamped by ANOTHER
  *    host cannot be liveness-probed locally at all — ProcessHandle
  *    answers for this host's pid namespace only — so foreign claims
  *    are honored as live while their LEASE window (`graft.lock.
  *    crossHostLeaseMs`, default 60 s, wall-clock) is fresh, then
  *    treated as crashed and stolen. The lease is RENEWED while held:
  *    withLock runs a daemon that touches the lock file's mtime every
  *    lease/4, and foreign liveness is judged on max(stamp wall,
  *    file mtime) — so a hold longer than the lease (Catalog.rewrite
  *    through a full staged write, a 30-minute ANN index build) stays
  *    owned for as long as its process breathes, and lock loss after a
  *    remote crash is still bounded by one lease. mtime is preferred
  *    as renewal evidence because the fileserver stamps it — the two
  *    hosts never need to agree on a clock for renewal, only for the
  *    initial claim; max() keeps a skewed writer-side wall from
  *    SHORTENING the lease. Deployments with unsynced clocks should
  *    still swap this object for a real lock service (DynamoDB/ZK) —
  *    the Catalog call sites stay identical. hostId is hostname plus
  *    the kernel boot id, so two containers sharing a hostname string
  *    still read as distinct owners.
  *
  * A claim whose owner is provably dead (same host+boot, pid gone or
  * start-time mismatch; foreign host, lease expired) is stale and is
  * stolen — the analog of the reference's cleartablelock recovery after
  * a DMLProc crash.
  */
object TableLocks {
  private val jvmLocks =
    TrieMap.empty[String, java.util.concurrent.locks.ReentrantLock]

  private def jvmLock(key: String) =
    jvmLocks.getOrElseUpdate(key,
      new java.util.concurrent.locks.ReentrantLock())

  private def lockFile(root: String, table: String): Path =
    Paths.get(root, "_locks", s"$table.lock")

  private def selfPid: Long = ProcessHandle.current().pid()

  /** Start time of this process, 0 when the platform can't report it
    * (a 0 in a claim means "unknown — match any start time"). */
  private def selfStart: Long = startOf(ProcessHandle.current())

  private def startOf(h: ProcessHandle): Long =
    try h.info().startInstant()
      .map[java.lang.Long](_.toEpochMilli).orElse(0L).longValue()
    catch { case _: Exception => 0L }

  /** hostname#bootid-prefix — one whitespace-free token identifying the
    * (host, boot) this claim was stamped on. The boot id disambiguates
    * containers that report the same hostname AND invalidates pid
    * liveness conclusions across reboots. */
  private[graft] lazy val hostId: String = {
    val name =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception =>
        sys.env.getOrElse("HOSTNAME", "unknown") }
    val boot =
      try Files.readString(
          Paths.get("/proc/sys/kernel/random/boot_id")).trim.take(8)
      catch { case _: Exception => "noboot" }
    s"${name.replaceAll("\\s+", "_")}#$boot"
  }

  /** Wall-clock lease for claims stamped by a DIFFERENT host (liveness
    * unprobeable locally). Read per check so tests (and operators, at
    * runtime) can tune it. */
  private def crossHostLeaseMs: Long =
    sys.props.get("graft.lock.crossHostLeaseMs").map(_.toLong)
      .getOrElse(60000L)

  /** Parsed claim stamp. Old (pre round-9) claims were `pid wallMillis`;
    * they parse with unknown start and local host, preserving their
    * original semantics. */
  private case class Claim(pid: Long, start: Long, host: String,
      wall: Long)

  private def parseClaim(s: String): Option[Claim] =
    try {
      val p = s.trim.split("\\s+")
      if (p.length >= 4)
        Some(Claim(p(0).toLong, p(1).toLong, p(2), p(3).toLong))
      else Some(Claim(p(0).toLong, 0L, hostId, p(1).toLong))
    } catch { case _: Exception => None }

  private def readClaim(lock: Path): Option[Claim] =
    try parseClaim(Files.readString(lock))
    catch { case _: Exception => None }

  /** Owner pid recorded in a claim file, if readable (diagnostics). */
  private def ownerPid(lock: Path): Option[Long] =
    readClaim(lock).map(_.pid)

  /** Is the claim's owner still alive? Same (host, boot): the pid must
    * exist AND its start time must match the stamp (pid-reuse-proof;
    * a 0 start on either side means unknown and matches). Foreign
    * (host, boot): alive while the lease is fresh — judged on the
    * NEWEST evidence of life, max(stamp wall, lock-file mtime), so a
    * held lock whose renewal daemon keeps touching the file never
    * expires under its live owner, and a forged/failed clock on the
    * writer side can only LENGTHEN the lease, never strip a live
    * hold. */
  private def claimOwnerLive(c: Claim, lock: Path): Boolean =
    if (c.host == hostId) {
      val h = ProcessHandle.of(c.pid)
      h.isPresent && {
        val actual = startOf(h.get)
        c.start == 0L || actual == 0L || actual == c.start
      }
    } else {
      val mtime =
        try Files.getLastModifiedTime(lock).toMillis
        catch { case _: Exception => c.wall }
      System.currentTimeMillis() - math.max(c.wall, mtime) <
        crossHostLeaseMs
    }

  /** One row of the lock view — the viewtablelock analog (reference:
    * tools/viewtablelock/viewtablelock.cpp prints table, owner
    * name/PID/session, create time, and state from
    * BRM::getAllTableLocks; here the owner identity is the claim stamp
    * and "state" collapses to owner liveness, since graft's lock covers
    * the whole DML statement rather than LOADING/CLEANUP phases). */
  final case class LockInfo(table: String, pid: Long, startMillis: Long,
      host: String, claimedMillis: Long, ownerLive: Boolean)

  /** All current table-lock claims under `root`, owner-liveness
    * resolved — `viewtablelock` for this catalog. O(locks), reads only
    * the `_locks` directory. */
  def list(root: String): Seq[LockInfo] = {
    val d = Paths.get(root, "_locks")
    if (!Files.exists(d)) Seq.empty
    else scala.util.Using.resource(Files.list(d)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".lock"))
        .flatMap { p =>
          val t = p.getFileName.toString.stripSuffix(".lock")
          readClaim(p).map(c =>
            LockInfo(t, c.pid, c.start, c.host, c.wall,
              claimOwnerLive(c, p)))
        }.toSeq.sortBy(_.table)
    }
  }

  /** cleartablelock analog (reference: tools/cleartablelock/
    * cleartablelock.cpp — operator-driven release of a lock whose owner
    * died; the in-band steal in withLock handles this automatically,
    * but an admin sometimes needs to clear WITHOUT contending for the
    * lock). Removes the claim and returns true when the owner is dead
    * (or `force` is set — the tool's confirmed override for a
    * live-but-wedged owner); refuses with false while the owner is
    * live, so a typo can't break an in-flight writer's exclusion. */
  def clear(root: String, table: String, force: Boolean = false): Boolean = {
    val lf = lockFile(root, table)
    val observed =
      try Some(Files.readString(lf)) catch { case _: Exception => None }
    observed match {
      case None => false
      case Some(content) =>
        if (!force && parseClaim(content).exists(claimOwnerLive(_, lf)))
          false
        // same rename-aside protocol as the in-band steal: between the
        // dead verdict above and a bare delete, a contender could steal
        // the dead claim and publish a fresh live one — deleting THAT
        // strips the live successor's exclusion. The atomic rename
        // freezes exactly one file; the content check then runs on
        // bytes nobody else can touch.
        else removeClaim(lf, table, content,
          matchContent = !force) // the forced override clears whatever
                                 // is there — that is the tool's
                                 // explicit, confirmed semantics
    }
  }

  /** Remove the claim at `lf` via rename-aside, the TOCTOU-free removal
    * primitive shared by the in-band steal and the admin clear():
    *
    *  1. atomically RENAME the lock file to a remover-unique grave name
    *     — rename(2) has exactly one winner, so two simultaneous
    *     removers can never both "succeed" on the same claim (the
    *     round-9 read-compare-delete let the loser delete a FRESH claim
    *     published in between);
    *  2. the renamed file's bytes are frozen (only we hold the grave
    *     name), so the content check against the claim we judged dead
    *     is now race-free: a match means we removed the corpse we meant
    *     to — delete it and report success;
    *  3. a MISMATCH means a contender stole the dead claim and
    *     published a fresh live one between our read and our rename —
    *     restore it via link(2) and report failure. The restore can
    *     itself lose to a third claimant inside its two-syscall window;
    *     that residue is detected (link throws EEXIST) and surfaced
    *     loudly rather than silently leaving two writers who both
    *     believe they hold the table.
    *
    * Returns true when the claim was removed (`lf` is now free to
    * claim), false when the removal lost a race and `lf` should be
    * re-examined. */
  private[graft] def removeClaim(lf: Path, table: String, judged: String,
      matchContent: Boolean): Boolean = {
    val grave = lf.resolveSibling(
      s".grave_${table}_${selfPid}_${Thread.currentThread().getId}_" +
        s"${System.nanoTime()}")
    try {
      Files.move(lf, grave,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val got =
        try Some(Files.readString(grave)) catch { case _: Exception => None }
      if (!matchContent || got.contains(judged)) {
        Files.deleteIfExists(grave)
        true
      } else {
        // test hook: widen the two-syscall restore window so the spec
        // can deterministically land a third claimant inside it (the
        // GRAFT_SWAP_PAUSE_MS pattern; a no-op when the prop is unset)
        sys.props.get("graft.lock.restoreDelayMs")
          .foreach(ms => Thread.sleep(ms.toLong))
        try {
          Files.createLink(lf, grave)
          Files.deleteIfExists(grave)
          false
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // a third writer claimed lf during the restore window: the
            // successor whose claim we grabbed AND that third writer
            // now both believe they own the table (the successor's
            // post-claim verify in withLock catches this within its
            // settle window in practice). Unrecoverable from here —
            // put the grabbed claim back under its grave name for
            // forensics, persist an incident an operator can query,
            // and fail loudly instead of joining in.
            Incidents.record(lf.getParent.getParent.toString,
              "lock_restore_lost", table,
              s"displaced stamp preserved at ${grave.getFileName}")
            throw new IllegalStateException(
              s"lock restore for $table lost to a new claimant: a live " +
                s"claim was displaced during a stale-claim removal and " +
                s"could not be restored (displaced stamp preserved at " +
                s"$grave) — mutual exclusion may be violated")
        }
      }
    } catch {
      case _: java.nio.file.NoSuchFileException => false // lost the
      // rename race outright: another remover already took the claim
    }
  }

  /** Confirm a just-published claim still carries `myStamp`: true on
    * the first read in the overwhelmingly common case. A missing file
    * means a stale-claim remover grabbed us mid-race — wait out its
    * restore for up to ~300 ms (the restore is two syscalls away
    * unless the remover is descheduled); a DIFFERENT stamp means a
    * third claimant won the displaced window — we lost, re-claim. */
  private def verifyClaim(lf: Path, myStamp: String): Boolean = {
    val deadline = System.nanoTime() + 300L * 1000000L
    while (true) {
      (try Some(Files.readString(lf))
       catch { case _: Exception => None }) match {
        case Some(c) if c == myStamp => return true
        case Some(_) => return false
        case None =>
          if (System.nanoTime() > deadline) return false
          Thread.sleep(10)
      }
    }
    false
  }

  /** True while a DIFFERENT live owner (or a not-yet-readable claim)
    * holds the table's lock file. */
  def heldByOtherLiveOwner(root: String, table: String): Boolean = {
    val lf = lockFile(root, table)
    Files.exists(lf) && (readClaim(lf) match {
      case Some(c) =>
        !(c.pid == selfPid && c.host == hostId) && claimOwnerLive(c, lf)
      case None => Files.exists(lf) // claim mid-write: assume live
    })
  }

  /** Acquire the table's writer lock, run `f`, release. Reentrant within
    * a thread (upsert → rewrite style nesting takes it once). Throws
    * after `timeoutMs` if a live owner never releases. */
  def withLock[T](root: String, table: String,
      timeoutMs: Long = 60000)(f: => T): T = {
    val key = s"$root#$table"
    val jl = jvmLock(key)
    jl.lock()
    try {
      // already claimed the file at an outer nesting level in this thread
      if (jl.getHoldCount > 1) f
      else {
        val lf = lockFile(root, table)
        Files.createDirectories(lf.getParent)
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        var claimed = false
        var myStamp = ""
        while (!claimed) {
          // temp name must be unique across HOSTS too: two containers
          // sharing an NFS root routinely share pids, and a colliding
          // temp file lets writer A link writer B's stamp under A's
          // claim — A then can't release (stamp mismatch) and B spins
          // on a claim naming B itself. hostId + a nanotime nonce.
          val tmp = lf.resolveSibling(
            (s".claim_${table}_${hostId}_${selfPid}_" +
              s"${Thread.currentThread().getId}_${System.nanoTime()}")
              .replaceAll("[^A-Za-z0-9._-]", "_"))
          myStamp =
            s"$selfPid $selfStart $hostId ${System.currentTimeMillis()}\n"
          Files.writeString(tmp, myStamp)
          // publish the claim via hard LINK: link(2) fails with EEXIST
          // when the target exists, so exactly one process wins AND the
          // winner's content (owner stamp) is in place atomically. A
          // rename would NOT work here — POSIX rename(2), which
          // ATOMIC_MOVE maps to, silently REPLACES an existing target,
          // letting every claimer "succeed" (caught by the cross-JVM
          // test in CatalogSpec).
          try {
            Files.createLink(lf, tmp)
            Files.deleteIfExists(tmp)
            // post-claim ownership verify (round 11): a remover that
            // judged the PREVIOUS claim stale can rename OUR fresh
            // claim aside if we landed between its read and its
            // rename(2). Its mismatch check then restores us within
            // microseconds — but until round 11 the displaced window
            // was invisible to us, and if a third claimant slipped in
            // before the restore, BOTH of us proceeded. Re-reading our
            // own stamp (with a short settle wait for an in-flight
            // restore) converts that into: restored → proceed;
            // displaced-and-lost → re-enter the claim loop. One file
            // read on the fast path. This narrows the residual
            // two-writer window from "any grab during the hold" to "a
            // remover pausing >settle between grab and restore" — an
            // advisory file lock can't close it completely; SCALE.md
            // still says swap in a real lock service for hostile
            // deployments.
            claimed = verifyClaim(lf, myStamp)
          } catch {
            case e @ (_: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.FileSystemException) =>
              Files.deleteIfExists(tmp)
              // only CONTENTION retries: a FileSystemException when the
              // lock file does NOT exist is the filesystem refusing
              // link(2) itself (hard links denied on some NFS/fuse/
              // container mounts) — retrying would spin for the whole
              // timeout and report a phantom "held by pid ?" instead of
              // the real capability error
              if (!e.isInstanceOf[java.nio.file.FileAlreadyExistsException]
                  && !Files.exists(lf))
                throw new IllegalStateException(
                  s"cannot claim table lock for $table: hard links appear " +
                    s"unsupported on ${lf.getParent} (${e.getMessage}); " +
                    "host the catalog on a filesystem with link(2) or " +
                    "swap TableLocks for an external lock service", e)
              val observed =
                try Some(Files.readString(lf)) catch { case _: Exception => None }
              // a claim stamped with OUR pid+host here is this thread's
              // own ABANDONED claim (same-JVM contenders serialize on
              // jvmLock before touching the file): the verify above
              // gave up on a displaced claim and the remover's restore
              // landed late. Without this branch we'd spin on "held by
              // a live owner" — ourselves — until timeout.
              val mine = observed.exists(s => parseClaim(s).exists(c =>
                c.pid == selfPid && c.host == hostId))
              val stale = observed.exists(s =>
                parseClaim(s).exists(c => !claimOwnerLive(c, lf)))
              if (mine || stale) {
                // stale claim from a dead writer — steal (the
                // cleartablelock analog) through the rename-aside
                // removal: exactly one of N simultaneous stealers wins
                // the rename, and the content check that protects a
                // FRESH claim published since our read runs on the
                // renamed (frozen) bytes, not on a re-read the winner's
                // delete can invalidate mid-compare. A lost race just
                // retries the claim loop.
                removeClaim(lf, table, observed.get, matchContent = true)
              } else {
                if (System.nanoTime() > deadline)
                  throw new IllegalStateException(
                    s"timed out acquiring table lock for $table " +
                      s"(held by pid ${ownerPid(lf).getOrElse("?")})")
                Thread.sleep(20)
              }
          }
        }
        // lease renewal while held: touch the lock file's mtime every
        // lease/4 so a FOREIGN host judging us by max(wall, mtime)
        // keeps seeing a fresh lease for as long as we actually hold —
        // the round-9 fixed 60 s lease broke mutual exclusion on
        // exactly the holds that matter (a staged rewrite of a big
        // table, a 30-minute ANN index build on a shared root). Touch
        // only while the file still carries OUR stamp, so a forced
        // clear + successor claim mid-hold isn't kept alive by us.
        val renewer = new Thread(() => {
          val period = math.max(100L, crossHostLeaseMs / 4)
          try while (true) {
            Thread.sleep(period)
            try {
              val cur = try Some(Files.readString(lf))
                        catch { case _: Exception => None }
              if (cur.contains(myStamp))
                Files.setLastModifiedTime(lf,
                  java.nio.file.attribute.FileTime.fromMillis(
                    System.currentTimeMillis()))
            } catch { case _: InterruptedException => throw
                new InterruptedException()
              case _: Exception => }
          } catch { case _: InterruptedException => }
        }, s"graft-lock-renew-$table")
        renewer.setDaemon(true)
        renewer.start()
        try f
        finally {
          renewer.interrupt()
          // release ONLY our own claim: if an operator force-cleared us
          // (clear(force=true) on a wedged-looking writer) or a foreign
          // host stole our expired lease, the file now carries a
          // SUCCESSOR's stamp — deleting it unconditionally would strip
          // the live successor's exclusion and let a third writer in
          // mid-swap (lost update). The pre-read keeps a successor's
          // file untouched in the common case; the delete itself goes
          // through removeClaim's rename-verify so even a force-clear +
          // successor-claim landing BETWEEN this read and the delete
          // (the round-9 release TOCTOU's mirror) is detected on the
          // frozen bytes and restored rather than silently deleting the
          // successor's claim.
          val now = try Some(Files.readString(lf))
                    catch { case _: Exception => None }
          if (now.contains(myStamp))
            try removeClaim(lf, table, myStamp, matchContent = true)
            catch { case e: IllegalStateException =>
              // restore lost to a third claimant — surfaced, never
              // rethrown: the caller's work COMMITTED before release,
              // and masking its result with a lock-release error would
              // turn a diagnosable protocol violation into a phantom
              // write failure
              System.err.println(s"[locks] release of $table: $e")
            }
        }
      }
    } finally jl.unlock()
  }
}

/** Tiny main for the cross-process lock test: holds `table`'s lock under
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
  * processes within one boot) to `<root>/log` with O_APPEND. The
  * in-process thread hammer can't exercise the FILE protocol's steal
  * races — same-JVM contenders serialize on the reentrant jvmLock
  * before ever touching the claim file — so mutual exclusion of the
  * rename-aside steal (round 10) is only provable with several of
  * these JVMs racing over a planted stale claim; the parent asserts
  * the logged critical sections never overlap. Writes are single
  * small O_APPEND lines (atomic on POSIX for < PIPE_BUF). */
object LockContender {
  def main(args: Array[String]): Unit = {
    val Array(root, table, rounds) = args
    val log = Paths.get(root, "log")
    val pid = ProcessHandle.current().pid()
    def rec(tag: String): Unit =
      Files.writeString(log, s"$pid $tag ${System.nanoTime()}\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    for (_ <- 1 to rounds.toInt)
      TableLocks.withLock(root, table, timeoutMs = 60000) {
        rec("enter")
        Thread.sleep(3)
        rec("exit")
      }
  }
}
