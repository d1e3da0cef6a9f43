package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{PartitionPath,
  PartitionSpec, PartitioningUtils}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Thin table catalog over Parquet files, versioned by a manifest log.
  *
  * Plays the role of the reference's CalpontSystemCatalog + DDL processors
  * (reference: dbcon/execplan/calpontsystemcatalog.h:107;
  * dbcon/ddlpackage/ddl.y:233-300 CREATE/DROP/TRUNCATE/ALTER;
  * dbcon/ddlpackageproc/).
  *
  * Every table version is an immutable manifest,
  * `<root>/<name>/_manifest/v<n>`: the schema, the live data files with
  * their sizes, the disabled partition specs and the table props (the
  * AUTO_INCREMENT counters, a CDC stream's applied batch). The manifest
  * log plays the role of the reference's extent map and version buffer
  * (versioning/BRM/extentmap.h, dbrm.h:163-192): it says which files
  * belong to which version, and a writer never moves a file out from
  * under a reader. A commit writes new files into a fresh commit
  * directory `<root>/<name>/c<k>/`, then publishes the next manifest with
  * one create-new under the table lock. A read pins the newest manifest
  * and scans exactly its files, so it sees one whole version. Older
  * manifests are the retained versions (`tableAsOf`, `rollbackTo`);
  * `vacuumVersions` ages them out and deletes the files no retained
  * manifest names, including those of a commit that crashed before it
  * published.
  *
  * DML parity (reference: dbcon/dmlpackageproc insert/update/delete
  * package processors): INSERT INTO…SELECT publishes the old file list
  * plus the batch's files; UPDATE/DELETE/upsert read the pinned version
  * and publish only the files of its replacement — a full distributed
  * scan+write, the same cost class as the reference's block-rewrite
  * through the version buffer.
  */
class Catalog(spark: SparkSession, root: String) {
  private val readRetries = 40
  Files.createDirectories(Paths.get(root))

  def tablePath(name: String): String = s"$root/$name"

  // ---- persisted views (reference: dbcon/mysql/ha_view.cpp — MySQL
  // views resolved through the vtable rewrite; here a view is a named
  // SQL text stored in the catalog dir, re-registered on attach) -------

  private def viewsDir: Path = Paths.get(root, "_views")
  private def viewFile(name: String): Path = viewsDir.resolve(s"$name.sql")

  /** CREATE VIEW name AS sql — persisted to the catalog dir AND
    * registered in this session immediately (the eager spark.sql also
    * validates the text against the current table set). View text may
    * reference catalog tables by bare name; they register as temp views
    * here so the definition resolves in the creating session exactly as
    * it later will on attach(). The definition publishes like a manifest
    * (written aside, hard-linked into place), so of two instances racing
    * one name exactly one wins, and no reader sees a torn definition. */
  def createView(name: String, sql: String): Unit = {
    require(!Files.exists(viewFile(name)), s"view $name already exists")
    listTables.foreach(t => table(t).createOrReplaceTempView(t))
    val view = spark.sql(sql)
    try linkNew(viewFile(name), sql)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalArgumentException(s"view $name already exists") }
    view.createOrReplaceTempView(name)
  }

  /** DROP VIEW — removes the persisted definition and the session view. */
  def dropView(name: String): Unit = {
    require(Files.exists(viewFile(name)), s"no such view: $name")
    Files.delete(viewFile(name))
    spark.catalog.dropTempView(name)
  }

  def listViews: Seq[String] = names(viewsDir)
    .filter(_.endsWith(".sql")).map(_.stripSuffix(".sql")).sorted

  /** Attach a (possibly fresh) session to an existing catalog dir:
    * register every table that has a published manifest as a temp view,
    * then replay persisted view definitions (name-sorted; a view may
    * reference catalog tables or any view that sorts before it). This is
    * what makes catalog state survive the session — the reference's
    * views outlive the connection the same way (ha_view.cpp resolves
    * them from the frm store per statement). Takes no lock: a commit
    * that crashed before publishing left no manifest, so there is
    * nothing to recover. A DROP cut short after its rename left a
    * `_dropped.*` directory that no table names; attach deletes it. */
  def attach(): Unit = {
    names(Paths.get(root)).filter(_.startsWith("_dropped."))
      .foreach(n => FsUtil.deleteRecursively(Paths.get(root, n)))
    tableNames.foreach(attachOne)
    listViews.foreach { v =>
      spark.sql(Files.readString(viewFile(v))).createOrReplaceTempView(v)
    }
  }

  /** Attach exactly ONE table; false when it has no published version. */
  def attachOne(name: String): Boolean =
    try { table(name).createOrReplaceTempView(name); true }
    catch { case _: IllegalArgumentException => false }

  /** CREATE TABLE name (schema) — version 0 with no files. */
  def createTable(name: String, schema: StructType): Unit =
    create(name, (schema, Nil, Nil))

  /** CREATE TABLE AS SELECT. */
  def createTableAs(name: String, df: DataFrame): Unit =
    create(name, (df.schema, Nil, write(name, 0, df, Nil)))

  /** CREATE TABLE AS SELECT, Hive-partitioned on `partCol` — the directory
    * layout that replaces the reference's extent-map partition placement
    * (reference: versioning/BRM/extentmap.h:116-132 partition/segment in
    * EMEntry). The schema is the one a read of the written directory
    * infers: partition column last, typed from its directory values. */
  def createTablePartitionedAs(name: String, df: DataFrame,
      partCol: String): Unit =
    create(name, {
      val files = write(name, 0, df, Seq(partCol))
      val dir = Paths.get(tablePath(name), files.head._1).getParent.getParent
      (spark.read.parquet(dir.toString).schema, Seq(partCol), files)
    })

  /** Every create publishes version 0 under the table lock, so a second
    * catalog instance on the same root (another process included) can
    * never replace a table that exists. */
  private def create(name: String,
      v0: => (StructType, Seq[String], Seq[(String, Long)])): Unit =
    TableLocks.withLock(root, name) {
      require(published(name).isEmpty, s"table $name already exists")
      val (schema, partCols, files) = v0
      publish(name, 0, Manifest(schema, partCols, files, Nil, Map.empty))
    }

  private def inPartition(file: String, spec: String): Boolean =
    s"/$file".contains(s"/$spec/")

  /** caldisablepartitions analog (reference:
    * dbcon/mysql/ha_calpont_partition.cpp:790-894 partition mark): take a
    * partition offline without deleting it. `spec` is the Hive-style dir
    * name, e.g. "o_year=1995"; its files stay in the manifest, marked
    * offline, so reads and DML skip them. */
  def disablePartition(name: String, spec: String): Unit =
    commit(name) { (m, _) =>
      require(!m.disabled.contains(spec) &&
        m.files.exists(f => inPartition(f._1, spec)),
        s"no partition $spec in table $name")
      m.copy(disabled = m.disabled :+ spec)
    }

  /** calenablepartitions analog: bring a disabled partition back online. */
  def enablePartition(name: String, spec: String): Unit =
    commit(name) { (m, _) =>
      require(m.disabled.contains(spec),
        s"partition $spec of $name is not disabled")
      m.copy(disabled = m.disabled.filterNot(_ == spec))
    }

  /** caldroppartitions analog: permanently remove a partition (live or
    * disabled) — a manifest-only commit, never a table rewrite; the
    * bytes go at the vacuum that ages out the last version naming them. */
  def dropPartition(name: String, spec: String): Unit =
    commit(name) { (m, _) =>
      m.copy(files = m.files.filterNot(f => inPartition(f._1, spec)),
        disabled = m.disabled.filterNot(_ == spec))
    }

  def table(name: String): DataFrame = scan(name, manifest(name, current(name)))

  /** Run a read action with snapshot-consistency retry. A read pins one
    * manifest whose files are never rewritten, so a scan sees exactly one
    * committed version; the one transient failure left is a vacuum
    * deleting what a very slow reader pinned, retried against the
    * current version. This is the MVCC read guarantee the reference's
    * dwweek concurrent load+query scenario exercises
    * (utils/scenarios/dwweek/test/dwControlNightly.sh). */
  def readCommitted[T](name: String)(action: DataFrame => T): T = {
    def transient(e: Throwable): Boolean = {
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .take(8).toSeq
      chain.exists {
        case _: java.io.FileNotFoundException => true
        // a vanished file surfaces as NoSuchFileException too, whose
        // message is just the PATH — no "does not exist" to match; and
        // Spark 4 wraps either in SparkException [FAILED_READ_FILE.*],
        // sometimes (NO_HINT) with the cause's text absent from every
        // message in the driver-side chain
        case _: java.nio.file.NoSuchFileException => true
        case t => val m = Option(t.getMessage).getOrElse("")
          m.contains("does not exist") || m.contains("PATH_NOT_FOUND") ||
            m.contains("FAILED_READ_FILE")
      }
    }
    var attempt = 0
    while (true) {
      try return action(table(name))
      catch {
        case e: Exception if attempt < readRetries && transient(e) =>
          attempt += 1; Thread.sleep(25)
      }
    }
    sys.error("unreachable")
  }

  // ---- the manifest log ------------------------------------------------

  /** One table version: `files` are paths relative to the table directory
    * with their byte sizes; files under a `disabled` spec are offline.
    * `props` is table state that is not data (the AUTO_INCREMENT counters,
    * a CDC stream's applied batch): every commit carries it forward
    * unless it sets a key, so it publishes with the rows, or not at all. */
  private case class Manifest(schema: StructType, partCols: Seq[String],
      files: Seq[(String, Long)], disabled: Seq[String],
      props: Map[String, String]) {
    def offline(file: String): Boolean =
      disabled.exists(inPartition(file, _))
    def render: String = (Seq(s"schema ${schema.json}") ++
      partCols.map("partition " + _) ++ disabled.map("disabled " + _) ++
      props.toSeq.sorted.map { case (k, v) => s"prop $k $v" } ++
      files.map { case (f, n) => s"file $n $f" }).mkString("", "\n", "\n")
  }

  private def parse(text: String): Manifest = {
    val lines = text.linesIterator.map(_.split(" ", 2)).toSeq
    def all(key: String) = lines.collect { case Array(`key`, v) => v }
    Manifest(DataType.fromJson(all("schema").head).asInstanceOf[StructType],
      all("partition"),
      all("file").map { s => val Array(n, f) = s.split(" ", 2); f -> n.toLong },
      all("disabled"),
      all("prop").map { s => val Array(k, v) = s.split(" ", 2); k -> v }.toMap)
  }

  private def manifestDir(name: String): Path =
    Paths.get(tablePath(name), "_manifest")

  private def names(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.map(_.getFileName.toString).toSeq)

  /** Published versions of a table, oldest first. */
  private def published(name: String): Seq[Int] =
    names(manifestDir(name)).filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt).sorted

  private def manifest(name: String, v: Int): Manifest =
    parse(Files.readString(manifestDir(name).resolve(s"v$v")))

  /** The newest published version. A directory in the pre-manifest
    * layout (data and `_SUCCESS` at its top, no `_manifest`) is refused
    * by name: there is no second read path for it. */
  private def current(name: String): Int =
    published(name).lastOption.getOrElse {
      val dir = Paths.get(tablePath(name))
      if (Files.exists(dir.resolve("_SUCCESS")))
        throw new IllegalStateException(s"$dir holds a table in the " +
          "pre-manifest layout; delete it and create the table again")
      throw new IllegalArgumentException(s"no such table: $name")
    }

  /** Publish `m` as version `v`. */
  private def publish(name: String, v: Int, m: Manifest): Unit =
    linkNew(manifestDir(name).resolve(s"v$v"), m.render)

  /** Create `target` holding `text`: written aside, then hard-linked into
    * place. link(2) fails on an existing name, so the file appears
    * exactly once, complete, and is never overwritten. */
  private def linkNew(target: Path, text: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".", ".tmp")
    try {
      Files.writeString(tmp, text)
      Files.createLink(target, tmp)
    } finally Files.delete(tmp)
  }

  /** Write `df` into a fresh commit directory (numbered from the version
    * it is written for, skipping any an unpublished commit left behind)
    * and return its data files with their sizes. */
  private def write(name: String, v: Int, df: DataFrame,
      partCols: Seq[String]): Seq[(String, Long)] = {
    val table = Paths.get(tablePath(name))
    val dir = Iterator.from(v).map(k => table.resolve(s"c$k"))
      .find(!Files.exists(_)).get
    df.write.partitionBy(partCols: _*).parquet(dir.toString)
    scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !"_.".contains(p.getFileName.toString.head))
      .map(p => table.relativize(p).toString -> Files.size(p)).toSeq.sorted)
  }

  /** A DataFrame over exactly `m`'s online files. `FileScan` is handed
    * the files, their sizes and their partition values from the manifest,
    * so a read lists no directory and runs no listing job, however many
    * files the version holds. */
  private def scan(name: String, m: Manifest): DataFrame = {
    val dir = new HPath(tablePath(name))
    val base = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(dir)
    val files = m.files.filterNot(f => m.offline(f._1)).map { case (f, n) =>
      new FileStatus(n, false, 1, 0L, 0L, new HPath(base, f)) }
    val partSchema = StructType(m.partCols.map(m.schema(_)))
    val tz = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val parts = files.map(_.getPath.getParent).distinct.map { d =>
      val kv = Iterator.iterate(d)(_.getParent).takeWhile(_ != base)
        .map(_.getName.split("=", 2)).collect { case Array(k, v) => k -> v }
        .toMap
      PartitionPath(InternalRow.fromSeq(partSchema.map(f => PartitioningUtils
        .castPartValueToDesiredType(f.dataType, kv(f.name), tz))), d)
    }
    val df = FileScan(spark, files,
      StructType(m.schema.filterNot(f => m.partCols.contains(f.name))),
      PartitionSpec(partSchema, parts))
    if (m.partCols.isEmpty) df
    else df.select(m.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** The one COMMIT sequence, serialized end-to-end by the per-table
    * advisory lock (reference: DMLProc acquires the table lock before
    * any DML and holds it through commit —
    * dbcon/dmlpackageproc/commandpackageprocessor.cpp:34,
    * versioning/BRM tablelockdata.h). `next` derives the new manifest
    * from the current one — reading it, writing a commit directory for
    * the version it is given — and the result is published. The
    * snapshot read happens inside the lock, so two concurrent upserts
    * compose instead of the second erasing the first's rows. */
  private def commit(name: String)(next: (Manifest, Int) => Manifest): Unit =
    TableLocks.withLock(root, name) {
      val v = current(name) + 1
      val m = next(manifest(name, v - 1), v)
      // crash-injection point for the soak's kill -9 drill (reference: a
      // DMLProc crash mid-commit is what cleartablelock recovery exists
      // for, commandpackageprocessor.cpp:34): with GRAFT_SWAP_PAUSE_MS
      // set, park and flag at the worst instant — files written, manifest
      // not published, lock held. A no-op when the variable is unset.
      sys.env.get("GRAFT_SWAP_PAUSE_MS").foreach { ms =>
        val flag = Paths.get(root, "_locks", s".midswap_$name")
        Files.createDirectories(flag.getParent)
        Files.writeString(flag, s"${ProcessHandle.current().pid()}\n")
        try Thread.sleep(ms.toLong)
        finally Files.deleteIfExists(flag)
      }
      publish(name, v, m)
    }

  /** INSERT INTO name SELECT … (append): the new version is the old file
    * list plus the batch's files, so a reader sees the whole batch or
    * none of it. Serialized by the table lock like every DML statement
    * (the reference's DMLProc takes the table lock for inserts too). */
  def insertIntoSelect(name: String, df: DataFrame): Unit =
    commit(name) { (m, v) =>
      m.copy(files = m.files ++ write(name, v, df, m.partCols))
    }

  /** UPDATE name SET (via transform) WHERE (via predicate); `props` are
    * set in the same commit. */
  def update(name: String, transform: DataFrame => DataFrame,
      props: Map[String, String] = Map.empty): Unit =
    rewrite(name, transform, props)

  /** A table property of the current version. */
  def prop(name: String, key: String): Option[String] =
    manifest(name, current(name)).props.get(key)

  /** Every prop of version v. */
  def props(name: String, v: Int): Map[String, String] =
    manifest(name, v).props

  /** The current version's number. */
  def currentVersion(name: String): Int = current(name)

  /** A props-only commit: the next version keeps the current files and
    * carries exactly `props`, so it can also remove a key. */
  def commitProps(name: String, props: Map[String, String]): Unit =
    commit(name)((m, _) => m.copy(props = props))

  /** DELETE FROM name WHERE cond: keep !cond rows. */
  def delete(name: String, keep: DataFrame => DataFrame): Unit =
    rewrite(name, keep)

  /** The one read-modify-write path: the new version holds only the files
    * `f` writes from the pinned version, plus the offline partitions'
    * files, carried forward untouched — offline means invisible to reads
    * and writes alike, the reference's disabled-partition semantics
    * (ha_calpont_partition.cpp partition mark). A failed write publishes
    * nothing. */
  private def rewrite(name: String, f: DataFrame => DataFrame,
      props: Map[String, String] = Map.empty): Unit =
    commit(name) { (m, v) =>
      val out = f(scan(name, m))
      val partCols = m.partCols.filter(out.columns.contains)
      m.copy(schema = out.schema, partCols = partCols,
        files = write(name, v, out, partCols) ++
          m.files.filter(x => m.offline(x._1)), props = m.props ++ props)
    }

  // ---- time travel ----------------------------------------------------

  /** Retained versions older than the current one, oldest first (v0 = the
    * state before the first mutation). */
  def versions(name: String): Seq[Int] = published(name).dropRight(1)

  /** SELECT … AS OF version: read retained version v (the reference's
    * version-buffer read path for a not-yet-aged block). */
  def tableAsOf(name: String, v: Int): DataFrame = {
    require(published(name).contains(v), s"no version $v of $name retained")
    scan(name, manifest(name, v))
  }

  /** Age out retained versions older than `keep` (the VSS aging analog —
    * at scale a retention window, not forever), then delete every file
    * no remaining manifest names: an aged-out version's, a dropped
    * partition's, or an unpublished commit's. Under the table lock, so no
    * commit is writing files it has not published yet. */
  def vacuumVersions(name: String, keep: Int): Unit =
    TableLocks.withLock(root, name) {
      versions(name).dropRight(keep).foreach(v =>
        Files.delete(manifestDir(name).resolve(s"v$v")))
      val named = published(name).flatMap(manifest(name, _).files.map(_._1))
        .toSet
      val table = Paths.get(tablePath(name))
      // a data file keeps its checksum sidecar `.<file>.crc`
      def owner(f: String) = f.replaceFirst("(^|/)\\.([^/]+)\\.crc$", "$1$2")
      val paths = scala.util.Using.resource(Files.walk(table))(
        _.iterator().asScala.toSeq.reverse)
      paths.foreach { p =>
        val f = table.relativize(p).toString
        if (p == table || f.startsWith("_manifest")) ()
        else if (Files.isDirectory(p)) {
          if (names(p).isEmpty) Files.delete(p)
        } else if (!named(owner(f))) Files.delete(p)
      }
    }

  /** ROLLBACK analog: republish retained version v's schema and files as
    * the current state (reference: a DML rollback re-applies the version
    * buffer's undo images, versioning/BRM/dbrm.h:163-192 + dmlproc
    * rollback path). The state being rolled back stays retained as a
    * version — the audit trail survives the abort — and no data is
    * copied. The props stay the current ones: a rollback never rewinds
    * an id sequence or a stream's applied batch. */
  def rollbackTo(name: String, v: Int): Unit =
    commit(name) { (m, _) =>
      require(published(name).contains(v), s"no version $v of $name retained")
      manifest(name, v).copy(props = m.props)
    }

  /** INSERT … ON DUPLICATE KEY UPDATE (MySQL upsert, full-row form): a
    * batch row whose key matches an existing row replaces it; the rest
    * append. One read-modify-overwrite pass built from an anti-join on
    * the key — the MERGE shape every warehouse upsert compiles to (key
    * shuffle on both sides, or broadcast when the batch is small enough
    * for the threshold). The batch must carry the table's full schema and
    * at most one row per key (MySQL applies batch rows in order; a keyed
    * batch with duplicates should be pre-collapsed by the caller). */
  def upsert(name: String, batch: DataFrame, keys: Seq[String]): Unit =
    rewrite(name, existing => {
      val cols = existing.columns.toSeq
      existing.join(batch.select(keys.head, keys.tail: _*), keys, "left_anti")
        .unionByName(batch.select(cols.head, cols.tail: _*))
    })

  // ---- AUTO_INCREMENT sequence (reference: writeengine/shared/
  // we_brm.h:62 startAutoIncrementSequence / :75 getAutoIncrementRange —
  // BRM owns one persistent monotone counter per AI column beside the
  // extent map; every bulk load / insert reserves a contiguous
  // [first, first+count) range under the same serialization as DML, so
  // concurrent writers can never mint the same id, and deletes never
  // recycle ids). Here the counter is the manifest prop `autoinc.<col>`:
  // it publishes in the same commit as the rows it numbered. ----------

  /** The next id of `colName` in manifest `m` (1 if never started). A
    * counter file from the layout before counters moved into the
    * manifest is refused by name: there is no second read path for it. */
  private def nextId(name: String, colName: String, m: Manifest): Long = {
    val legacy = Paths.get(root, "_autoinc", s"$name.$colName")
    if (Files.exists(legacy))
      throw new IllegalStateException(s"$legacy holds an AUTO_INCREMENT " +
        "counter in the pre-manifest layout; delete it and set its value " +
        "again with setAutoIncStart")
    m.props.get(s"autoinc.$colName").fold(1L)(_.toLong)
  }

  /** Next value the sequence would hand out (1 if never started) — the
    * information_schema AUTO_INCREMENT surface. */
  def autoIncNext(name: String, colName: String): Long =
    nextId(name, colName, manifest(name, current(name)))

  /** ALTER TABLE … AUTO_INCREMENT = n analog (reference:
    * startAutoIncrementSequence): a manifest-only commit. MySQL
    * semantics: the sequence only moves FORWARD — a start below the
    * current next value leaves it where it is. */
  def setAutoIncStart(name: String, colName: String, next: Long): Unit =
    commit(name) { (m, _) =>
      m.copy(props = m.props + (s"autoinc.$colName" ->
        math.max(next, nextId(name, colName, m)).toString))
    }

  /** INSERT with AUTO_INCREMENT id assignment: reserves a contiguous id
    * range sized to the batch (the getAutoIncrementRange analog), assigns
    * ids densely in `orderBy` order via the partitioned prefix-scan (no
    * single-task window — the range reservation is driver-side O(1), the
    * assignment is distributed), and appends. Returns the first id of
    * the reserved range (MySQL's LAST_INSERT_ID() reports the first id of
    * a multi-row insert).
    *
    * Reserve, assign, write and advance are one commit under the table
    * lock, so two concurrent inserters get disjoint ranges — the exact
    * guarantee BRM's mutex around the AI counter provides — and the
    * advanced counter publishes with the rows or not at all: a failed
    * insert hands its range out again, and no published row can carry
    * an id the counter has not passed. At 100 TB the lock holds for the
    * batch write, identical to the reference's bulk-load table lock; ids
    * within the batch cost one count + one prefix-scan over the batch
    * only, never the table. */
  def insertAutoInc(name: String, colName: String, batch: DataFrame,
      orderBy: Seq[org.apache.spark.sql.Column]): Long = {
    var first = 0L
    commit(name) { (m, v) =>
      first = nextId(name, colName, m)
      // materialize the batch ONCE: count() and the assignment write are
      // two jobs, and a non-deterministic batch source re-evaluated
      // between them could write more rows than the reserved range
      val b = Checkpoints.barrier(batch)
      val n = b.count()
      val rn = "__ai_rn"
      val cols = m.schema.fieldNames.toSeq
      val assigned = graft.functions.Prefix.over(b, orderBy,
          Seq(graft.functions.Prefix.rowNumber(rn)))
        .withColumn(colName, col(rn) + lit(first - 1L))
        .select(cols.head, cols.tail: _*)
      m.copy(files = m.files ++ write(name, v, assigned, m.partCols),
        props = m.props + (s"autoinc.$colName" -> (first + n).toString))
    }
    first
  }

  /** TRUNCATE TABLE: publishes an empty version (the truncated state
    * stays retained like any other). */
  def truncate(name: String): Unit =
    commit(name)((m, _) => m.copy(files = Nil, disabled = Nil))

  /** DROP TABLE — under the table lock, one rename moves the table
    * directory (every version, file and counter) aside to a `_dropped.`
    * name that no listing reads, so the table is gone at once, whole;
    * then that directory is deleted. A crash after the rename leaves only
    * garbage, which `attach` deletes; a later CREATE of the same name
    * starts with no history and a fresh id sequence. */
  def dropTable(name: String): Unit = TableLocks.withLock(root, name) {
    val dir = Paths.get(tablePath(name))
    if (Files.exists(dir)) {
      val aside = Paths.get(root, s"_dropped.$name.${System.nanoTime()}")
      Files.move(dir, aside, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      FsUtil.deleteRecursively(aside)
    }
  }

  /** ALTER TABLE ADD COLUMN (with default value, rewrite). */
  def addColumn(name: String, colName: String,
      value: org.apache.spark.sql.Column): Unit =
    rewrite(name, _.withColumn(colName, value))

  /** ALTER TABLE DROP COLUMN. */
  def dropColumn(name: String, colName: String): Unit =
    rewrite(name, _.drop(colName))

  /** Tables with a published version under this catalog root. */
  def listTables: Seq[String] = tableNames.filter(published(_).nonEmpty)

  /** Entries of the root that can name a table: `_` and `.` prefixes are
    * the catalog's own (locks, views, incidents, dropped tables). */
  private def tableNames: Seq[String] = names(Paths.get(root))
    .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  /** The incident log of this catalog root (`Incidents`; nothing records
    * into it today) — queryable with the engine itself, like the lock
    * view. */
  def incidents: DataFrame = Incidents.df(spark, root)
}
