package graft

import graft.sources.{Catalog, Loader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CatalogSpec extends GraftSuite {
  import spark.implicits._

  private def freshCatalog(): Catalog =
    new Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft_cat").toString)

  test("create / insert / truncate / drop lifecycle") {
    val cat = freshCatalog()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    cat.createTable("t1", schema)
    assert(cat.table("t1").count() == 0)
    cat.insertIntoSelect("t1", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    assert(cat.table("t1").count() == 2)
    cat.truncate("t1")
    assert(cat.table("t1").count() == 0)
    assert(cat.listTables == Seq("t1"))
    cat.dropTable("t1")
    assert(cat.listTables.isEmpty)
    intercept[IllegalArgumentException](cat.table("t1"))
  }

  test("create rejects duplicate table names") {
    val cat = freshCatalog()
    cat.createTableAs("dup", Seq(1).toDF("v"))
    intercept[IllegalArgumentException](
      cat.createTableAs("dup", Seq(2).toDF("v")))
  }

  test("update only rewrites matching rows; staging survives failures") {
    val cat = freshCatalog()
    cat.createTableAs("t", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    cat.update("t", df => df.withColumn("v",
      when($"id" === 1, $"v" * 2).otherwise($"v")))
    val rows = cat.table("t").orderBy("id").collect()
    assert(rows(0).getDouble(1) == 20.0 && rows(1).getDouble(1) == 20.0)
    // a failing transform must not clobber the live table
    intercept[Exception](cat.update("t",
      df => df.select(expr("assert_true(false)").as("v"))))
    assert(cat.table("t").count() == 2)
  }

  test("joined update and joined delete rewrite via the dimension keys") {
    val cat = freshCatalog()
    cat.createTableAs("f", Seq((1L, 100L, 10.0), (2L, 200L, 20.0),
      (3L, 300L, 30.0)).toDF("id", "k", "v"))
    val disc = Seq(100L).toDF("dk")
    // UPDATE f JOIN dim: only key 100 is discounted
    cat.update("f", df => df
      .join(broadcast(disc), df("k") === disc("dk"), "left_outer")
      .withColumn("v", when($"dk".isNotNull, $"v" / 2).otherwise($"v"))
      .drop("dk"))
    val dead = Seq(300L).toDF("dk")
    // DELETE f FROM f JOIN dim: key 300's row goes away
    cat.delete("f", df => df.join(broadcast(dead),
      df("k") === dead("dk"), "left_anti"))
    val rows = cat.table("f").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 5.0), (2L, 20.0)), rows.toSeq.toString)
  }

  test("versioned rewrites retain readable pre-images; vacuum ages them out") {
    val cat = freshCatalog()
    cat.createTableAs("t", Seq((1L, 10.0), (2L, -5.0), (3L, 7.0))
      .toDF("id", "v"))
    assert(cat.versions("t").isEmpty)
    cat.update("t", df => df.withColumn("v", $"v" * 2))   // retains v0
    cat.delete("t", _.filter($"v" >= 0))                  // retains v1
    assert(cat.versions("t") == Seq(0, 1))
    // v0 = original, v1 = doubled, current = doubled minus the negative
    assert(cat.tableAsOf("t", 0).orderBy("id").select("v")
      .collect().map(_.getDouble(0)).toSeq == Seq(10.0, -5.0, 7.0))
    assert(cat.tableAsOf("t", 1).orderBy("id").select("v")
      .collect().map(_.getDouble(0)).toSeq == Seq(20.0, -10.0, 14.0))
    assert(cat.table("t").count() == 2)
    cat.vacuumVersions("t", keep = 1)
    assert(cat.versions("t") == Seq(1))
    intercept[IllegalArgumentException](cat.tableAsOf("t", 0))
  }

  test("version numbering survives vacuum: max+1, never count-based") {
    // count-based numbering collided with retained versions after a
    // vacuum (v{size} over [v1] mints v1 again — the move throws AFTER
    // the live swap landed) and misordered history so vacuum deleted
    // the NEWEST snapshot
    val cat = freshCatalog()
    cat.createTableAs("t", Seq((1L, 0)).toDF("id", "g"))
    cat.update("t", _.withColumn("g", lit(1))) // retains v0 (g=0)
    cat.update("t", _.withColumn("g", lit(2))) // retains v1 (g=1)
    cat.vacuumVersions("t", keep = 1)          // [v1]
    cat.update("t", _.withColumn("g", lit(3))) // must NOT collide
    assert(cat.versions("t") == Seq(1, 2), s"got ${cat.versions("t")}")
    // and the numbering still orders history: v1 (g=1) precedes v2 (g=2)
    assert(cat.tableAsOf("t", 1).select("g").collect()(0).getInt(0) == 1)
    assert(cat.tableAsOf("t", 2).select("g").collect()(0).getInt(0) == 2)
    cat.vacuumVersions("t", keep = 1)
    assert(cat.versions("t") == Seq(2), "vacuum must age out the OLDEST")
  }

  /** Plant what a writer killed between writing its files and publishing
    * its manifest leaves behind: a commit directory with complete parquet
    * files, in the directory the next commit would have used, and no
    * manifest naming them. */
  private def plantUnpublished(root: String, name: String, commitDir: String,
      rows: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(root, name, commitDir)
    rows.write.parquet(dir.toString)
    dir
  }

  /** A table "t" with a published v0 (a, b) and current version v1
    * (A, B), and a writer that crashed between writing commit `c2` and
    * publishing v2. */
  private def crashedMidCommit(): (String, Catalog, java.nio.file.Path) = {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val cat = new Catalog(spark, root)
    cat.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.update("t", _.withColumn("name", upper($"name")))   // publishes v1
    val orphan = plantUnpublished(root, "t", "c2",
      Seq((9L, "x"), (8L, "y"), (7L, "z")).toDF("id", "name"))
    (root, cat, orphan)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("attach() recovers a table whose writer crashed mid-swap") {
    // the commit window is now the span between writing c<k>/ and
    // publishing the manifest: a fresh session attaching after a crash
    // there must register the table and serve the complete published
    // image, never the unpublished files
    val (root, _, _) = crashedMidCommit()
    val fresh = new Catalog(spark.newSession(), root)
    fresh.attach()
    assert(fresh.listTables == Seq("t"),
      "crashed table must be registered on attach")
    assert(ids(fresh.table("t")) == Seq(1L, 2L),
      "a fresh session must not see the unpublished files")
    assert(fresh.table("t").select("name").as[String].collect().sorted
      .toSeq == Seq("A", "B"), "attach must serve the published image")
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(root),
      swallowErrors = true)
  }

  test("catalog recovers a table whose live dir vanished mid-rewrite") {
    // a rewrite that crashed before publishing leaves the current
    // version intact: the same instance keeps reading it, and the next
    // rewrite publishes over it with no gap in the numbering
    val (root, cat, _) = crashedMidCommit()
    assert(ids(cat.table("t")) == Seq(1L, 2L))
    cat.delete("t", _.filter($"id" === 1L))
    assert(cat.versions("t") == Seq(0, 1))
    assert(cat.tableAsOf("t", 1).select("name").as[String].collect()
      .sorted.toSeq == Seq("A", "B"))
    assert(ids(cat.table("t")) == Seq(1L))
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(root),
      swallowErrors = true)
  }

  test("a pre-image stranded in .old is salvaged into version history") {
    // versions are manifests published once and never moved, so a crash
    // cannot strand a pre-image: history keeps it, the unpublished
    // commit never becomes a version, and the next vacuum deletes the
    // orphaned files while every retained version stays readable
    val (root, cat, orphan) = crashedMidCommit()
    assert(cat.versions("t") == Seq(0))
    assert(ids(cat.tableAsOf("t", 0)) == Seq(1L, 2L))
    intercept[IllegalArgumentException](cat.tableAsOf("t", 2))
    cat.delete("t", _.filter($"id" === 1L))
    assert(java.nio.file.Files.exists(orphan))
    cat.vacuumVersions("t", keep = 2)
    assert(!java.nio.file.Files.exists(orphan),
      "vacuum must delete unpublished files")
    assert(cat.versions("t") == Seq(0, 1))
    assert(ids(cat.tableAsOf("t", 0)) == Seq(1L, 2L))
    assert(ids(cat.table("t")) == Seq(1L))
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(root),
      swallowErrors = true)
  }

  test("a second catalog instance cannot replace an existing table") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val a = new Catalog(spark, root)
    a.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // B has never attached or read "t"
    val b = new Catalog(spark, root)
    intercept[IllegalArgumentException](
      b.createTableAs("t", Seq((3L, "c")).toDF("id", "name")))
    intercept[IllegalArgumentException](b.createTable("t",
      StructType(Seq(StructField("id", LongType)))))
    assert(a.table("t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L), "the existing table's rows must be intact")
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(root),
      swallowErrors = true)
  }

  test("ALTER by one catalog instance is visible to another") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val a = new Catalog(spark, root)
    a.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val b = new Catalog(spark.newSession(), root)
    b.attach()
    a.addColumn("t", "score", lit(7))
    a.dropColumn("t", "name")
    val got = b.table("t")
    assert(got.columns.toSeq == Seq("id", "score"), got.columns.toSeq)
    assert(got.select("score").as[Int].collect().toSeq == Seq(7, 7))
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(root),
      swallowErrors = true)
  }

  test("dropTable scrubs versions, auto-inc state, and crash remnants") {
    val cat = freshCatalog()
    cat.createTableAs("t", Seq((0L, 5L)).toDF("id", "k"))
    cat.insertAutoInc("t", "id", Seq(7L).toDF("k"), Seq(col("k")))
    cat.update("t", _.withColumn("k", col("k") + 1))
    assert(cat.versions("t").nonEmpty && cat.autoIncNext("t", "id") > 1)
    cat.dropTable("t")
    // a re-created table of the same name must start with NO history
    // and a fresh id sequence — serving the dropped table's snapshots
    // or resuming its counter is time travel into another table's life
    cat.createTableAs("t", Seq((0L, 9L)).toDF("id", "k"))
    assert(cat.versions("t").isEmpty,
      "recreated table inherited the dropped table's versions")
    assert(cat.autoIncNext("t", "id") == 1L,
      "recreated table inherited the dropped table's id sequence")
  }

  test("a DROP cut short after its rename leaves no table behind") {
    // the state a crash between dropTable's rename and its deletes
    // leaves: the directory moved aside, the id counter still in place
    import java.nio.file.Files
    val cat = freshCatalog()
    cat.createTableAs("t", Seq((0L, 5L)).toDF("id", "k"))
    cat.insertAutoInc("t", "id", Seq(7L).toDF("k"), Seq(col("k")))
    val dir = java.nio.file.Paths.get(cat.tablePath("t"))
    val aside = dir.resolveSibling("_dropped.t.1")
    Files.move(dir, aside)
    assert(cat.autoIncNext("t", "id") > 1, "fixture must keep the counter")
    val after = new Catalog(spark, dir.getParent.toString)
    assert(after.listTables.isEmpty, after.listTables)
    after.createTableAs("t", Seq((0L, 9L)).toDF("id", "k"))
    assert(after.versions("t").isEmpty)
    assert(after.autoIncNext("t", "id") == 1L,
      "recreated table resumed the dropped table's id sequence")
    after.attach()
    assert(!Files.exists(aside), "attach must delete the dropped leftover")
    assert(after.listTables == Seq("t"))
    assert(after.table("t").as[(Long, Long)].collect().toSeq == Seq((0L, 9L)))
  }

  test("appends are atomic: readers never see a torn batch") {
    // a bare Append into a listed directory publishes part files one
    // rename at a time, so a reader could count half a batch. An append
    // publishes one manifest naming the whole batch; every concurrent
    // count must land on a batch boundary.
    import scala.jdk.CollectionConverters._
    val cat = freshCatalog()
    cat.createTableAs("t",
      spark.range(0, 1000).toDF("id").withColumn("b", lit(-1)))
    @volatile var stop = false
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val n = cat.readCommitted("t")(_.count())
          reads.incrementAndGet()
          if (n % 500 != 0) bad.add(s"torn count $n")
        } catch { case e: Throwable => bad.add(e.toString) }
      }
    })
    reader.start()
    // 500-row multi-part batches (repartition forces several files per
    // commit, the shape that tears under a bare Append)
    for (b <- 0 until 8)
      cat.insertIntoSelect("t",
        spark.range(0, 500).toDF("id").withColumn("b", lit(b))
          .repartition(4))
    stop = true; reader.join()
    assert(bad.isEmpty, bad.asScala.take(3).mkString("; "))
    assert(reads.get() > 0, "the reader must actually observe counts")
    assert(cat.table("t").count() == 5000)
  }

  test("rollbackTo restores the pre-image and keeps the audit trail") {
    val cat = freshCatalog()
    cat.createTableAs("t", Seq((1L, 10.0), (2L, -5.0), (3L, 7.0))
      .toDF("id", "v"))
    cat.update("t", df => df.withColumn("v", $"v" * 2))   // retains v0
    cat.delete("t", _.filter($"v" >= 0))                  // retains v1
    cat.rollbackTo("t", 0)                                // retains v2
    // current state is byte-identical to the original
    assert(cat.table("t").orderBy("id").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, -5.0), (3L, 7.0)))
    // the aborted state survives as version 2 (audit trail)
    assert(cat.versions("t") == Seq(0, 1, 2))
    assert(cat.tableAsOf("t", 2).orderBy("id").select("v")
      .collect().map(_.getDouble(0)).toSeq == Seq(20.0, 14.0))
  }

  test("append paths keep every published row after an unpublished commit") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_cat").toString
    val cat = new Catalog(spark, root)
    cat.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.update("t", _.withColumn("name", upper($"name")))
    plantUnpublished(root, "t", "c2", Seq((9L, "x")).toDF("id", "name"))
    cat.insertIntoSelect("t", Seq((3L, "c")).toDF("id", "name"))
    assert(cat.table("t").select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L), "append after a crash must keep every published row")
    // same for the auto-increment insert path
    cat.createTableAs("ai", Seq((0L, 99L)).toDF("id", "k"))
    plantUnpublished(root, "ai", "c1", Seq((5L, 55L)).toDF("id", "k"))
    cat.insertAutoInc("ai", "id", Seq(1L).toDF("k"), Seq(col("k")))
    assert(cat.table("ai").select("k").as[Long].collect().toSet ==
      Set(99L, 1L), "auto-inc append after a crash must keep every row")
    sources.FsUtil.deleteRecursively(Paths.get(root), swallowErrors = true)
  }

  test("loader honors custom delimiter and quote") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
    java.nio.file.Files.writeString(tmp.resolve("in.csv"),
      "1;\"x;y\";2.5\n2;plain;3.5\n")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val res = Loader.loadCsv(spark, tmp.resolve("in.csv").toString, schema,
      tmp.resolve("out").toString, delimiter = ";")
    assert(res.loaded == 2 && res.rejected == 0)
    val rows = spark.read.parquet(tmp.resolve("out").toString)
      .orderBy("id").collect()
    assert(rows(0).getString(1) == "x;y")
  }

  test("jsonl loader keeps types and diverts malformed lines") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl")
    java.nio.file.Files.writeString(tmp.resolve("in.jsonl"),
      """{"id": 1, "s": "alpha", "v": 2.5}
        |{"id": 2, "s": "beta", "v": 3.5}
        |{not json at all
        |{"id": 4, "s": "delta", "v": 5.5}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val res = Loader.loadJsonl(spark, tmp.resolve("in.jsonl").toString,
      schema, tmp.resolve("out").toString)
    assert(res.loaded == 3 && res.rejected == 1)
    val rows = spark.read.parquet(tmp.resolve("out").toString)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    assert(rows(0).getString(1) == "alpha" && rows(0).getDouble(2) == 2.5)
  }

  test("partition disable/enable/drop lifecycle") {
    val cat = freshCatalog()
    val df = (0L until 30L).map(i => (i, i % 3)).toDF("id", "pk")
    cat.createTablePartitionedAs("pt", df, "pk")
    assert(cat.table("pt").count() == 30)
    // disable takes the partition offline but keeps the data
    cat.disablePartition("pt", "pk=0")
    assert(cat.table("pt").count() == 20)
    assert(cat.table("pt").filter(col("pk") === 0).count() == 0)
    // enable restores it byte-identically
    cat.enablePartition("pt", "pk=0")
    assert(cat.table("pt").count() == 30)
    // drop removes it permanently — also when currently disabled
    cat.disablePartition("pt", "pk=1")
    cat.dropPartition("pt", "pk=1")
    assert(cat.table("pt").count() == 20)
    cat.dropPartition("pt", "pk=2")
    assert(cat.table("pt").select("pk").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(0))
    // guards: unknown partition / not-disabled partition
    intercept[IllegalArgumentException](cat.disablePartition("pt", "pk=9"))
    intercept[IllegalArgumentException](cat.enablePartition("pt", "pk=0"))
  }

  test("persisted views survive into a fresh session via attach") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val cat = new Catalog(spark, root)
    cat.createTableAs("base", Seq((1L, "a"), (2L, "a"), (3L, "b"))
      .toDF("id", "grp"))
    cat.createView("grp_counts",
      "SELECT grp, count(*) AS n FROM base GROUP BY grp")
    assert(cat.listViews == Seq("grp_counts"))
    // usable immediately in the creating session
    assert(spark.sql("SELECT n FROM grp_counts WHERE grp = 'a'")
      .collect()(0).getLong(0) == 2L)
    // a FRESH session has an empty temp-view namespace; attach() must
    // re-register both the table and the view from disk alone
    val s2 = spark.newSession()
    assert(!s2.catalog.tableExists("grp_counts"))
    new Catalog(s2, root).attach()
    val rows = s2.sql("SELECT grp, n FROM grp_counts ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 2L), ("b", 1L)))
    // drop removes the definition for future sessions
    cat.dropView("grp_counts")
    assert(cat.listViews.isEmpty)
    val s3 = spark.newSession()
    new Catalog(s3, root).attach()
    assert(!s3.catalog.tableExists("grp_counts"))
    assert(s3.catalog.tableExists("base"))
    intercept[IllegalArgumentException](cat.dropView("grp_counts"))
  }

  test("upsert replaces colliding keys, appends fresh ones, is idempotent") {
    val cat = freshCatalog()
    cat.createTableAs("t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "tag", "v"))
    // id 2 collides (full-row replace), id 3 is new; batch column order
    // deliberately differs from the table's to pin schema alignment
    val batch = Seq(("B", 2L, 99.0), ("C", 3L, 30.0)).toDF("tag", "id", "v")
    cat.upsert("t", batch, Seq("id"))
    def state() = cat.table("t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val expected = Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "C", 30.0))
    assert(state() == expected)
    cat.upsert("t", batch, Seq("id"))
    assert(state() == expected, "re-applying the same batch must be a no-op")
  }

  test("dynamic partition overwrite replaces only the batch's partitions") {
    import org.apache.spark.sql.functions.{col, year}
    val rows = operators.DdlDmlQueries.dynamicPartitionOverwrite
      .run(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val src = Tables.table(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val untouched = src.filter(col("o_year") =!= 1997)
      .groupBy(col("o_year"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    for ((y, n) <- untouched)
      assert(rows(y)._1 == n, s"partition $y must survive the overwrite")
    val kept = src.filter(col("o_year") === 1997 &&
      col("o_orderstatus") === "F").count()
    assert(rows(1997)._1 == kept, "1997 must hold only the corrected batch")
  }

  test("masked view leaks nothing and masks every planted identifier") {
    val rows = operators.DdlDmlQueries.maskedView.run(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(3) == 0L,
        s"${r.getString(0)}: raw email visible through the governed view")
      assert(r.getLong(4) == r.getLong(1),
        s"${r.getString(0)}: every doc carries a planted email to mask")
    }
  }

  test("check constraints reject planted violations and append the rest") {
    import org.apache.spark.sql.functions.col
    val r = operators.DdlDmlQueries.checkConstraints.run(spark, sf)
      .collect()(0)
    val cust = Tables.table(spark, sf, "customer")
    val nOdd = cust.filter(col("c_custkey") % 2 === 1).count()
    val nEven = cust.filter(col("c_custkey") % 2 === 0).count()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0, "both rules must fire")
    assert(r.getLong(0) + r.getLong(1) + r.getLong(2) == nOdd,
      "rejects + appends partition the batch")
    assert(r.getLong(3) == nEven + r.getLong(2),
      "table absorbs exactly the clean rows")
  }

  test("write-audit-publish publishes the clean batch and rejects the dirty one") {
    val rows = operators.DdlDmlQueries.wapPublish.run(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5))).toMap
    val (n1, dup1, bad1, pub1, pr1) = rows(1)
    assert(pub1 && dup1 == 0L && bad1 == 0L && pr1 == n1,
      s"clean batch publishes all rows: ${rows(1)}")
    val (n2, dup2, _, pub2, pr2) = rows(2)
    assert(!pub2 && dup2 > 0L && pr2 == 0L,
      s"dirty batch must be rejected whole: ${rows(2)}")
    assert(n2 > n1 / 2, "planted batch sizes sane")
  }

  test("compression codecs shrink the parquet footprint; content identical") {
    val rows = operators.DdlDmlQueries.compressionCodecs.run(spark, sf)
      .collect()
    assert(rows.length == 4)
    // all four codec variants must agree on every content column
    assert(rows.map(_.toSeq.drop(1)).distinct.length == 1,
      rows.mkString("\n"))
    // and the compressed variants must genuinely beat uncompressed
    def dirSize(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
    val root = java.nio.file.Paths.get(
      operators.DdlDmlQueries.lastScratch("codecs"))
    val sizes = Seq("none", "snappy", "zstd", "gzip")
      .map(c => c -> dirSize(root.resolve(c))).toMap
    for (c <- Seq("snappy", "zstd", "gzip"))
      assert(sizes(c) < sizes("none"),
        s"$c must compress below uncompressed: $sizes")
  }

  // ---- DML table-lock analog (reference: DMLProc table locks,
  // dbcon/dmlpackageproc/commandpackageprocessor.cpp:34) ---------------

  test("two concurrent writers interleaving upserts lose no update") {
    import scala.jdk.CollectionConverters._
    val cat = freshCatalog()
    cat.createTableAs("t", Seq((0L, 0, 0)).toDF("id", "writer", "gen"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // each writer upserts 4 distinct-key batches; without the table lock
    // a writer's commit computed from a stale pre-image erases the other
    // writer's committed rows
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        try for (g <- 1 to 4)
          cat.upsert("t",
            Seq((w * 100L + g, w, g)).toDF("id", "writer", "gen"),
            Seq("id"))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.asScala.map(_.toString).mkString("; "))
    val ids = cat.table("t").select("id").as[Long].collect().toSet
    val want = Set(0L) ++
      (for (w <- 1 to 2; g <- 1 to 4) yield w * 100L + g).toSet
    assert(ids == want, s"every committed batch must survive, got $ids")
  }

  test("a reader sees the pre- or post-image of a rewrite, never a mix") {
    import scala.jdk.CollectionConverters._
    val cat = freshCatalog()
    cat.createTableAs("r",
      spark.range(0, 2000).toDF("id").withColumn("gen", lit(0)))
    @volatile var stop = false
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val nreads = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      try while (!stop) {
        // a consistent snapshot has exactly one generation over all rows
        val gens = cat.readCommitted("r")(
          _.groupBy("gen").count().collect())
        nreads.incrementAndGet()
        if (gens.length != 1 || gens(0).getLong(1) != 2000L)
          bad.add(gens.mkString(","))
      } catch { case e: Throwable => bad.add(e.toString) }
    })
    reader.start()
    for (g <- 1 to 5) cat.update("r", _.withColumn("gen", lit(g)))
    stop = true; reader.join()
    assert(bad.isEmpty, bad.asScala.mkString("; "))
    assert(nreads.get() > 0, "the reader must actually observe snapshots")
    assert(cat.table("r").select("gen").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(5))
  }

  test("snapshot reads stay complete under a continuous writer (hammer)") {
    // round-10 regression pin (found by the bench's mixed leg,
    // reproduced by sources.CatalogStress): when commits swapped the
    // table directory, a reader whose listing straddled the swap got a
    // silently EMPTY relation (~1/500 commits). A read now pins one
    // manifest and lists nothing — this hammer must observe ONLY
    // complete one-generation snapshots, never an empty or torn one.
    import scala.jdk.CollectionConverters._
    val cat = freshCatalog()
    cat.createTableAs("h",
      spark.range(0, 5000).toDF("id").withColumn("gen", lit(0)))
    @volatile var stop = false
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val nreads = new java.util.concurrent.atomic.AtomicInteger
    var commits = 0
    val writer = new Thread(() => {
      var g = 1
      try while (!stop) {
        cat.update("h", _.withColumn("gen", lit(g)))
        commits += 1; g += 1
      } catch { case e: Throwable => bad.add(s"writer: $e") }
    })
    val readers = (1 to 2).map { r =>
      new Thread(() => {
        while (!stop) {
          try {
            val gens = cat.readCommitted("h")(
              _.groupBy("gen").count().collect())
            nreads.incrementAndGet()
            if (gens.length != 1 || gens(0).getLong(1) != 5000L)
              bad.add(s"reader$r torn snapshot: ${gens.mkString(",")}")
          } catch { case e: Throwable => bad.add(s"reader$r: $e") }
        }
      })
    }
    writer.start(); readers.foreach(_.start())
    Thread.sleep(15000)
    stop = true
    writer.join(); readers.foreach(_.join())
    assert(bad.isEmpty, bad.asScala.take(3).mkString("; "))
    assert(commits > 5 && nreads.get() > 5,
      s"hammer too idle to mean anything: $commits commits, " +
        s"${nreads.get()} reads")
  }

  test("the table lock excludes a writer in a DIFFERENT JVM") {
    // true cross-process evidence: spawn a second JVM (no Spark — the
    // lock layer is pure java.nio) that holds the lock ~2 s; this JVM's
    // acquisition must block until that process releases
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_xjvm").toString
    def cpOf(c: Class[_]) = Paths.get(
      c.getProtectionDomain.getCodeSource.getLocation.toURI).toString
    val cp = Seq(cpOf(graft.sources.TableLocks.getClass),
      cpOf(classOf[scala.Option[_]])).mkString(
      java.io.File.pathSeparator)
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val holdMs = 2000
    val proc = new ProcessBuilder(javaBin, "-cp", cp,
        "graft.sources.TableLockHolder", root, "t", holdMs.toString)
      .redirectErrorStream(true).start()
    try {
      // wait until the holder is provably inside the lock
      val flag = Paths.get(root, "_locks", ".holding_t")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!Files.exists(flag) && proc.isAlive &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      // NOTE: never touch proc.getInputStream in an assert clue — the
      // clue is evaluated eagerly even on success, and a stream read
      // blocks until the child exits, silently re-sequencing the test
      if (!Files.exists(flag))
        fail(s"holder JVM never acquired the lock: ${new String(
          proc.getInputStream.readNBytes(4096))}")
      assert(graft.sources.TableLocks.list(root) ==
        Seq(graft.sources.TableLocks.LockInfo("t", proc.pid())),
        "the other JVM's hold must list as held, by its pid")
      val t0 = System.nanoTime()
      graft.sources.TableLocks.withLock(root, "t", timeoutMs = 30000) {
        assert(!Files.exists(flag),
          "entered the lock while the other JVM still held it")
      }
      val waited = (System.nanoTime() - t0) / 1e6
      assert(waited > 200,
        s"acquisition returned in ${waited}ms — it cannot have waited " +
          "for the foreign holder")
    } finally {
      proc.destroyForcibly()
      sources.FsUtil.deleteRecursively(Paths.get(root),
        swallowErrors = true)
    }
  }

  test("TableLocks.list never releases a lock this JVM holds to another JVM") {
    // the kernel lock belongs to the PROCESS, and closing ANY descriptor
    // on the lock file releases it: a list that opened the file for a
    // table held here — from the holding thread or any other — would
    // hand the table to a second JVM's writer mid-hold
    import java.nio.file.{Files, Paths}
    import graft.sources.TableLocks
    val root = Files.createTempDirectory("graft_onefd").toString
    val flag = Paths.get(root, "_locks", ".holding_t")
    val self = Seq(TableLocks.LockInfo("t", ProcessHandle.current().pid()))
    var kid: sources.ChildJvm.Spawned = null
    try {
      TableLocks.withLock(root, "t") {
        assert(TableLocks.list(root) == self, "holding thread's view")
        val seen = new java.util.concurrent.atomic.AtomicReference[Any]
        val other = new Thread(() => seen.set(TableLocks.list(root)))
        other.start(); other.join()
        assert(seen.get == self, "another thread's view")
        kid = sources.ChildJvm.spawn("graft.sources.TableLockHolder",
          Seq(root, "t", "100"), maxHeap = "64m")
        val until = System.nanoTime() + 5L * 1000000000L
        while (System.nanoTime() < until) {
          assert(!Files.exists(flag),
            "another JVM entered the table while this JVM held it")
          Thread.sleep(20)
        }
        assert(kid.isAlive, s"the holder JVM must still be waiting; " +
          s"tail:\n${kid.tail().takeRight(1500)}")
      }
      // released: the waiting holder gets the table, so it was contending
      assert(kid.proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) &&
        kid.proc.exitValue() == 0,
        s"holder JVM failed after release; tail:\n${kid.tail().takeRight(1500)}")
    } finally {
      if (kid != null) kid.destroyForcibly()
      sources.FsUtil.deleteRecursively(Paths.get(root), swallowErrors = true)
    }
  }

  test("multi-JVM contenders racing a stale claim never overlap critical sections") {
    // the kernel lock is unreachable from same-JVM threads (they
    // serialize on the in-JVM lock first): three real JVMs all start on
    // the same leftover lock file of a dead writer, then keep contending
    // for 6 rounds each. The O_APPEND enter/exit log (nanoTime =
    // CLOCK_MONOTONIC, comparable across processes on one boot) must
    // show strictly alternating enter/exit — any interleaving means two
    // writers held the table at once, the lost update the lock prevents.
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_xhammer").toString
    val lf = Paths.get(root, "_locks", "t.lock")
    Files.createDirectories(lf.getParent)
    Files.writeString(lf, "999999999\n") // a dead writer's leftover file
    val kids = (1 to 3).map(_ => sources.ChildJvm.spawn(
      "graft.sources.LockContender", Seq(root, "t", "6"), maxHeap = "256m"))
    try {
      val dl = System.nanoTime() + 120L * 1000000000L
      kids.foreach { k =>
        while (k.isAlive && System.nanoTime() < dl) Thread.sleep(50)
        assert(!k.isAlive && k.proc.exitValue() == 0,
          s"contender failed (alive=${k.isAlive}); tail:\n" +
            k.tail().takeRight(1500))
      }
      val recs = Files.readAllLines(Paths.get(root, "log"))
      import scala.jdk.CollectionConverters._
      val events = recs.asScala.map(_.trim.split("\\s+")).collect {
        case Array(pid, tag, nanos) => (pid, tag, nanos.toLong)
      }.toSeq.sortBy(_._3)
      assert(events.count(_._2 == "enter") == 18 &&
        events.count(_._2 == "exit") == 18,
        s"expected 3 JVMs x 6 rounds, got ${events.size} events")
      var inside: Option[String] = None
      for ((pid, tag, _) <- events) tag match {
        case "enter" =>
          assert(inside.isEmpty,
            s"pid $pid entered while pid ${inside.getOrElse("?")} was " +
              "inside — mutual exclusion violated")
          inside = Some(pid)
        case "exit" =>
          assert(inside.contains(pid), s"unpaired exit from pid $pid")
          inside = None
      }
      assert(inside.isEmpty, "log ends inside a critical section")
      assert(graft.sources.TableLocks.list(root).isEmpty,
        "lock released after the last contender")
    } finally {
      kids.foreach(_.destroyForcibly())
      sources.FsUtil.deleteRecursively(Paths.get(root),
        swallowErrors = true)
    }
  }

  test("a dead writer's stale table lock is stolen, not waited out") {
    val root = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val lf = java.nio.file.Paths.get(root, "_locks", "t.lock")
    java.nio.file.Files.createDirectories(lf.getParent)
    // the leftover file of a writer that died (a pid that cannot be
    // alive: pid_max on linux < 2^22 × 100) holds no kernel lock
    java.nio.file.Files.writeString(lf, "999999999\n")
    assert(graft.sources.TableLocks.list(root).isEmpty,
      "a dead writer's leftover file must not list as held")
    val t0 = System.nanoTime()
    var ran = false
    graft.sources.TableLocks.withLock(root, "t", timeoutMs = 5000) {
      ran = true
    }
    assert(ran, "lock body must run over the leftover file")
    assert((System.nanoTime() - t0) / 1e9 < 4.0,
      "acquisition must be immediate, not a timeout")
    assert(graft.sources.TableLocks.list(root).isEmpty,
      "lock released after the body")
  }

  test("a writer kill -9'd INSIDE the commit window recovers cross-process") {
    // the dwweek-with-failures scenario as a permanent spec (the bench
    // soak runs the same drill per round): a REAL second JVM runs a
    // locked upsert, parks after writing its files and before
    // publishing its manifest (lock held), and is kill -9'd there. The
    // kernel drops the dead writer's lock, the next reader must see a
    // COMPLETE image, and the next writer must proceed at once.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_crash").toString
    var proc: sources.ChildJvm.Spawned = null
    try {
      val cat = new sources.Catalog(spark, root)
      cat.createTableAs("t",
        spark.range(0, 100).toDF("id").withColumn("gen", lit(0)))
      spark.range(0, 100).toDF("id").withColumn("gen", lit(1))
        .write.parquet(s"$root/_batch")
      def manifests() = scala.util.Using.resource(
        Files.list(Paths.get(root, "t", "_manifest")))(_.iterator()
        .asScala.map(_.getFileName.toString).filter(_.startsWith("v"))
        .toSet)
      val preImage = manifests()
      proc = sources.ChildJvm.spawn("graft.sources.SoakCrashWriter",
        Seq(root, "t", s"$root/_batch", "id"),
        env = Map("GRAFT_SWAP_PAUSE_MS" -> "120000"))
      val flag = Paths.get(root, "_locks", ".midswap_t")
      val dl = System.nanoTime() + 240L * 1000000000L
      while (!Files.exists(flag) && proc.isAlive &&
          System.nanoTime() < dl)
        Thread.sleep(20)
      assert(Files.exists(flag),
        s"writer JVM never reached the commit window (alive=" +
          s"${proc.isAlive}); output tail:\n${proc.tail().takeRight(2000)}")
      proc.destroyForcibly(); proc.waitFor()
      assert(manifests() == preImage,
        "kill must land with no manifest newer than the pre-image")
      assert(graft.sources.TableLocks.list(root).isEmpty,
        "a dead writer's table must not list as held")
      // next READER: one complete image, never a mix
      val gens = cat.readCommitted("t")(
        _.groupBy("gen").count().collect())
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(gens.size == 1 && gens.values.head == 100L &&
        (gens.contains(0) || gens.contains(1)),
        s"reader must see one complete image, got $gens")
      // next WRITER proceeds without waiting out any timeout
      graft.sources.TableLocks.withLock(root, "t", timeoutMs = 100) {}
      cat.update("t", _.withColumn("gen", lit(2)))
      val after = cat.table("t").groupBy("gen").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(after == Map(2 -> 100L), s"next writer blocked or lost rows: $after")
    } finally {
      if (proc != null) proc.destroyForcibly()
      sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(root),
        swallowErrors = true)
    }
  }

  test("ChildJvm captures a failing child's output tail") {
    // the round-9 driver soak_fail was undiagnosable because the child
    // drain went to the null stream; the bounded tail must carry a
    // child's crash output back to the parent (this is what makes a
    // staging failure self-explaining in the bench artifact)
    val child = sources.ChildJvm.spawn("graft.sources.TableLockHolder",
      Seq("wrong-arity")) // MatchError at startup, nonzero exit
    assert(child.waitFor() != 0, "mis-invoked child must fail")
    // the drain thread races process exit by a beat
    val dl = System.nanoTime() + 15L * 1000000000L
    while (!child.tail().contains("MatchError") && System.nanoTime() < dl)
      Thread.sleep(50)
    assert(child.tail().contains("MatchError"),
      s"tail must carry the crash output, got: ${child.tail().take(400)}")
  }

  test("N contenders racing over a stale claim serialize without overlap") {
    // hammer the acquire path from many threads at once, starting from
    // a dead writer's leftover lock file: every contender must
    // eventually enter, at most one at a time (two simultaneous holders
    // = the lost-update bug the lock exists to prevent)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val lf = java.nio.file.Paths.get(root, "_locks", "t.lock")
    java.nio.file.Files.createDirectories(lf.getParent)
    java.nio.file.Files.writeString(lf, "999999999\n") // leftover file
    val inside = new java.util.concurrent.atomic.AtomicInteger
    val maxInside = new java.util.concurrent.atomic.AtomicInteger
    val entries = new java.util.concurrent.atomic.AtomicInteger
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        try graft.sources.TableLocks.withLock(root, "t",
            timeoutMs = 30000) {
          val n = inside.incrementAndGet()
          maxInside.getAndUpdate(m => math.max(m, n))
          entries.incrementAndGet()
          Thread.sleep(5)
          inside.decrementAndGet()
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.asScala.map(_.toString).mkString("; "))
    assert(entries.get() == 8, s"all contenders must enter: ${entries.get()}")
    assert(maxInside.get() == 1,
      s"mutual exclusion violated: ${maxInside.get()} holders at once")
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(root),
      swallowErrors = true)
  }

  test("a forged claim with a LIVE-but-reused pid (wrong start time) is stolen") {
    // pid-reuse scenario: the leftover stamp names a LIVE pid (this
    // JVM's, and its parent's) — a dead writer whose pid the kernel
    // reissued. Only the kernel lock says who holds the table, so the
    // stamp neither lists as held nor delays acquisition.
    val root = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val lf = java.nio.file.Paths.get(root, "_locks", "t.lock")
    java.nio.file.Files.createDirectories(lf.getParent)
    import scala.jdk.OptionConverters._
    val me = ProcessHandle.current()
    for (livePid <- me.pid() +: me.parent().toScala.map(_.pid()).toSeq) {
      java.nio.file.Files.writeString(lf, s"$livePid\n")
      assert(graft.sources.TableLocks.list(root).isEmpty,
        s"a stamp naming live pid $livePid must not list as held")
      val t0 = System.nanoTime()
      var ran = false
      graft.sources.TableLocks.withLock(root, "t", timeoutMs = 5000) {
        ran = true
      }
      assert(ran && (System.nanoTime() - t0) / 1e9 < 4.0,
        "a live-pid stamp must not delay acquisition")
    }
  }

  test("Tables.table detects a directory rewritten at the same path") {
    // the relation/schema caches are fingerprint-stamped: a rewrite at
    // the same path (different schema, different row count) must be
    // re-read, never served from the stale cached listing
    val tmp = java.nio.file.Files.createTempDirectory("graft_tabcache")
      .toString
    spark.range(5).toDF("a").write.mode("overwrite")
      .parquet(s"$tmp/t.parquet")
    assert(Tables.table(spark, tmp, "t").columns.toSeq == Seq("a"))
    assert(Tables.table(spark, tmp, "t").count() == 5)
    spark.range(7).toDF("b").write.mode("overwrite")
      .parquet(s"$tmp/t.parquet")
    val df2 = Tables.table(spark, tmp, "t")
    assert(df2.columns.toSeq == Seq("b"),
      "rewritten schema must be re-inferred, not cache-served")
    assert(df2.count() == 7)
    // the explicit hook drops entries too (for same-fingerprint edits)
    Tables.invalidate(Tables.path(tmp, "t"))
    assert(Tables.table(spark, tmp, "t").count() == 7)
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(tmp),
      swallowErrors = true)
  }

  test("Tables.table cache HITS for unchanged paths — dir AND single file") {
    // round-9 regression guard: the first fingerprint cut assumed every
    // table path is a directory; the driver testdata are single parquet
    // FILES, so Files.list threw, the catch returned a nanoTime-salted
    // value, and the cache never hit once — every query construction
    // silently re-ran schema inference (a uniform ~1.5x headline tax
    // that masqueraded as machine co-load). Reference equality proves
    // the cached relation is served, both layouts.
    val fileTable = Tables.table(spark, sf, "orders") // sf tables = files
    assert(Tables.table(spark, sf, "orders") eq fileTable,
      "single-FILE parquet path must hit the relation cache")
    val tmp = java.nio.file.Files.createTempDirectory("graft_tabhit")
      .toString
    spark.range(3).toDF("a").write.parquet(s"$tmp/d.parquet") // a DIR
    val dirTable = Tables.table(spark, tmp, "d")
    assert(Tables.table(spark, tmp, "d") eq dirTable,
      "directory parquet path must hit the relation cache")
    sources.FsUtil.deleteRecursively(java.nio.file.Paths.get(tmp),
      swallowErrors = true)
  }

  // ---- AUTO_INCREMENT sequence (reference: writeengine/shared/
  // we_brm.h:62,75 — BRM-owned per-column id counter) ------------------

  test("auto-increment assigns dense ids, survives deletes, moves forward only") {
    val cat = freshCatalog()
    cat.createTableAs("t",
      Seq.empty[(Long, Long)].toDF("id", "k"))
    val first1 = cat.insertAutoInc("t", "id",
      spark.range(0, 7).toDF("k"), Seq(col("k")))
    assert(first1 == 1L, "sequence starts at 1 (LAST_INSERT_ID of batch 1)")
    assert(cat.autoIncNext("t", "id") == 8L)
    // ids dense 1..7 in k order
    val got = cat.table("t").orderBy("k").select("id").as[Long].collect()
    assert(got.toSeq == (1L to 7L), s"dense in-order ids, got ${got.toSeq}")
    // deletes never recycle
    cat.delete("t", _.filter(col("id") > 3))
    assert(cat.autoIncNext("t", "id") == 8L)
    // backward set is a no-op; forward set jumps
    cat.setAutoIncStart("t", "id", 2)
    assert(cat.autoIncNext("t", "id") == 8L, "backward AUTO_INCREMENT no-op")
    cat.setAutoIncStart("t", "id", 100)
    val first2 = cat.insertAutoInc("t", "id",
      spark.range(0, 3).toDF("k"), Seq(col("k")))
    assert(first2 == 100L)
    assert(cat.autoIncNext("t", "id") == 103L)
    val ids = cat.table("t").select("id").as[Long].collect().toSet
    assert(ids == Set(4L, 5L, 6L, 7L, 100L, 101L, 102L))
  }

  test("concurrent auto-increment inserters reserve disjoint ranges") {
    import scala.jdk.CollectionConverters._
    val cat = freshCatalog()
    cat.createTableAs("t", Seq.empty[(Long, Long)].toDF("id", "k"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // 2 writers × 3 batches × 50 rows: without the locked reserve→advance
    // both writers read the same `next` and mint colliding ids
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        try for (_ <- 1 to 3)
          cat.insertAutoInc("t", "id",
            spark.range(0, 50).toDF("k"), Seq(col("k")))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.asScala.map(_.toString).mkString("; "))
    val ids = cat.table("t").select("id").as[Long].collect()
    assert(ids.length == 300 && ids.toSet == (1L to 300L).toSet,
      s"300 unique dense ids expected, got ${ids.length} rows, " +
        s"${ids.toSet.size} distinct")
    assert(cat.autoIncNext("t", "id") == 301L)
  }

  test("DML while a partition is disabled preserves the offline data") {
    val cat = freshCatalog()
    val df = (0L until 30L).map(i => (i, (i % 3).toInt)).toDF("id", "pk")
    def counts(t: String) = cat.table(t).groupBy("pk").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // APPEND while offline (the round-10 regression: the commit dropped
    // the disabled partition from the live image, so enablePartition
    // failed and the data survived only in a vacuumable version)
    cat.createTablePartitionedAs("pta", df, "pk")
    cat.disablePartition("pta", "pk=0")
    cat.insertIntoSelect("pta", Seq((100L, 1)).toDF("id", "pk"))
    assert(counts("pta") == Map(1 -> 11L, 2 -> 10L))
    cat.enablePartition("pta", "pk=0")
    assert(counts("pta") == Map(0 -> 10L, 1 -> 11L, 2 -> 10L),
      "offline rows must survive an append")
    // REWRITE while offline, on its own table: offline data is
    // invisible to the DML (the delete must not touch it) and must
    // survive the commit too
    cat.createTablePartitionedAs("ptb", df, "pk")
    cat.disablePartition("ptb", "pk=0")
    cat.update("ptb", _.filter(col("id") % 2 === 0))
    assert(counts("ptb") == Map(1 -> 5L, 2 -> 5L))
    cat.enablePartition("ptb", "pk=0")
    assert(counts("ptb") == Map(0 -> 10L, 1 -> 5L, 2 -> 5L),
      "offline rows must be untouched by the online delete")
  }

  test("QueryStats.append takes no OTHER table's lock (scoped attach)") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_qslock").toString
    val cat = new Catalog(spark, root)
    cat.createTableAs("data", Seq(1L).toDF("v"))
    // plant a crashed commit on "data" and hold data's lock, as a
    // writer would. Round 10's append deadlocked-by-timeout here
    // (lock-order inversion: writer holds data + wants history;
    // recorder holds history + wants data, to recover data's crash).
    plantUnpublished(root, "data", "c1", Seq(5L).toDF("v"))
    @volatile var release = false
    val holding = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.sources.TableLocks.withLock(root, "data") {
        holding.countDown()
        while (!release) Thread.sleep(10)
      })
    holder.start()
    assert(holding.await(10, java.util.concurrent.TimeUnit.SECONDS))
    val t0 = System.nanoTime()
    graft.plans.QueryStats.append(spark, root, "r1",
      Seq(graft.plans.QueryStats.Entry("q", 1.0, -1L, 1L, "p")))
    val sec = (System.nanoTime() - t0) / 1e9
    release = true
    holder.join()
    assert(sec < 20.0,
      s"append blocked ${sec}s — it must not wait on data's lock")
    // the history landed and data reads its published version
    assert(graft.plans.QueryStats.history(spark, root).count() == 1)
    assert(cat.readCommitted("data")(_.count()) == 1L)
    sources.FsUtil.deleteRecursively(Paths.get(root), swallowErrors = true)
  }

  test("QueryStats.append ages out query_history versions") {
    // every append publishes a manifest naming every history file so
    // far; without a vacuum the manifests (and their bytes) pile up
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_qsvac").toString
    for (i <- 1 to 5)
      graft.plans.QueryStats.append(spark, root, s"r$i",
        Seq(graft.plans.QueryStats.Entry(s"q$i", i.toDouble, i.toLong,
          i.toLong, "p")))
    import scala.jdk.CollectionConverters._
    val kept = scala.util.Using.resource(
      Files.list(Paths.get(root, "query_history", "_manifest")))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v")).toSeq)
    assert(kept.size <= 2, s"history kept every version: $kept")
    assert(graft.plans.QueryStats.history(spark, root)
      .select("run_id").as[String].collect().sorted.toSeq ==
      (1 to 5).map(i => s"r$i"), "every appended row must survive")
    sources.FsUtil.deleteRecursively(Paths.get(root), swallowErrors = true)
  }

  test("plan fingerprints agree across JVMs (regression-history contract)") {
    // Catalyst's semanticHash() reaches identity-based FileIndex
    // hashCodes, so two sessions fingerprint the IDENTICAL plan
    // differently — a cross-run history keyed on it reads every fresh
    // session as plan churn (observed live in round 11: 16/16 headline
    // queries false-flagged). planHash hashes plan TEXT instead
    // (QueryStats.stableString); this pins the cross-JVM agreement that
    // makes d_query_regression's plan_change signal meaningful across
    // runs.
    // a_group_concat is the measured worst offender of the second
    // instability class (round 12): its custom typed Aggregate prints
    // the function object's Class@identityHash into the plan string,
    // which differed every session until planHash sanitized
    // identity tokens — 26 registry queries false-flagged permanent
    // plan_change on the verify-basis history through that hole
    for (q <- Seq("q01_pricing_summary", "a_group_concat")) {
      val mine = graft.plans.QueryStats.planHash(
        SparkEntry.queries(q)(spark, sf))
      val child = sources.ChildJvm.spawn("graft.plans.PlanHashChild",
        Seq(q, sf))
      val exit = child.waitFor()
      val tail = child.tail()
      assert(exit == 0, s"child failed (exit=$exit): ${tail.takeRight(800)}")
      val theirs = tail.linesIterator
        .find(_.startsWith("PLANHASH=")).map(_.stripPrefix("PLANHASH="))
      assert(theirs.contains(mine),
        s"$q: plan fingerprint must be session-independent: parent=$mine " +
          s"child=$theirs")
    }
  }

  test("ChildJvm classload probe passes; firstError names the class") {
    assert(sources.ChildJvm.probe() == "ok")
    val tail = "starting\n  at a.b.C.main(C.java:1)\n" +
      "Caused by: java.lang.ClassNotFoundException: x.Y\n  ... 2 more\n"
    assert(sources.ChildJvm.firstError(tail)
      .contains("ClassNotFoundException: x.Y"))
  }

  test("planHash folds identity tokens but preserves @hex data literals") {
    // the identityHash rewrite is anchored to QUALIFIED names
    // (Class@hex / $$Lambda@hex): a data literal like 'user@ab12' has
    // no '.'/'$' prefix and must keep distinguishing plans — an
    // over-broad @hex rewrite would silence a REAL plan change
    import org.apache.spark.sql.functions.col
    def planFor(v: String) =
      Tables.table(spark, sf, "nation").filter(col("n_name") === v)
    val h1 = graft.plans.QueryStats.planHash(planFor("user@ab12"))
    val h2 = graft.plans.QueryStats.planHash(planFor("user@cd34"))
    assert(h1 != h2,
      "distinct @hex literals must produce distinct fingerprints")
    // while the same plan re-built in the same session is stable
    assert(h1 == graft.plans.QueryStats.planHash(planFor("user@ab12")))
    // ADVICE r12: a DOTTED literal with a short hex suffix looks
    // qualified (`a.b@cafe`), and the unlength-bounded rewrite folded
    // it — silencing a real plan_change. The 6–8-digit length anchor
    // (the shape identity hashes actually print) keeps short-hex
    // dotted literals distinguishing
    val d1 = graft.plans.QueryStats.planHash(planFor("a.b@cafe"))
    val d2 = graft.plans.QueryStats.planHash(planFor("a.b@beef"))
    assert(d1 != d2,
      "short-hex dotted literals must keep distinguishing plans")
    // and the documented residual is pinned both ways: a ≥6-hex
    // qualified token IS folded (that shape is what Class@identityHash
    // prints — the instability the rewrite exists to remove)
    val r1 = graft.plans.QueryStats.planHash(planFor("a.b@1509bd56"))
    val r2 = graft.plans.QueryStats.planHash(planFor("a.b@7a2b91cc"))
    assert(r1 == r2,
      "6-8-hex qualified tokens fold to @id (identity-hash shape)")
  }

  test("planHash is ExprId-range-independent for multi-distinct-agg plans") {
    // RewriteDistinctAggregates orders its Expand rows, columns and gid
    // filters by hashCodes that reach ExprId — a per-session counter —
    // so a fingerprint of the optimized plan's expressions depends on
    // the ExprId range the query was built in (fresh session vs late in
    // a 318-query one). w_nulls_ordering flipped the same way under an
    // un-canonicalized optimized rendering. This loop re-creates the
    // trigger: the ONLY varied state is the ExprId counter
    for (q <- Seq(
        "f_pseudo_columns", // two distinct-agg groups (mid, file)
        "w_nulls_ordering")) {
      def hash(): String = graft.plans.QueryStats.planHash(
        SparkEntry.queries(q)(spark, sf))
      val first = hash()
      for (i <- 1 to 12) {
        (1 to 997 * i).foreach { _ =>
          org.apache.spark.sql.catalyst.expressions.NamedExpression
            .newExprId
        }
        assert(hash() == first,
          s"$q: fingerprint flipped after burning ${997 * i} ExprIds")
      }
    }
  }

  test("incident log rotates at the size cap; recent incidents survive") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_irot").toString
    // ~85-byte lines with a 120-byte cap: one line fits, two exceed —
    // so the 3rd record rotates {1,2} aside and starts a fresh live log
    def rec(i: Int): Unit =
      sources.Incidents.record(root, "torn_listing", s"t$i", "x" * 50,
        capBytes = 120)
    (1 to 3).foreach(rec)
    val live = Paths.get(root, "_incidents", "log")
    val rotated = Paths.get(root, "_incidents", "log.1")
    assert(Files.exists(rotated), "cap must rotate the live log aside")
    assert(sources.Incidents.list(root).map(_.table) ==
      Seq("t1", "t2", "t3"),
      "one rotation loses nothing: list spans log.1 then log, in order")
    // two more: the next rotation REPLACES log.1 — the oldest
    // generation is dropped (the documented bound), recent survive
    (4 to 5).foreach(rec)
    assert(sources.Incidents.list(root).map(_.table) ==
      Seq("t3", "t4", "t5"))
    assert(Files.size(live) < 120,
      "live log restarts small after rotation")
    sources.FsUtil.deleteRecursively(Paths.get(root), swallowErrors = true)
  }

  test("QueryStats.regressions scopes to one measurement basis via runPrefix") {
    import java.nio.file.{Files, Paths}
    import graft.plans.QueryStats
    val root = Files.createTempDirectory("graft_qsp").toString
    // same query, same plan, TWO recorders: bench walls are steady,
    // verify walls (which include the parquet dump) are 10× larger and
    // end in a genuine verify-basis regression. Unscoped, the verify
    // tail would poison the bench median (the ADVICE r11 hazard).
    def batch(runId: String, ts: Long, wall: Double): Unit =
      QueryStats.append(spark, root, runId,
        Seq(QueryStats.Entry("q", wall, -1L, ts, "p")))
    batch("bench_1", 1000L, 10.0)
    batch("verify_1", 1500L, 100.0)
    batch("bench_2", 2000L, 10.0)
    batch("verify_2", 2500L, 100.0)
    batch("bench_3", 3000L, 10.0)
    batch("verify_3", 3500L, 100.0)
    batch("bench_4", 4000L, 11.0)
    batch("verify_4", 4500L, 400.0)
    val hist = QueryStats.history(spark, root)
    assert(QueryStats.regressions(hist, runPrefix = Some("bench_"))
      .count() == 0,
      "bench basis is clean — verify walls must not leak into its median")
    val v = QueryStats.regressions(hist, runPrefix = Some("verify_"))
      .collect()
    assert(v.length == 1 && v(0).getString(0) == "q" &&
      v(0).getString(1) == "wall_regression",
      s"verify basis must flag its own 4x tail: ${v.mkString(";")}")
    sources.FsUtil.deleteRecursively(Paths.get(root), swallowErrors = true)
  }

  test("conc4Verdict: hard failures outrank bound trips; a trip reads false") {
    // clean → true
    assert(Bench.conc4Verdict(true, 0, Seq.empty) == (("true", "null")))
    // MVCC/error failures outrank everything, bound trips included
    val viol = Seq("a_high_cardinality:2.8x>2.5x")
    assert(Bench.conc4Verdict(false, 0, viol) ==
      (("false", "\"inconsistent_snapshot\"")))
    assert(Bench.conc4Verdict(true, 2, viol) == (("false", "\"errors\"")))
    // a bound trip is an honest false with the leg's own bound name
    assert(Bench.conc4Verdict(true, 0, viol) ==
      (("false", "\"p95_bound\"")))
    // confirm re-leg intersection: only queries violating in BOTH
    // observations survive (ratio text differs run to run — the query
    // name is the reproducibility key)
    assert(Bench.confirmedViolations(
      Seq("q01_pricing_summary:2.7x>2.5x", "a_high_cardinality:5.4x>4.0x"),
      Seq("a_high_cardinality:4.8x>4.0x", "o_topk:3.1x>2.5x")) ==
      Seq("a_high_cardinality:4.8x>4.0x"))
    assert(Bench.confirmedViolations(Seq("q01:3x>2.5x"), Seq.empty).isEmpty)
    // the verdict family is uniform across legs: the 2-user leg's
    // p50_bound and the scaling leg's ratio_bound
    assert(Bench.conc4Verdict(true, 0, viol, "p50_bound") ==
      (("false", "\"p50_bound\"")))
    val scalViol = Seq("x_dedup_chunks:9.2x>4.0x")
    assert(Bench.conc4Verdict(true, 0, scalViol, "ratio_bound") ==
      (("false", "\"ratio_bound\"")))
    // a scaling query that THREW is an engine failure — errors outrank
    // bound violations
    assert(Bench.conc4Verdict(true, 1, scalViol, "ratio_bound") ==
      (("false", "\"errors\"")))
  }

  test("WallBudget: sections skip-and-report when the wall runs out") {
    // generous budget: everything allowed, nothing recorded
    val big = new Bench.WallBudget(3600)
    assert(big.allows("concurrent", 300) && big.has(300))
    assert(big.skipped.isEmpty)
    // exhausted budget (elapsed > 0 against a 0.001 s wall): sections
    // are denied AND self-record; the quiet per-query guard denies
    // without recording (the loop records one section entry itself)
    Thread.sleep(5)
    val tiny = new Bench.WallBudget(0.001)
    assert(!tiny.has(45))
    assert(tiny.skipped.isEmpty, "has() must not record")
    assert(!tiny.allows("scaling", 480))
    assert(tiny.skipped == Seq("scaling"))
    // 0 = unlimited (a caller that manages its own time)
    val off = new Bench.WallBudget(0)
    assert(off.allows("all_sweep", 1e9))
    assert(off.skipped.isEmpty)
  }

  test("planHash tells ROLLUP from CUBE over the same columns") {
    // grouping-set gids are bitmasks assigned from the user's query, so
    // the two shapes must never fold into one fingerprint
    val t = Tables.table(spark, sf, "nation")
    val rollup = graft.plans.QueryStats.planHash(
      t.rollup("n_regionkey", "n_nationkey").count())
    val cube = graft.plans.QueryStats.planHash(
      t.cube("n_regionkey", "n_nationkey").count())
    assert(rollup != cube)
  }

  test("planHash sees the optimizer's operator shape") {
    // the analyzed text is identical with and without predicate
    // pushdown; only the optimized plan's skeleton (Filter above vs
    // below the Join) can tell the two apart
    def df = Tables.table(spark, sf, "nation")
      .join(Tables.table(spark, sf, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
    val key = "spark.sql.optimizer.excludedRules"
    val pushed = graft.plans.QueryStats.planHash(df)
    spark.conf.set(key,
      "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates")
    val unpushed =
      try graft.plans.QueryStats.planHash(df) finally spark.conf.unset(key)
    assert(pushed != unpushed)
    assert(pushed == graft.plans.QueryStats.planHash(df))
  }

  test("stableString folds Range numSlices (session-parallelism leak)") {
    // round-14 root cause: `Range (0, 1, step=1, splits=Some(N))`
    // prints the SESSION's default parallelism, so every spark.range-
    // based query fingerprinted differently per core count — the
    // verify-basis tripwire flipped j_range_interval and
    // x_ann_centroid_drift between the same two hashes depending on
    // SPARK_GRAFT_CPUS. The hashed text must carry no splits value.
    val df = spark.range(0, 16).toDF("id")
      .groupBy(($"id" % 4).as("k")).count()
    val s = graft.plans.QueryStats.stableString(df)
    assert(s.contains("Range"), s"fixture must keep its Range node:\n$s")
    assert(!s.contains("splits=Some"),
      s"numSlices must be folded out of the hash input:\n$s")
  }
}
