package graft.operators

import graft.{QueryDef, Tables}
import graft.sources.{Catalog, Loader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** DDL / DML / bulk-load parity (SURVEY §2.1 DDL/DML rows, §3.2, §3.3).
  *
  * Each query performs the mutation into a scratch directory and returns a
  * DataFrame over the final state, so the DuckDB oracle can assert the
  * result from the immutable source tables.
  */
object DdlDmlQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  // per-process scratch root (pid-suffixed so concurrent JVMs can't wipe
  // each other's live data), reused within the JVM so repeated Verify/Bench
  // invocations don't accumulate temp dirs; removed on normal JVM exit
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_ddl_scratch_${ProcessHandle.current().pid()}")
    deleteRecursively(p)
    Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(p) catch { case _: Exception => () }))
    p
  }

  private[operators] def scratch(sub: String): String = {
    val p = scratchRoot.resolve(sub)
    deleteRecursively(p)
    Files.createDirectories(p)
    p.toString
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.sources.FsUtil.deleteRecursively(p)

  /** The path `scratch(sub)` resolves to, WITHOUT wiping it — for tests
    * inspecting artifacts a query just wrote. */
  private[graft] def lastScratch(sub: String): String =
    scratchRoot.resolve(sub).toString

  /** CTAS → read back (reference: CREATE TABLE ddl.y:233 + INSERT_SELECT
    * path exemgr/main.cpp:582). */
  val ctasRoundtrip: QueryDef = QueryDef(
    "d_ctas_roundtrip",
    (s, dir) => {
      val cat = new Catalog(s, scratch("ctas"))
      cat.createTableAs("order_summary",
        t(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total")))
      cat.table("order_summary").orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** CREATE empty + INSERT INTO … SELECT twice (append) + TRUNCATE-check
    * (reference: insertpackageprocessor.cpp). */
  val insertIntoSelect: QueryDef = QueryDef(
    "d_insert_into_select",
    (s, dir) => {
      val cat = new Catalog(s, scratch("insert"))
      val cust = t(s, dir, "customer")
      cat.createTable("cust_copy", cust.schema)
      cat.insertIntoSelect("cust_copy", cust.filter(col("c_custkey") % 2 === 0))
      cat.insertIntoSelect("cust_copy", cust.filter(col("c_custkey") % 2 === 1))
      cat.table("cust_copy")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("bal"))
        .orderBy(col("c_mktsegment"))
    },
    oracle = Some("""
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  /** UPDATE + DELETE as read-modify-overwrite
    * (reference: updatepackageprocessor.cpp, deletepackageprocessor.cpp;
    * MVCC snapshot semantics → immutable overwrite). */
  val updateDelete: QueryDef = QueryDef(
    "d_update_delete",
    (s, dir) => {
      val cat = new Catalog(s, scratch("update"))
      cat.createTableAs("supp", t(s, dir, "supplier"))
      // DELETE FROM supp WHERE s_acctbal < 0
      cat.delete("supp", _.filter(col("s_acctbal") >= 0))
      // UPDATE supp SET s_acctbal = s_acctbal * 1.1 WHERE s_nationkey < 10
      cat.update("supp", df => df.withColumn("s_acctbal",
        when(col("s_nationkey") < 10, col("s_acctbal") * 1.1)
          .otherwise(col("s_acctbal"))))
      cat.table("supp")
        .agg(count(lit(1)).as("n"), sum(col("s_acctbal")).as("total_bal"))
    },
    oracle = Some("""
      SELECT count(*) AS n,
             sum(CASE WHEN s_nationkey < 10 THEN s_acctbal * 1.1
                      ELSE s_acctbal END) AS total_bal
      FROM supplier WHERE s_acctbal >= 0""")
  )

  /** Multi-table DML — MySQL's `UPDATE t1 JOIN t2 …` / `DELETE t1 FROM
    * t1 JOIN t2 …` surface, which the reference executes through the
    * same vtable rewrite as joined SELECTs (dbcon/mysql DML path). Here
    * the update transform is a broadcast left join against the driving
    * dimension (BUILDING customers get a 5% discount) and the joined
    * delete is a left-anti join (AUTOMOBILE customers' orders removed);
    * both run through the catalog's versioned rewrite like every other
    * DML.
    *
    * Scale shape: the dimension sides are filtered keys only and
    * broadcast; the fact table rewrites in place without a shuffle. */
  val dmlJoin: QueryDef = QueryDef(
    "d_dml_join",
    (s, dir) => {
      val cat = new Catalog(s, scratch("dmljoin"))
      cat.createTableAs("ord", t(s, dir, "orders"))
      val bld = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      cat.update("ord", df => df
        .join(broadcast(bld), df("o_custkey") === bld("c_custkey"),
          "left_outer")
        .withColumn("o_totalprice",
          when(col("c_custkey").isNotNull, col("o_totalprice") * 0.95)
            .otherwise(col("o_totalprice")))
        .drop("c_custkey"))
      val auto = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey"))
      cat.delete("ord", df => df.join(broadcast(auto),
        df("o_custkey") === auto("c_custkey"), "left_anti"))
      cat.table("ord")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },
    oracle = Some("""
      WITH b AS (SELECT c_custkey FROM customer
                 WHERE c_mktsegment = 'BUILDING'),
      a AS (SELECT c_custkey FROM customer
            WHERE c_mktsegment = 'AUTOMOBILE')
      SELECT count(*) AS n,
             round(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM b)
                            THEN o_totalprice * 0.95
                            ELSE o_totalprice END), 2) AS total
      FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM a)""")
  )

  /** Snapshot time travel over the catalog's MVCC retention (reference:
    * versioning/BRM/dbrm.h:163-192 — the version buffer keeps each DML's
    * pre-image until it ages out; here every versioned rewrite retains
    * the displaced directory as vN, `tableAsOf` is the version-buffer
    * read path, `vacuumVersions` the aging). One table, two mutations,
    * three readable states — summarized per snapshot and checked against
    * DuckDB's independent reconstruction of each state. */
  val timeTravel: QueryDef = QueryDef(
    "d_time_travel",
    (s, dir) => {
      val cat = new Catalog(s, scratch("travel"))
      cat.createTableAs("supp", t(s, dir, "supplier"))
      // mutation 1 (retains v0 = the original):
      // UPDATE supp SET s_acctbal = s_acctbal * 1.1 WHERE s_nationkey < 10
      cat.update("supp", df => df.withColumn("s_acctbal",
        when(col("s_nationkey") < 10, col("s_acctbal") * 1.1)
          .otherwise(col("s_acctbal"))))
      // mutation 2 (retains v1 = post-update): DELETE WHERE s_acctbal < 0
      cat.delete("supp", _.filter(col("s_acctbal") >= 0))
      def summarize(df: DataFrame, label: String): DataFrame =
        df.agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal")), 4).as("total_bal"))
          .withColumn("snapshot", lit(label))
      summarize(cat.tableAsOf("supp", 0), "v0")
        .unionAll(summarize(cat.tableAsOf("supp", 1), "v1"))
        .unionAll(summarize(cat.table("supp"), "v2_current"))
        .select(col("snapshot"), col("n"), col("total_bal"))
        .orderBy(col("snapshot"))
    },
    oracle = Some("""
      WITH u AS (SELECT CASE WHEN s_nationkey < 10 THEN s_acctbal * 1.1
                             ELSE s_acctbal END AS bal
                 FROM supplier)
      SELECT 'v0' AS snapshot, count(*) AS n,
             round(sum(s_acctbal), 4) AS total_bal FROM supplier
      UNION ALL
      SELECT 'v1', count(*), round(sum(bal), 4) FROM u
      UNION ALL
      SELECT 'v2_current', count(*), round(sum(bal), 4) FROM u
      WHERE bal >= 0
      ORDER BY snapshot""")
  )

  /** ALTER TABLE ADD/DROP COLUMN (reference: ddl.y:477 alter_table). */
  val alterTable: QueryDef = QueryDef(
    "d_alter_table",
    (s, dir) => {
      val cat = new Catalog(s, scratch("alter"))
      cat.createTableAs("nat", t(s, dir, "nation"))
      cat.addColumn("nat", "n_key_sq", col("n_nationkey") * col("n_nationkey"))
      cat.dropColumn("nat", "n_regionkey")
      cat.table("nat").orderBy(col("n_nationkey"))
    },
    oracle = Some("""
      SELECT n_nationkey, n_name, n_nationkey * n_nationkey AS n_key_sq
      FROM nation ORDER BY n_nationkey""")
  )

  /** Incremental materialized-aggregate maintenance: the view stores
    * MERGEABLE partial states (count, exact decimal sum), so a delta
    * batch refreshes it by aggregating ONLY the delta and re-merging
    * states — cost O(delta + groups), never a rescan of the base (at
    * 100 TB that is the difference between a nightly refresh and an
    * impossible one; same algebra as Spark's own partial aggregation,
    * lifted to the storage layer). The oracle recomputes the view from
    * scratch — merged states must equal the full recompute exactly. */
  val matviewIncremental: QueryDef = QueryDef(
    "d_matview_incremental",
    (s, dir) => {
      val cat = new Catalog(s, scratch("matview"))
      val orders = t(s, dir, "orders")
      def partials(df: DataFrame): DataFrame =
        df.groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
      // initial build on the history…
      cat.createTableAs("mv",
        partials(orders.filter(col("o_orderdate") < lit("1997-06-01"))))
      // …then one incremental refresh from the delta batch alone
      val delta = partials(
        orders.filter(col("o_orderdate") >= lit("1997-06-01")))
      cat.update("mv", mv => mv.unionAll(delta)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        // merged states cast back to the view's declared column types —
        // sum() widens decimals and the catalog schema is fixed
        .agg(sum(col("n")).as("n"),
          sum(col("total")).cast("decimal(28,2)").as("total")))
      cat.table("mv")
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    },
    oracle = Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority
      ORDER BY o_orderstatus, o_orderpriority""")
  )

  /** Small-file compaction — the operational sibling of the layout ops:
    * streaming/incremental ingests leave a long tail of small files, and
    * at 100 TB the scan's task count (and the namenode/listing pressure)
    * tracks FILE count, not byte count. Compaction re-bins a fragmented
    * table to ceil(bytes / target_file_size) files; here the bin count is
    * pinned (64 → 4) so the assertion is deterministic, and the oracle
    * checks content invariance (rows + exact sum survive the rewrite). */
  val compaction: QueryDef = QueryDef(
    "d_compaction",
    (s, dir) => {
      val tmp = scratch("compaction")
      val slice = t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 20000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      slice.repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
      def nFiles(p: String): Int =
        new java.io.File(p).listFiles()
          .count(f => f.getName.startsWith("part-"))
      val before = nFiles(s"$tmp/small")
      s.read.parquet(s"$tmp/small").repartition(4)
        .write.mode("overwrite").parquet(s"$tmp/compact")
      val after = nFiles(s"$tmp/compact")
      s.read.parquet(s"$tmp/compact")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .select(lit(before).as("files_before"), lit(after).as("files_after"),
          col("n_rows"), col("sum_qty"))
    },
    oracle = Some("""
      SELECT 64 AS files_before, 4 AS files_after, count(*) AS n_rows,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
      FROM lineitem WHERE l_orderkey < 20000""")
  )

  /** Z-order data layout (the write-side half of the reference's extent
    * map + casual partitioning, extentmap.h:99 — blocks carry min/max per
    * column and scans drop extents whose range can't match): interleave
    * the bits of two query dimensions into one z-value, cluster files by
    * z-bucket, and every bucket ends up with a TIGHT min/max box in BOTH
    * dimensions, so a 2-D predicate prunes most buckets via ordinary
    * parquet row-group stats / partition pruning — one layout serving
    * two filter columns, where a single-column sort serves one. The
    * query reports each bucket's bounding box; the DuckDB oracle replays
    * the same bit-interleave and boxes, proving the clustering is
    * deterministic layout logic, not sampling. */
  /** Where the last zorderLayout run wrote its clustered copy (PlanSpec
    * reads it back to pin partition pruning on the layout). */
  @volatile private[graft] var lastZorderDir: String = _

  val zorderLayout: QueryDef = QueryDef(
    "d_zorder_layout",
    (s, dir) => {
      val tmp = scratch("zorder")
      lastZorderDir = s"$tmp/lineitem_z"
      // 8-bit bucketization of both dims, then 16-bit Morton interleave —
      // pure integer expressions, codegen'd, identical in the oracle
      val zExpr = (0 until 8).map(i =>
        s"(((ok_b >> $i) & 1) << ${2 * i}) + (((pk_b >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      val laid = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .withColumn("ok_b", pmod(col("l_orderkey"), lit(256)).cast("int"))
        .withColumn("pk_b", pmod(col("l_partkey"), lit(256)).cast("int"))
        .withColumn("zval", expr(zExpr))
        .withColumn("zbucket", expr("zval div 4096")) // 16 buckets
      laid.write.mode("overwrite").partitionBy("zbucket")
        .parquet(s"$tmp/lineitem_z")
      s.read.parquet(s"$tmp/lineitem_z")
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("ok_b")).as("min_ok"), max(col("ok_b")).as("max_ok"),
          min(col("pk_b")).as("min_pk"), max(col("pk_b")).as("max_pk"))
        // the proof-of-layout: both boxes are ≤ a quarter of the domain,
        // so any 2-D equality predicate overlaps ≤ 1/16 of the buckets
        .withColumn("box_ok", col("max_ok") - col("min_ok"))
        .withColumn("box_pk", col("max_pk") - col("min_pk"))
        .orderBy(col("zbucket"))
    },
    oracle = Some {
      val zExpr = (0 until 8).map(i =>
        s"(((ok_b >> $i) & 1) << ${2 * i}) + (((pk_b >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""
      WITH b AS (SELECT CAST(l_orderkey % 256 AS INTEGER) AS ok_b,
                        CAST(l_partkey % 256 AS INTEGER) AS pk_b
                 FROM lineitem),
      z AS (SELECT ok_b, pk_b, ($zExpr) // 4096 AS zbucket FROM b)
      SELECT zbucket, count(*) AS n,
             min(ok_b) AS min_ok, max(ok_b) AS max_ok,
             min(pk_b) AS min_pk, max(pk_b) AS max_pk,
             max(ok_b) - min(ok_b) AS box_ok,
             max(pk_b) - min(pk_b) AS box_pk
      FROM z GROUP BY zbucket ORDER BY zbucket"""
    }
  )

  /** cpimport round-trip: nation → pipe-delimited CSV → Loader → parquet.
    * The loaded table must be byte-identical to the source
    * (reference: writeengine/bulk/we_bulkload.h:67). */
  val csvRoundtrip: QueryDef = QueryDef(
    "d_csv_roundtrip",
    (s, dir) => {
      val tmp = scratch("csv_rt")
      val nation = t(s, dir, "nation")
      Loader.exportCsv(nation, s"$tmp/nation_csv")
      val res = Loader.loadCsv(s, s"$tmp/nation_csv", nation.schema,
        s"$tmp/nation_parquet")
      res.rejects.count() // force evaluation of the reject path
      s.read.parquet(s"$tmp/nation_parquet").orderBy(col("n_nationkey"))
    },
    oracle = Some("SELECT * FROM nation ORDER BY n_nationkey")
  )

  /** JSONL round-trip: nation → newline-delimited JSON → Loader → parquet.
    * Same contract as the cpimport CSV path but over the interchange
    * format training-data pipelines ship; schema-directed read keeps the
    * column types (JSON alone would widen them). */
  val jsonlRoundtrip: QueryDef = QueryDef(
    "d_jsonl_roundtrip",
    (s, dir) => {
      val tmp = scratch("jsonl_rt")
      val nation = t(s, dir, "nation")
      Loader.exportJsonl(nation, s"$tmp/nation_jsonl")
      val res = Loader.loadJsonl(s, s"$tmp/nation_jsonl", nation.schema,
        s"$tmp/nation_parquet")
      res.rejects.count() // force evaluation of the reject path
      s.read.parquet(s"$tmp/nation_parquet").orderBy(col("n_nationkey"))
    },
    oracle = Some("SELECT * FROM nation ORDER BY n_nationkey")
  )

  /** Reject handling: malformed rows divert to the reject set, good rows
    * load (reference: we_bulkloadbuffer.cpp error tracking → .bad files). */
  val loaderRejects: QueryDef = QueryDef(
    "d_loader_rejects",
    (s, dir) => {
      val tmp = scratch("rejects")
      val csv = java.nio.file.Paths.get(tmp, "in.csv")
      Files.writeString(csv,
        """1|alpha|10.5
          |2|beta|not_a_number
          |3|gamma|30.25
          |4|delta|40.0
          |""".stripMargin)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("val",
          org.apache.spark.sql.types.DoubleType)))
      val res = Loader.loadCsv(s, csv.toString, schema, s"$tmp/out")
      import s.implicits._
      Seq((res.loaded, res.rejected)).toDF("n_loaded", "n_rejected")
    },
    oracle = Some("SELECT CAST(3 AS BIGINT) AS n_loaded, CAST(1 AS BIGINT) AS n_rejected")
  )

  /** Cross-engine read over a live JDBC connection (reference:
    * CrossEngineStep, dbcon/joblist/crossenginestep.h:47 — reads a foreign
    * MySQL table into the query). The foreign DBMS here is embedded Derby
    * (already on the Spark classpath): the region table is seeded through
    * plain JDBC, then read back with spark.read.format("jdbc") — the same
    * code path a deployment would point at a network MySQL/Postgres URL. */
  val crossEngine: QueryDef = QueryDef(
    "d_cross_engine",
    (s, dir) => {
      // shut the Derby instance down before the scratch wipe: a prior run
      // in this JVM may still have the database booted on deleted files
      try java.sql.DriverManager.getConnection(
        s"jdbc:derby:${scratchRoot.resolve("cross")}/foreign_db;shutdown=true")
      catch { case _: java.sql.SQLException => () } // success throws 08006
      val tmp = scratch("cross")
      val dbPath = s"$tmp/foreign_db"
      val rows = t(s, dir, "region").collect() // 5 rows: foreign-side seed
      val conn = java.sql.DriverManager
        .getConnection(s"jdbc:derby:$dbPath;create=true")
      try {
        val st = conn.createStatement()
        st.execute(
          "CREATE TABLE region_ext (r_regionkey BIGINT, r_name VARCHAR(64))")
        val ps = conn.prepareStatement("INSERT INTO region_ext VALUES (?, ?)")
        rows.foreach { r =>
          // r_regionkey is int32 in the testdata; Row.getLong doesn't widen
          ps.setLong(1, r.getAs[Number](0).longValue())
          ps.setString(2, r.getString(1))
          ps.executeUpdate()
        }
      } finally conn.close()
      val foreign = s.read.format("jdbc")
        .option("url", s"jdbc:derby:$dbPath")
        .option("dbtable", "region_ext")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
        // Derby reports uppercase identifiers; re-alias for the output schema
        .select(col("R_REGIONKEY").as("r_regionkey"),
          col("R_NAME").as("r_name"))
      t(s, dir, "nation")
        .join(broadcast(foreign), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy(col("r_name"))
    },
    oracle = Some("""
      SELECT r_name, count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")
  )

  /** Bucketed co-located join: both sides bucketed 8× on the join key →
    * the join runs with NO exchange (asserted in PlanSpec). This is the
    * pre-partitioning strategy that turns a 100 TB fact⋈fact join from a
    * full network shuffle into local merges (the reference's analog is
    * dbroot placement of extents, tuple-bps.cpp:203 extent-to-PM maps). */
  val bucketedJoin: QueryDef = QueryDef(
    "d_bucketed_join",
    (s, dir) => {
      val tmp = scratch("bucketed")
      // fixed names + DROP IF EXISTS: re-runs replace instead of
      // accumulating metastore entries
      val ordT = "graft_orders_b"
      val liT = "graft_lineitem_b"
      s.sql(s"DROP TABLE IF EXISTS $ordT")
      s.sql(s"DROP TABLE IF EXISTS $liT")
      Tables.table(s, dir, "orders")
        .write.option("path", s"$tmp/orders_b")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordT)
      Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
        .write.option("path", s"$tmp/lineitem_b")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liT)
      s.table(liT)
        .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          // exact decimal sum → double: partial-agg order can't perturb
          // the byte-exact gate's hash of the revenue column
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("rev"),
          avg(col("l_quantity")).as("avg_qty"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
             avg(l_quantity) AS avg_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** Partitioned write + partition-pruned read: the Hive-style layout that
    * replaces the reference's extent map + casual partitioning
    * (versioning/BRM/extentmap.h:99 min/max) at the directory level. The
    * year filter must prune to one partition directory (PlanSpec asserts
    * PartitionFilters). */
  val partitionedWrite: QueryDef = QueryDef(
    "d_partitioned_write",
    (s, dir) => {
      val tmp = scratch("partwrite")
      Tables.table(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite")
        .parquet(s"$tmp/orders_part")
      s.read.parquet(s"$tmp/orders_part")
        .filter(col("o_year") === 1997)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
      FROM orders WHERE year(o_orderdate) = 1997
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** SHOW PARTITIONS analog — the reference's calshowpartitions UDF lists
    * per-partition min/max/status from the extent map
    * (reference: dbcon/mysql/ha_calpont_partition.cpp:790-894). Here the
    * partition directory IS the extent, and parquet footer min/max are the
    * casual-partitioning stats; this surfaces both per partition. */
  val showPartitions: QueryDef = QueryDef(
    "d_show_partitions",
    (s, dir) => {
      val tmp = scratch("showpart")
      Tables.table(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite")
        .parquet(s"$tmp/orders_part")
      s.read.parquet(s"$tmp/orders_part")
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"))
        .select(concat(lit("o_year="), col("o_year")).as("partition"),
          col("n_rows"), col("min_price"), col("max_price"),
          col("min_date"), col("max_date"))
        .orderBy(col("partition"))
    },
    oracle = Some("""
      SELECT 'o_year=' || CAST(year(o_orderdate) AS VARCHAR) AS partition,
             count(*) AS n_rows,
             min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
             min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
      FROM orders GROUP BY year(o_orderdate) ORDER BY partition""")
  )

  /** Partition lifecycle — the caldisablepartitions / calenablepartitions /
    * caldroppartitions analog (reference:
    * dbcon/mysql/ha_calpont_partition.cpp:790-894; ddl.y partition
    * mark/drop/restore): disable 1996 (offline, data intact), re-enable it,
    * then drop 1998 outright. The final read must show every year EXCEPT
    * 1998 — a wrong enable or a wrong drop both hash-mismatch. Every step
    * is a manifest-only commit, never a table rewrite, which is what makes
    * retention deletes cheap at 100 TB. */
  val dropPartition: QueryDef = QueryDef(
    "d_drop_partition",
    (s, dir) => {
      val cat = new Catalog(s, scratch("droppart"))
      cat.createTablePartitionedAs("orders_part",
        t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
        "o_year")
      cat.disablePartition("orders_part", "o_year=1996")
      cat.enablePartition("orders_part", "o_year=1996")
      cat.disablePartition("orders_part", "o_year=1998")
      cat.dropPartition("orders_part", "o_year=1998")
      cat.table("orders_part")
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy(col("o_year"))
    },
    oracle = Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE year(o_orderdate) <> 1998
      GROUP BY 1 ORDER BY o_year""")
  )

  /** Table-stats introspection — the calgetstats analog
    * (reference: dbcon/mysql/ha_calpont_udf.cpp calgetstats): per-column
    * row/null/distinct counts and min/max, i.e. the stats the extent map
    * keeps per extent and the optimizer reads for pruning. */
  val tableStats: QueryDef = QueryDef(
    "d_table_stats",
    (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("nd_orderkey"),
        (count(lit(1)) - count(col("l_orderkey"))).as("nulls_orderkey"),
        min(col("l_orderkey")).as("min_orderkey"),
        max(col("l_orderkey")).as("max_orderkey"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_shipdate")).as("min_shipdate"),
        max(col("l_shipdate")).as("max_shipdate"),
        countDistinct(col("l_returnflag")).as("nd_returnflag")),
    oracle = Some("""
      SELECT count(*) AS n_rows,
             count(DISTINCT l_orderkey) AS nd_orderkey,
             count(*) - count(l_orderkey) AS nulls_orderkey,
             min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             min(l_shipdate) AS min_shipdate, max(l_shipdate) AS max_shipdate,
             count(DISTINCT l_returnflag) AS nd_returnflag
      FROM lineitem""")
  )

  /** ANALYZE-histogram stats (MySQL 8 `ANALYZE TABLE … UPDATE HISTOGRAM`
    * analog; the reference's optimizer reads extent min/max + casual
    * partitioning stats, versioning/BRM/extentmap.h — a column histogram
    * is the same stats surface one level finer): 8 equi-depth buckets of
    * l_extendedprice. Boundaries come from ONE exact-percentile
    * aggregation (a 7-value row, broadcast back); rows then bucket by
    * range comparison — a per-row map, no global sort or single-partition
    * window anywhere. At 100 TB swap the exact percentile for
    * approx_percentile(ε) and the plan shape is unchanged. */
  val analyzeHistogram: QueryDef = QueryDef(
    "d_analyze_histogram",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // ONE array-percentile aggregate: all 7 cut points share a single
      // value-count buffer — 7 scalar percentile() calls each built
      // their own 600k-entry map and made this the slowest query in the
      // suite (22 s → ~1 s at sf0.1)
      // r15: spread below the percentile — the exact-percentile
      // aggregate builds a value-count map per partition, and on the
      // bench's single-split scan that 600k-value map build ran on one
      // core; spread makes the partial maps build 32-way and only the
      // merge runs single-task (identity at scale, Tables.spread).
      val bounds = Tables.spread(li.select(col("l_extendedprice")),
          col("l_extendedprice")).agg(expr(
        "percentile(l_extendedprice, array(0.125d, 0.25d, 0.375d, " +
          "0.5d, 0.625d, 0.75d, 0.875d))").as("cs"))
      val bucket = (1 to 7).foldLeft(lit(0)) { (acc, i) =>
        acc + when(col("l_extendedprice") > element_at(col("cs"), i), 1)
          .otherwise(0)
      }
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", bucket)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 4).as("lo"),
          round(max(col("l_extendedprice")), 4).as("hi"))
        .orderBy(col("bucket"))
    },
    oracle = Some("""
      WITH b AS (SELECT quantile_cont(l_extendedprice,
                   [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cs
                 FROM lineitem),
      assigned AS (SELECT l_extendedprice AS v,
          (CASE WHEN l_extendedprice > cs[1] THEN 1 ELSE 0 END +
           CASE WHEN l_extendedprice > cs[2] THEN 1 ELSE 0 END +
           CASE WHEN l_extendedprice > cs[3] THEN 1 ELSE 0 END +
           CASE WHEN l_extendedprice > cs[4] THEN 1 ELSE 0 END +
           CASE WHEN l_extendedprice > cs[5] THEN 1 ELSE 0 END +
           CASE WHEN l_extendedprice > cs[6] THEN 1 ELSE 0 END +
           CASE WHEN l_extendedprice > cs[7] THEN 1 ELSE 0 END) AS bucket
        FROM lineitem, b)
      SELECT bucket, count(*) AS n, round(min(v), 4) AS lo,
             round(max(v), 4) AS hi
      FROM assigned GROUP BY bucket ORDER BY bucket""")
  )

  /** Schema evolution WITHOUT rewrite (the reference's actual ALTER TABLE
    * ADD COLUMN mechanism: a new column FILE appears, old extents serve
    * the default implicitly — ddl ALTER path in writeengine; no data
    * rewrite happens). Parquet's mergeSchema read is the same contract:
    * files written before the column existed read as NULL. Two file
    * generations (pre/post ADD COLUMN) union under the merged schema;
    * the aggregate proves old rows surface with NULL discounts and new
    * rows carry values. */
  val schemaMerge: QueryDef = QueryDef(
    "d_schema_merge",
    (s, dir) => {
      val tmp = scratch("schema_merge")
      val o = t(s, dir, "orders")
      // generation 1: the table before the column existed
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/t/gen=1")
      // generation 2: after ALTER TABLE ADD COLUMN discount_pct
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 10).cast("double").as("discount_pct"))
        .write.mode("overwrite").parquet(s"$tmp/t/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/t")
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("n"),
          count(col("discount_pct")).as("n_with_discount"),
          round(sum(col("o_totalprice")), 4).as("total"),
          round(sum(coalesce(col("discount_pct"), lit(0.0))), 4)
            .as("sum_discount"))
        .orderBy(col("gen"))
    },
    oracle = Some("""
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS gen,
             count(*) AS n,
             CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_with_discount,
             round(sum(o_totalprice), 4) AS total,
             round(sum(CASE WHEN o_orderkey % 2 = 1
                            THEN CAST(o_orderkey % 10 AS DOUBLE)
                            ELSE 0 END), 4) AS sum_discount
      FROM orders GROUP BY 1 ORDER BY gen""")
  )

  /** Type WIDENING across parquet generations — the other half of
    * no-rewrite schema evolution (d_schema_merge covers added columns):
    * a column originally written INT32 is widened to BIGINT in the table
    * schema, and Spark 4's parquet reader up-casts the old generation's
    * INT32 pages into the LongType field at scan time — history is never
    * rewritten (the reference's ALTER path similarly changes column
    * metadata without rewriting existing extents,
    * dbcon/ddlpackageproc/altertableprocessor.cpp). `mergeSchema` alone
    * cannot express this (schema merge rejects INT vs BIGINT), so the
    * table's EVOLVED schema is the read contract — schema-on-read. At
    * 100 TB this is the difference between a metadata ALTER and a
    * full-history rewrite. */
  val typeWidening: QueryDef = QueryDef(
    "d_type_widening",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = scratch("type_widening")
      val o = t(s, dir, "orders")
      val cents = round(col("o_totalprice") * 100, 0)
      // generation 1: amounts stored as INT32 cents
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents.cast("int").as("amount_cents"))
        .write.mode("overwrite").parquet(s"$tmp/t/gen=1")
      // generation 2: after the widening ALTER — BIGINT cents
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents.cast("bigint").as("amount_cents"))
        .write.mode("overwrite").parquet(s"$tmp/t/gen=2")
      val evolved = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("amount_cents", LongType),
        StructField("gen", IntegerType)))
      s.read.schema(evolved).parquet(s"$tmp/t")
        .groupBy(col("o_orderstatus"), col("gen"))
        .agg(count(lit(1)).as("n"),
          sum(col("amount_cents")).as("sum_cents"),
          min(col("amount_cents")).as("min_cents"),
          max(col("amount_cents")).as("max_cents"))
        .orderBy(col("o_orderstatus"), col("gen"))
    },
    oracle = Some("""
      WITH u AS (SELECT o_orderstatus,
                   CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS gen,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT)
                     AS amount_cents
                 FROM orders)
      SELECT o_orderstatus, gen, count(*) AS n,
             CAST(sum(amount_cents) AS BIGINT) AS sum_cents,
             min(amount_cents) AS min_cents, max(amount_cents) AS max_cents
      FROM u GROUP BY o_orderstatus, gen
      ORDER BY o_orderstatus, gen""")
  )

  /** Column compression round-trip (reference: utils/compress/
    * idbcompress.h — column extents compress with snappy chunk headers,
    * decomsvr/ serves decompression): in graft the codec is a pure
    * storage option on the parquet writer. The same lineitem slice
    * writes under snappy, zstd, gzip, and uncompressed; every variant
    * must read back content-identical — count, exact decimal sum, and
    * order-independent md5 min/max checksums over the key+comment
    * columns all match one oracle-computed row. CatalogSpec additionally
    * asserts the compressed variants are genuinely smaller on disk.
    *
    * Scale shape: at 100 TB codec choice is the storage/scan-cost knob
    * (the reference made it a per-column config); the query itself is
    * one slice write per codec + a 4-row summary union. */
  val compressionCodecs: QueryDef = QueryDef(
    "d_compression_codecs",
    (s, dir) => {
      val tmp = scratch("codecs")
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_returnflag"))
      val codecs = Seq("gzip", "none", "snappy", "zstd")
      codecs.foreach { c =>
        li.write.mode("overwrite").option("compression", c)
          .parquet(s"$tmp/$c")
      }
      codecs.map { c =>
        s.read.parquet(s"$tmp/$c").agg(
          lit(c).as("codec"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          min(md5(concat_ws("|", col("l_orderkey"), col("l_partkey"),
            col("l_returnflag")))).as("chk_min"),
          max(md5(concat_ws("|", col("l_orderkey"), col("l_partkey"),
            col("l_returnflag")))).as("chk_max"))
      }.reduce(_ unionAll _).orderBy(col("codec"))
    },
    oracle = Some("""
      WITH base AS (SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
                    FROM lineitem WHERE l_orderkey % 4 = 0),
      agg AS (SELECT count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty,
                min(md5(concat_ws('|', l_orderkey, l_partkey, l_returnflag)))
                  AS chk_min,
                max(md5(concat_ws('|', l_orderkey, l_partkey, l_returnflag)))
                  AS chk_max
              FROM base)
      SELECT c.codec, agg.n, agg.sum_qty, agg.chk_min, agg.chk_max
      FROM (VALUES ('gzip'), ('none'), ('snappy'), ('zstd')) c(codec)
      CROSS JOIN agg ORDER BY c.codec""")
  )

  /** Persisted-view roundtrip (reference: dbcon/mysql/ha_view.cpp — MySQL
    * views resolved through the vtable rewrite survive the connection):
    * CREATE VIEW over a join is stored in the catalog dir, then a FRESH
    * session (isolated temp-view namespace via newSession) re-registers
    * tables + views with Tables.registerAll(spark, dir, catalogRoot) and
    * queries the view by name. The result proves the definition came off
    * disk, not from session state. */
  val viewRoundtrip: QueryDef = QueryDef(
    "d_view_roundtrip",
    (s, dir) => {
      val root = scratch("views")
      val cat = new Catalog(s, root)
      cat.createTableAs("v_nation", t(s, dir, "nation"))
      cat.createTableAs("v_region", t(s, dir, "region"))
      cat.createView("nation_regions", """
        SELECT r.r_name AS region, count(*) AS n_nations,
               min(n.n_name) AS first_nation
        FROM v_nation n JOIN v_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name""")
      // a fresh session: same SparkContext, EMPTY temp-view namespace —
      // the view must resolve from the persisted definition alone
      val s2 = s.newSession()
      graft.Tables.registerAll(s2, dir, root)
      s2.sql(
        "SELECT region, n_nations, first_nation FROM nation_regions " +
          "ORDER BY region")
    },
    oracle = Some("""
      SELECT r.r_name AS region, count(*) AS n_nations,
             min(n.n_name) AS first_nation
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name ORDER BY region""")
  )

  /** INSERT … ON DUPLICATE KEY UPDATE (MySQL upsert; reference: the DML
    * path routes ON DUPLICATE KEY through the same insert/update package
    * processors, dml/insertdmlpackage.cpp). Every 10th customer is
    * "re-loaded" with a zeroed balance and an UPSERTED segment (key
    * collision → row replaced); a shifted copy of the %10==3 customers
    * arrives under fresh keys (→ appended). The oracle rebuilds the
    * final state from the immutable source with CASE + UNION ALL. */
  val mergeUpsert: QueryDef = QueryDef(
    "d_merge_upsert",
    (s, dir) => {
      val cat = new Catalog(s, scratch("upsert"))
      val cust = t(s, dir, "customer")
      cat.createTableAs("cust", cust)
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", lit(0.0))
        .withColumn("c_mktsegment", lit("UPSERTED"))
      val inserts = cust.filter(col("c_custkey") % 10 === 3)
        .withColumn("c_custkey", col("c_custkey") + 1000000)
      cat.upsert("cust", updates.unionByName(inserts), Seq("c_custkey"))
      cat.table("cust")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("bal"))
        .orderBy(col("c_mktsegment"))
    },
    oracle = Some("""
      WITH final AS (
        SELECT CASE WHEN c_custkey % 10 = 0 THEN 'UPSERTED'
                    ELSE c_mktsegment END AS c_mktsegment,
               CASE WHEN c_custkey % 10 = 0 THEN 0.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer
        UNION ALL
        SELECT c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey % 10 = 3)
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM final GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  /** Transaction ROLLBACK analog over the MVCC catalog (reference: DML
    * rollback re-applies version-buffer undo images, versioning/BRM/
    * dbrm.h:163-192): a failed "transaction" of two mutations is undone
    * by restoring the pre-transaction snapshot. The final table must be
    * byte-identical to the untouched source, and the version chain must
    * show all three retained pre-images (update, delete, rollback) —
    * the abort leaves an audit trail, exactly like the reference's
    * version buffer before VSS aging. */
  val txnRollback: QueryDef = QueryDef(
    "d_txn_rollback",
    (s, dir) => {
      val cat = new Catalog(s, scratch("txn"))
      cat.createTableAs("cust", t(s, dir, "customer"))
      // the doomed transaction: a mistaken bulk UPDATE…
      cat.update("cust", df =>
        df.withColumn("c_acctbal", col("c_acctbal") * 2))
      // …then a DELETE on the corrupted balances
      cat.delete("cust", _.filter(col("c_acctbal") >= 0))
      // ROLLBACK: restore the pre-transaction pre-image (v0)
      cat.rollbackTo("cust", 0)
      val nVersions = cat.versions("cust").size
      cat.table("cust")
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 4).as("total_bal"),
          round(min(col("c_acctbal")), 4).as("min_bal"))
        .withColumn("n_versions", lit(nVersions))
    },
    oracle = Some("""
      SELECT count(*) AS n, round(sum(c_acctbal), 4) AS total_bal,
             round(min(c_acctbal), 4) AS min_bal, 3 AS n_versions
      FROM customer""")
  )

  /** ORC round-trip: the second columnar interchange format the loader
    * supports alongside parquet (reference ships its own column files,
    * writeengine/wrapper/we_colop.cpp; on Spark both formats are
    * first-class sources with pushdown + pruning, so "support ORC" is a
    * write/read contract, not a new engine). Write a pruned projection,
    * read it back, aggregate — values must match the parquet source
    * exactly. */
  val orcRoundtrip: QueryDef = QueryDef(
    "d_orc_roundtrip",
    (s, dir) => {
      val tmp = scratch("orc_rt")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01"))
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .write.mode("overwrite").orc(s"$tmp/li_orc")
      s.read.orc(s"$tmp/li_orc")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("qty"),
          round(sum(col("l_extendedprice")), 4).as("revenue"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      SELECT l_returnflag, count(*) AS n,
             round(sum(l_quantity), 4) AS qty,
             round(sum(l_extendedprice), 4) AS revenue
      FROM lineitem WHERE l_shipdate >= '1998-01-01'
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Dynamic partition overwrite — the partition-granular reload the
    * reference runs as "drop partition + cpimport the corrected extent"
    * (ha_calpont_partition's drop + a re-load): an INSERT OVERWRITE whose
    * mode("overwrite") replaces ONLY the partitions present in the
    * incoming batch, leaving every other partition's files untouched.
    * Here the 1997 partition is rewritten with corrected prices (+10%
    * surcharge); the readback proves 1997 changed and every other year
    * survived byte-identical.
    *
    * Scale shape: the write's file I/O is proportional to the REPLACED
    * partitions, not the table — the static-overwrite alternative
    * (truncate + full rewrite) is the 100 TB anti-pattern this mode
    * exists to avoid. The batch itself is a pushed-down partition-pruned
    * scan of the source year. */
  val dynamicPartitionOverwrite: QueryDef = QueryDef(
    "d_dynamic_partition_overwrite",
    (s, dir) => {
      val tmp = scratch("dynoverwrite")
      val part = Tables.table(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      part.write.partitionBy("o_year").mode("overwrite")
        .parquet(s"$tmp/orders_part")
      // corrected 1997 batch: the audit keeps only finalized ('F') orders
      // — a partition-granular data correction, no new values invented
      part.filter(col("o_year") === 1997 && col("o_orderstatus") === "F")
        .write.partitionBy("o_year").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$tmp/orders_part")
      s.read.parquet(s"$tmp/orders_part")
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
        .orderBy(col("o_year"))
    },
    oracle = Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, count(*) AS n,
             sum(o_totalprice) AS total
      FROM orders
      WHERE year(o_orderdate) <> 1997 OR o_orderstatus = 'F'
      GROUP BY 1 ORDER BY 1""")
  )

  /** Write-Audit-Publish — the staged-commit discipline a production lake
    * pipeline wraps around every bulk load (the reference's cpimport +
    * post-load consistency check, done as a protocol): each batch writes
    * to a STAGING path, an audit runs expectations against the staged
    * files (PK uniqueness, price bounds), and only a clean batch is
    * atomically moved into the published location — readers never see
    * unaudited rows. Batch 1 is clean and publishes; batch 2 carries
    * planted duplicate keys and must be rejected with its staging intact.
    *
    * Scale shape: the audit is a pushed-down scan + two-phase agg over
    * the staged batch only (never the published table); publish is a
    * metadata move (the atomic-commit analog), so WAP adds one batch
    * re-scan, not a table rewrite. The driver-side decision state is
    * three longs per batch. */
  val wapPublish: QueryDef = QueryDef(
    "d_wap_publish",
    (s, dir) => {
      import s.implicits._
      val tmp = scratch("wap")
      val orders = Tables.table(s, dir, "orders")
      val b1 = orders.filter(col("o_orderkey") % 3 === 0)
      val s2 = orders.filter(col("o_orderkey") % 3 === 1)
      val b2 = s2.unionAll(s2.filter(col("o_orderkey") % 100 === 1))
      val results = Seq((1, b1), (2, b2)).map { case (bid, batch) =>
        val staging = s"$tmp/staging_b$bid"
        batch.write.mode("overwrite").parquet(staging)
        val staged = s.read.parquet(staging)
        val nRows = staged.count()
        val nDupKeys = staged.groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
        val nBadPrice = staged.filter(col("o_totalprice") <= 0).count()
        val pass = nDupKeys == 0 && nBadPrice == 0
        val published = s"$tmp/published_b$bid"
        if (pass)
          java.nio.file.Files.move(java.nio.file.Paths.get(staging),
            java.nio.file.Paths.get(published))
        val publishedRows =
          if (pass) s.read.parquet(published).count() else 0L
        (bid, nRows, nDupKeys, nBadPrice, pass, publishedRows)
      }
      results.toDF("batch", "n_rows", "n_dup_keys", "n_bad_price",
        "published", "published_rows").orderBy(col("batch"))
    },
    oracle = Some("""
      WITH b1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
      s2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 1),
      b2 AS (SELECT * FROM s2
             UNION ALL SELECT * FROM s2 WHERE o_orderkey % 100 = 1),
      a1 AS (SELECT 1 AS batch, (SELECT count(*) FROM b1) AS n_rows,
               (SELECT count(*) FROM (SELECT o_orderkey FROM b1
                  GROUP BY 1 HAVING count(*) > 1)) AS n_dup_keys,
               (SELECT count(*) FROM b1 WHERE o_totalprice <= 0)
                 AS n_bad_price),
      a2 AS (SELECT 2 AS batch, (SELECT count(*) FROM b2) AS n_rows,
               (SELECT count(*) FROM (SELECT o_orderkey FROM b2
                  GROUP BY 1 HAVING count(*) > 1)) AS n_dup_keys,
               (SELECT count(*) FROM b2 WHERE o_totalprice <= 0)
                 AS n_bad_price),
      a AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
      SELECT batch, n_rows, n_dup_keys, n_bad_price,
             n_dup_keys = 0 AND n_bad_price = 0 AS published,
             CASE WHEN n_dup_keys = 0 AND n_bad_price = 0
                  THEN n_rows ELSE 0 END AS published_rows
      FROM a ORDER BY batch""")
  )

  /** Column-masking view — row/column-level governance over the persisted
    * view surface (the MySQL-view counterpart of x_text_pii's redaction
    * kernel): the raw table carries planted PII (emails, phone numbers);
    * consumers get a CATALOG VIEW whose definition applies the redaction
    * regexes, so no query through the governed surface can see a raw
    * identifier. The readback queries the view from a FRESH session (the
    * definition must resolve from the persisted catalog alone) and
    * reports per-language doc counts, redacted-text volume, and a leak
    * counter that the redaction guarantees to be zero — checked by the
    * oracle, not asserted.
    *
    * Scale shape: the view adds two codegen'd regexp_replace maps to the
    * scan — no extra shuffle, no copy of the corpus; governance by
    * rewrite, exactly how the reference's vtable views work. */
  val maskedView: QueryDef = QueryDef(
    "d_masked_view",
    (s, dir) => {
      val root = scratch("maskedview")
      val cat = new Catalog(s, root)
      val raw = Tables.table(s, dir, "documents")
        .withColumn("text", concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
      cat.createTableAs("docs_raw", raw)
      cat.createView("docs_masked", """
        SELECT doc_id, lang, source,
               regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>'),
                 '\\+1-555-[0-9]{4}', '<PHONE>') AS text
        FROM docs_raw""")
      val s2 = s.newSession()
      graft.Tables.registerAll(s2, dir, root)
      s2.sql("""
        SELECT lang, count(*) AS n_docs,
               sum(length(text)) AS sum_red_len,
               sum(CASE WHEN text LIKE '%@example.com%' THEN 1 ELSE 0 END)
                 AS n_leaks,
               sum(CASE WHEN text LIKE '%<EMAIL>%' THEN 1 ELSE 0 END)
                 AS n_masked
        FROM docs_masked GROUP BY lang ORDER BY lang""")
    },
    oracle = Some("""
      WITH a AS (SELECT doc_id, lang,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     AS text
                 FROM documents),
      r AS (SELECT doc_id, lang,
              regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g'),
                '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS text
            FROM a)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(length(text)) AS BIGINT) AS sum_red_len,
             CAST(sum(CASE WHEN text LIKE '%@example.com%' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_leaks,
             CAST(sum(CASE WHEN text LIKE '%<EMAIL>%' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_masked
      FROM r GROUP BY lang ORDER BY lang""")
  )

  /** CHECK / NOT NULL constraint enforcement on the DML insert path —
    * the cpimport reject contract (d_loader_rejects) applied to
    * catalog-table DML: an insert batch carries planted violations
    * (negative-beyond-floor balances, NULL names), the valid rows
    * append, the violating rows are rejected and counted per rule, and
    * the readback proves the table absorbed exactly the clean rows.
    * At 100 TB constraint checks are per-row scan predicates (codegen'd,
    * no shuffle) evaluated before the append write — reject accounting
    * is a two-phase count.
    */
  val checkConstraints: QueryDef = QueryDef(
    "d_check_constraints",
    (s, dir) => {
      import s.implicits._
      val cat = new Catalog(s, scratch("checkcons"))
      val cust = Tables.table(s, dir, "customer")
      cat.createTableAs("cust_c", cust.filter(col("c_custkey") % 2 === 0))
      // batch: odd keys, with planted violations
      val batch = cust.filter(col("c_custkey") % 2 === 1)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 1, lit(-99999.0))
            .otherwise(col("c_acctbal")))
        .withColumn("c_name",
          when(col("c_custkey") % 13 === 3, lit(null).cast("string"))
            .otherwise(col("c_name")))
      val violCheck = col("c_acctbal") < -1000.0
      val violNull = col("c_name").isNull
      val nCheck = batch.filter(violCheck).count()
      val nNull = batch.filter(!violCheck && violNull).count()
      val valid = batch.filter(!violCheck && !violNull)
      val nValid = valid.count()
      cat.insertIntoSelect("cust_c", valid)
      val after = cat.table("cust_c").count()
      Seq((nCheck, nNull, nValid, after))
        .toDF("n_rejected_check", "n_rejected_null", "n_appended",
          "table_rows_after")
    },
    oracle = Some("""
      WITH batch AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 1 THEN -99999.0
                    ELSE c_acctbal END AS bal,
               CASE WHEN c_custkey % 13 = 3 THEN NULL
                    ELSE c_name END AS name
        FROM customer WHERE c_custkey % 2 = 1),
      f AS (SELECT bal < -1000.0 AS vc, name IS NULL AS vn FROM batch)
      SELECT
        CAST(sum(CASE WHEN vc THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rejected_check,
        CAST(sum(CASE WHEN NOT vc AND vn THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rejected_null,
        CAST(sum(CASE WHEN NOT vc AND NOT vn THEN 1 ELSE 0 END) AS BIGINT)
          AS n_appended,
        (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
          + CAST(sum(CASE WHEN NOT vc AND NOT vn THEN 1 ELSE 0 END)
              AS BIGINT) AS table_rows_after
      FROM f""")
  )

  /** AUTO_INCREMENT column — the BRM-owned id sequence (reference:
    * writeengine/shared/we_brm.h:62 startAutoIncrementSequence / :75
    * getAutoIncrementRange; dbcon/ddlpackage/ddlpkg.h:195 the
    * "auto_increment" column attribute). Every insert reserves a
    * contiguous range under the table lock and assigns ids densely in
    * batch order via the partitioned prefix-scan; deletes never recycle
    * ids, and ALTER…AUTO_INCREMENT=n only moves the sequence FORWARD
    * (MySQL semantics — a backward set is a no-op).
    *
    * Scenario: two ordered inserts, a delete (ids %3=0 vanish, no
    * reuse), a backward set (no-op), a forward jump to 1000 (clamped by
    * greatest with the current next, so the query is scale-robust), a
    * third insert from the jumped sequence. Per-source id-range summary
    * plus the persisted next value; the oracle re-derives every range
    * with row_number arithmetic. */
  val autoIncrement: QueryDef = QueryDef(
    "d_autoincrement",
    (s, dir) => {
      val cat = new Catalog(s, scratch("autoinc"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      def slice(k: Int, tag: String) =
        cust.filter(pmod(col("c_custkey"), lit(4)) === k)
          .withColumn("src", lit(tag))
      cat.createTableAs("reg",
        slice(1, "b1").limit(0).withColumn("id", lit(0L))
          .select("id", "src", "c_custkey", "c_acctbal"))
      cat.insertAutoInc("reg", "id", slice(1, "b1"), Seq(col("c_custkey")))
      cat.insertAutoInc("reg", "id", slice(2, "b2"), Seq(col("c_custkey")))
      // deletes do NOT recycle ids
      cat.delete("reg", _.filter(pmod(col("id"), lit(3)) =!= 0))
      cat.setAutoIncStart("reg", "id", 10)   // backward → no-op
      cat.setAutoIncStart("reg", "id", 1000) // forward jump (or clamp)
      cat.insertAutoInc("reg", "id", slice(3, "b3"), Seq(col("c_custkey")))
      val seqNext = cat.autoIncNext("reg", "id")
      cat.table("reg")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"), sum(col("id")).as("sum_id"),
          countDistinct(col("id")).as("n_ids"))
        .withColumn("seq_next", lit(seqNext))
        .orderBy(col("src"))
    },
    oracle = Some("""
      WITH b1 AS (SELECT c_custkey FROM customer WHERE c_custkey % 4 = 1),
      b2 AS (SELECT c_custkey FROM customer WHERE c_custkey % 4 = 2),
      b3 AS (SELECT c_custkey FROM customer WHERE c_custkey % 4 = 3),
      ids12 AS (
        SELECT 'b1' AS src,
               row_number() OVER (ORDER BY c_custkey) AS id FROM b1
        UNION ALL
        SELECT 'b2' AS src,
               (SELECT count(*) FROM b1)
                 + row_number() OVER (ORDER BY c_custkey) AS id FROM b2),
      start3 AS (SELECT greatest(1000,
                   (SELECT count(*) FROM b1) + (SELECT count(*) FROM b2)
                     + 1) AS v),
      final AS (
        SELECT src, id FROM ids12 WHERE id % 3 <> 0
        UNION ALL
        SELECT 'b3' AS src,
               (SELECT v FROM start3) - 1
                 + row_number() OVER (ORDER BY c_custkey) AS id FROM b3)
      SELECT src, count(*) AS n, min(id) AS min_id, max(id) AS max_id,
             CAST(sum(id) AS BIGINT) AS sum_id,
             count(DISTINCT id) AS n_ids,
             (SELECT v FROM start3) + (SELECT count(*) FROM b3) AS seq_next
      FROM final GROUP BY src ORDER BY src""")
  )

  /** Per-step query trace — the calsettrace/calgettrace analog
    * (reference: dbcon/mysql/ha_calpont_impl.cpp:2197 calgettrace;
    * dbcon/joblist/tuple-bps.cpp:2318 per-step Rows-/BlocksTouched
    * lines). Runs a representative scan→filter→aggregate→sort job with
    * the static planner (the reference's exemgr never replans) and
    * returns the executed step list with each step's delivered-row
    * metric where that count is a semantic property of the query —
    * which makes the plan SHAPE itself oracle-checked: a planner
    * regression that adds, drops, or reorders a step breaks this row in
    * the correctness gate, not just a bench number. */
  /** viewtablelock analog (reference: tools/viewtablelock/
    * viewtablelock.cpp — prints table and owner PID per BRM table lock).
    * The scenario walks the lock lifecycle in a scratch catalog and
    * observes it through `TableLocks.list`: a live DML holder lists as
    * held by this process; a committed DML leaves the table unheld; and
    * a crashed writer's leftover stamp file (a pid no process can have)
    * is not a hold at all, because the kernel dropped the lock with its
    * process, so there is nothing for a cleartablelock to clear. Every
    * observation is a deterministic boolean, so the oracle is exact
    * constants — the check is that the LOCK produces these answers, not
    * that constants equal constants. */
  val viewTableLocks: QueryDef = QueryDef(
    "d_view_table_locks",
    (s, dir) => {
      import s.implicits._
      import graft.sources.TableLocks
      val root = scratch("viewlocks")
      val tbl = "orders_load"
      val self = ProcessHandle.current().pid()
      def phase(n: Int, event: String) = {
        val held = TableLocks.list(root).filter(_.table == tbl)
        (n, event, tbl, held.nonEmpty, held.exists(_.pid == self))
      }
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Boolean, Boolean)]
      TableLocks.withLock(root, tbl) { rows += phase(1, "during_dml") }
      rows += phase(2, "after_commit")
      // a crashed writer: its stamp stays, its kernel lock does not
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "_locks", s"$tbl.lock"),
        "999999999\n")
      rows += phase(3, "crashed_writer")
      rows.toSeq.toDF("phase", "event", "table_name", "held",
        "held_by_self").orderBy(col("phase"))
    },
    oracle = Some("""
      SELECT * FROM (VALUES
        (1, 'during_dml',     'orders_load', true,  true),
        (2, 'after_commit',   'orders_load', false, false),
        (3, 'crashed_writer', 'orders_load', false, false)
      ) AS t(phase, event, table_name, held, held_by_self)
      ORDER BY phase""")
  )

  /** Persisted query-history stats (reference: utils/querystats/
    * querystats.h — per-query wall/rows/session accumulated into a
    * stats table; scenario tblTestStats.sql reads it back). Records
    * two runs each of three queries into a scratch `query_history`
    * catalog table — the second batch through a FRESH catalog
    * instance, proving the history persists across sessions — then
    * answers the operator questions the table exists for: how many
    * runs, how many rows, did the plan stay stable, were the
    * measurements sane. Row counts and plan-stability are exact
    * (QueryStats.planHash is deterministic for a fixed query over a
    * fixed schema), so the oracle pins them from the source tables; walls
    * and timestamps are nondeterministic and collapse to sanity
    * booleans. */
  val queryStats: QueryDef = QueryDef(
    "d_query_stats",
    (s, dir) => {
      import graft.plans.QueryStats
      val root = scratch("qstats")
      def queries: Seq[(String, DataFrame)] = Seq(
        "nation_rows" -> t(s, dir, "nation"),
        "orders_by_status" -> t(s, dir, "orders")
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")),
        "region_rollup" -> t(s, dir, "region")
          .agg(count(lit(1)).as("n")))
      QueryStats.append(s, root, "run1",
        queries.map { case (n, df) => QueryStats.timed(n, df) })
      // batch 2 rides a fresh catalog attach — history is durable state
      QueryStats.append(s, root, "run2",
        queries.map { case (n, df) => QueryStats.timed(n, df) })
      QueryStats.history(s, root)
        .groupBy(col("query"))
        .agg(count(lit(1)).as("runs"),
          min(col("rows")).as("rows"),
          (min(col("rows")) === max(col("rows"))).as("rows_stable"),
          countDistinct(col("plan_hash")).as("plans"),
          (min(col("wall_ms")) > lit(0.0)).as("wall_ok"),
          (min(col("ts")) > lit(0L) &&
            countDistinct(col("run_id")) === lit(2)).as("runs_distinct"))
        .orderBy(col("query"))
    },
    oracle = Some("""
      SELECT * FROM (VALUES
        ('nation_rows', CAST(2 AS BIGINT),
          (SELECT count(*) FROM nation), true, CAST(1 AS BIGINT),
          true, true),
        ('orders_by_status', CAST(2 AS BIGINT),
          (SELECT count(DISTINCT o_orderstatus) FROM orders), true,
          CAST(1 AS BIGINT), true, true),
        ('region_rollup', CAST(2 AS BIGINT), CAST(1 AS BIGINT), true,
          CAST(1 AS BIGINT), true, true)
      ) AS t(query, runs, rows, rows_stable, plans, wall_ok,
             runs_distinct)
      ORDER BY query""")
  )

  /** Regression tripwire over the persisted query history — what the
    * history table exists FOR (reference: utils/querystats/querystats.h
    * accumulates per-query stats; the perf scenario harness reads them
    * back via tblTestStats.sql to compare runs). Builds a deterministic
    * four-run history for three queries — one stable, one whose latest
    * wall blows past 3× its trailing same-plan median, one whose plan
    * changed under it — using REAL plan hashes (QueryStats.planHash of
    * real plans over the source tables; their equality/inequality is the
    * deterministic signal) and crafted walls/timestamps (walls are the
    * INPUT here; the detection logic is what's under test), then
    * asserts QueryStats.regressions flags exactly the two bad rows.
    * The same detector runs live in Bench over bench_history
    * (`regressions` field in the artifact of record). */
  val queryRegression: QueryDef = QueryDef(
    "d_query_regression",
    (s, dir) => {
      import graft.plans.QueryStats
      val root = scratch("qreg")
      val planStable = QueryStats.planHash(t(s, dir, "orders")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
      val planNation = QueryStats.planHash(t(s, dir, "nation"))
      val planRegionA = QueryStats.planHash(t(s, dir, "region"))
      val planRegionB = QueryStats.planHash(
        t(s, dir, "region").filter(col("r_regionkey") >= 0))
      def batch(runId: String, ts: Long,
          entries: (String, Double, String)*): Unit =
        QueryStats.append(s, root, runId, entries.map { case (q, w, p) =>
          QueryStats.Entry(q, w, -1L, ts, p) })
      batch("run1", 1000L, ("stable_orders", 50.0, planStable),
        ("regressed_nation", 10.0, planNation),
        ("churn_region", 20.0, planRegionA))
      batch("run2", 2000L, ("stable_orders", 52.0, planStable),
        ("regressed_nation", 12.0, planNation),
        ("churn_region", 20.0, planRegionA))
      batch("run3", 3000L, ("stable_orders", 51.0, planStable),
        ("regressed_nation", 11.0, planNation),
        ("churn_region", 20.0, planRegionA))
      batch("run4", 4000L, ("stable_orders", 54.0, planStable),
        ("regressed_nation", 99.0, planNation),
        ("churn_region", 20.0, planRegionB))
      QueryStats.regressions(QueryStats.history(s, root))
        .orderBy(col("query"))
    },
    oracle = Some("""
      SELECT * FROM (VALUES
        ('churn_region', 'plan_change', CAST(20.0 AS DOUBLE),
          CAST(NULL AS DOUBLE)),
        ('regressed_nation', 'wall_regression', CAST(99.0 AS DOUBLE),
          CAST(11.0 AS DOUBLE))
      ) AS t(query, kind, latest_wall_ms, trailing_median_ms)
      ORDER BY query""")
  )

  /** Operator-visible incident log, read side (reference analog:
    * loggingcpp persists crit/warning rows queryably, not only to
    * stderr). No production path records an incident any more (its
    * two kinds, `lock_restore_lost` and `torn_listing`, came from
    * mechanisms since replaced), so this row gates the log as a format:
    * the persisted lines and the read surface — O_APPEND lines parse back
    * in order with fields intact, and a torn half-line from a crashed
    * recorder is skipped rather than poisoning the whole log. */
  val incidentsLog: QueryDef = QueryDef(
    "d_incidents",
    (s, dir) => {
      import graft.sources.Incidents
      val root = scratch("incidents")
      Incidents.record(root, "torn_listing", "orders_load",
        "generation bracket exhausted after 20 attempts")
      Incidents.record(root, "lock_restore_lost", "orders_load",
        "displaced stamp preserved at .grave_x")
      // a crashed recorder's torn half-line must not poison the log
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "_incidents", "log"), "123 45\n",
        java.nio.file.StandardOpenOption.APPEND)
      Incidents.record(root, "torn_listing", "lineitem_load",
        "second exhaustion")
      new Catalog(s, root).incidents
        .select(col("kind"), col("table_name"), col("detail"),
          (col("ts") > lit(0L)).as("ts_ok"),
          (col("pid") > lit(0L)).as("pid_ok"))
        .orderBy(col("kind"), col("table_name"), col("detail"))
    },
    oracle = Some("""
      SELECT * FROM (VALUES
        ('lock_restore_lost', 'orders_load',
          'displaced stamp preserved at .grave_x', true, true),
        ('torn_listing', 'lineitem_load', 'second exhaustion',
          true, true),
        ('torn_listing', 'orders_load',
          'generation bracket exhausted after 20 attempts', true, true)
      ) AS t(kind, table_name, detail, ts_ok, pid_ok)
      ORDER BY kind, table_name, detail""")
  )

  val queryTrace: QueryDef = QueryDef(
    "d_query_trace",
    (s, dir) => {
      val aggJob = graft.plans.QueryTrace.trace(s,
          t(s, dir, "lineitem")
            .filter(col("l_shipdate") >= lit("1995-01-01") &&
              col("l_shipdate") < lit("1997-01-01"))
            .groupBy(col("l_returnflag"), col("l_linestatus"))
            .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty")))
        .withColumn("job", lit("agg"))
      val joinJob = graft.plans.QueryTrace.trace(s, {
          val o = t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1997-01-01"))
            .select(col("o_orderkey"), col("o_orderpriority"))
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_extendedprice"))
            .join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
            .orderBy(col("l_extendedprice").desc, col("l_orderkey"))
            .limit(5)
        })
        .withColumn("job", lit("join_topk"))
      aggJob.unionByName(joinJob)
        .select(col("job"), col("step_no"), col("step"),
          col("rows_oracle").as("rows_out"))
        .orderBy(col("job"), col("step_no"))
    },
    oracle = Some("""
      WITH fa AS (SELECT count(*) AS n FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
      ga AS (SELECT count(*) AS n FROM
               (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')),
      fb AS (SELECT count(*) AS n FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
      lb AS (SELECT count(*) AS n FROM lineitem
             WHERE l_orderkey IS NOT NULL),
      jb AS (SELECT count(*) AS n FROM lineitem l JOIN orders o
               ON l.l_orderkey = o.o_orderkey
             WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
      SELECT * FROM (VALUES
        ('agg',       1, 'scan',        CAST(NULL AS BIGINT)),
        ('agg',       2, 'filter',      (SELECT n FROM fa)),
        ('agg',       3, 'agg_partial', CAST(NULL AS BIGINT)),
        ('agg',       4, 'exchange',    CAST(NULL AS BIGINT)),
        ('agg',       5, 'agg_final',   (SELECT n FROM ga)),
        ('join_topk', 1, 'scan',        CAST(NULL AS BIGINT)),
        ('join_topk', 2, 'filter',      (SELECT n FROM fb)),
        ('join_topk', 3, 'broadcast',   (SELECT n FROM fb)),
        ('join_topk', 4, 'scan',        CAST(NULL AS BIGINT)),
        ('join_topk', 5, 'filter',      (SELECT n FROM lb)),
        ('join_topk', 6, 'join',        (SELECT n FROM jb)),
        ('join_topk', 7, 'topk',        CAST(NULL AS BIGINT))
      ) AS t(job, step_no, step, rows_out) ORDER BY job, step_no""")
  )

  def defs: Seq[QueryDef] = Seq(ctasRoundtrip, insertIntoSelect, updateDelete,
    alterTable, csvRoundtrip, jsonlRoundtrip, loaderRejects, crossEngine,
    bucketedJoin,
    partitionedWrite, showPartitions, dropPartition, tableStats,
    viewRoundtrip, mergeUpsert, timeTravel, zorderLayout,
    matviewIncremental, compaction, txnRollback, orcRoundtrip,
    analyzeHistogram, schemaMerge, typeWidening, dmlJoin,
    dynamicPartitionOverwrite,
    wapPublish, maskedView, checkConstraints, compressionCodecs,
    autoIncrement, queryTrace, viewTableLocks, queryStats,
    queryRegression, incidentsLog)
}
