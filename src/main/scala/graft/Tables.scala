package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-generated parquet testdata.
  *
  * Plays the role of the reference's `CalpontSystemCatalog`
  * (reference: dbcon/execplan/calpontsystemcatalog.h:107 — schema.table.column
  * → object IDs → column files). Here a table is simply a parquet path; the
  * columnar layout, dictionary encoding, and min/max block statistics the
  * reference implements by hand (blocksize.h:25, extentmap.h:99) come free
  * from the Parquet format + Spark's vectorized reader.
  *
  * At 100 TB the same code holds: `spark.read.parquet` scales to any number
  * of files/partitions; scan parallelism is governed by
  * `spark.sql.files.maxPartitionBytes`, and partition/row-group pruning is
  * automatic once filters are pushed (verified in PlanSpec).
  */
object Tables {
  val starSchema: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extension: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = starSchema ++ extension

  private val tuned = java.util.Collections.synchronizedSet(
    new java.util.HashSet[org.apache.spark.sql.SparkSession]())

  /** Entries in Spark's generated-class cache. One `power_stream` pass
    * (TPC-H q01-q22 plus the classifier) cycles through ~350 generated
    * classes; at Spark's default of 100 every lookup missed, so each run
    * Janino-compiled every class again on the driver. ~3x that working set. */
  private val codegenCacheEntries = 1000

  /** Session defaults we care about regardless of how the driver built the
    * session. Idempotent; applied once per session (table() calls this on
    * every read). All settings are runtime confs except the generated-class
    * cache size: a static conf that Spark reads once per JVM, when it first
    * generates code, so it takes effect only if `tune` runs before the JVM's
    * first codegen. Bench, Verify, Sql, Explain, Profile and the tests'
    * SparkSpec call `tune` right after `getOrCreate()`, before any query. */
  def tune(spark: SparkSession): Unit = {
    if (!tuned.add(spark)) return
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
    // rejects; read as long and convert (see table()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // every unpersist of a localCheckpoint barrier's RDD logs an
    // expected "was locally checkpointed … cannot be recomputed after
    // unpersisting" WARN: hundreds of lines of noise per run
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    plans.GraftExtensions.registerAll(spark)
  }

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Scale-adaptive compute spread. The bench tables are single-file,
    * single-row-group parquet, so every scan is ONE task no matter how
    * many cores the session has — and any per-row compute pipelined
    * into the scan stage (wide aggregate updates, tokenize+hash maps)
    * runs serially on a 32-core machine. When the plan's input arrives
    * in fewer splits than the session's parallelism, hash-repartition
    * on the given key so the downstream compute uses every core
    * (deterministic under task retry, unlike round-robin; guide §2.5
    * "one huge unsplittable file → repartition immediately after the
    * read"). At production scale a real table yields ≥ cores splits
    * (files ≫ maxPartitionBytes) and this is the identity — the extra
    * exchange exists only in exactly the under-split regime where it
    * pays for itself. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // r16 (VERDICT r15 #8): df.rdd.getNumPartitions forced a full
    // physical-planning + whole-stage-codegen pass of the subtree on
    // the driver PER CALL, at query-construction time. For the
    // scan-shaped inputs spread is used on, the split count is
    // estimable from the (already-listed, cached) FileIndex without
    // planning; anything non-scan-shaped falls back to the exact
    // physical count. The callers' keys must stay high-cardinality
    // (doc_id, l_orderkey …) — a low-cardinality key would make the
    // explicit repartition itself skewed (guide §2.5).
    val splits = scanSplits(df).getOrElse(df.rdd.getNumPartitions)
    if (splits < target) df.repartition(target, key) else df
  }

  /** Estimated scan split count for a SCAN-SHAPED plan (narrow per-row
    * ops — Project/Filter/Generate — over one file-source leaf), from
    * the FileIndex the relation already holds. Replicates Spark's
    * FilePartition packing arithmetic (maxSplitBytes =
    * min(maxPartitionBytes, max(openCost, bytesPerCore)); files are
    * charged openCost and bin-packed), which is exact enough for the
    * one decision spread makes — "fewer splits than cores?" — at both
    * ends of the regime (single bench file → ~1–2; production corpus →
    * ≫ cores). None = not scan-shaped (e.g. an explicit repartition or
    * a shuffle below): the caller uses the exact physical count. */
  private def scanSplits(df: DataFrame): Option[Int] = try {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate,
      LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val ss = df.sparkSession
    def walk(p: LogicalPlan): Option[Int] = p match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          val conf = ss.sessionState.conf
          val openCost = conf.filesOpenCostInBytes
          val minPart = conf.filesMinPartitionNum
            .getOrElse(ss.sparkContext.defaultParallelism)
          val nFiles = fs.location.inputFiles.length
          val total = fs.location.sizeInBytes + nFiles * openCost
          val maxSplit = math.min(conf.filesMaxPartitionBytes,
            math.max(openCost, total / math.max(1, minPart)))
          Some(math.max(1, math.ceil(total.toDouble /
            math.max(1L, maxSplit)).toInt))
        case _ => None
      }
      case _: Project | _: Filter | _: Generate => walk(p.children.head)
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan)
  } catch { case _: Throwable => None }

  /** Inferred schema per table path, cached while the directory's
    * fingerprint holds — the CalpontSystemCatalog caching analog (the
    * reference resolves schema.table.column through an in-memory catalog
    * per statement, calpontsystemcatalog.h:107; it does not re-read
    * storage metadata). Without this, EVERY DataFrame construction runs
    * a footer-reading schema-inference job per table (50–150 ms each,
    * k tables per query) — round 8's switch to end-to-end timing
    * surfaced that as a uniform ~2× construction tax on the TPC-H
    * headline. Entries carry the fingerprint they were cached under, so
    * a directory REWRITTEN at the same path (new files, new schema) is
    * detected and re-read instead of served stale — the immutability
    * assumption is enforced, not just documented. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap
      .empty[String, (String, org.apache.spark.sql.types.StructType)]

  /** Cheap change detector for a parquet table path — a DIRECTORY of
    * part-files or (the driver-generated testdata layout) a single
    * plain parquet FILE. Dir: mtime + entry count + total length of the
    * top-level listing (an overwrite replaces part-files, an append
    * adds files, a swap replaces the dir — each changes a component).
    * File: mtime + size. One or two stats + at most one readdir;
    * microseconds against the 50–150 ms footer job it guards.
    *
    * The fallback for an unreadable path must be a CONSTANT: round 9's
    * first cut returned a nanoTime-salted value from the catch block —
    * and since the testdata tables are single FILES, Files.list threw
    * NotADirectoryException on every call, every fingerprint was
    * unique, the cache never hit once, and every query construction
    * silently re-ran schema inference + a fresh file listing (a
    * uniform ~1.5× tax on the whole headline that looked exactly like
    * machine co-load; caught by an r8-vs-r9 same-machine bisect). */
  private def fingerprint(p: String): String =
    try {
      val path = java.nio.file.Paths.get(p)
      val mtime = java.nio.file.Files.getLastModifiedTime(path).toMillis
      if (!java.nio.file.Files.isDirectory(path))
        s"$mtime#f#${java.nio.file.Files.size(path)}"
      else {
        var n = 0L
        var bytes = 0L
        scala.util.Using.resource(java.nio.file.Files.list(path)) { st =>
          val it = st.iterator()
          while (it.hasNext) {
            val f = it.next()
            n += 1
            bytes += (try java.nio.file.Files.size(f)
                      catch { case _: Exception => 0L })
          }
        }
        s"$mtime#$n#$bytes"
      }
    } catch { case _: Exception => "absent" }

  /** Resolved base relation per (session, path), fingerprint-stamped —
    * constructing a scan is pure (immutable DataFrame) AND the cached
    * DataFrame freezes the parquet file listing at first action, so the
    * entry is only valid while the directory is byte-identical; the
    * fingerprint check on every access enforces that. Weak session keys
    * alone would never be collected here: every cached Dataset strongly
    * references its SparkSession, and a WeakHashMap holds VALUES
    * strongly, so the key would stay reachable through its own value
    * forever (a permanent leak in a serving process that mints sessions
    * per client). The per-session map is therefore held through a
    * SoftReference — the only strong path to a dead session then runs
    * through softly-reachable state, which the collector clears under
    * memory pressure, upon which the weak key entry follows. */
  private val relationCache =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[
      scala.collection.concurrent.TrieMap[String, (String, DataFrame)]]]()

  /** Drop cached schema/relation state for one table path (all sessions)
    * — for callers that know they just mutated a directory and don't
    * want to rely on the fingerprint (e.g. a same-millisecond in-place
    * rewrite that preserves file count and byte length). */
  def invalidate(p: String): Unit = {
    schemaCache.remove(p)
    relationCache.synchronized {
      val it = relationCache.values().iterator()
      while (it.hasNext) {
        val m = it.next().get()
        if (m != null) m.remove(p)
      }
    }
  }

  /** Read one table. Filters/pruning push down to the parquet scan. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    val p = path(dir, name)
    val fp = fingerprint(p)
    val perSession = relationCache.synchronized {
      val ref = relationCache.get(spark)
      val existing = if (ref != null) ref.get else null
      if (existing != null) existing
      else {
        val fresh = scala.collection.concurrent.TrieMap
          .empty[String, (String, DataFrame)]
        relationCache.put(spark, new java.lang.ref.SoftReference(fresh))
        fresh
      }
    }
    val df = perSession.get(p).filter(_._1 == fp).map(_._2).getOrElse {
      val schema = schemaCache.get(p).filter(_._1 == fp).map(_._2)
        .getOrElse {
          val s = spark.read.parquet(p).schema
          schemaCache.put(p, (fp, s))
          s
        }
      val d = spark.read.schema(schema).parquet(p)
      perSession.put(p, (fp, d))
      d
    }
    // Normalize the event timestamp to TIMESTAMP (ltz) whatever the file
    // carries. Generations of the testdata have shipped TIMESTAMP(NANOS)
    // (arrives as long under nanosAsLong; `div 1000` floors to µs exactly —
    // a double division would lose precision above 2^53) and plain
    // timestamp[us] with no timezone (arrives as TIMESTAMP_NTZ under
    // Spark 4's inferTimestampNTZ). With the session pinned to UTC the
    // NTZ→LTZ cast maps the same wall-clock instant, so downstream
    // unix_micros()/window() calls see one stable type either way.
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.name == "ts" && f.dataType ==
          org.apache.spark.sql.types.LongType =>
        d.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case (d, f) if f.name == "ts" && f.dataType ==
          org.apache.spark.sql.types.TimestampNTZType =>
        d.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case (d, _) => d
    }
  }

  /** Read every table and register temp views so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    tune(spark)
    all.map { n =>
      val df = table(spark, dir, n)
      df.createOrReplaceTempView(n)
      n -> df
    }.toMap
  }

  /** registerAll + attach a persisted catalog dir: catalog tables and
    * persisted CREATE VIEW definitions re-register into this session
    * (the reference's views survive reconnects the same way —
    * dbcon/mysql/ha_view.cpp resolves them from stored definitions). */
  def registerAll(spark: SparkSession, dir: String,
      catalogRoot: String): Map[String, DataFrame] = {
    val base = registerAll(spark, dir)
    new sources.Catalog(spark, catalogRoot).attach()
    base
  }
}
