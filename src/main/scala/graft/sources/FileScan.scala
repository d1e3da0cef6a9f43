package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The one scan builder: a DataFrame over exactly the given parquet
  * files, with the schema and partition values the caller already knows.
  * The reference plans from its system catalog and reads the files its
  * extent map names (reference: calpontsystemcatalog.h:107,
  * extentmap.h:116-132); both of graft's read paths do the same. A
  * catalog table takes files and schema from its manifest
  * (`Catalog.scan`), a base table from one stat and one footer
  * (`graft.Tables.table`). Spark is handed the files through a listing
  * that serves them back, so building the relation lists no directory,
  * infers nothing and runs no job. */
object FileScan {
  def apply(spark: SparkSession, files: Seq[FileStatus],
      dataSchema: StructType, partitions: PartitionSpec): DataFrame = {
    val listing = new FileStatusCache {
      private val byPath = files.map(f => f.getPath -> Array(f)).toMap
      override def getLeafFiles(p: HPath): Option[Array[FileStatus]] =
        byPath.get(p)
      def putLeafFiles(p: HPath, leaves: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val partSchema = partitions.partitionColumns
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty,
      Some(StructType(dataSchema ++ partSchema)), listing, Some(partitions))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }
}
