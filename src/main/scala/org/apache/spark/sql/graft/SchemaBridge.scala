package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable` is Spark-private; `graft.Tables` makes a
  * footer schema nullable with it, exactly as Spark's own file-source
  * resolution does. */
object SchemaBridge {
  def asNullable(s: StructType): StructType = s.asNullable
}
