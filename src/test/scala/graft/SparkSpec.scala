package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.conf.set("spark.sql.streaming.checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
}
