package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SessionSpec extends GraftSuite {
  private def hasGraftFunctions(s: SparkSession): Boolean =
    s.sessionState.functionRegistry.functionExists(
      FunctionIdentifier("simhash64"))

  /** Tunes a fresh session that runs no action (Spark itself holds a
    * session that ran one for a while) and hands back only a weak
    * reference, so no frame of the caller keeps the session alive. */
  private def tunedAndDropped(): WeakReference[SparkSession] = {
    val s = spark.newSession()
    Session.tune(s)
    assert(hasGraftFunctions(s))
    new WeakReference(s)
  }

  test("tune keeps no reference to a session") {
    val ref = tunedAndDropped()
    var gcs = 0
    while (ref.get != null && gcs < 20) {
      System.gc(); Thread.sleep(50); gcs += 1
    }
    assert(ref.get == null, s"tuned session still reachable after $gcs GCs")

    // temp functions and runtime confs belong to one session: a
    // newSession() of the factory's session starts untuned and is tuned
    // by its first table read
    val s2 = spark.newSession()
    assert(!hasGraftFunctions(s2))
    Tables.table(s2, sf, "nation")
    assert(s2.sql("SELECT simhash64('graft') IS NOT NULL").head().getBoolean(0))
    assert(s2.sessionState.conf.autoBroadcastJoinThreshold == (64L << 20))
  }

  test("every engine session comes from Session.local") {
    def mainFilesWith(text: String): Seq[String] =
      scala.util.Using.resource(Files.walk(Paths.get("src/main")))(
        _.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") &&
            Files.readString(p).contains(text))
          .map(_.toString).toSeq.sorted)
    val session = Seq("src/main/scala/graft/Session.scala")
    assert(mainFilesWith("SparkSession.builder") == session)
    assert(mainFilesWith("\"SPARK_GRAFT_CPUS\"") == session)
  }
}
