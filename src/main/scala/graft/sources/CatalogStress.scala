package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Throwaway-grade stress main for the reader-vs-rewrite snapshot race:
  * one writer thread commits locked full-table updates as fast as it
  * can while N reader threads take readCommitted snapshots; any read
  * that is not exactly one complete generation is dumped with the files
  * of the manifest it pinned. Used to reproduce (and then pin) the
  * round-10 mixed-leg anomalies; kept because a filesystem-race
  * reproducer is worth more than the bug report it came from.
  * Args: [durationSec] [readers]; runs on SPARK_GRAFT_CPUS cores
  * (default: all). */
object CatalogStress {
  def main(args: Array[String]): Unit = {
    val durSec = args.headOption.map(_.toInt).getOrElse(60)
    val readers = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft_stress")
    val cat = new Catalog(spark, s"$tmp/cat")
    cat.createTableAs("t", spark.range(0, 15000).toDF("id")
      .withColumn("gen", lit(0)))
    val expect = 15000L
    @volatile var stop = false
    var commits = 0
    val anomalies = new java.util.concurrent.atomic.AtomicInteger
    val nreads = new java.util.concurrent.atomic.AtomicInteger
    val writer = new Thread(() => {
      var g = 1
      while (!stop) { cat.update("t", _.withColumn("gen", lit(g)))
        commits += 1; g += 1 }
    })
    val rts = (1 to readers).map { r =>
      new Thread(() => {
        while (!stop) {
          // the files of the manifest the last read attempt pinned
          var pinned = Seq.empty[String]
          try {
            val gens = cat.readCommitted("t") { df =>
              pinned = df.inputFiles.toSeq.sorted
              df.groupBy("gen").count().collect()
            }
            nreads.incrementAndGet()
            if (gens.length != 1 || gens(0).getLong(1) != expect) {
              anomalies.incrementAndGet()
              System.err.println(s"[stress] reader$r BAD SNAPSHOT " +
                s"gens=${gens.mkString(",")} pinned={${pinned.mkString(", ")}}")
            }
          } catch { case e: Throwable =>
            anomalies.incrementAndGet()
            System.err.println(s"[stress] reader$r EXCEPTION $e " +
              s"pinned={${pinned.mkString(", ")}}")
            var c = e.getCause; var d = 0
            while (c != null && d < 6) {
              System.err.println(s"[stress]   cause: $c"); c = c.getCause
              d += 1 }
          }
        }
      })
    }
    writer.start(); rts.foreach(_.start())
    Thread.sleep(durSec * 1000L)
    stop = true
    writer.join(); rts.foreach(_.join())
    println(s"commits=$commits reads=${nreads.get()} " +
      s"anomalies=${anomalies.get()}")
    FsUtil.deleteRecursively(tmp, swallowErrors = true)
    spark.stop()
  }
}
