package graft

/** SQL runner — the mysqld-front-end analog (reference: patched mysqld +
  * ExeMgr, SURVEY §3.1; here the whole lifecycle is Catalyst's).
  *
  * Usage:
  *   scripts/run_class.sh graft.Sql <sfDir> "SELECT … FROM lineitem …"
  *   scripts/run_class.sh graft.Sql <sfDir> @/path/to/query.sql
  *
  * Registers every testdata table as a view plus all graft SQL functions
  * (simhash64, cosine_sim, …), runs the statement, prints the result.
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Sql <sfDir> <sql | @file> …")
    val sfDir = args(0)
    val spark = Session.local()
    Tables.registerAll(spark, sfDir)
    args.drop(1).foreach { arg =>
      val sql =
        if (arg.startsWith("@"))
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(arg.drop(1))))
        else arg
      sql.split(";").map(_.trim).filter(_.nonEmpty).foreach { stmt =>
        spark.sql(stmt).show(100, truncate = false)
      }
    }
    spark.stop()
  }
}
