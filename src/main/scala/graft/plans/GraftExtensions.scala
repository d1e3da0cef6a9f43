package graft.plans

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GreaterThan, If, LessThan, Literal, Lower}

/** Registers graft's custom Catalyst expressions as SQL functions, so they
  * are usable from spark.sql text, inside higher-order-function lambdas
  * (transform/filter), and from any session surface.
  *
  * Two registration paths:
  *  - `GraftExtensions` for `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (the SparkSessionExtensions route, like any Spark extension library);
  *  - `registerAll(spark)` for an existing session: `graft.Session.tune`
  *    calls it last, and a session whose registry holds these functions
  *    counts as tuned.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            "graft.functions", name),
          builder))
    }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a long literal, got $other")
  }

  private def arity(name: String, es: Seq[Expression], lo: Int,
      hi: Int): Unit =
    if (es.length < lo || es.length > hi)
      throw new IllegalArgumentException(
        s"$name expects ${if (lo == hi) s"$lo" else s"$lo to $hi"} " +
          s"argument(s), got ${es.length}")

  /** SQL-side float-vector coercion: array literals in SQL are
    * array<double>/array<decimal>; the vector kernels need array<float>.
    * Children are unresolved at builder time (no dataType yet), so cast
    * unconditionally — SimplifyCasts removes the no-op case. */
  private def asFloatVec(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // MySQL strcoll under the default ci collation (latin1_swedish_ci
    // analog — reference: primitives/linux-port/dictionary.cpp:193
    // idb_strcoll in the dictionary scan kernels): -1/0/1 comparison of
    // the case-folded forms. Composed from existing codegen'd exprs
    // (Lower + comparisons), so it stays in whole-stage codegen.
    "mysql_strcoll" -> (es => { arity("mysql_strcoll", es, 2, 2)
      val la = Lower(es(0)); val lb = Lower(es(1))
      If(LessThan(la, lb), Literal(-1),
        If(GreaterThan(la, lb), Literal(1), Literal(0))) }),
    "simhash64" -> (es => { arity("simhash64", es, 1, 1)
      SimHash64(es.head) }),
    "hamming64" -> (es => { arity("hamming64", es, 2, 2)
      Hamming64(es(0), es(1)) }),
    "fingerprint64" -> (es => { arity("fingerprint64", es, 1, 1)
      Fingerprint64(es.head) }),
    "minhash_sig" -> (es => { arity("minhash_sig", es, 2, 2)
      MinHashSig(es(0), intArg(es(1), "k")) }),
    "cosine_sim" -> (es => { arity("cosine_sim", es, 2, 2)
      CosineSim(asFloatVec(es(0)), asFloatVec(es(1))) }),
    "dot_product" -> (es => { arity("dot_product", es, 2, 2)
      DotProduct(asFloatVec(es(0)), asFloatVec(es(1))) }),
    "l2_distance" -> (es => { arity("l2_distance", es, 2, 2)
      L2Distance(asFloatVec(es(0)), asFloatVec(es(1))) }),
    "lsh_bucket" -> (es => { arity("lsh_bucket", es, 1, 3)
      LshBucket(asFloatVec(es(0)),
        if (es.length > 1) intArg(es(1), "planes") else 8,
        if (es.length > 2) longArg(es(2), "seed") else 42L) }),
    "mysql_week" -> (es => { arity("mysql_week", es, 1, 2)
      MySqlWeek(Cast(es.head, org.apache.spark.sql.types.DateType),
        if (es.length > 1) intArg(es(1), "mode") else 0, yearWeek = false) }),
    "mysql_yearweek" -> (es => { arity("mysql_yearweek", es, 1, 2)
      MySqlWeek(Cast(es.head, org.apache.spark.sql.types.DateType),
        if (es.length > 1) intArg(es(1), "mode") else 0, yearWeek = true) })
  )

  /** Idempotent registration on a live session. */
  def registerAll(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
