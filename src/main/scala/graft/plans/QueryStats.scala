package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.sources.{Catalog, TableLocks}

/** Persisted query-history statistics — the querystats analog
  * (reference: utils/querystats/querystats.h collects per-query wall
  * time / rows / session into a stats table an operator can query;
  * the perf scenarios read it back via tblTestStats.sql). graft's
  * d_query_trace explains ONE plan per run; this accumulates a
  * HISTORY: each recorded execution appends (query, wall_ms, rows,
  * ts, plan_hash, run_id) to a catalog-managed `query_history` table,
  * so regressions ("same query, same plan hash, 3× the wall"), plan
  * churn ("plan_hash changed under me"), and workload shape are
  * queryable with the engine itself.
  *
  * Storage is the same locked, crash-recoverable Catalog append path
  * every DML uses — at scale the history is just another table
  * (partition by day if it grows; each append is one small parquet
  * file, and compaction is the existing d_compaction story).
  */
object QueryStats {
  val tableName = "query_history"

  /** One recorded execution. `rows` is -1 when the caller executed
    * through a sink that doesn't report a row count (the bench's noop
    * writes); real row counts come from callers that materialize. */
  final case class Entry(query: String, wallMs: Double, rows: Long,
      tsMillis: Long, planHash: String)

  val schema: StructType = StructType(Seq(
    StructField("query", StringType),
    StructField("wall_ms", DoubleType),
    StructField("rows", LongType),
    StructField("ts", LongType),
    StructField("plan_hash", StringType),
    StructField("run_id", StringType)))

  /** Plan fingerprint: MurmurHash3 of `stableString`. Stable across
    * executions, sessions and JVMs of the same query; changed by
    * anything that alters the query (a new filter, a different
    * literal, a schema change underneath) or the operator tree the
    * optimizer chose for it (a join reorder, a predicate pushed to the
    * other side of a join). Catalyst's own `semanticHash()` is no use
    * here: it reaches identity-based hashCodes (the relation's
    * FileIndex), so two JVMs fingerprint the identical plan
    * differently, and a cross-run history would read every fresh
    * session as plan churn. */
  def planHash(df: DataFrame): String = hashOf(stableString(df))

  /** Hash of an already-rendered `stableString`, for callers that print
    * the string too (`Explain --canon`). */
  def hashOf(stable: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(stable)}%08x"

  /** The exact text `planHash` hashes, in two parts:
    *
    *  - the ANALYZED plan's text, with `#<exprId>` and the
    *    `CTERelationDef/Ref <id>` numbers masked (both come from
    *    JVM-wide counters). The analyzer keeps the user's operand and
    *    aggregate order. The optimized plan's expressions are not
    *    hashed: its distinct-aggregate Expand rows (and, in canonical
    *    form, its commutative operands) are ordered by hashCodes that
    *    reach the per-JVM ExprId;
    *  - the OPTIMIZED plan's operator skeleton: node names in tree
    *    shape, no expressions, so optimizer decisions that move
    *    operators stay visible.
    *
    * Two session-dependent leaks survive in the analyzed text and are
    * folded: JVM identity tokens (`sanitizeTokens`) and the logical
    * `Range`'s numSlices, which defaults to the session's parallelism
    * (machine config, not query structure; an explicit
    * `spark.range(n, numSlices = k)` change folds too — no graft query
    * passes one). The exprId mask also folds `#<digits>` inside a string
    * literal; like the other residuals, acceptable for an advisory
    * "did my plan move" signal. */
  def stableString(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Range}
    val qe = df.queryExecution
    val analyzed = qe.analyzed.transformUpWithSubqueries {
      case r: Range if r.numSlices.isDefined => r.copy(numSlices = None)
    }
    def shape(p: LogicalPlan, indent: String): String =
      indent + p.nodeName + "\n" +
        p.children.map(shape(_, indent + "  ")).mkString
    // every field: the plan text cuts a node's fields, and an expression's
    // arguments, at `spark.sql.debug.maxToStringFields` (25), which would
    // hide a change past the cut
    val uncut = df.sparkSession.sessionState.conf.clone()
    uncut.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
    sanitizeTokens(SQLConf.withExistingConf(uncut)(analyzed.toString))
      .replaceAll("#\\d+", "#")
      .replaceAll("(CTERelation(?:Def|Ref)) \\d+", "$1") +
      "== optimized operator shape ==\n" + shape(qe.optimizedPlan, "")
  }

  /** Rewrite the two JVM-session identity token classes to fixed
    * strings: a custom typed Aggregate's function object prints its
    * default `Class@identityHash` (`graft.functions.GroupConcat@1509bd56`),
    * and JIT-assigned lambda class names (`...$$Lambda$4054/0x...@...`)
    * carry a per-session index and address. The identityHash rewrite is
    * anchored to a QUALIFIED name ('.' or '$' before the '@') followed
    * by 6–8 lowercase hex digits — the shape `Object.toString` prints
    * (`Integer.toHexString` of a uniform 32-bit hash is 6+ digits with
    * probability 1 − 2⁻¹²). A data literal like `user@ab12` or
    * `a.b@cafe` keeps distinguishing plans. Residual: a ≥6-hex dotted
    * data literal still folds, and a <6-digit identity hash still
    * flips; both are advisory-only. */
  private def sanitizeTokens(s: String): String = s
    .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x[0-9a-fA-F]+", "\\$\\$Lambda")
    .replaceAll("([\\w.$]*[.$][\\w$]+)@[0-9a-f]{6,8}\\b", "$1@id")

  /** Execute `df` to completion (count), returning the Entry that
    * records it — the full-fidelity recording path with a real row
    * count. */
  def timed(name: String, df: DataFrame): Entry = {
    val t0 = System.nanoTime()
    val n = df.count()
    val ms = (System.nanoTime() - t0) / 1e6
    Entry(name, ms, n, System.currentTimeMillis(), planHash(df))
  }

  /** Append one batch of entries to the history table under `root`,
    * creating it on first use. Create-if-missing runs under the
    * history table's own lock so two concurrent recorders (two bench
    * JVMs on a shared root) can't both mint the table; the append
    * itself is the ordinary locked insert. Each append publishes a
    * version whose manifest names every history file, so the older
    * versions are vacuumed at once, still under the lock: an append
    * deletes no file, and the newest manifest names them all. */
  def append(spark: SparkSession, root: String, runId: String,
      entries: Seq[Entry]): Unit = {
    if (entries.isEmpty) return
    val cat = new Catalog(spark, root)
    TableLocks.withLock(root, tableName) {
      // attach INSIDE the lock: an attach taken before it would carry a
      // pre-lock table listing, letting two recorders racing a fresh
      // history root both pass the missing check — the loser's
      // createTable (SaveMode.Overwrite) would clobber the winner's
      // just-inserted batch. Scoped to THIS table only (attachOne): a
      // full attach() acquires OTHER tables' locks for crash recovery,
      // which is a cross-process lock-order inversion with any writer
      // that holds a data-table lock and then records history —
      // surfacing as spurious 60 s lock timeouts on shared roots.
      if (!cat.attachOne(tableName))
        cat.createTable(tableName, schema)
      val rows = entries.map(e =>
        Row(e.query, e.wallMs, e.rows, e.tsMillis, e.planHash, runId))
      cat.insertIntoSelect(tableName, spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema))
      cat.vacuumVersions(tableName, keep = 1)
    }
  }

  /** The history table under `root` (attaching a fresh catalog view of
    * it — history persists across sessions by construction). */
  def history(spark: SparkSession, root: String): DataFrame = {
    val cat = new Catalog(spark, root)
    cat.attach()
    cat.table(tableName)
  }

  /** The regression tripwire the history exists for (reference: the
    * perf scenario harness reads querystats back via tblTestStats.sql
    * to compare runs): flag, per query, a latest execution whose wall
    * exceeds `factor`× the trailing median of its PRIOR runs under the
    * SAME plan (needs ≥ `minPrior` such priors — a fresh history never
    * cries wolf), and any query whose plan_hash changed between its
    * two latest runs (plan churn: "the optimizer picked a different
    * plan under me" is a regression signal even when the wall hasn't
    * moved yet). Returns (query, kind, latest_wall_ms,
    * trailing_median_ms) rows, `kind` ∈ {wall_regression, plan_change};
    * trailing_median_ms is null on plan_change rows (the prior-plan
    * median is not comparable across plans).
    *
    * MEASUREMENT-BASIS SCOPING (required): the shared history table
    * holds entries from three recorders with different timing bases —
    * `bench_*` (best-of-N noop-sink execution), `sweep_*` (single-shot
    * incl. construction), and `verify_*` (wall INCLUDES the
    * coalesce(1) parquet dump). Same query name + same plan_hash,
    * different number. A trailing median computed across bases is
    * meaningless — a verify wall landing in a bench median reads as a
    * regression that never happened (and vice versa). Pass `runPrefix`
    * to scope the comparison to ONE basis (e.g. `Some("bench_")`);
    * callers that pre-filter run_id themselves may pass None, but an
    * unfiltered multi-recorder history with None is a bug. */
  def regressions(history: DataFrame, factor: Double = 3.0,
      minPrior: Int = 3, runPrefix: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val scoped = runPrefix.fold(history)(p =>
      history.filter(col("run_id").startsWith(p)))
    val w = Window.partitionBy(col("query"))
      .orderBy(col("ts").desc, col("run_id").desc)
    val ranked = scoped.withColumn("__rn", row_number().over(w))
    val latest = ranked.filter(col("__rn") === 1)
      .select(col("query"), col("wall_ms").as("latest_wall_ms"),
        col("plan_hash").as("latest_plan"))
    val priors = ranked.filter(col("__rn") > 1)
      .select(col("query"), col("wall_ms"), col("plan_hash"),
        col("__rn"))
    val med = priors.join(latest, "query")
      .filter(col("plan_hash") === col("latest_plan"))
      .groupBy(col("query"))
      .agg(median(col("wall_ms")).as("trailing_median_ms"),
        count(lit(1)).as("prior_runs"))
    val wallReg = latest.join(med, "query")
      .filter(col("prior_runs") >= minPrior &&
        col("latest_wall_ms") > lit(factor) * col("trailing_median_ms"))
      .select(col("query"), lit("wall_regression").as("kind"),
        col("latest_wall_ms"), col("trailing_median_ms"))
    val churn = priors.filter(col("__rn") === 2)
      .select(col("query"), col("plan_hash").as("prev_plan"))
      .join(latest, "query")
      .filter(col("prev_plan") =!= col("latest_plan"))
      .select(col("query"), lit("plan_change").as("kind"),
        col("latest_wall_ms"),
        lit(null).cast("double").as("trailing_median_ms"))
    wallReg.unionByName(churn)
  }
}

/** Child-JVM probe for the cross-SESSION plan-fingerprint guarantee:
  * prints `PLANHASH=<hash>` for a registered query over `dir`. The
  * spec compares it against the parent JVM's in-process hash — the
  * exact property Catalyst's semanticHash() lacks (identity-based
  * FileIndex hashCodes make every session fingerprint the same plan
  * differently), and the one a cross-run regression history depends
  * on. */
object PlanHashChild {
  def main(args: Array[String]): Unit = {
    val Array(queryName, dir) = args
    val spark = graft.Session.local(2)
    val df = graft.SparkEntry.queries(queryName)(spark, dir)
    println(s"PLANHASH=${QueryStats.planHash(df)}")
    spark.stop()
  }
}
