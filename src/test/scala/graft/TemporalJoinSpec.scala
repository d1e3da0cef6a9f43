package graft

import org.apache.spark.sql.functions._

/** Semantics checks for the temporal-join operators: the as-of join must
  * equal the naive per-key point-in-time join, and the banded interval
  * join must equal the naive theta join — the composition is an
  * optimization, never a semantics change. */
class TemporalJoinSpec extends GraftSuite {

  test("as-of join equals the naive point-in-time join") {
    val out = operators.TemporalJoinQueries.asofAttribution.run(spark, sf)
      .collect()
    val ev = Tables.table(spark, sf, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    // naive: per purchase, the max-(ts, event_id) click at-or-before p_ts
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
    // the at-or-before predicate must live in the ON clause: as a post-
    // filter it would drop purchases whose user's clicks are all later
    // both sides come from one DataFrame: alias them so the key equality
    // is not resolved as one column compared with itself
    val naive = purchases.as("p").join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") &&
          col("c_ts") <= col("p_ts"), "left_outer")
      .groupBy(col("purchase_id"))
      .agg(max(struct(col("c_ts"), col("c_id"))).getField("c_id")
        .as("click_id"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val pid = r.getLong(r.fieldIndex("purchase_id"))
      val got =
        if (r.isNullAt(r.fieldIndex("click_id"))) -1L
        else r.getLong(r.fieldIndex("click_id"))
      assert(naive.getOrElse(pid, -2L) == got,
        s"purchase $pid: asof=$got naive=${naive.get(pid)}")
    }
    // purchases with no prior click survive with null attribution
    val misses = out.count(_.isNullAt(out.head.fieldIndex("click_id")))
    assert(out.length == naive.size)
    // lag is non-negative whenever attributed
    out.filter(!_.isNullAt(out.head.fieldIndex("secs_since_click")))
      .foreach(r =>
        assert(r.getLong(r.fieldIndex("secs_since_click")) >= 0L))
    assert(misses < out.length, "every purchase unattributed — suspicious")
  }

  test("banded interval join equals the naive theta join") {
    val out = operators.TemporalJoinQueries.rangeInterval.run(spark, sf)
      .collect()
    assert(out.length == 30, s"expected 30 daily windows, got ${out.length}")
    // recompute n_sessions per window with a plain cross-join theta filter
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
    val sess = Tables.table(spark, sf, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess", when(col("prev_us").isNull ||
        unix_micros(col("ts")) - col("prev_us") > 600000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
    val wins = spark.range(1).select(explode(sequence(
        to_timestamp(lit("2024-01-01 03:00:00")),
        to_timestamp(lit("2024-01-30 03:00:00")),
        expr("INTERVAL 1 DAY"))).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 1 HOUR"))
    val naive = wins.crossJoin(sess)
      .filter(col("s_start") <= col("w_end") && col("w_start") <= col("s_end"))
      .groupBy(col("w_start")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val ws = r.getTimestamp(r.fieldIndex("w_start"))
      assert(r.getLong(r.fieldIndex("n_sessions")) ==
        naive.getOrElse(ws, 0L), s"window $ws")
      assert(r.getLong(r.fieldIndex("n_users")) <=
        r.getLong(r.fieldIndex("n_sessions")))
    }
  }
}
