package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analytics over the events table (extension suite — the reference
  * has no streaming/eventing at all, SURVEY §2.10; the streaming versions
  * of these same aggregations live in graft.streaming.EventsStream).
  */
object EventsQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "events")

  /** Tumbling 1-hour windows per event type (batch analog of the
    * streaming tumbling-window aggregation). */
  val tumbling: QueryDef = QueryDef(
    "x_events_tumbling",
    (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type")),
    oracle = Some("""
      SELECT date_trunc('hour', ts::TIMESTAMP) AS window_start, event_type,
             count(*) AS n, sum(value) AS sum_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start, event_type""")
  )

  /** Sliding 1-hour windows every 30 minutes (each event lands in two
    * windows). */
  val sliding: QueryDef = QueryDef(
    "x_events_sliding",
    (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
        .select(col("w.start").as("window_start"), col("n"), col("avg_value"))
        .orderBy(col("window_start")),
    oracle = Some("""
      WITH b AS (SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // 1800000000)
                                       * 1800000000) AS s1, value
                 FROM events),
           x AS (SELECT unnest([s1, s1 - INTERVAL 30 MINUTE])
                          AS window_start, value
                 FROM b)
      SELECT window_start, count(*) AS n, avg(value) AS avg_value
      FROM x GROUP BY window_start ORDER BY window_start""")
  )

  /** Gap-based sessionization (10-minute inactivity gap): the classic
    * lag + cumulative-sum session assignment, entirely window-function
    * based — shuffles once on user_id. */
  val sessionize: QueryDef = QueryDef(
    "x_events_sessionize",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 600000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(col("value")).as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
    oracle = Some("""
      WITH o AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
                        lag(ts::TIMESTAMP) OVER (PARTITION BY user_id
                          ORDER BY ts::TIMESTAMP, event_id) AS prev
                 FROM events),
           f AS (SELECT *, CASE WHEN prev IS NULL
                                  OR epoch_us(ts) - epoch_us(prev) > 600000000
                                THEN 1 ELSE 0 END AS nf
                 FROM o),
           s AS (SELECT *, sum(nf) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                 FROM f)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end,
             sum(value) AS sum_value
      FROM s GROUP BY user_id, session_id
      ORDER BY user_id, session_id""")
  )

  /** JSON property extraction from the props column. */
  val jsonExtract: QueryDef = QueryDef(
    "x_events_json",
    (s, dir) =>
      ev(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          avg(col("k")).as("avg_k"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
    oracle = Some("""
      WITH e AS (SELECT event_type,
                        CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1)
                             AS BIGINT) AS k
                 FROM events)
      SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k, avg(k) AS avg_k,
             min(k) AS min_k, max(k) AS max_k
      FROM e GROUP BY event_type ORDER BY event_type""")
  )

  /** Stateful-dedup batch analog: one event per (user, type, hour) kept —
    * the batch semantics that EventsStream.dedup reproduces incrementally
    * with watermark state. */
  val dedupKeyed: QueryDef = QueryDef(
    "x_events_dedup",
    (s, dir) =>
      ev(s, dir)
        .withColumn("hour_bucket", date_trunc("hour", col("ts")))
        .dropDuplicates("user_id", "event_type", "hour_bucket")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"))
        .orderBy(col("event_type")),
    oracle = Some("""
      SELECT event_type, count(*) AS n_unique
      FROM (SELECT DISTINCT user_id, event_type,
                   date_trunc('hour', ts::TIMESTAMP) AS hour_bucket
            FROM events) d
      GROUP BY event_type ORDER BY event_type""")
  )

  /** Top-k users by spend with rank over event-type split — composite
    * "leaderboard" query shape. */
  val leaderboard: QueryDef = QueryDef(
    "x_events_leaderboard",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("total").desc, col("user_id"))
      ev(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .orderBy(col("event_type"), col("rk"))
    },
    oracle = Some("""
      WITH t AS (SELECT event_type, user_id, sum(value) AS total,
                        count(*) AS n
                 FROM events GROUP BY event_type, user_id),
           r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY total DESC, user_id) AS rk
                 FROM t)
      SELECT event_type, user_id, total, n, rk FROM r WHERE rk <= 5
      ORDER BY event_type, rk""")
  )

  /** Shared staging for the end-to-end streaming queries: write the events
    * table as a multi-file parquet source, run `transform(readStream)` to
    * completion with Trigger.AvailableNow into `out`, and hand back the
    * sink path for the batch read-back. `complete` selects complete-mode
    * foreachBatch (for aggregations, whose final state equals the batch
    * answer) vs a plain append file sink (for row-emitting operators). */
  private def runAvailableNow(s: SparkSession, dir: String, name: String,
      complete: Boolean)(
      transform: DataFrame => DataFrame): String = {
    val tmp = DdlDmlQueries.scratch(name)
    val staged = s"$tmp/events_src"
    val out = s"$tmp/out"
    ev(s, dir).repartition(4).write.mode("overwrite").parquet(staged)
    // r15: run the micro-batch query on a session clone whose shuffle
    // (= state-store) partition count follows the staged bytes — see
    // EventsStream.streamSession for the measurement and the scale story
    val s2 = graft.streaming.EventsStream.streamSession(s, staged)
    val transformed =
      transform(graft.streaming.EventsStream.readStream(s2, staged))
    val writer =
      if (complete)
        transformed.writeStream
          .outputMode("complete")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(out)
          }
      else
        transformed.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", out)
    val q = writer
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out
  }

  /** Structured Streaming end-to-end, driver-verifiable (SURVEY §2.10):
    * the events stream runs through the same windowed aggregation as
    * `x_events_tumbling` with exact decimal value sums, emitted via
    * complete-mode foreachBatch — the batch≡stream equivalence the
    * streaming suite promises, here checked by the DuckDB oracle instead
    * of only by StreamingSpec. */
  val streamTumbling: QueryDef = QueryDef(
    "x_stream_tumbling",
    (s, dir) => {
      val out = runAvailableNow(s, dir, "stream_tumbling", complete = true)(
        graft.streaming.EventsStream.tumblingCounts(_, exactSums = true))
      s.read.parquet(out)
        .orderBy(col("window_start"), col("event_type"))
    },
    oracle = Some("""
      SELECT date_trunc('hour', ts::TIMESTAMP) AS window_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start, event_type""")
  )

  /** Stateful streaming dedup end-to-end, driver-verifiable: the events
    * stream deduped to one event per (user, type, hour) in append mode —
    * dedup rows emit on first arrival, so no watermark-flush caveat —
    * then aggregated in batch to the same shape as `x_events_dedup`.
    * The unique-key SET is arrival-order independent, so the stream output
    * matches the batch DISTINCT exactly. */
  val streamDedup: QueryDef = QueryDef(
    "x_stream_dedup",
    (s, dir) => {
      val out = runAvailableNow(s, dir, "stream_dedup", complete = false)(
        _.withColumn("hour_bucket", date_trunc("hour", col("ts")))
          .dropDuplicates("user_id", "event_type", "hour_bucket"))
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, count(*) AS n_unique
      FROM (SELECT DISTINCT user_id, event_type,
                   date_trunc('hour', ts::TIMESTAMP) AS hour_bucket
            FROM events) d
      GROUP BY event_type ORDER BY event_type""")
  )

  /** Streaming session windows end-to-end, driver-verifiable: the events
    * stream through session_window(gap=10min) with exact decimal sums in
    * complete-mode foreachBatch, so the final state equals the batch
    * answer. Note session_window semantics differ from the lag-based
    * sessionize on two points the oracle mirrors exactly: a gap EQUAL to
    * 10min starts a new session (window overlap is strict), and
    * session_end = last event + gap. */
  val streamSession: QueryDef = QueryDef(
    "x_stream_session",
    (s, dir) => {
      val out = runAvailableNow(s, dir, "stream_session", complete = true)(
        graft.streaming.EventsStream.sessionWindows(_, exactSums = true))
      s.read.parquet(out)
        .orderBy(col("user_id"), col("session_start"))
    },
    oracle = Some("""
      WITH o AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
                        lag(ts::TIMESTAMP) OVER (PARTITION BY user_id
                          ORDER BY ts::TIMESTAMP, event_id) AS prev
                 FROM events),
           f AS (SELECT *, CASE WHEN prev IS NULL
                                  OR epoch_us(ts) - epoch_us(prev) >= 600000000
                                THEN 1 ELSE 0 END AS nf
                 FROM o),
           s AS (SELECT *, sum(nf) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM f)
      SELECT min(ts) AS session_start,
             max(ts) + INTERVAL 10 MINUTE AS session_end,
             user_id, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, session_start""")
  )

  /** Streaming sliding windows end-to-end, driver-verifiable: 1-hour
    * windows every 30 minutes (each event lands in two), exact decimal
    * sums, complete-mode foreachBatch → final state equals the batch
    * answer. The average is emitted as exact-sum / count so micro-batch
    * merge order can't perturb a byte. */
  val streamSliding: QueryDef = QueryDef(
    "x_stream_sliding",
    (s, dir) => {
      val out = runAvailableNow(s, dir, "stream_sliding", complete = true)(
        _.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(28,10)")).as("sum_dec"))
          .select(col("window.start").as("window_start"), col("n"),
            (col("sum_dec").cast("double") / col("n")).as("avg_value")))
      s.read.parquet(out).orderBy(col("window_start"))
    },
    oracle = Some("""
      WITH b AS (SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // 1800000000)
                                       * 1800000000) AS s1, value
                 FROM events),
           x AS (SELECT unnest([s1, s1 - INTERVAL 30 MINUTE])
                          AS window_start, value
                 FROM b)
      SELECT window_start, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*)
               AS avg_value
      FROM x GROUP BY window_start ORDER BY window_start""")
  )

  /** Conversion funnel: of users with at least one click, how many made a
    * purchase within one hour of their FIRST click. Two shuffles on
    * user_id (first-click agg, then the purchase join) — the canonical
    * product-analytics funnel shape, scalable because both sides stay
    * keyed by user. */
  val funnel: QueryDef = QueryDef(
    "x_events_funnel",
    (s, dir) => {
      val e = ev(s, dir)
      val firstClick = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      val converted = firstClick
        .join(e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts")), Seq("user_id"))
        .filter(col("p_ts") >= col("first_click") &&
          col("p_ts") <= col("first_click") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id")).distinct()
        .withColumn("c", lit(1))
      firstClick.join(converted, Seq("user_id"), "left_outer")
        .agg(count(lit(1)).as("n_clicked"),
          sum(coalesce(col("c"), lit(0))).cast("bigint").as("n_converted"))
        .select(col("n_clicked"), col("n_converted"),
          (col("n_converted").cast("double") / col("n_clicked"))
            .as("conversion_rate"))
    },
    oracle = Some("""
      WITH fc AS (SELECT user_id, min(ts::TIMESTAMP) AS first_click
                  FROM events WHERE event_type = 'click' GROUP BY user_id),
      conv AS (SELECT DISTINCT fc.user_id
               FROM fc JOIN events e ON e.user_id = fc.user_id
               WHERE e.event_type = 'purchase'
                 AND e.ts::TIMESTAMP >= fc.first_click
                 AND e.ts::TIMESTAMP <= fc.first_click + INTERVAL 1 HOUR)
      SELECT (SELECT count(*) FROM fc) AS n_clicked,
             (SELECT count(*) FROM conv) AS n_converted,
             CAST((SELECT count(*) FROM conv) AS DOUBLE)
               / (SELECT count(*) FROM fc) AS conversion_rate""")
  )

  /** Stateless streaming enrichment end-to-end: the JSON-extract + filter
    * + hour-bucket transform chain runs in append mode (no state at all —
    * every micro-batch emits exactly its transformed rows), then the sink
    * is aggregated in batch. Proves the stateless transform path under
    * the oracle gate next to the stateful ones. */
  val streamEnrich: QueryDef = QueryDef(
    "x_stream_enrich",
    (s, dir) => {
      val out = runAvailableNow(s, dir, "stream_enrich", complete = false)(
        graft.streaming.EventsStream.enriched)
      s.read.parquet(out)
        .groupBy(col("event_type"), col("hour_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"), col("hour_bucket"))
    },
    oracle = Some("""
      WITH e AS (SELECT event_type,
                        date_trunc('hour', ts::TIMESTAMP) AS hour_bucket,
                        CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1)
                             AS BIGINT) AS k
                 FROM events WHERE value > 0)
      SELECT event_type, hour_bucket, count(*) AS n,
             CAST(sum(k) AS BIGINT) AS sum_k
      FROM e GROUP BY event_type, hour_bucket
      ORDER BY event_type, hour_bucket""")
  )

  /** Cohort retention: users grouped by first-seen day, counted distinct
    * on each of the next 7 days they return — the standard
    * product-analytics retention triangle. Two user_id shuffles (first-seen
    * agg, then the activity join) plus one (cohort, offset) aggregation;
    * both sides stay keyed by user, so the shape holds at any event
    * volume. */
  val retention: QueryDef = QueryDef(
    "x_events_retention",
    (s, dir) => {
      val e = ev(s, dir)
      val firstSeen = e.groupBy(col("user_id"))
        .agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
      val active = e
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      firstSeen.join(active, Seq("user_id"))
        .withColumn("day_offset",
          datediff(col("day"), col("cohort_day")))
        .filter(col("day_offset") <= 7)
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    oracle = Some("""
      WITH f AS (SELECT user_id,
                        min(date_trunc('day', ts::TIMESTAMP)) AS cohort_day
                 FROM events GROUP BY user_id),
      a AS (SELECT DISTINCT user_id,
                   date_trunc('day', ts::TIMESTAMP) AS day
            FROM events)
      SELECT f.cohort_day,
             CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER)
               AS day_offset,
             count(DISTINCT a.user_id) AS n_users
      FROM f JOIN a USING (user_id)
      WHERE date_diff('day', f.cohort_day, a.day) <= 7
      GROUP BY 1, 2 ORDER BY cohort_day, day_offset""")
  )

  /** Stream-stream join end-to-end, driver-verifiable: clicks joined to
    * same-user purchases within 30 minutes (EventsStream.clickPurchaseJoin)
    * in append mode — inner-join matches emit when both rows arrive, so
    * the sink holds exactly the batch join's row set and the DuckDB oracle
    * replays it as a plain interval join. */
  val streamJoin: QueryDef = QueryDef(
    "x_stream_join",
    (s, dir) => {
      val out = runAvailableNow(s, dir, "stream_join", complete = false)(
        graft.streaming.EventsStream.clickPurchaseJoin)
      s.read.parquet(out)
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
    oracle = Some("""
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             (epoch_us(p.ts::TIMESTAMP) // 1000000)
               - (epoch_us(c.ts::TIMESTAMP) // 1000000) AS wait_sec
      FROM events c JOIN events p
        ON p.user_id = c.user_id
       AND p.ts::TIMESTAMP >= c.ts::TIMESTAMP
       AND p.ts::TIMESTAMP <= c.ts::TIMESTAMP + INTERVAL 30 MINUTE
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      ORDER BY c.user_id, click_id, purchase_id""")
  )

  /** Trailing-window anomaly detection: each (event_type, hour) count is
    * z-scored against the PRECEDING 24 hours of its own series (RANGE
    * frame 24..1 PRECEDING — the current hour never contaminates its own
    * baseline). Rows need ≥3 hours of history. |z| > 3 flags the anomaly;
    * a perfectly flat baseline (σ = 0) scores z = 0 but still flags ANY
    * deviation from μ (a spike over constant traffic is the clearest
    * anomaly there is). The z ratio divides unrounded μ/σ and rounds once
    * at the end.
    *
    * Scale shape: the raw events collapse to (type, hour) counts in one
    * two-phase aggregation, so the window input is |types| × |hours| rows
    * regardless of event volume, and the window partitions by type —
    * bounded state per task, no global sort. */
  val anomaly: QueryDef = QueryDef(
    "x_events_anomaly",
    (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val tw = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rangeBetween(-24, -1)
      hourly
        .withColumn("n_hist", count(lit(1)).over(tw))
        .withColumn("mu", avg(col("cnt")).over(tw))
        .withColumn("sigma", stddev_samp(col("cnt")).over(tw))
        .filter(col("n_hist") >= 3)
        .select(col("event_type"), col("hr"), col("cnt"), col("n_hist"),
          round(col("mu"), 4).as("mu"),
          round(col("sigma"), 4).as("sigma"),
          when(col("sigma") > 0,
            round((col("cnt") - col("mu")) / col("sigma"), 4))
            .otherwise(0.0).as("z"),
          when(col("sigma") > 0,
            abs(col("cnt") - col("mu")) > lit(3) * col("sigma"))
            .otherwise(col("cnt") =!= col("mu")).as("is_anomaly"))
        .orderBy(col("event_type"), col("hr"))
    },
    oracle = Some("""
      WITH h AS (SELECT event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               count(*) AS cnt
             FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, hr, cnt,
              count(*) OVER tw AS n_hist,
              avg(cnt) OVER tw AS mu,
              stddev_samp(cnt) OVER tw AS sigma
            FROM h WINDOW tw AS (PARTITION BY event_type ORDER BY hr
              RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT event_type, hr, cnt, n_hist,
             round(mu, 4) AS mu, round(sigma, 4) AS sigma,
             CASE WHEN sigma > 0 THEN round((cnt - mu) / sigma, 4)
                  ELSE 0.0 END AS z,
             CASE WHEN sigma > 0 THEN abs(cnt - mu) > 3 * sigma
                  ELSE cnt <> mu END AS is_anomaly
      FROM w WHERE n_hist >= 3 ORDER BY event_type, hr""")
  )

  /** Time-series resample with gap-fill and forward-fill — the
    * regularization pass every downstream forecaster/joiner wants: each
    * event_type's hourly series is densified onto a complete hour spine
    * (missing hours appear with cnt = 0 and is_gap = true) and the last
    * observed hourly metric carries forward across gaps
    * (`last(ignoreNulls)` over an unbounded-preceding frame — the same
    * carry-forward kernel as the as-of join).
    *
    * Scale shape: events collapse to (type, hour) rows in one two-phase
    * aggregation first; the spine is |types| sequence-explodes of a
    * 2-long bounds row, so the join and window run on |types| × |hours|
    * rows regardless of event volume. */
  val resample: QueryDef = QueryDef(
    "x_events_resample",
    (s, dir) => {
      // the hourly mean is the EXACT quotient of a DECIMAL sum, emitted
      // unrounded: a plain double avg() is partial-order-sensitive, and
      // round(…,4) itself disagrees between engines on exact .xxxx5
      // doubles (Spark rounds the shortest decimal string HALF_UP,
      // DuckDB rounds the binary value — 51.51125 → .5113 vs .5112)
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").as("hr"))
        .agg(count(lit(1)).as("cnt"),
          (sum(col("value").cast("decimal(28,10)")).cast("double") /
            count(lit(1))).as("avg_value"))
      val bounds = hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("mnh"), max(col("hr")).as("mxh"))
      val spine = bounds.select(col("event_type"),
        explode(sequence(col("mnh"), col("mxh"))).as("hr"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "hr"), "left_outer")
        .select(col("event_type"), col("hr"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          col("cnt").isNull.as("is_gap"),
          last(col("avg_value"), ignoreNulls = true).over(w)
            .as("filled_value"))
        .orderBy(col("event_type"), col("hr"))
    },
    oracle = Some("""
      WITH h AS (SELECT event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                 / count(*) AS avg_value
             FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, min(hr) AS mnh, max(hr) AS mxh
            FROM h GROUP BY 1),
      sp AS (SELECT event_type, unnest(generate_series(mnh, mxh)) AS hr
             FROM b)
      SELECT sp.event_type, sp.hr,
             coalesce(h.cnt, 0) AS cnt,
             h.cnt IS NULL AS is_gap,
             last_value(h.avg_value IGNORE NULLS) OVER (
               PARTITION BY sp.event_type ORDER BY sp.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_value
      FROM sp LEFT JOIN h ON h.event_type = sp.event_type
        AND h.hr = sp.hr
      ORDER BY sp.event_type, sp.hr""")
  )

  /** Winsorized robust statistics — the outlier-clipping pass metric
    * pipelines run before trusting a mean: per event_type the exact
    * p05/p95 clip the value column and both raw and winsorized means are
    * reported with clip counts. One SQL text runs verbatim on BOTH
    * engines (`percentile_cont WITHIN GROUP` is common SQL:2023), so the
    * oracle is the query itself. Means are exact quotients of DECIMAL
    * sums, emitted unrounded — a plain double avg() is
    * partial-order-sensitive across engines, and round() itself
    * disagrees on exact .xxxx5 doubles. Exact percentiles keep the oracle
    * bit-honest; at 100 TB the drop-in is `approx_percentile`
    * (error-bound-checked separately by `a_approx_percentile`). */
  // explicit table-name template (not post-hoc string replace): the same
  // text runs verbatim on both engines, parameterized only on which view
  // the events rows come from
  private def winsorizeSql(tbl: String) = s"""
      WITH p AS (SELECT event_type,
          percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p05,
          percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95
        FROM $tbl GROUP BY event_type)
      SELECT e.event_type, count(*) AS n,
        CAST(sum(CAST(e.value AS DECIMAL(28,10))) AS DOUBLE)
          / count(*) AS raw_mean,
        CAST(sum(CAST(CASE WHEN e.value < p.p05 THEN p.p05
                           WHEN e.value > p.p95 THEN p.p95
                           ELSE e.value END AS DECIMAL(28,10)))
          AS DOUBLE) / count(*) AS winsor_mean,
        p.p05, p.p95,
        CAST(sum(CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clip_low,
        CAST(sum(CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clip_high
      FROM $tbl e JOIN p USING (event_type)
      GROUP BY e.event_type, p.p05, p.p95
      ORDER BY e.event_type"""

  val winsorize: QueryDef = QueryDef(
    "x_events_winsorize",
    (s, dir) => {
      // a uniquely named view: rebinding the session-global "events"
      // view here would silently repoint every later `FROM events` in
      // a shared session (Sql REPL, test suites) at this dir
      ev(s, dir).createOrReplaceTempView("graft_winsorize_events")
      s.sql(winsorizeSql("graft_winsorize_events"))
    },
    oracle = Some(winsorizeSql("events"))
  )

  /** Markov transition matrix over per-user event streams — the
    * journey-analysis primitive behind funnels and next-action models:
    * each user's events order by (ts, event_id), lag() yields the
    * (prev → curr) pairs, and the global matrix reports counts plus
    * row-normalized transition probabilities.
    *
    * Scale shape: ONE shuffle on user_id feeds the lag window (the same
    * partitioning sessionization uses), then the pair counts collapse in
    * a two-phase aggregation over ≤ |types|² rows; the probability
    * denominator rides a window over that tiny matrix, not the events. */
  /** Shared oracle + aggregation tail for the batch and streaming
    * transition-matrix ops — one definition, so the advertised
    * batch≡stream equivalence holds by construction. */
  private val transitionsOracle: String = """
      WITH seq AS (SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_type
             FROM events),
      m AS (SELECT prev_type, event_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type)
      SELECT prev_type, event_type, n,
             round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type),
               4) AS p
      FROM m ORDER BY prev_type, event_type"""

  /** (prev_type, event_type) pairs → counted, row-normalized matrix. */
  private def transitionMatrix(pairs: DataFrame): DataFrame = {
    val m = pairs.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy(col("prev_type"))
    m.withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(wp), 4))
      .select(col("prev_type"), col("event_type"), col("n"), col("p"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val transitions: QueryDef = QueryDef(
    "x_events_transitions",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      transitionMatrix(ev(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull))
    },
    oracle = Some(transitionsOracle)
  )

  /** Streaming dual of `x_events_transitions`: the pair stream comes from
    * O(users) carried state (EventsStream.transitionPairs), lands in
    * append mode, and the tiny matrix aggregation runs over the landed
    * pairs. Same oracle as the batch op — the batch≡stream equivalence
    * promise, hash-checked. */
  val streamTransitions: QueryDef = QueryDef(
    "x_stream_transitions",
    (s, dir) => {
      val out = runAvailableNow(s, dir, "stream_transitions",
        complete = false)(graft.streaming.EventsStream.transitionPairs)
      transitionMatrix(s.read.parquet(out))
    },
    oracle = Some(transitionsOracle)
  )

  /** EWMA trend smoothing over the per-type hourly series — the
    * exponential-smoothing companion to the z-score anomaly pass
    * (s_t = 0.3·x_t + 0.7·s_{t−1}, seeded with the first observation).
    * The recursion runs as an ordered array fold over each type's
    * COLLAPSED hourly series (|types| groups × |hours| elements — the
    * collapse-first shape every events op here uses), so the sequential
    * dependence costs one tiny second shuffle, never a pass over raw
    * events. The DuckDB oracle computes the same recursion via a
    * recursive CTE with the identical literal expression
    * 0.3·x + 0.7·prev — same IEEE operations in the same order, so the
    * unrounded doubles hash-match. */
  val ewma: QueryDef = QueryDef(
    "x_events_ewma",
    (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("hr"), col("n"))))
          .as("s"))
        .withColumn("ewmas", expr("""
          aggregate(s, cast(array() as array<double>),
            (acc, x) -> concat(acc, array(
              CASE WHEN size(acc) = 0 THEN cast(x.n as double)
                   ELSE 0.3 * cast(x.n as double)
                        + 0.7 * element_at(acc, -1) END)))"""))
        .select(col("event_type"), col("ewmas"), posexplode(col("s")))
        .select(col("event_type"), col("col.hr").as("hr"),
          col("col.n").as("n"),
          element_at(col("ewmas"), col("pos") + 1).as("ewma"))
        .orderBy(col("event_type"), col("hr"))
    },
    oracle = Some("""
      WITH RECURSIVE h AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY date_trunc('hour', ts)) AS idx
        FROM events GROUP BY event_type, date_trunc('hour', ts)),
      r AS (SELECT event_type, idx, hr, n, CAST(n AS DOUBLE) AS ewma
            FROM h WHERE idx = 1
            UNION ALL
            SELECT h.event_type, h.idx, h.hr, h.n,
                   0.3 * CAST(h.n AS DOUBLE) + 0.7 * r.ewma
            FROM h JOIN r ON h.event_type = r.event_type
                         AND h.idx = r.idx + 1)
      SELECT event_type, hr, n, ewma FROM r
      ORDER BY event_type, hr""")
  )

  /** SCD type-2 dimension build: collapse each user's event stream into
    * versioned validity ranges — one row per run of consecutive identical
    * event_types, with [valid_from, valid_to) half-open ranges and an
    * is_current flag on the open run. The classic warehouse
    * change-tracking shape (the reference is a warehouse; its users build
    * exactly this over DML-maintained dimensions). ONE keyed exchange on
    * user_id: change rows are detected with lag(), then every remaining
    * column — run ordinal, valid_to, run length — is derived on the
    * filtered run-START rows with windows that reuse the same user_id
    * partitioning (a groupBy-(user, run) formulation would re-shuffle
    * twice; deriving run length from consecutive row_numbers avoids
    * touching non-start rows again). Ordering ties break on event_id so
    * change detection is deterministic in both engines. */
  val scd2: QueryDef = QueryDef(
    "x_events_scd2",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val starts = ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .withColumn("n_rows",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      val wS = Window.partitionBy(col("user_id")).orderBy(col("rn"))
      starts
        .withColumn("run_id", row_number().over(wS).cast("long"))
        .withColumn("valid_to", lead(col("ts"), 1).over(wS))
        .withColumn("next_rn", lead(col("rn"), 1).over(wS))
        .withColumn("n_events",
          (coalesce(col("next_rn").cast("long"), col("n_rows") + 1L)
            - col("rn")).cast("long"))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("run_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"), col("n_events"),
          col("is_current"))
        .orderBy(col("user_id"), col("run_id"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events),
      r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
                ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS run_id FROM m),
      runs AS (SELECT user_id, run_id, event_type, min(ts) AS valid_from,
                      CAST(count(*) AS BIGINT) AS n_events
               FROM r GROUP BY user_id, run_id, event_type),
      v AS (SELECT *, lead(valid_from) OVER (PARTITION BY user_id
                ORDER BY run_id) AS valid_to FROM runs)
      SELECT user_id, run_id, event_type, valid_from, valid_to, n_events,
             valid_to IS NULL AS is_current
      FROM v ORDER BY user_id, run_id""")
  )

  /** MATCH_RECOGNIZE-analog sequence pattern detection: each user's
    * event history (ordered by ts, event_id) collapses to a journey
    * string of type initials (c/e/p/s/v), and regex matching over that
    * string finds behavioral patterns — here `v[ces]*p` (a view leading
    * to a purchase through any run of clicks/errors/signups: non-
    * overlapping conversion paths) and `e+` (error bursts, reported as
    * the longest run). Since [ces] excludes both anchors, the regex is
    * unambiguous — Java's backtracking engine and DuckDB's RE2-style
    * engine find the identical non-overlapping match set, so counts
    * replay bit-exactly.
    *
    * Scale shape: one groupBy(user_id) shuffle carrying a single CHAR
    * per event (the struct sort key travels alongside but the payload —
    * props/value — is pruned at the scan); journey length is bounded by
    * per-user event count, the same per-key state bound every sessionize
    * variant already carries. The regex scan is per-row codegen over the
    * collapsed |users|-row frame, not the event stream. */
  val pattern: QueryDef = QueryDef(
    "x_events_pattern",
    (s, dir) => {
      ev(s, dir)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ch")).as("e"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("user_id"),
          expr("concat_ws('', transform(es, x -> x.ch))").as("journey"))
        .select(col("user_id"), col("journey"),
          expr("cast(regexp_count(journey, 'v[ces]*p') as bigint)")
            .as("n_conversions"),
          expr("cast(coalesce(array_max(transform(" +
            "regexp_extract_all(journey, 'e+', 0), x -> length(x))), 0) " +
            "as bigint)").as("max_error_run"))
        .orderBy(col("user_id"))
    },
    oracle = Some("""
      WITH j AS (SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                     ORDER BY ts, event_id) AS journey
                 FROM events GROUP BY user_id)
      SELECT user_id, journey,
             CAST(len(regexp_extract_all(journey, 'v[ces]*p')) AS BIGINT)
               AS n_conversions,
             CAST(coalesce(list_max(list_transform(
               regexp_extract_all(journey, 'e+'), x -> len(x))), 0)
               AS BIGINT) AS max_error_run
      FROM j ORDER BY user_id""")
  )

  /** Linear multi-touch attribution: each purchase's value splits equally
    * across the same user's clicks in the hour before it (the fair-share
    * complement of j_asof_attribution's last-touch). The time-range match
    * is BANDED — purchases explode to their own and the previous hour
    * bucket, join clicks on (user_id, bucket) equality, then the exact
    * (p_ts − 1 h, p_ts] check filters — a pure equi-join plan whose
    * candidate volume is 2× clicks-per-user-hour, never a theta join (at
    * 100 TB event volume a time-range theta join is the classic
    * accidental cross product). Credit division is one IEEE op per
    * purchase; per-user credit sums round to 4 on both engines. */
  val attributionLinear: QueryDef = QueryDef(
    "x_events_attribution_linear",
    (s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), unix_seconds(col("ts")).as("c_sec"))
        .withColumn("hb", expr("c_sec div 3600"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_seconds(col("ts")).as("p_sec"), col("value"))
      val banded = purchases
        .withColumn("hb", explode(expr(
          "array(p_sec div 3600, p_sec div 3600 - 1)")))
        .join(clicks, Seq("user_id", "hb"))
        .filter(col("c_sec") > col("p_sec") - 3600 &&
          col("c_sec") <= col("p_sec"))
      val perPurchase = banded
        .groupBy(col("user_id"), col("event_id"), col("value"))
        .agg(count(lit(1)).as("n_touch"))
      perPurchase
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          sum(col("n_touch")).as("n_touches"),
          round(sum(col("value")), 4).as("attributed_value"),
          round(sum(col("value") / col("n_touch")), 4)
            .as("per_touch_credit"))
        .orderBy(col("user_id"))
    },
    oracle = Some("""
      WITH c AS (SELECT user_id,
                   CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS c_sec
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id,
              CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS p_sec, value
            FROM events WHERE event_type = 'purchase'),
      m AS (SELECT p.user_id, p.event_id, p.value, count(*) AS n_touch
            FROM p JOIN c ON c.user_id = p.user_id
             AND c.c_sec > p.p_sec - 3600 AND c.c_sec <= p.p_sec
            GROUP BY p.user_id, p.event_id, p.value)
      SELECT user_id, count(*) AS n_attributed,
             CAST(sum(n_touch) AS BIGINT) AS n_touches,
             round(sum(value), 4) AS attributed_value,
             round(sum(value / n_touch), 4) AS per_touch_credit
      FROM m GROUP BY user_id ORDER BY user_id""")
  )

  /** Seasonal decomposition (additive, hour-of-day profile): each
    * event_type's hourly count series splits into seasonal (the mean of
    * its hour-of-day slot across the series) + residual; hours whose
    * |residual| exceeds 2× the type's residual stddev flag as
    * seasonally-adjusted anomalies — the spike detector that does NOT
    * fire on a normal daily peak (unlike a plain trailing z-score).
    *
    * Scale shape: collapse-first (events → |types|×|hours| rows in one
    * two-phase agg), then the seasonal profile is a |types|×24-row agg
    * joined back BY KEY, and the residual stddev another tiny agg —
    * three shuffles over collapsed series regardless of event volume. */
  val seasonal: QueryDef = QueryDef(
    "x_events_seasonal",
    (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").as("hr"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("hod", pmod(col("hr"), lit(24)))
      val profile = hourly.groupBy(col("event_type"), col("hod"))
        .agg(avg(col("cnt")).as("seasonal"))
      val resid = hourly.join(profile, Seq("event_type", "hod"))
        .withColumn("residual", col("cnt") - col("seasonal"))
      val spread = resid.groupBy(col("event_type"))
        .agg(stddev_samp(col("residual")).as("sd"))
      resid.join(spread, Seq("event_type"))
        .select(col("event_type"), col("hr"), col("cnt"),
          round(col("seasonal"), 4).as("seasonal"),
          round(col("residual"), 4).as("residual"),
          (col("sd") > 0 &&
            abs(col("residual")) > lit(2) * col("sd")).as("is_anomaly"))
        .orderBy(col("event_type"), col("hr"))
    },
    oracle = Some("""
      WITH h AS (SELECT event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr, count(*) AS cnt
             FROM events GROUP BY 1, 2),
      hh AS (SELECT event_type, hr, cnt, hr % 24 AS hod FROM h),
      p AS (SELECT event_type, hod, avg(cnt) AS seasonal
            FROM hh GROUP BY event_type, hod),
      r AS (SELECT hh.event_type, hh.hr, hh.cnt, p.seasonal,
              hh.cnt - p.seasonal AS residual
            FROM hh JOIN p USING (event_type, hod)),
      sd AS (SELECT event_type, stddev_samp(residual) AS sd
             FROM r GROUP BY event_type)
      SELECT r.event_type, r.hr, r.cnt,
             round(r.seasonal, 4) AS seasonal,
             round(r.residual, 4) AS residual,
             (sd.sd > 0 AND abs(r.residual) > 2 * sd.sd) AS is_anomaly
      FROM r JOIN sd USING (event_type)
      ORDER BY r.event_type, r.hr""")
  )

  /** Cohort lifetime value — retention's revenue companion: users group
    * by first-seen day (the cohort), event value sums per (cohort, age),
    * and a running total per cohort gives the LTV curve the
    * "payback-period" question reads off directly.
    *
    * Scale shape: first-seen is one user-keyed agg (the same shuffle
    * retention uses), the matrix collapses to |cohorts|×|ages| rows
    * before the cumulative window runs — the window input is days², not
    * events, so the only event-volume work is two keyed aggregations. */
  val cohortLtv: QueryDef = QueryDef(
    "x_events_cohort_ltv",
    (s, dir) => {
      val e = ev(s, dir)
      val firstSeen = e.groupBy(col("user_id"))
        .agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
      val revenue = e.join(firstSeen, Seq("user_id"))
        .withColumn("age",
          datediff(date_trunc("day", col("ts")), col("cohort_day")))
        .groupBy(col("cohort_day"), col("age"))
        .agg(sum(col("value")).as("rev"),
          countDistinct(col("user_id")).as("n_users"))
      val w = Window.partitionBy(col("cohort_day")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      revenue
        .select(col("cohort_day"), col("age"), col("n_users"),
          round(col("rev"), 4).as("rev"),
          round(sum(col("rev")).over(w), 4).as("cum_rev"))
        .orderBy(col("cohort_day"), col("age"))
    },
    oracle = Some("""
      WITH f AS (SELECT user_id,
                        min(date_trunc('day', ts::TIMESTAMP)) AS cohort_day
                 FROM events GROUP BY user_id),
      m AS (SELECT f.cohort_day,
              CAST(date_diff('day', f.cohort_day,
                date_trunc('day', e.ts::TIMESTAMP)) AS INTEGER) AS age,
              sum(e.value) AS rev,
              count(DISTINCT e.user_id) AS n_users
            FROM events e JOIN f USING (user_id)
            GROUP BY 1, 2)
      SELECT cohort_day, age, n_users, round(rev, 4) AS rev,
             round(sum(rev) OVER (PARTITION BY cohort_day ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS cum_rev
      FROM m ORDER BY cohort_day, age""")
  )

  /** RFM segmentation (recency / frequency / monetary) — the classic
    * user-scoring pass: one user-keyed aggregation, then quintile scores
    * from ONE exact-percentile row broadcast back (the same
    * no-global-window pattern as d_analyze_histogram — ntile over all
    * users would be a single-partition sort; percentile bounds + a
    * per-row comparison ladder is the shape that survives a billion
    * users). Recency scores invert (fewest days = 5). Segments:
    * champion (r≥4 ∧ f≥4 ∧ m≥4), at_risk (r≤2 ∧ f≥4), regular. */
  val rfm: QueryDef = QueryDef(
    "x_events_rfm",
    (s, dir) => {
      val e = ev(s, dir)
      val perUser = e.groupBy(col("user_id"))
        .agg(max(date_trunc("day", col("ts"))).as("last_day"),
          count(lit(1)).as("f"),
          // monetary in integer CENTS: a float sum's engine-dependent
          // last bit must not sit on a quintile-score discontinuity
          sum(round(col("value") * 100).cast("long")).as("m"))
      val corpusDay = e.agg(max(date_trunc("day", col("ts")))
        .as("corpus_day"))
      val withR = perUser.crossJoin(broadcast(corpusDay))
        .withColumn("days",
          datediff(col("corpus_day"), col("last_day")).cast("long"))
      val cutCols = for {
        (dim, nm) <- Seq(("days", "d"), ("f", "fq"), ("m", "mq"))
        q <- Seq(20, 40, 60, 80)
      } yield expr(s"percentile($dim, 0.$q)").as(s"${nm}$q")
      val cuts = withR.agg(cutCols.head, cutCols.tail: _*)
      def ladder(v: Column, nm: String): Column =
        lit(1) + Seq(20, 40, 60, 80)
          .map(q => when(v > col(s"${nm}$q"), 1).otherwise(0))
          .reduce(_ + _)
      withR.crossJoin(broadcast(cuts))
        .withColumn("r_score", lit(6) - ladder(col("days"), "d"))
        .withColumn("f_score", ladder(col("f"), "fq"))
        .withColumn("m_score", ladder(col("m"), "mq"))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4 &&
            col("m_score") >= 4, "champion")
            .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
            .otherwise("regular"))
        .select(col("user_id"), col("days"), col("f"), col("m"),
          col("r_score"), col("f_score"), col("m_score"), col("segment"))
        .orderBy(col("user_id"))
    },
    oracle = Some("""
      WITH u AS (SELECT user_id,
               max(date_trunc('day', ts::TIMESTAMP)) AS last_day,
               CAST(count(*) AS BIGINT) AS f,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
             FROM events GROUP BY user_id),
      mx AS (SELECT max(date_trunc('day', ts::TIMESTAMP)) AS corpus_day
             FROM events),
      r AS (SELECT u.*, CAST(date_diff('day', last_day, corpus_day)
              AS BIGINT) AS days FROM u, mx),
      c AS (SELECT quantile_cont(days, 0.2) AS d20,
              quantile_cont(days, 0.4) AS d40,
              quantile_cont(days, 0.6) AS d60,
              quantile_cont(days, 0.8) AS d80,
              quantile_cont(f, 0.2) AS fq20, quantile_cont(f, 0.4) AS fq40,
              quantile_cont(f, 0.6) AS fq60, quantile_cont(f, 0.8) AS fq80,
              quantile_cont(m, 0.2) AS mq20, quantile_cont(m, 0.4) AS mq40,
              quantile_cont(m, 0.6) AS mq60, quantile_cont(m, 0.8) AS mq80
            FROM r),
      sc AS (SELECT r.user_id, r.days, r.f, r.m,
               6 - (1 + CASE WHEN r.days > c.d20 THEN 1 ELSE 0 END
                      + CASE WHEN r.days > c.d40 THEN 1 ELSE 0 END
                      + CASE WHEN r.days > c.d60 THEN 1 ELSE 0 END
                      + CASE WHEN r.days > c.d80 THEN 1 ELSE 0 END)
                 AS r_score,
               1 + CASE WHEN r.f > c.fq20 THEN 1 ELSE 0 END
                 + CASE WHEN r.f > c.fq40 THEN 1 ELSE 0 END
                 + CASE WHEN r.f > c.fq60 THEN 1 ELSE 0 END
                 + CASE WHEN r.f > c.fq80 THEN 1 ELSE 0 END AS f_score,
               1 + CASE WHEN r.m > c.mq20 THEN 1 ELSE 0 END
                 + CASE WHEN r.m > c.mq40 THEN 1 ELSE 0 END
                 + CASE WHEN r.m > c.mq60 THEN 1 ELSE 0 END
                 + CASE WHEN r.m > c.mq80 THEN 1 ELSE 0 END AS m_score
             FROM r, c)
      SELECT user_id, days, f, m,
             CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
             CAST(m_score AS INT) AS m_score,
             CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                  WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                  ELSE 'regular' END AS segment
      FROM sc ORDER BY user_id""")
  )

  /** Market-basket co-occurrence with lift — classic association-rule
    * mining over each user's purchased item set (items = the `k` prop):
    * lift(a,b) = P(a,b) / (P(a)·P(b)) over user baskets, support ≥ 2
    * users, top 20 by (lift desc, pair). All counts are exact integers
    * from grouped aggregation; lift is one float division per surviving
    * pair, so the ranking replays bit-exactly.
    *
    * Scale shape (r16, guide §2.3/§2.5): the old per-user row×row
    * self-join shuffled Σ basket² candidate rows into the pair
    * aggregate — one pathological basket (a crawler with 10⁵ distinct
    * items) made the shuffle quadratic at 100 TB. Now each user's
    * distinct items collapse to ONE basket row first (the same
    * user-keyed shuffle the distinct already pays), the a<b pairs are
    * generated map-side by two codegen'd explodes, and partial
    * aggregation reduces them before the only remaining exchange
    * (distinct pairs). Per-user pair GENERATION is still Σ basket² —
    * that is the declared result's intrinsic size — but it happens
    * in-task and pre-aggregated, never as shuffled rows. */
  val copurchase: QueryDef = QueryDef(
    "x_events_copurchase",
    (s, dir) => {
      val bought = ev(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .distinct()
      val ic = bought.groupBy(col("item")).agg(count(lit(1)).as("c"))
      val nu = bought.agg(countDistinct(col("user_id")).as("nu"))
      // collect_set drops null items; the old join dropped them too
      // (null < x is null), and ic/nu still count them identically
      val baskets = bought.groupBy(col("user_id"))
        .agg(collect_set(col("item")).as("items"))
      val pairs = baskets
        .select(explode(col("items")).as("item_a"), col("items"))
        .select(col("item_a"), explode(col("items")).as("item_b"))
        .filter(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 2)
      pairs
        .join(broadcast(ic.select(col("item").as("item_a"),
          col("c").as("c_a"))), Seq("item_a"))
        .join(broadcast(ic.select(col("item").as("item_b"),
          col("c").as("c_b"))), Seq("item_b"))
        .crossJoin(broadcast(nu))
        .select(col("item_a"), col("item_b"), col("c_ab"), col("c_a"),
          col("c_b"),
          round((col("c_ab") * col("nu")) / (col("c_a") * col("c_b")), 4)
            .as("lift"))
        .orderBy(col("lift").desc, col("item_a"), col("item_b"))
        .limit(20)
    },
    oracle = Some("""
      WITH p AS (SELECT DISTINCT user_id,
                   CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)
                     AS item
                 FROM events WHERE event_type = 'purchase'),
      ic AS (SELECT item, count(*) AS c FROM p GROUP BY item),
      nu AS (SELECT count(DISTINCT user_id) AS nu FROM p),
      pr AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
             FROM p a JOIN p b
               ON a.user_id = b.user_id AND a.item < b.item
             GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT pr.item_a, pr.item_b, pr.c_ab, ia.c AS c_a, ib.c AS c_b,
             round((pr.c_ab * nu.nu) / CAST(ia.c * ib.c AS DOUBLE), 4)
               AS lift
      FROM pr JOIN ic ia ON ia.item = pr.item_a
        JOIN ic ib ON ib.item = pr.item_b CROSS JOIN nu
      ORDER BY lift DESC, pr.item_a, pr.item_b LIMIT 20""")
  )

  /** Stream LINEAGE id, tied to the checkpoint location's lifetime: read
    * from `_graft_stream_id` inside the checkpoint dir, or minted and
    * persisted there when the checkpoint is fresh. Restarting the same
    * checkpoint keeps the id (normal recovery, batch-id replay allowed);
    * deleting/re-pointing the checkpoint mints a new one (detected as a
    * reset by applyCdcBatch). Spark's own query `runId` won't do here —
    * it changes on EVERY restart, including legitimate same-checkpoint
    * recovery. */
  private[graft] def streamLineageId(cp: String): String = {
    import java.nio.file.{Files, Paths}
    val f = Paths.get(cp, "_graft_stream_id")
    if (Files.exists(f)) Files.readString(f).trim
    else {
      Files.createDirectories(f.getParent)
      val id = java.util.UUID.randomUUID().toString
      Files.writeString(f, id + "\n")
      id
    }
  }

  /** One CDC micro-batch MERGE into the per-user state table `state` of
    * the catalog at `tmp`: one `Catalog.update` whose commit also sets the
    * applied (lineage, batch id) as the table props `cdc.lineage` and
    * `cdc.batch`, so the merged rows and the batch they absorbed publish
    * together or not at all.
    *
    *  - IDEMPOTENT replay: a batch id at or below the applied one (a
    *    crash after the commit, before the stream checkpoint committed)
    *    is a no-op instead of double-counting its running sums; a crash
    *    before the commit published nothing, so the batch merges once
    *    when the stream presents it again;
    *  - checkpoint-RESET detection: `runId` is the stream LINEAGE id
    *    (`streamLineageId`: it survives restarts of the same checkpoint
    *    and is fresh for a fresh checkpoint dir). State stamped by a
    *    DIFFERENT lineage means the stream restarted with a new/deleted
    *    checkpoint against persisted state: batch ids restart at 0, so
    *    the bid guard alone would silently drop every batch forever.
    *    That mismatch fails loudly — the operator must either keep the
    *    checkpoint or reset the state table with it.
    *
    * The step runs under the table lock, and each merge vacuums the state
    * to one retained version. Exposed for the crash/replay simulation in
    * StreamingSpec. */
  private[graft] def applyCdcBatch(tmp: String, batch: DataFrame,
      bid: Long, runId: String = ""): Unit = {
    val cat = new graft.sources.Catalog(batch.sparkSession, tmp)
    val bAgg = batch.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("st"),
        count(lit(1)).as("n"))
    graft.sources.TableLocks.withLock(tmp, "state") {
      if (!cat.listTables.contains("state"))
        cat.createTable("state", bAgg.schema)
      val applied = cat.prop("state", "cdc.batch").fold(-1L)(_.toLong)
      val appliedRun = cat.prop("state", "cdc.lineage")
      if (runId.nonEmpty && appliedRun.exists(_ != runId))
        throw new IllegalStateException(
          s"CDC state at ${cat.tablePath("state")} was written by stream " +
            s"lineage ${appliedRun.get} (through batch $applied) but this " +
            s"stream is lineage $runId (batch $bid): the checkpoint was " +
            "reset while the state table persists — refusing to merge " +
            "(double-count) or skip (data loss); reset the state table " +
            "together with the checkpoint, or restore the original " +
            "checkpoint")
      if (applied < bid) {
        cat.update("state", _.unionByName(bAgg)
            .groupBy(col("user_id"))
            .agg(max(col("st")).as("st"), sum(col("n")).as("n")),
          Map("cdc.batch" -> bid.toString) ++
            Option(runId).filter(_.nonEmpty).map("cdc.lineage" -> _))
        cat.vacuumVersions("state", keep = 1)
      }
    }
  }

  /** Streaming CDC APPLY — the "stream into a serving table" pattern: the
    * event stream is a change feed keyed by user_id, and each micro-batch
    * MERGEs into a persisted per-user state table (last-writer-wins by
    * (ts, event_id), plus a running change count). maxFilesPerTrigger=1
    * forces 4 real micro-batches, so the upsert genuinely runs 4 times
    * and the final table is provably batch-boundary-independent: LWW
    * under a total order and count-sum are both associative, so the state
    * equals the batch answer byte-for-byte — which is exactly what the
    * DuckDB oracle checks.
    *
    * Scale shape: state is ONE row per key (bounded by |users|, not event
    * volume); each merge shuffles (key, 24-byte struct) pairs — batch
    * size + state size, never history; at 100 TB this is the foreachBatch
    * MERGE a lakehouse CDC sink runs, with the catalog's manifest commit
    * as the table format's atomic commit. */
  val streamCdcUpsert: QueryDef = QueryDef(
    "x_stream_cdc_upsert",
    (s, dir) => {
      val tmp = DdlDmlQueries.scratch("stream_cdc_upsert")
      val staged = s"$tmp/events_src"
      ev(s, dir).repartition(4).write.mode("overwrite").parquet(staged)
      val lineage = streamLineageId(s"$tmp/cp")
      val q = s.readStream.schema(ev(s, dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          applyCdcBatch(tmp, batch, bid, lineage)
        }
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      new graft.sources.Catalog(s, tmp).table("state")
        .select(col("user_id"), col("st.ts").as("last_ts"),
          col("st.event_type").as("last_type"),
          col("st.value").as("last_value"), col("n").as("n_events"))
        .orderBy(col("user_id"))
    },
    oracle = Some("""
      WITH r AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rk
                 FROM events),
           c AS (SELECT user_id, count(*) AS n_events FROM events
                 GROUP BY user_id)
      SELECT r.user_id, r.ts AS last_ts, r.event_type AS last_type,
             r.value AS last_value, c.n_events
      FROM r JOIN c USING (user_id) WHERE rk = 1
      ORDER BY r.user_id""")
  )

  /** CUSUM change-point detection over the hourly rate — the sequential
    * complement to x_events_anomaly's pointwise z-score: a z-score flags
    * one loud hour, CUSUM accumulates SMALL persistent shifts
    * (S_h = max(0, S_{h−1} + (y_h − μ − 0.5σ))) and fires when the
    * cumulative drift exceeds 4σ — the "traffic quietly doubled over six
    * hours" alarm a per-point rule never raises. Per event type: hourly
    * counts (observed hours), exact-integer mean/variance sums, the
    * recursive CUSUM via an ordered array fold (same mechanics as
    * x_events_ewma), and a flag rollup (first alarm hour, alarm count,
    * peak statistic).
    *
    * Scale shape: the fold runs over |types| × |observed hours| rows —
    * event volume collapses in the first two-phase agg; recursion state
    * is one double per type. The flat-σ guard mirrors x_events_anomaly. */
  val changepoint: QueryDef = QueryDef(
    "x_events_changepoint",
    (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("hr"), col("n")))).as("s"),
          count(lit(1)).as("n_hours"),
          sum(col("n")).as("tot"),
          sum(col("n") * col("n")).as("tot2"))
        .withColumn("mu", col("tot").cast("double") / col("n_hours"))
        .withColumn("sigma", sqrt(col("tot2").cast("double") / col("n_hours")
          - col("mu") * col("mu")))
        .withColumn("cus", expr("""
          aggregate(s, cast(array() as array<double>),
            (acc, x) -> concat(acc, array(
              greatest(0.0D,
                CASE WHEN size(acc) = 0 THEN 0.0D
                     ELSE element_at(acc, -1) END
                + (cast(x.n as double) - mu - 0.5D * sigma)))))"""))
        .select(col("event_type"), col("n_hours"), col("mu"),
          col("sigma"), col("cus"), posexplode(col("s")))
        .select(col("event_type"), col("n_hours"), col("mu"), col("sigma"),
          col("col.hr").as("hr"),
          element_at(col("cus"), col("pos") + 1).as("cusum"))
        .withColumn("flag",
          col("sigma") > 0 && col("cusum") > lit(4.0) * col("sigma"))
        .groupBy(col("event_type"), col("n_hours"))
        .agg(round(first(col("mu")), 4).as("mu"),
          round(first(col("sigma")), 4).as("sigma"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_flags"),
          min(when(col("flag"), col("hr"))).as("first_flag_hr"),
          round(max(col("cusum")), 4).as("max_cusum"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      WITH RECURSIVE h AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY date_trunc('hour', ts)) AS idx
        FROM events GROUP BY event_type, date_trunc('hour', ts)),
      st AS (SELECT event_type, count(*) AS n_hours,
               CAST(sum(n) AS BIGINT) AS tot,
               CAST(sum(n * n) AS BIGINT) AS tot2
             FROM h GROUP BY event_type),
      sm AS (SELECT event_type, n_hours,
               CAST(tot AS DOUBLE) / n_hours AS mu,
               sqrt(CAST(tot2 AS DOUBLE) / n_hours
                 - (CAST(tot AS DOUBLE) / n_hours)
                   * (CAST(tot AS DOUBLE) / n_hours)) AS sigma
             FROM st),
      r AS (SELECT h.event_type, h.idx, h.hr,
              greatest(0.0, CAST(h.n AS DOUBLE) - sm.mu - 0.5 * sm.sigma)
                AS cusum
            FROM h JOIN sm USING (event_type) WHERE h.idx = 1
            UNION ALL
            SELECT h.event_type, h.idx, h.hr,
              greatest(0.0,
                r.cusum + (CAST(h.n AS DOUBLE) - sm.mu - 0.5 * sm.sigma))
                AS cusum
            FROM h JOIN r ON h.event_type = r.event_type
                         AND h.idx = r.idx + 1
                   JOIN sm ON sm.event_type = h.event_type)
      SELECT sm.event_type, sm.n_hours, round(sm.mu, 4) AS mu,
             round(sm.sigma, 4) AS sigma,
             CAST(sum(CASE WHEN sm.sigma > 0 AND r.cusum > 4.0 * sm.sigma
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_flags,
             min(CASE WHEN sm.sigma > 0 AND r.cusum > 4.0 * sm.sigma
                      THEN r.hr END) AS first_flag_hr,
             round(max(r.cusum), 4) AS max_cusum
      FROM r JOIN sm USING (event_type)
      GROUP BY sm.event_type, sm.n_hours, sm.mu, sm.sigma
      ORDER BY sm.event_type""")
  )

  /** A/B experiment readout — the analysis every product experiment runs
    * over an event stream: users are hash-assigned to two arms
    * (fingerprint64 with an experiment-scoped salt, independent of every
    * pipeline hash — assignment must not correlate with splits or
    * shards), conversion = "user has ≥1 purchase", and the readout is
    * per-arm rates plus the pooled two-proportion z statistic the
    * launch decision reads. Salted-hash assignment is also what makes
    * the experiment REPRODUCIBLE: any cluster recomputes the same arms.
    *
    * Scale shape: one groupBy(user) collapse (conversion flag per user),
    * then a 2-row arm aggregation; the z-statistic is driver-free column
    * arithmetic on the aggregate row. Event volume only touches the
    * first two-phase agg. */
  val abtest: QueryDef = QueryDef(
    "x_events_abtest",
    (s, dir) => {
      // "converted" = heavy purchaser (count above the corpus median) —
      // a scale-free criterion: the planted data has every user buying
      // at least once, so presence alone would make both rates 1.0 and
      // the z statistic 0/0; a median split guarantees both outcome
      // classes are populated at any corpus size
      val np = ev(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
      val med = np.agg(expr("percentile(np, 0.5)").as("med"))
      val users = np.crossJoin(broadcast(med))
        .withColumn("converted",
          when(col("np") > col("med"), 1L).otherwise(0L))
        .withColumn("arm", pmod(graft.functions.HashFunctions.fingerprint64(
          concat(lit("exp1:"), col("user_id").cast("string"))), lit(2L)))
      users.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 0, col("converted")).otherwise(0L))
            .as("conv_a"),
          sum(when(col("arm") === 1, col("converted")).otherwise(0L))
            .as("conv_b"))
        .withColumn("rate_a",
          round(col("conv_a").cast("double") / col("n_a"), 6))
        .withColumn("rate_b",
          round(col("conv_b").cast("double") / col("n_b"), 6))
        .withColumn("pooled", (col("conv_a") + col("conv_b")).cast("double")
          / (col("n_a") + col("n_b")))
        .withColumn("z", round(
          (col("conv_b").cast("double") / col("n_b")
            - col("conv_a").cast("double") / col("n_a"))
          / sqrt(col("pooled") * (lit(1.0) - col("pooled"))
            * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4))
        .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
          col("rate_a"), col("rate_b"), col("z"))
    },
    oracle = Some("""
      WITH np AS (SELECT user_id,
                    CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS np
                  FROM events GROUP BY user_id),
      md AS (SELECT quantile_cont(np, 0.5) AS med FROM np),
      u AS (SELECT user_id,
              CASE WHEN np.np > md.med THEN 1 ELSE 0 END AS converted
            FROM np CROSS JOIN md),
      f AS (SELECT user_id, converted,
          list_reduce(
            list_prepend(0::HUGEINT,
              list_transform(range(1,
                  octet_length(encode('exp1:' || user_id)) + 1),
                i -> CAST((strpos('0123456789ABCDEF',
                         substr(hex(encode('exp1:' || user_id)), i*2-1, 1))
                         - 1) * 16
                   + (strpos('0123456789ABCDEF',
                         substr(hex(encode('exp1:' || user_id)), i*2, 1))
                         - 1) AS HUGEINT))),
            (acc, b) -> (acc * 1000003::HUGEINT + b)
                        % 18446744073709551616::HUGEINT) AS acc
        FROM u),
      arm AS (SELECT converted,
               ((CAST(CASE WHEN acc >= 9223372036854775808::HUGEINT
                           THEN acc - 18446744073709551616::HUGEINT
                           ELSE acc END AS BIGINT) % 2) + 2) % 2 AS arm
             FROM f),
      a AS (SELECT
              CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_a,
              CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_b,
              CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                AS BIGINT) AS conv_a,
              CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                AS BIGINT) AS conv_b
            FROM arm)
      SELECT n_a, n_b, conv_a, conv_b,
             round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
             round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
             round((CAST(conv_b AS DOUBLE) / n_b
                    - CAST(conv_a AS DOUBLE) / n_a)
               / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 / n_a + 1.0 / n_b)), 4) AS z
      FROM a""")
  )

  /** Robust outlier detection via MAD (median absolute deviation) — the
    * heavy-tail-safe complement to x_events_anomaly's z-score: a mean/σ
    * rule is itself dragged by the outliers it hunts (one 100× spike
    * inflates σ and hides a 10× spike); the modified z-score
    * 0.6745·(y − median)/MAD (Iglewicz-Hoaglin, |rz| > 3.5) is immune to
    * up to 50% contamination. Exact interpolated medians on both
    * engines; MAD = 0 (constant series) pins rz to 0 — the flat-σ rule
    * again.
    *
    * Scale shape: event volume collapses in the hourly two-phase agg;
    * both medians are per-type exact percentiles over |hours| rows —
    * the same broadcast-percentile shape as x_events_rfm, no global
    * sort. */
  val outlierMad: QueryDef = QueryDef(
    "x_events_outlier_mad",
    (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val med = hourly.groupBy(col("event_type"))
        .agg(expr("percentile(n, 0.5)").as("med"))
      val dev = hourly.join(med, Seq("event_type"))
        .withColumn("adev", abs(col("n").cast("double") - col("med")))
      val madT = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(madT, Seq("event_type"))
        .withColumn("rz", when(col("mad") > 0,
          lit(0.6745) * (col("n").cast("double") - col("med")) / col("mad"))
          .otherwise(lit(0.0)))
        .withColumn("flag", abs(col("rz")) > 3.5)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          round(min(col("med")), 4).as("med"),
          round(min(col("mad")), 4).as("mad"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_flags"),
          min(when(col("flag"), col("hr"))).as("first_flag_hr"),
          round(max(abs(col("rz"))), 4).as("max_abs_rz"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                   CAST(count(*) AS BIGINT) AS n
                 FROM events GROUP BY event_type, date_trunc('hour', ts)),
      md AS (SELECT event_type, quantile_cont(n, 0.5) AS med
             FROM h GROUP BY event_type),
      dv AS (SELECT h.event_type, h.hr, h.n, md.med,
               abs(CAST(h.n AS DOUBLE) - md.med) AS adev
             FROM h JOIN md USING (event_type)),
      m2 AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
             FROM dv GROUP BY event_type),
      rz AS (SELECT dv.event_type, dv.hr, dv.n, dv.med, m2.mad,
               CASE WHEN m2.mad > 0
                    THEN 0.6745 * (CAST(dv.n AS DOUBLE) - dv.med) / m2.mad
                    ELSE 0.0 END AS rz
             FROM dv JOIN m2 USING (event_type))
      SELECT event_type, count(*) AS n_hours,
             round(min(med), 4) AS med,
             round(min(mad), 4) AS mad,
             CAST(sum(CASE WHEN abs(rz) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flags,
             min(CASE WHEN abs(rz) > 3.5 THEN hr END) AS first_flag_hr,
             round(max(abs(rz)), 4) AS max_abs_rz
      FROM rz GROUP BY event_type ORDER BY event_type""")
  )

  /** Funnel LATENCY: time-to-convert distribution (first view → first
    * purchase) — the companion metric to x_events_funnel's conversion
    * COUNT: two funnels with identical rates but hour-vs-week latency
    * are different products. One per-user collapse yields each user's
    * first view / first purchase; converted users (purchase strictly
    * after view) contribute a lag; the report is the count + exact
    * p50/p90/min/max of the lag distribution in seconds.
    *
    * Scale shape: event volume collapses in the per-user two-phase agg
    * (two timestamps per user); the percentiles run over |users| rows.
    * Exact interpolated percentiles match quantile_cont bit-for-bit. */
  val conversionLag: QueryDef = QueryDef(
    "x_events_conversion_lag",
    (s, dir) => {
      val f = ev(s, dir).groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts")))
          .as("first_view"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("first_purchase"))
        .filter(col("first_view").isNotNull &&
          col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_view"))
        .withColumn("lag_s",
          (unix_micros(col("first_purchase")) -
            unix_micros(col("first_view"))).cast("double") / lit(1000000))
      f.agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lag_s, 0.5)"), 3).as("p50_lag_s"),
        round(expr("percentile(lag_s, 0.9)"), 3).as("p90_lag_s"),
        round(min(col("lag_s")), 3).as("min_lag_s"),
        round(max(col("lag_s")), 3).as("max_lag_s"))
    },
    oracle = Some("""
      WITH f AS (SELECT user_id,
                   min(CASE WHEN event_type = 'view'
                            THEN ts::TIMESTAMP END) AS fv,
                   min(CASE WHEN event_type = 'purchase'
                            THEN ts::TIMESTAMP END) AS fp
                 FROM events GROUP BY user_id),
      g AS (SELECT CAST(epoch_us(fp) - epoch_us(fv) AS DOUBLE) / 1000000
              AS lag_s
            FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv)
      SELECT count(*) AS n_converted,
             round(quantile_cont(lag_s, 0.5), 3) AS p50_lag_s,
             round(quantile_cont(lag_s, 0.9), 3) AS p90_lag_s,
             round(min(lag_s), 3) AS min_lag_s,
             round(max(lag_s), 3) AS max_lag_s
      FROM g""")
  )

  /** Kaplan-Meier survival curve for time-to-convert — the CENSORING-
    * aware upgrade of x_events_conversion_lag: a plain lag distribution
    * silently drops every user who hasn't converted YET, biasing the
    * curve optimistic; KM keeps them in the risk set until their
    * observation window ends (censor time = corpus end − first view).
    * S(t) = Π_{u ≤ t} (1 − d_u/n_u) over event hours; the running
    * product runs as exp(running-sum of ln), with each ln term rounded
    * to 12 decimals and summed through exact DECIMAL so the accumulation
    * order cannot perturb the curve — which lets the running sums be
    * true parallel prefix-scans.
    *
    * Scale shape: one per-user collapse (two timestamps), a |distinct
    * hours|-row table, and range-partitioned prefix-scans over it
    * ([[graft.functions.Prefix]] — no single-partition window); event
    * volume never reaches the scans. The corpus-end timestamp is one
    * broadcast scalar. */
  val survivalKm: QueryDef = QueryDef(
    "x_events_survival_km",
    (s, dir) => {
      val fx = ev(s, dir).groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("fv"),
          min(when(col("event_type") === "purchase", col("ts"))).as("fp"))
      val mx = ev(s, dir).agg(max(col("ts")).as("mt"))
      val coh = fx.crossJoin(broadcast(mx))
        .filter(col("fv").isNotNull &&
          (col("fp").isNull || col("fp") > col("fv")))
        .select(
          when(col("fp").isNotNull,
            expr("(unix_micros(fp) - unix_micros(fv)) div 3600000000"))
            .otherwise(
              expr("(unix_micros(mt) - unix_micros(fv)) div 3600000000"))
            .as("t"),
          when(col("fp").isNotNull, 1L).otherwise(0L).as("ev"))
      val nTotal = coh.agg(count(lit(1)).as("n_total"))
      val at = coh.groupBy(col("t"))
        .agg(count(lit(1)).as("c_all"), sum(col("ev")).as("d"))
      val P = graft.functions.Prefix
      // the scans run over the bounded distinct-hours domain — a small
      // explicit fan-out avoids sharding a tiny table across a cluster's
      // default shuffle partitioning
      val risk = P.over(at.crossJoin(broadcast(nTotal)), Seq(col("t")),
          Seq(P.sumOf(col("c_all"), "before0", inclusive = false)),
          numParts = 8)
        .withColumn("n_risk",
          col("n_total") - coalesce(col("before0"), lit(0L)))
        // a time where EVERYONE at risk converts makes the ratio 0 —
        // ln(0) diverges between engines (Spark null, DuckDB error), so
        // the zero factor is carried as a running flag instead; each ln
        // term rounds to 12 decimals and runs through exact DECIMAL so
        // the prefix-scan's merge order cannot perturb the product (the
        // same order-immune discipline as the GD gradients). d = 0 rows
        // contribute an exact 0 term and a 0 flag, so both running
        // aggregates can include them and the d ≥ 1 filter moves last.
        .withColumn("term",
          round(when(col("d") < col("n_risk"),
            log(lit(1.0) - col("d").cast("double") / col("n_risk")))
            .otherwise(lit(0.0)), 12).cast("decimal(28,12)"))
        .withColumn("flag",
          when(col("d") >= col("n_risk"), 1).otherwise(0))
      P.over(risk, Seq(col("t")),
          Seq(P.maxOf(col("flag"), "zeroed"),
            P.sumOf(col("term"), "termsum")), numParts = 8)
        .filter(col("d") >= 1)
        .withColumn("surv", round(when(col("zeroed") === 1, lit(0.0))
          .otherwise(exp(col("termsum").cast("double"))), 6))
        .select(col("t").as("t_hours"), col("n_risk"),
          col("d").as("d_events"), col("surv"))
        .orderBy(col("t_hours"))
    },
    oracle = Some("""
      WITH fx AS (SELECT user_id,
                    min(CASE WHEN event_type = 'view'
                             THEN ts::TIMESTAMP END) AS fv,
                    min(CASE WHEN event_type = 'purchase'
                             THEN ts::TIMESTAMP END) AS fp
                  FROM events GROUP BY user_id),
      mx AS (SELECT max(ts::TIMESTAMP) AS mt FROM events),
      coh AS (SELECT CASE WHEN fp IS NOT NULL
                     THEN (epoch_us(fp) - epoch_us(fv)) // 3600000000
                     ELSE (epoch_us(mt) - epoch_us(fv)) // 3600000000
                       END AS t,
                     CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS ev
              FROM fx CROSS JOIN mx
              WHERE fv IS NOT NULL AND (fp IS NULL OR fp > fv)),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM coh),
      att AS (SELECT t, CAST(count(*) AS BIGINT) AS c_all,
                CAST(sum(ev) AS BIGINT) AS d
              FROM coh GROUP BY t),
      rk AS (SELECT t, c_all, d,
               coalesce(CAST(sum(c_all) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS before
             FROM att),
      ev2 AS (SELECT rk.t, nn.n_total - rk.before AS n_risk, rk.d
              FROM rk CROSS JOIN nn WHERE rk.d >= 1),
      km AS (SELECT t, n_risk, d,
               exp(CAST(sum(CAST(round(CASE WHEN d < n_risk
                            THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                            ELSE 0.0 END, 12) AS DECIMAL(28,12)))
                 OVER (ORDER BY t) AS DOUBLE)) AS sv,
               max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY t) AS zeroed
             FROM ev2)
      SELECT CAST(t AS BIGINT) AS t_hours, n_risk, d AS d_events,
             round(CASE WHEN zeroed = 1 THEN 0.0 ELSE sv END, 6) AS surv
      FROM km ORDER BY t_hours""")
  )

  /** Rolling active users (DAU / WAU / MAU) — the top-line product
    * metric triple: distinct users per day, per trailing 7 days, per
    * trailing 28 days. The trailing distinct-count is the classic
    * scale trap: count(DISTINCT) over a RANGE window re-scans the
    * window per day. The scalable formulation inverts it — each
    * (user, active-day) row VOTES into the 7 (28) future days its
    * activity keeps alive, then one distinct + count per target day:
    * constant-factor explode, two-phase aggs, no windowed distinct.
    * The DuckDB oracle uses the declarative BETWEEN-join form, so the
    * vote formulation is checked against an algorithm-independent
    * definition.
    *
    * Scale shape: |user-days| × 7 (28) vote rows — linear in activity,
    * not in window × days; everything shuffled is (user_id, date). */
  val activeUsers: QueryDef = QueryDef(
    "x_events_active_users",
    (s, dir) => {
      val ud = ev(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val bounds = ud.agg(max(col("day")).as("d1"))
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      def rolling(days: Int, name: String) = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), days - 1)))
            .as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as(name))
      dau.join(rolling(7, "wau"), Seq("day"))
        .join(rolling(28, "mau"), Seq("day"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("d1"))
        .select(col("day").cast("timestamp").as("day"), col("dau"),
          col("wau"), col("mau"))
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                  FROM events),
      dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      wau AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
              FROM dau d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
              GROUP BY d.day),
      mau AS (SELECT d.day, count(DISTINCT u.user_id) AS mau
              FROM dau d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
              GROUP BY d.day)
      SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau, mau.mau
      FROM dau JOIN wau USING (day) JOIN mau USING (day)
      ORDER BY day""")
  )

  /** Holt double-exponential smoothing (level + trend) with a one-hour-
    * ahead forecast — the trend-aware upgrade of x_events_ewma: simple
    * EWMA lags a trending series by construction; Holt carries a second
    * smoothed TREND state (α = 0.3, β = 0.2, standard initialization
    * l₁ = y₁, b₁ = y₂ − y₁) and forecasts ŷ = l + b. Reported per type:
    * the final level/trend and the next-hour forecast — the number a
    * capacity planner reads.
    *
    * Scale shape: same as EWMA — the coupled recursion folds over
    * |types| × |hours| collapsed rows via an ordered array fold carrying
    * a 2-double struct; the oracle replays it as a recursive CTE. Fold
    * order is the hour order in both engines, so the doubles match. */
  val holtForecast: QueryDef = QueryDef(
    "x_events_holt_forecast",
    (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("hr"), col("n"))))
          .as("s"), count(lit(1)).as("n_hours"))
        .filter(col("n_hours") >= 2)
        // seed (l = y₁, b = y₂ − y₁); the fold then processes y₂..y_n as
        // regular updates — the oracle's recursive CTE does the same
        .withColumn("lb", expr("""
          aggregate(slice(s, 2, size(s) - 1),
            struct(cast(element_at(s, 1).n as double) AS l,
                   cast(element_at(s, 2).n as double)
                     - cast(element_at(s, 1).n as double) AS b),
            (acc, x) -> struct(
              0.3D * cast(x.n as double) + 0.7D * (acc.l + acc.b) AS l,
              0.2D * ((0.3D * cast(x.n as double)
                       + 0.7D * (acc.l + acc.b)) - acc.l)
                + 0.8D * acc.b AS b))"""))
        .select(col("event_type"), col("n_hours"),
          round(col("lb.l"), 4).as("level"),
          round(col("lb.b"), 4).as("trend"),
          round(col("lb.l") + col("lb.b"), 4).as("forecast_next"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      WITH RECURSIVE h AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY date_trunc('hour', ts)) AS idx
        FROM events GROUP BY event_type, date_trunc('hour', ts)),
      nh AS (SELECT event_type, count(*) AS n_hours FROM h
             GROUP BY event_type HAVING count(*) >= 2),
      init AS (SELECT h1.event_type,
                 CAST(h1.n AS DOUBLE) AS l,
                 CAST(h2.n AS DOUBLE) - CAST(h1.n AS DOUBLE) AS b,
                 1 AS idx
               FROM h h1 JOIN h h2 ON h2.event_type = h1.event_type
                                  AND h1.idx = 1 AND h2.idx = 2),
      r AS (SELECT event_type, l, b, idx FROM init
            UNION ALL
            SELECT h.event_type,
              0.3 * CAST(h.n AS DOUBLE) + 0.7 * (r.l + r.b) AS l,
              0.2 * ((0.3 * CAST(h.n AS DOUBLE) + 0.7 * (r.l + r.b))
                     - r.l) + 0.8 * r.b AS b,
              h.idx
            FROM h JOIN r ON h.event_type = r.event_type
                         AND h.idx = r.idx + 1)
      SELECT r.event_type, nh.n_hours, round(r.l, 4) AS level,
             round(r.b, 4) AS trend,
             round(r.l + r.b, 4) AS forecast_next
      FROM r JOIN nh ON nh.event_type = r.event_type
                    AND r.idx = nh.n_hours
      ORDER BY r.event_type""")
  )

  def defs: Seq[QueryDef] = Seq(tumbling, sliding, sessionize, jsonExtract,
    dedupKeyed, leaderboard, funnel, retention, streamTumbling, streamDedup,
    streamSession, streamSliding, streamEnrich, streamJoin, anomaly,
    resample, winsorize, transitions, streamTransitions, ewma, scd2,
    pattern, attributionLinear, seasonal, cohortLtv, rfm, copurchase,
    streamCdcUpsert, changepoint, abtest, outlierMad, conversionLag,
    survivalKm, activeUsers, holtForecast)
}
