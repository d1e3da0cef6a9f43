package perfbench

import java.util.concurrent.Executors

/** `power_stream`: one closed-loop client running passes over TPC-H
  * q01-q22 and one data-pipeline extension in a seed-permuted order, each
  * query from DataFrame construction to its last row through the noop
  * sink. The TPC-H queries are the reference's own perf suite (a power
  * stream timed per query); they are short, so driver-side layers carry a
  * large share of each wall, and their construction starts no jobs. The
  * extension, x_pipeline_quality_classifier, trains a document quality
  * classifier while its DataFrame is built: the feature table is eagerly
  * checkpointed (`sources.Checkpoints.barrier`) and each gradient step is
  * a job, so it is the stream's one query whose construction runs jobs. */
object PowerStream {
  val tpch: Seq[String] = Seq(
    "q01_pricing_summary", "q02_min_cost_supplier", "q03_shipping_priority",
    "q04_order_priority", "q05_local_supplier_volume", "q06_forecast_revenue",
    "q07_volume_shipping", "q08_market_share", "q09_product_profit",
    "q10_returned_items", "q11_important_stock", "q12_ship_mode_priority",
    "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
    "q16_parts_supplier", "q17_small_quantity", "q18_large_volume_customer",
    "q19_discounted_revenue", "q20_excess_stock", "q21_suppliers_waiting",
    "q22_global_sales")
  // the slowest query first, so the warm pass does not end on it alone
  val queries: Seq[String] = "x_pipeline_quality_classifier" +: tpch

  def run(r: Run): String = {
    val a = r.a
    def query(n: String, trace: Boolean = true): Unit = {
      r.resetState()
      r.op("query", n, trace = trace) { construct =>
        val df = construct(graft.SparkEntry.queries(n)(r.spark, a.data))
        df.write.mode("overwrite").format("noop").save()
      }
    }

    // Untimed warm pass, which is also the output check: every query's
    // result is written for run.py to compare with the recorded oracle
    // answers. The queries run `cores` at a time to shorten the warm-up.
    var verifyMs = 0.0
    val setup = r.setup {
      val t0 = r.clock.nowMs()
      val pool = Executors.newFixedThreadPool(a.cores)
      try {
        queries.map(n => pool.submit(new Runnable {
          def run(): Unit = r.op("verify", n) { _ =>
            graft.SparkEntry.queries(n)(r.spark, a.data)
              .write.mode("overwrite").parquet(s"${a.work}/verify/$n")
          }
        })).foreach(_.get())
      } finally pool.shutdown()
      verifyMs = r.clock.nowMs() - t0
    }

    if (!a.trace) {
      // Whole passes only, so every run times the same query mix; another
      // pass starts while the last one predicts it ends inside the window.
      val windowMs = a.seconds * 1000.0
      val w0 = r.clock.nowMs()
      var pass = 0
      var lastMs = 0.0
      while (pass == 0 || r.clock.nowMs() - w0 + lastMs <= windowMs) {
        val p0 = r.clock.nowMs()
        Schedule.passOrder(queries, a.seed, pass).foreach(query(_))
        lastMs = r.clock.nowMs() - p0
        pass += 1
      }
    } else r.traced {
      // One pass with every query run twice in a row, traced and untraced
      // in alternating order, so warm-up drift cancels in the overhead.
      for ((n, i) <- Schedule.passOrder(queries, a.seed, 0).zipWithIndex) {
        query(n, trace = i % 2 == 0)
        query(n, trace = i % 2 == 1)
      }
    }

    val ops = r.timed(Set("query"), traced = false)
    val lat = ops.filter(_.ok).map(_.latencyMs)
    val spanMs = ops.map(_.end).max - ops.map(_.start).min
    val e2e = Seq(
      "setup_s" -> setup,
      "queries_per_min" -> lat.size / (spanMs / 60000),
      "query_p50_ms" -> Stats.median(lat))
    val extra = Seq(
      "tables_register_ms" -> Json.num(r.registerMs),
      "verify_pass_s" -> Json.num(verifyMs / 1000),
      "passes" -> (ops.size / queries.size).toString,
      "query_samples" -> lat.size.toString,
      "query_tail" -> Json.tail(lat),
      "per_query_ms" -> Json.obj(queries.map(n => n -> Json.num(
        Stats.median(ops.filter(o => o.name == n && o.ok).map(_.latencyMs))))),
      "verify_queries" -> queries.map(Json.str).mkString("[", ",", "]"))
    val layers =
      if (a.trace) r.layerMetrics(Set("query")) ++ DwWeek.idleCatalogLayers
      else Nil
    r.result(e2e, extra ++ DwWeek.idleCatalogNote(a.trace), layers)
  }
}
