package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Benchmark main — driver contract: print ONE JSON line
  * {"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}.
  *
  * Headline queries span every operator family (scan/agg, join snowflake,
  * window, high-cardinality two-phase agg, and the extension dedup/ann/
  * events/text pipelines). Each query executes to completion through the
  * noop sink (full plan runs, nothing materializes driver-side), after a
  * warmup query absorbs JVM/session startup.
  *
  * Every leg (headline/extended timing, 2-user, mixed, soak, scaling,
  * sweep, regression tripwire) is a function of its inputs: it takes its
  * query timer and its sizes or durations as parameters, so a test can
  * drive it with a fake timer. `main` wires in the defaults below. Each
  * bound reads `true`, or `false` with the bound's reason; `null` only
  * for a leg that was skipped (SCALE.md §"Bench bounds").
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "q21_suppliers_waiting",
    "j_inner_large",
    "a_high_cardinality",
    "w_rows_frames",
    "o_topk",
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_ann_brute_topk",
    "x_events_sessionize",
    "x_text_quality")

  /** Heavier round-4 pipeline/index queries, timed in a separate section
    * so `headline_total` stays comparable across rounds. */
  val extended: Seq[String] = Seq(
    "x_pipeline_e2e",
    "x_ann_ivfpq_topk",
    "x_ann_sq8_topk",
    "x_search_bm25",
    "x_dedup_chunks",
    "x_dedup_cc",
    "x_text_entropy",
    "x_events_anomaly",
    "j_asof_attribution",
    // index lifecycle split: build time (forced retrain + artifact write)
    // vs query time over the prebuilt artifacts — reported separately
    "x_ann_index_build",
    "x_ann_ivfpq_indexed",
    // round-5 additions
    "x_events_scd2",
    "x_events_ewma",
    "x_text_cms_heavyhitters",
    "j_bloom_prefilter",
    "j_fuzzy_edit_join",
    "x_text_hll_distinct",
    "x_dedup_kmv_overlap",
    "x_dedup_cdc_chunks",
    "a_topk_per_group",
    "x_media_audio_vad",
    "x_pipeline_budget_mix",
    "x_graph_pagerank",
    "x_graph_triangles",
    "x_events_pattern",
    "j_skyline_dominance",
    "x_dedup_setjoin",
    // round-6 additions
    "x_dedup_minhash_calibration",
    "x_ann_recall_ivf",
    "d_time_travel",
    "d_zorder_layout",
    "d_matview_incremental",
    "x_ann_nprobe_sweep",
    "x_graph_labelprop",
    "x_graph_khop",
    "x_pipeline_dsir",
    "x_text_hash_embed",
    "d_analyze_histogram",
    "x_pipeline_expectations",
    "x_pipeline_drift_psi",
    "a_moments",
    // round-6 session-2 additions
    "x_dedup_containment",
    "x_media_phash_hamming_join",
    "x_ann_mrl_truncate",
    "x_pipeline_tokenizer_coverage",
    "x_pipeline_split_leakage",
    "x_stream_cdc_upsert",
    "x_ann_centroid_drift",
    "x_text_lm_kn",
    "x_search_more_like_this",
    "x_events_changepoint",
    "x_pipeline_dataset_card",
    "x_events_abtest",
    "x_ann_pq_residual_topk",
    "x_ann_pq_residual_indexed",
    "x_graph_modularity",
    "x_events_outlier_mad",
    "x_ann_mrl_rerank",
    "x_text_collocations_pmi",
    "x_ann_ood_detection",
    "x_events_conversion_lag",
    "x_pipeline_quality_classifier",
    "x_events_survival_km",
    "x_pipeline_auc",
    "x_pipeline_active_learning",
    "x_events_active_users",
    "x_text_zipf_fit",
    // round-8 additions: the ANN lifecycle maintenance legs (composed
    // merge/delete are training-inclusive oracle gates; maintenance is
    // the persisted segmented path incl. base train + append + tomb)
    "x_ann_index_merge",
    "x_ann_index_delete",
    "x_ann_index_maintenance")

  // ---- the defaults main wires into the legs ----
  // best-of-N reps: the first execution of a plan pays one-time
  // whole-stage-codegen compilation; the heavier extended set runs 2
  val headlineReps = 3
  val extendedReps = 2
  val users = 2
  val mixUsers = 4
  val mixSecs = 30
  val mixNames: Seq[String] = Seq("q01_pricing_summary",
    "q06_forecast_revenue", "j_inner_large", "a_high_cardinality",
    "o_topk", "x_dedup_exact")
  val soakGroup: Seq[String] = Seq("q01_pricing_summary",
    "q06_forecast_revenue", "j_inner_large", "a_high_cardinality")
  val scaleFactor = 8
  // auc + dsir cover the Prefix-scan rewrites; the span pair is the
  // dedup family's highest shuffled-row count (SCALE.md)
  val scaleQueries: Seq[String] = Seq("x_dedup_minhash_lsh",
    "x_dedup_chunks", "x_dedup_cc", "x_search_bm25", "x_ann_ivfpq_indexed",
    "x_dedup_setjoin", "x_graph_pagerank", "x_graph_labelprop",
    "x_graph_triangles", "x_pipeline_auc", "x_pipeline_dsir",
    "x_dedup_spans", "x_dedup_span_removal")
  // reduced 27× leg: the documents-only ops with the worst 8× raw ratios,
  // single-shot, so a regression at the 27× knee stays observable
  val scale27Factor = 27
  val scale27Queries: Seq[String] = Seq("x_graph_pagerank", "x_dedup_cc",
    "x_pipeline_dsir", "x_dedup_span_removal")
  // run-wide wall budget: inside the caller's time limit (the r14 full
  // run passed at 1881 s)
  val budgetSec = 2100.0

  private def r3(d: Double): Double = math.rint(d * 1000) / 1000
  // a failed query is JSON null, never a numeric sentinel a consumer
  // could silently fold into sums
  private def jnum(v: Option[Double]): String =
    v.map(_.toString).getOrElse("null")
  private def jlist(xs: Iterable[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")
  private def jstr(s: String): String = "\"" + s
    .replaceAll("[\\\\\"]", " ")
    .replaceAll("[\\u0000-\\u001f]", " ") + "\""
  private def warn(msg: String): Unit = System.err.println(s"[bench] $msg")

  /** Violations surviving a confirm re-measure: second-observation
    * violations whose QUERY also violated in the first (entries are
    * "query:ratio>bound" strings; ratios differ between observations,
    * the query name is the reproducibility key). */
  def confirmedViolations(first: Seq[String],
      second: Seq[String]): Seq[String] = {
    val firstQs = first.map(_.takeWhile(_ != ':')).toSet
    second.filter(v => firstQs(v.takeWhile(_ != ':')))
  }

  /** Shared verdict for the self-validating legs (mixed, 2-user,
    * scaling): torn snapshots and errors outrank bound trips; a bound
    * trip is `false` with the leg's own bound name (`boundReason`:
    * "p95_bound" mixed, "p50_bound" 2-user, "ratio_bound" scaling).
    * Returns (okJson, reasonJson). */
  def conc4Verdict(consistent: Boolean, errors: Int,
      violations: Seq[String],
      boundReason: String = "p95_bound"): (String, String) =
    if (!consistent) ("false", "\"inconsistent_snapshot\"")
    else if (errors > 0) ("false", "\"errors\"")
    else if (violations.nonEmpty) ("false", "\"" + boundReason + "\"")
    else ("true", "null")

  /** The contention bound of the 2-user p50 and the mixed p95: at most
    * 2.5× the serial wall or serial + 0.5 s, whichever is larger. The
    * absolute term is the fixed per-job FAIR-scheduler tail (0.1–0.41 s
    * measured in round 11 whatever the serial wall); the continuous form
    * has no band-edge cliff. */
  def contentionBound(serial: Double): Double =
    math.max(2.5 * serial, serial + 0.5)

  private def ratioViolation(n: String, wall: Double,
      serial: Double): Option[String] = {
    val bound = contentionBound(serial)
    if (wall > bound) Some(s"$n:${r3(wall / serial)}x>${r3(bound / serial)}x")
    else None
  }

  /** Run-wide wall budget (round-16 directive #1): the r15 32-core
    * run was killed by its caller's timeout while still inside
    * the extended section, so NO JSON line was printed. Every section
    * (and every query inside the long extended/sweep loops) first checks
    * the remaining wall and SKIPS-AND-REPORTS instead — the one-line JSON
    * with whatever completed always beats a dead process. Skips are
    * recorded by section name in the artifact's `budget` object; the
    * headline section is never skipped. 0 = unlimited. */
  final class WallBudget(val budgetSec: Double) {
    private val t0 = System.nanoTime()
    val skipped = mutable.ArrayBuffer.empty[String]
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def remaining: Double =
      if (budgetSec <= 0) Double.MaxValue else budgetSec - elapsed
    /** Gate a section: true = run it; false = skip, recorded. */
    def allows(section: String, reserveSec: Double): Boolean = {
      val ok = remaining > reserveSec
      if (!ok) {
        skipped += section
        warn(f"budget: skipping $section " +
          f"($remaining%.0f s left < $reserveSec%.0f s reserve)")
      }
      ok
    }
    /** Quiet check for per-query loop guards (the loop records ONE
      * section-level skip entry itself, not one per query). */
    def has(reserveSec: Double): Boolean = remaining > reserveSec
  }

  // ---- headline / extended / sweep timing ----

  /** One query's reps: min, median and max seconds. The section value
    * sums the mins (the best-of-N basis every round has used). */
  final case class Timing(min: Double, median: Double, max: Double) {
    def json: String = s"[${r3(min)},${r3(median)},${r3(max)}]"
  }
  def timing(walls: Seq[Double]): Timing = {
    val s = walls.sorted
    val m = s.size / 2
    Timing(s.head, if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2,
      s.last)
  }

  /** Time each query `reps` times through `time` (fixed reps, no
    * re-runs). A query that throws reports None. `gate` is asked before
    * each query; its first refusal drops that query and every later one,
    * returned as the skipped tail so the order stays deterministic.
    * `prepare` runs untimed before a query's reps. */
  def timeQueries(names: Seq[String], reps: Int, time: String => Double,
      gate: () => Boolean = () => true,
      prepare: String => Unit = _ => ())
      : (Seq[(String, Option[Timing])], Seq[String]) = {
    val done = mutable.ArrayBuffer.empty[(String, Option[Timing])]
    var rest = names
    while (rest.nonEmpty && gate()) {
      val n = rest.head
      rest = rest.tail
      done += n -> (try {
        prepare(n)
        Some(timing(Seq.fill(reps)(time(n))))
      } catch { case e: Throwable =>
        warn(s"$n failed: ${e.getMessage}")
        None
      })
    }
    (done.toSeq, rest)
  }

  /** The >3× same-plan regression tripwire (querystats analog —
    * reference: utils/querystats/querystats.h): append this run's walls
    * as one `bench_*` batch to the durable history under `histRoot`, then
    * read back every query whose latest wall exceeds 3× its trailing
    * same-plan median (≥3 priors), plus plan churn. Returns (count,
    * "query:kind" names); -1 = unavailable (history off, or failing — a
    * history write must never damage the bench). */
  def tripwire(spark: SparkSession, histRoot: String, runId: String,
      ts: Long, walls: Seq[(String, Double)],
      planHashes: collection.Map[String, String]): (Int, Seq[String]) =
    if (histRoot.isEmpty || walls.isEmpty) (-1, Seq.empty)
    else try {
      plans.QueryStats.append(spark, histRoot, runId, walls.map {
        case (n, s) => plans.QueryStats.Entry(n, math.rint(s * 1e6) / 1e3,
          -1L, ts, planHashes.getOrElse(n, ""))
      })
      val flagged = plans.QueryStats
        .regressions(plans.QueryStats.history(spark, histRoot),
          runPrefix = Some("bench_"))
        .select("query", "kind").collect()
      (flagged.length,
        flagged.toSeq.map(r => s"${r.getString(0)}:${r.getString(1)}").sorted)
    } catch { case e: Throwable =>
      warn(s"regression tripwire: $e")
      (-1, Seq.empty)
    }

  // ---- 2-user leg ----

  final case class ConcLeg(entries: String, violations: Seq[String],
      errors: Int, worst: Option[Double])

  /** The reference's multi-user story (grptest.sh:17-23 runs the query
    * group from 2 concurrent users). `exec(query, user)` times pure
    * execution of a pre-built shared plan: user 0 is the serial reference
    * (median of 3), users 1..`users` run every query concurrently. Bound:
    * each query's p50 across users (the lower median) ≤
    * contentionBound(serial). */
  def concurrentLeg(names: Seq[String], users: Int,
      exec: (String, Int) => Double): ConcLeg = {
    val errs = new AtomicLong
    val serial = names.flatMap { n =>
      try Some(n -> Seq.fill(3)(exec(n, 0)).sorted.apply(1))
      catch { case e: Throwable =>
        warn(s"concurrent serial $n: ${e.getMessage}")
        errs.incrementAndGet()
        None
      }
    }.toMap
    val times = new ConcurrentLinkedQueue[(String, Double)]()
    val threads = (1 to users).map { u =>
      new Thread(() => names.filter(serial.contains).foreach { n =>
        try times.add(n -> exec(n, u))
        catch { case e: Throwable =>
          warn(s"concurrent $n: ${e.getMessage}")
          errs.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val byName = times.asScala.toSeq.groupBy(_._1)
    val violations = mutable.ArrayBuffer.empty[String]
    val ratios = mutable.ArrayBuffer.empty[Double]
    val entries = names.flatMap(n => byName.get(n).map { vs =>
      val ok = vs.map(_._2).sorted
      val p50 = ok((ok.size - 1) / 2)
      val s0 = serial(n)
      if (s0 > 0) {
        ratios += p50 / s0
        violations ++= ratioViolation(n, p50, s0)
      }
      s""""$n":{"p50":$p50,"max":${ok.last},"serial":$s0}"""
    })
    violations.foreach(v => warn(s"concurrent p50/serial bound: $v"))
    ConcLeg(entries.mkString("{", ",", "}"), violations.toSeq,
      errs.get.toInt, ratios.maxOption)
  }

  // ---- mixed leg (concurrent4) ----

  final case class MixLeg(durSec: Double, commits: Int, reads: Long,
      consistent: Boolean, errors: Int, violations: Seq[String],
      entries: String, worst: Option[Double])

  /** One observation of the grptest MIXED-workload analog (reference:
    * utils/scenarios/perf/testcase/grptest.sh:17-23 — reads racing a
    * writer). A writer thread commits locked full-table updates to a
    * scratch catalog table seeded from ~1/10th of `sfDir`'s orders, while
    * `users` readers loop `names` for `secs` seconds through
    * `exec(query, user)` and take a snapshot-consistency read between
    * queries: exactly one generation, full row count — the pre- or
    * post-image of some committed update, never a partial one. Serial
    * references (user 0) are the median of 3 after one untimed pass.
    * Bound: each query's p95 ≤ contentionBound(serial). */
  def mixLeg(spark: SparkSession, sfDir: String, names: Seq[String],
      users: Int, secs: Double, exec: (String, Int) => Double): MixLeg = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mix")
    try {
      val cat = new sources.Catalog(spark, s"$tmp/cat")
      cat.createTableAs("mix_orders", Tables.table(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey")).withColumn("gen", lit(0)))
      val expectRows = cat.table("mix_orders").count()
      // one untimed pass: the serial reference must be the same WARM
      // steady state the concurrent samples reach
      names.foreach(n => try exec(n, 0) catch { case _: Throwable => })
      val serial = names.map(n => n -> Seq.fill(3)(exec(n, 0)).sorted.apply(1))
        .toMap
      val samples = new ConcurrentLinkedQueue[(String, Double)]()
      val badReads = new ConcurrentLinkedQueue[String]()
      val errs = new ConcurrentLinkedQueue[String]()
      val nReads = new AtomicLong
      @volatile var stopWriter = false
      var commits = 0
      val writer = new Thread(() => {
        try {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            "mix_writer")
          var g = 1
          while (!stopWriter) {
            cat.update("mix_orders", _.withColumn("gen", lit(g)))
            commits += 1
            g += 1
          }
        } catch { case e: Throwable => errs.add(s"writer: $e") }
      })
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val readers = (1 to users).map { u =>
        new Thread(() => {
          try {
            var i = u // stagger start points across users
            while (System.nanoTime() < deadline) {
              val n = names(i % names.length)
              try samples.add(n -> exec(n, u))
              catch { case e: Throwable => errs.add(s"$n: $e") }
              val gens = cat.readCommitted("mix_orders")(
                _.groupBy("gen").count().collect())
              nReads.incrementAndGet()
              if (gens.length != 1 || gens(0).getLong(1) != expectRows)
                badReads.add(gens.mkString(","))
              i += 1
            }
          } catch { case e: Throwable => errs.add(s"reader$u: $e") }
        })
      }
      val t0 = System.nanoTime()
      writer.start()
      readers.foreach(_.start())
      readers.foreach(_.join())
      stopWriter = true
      writer.join()
      val durSec = (System.nanoTime() - t0) / 1e9
      val byName = samples.asScala.toSeq.groupBy(_._1)
      val violations = mutable.ArrayBuffer.empty[String]
      val ratios = mutable.ArrayBuffer.empty[Double]
      val entries = names.flatMap(n => byName.get(n).map { vs =>
        val s = vs.map(_._2).sorted
        val p50 = s((s.size - 1) / 2)
        val p95 = s(math.max(0, math.ceil(s.size * 0.95).toInt - 1))
        val s0 = serial(n)
        val ratio = if (s0 > 0) {
          ratios += p95 / s0
          violations ++= ratioViolation(n, p95, s0)
          r3(p95 / s0).toString
        } else "null"
        s""""$n":{"p50":${r3(p50)},"p95":${r3(p95)},"serial":$s0,""" +
          s""""ratio":$ratio,"n":${s.size}}"""
      })
      // a reader/writer exception has its own counter so a transient
      // query failure can't print as a torn-snapshot alarm
      errs.forEach(e => warn(s"mixed: $e"))
      badReads.forEach(b => warn(s"mixed inconsistent snapshot: $b"))
      violations.foreach(v => warn(s"mixed p95/serial bound: $v"))
      MixLeg(durSec, commits, nReads.get(), badReads.isEmpty, errs.size,
        violations.toSeq, entries.mkString("{", ",", "}"), ratios.maxOption)
    } finally sources.FsUtil.deleteRecursively(tmp, swallowErrors = true)
  }

  /** A mixed observation plus its one confirm re-measure: a bound-only
    * trip (consistent, no errors) runs one independent second observation
    * when `mayConfirm()` allows, and only violations whose query
    * reproduces in both survive (a p95 is decided by the ~3 worst samples
    * of a 30 s window). Torn snapshots and errors are never softened: a
    * second observation's hard failure stands. Returns the kept
    * observation and, when the confirm ran, (first, second) raw
    * violation lists. */
  def confirmMixed(observe: () => MixLeg, mayConfirm: () => Boolean)
      : (MixLeg, Option[(Seq[String], Seq[String])]) = {
    val first = observe()
    if (!first.consistent || first.errors > 0 || first.violations.isEmpty ||
        !mayConfirm()) (first, None)
    else {
      warn(s"mixed bound violations ${first.violations.mkString(", ")}" +
        " — confirming with one independent re-leg")
      val second = observe()
      val kept =
        if (second.consistent && second.errors == 0)
          second.copy(violations =
            confirmedViolations(first.violations, second.violations))
        else second
      (kept, Some(first.violations -> second.violations))
    }
  }

  // ---- scaling leg ----

  final case class ScalCurve(entries: Seq[String], violations: Seq[String],
      confirmed: Seq[String], errors: Int, worst: Option[Double],
      x1: Map[String, Double])

  /** A scaling entry's effective ratio and its bound: per output row
    * (or derived edge) against 2.5 where `outs` measured a valid growth,
    * the raw wall ratio against factor/2 otherwise. */
  def effectiveRatio(x1: Double, xn: Double, outs: Option[(Long, Long)],
      factor: Int): (Double, Double) = {
    val ratio = if (x1 > 0) xn / x1 else -1.0
    outs.collect { case (o1, oN) if o1 > 0 && oN > 0 && ratio > 0 =>
      ratio * o1 / oN
    }.fold((ratio, factor / 2.0))(perRow => (perRow, 2.5))
  }

  private def curveEntry(name: String, factor: Int, x1: Double,
      xn: Double, outs: Option[(Long, Long)]): String = {
    val ratio = if (x1 > 0) xn / x1 else -1.0
    val head = s""""$name":{"x1":$x1,"x$factor":$xn,"ratio":$ratio"""
    outs.fold(head + "}") { case (o1, oN) =>
      val perRow =
        if (ratio > 0 && o1 > 0 && oN > 0) ratio * o1 / oN else -1.0
      head + s""","out_x1":$o1,"out_xn":$oN,"ratio_per_row":$perRow}"""
    }
  }

  /** Measured scaling curve: each query at x1 (`x1Dir`, best of 2) and
    * at `factor`× (`xnDir`, single shot — the bias OVERSTATES the ratio,
    * so a passing curve is conservative). `outputs(query, dir)` gives the
    * output-row or derived-edge count for queries whose wall tracks
    * fixture growth rather than plan cost (None otherwise).
    *
    * Bound: the EFFECTIVE ratio — per output row where measured, raw
    * otherwise — may not exceed 2.5 (normalized) or factor/2 (raw), with
    * an absolute guard xN > x1 + 0.5 s so sub-second jitter on a tiny
    * corpus can never trip. A breach re-measures the x1/xN PAIR once
    * (both sides — a slow x1 poisons the ratio from below); only a
    * reproducing breach is a violation. */
  def scalingCurve(names: Seq[String], factor: Int, x1Dir: String,
      xnDir: String, time: (String, String) => Double,
      outputs: (String, String) => Option[Long]): ScalCurve = {
    val violations = mutable.ArrayBuffer.empty[String]
    val confirmed = mutable.ArrayBuffer.empty[String]
    val effective = mutable.ArrayBuffer.empty[Double]
    val x1s = mutable.Map.empty[String, Double]
    var errors = 0
    val entries = names.map { name =>
      try {
        var x1 = math.min(time(name, x1Dir), time(name, x1Dir))
        var xn = time(name, xnDir)
        val outs = for (o1 <- outputs(name, x1Dir);
                        oN <- outputs(name, xnDir)) yield (o1, oN)
        def breach(a: Double, b: Double): Option[String] = {
          val (eff, bound) = effectiveRatio(a, b, outs, factor)
          if (eff > bound && b > a + 0.5)
            Some(s"$name:${r3(eff)}x>${r3(bound)}x")
          else None
        }
        breach(x1, xn).foreach { first =>
          warn(s"scaling bound breach $first — re-measuring the x1/xN pair")
          confirmed += name
          x1 = math.min(x1, time(name, x1Dir))
          xn = math.min(xn, time(name, xnDir))
          breach(x1, xn).foreach { v =>
            violations += v
            warn(s"scaling bound violation (reproduced): $v")
          }
        }
        x1s(name) = x1
        val (eff, _) = effectiveRatio(x1, xn, outs, factor)
        if (eff > 0) effective += eff
        curveEntry(name, factor, x1, xn, outs)
      } catch { case e: Throwable =>
        warn(s"scaling $name: ${e.getMessage}")
        errors += 1
        s""""$name":null"""
      }
    }
    ScalCurve(entries, violations.toSeq, confirmed.toSeq, errors,
      effective.maxOption, x1s.toMap)
  }

  /** Self-scale `table` `factor`× into `dest` (union of id-offset copies;
    * copy 0 keeps the original ids, so the vec_id<10 query sets stay
    * fixed while the corpus grows). */
  private def scaleUp(spark: SparkSession, sfDir: String, table: String,
      idCol: String, factor: Int, dest: java.nio.file.Path): Unit = {
    val base = Tables.table(spark, sfDir, table)
    (0 until factor)
      .map(i => base.withColumn(idCol, col(idCol) + lit(i * 100000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dest/$table.parquet")
  }

  // ---- dwweek soak ----

  final case class Soak(cycles: String, crash: String, crashAll: String,
      fails: Int)

  /** dwweek soak analog (reference: utils/scenarios/dwweek/ — daytime
    * query groups run CONCURRENTLY with bulk loads). Each of `cycles`
    * cycles a loader thread pushes 3 batches through the cpimport path
    * (CSV export → typed load → parquet) and MERGEs them into a catalog
    * table via the locked upsert, WHILE `run` executes `group` with a
    * snapshot-consistency read between queries: every observed state must
    * be exactly "batches 0..j, each complete". Then `crashDrills`
    * writer-crash drills: a REAL second JVM parks inside the commit window
    * and is kill -9'd there; the kernel drops its table lock, and the
    * next reader and writer must see only complete images. */
  def soakLeg(spark: SparkSession, sfDir: String, cycles: Int,
      crashDrills: Int, group: Seq[String], run: String => Unit): Soak = {
    var fails = 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_soak")
    try {
      val nb = cycles * 3 // 3 load batches per cycle
      val orders = Tables.table(spark, sfDir, "orders")
      def batchDf(k: Int) = orders
        .filter(col("o_orderkey") % nb === k)
        .withColumn("batch_id", lit(k))
      val expected = orders
        .groupBy((col("o_orderkey") % nb).cast("int").as("k")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val cat = new sources.Catalog(spark, s"$tmp/cat")
      cat.createTableAs("soak_orders", batchDf(0).limit(0))
      def snapshot(): Map[Int, Long] = cat.readCommitted("soak_orders")(
        _.groupBy("batch_id").count().collect())
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val cycleJsons = (1 to cycles).map { i =>
        val errs = new ConcurrentLinkedQueue[String]()
        var loadSec = 0.0
        val loader = new Thread(() => {
          try {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
              "soak_loader")
            val t0 = System.nanoTime()
            for (k <- (i - 1) * 3 until i * 3) {
              val slice = batchDf(k)
              sources.Loader.exportCsv(slice, s"$tmp/b$k/csv")
              sources.Loader.loadCsv(spark, s"$tmp/b$k/csv", slice.schema,
                s"$tmp/b$k/parquet")
              cat.upsert("soak_orders", spark.read.schema(slice.schema)
                .parquet(s"$tmp/b$k/parquet"), Seq("o_orderkey"))
            }
            loadSec = (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable => errs.add(e.toString) }
        })
        var reads = 0
        var overlapReads = 0
        var consistent = true
        def checkSnapshot(): Unit = {
          val duringLoad = loader.isAlive
          val seen = snapshot()
          reads += 1
          if (duringLoad) overlapReads += 1
          // exactly the batches 0..j, each with its full row count
          val ok = seen.keySet ==
            (0 to (if (seen.isEmpty) -1 else seen.keys.max)).toSet &&
            seen.forall { case (k, n) => expected.get(k).contains(n) }
          if (!ok) {
            consistent = false
            errs.add(s"inconsistent snapshot: $seen")
          }
        }
        loader.start()
        val q0 = System.nanoTime()
        group.foreach { n =>
          try run(n)
          catch { case e: Throwable => warn(s"soak $n: ${e.getMessage}") }
          checkSnapshot()
        }
        val querySec = (System.nanoTime() - q0) / 1e9
        // keep observing until the loader commits its last batch, so
        // overlap is guaranteed even if the query group finished fast
        while (loader.isAlive) { checkSnapshot(); Thread.sleep(50) }
        loader.join()
        checkSnapshot() // post-load state must be complete too
        if (!consistent || !errs.isEmpty) fails += 1
        errs.forEach(e => warn(s"soak: $e"))
        s"""{"cycle":$i,"load_sec":$loadSec,"query_sec":$querySec,""" +
          s""""overlap":${overlapReads > 0},"reads":$reads,""" +
          s""""consistent":$consistent}"""
      }

      // WRITER-CRASH drill (reference: DMLProc crash → cleartablelock,
      // dbcon/dmlpackageproc/commandpackageprocessor.cpp:34). STAGING
      // (getting the child parked in the commit window) is a harness
      // concern separate from RECOVERY: staging retries once and a
      // staging failure reports itself (`staged:false` + diagnosis)
      // without counting as a soak failure; only a staged drill whose
      // recovery breaks is one.
      val preImage = (0 until nb).map(k => k -> expected(k)).toMap
      def crashDrill(): String = {
        var attempts = 0
        var childExit = "null"
        var childTail = ""
        val flag = java.nio.file.Paths.get(s"$tmp/cat", "_locks",
          ".midswap_soak_orders")
        def manifests() = scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$tmp/cat/soak_orders/_manifest")))(
          _.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("v")).toSet)
        val preManifests = manifests()
        val staged: Either[String, Unit] = try {
          // the crash batch REPLACES batch 0's rows under batch_id 999
          // (same keys), so pre- and post-image are both enumerable
          batchDf(0).withColumn("batch_id", lit(999))
            .write.mode("overwrite").parquet(s"$tmp/crash_batch")
          var parked = false
          while (!parked && attempts < 2) {
            attempts += 1
            // a previous drill's kill -9 leaves its flag behind
            java.nio.file.Files.deleteIfExists(flag)
            val child = sources.ChildJvm.spawn(
              "graft.sources.SoakCrashWriter",
              Seq(s"$tmp/cat", "soak_orders", s"$tmp/crash_batch",
                "o_orderkey"),
              env = Map("GRAFT_SWAP_PAUSE_MS" -> "120000"))
            val dl = System.nanoTime() + 240L * 1000000000L
            while (!java.nio.file.Files.exists(flag) && child.isAlive &&
                System.nanoTime() < dl)
              Thread.sleep(20)
            parked = java.nio.file.Files.exists(flag)
            if (!parked) {
              childExit =
                if (!child.isAlive) child.proc.exitValue().toString
                else "\"timeout\"" // alive but never parked in 240 s
              childTail = child.tail()
              warn(s"soak_crash staging attempt $attempts failed " +
                s"(exit=$childExit); child tail:\n${childTail.takeRight(2000)}")
            }
            // kill -9: at the parked commit window, or cleanup of a
            // failed attempt
            child.destroyForcibly()
            child.waitFor()
          }
          if (parked) Right(())
          else Left(
            s"""{"ran":true,"staged":false,"attempts":$attempts,""" +
              s""""child_exit":$childExit,""" +
              s""""child_err":${jstr(
                sources.ChildJvm.firstError(childTail))},""" +
              s""""probe":${jstr(sources.ChildJvm.probe())},""" +
              s""""child_cp":${jstr(
                sources.ChildJvm.describeClasspath().take(200))},""" +
              s""""child_tail":${jstr(childTail.takeRight(160))}}""")
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.toString)
          Left(s"""{"ran":true,"staged":false,"attempts":$attempts,""" +
            s""""err":${jstr(msg.take(200))}}""")
        }
        staged match {
          case Left(json) => json
          case Right(_) => try {
            val unpublished = manifests() == preManifests
            val lockHeld = sources.TableLocks.list(s"$tmp/cat")
              .exists(_.table == "soak_orders")
            // next READER: full pre-image or full post-image, never a mix
            val seen = snapshot()
            val image =
              if (seen == preImage - 0 + (999 -> expected(0))) "post"
              else if (seen == preImage) "pre" else "INCONSISTENT"
            // next WRITER proceeds at once: restore batch 0,
            // so repeated drills are independent
            cat.upsert("soak_orders", batchDf(0), Seq("o_orderkey"))
            val finalOk = snapshot() == preImage
            val recovered = !lockHeld && image != "INCONSISTENT" && finalOk
            if (!recovered) fails += 1
            s"""{"ran":true,"staged":true,"attempts":$attempts,""" +
              s""""killed_mid_commit":true,"unpublished_at_kill":$unpublished,""" +
              s""""lock_held_after_kill":$lockHeld,"reader_image":"$image",""" +
              s""""next_writer_ok":$finalOk,"recovered":$recovered}"""
          } catch { case e: Throwable =>
            // the stage WAS set: an exception here is recovery failing
            fails += 1
            val msg = Option(e.getMessage).getOrElse(e.toString)
            s"""{"ran":true,"staged":true,"recovered":false,""" +
              s""""err":${jstr(msg.take(200))}}"""
          }
        }
      }
      val drills = (1 to math.max(1, crashDrills)).map(_ => crashDrill())
      Soak(cycleJsons.mkString("[", ",", "]"), drills.last,
        if (drills.size > 1) drills.mkString("[", ",", "]") else "null",
        fails)
    } catch { case e: Throwable =>
      warn(s"soak failed: ${e.getMessage}")
      Soak("[]", """{"ran":false}""", "null", fails + 1)
    } finally sources.FsUtil.deleteRecursively(tmp, swallowErrors = true)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // nightly dwweek profile (scripts/nightly_soak.sh): warmup + soak
    // (+ crash drills) only, with the cycle and drill counts it sets
    val soakOnly = sys.env.get("SPARK_GRAFT_SOAK_ONLY").contains("1")
    val soakCycles = sys.env.getOrElse("SPARK_GRAFT_SOAK_CYCLES", "2").toInt
    val crashDrills =
      sys.env.getOrElse("SPARK_GRAFT_SOAK_CRASH_DRILLS", "1").toInt
    // persisted query history (d_query_stats is its oracle-gated read
    // side); "" turns it off
    val histRoot =
      sys.env.getOrElse("SPARK_GRAFT_HISTORY_DIR", "bench_history")
    val budget = new WallBudget(budgetSec)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR job scheduling for the multi-user legs: under FIFO a 0.1 s
      // scan-agg from user B queues behind every stage of user A's join,
      // so small-query latency would measure queue depth, not the engine
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)
    val sc = spark.sparkContext

    // between-queries hygiene: clearCache drops SQL-cache entries and the
    // unpersist drops DEAD localCheckpoint blocks, which otherwise pile
    // up across the ~80-query bench until storage pressure squeezes
    // execution memory. Runs BEFORE construction, never mid-query.
    def resetState(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // plan fingerprints for the history batches, captured once per query
    // timed at sfDir, outside the timed window
    val planHashes = mutable.Map.empty[String, String]
    // the one timer: end to end, construction included (several queries
    // do real work at DataFrame construction; a save-only timer would
    // move it out of the timed window)
    def runE2eIn(name: String, dir: String): Double = {
      resetState()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      if (dir == sfDir && !planHashes.contains(name))
        try planHashes(name) = plans.QueryStats.planHash(df)
        catch { case _: Throwable => }
      sec
    }
    def runE2e(name: String): Double = runE2eIn(name, sfDir)
    // the multi-user legs' timer: construction ONCE before the threads
    // start (a construction-time checkpoint is a shared artifact, paid
    // up front), execution per sample in the user's own FAIR pool, and
    // no clearCache mid-section (one user's reset would wipe the other's
    // in-flight state)
    def sharedExec(names: Seq[String], pool: String)
        : (Seq[String], (String, Int) => Double) = {
      resetState()
      val shared = names.flatMap { n =>
        try Some(n -> SparkEntry.queries(n)(spark, sfDir))
        catch { case e: Throwable =>
          warn(s"$pool build $n: ${e.getMessage}")
          None
        }
      }.toMap
      (names.filter(shared.contains), (n, u) => {
        if (u > 0) sc.setLocalProperty("spark.scheduler.pool", s"$pool$u")
        val t0 = System.nanoTime()
        shared(n).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      })
    }

    // warmup: absorb session startup, file listing and first codegen.
    // count() alone reads row-group metadata, not data pages, so force
    // every column's pages through the page cache, then one full query.
    try {
      Tables.all.foreach { t =>
        val df = Tables.table(spark, sfDir, t)
        df.select(df.columns.map(c =>
          org.apache.spark.sql.functions.count(col(c)).as(c)).toIndexedSeq: _*)
          .collect()
      }
      runE2e("q06_forecast_revenue")
    } catch { case e: Throwable => warn(s"warmup: $e") }

    // headline: re-pin the documents text pages right before the one
    // entry that reads them (the session-start warmup is minutes old by
    // then; round 9 saw a 0.4 s cold/warm coin flip on x_text_quality)
    val (results, _) =
      if (soakOnly) (Seq.empty, Seq.empty)
      else timeQueries(headline, headlineReps, runE2e, prepare = n =>
        if (n == "x_text_quality") {
          import org.apache.spark.sql.functions.{length, sum}
          Tables.table(spark, sfDir, "documents")
            .agg(sum(length(col("text")))).collect()
        })
    val total = results.flatMap(_._2).map(_.min).sum
    val benchTs = System.currentTimeMillis()
    val (regressionsN, regressionNames) = tripwire(spark, histRoot,
      s"bench_$benchTs", benchTs,
      results.collect { case (n, Some(t)) => n -> t.min }, planHashes)

    // ---- 2-user leg ----
    // always the headline set: the d_* queries mutate fixed scratch paths
    // and would race across user threads
    val conc: Option[ConcLeg] =
      if (soakOnly || !budget.allows("concurrent", 300)) None
      else try {
        val (built, exec) = sharedExec(headline, "user")
        val leg = concurrentLeg(built, users, exec)
        Some(leg.copy(errors = leg.errors + headline.size - built.size))
      } catch { case e: Throwable =>
        warn(s"concurrent leg failed: ${e.getMessage}")
        Some(ConcLeg("{}", Seq.empty, 1, None))
      }

    // ---- mixed leg (concurrent4) ----
    val mixed: Option[Either[String, (MixLeg, Option[(Seq[String], Seq[String])])]] =
      if (soakOnly || !budget.allows("concurrent4", 360)) None
      else Some(try {
        val (built, exec) = sharedExec(mixNames, "mix_user")
        if (built.size < mixNames.size) Left("build_failed")
        else Right(confirmMixed(
          () => mixLeg(spark, sfDir, built, mixUsers, mixSecs, exec),
          () => budget.allows("conc4_confirm", 240)))
      } catch { case e: Throwable =>
        warn(s"mixed leg failed: ${e.getMessage}")
        Left(Option(e.getMessage).getOrElse(e.toString))
      })

    // ---- soak ----
    val soak =
      if (soakCycles <= 0 || !budget.allows("soak", 360))
        Soak("[]", """{"ran":false}""", "null", 0)
      else soakLeg(spark, sfDir, soakCycles, crashDrills, soakGroup,
        n => runE2e(n))

    // ---- extended: per-query budget-gated; a skipped entry is DROPPED
    // (a null would read as a failure) and counted in `budget` ----
    val (extResults, extSkipped) =
      if (soakOnly) (Seq.empty, Seq.empty)
      else timeQueries(extended, extendedReps, runE2e, () => budget.has(90))
    if (extSkipped.nonEmpty) budget.skipped += "extended_tail"

    // ---- scaling: self-scale the corpus 8× (testdata untouched) with
    // RELIABLE checkpoint barriers (disk-persisted, so eviction degrades
    // into a file re-read, the production setting on a cluster) ----
    var scal: Option[ScalCurve] = None
    var scaling27Json = "{}"
    val scalAttempted = !soakOnly && budget.allows("scaling", 480)
    if (scalAttempted) try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_scale")
      spark.conf.set("spark.graft.checkpoint.dir", s"$tmp/_ckpt")
      try {
        scaleUp(spark, sfDir, "documents", "doc_id", scaleFactor, tmp)
        scaleUp(spark, sfDir, "embeddings", "vec_id", scaleFactor, tmp)
        // prebuild both ANN indexes so the ivfpq entry times the read
        // side, not construction
        operators.AnnIndex.ensureBuilt(spark, sfDir)
        operators.AnnIndex.ensureBuilt(spark, tmp.toString)
        // join-style dedup is OUTPUT-BOUND on the salted-clone corpus
        // (near-dup pairs grow ~quadratically per clone group); the graph,
        // cc and span families are normalized on their DERIVED edge /
        // flagged-position sets, one count per (family, corpus)
        val counts = mutable.Map.empty[(String, String), Long]
        def outputs(name: String, dir: String): Option[Long] = {
          def cached(family: String)(f: => Long): Option[Long] =
            Some(counts.getOrElseUpdate((family, dir), { resetState(); f }))
          name match {
            case "x_dedup_minhash_lsh" | "x_dedup_setjoin" =>
              resetState()
              Some(SparkEntry.queries(name)(spark, dir).count())
            case "x_graph_pagerank" | "x_graph_labelprop" |
                 "x_graph_triangles" =>
              cached("graph")(operators.GraphQueries.derivedEdgeCount(spark, dir))
            case "x_dedup_cc" =>
              cached("cc")(operators.DedupQueries.ccStarEdgeCount(spark, dir))
            case "x_dedup_spans" | "x_dedup_span_removal" =>
              cached("span")(operators.DedupQueries.spanFlaggedCount(spark, dir))
            case _ => None
          }
        }
        val curve = scalingCurve(scaleQueries, scaleFactor, sfDir,
          tmp.toString, runE2eIn, outputs)
        scal = Some(curve)
        if (budget.allows("scaling27", 180)) try {
          val tmp27 = java.nio.file.Files.createTempDirectory("graft_s27")
          try {
            scaleUp(spark, sfDir, "documents", "doc_id", scale27Factor, tmp27)
            val e27 = scale27Queries.filter(curve.x1.contains).map { name =>
              try {
                val outs = for (o1 <- outputs(name, sfDir);
                                oN <- outputs(name, tmp27.toString))
                  yield (o1, oN)
                curveEntry(name, scale27Factor, curve.x1(name),
                  runE2eIn(name, tmp27.toString), outs)
              } catch { case e: Throwable =>
                warn(s"scaling27 $name: ${e.getMessage}")
                s""""$name":null"""
              }
            }
            scaling27Json = s"""{"factor":$scale27Factor,"queries":${
              e27.mkString("{", ",", "}")}}"""
          } finally sources.FsUtil.deleteRecursively(tmp27, swallowErrors = true)
        } catch { case e: Throwable =>
          warn(s"scaling27 failed: ${e.getMessage}")
        }
      } finally {
        spark.conf.unset("spark.graft.checkpoint.dir")
        sources.FsUtil.deleteRecursively(tmp, swallowErrors = true)
      }
    } catch { case e: Throwable =>
      warn(s"scaling failed: ${e.getMessage}")
      // attempted: a crash before or after the first query is an engine
      // or harness error the verdict must carry
      scal = Some(scal.fold(
        ScalCurve(Seq.empty, Seq.empty, Seq.empty, 1, None, Map.empty))(
        s => s.copy(errors = s.errors + 1)))
    }

    // ---- full-registry sweep: every query once, construction and
    // training included (the strictest basis); serial on purpose — d_*
    // queries mutate fixed scratch paths ----
    val fullReg = !soakOnly && budget.allows("all_sweep", 300)
    val (sweep, allSkipped) =
      if (!fullReg) (Seq.empty, Seq.empty)
      else timeQueries(SparkEntry.queries.keys.toSeq.sorted, 1, runE2e,
        () => budget.has(45))
    if (allSkipped.nonEmpty) budget.skipped += "all_sweep_tail"
    val sweepWalls = sweep.collect { case (n, Some(t)) => n -> t.min }
    // the sweep's walls join the history under sweep_* run_ids (a
    // different measurement basis the tripwire never mixes in)
    try {
      if (histRoot.nonEmpty && sweepWalls.nonEmpty) {
        val ts = System.currentTimeMillis()
        plans.QueryStats.append(spark, histRoot, s"sweep_$ts",
          sweepWalls.map { case (n, s) =>
            plans.QueryStats.Entry(n, math.rint(s * 1e6) / 1e3, -1L, ts,
              planHashes.getOrElse(n, "")) })
      }
    } catch { case e: Throwable => warn(s"sweep history append: $e") }
    val allTotal = sweepWalls.map(_._2).sum
    val allFail = sweep.count(_._2.isEmpty)
    val slowest = sweepWalls.maxByOption(_._2)

    // ---- verdicts: null only for a skipped leg ----
    val (concOk, concReason) = conc.fold(("null", "null"))(c =>
      conc4Verdict(true, c.errors, c.violations, "p50_bound"))
    val (conc4Ok, conc4Reason) = mixed.fold(("null", "null")) {
      case Left(_) => ("false", "\"errors\"")
      case Right((leg, _)) =>
        conc4Verdict(leg.consistent, leg.errors, leg.violations)
    }
    val (scalOk, scalReason) = scal.fold(("null", "null"))(s =>
      conc4Verdict(true, s.errors, s.violations, "ratio_bound"))

    val concurrentJson = conc.fold("{}")(c =>
      s"""{"sessions":$users,"ok":$concOk,"reason":$concReason,""" +
        s""""worst":${jnum(c.worst.map(r3))},""" +
        s""""violations":${jlist(c.violations)},"queries":${c.entries}}""")
    val concurrent4Json = mixed.fold("{}") {
      case Left(err) =>
        s"""{"ok":false,"reason":"errors","err":${jstr(err.take(200))}}"""
      case Right((leg, confirm)) =>
        s"""{"sessions":$mixUsers,"dur_sec":${r3(leg.durSec)},""" +
          s""""writer_commits":${leg.commits},""" +
          s""""snapshot_reads":${leg.reads},""" +
          s""""consistent":${leg.consistent},"errors":${leg.errors},""" +
          s""""ok":$conc4Ok,"reason":$conc4Reason,""" +
          s""""violations":${jlist(leg.violations)},""" +
          s""""confirm_ran":${confirm.isDefined},""" +
          s""""violations_first":${jlist(confirm.toSeq.flatMap(_._1))},""" +
          s""""violations_second":${jlist(confirm.toSeq.flatMap(_._2))},""" +
          s""""queries":${leg.entries}}"""
    }
    val scalingJson = scal.fold("{}")(s =>
      s"""{"factor":$scaleFactor,"checkpoint":"reliable","queries":${
        s.entries.mkString("{", ",", "}")}}""")
    val scalWorst = jnum(scal.flatMap(_.worst).map(r3))
    val concWorst = jnum(conc.flatMap(_.worst).map(r3))
    val conc4Worst = jnum(mixed.flatMap(_.toOption).flatMap(_._1.worst).map(r3))
    val scalViolations = jlist(scal.toSeq.flatMap(_.violations))
    val timed = results ++ extResults
    def mins(rs: Seq[(String, Option[Timing])], round: Boolean): String =
      rs.map { case (k, v) =>
        "\"" + k + "\":" + jnum(v.map(t => if (round) r3(t.min) else t.min))
      }.mkString("{", ",", "}")
    val timingJson = timed.map { case (k, v) =>
      "\"" + k + "\":" + v.fold("null")(_.json) }.mkString("{", ",", "}")
    val budgetJson =
      s"""{"sec":${budget.budgetSec},"elapsed":${r3(budget.elapsed)},""" +
        s""""sections_skipped":${jlist(budget.skipped)},""" +
        s""""ext_skipped":${extSkipped.size},""" +
        s""""all_skipped":${allSkipped.size},""" +
        s""""ext_skipped_names":${jlist(extSkipped)}}"""
    val allJson =
      sweep.map { case (k, v) => "\"" + k + "\":" + jnum(v.map(_.min)) }
        .mkString("{", ",", "}")
    val line = s"""{"metric":"headline_total","value":$total,"unit":"sec",""" +
      s""""budget":$budgetJson,"queries":${mins(results, false)},""" +
      s""""extended":${mins(extResults, false)},"timing":$timingJson,""" +
      s""""scaling":$scalingJson,"scaling27":$scaling27Json,""" +
      s""""scal_worst":$scalWorst,"scal_ok":$scalOk,""" +
      s""""scal_reason":$scalReason,"scal_violations":$scalViolations,""" +
      s""""scal_confirmed":${jlist(scal.toSeq.flatMap(_.confirmed))},""" +
      s""""concurrent":$concurrentJson,"concurrent4":$concurrent4Json,""" +
      s""""soak":${soak.cycles},"soak_crash":${soak.crash},""" +
      s""""soak_crash_all":${soak.crashAll},"all":$allJson,""" +
      s""""regressions":$regressionsN,""" +
      s""""regression_names":${jlist(regressionNames)},"sf":"$sfDir"}"""
    // full-precision, full-section copy: a caller capturing stdout keeps
    // only its last ~2 KB, so the complete artifact always lands here
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), line + "\n")

    // printed line: must parse out of a ~2 KB stdout tail, so
    // the headline (ms-rounded) always, the extended map only if it fits,
    // and every regression signal and bound verdict always
    val extTotal = r3(extResults.flatMap(_._2).map(_.min).sum)
    val signals =
      s""","budget_skipped":${jlist(budget.skipped)}""" +
      s""","ext_skipped":${extSkipped.size},"all_skipped":${allSkipped.size}""" +
      // ext_fail guards ext_total's blind spot: a crashing query drops
      // OUT of the sum, which would otherwise read as a speedup
      s""","ext_total":$extTotal,"ext_fail":${extResults.count(_._2.isEmpty)}""" +
      s""","scal_worst":$scalWorst,"conc_worst":$concWorst""" +
      s""","conc4_worst":$conc4Worst""" +
      s""","conc4_ok":$conc4Ok,"conc4_reason":$conc4Reason""" +
      s""","conc_ok":$concOk,"conc_reason":$concReason""" +
      s""","scal_ok":$scalOk,"scal_reason":$scalReason""" +
      s""","regressions":$regressionsN""" +
      s""","all_total":${r3(allTotal)},"all_fail":$allFail""" +
      s""","slowest":${slowest.fold("null")(s =>
        "\"" + s._1 + ":" + r3(s._2) + "\"")}""" +
      s""","soak_fail":${soak.fails},"soak_crash":${soak.crash}"""
    val head = s"""{"metric":"headline_total","value":${r3(total)},""" +
      s""""unit":"sec","queries":${mins(results, true)}"""
    val tail = s"""$signals,"sf":"$sfDir"}"""
    val withExt = s"""$head,"extended":${mins(extResults, true)}$tail"""
    println(if (withExt.length <= 1700) withExt else head + tail)
    spark.stop()
  }
}
