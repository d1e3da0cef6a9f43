package graft

import java.nio.file.{Files, Paths}

/** The bench's bounds, each driven through its real leg function with a
  * fake query timer. The timer returns a fixed wall per query and adds a
  * planted delay to one query; with the plant the bound must read `false`
  * with its reason, without it `true`. */
class BenchSpec extends GraftSuite {
  val base = 0.1

  /** Fake timer: every query takes `base` seconds, `planted` adds `ms`. */
  def timer(planted: Option[String], ms: Double)(n: String): Double =
    if (planted.contains(n)) base + ms / 1000 else base

  test("timeQueries: fixed reps report min/median/max; a refused gate drops the tail") {
    val walls = Iterator(0.3, 0.1, 0.2, 0.5, 0.4)
    val (rs, skipped) = Bench.timeQueries(Seq("a", "b", "c"), 3,
      n => if (n == "a") walls.next() else throw new RuntimeException("boom"),
      gate = { var left = 2; () => { left -= 1; left >= 0 } })
    assert(rs.head == ("a" -> Some(Bench.Timing(0.1, 0.2, 0.3))))
    assert(rs(1) == ("b" -> None), "a failing query reports None")
    assert(skipped == Seq("c"))
    // an even rep count takes the mean of the middle two
    assert(math.abs(Bench.timing(Seq(0.4, 0.2)).median - 0.3) < 1e-12)
  }

  test("regression tripwire reads 0, then >=1 naming the planted query, then 0") {
    val root = Files.createTempDirectory("graft_bench_hist").toString
    val names = Seq("q01_pricing_summary", "q06_forecast_revenue", "o_topk")
    val hashes = names.map(_ -> "plan").toMap
    val plants = Seq(None, None, None, Some("q06_forecast_revenue"), None)
    val verdicts = plants.zipWithIndex.map { case (plant, i) =>
      val (rs, _) = Bench.timeQueries(names, 3, timer(plant, 3000))
      Bench.tripwire(spark, root, s"bench_$i", i.toLong,
        rs.collect { case (n, Some(t)) => n -> t.min }, hashes)
    }
    assert(verdicts.take(3).forall(_ == ((0, Seq.empty))), verdicts)
    assert(verdicts(3)._1 >= 1 &&
      verdicts(3)._2.contains("q06_forecast_revenue:wall_regression"),
      verdicts(3))
    assert(verdicts(4) == ((0, Seq.empty)), verdicts(4))
    // history off: the tripwire is unavailable, never a false clean
    assert(Bench.tripwire(spark, "", "bench_x", 9L, Seq("a" -> 1.0),
      hashes) == ((-1, Seq.empty)))
    sources.FsUtil.deleteRecursively(Paths.get(root), swallowErrors = true)
  }

  test("scaling verdict: a reproducing super-linear ratio reads false") {
    val names = Seq("x_dedup_chunks", "x_graph_pagerank")
    def verdict(c: Bench.ScalCurve) =
      Bench.conc4Verdict(true, c.errors, c.violations, "ratio_bound")
    // x1 = 1 s; xN = 2 s clean; the plant makes pagerank 6 s at 8×,
    // over the raw bound factor/2 = 4×
    def time(plant: Option[String])(n: String, dir: String): Double =
      if (dir == "x1") 1.0 else if (plant.contains(n)) 6.0 else 2.0
    val noOutputs = (_: String, _: String) => Option.empty[Long]
    val clean = Bench.scalingCurve(names, 8, "x1", "x8", time(None),
      noOutputs)
    assert(verdict(clean) == (("true", "null")))
    assert(clean.worst.contains(2.0))
    val planted = Bench.scalingCurve(names, 8, "x1", "x8",
      time(Some("x_graph_pagerank")), noOutputs)
    assert(planted.confirmed == Seq("x_graph_pagerank"))
    assert(planted.violations == Seq("x_graph_pagerank:6.0x>4.0x"))
    assert(verdict(planted) == (("false", "\"ratio_bound\"")))
    // the same 6× wall over 4× output growth is 1.5× per row: under the
    // normalized bound 2.5
    val perRow = Bench.scalingCurve(names, 8, "x1", "x8",
      time(Some("x_graph_pagerank")), (_, dir) =>
        Some(if (dir == "x1") 100L else 400L))
    assert(verdict(perRow) == (("true", "null")))
    // a breach that does not reproduce on the one pair re-measure is
    // confirmed but not a violation
    val reads = Iterator(6.0, 2.0)
    val oneOff = Bench.scalingCurve(Seq("x_dedup_chunks"), 8, "x1", "x8",
      (_, dir) => if (dir == "x1") 1.0 else reads.next(), noOutputs)
    assert(oneOff.confirmed == Seq("x_dedup_chunks"))
    assert(verdict(oneOff) == (("true", "null")))
    // a query that throws is an error, whatever its ratio
    val failing = Bench.scalingCurve(names, 8, "x1", "x8",
      (n, _) => if (n == "x_dedup_chunks") sys.error("boom") else 1.0,
      noOutputs)
    assert(verdict(failing) == (("false", "\"errors\"")))
  }

  test("2-user p50 bound: a planted concurrent delay reads false") {
    val names = Seq("q01_pricing_summary", "q06_forecast_revenue")
    assert(Bench.contentionBound(0.1) == 0.6)
    assert(Bench.contentionBound(1.0) == 2.5)
    // user 0 is the serial reference; the plant only slows users 1..n
    def exec(plant: Option[String], ms: Double)(n: String, u: Int): Double =
      if (u == 0) base else timer(plant, ms)(n)
    def verdict(c: Bench.ConcLeg) =
      Bench.conc4Verdict(true, c.errors, c.violations, "p50_bound")
    val clean = Bench.concurrentLeg(names, 2, exec(None, 0))
    assert(verdict(clean) == (("true", "null")))
    // just under the bound (0.59 s vs serial 0.1 s + 0.5 s) still passes
    val under = Bench.concurrentLeg(names, 2,
      exec(Some("q06_forecast_revenue"), 490))
    assert(verdict(under) == (("true", "null")))
    val planted = Bench.concurrentLeg(names, 2,
      exec(Some("q06_forecast_revenue"), 1000))
    assert(planted.violations.map(_.takeWhile(_ != ':')) ==
      Seq("q06_forecast_revenue"))
    assert(verdict(planted) == (("false", "\"p50_bound\"")))
  }

  test("mixed p95 bound: real writer and snapshot reads, planted reader tail reads false") {
    val names = Seq("q01_pricing_summary", "q06_forecast_revenue")
    // only the readers' exec timer is fake: the catalog writer and the
    // snapshot-consistency reads between samples are the real ones
    def observe(plant: Option[String]): () => Bench.MixLeg = () =>
      Bench.mixLeg(spark, sf, names, 2, 3.0, (n, u) =>
        if (u == 0) base else timer(plant, 1000)(n))
    val (clean, cleanConfirm) = Bench.confirmMixed(observe(None), () => true)
    assert(clean.consistent && clean.errors == 0, clean)
    assert(clean.commits >= 1 && clean.reads > 0, clean)
    assert(cleanConfirm.isEmpty, "a clean leg runs no confirm")
    assert(Bench.conc4Verdict(clean.consistent, clean.errors,
      clean.violations) == (("true", "null")))
    val (planted, confirm) =
      Bench.confirmMixed(observe(Some("q06_forecast_revenue")), () => true)
    assert(confirm.isDefined, "a bound trip runs the one confirm re-leg")
    assert(planted.consistent && planted.errors == 0, planted)
    assert(planted.violations.map(_.takeWhile(_ != ':')) ==
      Seq("q06_forecast_revenue"))
    assert(Bench.conc4Verdict(planted.consistent, planted.errors,
      planted.violations) == (("false", "\"p95_bound\"")))
  }
}
