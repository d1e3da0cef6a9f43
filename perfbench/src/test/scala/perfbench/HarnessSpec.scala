package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Iv

class HarnessSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond") {
    assert(Stats.tailPercentile(15).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(22).contains(50))
    assert(Stats.tailPercentile(39).contains(50))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(1000).contains(99))
    // the chosen percentile really leaves ten samples above its rank
    for (n <- 1 to 2000; p <- Stats.tailPercentile(n))
      assert(n - math.ceil(p / 100.0 * n).toInt >= 10)
  }

  test("quantiles interpolate linearly between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) - 4.6)
      < 1e-9)
  }

  test("self time counts overlapping children once and ignores spill-over") {
    val span = Iv(0, 100)
    // two concurrent reader jobs overlapping each other, one running past
    // the span's end
    val children = Seq(Iv(10, 40), Iv(30, 60), Iv(90, 120))
    assert(Stats.covered(Stats.clip(children, span)) == 60)
    assert(Stats.selfTime(span, children) == 40)
    assert(Stats.selfTime(span, Nil) == 100)
    assert(Stats.selfTime(span, Seq(Iv(-5, 200))) == 0)
    assert(Stats.subtract(Seq(Iv(0, 100)), Seq(Iv(20, 30), Iv(50, 60))) ==
      Seq(Iv(0, 20), Iv(30, 50), Iv(60, 100)))
  }

  test("layers of one operation add up to its wall") {
    def s(layer: String, a: Double, b: Double) = Span(1, layer, layer, a, b, "op")
    val spans = Seq(
      s("job", 5, 30), s("job", 20, 50), // concurrent, both from construction
      s("catalyst.analysis", 52, 56), s("catalyst.optimization", 56, 65),
      s("catalyst.planning", 65, 70), s("catalyst.planning", 68, 72))
    val l = Layers.of(Iv(0, 100), Some(Iv(0, 35)), spans)
    assert(l.jobs == 2 && l.jobMs == 45)
    assert(l.constructJobs == 2 && l.constructJobMs == 30)
    assert(l.analysis == 4 && l.optimization == 9 && l.planning == 7)
    assert(l.construct == 5)
    assert(l.residual == 30)
    assert(l.construct + l.analysis + l.optimization + l.planning + l.jobMs +
      l.residual == l.wall)
  }

  private def model = new Schedule.OrdersModel((1 to 500).map(k =>
    Schedule.Order(k * 10L, k % 7, "O", 1000L * k, 9000 + k % 300, "1-URGENT", 0)))

  private def commits(seed: Long, n: Int) = {
    val m = model
    val plan = new Schedule.WriterPlan(seed)
    (1 to n).map { g => val c = plan.next(g, m); m(c); c }
  }

  test("one seed gives one operation sequence") {
    val names = (1 to 22).map(i => f"q$i%02d")
    assert(Schedule.passOrder(names, 7, 0) == Schedule.passOrder(names, 7, 0))
    assert(Schedule.passOrder(names, 7, 0) != Schedule.passOrder(names, 8, 0))
    assert(Schedule.passOrder(names, 7, 0) != Schedule.passOrder(names, 7, 1))
    assert(Schedule.passOrder(names, 7, 3).sorted == names)
    assert(commits(7, 12) == commits(7, 12))
    assert(commits(7, 12) != commits(8, 12))
    val reads = (r: Long) => (0 until 51).map(Schedule.readKind(r, 1, _))
    assert(reads(7) == reads(7) && reads(7) != reads(8))
    // every kind in equal shares, whatever the seed
    assert(reads(7).groupBy(identity).values.map(_.size).toSet == Set(17))
    assert(commits(7, 12).count(_.upsert) == 6)
  }

  test("the writer model's predicted fingerprint matches the applied state") {
    val m = model
    val plan = new Schedule.WriterPlan(3)
    for (g <- 1 to 20) {
      val c = plan.next(g, m)
      val predicted = m.after(c)
      m(c)
      assert(m.fingerprint == predicted)
      assert(c.rows.forall(_.gen == g))
      assert(c.vacuumAfter == (g % 4 == 0))
    }
    assert(m.snapshot.map(_.key) == m.snapshot.map(_.key).sorted)
  }

  test("open loop: latency runs from the due time and lateness is recorded") {
    val clock = new Schedule.Clock {
      var now = 1000.0
      def nowMs(): Double = now
      def sleepUntil(ms: Double): Unit = now = math.max(now, ms)
    }
    val r = new Run(Main.Args("dwweek_mixed", 1, 1, trace = false, "", "",
      "", 1), clock)
    // request 1 stalls for 350 ms on a 100 ms schedule
    Schedule.openLoop(1000, 1600, 100, clock) { (i, due) =>
      assert(due == 1000 + i * 100)
      r.op("commit", s"c$i", due) { _ =>
        clock.now += (if (i == 1) 350 else 20)
      }
    }
    val ops = r.timed(Set("commit"), traced = false).sortBy(_.due)
    // the schedule does not thin out behind a slow request
    assert(ops.map(_.name) == (0 until 6).map(i => s"c$i"))
    assert(ops.map(_.due) == (0 until 6).map(1000.0 + _ * 100))
    assert(ops(0).lateMs == 0 && ops(0).latencyMs == 20)
    assert(ops(1).lateMs == 0 && ops(1).latencyMs == 350)
    // request 2 was due at 1200 but could start only at 1450
    assert(ops(2).lateMs == 250 && ops(2).latencyMs == 270)
    assert(ops(2).wallMs == 20)
    assert(ops(3).lateMs == 170 && ops(3).latencyMs == 190)
    assert(ops(4).lateMs == 90)
    assert(ops(5).lateMs == 10 && ops(5).latencyMs == 30)
    assert(r.failures.isEmpty && r.attempted.get == 6)
  }
}
