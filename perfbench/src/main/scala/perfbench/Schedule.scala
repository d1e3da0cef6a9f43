package perfbench

import scala.util.Random

/** Everything a run does in order, derived from its seed alone: the
  * TPC-H pass orders, the dwweek writer's commits and the readers' choice
  * of analytic read. The engine receives only the generated inputs. */
object Schedule {

  /** Query order of one pass of the power run. */
  def passOrder(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names)

  /** Element i of a sequence built from seed-shuffled blocks that each
    * hold every one of `n` choices once, so a stream of any length has the
    * choices in near-equal shares while their order follows the seed. */
  def balanced(n: Int, seed: Long, i: Int): Int =
    new Random(seed * 1000003L + i / n).shuffle((0 until n).toVector).apply(i % n)

  /** Analytic read a dwweek reader issues as its i-th read. */
  def readKind(seed: Long, reader: Int, i: Int): Int =
    balanced(DwReads.kinds.size, seed * 7919L + reader, i)

  /** One row of the dwweek orders table, in the model the writer keeps.
    * Prices are held in cents so sums are exact. */
  final case class Order(key: Long, cust: Long, status: String, cents: Long,
      day: Int, priority: String, gen: Int)

  /** A writer commit. `upsert` replaces existing keys; otherwise the rows
    * are new keys appended with insertIntoSelect. */
  final case class Commit(gen: Int, upsert: Boolean, rows: Seq[Order],
      vacuumAfter: Boolean)

  /** Snapshot identity a reader can compute with one aggregate. */
  final case class Fingerprint(rows: Long, keySum: Long, centsSum: Long)

  /** The writer's model of the table: the rows every acknowledged commit
    * left, and the fingerprint each generation must read as. */
  final class OrdersModel(initial: Seq[Order]) {
    private val rows = scala.collection.mutable.LongMap.empty[Order]
    initial.foreach(o => rows(o.key) = o)
    private var keys: Array[Long] = rows.keys.toArray.sorted

    def size: Int = rows.size
    def maxKey: Long = keys.last
    def key(i: Int): Long = keys(i)
    def row(key: Long): Order = rows(key)
    def snapshot: Seq[Order] = keys.toSeq.map(rows)

    def fingerprint: Fingerprint =
      Fingerprint(rows.size, rows.valuesIterator.map(_.key).sum,
        rows.valuesIterator.map(_.cents).sum)

    /** Fingerprint of the state `c` would leave, without applying it. */
    def after(c: Commit): Fingerprint = {
      val fp = fingerprint
      val replaced = c.rows.flatMap(o => rows.get(o.key))
      Fingerprint(fp.rows + c.rows.size - replaced.size,
        fp.keySum + c.rows.map(_.key).sum - replaced.map(_.key).sum,
        fp.centsSum + c.rows.map(_.cents).sum - replaced.map(_.cents).sum)
    }

    def apply(c: Commit): Unit = {
      c.rows.foreach(o => rows(o.key) = o)
      if (!c.upsert) keys = rows.keys.toArray.sorted
    }
  }

  /** Writer plan: commit `gen` is drawn from the seed and the model state
    * the earlier commits left, so one seed gives one commit sequence.
    * Upserts and inserts alternate in seed-chosen order within each pair,
    * so every window holds the same mix. */
  final class WriterPlan(seed: Long, vacuumEvery: Int = 4) {
    private val rng = new Random(seed ^ 0x5DEECE66DL)
    private val statuses = Vector("F", "O", "P")

    def next(gen: Int, model: OrdersModel): Commit = {
      val upsert = balanced(2, seed, gen) == 0
      val n = 150 + rng.nextInt(101)
      val rows =
        if (upsert) {
          val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
          while (picked.size < math.min(n, model.size))
            picked += model.key(rng.nextInt(model.size))
          picked.toSeq.map(k => model.row(k).copy(
            status = statuses(rng.nextInt(statuses.size)),
            cents = 100000L + rng.nextInt(50000000), gen = gen))
        } else {
          val base = model.maxKey
          (1 to n).map { j =>
            val like = model.row(model.key(rng.nextInt(model.size)))
            like.copy(key = base + j, status = "O",
              cents = 100000L + rng.nextInt(50000000), gen = gen)
          }
        }
      Commit(gen, upsert, rows, vacuumAfter = gen % vacuumEvery == 0)
    }
  }

  trait Clock {
    def nowMs(): Double
    def sleepUntil(ms: Double): Unit
  }

  object WallClock extends Clock {
    private val baseNano = System.nanoTime()
    private val baseEpochMs = System.currentTimeMillis().toDouble
    /** Epoch milliseconds with nanoTime resolution, comparable with the
      * epoch timestamps Spark's listener events carry. */
    def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6
    def sleepUntil(ms: Double): Unit = {
      val wait = ms - nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
    }
  }

  /** Open-loop generator: request i is due at start + i * interval,
    * whether or not the previous one has returned, and `op` gets its index
    * and due time. A single sender issues them in order, so a slow request
    * delays the ones behind it; the caller times each request from its due
    * time (`OpRec.latencyMs`), which counts that wait, and records how late
    * it started (`OpRec.lateMs`). */
  def openLoop(startMs: Double, untilMs: Double, intervalMs: Double,
      clock: Clock)(op: (Int, Double) => Unit): Unit = {
    var i = 0
    var due = startMs
    while (due < untilMs) {
      clock.sleepUntil(due)
      op(i, due)
      i += 1
      due = startMs + i * intervalMs
    }
  }
}
