package graft.perfbench

/** Latency statistics and the open-loop load generator. */
object Latency {

  /** The median (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail figure: `value` is the sample at percentile `pct` of `n`
    * samples, with `beyond` samples above it. */
  final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest sample, reported as percentile 100·(n-10)/n. With
    * fewer than 11 samples no such percentile exists, and the tail is the
    * maximum (percentile 100, nothing beyond). A failed operation enters
    * as +∞, so it always lands in the tail. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of nothing")
    val s = xs.sorted
    val n = s.length
    if (n < 11) Tail(100.0, s.last, n, 0)
    else Tail(100.0 * (n - 10) / n, s(n - 11), n, 10)
  }

  // ------------------------------------------------------------------ //
  // open loop                                                           //
  // ------------------------------------------------------------------ //

  /** One request's outcome: `latencyMs` is measured from the request's due
    * time (so generator lateness counts against the system, the open-loop
    * rule), `lateMs` is how long after its due time it was sent, and a
    * failed request has latency +∞. */
  final case class Outcome[A](seq: Int, dueNs: Long, sentNs: Long, doneNs: Long,
                              result: Either[String, A]) {
    def failed: Boolean = result.isLeft
    def latencyMs: Double =
      if (failed) Double.PositiveInfinity else (doneNs - dueNs) / 1e6
    def serviceMs: Double = (doneNs - sentNs) / 1e6
    def lateMs: Double = (sentNs - dueNs) / 1e6
  }

  /** Summary of one fixed-rate segment. `backlogGrew` is true when the
    * segment could not keep up with its schedule: sends fell further and
    * further behind their due times (the last quarter's median lateness
    * exceeds both the first quarter's and `backlogMs`). */
  final case class Segment[A](rate: Double, outcomes: Vector[Outcome[A]], wallS: Double) {
    def n: Int = outcomes.length
    def failed: Int = outcomes.count(_.failed)
    def latencies: Vector[Double] = outcomes.map(_.latencyMs)
    def p50: Double = median(latencies)
    def tailOf: Tail = tail(latencies)
    def late: Vector[Double] = outcomes.map(_.lateMs)
    def completedPerS: Double = outcomes.count(!_.failed) / wallS
    def backlogGrew(backlogMs: Double): Boolean = {
      val q = math.max(1, n / 4)
      val first = median(late.take(q))
      val last = median(late.takeRight(q))
      last > backlogMs && last > first
    }
  }

  /** Drive `send` at a fixed `rate` for the items of `work`, from at most
    * `clients` threads: item i is due at start + i/rate. A client takes
    * the next item in due order, sleeps until it is due if it is early,
    * and sends it; when every client is busy the item waits, and its
    * lateness counts. Exceptions thrown by `send` become failed
    * outcomes. `clock` and `sleepUntil` are parameters so the accounting
    * can be tested without real time passing. */
  def openLoop[W, A](work: Vector[W], rate: Double, clients: Int,
                     clock: Clock = Clock.System)(send: W => A): Segment[A] = {
    require(rate > 0 && clients >= 1, s"openLoop: rate=$rate clients=$clients")
    val stepNs = (1e9 / rate).toLong
    val start = clock.nowNs() + 5000000L
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = new Array[Outcome[A]](work.length)
    def client(): Unit = {
      var i = next.getAndIncrement()
      while (i < work.length) {
        val due = start + i * stepNs
        clock.sleepUntil(due)
        val sent = clock.nowNs()
        val r =
          try Right(send(work(i)))
          catch { case scala.util.control.NonFatal(e) => Left(String.valueOf(e.getMessage)) }
        out(i) = Outcome(i, due, sent, clock.nowNs(), r)
        i = next.getAndIncrement()
      }
    }
    val threads = (0 until clients).map(_ => new Thread(() => client()))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Segment(rate, out.toVector, (clock.nowNs() - start) / 1e9)
  }

  trait Clock {
    def nowNs(): Long
    def sleepUntil(ns: Long): Unit
  }
  object Clock {
    /** Parks until shortly before the due time, then spins, so that the
      * generator's own wake-up delay does not count as the system's
      * latency. */
    object System extends Clock {
      private val SpinNs = 2000000L
      def nowNs(): Long = java.lang.System.nanoTime()
      def sleepUntil(ns: Long): Unit = {
        var left = ns - SpinNs - nowNs()
        while (left > 0) {
          java.util.concurrent.locks.LockSupport.parkNanos(left)
          left = ns - SpinNs - nowNs()
        }
        while (nowNs() < ns) Thread.onSpinWait()
      }
    }
  }
}
