package graft.perfbench

/** Self-tests of the benchmark's own code — the generators, the
  * percentile rule and the open-loop accounting. No Spark, no graft.
  * Run: `python3 perfbench/run.py --selftest`. */
object SelfTest {
  import Latency._

  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  /** A clock that only moves when told to: sleeping jumps to the wake-up
    * time, and each send advances it by that request's service time. */
  final class FakeClock extends Clock {
    var now = 0L
    def nowNs(): Long = now
    def sleepUntil(ns: Long): Unit = if (ns > now) now = ns
  }

  def main(args: Array[String]): Unit = {
    val rng = new java.util.SplittableRandom(42)
    val corpus = (0 until 400).toVector.map(i =>
      Inputs.Doc(i, Vector.fill(20 + rng.nextInt(60))(s"w${rng.nextInt(31)}").mkString(" ")))

    // the same seed gives the same streams; another seed another
    val u1 = Inputs.queryUniverse(corpus, 5)
    expect(u1 == Inputs.queryUniverse(corpus, 5), "query universe repeats for a seed")
    expect(u1 != Inputs.queryUniverse(corpus, 6), "query universe differs across seeds")
    expect(u1.map(_.split(" ").sorted.toSeq).distinct.length == u1.length,
      "universe entries are distinct word bags")
    val s1 = Inputs.askStream(u1, 5, 1, 500)
    expect(s1 == Inputs.askStream(u1, 5, 1, 500), "ask stream repeats for a seed")
    expect(s1 != Inputs.askStream(u1, 5, 2, 500), "segments draw different streams")
    val paras = s1.filter(_.paraphrase)
    expect(paras.nonEmpty && paras.forall(a =>
        a.text.split(" ").sorted.sameElements(u1(a.universeIdx).split(" ").sorted)),
      "paraphrases carry their query's words")
    expect(math.abs(paras.length / 500.0 - Inputs.ParaphraseShare) < 0.07, "paraphrase share near its target")
    val top = s1.groupBy(_.universeIdx).values.map(_.length).max
    expect(top > 10, s"draws are Zipf-skewed (top query drawn $top times of 500; uniform draws top out near 3)")
    val c1 = Inputs.curationCorpus(corpus, 5)
    expect(c1 == Inputs.curationCorpus(corpus, 5), "curation corpus repeats for a seed")
    expect(c1.planted.size == 3 * Inputs.PlantedPerKind && c1.docs.length == corpus.length + c1.planted.size,
      "every planted duplicate is in the curation corpus")
    val texts = c1.docs.map(d => d.id -> d.text).toMap
    expect(c1.planted.forall { case (id, p) =>
        val (a, b) = (texts(id).split(" "), texts(p.source).split(" "))
        p.kind match {
          case "exact" => a.sameElements(b)
          case "near" => a.length == b.length && a.zip(b).count(x => x._1 != x._2) == 1
          case _ => !a.sameElements(b) && a.sorted.sameElements(b.sorted)
        }
      }, "planted rows are exact copies, one-word edits and reorderings of their sources")
    expect(Inputs.appendBatch(corpus, 5, 2) == Inputs.appendBatch(corpus, 5, 2) &&
      Inputs.deleteBatch(5, 2) == Inputs.deleteBatch(5, 2), "maintenance batches repeat for a seed")
    expect(Inputs.appendBatch(corpus, 5, 2).map(_._2).distinct.length == Inputs.AppendBatch,
      "appended docs carry distinct markers")

    // the percentile rule: the highest percentile with >= 10 samples beyond
    val xs = (1 to 200).map(_.toDouble)
    val t200 = tail(xs)
    expect(t200.value == 190.0 && t200.pct == 95.0 && xs.count(_ > t200.value) == 10,
      s"n=200: tail is p95 = 190 with 10 beyond (got p${t200.pct} = ${t200.value})")
    val t1000 = tail((1 to 1000).map(_.toDouble))
    expect(t1000.value == 990.0 && t1000.pct == 99.0, "n=1000: tail is p99")
    val t11 = tail((1 to 11).map(_.toDouble))
    expect(t11.value == 1.0 && t11.beyond == 10, "n=11: tail is the minimum, 10 beyond")
    val t5 = tail(Seq(3.0, 1.0, 2.0, 5.0, 4.0))
    expect(t5.value == 5.0 && t5.pct == 100.0 && t5.beyond == 0, "n<11: tail is the maximum")
    expect(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && median(Seq(3.0, 1.0, 2.0)) == 2.0, "median")

    // open loop: latency runs from the due time, lateness is reported,
    // and a slow server builds a backlog the accounting sees
    val fast = new FakeClock
    val ok = openLoop(Vector.fill(40)(()), 10.0, 1, fast) { _ => fast.now += 30000000L; "a" }
    expect(ok.outcomes.forall(o => o.lateMs == 0.0 && o.latencyMs == 30.0),
      "an idle server: no lateness, latency = service time")
    expect(!ok.backlogGrew(100.0), "an idle server builds no backlog")
    val slow = new FakeClock
    val bl = openLoop(Vector.fill(40)(()), 10.0, 1, slow) { _ => slow.now += 250000000L; "a" }
    val last = bl.outcomes.last
    expect(last.lateMs == 39 * 150.0 && last.latencyMs == 39 * 150.0 + 250.0,
      s"a saturated server: request 39 is 5850 ms late, latency counts from due (got ${last.lateMs})")
    expect(bl.backlogGrew(100.0), "a saturated server builds a growing backlog")
    expect(math.abs(bl.completedPerS - 4.0) < 0.01, s"sustained rate = 1/service (got ${bl.completedPerS})")

    // a refused or failed request counts as a miss of the latency limit
    val fc = new FakeClock
    val mixed = openLoop(Vector.tabulate(40)(identity), 10.0, 1, fc) { i =>
      fc.now += 1000000L
      if (i % 3 == 0) throw new IllegalStateException("HTTP 503") else i
    }
    expect(mixed.failed == 14 && mixed.latencies.count(_.isInfinite) == 14,
      "failed requests are counted and have infinite latency")
    expect(mixed.latencies.count(_ > AskZipf.LatencyLimitMs) == mixed.failed,
      "every failed request misses the latency limit")
    expect(tail(mixed.latencies).value.isInfinite, "more than ten failures put the tail past any limit")
    expect(mixed.outcomes.filter(_.failed).forall(_.result.left.exists(_.contains("503"))),
      "a failure keeps its reason")

    // the paraphrase rule: a paraphrase right after its cached original
    // must hit; one after an intervening miss need not
    def out(seq: Int, sent: Long, done: Long, hit: Boolean) =
      Outcome(seq, sent, sent, done, Right(AskZipf.Reply("a", hit)))
    val asks = Vector(Inputs.Ask(0, 7, false, "q"), Inputs.Ask(1, 7, true, "q'"),
      Inputs.Ask(2, 8, false, "r"), Inputs.Ask(3, 7, true, "q''"))
    val seg = Segment(10.0, Vector(out(0, 0, 10, false), out(1, 20, 30, false),
      out(2, 40, 50, false), out(3, 60, 70, false)), 1.0)
    val (checked, missed) = AskZipf.paraphraseMisses(seg, asks)
    expect(checked == 1 && missed == Seq(1),
      s"paraphrase after its cached original must hit; after a miss it is not judged (got $checked, $missed)")

    // BENCHMARK.json names exactly the workloads and metrics the code reports
    val spec = new java.io.File("BENCHMARK.json")
    if (spec.exists) {
      import scala.jdk.CollectionConverters._
      val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(spec)
      def pairs(key: String): Seq[(String, String)] =
        j.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
      expect(j.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Main.Workloads,
        "BENCHMARK.json workloads match the code")
      expect(pairs("end_to_end") == Main.EndToEnd, "BENCHMARK.json end-to-end metrics match the code")
      expect(pairs("per_layer") == Report.PerLayer, "BENCHMARK.json per-layer metrics match the code")
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures FAILED")
    System.exit(if (failures == 0) 0 else 1)
  }
}
