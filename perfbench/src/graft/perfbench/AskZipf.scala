package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import org.apache.spark.SparkBus

import graft.{AskServer, Materialize, Schemas}
import graft.operators._

/** `ask_zipf`: an open loop of `POST /ask` against an [[AskServer]] in
  * its zero-Spark-job configuration — resident-text hot graph tier,
  * resident LFU cache, resident TF-IDF query embedder — over an index
  * built from the first [[ServedDocs]] sf0.1 documents.
  *
  * Set-up embeds those documents, builds the graph index over them,
  * loads its hot tier and starts the server. The measured phase sends a
  * Zipf stream at the reference rate for `--seconds`, then climbs a
  * doubling ladder of rates until one misses the latency limit. The
  * traced run (`--trace 1`) skips the ladder: it replays the reference
  * stream in process, layer call by layer call, checks that the replay
  * reproduces every HTTP answer, and then runs the curation chain
  * (quality gate → exact dedup → MinHash near-dup → embed → semantic
  * dedup) over sf0.1 with planted duplicates. */
object AskZipf {
  import Main.Run
  import Latency._

  val Dim = 1024
  val ReferenceRate = 20.0
  /** The ladder's rungs are 10·2^k asks/s. It climbs from the reference
    * rate, whose segment is its first rung; the 10/s rung is sent only
    * when the reference rung fails. */
  val LadderStart = 10.0
  val LadderTop = 640.0
  /** Asks per ladder rung, at every rate: with the ≥10-beyond rule the
    * rung's gate is its p87.5 (the reference rung's, with its larger
    * count, p93.75 at 8 s), and each quarter of a rung holds 20 sends
    * for the backlog test. */
  val RungAsks = 80
  val LatencyLimitMs = 200.0
  /** The server's LFU capacity, scaled down from the 1,000-entry default so
    * that a run's warm-up fills it and the measured asks meet a full cache
    * that must evict: the 2,000-query universe is ~16× the cache. */
  val CacheCapacity = 128
  val WarmupAsks = 300
  val RecallFloor = 0.9
  val RecallQueries = 20
  /** Served corpus: the first this-many sf0.1 documents. */
  val ServedDocs = 500
  val KeyCols = Seq("doc_id", "chunk_idx")

  final case class Reply(answer: String, fromCache: Boolean)

  final case class Served(index: DataFrame, hot: GraphIndex.Hot,
                          embed: String => Array[Double], chunks: Long)

  def run(r: Run, sessionS: Double): Unit = {
    val corpus = Inputs.loadCorpus(s"${r.dataDir}/sf0.1_documents.tsv.gz")
    val served = corpus.take(ServedDocs)
    val universe = Inputs.queryUniverse(served, r.seed)
    val warm = Inputs.askStream(universe, r.seed, 0, WarmupAsks)
    val ref = Inputs.askStream(universe, r.seed, 1, (ReferenceRate * r.seconds).toInt)

    Main.phase("inputs")
    val t0 = System.nanoTime()
    val srv = index(r, served)
    val server = r.trace.span("AskServer.start")(startServer(r, srv, srv.embed))
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    r.e2e("setup_s", setupS)
    r.e2e("resident_mb", Report.residentMb(), "heap in use after set-up and a full GC")
    r.metric("setup_s", setupS, "s")
    r.metric("index_chunks", srv.chunks.toDouble, "count")
    checkRecall(r, srv, universe)

    Main.phase("setup")
    val http = new AskClient(server._2)
    try {
      warmUp(r, http, warm)
      Main.phase("warm")
      val seg = segment(r, http, ref, ReferenceRate, "ref")
      Main.phase("ref")
      val tail = seg.tailOf
      r.e2e("latency_ms", seg.p50, s"ask p50 at $ReferenceRate/s from due time, n=${seg.n}")
      r.e2e("tail_ms", tail.value, f"ask p${tail.pct}%.1f at $ReferenceRate/s, n=${tail.n}")
      r.metric("ask_p50_ms", seg.p50, "ms", s"n=${seg.n}")
      r.metric("ask_p99_ms", tail.value, "ms",
        f"highest percentile with >=10 beyond: p${tail.pct}%.1f of n=${tail.n}")
      r.metric("ask_hit_ratio", seg.outcomes.count(_.result.exists(_.fromCache)).toDouble / seg.n,
        "ratio", "asks answered from the cache at the reference rate")
      r.metric("loadgen.late_ms", Latency.tail(seg.late).value, "ms", "diagnostic")
      if (r.trace.enabled) {
        traced(r, srv, seg, warm, ref)
        curate(r, corpus)
      } else ladder(r, http, universe, seg)
    } finally {
      http.close()
      server._1.stop()
      srv.hot.cool()
    }
  }

  /** The embedding and the graph build: everything the server needs,
    * each step a traced layer call. */
  def index(r: Run, docs: Vector[Inputs.Doc]): Served = {
    val spark = r.spark
    import spark.implicits._
    val t = r.trace
    val (index, dfreq, nDocs, nChunks) = t.span("Embed.corpus") {
      val chunks = Ingest.chunk(docs.map(d => (d.id, d.text)).toDF("doc_id", "text"), "text",
        Schemas.ChunkSize).select("doc_id", "chunk_idx", "chunk_text")
      val (e, d, n) = Embed.withTfIdfEmbedding(chunks, "chunk_text", "embedding", dim = Dim)
      val p = e.persist()
      (p, d, n, p.count())
    }
    Main.phase("embed")
    val dir = s"${r.workDir}/graph"
    val h = t.span("GraphIndex.build") {
      GraphIndex.build(spark, index, KeyCols, "embedding", dir,
        nCentroids = GraphIndex.DeriveSqrtN, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    }
    Main.phase("build")
    val embed = t.span("Embed.query_setup")(Embed.tfIdfQueryEmbedder(dfreq, nDocs, dim = Dim))
    val hot = t.span("GraphIndex.hot_load")(GraphIndex.hot(spark, h, residentText = true))
    Main.phase("hot")
    Served(index, hot, embed, nChunks)
  }

  /** The recall gate `GraphIndex.buildServing` applies, on the
    * benchmark's own queries: the walk's top-10 against the exact cosine
    * top-10 over the index, averaged over queries. */
  def checkRecall(r: Run, s: Served, universe: Vector[String]): Unit = {
    val vecs = s.index.select("doc_id", "embedding").collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1).toArray))
    val recall = universe.take(RecallQueries).map { q =>
      val qv = s.embed(q)
      val exact = vecs.map { case (id, v) => (id, cosine(qv, v)) }
        .sortBy(x => (-x._2, x._1)).take(10).map(_._1).toSet
      val walked = s.hot.topKLocalRows(qv.toSeq, 10).get.map(_._1.asInstanceOf[Long]).toSet
      exact.intersect(walked).size / 10.0
    }.sum / RecallQueries
    r.check(recall >= RecallFloor, f"graph recall@10 $recall%.3f below $RecallFloor")
    r.metric("graph_recall_at_10", recall, "ratio", s"mean over $RecallQueries queries")
  }

  /** What one pass of the curation chain leaves at each tier. */
  final case class Curation(gated: Long, exact: Long, candidates: Long, near: Long,
                            chunks: Long, kept: Set[Long], seconds: Double)

  /** The curation chain over sf0.1 plus planted duplicates, run twice on
    * corpora generated twice from the seed: the first pass is measured
    * and traced, the second must reproduce its count at every tier and
    * its kept set exactly. The first pass's output is checked: no planted
    * duplicate is kept beside its source. */
  def curate(r: Run, corpus: Vector[Inputs.Doc]): Unit = {
    val c = Inputs.curationCorpus(corpus, r.seed)
    val first = chain(r, c, traced = true)
    val again = Inputs.curationCorpus(corpus, r.seed)
    r.check(again == c, "the curation corpus differs when generated again from the seed")
    val second = chain(r, again, traced = false)
    r.check(second.copy(seconds = 0) == first.copy(seconds = 0),
      s"curation does not repeat for a seed: gate/exact/near/semantic " +
        s"${first.gated}/${first.exact}/${first.near}/${first.kept.size} then " +
        s"${second.gated}/${second.exact}/${second.near}/${second.kept.size}")

    // every surviving doc is one chunk (sf0.1 docs are far below the
    // chunk size), so the semantic tier can judge docs by doc_id
    r.check(first.chunks == first.near, s"${first.near} docs became ${first.chunks} chunks, not one each")
    // a planted duplicate may outlive its source only when an earlier
    // tier dropped the source (it is then the one copy kept); an exact
    // copy never survives, since it shares its source's fingerprint
    val twice = c.planted.toSeq.sortBy(_._1).collect {
      case (id, p) if first.kept(id) && (first.kept(p.source) || p.kind == "exact") =>
        s"$id(${p.kind} of ${p.source})"
    }
    r.check(twice.isEmpty, s"planted duplicates kept: ${twice.take(5).mkString(", ")}")
    val nKept = first.kept.size
    r.metric("curate_docs_per_s", c.docs.length / first.seconds, "1/s",
      s"${c.docs.length} docs in ${"%.2f".format(first.seconds)} s")
    r.metric("curate_kept", nKept.toDouble, "count",
      s"gate=${first.gated} exact=${first.exact} near=${first.near} semantic=$nKept")
    r.layer("Dedup.candidate_pairs", first.candidates.toDouble, "count")
    r.layer("Dedup.pair_yield",
      if (first.candidates == 0) 0.0 else (first.exact - first.near).toDouble / first.candidates, "ratio",
      "near-dup drops over MinHash candidate pairs")
    r.layer("SemanticDedup.dropped", (first.near - nKept).toDouble, "count")
    r.layer("curate.docs_per_s", c.docs.length / first.seconds, "1/s")
  }

  /** One pass of the chain: quality gate (`TextAnalysis`) → exact dedup →
    * MinHash near-dup (`Dedup`) → embed → `SemanticDedup.dedup`, each
    * step a layer call, in a span when `traced`. */
  def chain(r: Run, c: Inputs.Curated, traced: Boolean): Curation = {
    val spark = r.spark
    import spark.implicits._
    def span[A](name: String)(body: => A): A = if (traced) r.trace.span(name)(body) else body
    val chainT0 = System.nanoTime()
    val docs = c.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
    val (gated, nGated) = span("TextAnalysis.score") {
      val g = Materialize(docs.select(col("doc_id"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .filter(col("quality") >= 0.5 && col("n_tokens") >= 20))
      (g, g.count())
    }
    val (exact, nExact) = span("Dedup.exact") {
      val keep = Dedup.exact(gated, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val e = Materialize(gated.join(keep, Seq("doc_id")).select("doc_id", "text"))
      (e, e.count())
    }
    val (surv, nCand, nSurv) = span("Dedup.minhash") {
      val cand = Materialize(Dedup.minhashCandidates(exact, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4))
      val nc = cand.count()
      val s = Materialize(exact.join(cand.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
      (s, nc, s.count())
    }
    val (emb, nChunks) = span("Embed.curate") {
      val chunks = Ingest.chunk(surv, "text", Schemas.ChunkSize)
        .select("doc_id", "chunk_idx", "chunk_text")
      val p = Embed.withTfIdfEmbedding(chunks, "chunk_text", "embedding", dim = Dim)._1.persist()
      (p, p.count())
    }
    val kept = span("SemanticDedup.dedup") {
      val nCents = math.max(1, math.floor(math.sqrt(nChunks.toDouble)).toInt)
      val cents = emb.orderBy("doc_id").limit(nCents)
        .select(col("doc_id").as("centroid_id"), col("embedding").as("cvec"))
      val drops = SemanticDedup.dedup(emb.select("doc_id", "embedding"), "doc_id", "embedding",
          cents, "centroid_id", "cvec", tau = 0.9)
        .filter(!col("is_kept")).select("doc_id")
      emb.select("doc_id").join(drops, Seq("doc_id"), "left_anti").as[Long].collect().toSet
    }
    val chainS = (System.nanoTime() - chainT0) / 1e9
    emb.unpersist()
    Curation(nGated, nExact, nCand, nSurv, nChunks, kept, chainS)
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  def startServer(r: Run, s: Served, embed: String => Array[Double]): (AskServer, Int) = {
    val srv = new AskServer(r.spark, s.index, graph = Some(s.hot), embedQuery = Some(embed),
      dim = Dim, capacity = CacheCapacity, concurrency = r.nproc, residentCache = true)
    (srv, srv.start())
  }

  /** Warm-up: `nproc` clients in a closed loop, not measured, but every
    * answer is still checked. Returns the asks in the order they were
    * answered, which is the order their cache effects were applied in. */
  def warmUp(r: Run, http: AskClient, asks: Vector[Inputs.Ask]): Vector[Inputs.Ask] = {
    val seg = openLoop(asks, 1e9, r.nproc)(a => http.ask(s"warm-${a.seq}", a.text))
    seg.outcomes.foreach(o => r.op(!o.failed, s"warm-up ask ${o.seq}: ${o.result.left.getOrElse("")}"))
    seg.outcomes.filterNot(_.failed).sortBy(_.doneNs).map(o => asks(o.seq))
  }

  def segment(r: Run, http: AskClient, asks: Vector[Inputs.Ask],
              rate: Double, tag: String): Segment[Reply] = {
    val seg = openLoop(asks, rate, r.nproc)(a => http.ask(s"$tag-${a.seq}", a.text))
    seg.outcomes.foreach(o => r.op(!o.failed, s"$tag ask ${o.seq}: ${o.result.left.getOrElse("")}"))
    val (checked, missed) = paraphraseMisses(seg, asks)
    r.check(missed.isEmpty, s"$tag: paraphrases of cached queries missed the cache: ${missed.take(5).mkString(",")}")
    r.metric(s"paraphrase_checks_$tag", checked.toDouble, "count")
    seg
  }

  /** Paraphrases that had to hit the cache but did not. A paraphrase P of
    * universe query u must hit when an earlier ask O of u had answered
    * before P was sent and no ask that could have inserted (a miss, or a
    * failure) overlapped the window from O's send to P's answer: O's
    * entry was then in the cache when P probed it, because only an
    * insert evicts. Returns (paraphrases checked, seqs that missed). */
  def paraphraseMisses(seg: Segment[Reply], asks: Vector[Inputs.Ask]): (Int, Seq[Int]) = {
    val os = seg.outcomes
    def inserting(o: Outcome[Reply]): Boolean = o.result.fold(_ => true, !_.fromCache)
    var checked = 0
    val missed = os.filter(p => asks(p.seq).paraphrase && !p.failed).flatMap { p =>
      val u = asks(p.seq).universeIdx
      val prior = os.filter(o => o.seq != p.seq && asks(o.seq).universeIdx == u &&
        !o.failed && o.doneNs <= p.sentNs)
      if (prior.isEmpty) None
      else {
        val o = prior.maxBy(_.doneNs)
        val clear = !os.exists(x => x.seq != o.seq && x.seq != p.seq && inserting(x) &&
          x.sentNs < p.doneNs && x.doneNs > o.sentNs)
        if (!clear) None
        else {
          checked += 1
          if (p.result.exists(_.fromCache)) None else Some(p.seq)
        }
      }
    }
    (checked, missed)
  }

  /** The doubling ladder: the highest rung whose tail stays within the
    * latency limit with no failure and no growing backlog, and the most
    * asks per second any rung completed. The climb stops at the first
    * failing rung. */
  def ladder(r: Run, http: AskClient, universe: Vector[String],
             ref: Segment[Reply]): Unit = {
    var best = 0.0
    var sustained = 0.0
    var k = 0
    def rung(rate: Double): Boolean = {
      val seg =
        if (rate == ReferenceRate) ref
        else segment(r, http, Inputs.askStream(universe, r.seed, 100 + k, RungAsks), rate, s"rung$k")
      k += 1
      val t = seg.tailOf
      val pass = seg.failed == 0 && t.value <= LatencyLimitMs && !seg.backlogGrew(LatencyLimitMs / 2)
      println(f"rung rate=$rate%.0f/s n=${seg.n} p50=${seg.p50}%.2f ms tail(p${t.pct}%.1f)=${t.value}%.2f ms " +
        f"completed=${seg.completedPerS}%.1f/s late_p50=${median(seg.late)}%.2f ms pass=$pass")
      sustained = math.max(sustained, seg.completedPerS)
      if (pass) best = math.max(best, rate)
      pass
    }
    var rate = ReferenceRate
    while (rate <= LadderTop && rung(rate)) rate *= 2
    if (best == 0.0) rung(LadderStart)
    r.metric("ask_max_rate", best, "1/s",
      s"highest passing rung of ${LadderStart.toInt}*2^k, gated at the highest percentile with >=10 beyond")
    r.metric("ask_sustained_rate", sustained, "1/s", "completed asks/s, best rung")
    r.e2e("rate_per_s", sustained, "completed asks/s on the best ladder rung")
  }

  /** The traced run: the reference stream again on a second server whose
    * embedder is timed, then an in-process replay of that stream through
    * the layer calls, checked answer by answer against HTTP. */
  def traced(r: Run, s: Served, plain: Segment[Reply],
             warm: Vector[Inputs.Ask], ref: Vector[Inputs.Ask]): Unit = {
    val t = r.trace
    val credit = t.credit.get
    val serverEmbedMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val timedEmbed: String => Array[Double] = q => {
      val t0 = System.nanoTime()
      val v = s.embed(q)
      serverEmbedMs.add((System.nanoTime() - t0) / 1e6)
      v
    }
    val (srv, port) = startServer(r, s, timedEmbed)
    val http = new AskClient(port)
    try {
      val warmOrder = warmUp(r, http, warm)
      SparkBus.drain(r.spark.sparkContext)
      val jobs0 = credit.totalJobs
      val seg = segment(r, http, ref, ReferenceRate, "traced")
      SparkBus.drain(r.spark.sparkContext)
      val jobsPerAsk = (credit.totalJobs - jobs0).toDouble / seg.n
      r.check(jobsPerAsk == 0.0, s"asks launched Spark jobs: $jobsPerAsk per ask")
      r.layer("AskServer.spark_jobs_per_ask", jobsPerAsk, "count")
      r.layer("ResidentLfuCache.hit_ratio",
        seg.outcomes.count(_.result.exists(_.fromCache)).toDouble / seg.n, "ratio")
      r.layer("trace.overhead_ms", seg.p50 - plain.p50, "ms",
        "ask p50 with the timed embedder minus without, same run")
      r.layer("loadgen.late_ms", Latency.tail(seg.late).value, "ms")
      import scala.jdk.CollectionConverters._
      r.layer("AskServer.embed_ms", median(serverEmbedMs.asScala.map(_.doubleValue).toSeq), "ms",
        "the embedder as timed inside the server")
      replay(r, s, warmOrder, ref, seg)
    } finally { http.close(); srv.stop() }
  }

  /** Replays warm-up then the traced segment (in the order the server
    * answered) twice over: once decomposed into the layer calls
    * askStatelessResident is made of, once through askStatelessResident
    * itself, each against a fresh resident cache. */
  def replay(r: Run, s: Served, warm: Vector[Inputs.Ask], ref: Vector[Inputs.Ask],
             seg: Segment[Reply]): Unit = {
    val t = r.trace
    val decomposed = new ResidentLfuCache(CacheCapacity)
    val whole = new ResidentLfuCache(CacheCapacity)
    var evictions = 0
    def one(q: String, req: Long): (String, String, Double, Double) = {
      var embedMs = 0.0
      val answer = t.span("AskPipeline.ask", req) {
        val e0 = System.nanoTime()
        val qv = t.span("Embed.query", req)(s.embed(q))
        embedMs = (System.nanoTime() - e0) / 1e6
        val hit = t.span("ResidentLfuCache.lookup", req)(decomposed.lookup(qv, Schemas.CacheThreshold))
        val (answer, effect) = hit match {
          case Some((id, resp)) => (resp, AskPipeline.TouchEffect(id))
          case None =>
            val rows = t.span("GraphIndex.walk", req)(s.hot.topKLocalRows(qv.toSeq, Schemas.DefaultTopK).get)
            val blocks = t.span("Retrieval.context", req) {
              val b = Retrieval.contextBlocksLocal(rows)
              Retrieval.promptStringLocal(q, b.mkString("\n\n"), None)
              b
            }
            val a = t.span("AskPipeline.generate", req)(AskPipeline.generateStub(blocks.headOption.getOrElse("")))
            (a, AskPipeline.InsertEffect(qv.map(_.toFloat).toSeq, a))
        }
        if (effect.isInstanceOf[AskPipeline.InsertEffect] && decomposed.size >= decomposed.capacity)
          evictions += 1
        t.span("ResidentLfuCache.merge", req)(decomposed.applyEffect(effect))
        answer
      }
      val qv = s.embed(q)
      val a0 = System.nanoTime()
      val (res, eff) = t.span("AskPipeline.askStatelessResident", req) {
        AskPipeline.askStatelessResident(r.spark, s.index, whole, q, queryVec = Some(qv),
          graph = Some(s.hot), dim = Dim)
      }
      val askMs = (System.nanoTime() - a0) / 1e6
      whole.applyEffect(eff)
      (answer, res.answer, embedMs, askMs)
    }
    warm.foreach(a => one(a.text, -1L))
    val order = seg.outcomes.filterNot(_.failed).sortBy(_.doneNs)
    val rows = order.map { o =>
      val a = ref(o.seq)
      val (dec, wh, embedMs, askMs) = one(a.text, o.seq.toLong)
      val http = o.result.toOption.get.answer
      r.check(dec == http && wh == http,
        s"replay of ask ${o.seq} differs from its HTTP answer")
      (o.serviceMs, embedMs, askMs)
    }
    val spans = t.spans
    def med(name: String): Double = {
      val xs = spans.filter(x => x.name == name && x.request >= 0).map(_.ms)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val edge = median(rows.map { case (http, e, a) => http - e - a })
    r.layer("AskServer.edge_ms", edge, "ms", "HTTP service time minus in-process embed + ask, per request")
    r.layer("AskServer.http_ms", median(rows.map(_._1)), "ms", "HTTP service time (send to answer)")
    r.layer("AskPipeline.ask_ms", median(rows.map(_._3)), "ms", "askStatelessResident, embed excluded")
    r.layer("Embed.query_ms", median(rows.map(_._2)), "ms")
    val parents = spans.filter(x => x.name == "AskPipeline.ask" && x.request >= 0)
    val byParent = spans.groupBy(_.parent)
    r.layer("AskPipeline.self_ms",
      median(parents.map(p => Trace.selfNs(p, byParent.getOrElse(p.id, Nil)) / 1e6)), "ms")
    r.layer("ResidentLfuCache.probe_ms", med("ResidentLfuCache.lookup"), "ms")
    r.layer("ResidentLfuCache.merge_ms", med("ResidentLfuCache.merge"), "ms")
    r.layer("ResidentLfuCache.evictions", evictions.toDouble, "count", "during the replay")
    r.layer("GraphIndex.walk_ms", med("GraphIndex.walk"), "ms", "Hot.topKLocalRows, misses only")
    r.layer("Retrieval.context_ms", med("Retrieval.context"), "ms", "contextBlocksLocal + promptStringLocal")
    r.layer("AskPipeline.generate_ms", med("AskPipeline.generate"), "ms")
  }
}
