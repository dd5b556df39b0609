package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{Materialize, Schemas}
import graft.operators._

/** `index_maintain`: one writer maintaining a graph index and a segmented
  * BM25 store built over sf0.1 — the stores' single-writer contract.
  * Each cycle appends a batch (chunk → `Embed.withEmbedding` →
  * `GraphIndex.insert` +
  * `Retrieval.appendBm25Segment`), probes both stores (BM25 over the
  * segments), deletes half the batch (`GraphIndex.delete`), compacts both
  * stores, and probes both (BM25, and top-k on the cold graph handle). Cycles
  * repeat until `--seconds` have passed; there is always at least one. */
object IndexMaintain {
  import Main.Run

  val KeyCols = Seq("doc_id", "chunk_idx")
  val NBuckets = 16
  val ProbeK = 10
  val MaxCycles = 8
  /** BM25 probes before and after each compaction, so that a single
    * cycle's p50 rests on twelve reads. */
  val BM25Probes = 6
  /** The store starts over the first this-many sf0.1 documents. */
  val StoreDocs = 500

  def run(r: Run, sessionS: Double): Unit = {
    val spark = r.spark
    import spark.implicits._
    val t = r.trace
    val corpus = Inputs.loadCorpus(s"${r.dataDir}/sf0.1_documents.tsv.gz").take(StoreDocs)
    val batches = (0 until MaxCycles).map(c =>
      (Inputs.appendBatch(corpus, r.seed, c), Inputs.deleteBatch(r.seed, c)))
    val gdir = s"${r.workDir}/graph"
    val bdir = s"${r.workDir}/bm25"

    Main.phase("inputs")
    val t0 = System.nanoTime()
    val index = t.span("Embed.corpus") {
      val docs = corpus.map(d => (d.id.toString, d.text)).toDF("doc_id", "text")
      val p = embedChunks(docs).persist()
      p.count()
      p
    }
    Main.phase("embed")
    val h = t.span("GraphIndex.build") {
      GraphIndex.build(spark, index, KeyCols, "embedding", gdir,
        nCentroids = GraphIndex.DeriveSqrtN, m = 16, nBuckets = NBuckets, beamWidth = 32, hops = 3)
    }
    Main.phase("build")
    t.span("Retrieval.bm25_build") {
      Retrieval.appendBm25Segment(index.select("doc_id", "chunk_text"), "doc_id", "chunk_text",
        bdir, "base", nBuckets = NBuckets)
    }
    index.unpersist()
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    r.e2e("setup_s", setupS)
    r.e2e("resident_mb", Report.residentMb(), "heap in use after set-up and a full GC")
    r.metric("setup_s", setupS, "s")

    Main.phase("setup")
    val stores = Seq(Paths.get(gdir), Paths.get(bdir))
    val probes, topks = Seq.newBuilder[Double]
    val inserts, deletes, compacts, cycles, amplification = Seq.newBuilder[Double]
    var churned = 0
    var writeS = 0.0
    var files = 0
    var segments = 0
    val runT0 = System.nanoTime()
    var c = 0
    while (c == 0 || (c < MaxCycles && (System.nanoTime() - runT0) / 1e9 < r.seconds)) {
      val (batch, del) = batches(c)
      val cycleT0 = System.nanoTime()
      var written = 0L
      def write[A](span: String)(body: => A): A = {
        val before = snapshot(stores)
        val out = t.span(span)(body)
        written += bytesWritten(before, snapshot(stores))
        out
      }
      def timed[A](body: => A): (A, Double) = {
        val t1 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t1) / 1e6)
      }

      // 1. append: chunk → embed → graph insert + BM25 segment
      val (rows, insertMs) = timed {
        val rows = Materialize(embedChunks(batch.map(b => (b._1, b._3)).toDF("doc_id", "text")))
        op(r, s"cycle $c insert")(write("GraphIndex.insert") {
          GraphIndex.insert(spark, h, rows, KeyCols, "embedding") })
        op(r, s"cycle $c bm25 append")(write("Retrieval.bm25_append") {
          Retrieval.appendBm25Segment(rows.select("doc_id", "chunk_text"), "doc_id", "chunk_text",
            bdir, f"cycle$c%04d") })
        rows
      }
      Main.phase("append")
      segments = math.max(segments, countSegments(bdir))
      val ids = batch.map(_._1)
      val qvecs = rows.select(col("doc_id"), col("embedding")).collect()
        .map(x => (ids.indexOf(x.getString(0)).toLong, x.getSeq[Double](1))).toSeq
        .toDF("query_id", "qv")

      // 2. probe the segments: BM25 names exactly the appended batch
      val markers = batch.map(_._2).mkString(" ")
      def bm25Probes(): (Map[String, Double], Seq[Double]) = {
        val runs = (0 until BM25Probes).map(_ => timed(bm25(r, c, bdir, markers)))
        r.check(runs.forall(_._1 == runs.head._1), s"cycle $c: repeated BM25 probes disagree")
        (runs.head._1, runs.map(_._2))
      }
      val (bm1, bm1Ms) = bm25Probes()
      r.check(bm1.keySet == ids.toSet, s"cycle $c: BM25 found ${bm1.size} of ${ids.length} appended docs")

      Main.phase("probe1")
      // 3. delete half the batch
      val gone = del.map(ids).toSet
      val (_, deleteMs) = timed(op(r, s"cycle $c delete")(write("GraphIndex.delete") {
        GraphIndex.delete(spark, h, rows.filter(col("doc_id").isin(gone.toSeq: _*))
          .select(KeyCols.map(col): _*), KeyCols) }))

      Main.phase("delete")
      // 4. compact both stores
      val (_, compactMs) = timed {
        op(r, s"cycle $c graph compact")(write("GraphIndex.compact")(GraphIndex.compact(spark, h)))
        op(r, s"cycle $c bm25 compact")(write("Retrieval.bm25_compact") {
          Retrieval.compactBm25SegmentsInPlace(spark, bdir) })
      }

      Main.phase("compact")
      // 5. probe both stores: BM25 scores survive compaction bit for bit;
      // the cold graph handle finds every kept doc and no deleted one
      val (bm2, bm2Ms) = bm25Probes()
      r.check(bm2 == bm1, s"cycle $c: BM25 scores changed across segment compaction")
      val (g2, g2Ms) = timed(topK(r, c, h, qvecs))
      val resurfaced = g2.values.flatten.filter(gone.contains).toSet
      r.check(resurfaced.isEmpty, s"cycle $c: deleted docs returned: ${resurfaced.take(3).mkString(",")}")
      val lost2 = ids.indices.filter(i => !gone.contains(ids(i)) &&
        !g2.getOrElse(i.toLong, Set.empty[String]).contains(ids(i)))
      r.check(lost2.isEmpty, s"cycle $c: graph probes missed kept docs ${lost2.mkString(",")}")

      probes ++= bm1Ms ++ bm2Ms
      topks += g2Ms
      writeS += (insertMs + deleteMs + compactMs) / 1e3
      inserts += insertMs / 1e3
      deletes += deleteMs / 1e3
      compacts += compactMs / 1e3
      cycles += (System.nanoTime() - cycleT0) / 1e9
      amplification += written.toDouble / batch.map(_._3.getBytes("UTF-8").length).sum
      files = countFiles(stores)
      churned += ids.length + gone.size
      c += 1
    }
    if (t.enabled) {
      // tracing overhead: the same BM25 probe, alternately bare and inside
      // a span with its job group set
      val markers = batches(0)._1.map(_._2).mkString(" ")
      def probeMs(traced: Boolean): Double = {
        val t1 = System.nanoTime()
        if (traced) t.span("trace.probe")(Retrieval.bm25FromSegments(spark, bdir, "doc_id", markers).collect())
        else Retrieval.bm25FromSegments(spark, bdir, "doc_id", markers).collect()
        (System.nanoTime() - t1) / 1e6
      }
      val pairs = (0 until 3).map(_ => (probeMs(false), probeMs(true)))
      r.layer("trace.overhead_ms", Latency.median(pairs.map(_._2)) - Latency.median(pairs.map(_._1)), "ms",
        "BM25 probe inside a span minus bare, same run")
    }
    val p = probes.result()
    val g = topks.result()
    // a run holds too few probes for a tail by the >=10-beyond rule, so
    // this slot carries the slow probe kind instead
    r.e2e("latency_ms", Latency.median(p), s"BM25 probe p50, n=${p.length}")
    r.e2e("tail_ms", Latency.median(g), s"cold-handle graph top-k probe, median of ${g.length}")
    r.e2e("rate_per_s", churned / writeS,
      s"docs appended + deleted per second of insert + delete + compact, $c cycle(s)")
    r.metric("insert_s", Latency.median(inserts.result()), "s", "chunk + embed + graph insert + BM25 append")
    r.metric("delete_s", Latency.median(deletes.result()), "s")
    r.metric("compact_s", Latency.median(compacts.result()), "s", "graph + BM25 compaction")
    r.metric("probe_ms", Latency.median(p), "ms", s"BM25 probes, n=${p.length}")
    r.metric("topk_ms", Latency.median(g), "ms", s"cold-handle graph top-k probes, n=${g.length}")
    r.metric("cycle_s", Latency.median(cycles.result()), "s", s"$c cycle(s)")
    r.layer("store.bytes_written_per_user_byte", Latency.median(amplification.result()), "ratio",
      "store bytes written per appended text byte, per cycle")
    r.layer("store.files", files.toDouble, "count", "graph + BM25 store files after the last cycle")
    r.layer("Retrieval.bm25_segments", segments.toDouble, "count", "before compaction")
  }

  /** doc_id, text → the store's chunk rows: chunk, then the default
    * hashed bag-of-words embedding. */
  private def embedChunks(docs: DataFrame): DataFrame =
    Embed.withEmbedding(Ingest.chunk(docs.filter(Ingest.nonBlank(col("text"))), "text", Schemas.ChunkSize)
      .select("doc_id", "chunk_idx", "chunk_text"), "chunk_text", "embedding")

  /** Runs one maintenance operation, counting it; None if it threw. */
  private def op[A](r: Run, what: String)(body: => A): Option[A] = {
    val out = scala.util.Try(body)
    out.failed.foreach(e => System.err.println(s"$what: $e"))
    r.op(out.isSuccess, s"$what: ${out.failed.map(_.toString).getOrElse("")}")
    out.toOption
  }

  private def bm25(r: Run, c: Int, dir: String, query: String): Map[String, Double] =
    op(r, s"cycle $c bm25 probe")(r.trace.span("Retrieval.bm25_probe") {
      Retrieval.bm25FromSegments(r.spark, dir, "doc_id", query)
        .select("doc_id", "score").collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    }).getOrElse(Map.empty)

  private def topK(r: Run, c: Int, h: GraphIndex.Handle, q: DataFrame): Map[Long, Set[String]] =
    op(r, s"cycle $c graph probe")(r.trace.span("GraphIndex.topk") {
      GraphIndex.topKBatch(r.spark, h, q, "query_id", "qv", ProbeK, tieBreak = KeyCols)
        .select("query_id", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    }).getOrElse(Map.empty)

  private def countSegments(bdir: String): Int = {
    val d = Paths.get(bdir, "segments")
    if (!Files.isDirectory(d)) 0
    else { val s = Files.list(d); try s.filter(Files.isDirectory(_)).count().toInt finally s.close() }
  }

  private def snapshot(roots: Seq[Path]): Map[Path, (Long, Long)] =
    roots.filter(Files.exists(_)).flatMap { root =>
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
          p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toVector
      } finally s.close()
    }.toMap

  /** Bytes in files that are new or changed between two snapshots. */
  private def bytesWritten(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): Long =
    after.collect { case (p, v @ (size, _)) if !before.get(p).contains(v) => size }.sum

  private def countFiles(roots: Seq[Path]): Int = snapshot(roots).size
}
