package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input graft sees is derived here from
  * the vendored sf0.1 `documents` table and the `--seed`; the same seed
  * gives the same inputs, byte for byte. Generators are pure Scala — no
  * Spark — so input generation never counts towards a measured phase. */
object Inputs {

  final case class Doc(id: Long, text: String)

  /** The sf0.1 documents (doc_id, text), as vendored in `data/`. */
  def loadCorpus(path: String): Vector[Doc] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path))
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map { l =>
      val tab = l.indexOf('\t')
      Doc(l.substring(0, tab).toLong, l.substring(tab + 1))
    }.toVector
    finally src.close()
  }

  private def words(s: String): Array[String] = s.split("\\s+").filter(_.nonEmpty)

  /** A seeded permutation that differs from the input order whenever the
    * words are not all equal. */
  private def reorder(ws: Array[String], rng: SplittableRandom): Array[String] = {
    if (ws.distinct.length < 2) return ws
    var out = ws
    while (out.sameElements(ws)) {
      out = ws.clone()
      var i = out.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = out(i); out(i) = out(j); out(j) = t
        i -= 1
      }
    }
    out
  }

  // ------------------------------------------------------------------ //
  // ask_zipf                                                            //
  // ------------------------------------------------------------------ //

  /** One `/ask` draw: `universeIdx` names the query it was drawn as, and a
    * paraphrase carries the same words in another order (same TF-IDF
    * vector, different text). */
  final case class Ask(seq: Int, universeIdx: Int, paraphrase: Boolean, text: String)

  /** The traffic mix is synthetic: no query log of the served corpus
    * exists. The universe size and the query length are free choices. */
  val UniverseSize = 2000
  val QueryWords = 8
  /** Skew of the ask stream, taken from published request logs, not fit
    * to a hit ratio: Breslau et al., "Web Caching and Zipf-like
    * Distributions: Evidence and Implications" (INFOCOM 1999) find
    * request popularity Zipf-like with an exponent below 1, 0.64–0.83
    * across their proxy traces. The hit ratio that results is measured
    * and reported by every run. */
  val ZipfExponent = 0.8
  /** Share of draws sent as word-order paraphrases. A paraphrase has its
    * query's TF-IDF vector, so the share does not change what the cache
    * sees; it only decides how many paraphrase checks a run makes. */
  val ParaphraseShare = 0.2

  /** ~2,000 distinct corpus-derived queries: an 8-word window of a seeded
    * document. Distinct means distinct as word bags, so no two universe
    * entries are paraphrases of each other. */
  def queryUniverse(corpus: Vector[Doc], seed: Long): Vector[String] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val long = corpus.map(d => words(d.text)).filter(_.length >= QueryWords)
    val seen = scala.collection.mutable.HashSet.empty[Seq[String]]
    val out = Vector.newBuilder[String]
    var n = 0
    var tries = 0
    while (n < UniverseSize) {
      tries += 1
      require(tries < 100 * UniverseSize, s"corpus too small for $UniverseSize distinct queries")
      val ws = long(rng.nextInt(long.length))
      val off = rng.nextInt(ws.length - QueryWords + 1)
      val q = ws.slice(off, off + QueryWords)
      if (seen.add(q.sorted.toSeq)) { out += q.mkString(" "); n += 1 }
    }
    out.result()
  }

  /** Zipf(s) over ranks 1..n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The ask stream for one segment (`salt` separates the segments of a
    * run): Zipf ranks mapped onto a seeded permutation of the universe,
    * with a seeded share of draws sent as word-order paraphrases. */
  def askStream(universe: Vector[String], seed: Long, salt: Long, n: Int): Vector[Ask] = {
    val perm = {
      val rng = new SplittableRandom(seed * 31 + 7)
      val p = Array.range(0, universe.length)
      var i = p.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    val zipf = new Zipf(universe.length, ZipfExponent)
    val rng = new SplittableRandom(seed * 1000003L + salt)
    Vector.tabulate(n) { i =>
      val idx = perm(zipf.rank(rng.nextDouble()))
      val para = rng.nextDouble() < ParaphraseShare
      val text =
        if (para) reorder(words(universe(idx)), rng).mkString(" ")
        else universe(idx)
      Ask(i, idx, para, text)
    }
  }

  // ------------------------------------------------------------------ //
  // curation (the corpus the served index is built from)               //
  // ------------------------------------------------------------------ //

  /** A planted duplicate: its kind — "exact" (verbatim copy), "near" (one
    * word substituted) or "paraphrase" (words reordered) — and the id of
    * the corpus document it copies. */
  final case class Planted(kind: String, source: Long)

  /** The corpus with planted duplicates, keyed by planted id. Sources are
    * distinct documents long enough to pass the quality gate, and every
    * planted id is higher than any corpus id. */
  final case class Curated(docs: Vector[Doc], planted: Map[Long, Planted])

  val PlantedPerKind = 50
  val PlantedIdBase = 1000000L

  def curationCorpus(corpus: Vector[Doc], seed: Long): Curated = {
    val rng = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)
    val vocab = corpus.flatMap(d => words(d.text)).distinct.sorted
    val eligible = corpus.filter(d => words(d.text).length >= 40)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < 3 * PlantedPerKind) picked += rng.nextInt(eligible.length)
    val sources = picked.toVector.map(eligible)
    val kinds = Vector("exact", "near", "paraphrase")
    val planted = sources.zipWithIndex.map { case (src, i) =>
      val kind = kinds(i / PlantedPerKind)
      val ws = words(src.text)
      val text = kind match {
        case "exact" => src.text
        case "near" =>
          val at = rng.nextInt(ws.length)
          val repl = vocab.filterNot(_ == ws(at))
          ws.updated(at, repl(rng.nextInt(repl.length))).mkString(" ")
        case _ => reorder(ws, rng).mkString(" ")
      }
      (Doc(PlantedIdBase + i, text), Planted(kind, src.id))
    }
    Curated(corpus ++ planted.map(_._1), planted.map { case (d, p) => d.id -> p }.toMap)
  }

  // ------------------------------------------------------------------ //
  // index_maintain                                                      //
  // ------------------------------------------------------------------ //

  val AppendBatch = 20
  val DeleteBatch = 10

  /** The docs appended in maintenance cycle `cycle`: seeded bags of
    * corpus words plus one marker token unique to the doc, so a BM25
    * probe for the marker names exactly that doc. Doc ids are strings
    * that never collide with the corpus's numeric ids. */
  def appendBatch(corpus: Vector[Doc], seed: Long, cycle: Int): Vector[(String, String, String)] = {
    val rng = new SplittableRandom(seed * 0x5851F42D4C957F2DL + cycle)
    val vocab = corpus.flatMap(d => words(d.text)).distinct.sorted
    Vector.tabulate(AppendBatch) { i =>
      val marker = s"zq${seed}c${cycle}d$i"
      val n = 20 + rng.nextInt(40)
      val body = Vector.fill(n)(vocab(rng.nextInt(vocab.length)))
      (s"new-$seed-$cycle-$i", marker, (body :+ marker).mkString(" "))
    }
  }

  /** Which of a cycle's appended docs that cycle deletes (indices into
    * [[appendBatch]]). */
  def deleteBatch(seed: Long, cycle: Int): Vector[Int] = {
    val rng = new SplittableRandom(seed * 0x27BB2EE687B0B0FDL + cycle)
    val idx = Array.range(0, AppendBatch)
    var i = idx.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t; i -= 1 }
    idx.take(DeleteBatch).sorted.toVector
  }
}
