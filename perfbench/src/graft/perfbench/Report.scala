package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.SparkBus

/** Output helpers: the per-layer metric list, the traced run's span
  * table and span file, and the result record. */
object Report {
  import Main.{Run, num}

  /** Every per-layer metric (see BENCHMARK.json), in output order. A
    * workload reports 0 for the layers it does not exercise; the
    * `spark.*` family is credited per span through the job group. */
  val PerLayer: Seq[(String, String)] = Seq(
    "AskServer.edge_ms" -> "ms",
    "AskServer.http_ms" -> "ms",
    "AskServer.embed_ms" -> "ms",
    "AskServer.spark_jobs_per_ask" -> "count",
    "AskPipeline.ask_ms" -> "ms",
    "AskPipeline.self_ms" -> "ms",
    "AskPipeline.generate_ms" -> "ms",
    "Embed.query_ms" -> "ms",
    "Embed.corpus_s" -> "s",
    "ResidentLfuCache.probe_ms" -> "ms",
    "ResidentLfuCache.merge_ms" -> "ms",
    "ResidentLfuCache.hit_ratio" -> "ratio",
    "ResidentLfuCache.evictions" -> "count",
    "GraphIndex.walk_ms" -> "ms",
    "Retrieval.context_ms" -> "ms",
    "GraphIndex.build_s" -> "s",
    "GraphIndex.hot_load_s" -> "s",
    "GraphIndex.insert_s" -> "s",
    "GraphIndex.delete_s" -> "s",
    "GraphIndex.compact_s" -> "s",
    "GraphIndex.topk_ms" -> "ms",
    "Retrieval.bm25_append_s" -> "s",
    "Retrieval.bm25_probe_ms" -> "ms",
    "Retrieval.bm25_compact_s" -> "s",
    "Retrieval.bm25_segments" -> "count",
    "store.bytes_written_per_user_byte" -> "ratio",
    "store.files" -> "count",
    "TextAnalysis.score_s" -> "s",
    "Dedup.exact_s" -> "s",
    "Dedup.minhash_s" -> "s",
    "Dedup.candidate_pairs" -> "count",
    "Dedup.pair_yield" -> "ratio",
    "SemanticDedup.dedup_s" -> "s",
    "SemanticDedup.dropped" -> "count",
    "curate.docs_per_s" -> "1/s",
    "loadgen.late_ms" -> "ms",
    "trace.overhead_ms" -> "ms"
  ) ++ SparkLayers.flatMap { span =>
    Seq(s"$span.spark_jobs" -> "count", s"$span.spark_task_s" -> "s",
      s"$span.spark_driver_gap_s" -> "s")
  } ++ Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.task_s" -> "s",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.driver_gap_s" -> "s")

  /** Spans that launch Spark work, and the metric prefix each reports
    * as: per call, jobs, task time and the driver gap (span wall time
    * not covered by any running job). */
  lazy val SparkLayers: Seq[String] = Seq(
    "TextAnalysis.score", "Dedup.exact", "Dedup.minhash", "Embed.corpus",
    "SemanticDedup.dedup", "GraphIndex.build", "GraphIndex.hot_load",
    "GraphIndex.insert", "GraphIndex.delete", "GraphIndex.compact", "GraphIndex.topk",
    "Retrieval.bm25_append", "Retrieval.bm25_probe", "Retrieval.bm25_compact")

  /** Layer metrics that are a span's wall time: (span, metric, ms per
    * unit). */
  val WallLayers: Seq[(String, String, Double)] = Seq(
    ("Embed.corpus", "Embed.corpus_s", 1e3),
    ("GraphIndex.build", "GraphIndex.build_s", 1e3),
    ("GraphIndex.hot_load", "GraphIndex.hot_load_s", 1e3),
    ("GraphIndex.insert", "GraphIndex.insert_s", 1e3),
    ("GraphIndex.delete", "GraphIndex.delete_s", 1e3),
    ("GraphIndex.compact", "GraphIndex.compact_s", 1e3),
    ("GraphIndex.topk", "GraphIndex.topk_ms", 1.0),
    ("Retrieval.bm25_append", "Retrieval.bm25_append_s", 1e3),
    ("Retrieval.bm25_probe", "Retrieval.bm25_probe_ms", 1.0),
    ("Retrieval.bm25_compact", "Retrieval.bm25_compact_s", 1e3),
    ("TextAnalysis.score", "TextAnalysis.score_s", 1e3),
    ("Dedup.exact", "Dedup.exact_s", 1e3),
    ("Dedup.minhash", "Dedup.minhash_s", 1e3),
    ("SemanticDedup.dedup", "SemanticDedup.dedup_s", 1e3))

  /** Heap in use after a full collection, in MB. */
  def residentMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Per-span Spark counters, summed over every call of each span name. */
  final case class SparkSum(calls: Int, jobs: Int, stages: Int, taskS: Double,
                            shuffle: Long, spill: Long, gapS: Double)

  def sparkByName(r: Run): Map[String, SparkSum] = {
    val credit = r.trace.credit.get
    SparkBus.drain(r.spark.sparkContext)
    r.trace.spans.groupBy(_.name).flatMap { case (name, ss) =>
      val works = ss.flatMap(s => credit.of(s.id).map(s -> _))
      if (works.isEmpty) None
      else Some(name -> SparkSum(ss.length, works.map(_._2.jobs).sum, works.map(_._2.stages).sum,
        works.map(_._2.taskNs).sum / 1e9, works.map(_._2.shuffleBytes).sum,
        works.map(_._2.spillBytes).sum,
        works.map { case (s, w) =>
          ((s.endNs - s.startNs) - Trace.covered(w.jobIntervals.toSeq.map { case (a, b) =>
            (math.max(a, s.startNs), math.min(b, s.endNs)) }.filter(i => i._2 > i._1))) / 1e9
        }.sum))
    }
  }

  /** Fills the per-layer metrics that come from spans. Call before the
    * session stops: it drains the listener bus. */
  def fillLayers(r: Run): Map[String, SparkSum] = {
    val spark = sparkByName(r)
    val spans = r.trace.spans
    WallLayers.foreach { case (span, metric, perMs) =>
      val ms = spans.filter(_.name == span).map(_.ms)
      if (ms.nonEmpty) r.layer(metric, Latency.median(ms) / perMs, if (perMs == 1.0) "ms" else "s",
        s"median of ${ms.length} call(s)")
    }
    SparkLayers.foreach { span =>
      val s = spark.get(span)
      val calls = s.map(_.calls.toDouble).getOrElse(1.0)
      r.layer(s"$span.spark_jobs", s.map(_.jobs / calls).getOrElse(0.0), "count", "per call")
      r.layer(s"$span.spark_task_s", s.map(_.taskS / calls).getOrElse(0.0), "s", "per call")
      r.layer(s"$span.spark_driver_gap_s", s.map(_.gapS / calls).getOrElse(0.0), "s", "per call")
    }
    val all = spark.values
    r.layer("spark.jobs", all.map(_.jobs).sum.toDouble, "count")
    r.layer("spark.stages", all.map(_.stages).sum.toDouble, "count")
    r.layer("spark.task_s", all.map(_.taskS).sum, "s")
    r.layer("spark.shuffle_bytes", all.map(_.shuffle).sum.toDouble, "bytes")
    r.layer("spark.spill_bytes", all.map(_.spill).sum.toDouble, "bytes")
    r.layer("spark.driver_gap_s", all.map(_.gapS).sum, "s")
    // layers this workload does not exercise report 0
    PerLayer.foreach { case (n, u) => if (!r.layers.contains(n)) r.layer(n, 0.0, u, "not exercised") }
    spark
  }

  /** Prints the span table — per span name: calls, median wall, median
    * self time, and Spark work — then every per-layer metric. */
  def printLayers(r: Run, spark: Map[String, SparkSum]): Unit = {
    val spans = r.trace.spans
    val children = spans.groupBy(_.parent)
    println(f"span ${"name"}%-36s ${"calls"}%6s ${"wall_ms"}%10s ${"self_ms"}%10s ${"jobs"}%6s " +
      f"${"stages"}%6s ${"task_s"}%8s ${"shuffle_b"}%11s ${"spill_b"}%9s ${"gap_s"}%8s")
    spans.groupBy(_.name).toSeq.sortBy(_._2.head.startNs).foreach { case (name, ss) =>
      val wall = Latency.median(ss.map(_.ms))
      val self = Latency.median(ss.map(s => Trace.selfNs(s, children.getOrElse(s.id, Nil)) / 1e6))
      val w = spark.get(name)
      println(f"span $name%-36s ${ss.length}%6d ${Main.fmt(wall)}%10s ${Main.fmt(self)}%10s " +
        f"${w.map(_.jobs).getOrElse(0)}%6d ${w.map(_.stages).getOrElse(0)}%6d " +
        f"${w.map(x => Main.fmt(x.taskS)).getOrElse("0")}%8s ${w.map(_.shuffle).getOrElse(0L)}%11d " +
        f"${w.map(_.spill).getOrElse(0L)}%9d ${w.map(x => Main.fmt(x.gapS)).getOrElse("0")}%8s")
    }
    println("(wall and self are medians per call; Spark counters are totals over all calls)")
    r.layers.values.foreach(m =>
      println(f"layer ${m.name}%-44s ${Main.fmt(m.value)}%14s ${m.unit}%-6s ${m.note}"))
  }

  /** Every span, one JSON object a line, under the state directory. */
  def writeSpans(r: Run): Unit = {
    val f = Paths.get(r.stateDir).resolve(s"${r.workload}-seed${r.seed}.spans.jsonl")
    Files.createDirectories(f.getParent)
    val q = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = r.trace.spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q.writeValueAsString(s.name)},""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(f, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    println(s"spans written: ${lines.length} to $f")
  }

  /** The full record of a run: the box, every named metric, the
    * end-to-end slots and (traced) the per-layer metrics. */
  def resultJson(r: Run, box: Box): String = {
    def obj(ms: Iterable[Main.Metric]): String = ms.map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")
    s"""{"result":{"workload":"${r.workload}","seed":${r.seed},"trace":${r.trace.enabled},""" +
      s""""box":${box.json},"named":${obj(r.named)},"end_to_end":${obj(r.endToEnd.values)},""" +
      s""""per_layer":${obj(r.layers.values)},"attempted":${r.attempted},"failed":${r.failed}}}"""
  }
}
