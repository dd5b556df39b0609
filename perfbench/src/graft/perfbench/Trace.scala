package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans for the traced run. A span records its name, start,
  * end, parent and request id; spans are kept in memory and written out
  * once, at the end. Around each span's body the benchmark sets a Spark
  * job group named after the span, and [[SparkCredit]] credits every job
  * submitted under that group — its stages, task time, shuffle and spill
  * — to the span. With tracing off, [[span]] only runs the body. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  import Trace._

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val credit: Option[SparkCredit] =
    if (enabled) { val c = new SparkCredit; sc.addSparkListener(c); Some(c) } else None

  def span[A](name: String, request: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      val prevDesc = sc.getLocalProperty(JobDescriptionKey)
      sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
        done.add(Span(id, parents.headOption.getOrElse(0L), name, request, t0, t1))
      }
    }

  def spans: Vector[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toVector.sortBy(_.id)
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, name: String, request: Long,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  // SparkContext's local-property keys for the job group (Spark-private)
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescriptionKey = "spark.job.description"
  private val GroupPrefix = "perfbench-span-"
  def groupOf(spanId: Long): String = GroupPrefix + spanId
  def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toLong)

  /** Total length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Span duration not covered by any child span. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    (span.endNs - span.startNs) - covered(children.map(c =>
      (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs))).filter(i => i._2 > i._1))

  /** Spark work credited to one span. `jobIntervals` are wall-clock
    * [submit, end) times in nanoTime units. */
  final class Work {
    var jobs = 0
    var stages = 0
    var taskNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
}

/** A SparkListener that credits jobs, stages, task time, shuffle bytes
  * and spill to the span whose job group they ran under. Listener events
  * carry epoch-millisecond times; they are mapped onto nanoTime with one
  * offset taken at construction, which is accurate to the millisecond. */
final class SparkCredit extends SparkListener {
  import Trace._
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  private val bySpan = mutable.HashMap.empty[Long, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)]
  @volatile var totalJobs = 0

  private def work(span: Long): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totalJobs += 1
    val group = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
    spanOf(group).foreach { s =>
      val w = work(s)
      w.jobs += 1
      w.stages += e.stageIds.length
      e.stageIds.foreach(st => stageSpan(st) = s)
      jobSpan(e.jobId) = (s, ns(e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) => work(s).jobIntervals += ((t0, ns(e.time))) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      if (m != null) {
        val w = work(s)
        w.taskNs += m.executorRunTime * 1000000L
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The Spark work of a span, or None if it launched none. Call after
    * the listener bus has drained. */
  def of(span: Long): Option[Work] = synchronized(bySpan.get(span))
}
