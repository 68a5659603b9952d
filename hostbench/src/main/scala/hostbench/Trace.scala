package hostbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One recorded span: a timed call into a layer of the program. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest on the calling thread; each one
  * also tags the Spark jobs submitted inside it (through a local
  * property) so [[LayerListener]] can attribute their task metrics to
  * it. Nothing is written until [[writeJson]] at the end of a run.
  *
  * With `enabled = false` a span still tags its jobs (that is one
  * thread-local assignment) but records nothing, which is the untraced
  * configuration the end-to-end numbers come from. */
final class Tracer(val runId: String, val enabled: Boolean, sc: () => SparkContext) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val ctx = sc()
    val prevTag = ctx.getLocalProperty(Tracer.SpanKey)
    ctx.setLocalProperty(Tracer.SpanKey, s"$name#$id")
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      ctx.setLocalProperty(Tracer.SpanKey, prevTag)
      if (enabled) spans += Span(id, name, parent, t0, t1)
    }
  }

  /** Spans recorded so far, in completion order. */
  def recorded: Seq[Span] = spans.toSeq

  /** Tag (as seen by the listener) of the most recent span named `name`. */
  def lastTag(name: String): Option[String] =
    spans.reverseIterator.find(_.name == name).map(s => s"${s.name}#${s.id}")

  /** Writes every span, with times in ms from the first span's start. */
  def writeJson(path: String): Unit = {
    val origin = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val rows = spans.map(s => Json.obj(
      "run_id" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent,
      "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6))
    Json.write(path, rows.toSeq)
  }
}

object Tracer {
  val SpanKey = "hostbench.span"
}

/** Task metrics summed over the Spark jobs of one span tag. */
final class LayerTotals {
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var gcMs = 0L
  @volatile var fetchWaitMs = 0L
  @volatile var spillBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var failed = 0L

  def +=(o: LayerTotals): Unit = {
    tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    failed += o.failed
  }
}

/** Attributes every task to the span that was active on the thread that
  * submitted its job (the [[Tracer.SpanKey]] local property). Jobs of a
  * streaming query carry no span; they are keyed by the query id
  * instead, as `stream:<id>`. */
final class LayerListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]
  private val totals = new ConcurrentHashMap[String, LayerTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(id => s"stream:$id"))
      .getOrElse("untagged")
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, "untagged")
    val t = totals.computeIfAbsent(tag, _ => new LayerTotals)
    t.synchronized {
      t.tasks += 1
      if (e.reason != Success) t.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        t.taskMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Sum over every tag accepted by `select`. Call after draining the
    * listener bus. */
  def sum(select: String => Boolean): LayerTotals = {
    val out = new LayerTotals
    totals.asScala.foreach { case (tag, t) => if (select(tag)) out += t }
    out
  }

  def forTag(tag: String): LayerTotals = sum(_ == tag)
}
