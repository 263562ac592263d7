package lakebench

import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer's public function. `counts` holds the Spark
  * work started while it was the innermost open span (see [[Counts]]). */
final class Span(val id: Long, val parent: Long, val name: String,
    val layer: String, val request: Long, val startMs: Long, val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = Long.MaxValue
  val counts = new AtomicLongArray(Counts.names.size)
  def durMs: Double = (endNs - startNs) / 1e6
}

object Counts {
  val names: Seq[String] = Seq("jobs", "tasks", "task_ms", "cpu_ms", "input_bytes",
    "input_records", "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes",
    "spill_bytes")
  val Jobs = 0
}

/**
 * Span recorder plus the `SparkListener` that charges Spark work to spans.
 *
 * Calls are traced from one thread at a time, so a job is charged to the
 * innermost span open at its submission time — this also covers jobs the
 * HTTP server starts on its own pool threads while a traced request is in
 * flight. Jobs of a streaming query carry `sql.streaming.queryId` and are
 * charged to the [[stream]] span instead. Spans stay in memory until
 * [[report]].
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  val stream = new Span(-1, 0, "cdc.stream", "cdc", 0, 0L, 0L)

  sc.addSparkListener(this)

  def span[T](name: String, layer: String, request: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val sp = new Span(ids.incrementAndGet(), open.headOption.map(_.id).getOrElse(0L),
          name, layer, request, System.currentTimeMillis(), System.nanoTime())
        spans += sp
        open = sp :: open
        sp
      }
      try body
      finally synchronized {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.filterNot(_ eq s)
      }
    }

  /** The innermost span whose wall interval holds `ms`. */
  private def spanAt(ms: Long): Option[Span] = synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
    val props = js.properties
    val target =
      if (props != null && props.getProperty("sql.streaming.queryId") != null) Some(stream)
      else spanAt(js.time)
    target.foreach { s =>
      s.counts.incrementAndGet(Counts.Jobs)
      js.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(te.stageId)
    val m = te.taskMetrics
    if (s != null && m != null) {
      val v = Seq(1L, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      v.zipWithIndex.foreach { case (x, i) => s.counts.addAndGet(i + 1, x) }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def settle(): Unit = org.apache.spark.LakebenchBus.drain(sc)

  def all: Seq[Span] = synchronized(spans.toList) :+ stream

  def byName(name: String): Seq[Span] = all.filter(_.name == name)

  /** Sum of one counter over the given spans. */
  def total(ss: Seq[Span], counter: String): Long = {
    val i = Counts.names.indexOf(counter)
    ss.map(_.counts.get(i)).sum
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover (children of one span run one after another). */
  def selfMsByLayer: Map[String, Double] = {
    val done = synchronized(spans.toList).filter(_.endNs > 0)
    val childMs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durMs - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def spanRecords: Seq[Map[String, Any]] = synchronized(spans.toList).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "request" -> s.request, "start_ms" -> s.startMs,
      "dur_ms" -> s.durMs) ++ Counts.names.zipWithIndex.map { case (n, i) => n -> s.counts.get(i) }
  }
}
