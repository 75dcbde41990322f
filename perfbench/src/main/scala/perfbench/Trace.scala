package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the traced run. `parent` is the id of the span
  * that caused it (-1 for an operation); spans of one operation share
  * its `op` id. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. With tracing
  * off every call just runs its body, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Runs `body` as a span named `name` under `parent`, with the Spark
    * jobs it starts on this thread attributed to `layer`. */
  def span[T](op: String, parent: Int, name: String, layer: String)
             (body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = synchronized { nextId += 1; nextId }
      val prev = sc.getLocalProperty(Tracer.LayerKey)
      sc.setLocalProperty(Tracer.LayerKey, layer)
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.LayerKey, prev)
        synchronized { spans += Span(id, parent, op, name, t0, t1) }
      }
    }

  /** Marks the jobs of one operation, for the listener to scope by. The
    * op property, unlike the job group, survives into a streaming query's
    * own thread, which sets a job group of its own. */
  def beginOp(op: String): Unit = if (enabled) {
    sc.setJobGroup(op, op)
    sc.setLocalProperty(Tracer.OpKey, op)
  }
  def endOp(): Unit = if (enabled) {
    sc.clearJobGroup()
    sc.setLocalProperty(Tracer.OpKey, null)
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val OpKey = "perfbench.op"

  /** Length of the union of `[start, end)` intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (a, b) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > b) { if (b > a) total += b - a; a = s; b = e } else b = b max e
    }
    if (b > a) total + b - a else total
  }
}

/** Per-layer Spark counters, gathered by a listener the benchmark
  * registers from outside the engine. A job belongs to the layer named
  * by the `perfbench.layer` local property of the thread that started
  * it, and to the operation named by `perfbench.op`. */
final class LayerListener extends SparkListener {
  final class Counters {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var inBytes, inRows, outBytes, outRows = 0L
  }
  private val byLayer = new ConcurrentHashMap[String, Counters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def counters(layer: String): Counters =
    byLayer.computeIfAbsent(layer, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val layer = p.flatMap(x => Option(x.getProperty(Tracer.LayerKey)))
      .getOrElse("other")
    val op = p.flatMap(x => Option(x.getProperty(Tracer.OpKey))).getOrElse("")
    counters(layer).synchronized(counters(layer).jobs += 1)
    e.stageIds.foreach(stageLayer.put(_, layer))
    jobStart.put(e.jobId, (op, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      synchronized { jobSpans += ((op, t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageLayer.getOrDefault(e.stageInfo.stageId, "other"))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val c = counters(stageLayer.getOrDefault(e.stageId, "other"))
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRows += m.outputMetrics.recordsWritten
      }
    }

  def layers: Map[String, Counters] = byLayer.asScala.toMap

  /** Wall seconds during which at least one job of `op` was running. */
  def jobWallSeconds(op: String): Double =
    Tracer.union(synchronized(
      jobSpans.filter(_._1 == op).map(x => (x._2, x._3)).toList)) / 1e3
}
