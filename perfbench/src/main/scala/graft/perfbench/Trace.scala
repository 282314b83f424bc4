package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared clock for spans and listener events: epoch nanoseconds,
  * advanced by `nanoTime` so short spans keep their resolution.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** A span at a layer boundary. `layer` names the bucket whose Spark work
  * the span covers; spans built from listener events carry their own.
  */
final case class Span(id: Int, runId: String, name: String, parent: Int,
                      layer: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans of one benchmark invocation, kept in memory and written out at
  * the end as JSON lines. A span is opened at a layer boundary and closed
  * when the call returns; spans built from listener events are added whole.
  */
final class Spans(val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(name: String, parent: Int, layer: String, start: Long, end: Long): Span =
    synchronized {
      val s = Span(buf.size + 1, runId, name, parent, layer, start, end)
      buf += s
      s
    }

  def open(name: String, parent: Int, layer: String): Span =
    add(name, parent, layer, Clock.now(), Long.MaxValue)

  def close(s: Span): Span = synchronized {
    val closed = s.copy(end = Clock.now())
    buf(s.id - 1) = closed
    closed
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def children(of: Span): Seq[Span] = all.filter(_.parent == of.id)

  /** Duration minus the part of the interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.start max s.start, c.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    ((s.end - s.start) - covered) / 1e9
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.value(Map("run_id" -> s.runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "layer" -> s.layer, "start_ns" -> s.start,
        "end_ns" -> s.end, "self_s" -> selfSeconds(s)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Task-level totals of one layer. */
final class LayerAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var outBytes = 0L
  var outRecords = 0L
}

/** Spark's own hooks, registered by the benchmark.
  *
  * Jobs are always counted (that is what "the same number of Spark jobs
  * with tracing on and off" compares). With `tracing` on, every job, stage
  * and task is also attributed to the layer named by the submitting
  * thread's `perfbench.layer` local property, job spans are recorded, and
  * each finished query execution adds its Catalyst phase times to the
  * totals and as spans under the span that is open.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobCount = new AtomicLong

  @volatile var tracing = false
  @volatile var spans: Spans = _
  /** span that job and phase spans hang under while tracing */
  @volatile var parentSpan: Int = 0
  @volatile var currentLayer: String = Probe.Unlabelled

  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobStarts = mutable.Map.empty[Int, (Long, String, Int)]
  val layers = mutable.Map.empty[String, LayerAgg]
  /** Catalyst phase -> seconds */
  val phases = mutable.Map.empty[String, Double]

  def agg(layer: String): LayerAgg = synchronized(layers.getOrElseUpdate(layer, new LayerAgg))

  def reset(): Unit = synchronized {
    stageLayer.clear(); jobStarts.clear(); layers.clear(); phases.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    if (tracing) synchronized {
      val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.LayerKey)))
        .getOrElse(Probe.Unlabelled)
      e.stageIds.foreach(stageLayer(_) = layer)
      agg(layer).jobs += 1
      jobStarts(e.jobId) = (Clock.fromEpochMs(e.time), layer, parentSpan)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (tracing) synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, layer, parent) =>
        if (spans != null)
          spans.add(s"job:${e.jobId}", parent, layer, start, Clock.fromEpochMs(e.time) max start)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (tracing) synchronized {
      stageLayer.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (tracing && e.taskMetrics != null) synchronized {
      stageLayer.get(e.stageId).foreach { layer =>
        val a = agg(layer)
        val m = e.taskMetrics
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.peakExecBytes = a.peakExecBytes max m.peakExecutionMemory max
          (m.peakOnHeapExecutionMemory + m.peakOffHeapExecutionMemory)
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit =
    if (tracing) synchronized {
      val layer = currentLayer
      qe.tracker.phases.foreach { case (phase, summary) =>
        phases(phase) = phases.getOrElse(phase, 0.0) + summary.durationMs / 1e3
        if (spans != null)
          spans.add(s"catalyst:$phase", parentSpan, layer,
            Clock.fromEpochMs(summary.startTimeMs), Clock.fromEpochMs(summary.endTimeMs))
      }
    }
}

object Probe {
  val LayerKey = "perfbench.layer"
  val Unlabelled = "unlabelled"
}

/** Opens spans around calls into a layer and routes the Spark work they
  * start to that layer.
  */
final class Tracer(spark: SparkSession, val probe: Probe, val spans: Spans) {

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Runs `body` inside a span; jobs it submits count for `layer`. The span
    * closes when `body` returns; the listener bus is drained afterwards so
    * late events still land under this span.
    */
  def span[T](name: String, parent: Int, layer: String)(body: => T): (Try[T], Span) = {
    val sc = spark.sparkContext
    val open = spans.open(name, parent, layer)
    sc.setLocalProperty(Probe.LayerKey, layer)
    probe.currentLayer = layer
    probe.parentSpan = open.id
    val result = Try(body)
    val closed = spans.close(open)
    drain()
    sc.setLocalProperty(Probe.LayerKey, null)
    probe.currentLayer = Probe.Unlabelled
    probe.parentSpan = parent
    (result, closed)
  }
}

/** JSON for the result and span files, through the Jackson build Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def value(v: Any): String = mapper.writeValueAsString(v)
}
