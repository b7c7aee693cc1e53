package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionPlanning

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, layer: String, name: String, startNs: Long) {
  @volatile var endNs: Long = 0L
}

/** Task and plan totals of the Spark work issued under one job group. */
final class GroupTotals {
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var recordsWritten = 0L
  var planningMs = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "records_written" -> recordsWritten,
    "planning_ms" -> planningMs)
}

/** Spark listener that attributes jobs, task metrics and planning
  * phases (analysis, optimization, physical planning) to the job group
  * that issued them. Job groups are the span ids the [[Tracer]] sets, so
  * every total lands on exactly one span. Work issued outside any span
  * has no group and is not counted. */
final class LayerListener extends SparkListener {

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val executionGroup = new ConcurrentHashMap[Long, String]()
  private val plannedMs = new ConcurrentHashMap[Long, Long]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()

  private def of(group: String): GroupTotals =
    totals.computeIfAbsent(group, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.GroupKey))).foreach { g =>
      val t = of(g)
      t.synchronized(t.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
      props.flatMap(p => Option(p.getProperty(Tracer.ExecutionKey)))
        .foreach(id => executionGroup.putIfAbsent(id.toLong, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val t = of(g)
      t.synchronized {
        t.taskMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(Tracer.GroupPrefix))
        .foreach(executionGroup.putIfAbsent(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      ExecutionPlanning.millis(end).foreach(plannedMs.put(end.executionId, _))
    case _ =>
  }

  /** Totals per group; call after the listener bus has drained, so
    * every execution's end event and group are known. */
  def groups: Map[String, GroupTotals] = {
    plannedMs.asScala.foreach { case (id, ms) =>
      Option(executionGroup.get(id)).foreach { g =>
        val t = of(g)
        t.synchronized(t.planningMs += ms)
      }
    }
    plannedMs.clear()
    totals.asScala.toMap
  }
}

/** In-memory span recorder. Each span sets its own Spark job group, so
  * the [[LayerListener]] can attribute the work issued inside it; on
  * exit the parent's group is restored. Spans are single-threaded: the
  * benchmark drives the program from one thread. */
final class Tracer(spark: SparkSession) {

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val origin = System.nanoTime()
  val listener = new LayerListener

  sc.addSparkListener(listener)

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size + 1, open.headOption.fold(0)(_.id), layer, name, System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Spans and their Spark totals, with times relative to the tracer's
    * creation, in seconds. */
  def result(): Map[String, Any] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val totals = listener.groups
    Map("spans" -> spans.toSeq.map { s =>
      Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "spark" -> totals.get(Tracer.group(s.id)).fold(new GroupTotals().toMap)(_.toMap))
    })
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val ExecutionKey = "spark.sql.execution.id"
  val GroupPrefix = "perfbench-"
  def group(id: Int): String = GroupPrefix + id
}
