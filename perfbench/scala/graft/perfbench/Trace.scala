package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans for a benchmark run: each wraps one of the benchmark's own
  * calls into a layer's public function. Everything is kept in memory and
  * read once at the end of the run.
  *
  * Recording is switched by `on`, so a traced run can interleave traced and
  * untraced stretches and report the tracing overhead between them.
  */
final class Tracer {

  @volatile var on: Boolean = false

  private val spans = new ConcurrentLinkedQueue[(String, Double)]()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val start = System.nanoTime()
      try body
      finally spans.add((name, (System.nanoTime() - start) / 1e9))
    }

  /** Spans recorded so far; with [[sumFrom]], the spans of one stretch. */
  def recorded: Int = spans.size

  /** Total seconds of the spans recorded after the first `from`. */
  def sumFrom(from: Int): Double = spans.asScala.drop(from).map(_._2).sum

  def durations(name: String): Seq[Double] =
    spans.asScala.collect { case (n, s) if n == name => s }.toSeq
}

/** Engine counters from Spark's public listeners, accumulated only while the
  * tracer is on. Task and stage events arrive on the listener bus
  * asynchronously; `drain` waits for the bus to go quiet before they are read.
  *
  * Self time per layer: every job's wall time is charged to exactly one
  * layer, the one holding the innermost repository frame of the job's call
  * site (the code that ran the Spark action), so layers never double-count.
  * A job submitted from one of Spark's own threads (a broadcast, an adaptive
  * query stage) is charged to the layer of the SQL execution it serves. Every
  * job of a streaming query carries the call site that started the query; a
  * query the benchmark starts itself is charged to the layer of its sink
  * ([[chargeQuery]]).
  */
final class EngineCounters(tracer: Tracer) extends SparkListener with QueryExecutionListener {

  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var executorRunMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var planningMs = 0L
  @volatile private var lastEventNs = System.nanoTime()
  /** Wall ms of jobs per layer of their call site. */
  val jobMsByLayer = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val openJobs = scala.collection.mutable.Map.empty[Int, (String, Long)]
  private val executionLayer = scala.collection.mutable.Map.empty[String, String]
  private val queryLayer = scala.collection.mutable.Map.empty[String, String]

  def chargeQuery(queryId: java.util.UUID, layer: String): Unit = synchronized {
    queryLayer(queryId.toString) = layer
  }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    if (tracer.on) {
      jobs += 1
      // a job's final stage carries the call site of the action that ran it
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val layer = EngineCounters.layerOf(site) match {
        case "other" => prop("sql.streaming.queryId").flatMap(queryLayer.get)
          .orElse(prop("spark.sql.execution.id").flatMap(executionLayer.get))
          .getOrElse("other")
        case l => l
      }
      openJobs(e.jobId) = (layer, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    openJobs.remove(e.jobId).foreach { case (layer, start) =>
      jobMsByLayer(layer) += e.time - start
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      touch()
      executionLayer(x.executionId.toString) = EngineCounters.layerOf(x.details)
    }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch(); if (tracer.on) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    if (tracer.on && e.taskMetrics != null) {
      tasks += 1
      executorRunMs += e.taskMetrics.executorRunTime
      shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Analysis + optimization + physical planning of every action, from the
    * query's own planning tracker.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      touch()
      if (tracer.on) planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until no listener event has arrived for `quietMs` (at most `maxMs`). */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while ((System.nanoTime() - lastEventNs) < quietMs * 1000000L &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object EngineCounters {

  /** The repository's modules, as the benchmark's layers. */
  val Layers = Seq("pipeline", "streaming", "catalog", "dq", "gold", "cdc", "ops")

  /** Layer of the innermost repository frame in a call-site stack; `other`
    * when the job has none (e.g. a broadcast submitted from Spark's own pool).
    * The `graft-table` source and sink belong to `catalog`, the Avro readers
    * and writers to `cdc`.
    */
  def layerOf(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench."))
      .map(_.split('.').takeWhile(p => p.nonEmpty && p.head.isLower).toList)
      .map {
        case "graft" :: "sources" :: "table" :: _ => "catalog"
        case "graft" :: ("cdc" | "sources") :: _ => "cdc"
        case "graft" :: l :: _ if Layers.contains(l) => l
        case _ => "other"
      }.getOrElse("other")
}
