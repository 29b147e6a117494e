package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch milliseconds with nanosecond resolution — one
  * time base for spans, listener events (epoch ms) and stream progress. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed call into a layer. `trace` is the operation (increment,
  * backfill rep or offered batch) the span belongs to; `parent` is the
  * enclosing span's id, or -1. */
final case class Span(id: Int, layer: String, name: String, trace: Long,
    parent: Int, start: Double, end: Double)

/** Spans around the benchmark's calls into each layer, plus the Spark
  * accounting for them: stages, tasks and query planning, attributed to
  * the innermost open span through a job-inherited local property.
  * Everything stays in memory until [[json]] is written at exit.
  *
  * Tracing is switched per operation with [[on]]: a traced run
  * alternates traced and untraced operations so the tracing overhead is
  * measured inside one process. While [[on]] is false, [[span]] only
  * runs its body and the listeners drop every event. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  @volatile private var traced = false
  def on: Boolean = traced
  def on_=(v: Boolean): Unit = traced = enabled && v
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  private val lock = new Object
  private val stages = ArrayBuffer.empty[String]
  private val tasks = ArrayBuffer.empty[String]
  private val queries = ArrayBuffer.empty[String]
  private val jobs = ArrayBuffer.empty[String]
  // (stageId, attempt) submitted under a span and not yet completed
  private val pending = scala.collection.mutable.Map.empty[(Int, Int), Int]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
  private var markerDone = false
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Run `body` as a span of `layer`; nested calls become children. */
  def span[T](layer: String, name: String, trace: Long)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(SpanProp, id.toString)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
        spans += Span(id, layer, name, trace, parent, start, end)
      }
    }

  private val observed = ArrayBuffer.empty[String]
  private val pendingObs = ArrayBuffer.empty[(Long, String, Observation)]

  /** While tracing, count the rows `df` yields during the action that
    * materializes it (`Meta.observed`: no extra pass over the data). */
  def observe(df: DataFrame, trace: Long, name: String): DataFrame =
    if (!on) df
    else {
      val (o, obs) = graft.Meta.observed(df, s"$name.$trace.${pendingObs.size}",
        "rows" -> count(lit(1)))
      pendingObs += ((trace, name, obs))
      o
    }

  /** Read the observations of the operation just finished. */
  def collectObserved(): Unit = {
    pendingObs.foreach { case (trace, name, obs) =>
      val rows = java.util.concurrent.CompletableFuture
        .supplyAsync(() => obs.get("rows").asInstanceOf[Long])
        .get(60, java.util.concurrent.TimeUnit.SECONDS)
      observed += s"""{"trace":$trace,"name":"$name","rows":$rows}"""
    }
    pendingObs.clear()
  }

  /** A span that stays open across other work — used for the streaming
    * layer, whose micro-batch threads inherit the property at start. */
  def openSpan(layer: String, name: String, trace: Long): () => Unit = {
    nextId += 1
    val id = nextId
    val start = Clock.nowMs
    sc.setLocalProperty(SpanProp, id.toString)
    () => {
      sc.setLocalProperty(SpanProp, null)
      spans += Span(id, layer, name, trace, -1, start, Clock.nowMs)
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties).exists(_.getProperty(MarkerProp) != null))
        markerJobs.add(e.jobId)
      val s = spanOf(e.properties)
      if (on && s >= 0) lock.synchronized {
        jobs += s"""{"job":${e.jobId},"span":$s,"start":${e.time}}"""
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      if (on && s >= 0) lock.synchronized {
        stageSpan.put(e.stageInfo.stageId, s)
        pending((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = s
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      lock.synchronized {
        pending.remove((i.stageId, i.attemptNumber())).foreach { s =>
          val m = i.taskMetrics
          val (run, cpu, shuffle, spill) =
            if (m == null) (0L, 0L, 0L, 0L)
            else (m.executorRunTime, m.executorCpuTime,
              m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
              m.memoryBytesSpilled + m.diskBytesSpilled)
          stages += s"""{"stage":${i.stageId},"span":$s,""" +
            s""""submit":${i.submissionTime.getOrElse(0L)},"complete":${i.completionTime.getOrElse(0L)},""" +
            s""""run_ms":$run,"cpu_ns":$cpu,"shuffle_bytes":$shuffle,"spill_bytes":$spill}"""
          lock.notifyAll()
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null) lock.synchronized {
        tasks += s"""{"span":$s,"launch":${e.taskInfo.launchTime},"finish":${e.taskInfo.finishTime}}"""
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (e.jobResult == JobSucceeded && markerJobs.contains(e.jobId)) {
        markerDone = true
        lock.notifyAll()
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = if (on) {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val start = phases.map(_.startTimeMs).min
        val planningMs = phases.map(_.durationMs).sum
        val scanRows = collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum
        lock.synchronized {
          queries += s"""{"start":$start,"planning_ms":$planningMs,"scan_rows":$scanRows}"""
        }
      }
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listeners have seen every event posted so far,
    * without sleeping: a marker job is run, and because each listener
    * queue delivers in order, its end event arriving means every
    * earlier event was delivered. Then every stage submitted under a
    * span must have posted completion before the counters are read. */
  def drain(timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized { markerDone = false }
    sc.setLocalProperty(MarkerProp, "1")
    val prevSpan = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, null)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(MarkerProp, null)
      sc.setLocalProperty(SpanProp, prevSpan)
    }
    lock.synchronized {
      while (!(markerDone && pending.isEmpty) && System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
      require(markerDone && pending.isEmpty,
        s"listener drain timed out: marker=$markerDone pendingStages=${pending.size}")
    }
  }

  def json: String = lock.synchronized {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"layer":"${s.layer}","name":"${s.name}","trace":${s.trace},""" +
        s""""parent":${s.parent},"start":${s.start},"end":${s.end}}""")
    s"""{"spans":${sp.mkString("[", ",", "]")},"jobs":${jobs.mkString("[", ",", "]")},""" +
      s""""stages":${stages.mkString("[", ",", "]")},"tasks":${tasks.mkString("[", ",", "]")},""" +
      s""""queries":${queries.mkString("[", ",", "]")},""" +
      s""""observed":${observed.mkString("[", ",", "]")}}"""
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val MarkerProp = "perfbench.marker"
}
