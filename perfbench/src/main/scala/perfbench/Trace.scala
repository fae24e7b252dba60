package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into a layer of the program.
  * Spark work submitted while it is the innermost open span is charged to
  * it by [[SparkCharges]]. */
final class Span(val id: Int, val name: String, val parent: Int,
    val timed: Boolean) {
  val startMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  @volatile var wallS: Double = -1
  val jobs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, inputRecords, inputBytes = new AtomicLong
  val shuffleReadBytes, shuffleWriteBytes, outputBytes = new AtomicLong
  /** (start, end) epoch ms of each Spark job charged here. */
  val jobIntervals = new ConcurrentHashMap[Int, Array[Long]]()
  def close(): Unit = wallS = (System.nanoTime() - t0) / 1e9

  /** Wall time covered by none of this span's Spark jobs: driver work
    * (planning, listing, log resolution, commit bookkeeping). */
  def driverS: Double = {
    val endMs = startMs + (wallS * 1000).toLong
    val iv = jobIntervals.values.asScala.toSeq
      .map(a => (math.max(a(0), startMs), math.min(if (a(1) > 0) a(1) else endMs, endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) covered += curE - curS
    math.max(0.0, wallS - covered / 1000.0)
  }
}

/** Span recorder. With tracing off every call is a plain pass-through, so
  * untraced runs pay nothing and register no listener. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  private val nextId = new AtomicInteger(1)
  private val stack = scala.collection.mutable.Stack[Span]()
  /** Spans opened while this is set belong to the timed rounds. */
  @volatile var timedPhase = false
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val byId = new ConcurrentHashMap[Int, Span]()
  private val charges = if (enabled) Some(new SparkCharges(byId)) else None
  charges.foreach(sc.addSparkListener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId.getAndIncrement(), name,
        stack.headOption.map(_.id).getOrElse(0), timedPhase)
      byId.put(s.id, s)
      stack.push(s)
      sc.setLocalProperty(SparkCharges.Key, s.id.toString)
      try body
      finally {
        s.close()
        spans.add(s)
        stack.pop()
        sc.setLocalProperty(SparkCharges.Key,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def unattributedJobs: Long = charges.map(_.unattributed.get).getOrElse(0L)

  /** Closed spans of the timed rounds with this name, in opening order. */
  def timed(name: String): Seq[Span] =
    spans.asScala.toSeq.filter(s => s.timed && s.name == name).sortBy(_.id)
}

/** Charges Spark jobs, stages and task metrics to the span whose id the
  * submitting thread carried as a local property. Only observes: it never
  * submits work. */
final class SparkCharges(byId: ConcurrentHashMap[Int, Span]) extends SparkListener {
  val unattributed = new AtomicLong
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()

  private def spanOf(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(x => Option(x.getProperty(SparkCharges.Key)))
      .flatMap(id => Option(byId.get(id.toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties) match {
      case Some(s) =>
        s.jobs.incrementAndGet()
        s.jobIntervals.put(e.jobId, Array(e.time, -1L))
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(stageSpan.put(_, s))
      case None => unattributed.incrementAndGet()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { s =>
      Option(s.jobIntervals.get(e.jobId)).foreach(_(1) = e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        s.taskRunMs.addAndGet(m.executorRunTime)
        s.taskCpuNs.addAndGet(m.executorCpuTime)
        s.inputRecords.addAndGet(m.inputMetrics.recordsRead)
        s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        s.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
}

object SparkCharges {
  val Key = "perfbench.span"
}
