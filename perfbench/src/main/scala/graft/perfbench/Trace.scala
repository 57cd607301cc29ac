package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spark-side counters of one span (one op call in one pass). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
}

/** Files every job, stage and task under the span named by the local
  * property [[Trace.SpanKey]] of the thread that submitted the job. The
  * benchmark sets that property before each call into the engine, so
  * jobs a call launches inherit it; jobs launched from threads that did
  * not inherit it are summed as unattributed job wall time. All state is
  * kept in memory and only touched from the listener bus thread until
  * [[Trace.drain]] returns. */
final class SpanListener extends SparkListener {
  val spans = mutable.HashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val orphanJobStart = mutable.HashMap.empty[Int, Long]
  var unattributedMs = 0L
  var unattributedJobs = 0L

  private def counters(span: String) = spans.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))) match {
      case Some(span) =>
        counters(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      case None =>
        orphanJobStart(e.jobId) = e.time
        unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    orphanJobStart.remove(e.jobId).foreach(t0 => unattributedMs += e.time - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(span)
      val info = e.taskInfo
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val fetchResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetchResult)
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Micro-batch progress of the streaming queries an op drains. Events are
  * filed under the span that is current when they are delivered; the
  * benchmark drains the bus at the end of each op so they land in it. */
final class StreamListener extends StreamingQueryListener {
  @volatile var span: String = ""
  val batchMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  val stateBytes = mutable.HashMap.empty[String, Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batchMs.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += p.batchDuration
    val st = p.stateOperators.map(_.memoryUsedBytes).sum
    stateBytes(span) = math.max(stateBytes.getOrElse(span, 0L), st)
  }
}

object Trace {
  val SpanKey = "graft.perfbench.span"

  /** Block until the listener bus has delivered every posted event.
    * `LiveListenerBus.waitUntilEmpty` is not public API, hence reflection. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
