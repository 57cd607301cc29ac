package graft

import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** Per-query structural profiler (measurement tool, guide §1): runs named
  * query keys and reports wall seconds plus the DISPATCH/SHUFFLE shape —
  * Spark job count, stage count, task count, shuffle bytes written — via a
  * task/job listener, and the codegen compile count. At toy scale wall ≈
  * jobs × dispatch floor, so job count is the actionable number; at
  * 100 TB the same counts are corpus passes and exchanges. A warm key
  * with compiles > 0 recompiles on every call. Runs in Bench's session
  * (`GraftSession.bench`) over Bench's warmed tables, so the shapes match
  * what Bench executes. A key that starts streams also prints a DRAIN
  * line from [[DrainListener]]: where its drains' wall went. */
object Profile {
  /** Untimed calls of each key before the timed rounds (C2 + layouts). */
  private val warmups = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gs = GraftSession.bench(GraftSession.inputBytes(sfDir))
    val spark = gs.spark
    val counter = new Timed.TaskCounter
    spark.sparkContext.addSparkListener(counter)
    val drains = new DrainListener
    spark.streams.addListener(drains)
    if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")) {
      val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStartNs.put(e.jobId, System.nanoTime())
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobStartNs.remove(e.jobId)
          if (t0 != 0L) System.err.println(
            f"  JOB ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
      })
    }
    // warm the tables like Bench does so scans hit the cache substitution
    gs.warmTables(sfDir)
    // one histogram sample per generated-class compile, driver and
    // executors alike (local mode): a warm key that still compiles is
    // missing the codegen cache on every call
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val qs = SparkEntry.queries
    def run(name: String): Unit = { qs(name)(spark, sfDir).count(); () }
    // Warm-ups and the three timed calls go round-robin over the keys, as
    // an olap pass runs them: with several keys, the codegen cache (2000
    // entries) churns between a key's calls, which key-by-key runs hide.
    // The counters bracket each key's second-round call; walls are the
    // median of 3 (bench protocol).
    (1 to warmups).foreach(_ => args.foreach(run))
    val walls = args.map(_ => Array.fill(3)(0.0))
    val counts = new Array[(Long, Long, Long, Long, Long)](args.length)
    val drainLines = new Array[Option[String]](args.length)
    for (round <- 0 until 3; (name, i) <- args.zipWithIndex) {
      if (round != 1) walls(i)(round) = Timed.once(run(name))
      else {
        var c0 = 0L
        counter.around(spark) {
          c0 = compiles.getCount
          drains.reset()
          walls(i)(round) = Timed.once(run(name))
        }
        counts(i) = (counter.jobs.get, counter.stages.get, counter.tasks.get,
          counter.shuffleBytes.get, compiles.getCount - c0)
        drainLines(i) = drains.line()
      }
    }
    for ((name, i) <- args.zipWithIndex) {
      val (j, st, tk, sb, c) = counts(i)
      val w = walls(i).sorted.apply(1)
      println(f"PROFILE $name%-28s wall=$w%7.3f s jobs=$j%3d " +
        f"stages=$st%3d tasks=$tk%5d shuffleMB=${sb / 1e6}%9.3f compiles=$c%3d")
      drainLines(i).foreach(d => println(f"DRAIN   $name%-28s $d"))
    }
    spark.stop()
  }
}

/** Where a stream drain's wall goes, summed over the queries started on the
  * session since [[reset]]: batches (progress events), the time from the
  * query's start event to its first trigger, each `durationMs` part of
  * every trigger, the state operators' commit and update times, and the
  * time from the last trigger's end to termination. Timestamps come from
  * the events (start, trigger start + `triggerExecution`) except
  * termination, which is stamped on delivery; read [[line]] after the
  * listener bus is drained. */
final class DrainListener extends StreamingQueryListener {
  import StreamingQueryListener._
  private val started = new ConcurrentHashMap[UUID, Long]
  private val ended = new ConcurrentHashMap[UUID, Long]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  def reset(): Unit = { started.clear(); ended.clear(); progress.clear() }

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    started.put(e.runId, Instant.parse(e.timestamp).toEpochMilli)
  override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    ended.put(e.runId, System.currentTimeMillis())

  /** One line of seconds, or None when no stream started. */
  def line(): Option[String] = if (started.isEmpty) None else {
    val ps = progress.asScala.toSeq.filter(p => started.containsKey(p.runId))
    def ms(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    def end(p: StreamingQueryProgress): Long =
      Instant.parse(p.timestamp).toEpochMilli + ms(p, "triggerExecution")
    val byRun = ps.groupBy(_.runId)
    val toFirst = byRun.map { case (id, rs) =>
      rs.map(p => Instant.parse(p.timestamp).toEpochMilli).min - started.get(id) }.sum
    val toEnd = byRun.collect { case (id, rs) if ended.containsKey(id) =>
      ended.get(id) - rs.map(end).max }.sum
    val parts = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets", "triggerExecution").map(k => k -> ps.map(ms(_, k)).sum)
    val state = ps.flatMap(_.stateOperators)
    def s(v: Long): String = f"${v / 1e3}%.3f"
    Some((Seq(s"drains=${started.size}", s"batches=${ps.size}", s"to_first=${s(toFirst)}") ++
      parts.map { case (k, v) => s"$k=${s(v)}" } ++
      Seq(s"state_commit=${s(state.map(_.commitTimeMs).sum)}",
        s"state_updates=${s(state.map(_.allUpdatesTimeMs).sum)}",
        s"to_end=${s(toEnd)}")).mkString(" "))
  }
}
