package graft
import java.util.concurrent.atomic.AtomicLong

/** Per-query structural profiler (measurement tool, guide §1): runs named
  * query keys and reports wall seconds plus the DISPATCH/SHUFFLE shape —
  * Spark job count, stage count, task count, shuffle bytes written — via a
  * task/job listener, and the codegen compile count. At toy scale wall ≈
  * jobs × dispatch floor, so job count is the actionable number; at
  * 100 TB the same counts are corpus passes and exchanges. A warm key
  * with compiles > 0 recompiles on every call. Runs in Bench's session
  * (`GraftSession.bench`) over Bench's warmed tables, so the shapes match
  * what Bench executes. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gs = GraftSession.bench(GraftSession.inputBytes(sfDir))
    val spark = gs.spark
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val shuffleB = new AtomicLong
    val jobDetail = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobDetail) jobStartNs.put(e.jobId, System.nanoTime())
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobDetail) {
          val t0 = jobStartNs.remove(e.jobId)
          if (t0 != 0L) System.err.println(
            f"  JOB ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    // warm the tables like Bench does so scans hit the cache substitution
    gs.warmTables(sfDir)
    // one histogram sample per generated-class compile, driver and
    // executors alike (local mode): a warm key that still compiles is
    // missing the codegen cache on every call
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val qs = SparkEntry.queries
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "2").toInt
    for (name <- args) {
      val fn = qs(name)
      (1 to warmups).foreach(_ => fn(spark, sfDir).count()) // C2 + layouts
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // counters bracket ONE run (the second timed); walls are the
      // median of 3 (bench protocol)
      val w0 = once()
      GraftSession.drainListenerBus(spark)
      jobs.set(0); stages.set(0); tasks.set(0); shuffleB.set(0)
      val c0 = compiles.getCount
      val w1 = once()
      GraftSession.drainListenerBus(spark)
      val (j, st, tk, sb) = (jobs.get(), stages.get(), tasks.get(), shuffleB.get())
      val c = compiles.getCount - c0
      val w = Seq(w0, w1, once()).sorted.apply(1)
      println(f"PROFILE $name%-28s wall=$w%7.3f s jobs=$j%3d " +
        f"stages=$st%3d tasks=$tk%5d shuffleMB=${sb / 1e6}%9.3f compiles=$c%3d")
    }
    spark.stop()
  }
}
