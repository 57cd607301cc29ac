package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Benchmark process: one workload, one client, closed loop.
  *
  * The run sets up `setups` times (fresh session and input registration),
  * runs one untimed warm-up pass in the last session, then times whole
  * passes over the workload's op list until `seconds` have elapsed, at
  * least [[MinPasses]]. Each pass visits the ops in an order drawn from the
  * seed. Each op is built (the public call), planned (`executedPlan`) and
  * forced by the digest action; a thrown exception or a digest that
  * differs from the reference fails the op.
  *
  * The timed end-to-end figures take each op at its fastest timed call:
  * the host is shared, and its load only ever slows a call, in phases of
  * seconds to minutes, so the fastest of several calls is the estimate of
  * the program's own cost that moves least from run to run.
  *
  * With `trace` on, traced passes come in pairs between untraced ones
  * (u t t u u t t u …), so that the JIT's warming, which makes each pass
  * faster than the one before, is not charged to the tracer; traced passes
  * run with a [[SpanListener]] and a [[StreamListener]] attached, and the
  * per-layer split comes from them. All results go to one JSON file
  * (`out`); spans go beside it. The launcher (`perfbench/run.py`) turns
  * that file into the metrics line. */
object Main {

  final case class Cfg(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      corpus: String, wet: String, scratch: String,
      out: String, cores: Int, rasterPx: Int, setups: Int,
      golden: Map[String, String])

  /** Timed passes a run makes at least. The JIT keeps compiling through the
    * first timed passes, each faster than the one before, so a run on a
    * slow host must not stop with fewer, less warm passes than a run on a
    * fast one; with tracing, passes 1 and 2 are the traced ones. On a host
    * so slow that they take over three windows, two passes do, so that the
    * run still ends in time. */
  val MinPasses = 4

  val layers: Seq[String] = Seq("queries.Relational", "queries.TextOps", "queries.Similarity",
    "tensor.Filters", "tensor.Morph", "tensor.Measure", "tensor.Interp", "sources",
    "streaming.StreamOps")

  final case class OpRun(pass: Int, phase: String, op: String, layer: String,
      wall: Double, build: Double, plan: Double, exec: Double, cpu: Double, digest: String,
      error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  /** `cpu` is process CPU without the JIT compiler threads; `cpuRaw` includes them. */
  final case class PassRun(index: Int, traced: Boolean, wall: Double, cpu: Double, cpuRaw: Double)

  private def parse(args: Array[String]): Cfg = {
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Cfg(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("corpus"), m("wet"), m("scratch"), m("out"), m("cores").toInt,
      m("raster-px").toInt, m("setups").toInt,
      m.getOrElse("golden", "").split(",").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap)
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** A JSON object with its fields in the given order. */
  private def obj(fields: Seq[(String, Any)]): ListMap[String, Any] = ListMap.from(fields)

  private def processCpu(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used, read from the kernel's
    * per-thread accounting (`/proc/self/task/<tid>/stat`, in clock ticks of
    * 10 ms). The launcher keeps compiler threads alive for the whole run
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none of their time is
    * lost with an exited thread. 0 where `/proc` is not available. */
  private def jitCpu(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) return 0.0
    tasks.iterator.map { t =>
      val stat = try new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        catch { case _: java.io.IOException => "" }
      val name = stat.indexOf('('); val end = stat.lastIndexOf(')')
      if (name < 0 || end < 0 || !stat.substring(name + 1, end).matches("C[12] CompilerThre.*")) 0L
      else {
        // fields after the name: state ppid ... utime(14) stime(15), 1-based
        val f = stat.substring(end + 2).split(' ')
        f(11).toLong + f(12).toLong
      }
    }.sum / 100.0
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.toIndexedSeq.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Heap in use after full GCs: the least of five readings taken 300 ms
    * apart, each right after a full GC. The listener bus is drained first,
    * since queued events hold plans and metrics. A single reading varies:
    * a collection only enqueues the weak references through which Spark's
    * cleaner thread releases shuffle and broadcast state, and on a busy
    * host that release can take longer than the next collection. */
  private def liveHeapMb(spark: SparkSession): Double = {
    Trace.drain(spark.sparkContext)
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Drops the DataFrames `graft.Tables` caches for a stopped session.
    * The cache is keyed by session and private to the engine, so without
    * this every earlier set-up's session stays reachable and is counted in
    * `heap_live_mb`, which a program with one session would not hold. */
  private def forgetTables(stopped: SparkSession): Unit = {
    val f = Class.forName("graft.Tables$").getDeclaredField("cache")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), _]]
      .keySet.removeIf(_._1 eq stopped)
  }

  /** Bench's latency-profile session, with spill and warehouse directories
    * kept under the run's scratch directory. */
  def sessionConf(cfg: Cfg, wl: Workload): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${cfg.cores}]",
    "spark.app.name" -> "graft-perfbench",
    "spark.locality.wait" -> "0",
    "spark.sql.shuffle.partitions" -> wl.shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    graft.Tables.nanosAsLongConf,
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> s"${cfg.scratch}/warehouse",
    "spark.local.dir" -> s"${cfg.scratch}/spark-local")

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val cfg = parse(args)
    val wl: Workload = cfg.workload match {
      case "olap" => new Workloads.Olap(cfg.corpus, cfg.cores)
      case "pipeline" => new Workloads.Pipeline(cfg.seed, cfg.rasterPx, cfg.corpus,
        cfg.wet, s"${cfg.scratch}/stores", cfg.cores)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val conf = sessionConf(cfg, wl)
    val reference = mutable.HashMap.empty[String, String] ++= cfg.golden
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val mismatches = mutable.ArrayBuffer.empty[String]

    def newSession(): SparkSession = {
      val b = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def runOp(spark: SparkSession, op: Op, pass: Int, phase: String,
        stream: Option[StreamListener]): OpRun = {
      val span = s"${wl.name}/$pass/${op.name}"
      val sc = spark.sparkContext
      if (stream.nonEmpty) sc.setLocalProperty(Trace.SpanKey, span)
      stream.foreach(_.span = span)
      val c0 = processCpu(); val j0 = jitCpu()
      val t0 = now()
      var t1 = t0; var t2 = t0
      val r0 = try {
        val df = op.build(spark)
        t1 = now()
        df.queryExecution.executedPlan
        t2 = now()
        val d = Digest.of(df).toString
        val t3 = now()
        val err = reference.get(op.name) match {
          case Some(ref) if ref != d => Some(s"digest $d differs from reference $ref")
          case Some(_) => None
          case None => reference(op.name) = d; None
        }
        OpRun(pass, phase, op.name, op.layer, t3 - t0, t1 - t0, t2 - t1, t3 - t2, 0.0, d, err)
      } catch {
        case e: Exception =>
          val t3 = now()
          OpRun(pass, phase, op.name, op.layer, t3 - t0, t1 - t0, t2 - t1, 0.0, 0.0, "",
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      } finally {
        sc.setLocalProperty(Trace.SpanKey, null)
        if (stream.nonEmpty) Trace.drain(sc)
      }
      // read after the listener bus is drained, so a traced call carries
      // the listener's CPU as well
      val r = r0.copy(cpu = processCpu() - c0 - (jitCpu() - j0))
      r.error.foreach { e =>
        mismatches += s"${op.name} (pass $pass): $e"
        System.err.println(s"[perfbench] FAILED ${wl.name}/${op.name} pass $pass: $e")
      }
      runs += r
      r
    }

    def runPass(spark: SparkSession, pass: Int, phase: String,
        stream: Option[StreamListener]): PassRun = {
      val order = new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(wl.ops)
      val c0 = processCpu(); val j0 = jitCpu(); val t0 = now()
      order.foreach(op => runOp(spark, op, pass, phase, stream))
      val cpu = processCpu() - c0
      PassRun(pass, stream.nonEmpty, now() - t0, cpu - (jitCpu() - j0), cpu)
    }

    // -------------------------------------------------------------- setup
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val setups = mutable.ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    for (_ <- 1 to cfg.setups) {
      if (spark != null) { spark.stop(); forgetTables(spark) }
      val t0 = now()
      spark = newSession()
      val t1 = now()
      wl.register(spark)
      setups += ((t1 - t0, now() - t1))
    }
    val warm = runPass(spark, -1, "warm", None).wall
    val setupTotal = System.currentTimeMillis() / 1e3 - jvmStart

    // -------------------------------------------------------- timed window
    val spanL = new SpanListener
    val streamL = new StreamListener
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val unattributed = mutable.ArrayBuffer.empty[Double]
    val windowStart = now()
    var p = 0
    def more: Boolean = {
      val t = now() - windowStart
      p < 2 || t < cfg.seconds || (p < MinPasses && t < 3 * cfg.seconds)
    }
    while (more) {
      val traced = cfg.trace && (p % 4 == 1 || p % 4 == 2)
      if (traced) {
        spark.sparkContext.addSparkListener(spanL)
        spark.streams.addListener(streamL)
      }
      val before = spanL.unattributedMs
      passes += runPass(spark, p, "timed", if (traced) Some(streamL) else None)
      if (traced) {
        Trace.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(spanL)
        spark.streams.removeListener(streamL)
        unattributed += (spanL.unattributedMs - before) / 1e3
      }
      p += 1
    }
    val heapMb = liveHeapMb(spark)

    // ------------------------------------------------------------ metrics
    val timed = runs.filter(_.phase == "timed")
    val warmFailed = runs.count(r => r.phase == "warm" && !r.ok)
    val untracedPasses = passes.filterNot(_.traced)
    // Each op at its fastest call. Failed calls count too: a digest mismatch
    // costs the full call, and any failure makes the run not correct, so
    // breaking an op cannot pass as a gain.
    def best(rs: Iterable[OpRun], f: OpRun => Double): Seq[Double] =
      wl.ops.map(op => rs.filter(_.op == op.name).map(f).min)
    val untracedRuns = timed.filter(r => untracedPasses.exists(_.index == r.pass))
    val opBest = best(untracedRuns, _.wall)
    val e2e = Seq(
      "setup_s" -> median(setups.map(s => s._1 + s._2)),
      "pass_s" -> opBest.sum,
      "op_geomean_s" -> math.exp(opBest.map(math.log).sum / opBest.size),
      "cpu_s" -> best(untracedRuns, _.cpu).sum,
      "heap_live_mb" -> heapMb,
      "ok_frac" -> timed.count(_.ok).toDouble / timed.size)

    val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
    val spanLines = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    var splitViolations = 0
    if (cfg.trace) {
      val tracedPasses = passes.filter(_.traced).map(_.index).toSeq
      val tracedRuns = timed.filter(r => tracedPasses.contains(r.pass))
      for (r <- tracedRuns) {
        val c = spanL.spans.getOrElse(s"${wl.name}/${r.pass}/${r.op}", new Counters)
        if (math.abs(r.build + r.plan + r.exec - r.wall) > 0.1 * r.wall) splitViolations += 1
        spanLines += obj(Seq("span" -> s"${wl.name}/${r.pass}/${r.op}", "layer" -> r.layer,
          "wall_s" -> r.wall, "build_s" -> r.build, "plan_s" -> r.plan, "exec_s" -> r.exec,
          "jobs" -> c.jobs, "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
          "sched_delay_s" -> c.schedDelayMs / 1e3, "shuffle_mb" -> c.shuffleBytes / 1e6,
          "input_mb" -> c.inputBytes / 1e6, "digest" -> r.digest, "ok" -> r.ok))
      }
      for (layer <- layers) {
        def perPass(f: (OpRun, Counters) => Double): Double = median(tracedPasses.map { p =>
          tracedRuns.filter(r => r.pass == p && r.layer == layer).map { r =>
            f(r, spanL.spans.getOrElse(s"${wl.name}/${r.pass}/${r.op}", new Counters))
          }.sum
        })
        val wall = perPass((r, _) => r.wall)
        val cpu = perPass((_, c) => c.cpuNs / 1e9)
        layerMetrics ++= Seq(
          s"$layer.wall_s" -> wall,
          s"$layer.build_s" -> perPass((r, _) => r.build),
          s"$layer.plan_s" -> perPass((r, _) => r.plan),
          s"$layer.exec_s" -> perPass((r, _) => r.exec),
          s"$layer.jobs" -> perPass((_, c) => c.jobs.toDouble),
          s"$layer.tasks" -> perPass((_, c) => c.tasks.toDouble),
          s"$layer.sched_delay_s" -> perPass((_, c) => c.schedDelayMs / 1e3),
          s"$layer.cpu_s" -> cpu,
          s"$layer.gc_s" -> perPass((_, c) => c.gcMs / 1e3),
          s"$layer.shuffle_mb" -> perPass((_, c) => c.shuffleBytes / 1e6),
          s"$layer.input_mb" -> perPass((_, c) => c.inputBytes / 1e6),
          s"$layer.cpu_util" -> (if (wall > 0) cpu / (wall * cfg.cores) else 0.0))
      }
      val streamSpans = tracedRuns.filter(_.layer == "streaming.StreamOps")
      val batchesPerPass = tracedPasses.map(p => streamSpans.filter(_.pass == p).map { r =>
        streamL.batchMs.get(s"${wl.name}/${r.pass}/${r.op}").map(_.size).getOrElse(0).toDouble
      }.sum)
      val allBatches = streamSpans.flatMap(r =>
        streamL.batchMs.getOrElse(s"${wl.name}/${r.pass}/${r.op}", Nil)).map(_ / 1e3)
      layerMetrics ++= Seq(
        "streaming.StreamOps.batches" -> median(batchesPerPass),
        "streaming.StreamOps.batch_p50_s" -> median(allBatches),
        "streaming.StreamOps.state_mb" -> streamSpans.map(r =>
          streamL.stateBytes.getOrElse(s"${wl.name}/${r.pass}/${r.op}", 0L) / 1e6).foldLeft(0.0)(math.max),
        "setup.session_s" -> median(setups.map(_._1)),
        "setup.inputs_s" -> median(setups.map(_._2)),
        "setup.warm_s" -> warm,
        // the first, least warm pass is left out where there is a later one
        "trace.overhead_frac" -> (best(tracedRuns, _.wall).sum /
          best(Some(untracedRuns.filter(_.pass > 0)).filter(_.nonEmpty).getOrElse(untracedRuns),
            _.wall).sum - 1.0),
        "trace.unattributed_s" -> median(unattributed))
    }
    spark.stop()

    val result = obj(Seq(
      "workload" -> wl.name, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "correct" -> (mismatches.isEmpty && warmFailed == 0),
      "attempted" -> timed.size, "failed" -> timed.count(!_.ok),
      "failed_frac" -> timed.count(!_.ok).toDouble / timed.size,
      "warm_failed" -> warmFailed,
      "end_to_end" -> obj(e2e),
      "per_layer" -> obj(layerMetrics.toSeq),
      "passes" -> passes.size, "traced_passes" -> passes.count(_.traced),
      "setup_total_s" -> setupTotal,
      "setups" -> setups.map { case (a, b) => obj(Seq("session_s" -> a, "inputs_s" -> b)) },
      "warm_s" -> warm,
      "pass_walls_s" -> passes.map(_.wall), "pass_cpu_s" -> passes.map(_.cpu),
      "pass_cpu_raw_s" -> passes.map(_.cpuRaw),
      "pass_s_median" -> median(untracedPasses.map(_.wall)),
      "op_best_s" -> obj(wl.ops.map(_.name).zip(opBest)),
      "op_walls_s" -> obj(wl.ops.map(op => op.name -> timed.filter(_.op == op.name).map(_.wall).toSeq)),
      "op_cpu_s" -> obj(wl.ops.map(op => op.name -> timed.filter(_.op == op.name).map(_.cpu).toSeq)),
      "digests" -> obj(wl.ops.map(o => o.name -> reference.getOrElse(o.name, ""))),
      "failures" -> mismatches.toSeq,
      "split_violations" -> splitViolations,
      "input_props" -> obj(wl.props),
      "session_conf" -> obj(conf)))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.out), json.writeValueAsString(result))
    if (cfg.trace)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.out.stripSuffix(".json") + ".spans.jsonl"),
        spanLines.map(json.writeValueAsString).mkString("", "\n", "\n"))
  }
}
