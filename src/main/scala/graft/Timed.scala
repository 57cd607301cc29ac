package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{RuntimeConfig, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Bench's measurement protocol (BASELINE.md: untimed warm-ups, then the
  * median of 3 warm runs, the protocol the DuckDB twin mirrors), shared
  * with Profile and Probe: the wall timer, the floor-guarded pass, the
  * failure guard, scoped conf changes, the task counter and the JSON
  * writer for the artifact lines. */
object Timed {

  /** `body`'s result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds of one call of `body`. */
  def once(body: => Unit): Double = timed(body)._2

  /** `warmups` untimed calls, then the median of 3 timed ones. */
  def med3(body: => Unit, warmups: Int = 0): Double = {
    (1 to warmups).foreach(_ => body)
    Seq(once(body), once(body), once(body)).sorted.apply(1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def iqr(xs: Seq[Double]): Double = {
    val s = xs.sorted; s((s.length * 3) / 4) - s(s.length / 4)
  }

  /** Contention guard: a healthy idle-machine floor at local[32] has been
    * 0.05–0.15 s/query across rounds 2–7, so a pass whose floor median
    * exceeds 3× `floorRef` was contended. Healthy idle floor IQR has been
    * ~0.01 s; `iqrRef` (0.04 s) of spread across the interleaved probes
    * means the machine changed speed mid-pass (r14: a fresh-boot host
    * inflated the floor uniformly 1.6× with 5.6× the spread while its
    * median stayed in band). A contended pass is retried up to
    * `maxAttempts` times. */
  val floorRef = 0.15
  val iqrRef = 0.04
  val maxAttempts = 3

  /** How a guarded pass is judged and repaired. `iqr` adds the floor-IQR
    * test to the floor-median test. `reprobe` names the items of the kept
    * pass that get ONE fresh measurement, kept unconditionally: a
    * min(old, new) would be a one-sided filter that can only lower the
    * reported total, a bias the DuckDB protocol (no re-probe) does not
    * share. A genuine regression reproduces in the re-run. */
  final case class Gate[R](iqr: Boolean, reprobe: Seq[(String, R)] => Seq[String])

  object Gate {
    /** The floor guard catches SUSTAINED contention, not a transient spike
      * that poisons one item's three timed runs while the interleaved
      * floor stays clean (observed: one 4.7 s q3 median against its
      * 0.5–0.9 s band): an item over 5× the pass's own median is
      * re-probed. */
    def spikes(iqr: Boolean): Gate[Double] = Gate(iqr, rs => {
      val passMed = median(rs.map(_._2))
      rs.collect { case (n, t) if t > 5 * math.max(passMed, 0.05) => n }
    })

    /** BASELINE.md's tensor band: multi/single ≤ 2 for every kernel; a
      * breach re-probes both layouts. */
    val ratio: Gate[(Option[Double], Option[Double])] = Gate(false, rs =>
      rs.collect { case (n, (Some(m), Some(s))) if m > 2 * math.max(s, 1e-9) => n })
  }

  /** A guarded pass's verdict: the (re-probed) results of the kept pass,
    * its floor median and IQR, whether it was still contended after the
    * last attempt, and the attempts made. */
  final case class Guarded[R](results: Seq[(String, R)], floor: Double,
      floorIqr: Double, contended: Boolean, attempts: Int)

  /** The failure sink one Bench run shares, and its scheduler-floor
    * probe (`floor` returns seconds). */
  final class Runner(val floor: () => Double) {
    val failed: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty

    /** Runs `body`; a non-fatal failure lands in `failed` under `failKey`
      * and yields None, so a crashing measurement costs its own row, never
      * the artifact. Fatal errors (OOM, interrupts) propagate. */
    def leg[T](failKey: String)(body: => T): Option[T] =
      try Some(body) catch {
        case NonFatal(e) =>
          failed += failKey
          System.err.println(s"[bench] $failKey FAILED: ${e.getMessage}")
          None
      }

    /** One floor-interleaved pass over `items`, retried while contended.
      * Floor probes run before the first item, after every 4th and at the
      * end, so a load spike that inflates the items inflates the floor
      * samples too (the round-7 artifact timed its floor once, after the
      * contention had passed, and recorded a 35× phantom regression). The
      * lowest-floor pass is kept. Failures recorded during a pass count
      * only if that pass is kept: a transient failure in a discarded
      * contended attempt must not mark the kept result failed. The kept
      * pass's `gate.reprobe` items are then measured again with `again`. */
    def guarded[R](tag: String, items: Seq[String], gate: Gate[R])(
        measure: String => R, again: String => R): Guarded[R] = {
      def pass(): (Seq[(String, R)], Seq[Double], Seq[String]) = {
        val before = failed.toSet
        val floors = mutable.ArrayBuffer(floor())
        val res = items.zipWithIndex.map { case (n, i) =>
          val r = measure(n)
          if ((i + 1) % 4 == 0) floors += floor()
          n -> r
        }
        floors += floor()
        val passFailed = failed.filterNot(before).toSeq
        failed --= passFailed
        (res, floors.toSeq, passFailed)
      }
      var attempt = 0
      var best: (Seq[(String, R)], Seq[Double], Seq[String]) = null
      var contended = true
      while (attempt < maxAttempts && contended) {
        attempt += 1
        val p = pass()
        if (best == null || median(p._2) < median(best._2)) best = p
        val (fm, fIqr) = (median(best._2), iqr(best._2))
        contended = fm > 3 * floorRef || gate.iqr && fIqr > iqrRef
        if (contended) System.err.println(
          f"[bench] $tag attempt $attempt contended: floor median ${median(p._2)}%.3f s " +
            f"(limit ${3 * floorRef}%.2f)" +
            (if (gate.iqr) f" / best-pass iqr $fIqr%.3f s (limit $iqrRef%.2f)" else ""))
      }
      failed ++= best._3
      val redo = gate.reprobe(best._1).toSet
      val results = best._1.map { case (n, r) =>
        if (!redo(n)) n -> r else {
          val r2 = again(n)
          System.err.println(s"[bench] $tag $n re-probed: $r -> $r2 (kept)")
          n -> r2
        }
      }
      Guarded(results, median(best._2), iqr(best._2), contended, attempt)
    }
  }

  /** Runs `body` with each `kvs` conf set, then puts every key back: a key
    * that was unset before stays unset. (`getAll` holds only the keys that
    * are set; `getOption` also answers a registered key's default.) */
  def withConf[T](conf: RuntimeConfig, kvs: (String, String)*)(body: => T): T = {
    val set = conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Counts jobs, stages, tasks and shuffle bytes written while installed.
    * Shuffle BYTES are the portable figure for a plan's exchange cost: on
    * one box the OS absorbs an in-memory shuffle and wall-clock is
    * bistable, while at 100 TB the exchange crosses a network. */
  final class TaskCounter extends SparkListener {
    val jobs, stages, tasks, shuffleBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }

    /** Zeroes the counters, runs `body`, and leaves its counts readable.
      * The listener bus is async: it is drained before the reset and
      * before the counts are read. */
    def around(spark: SparkSession)(body: => Unit): this.type = {
      GraftSession.drainListenerBus(spark)
      Seq(jobs, stages, tasks, shuffleBytes).foreach(_.set(0))
      body
      GraftSession.drainListenerBus(spark)
      this
    }
  }

  object TaskCounter {
    /** A counter installed on `spark` for the duration of `f`. */
    def using[T](spark: SparkSession)(f: TaskCounter => T): T = {
      val c = new TaskCounter
      spark.sparkContext.addSparkListener(c)
      try f(c) finally spark.sparkContext.removeSparkListener(c)
    }
  }

  /** A JSON object, fields in order. Values: Double, Int, Long, Boolean,
    * String, Option (None is null), Obj, or an Iterable of strings (an
    * array). */
  final case class Obj(fields: (String, Any)*) {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields: _*)

    /** `compact` renders every Double at 4 decimals: 0.1 ms is below every
      * band the artifact carries. */
    def render(compact: Boolean): String =
      fields.map { case (k, v) => quote(k) + ":" + value(v, compact) }
        .mkString("{", ",", "}")
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def value(v: Any, compact: Boolean): String = v match {
    case d: Double => if (compact) "%.4f".formatLocal(java.util.Locale.ROOT, d) else d.toString
    case s: String => quote(s)
    case o: Obj => o.render(compact)
    case Some(x) => value(x, compact)
    case None => "null"
    case xs: Iterable[_] => xs.map(x => value(x, compact)).mkString("[", ",", "]")
    case x => x.toString
  }
}
