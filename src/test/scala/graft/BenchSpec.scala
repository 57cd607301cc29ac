package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Timed._
import org.apache.spark.sql.MapRuntimeConfig
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's measurement protocol and artifact schema, without Spark. */
class BenchSpec extends AnyFunSuite {

  /** A fake clock for the floor probe: replays `secs`, one per probe. */
  private def floors(secs: Double*): () => Double = {
    val it = secs.iterator
    () => it.next()
  }

  // four items: each pass probes the floor before, after the 4th and at
  // the end
  private val items = Seq("a", "b", "c", "d")

  /** A measurement reporting which pass (1-based) it ran in. */
  private def passCounter(): String => Double = {
    var pass = 0
    n => { if (n == "a") pass += 1; pass.toDouble }
  }

  test("guarded retries a contended pass and keeps the lowest-floor one") {
    val r = new Runner(floors(0.5, 0.5, 0.5, 0.9, 0.9, 0.9, 0.6, 0.6, 0.6))
    val g = r.guarded("t", items, Gate.spikes(iqr = false))(passCounter(), _ => fail())
    assert(g.attempts == 3 && g.contended)
    assert(g.floor == 0.5 && g.results.map(_._2).distinct == Seq(1.0))
  }

  test("guarded stops at the first quiet pass; a discarded pass's failure is dropped") {
    val r = new Runner(floors(0.9, 0.9, 0.9, 0.1, 0.1, 0.1))
    val count = passCounter()
    val g = r.guarded("t", items, Gate.spikes(iqr = false))(n => {
      val p = count(n)
      if (p == 1 && n == "b") r.leg("b")(throw new RuntimeException("transient"))
      p
    }, _ => fail())
    assert(g.attempts == 2 && !g.contended && g.floor == 0.1)
    assert(g.results.map(_._2).distinct == Seq(2.0))
    assert(r.failed.isEmpty)
  }

  test("the floor-IQR test applies only when the gate asks for it") {
    // median 0.1 is in band; the IQR (0.3 - 0.05) is not
    val spread = Seq(0.05, 0.1, 0.3)
    val quiet = new Runner(floors(spread: _*))
      .guarded("t", items, Gate.spikes(iqr = false))(_ => 1.0, _ => fail())
    assert(quiet.attempts == 1 && !quiet.contended)
    val flagged = new Runner(floors(Seq.fill(3)(spread).flatten: _*))
      .guarded("t", items, Gate.spikes(iqr = true))(_ => 1.0, _ => fail())
    assert(flagged.attempts == 3 && flagged.contended)
  }

  test("a spike re-probe is kept even when it is slower") {
    val r = new Runner(floors(0.1, 0.1, 0.1))
    val g = r.guarded("t", items, Gate.spikes(iqr = false))(
      n => if (n == "d") 10.0 else 1.0, n => { assert(n == "d"); 20.0 })
    assert(g.results == Seq("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 20.0))
    assert(Gate.ratio.reprobe(Seq("k" -> ((Some(3.0), Some(1.0))),
      "j" -> ((Some(2.0), Some(1.0))), "n" -> ((None, Some(1.0))))) == Seq("k"))
  }

  test("leg records a non-fatal failure under its key and lets a fatal one through") {
    val r = new Runner(() => 0.0)
    assert(r.leg("q")(throw new RuntimeException("boom")).isEmpty)
    assert(r.leg("ok")(7).contains(7))
    intercept[OutOfMemoryError](r.leg("oom")(throw new OutOfMemoryError("fatal")))
    assert(r.failed.toSeq == Seq("q"))
  }

  test("withConf restores a set key and leaves an unset key unset") {
    val conf = new MapRuntimeConfig("width" -> "1")
    intercept[RuntimeException](withConf(conf, "width" -> "8", "provider" -> "rocksdb") {
      assert(conf.getAll == Map("width" -> "8", "provider" -> "rocksdb"))
      throw new RuntimeException("body failed")
    })
    assert(conf.getAll == Map("width" -> "1"))
  }

  /** Key paths of a JSON object: each field, dotted under its parents. */
  private def paths(n: JsonNode, prefix: String = ""): Seq[String] =
    n.fields().asScala.toSeq.flatMap { e =>
      val p = prefix + e.getKey
      p +: (if (e.getValue.isObject) paths(e.getValue, p + ".") else Nil)
    }

  private lazy val golden: Map[String, Seq[String]] = {
    val src = scala.io.Source.fromResource("graft/bench_keypaths.txt")
    try src.getLines().filterNot(_.startsWith("#")).foldLeft(
      Seq.empty[(String, Seq[String])]) {
      case (acc, l) if l.startsWith("[") => acc :+ (l.stripPrefix("[").stripSuffix("]") -> Nil)
      case (acc, l) => acc.init :+ (acc.last._1 -> (acc.last._2 :+ l))
    }.toMap finally src.close()
  }

  private def fields(names: String*): Obj = Obj(names.map(_ -> 1.0): _*)
  private def leg(tag: String, names: String*): Obj = Obj(tag -> fields(names: _*))

  test("the JSON lines render the recorded sf0.001 key paths") {
    def g[R](ks: Seq[String], r: R) = Guarded(ks.map(_ -> r), 0.07, 0.01, false, 1)
    // sf0.001 has no probe-sized table: both disk probes decline
    val probes = Bench.diskFields((-1.0, 0L), (-1.0, 0L), "o_direct") ++
      Bench.cpuFields(40.0, 60.0, 4)
    val default = Bench.defaultLine(g(Bench.headline, 0.1), Nil,
      Bench.guardedFields("llm", g(Bench.llmHeadline, 0.5)) ++
        Bench.guardedFields("curation", g(Bench.curationHeadline, 0.5)) ++
        leg("hh_highcard", "rows", "distinct_approx", "gen_s", "mg_s", "naive_groupby_s",
          "mg_shuffle_mb", "naive_shuffle_mb", "mg_bounded_buffer_ok") ++
        leg("bucketed", "build_s", "reused", "q3_bucketed_s", "q3_flat_s",
          "q3_bucketed_shuffle_mb", "q3_flat_shuffle_mb", "no_exchange_ok") ++
        leg("partitioned", "build_s", "reused", "date_trunc_agg_partitioned_s",
          "q1_partitioned_s", "time_slice_quarter_s", "time_slice_day_s", "events_build_s",
          "events_reused", "session_gap_day_s", "no_ts_scan_ok") ++
        Bench.annFields(Bench.annHeadline.map(_._1 -> 1.0),
          Bench.annHeadline.map(_._1 -> Some(0.9))) ++
        leg("ingest", "wet_decode_s", "wet_raw_mb", "wet_mb_per_s", "wet_5k_decode_s",
          "wet_5k_raw_mb", "wet_5k_mb_per_s") ++
        Bench.tensorFields(g(Bench.tensorKernels, (Some(0.2), Some(0.1)))),
      probes, "sf0.001")
    def once(tag: String, ks: Seq[String]) = Bench.onceFields(tag, ks.map(_ -> 1.0), 9.0)
    val onePass = Bench.onePassLine(Bench.headline.map(_ -> 1.0), 16.0, Nil,
      once("llm", Bench.llmHeadline :+ Bench.scaledKey) ++ Obj("scaled_k" -> 1) ++
        once("curation", Bench.curationHeadline) ++
        leg("streaming", "rows", "batches", "wall_s", "rows_per_s", "batch_twin_s",
          "state_rows", "state_mem_mb", "overhead_ok") ++
        leg("streaming_stateful", "rows", "rows_expected", "batches", "wall_s",
          "rows_per_s", "state_rows", "state_mem_mb", "state_width") ++
        leg("bucketed", "build_s", "reused", "q3_bucketed_s") ++
        leg("partitioned", "build_s", "reused", "date_trunc_agg_partitioned_s",
          "q1_partitioned_s", "time_slice_quarter_s", "time_slice_day_s", "events_build_s",
          "events_reused", "session_gap_day_s") ++
        Obj("sigindex" -> (fields("build_s", "reused", "probe_s", "batch_docs",
          "n_collided", "probe_partitions", "pruned_scan_ok") ++
          leg("small_batch", "batch_docs", "probe_partitions", "total_partitions",
            "pruned_probe_s", "unpruned_probe_s", "n_collided", "verdict_equal"))) ++
        leg("pqindex", "build_s", "reused", "probe_s", "codes_mb", "append_s", "append_rows") ++
        leg("tensor_smoke", "gaussian5", "label_stats", "affine_u8") ++
        Obj("tensor_smoke_wall" -> 1.0, "tensor_side" -> 1024, "tensor_blocks" -> 8L,
          "tensor_peak_heap_mb" -> 100L),
      probes, 1000L, "sf0.001")
    val json = new ObjectMapper
    for ((mode, line) <- Seq("default" -> default, "onepass" -> onePass)) {
      val (full, compact) = Bench.lines(line)
      for ((kind, rendered) <- Seq("full" -> full, "compact" -> compact))
        assert(paths(json.readTree(rendered)).sorted == golden(s"${mode}_$kind").sorted,
          s"$mode $kind")
    }
    // full precision in the full line, 4 decimals in the compact one
    val (full, compact) = Bench.lines(default)
    assert(full.contains("\"floor_per_query\":0.07,"))
    assert(compact.contains("\"floor_per_query\":0.0700,"))
  }
}
