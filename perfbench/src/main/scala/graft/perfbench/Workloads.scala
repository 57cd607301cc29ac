package graft.perfbench

import graft.SparkEntry
import graft.sources.{WarcSource, ZarrStore}
import graft.tensor._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}
import org.apache.spark.storage.StorageLevel

/** One benchmarked call: `build` calls a layer's public function and
  * returns the lazy result; the runner then plans and forces it. */
final case class Op(name: String, layer: String, build: SparkSession => DataFrame)

/** A named set of inputs and the ops run over them on every pass. */
trait Workload {
  def name: String
  def ops: Seq[Op]
  /** Bench's latency-profile shuffle width for this input. */
  def shufflePartitions: Int
  /** Register (and for tensors, persist) the inputs in a fresh session. */
  def register(spark: SparkSession): Unit
  /** Input properties recorded with the metrics. */
  def props: Seq[(String, Any)] = Nil
}

object Workloads {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Bench's shuffle-width rule: about 10 MiB of input per shuffle
    * partition, clamped to [1, cores]. */
  def shuffleRule(dir: String, cores: Int): Int = {
    val bytes = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    math.max(1L, math.min(cores.toLong, bytes / (10L << 20))).toInt
  }

  /** A query key, filed under the layer object that defines it. */
  private def query(key: String, dir: String): Op = {
    val layer = Seq(
      "queries.Relational" -> graft.queries.Relational.queries,
      "queries.TextOps" -> graft.queries.TextOps.queries,
      "queries.Similarity" -> graft.queries.Similarity.queries,
      "streaming.StreamOps" -> graft.streaming.StreamOps.queries)
      .collectFirst { case (l, m) if m.contains(key) => l }
      .getOrElse(throw new IllegalArgumentException(s"no layer defines query key $key"))
    Op(key, layer, s => SparkEntry.queries(key)(s, dir))
  }

  /** 12 of the 16 BASELINE.md headline keys, reading parquet on every call.
    * window_running, tumbling_window, distinct_users and set_ops are left
    * out to keep a run short: each repeats the plan shape of a kept key
    * (window_rank, date_trunc_agg, q1_pricing_summary, semi_anti_join). */
  final class Olap(dir: String, cores: Int) extends Workload {
    val name = "olap"
    val ops: Seq[Op] = Seq(
      "q1_pricing_summary", "q3_top_orders", "semi_anti_join", "window_rank",
      "rollup_sales", "string_funcs", "date_trunc_agg", "json_extract",
      "session_gap", "exact_dedup_docs", "doc_token_stats", "cosine_topk")
      .map(query(_, dir))
    def shufflePartitions: Int = shuffleRule(dir, cores)
    def register(spark: SparkSession): Unit =
      tables.foreach(t => graft.Tables.t(spark, dir, t).schema)
  }

  /** Seeded n×n uint8-valued raster: smooth value noise on a 24-px lattice
    * plus per-pixel noise, generated block by block in Spark. */
  def raster(spark: SparkSession, seed: Long, n: Int, chunk: Int, id: String): Dataset[Block] = {
    import spark.implicits._
    val g = (n + chunk - 1) / chunk
    def h(a: Long, b: Long, c: Long): Double = {
      var x = seed * 0x9e3779b97f4a7c15L + a * 0xbf58476d1ce4e5b9L + b * 0x94d049bb133111ebL + c
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x = x ^ (x >>> 31)
      (x >>> 11).toDouble / (1L << 53) * 2.0 - 1.0
    }
    val s = 24
    spark.range(0, g.toLong * g, 1, math.min(g * g, 16)).map { cell =>
      val bi = (cell / g).toInt; val bj = (cell % g).toInt
      val oi = bi * chunk; val oj = bj * chunk
      val hh = math.min(chunk, n - oi); val ww = math.min(chunk, n - oj)
      val data = new Array[Double](hh * ww)
      var i = 0
      while (i < hh) {
        val gi = oi + i
        val ai = gi / s; val fi = (gi % s).toDouble / s; val ui = fi * fi * (3 - 2 * fi)
        var j = 0
        while (j < ww) {
          val gj = oj + j
          val aj = gj / s; val fj = (gj % s).toDouble / s; val uj = fj * fj * (3 - 2 * fj)
          val coarse = (h(ai, aj, 1) * (1 - uj) + h(ai, aj + 1, 1) * uj) * (1 - ui) +
            (h(ai + 1, aj, 1) * (1 - uj) + h(ai + 1, aj + 1, 1) * uj) * ui
          val v = 128.0 + 90.0 * coarse + 30.0 * h(gi, gj, 2)
          data(i * ww + j) = math.max(0.0, math.min(255.0, math.rint(v)))
          j += 1
        }
        i += 1
      }
      Block(id, Seq(bi, bj), Seq(oi, oj), Seq(hh, ww), Seq(chunk, chunk), Seq(n, n), data)
    }
  }

  private def keep[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_ONLY)
    p.foreachPartition((_: Iterator[T]) => ())
    p
  }

  /** One pass of an image and text data pipeline over persisted seeded
    * inputs: stencil, morphology, labelled measurement and resampling of a
    * raster and of its thresholded mask, a zarr write, a WET decode and a
    * streaming quality gate over the corpus. */
  final class Pipeline(seed: Long, n: Int, corpus: String, wet: String,
      scratch: String, cores: Int) extends Workload {
    val name = "pipeline"
    private val chunk = 256
    private var img: Dataset[Block] = _
    private var u8: Dataset[TBlock] = _
    private var mask: Dataset[Block] = _
    private var maskU8: Dataset[TBlock] = _
    private var foreground = 0.0
    private val zarr = s"$scratch/zarr"
    private val rot = {
      val a = math.toRadians(10.0); val c = n / 2.0
      val m = Array(Array(math.cos(a), -math.sin(a)), Array(math.sin(a), math.cos(a)))
      (m, Array(c - m(0)(0) * c - m(0)(1) * c, c - m(1)(0) * c - m(1)(1) * c))
    }
    val ops: Seq[Op] = Seq(
      Op("gaussian_filter", "tensor.Filters", _ => Filters.gaussianFilter(img, Seq(2.0, 2.0)).toDF()),
      Op("binary_opening_u8", "tensor.Morph", _ => TMorph.binaryOpening(maskU8, 2).toDF()),
      // the thresholded raster is the label image: labels 0 and 1
      Op("labeled_mean", "tensor.Measure", _ => Measure.mean(img, mask, 2)),
      Op("affine_u8", "tensor.Interp", _ =>
        Interp.affineTransformTyped(u8, 2, rot._1, rot._2, order = 1, outDtype = DType.F32).toDF()),
      Op("zarr_write", "sources", s => { ZarrStore.writeTyped(u8, zarr); listing(s, zarr) }),
      Op("wet_decode", "sources", s => WarcSource.readWet(s, s"$wet/*.warc.wet.gz")
        .withColumn("path", regexp_extract(col("path"), "[^/]*$", 0))),
      query("stream_quality_gate", corpus))
    def shufflePartitions: Int = math.min(cores, 8)
    def register(spark: SparkSession): Unit = {
      img = keep(raster(spark, seed, n, chunk, "raster"))
      u8 = keep(TBlock.fromBlocks(img, DType.U8))
      mask = keep(Filters.mapBlocks(img)(b => b.data.map(v => if (v > 128.0) 1.0 else 0.0)))
      maskU8 = keep(TBlock.fromBlocks(mask, DType.U8))
      import spark.implicits._
      foreground = mask.map(_.data.sum).reduce(_ + _) / (n.toDouble * n)
    }
    override def props: Seq[(String, Any)] = Seq("raster_px" -> n, "chunk_px" -> chunk,
      "mpix" -> n.toDouble * n / 1e6, "blocks" -> ((n + chunk - 1) / chunk) * ((n + chunk - 1) / chunk),
      "mask_foreground_frac" -> foreground)
  }

  /** What a write left on disk, as rows: (directory relative to the store
    * root, file size). Hidden and marker files are skipped. */
  private def listing(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val base = new java.io.File(root).toPath
    val files = java.nio.file.Files.walk(base).iterator()
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (files.hasNext) {
      val p = files.next()
      val f = p.toFile
      if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        rows += ((base.relativize(p.getParent).toString, f.length()))
    }
    rows.toSeq.toDF("dir", "bytes")
  }
}
