package graft

import org.apache.spark.sql.Dataset
import graft.tensor._

/** Measurement tool (guide §1, r22) over a synthetic side² raster in
  * chunk² blocks, in Bench's session with 8 shuffle partitions. Each
  * operator is timed as the median of 3 after one warm run.
  *  - `stencil`: the CHAINED stencil operators — threshold_local (smooth
  *    + compare) and binary opening/closing (two morphology passes) —
  *    plus a single gaussian as the unchained control, forced via a full
  *    map-reduce over every block (the Bench forceB protocol).
  *  - `measure`: the Measure labeled-reduction family with a congruent
  *    synthetic label image, at the scale where per-task work dominates
  *    (the declared tensor keys run a 48×64 gate raster where every wall
  *    is dispatch floor); noop sink per guide §1.4.
  * Args: stencil|measure [side] [chunk], default 4096 512 (64 blocks of
  * 2 MiB). */
object Probe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(mode == "stencil" || mode == "measure",
      "usage: graft.Probe stencil|measure [side] [chunk]")
    val side = if (args.length > 1) args(1).toInt else 4096
    val chunk = if (args.length > 2) args(2).toInt else 512
    // no parquet input: the raster is synthesized in the JVM
    val spark = GraftSession.bench(0L, shuffle = Some(8)).spark
    import spark.implicits._
    val g = side / chunk
    val idx = for (bi <- 0 until g; bj <- 0 until g) yield (bi, bj)
    val img = spark.createDataset(idx).map { case (bi, bj) =>
      val data = new Array[Double](chunk * chunk)
      var i = 0
      while (i < data.length) { data(i) = ((bi * 31 + bj * 17 + i) % 997) * 0.01; i += 1 }
      Block("probe", Seq(bi, bj), Seq(bi * chunk, bj * chunk), Seq(chunk, chunk),
        Seq(chunk, chunk), Seq(side, side), data)
    }.persist()
    img.count()
    val tag = s"${mode.toUpperCase}PROBE"
    def t(name: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(s"${mode}probe: $name")
      val median = Timed.med3(f, warmups = 1)
      println(f"$tag $name%-16s side=$side%5d median=$median%7.3f s")
    }
    if (mode == "stencil") {
      val bin = img.map(b => b.copy(data =
        b.data.map(v => if (v > 5.0) 1.0 else 0.0))).persist()
      bin.count()
      def force(ds: Dataset[Block]): Unit = {
        ds.map(_.data.length.toLong).reduce(_ + _); ()
      }
      t("gaussian1.5") { force(Filters.gaussianFilter(img, Seq(1.5, 1.5))) }
      t("threshold_local") { force(Filters.thresholdLocal(img, 2, 3, method = "mean",
        offset = 0.005)) }
      t("binary_opening") { force(Morph.binaryOpening(bin, 2)) }
      t("binary_closing") { force(Morph.binaryClosing(bin, 2)) }
    } else {
      // ~251 labels, block-spanning stripes — same label cardinality class
      // as the oracle rasters
      val labels = img.map(b => b.copy(data =
        b.data.map(v => ((v * 100).toLong % 251 + 1).toDouble))).persist()
      labels.count()
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      t("extrema") { noop(Measure.extrema(img, labels, 2, Seq(side, side))) }
      t("center_of_mass") { noop(Measure.centerOfMass(img, labels, 2)) }
      t("mean") { noop(Measure.mean(img, labels, 2)) }
      t("histogram") { noop(Measure.histogram(img, labels, 2, 0.0, 10.0, 8)) }
    }
    spark.stop()
  }
}
