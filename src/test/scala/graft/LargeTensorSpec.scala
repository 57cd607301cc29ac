package graft

import graft.tensor._

/** Size smoke: the halo pipeline at realistic block counts (256 blocks,
  * 1M elements) — shapes, edge blocks, and the O(n) extremum path at a
  * window size where the naive gather would be 81× the work. */
class LargeTensorSpec extends SparkSpec {

  test("1024x1024 image over 256 blocks: gaussian + 9x9 min filter, multi == single block") {
    val n = 1024
    val img = Nd.zeros(Array(n, n))
    var i = 0
    while (i < img.data.length) {
      img.data(i) = ((i * 2654435761L) % 1000) * 0.01 + math.sin(i * 0.001)
      i += 1
    }
    val multi = Grid.blockify(spark, "big", img, Seq(64, 64))
    assert(multi.count() == 256)

    val t0 = System.nanoTime()
    val g = Grid.unblockify(Filters.gaussianFilter(multi, Seq(2.0, 2.0)))
    val m = Grid.unblockify(Filters.minimumFilter(multi, Seq(9, 9)))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"gaussian σ2 + min 9x9 over 1M px, 256 blocks: $secs%.1f s")
    assert(g.shape.toSeq == Seq(n, n) && m.shape.toSeq == Seq(n, n))

    // single-block reference on a band of rows (full single-block compare
    // would also pass but costs another two full runs; a band catches
    // block-boundary errors on every column seam)
    val single = Grid.blockify(spark, "big1", img, Seq(n, n))
    val gRef = Grid.unblockify(Filters.gaussianFilter(single, Seq(2.0, 2.0)))
    val mRef = Grid.unblockify(Filters.minimumFilter(single, Seq(9, 9)))
    for (row <- Seq(0, 63, 64, 512, 1023); j <- 0 until n) {
      assert(math.abs(g.data(row * n + j) - gRef.data(row * n + j)) < 1e-10,
        s"gaussian seam mismatch at ($row,$j)")
      assert(m.data(row * n + j) == mRef.data(row * n + j),
        s"min seam mismatch at ($row,$j)")
    }
  }

  /** 648×648 image, 16 blocks: ~103k isolated dots + 6 full-width stripes
    * (each crossing 3 block seams). Expected component count is exact:
    * 318 dot-rows × 324 dots + 6 stripes = 103,038. Exercises the
    * distributed relabel (sort+zipWithIndex rank + per-block join) at
    * ≥10⁵ labels, in both lineage-truncation modes. */
  private def labelStress(): Unit = {
    val n = 648
    val img = Nd.zeros(Array(n, n))
    val stripeRows = Set(50, 150, 250, 350, 450, 550)
    for (r <- 0 until n by 2; c <- 0 until n) {
      if (stripeRows(r)) img.data(r * n + c) = 1.0
      else if (c % 2 == 0) img.data(r * n + c) = 1.0
    }
    val expected = (324 - 6) * 324 + 6 // 103,038
    val ds = Grid.blockify(spark, "stress", img, Seq(162, 162))
    assert(ds.count() == 16)
    val (lab, num) = Measure.label(ds, 2, 1)
    assert(num == expected, s"component count $num != $expected")
    import spark.implicits._
    val stats = lab.flatMap(b => b.data.filter(_ != 0.0).map(_.toLong))
      .toDF("l").agg(
        org.apache.spark.sql.functions.countDistinct("l"),
        org.apache.spark.sql.functions.min("l"),
        org.apache.spark.sql.functions.max("l")).head()
    assert(stats.getLong(0) == expected, "labels not dense: distinct != n")
    assert(stats.getLong(1) == 1L && stats.getLong(2) == expected.toLong,
      "labels not exactly 1..n after densify")
  }

  test("label at 1e5+ components: distributed relabel, localCheckpoint mode") {
    labelStress()
  }

  test("label at 1e5+ components: reliable checkpoint mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    Timed.withConf(spark.conf, "graft.checkpoint.reliable" -> "true")(labelStress())
  }
}
