package graft

import graft.tensor._

class InterpFourierSpec extends SparkSpec {

  private def testImage(h: Int, w: Int): Nd = {
    val nd = Nd.zeros(Array(h, w))
    for (i <- 0 until h; j <- 0 until w)
      nd.data(i * w + j) = math.sin(i * 0.5) * 2 + math.cos(j * 0.9) + (i * 13 + j * 7) % 5 * 0.3
    nd
  }

  private def maxAbsDiff(a: Nd, b: Nd): Double =
    a.data.zip(b.data).map { case (x, y) => math.abs(x - y) }.max

  private val img = testImage(20, 24)

  /** Naive full-array affine (constant boundary). */
  private def naiveAffine(in: Nd, m: Array[Array[Double]], off: Array[Double],
      outShape: Array[Int], order: Int, cval: Double): Nd = {
    val Array(h, w) = in.shape
    val out = Nd.zeros(outShape)
    def sample(i: Int, j: Int): Double =
      if (i < 0 || i >= h || j < 0 || j >= w) cval else in.data(i * w + j)
    for (i <- 0 until outShape(0); j <- 0 until outShape(1)) {
      val si = m(0)(0) * i + m(0)(1) * j + off(0)
      val sj = m(1)(0) * i + m(1)(1) * j + off(1)
      out.data(i * outShape(1) + j) =
        if (order == 0) sample(math.floor(si + 0.5).toInt, math.floor(sj + 0.5).toInt)
        else {
          val bi = math.floor(si).toInt; val bj = math.floor(sj).toInt
          val fi = si - bi; val fj = sj - bj
          (1 - fi) * (1 - fj) * sample(bi, bj) + (1 - fi) * fj * sample(bi, bj + 1) +
            fi * (1 - fj) * sample(bi + 1, bj) + fi * fj * sample(bi + 1, bj + 1)
        }
    }
    out
  }

  test("affine_transform: identity is exact; matches naive for shift+scale+rotate, orders 0 and 1") {
    val cases = Seq(
      (Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(0.0, 0.0)), // identity
      (Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(2.5, -1.25)), // subpixel shift
      (Array(Array(0.5, 0.0), Array(0.0, 2.0)), Array(1.0, 3.0)), // anisotropic scale
      (Array(Array(0.866, 0.5), Array(-0.5, 0.866)), Array(3.0, -2.0))) // ~30° rotation
    for ((m, off) <- cases; order <- Seq(0, 1)) {
      val ds = Grid.blockify(spark, "t", img, Seq(7, 9))
      val got = Grid.unblockify(Interp.affineTransform(ds, 2, m, off, order = order, cval = -1.0))
      val want = naiveAffine(img, m, off, img.shape, order, -1.0)
      assert(maxAbsDiff(got, want) < 1e-12,
        s"affine order=$order m=${m.map(_.toSeq).toSeq} diff=${maxAbsDiff(got, want)}")
    }
  }

  test("affine_transform order 3: identity reproduces the image away from edges") {
    // big enough for the order-3 prefilter halo (depth 18)
    val big = testImage(40, 44)
    val ds = Grid.blockify(spark, "t", big, Seq(20, 22))
    val got = Grid.unblockify(Interp.affineTransform(ds, 2,
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(0.0, 0.0), order = 3))
    // interior only: edge coefficients see cval instead of mirror
    var worst = 0.0
    for (i <- 4 until 36; j <- 4 until 40)
      worst = math.max(worst, math.abs(got.data(i * 44 + j) - big.data(i * 44 + j)))
    assert(worst < 1e-7, s"order-3 identity interior error $worst")
  }

  test("affine_transform: chunking does not change the result") {
    val m = Array(Array(0.7, 0.2), Array(-0.1, 1.1)); val off = Array(1.5, -0.5)
    val a = Grid.unblockify(Interp.affineTransform(
      Grid.blockify(spark, "t", img, img.shape.toSeq), 2, m, off, order = 1))
    val b = Grid.unblockify(Interp.affineTransform(
      Grid.blockify(spark, "t", img, Seq(5, 6)), 2, m, off, order = 1))
    assert(maxAbsDiff(a, b) < 1e-12)
  }

  test("rotate: 90° with reshape swaps dimensions and permutes values exactly") {
    val ds = Grid.blockify(spark, "t", img, Seq(7, 9))
    val got = Grid.unblockify(Interp.rotate(ds, 2, 90.0, axes = (0, 1), order = 1))
    assert(got.shape.toSeq == Seq(24, 20), s"rotated shape ${got.shape.toSeq}")
    // rotate(90°, axes=(0,1)): out(i,j) == in(j, W−1−i) up to interpolation
    val Array(oh, ow) = got.shape
    var bad = 0
    for (i <- 0 until oh; j <- 0 until ow) {
      val exp = img.data(j * 24 + (24 - 1 - i))
      if (math.abs(got.data(i * ow + j) - exp) > 1e-9) bad += 1
    }
    assert(bad == 0, s"$bad mismatched cells after 90° rotation")
  }

  test("rotate: 360° (reshape=false) returns the original image") {
    val ds = Grid.blockify(spark, "t", img, Seq(7, 9))
    val got = Grid.unblockify(Interp.rotate(ds, 2, 360.0, reshape = false, order = 1))
    assert(maxAbsDiff(got, img) < 1e-9)
  }

  test("spline_filter: orders 0/1 are identity; order 3 is chunk-invariant and invertible-ish") {
    val ds = Grid.blockify(spark, "t", img, Seq(7, 9))
    assert(maxAbsDiff(Grid.unblockify(Interp.splineFilter(ds, 2, 1)), img) == 0.0)
    // IIR halo depth for order 3 is 18 → chunks must be ≥ 18
    val big = testImage(60, 50)
    val a = Grid.unblockify(Interp.splineFilter(
      Grid.blockify(spark, "t", big, big.shape.toSeq), 2, 3))
    val b = Grid.unblockify(Interp.splineFilter(
      Grid.blockify(spark, "t", big, Seq(30, 25)), 2, 3))
    // halo truncation error must be below the documented 1e-10 tail, away
    // from the array boundary (compare interiors)
    assert(maxAbsDiff(a, b) < 1e-6, s"spline chunk divergence ${maxAbsDiff(a, b)}")
    // under-chunked spline must fail loudly, not silently approximate
    val err = intercept[org.apache.spark.SparkException] {
      Grid.unblockify(Interp.splineFilter(Grid.blockify(spark, "t", img, Seq(7, 9)), 2, 3))
    }
    assert(err.getMessage.contains("halo depth") || err.getCause != null)
    // B-spline prefilter must reproduce the signal when convolved with the
    // cubic B-spline kernel [1/6, 4/6, 1/6] (1-d check through the engine)
    val line = Nd.zeros(Array(1, 40))
    for (j <- 0 until 40) line.data(j) = math.sin(j * 0.3) + 0.1 * j
    val coef = Grid.unblockify(Interp.splineFilter1d(
      Grid.blockify(spark, "t", line, Seq(1, 40)), 2, 3, axis = 1))
    for (j <- 5 until 35) {
      val recon = (coef.data(j - 1) + 4 * coef.data(j) + coef.data(j + 1)) / 6.0
      assert(math.abs(recon - line.data(j)) < 1e-8, s"B3 reconstruction at $j: $recon vs ${line.data(j)}")
    }
  }

  test("spline orders 2/4/5: prefilter + B_n reconstruction is the identity; chunk-invariant") {
    // bspline recursion sanity: cubic closed-form values
    assert(math.abs(Interp.bspline(3, 0.0) - 2.0 / 3.0) < 1e-15)
    assert(math.abs(Interp.bspline(3, 1.0) - 1.0 / 6.0) < 1e-15)
    assert(math.abs(Interp.bspline(2, 0.0) - 0.75) < 1e-15)
    assert(math.abs(Interp.bspline(2, 1.0) - 0.125) < 1e-15)
    val big = testImage(72, 64)
    for (order <- Seq(2, 4, 5)) {
      // chunk-invariance: single block vs 36x32 chunks (halo depth ≤ 28)
      val a = Grid.unblockify(Interp.splineFilter(
        Grid.blockify(spark, "t", big, big.shape.toSeq), 2, order))
      val b = Grid.unblockify(Interp.splineFilter(
        Grid.blockify(spark, "t", big, Seq(36, 32)), 2, order))
      assert(maxAbsDiff(a, b) < 1e-6, s"order-$order spline chunk divergence")
      // 1-d reconstruction identity with the B_order integer-grid taps
      val line = Nd.zeros(Array(1, 64))
      for (j <- 0 until 64) line.data(j) = math.sin(j * 0.3) + 0.1 * j
      val coef = Grid.unblockify(Interp.splineFilter1d(
        Grid.blockify(spark, "t", line, Seq(1, 64)), 2, order, axis = 1))
      val half = order / 2
      for (j <- 8 until 56) {
        var recon = 0.0
        for (t <- -half to half)
          recon += Interp.bspline(order, t.toDouble) * coef.data(j + t)
        assert(math.abs(recon - line.data(j)) < 1e-8,
          s"B$order reconstruction at $j: $recon vs ${line.data(j)}")
      }
    }
  }

  test("affine_transform orders 2/4/5: identity reproduces the image interior") {
    val big = testImage(72, 64)
    for (order <- Seq(2, 4, 5)) {
      val ds = Grid.blockify(spark, "t", big, Seq(36, 32))
      val got = Grid.unblockify(Interp.affineTransform(ds, 2,
        Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(0.0, 0.0), order = order))
      var worst = 0.0
      for (i <- 8 until 64; j <- 8 until 56)
        worst = math.max(worst, math.abs(got.data(i * 64 + j) - big.data(i * 64 + j)))
      assert(worst < 1e-6, s"order-$order identity interior error $worst")
    }
  }

  test("affine_transform is rank-generic: 3-d subpixel shift, multi == single block") {
    val img = Nd.zeros(Array(10, 12, 8))
    for (i <- img.data.indices)
      img.data(i) = math.sin(i * 0.37) * 2 + (i * 2654435761L % 97) * 0.01
    val m = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0))
    val off = Array(0.5, -0.25, 0.75)
    for (order <- Seq(0, 1)) {
      val multi = Grid.unblockify(Interp.affineTransform(
        Grid.blockify(spark, "t3", img, Seq(4, 5, 3)), 3, m, off, order = order, cval = -1.0))
      val single = Grid.unblockify(Interp.affineTransform(
        Grid.blockify(spark, "t3", img, img.shape.toSeq), 3, m, off, order = order, cval = -1.0))
      assert(maxAbsDiff(multi, single) < 1e-12,
        s"3-d affine order=$order chunking divergence")
      assert(multi.shape.toSeq == Seq(10, 12, 8))
    }
  }

  test("affine_transform order 5: subpixel shift matches the single-block result") {
    val big = testImage(72, 64)
    val m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val off = Array(0.3, -0.7)
    val multi = Grid.unblockify(Interp.affineTransform(
      Grid.blockify(spark, "t", big, Seq(36, 32)), 2, m, off, order = 5))
    val single = Grid.unblockify(Interp.affineTransform(
      Grid.blockify(spark, "t", big, big.shape.toSeq), 2, m, off, order = 5))
    var worst = 0.0
    for (i <- 8 until 64; j <- 8 until 56)
      worst = math.max(worst, math.abs(multi.data(i * 64 + j) - single.data(i * 64 + j)))
    assert(worst < 1e-6, s"order-5 chunking divergence $worst")
  }

  test("fourier ops: gaussian/uniform attenuate, shift is exact in phase, all chunk-invariant") {
    def run(op: org.apache.spark.sql.Dataset[Block] => org.apache.spark.sql.Dataset[Block],
        chunks: Seq[Int]): Nd =
      Grid.unblockify(op(Fourier.toComplex(Grid.blockify(spark, "t", img, chunks))))
    for (op <- Seq[org.apache.spark.sql.Dataset[Block] => org.apache.spark.sql.Dataset[Block]](
        Fourier.fourierGaussian(_, Seq(2.0, 2.0)),
        Fourier.fourierShift(_, Seq(1.5, -0.5)),
        Fourier.fourierUniform(_, Seq(3.0, 3.0)))) {
      val single = run(op, img.shape.toSeq)
      val multi = run(op, Seq(5, 6))
      assert(maxAbsDiff(single, multi) < 1e-12, "fourier op not chunk-invariant")
    }
    // DC component (freq 0) passes through unchanged for gaussian/uniform
    val g = run(Fourier.fourierGaussian(_, Seq(2.0, 2.0)), Seq(5, 6))
    assert(g.data(0) == img.data(0) && g.data(1) == 0.0, "DC must be preserved")
    // shift preserves magnitude everywhere
    val sh = run(Fourier.fourierShift(_, Seq(1.5, -0.5)), Seq(5, 6))
    for (i <- 0 until img.data.length) {
      val mag2 = sh.data(2 * i) * sh.data(2 * i) + sh.data(2 * i + 1) * sh.data(2 * i + 1)
      assert(math.abs(math.sqrt(mag2) - math.abs(img.data(i))) < 1e-9)
    }
  }

  test("fourier ops are rank-generic: 3-d chunk-invariance") {
    val vol = Nd.zeros(Array(8, 10, 6))
    for (i <- vol.data.indices)
      vol.data(i) = math.cos(i * 0.23) + (i * 2654435761L % 89) * 0.01
    def run(op: org.apache.spark.sql.Dataset[Block] => org.apache.spark.sql.Dataset[Block],
        chunks: Seq[Int]): Nd =
      Grid.unblockify(op(Fourier.toComplex(Grid.blockify(spark, "t3f", vol, chunks))))
    for (op <- Seq[org.apache.spark.sql.Dataset[Block] => org.apache.spark.sql.Dataset[Block]](
        Fourier.fourierGaussian(_, Seq(1.5, 2.0, 1.0)),
        Fourier.fourierShift(_, Seq(0.5, -1.0, 0.25)),
        Fourier.fourierUniform(_, Seq(3.0, 3.0, 3.0)))) {
      val single = run(op, vol.shape.toSeq)
      val multi = run(op, Seq(3, 4, 5))
      assert(maxAbsDiff(single, multi) < 1e-12, "3-d fourier op not chunk-invariant")
    }
  }

  test("typed complex spectra: c128 equals the float path exactly, c64 is 8 B/px and stores round-trip") {
    val ds = Grid.blockify(spark, "cx", img, Seq(7, 12))
    // c128 path: identical double math → bit-exact vs the float64 path
    for ((label, f64Op, typedOp) <- Seq[(String,
        org.apache.spark.sql.Dataset[Block] => org.apache.spark.sql.Dataset[Block],
        org.apache.spark.sql.Dataset[TBlock] => org.apache.spark.sql.Dataset[TBlock])](
      ("gaussian", Fourier.fourierGaussian(_, Seq(1.5, 0.8)),
        Fourier.fourierGaussianTyped(_, Seq(1.5, 0.8))),
      ("shift", Fourier.fourierShift(_, Seq(0.5, -1.25)),
        Fourier.fourierShiftTyped(_, Seq(0.5, -1.25))),
      ("uniform", Fourier.fourierUniform(_, Seq(3.0, 2.0)),
        Fourier.fourierUniformTyped(_, Seq(3.0, 2.0))))) {
      val want = Grid.unblockify(f64Op(Fourier.toComplex(ds)))
      val got = Grid.unblockify(TBlock.toBlocks(
        typedOp(Fourier.toComplexTyped(ds, DType.C128))))
      assert(got.data.sameElements(want.data), s"c128 $label diverges from float64 path")
    }
    // byte-width pin: c64 payload carries 8 B per complex pixel, c128 16
    val c64Blocks = Fourier.fourierGaussianTyped(
      Fourier.toComplexTyped(ds, DType.C64), Seq(1.5, 0.8)).collect()
    for (b <- c64Blocks) {
      val complexPx = b.shape.product / 2
      assert(b.dtype == "complex64" && b.data.length == 8 * complexPx,
        s"c64 block must pack 8 B/px: ${b.data.length} for $complexPx px")
    }
    // c64 == float path rounded through f32 components (astype semantics)
    val wantC64 = Grid.unblockify(Fourier.fourierGaussian(
      Fourier.toComplex(TBlock.toBlocks(TBlock.fromBlocks(ds, DType.F32))),
      Seq(1.5, 0.8))).data.map(_.toFloat.toDouble)
    val gotC64 = Grid.unblockify(TBlock.toBlocks(Fourier.fourierGaussianTyped(
      Fourier.toComplexTyped(ds, DType.C64), Seq(1.5, 0.8)))).data
    assert(gotC64.sameElements(wantC64), "c64 != f32-quantized float path")
    // TensorStore round-trips the complex dtype tag and payload
    val dir = java.nio.file.Files.createTempDirectory("graft_c64_store").toString
    val spec = Fourier.toComplexTyped(ds, DType.C64)
    graft.sources.TensorStore.writeTyped(spec, dir)
    val back = graft.sources.TensorStore.readTyped(spark, dir).collect()
      .map(b => (b.idx, b)).toMap
    for (b <- spec.collect()) {
      val r = back(b.idx)
      assert(r.dtype == "complex64" && r.data.sameElements(b.data),
        s"c64 store round-trip mismatch at ${b.idx}")
    }
  }

  test("typed affine: u8 gather equals the float path bit-exactly; order 0 keeps the dtype") {
    val q = Nd.zeros(img.shape)
    for (i <- q.data.indices)
      q.data(i) = (((math.round(img.data(i) * 50) % 256) + 256) % 256).toDouble
    val ds = Grid.blockify(spark, "ta", q, Seq(7, 9))
    val typed = TBlock.fromBlocks(ds, DType.U8)
    val decoded = Grid.unblockify(TBlock.toBlocks(typed))
    val m = Array(Array(0.8, 0.1), Array(-0.1, 1.1))
    val off = Array(0.5, -0.25)
    // both forms against the naive reference on the decoded u8 image:
    // exact at order 0, within 1e-12 at order 1 (summation order differs)
    for (order <- Seq(0, 1)) {
      val want = naiveAffine(decoded, m, off, decoded.shape, order, 3.0)
      val viaFloat = Grid.unblockify(
        Interp.affineTransform(ds, 2, m, off, order = order, cval = 3.0))
      val viaTyped = Grid.unblockify(TBlock.toBlocks(Interp.affineTransformTyped(
        typed, 2, m, off, order = order, cval = 3.0, outDtype = DType.F64)))
      for ((name, got) <- Seq("float" -> viaFloat, "typed" -> viaTyped)) {
        val ok = if (order == 0) got.data.sameElements(want.data)
          else maxAbsDiff(got, want) < 1e-12
        assert(ok, s"$name affine order=$order diverges from naive by ${maxAbsDiff(got, want)}")
      }
      assert(viaTyped.data.sameElements(viaFloat.data),
        s"typed affine order=$order diverges from the float path")
    }
    // order 0: nearest gather can stay in the input dtype end to end
    val near = Interp.affineTransformTyped(typed, 2, m, off, order = 0,
      cval = 0.0, outDtype = DType.U8)
    assert(near.collect().forall(_.dtype == "uint8"), "order-0 output dtype")
    val got0 = Grid.unblockify(TBlock.toBlocks(near))
    assert(got0.data.sameElements(naiveAffine(decoded, m, off, decoded.shape, 0, 0.0).data),
      "order-0 u8 typed affine diverges from naive")
    // rotate delegates through the same geometry: typed == float, and a
    // 90° rotation of u8 input at order 0 is an exact uint8 permutation
    val rotF = Grid.unblockify(Interp.rotate(ds, 2, 90.0, reshape = true, order = 0))
    val rotT = Interp.rotateTyped(typed, 2, 90.0, reshape = true, order = 0,
      outDtype = DType.U8)
    assert(rotT.collect().forall(_.dtype == "uint8"))
    val rotTDec = Grid.unblockify(TBlock.toBlocks(rotT))
    assert(rotTDec.shape.toSeq == rotF.shape.toSeq &&
      rotTDec.data.sameElements(rotF.data), "typed rotate diverges")
  }

  test("affine needs table: distributed build equals the driver-side twin") {
    // rotation+scale+shift over a non-square geometry with outputShape
    // differing from inShape, both margin regimes (order<2 and order>=2)
    val cases = Seq(
      // (ndim, matrix, offset, chunk, inShape, outShape, margin)
      (2, Array(Array(0.7, 0.7), Array(-0.7, 0.7)), Array(3.2, -1.5),
        Seq(7, 9), Seq(20, 24), Seq(31, 17), 1),
      (2, Array(Array(0.5, 0.0), Array(0.0, 2.0)), Array(-40.0, 10.0),
        Seq(8, 8), Seq(20, 24), Seq(20, 24), 3),
      (3, Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.7, 0.7), Array(0.0, -0.7, 0.7)),
        Array(0.5, 1.0, -2.0), Seq(4, 5, 6), Seq(9, 11, 13), Seq(9, 11, 13), 1))
    for ((nd, m, off, chunk, inS, outS, margin) <- cases) {
      val dist = Interp.needsDataset(spark, nd, m, off, chunk, inS, outS, margin)
        .collect().toSet
      val drv = Interp.needsDriverSide(nd, m, off, chunk, inS, outS, margin).toSet
      assert(dist == drv, s"needs mismatch ndim=$nd: " +
        s"dist-only=${(dist -- drv).take(3)} drv-only=${(drv -- dist).take(3)}")
    }
  }

  test("affine needs table: 1e5-block grid builds off-driver (Range leaf, exact count)") {
    // pure translation far outside the input: every output block is
    // all-cval → exactly one sentinel need per cell, so the expected
    // count is the grid size itself — arithmetic, no driver enumeration
    val m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val off = Array(1e9, 1e9)
    val outS = Seq(1280, 1480) // chunk 4×4 → 320 × 370 = 118 400 blocks
    val ds = Interp.needsDataset(spark, 2, m, off, Seq(4, 4), Seq(64, 64), outS, 1)
    val plan = ds.queryExecution.optimizedPlan.toString
    assert(plan.contains("Range"), s"needs build must be a Range scan, got:\n$plan")
    assert(!plan.contains("LocalRelation"),
      "needs table must not be driver-materialized (LocalRelation found)")
    assert(ds.count() == 320L * 370L, "sentinel-per-cell count mismatch")
  }
}
