package graft

import graft.tensor._

/** Tensor-core oracle tests, mirroring the reference's own strategy
  * (SURVEY.md §5.1): every distributed multi-block result must equal the
  * same operator on a single block covering the whole array ("one big
  * chunk" — halo logic cannot hide there), and small fixtures pin the
  * kernel math itself against naive direct implementations computed here.
  */
class TensorSpec extends SparkSpec {

  /** Deterministic test image (values vary smoothly + pseudo-noise). */
  private def testImage(h: Int, w: Int): Nd = {
    val nd = Nd.zeros(Array(h, w))
    for (i <- 0 until h; j <- 0 until w)
      nd.data(i * w + j) = math.sin(i * 0.7) * 3 + math.cos(j * 1.3) * 2 +
        ((i * 7919 + j * 104729) % 13) * 0.25
    nd
  }

  private def maxAbsDiff(a: Nd, b: Nd): Double = {
    require(a.shape.sameElements(b.shape), s"${a.shape.toSeq} vs ${b.shape.toSeq}")
    a.data.zip(b.data).map { case (x, y) => math.abs(x - y) }.max
  }

  /** Run op on one big chunk vs a 7x9-chunk grid; both must agree. */
  private def chunkInvariant(img: Nd, tol: Double = 1e-10)(
      op: org.apache.spark.sql.Dataset[Block] => org.apache.spark.sql.Dataset[Block]): Unit = {
    val single = Grid.unblockify(op(Grid.blockify(spark, "t", img, img.shape.toSeq)))
    val multi = Grid.unblockify(op(Grid.blockify(spark, "t", img, Seq(7, 9))))
    assert(maxAbsDiff(single, multi) <= tol,
      s"multi-block diverges from single-block by ${maxAbsDiff(single, multi)}")
  }

  private val img = testImage(20, 27)

  test("uniform_filter: chunk-invariant and matches naive box mean") {
    chunkInvariant(img)(ds => Filters.uniformFilter(ds, Seq(3, 3)))
    // naive reference: 3x3 mean with reflect boundary
    val out = Grid.unblockify(
      Filters.uniformFilter(Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(3, 3)))
    val naive = naiveStencil(img, 1, (win: Array[Double]) => win.sum / win.length)
    assert(maxAbsDiff(out, naive) <= 1e-10)
  }

  test("gaussian_filter: chunk-invariant; constant image is preserved") {
    chunkInvariant(img)(ds => Filters.gaussianFilter(ds, Seq(1.5, 1.5)))
    val const = Nd.zeros(Array(16, 16)); java.util.Arrays.fill(const.data, 5.0)
    val sm = Grid.unblockify(
      Filters.gaussianFilter(Grid.blockify(spark, "t", const, Seq(8, 8)), Seq(2.0, 2.0)))
    assert(sm.data.forall(v => math.abs(v - 5.0) < 1e-9), "gaussian must preserve constants")
  }

  test("gaussian derivative orders: gradient magnitude of constant is 0") {
    chunkInvariant(img)(ds => Filters.gaussianGradientMagnitude(ds, Seq(1.0, 1.0)))
    chunkInvariant(img)(ds => Filters.gaussianLaplace(ds, Seq(1.0, 1.0)))
    val const = Nd.zeros(Array(12, 12)); java.util.Arrays.fill(const.data, 3.0)
    val g = Grid.unblockify(Filters.gaussianGradientMagnitude(
      Grid.blockify(spark, "t", const, Seq(6, 6)), Seq(1.0, 1.0)))
    assert(g.data.forall(math.abs(_) < 1e-9))
  }

  test("convolve/correlate: chunk-invariant; correlate matches naive; convolve flips") {
    val k = Nd.of(Array(3, 3), Array(1.0, 2, 3, 4, 5, 6, 7, 8, 9))
    chunkInvariant(img)(ds => Filters.correlate(ds, k))
    chunkInvariant(img)(ds => Filters.convolve(ds, k))
    val corr = Grid.unblockify(Filters.correlate(Grid.blockify(spark, "t", img, Seq(7, 9)), k))
    val naiveCorr = naiveStencilW(img, k)
    assert(maxAbsDiff(corr, naiveCorr) <= 1e-10)
  }

  test("min/max/median/rank/percentile filters: chunk-invariant + naive match") {
    chunkInvariant(img)(ds => Filters.minimumFilter(ds, Seq(3, 3)))
    chunkInvariant(img)(ds => Filters.maximumFilter(ds, Seq(3, 3)))
    // separable O(n) running-extremum path == gather path for a 5x5 box
    val fastMin = Grid.unblockify(Filters.minimumFilter(
      Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(5, 5)))
    val slowMin = Grid.unblockify(Filters.minimumFilter(
      Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(5, 5),
      footprint = Some({ val b = Nd.zeros(Array(5, 5)); java.util.Arrays.fill(b.data, 1.0); b })))
    assert(fastMin.data.sameElements(slowMin.data), "van Herk path diverges from gather path")
    val fastMax = Grid.unblockify(Filters.maximumFilter(
      Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(5, 5)))
    val slowMax = Grid.unblockify(Filters.maximumFilter(
      Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(5, 5),
      footprint = Some({ val b = Nd.zeros(Array(5, 5)); java.util.Arrays.fill(b.data, 1.0); b })))
    assert(fastMax.data.sameElements(slowMax.data))
    chunkInvariant(img)(ds => Filters.medianFilter(ds, Seq(3, 3)))
    chunkInvariant(img)(ds => Filters.rankFilter(ds, 2, Seq(3, 3)))
    chunkInvariant(img)(ds => Filters.percentileFilter(ds, 30, Seq(3, 3)))
    val mn = Grid.unblockify(Filters.minimumFilter(Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(3, 3)))
    assert(maxAbsDiff(mn, naiveStencil(img, 1, _.min)) == 0.0)
    val md = Grid.unblockify(Filters.medianFilter(Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(3, 3)))
    assert(maxAbsDiff(md, naiveStencil(img, 1, w => { val s = w.sorted; s(s.length / 2) })) == 0.0)
  }

  test("sobel/prewitt/laplace: chunk-invariant; sobel of x-ramp is constant") {
    chunkInvariant(img)(ds => Filters.sobel(ds, 1))
    chunkInvariant(img)(ds => Filters.prewitt(ds, 0))
    chunkInvariant(img)(ds => Filters.laplace(ds))
    // ramp along axis1: I(i,j) = 2j → sobel axis1 interior = 2*((j+1)-(j-1))*[1+2+1] = 16
    val ramp = Nd.zeros(Array(10, 12))
    for (i <- 0 until 10; j <- 0 until 12) ramp.data(i * 12 + j) = 2.0 * j
    val sb = Grid.unblockify(Filters.sobel(Grid.blockify(spark, "t", ramp, Seq(5, 6)), 1))
    for (i <- 1 until 9; j <- 1 until 11)
      assert(math.abs(sb.data(i * 12 + j) - 16.0) < 1e-9, s"sobel interior at ($i,$j): ${sb.data(i * 12 + j)}")
    // laplace of linear ramp = 0 in the interior
    val lp = Grid.unblockify(Filters.laplace(Grid.blockify(spark, "t", ramp, Seq(5, 6))))
    for (i <- 1 until 9; j <- 1 until 11) assert(math.abs(lp.data(i * 12 + j)) < 1e-9)
  }

  test("generic_filter: arbitrary window lambda (range = max-min)") {
    chunkInvariant(img)(ds => Filters.genericFilter(ds, w => w.max - w.min, Seq(3, 3)))
  }

  test("threshold_local: binary output, chunk-invariant") {
    chunkInvariant(img)(ds => Filters.thresholdLocal(ds, 2, 5, "mean"))
    val out = Grid.unblockify(Filters.thresholdLocal(
      Grid.blockify(spark, "t", img, Seq(7, 9)), 2, 5, "gaussian"))
    assert(out.data.forall(v => v == 0.0 || v == 1.0))
  }

  test("boundary modes agree with naive padding on all five modes") {
    for (mode <- Seq("reflect", "nearest", "mirror", "wrap", "constant")) {
      val out = Grid.unblockify(Filters.uniformFilter(
        Grid.blockify(spark, "t", img, Seq(7, 9)), Seq(3, 3), mode = mode, cval = 1.5))
      val naive = naiveStencil(img, 1, _.sum / 9.0, mode, 1.5)
      assert(maxAbsDiff(out, naive) <= 1e-10, s"mode $mode diverges")
    }
  }

  test("typed uint8 blocks: dtype codecs round-trip; u8 minmax matches float64 path") {
    // codec round-trip for every dtype on representative values
    val vals = Array(0.0, 1.0, 255.0, -7.0, 1234.0, -32768.0, 3.25, -0.5,
      65535.0, 1099511627776.0) // 2^16-1 hits U16's high byte; 2^40 needs I64
    for (dt <- DType.all) {
      val in = dt match {
        case DType.BOOL => vals.map(v => if (v != 0.0) 1.0 else 0.0)
        case DType.I8 => vals.map(v => math.round(v).toByte.toDouble)
        case DType.U8 => vals.map(v => ((math.round(v) % 256 + 256) % 256).toDouble)
        case DType.U16 => vals.map(v => ((math.round(v) % 65536 + 65536) % 65536).toDouble)
        case DType.I16 => vals.map(v => math.round(v).toShort.toDouble)
        case DType.I32 => vals.map(v => math.round(v).toInt.toDouble)
        case DType.U32 => vals.map(v => (math.round(v) & 0xffffffffL).toDouble)
        case DType.I64 => vals.map(v => math.round(v).toDouble)
        case DType.U64 => vals.map(v => // lossy past 2^53: settle once
          DType.U64.decode(DType.U64.encode(Array(v)))(0))
        case DType.F16 => vals.map(v => // half is a PROJECTION: settle once
          DType.F16.decode(DType.F16.encode(Array(v)))(0))
        case DType.F32 | DType.C64 => vals.map(_.toFloat.toDouble)
        // float64 is the float Halo's wire format: a NaN with a
        // non-canonical payload and the sign of zero must survive
        case DType.F64 | DType.C128 => vals ++
          Array(java.lang.Double.longBitsToDouble(0x7ff8000000000abcL),
            java.lang.Double.longBitsToDouble(0xfff8000000000001L), -0.0)
      }
      val rt = dt.decode(dt.encode(in))
      def bits(a: Array[Double]) = a.toSeq.map(java.lang.Double.doubleToRawLongBits)
      assert(bits(rt) == bits(in), s"${dt.name} round-trip: ${rt.toSeq} vs ${in.toSeq}")
      assert(dt.encode(in).length == in.length * dt.bytes)
    }
    // float16 known values: exactly-representable halves are identity,
    // the max finite half survives, overflow saturates to Inf, RNE rounds
    def h1(v: Double): Double = DType.F16.decode(DType.F16.encode(Array(v)))(0)
    for (v <- Seq(0.0, 1.0, -1.5, 0.5, 2.25, 65504.0, -65504.0,
        5.960464477539063e-8, 0.0009765625))
      assert(h1(v) == v, s"f16 must represent $v exactly, got ${h1(v)}")
    assert(h1(65520.0).isInfinite, "f16 overflow must saturate to Inf")
    assert(h1(0.1) == 0.0999755859375, s"f16 RNE of 0.1: ${h1(0.1)}")
    // double-rounding traps: 1.00048828125 is the exact tie between the
    // halves 1.0 and 1.0009765625. A hair above the tie must round UP —
    // a via-float conversion collapses it onto the tie first and then
    // breaks even DOWN to 1.0. Exactly at the tie, even wins (1.0).
    val tie = 1.00048828125
    assert(h1(tie) == 1.0, s"f16 exact tie must break to even: ${h1(tie)}")
    assert(h1(tie + math.pow(2, -30)) == 1.0009765625,
      s"f16 above-tie must round up: ${h1(tie + math.pow(2, -30))}")
    assert(h1(-(tie + math.pow(2, -30))) == -1.0009765625, "f16 sign symmetry")
    // i8 wrap semantics (NumPy astype): 130 → -126, -129 → 127
    def i8(v: Double): Double = DType.I8.decode(DType.I8.encode(Array(v)))(0)
    assert(i8(130.0) == -126.0 && i8(-129.0) == 127.0 && i8(-1.0) == -1.0,
      s"i8 wrap: ${i8(130.0)}, ${i8(-129.0)}, ${i8(-1.0)}")
    // u64: the 2^63 boundary survives, the top of the range decodes
    // unsigned, and decode is MONOTONE across the sign-bit seam (the
    // property order statistics rely on)
    def u64(v: Double): Double = DType.U64.decode(DType.U64.encode(Array(v)))(0)
    val p63 = 9.223372036854775808e18
    assert(u64(p63) == p63, s"u64 2^63: ${u64(p63)}")
    assert(u64(p63 + 4096) == p63 + 4096, s"u64 above 2^63: ${u64(p63 + 4096)}")
    assert(u64(1.0) == 1.0 && u64(4503599627370496.0) == 4503599627370496.0)
    val u64ordered = Seq(0.0, 1.0, 255.0, 4294967296.0, 9.007199254740992e15,
      p63 - 2048, p63, p63 + 4096, 1.8446744073709550e19).map(u64)
    assert(u64ordered == u64ordered.sorted,
      s"u64 decode must be monotone across the sign seam: $u64ordered")
    // single-rounding regression: 0xC000000000000BFF ties at the 2^63-range
    // grid after the naive (low63 + 2^63) split — the additive form lands
    // 2048 high; NumPy's astype(float64) (and the sticky-bit idiom) gives
    // 13835058055282165760
    val tieBytes = Array[Int](255, 11, 0, 0, 0, 0, 0, 192).map(_.toByte)
    assert(DType.U64.read(tieBytes, 0) == 1.383505805528216576e19,
      s"u64 must round once like NumPy: ${DType.U64.read(tieBytes, 0)}")
    // byte-domain u8 min/max == float64 kernels on the same quantized image
    val q = Nd.zeros(Array(20, 27))
    for (i <- q.data.indices) q.data(i) = ((i * 7919 + 13) % 256).toDouble
    for (chunks <- Seq(Seq(20, 27), Seq(7, 9)); isMin <- Seq(true, false)) {
      val blocks = Grid.blockify(spark, "u8", q, chunks)
      val typed = TFilters.extremumFilterU8(
        TBlock.fromBlocks(blocks, DType.U8), Seq(3, 3), isMin = isMin)
      val viaBytes = Grid.unblockify(TBlock.toBlocks(typed))
      val viaF64 = Grid.unblockify(
        if (isMin) Filters.minimumFilter(blocks, Seq(3, 3))
        else Filters.maximumFilter(blocks, Seq(3, 3)))
      assert(maxAbsDiff(viaBytes, viaF64) == 0.0,
        s"u8 path diverges (chunks=$chunks isMin=$isMin)")
    }
  }

  test("halo refuses mixed dtypes under one imageId; TBlock.cast promotes") {
    val s = spark
    import s.implicits._
    val q = Nd.zeros(Array(8, 9))
    for (i <- q.data.indices) q.data(i) = ((i * 13 + 5) % 200).toDouble
    val mixed = TBlock.fromBlocks(Grid.blockify(spark, "mx", q, Seq(4, 9)), DType.U8)
      .map(b => if (b.idx.head == 0) b
        else TBlock.fromBlock(b.toBlock, DType.U16))
    val e = intercept[Exception] {
      THalo.exchange(mixed, Seq(1, 0), Boundary.Reflect).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("mixed dtypes"), s"wrong failure: ${messages(e)}")
    // cast unifies the dtypes (values < 256, so u16->u8 is exact here)
    // and the byte-domain kernel then matches the float path
    val promoted = TBlock.cast(mixed, DType.U8)
    val viaBytes = Grid.unblockify(TBlock.toBlocks(
      TFilters.extremumFilterU8(promoted, Seq(3, 3), isMin = true)))
    val viaF64 = Grid.unblockify(
      Filters.minimumFilter(Grid.blockify(spark, "mx", q, Seq(4, 9)), Seq(3, 3)))
    assert(maxAbsDiff(viaBytes, viaF64) == 0.0)
  }

  /** Naive full-array binary erosion/dilation with the cross structure
    * and a constant border: nonzero (NaN included) is true, each
    * iteration re-applies the border, and the output is 0.0/1.0. */
  private def naiveMorph(in: Nd, erode: Boolean, iterations: Int,
      border: Boolean = false): Nd = {
    val Array(h, w) = in.shape
    var cur = in.data.map(_ != 0.0)
    for (_ <- 0 until iterations) {
      val prev = cur
      cur = Array.tabulate(h * w) { k =>
        val (i, j) = (k / w, k % w)
        val hits = Seq((0, 0), (-1, 0), (1, 0), (0, -1), (0, 1)).map { case (di, dj) =>
          val (a, b) = (i + di, j + dj)
          if (a < 0 || a >= h || b < 0 || b >= w) border else prev(a * w + b)
        }
        if (erode) hits.forall(identity) else hits.exists(identity)
      }
    }
    val out = Nd.zeros(in.shape)
    for (k <- cur.indices) out.data(k) = if (cur(k)) 1.0 else 0.0
    out
  }

  test("byte-domain morphology equals the float64 path, 1 byte/pixel throughout") {
    val q = Nd.zeros(Array(20, 27))
    for (i <- q.data.indices) q.data(i) = if ((i * 7919 + 13) % 256 > 150) 1.0 else 0.0
    // the float API takes any values and treats nonzero as true: the same
    // mask written with 0.5, −2.0 and NaN foreground cells
    val odd = Nd.zeros(q.shape)
    for (i <- q.data.indices)
      odd.data(i) = if (q.data(i) == 0.0) 0.0 else Seq(1.0, 0.5, -2.0, Double.NaN)(i % 4)
    for (chunks <- Seq(Seq(20, 27), Seq(7, 9)); iters <- Seq(1, 2)) {
      val blocks = Grid.blockify(spark, "m", q, chunks)
      val oddBlocks = Grid.blockify(spark, "odd", odd, chunks)
      val typed = TBlock.fromBlocks(blocks, DType.U8)
      def ero(x: Nd, border: Boolean = false) = naiveMorph(x, erode = true, iters, border)
      def dil(x: Nd, border: Boolean = false) = naiveMorph(x, erode = false, iters, border)
      def same(name: String, got: Nd, want: Nd): Unit =
        assert(got.shape.sameElements(want.shape) && got.data.sameElements(want.data),
          s"$name diverges from the naive oracle (chunks=$chunks iters=$iters)")
      def check(name: String, want: Nd,
          t: org.apache.spark.sql.Dataset[graft.tensor.TBlock],
          f: org.apache.spark.sql.Dataset[Block],
          fOdd: org.apache.spark.sql.Dataset[Block]): Unit = {
        t.collect().foreach { b =>
          assert(b.dtype == "uint8" && b.data.length == b.shape.product,
            s"$name: payload widened beyond 1 byte/px")
        }
        val viaBytes = Grid.unblockify(TBlock.toBlocks(t))
        val viaF64 = Grid.unblockify(f)
        same(s"$name (uint8)", viaBytes, want)
        same(s"$name (float64)", viaF64, want)
        same(s"$name (float64, non-binary input)", Grid.unblockify(fOdd), want)
        assert(maxAbsDiff(viaBytes, viaF64) == 0.0,
          s"$name: byte and float forms differ (chunks=$chunks iters=$iters)")
      }
      check("erosion", ero(q), TMorph.binaryErosion(typed, 2, iterations = iters),
        Morph.binaryErosion(blocks, 2, iterations = iters),
        Morph.binaryErosion(oddBlocks, 2, iterations = iters))
      check("dilation", dil(q), TMorph.binaryDilation(typed, 2, iterations = iters),
        Morph.binaryDilation(blocks, 2, iterations = iters),
        Morph.binaryDilation(oddBlocks, 2, iterations = iters))
      check("opening", dil(ero(q)), TMorph.binaryOpening(typed, 2, iterations = iters),
        Morph.binaryOpening(blocks, 2, iterations = iters),
        Morph.binaryOpening(oddBlocks, 2, iterations = iters))
      check("closing", ero(dil(q)), TMorph.binaryClosing(typed, 2, iterations = iters),
        Morph.binaryClosing(blocks, 2, iterations = iters),
        Morph.binaryClosing(oddBlocks, 2, iterations = iters))
      // a non-binary border value is true, as any nonzero cell is
      same("erosion, borderValue 0.5", Grid.unblockify(
        Morph.binaryErosion(blocks, 2, iterations = iters, borderValue = 0.5)),
        ero(q, border = true))
      same("dilation, borderValue 0.5", Grid.unblockify(
        Morph.binaryDilation(blocks, 2, iterations = iters, borderValue = 0.5)),
        dil(q, border = true))
    }
  }

  test("mapOverlapDecode: float kernels over typed storage, promoted output dtype") {
    val q = Nd.zeros(Array(20, 27))
    for (i <- q.data.indices) q.data(i) = ((i * 31 + 5) % 256).toDouble
    val blocks = Grid.blockify(spark, "u8", q, Seq(7, 9))
    // a plain 3×3 box-mean float kernel, shared verbatim by both paths
    def boxMean(p: Halo.Padded): Array[Double] = {
      val h = p.block.shape(0); val w = p.block.shape(1); val pw = w + 2
      Array.tabulate(h * w) { k =>
        val i = k / w + 1; val j = k % w + 1
        var s = 0.0
        for (di <- -1 to 1; dj <- -1 to 1) s += p.padded((i + di) * pw + (j + dj))
        s / 9
      }
    }
    val f64 = Grid.unblockify(
      Halo.mapOverlap(blocks, Seq(1, 1), Boundary.Reflect)(boxMean))
    val typed = TFilters.mapOverlapDecode(TBlock.fromBlocks(blocks, DType.U8),
      Seq(1, 1), Boundary.Reflect, DType.F32)(boxMean)
    for (b <- typed.collect())
      assert(b.dtype == "float32" && b.data.length == b.shape.product * 4,
        s"block ${b.idx}: dtype ${b.dtype}, ${b.data.length} bytes")
    val f32 = Grid.unblockify(TBlock.toBlocks(typed))
    assert(maxAbsDiff(f32, f64) < 1e-4,
      s"promoted f32 result diverges by ${maxAbsDiff(f32, f64)}")
  }

  test("typed blocks shuffle native bytes — no float64 inflation anywhere") {
    val q = Nd.zeros(Array(20, 27))
    for (i <- q.data.indices) q.data(i) = (i % 256).toDouble
    val typed = TBlock.fromBlocks(Grid.blockify(spark, "u8", q, Seq(7, 9)), DType.U8)
    // payload column is BINARY at 1 byte/element
    assert(typed.schema("data").dataType ==
      org.apache.spark.sql.types.BinaryType)
    for (b <- typed.collect())
      assert(b.data.length == b.shape.product * DType.U8.bytes,
        s"block ${b.idx}: ${b.data.length} bytes for ${b.shape.product} u8 elems")
    // the halo-exchange shuffle rows (pieces) and the assembled padded
    // payloads are also 1 byte/element
    val exchanged = THalo.exchange(typed, Seq(1, 1), Boundary.Reflect)
    assert(exchanged.schema("padded").dataType ==
      org.apache.spark.sql.types.BinaryType)
    for (p <- exchanged.collect()) {
      assert(p.padded.length == p.paddedShape.product * DType.U8.bytes,
        s"padded ${p.block.idx}: ${p.padded.length} bytes for ${p.paddedShape.product} elems")
      assert(p.block.data.length == p.block.shape.product)
    }
  }

  test("binary morphology: chunk-invariant; erosion shrinks, dilation grows") {
    val bin = Nd.zeros(Array(20, 27))
    for (i <- 0 until 20; j <- 0 until 27)
      bin.data(i * 27 + j) = if (img.data(i * 27 + j) > 2.0) 1.0 else 0.0
    def count(n: Nd) = n.data.count(_ != 0.0)
    chunkInvariant(bin)(ds => Morph.binaryErosion(ds, 2))
    chunkInvariant(bin)(ds => Morph.binaryDilation(ds, 2))
    chunkInvariant(bin)(ds => Morph.binaryOpening(ds, 2))
    chunkInvariant(bin)(ds => Morph.binaryClosing(ds, 2))
    chunkInvariant(bin)(ds => Morph.binaryErosion(ds, 2, iterations = 2))
    val er = Grid.unblockify(Morph.binaryErosion(Grid.blockify(spark, "t", bin, Seq(7, 9)), 2))
    val di = Grid.unblockify(Morph.binaryDilation(Grid.blockify(spark, "t", bin, Seq(7, 9)), 2))
    assert(count(er) <= count(bin) && count(bin) <= count(di))
    // duality spot check: dilation(x) == 1 - erosion(1-x) with swapped border
    val inv = Nd.of(bin.shape, bin.data.map(v => 1.0 - v))
    val erInv = Grid.unblockify(Morph.binaryErosion(
      Grid.blockify(spark, "t", inv, Seq(7, 9)), 2, borderValue = 1.0))
    assert(di.data.zip(erInv.data).forall { case (a, b) => a == 1.0 - b })
  }

  // ---------------------------------------------------------------- naive
  /** Direct full-array stencil with boundary handling — the test oracle. */
  private def naiveStencil(in: Nd, r: Int, f: Array[Double] => Double,
      mode: String = "reflect", cval: Double = 0.0): Nd = {
    val Array(h, w) = in.shape
    val out = Nd.zeros(in.shape)
    val m = Boundary.of(mode, cval)
    for (i <- 0 until h; j <- 0 until w) {
      val win = for (di <- -r to r; dj <- -r to r) yield {
        val ri = Boundary.resolve(m, i + di, h)
        val rj = Boundary.resolve(m, j + dj, w)
        if (ri < 0 || rj < 0) cval else in.data(ri * w + rj)
      }
      out.data(i * w + j) = f(win.toArray)
    }
    out
  }

  /** Naive correlate with weights (reflect boundary). */
  private def naiveStencilW(in: Nd, k: Nd): Nd = {
    val Array(h, w) = in.shape
    val Array(kh, kw) = k.shape
    val (ci, cj) = (kh / 2, kw / 2)
    val out = Nd.zeros(in.shape)
    val m = Boundary.Reflect
    for (i <- 0 until h; j <- 0 until w) {
      var acc = 0.0
      for (a <- 0 until kh; b <- 0 until kw) {
        val ri = Boundary.resolve(m, i - ci + a, h)
        val rj = Boundary.resolve(m, j - cj + b, w)
        acc += k.data(a * kw + b) * in.data(ri * w + rj)
      }
      out.data(i * w + j) = acc
    }
    out
  }
}
