package graft.tensor

import org.apache.spark.sql.Dataset

/** The reference's ndfilters surface (dask_image.ndfilters, 16 ops —
  * SURVEY.md §2A.2), re-expressed as halo exchange + per-block kernels.
  *
  * Semantics follow scipy.ndimage:
  *   correlate: out(x) = Σ_j W(j) · I(x − c + j),  c = size/2 + origin
  *   convolve:  out(x) = Σ_j W(j) · I(x + c − j),  c = (size−1)/2 + origin
  * (dask_image/ndfilters/_conv.py::convolve/correlate delegate per chunk
  * to scipy.ndimage with exactly these definitions.)
  *
  * Separable ops (gaussian, uniform, sobel, prewitt, laplace) run as
  * sequential 1-d passes inside one padded kernel — one halo shuffle per
  * operator regardless of dimensionality.
  */
object Filters {

  // ---------------------------------------------------------------- core

  /** Direct n-d correlation of the padded array, emitting the center
    * (block-shaped) region. `center(k)` is the kernel tap aligned with
    * the output element on axis k. */
  private def correlateCore(p: Halo.Padded, w: Nd, center: Array[Int]): Array[Double] = {
    val d = p.block.ndim
    val in = p.nd
    val depth = p.depth
    val outShape = p.block.shape.toArray
    val out = Nd.zeros(outShape)
    val taps = collectTaps(w)
    out.foreachCoord { oc =>
      var acc = 0.0
      var t = 0
      while (t < taps.length) {
        val (tc, tw) = taps(t)
        var off = 0
        var k = 0
        while (k < d) {
          off += (oc(k) + depth(k) - center(k) + tc(k)) * in.strides(k)
          k += 1
        }
        acc += tw * in.data(off)
        t += 1
      }
      out(oc) = acc
    }
    out.data
  }

  /** Nonzero kernel taps as (coords, weight), C-order. */
  private def collectTaps(w: Nd): Array[(Array[Int], Double)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Array[Int], Double)]
    w.foreachCoord { c => if (w(c) != 0.0) buf += ((c.clone(), w(c))) }
    buf.toArray
  }

  /** One 1-d correlation pass along `axis`; consumes `r` cells of margin
    * on both sides of that axis (input shape shrinks by 2r on axis). */
  private[tensor] def pass1d(in: Nd, axis: Int, w: Array[Double]): Nd = {
    val r = w.length / 2
    val outShape = in.shape.clone()
    outShape(axis) -= 2 * r
    require(outShape(axis) > 0, s"pass1d under-padded on axis $axis")
    val out = Nd.zeros(outShape)
    val stride = in.strides(axis)
    out.foreachCoord { oc =>
      // output coord oc maps to input window starting at the same coord
      // (the padded margin supplies the r left taps)
      var base = 0
      var k = 0
      while (k < out.ndim) {
        base += oc(k) * in.strides(k)
        k += 1
      }
      var acc = 0.0
      var j = 0
      while (j < w.length) {
        acc += w(j) * in.data(base + j * stride)
        j += 1
      }
      out(oc) = acc
    }
    out
  }

  /** Sequential separable passes; input must be padded by the per-axis
    * radius of each weight vector. */
  private def separable(p: Halo.Padded, weights: Seq[Array[Double]]): Array[Double] = {
    var cur = p.nd
    var k = 0
    while (k < weights.length) {
      cur = pass1d(cur, k, weights(k))
      k += 1
    }
    require(cur.shape.toSeq == p.block.shape,
      s"separable result ${cur.shape.toSeq} != block ${p.block.shape}")
    cur.data
  }

  // ------------------------------------------------------------ conv APIs

  /** scipy.ndimage.correlate (dask_image ndfilters/_conv.py::correlate). */
  def correlate(ds: Dataset[Block], weights: Nd, mode: String = "reflect",
      cval: Double = 0.0, origin: Seq[Int] = Nil): Dataset[Block] = {
    val d = weights.ndim
    val org = if (origin.isEmpty) Seq.fill(d)(0) else origin
    val center = weights.shape.indices.map(k => weights.shape(k) / 2 + org(k)).toArray
    val depth = weights.shape.indices
      .map(k => math.max(center(k), weights.shape(k) - 1 - center(k)))
    Halo.mapOverlap(ds, depth, Boundary.of(mode, cval))(p => correlateCore(p, weights, center))
  }

  /** scipy.ndimage.convolve (ndfilters/_conv.py::convolve) — correlation
    * with the mirrored kernel. */
  def convolve(ds: Dataset[Block], weights: Nd, mode: String = "reflect",
      cval: Double = 0.0, origin: Seq[Int] = Nil): Dataset[Block] = {
    val d = weights.ndim
    val org = if (origin.isEmpty) Seq.fill(d)(0) else origin
    // flip weights; convolve center c means tap j hits I(x + c − j)
    val flipped = Nd.zeros(weights.shape)
    flipped.foreachCoord { c =>
      val src = new Array[Int](d)
      var k = 0
      while (k < d) { src(k) = weights.shape(k) - 1 - c(k); k += 1 }
      flipped(c) = weights(src)
    }
    val center = weights.shape.indices
      .map(k => weights.shape(k) - 1 - ((weights.shape(k) - 1) / 2 + org(k))).toArray
    val depth = weights.shape.indices
      .map(k => math.max(center(k), weights.shape(k) - 1 - center(k)))
    Halo.mapOverlap(ds, depth, Boundary.of(mode, cval))(p => correlateCore(p, flipped, center))
  }

  // ------------------------------------------------------------ gaussian

  /** scipy's _gaussian_kernel1d: normalized gaussian taps, optionally the
    * `order`-th derivative (ndfilters/_gaussian.py::gaussian_filter). */
  private[tensor] def gaussianKernel1d(sigma: Double, order: Int, radius: Int): Array[Double] = {
    val n = 2 * radius + 1
    val phi = new Array[Double](n)
    var s = 0.0
    for (i <- 0 until n) {
      val x = (i - radius).toDouble
      phi(i) = math.exp(-0.5 * x * x / (sigma * sigma))
      s += phi(i)
    }
    for (i <- 0 until n) phi(i) /= s
    if (order == 0) phi
    else {
      // q(x) ← q′(x) − (x/σ²)·q(x), applied `order` times, then w = q·φ
      var q = Array(1.0) // coefficients, q(x) = Σ q(m)·x^m
      val s2 = sigma * sigma
      for (_ <- 0 until order) {
        val nq = new Array[Double](q.length + 1)
        for (m <- q.indices) {
          if (m >= 1) nq(m - 1) += q(m) * m // derivative term
          nq(m + 1) += -q(m) / s2 // −x/σ² term
        }
        q = nq
      }
      val w = new Array[Double](n)
      for (i <- 0 until n) {
        val x = (i - radius).toDouble
        var qx = 0.0
        var xp = 1.0
        for (m <- q.indices) { qx += q(m) * xp; xp *= x }
        w(i) = qx * phi(i)
      }
      w
    }
  }

  private def gaussRadius(sigma: Double, truncate: Double): Int =
    (truncate * sigma + 0.5).toInt

  /** (depth, kernel) of gaussian_filter — shared by the Dataset form and
    * co-partitioned chain callers (r22). */
  private[tensor] def gaussianStage(sigma: Seq[Double], order: Seq[Int] = Nil,
      truncate: Double = 4.0): (Seq[Int], Halo.Padded => Array[Double]) = {
    val d = sigma.length
    val ord = if (order.isEmpty) Seq.fill(d)(0) else order
    val radii = sigma.map(s => gaussRadius(s, truncate))
    val ws = sigma.indices.map(k =>
      // scipy correlates with the REVERSED kernel; gaussian taps are
      // symmetric but odd-order derivatives are antisymmetric
      gaussianKernel1d(sigma(k), ord(k), radii(k)).reverse)
    (radii, p => separable(p, ws))
  }

  /** gaussian_filter(image, sigma, order, mode, cval, truncate) —
    * separable per-axis passes, one halo exchange. */
  def gaussianFilter(ds: Dataset[Block], sigma: Seq[Double], order: Seq[Int] = Nil,
      mode: String = "reflect", cval: Double = 0.0, truncate: Double = 4.0): Dataset[Block] = {
    val (radii, kernel) = gaussianStage(sigma, order, truncate)
    Halo.mapOverlap(ds, radii, Boundary.of(mode, cval))(kernel)
  }

  /** gaussian_gradient_magnitude kernel body over one padded block. */
  private def ggmCore(p: Halo.Padded, sigma: Seq[Double], radii: Seq[Int]): Array[Double] = {
    val d = sigma.length
    val n = p.block.shape.product
    val acc = new Array[Double](n)
    for (ax <- 0 until d) {
      val ws = (0 until d).map { k =>
        gaussianKernel1d(sigma(k), if (k == ax) 1 else 0, radii(k)).reverse
      }
      val g = separable(p, ws)
      var i = 0
      while (i < n) { acc(i) += g(i) * g(i); i += 1 }
    }
    var i = 0
    while (i < n) { acc(i) = math.sqrt(acc(i)); i += 1 }
    acc
  }

  /** gaussian_laplace kernel body over one padded block. */
  private def glapCore(p: Halo.Padded, sigma: Seq[Double], radii: Seq[Int]): Array[Double] = {
    val d = sigma.length
    val n = p.block.shape.product
    val acc = new Array[Double](n)
    for (ax <- 0 until d) {
      val ws = (0 until d).map { k =>
        gaussianKernel1d(sigma(k), if (k == ax) 2 else 0, radii(k)).reverse
      }
      val g = separable(p, ws)
      var i = 0
      while (i < n) { acc(i) += g(i); i += 1 }
    }
    acc
  }

  /** gaussian_gradient_magnitude — ‖∇(G∗I)‖ (ndfilters/_gaussian.py). */
  def gaussianGradientMagnitude(ds: Dataset[Block], sigma: Seq[Double],
      mode: String = "reflect", cval: Double = 0.0, truncate: Double = 4.0): Dataset[Block] = {
    val radii = sigma.map(s => gaussRadius(s, truncate))
    Halo.mapOverlap(ds, radii, Boundary.of(mode, cval))(ggmCore(_, sigma, radii))
  }

  /** gaussian_laplace — Σ_axis ∂²(G∗I). */
  def gaussianLaplace(ds: Dataset[Block], sigma: Seq[Double],
      mode: String = "reflect", cval: Double = 0.0, truncate: Double = 4.0): Dataset[Block] = {
    val radii = sigma.map(s => gaussRadius(s, truncate))
    Halo.mapOverlap(ds, radii, Boundary.of(mode, cval))(glapCore(_, sigma, radii))
  }

  // ------------------------------------------------------------ fixed stencils

  /** laplace — Σ_axis correlate1d([1,−2,1]) (ndfilters/_diff.py::laplace). */
  def laplace(ds: Dataset[Block], mode: String = "reflect", cval: Double = 0.0): Dataset[Block] = {
    Halo.mapOverlapU(ds, 1, Boundary.of(mode, cval)) { p =>
      val d = p.block.ndim
      val n = p.block.shape.product
      val acc = new Array[Double](n)
      for (ax <- 0 until d) {
        val ws = (0 until d).map(k =>
          if (k == ax) Array(1.0, -2.0, 1.0) else Array(0.0, 1.0, 0.0))
        val g = separable(p, ws)
        var i = 0
        while (i < n) { acc(i) += g(i); i += 1 }
      }
      acc
    }
  }

  private def edgeFilter(ds: Dataset[Block], axis: Int, deriv: Array[Double],
      smooth: Array[Double], mode: String, cval: Double): Dataset[Block] = {
    Halo.mapOverlapU(ds, 1, Boundary.of(mode, cval)) { p =>
      val d = p.block.ndim
      val ax = if (axis < 0) d + axis else axis
      // scipy's sobel/prewitt pass these taps to correlate1d as-is
      val ws = (0 until d).map(k => if (k == ax) deriv else smooth)
      separable(p, ws)
    }
  }

  /** sobel(image, axis) — smooth [1,2,1] ⊗ derivative [−1,0,1]. */
  def sobel(ds: Dataset[Block], axis: Int = -1, mode: String = "reflect",
      cval: Double = 0.0): Dataset[Block] =
    edgeFilter(ds, axis, Array(-1.0, 0.0, 1.0), Array(1.0, 2.0, 1.0), mode, cval)

  /** prewitt(image, axis) — smooth [1,1,1] ⊗ derivative [−1,0,1]. */
  def prewitt(ds: Dataset[Block], axis: Int = -1, mode: String = "reflect",
      cval: Double = 0.0): Dataset[Block] =
    edgeFilter(ds, axis, Array(-1.0, 0.0, 1.0), Array(1.0, 1.0, 1.0), mode, cval)

  /** O(n) sliding box mean along one axis (running sum; window-size
    * independent, like pass1dExtremum). */
  private[tensor] def pass1dBoxMean(in: Nd, axis: Int, k: Int): Nd = {
    val r = k / 2
    val outShape = in.shape.clone()
    outShape(axis) -= 2 * r
    require(outShape(axis) > 0, s"box-mean pass under-padded on axis $axis")
    val out = Nd.zeros(outShape)
    val stride = in.strides(axis)
    val lineLen = in.shape(axis)
    val inv = 1.0 / k
    val others = (0 until in.ndim).filter(_ != axis)
    val otherShape = others.map(in.shape(_)).toArray
    val iter = Nd.zeros(if (otherShape.isEmpty) Array(1) else otherShape)
    iter.foreachCoord { oc =>
      var base = 0
      others.zipWithIndex.foreach { case (ax, i) => base += oc(i) * in.strides(ax) }
      var winSum = 0.0
      var i = 0
      while (i < lineLen) {
        winSum += in.data(base + i * stride)
        if (i >= k) winSum -= in.data(base + (i - k) * stride)
        if (i >= k - 1) {
          val oIdx = i - k + 1
          var off = 0
          var kk = 0; var oi = 0
          while (kk < in.ndim) {
            val coord = if (kk == axis) oIdx else { val c = oc(oi); oi += 1; c }
            off += coord * out.strides(kk)
            kk += 1
          }
          out.data(off) = winSum * inv
        }
        i += 1
      }
    }
    out
  }

  /** (depth, kernel) of uniform_filter — shared by the Dataset form and
    * co-partitioned chain callers (r22). */
  private[tensor] def uniformStage(size: Seq[Int])
      : (Seq[Int], Halo.Padded => Array[Double]) = {
    // scipy centers even boxes at size/2 via origin handling; odd sizes
    // (the common case) center exactly
    require(size.forall(_ % 2 == 1), "uniform_filter: even sizes not supported (use odd)")
    (size.map(_ / 2), p => {
      var cur = p.nd
      var k = 0
      while (k < size.length) {
        cur = pass1dBoxMean(cur, k, size(k))
        k += 1
      }
      require(cur.shape.toSeq == p.block.shape)
      cur.data
    })
  }

  /** uniform_filter(image, size) — separable O(n) running-sum box mean. */
  def uniformFilter(ds: Dataset[Block], size: Seq[Int], mode: String = "reflect",
      cval: Double = 0.0): Dataset[Block] = {
    val (radii, kernel) = uniformStage(size)
    Halo.mapOverlap(ds, radii, Boundary.of(mode, cval))(kernel)
  }

  /** uniform_filter over TYPED payloads: the halo shuffle carries native
    * bytes (1 byte/pixel on uint8 input — 8× less wire traffic than the
    * float64 Block path), the separable running-sum kernel computes in
    * double at the task edge, and the output encodes to `outDtype`
    * (float64 keeps oracles exact; float32 halves storage when
    * downstream tolerates ~1e-7 relative error). */
  def uniformFilterTyped(ds: Dataset[TBlock], size: Seq[Int],
      outDtype: DType = DType.F64, mode: String = "reflect",
      cval: Double = 0.0): Dataset[TBlock] = {
    val (radii, kernel) = uniformStage(size)
    TFilters.mapOverlapDecode(ds, radii, Boundary.of(mode, cval), outDtype)(kernel)
  }

  // ------------------------------------------------------------ order stats

  /** (depth, kernel) of the rank family: gather the footprint window
    * values at every element, emit `reduce` of them.
    * `footprint` true-cells define the window (box if None). */
  private[tensor] def orderStage(size: Seq[Int], footprint: Option[Nd])(
      reduce: Array[Double] => Double): (Seq[Int], Halo.Padded => Array[Double]) = {
    val fp = footprint.getOrElse {
      val box = Nd.zeros(size.toArray)
      java.util.Arrays.fill(box.data, 1.0)
      box
    }
    val center = fp.shape.map(_ / 2)
    val depth = fp.shape.indices.map(k => math.max(center(k), fp.shape(k) - 1 - center(k)))
    val offs = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      fp.foreachCoord(c => if (fp(c) != 0.0) buf += c.clone())
      buf.toArray
    }
    (depth, p => {
      val d = p.block.ndim
      val in = p.nd
      val out = Nd.zeros(p.block.shape.toArray)
      val window = new Array[Double](offs.length)
      out.foreachCoord { oc =>
        var t = 0
        while (t < offs.length) {
          var off = 0
          var k = 0
          while (k < d) {
            off += (oc(k) + p.depth(k) - center(k) + offs(t)(k)) * in.strides(k)
            k += 1
          }
          window(t) = in.data(off)
          t += 1
        }
        out(oc) = reduce(window)
      }
      out.data
    })
  }

  private def orderFilter(ds: Dataset[Block], size: Seq[Int], footprint: Option[Nd],
      mode: String, cval: Double)(reduce: Array[Double] => Double): Dataset[Block] = {
    val (depth, kernel) = orderStage(size, footprint)(reduce)
    Halo.mapOverlap(ds, depth, Boundary.of(mode, cval))(kernel)
  }

  private def kthSmallest(a: Array[Double], k: Int): Double = {
    val copy = a.clone()
    java.util.Arrays.sort(copy)
    copy(k)
  }

  /** O(n) sliding-window extremum along one axis (monotonic-deque van
    * Herk variant): output shrinks by 2r on `axis`; window-size
    * independent — the kernel that keeps large-window morphology viable
    * at 100 TB (the naive window gather is O(n·k)). */
  private[tensor] def pass1dExtremum(in: Nd, axis: Int, k: Int, isMin: Boolean): Nd = {
    val r = k / 2
    val outShape = in.shape.clone()
    outShape(axis) -= 2 * r
    require(outShape(axis) > 0, s"extremum pass under-padded on axis $axis")
    val out = Nd.zeros(outShape)
    val stride = in.strides(axis)
    val lineLen = in.shape(axis)
    val others = (0 until in.ndim).filter(_ != axis)
    val otherShape = others.map(in.shape(_)).toArray
    val iter = Nd.zeros(if (otherShape.isEmpty) Array(1) else otherShape)
    val deque = new Array[Int](lineLen) // indices, monotone values
    iter.foreachCoord { oc =>
      var base = 0
      others.zipWithIndex.foreach { case (ax, i) => base += oc(i) * in.strides(ax) }
      var head = 0; var tail = 0 // [head, tail)
      var i = 0
      while (i < lineLen) {
        val v = in.data(base + i * stride)
        // drop dominated entries from the back
        while (tail > head && {
          val bv = in.data(base + deque(tail - 1) * stride)
          if (isMin) bv >= v else bv <= v
        }) tail -= 1
        deque(tail) = i; tail += 1
        // drop entries that left the window [i-k+1, i]
        while (deque(head) <= i - k) head += 1
        if (i >= k - 1) {
          // window ending at i → output index i-k+1 (valid region shift r)
          val oIdx = i - k + 1
          var off = 0
          var kk = 0; var oi = 0
          while (kk < in.ndim) {
            val coord = if (kk == axis) oIdx else { val c = oc(oi); c }
            if (kk != axis) oi += 1
            off += coord * out.strides(kk)
            kk += 1
          }
          out.data(off) = in.data(base + deque(head) * stride)
        }
        i += 1
      }
    }
    out
  }

  /** Separable extremum kernel body over one padded block. */
  private def boxExtremumCore(p: Halo.Padded, size: Seq[Int], isMin: Boolean): Array[Double] = {
    var cur = p.nd
    var k = 0
    while (k < size.length) {
      cur = pass1dExtremum(cur, k, size(k), isMin)
      k += 1
    }
    require(cur.shape.toSeq == p.block.shape)
    cur.data
  }

  /** Separable extremum over a box: sequential per-axis O(n) passes. */
  private def boxExtremum(ds: Dataset[Block], size: Seq[Int], mode: String,
      cval: Double, isMin: Boolean): Dataset[Block] =
    Halo.mapOverlap(ds, size.map(_ / 2), Boundary.of(mode, cval))(
      boxExtremumCore(_, size, isMin))

  // ---------------------------------------------------- fused pixel pairs
  // The paired tensor queries (min+max, correlate+convolve, gradient-
  // magnitude+laplace) used to run TWO full mapOverlap passes over the
  // same raster and re-join the two outputs at PIXEL level — at 100 TB
  // one redundant corpus-sized halo exchange plus two corpus-sized join
  // shuffles, for values that come off the SAME padded block (r22, guide
  // §2.4 remove shuffles / §3.3 explode-after-join reversed). Each fused
  // form runs both kernels — unchanged arithmetic, so results are
  // bit-identical — over ONE exchange and emits the pixel pair directly.

  /** Run two kernels over one padded 2-d block, emit (i, j, va, vb). */
  private[tensor] def pairPixels(ex: Dataset[Halo.Padded])(
      k: Halo.Padded => (Array[Double], Array[Double]))
      : org.apache.spark.sql.DataFrame = {
    val spark = ex.sparkSession
    import spark.implicits._
    ex.flatMap { p =>
      val (a, c) = k(p)
      val b = p.block
      val h = b.shape(0); val w = b.shape(1)
      val buf = new Array[(Int, Int, Double, Double)](h * w)
      var i = 0; var t = 0
      while (i < h) {
        var j = 0
        while (j < w) {
          buf(t) = (b.origin(0) + i, b.origin(1) + j, a(t), c(t))
          t += 1; j += 1
        }
        i += 1
      }
      buf
    }.toDF("i", "j", "va", "vb")
  }

  /** min+max box filters fused over ONE halo exchange, as a pixel frame
    * (i, j, va = min, vb = max). */
  def minmaxPixels(ds: Dataset[Block], size: Seq[Int], mode: String = "reflect",
      cval: Double = 0.0): org.apache.spark.sql.DataFrame = {
    require(size.forall(_ % 2 == 1), "minmax: odd sizes")
    pairPixels(Halo.exchange(ds, size.map(_ / 2), Boundary.of(mode, cval))) { p =>
      (boxExtremumCore(p, size, isMin = true), boxExtremumCore(p, size, isMin = false))
    }
  }

  /** correlate+convolve with one kernel fused over ONE halo exchange, as
    * a pixel frame (i, j, va = correlate, vb = convolve). */
  def convCorrPixels(ds: Dataset[Block], weights: Nd, mode: String = "reflect",
      cval: Double = 0.0): org.apache.spark.sql.DataFrame = {
    val d = weights.ndim
    // correlate taps/center (as in [[correlate]], origin 0)
    val centerCo = weights.shape.indices.map(k => weights.shape(k) / 2).toArray
    // convolve = correlation with the mirrored kernel (as in [[convolve]])
    val flipped = Nd.zeros(weights.shape)
    flipped.foreachCoord { c =>
      val src = new Array[Int](d)
      var k = 0
      while (k < d) { src(k) = weights.shape(k) - 1 - c(k); k += 1 }
      flipped(c) = weights(src)
    }
    val centerCv = weights.shape.indices
      .map(k => weights.shape(k) - 1 - ((weights.shape(k) - 1) / 2)).toArray
    val depth = weights.shape.indices.map { k =>
      math.max(
        math.max(centerCo(k), weights.shape(k) - 1 - centerCo(k)),
        math.max(centerCv(k), weights.shape(k) - 1 - centerCv(k)))
    }
    pairPixels(Halo.exchange(ds, depth, Boundary.of(mode, cval))) { p =>
      (correlateCore(p, weights, centerCo), correlateCore(p, flipped, centerCv))
    }
  }

  /** gaussian_gradient_magnitude + gaussian_laplace fused over ONE halo
    * exchange, as a pixel frame (i, j, va = ggm, vb = glap). */
  def gaussianDerivPixels(ds: Dataset[Block], sigma: Seq[Double],
      mode: String = "reflect", cval: Double = 0.0,
      truncate: Double = 4.0): org.apache.spark.sql.DataFrame = {
    val radii = sigma.map(s => gaussRadius(s, truncate))
    pairPixels(Halo.exchange(ds, radii, Boundary.of(mode, cval))) { p =>
      (ggmCore(p, sigma, radii), glapCore(p, sigma, radii))
    }
  }

  /** minimum_filter (ndfilters/_order.py::minimum_filter). Box windows
    * take the separable O(n) running-min path; explicit footprints fall
    * back to the window gather. */
  def minimumFilter(ds: Dataset[Block], size: Seq[Int], footprint: Option[Nd] = None,
      mode: String = "reflect", cval: Double = 0.0): Dataset[Block] =
    footprint match {
      case None if size.forall(_ % 2 == 1) => boxExtremum(ds, size, mode, cval, isMin = true)
      case fp => orderFilter(ds, size, fp, mode, cval)(_.min)
    }

  /** maximum_filter. */
  def maximumFilter(ds: Dataset[Block], size: Seq[Int], footprint: Option[Nd] = None,
      mode: String = "reflect", cval: Double = 0.0): Dataset[Block] =
    footprint match {
      case None if size.forall(_ % 2 == 1) => boxExtremum(ds, size, mode, cval, isMin = false)
      case fp => orderFilter(ds, size, fp, mode, cval)(_.max)
    }

  /** median_filter — rank n/2 (scipy uses the lower median for even n). */
  def medianFilter(ds: Dataset[Block], size: Seq[Int], footprint: Option[Nd] = None,
      mode: String = "reflect", cval: Double = 0.0): Dataset[Block] =
    orderFilter(ds, size, footprint, mode, cval)(w => kthSmallest(w, w.length / 2))

  /** rank_filter(image, rank) — k-th order statistic (negative ranks count
    * from the max, as in scipy). */
  def rankFilter(ds: Dataset[Block], rank: Int, size: Seq[Int], footprint: Option[Nd] = None,
      mode: String = "reflect", cval: Double = 0.0): Dataset[Block] =
    orderFilter(ds, size, footprint, mode, cval) { w =>
      val r = if (rank < 0) w.length + rank else rank
      kthSmallest(w, r)
    }

  /** percentile_filter — rank = percentile·(n−1)/100, rounded. */
  def percentileFilter(ds: Dataset[Block], percentile: Double, size: Seq[Int],
      footprint: Option[Nd] = None, mode: String = "reflect",
      cval: Double = 0.0): Dataset[Block] =
    orderFilter(ds, size, footprint, mode, cval) { w =>
      val r = math.round(percentile * (w.length - 1) / 100.0).toInt
      kthSmallest(w, math.min(math.max(r, 0), w.length - 1))
    }

  /** generic_filter — arbitrary serializable reduction over the window
    * (the reference's Python-callable extension point,
    * ndfilters/_generic.py::generic_filter). */
  def genericFilter(ds: Dataset[Block], function: Array[Double] => Double, size: Seq[Int],
      footprint: Option[Nd] = None, mode: String = "reflect",
      cval: Double = 0.0): Dataset[Block] =
    orderFilter(ds, size, footprint, mode, cval)(function)

  // ------------------------------------------------------------ threshold

  /** threshold_local(image, block_size, method, offset) — smooth then
    * compare (skimage-style; ndfilters/_threshold.py). Emits 1.0 where
    * image > smoothed − offset.
    *
    * CO-PARTITIONED (r22, guide §2.4): the old form ran the smoothing
    * halo exchange and then SHUFFLE-JOINED image with smoothed on
    * (imageId, idx) — three full-payload exchanges. The image now pays
    * ONE partitionBy placement; the smoothing ships face slabs only and
    * the compare is a narrow partition-local zip (both sides hold the
    * co-partitioned layout). */
  def thresholdLocal(ds: Dataset[Block], ndim: Int, blockSize: Int,
      method: String = "gaussian", offset: Double = 0.0, mode: String = "reflect",
      cval: Double = 0.0, param: Double = 0.0): Dataset[Block] = {
    require(blockSize % 2 == 1, "threshold_local: block_size must be odd")
    val spark = ds.sparkSession
    import spark.implicits._
    val d0 = ndim
    val (depth, kernel) = method match {
      case "gaussian" =>
        val sigma = if (param > 0) param else (blockSize - 1) / 6.0
        gaussianStage(Seq.fill(d0)(sigma))
      case "mean" => uniformStage(Seq.fill(d0)(blockSize))
      case "median" =>
        orderStage(Seq.fill(d0)(blockSize), None)(w => kthSmallest(w, w.length / 2))
      case other => throw new IllegalArgumentException(s"threshold_local method: $other")
    }
    val parts = math.max(1, ds.rdd.getNumPartitions)
    val placed = Halo.partitionBlocks(ds, parts)
    val smoothed = Halo.mapOverlapP(placed, parts, depth, Boundary.of(mode, cval))(kernel)
    val out = placed.zipPartitions(smoothed, preservesPartitioning = true) { (ait, bit) =>
      val sm = scala.collection.mutable.HashMap.empty[(String, Seq[Int]), Block]
      bit.foreach(b => sm((b.imageId, b.idx)) = b)
      ait.map { img =>
        val s = sm((img.imageId, img.idx))
        val o = new Array[Double](img.data.length)
        var i = 0
        while (i < o.length) {
          o(i) = if (img.data(i) > s.data(i) - offset) 1.0 else 0.0
          i += 1
        }
        img.copy(data = o)
      }
    }
    spark.createDataset(out)
  }

  /** Zip two congruent block Datasets elementwise (same grid geometry) —
    * a co-partitioned join on (imageId, idx). */
  def joinElementwise(a: Dataset[Block], b: Dataset[Block])(
      f: (Array[Double], Array[Double]) => Array[Double]): Dataset[Block] = {
    val spark = a.sparkSession
    import spark.implicits._
    a.joinWith(b, a("imageId") === b("imageId") && a("idx") === b("idx"))
      .map { case (x, y) => x.copy(data = f(x.data, y.data)) }
  }

  /** Pure per-block map (no halo) — the map_blocks analog. */
  def mapBlocks(ds: Dataset[Block])(f: Block => Array[Double]): Dataset[Block] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(b => b.copy(data = f(b)))
  }
}
