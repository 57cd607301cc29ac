package graft.tensor

import org.apache.spark.sql.Dataset

/** Frequency-domain elementwise operators (dask_image.ndfourier, 3 ops —
  * SURVEY.md §2A.3). Input is an already-FFT'd array; each op multiplies
  * by an analytically-known transfer function of the per-element GLOBAL
  * frequency coordinates (ndfourier/_utils.py::_get_freq_grid ≈ L10–70) —
  * a pure per-block map (no halo): each block derives its frequencies
  * from origin/arrayShape.
  *
  * Complex arrays are [[TBlock]]s of dtype complex64/complex128 whose
  * payload interleaves [re, im] components along a doubled last axis
  * (Spark has no complex type): 8 B per complex pixel for c64, 16 B for
  * c128, so a spectrum persisted via TensorStore or moved through a
  * shuffle carries the bytes its dtype records. [[toComplex]] lifts a
  * real image; kernels decode components at the edge and compute in
  * double. Like the reference, the FFT itself is out of scope — these
  * operate on spectra.
  */
object Fourier {

  /** np.fft.fftfreq(n)[i] = i/n for i ≤ n/2−1 else (i−n)/n. */
  @inline private def fftfreq(i: Int, n: Int): Double =
    if (i < (n + 1) / 2) i.toDouble / n else (i - n).toDouble / n

  // ----------------------------------------------- transfer functions
  // (re, im, freqs) → (re', im')

  private def gaussXfer(sigma: Seq[Double]): (Double, Double, Array[Double]) => (Double, Double) =
    (re, im, f) => {
      var e = 0.0
      var k = 0
      while (k < f.length) { e += sigma(k) * sigma(k) * f(k) * f(k); k += 1 }
      val g = math.exp(-2.0 * math.Pi * math.Pi * e)
      (re * g, im * g)
    }

  private def shiftXfer(shift: Seq[Double]): (Double, Double, Array[Double]) => (Double, Double) =
    (re, im, f) => {
      var ph = 0.0
      var k = 0
      while (k < f.length) { ph += f(k) * shift(k); k += 1 }
      val theta = -2.0 * math.Pi * ph
      val c = math.cos(theta); val s = math.sin(theta)
      (re * c - im * s, re * s + im * c)
    }

  private def uniformXfer(size: Seq[Double]): (Double, Double, Array[Double]) => (Double, Double) =
    (re, im, f) => {
      var g = 1.0
      var k = 0
      while (k < f.length) {
        val x = math.Pi * size(k) * f(k)
        g *= (if (math.abs(x) < 1e-300) 1.0 else math.sin(x) / x)
        k += 1
      }
      (re * g, im * g)
    }

  /** Per-complex-element walk: invokes `g` with the interleaved
    * COMPONENT offset of re (im is off+1) and the global frequency
    * vector. `shape` is the component shape (last axis doubled). */
  private def complexForeach(d: Int, shape: Seq[Int], origin: Seq[Int],
      arrayShape: Seq[Int])(g: (Int, Array[Double]) => Unit): Unit = {
    val logical = shape.toArray; logical(d - 1) /= 2
    val nd = Nd.of(logical, new Array[Double](logical.product))
    val freqs = new Array[Double](d)
    nd.foreachCoord { c =>
      var k = 0
      while (k < d) {
        val scale = if (k == d - 1) 2 else 1
        freqs(k) = fftfreq(origin(k) / scale + c(k), arrayShape(k) / scale)
        k += 1
      }
      g(2 * nd.offset(c), freqs)
    }
  }

  private def requireComplex(dt: DType): Unit =
    require(dt == DType.C64 || dt == DType.C128,
      s"expected a complex dtype, got ${dt.name}")

  /** Lift a real float64 Block Dataset to interleaved complex (im = 0):
    * complex64 → 8 B per complex pixel in the payload, complex128 → 16 B.
    * The c64 encode rounds each component to f32 (round-to-nearest-even),
    * exactly NumPy's astype(complex64). */
  def toComplex(ds: Dataset[Block], cdt: DType = DType.C128): Dataset[TBlock] = {
    requireComplex(cdt)
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { b =>
      val d = b.ndim
      val out = new Array[Byte](b.data.length * 2 * cdt.bytes)
      var i = 0
      while (i < b.data.length) { cdt.write(out, 2 * i, b.data(i)); i += 1 }
      def dbl(s: Seq[Int]): Seq[Int] = s.zipWithIndex.map { case (v, k) =>
        if (k == d - 1) v * 2 else v
      }
      TBlock(b.imageId, b.idx, dbl(b.origin), dbl(b.shape), dbl(b.chunk),
        dbl(b.arrayShape), cdt.name, out)
    }
  }

  /** Map a transfer function over complex blocks: components decode at
    * the kernel edge, the math runs in double, and the result re-encodes
    * to the SAME complex dtype — the payload never widens on the wire or
    * in a store. */
  private def mapComplex(ds: Dataset[TBlock])(
      f: (Double, Double, Array[Double]) => (Double, Double)): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { b =>
      val dt = b.dt
      requireComplex(dt)
      val out = new Array[Byte](b.data.length)
      complexForeach(b.ndim, b.shape, b.origin, b.arrayShape) { (off, freqs) =>
        val (re, im) = f(dt.read(b.data, off), dt.read(b.data, off + 1), freqs)
        dt.write(out, off, re)
        dt.write(out, off + 1, im)
      }
      b.copy(data = out)
    }
  }

  /** fourier_gaussian(image, sigma) — multiply the spectrum by
    * exp(−2π²·Σ σ_k² f_k²) (scipy's transfer function). */
  def fourierGaussian(ds: Dataset[TBlock], sigma: Seq[Double]): Dataset[TBlock] =
    mapComplex(ds)(gaussXfer(sigma))

  /** fourier_shift(image, shift) — multiply by exp(−2πi·Σ f_k s_k). */
  def fourierShift(ds: Dataset[TBlock], shift: Seq[Double]): Dataset[TBlock] =
    mapComplex(ds)(shiftXfer(shift))

  /** fourier_uniform(image, size) — multiply by Π sinc(size_k · f_k)
    * (the spectrum of a centered box of `size`). */
  def fourierUniform(ds: Dataset[TBlock], size: Seq[Double]): Dataset[TBlock] =
    mapComplex(ds)(uniformXfer(size))
}
