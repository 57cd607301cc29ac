package graft.tensor

import org.apache.spark.sql.Dataset

/** Binary morphology (dask_image.ndmorph, 4 ops — SURVEY.md §2A.6)
  * over float64 blocks: the bool view of [[TMorph]], whose byte kernel
  * is the only erosion/dilation loop (a float image's halo moves 1 byte
  * per pixel). Outputs are 0.0 / 1.0.
  *
  * Each op is `map_overlap` of the scipy binary op with
  * depth = structure radius × iterations
  * (dask_image/ndmorph/_utils.py::_get_depth ≈ L10–40); iterations are
  * applied inside one padded kernel, so an N-iteration op still costs a
  * single halo shuffle.
  */
object Morph {

  /** scipy.ndimage.generate_binary_structure(rank, connectivity):
    * true where Σ|offset| ≤ connectivity. */
  def binaryStructure(rank: Int, connectivity: Int = 1): Nd = {
    val s = Nd.zeros(Array.fill(rank)(3))
    s.foreachCoord { c =>
      val dist = c.map(x => math.abs(x - 1)).sum
      if (dist <= connectivity) s(c) = 1.0
    }
    s
  }

  /** Per-axis structure radii: an axis the structure does not span gets
    * radius 0 — so a 2-d cross embedded in a 3-d frame stack ships NO
    * frame-axis halo at all (the scalar-max form copied whole neighbor
    * frames for nothing). */
  private[tensor] def radii(st: Nd, center: Seq[Int]): Seq[Int] =
    st.shape.indices.map(k => math.max(center(k), st.shape(k) - 1 - center(k)))

  /** The float64 API as the bool view of [[TMorph]]: blocks encode to
    * BOOL (nonzero → true, NaN included; a constant border encodes
    * through the same codec), TMorph's byte kernel runs, and the result
    * decodes to 0.0 / 1.0. */
  private def viaBool(ds: Dataset[Block])(
      op: Dataset[TBlock] => Dataset[TBlock]): Dataset[Block] =
    TBlock.toBlocks(op(TBlock.fromBlocks(ds, DType.BOOL)))

  /** binary_erosion (ndmorph/__init__.py::binary_erosion; scipy default
    * border_value=0 — the border erodes). */
  def binaryErosion(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[Block] =
    viaBool(ds)(TMorph.binaryErosion(_, rank, structure, iterations, borderValue))

  /** binary_dilation (border treated as 0, scipy default). */
  def binaryDilation(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[Block] =
    viaBool(ds)(TMorph.binaryDilation(_, rank, structure, iterations, borderValue))

  /** binary_opening = erosion then dilation — over ONE payload placement
    * (r22): both passes ship face slabs only, instead of two full-payload
    * halo shuffles. */
  def binaryOpening(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[Block] =
    viaBool(ds)(TMorph.binaryOpening(_, rank, structure, iterations))

  /** binary_closing = dilation then erosion (one payload placement, as
    * [[binaryOpening]]). */
  def binaryClosing(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[Block] =
    viaBool(ds)(TMorph.binaryClosing(_, rank, structure, iterations))
}

/** Byte-domain binary morphology: the scipy semantics over 1-byte
  * (bool/uint8) typed payloads, and the engine's one erosion/dilation
  * kernel — [[Morph]] runs it over BOOL-encoded float blocks. The mask
  * halo-exchanges, erodes, and dilates entirely in the byte domain
  * (TensorSpec pins the widths and both forms against a naive oracle).
  * Iterations still run inside ONE padded kernel, so an N-iteration op
  * costs a single halo shuffle. */
object TMorph {

  /** (depth, kernel) of one typed morphology pass — shared by the
    * Dataset form and the co-partitioned chain form. */
  private def kernelFor(structure: Option[Nd], iterations: Int, rank: Int,
      erode: Boolean): (Seq[Int], THalo.TPadded => Array[Byte]) = {
    val st = structure.getOrElse(Morph.binaryStructure(rank, 1))
    val center = st.shape.map(_ / 2)
    val r = Morph.radii(st, center)
    val depth = r.map(_ * iterations)
    val offs = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      st.foreachCoord(c => if (st(c) != 0.0) buf += c.indices.map(k => c(k) - center(k)).toArray)
      buf.toArray
    }
    (depth, p => kernelBody(p, offs, r, iterations, erode))
  }

  private def run(ds: Dataset[TBlock], structure: Option[Nd], iterations: Int,
      borderValue: Double, rank: Int, erode: Boolean): Dataset[TBlock] = {
    val (depth, kernel) = kernelFor(structure, iterations, rank, erode)
    THalo.mapOverlap(ds, depth, Boundary.Constant(borderValue))(kernel)
  }

  private def kernelBody(p: THalo.TPadded, offs: Array[Array[Int]], r: Seq[Int],
      iterations: Int, erode: Boolean): Array[Byte] = {
      require(p.block.dt.bytes == 1,
        s"TMorph: 1-byte (bool/uint8) payloads only, got ${p.block.dtype}")
      val d = p.block.ndim
      var cur = p.bnd
      var it = 0
      while (it < iterations) {
        // valid output region shrinks by the per-axis radius per iteration
        val outShape = cur.shape.indices.map(k => cur.shape(k) - 2 * r(k)).toArray
        val out = BNd.zeros(outShape, 1)
        val oc = new Array[Int](d)
        var done = outShape.exists(_ == 0)
        while (!done) {
          var ok = erode // erode: assume all-1 until a 0; dilate: assume no-1
          var t = 0
          while (t < offs.length && (ok == erode)) {
            var off = 0
            var k = 0
            while (k < d) { off += (oc(k) + r(k) + offs(t)(k)) * cur.strides(k); k += 1 }
            val v = cur.data(off) != 0
            if (erode) { if (!v) ok = false } else { if (v) ok = true }
            t += 1
          }
          out.data(out.offset(oc)) = if (ok) 1 else 0
          var j = d - 1
          var carry = true
          while (carry && j >= 0) {
            oc(j) += 1
            if (oc(j) < outShape(j)) carry = false else { oc(j) = 0; j -= 1 }
          }
          done = carry
        }
        cur = out
        it += 1
      }
      require(cur.shape.toSeq == p.block.shape)
      cur.data
  }

  /** Two-pass typed chain over ONE payload placement ([[THalo.chainP]]). */
  private def chainP(ds: Dataset[TBlock], structure: Option[Nd], iterations: Int,
      rank: Int, firstErode: Boolean): Dataset[TBlock] =
    THalo.chainP(ds, Boundary.Constant(0.0),
      kernelFor(structure, iterations, rank, firstErode),
      kernelFor(structure, iterations, rank, !firstErode))

  def binaryErosion(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[TBlock] =
    run(ds, structure, iterations, borderValue, rank, erode = true)

  def binaryDilation(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[TBlock] =
    run(ds, structure, iterations, borderValue, rank, erode = false)

  /** binary_opening / binary_closing — over ONE payload placement (r22):
    * both passes ship face slabs only, instead of two full-payload halo
    * shuffles. */
  def binaryOpening(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[TBlock] =
    chainP(ds, structure, iterations, rank, firstErode = true)

  def binaryClosing(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[TBlock] =
    chainP(ds, structure, iterations, rank, firstErode = false)
}
