package graft.tensor

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Element dtypes for typed block payloads (SURVEY §1.1/§1.2: the
  * reference's chunks carry native NumPy dtypes — bool/u/int8–64,
  * float16–64 — while this engine's original `Block` stores
  * `Array[Double]` only, an 8× memory and SHUFFLE tax on uint8 imagery).
  * A [[TBlock]] stores the payload as little-endian packed bytes plus a
  * dtype tag; kernels decode at the edges, and the halo shuffle moves
  * bytes, never widened doubles.
  *
  * Integer encode rounds half-up then wraps modulo the type's range
  * (NumPy astype wrap semantics); callers quantizing for exact oracles
  * must pre-clamp to the dtype range themselves.
  */
sealed abstract class DType(val name: String, val bytes: Int) extends Serializable {
  def read(data: Array[Byte], i: Int): Double
  def write(data: Array[Byte], i: Int, v: Double): Unit

  final def decode(data: Array[Byte]): Array[Double] = {
    val n = data.length / bytes
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = read(data, i); i += 1 }
    out
  }
  final def encode(src: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](src.length * bytes)
    var i = 0
    while (i < src.length) { write(out, i, src(i)); i += 1 }
    out
  }
}

object DType {
  case object U8 extends DType("uint8", 1) {
    def read(d: Array[Byte], i: Int): Double = (d(i) & 0xff).toDouble
    def write(d: Array[Byte], i: Int, v: Double): Unit =
      d(i) = (math.round(v) & 0xffL).toByte
  }
  case object I8 extends DType("int8", 1) {
    // int8 is the quantized-embedding dtype (the 100 TB ANN storage
    // format); round-then-wrap like every integer codec here.
    def read(d: Array[Byte], i: Int): Double = d(i).toDouble
    def write(d: Array[Byte], i: Int, v: Double): Unit =
      d(i) = math.round(v).toByte
  }
  case object BOOL extends DType("bool", 1) {
    def read(d: Array[Byte], i: Int): Double = if (d(i) != 0) 1.0 else 0.0
    def write(d: Array[Byte], i: Int, v: Double): Unit =
      d(i) = if (v != 0.0) 1 else 0
  }
  case object U16 extends DType("uint16", 2) {
    def read(d: Array[Byte], i: Int): Double =
      ((d(2 * i) & 0xff) | ((d(2 * i + 1) & 0xff) << 8)).toDouble
    def write(d: Array[Byte], i: Int, v: Double): Unit = {
      val s = (math.round(v) & 0xffffL).toInt
      d(2 * i) = (s & 0xff).toByte; d(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
  }
  case object I16 extends DType("int16", 2) {
    def read(d: Array[Byte], i: Int): Double =
      ((d(2 * i) & 0xff) | (d(2 * i + 1) << 8)).toShort.toDouble
    def write(d: Array[Byte], i: Int, v: Double): Unit = {
      val s = math.round(v).toShort
      d(2 * i) = (s & 0xff).toByte; d(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
  }
  case object I32 extends DType("int32", 4) {
    def read(d: Array[Byte], i: Int): Double = readI32(d, i).toDouble
    def write(d: Array[Byte], i: Int, v: Double): Unit =
      writeI32(d, i, math.round(v).toInt)
  }
  case object U32 extends DType("uint32", 4) {
    def read(d: Array[Byte], i: Int): Double =
      (readI32(d, i).toLong & 0xffffffffL).toDouble
    def write(d: Array[Byte], i: Int, v: Double): Unit =
      writeI32(d, i, (math.round(v) & 0xffffffffL).toInt)
  }
  case object F16 extends DType("float16", 2) {
    def read(d: Array[Byte], i: Int): Double =
      halfToDouble((d(2 * i) & 0xff) | ((d(2 * i + 1) & 0xff) << 8))
    def write(d: Array[Byte], i: Int, v: Double): Unit = {
      val h = doubleToHalf(v)
      d(2 * i) = (h & 0xff).toByte; d(2 * i + 1) = ((h >> 8) & 0xff).toByte
    }
  }

  /** IEEE 754 binary16 → double (Java 17 has no Float.float16ToFloat). */
  private[tensor] def halfToDouble(h: Int): Double = {
    val sign = if ((h & 0x8000) != 0) -1.0 else 1.0
    val e = (h >> 10) & 0x1f
    val m = h & 0x3ff
    if (e == 0) sign * m * 5.960464477539063e-8 // 2^-24 subnormal step
    else if (e == 31) {
      if (m == 0) sign * Double.PositiveInfinity else Double.NaN
    } else sign * (1.0 + m / 1024.0) * math.pow(2.0, e - 15)
  }

  /** double → IEEE 754 binary16, round-to-nearest-even DIRECTLY from the
    * double bits. Converting through float double-rounds: a double just
    * above a half tie can collapse onto the tie as a float (float ulp ≫
    * the gap) and then break even the wrong way — NumPy's astype
    * converts from the double, so this codec must too (tie cases pinned
    * in TensorSpec). */
  private[tensor] def doubleToHalf(v: Double): Int = {
    val bits = java.lang.Double.doubleToLongBits(v)
    val sign = ((bits >>> 48) & 0x8000L).toInt
    val dExp = ((bits >>> 52) & 0x7ff).toInt
    val m = bits & 0xfffffffffffffL // 52-bit mantissa
    if (dExp == 0x7ff) sign | 0x7c00 | (if (m != 0L) 0x200 else 0) // Inf/NaN
    else {
      val e = dExp - 1023 + 15
      if (e >= 0x1f) sign | 0x7c00 // overflow → Inf
      else if (e <= 0) {
        if (e < -10) sign // below half the smallest subnormal → signed 0
        else {
          // subnormal target: value = M·2^(e-67); the half payload counts
          // 2^-24 steps, so shift M right by 43-e with RNE + sticky
          val big = m | (1L << 52)
          val shift = 43 - e // in [43, 53]
          val s = big >>> shift
          val roundBit = (big >>> (shift - 1)) & 1L
          val sticky = (big & ((1L << (shift - 1)) - 1)) != 0L
          val r = s + (if (roundBit == 1L && (sticky || (s & 1L) == 1L)) 1L else 0L)
          sign | r.toInt
        }
      } else {
        // normal: round the 52-bit mantissa to 10 bits (RNE + sticky);
        // a carry out of the mantissa bumps the exponent via `+`, and at
        // e=30 that lands exactly on 0x7c00 = Inf, as IEEE requires
        val s = (m >>> 42).toInt
        val roundBit = (m >>> 41) & 1L
        val sticky = (m & ((1L << 41) - 1)) != 0L
        val r = s + (if (roundBit == 1L && (sticky || (s & 1) == 1)) 1 else 0)
        sign | ((e << 10) + r)
      }
    }
  }
  case object F32 extends DType("float32", 4) {
    def read(d: Array[Byte], i: Int): Double =
      java.lang.Float.intBitsToFloat(readI32(d, i)).toDouble
    def write(d: Array[Byte], i: Int, v: Double): Unit =
      writeI32(d, i, java.lang.Float.floatToIntBits(v.toFloat))
  }
  case object I64 extends DType("int64", 8) {
    // Decode through Double (the engine's working scalar): exact up to
    // 2^53 — label images and counters, the real i64 tensor uses, live
    // far below that; values beyond 2^53 round like NumPy's
    // astype(float64).
    def read(d: Array[Byte], i: Int): Double = {
      var bits = 0L
      var k = 7
      while (k >= 0) { bits = (bits << 8) | (d(8 * i + k) & 0xffL); k -= 1 }
      bits.toDouble
    }
    def write(d: Array[Byte], i: Int, v: Double): Unit = {
      var bits = math.round(v)
      var k = 0
      while (k < 8) { d(8 * i + k) = (bits & 0xff).toByte; bits >>>= 8; k += 1 }
    }
  }
  case object U64 extends DType("uint64", 8) {
    // Unsigned decode through Double: exact up to 2^53 and MONOTONE over
    // the whole unsigned range (values < 2^63 sort below values ≥ 2^63,
    // so order statistics on decoded u64 stay correct); values past 2^53
    // round like NumPy's astype(float64).
    def read(d: Array[Byte], i: Int): Double = {
      var bits = 0L
      var k = 7
      while (k >= 0) { bits = (bits << 8) | (d(8 * i + k) & 0xffL); k -= 1 }
      if (bits >= 0L) bits.toDouble
      // ≥ 2^63: halve with the dropped LSB OR-ed back as a sticky bit,
      // convert, double — ONE rounding step, matching NumPy's
      // astype(float64) exactly. The additive form ((bits & MaxValue)
      // .toDouble + 2^63) rounds TWICE and can land one ulp off on
      // values that tie at the coarser 2^63-range grid.
      else ((bits >>> 1) | (bits & 1L)).toDouble * 2.0
    }
    def write(d: Array[Byte], i: Int, v: Double): Unit = {
      // [2^63, 2^64) doesn't fit a signed round: shift down by 2^63,
      // round, then restore the top bit; negatives wrap mod 2^64 through
      // the signed bit pattern (the unsigned twin of I64's path)
      var bits = if (v >= 9.223372036854775808e18)
        math.round(v - 9.223372036854775808e18) | Long.MinValue
      else math.round(v)
      var k = 0
      while (k < 8) { d(8 * i + k) = (bits & 0xff).toByte; bits >>>= 8; k += 1 }
    }
  }
  case object F64 extends DType("float64", 8) {
    def read(d: Array[Byte], i: Int): Double = {
      var bits = 0L
      var k = 7
      while (k >= 0) { bits = (bits << 8) | (d(8 * i + k) & 0xffL); k -= 1 }
      java.lang.Double.longBitsToDouble(bits)
    }
    // raw bits: encode→decode is the identity on every bit pattern, NaN
    // payloads included — F64 is the float64 [[Halo]]'s wire format
    def write(d: Array[Byte], i: Int, v: Double): Unit = {
      var bits = java.lang.Double.doubleToRawLongBits(v)
      var k = 0
      while (k < 8) { d(8 * i + k) = (bits & 0xff).toByte; bits >>>= 8; k += 1 }
    }
  }

  /** Complex dtypes are COMPONENT codecs: a complex array rides the
    * engine's interleaved convention (last axis doubled, [re, im] pairs —
    * see [[graft.tensor.Fourier]]), so the element index space of a
    * complex payload is the COMPONENT space and `bytes` is the component
    * width. complex64 packs f32 pairs (8 B per complex pixel — half the
    * 16 B the interleaved-f64 path puts on the wire), complex128 packs
    * f64 pairs. The dtype TAG is what distinguishes a complex64 payload
    * from a float32 one: stores and kernels that care about complex
    * semantics dispatch on the name, everything byte-level (halo, BNd,
    * TensorStore) just sees fixed-width components. */
  case object C64 extends DType("complex64", 4) {
    def read(d: Array[Byte], i: Int): Double = F32.read(d, i)
    def write(d: Array[Byte], i: Int, v: Double): Unit = F32.write(d, i, v)
  }
  case object C128 extends DType("complex128", 8) {
    def read(d: Array[Byte], i: Int): Double = F64.read(d, i)
    def write(d: Array[Byte], i: Int, v: Double): Unit = F64.write(d, i, v)
  }

  @inline private def readI32(d: Array[Byte], i: Int): Int =
    (d(4 * i) & 0xff) | ((d(4 * i + 1) & 0xff) << 8) |
      ((d(4 * i + 2) & 0xff) << 16) | (d(4 * i + 3) << 24)
  @inline private def writeI32(d: Array[Byte], i: Int, v: Int): Unit = {
    d(4 * i) = (v & 0xff).toByte; d(4 * i + 1) = ((v >> 8) & 0xff).toByte
    d(4 * i + 2) = ((v >> 16) & 0xff).toByte; d(4 * i + 3) = ((v >> 24) & 0xff).toByte
  }

  val all: Seq[DType] = Seq(BOOL, I8, U8, U16, I16, I32, U32, I64, U64, F16, F32, F64, C64, C128)
  def of(name: String): DType = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown dtype: $name"))
}

/** A [[Block]] with a NATIVE-dtype payload: `data` is the C-order element
  * array packed little-endian per `dtype` (shape.product × elemsize
  * bytes). This is the SURVEY §1.2 schema (`dtype STRING, data BINARY`) —
  * a uint8 image block shuffles 1 byte per pixel, not 8. */
case class TBlock(
    imageId: String,
    idx: Seq[Int],
    origin: Seq[Int],
    shape: Seq[Int],
    chunk: Seq[Int],
    arrayShape: Seq[Int],
    dtype: String,
    data: Array[Byte]) {
  def ndim: Int = shape.length
  def dt: DType = DType.of(dtype)
  def gridDims: Seq[Int] =
    arrayShape.zip(chunk).map { case (n, c) => (n + c - 1) / c }
  /** Decode to the float64 working Block (kernel edge / interop). */
  def toBlock: Block =
    Block(imageId, idx, origin, shape, chunk, arrayShape, dt.decode(data))
}

object TBlock {
  /** Encode a float64 Block into a typed payload. */
  def fromBlock(b: Block, dtype: DType): TBlock =
    TBlock(b.imageId, b.idx, b.origin, b.shape, b.chunk, b.arrayShape,
      dtype.name, dtype.encode(b.data))

  /** Dataset-level conversions. */
  def fromBlocks(ds: Dataset[Block], dtype: DType): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(fromBlock(_, dtype))
  }
  def toBlocks(ds: Dataset[TBlock]): Dataset[Block] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(_.toBlock)
  }

  /** Re-encode every block's payload to `dtype` (NumPy astype wrap
    * semantics via the codecs) — the promotion path for mixed-depth
    * ingests (e.g. a glob with 8- and 16-bit files) before stenciling;
    * THalo refuses mixed dtypes under one imageId. */
  def cast(ds: Dataset[TBlock], dtype: DType): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(b => if (b.dtype == dtype.name) b
      else b.copy(dtype = dtype.name, data = dtype.encode(b.dt.decode(b.data))))
  }
}

/** Strided element-index view over a packed byte payload (the byte-domain
  * twin of [[Nd]]): all region copies run on ELEMENT indices and move
  * `width`-byte cells with arraycopy runs along the last axis — no
  * decode, no widening. */
final class BNd(val shape: Array[Int], val width: Int, val data: Array[Byte])
    extends Serializable {
  val ndim: Int = shape.length
  val strides: Array[Int] = {
    val s = new Array[Int](ndim)
    var acc = 1
    var k = ndim - 1
    while (k >= 0) { s(k) = acc; acc *= shape(k); k -= 1 }
    s
  }
  def size: Int = shape.product
  @inline def offset(coords: Array[Int]): Int = {
    var o = 0; var k = 0
    while (k < ndim) { o += coords(k) * strides(k); k += 1 }
    o
  }
  /** Copy `subShape` region of `src` at `srcLo` into this at `dstLo` —
    * contiguous last-axis runs via arraycopy. */
  def copyRegion(src: BNd, srcLo: Array[Int], subShape: Array[Int],
      dstLo: Array[Int]): Unit = {
    val run = subShape(ndim - 1)
    val outer = subShape.dropRight(1)
    val c = new Array[Int](ndim - 1)
    var done = outer.exists(_ == 0) || run == 0
    while (!done) {
      val sc = new Array[Int](ndim); val dc = new Array[Int](ndim)
      var k = 0
      while (k < ndim - 1) { sc(k) = srcLo(k) + c(k); dc(k) = dstLo(k) + c(k); k += 1 }
      sc(ndim - 1) = srcLo(ndim - 1); dc(ndim - 1) = dstLo(ndim - 1)
      System.arraycopy(src.data, src.offset(sc) * width,
        data, offset(dc) * width, run * width)
      // odometer over the outer axes
      var j = ndim - 2
      var carry = true
      while (carry && j >= 0) {
        c(j) += 1
        if (c(j) < outer(j)) carry = false else { c(j) = 0; j -= 1 }
      }
      done = carry || ndim == 1
    }
  }
  /** Copy one element (width bytes). */
  @inline def copyElem(src: BNd, srcOff: Int, dstOff: Int): Unit =
    System.arraycopy(src.data, srcOff * width, data, dstOff * width, width)
}

object BNd {
  def zeros(shape: Array[Int], width: Int): BNd =
    new BNd(shape, width, new Array[Byte](shape.product * width))
  def of(shape: Array[Int], width: Int, data: Array[Byte]): BNd = {
    require(data.length == shape.product * width,
      s"shape ${shape.toSeq} × $width != data ${data.length}")
    new BNd(shape, width, data)
  }
}

/** Distributed halo (ghost-cell) exchange — the engine's replacement for
  * the reference's `map_overlap` pattern (every ndfilters/ndmorph op:
  * dask_image/ndfilters/_utils.py::_get_depth_boundary ≈ L15–60), and
  * the ONLY slab geometry in the engine: payloads are packed bytes plus
  * an element width, so a uint8 image's halo shuffle moves exactly 1/8
  * of what a float64 one moves (TensorSpec pins the byte widths), and
  * the float64 [[Halo]] API is this exchange over F64 payloads.
  *
  * Plan shape (one shuffle):
  *   1. every block `flatMap`s its own center piece plus one slab per
  *      neighbor whose padded window overlaps it, keyed by that neighbor;
  *   2. `groupByKey(imageId, targetIdx)` reassembles each block + halo;
  *   3. the per-block kernel runs on the padded array and emits the
  *      cropped output block.
  *
  * The shuffle moves only the slab fraction (≈ 2·d·depth/chunk of the
  * data) — the same traffic dask schedules as inter-worker task
  * dependencies. Boundary modes are resolved at array edges inside the
  * assembly step, so kernels never see the boundary. */
object THalo {

  /** One piece of a future padded block: `shape` cells that land at `at`
    * (low corner) in the target's padded window. The center piece — the
    * target's own payload, at `at == depth` — carries the target's
    * metadata. */
  case class TPiece(
      imageId: String,
      targetIdx: Seq[Int],
      at: Seq[Int],
      shape: Seq[Int],
      data: Array[Byte],
      origin: Seq[Int],
      blockShape: Seq[Int],
      chunk: Seq[Int],
      arrayShape: Seq[Int],
      dtype: String)

  /** Block + assembled halo; `padded` is packed per the block dtype with
    * shape `block.shape + 2*depth`; element (c) corresponds to global
    * coordinate `block.origin − depth + c`. */
  case class TPadded(block: TBlock, depth: Seq[Int], padded: Array[Byte]) {
    def paddedShape: Array[Int] =
      block.shape.indices.map(k => block.shape(k) + 2 * depth(k)).toArray
    def bnd: BNd = BNd.of(paddedShape, block.dt.bytes, padded)
    /** The float64 view, decoded at the kernel edge (inside the task,
      * never on the wire) — what every float kernel sees. */
    def f64: Halo.Padded = Halo.Padded(block.toBlock, depth, block.dt.decode(padded))
  }

  /** map_overlap in the byte domain: `kernel` sees the typed padded
    * payload and returns the output block's packed bytes. */
  def mapOverlap(ds: Dataset[TBlock], depth: Seq[Int], mode: Boundary)(
      kernel: TPadded => Array[Byte]): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    exchange(ds, depth, mode).map(p => p.block.copy(data = kernel(p)))
  }

  /** Assemble every block + halo (shared by all stencil operators). */
  def exchange(ds: Dataset[TBlock], depth: Seq[Int], mode: Boundary): Dataset[TPadded] =
    exchangeBy(ds, _ => depth, mode)

  /** [[exchange]] with the depth taken from each block's rank (uniform-
    * depth stencils that avoid an eager ndim probe on the Dataset). */
  private[tensor] def exchangeBy(ds: Dataset[TBlock], depthOf: Int => Seq[Int],
      mode: Boundary): Dataset[TPadded] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val wrap = mode == Boundary.Wrap
    ds.flatMap(b => emit(b, depthOf(b.ndim), wrap))
      .groupByKey(p => (p.imageId, p.targetIdx))
      .mapGroups { (_: (String, Seq[Int]), it: Iterator[TPiece]) =>
        val ps = it.toSeq
        assemble(ps, depthOf(ps.head.arrayShape.length), mode)
      }
  }

  // ------------------------------------------------- co-partitioned form
  // The groupByKey exchange above must co-locate every block's own
  // payload with its halo pieces, so the CENTER piece — the whole image —
  // crosses the shuffle on every stencil op. When the blocks already sit
  // in a known hash layout, only the face slabs need to move: the payload
  // side of the reassembly is zipPartitions-NARROW. A chain of N stencil
  // ops then costs ONE payload placement + N slab-sized shuffles instead
  // of N full-payload shuffles (r22, guide §2.3 "shuffle keys and
  // metadata instead of payloads" / §2.4).
  //
  // Partition invariant: an RDD produced by [[partitionBlocks]] — or by
  // [[mapOverlapP]] over such an RDD, since kernels never change a
  // block's idx — holds each block in partition
  // `HashPartitioner(parts).getPartition((imageId, idx))`.

  /** Place blocks into the co-partitioned layout: the ONE payload
    * shuffle a chain pays. Downstream consumers (slab emission + every
    * zip) re-read this exchange's shuffle files, not the lineage. */
  def partitionBlocks(ds: Dataset[TBlock], parts: Int): RDD[TBlock] =
    place(ds.rdd, parts)(b => (b.imageId, b.idx))

  private[tensor] def place[B: ClassTag](rdd: RDD[B], parts: Int)(
      key: B => (String, Seq[Int])): RDD[B] =
    rdd.map(b => (key(b), b)).partitionBy(new HashPartitioner(parts)).values

  /** Slab-only halo exchange over co-partitioned blocks: neighbors'
    * boundary slabs shuffle to the partition owning the target key; the
    * center payload never moves. Identical [[TPadded]] reassembly — the
    * pieces arrive grouped by the layout instead of by a groupByKey. */
  private[tensor] def exchangeP(blocks: RDD[TBlock], parts: Int,
      depth: Seq[Int], mode: Boundary): RDD[TPadded] = {
    val wrap = mode == Boundary.Wrap
    val slabs = blocks
      .flatMap(b => emit(b, depth, wrap).tail) // neighbors only; center stays put
      .map(p => ((p.imageId, p.targetIdx), p))
      .partitionBy(new HashPartitioner(parts))
    blocks.zipPartitions(slabs, preservesPartitioning = true) { (bit, sit) =>
      val byKey = mutable.HashMap.empty[(String, Seq[Int]), mutable.ArrayBuffer[TPiece]]
      sit.foreach { case (k, p) =>
        byKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty[TPiece]) += p
      }
      bit.map { b =>
        val ps = centerOf(b, depth) +: byKey.getOrElse((b.imageId, b.idx),
          mutable.ArrayBuffer.empty[TPiece]).toSeq
        assemble(ps, depth, mode)
      }
    }
  }

  /** Typed map_overlap over co-partitioned blocks; the result keeps the
    * partition invariant (kernels replace data, never idx). Callers that
    * chain a further overlap over the result should persist it — it is
    * consumed twice (slab emission + the zip). */
  def mapOverlapP(blocks: RDD[TBlock], parts: Int,
      depth: Seq[Int], mode: Boundary)(
      kernel: TPadded => Array[Byte]): RDD[TBlock] =
    exchangeP(blocks, parts, depth, mode).map(p => p.block.copy(data = kernel(p)))

  /** Two stencil passes (depth, kernel) over ONE payload placement — the
    * opening/closing form: the input pays a single partitionBy shuffle,
    * both passes then ship only face slabs. The intermediate is persisted
    * — it feeds both the second pass's slab emission and its zip. */
  private[tensor] def chainP(ds: Dataset[TBlock], mode: Boundary,
      first: (Seq[Int], TPadded => Array[Byte]),
      second: (Seq[Int], TPadded => Array[Byte])): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val parts = math.max(1, ds.rdd.getNumPartitions)
    val mid = mapOverlapP(partitionBlocks(ds, parts), parts, first._1, mode)(first._2)
      .persist(StorageLevel.MEMORY_AND_DISK)
    spark.createDataset(mapOverlapP(mid, parts, second._1, mode)(second._2))
  }

  /** A block's own payload as the center piece of its padded window. */
  private def centerOf(b: TBlock, depth: Seq[Int]): TPiece =
    TPiece(b.imageId, b.idx, depth, b.shape, b.data,
      b.origin, b.shape, b.chunk, b.arrayShape, b.dtype)

  /** One axis of the slab geometry for block `i` (`size` cells at
    * `i·c`): every (target, srcLo, len, dstLo) such that this block's
    * cells [srcLo, srcLo + len) land at [dstLo, dstLo + len) of the
    * target's padded window [t·c − h, end_t + h). Under wrap the array
    * repeats with period n, so the block also feeds windows through its
    * copies at ±n — including windows two blocks away, when the short
    * edge block between them is thinner than the depth. */
  private def axisPieces(i: Int, size: Int, c: Int, n: Int, h: Int,
      wrap: Boolean): Seq[(Int, Int, Int, Int)] = {
    val grid = (n + c - 1) / c
    for {
      shift <- if (wrap) Seq(-n, 0, n) else Seq(0)
      a = i * c + shift
      t <- math.max(0, math.floorDiv(a - h, c) - 1) to
        math.min(grid - 1, math.floorDiv(a + size - 1 + h, c) + 1)
      lo = math.max(a, t * c - h)
      hi = math.min(a + size, math.min(t * c + c, n) + h)
      if lo < hi
    } yield (t, lo - a, hi - lo, lo - (t * c - h))
  }

  /** Slab emission for one block: its center piece first, then one slab
    * per (target, copy) whose padded window overlaps the block. */
  private[tensor] def emit(b: TBlock, depth: Seq[Int], wrap: Boolean): Seq[TPiece] = {
    val d = b.ndim
    require(depth.length == d, s"halo depth rank ${depth.length} != ndim $d")
    depth.indices.foreach { k =>
      require(depth(k) <= b.chunk(k),
        s"halo depth ${depth(k)} exceeds chunk ${b.chunk(k)} on axis $k (rechunk first)")
    }
    val w = b.dt.bytes
    val src = BNd.of(b.shape.toArray, w, b.data)
    val axes = (0 until d).map(k =>
      axisPieces(b.idx(k), b.shape(k), b.chunk(k), b.arrayShape(k), depth(k), wrap))
    val combos = axes.foldLeft(Seq(Seq.empty[(Int, Int, Int, Int)])) { (acc, ps) =>
      acc.flatMap(prefix => ps.map(prefix :+ _))
    }
    // only the block's own unshifted payload lands at `depth` on every axis
    val neighbors = combos.filterNot(_.map(_._4) == depth).map { ps =>
      val slabShape = ps.map(_._3).toArray
      val slab = BNd.zeros(slabShape, w)
      slab.copyRegion(src, ps.map(_._2).toArray, slabShape, new Array[Int](d))
      TPiece(b.imageId, ps.map(_._1), ps.map(_._4), slabShape.toSeq, slab.data,
        b.origin, b.shape, b.chunk, b.arrayShape, b.dtype)
    }
    centerOf(b, depth) +: neighbors
  }

  /** Reassemble a padded block from its pieces and resolve the margin
    * cells beyond the array edge via the boundary mode. */
  private[tensor] def assemble(pieces: Seq[TPiece], depth: Seq[Int],
      mode: Boundary): TPadded = {
    val center = pieces.find(_.at == depth)
      .getOrElse(throw new IllegalStateException("halo group without center piece"))
    // a mixed-depth glob (8-bit and 16-bit files under one imageId) would
    // otherwise splice slabs of different element widths into one payload
    require(pieces.forall(_.dtype == center.dtype),
      s"halo: mixed dtypes under one imageId " +
        s"(${pieces.map(_.dtype).distinct.mkString(", ")}) — promote before stenciling")
    val d = center.shape.length
    val dt = DType.of(center.dtype)
    val w = dt.bytes
    val shape = center.blockShape
    val padShape = shape.indices.map(k => shape(k) + 2 * depth(k)).toArray
    val out = BNd.zeros(padShape, w)
    for (p <- pieces)
      out.copyRegion(BNd.of(p.shape.toArray, w, p.data), new Array[Int](d),
        p.shape.toArray, p.at.toArray)

    // The pieces cover every cell of the window inside the array — or,
    // under wrap, inside its copies at ±n. A cell beyond takes cval, or
    // the value at its coordinate resolved (per such axis) by the mode.
    val lo = Array.tabulate(d)(k => center.origin(k) - depth(k)) // global coord of cell 0
    val n = center.arrayShape.toArray
    val reach = if (mode == Boundary.Wrap) 1 else 0
    val cval = mode match {
      case Boundary.Constant(v) => dt.encode(Array(v))
      case _ => null
    }
    val c = new Array[Int](d)
    val src = new Array[Int](d)
    var done = out.size == 0
    while (!done) {
      var arrived = true
      var k = 0
      while (k < d) {
        val g = lo(k) + c(k)
        if (g >= -reach * n(k) && g < (1 + reach) * n(k)) src(k) = c(k)
        else { arrived = false; src(k) = Boundary.resolve(mode, g, n(k)) - lo(k) }
        k += 1
      }
      if (!arrived) {
        val off = out.offset(c)
        if (cval != null) System.arraycopy(cval, 0, out.data, off * w, w)
        else out.copyElem(out, out.offset(src), off)
      }
      var j = d - 1
      var carry = true
      while (carry && j >= 0) {
        c(j) += 1
        if (c(j) < padShape(j)) carry = false else { c(j) = 0; j -= 1 }
      }
      done = carry
    }
    val block = TBlock(center.imageId, center.targetIdx, center.origin,
      center.blockShape, center.chunk, center.arrayShape, center.dtype,
      java.util.Arrays.copyOf(center.data, center.data.length))
    TPadded(block, depth, out.data)
  }
}

/** Typed-payload filters: order statistics computed IN the native byte
  * domain (min/max/rank of integers needs no float64 at any point — the
  * scipy semantics are dtype-preserving: minimum_filter on uint8 returns
  * uint8). */
object TFilters {

  /** Separable box minimum/maximum filter on uint8 payloads: per-axis
    * 1-d running extremum passes with unsigned byte compares; the halo
    * exchange, the kernel, and the output all stay 1 byte/pixel. Odd
    * `size` per axis, like the float64 boxExtremum. */
  def extremumFilterU8(ds: Dataset[TBlock], size: Seq[Int], isMin: Boolean,
      mode: String = "reflect", cval: Double = 0.0): Dataset[TBlock] = {
    require(size.forall(s => s % 2 == 1 && s >= 1), "u8 extremum: odd sizes")
    val radii = size.map(_ / 2)
    THalo.mapOverlap(ds, radii, Boundary.of(mode, cval)) { p =>
      require(p.block.dtype == DType.U8.name,
        s"extremumFilterU8 on dtype ${p.block.dtype}")
      var cur = p.bnd
      var k = 0
      while (k < size.length) {
        cur = pass1dU8(cur, k, size(k), isMin)
        k += 1
      }
      require(cur.shape.toSeq == p.block.shape,
        s"u8 extremum output shape ${cur.shape.toSeq} != ${p.block.shape}")
      cur.data
    }
  }

  /** min+max u8 box filters fused over ONE typed halo exchange, emitted
    * as a pixel frame (i, j, vmin, vmax) widened to BIGINT at the
    * relational edge (r22, guide §2.4): the paired tensor_uint8_minmax
    * form ran TWO full byte-payload exchanges over the same image and
    * re-joined the outputs at pixel level; both extrema come off the
    * same padded block, arithmetic unchanged. 2-d only. */
  def minmaxPixelsU8(ds: Dataset[TBlock], size: Seq[Int], mode: String = "reflect",
      cval: Double = 0.0): org.apache.spark.sql.DataFrame = {
    require(size.forall(s => s % 2 == 1 && s >= 1), "u8 extremum: odd sizes")
    val spark = ds.sparkSession
    import spark.implicits._
    THalo.exchange(ds, size.map(_ / 2), Boundary.of(mode, cval)).flatMap { p =>
      require(p.block.dtype == DType.U8.name,
        s"minmaxPixelsU8 on dtype ${p.block.dtype}")
      def run(isMin: Boolean): BNd = {
        var cur = p.bnd
        var k = 0
        while (k < size.length) { cur = pass1dU8(cur, k, size(k), isMin); k += 1 }
        require(cur.shape.toSeq == p.block.shape)
        cur
      }
      val mn = run(isMin = true); val mx = run(isMin = false)
      val b = p.block
      val h = b.shape(0); val w = b.shape(1)
      val buf = new Array[(Int, Int, Long, Long)](h * w)
      var i = 0; var t = 0
      while (i < h) {
        var j = 0
        while (j < w) {
          buf(t) = (b.origin(0) + i, b.origin(1) + j,
            (mn.data(t) & 0xff).toLong, (mx.data(t) & 0xff).toLong)
          t += 1; j += 1
        }
        i += 1
      }
      buf
    }.toDF("i", "j", "vmin", "vmax")
  }

  /** Per-element unsigned-byte map — point ops (threshold, LUT, invert)
    * in the byte domain: no halo, no decode, a narrow map over 1-byte
    * payloads. `f` sees and returns unsigned values in [0, 255]. */
  def pointU8(ds: Dataset[TBlock])(f: Int => Int): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { b =>
      require(b.dt.bytes == 1, s"pointU8 on dtype ${b.dtype}")
      val out = new Array[Byte](b.data.length)
      var i = 0
      while (i < out.length) { out(i) = (f(b.data(i) & 0xff) & 0xff).toByte; i += 1 }
      b.copy(data = out)
    }
  }

  /** Run ANY float64 kernel over typed payloads — the NumPy-style
    * promote-on-compute path: the halo exchange shuffles native bytes,
    * the padded payload decodes to double AT THE KERNEL EDGE (inside the
    * task, never on the wire), and the kernel's output encodes to
    * `outDtype` (e.g. gaussian on a uint8 image → float32 result: 1 byte
    * shuffled per input pixel, 4 stored per output pixel, 8 never). */
  def mapOverlapDecode(ds: Dataset[TBlock], depth: Seq[Int], mode: Boundary,
      outDtype: DType)(kernel: Halo.Padded => Array[Double]): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    THalo.exchange(ds, depth, mode).map { p =>
      p.block.copy(dtype = outDtype.name, data = outDtype.encode(kernel(p.f64)))
    }
  }

  /** One 1-d extremum pass along `axis`, shrinking that axis by
    * 2·(size/2); unsigned byte compares, no decode. */
  private def pass1dU8(in: BNd, axis: Int, size: Int, isMin: Boolean): BNd = {
    val r = size / 2
    val outShape = in.shape.clone()
    outShape(axis) -= 2 * r
    val out = BNd.zeros(outShape, 1)
    val c = new Array[Int](in.ndim)
    var done = outShape.exists(_ == 0)
    while (!done) {
      val ic = c.clone()
      var best = if (isMin) 256 else -1
      var t = 0
      while (t < size) {
        ic(axis) = c(axis) + t
        val v = in.data(in.offset(ic)) & 0xff
        if (if (isMin) v < best else v > best) best = v
        t += 1
      }
      out.data(out.offset(c)) = best.toByte
      var j = in.ndim - 1
      var carry = true
      while (carry && j >= 0) {
        c(j) += 1
        if (c(j) < outShape(j)) carry = false else { c(j) = 0; j -= 1 }
      }
      done = carry
    }
    out
  }
}
