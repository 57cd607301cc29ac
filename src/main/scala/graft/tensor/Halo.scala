package graft.tensor

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** The float64 halo API — the F64 view of the byte-domain [[THalo]],
  * which owns the one slab geometry and both exchange forms. Each
  * [[Block]] is encoded as an F64 [[TBlock]] (raw bits, so every value
  * passes through unchanged), THalo emits, shuffles and reassembles it,
  * and the kernel sees the padded block decoded at the kernel edge
  * ([[THalo.TPadded.f64]]). The plan is THalo's: one shuffle per op for
  * the groupByKey form, slab-only shuffles for the co-partitioned form.
  */
object Halo {

  /** A block together with its assembled halo: `padded` has shape
    * `block.shape + 2*depth`; element (c) corresponds to global
    * coordinate `block.origin − depth + c`. */
  case class Padded(block: Block, depth: Seq[Int], padded: Array[Double]) {
    def paddedShape: Array[Int] =
      block.shape.indices.map(k => block.shape(k) + 2 * depth(k)).toArray
    def nd: Nd = Nd.of(paddedShape, padded)
  }

  /** The `map_overlap` equivalent: run `kernel` over every block padded by
    * `depth` with `mode` boundary handling; the kernel returns the output
    * for the block's own (unpadded) region. */
  def mapOverlap(ds: Dataset[Block], depth: Seq[Int], mode: Boundary)(
      kernel: Padded => Array[Double]): Dataset[Block] = {
    val spark = ds.sparkSession
    import spark.implicits._
    exchange(ds, depth, mode).map(p => p.block.copy(data = kernel(p)))
  }

  /** Uniform-depth variant: depth d on every axis, rank taken from each
    * block (avoids an eager ndim probe on the Dataset). */
  def mapOverlapU(ds: Dataset[Block], depth: Int, mode: Boundary)(
      kernel: Padded => Array[Double]): Dataset[Block] = {
    val spark = ds.sparkSession
    import spark.implicits._
    THalo.exchangeBy(TBlock.fromBlocks(ds, DType.F64), Seq.fill(_)(depth), mode)
      .map(t => run(t, kernel))
  }

  /** Assemble every block + halo (shared by all stencil operators). */
  def exchange(ds: Dataset[Block], depth: Seq[Int], mode: Boundary): Dataset[Padded] = {
    val spark = ds.sparkSession
    import spark.implicits._
    THalo.exchange(TBlock.fromBlocks(ds, DType.F64), depth, mode).map(_.f64)
  }

  /** Place blocks into THalo's co-partitioned layout (the ONE payload
    * shuffle a chain pays; see [[THalo.partitionBlocks]]). */
  def partitionBlocks(ds: Dataset[Block], parts: Int): RDD[Block] =
    THalo.place(ds.rdd, parts)(b => (b.imageId, b.idx))

  /** map_overlap over co-partitioned blocks (slab-only exchange, payload
    * narrow); the result keeps the partition invariant, so it zips with
    * its input. Persist it before chaining — it is consumed twice. */
  def mapOverlapP(blocks: RDD[Block], parts: Int, depth: Seq[Int], mode: Boundary)(
      kernel: Padded => Array[Double]): RDD[Block] =
    THalo.exchangeP(blocks.map(TBlock.fromBlock(_, DType.F64)), parts, depth, mode)
      .map(t => run(t, kernel))

  private def run(t: THalo.TPadded, kernel: Padded => Array[Double]): Block = {
    val p = t.f64
    p.block.copy(data = kernel(p))
  }
}
