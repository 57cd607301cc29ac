package graft

import org.apache.spark.sql.functions._
import graft.sources.TensorStore
import graft.tensor.{DType, Images, TBlock}

/** Block-tensor store: round-trip fidelity, manifest, and source-level
  * chunk pruning (the frame-range filter must reach the parquet scan as
  * a PartitionFilter, not a post-scan filter). */
class TensorStoreSpec extends SparkSpec {

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_store_spec").toString

  test("round-trip preserves every pixel and the manifest geometry") {
    val raster = Images.eventsRaster(spark, sf0001)
    TensorStore.write(TBlock.fromBlocks(raster, DType.F64), dir)
    val back = TBlock.toBlocks(TensorStore.read(spark, dir))
    val a = Images.toPixels(raster).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val b = Images.toPixels(back).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(a == b, "pixels changed across the store round-trip")
    val Seq((id, shape, chunks, grid, n, dtype)) = TensorStore.attrs(spark, dir)
    assert(shape == Seq(48, 64) && chunks == Seq(16, 16) && grid == Seq(3, 4))
    assert(n == 12L && dtype == "float64" && id.nonEmpty)
  }

  test("frame-range read prunes partitions at the scan") {
    TensorStore.write(TBlock.fromBlocks(Images.eventsRaster(spark, sf0001), DType.F64), dir)
    val sliced = TBlock.toBlocks(TensorStore.read(spark, dir, frameRange = Some((1, 1))))
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("idx0"),
      s"frame range did not land as a partition filter:\n$plan")
    val blocks = sliced.collect()
    assert(blocks.length == 4 && blocks.forall(_.idx.head == 1))
    // pruned slice carries exactly rows 16..31
    val rows = Images.toPixels(sliced).select(min(col("i")), max(col("i"))).head()
    assert(rows.getInt(0) == 16 && rows.getInt(1) == 31)
  }

  test("typed store: uint8 round-trips byte-exact, manifest dtype real, no widening") {
    val s = spark
    import s.implicits._
    val dir8 = java.nio.file.Files.createTempDirectory("graft_store_u8").toString
    val u8 = TBlock.fromBlocks(
      Images.eventsRaster(spark, sf0001).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 100) % 256) + 256) % 256).toDouble))
      }, DType.U8)
    val before = u8.collect().map(b => b.idx -> b.data.toSeq).toMap
    TensorStore.write(u8, dir8)
    val back = TensorStore.read(spark, dir8).collect()
    assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
      "u8 payload changed across the store round-trip")
    assert(back.forall(b => b.dtype == "uint8" &&
      b.data.length == b.shape.product), "payload widened beyond 1 byte/elem")
    val Seq((_, shape, chunks, _, n, dtype)) = TensorStore.attrs(spark, dir8)
    assert(shape == Seq(48, 64) && chunks == Seq(16, 16) && n == 12L)
    assert(dtype == "uint8", s"manifest dtype $dtype")
    // mixed dtypes under one imageId must fail loudly
    val mixed = u8.map(b => if (b.idx.head == 0) b.copy(dtype = "int16") else b)
    val err = intercept[IllegalArgumentException] {
      TensorStore.write(mixed, dir8 + "_mixed")
    }
    assert(err.getMessage.contains("share one dtype"))
  }

  test("typed store: uint16 round-trips with 2 bytes/elem and high-byte values intact") {
    val s = spark
    import s.implicits._
    val dir16 = java.nio.file.Files.createTempDirectory("graft_store_u16").toString
    val u16 = TBlock.fromBlocks(
      Images.eventsRaster(spark, sf0001).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 1000) % 65536) + 65536) % 65536).toDouble))
      }, DType.U16)
    val before = u16.collect().map(b => b.idx -> b.data.toSeq).toMap
    // quantizing at x1000 must actually produce >255 values, else the
    // high byte is untested
    assert(u16.collect().exists(_.toBlock.data.exists(_ > 255.0)),
      "fixture never exercises the high byte")
    TensorStore.write(u16, dir16)
    val back = TensorStore.read(spark, dir16).collect()
    assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
      "u16 payload changed across the store round-trip")
    assert(back.forall(b => b.dtype == "uint16" &&
      b.data.length == b.shape.product * 2), "payload not 2 bytes/elem")
    val Seq((_, _, _, _, _, dtype)) = TensorStore.attrs(spark, dir16)
    assert(dtype == "uint16", s"manifest dtype $dtype")
  }

  test("typed store: int32 label image stores at 4 bytes/elem, decodes exactly") {
    val s = spark
    import s.implicits._
    val dir32 = java.nio.file.Files.createTempDirectory("graft_store_i32").toString
    val labels = TBlock.fromBlocks(
      Images.eventsRaster(spark, sf0001).map { b =>
        b.copy(data = b.data.map(v => math.floor(v * 7 % 1000)))
      }, DType.I32)
    val before = labels.collect().map(b => b.idx -> b.toBlock.data.toSeq).toMap
    TensorStore.write(labels, dir32)
    val back = TensorStore.read(spark, dir32).collect()
    assert(back.forall(b => b.dtype == "int32" &&
      b.data.length == b.shape.product * 4), "label payload not 4 bytes/elem")
    assert(back.map(b => b.idx -> b.toBlock.data.toSeq).toMap == before,
      "i32 label image changed across the store round-trip")
  }

  test("typed store: int8 and uint64 round-trip at native widths (r11 dtype-set cap)") {
    val s = spark
    import s.implicits._
    // i8: signed-wrapped quantization — negative values must survive
    val dirI8 = java.nio.file.Files.createTempDirectory("graft_store_i8").toString
    val i8 = TBlock.fromBlocks(
      Images.eventsRaster(spark, sf0001).map { b =>
        b.copy(data = b.data.map(v =>
          ((math.round(v * 100) % 256 + 384) % 256 - 128).toDouble))
      }, DType.I8)
    assert(i8.collect().exists(_.toBlock.data.exists(_ < 0.0)),
      "fixture never exercises negative int8 values")
    val beforeI8 = i8.collect().map(b => b.idx -> b.data.toSeq).toMap
    TensorStore.write(i8, dirI8)
    val backI8 = TensorStore.read(spark, dirI8).collect()
    assert(backI8.map(b => b.idx -> b.data.toSeq).toMap == beforeI8,
      "i8 payload changed across the store round-trip")
    assert(backI8.forall(b => b.dtype == "int8" &&
      b.data.length == b.shape.product), "i8 payload not 1 byte/elem")
    assert(TensorStore.attrs(spark, dirI8).head._6 == "int8")
    // u64: values above 2^32 (and the sign-bit seam) must survive
    val dirU64 = java.nio.file.Files.createTempDirectory("graft_store_u64").toString
    val u64 = TBlock.fromBlocks(
      Images.eventsRaster(spark, sf0001).map { b =>
        b.copy(data = b.data.zipWithIndex.map { case (v, i) =>
          math.round(v * 100).toDouble * 4294967296.0 +
            (if (i % 7 == 0) 9.223372036854775808e18 else 0.0)
        })
      }, DType.U64)
    val beforeU64 = u64.collect().map(b => b.idx -> b.data.toSeq).toMap
    TensorStore.write(u64, dirU64)
    val backU64 = TensorStore.read(spark, dirU64).collect()
    assert(backU64.map(b => b.idx -> b.data.toSeq).toMap == beforeU64,
      "u64 payload changed across the store round-trip")
    assert(backU64.forall(b => b.dtype == "uint64" &&
      b.data.length == b.shape.product * 8), "u64 payload not 8 bytes/elem")
    assert(TensorStore.attrs(spark, dirU64).head._6 == "uint64")
  }

  test("mixed geometry under one imageId fails the write loudly") {
    val s = spark
    import s.implicits._
    val raster = Images.eventsRaster(spark, sf0001)
    val broken = raster.map(b =>
      if (b.idx.head == 0) b.copy(chunk = Seq(8, 8)) else b)
    val err = intercept[IllegalArgumentException] {
      TensorStore.write(TBlock.fromBlocks(broken, DType.F64), dir + "_broken")
    }
    assert(err.getMessage.contains("share arrayShape+chunk"))
  }
}
