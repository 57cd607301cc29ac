package graft

import java.nio.file.{Files, Paths}

import graft.sources.ZarrStore
import graft.tensor.{DType, Images, TBlock}

/** Zarr v2 store: spec-format fidelity (a zarr client must be able to
  * read what we write), dtype round-trips incl. the complex component
  * convention, edge-chunk pad/trim, gzip chunks, and the chunk-bytes ==
  * npy-payload cross-check (both formats define the same raw C-order
  * little-endian data section, so they must agree byte-for-byte). */
class ZarrStoreSpec extends SparkSpec {

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft_zarr_$tag").toString

  private def u16Raster = {
    val s = spark
    import s.implicits._
    TBlock.fromBlocks(
      Images.eventsRaster(spark, sf0001).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 1000) % 65536) + 65536) % 65536).toDouble))
      }, DType.U16)
  }

  test("uint16 round-trip is byte-exact; .zarray is spec-shaped; chunk names are grid dots") {
    val dir = tmp("u16")
    val before = u16Raster.collect().map(b => b.idx -> b.data.toSeq).toMap
    ZarrStore.writeTyped(u16Raster, dir)
    // on-disk layout: .zgroup, events_raster/.zarray, dot-named chunks
    assert(Files.readString(Paths.get(dir, ".zgroup")).contains("\"zarr_format\":2"))
    val za = Files.readString(Paths.get(dir, "events_raster", ".zarray"))
    for (frag <- Seq("\"zarr_format\":2", "\"shape\":[48,64]", "\"chunks\":[16,16]",
        "\"dtype\":\"<u2\"", "\"compressor\":null", "\"order\":\"C\"",
        "\"fill_value\":0"))
      assert(za.contains(frag), s".zarray missing $frag: $za")
    val chunkFiles = new java.io.File(dir, "events_raster").list().toSet - ".zarray"
    assert(chunkFiles == (for (i <- 0 to 2; j <- 0 to 3) yield s"$i.$j").toSet,
      s"chunk names wrong: $chunkFiles")
    // raw chunk bytes ARE the payload (null compressor, divisible grid)
    assert(Files.readAllBytes(Paths.get(dir, "events_raster", "0.0")).length == 16 * 16 * 2)
    val back = ZarrStore.readTyped(spark, dir).collect()
    assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
      "u16 payload changed across the zarr round-trip")
    assert(back.forall(b => b.dtype == "uint16" && b.arrayShape == Seq(48, 64) &&
      b.chunk == Seq(16, 16)))
  }

  test("chunk object bytes == the engine's own .npy data section for the same block") {
    // the two public formats share the raw C-order little-endian data
    // layout; this pins our zarr chunk bytes against the independently
    // spec'd npy codec (r12-verdict Zarr task's cross-check)
    val dir = tmp("xnpy")
    ZarrStore.writeTyped(u16Raster, dir)
    val block = u16Raster.collect().find(_.idx == Seq(1, 2)).get
    val npy = graft.sources.NpySource.encodeNpy(block.shape, block.dt, block.data)
    // npy data section starts after the 64-byte-aligned header
    val hlen = 10 + ((npy(8) & 0xff) | ((npy(9) & 0xff) << 8))
    val npyData = npy.drop(hlen)
    val chunk = Files.readAllBytes(Paths.get(dir, "events_raster", "1.2"))
    assert(java.util.Arrays.equals(chunk, npyData),
      "zarr chunk bytes diverge from the npy data section")
  }

  test("edge chunks pad to full chunk shape on disk and trim back on read") {
    val dir = tmp("edge")
    // 20-row chunks over 48 rows -> grid 3 with an 8-row edge; 24-col
    // chunks over 64 cols -> grid 3 with a 16-col edge
    val raster = Images.eventsRaster(spark, sf0001, ch = 20, cw = 24)
    val before = raster.collect().map(b => b.idx -> b.data.toSeq).toMap
    ZarrStore.writeTyped(TBlock.fromBlocks(raster, DType.F64), dir)
    // the spec: EVERY stored chunk is full chunk-shape (edge padded)
    val all = new java.io.File(dir, "events_raster").list().toSet - ".zarray"
    assert(all == (for (i <- 0 to 2; j <- 0 to 2) yield s"$i.$j").toSet)
    for (name <- all)
      assert(Files.readAllBytes(Paths.get(dir, "events_raster", name)).length
        == 20 * 24 * 8, s"chunk $name not stored full-size")
    // padded tail of an edge chunk is fill_value zeros
    val corner = Files.readAllBytes(Paths.get(dir, "events_raster", "2.2"))
    val bb = java.nio.ByteBuffer.wrap(corner).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // row 0 cols 16..23 are beyond the 64-col array bound -> zero fill
    for (jc <- 16 until 24)
      assert(bb.getDouble(jc * 8) == 0.0, s"edge pad at col $jc not fill_value")
    val back = TBlock.toBlocks(ZarrStore.readTyped(spark, dir)).collect()
    assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
      "edge-chunked image changed across the zarr round-trip")
    // read-back blocks carry TRIMMED edge shapes (engine convention)
    assert(back.forall(b => b.shape == Seq(math.min(20, 48 - b.origin(0)),
      math.min(24, 64 - b.origin(1)))), "edge chunk not trimmed on read")
  }

  test("gzip compressor round-trips and the chunk objects are RFC1952 streams") {
    val dir = tmp("gz")
    val before = u16Raster.collect().map(b => b.idx -> b.data.toSeq).toMap
    ZarrStore.writeTyped(u16Raster, dir, gzipLevel = Some(5))
    val za = Files.readString(Paths.get(dir, "events_raster", ".zarray"))
    assert(za.contains("\"compressor\":{\"id\":\"gzip\",\"level\":5}"), za)
    val chunk = Files.readAllBytes(Paths.get(dir, "events_raster", "0.0"))
    assert((chunk(0) & 0xff) == 0x1f && (chunk(1) & 0xff) == 0x8b,
      "gzip chunk lacks the RFC1952 magic")
    assert(chunk.length < 16 * 16 * 2, "gzip chunk did not compress")
    val back = ZarrStore.readTyped(spark, dir).collect()
    assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
      "u16 payload changed across the gzip zarr round-trip")
  }

  test("complex64 metadata halves the last axis; payload round-trips; c128 too") {
    val s = spark
    import s.implicits._
    for ((dt, tsr) <- Seq((DType.C64, "<c8"), (DType.C128, "<c16"))) {
      val dir = tmp(dt.name)
      // component-space image: 48 x 64 doubles = 48 x 32 complex
      val cplx = TBlock.fromBlocks(Images.eventsRaster(spark, sf0001), dt)
      val before = cplx.collect().map(b => b.idx -> b.data.toSeq).toMap
      ZarrStore.writeTyped(cplx, dir)
      val za = Files.readString(Paths.get(dir, "events_raster", ".zarray"))
      assert(za.contains("\"shape\":[48,32]") && za.contains("\"chunks\":[16,8]"),
        s"complex logical shape not halved: $za")
      assert(za.contains(s""""dtype":"$tsr""""), za)
      // chunk bytes: full chunk = 16 x 8 complex elements
      assert(Files.readAllBytes(Paths.get(dir, "events_raster", "0.0")).length
        == 16 * 8 * dt.bytes * 2)
      val back = ZarrStore.readTyped(spark, dir).collect()
      assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
        s"${dt.name} payload changed across the zarr round-trip")
      // engine convention restored: component space doubles the last axis
      assert(back.forall(b => b.arrayShape == Seq(48, 64) && b.chunk == Seq(16, 16)
        && b.dtype == dt.name))
    }
  }

  test("frame-range read prunes at the chunk NAME — non-matching objects never open") {
    val dir = tmp("prune")
    ZarrStore.writeTyped(u16Raster, dir)
    // poison the chunks outside the range: if the reader opened them the
    // length check would throw, so a clean read proves name-level pruning
    for (i <- Seq(0, 2); j <- 0 to 3)
      Files.write(Paths.get(dir, "events_raster", s"$i.$j"), Array[Byte](1, 2, 3))
    val rows = ZarrStore.readTyped(spark, dir, frameRange = Some((1, 1))).collect()
    assert(rows.length == 4 && rows.forall(_.idx.head == 1),
      s"expected the 4 row-1 chunks, got ${rows.map(_.idx).toSeq}")
    assert(rows.forall(_.origin.head == 16))
  }

  test("property sweep: random geometries × dtypes × compressors round-trip byte-exact") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 12) {
      val h = 5 + rnd.nextInt(40); val w = 5 + rnd.nextInt(40)
      val ch = 1 + rnd.nextInt(h); val cw = 1 + rnd.nextInt(w)
      val dt = Seq(DType.U8, DType.I16, DType.U16, DType.I32, DType.F32,
        DType.F64, DType.I64)(rnd.nextInt(7))
      val gz = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(9)) else None
      val px = Array.tabulate(h * w)(i =>
        math.floor(rnd.nextDouble() * 1000) - 500)
      val blocks = Images.fromPixels(
        Seq.tabulate(h * w)(i => (i / w, i % w, px(i)))
          .toDF("i", "j", "v"), s"arr$trial", h, w, ch, cw)
      val typed = TBlock.fromBlocks(blocks, dt)
      val before = typed.collect().map(b => b.idx -> b.data.toSeq).toMap
      val dir = tmp(s"prop$trial")
      ZarrStore.writeTyped(typed, dir, gzipLevel = gz)
      val back = ZarrStore.readTyped(spark, dir).collect()
      assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
        s"trial $trial: ${dt.name} $h x $w chunk ($ch,$cw) gz=$gz diverged")
      assert(back.forall(b => b.arrayShape == Seq(h, w) && b.chunk == Seq(ch, cw)
        && b.dtype == dt.name), s"trial $trial: geometry lost")
    }
  }

  test("3-d arrays round-trip with dot-keyed chunk grids and edge trim on every axis") {
    val s = spark
    import s.implicits._
    // 5 x 7 x 6 array in 2 x 3 x 4 chunks -> grid 3 x 3 x 2, edges on all axes
    val (d0, d1, d2) = (5, 7, 6); val (c0, c1, c2) = (2, 3, 4)
    def blockAt(i0: Int, i1: Int, i2: Int): graft.tensor.TBlock = {
      val sh = Seq(math.min(c0, d0 - i0 * c0), math.min(c1, d1 - i1 * c1),
        math.min(c2, d2 - i2 * c2))
      val data = new Array[Double](sh.product)
      var p = 0
      for (a <- 0 until sh(0); b <- 0 until sh(1); c <- 0 until sh(2)) {
        data(p) = ((i0 * c0 + a) * 100 + (i1 * c1 + b) * 10 + (i2 * c2 + c)).toDouble
        p += 1
      }
      graft.tensor.TBlock("vol", Seq(i0, i1, i2),
        Seq(i0 * c0, i1 * c1, i2 * c2), sh, Seq(c0, c1, c2),
        Seq(d0, d1, d2), "int16", DType.I16.encode(data))
    }
    val blocks = (for (i0 <- 0 to 2; i1 <- 0 to 2; i2 <- 0 to 1)
      yield blockAt(i0, i1, i2)).toDS()
    val before = blocks.collect().map(b => b.idx -> b.data.toSeq).toMap
    val dir = tmp("vol3d")
    ZarrStore.writeTyped(blocks, dir)
    val names = new java.io.File(dir, "vol").list().toSet - ".zarray"
    assert(names == (for (i <- 0 to 2; j <- 0 to 2; k <- 0 to 1)
      yield s"$i.$j.$k").toSet, s"3-d chunk keys wrong: $names")
    val za = Files.readString(Paths.get(dir, "vol", ".zarray"))
    assert(za.contains("\"shape\":[5,7,6]") && za.contains("\"chunks\":[2,3,4]"), za)
    // every stored chunk is full-size (2*3*4 i16 elements)
    for (n <- names)
      assert(Files.readAllBytes(Paths.get(dir, "vol", n)).length == 2 * 3 * 4 * 2)
    val back = ZarrStore.readTyped(spark, dir).collect()
    assert(back.map(b => b.idx -> b.data.toSeq).toMap == before,
      "3-d payloads changed across the zarr round-trip")
    // frame-range pruning on the leading axis works in 3-d too
    val sl = ZarrStore.readTyped(spark, dir, frameRange = Some((2, 2))).collect()
    assert(sl.length == 6 && sl.forall(_.idx.head == 2))
  }

  test(".zmetadata consolidates every descriptor; reads work with AND without it") {
    val dir = tmp("zmeta")
    ZarrStore.writeTyped(u16Raster, dir, gzipLevel = Some(3))
    val zm = Files.readString(Paths.get(dir, ".zmetadata"))
    assert(zm.contains("\"zarr_consolidated_format\":1"), zm)
    assert(zm.contains("\"events_raster/.zarray\""), zm)
    // consolidated read path (one GET on an object store)
    val viaMeta = ZarrStore.arrays(spark, dir)
    assert(viaMeta.map(_.name) == Seq("events_raster") &&
      viaMeta.head.gzipLevel == Some(3) && viaMeta.head.dtype == "uint16",
      s"consolidated parse wrong: $viaMeta")
    // groups written WITHOUT consolidation (other tools) still read
    Files.delete(Paths.get(dir, ".zmetadata"))
    val viaList = ZarrStore.arrays(spark, dir)
    assert(viaList == viaMeta, "listing fallback diverged from .zmetadata")
    assert(ZarrStore.readTyped(spark, dir).count() == 12L)
  }

  test("single-array read by name; unknown array and foreign compressor fail loudly") {
    val dir = tmp("multi")
    ZarrStore.writeTyped(u16Raster, dir)
    assert(ZarrStore.readTyped(spark, dir, Some("events_raster")).count() == 12L)
    val err = intercept[IllegalArgumentException] {
      ZarrStore.readTyped(spark, dir, Some("nope")).count()
    }
    assert(err.getMessage.contains("no array 'nope'"))
    val blosc = """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",""" +
      """"compressor":{"id":"blosc","cname":"lz4"},"fill_value":0,"order":"C","filters":null}"""
    val e2 = intercept[IllegalArgumentException] {
      ZarrStore.parseZArray("x", blosc)
    }
    assert(e2.getMessage.contains("unsupported compressor"))
    // a filter chain would make raw chunk bytes residuals, not values —
    // must fail loudly, never decode silently wrong
    val filtered = """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<i4",""" +
      """"compressor":null,"fill_value":0,"order":"C",""" +
      """"filters":[{"id":"delta","dtype":"<i4"}]}"""
    val e3 = intercept[IllegalArgumentException] {
      ZarrStore.parseZArray("x", filtered)
    }
    assert(e3.getMessage.contains("filter chains are not supported"), e3.getMessage)
    // explicit empty list and null both mean "no filters" per the spec
    assert(ZarrStore.parseZArray("x",
      filtered.replace("""[{"id":"delta","dtype":"<i4"}]""", "[]")).dtype == "int32")
  }

  test("foreign-read guards: sparse store, non-zero fill_value, stale .zmetadata all fail loudly") {
    // r14 ADVICE medium: zarr says an ABSENT chunk reads as fill_value,
    // so a sparse foreign array silently read as "whatever chunks
    // exist" is a wrong-answer path. The reader must count the grid.
    val dir = tmp("guards")
    ZarrStore.writeTyped(u16Raster, dir)
    assert(ZarrStore.readTyped(spark, dir).count() == 12L)
    // 1) delete one interior chunk → dense-count guard trips
    Files.delete(Paths.get(dir, "events_raster", "1.2"))
    val e1 = intercept[IllegalArgumentException] {
      ZarrStore.readTyped(spark, dir).count()
    }
    assert(e1.getMessage.contains("sparse") &&
      e1.getMessage.contains("11") && e1.getMessage.contains("12"),
      e1.getMessage)
    // ...and a frame-range read that EXCLUDES the hole still works
    // (chunk 1.2 is in leading row 1; rows 0 and 2 are intact)
    assert(ZarrStore.readTyped(spark, dir,
      frameRange = Some((0, 0))).count() == 4L)
    val e1b = intercept[IllegalArgumentException] {
      ZarrStore.readTyped(spark, dir, frameRange = Some((1, 1))).count()
    }
    assert(e1b.getMessage.contains("sparse"), e1b.getMessage)
    // 2) non-zero fill_value → rejected at parse (implicit-fill arrays)
    val nzFill = """{"zarr_format":2,"shape":[4],"chunks":[4],"dtype":"<f8",""" +
      """"compressor":null,"fill_value":-1.5,"order":"C","filters":null}"""
    val e2 = intercept[IllegalArgumentException] {
      ZarrStore.parseZArray("x", nzFill)
    }
    assert(e2.getMessage.contains("fill_value"), e2.getMessage)
    // "NaN" (the numpy float default in some writers) is also implicit
    // fill; zero in any numeric spelling is fine
    val e2b = intercept[IllegalArgumentException] {
      ZarrStore.parseZArray("x", nzFill.replace("-1.5", "\"NaN\""))
    }
    assert(e2b.getMessage.contains("fill_value"), e2b.getMessage)
    assert(ZarrStore.parseZArray("x",
      nzFill.replace("-1.5", "0.0")).dtype == "float64")
    // 3) stale .zmetadata: consolidated says one shape, .zarray another
    val dir2 = tmp("stale")
    ZarrStore.writeTyped(u16Raster, dir2)
    val zmPath = Paths.get(dir2, ".zmetadata")
    Files.writeString(zmPath,
      Files.readString(zmPath).replace("\"shape\":[48,64]", "\"shape\":[48,32]"))
    val e3 = intercept[IllegalArgumentException] {
      ZarrStore.arrays(spark, dir2)
    }
    assert(e3.getMessage.contains("STALE"), e3.getMessage)
  }
}
