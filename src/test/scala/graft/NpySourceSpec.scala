package graft

import graft.sources.NpySource
import graft.tensor.DType

/** NumPy `.npy`/`.npz` codec + distributed reader spec: byte-exact
  * round trips per dtype (both byte orders and both header versions),
  * npz member stacking, content-based container dispatch, rejection of
  * the ambiguous/fortran layouts, and the shared malformed-input fuzz
  * contract.
  */
class NpySourceSpec extends SparkSpec {

  private def pseudo(n: Int, seed: Int): Array[Byte] = {
    var x = seed
    Array.fill(n) {
      x = x * 1103515245 + 12345
      ((x >>> 16) & 0xff).toByte
    }
  }

  test("npy round trip per dtype, both byte orders, both header versions") {
    for (dt <- Seq(DType.U8, DType.I16, DType.U16, DType.I32, DType.F32, DType.F64);
         be <- Seq(false, true); ver <- Seq(1, 2)) {
      val shape = Seq(3, 4)
      val data = pseudo(12 * dt.bytes, seed = dt.bytes * 7 + (if (be) 1 else 0))
      val enc = NpySource.encodeNpy(shape, dt, data, bigEndian = be, version = ver)
      val (s2, d2, out) = NpySource.decodeNpy(enc)
      assert(s2 == shape && d2 == dt, s"${dt.name} be=$be v$ver meta")
      assert(out.sameElements(data),
        s"${dt.name} be=$be v$ver payload must round-trip to little-endian")
    }
  }

  test("npy: 3-d array slices into C-order planes; 1-d/4-d rejected by the image surface") {
    val data = pseudo(2 * 3 * 4, seed = 5)
    val cube = NpySource.encodeNpy(Seq(2, 3, 4), DType.U8, data)
    val frames = NpySource.decodeFrames(cube)
    assert(frames.length == 2)
    for ((f, k) <- frames.zipWithIndex) {
      assert(f._1 == 3 && f._2 == 4 && f._3 == DType.U8.name)
      assert(f._4.sameElements(data.slice(k * 12, (k + 1) * 12)))
    }
    assert(NpySource.npyFrameCount(cube) == 2L)
    val flat = NpySource.encodeNpy(Seq(24), DType.U8, data)
    intercept[IllegalArgumentException](NpySource.decodeFrames(flat))
    intercept[IllegalArgumentException](NpySource.npyFrameCount(flat))
  }

  test("npz: members decode in ZIP insertion order (numpy's NpzFile order), not name order") {
    val a = NpySource.encodeNpy(Seq(2, 2), DType.U16, pseudo(8, 1))
    val b = NpySource.encodeNpy(Seq(3, 2, 2), DType.U16, pseudo(24, 2))
    // written z-name first: insertion order must win over lexicographic
    val npz = NpySource.encodeNpz(Seq("z_first.npy" -> b, "a_second.npy" -> a))
    val frames = NpySource.decodeFrames(npz)
    assert(frames.length == 4, "3 frames from z_first then 1 from a_second")
    assert(frames.last._4.sameElements(NpySource.decodeNpy(a)._3),
      "a_second's frame must come LAST despite sorting first by name")
    assert(NpySource.npyFrameCount(npz) == 4L)
    // the arr_N shape that name-sorting would permute: arr_2 must be
    // frame index 2 even with arr_10 present
    val planes = (0 until 12).map(k => NpySource.encodeNpy(Seq(2, 2), DType.U8, pseudo(4, 50 + k)))
    val big = NpySource.encodeNpz(planes.zipWithIndex.map { case (p, k) => s"arr_$k.npy" -> p })
    val decoded = NpySource.decodeFrames(big)
    assert(decoded.length == 12)
    for (k <- 0 until 12)
      assert(decoded(k)._4.sameElements(NpySource.decodeNpy(planes(k))._3),
        s"arr_$k must be frame $k (insertion order)")
  }

  test("npz: a nested-ZIP member fails identically in the count and decode passes") {
    val inner = NpySource.encodeNpz(Seq("x.npy" ->
      NpySource.encodeNpy(Seq(2, 2), DType.U8, pseudo(4, 9))))
    val outer = NpySource.encodeNpz(Seq("nested.npy" -> inner))
    // both passes reject — pagedFiles' metadata pass must never accept a
    // file whose decode tasks would then fail
    intercept[IllegalArgumentException](NpySource.npyFrameCount(outer))
    intercept[IllegalArgumentException](NpySource.decodeFrames(outer))
  }

  test("npy: fortran_order and native '=' descr are rejected loudly") {
    val ok = NpySource.encodeNpy(Seq(2, 2), DType.U8, pseudo(4, 3))
    val hdr = new String(ok, 10, ok.length - 10 - 4, "US-ASCII")
    def mutate(from: String, to: String): Array[Byte] = {
      val s = new String(ok.drop(10), "ISO-8859-1").replace(from, to)
      ok.take(10) ++ s.getBytes("ISO-8859-1")
    }
    assert(hdr.contains("False"))
    intercept[IllegalArgumentException](
      NpySource.decodeNpy(mutate("False", "True ")))
    intercept[IllegalArgumentException](
      NpySource.decodeNpy(mutate("'|u1'", "'=u1'")))
  }

  test("npy malformed payloads fail with IllegalArgumentException (fuzz)") {
    val rnd = new scala.util.Random(43)
    for (i <- 1 to 500) {
      val bytes = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(bytes)
      if (i % 2 == 0 && bytes.length >= 6) {
        bytes(0) = 0x93.toByte
        System.arraycopy("NUMPY".getBytes, 0, bytes, 1, 5)
      }
      try { NpySource.decodeFrames(bytes); () }
      catch { case _: IllegalArgumentException => () }
      try { NpySource.npyFrameCount(bytes); () }
      catch { case _: IllegalArgumentException => () }
    }
    val ok = NpySource.encodeNpy(Seq(2, 5, 4), DType.U16, pseudo(80, 9))
    for (_ <- 1 to 1000) {
      val mut = ok.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      try {
        for ((h, w, dt, px) <- NpySource.decodeFrames(mut))
          assert(h > 0 && w > 0 && px.length == h * w * DType.of(dt).bytes)
      } catch { case _: IllegalArgumentException => () }
    }
    for (n <- 0 until ok.length)
      try { NpySource.decodeFrames(java.util.Arrays.copyOf(ok, n)); () }
      catch { case _: IllegalArgumentException => () }
    // npz leg: truncations and flips of a valid container
    val z = NpySource.encodeNpz(Seq("a.npy" -> ok))
    for (n <- 0 until z.length)
      try { NpySource.decodeFrames(java.util.Arrays.copyOf(z, n)); () }
      catch { case _: IllegalArgumentException => () }
  }

  test("writeNpy exports blocks as .npy files that readNpy round-trips") {
    import graft.tensor.TBlock
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_npy_write")
    val h = 3; val w = 4
    val blocks = (0 until 4).map { f =>
      TBlock("exp", Seq(f, 0, 0), Seq(f, 0, 0), Seq(1, h, w), Seq(1, h, w),
        Seq(4, h, w), DType.F64.name, {
          val b = java.nio.ByteBuffer.allocate(h * w * 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (0 until h * w).foreach(i => b.putDouble(i * 0.5 + f * 100))
          b.array()
        })
    }
    graft.sources.NpySource.writeNpy(s.createDataset(blocks).repartition(2), s"$dir/store")
    val back = graft.sources.NpySource.readNpy(spark, s"$dir/store/*.npy")
      .collect().sortBy(_.origin.head)
    assert(back.length == 4)
    for ((b, k) <- back.zipWithIndex) {
      assert(b.origin.head == k && b.dtype == DType.F64.name)
      assert(b.data.sameElements(blocks(k).data), s"frame $k payload differs")
    }
  }

  test("writeNpy: spatially chunked blocks sharing a frame do not clobber each other") {
    import graft.tensor.TBlock
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_npy_chunks")
    // two blocks of frame 0 at different spatial origins — a
    // leading-index-only file name would write both to one path
    val blocks = Seq(
      TBlock("c", Seq(0, 0, 0), Seq(0, 0, 0), Seq(1, 2, 2), Seq(1, 2, 2),
        Seq(1, 4, 2), DType.U8.name, Array[Byte](1, 2, 3, 4)),
      TBlock("c", Seq(0, 1, 0), Seq(0, 2, 0), Seq(1, 2, 2), Seq(1, 2, 2),
        Seq(1, 4, 2), DType.U8.name, Array[Byte](5, 6, 7, 8)))
    graft.sources.NpySource.writeNpy(s.createDataset(blocks), s"$dir/store")
    val files = new java.io.File(s"$dir/store").listFiles()
      .map(_.getName).filter(_.endsWith(".npy")).sorted
    assert(files.length == 2, s"both blocks must land as files: ${files.toSeq}")
    val payloads = files.map(f => graft.sources.NpySource.decodeNpy(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/store", f)))._3.toSeq).toSet
    assert(payloads == Set(Seq[Byte](1, 2, 3, 4), Seq[Byte](5, 6, 7, 8)))
  }

  test("V2 npy codec: values match readNpy, frame predicate prunes files, pruned columns decode header-only") {
    import graft.sources.v2.ImageBlockSource
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_npy_v2")
    val h = 4; val w = 5
    for (f <- 0 until 4) {
      val b = new Array[Byte](h * w * 2)
      for (i <- 0 until h * w) {
        val v = (i * 7 + f * 1000) & 0xffff
        b(2 * i) = (v & 0xff).toByte; b(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      java.nio.file.Files.write(dir.resolve(f"frame_$f%03d.npy"),
        NpySource.encodeNpy(Seq(h, w), DType.U16, b))
    }
    val full = ImageBlockSource.read(spark, s"$dir/*.npy", "npy")
    assert(full.rdd.getNumPartitions == 4)
    val rows = full.collect().sortBy(_.getInt(0))
    assert(rows.length == 4)
    // value check against the formula on the native uint16 payload
    assert(rows.forall(_.getString(7) == "uint16"))
    val d0 = rows(0).getAs[Array[Byte]](8)
    assert(DType.U16.read(d0, 3) == 21.0 && d0.length == h * w * 2)
    val pruned = full.filter(col("frame") >= 3)
    assert(pruned.rdd.getNumPartitions == 1, "frame filter must prune files")
    // column-pruned metadata read works on a TRUNCATED file: only the
    // header is touched when `data` is never required
    // keep the (64-aligned) header plus a few data bytes, far short of
    // the h*w*2 payload a full decode would demand
    val cut = java.nio.file.Files.readAllBytes(dir.resolve("frame_000.npy")).take(140)
    val mdir = java.nio.file.Files.createTempDirectory("graft_npy_v2_meta")
    java.nio.file.Files.write(mdir.resolve("only.npy"), cut)
    val meta = ImageBlockSource.read(spark, s"$mdir/*.npy", "npy")
      .select("frame", "shape", "dtype").collect()
    assert(meta.length == 1 && meta.head.getSeq[Int](1) == Seq(1, h, w),
      "header-only decode must not need the data bytes")
    assert(meta.head.getString(2) == "uint16", "header-only decode must still report the dtype")
  }

  test("V2 npy codec keeps int64 payloads native: 2^53 + 1 reads back exactly") {
    import graft.sources.v2.ImageBlockSource
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = java.nio.file.Files.createTempDirectory("graft_npy_v2_i64")
    // 2^53 + 1 is the first integer a float64 cannot hold
    val vals = Array((1L << 53) + 1, -((1L << 53) + 1), Long.MaxValue, 0L, 7L, Long.MinValue)
    val buf = ByteBuffer.allocate(8 * vals.length).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(buf.putLong)
    java.nio.file.Files.write(dir.resolve("big.npy"),
      NpySource.encodeNpy(Seq(2, 3), DType.I64, buf.array))
    val Array(b) = ImageBlockSource.blocks(
      ImageBlockSource.read(spark, s"$dir/*.npy", "npy")).collect()
    assert(b.dtype == "int64" && b.shape == Seq(1, 2, 3))
    val back = ByteBuffer.wrap(b.data).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    assert(vals.indices.map(back.get) == vals.toSeq, "int64 values changed through graft-image")
  }

  test("readNpy stacks npy and npz files across a glob with typed payloads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_npy_spec")
    val h = 5; val w = 7
    def plane(k: Int): Array[Byte] = {
      val b = new Array[Byte](h * w * 2)
      for (i <- 0 until h * w) {
        val v = (i * 3 + 101 * k) & 0xffff
        b(2 * i) = (v & 0xff).toByte
        b(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      b
    }
    // file a: big-endian 2-frame cube; file b: an npz UNDER A .npy NAME
    // (content dispatch) holding frame 2
    java.nio.file.Files.write(dir.resolve("a.npy"),
      NpySource.encodeNpy(Seq(2, h, w), DType.U16,
        plane(0) ++ plane(1), bigEndian = true))
    java.nio.file.Files.write(dir.resolve("b.npy"),
      NpySource.encodeNpz(Seq("only.npy" ->
        NpySource.encodeNpy(Seq(h, w), DType.U16, plane(2)))))
    val blocks = NpySource.readNpy(spark, s"$dir/*.npy").collect().sortBy(_.origin.head)
    assert(blocks.length == 3)
    for ((b, k) <- blocks.zipWithIndex) {
      assert(b.origin == Seq(k, 0, 0))
      assert(b.shape == Seq(1, h, w))
      assert(b.dtype == DType.U16.name)
      assert(b.data.sameElements(plane(k)), s"frame $k payload differs")
    }
  }
}
