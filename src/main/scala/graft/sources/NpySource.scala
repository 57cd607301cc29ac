package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.tensor.{DType, TBlock}

/** NumPy `.npy` / `.npz` source — the array-interchange container of
  * the reference's whole ecosystem (dask-image sits on numpy arrays;
  * `np.save`-ed chunks are how tensors actually land in a lake next to
  * TIFF/FITS). Implemented clean-room against the PUBLIC `.npy` format
  * description (numpy `lib/format` docs): magic `\x93NUMPY`, version
  * 1.0 (u16le header length) or 2.0 (u32le), then an ASCII literal
  * `{'descr': '<u2', 'fortran_order': False, 'shape': (2, 48, 64), }`
  * padded to a 64-byte boundary, then raw C-order data. An `.npz` is a
  * plain ZIP of `.npy` members (`numpy.savez`), read through
  * `java.util.zip` — and because numpy itself dispatches on CONTENT,
  * not extension, so does this reader: a ZIP payload under a `.npy`
  * name decodes as an npz container.
  *
  * Typed end to end: `descr` maps onto the engine's [[DType]] codes
  * (u8/i8/bool/u16/i16/u32/i32/u64/i64/f16/f32/f64); big-endian
  * (`>`-prefixed) payloads are byte-swapped once at decode so
  * downstream kernels only ever see the engine's little-endian TBlock
  * convention. `fortran_order: True` and native-order `'='` descrs are
  * rejected loudly (silently transposing a 100 TB lake is the bug you
  * find a month later). A 2-d array is one frame; a 3-d array is a
  * C-order frame cube (plane-major — the multi-frame shape shared with
  * TIFF/FITS); npz members stack in ZIP order, the insertion order
  * numpy's NpzFile preserves (name-sorting would permute arr_10 before
  * arr_2 on an 11-array savez).
  *
  * Distributed read mirrors FITS: [[ImageSource.pagedFiles]] numbers
  * frames with a metadata-only header parse, decode is one task per
  * file, and [[ImageSource.stackFrames]] regroups into nframes
  * chunks carrying native-width payloads.
  */
object NpySource {

  private val Magic: Array[Byte] = 0x93.toByte +: "NUMPY".getBytes(US_ASCII)
  private val MaxDecode = 1L << 30

  private val descrToDType: Map[String, DType] = Map(
    "u1" -> DType.U8, "i1" -> DType.I8, "b1" -> DType.BOOL,
    "u2" -> DType.U16, "i2" -> DType.I16, "f2" -> DType.F16,
    "u4" -> DType.U32, "i4" -> DType.I32, "f4" -> DType.F32,
    "u8" -> DType.U64, "i8" -> DType.I64, "f8" -> DType.F64)

  /** Parsed header: (data offset, dtype, big-endian?, shape). */
  private[graft] def npyMeta(bytes: Array[Byte]): (Int, DType, Boolean, Seq[Int]) = {
    require(bytes.length >= 10, "npy: shorter than the magic + version")
    require((0 until 6).forall(i => bytes(i) == Magic(i)), "npy: bad magic")
    val major = bytes(6) & 0xff
    require(major == 1 || major == 2, s"npy: unsupported version $major")
    val (hlen, hoff) =
      if (major == 1) ((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8), 10)
      else {
        require(bytes.length >= 12, "npy: truncated v2 header length")
        val l = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8) |
          ((bytes(10) & 0xff) << 16) | ((bytes(11) & 0xff) << 24)
        require(l >= 0, "npy: negative v2 header length")
        (l, 12)
      }
    require(hoff + hlen.toLong <= bytes.length, "npy: truncated header")
    val header = new String(bytes, hoff, hlen, US_ASCII)
    val descrRe = """'descr'\s*:\s*'([<>|=])([a-z]\d)'""".r
    val orderRe = """'fortran_order'\s*:\s*(True|False)""".r
    val shapeRe = """'shape'\s*:\s*\(([^)]*)\)""".r
    val (endian, code) = descrRe.findFirstMatchIn(header) match {
      case Some(m) => (m.group(1), m.group(2))
      case None => throw new IllegalArgumentException(
        s"npy: missing or non-scalar 'descr' in header")
    }
    require(endian != "=", "npy: native-order '=' descr is ambiguous; refuse")
    val dt = descrToDType.getOrElse(code,
      throw new IllegalArgumentException(s"npy: unsupported descr code '$code'"))
    require(endian != "|" || dt.bytes == 1,
      s"npy: '|' order on multi-byte descr '$code'")
    val fortran = orderRe.findFirstMatchIn(header) match {
      case Some(m) => m.group(1) == "True"
      case None => throw new IllegalArgumentException("npy: missing 'fortran_order'")
    }
    require(!fortran, "npy: fortran_order arrays unsupported (C order only)")
    val shape = shapeRe.findFirstMatchIn(header) match {
      case Some(m) =>
        val parts = m.group(1).split(',').map(_.trim).filter(_.nonEmpty)
        parts.map { p =>
          val v = try p.toLong catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(s"npy: non-integer axis '$p'")
          }
          require(v > 0 && v <= Int.MaxValue, s"npy: bad axis length $v")
          v.toInt
        }.toSeq
      case None => throw new IllegalArgumentException("npy: missing 'shape'")
    }
    require(shape.nonEmpty, "npy: zero-dimensional array")
    val total = shape.foldLeft(1L)(_ * _) * dt.bytes
    require(total <= MaxDecode, s"npy: $total B exceeds the 1 GiB decode bound")
    (hoff + hlen, dt, endian == ">", shape)
  }

  /** Decode one `.npy` payload to (shape, dtype, little-endian data). */
  private[graft] def decodeNpy(bytes: Array[Byte]): (Seq[Int], DType, Array[Byte]) = {
    val (off, dt, be, shape) = npyMeta(bytes)
    val n = shape.foldLeft(1L)(_ * _).toInt
    val size = n * dt.bytes
    require(off + size.toLong <= bytes.length, "npy: truncated data")
    val out = new Array[Byte](size)
    if (!be || dt.bytes == 1)
      System.arraycopy(bytes, off, out, 0, size)
    else {
      val w = dt.bytes
      var i = 0
      while (i < n) {
        var b = 0
        while (b < w) { out(i * w + b) = bytes(off + i * w + (w - 1 - b)); b += 1 }
        i += 1
      }
    }
    (shape, dt, out)
  }

  // --------------------------------------------------------------- npz
  private def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4

  /** The members of an `.npz` in ZIP (= insertion) order — what
    * numpy's NpzFile.files preserves. NOT name-sorted: `np.savez` with
    * 11+ arrays writes arr_0..arr_10 in insertion order, and a
    * lexicographic sort would permute arr_10 before arr_2. */
  private[graft] def npzEntries(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(isZip(bytes), "npz: not a ZIP container")
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = Seq.newBuilder[(String, Array[Byte])]
    try {
      var e = zin.getNextEntry
      var total = 0L
      while (e != null) {
        val bos = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var r = zin.read(buf)
        while (r > 0) {
          total += r
          require(total <= MaxDecode, "npz: members exceed the 1 GiB decode bound")
          bos.write(buf, 0, r); r = zin.read(buf)
        }
        out += ((e.getName, bos.toByteArray))
        e = zin.getNextEntry
      }
    } catch {
      case z: java.util.zip.ZipException =>
        throw new IllegalArgumentException(s"npz: corrupt ZIP: ${z.getMessage}")
      case _: java.io.EOFException =>
        throw new IllegalArgumentException("npz: truncated ZIP stream")
    } finally zin.close()
    val r = out.result()
    require(r.nonEmpty, "npz: empty container")
    r
  }

  /** Per-file frames as (h, w, dtype, little-endian plane). */
  private[graft] def decodeFrames(bytes: Array[Byte]): Seq[(Int, Int, String, Array[Byte])] = {
    val arrays =
      if (isZip(bytes)) npzEntries(bytes).map(e => decodeNpy(e._2))
      else Seq(decodeNpy(bytes))
    arrays.flatMap { case (shape, dt, data) =>
      shape match {
        case Seq(h, w) => Seq((h, w, dt.name, data))
        case Seq(nf, h, w) =>
          val fb = h * w * dt.bytes
          (0 until nf).map(f =>
            (h, w, dt.name, java.util.Arrays.copyOfRange(data, f * fb, (f + 1) * fb)))
        case other => throw new IllegalArgumentException(
          s"npy: image surface needs 2-d or 3-d arrays, got ${other.length}-d")
      }
    }
  }

  private def plainFrameCount(bytes: Array[Byte]): Long =
    npyMeta(bytes) match {
      case (_, _, _, Seq(_, _)) => 1L
      case (_, _, _, Seq(nf, _, _)) => nf.toLong
      case (_, _, _, s) => throw new IllegalArgumentException(
        s"npy: image surface needs 2-d or 3-d arrays, got ${s.length}-d")
    }

  /** Frame count for the metadata pass. Members must be PLAIN `.npy`
    * (exactly what [[decodeFrames]] accepts — a nested ZIP member fails
    * here with the same exception it would fail with at decode, so the
    * two passes always agree, and a self-referential ZIP cannot recurse). */
  private[graft] def npyFrameCount(bytes: Array[Byte]): Long =
    if (isZip(bytes)) npzEntries(bytes).map(e => plainFrameCount(e._2)).sum
    else plainFrameCount(bytes)

  // ------------------------------------------------------------ encode
  /** Encode little-endian C-order data as `.npy` — fixtures, specs and
    * round trips. `bigEndian` writes a `>`-descr with swapped payload
    * (the cross-platform file a BE producer ships). */
  private[graft] def encodeNpy(shape: Seq[Int], dt: DType, data: Array[Byte],
      bigEndian: Boolean = false, version: Int = 1): Array[Byte] = {
    val n = shape.foldLeft(1L)(_ * _)
    require(n * dt.bytes == data.length,
      s"npy: ${data.length} B does not match shape $shape × ${dt.bytes} B")
    val code = descrToDType.collectFirst { case (k, v) if v == dt => k }
      .getOrElse(throw new IllegalArgumentException(s"npy: no descr for ${dt.name}"))
    val order = if (dt.bytes == 1) "|" else if (bigEndian) ">" else "<"
    val shapeTxt = shape.mkString("(", ", ", if (shape.length == 1) ",)" else ")")
    val dict = s"{'descr': '$order$code', 'fortran_order': False, 'shape': $shapeTxt, }"
    val prefix = if (version == 1) 10 else 12
    val pad = (64 - (prefix + dict.length + 1) % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val bos = new ByteArrayOutputStream()
    bos.write(Magic, 0, Magic.length)
    bos.write(version); bos.write(0)
    bos.write(header.length & 0xff); bos.write((header.length >> 8) & 0xff)
    if (version == 2) { bos.write(0); bos.write(0) }
    bos.write(header.getBytes(US_ASCII))
    if (!bigEndian || dt.bytes == 1) bos.write(data)
    else {
      val w = dt.bytes
      var i = 0
      while (i < n.toInt) {
        var b = w - 1
        while (b >= 0) { bos.write(data(i * w + b) & 0xff); b -= 1 }
        i += 1
      }
    }
    bos.toByteArray
  }

  /** ZIP the given members as an `.npz` (numpy.savez layout). */
  private[graft] def encodeNpz(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    for ((name, body) <- members) {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(body)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  // ------------------------------------------------------------- write
  /** Export a typed block tensor as one `.npy` file per block — the
    * `np.save` interchange OUT (a numpy/dask consumer reads the
    * directory back with `np.load` per file or through [[readNpy]]).
    * File names zero-pad EVERY origin coordinate (a leading-index-only
    * name would silently clobber spatially chunked blocks that share a
    * frame), so lexicographic glob order IS origin order on read-back.
    *
    * Scale posture: one pass, no shuffle — each executor writes its own
    * blocks through the Hadoop FileSystem of `dir`, resolved from the
    * DRIVER session's Hadoop configuration (captured like the V2
    * reader's, so s3a credentials / fs overrides apply on the write
    * path too). */
  def writeNpy(blocks: Dataset[TBlock], dir: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      blocks.sparkSession.sparkContext.hadoopConfiguration)
    blocks.foreachPartition { (it: Iterator[TBlock]) =>
      val base = new org.apache.hadoop.fs.Path(dir)
      val fs = base.getFileSystem(conf.value)
      fs.mkdirs(base)
      it.foreach { b =>
        require(b.shape.length == 2 || b.shape.length == 3,
          s"npy export: 2-d/3-d blocks only, got ${b.shape.length}-d")
        val name =
          b.imageId + "_" + b.origin.map(i => f"$i%05d").mkString("_") + ".npy"
        val out = fs.create(new org.apache.hadoop.fs.Path(base, name), true)
        try out.write(encodeNpy(b.shape, b.dt, b.data))
        finally out.close()
      }
    }
  }

  // -------------------------------------------------------------- read
  /** Read a glob of `.npy`/`.npz` files as one stacked typed grayscale
    * image — the [[FitsSource.readFits]] surface: frame bases from the
    * distributed metadata pass, native-width typed payloads. */
  def readNpy(spark: SparkSession, glob: String, imageId: String = "imread_npy",
      nframes: Int = 1): Dataset[TBlock] = {
    import spark.implicits._
    val (paged, total) = ImageSource.pagedFiles(spark, glob, npyFrameCount)
    val frames = paged.flatMap { case (base, bytes) =>
      decodeFrames(bytes).zipWithIndex.map { case ((h, w, dt, px), pg) =>
        ((base + pg).toInt, h, w, dt, px)
      }
    }
    ImageSource.stackFrames(frames, imageId, total, nframes)
  }
}
