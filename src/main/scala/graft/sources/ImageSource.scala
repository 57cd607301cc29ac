package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.tensor.{DType, TBlock}

/** Image file source — the reference's `imread` analog
  * (dask_image/imread/__init__.py::imread ≈ L15–95: lazily expose a
  * file/glob as an array with one chunk per frame).
  *
  * Spark-native shape: `spark.read.format("binaryFile")` scans the glob
  * (distributed, one task per file), a per-file decoder turns each frame
  * into one TBlock row keyed by frame index, its payload in the file's
  * own dtype (uint8 or uint16). Frames stack on a leading
  * axis exactly like the reference's nframes chunking. Codecs: binary
  * PGM (P5), PNG (grayscale, via the JDK's javax.imageio — no extra
  * dependency), and baseline TIFF (uncompressed grayscale 8/16-bit, II/MM,
  * multi-page — the reference's primary format); other decoders plug into
  * the same seam.
  */
object ImageSource {

  /** Read a glob of grayscale image files as one stacked image in the
    * files' own dtype: block idx = (frame, 0, 0), one chunk per frame
    * (the imread contract). Frame order is the sorted file path order,
    * matching glob-sorted imread. Every decoder emits packed uint8/uint16
    * payloads (the file's own sample width), frames stack in the byte
    * domain, and the `nframes` grouping shuffle moves 1–2 bytes/pixel
    * (SURVEY §1.1; byte widths pinned in ImageSourceSpec).
    *
    * Frame indexing is fully distributed: paths (metadata only — column
    * pruning keeps file CONTENT out of this pass entirely) are
    * range-sorted and numbered with `zipWithIndex` — per-partition counts
    * plus driver offsets, the same idiom Measure.label uses for dense
    * ranking; there is no single-partition global window, so an imaging
    * lake with millions of files numbers in parallel. Pixels join back on
    * path and move through one hash shuffle (a broadcast of the index
    * when the file list is small — AQE picks).
    */
  def readFrames(spark: SparkSession, glob: String, codec: String,
      imageId: String = "imread", nframes: Int = 1): Dataset[TBlock] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content"))
    val (indexed, nFrames) = numberFrames(files)
    val withFrames = files.join(indexed, "path")
      .select(col("frame"), col("content"))
      .as[(Int, Array[Byte])]
    val frames = withFrames.map { case (frame, bytes) =>
      val (h, w, dt, px) = codec match {
        case "pgm" => decodePgm(bytes)
        case "png" => decodePng(bytes)
        case other => throw new IllegalArgumentException(s"imread codec: $other")
      }
      (frame, h, w, dt, px)
    }
    stackFrames(frames, imageId, nFrames, nframes)
  }

  /** One frame per file: (path, frame) rows numbering `files` in sorted
    * path order, and the frame count. Only the path column is read (no
    * file content); the tiny rows are materialized so the count and the
    * caller's decode join reuse one sort instead of re-running it. */
  private def numberFrames(files: DataFrame): (DataFrame, Int) = {
    import files.sparkSession.implicits._
    val indexed = Materialize(files.select(col("path")).as[String].rdd
      .sortBy(identity).zipWithIndex()
      .map { case (p, i) => (p, i.toInt) }
      .toDF("path", "frame"))
    (indexed, indexed.count().toInt)
  }

  /** Assemble decoded frames into typed blocks with `nframes` frames per
    * chunk along the leading axis — the reference imread's `nframes`
    * parameter (chunking knob for tiny-frame stacks). nframes=1 is a
    * narrow map; larger values shuffle each group of frames (as native
    * bytes) to one assembling task. */
  private[sources] def stackFrames(frames: Dataset[(Int, Int, Int, String, Array[Byte])],
      imageId: String, total: Int, nframes: Int): Dataset[TBlock] = {
    val spark = frames.sparkSession
    import spark.implicits._
    require(nframes >= 1, "imread: nframes must be >= 1")
    if (nframes == 1)
      frames.map { case (f, h, w, dt, px) =>
        TBlock(imageId, Seq(f, 0, 0), Seq(f, 0, 0), Seq(1, h, w), Seq(1, h, w),
          Seq(total, h, w), dt, px)
      }
    else
      frames.groupByKey(_._1 / nframes).mapGroups { (ci, it) =>
        val fs = it.toArray.sortBy(_._1)
        val h = fs.head._2; val w = fs.head._3; val dt = fs.head._4
        require(fs.forall(f => f._2 == h && f._3 == w && f._4 == dt),
          "imread: frames in one chunk must share dimensions and dtype")
        val elemBytes = DType.of(dt).bytes
        val data = new Array[Byte](fs.length * h * w * elemBytes)
        var i = 0
        while (i < fs.length) {
          System.arraycopy(fs(i)._5, 0, data, i * h * w * elemBytes, h * w * elemBytes)
          i += 1
        }
        TBlock(imageId, Seq(ci, 0, 0), Seq(ci * nframes, 0, 0), Seq(fs.length, h, w),
          Seq(nframes, h, w), Seq(total, h, w), dt, data)
      }
  }

  def readPgm(spark: SparkSession, glob: String, imageId: String = "imread",
      nframes: Int = 1): Dataset[TBlock] =
    readFrames(spark, glob, "pgm", imageId, nframes)

  def readPng(spark: SparkSession, glob: String, imageId: String = "imread",
      nframes: Int = 1): Dataset[TBlock] =
    readFrames(spark, glob, "png", imageId, nframes)

  /** TIFF imread — the reference's primary format: u8 files yield uint8
    * blocks, 16-bit files yield uint16. Unlike PGM/PNG, one TIFF file
    * can hold many frames (multi-IFD), so frame indexing runs in two
    * passes: a metadata-only pass counts pages per file (only
    * (path, count) rows enter the distributed prefix sum — never
    * pixels), then the decode pass emits `base + page` frame ids. */
  def readTiff(spark: SparkSession, glob: String, imageId: String = "imread",
      nframes: Int = 1): Dataset[TBlock] = {
    import spark.implicits._
    val (paged, total) = pagedFiles(spark, glob, b => tiffPageCount(b))
    val frames = paged.flatMap { case (base, bytes) =>
      decodeTiff(bytes).zipWithIndex.map { case ((h, w, dt, px), pg) =>
        ((base + pg).toInt, h, w, dt, px)
      }
    }
    stackFrames(frames, imageId, total, nframes)
  }

  /** Distributed frame numbering for MULTI-PAGE formats (TIFF, animated
    * GIF): a metadata-only pass counts pages per file — one tiny
    * (path, np) row each, eagerly materialized so the prefix-sum sort,
    * the `total` action and the decode join don't each re-run the count
    * pass (i.e. re-read every file's bytes) — then a range-sort +
    * per-partition prefix sum assigns cumulative frame bases. Driver
    * state is ONE Long per partition, not per file, and there is no
    * single-partition global window, so millions of files number in
    * parallel. Returns the (base, content) rows for the decode pass and
    * the total frame count. */
  private[sources] def pagedFiles(spark: SparkSession, glob: String,
      pageCount: Array[Byte] => Long): (Dataset[(Long, Array[Byte])], Int) = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content"))
    val counts = Materialize(files.as[(String, Array[Byte])]
      .map { case (p, b) => (p, pageCount(b)) }.toDF("path", "np"))
    val sorted = counts.as[(String, Long)].rdd.sortBy(_._1)
    val partSums = sorted
      .mapPartitionsWithIndex { (i, it) => Iterator((i, it.map(_._2).sum)) }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val based = sorted.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { case (p, np) => val b = acc; acc += np; (p, b) }
    }.toDF("path", "base")
    val total = offsets.last.toInt
    (files.join(based, "path").select(col("base"), col("content"))
      .as[(Long, Array[Byte])], total)
  }

  /** PGM (P5) header parse: (h, w, dtype, payload offset) without
    * touching pixel bytes — maxval < 256 means uint8 samples, otherwise
    * uint16. Lets a column-pruned V2 scan answer metadata queries (dims
    * and dtype) decode-free, and is the header half of [[decodePgm]].
    *
    * PREFIX-SAFE (r13, advisor item): callers may hand a truncated
    * header prefix (the V2 pruned path reads 64 KiB). A numeric token
    * cut at the buffer boundary would parse a PREFIX of its digits —
    * silently wrong dims, no exception — so every token must be
    * TERMINATED by a whitespace byte inside the buffer, else this
    * throws IllegalArgumentException and the caller's full-read
    * fallback engages. (On a whole file the terminator always exists:
    * the payload follows maxval.) An empty token (`"".toInt`) throws
    * NumberFormatException, which IS an IllegalArgumentException, so it
    * reaches the same fallback. */
  private[graft] def pgmHeader(bytes: Array[Byte]): (Int, Int, DType, Int) = {
    // ASCII header tokens, skipping comment lines
    var pos = 0
    def token(): String = {
      val sb = new StringBuilder
      while (pos < bytes.length && bytes(pos).toChar.isWhitespace) pos += 1
      while (pos < bytes.length && bytes(pos).toChar == '#') {
        while (pos < bytes.length && bytes(pos).toChar != '\n') pos += 1
        while (pos < bytes.length && bytes(pos).toChar.isWhitespace) pos += 1
      }
      while (pos < bytes.length && !bytes(pos).toChar.isWhitespace) {
        sb.append(bytes(pos).toChar); pos += 1
      }
      require(pos < bytes.length,
        "pgm header token hit the buffer boundary (possibly truncated)")
      sb.toString
    }
    val magic = token()
    require(magic == "P5", s"not a binary PGM: $magic")
    val w = token().toInt; val h = token().toInt
    require(w > 0 && h > 0, s"pgm dims out of range: $w x $h")
    val maxval = token().toInt
    require(maxval > 0 && maxval < 65536, "PGM maxval out of range")
    // a single whitespace byte separates maxval from the samples
    (h, w, if (maxval < 256) DType.U8 else DType.U16, pos + 1)
  }

  /** Binary PGM (P5) decoder: header "P5 <w> <h> <maxval>" then raw
    * samples. uint8 → the pixel run IS the payload (one slice copy);
    * uint16 → the file's big-endian samples repack to the engine's
    * little-endian uint16. */
  private[graft] def decodePgm(bytes: Array[Byte]): (Int, Int, String, Array[Byte]) = {
    val (h, w, dt, pos) = pgmHeader(bytes)
    if (dt == DType.U8)
      (h, w, dt.name, java.util.Arrays.copyOfRange(bytes, pos, pos + h * w))
    else {
      val out = new Array[Byte](h * w * 2)
      var i = 0
      while (i < h * w) {
        out(2 * i) = bytes(pos + 2 * i + 1) // PGM samples are big-endian
        out(2 * i + 1) = bytes(pos + 2 * i)
        i += 1
      }
      (h, w, dt.name, out)
    }
  }

  /** PNG decoder via the JDK's ImageIO — first band (grayscale
    * sample) per pixel, at the file's own sample width (8-bit → uint8,
    * 16-bit → uint16 LE). */
  private[graft] def decodePng(bytes: Array[Byte]): (Int, Int, String, Array[Byte]) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "not a decodable image")
    val h = img.getHeight; val w = img.getWidth
    val raster = img.getRaster
    val depth = raster.getSampleModel.getSampleSize(0)
    if (depth <= 8) {
      val out = new Array[Byte](h * w)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = raster.getSample(x, y, 0).toByte; x += 1 }
        y += 1
      }
      (h, w, DType.U8.name, out)
    } else {
      val out = new Array[Byte](h * w * 2)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = raster.getSample(x, y, 0)
          out(2 * (y * w + x)) = (v & 0xff).toByte
          out(2 * (y * w + x) + 1) = ((v >> 8) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      (h, w, DType.U16.name, out)
    }
  }

  // ------------------------------------------------------------------ TIFF

  private def tiffOrder(bytes: Array[Byte]): Boolean = {
    require(bytes.length >= 8, "truncated TIFF")
    val le = (bytes(0).toChar, bytes(1).toChar) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => throw new IllegalArgumentException("not a TIFF: bad byte-order mark")
    }
    le
  }

  private def tU16(bytes: Array[Byte], off: Int, le: Boolean): Int =
    if (le) (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    else ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)

  private def tU32(bytes: Array[Byte], off: Int, le: Boolean): Long =
    if (le) tU16(bytes, off, le).toLong | (tU16(bytes, off + 2, le).toLong << 16)
    else (tU16(bytes, off, le).toLong << 16) | tU16(bytes, off + 2, le).toLong

  private def tU64(bytes: Array[Byte], off: Int, le: Boolean): Long =
    if (le) tU32(bytes, off, le) | (tU32(bytes, off + 4, le) << 32)
    else (tU32(bytes, off, le) << 32) | tU32(bytes, off + 4, le)

  /** A file offset must index the in-memory byte array: BigTIFF offsets
    * are 8-byte, but one task decodes one file from one JVM byte array,
    * so >2 GiB single files fail loudly here (split such acquisitions
    * into per-frame files upstream). */
  private def asIdx(v: Long, what: String): Int = {
    require(v >= 0 && v <= Int.MaxValue, s"TIFF: $what offset $v exceeds the 2 GiB single-file limit")
    v.toInt
  }

  /** Header parse: classic (magic 42, 4-byte offsets) or BigTIFF
    * (magic 43, 8-byte offsets). Returns (littleEndian, big, firstIfd). */
  private def tiffHeader(bytes: Array[Byte]): (Boolean, Boolean, Long) = {
    val le = tiffOrder(bytes)
    tU16(bytes, 2, le) match {
      case 42 => (le, false, tU32(bytes, 4, le))
      case 43 =>
        require(tU16(bytes, 4, le) == 8 && tU16(bytes, 6, le) == 0,
          "BigTIFF: offset size must be 8")
        (le, true, tU64(bytes, 8, le))
      case m => throw new IllegalArgumentException(s"not a TIFF: bad magic $m")
    }
  }

  /** Number of IFDs (pages) — metadata-only walk, no pixel access.
    * Classic and BigTIFF (8-byte entry counts and next-IFD pointers). */
  private[graft] def tiffPageCount(bytes: Array[Byte]): Long = {
    val (le, big, first) = tiffHeader(bytes)
    var ifd = asIdx(first, "IFD")
    var n = 0L
    while (ifd != 0) {
      n += 1
      val entries = if (big) tU64(bytes, ifd, le) else tU16(bytes, ifd, le).toLong
      val next = ifd + (if (big) 8 else 2) + (if (big) 20 else 12) * entries.toInt
      ifd = asIdx(if (big) tU64(bytes, next, le) else tU32(bytes, next, le), "IFD")
    }
    n
  }

  /** Baseline TIFF decoder: uncompressed (Compression=1), LZW
    * (Compression=5, incl. horizontal-differencing Predictor=2), deflate
    * or PackBits grayscale (SamplesPerPixel=1), 8- or 16-bit unsigned,
    * STRIP- or TILE-organized, classic or BigTIFF, II or MM byte order,
    * one (h, w, dtype, LE-packed payload) per IFD page — 8-bit pages
    * stay uint8 (decompressed segments ARE the payload), 16-bit pages
    * normalize the file byte order to uint16 LE. Tiles are padded to the
    * full tile geometry in the file (TIFF 6.0 §15); only the valid
    * region is copied out. */
  private[graft] def decodeTiff(bytes: Array[Byte]): Seq[(Int, Int, String, Array[Byte])] = {
    val (le, big, first) = tiffHeader(bytes)
    var ifd = asIdx(first, "IFD")
    val entrySize = if (big) 20 else 12
    val inlineCap = if (big) 8 else 4
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, Array[Byte])]
    while (ifd != 0) {
      val n = (if (big) tU64(bytes, ifd, le) else tU16(bytes, ifd, le).toLong).toInt
      val entriesStart = ifd + (if (big) 8 else 2)
      var width = -1L; var height = -1L; var bps = 1L; var comp = 1L
      var spp = 1L; var rps = Long.MaxValue; var pred = 1L
      var tileW = -1L; var tileL = -1L
      var stripOffs: Array[Long] = Array.empty
      var stripCounts: Array[Long] = Array.empty
      var tileOffs: Array[Long] = Array.empty
      var tileCounts: Array[Long] = Array.empty
      var e = 0
      while (e < n) {
        val off = entriesStart + entrySize * e
        val tag = tU16(bytes, off, le)
        val typ = tU16(bytes, off + 2, le)
        val cnt = (if (big) tU64(bytes, off + 4, le) else tU32(bytes, off + 4, le)).toInt
        val sz = typ match {
          case 1  => 1 // BYTE
          case 3  => 2 // SHORT
          case 4  => 4 // LONG
          case 16 => 8 // LONG8 (BigTIFF)
          case _  => 0 // types we never read (RATIONAL etc.)
        }
        val valPos = off + (if (big) 12 else 8)
        // values are inline (left-justified) when they fit the value field
        def vals: Array[Long] = {
          val base =
            if (sz != 0 && sz * cnt <= inlineCap) valPos
            else asIdx(if (big) tU64(bytes, valPos, le) else tU32(bytes, valPos, le), "entry")
          Array.tabulate(cnt) { i =>
            sz match {
              case 1 => (bytes(base + i) & 0xff).toLong
              case 2 => tU16(bytes, base + 2 * i, le).toLong
              case 4 => tU32(bytes, base + 4 * i, le)
              case _ => tU64(bytes, base + 8 * i, le)
            }
          }
        }
        tag match {
          case 256 => width = vals(0)
          case 257 => height = vals(0)
          case 258 => bps = vals(0)
          case 259 => comp = vals(0)
          case 273 => stripOffs = vals
          case 277 => spp = vals(0)
          case 278 => rps = vals(0)
          case 279 => stripCounts = vals
          case 317 => pred = vals(0)
          case 322 => tileW = vals(0)
          case 323 => tileL = vals(0)
          case 324 => tileOffs = vals
          case 325 => tileCounts = vals
          case 339 => require(vals(0) == 1L, "TIFF: only unsigned-int samples supported")
          case _   => // photometric, resolution, … not needed
        }
        e += 1
      }
      require(width > 0 && height > 0, "TIFF: missing dimensions")
      require(comp == 1L || comp == 5L || comp == 8L || comp == 32946L || comp == 32773L,
        s"TIFF: compression $comp unsupported (1=none, 5=LZW, 8/32946=deflate, 32773=PackBits)")
      require(spp == 1L, "TIFF: only single-sample (grayscale) supported")
      require(bps == 8L || bps == 16L, s"TIFF: $bps bits/sample unsupported")
      val tiled = tileOffs.nonEmpty
      require(pred == 1L || pred == 2L,
        s"TIFF: predictor $pred unsupported (1=none, 2=horizontal)")
      val h = height.toInt; val w = width.toInt
      val bytesPerPx = if (bps == 8L) 1 else 2
      val out = new Array[Byte](h * w * bytesPerPx)

      // Compressed segments need the real stream length: falling back to
      // expectedLen (the UNCOMPRESSED size) silently truncates any LZW/
      // PackBits stream that expanded past the raw size (possible on
      // tiny or noisy segments) and mis-decodes instead of failing.
      require(comp == 1L || (if (tiled) tileCounts.nonEmpty else stripCounts.nonEmpty),
        s"TIFF: compression $comp without the byte-count tag " +
          s"(${if (tiled) "325 TileByteCounts" else "279 StripByteCounts"}) — " +
          "stream lengths cannot be inferred")
      // one compressed segment (strip or tile) → raw bytes
      def segment(off: Int, compLen: Int, expectedLen: Int): Array[Byte] = comp match {
        case 1L =>
          java.util.Arrays.copyOfRange(bytes, off, off + expectedLen)
        case 5L =>
          lzwDecode(java.util.Arrays.copyOfRange(bytes, off, off + compLen), expectedLen)
        case 8L | 32946L =>
          inflate(java.util.Arrays.copyOfRange(bytes, off, off + compLen), expectedLen)
        case _ => // 32773 PackBits
          packBitsDecode(java.util.Arrays.copyOfRange(bytes, off, off + compLen), expectedLen)
      }
      // horizontal differencing over a segment of row width `sw` —
      // per 8-bit byte, or per 16-bit sample in the FILE's byte order
      // (TIFF 6.0 §14: the predictor operates on samples, pre-decode)
      def undiff(sb: Array[Byte], rows: Int, sw: Int): Unit = {
        var r = 0
        while (r < rows) {
          var cpos = 1
          while (cpos < sw) {
            if (bps == 8L)
              sb(r * sw + cpos) = (sb(r * sw + cpos) + sb(r * sw + cpos - 1)).toByte
            else {
              val o = (r * sw + cpos) * 2 // byte offset of the sample
              val v = (tU16(sb, o, le) + tU16(sb, o - 2, le)) & 0xffff
              if (le) { sb(o) = (v & 0xff).toByte; sb(o + 1) = ((v >> 8) & 0xff).toByte }
              else { sb(o) = ((v >> 8) & 0xff).toByte; sb(o + 1) = (v & 0xff).toByte }
            }
            cpos += 1
          }
          r += 1
        }
      }

      if (tiled) {
        require(tileW > 0 && tileL > 0, "TIFF: tiled page missing TileWidth/TileLength")
        val tw = tileW.toInt; val tl = tileL.toInt
        val tilesAcross = (w + tw - 1) / tw
        val tilesDown = (h + tl - 1) / tl
        require(tileOffs.length >= tilesAcross * tilesDown,
          s"TIFF: ${tileOffs.length} tiles < expected ${tilesAcross * tilesDown}")
        val expectedLen = tw * tl * bytesPerPx // tiles are always full-size padded
        var ty = 0
        while (ty < tilesDown) {
          var tx = 0
          while (tx < tilesAcross) {
            val idx = ty * tilesAcross + tx
            val sb = segment(asIdx(tileOffs(idx), "tile"),
              if (tileCounts.nonEmpty) tileCounts(idx).toInt else expectedLen, expectedLen)
            if (pred == 2L) undiff(sb, tl, tw)
            val rows = math.min(tl, h - ty * tl)
            val cols = math.min(tw, w - tx * tw)
            var r = 0
            while (r < rows) {
              val dstBase = (ty * tl + r) * w + tx * tw
              if (bps == 8L)
                System.arraycopy(sb, r * tw, out, dstBase, cols)
              else {
                var c = 0
                while (c < cols) {
                  val v = tU16(sb, (r * tw + c) * 2, le)
                  out(2 * (dstBase + c)) = (v & 0xff).toByte
                  out(2 * (dstBase + c) + 1) = ((v >> 8) & 0xff).toByte
                  c += 1
                }
              }
              r += 1
            }
            tx += 1
          }
          ty += 1
        }
      } else {
        val rowsPerStrip = math.min(rps, height).toInt
        var strip = 0
        var row = 0
        while (row < h) {
          val rows = math.min(rowsPerStrip, h - row)
          val expectedLen = rows * w * bytesPerPx
          val sb = segment(asIdx(stripOffs(strip), "strip"),
            if (stripCounts.nonEmpty) stripCounts(strip).toInt else expectedLen, expectedLen)
          if (pred == 2L) undiff(sb, rows, w)
          if (bps == 8L)
            System.arraycopy(sb, 0, out, row * w, rows * w)
          else {
            var i = row * w
            var p = 0
            val end = (row + rows) * w
            while (i < end) {
              val v = tU16(sb, p, le)
              out(2 * i) = (v & 0xff).toByte
              out(2 * i + 1) = ((v >> 8) & 0xff).toByte
              p += 2
              i += 1
            }
          }
          row += rows
          strip += 1
        }
      }
      frames += ((h, w, if (bps == 8L) DType.U8.name else DType.U16.name, out))
      val next = entriesStart + entrySize * n
      ifd = asIdx(if (big) tU64(bytes, next, le) else tU32(bytes, next, le), "IFD")
    }
    frames.toSeq
  }

  /** Deflate (zlib) strip — TIFF Compression 8 (and legacy 32946). */
  private[graft] def inflate(in: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(in)
    val out = new Array[Byte](expected)
    var pos = 0
    while (pos < expected && !inf.finished()) {
      val n = inf.inflate(out, pos, expected - pos)
      if (n == 0 && inf.needsInput()) {
        inf.end()
        throw new IllegalArgumentException("TIFF deflate: truncated strip")
      }
      pos += n
    }
    inf.end()
    out
  }

  /** PackBits strip — TIFF Compression 32773 (Apple RLE: n in 0..127 →
    * copy n+1 literals; n in -127..-1 → repeat next byte 1−n times;
    * -128 is a no-op). */
  private[graft] def packBitsDecode(in: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var ip = 0
    var op = 0
    while (op < expected && ip < in.length) {
      val n = in(ip)
      ip += 1
      if (n >= 0) {
        val cnt = n + 1
        System.arraycopy(in, ip, out, op, cnt)
        ip += cnt
        op += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        java.util.Arrays.fill(out, op, op + cnt, in(ip))
        ip += 1
        op += cnt
      }
    }
    out
  }

  /** PackBits encoder (round-trip/fixture support): literal runs broken
    * at repeats of ≥3, repeats capped at 128. */
  private[graft] def packBitsEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      // measure the repeat run at i
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(1 - run) // -(run-1)
        out.write(data(i))
        i += run
      } else {
        // literal run until the next ≥3 repeat (or 128 bytes)
        val start = i
        var j = i
        var done = false
        while (!done && j < data.length && j - start < 128) {
          var r = 1
          while (j + r < data.length && data(j + r) == data(j) && r < 3) r += 1
          if (r >= 3) done = true else j += r
        }
        val cnt = math.min(j, data.length) - start
        out.write(cnt - 1)
        out.write(data, start, cnt)
        i = start + cnt
      }
    }
    out.toByteArray
  }

  // TIFF LZW (spec + libtiff convention): MSB-first bit packing, codes
  // 256=Clear / 257=EOI, 9→12-bit widths with EARLY CHANGE (width bumps
  // when the table reaches 2^w − 1, one entry before GIF would).

  /** Decompress one TIFF-LZW strip to `expected` bytes. */
  private[graft] def lzwDecode(in: Array[Byte], expected: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(expected)
    val dict = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4096)
    def resetDict(): Unit = {
      dict.clear()
      var i = 0
      while (i < 256) { dict += Array(i.toByte); i += 1 }
      dict += null; dict += null // 256 Clear, 257 EOI
    }
    resetDict()
    var width = 9
    var bitPos = 0
    def nextCode(): Int = {
      if ((bitPos + width) > in.length * 8) return 257
      var v = 0
      var i = 0
      while (i < width) {
        val b = bitPos >> 3
        v = (v << 1) | ((in(b) >> (7 - (bitPos & 7))) & 1)
        bitPos += 1
        i += 1
      }
      v
    }
    var prev: Array[Byte] = null
    var done = false
    while (!done && out.size < expected) {
      val code = nextCode()
      if (code == 257) done = true
      else if (code == 256) { resetDict(); width = 9; prev = null }
      else {
        val entry =
          if (code < dict.size && dict(code) != null) dict(code)
          else prev :+ prev(0) // KwKwK
        out.write(entry, 0, entry.length)
        if (prev != null) {
          dict += (prev :+ entry(0))
          // decoder's table lags the encoder's by one entry at the same
          // stream position, so the width bump fires one entry earlier
          // than the encoder's (1<<w)-1 rule — the classic early-change
          // pairing
          if (dict.size >= (1 << width) - 2 && width < 12) width += 1
        }
        prev = entry
      }
    }
    out.toByteArray
  }

  /** Compress one strip with TIFF-LZW (round-trip/fixture support). */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0; var nbits = 0
    var width = 9
    def emit(code: Int): Unit = {
      cur = (cur << width) | code
      nbits += width
      while (nbits >= 8) {
        out.write((cur >> (nbits - 8)) & 0xff)
        nbits -= 8
      }
      cur &= (1 << nbits) - 1
    }
    var table = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = 258
    def reset(): Unit = { table = scala.collection.mutable.HashMap.empty; nextCode = 258; width = 9 }
    emit(256)
    var prev = -1
    for (byte <- data) {
      val b = byte & 0xff
      if (prev < 0) prev = b
      else table.get((prev, b)) match {
        case Some(c) => prev = c
        case None =>
          emit(prev)
          table((prev, b)) = nextCode
          nextCode += 1
          if (nextCode >= (1 << width) - 1 && width < 12) width += 1
          if (nextCode > 4093) { emit(256); reset() }
          prev = b
      }
    }
    if (prev >= 0) emit(prev)
    emit(257)
    if (nbits > 0) out.write((cur << (8 - nbits)) & 0xff)
    out.toByteArray
  }

  /** The TIFF fixture encoder (test/round-trip support): little-endian
    * grayscale pages, one chained IFD per page, classic or BigTIFF
    * header, strip- (one strip per page) or tile-organized, 8- or
    * 16-bit, uncompressed/LZW/deflate/PackBits. BigTIFF files carry
    * 8-byte IFD counts, 20-byte entries, LONG8 (type 16) offset arrays and
    * 8-byte next-IFD pointers so the magic-43 layout is genuinely
    * exercised; tile arrays longer than the inline value field go to an
    * external value area, exercising the offset-indirection path too. */
  private[graft] def encodeTiffPages(pages: Seq[(Int, Int, Array[Double])],
      comp: Int = 1, big: Boolean = false, tile: Option[(Int, Int)] = None,
      bps: Int = 8, pred: Int = 1): Array[Byte] = {
    require(bps == 8 || bps == 16, s"encodeTiffPages: bps $bps")
    require(pred == 1 || pred == 2, s"encodeTiffPages: predictor $pred")
    val bpp = bps / 8
    val maxV = (1L << bps) - 1
    def rawOf(h: Int, w: Int, px: Array[Double], y0: Int, x0: Int,
        sh: Int, sw: Int): Array[Byte] = {
      // a padded (sh × sw) window of the page at (y0, x0); LE samples
      val out = new Array[Byte](sh * sw * bpp)
      for (r <- 0 until math.min(sh, h - y0); c <- 0 until math.min(sw, w - x0)) {
        val v = math.max(0L, math.min(maxV, math.round(px((y0 + r) * w + x0 + c)))).toInt
        if (bps == 8) out(r * sw + c) = v.toByte
        else {
          out(2 * (r * sw + c)) = (v & 0xff).toByte
          out(2 * (r * sw + c) + 1) = ((v >> 8) & 0xff).toByte
        }
      }
      out
    }
    // horizontal differencing (tag 317 = 2) applied per segment row
    // before compression; 16-bit diffs whole LE samples mod 2^16
    def diff(raw: Array[Byte], sw: Int): Array[Byte] = {
      if (pred == 1) return raw
      val out = raw.clone()
      val rows = raw.length / (sw * bpp)
      for (r <- 0 until rows; c <- (sw - 1) until 0 by -1) {
        if (bps == 8)
          out(r * sw + c) = (raw(r * sw + c) - raw(r * sw + c - 1)).toByte
        else {
          val i = r * sw + c
          val v = (tU16(raw, 2 * i, true) - tU16(raw, 2 * (i - 1), true)) & 0xffff
          out(2 * i) = (v & 0xff).toByte
          out(2 * i + 1) = ((v >> 8) & 0xff).toByte
        }
      }
      out
    }
    def compress(raw: Array[Byte]): Array[Byte] = comp match {
      case 1 => raw
      case 5 => lzwEncode(raw)
      case 8 =>
        val d = new java.util.zip.Deflater()
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](raw.length * 2 + 64)
        val n = d.deflate(buf); d.end()
        java.util.Arrays.copyOf(buf, n)
      case 32773 => packBitsEncode(raw)
      case other => throw new IllegalArgumentException(s"encodeTiffPages: compression $other")
    }
    // per page: the compressed segments (1 strip, or the padded tile grid)
    val pageSegs: Seq[IndexedSeq[Array[Byte]]] = pages.map { case (h, w, px) =>
      tile match {
        case None => IndexedSeq(compress(diff(rawOf(h, w, px, 0, 0, h, w), w)))
        case Some((tw, tl)) =>
          for (ty <- 0 until (h + tl - 1) / tl; tx <- 0 until (w + tw - 1) / tw)
            yield compress(diff(rawOf(h, w, px, ty * tl, tx * tw, tl, tw), tw))
      }
    }
    // entry = (tag, typ, values); typ 3=SHORT, 4=LONG, 16=LONG8
    def entriesOf(p: Int): Seq[(Int, Int, Array[Long])] = {
      val (h, w, _) = pages(p)
      val offTyp = if (big) 16 else 4
      val segLens = pageSegs(p).map(_.length.toLong).toArray
      val common = Seq(
        (256, 4, Array(w.toLong)), (257, 4, Array(h.toLong)),
        (258, 3, Array(bps.toLong)), (259, 3, Array(comp.toLong)),
        (262, 3, Array(1L)))
      val predE = if (pred != 1) Seq((317, 3, Array(pred.toLong))) else Nil
      tile match {
        case None => common ++ Seq(
          (273, offTyp, Array(0L)), // patched to segment offsets at emit
          (277, 3, Array(1L)), (278, 4, Array(h.toLong)),
          (279, 4, segLens)) ++ predE
        case Some((tw, tl)) => common ++ Seq(
          (277, 3, Array(1L))) ++ predE ++ Seq(
          (322, 4, Array(tw.toLong)), (323, 4, Array(tl.toLong)),
          (324, offTyp, Array.fill(segLens.length)(0L)), // patched at emit
          (325, 4, segLens))
      }
    }
    val headerSize = if (big) 16 else 8
    val entrySize = if (big) 20 else 12
    val countSize = if (big) 8 else 2
    val nextSize = if (big) 8 else 4
    val inlineCap = if (big) 8 else 4
    def szOf(typ: Int) = typ match { case 3 => 2; case 4 => 4; case _ => 8 }
    // layout pass: per page [segments][external values][IFD]
    var off = headerSize.toLong
    val segBase = new Array[Long](pages.length)
    val extBase = new Array[Long](pages.length)
    val ifdOff = new Array[Long](pages.length)
    for (p <- pages.indices) {
      segBase(p) = off; off += pageSegs(p).map(_.length.toLong).sum
      extBase(p) = off
      off += entriesOf(p).map { case (_, typ, vs) =>
        val sz = szOf(typ) * vs.length
        if (sz > inlineCap) sz.toLong else 0L
      }.sum
      ifdOff(p) = off
      off += countSize + entriesOf(p).length * entrySize + nextSize
    }
    val bos = new java.io.ByteArrayOutputStream()
    def u16(v: Long): Unit = { bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt) }
    def u32(v: Long): Unit = { u16(v & 0xffff); u16((v >> 16) & 0xffff) }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32((v >> 32) & 0xffffffffL) }
    def uN(v: Long, sz: Int): Unit = sz match {
      case 2 => u16(v); case 4 => u32(v); case _ => u64(v)
    }
    bos.write('I'); bos.write('I')
    if (big) { u16(43); u16(8); u16(0); u64(ifdOff(0)) }
    else { u16(42); u32(ifdOff(0)) }
    for (p <- pages.indices) {
      pageSegs(p).foreach(bos.write)
      // patch the segment-offset entry values now the layout is fixed
      val segOffs = pageSegs(p).scanLeft(segBase(p))(_ + _.length).init.toArray
      val entries = entriesOf(p).map {
        case (tag, typ, _) if tag == 273 || tag == 324 => (tag, typ, segOffs)
        case e => e
      }
      // external value area (same order as the entries referencing it)
      var ext = extBase(p)
      val extOffs = entries.map { case (_, typ, vs) =>
        val sz = szOf(typ) * vs.length
        if (sz > inlineCap) { val o = ext; ext += sz; o } else -1L
      }
      for (((_, typ, vs), eo) <- entries.zip(extOffs) if eo >= 0)
        vs.foreach(uN(_, szOf(typ)))
      // the IFD
      uN(entries.length.toLong, countSize)
      for (((tag, typ, vs), eo) <- entries.zip(extOffs)) {
        u16(tag.toLong); u16(typ.toLong)
        uN(vs.length.toLong, if (big) 8 else 4)
        if (eo >= 0) uN(eo, if (big) 8 else 4)
        else {
          val sz = szOf(typ)
          vs.foreach(uN(_, sz))
          var pad = inlineCap - sz * vs.length
          while (pad > 0) { bos.write(0); pad -= 1 }
        }
      }
      uN(if (p + 1 < pages.length) ifdOff(p + 1) else 0L, nextSize)
    }
    val out = bos.toByteArray
    assert(out.length.toLong == off, s"encodeTiffPages layout drift: ${out.length} vs $off")
    out
  }

  /** Encode a 2-d array as binary PGM (test/round-trip support). */
  private[graft] def encodePgm(h: Int, w: Int, px: Array[Double]): Array[Byte] = {
    val header = s"P5\n$w $h\n255\n".getBytes(StandardCharsets.US_ASCII)
    val body = px.map(v => math.max(0, math.min(255, math.round(v))).toByte)
    header ++ body
  }

  /** Encode a 2-d array as 16-bit binary PGM (big-endian samples, per the
    * netpbm spec) — fixture support for the uint16 ingest path. */
  private[graft] def encodePgm16(h: Int, w: Int, px: Array[Double]): Array[Byte] = {
    val header = s"P5\n$w $h\n65535\n".getBytes(StandardCharsets.US_ASCII)
    val body = new Array[Byte](h * w * 2)
    var i = 0
    while (i < h * w) {
      val v = math.max(0L, math.min(65535L, math.round(px(i)))).toInt
      body(2 * i) = ((v >> 8) & 0xff).toByte
      body(2 * i + 1) = (v & 0xff).toByte
      i += 1
    }
    header ++ body
  }

  // ------------------------------------------------------ RGB / JPEG
  /** Read a glob of COLOR images (RGB PNG/BMP/JPEG — anything the JDK's
    * javax.imageio decodes) as one stacked 4-d TYPED image: block idx =
    * (frame, 0, 0, 0), shape (1, h, w, 3) with a trailing CHANNEL axis
    * (the reference's pims-backed imread yields (frame, y, x, channel)
    * for color input). Payload is NATIVE uint8 — 3 bytes/pixel
    * interleaved, never widened to float64 — so a 100 TB image lake
    * shuffles exactly its decoded size. Frame indexing reuses the
    * distributed sort + zipWithIndex scheme of [[readFrames]]. */
  def readRgb(spark: SparkSession, glob: String,
      imageId: String = "imread_rgb"): Dataset[TBlock] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content"))
    val (indexed, nFrames) = numberFrames(files)
    files.join(indexed, "path")
      .select(col("frame"), col("content"))
      .as[(Int, Array[Byte])]
      .map { case (frame, bytes) =>
        val (h, w, px) = decodeRgb(bytes)
        TBlock(imageId, Seq(frame, 0, 0, 0), Seq(frame, 0, 0, 0),
          Seq(1, h, w, 3), Seq(1, h, w, 3), Seq(nFrames, h, w, 3),
          DType.U8.name, px)
      }
  }

  /** Decode any ImageIO-supported color image to (h, w, interleaved RGB
    * bytes, channel-last C order). */
  private[graft] def decodeRgb(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "imageio: unsupported or corrupt image")
    val h = img.getHeight; val w = img.getWidth
    val out = new Array[Byte](h * w * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y) // sRGB regardless of the stored layout
        val o = (y * w + x) * 3
        out(o) = ((rgb >> 16) & 0xff).toByte
        out(o + 1) = ((rgb >> 8) & 0xff).toByte
        out(o + 2) = (rgb & 0xff).toByte
        x += 1
      }
      y += 1
    }
    (h, w, out)
  }

  /** Encode interleaved RGB bytes as PNG (lossless) or JPEG (`quality`
    * applies to JPEG only) — fixture/round-trip support. */
  private[graft] def encodeRgb(h: Int, w: Int, rgb: Array[Byte],
      format: String, quality: Float = 0.95f): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(o) & 0xff) << 16) | ((rgb(o + 1) & 0xff) << 8)
          | (rgb(o + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    if (format == "jpg") {
      val writer = ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(quality)
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.close(); writer.dispose()
    } else ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Encode a 2-d array as 8-bit grayscale PNG (test/round-trip support). */
  private[graft] def encodePng(h: Int, w: Int, px: Array[Double]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, math.max(0, math.min(255, math.round(px(y * w + x)))).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
