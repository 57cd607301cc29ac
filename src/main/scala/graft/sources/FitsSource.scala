package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.tensor.{DType, TBlock}

/** FITS source — the astronomy/microscopy container upstream imread
  * reads through pims (SURVEY §2A.1 source breadth). A FITS primary HDU
  * is 2880-byte header blocks of 80-char ASCII cards (SIMPLE, BITPIX,
  * NAXIS, NAXISn, optional BZERO/BSCALE, END) followed by BIG-ENDIAN
  * data padded to 2880; a 3-axis image is a frame cube (NAXIS3 planes of
  * NAXIS2 × NAXIS1), the multi-frame shape shared with TIFF.
  *
  * Clean-room codec, integer-exact subset: BITPIX 8 → uint8, BITPIX 16 →
  * int16, and the standard unsigned-16 convention BZERO=32768/BSCALE=1 →
  * uint16 (raw + 32768 — how every 16-bit camera writes FITS; astropy
  * applies the same offset). Floating BITPIX and general BZERO/BSCALE
  * rescaling are rejected loudly rather than silently rounded. Byte
  * order is normalized to the engine's little-endian TBlock payloads at
  * decode, so downstream typed kernels never see endianness.
  *
  * Distributed read mirrors TIFF: [[ImageSource.pagedFiles]] numbers
  * frames with a metadata-only header parse (frame count = NAXIS3
  * without touching data bytes), decode is one task per file.
  */
object FitsSource {

  private val BLOCK = 2880

  /** Parsed primary-HDU geometry: (data offset, bitpix, w, h, frames,
    * bzero). */
  private[graft] def fitsMeta(bytes: Array[Byte]): (Int, Int, Int, Int, Int, Long) = {
    require(bytes.length >= BLOCK, "fits: truncated header block")
    require(new String(bytes, 0, 6, US_ASCII) == "SIMPLE",
      "fits: missing SIMPLE signature")
    var pos = 0
    var end = -1
    val vals = scala.collection.mutable.Map.empty[String, String]
    while (end < 0) {
      require(pos + 80 <= bytes.length, "fits: header ran past end of file")
      val card = new String(bytes, pos, 80, US_ASCII)
      val key = card.substring(0, 8).trim
      if (key == "END") end = pos
      else if (card.length > 10 && card.charAt(8) == '=') {
        val v = card.substring(10).split('/')(0).trim
        vals(key) = v
      }
      pos += 80
    }
    val dataStart = ((end / BLOCK) + 1) * BLOCK
    def num(key: String, default: Option[Long] = None): Long = {
      val v = vals.get(key).orElse(default.map(_.toString))
      require(v.isDefined, s"fits: missing $key card")
      try v.get.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"fits: non-integer $key '${v.get}'")
      }
    }
    require(vals.get("SIMPLE").exists(_.startsWith("T")),
      "fits: SIMPLE must be T (primary HDU)")
    val bitpix = num("BITPIX").toInt
    require(bitpix == 8 || bitpix == 16,
      s"fits: unsupported BITPIX $bitpix (integer-exact subset is 8/16)")
    val naxis = num("NAXIS").toInt
    require(naxis == 2 || naxis == 3, s"fits: unsupported NAXIS $naxis")
    val w = num("NAXIS1").toInt
    val h = num("NAXIS2").toInt
    val nf = if (naxis == 3) num("NAXIS3").toInt else 1
    require(w > 0 && h > 0 && nf > 0, "fits: non-positive axis length")
    require(w.toLong * h * nf * (bitpix / 8) <= (1L << 30),
      s"fits: image ${w}x${h}x$nf exceeds the 1 GiB decode bound")
    // BSCALE/BZERO may be written as floats ("32768.0"); accept integral
    def fnum(key: String, default: Double): Double =
      vals.get(key).map { v =>
        try v.toDouble catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"fits: non-numeric $key '$v'")
        }
      }.getOrElse(default)
    require(fnum("BSCALE", 1.0) == 1.0, "fits: BSCALE rescaling unsupported")
    val bzero = fnum("BZERO", 0.0)
    require(bzero == 0.0 || (bitpix == 16 && bzero == 32768.0),
      s"fits: unsupported BZERO $bzero")
    (dataStart, bitpix, w, h, nf, bzero.toLong)
  }

  /** Frame count from the header alone (NAXIS3, or 1 for a 2-d image). */
  private[graft] def fitsFrameCount(bytes: Array[Byte]): Long =
    fitsMeta(bytes)._5.toLong

  /** Decode every frame of the primary HDU to (h, w, dtype, little-endian
    * payload). */
  private[graft] def decodeFits(bytes: Array[Byte]): Seq[(Int, Int, String, Array[Byte])] = {
    val (dataStart, bitpix, w, h, nf, bzero) = fitsMeta(bytes)
    val sampleBytes = bitpix / 8
    val frameBytes = h * w * sampleBytes
    require(dataStart + nf.toLong * frameBytes <= bytes.length,
      "fits: truncated data unit")
    (0 until nf).map { f =>
      val off = dataStart + f * frameBytes
      if (bitpix == 8) {
        val out = java.util.Arrays.copyOfRange(bytes, off, off + frameBytes)
        (h, w, DType.U8.name, out)
      } else {
        val out = new Array[Byte](frameBytes)
        var i = 0
        if (bzero == 32768L) {
          // unsigned convention: value = raw + 32768 maps the signed BE
          // short exactly onto [0, 65535] — an XOR of the sign bit
          while (i < h * w) {
            val raw = ((bytes(off + 2 * i) & 0xff) << 8) | (bytes(off + 2 * i + 1) & 0xff)
            val u = raw ^ 0x8000
            out(2 * i) = (u & 0xff).toByte
            out(2 * i + 1) = ((u >> 8) & 0xff).toByte
            i += 1
          }
          (h, w, DType.U16.name, out)
        } else {
          while (i < h * w) {
            // BE → LE swap, signedness preserved
            out(2 * i) = bytes(off + 2 * i + 1)
            out(2 * i + 1) = bytes(off + 2 * i)
            i += 1
          }
          (h, w, DType.I16.name, out)
        }
      }
    }
  }

  /** Read a glob of FITS files as one stacked typed grayscale image —
    * same surface as [[ImageSource.readTiff]] (a 3-axis cube is a
    * multi-frame file; frame bases from the distributed metadata pass). */
  def readFits(spark: SparkSession, glob: String, imageId: String = "imread_fits",
      nframes: Int = 1): Dataset[TBlock] = {
    import spark.implicits._
    val (paged, total) = ImageSource.pagedFiles(spark, glob, fitsFrameCount)
    val frames = paged.flatMap { case (base, bytes) =>
      decodeFits(bytes).zipWithIndex.map { case ((h, w, dt, px), pg) =>
        ((base + pg).toInt, h, w, dt, px)
      }
    }
    ImageSource.stackFrames(frames, imageId, total, nframes)
  }

  /** Encode frames (float64 values in [0, 2^bitpix)) as one primary HDU
    * — fixture/round-trip support with honest big-endian data, header
    * cards and 2880 padding. `unsigned16` writes the BZERO=32768
    * convention. */
  private[graft] def encodeFits(h: Int, w: Int, frames: Seq[Array[Double]],
      bitpix: Int, unsigned16: Boolean = true): Array[Byte] = {
    require(bitpix == 8 || bitpix == 16, s"fits: encode BITPIX $bitpix")
    require(frames.nonEmpty && frames.forall(_.length == h * w),
      "fits: frame geometry mismatch")
    val bos = new ByteArrayOutputStream()
    def card(s: String): Unit = {
      require(s.length <= 80, s"fits: card overflow '$s'")
      bos.write((s + " " * (80 - s.length)).getBytes(US_ASCII))
    }
    def numCard(key: String, v: Long): Unit =
      card(f"$key%-8s= $v%20d")
    card(f"${"SIMPLE"}%-8s= ${"T"}%20s")
    numCard("BITPIX", bitpix)
    numCard("NAXIS", if (frames.length > 1) 3 else 2)
    numCard("NAXIS1", w)
    numCard("NAXIS2", h)
    if (frames.length > 1) numCard("NAXIS3", frames.length)
    if (bitpix == 16 && unsigned16) {
      numCard("BZERO", 32768L)
      numCard("BSCALE", 1L)
    }
    card("END")
    while (bos.size() % BLOCK != 0) card("")
    for (fr <- frames; v <- fr) {
      if (bitpix == 8) bos.write(math.round(v).toInt & 0xff)
      else {
        val u = math.round(v).toInt & 0xffff
        val raw = if (unsigned16) u ^ 0x8000 else u
        bos.write((raw >> 8) & 0xff)
        bos.write(raw & 0xff)
      }
    }
    while (bos.size() % BLOCK != 0) bos.write(0)
    bos.toByteArray
  }
}
