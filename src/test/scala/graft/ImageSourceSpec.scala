package graft

import java.nio.file.{Files, Paths}
import graft.sources.ImageSource
import graft.tensor._

class ImageSourceSpec extends SparkSpec {

  test("imread analog: PGM glob round-trips through binaryFile into a stacked Block image") {
    val dir = Files.createTempDirectory("graft_pgm").toFile
    dir.deleteOnExit()
    val frames = (0 until 3).map { f =>
      val px = Array.tabulate(6 * 5)(i => ((i * 7 + f * 31) % 251).toDouble)
      Files.write(Paths.get(dir.getPath, f"frame_$f%03d.pgm"),
        ImageSource.encodePgm(6, 5, px))
      px
    }
    val ds = ImageSource.readPgm(spark, dir.getPath + "/*.pgm")
    val blocks = ds.collect().sortBy(_.idx.head)
    assert(blocks.length == 3)
    assert(blocks.forall(_.arrayShape == Seq(3, 6, 5)))
    for ((b, f) <- blocks.zipWithIndex) {
      assert(b.idx == Seq(f, 0, 0) && b.shape == Seq(1, 6, 5) && b.dtype == "uint8")
      assert(b.data.sameElements(frames(f).map(_.toByte)), s"frame $f bytes differ")
    }
    // the stacked image is a normal tensor: a 3-d filter runs on it
    val sm = Filters.uniformFilter(TBlock.toBlocks(ds), Seq(1, 3, 3))
    assert(Grid.unblockify(sm).shape.toSeq == Seq(3, 6, 5))
  }

  test("imread PNG: grayscale codec round-trips and frame order follows sorted paths") {
    val dir = Files.createTempDirectory("graft_png").toFile
    dir.deleteOnExit()
    val frames = (0 until 4).map { f =>
      val px = Array.tabulate(5 * 7)(i => ((i * 11 + f * 13) % 256).toDouble)
      Files.write(Paths.get(dir.getPath, f"img_$f%03d.png"),
        ImageSource.encodePng(5, 7, px))
      px
    }
    val ds = ImageSource.readPng(spark, dir.getPath + "/*.png")
    val blocks = ds.collect().sortBy(_.idx.head)
    assert(blocks.length == 4)
    assert(blocks.forall(_.arrayShape == Seq(4, 5, 7)))
    for ((b, f) <- blocks.zipWithIndex) {
      assert(b.idx == Seq(f, 0, 0) && b.shape == Seq(1, 5, 7) && b.dtype == "uint8")
      assert(b.toBlock.data.sameElements(frames(f)), s"frame $f pixels differ")
    }
  }

  test("imread TIFF: multi-page + multi-file frame indexing round-trips") {
    val dir = Files.createTempDirectory("graft_tif").toFile
    dir.deleteOnExit()
    val frames = (0 until 5).map { f =>
      Array.tabulate(6 * 5)(i => ((i * 17 + f * 29) % 256).toDouble)
    }
    // frames 0-2 in one 3-page file, 3 in its own, 4 in its own
    Files.write(Paths.get(dir.getPath, "a_000_002.tiff"),
      ImageSource.encodeTiffPages(frames.take(3).map(p => (6, 5, p))))
    Files.write(Paths.get(dir.getPath, "b_003.tiff"),
      ImageSource.encodeTiffPages(Seq((6, 5, frames(3)))))
    Files.write(Paths.get(dir.getPath, "c_004.tiff"),
      ImageSource.encodeTiffPages(Seq((6, 5, frames(4)))))
    val ds = ImageSource.readTiff(spark, dir.getPath + "/*.tiff")
    val blocks = ds.collect().sortBy(_.idx.head)
    assert(blocks.length == 5)
    assert(blocks.forall(_.arrayShape == Seq(5, 6, 5)))
    for ((b, f) <- blocks.zipWithIndex) {
      assert(b.idx == Seq(f, 0, 0) && b.shape == Seq(1, 6, 5) && b.dtype == "uint8")
      assert(b.toBlock.data.sameElements(frames(f)), s"frame $f pixels differ")
    }
  }

  test("imread nframes: frames stack k-per-chunk with a ragged tail") {
    val dir = Files.createTempDirectory("graft_nf").toFile
    dir.deleteOnExit()
    val frames = (0 until 5).map { f =>
      val px = Array.tabulate(4 * 6)(i => ((i * 3 + f * 17) % 256).toDouble)
      Files.write(Paths.get(dir.getPath, f"n_$f%03d.pgm"), ImageSource.encodePgm(4, 6, px))
      px
    }
    val ds = ImageSource.readPgm(spark, dir.getPath + "/*.pgm", nframes = 2)
    val blocks = ds.collect().sortBy(_.idx.head)
    assert(blocks.length == 3)
    assert(blocks.map(_.shape) === Seq(Seq(2, 4, 6), Seq(2, 4, 6), Seq(1, 4, 6)))
    assert(blocks.forall(b => b.chunk == Seq(2, 4, 6) && b.arrayShape == Seq(5, 4, 6)))
    for ((b, ci) <- blocks.zipWithIndex; k <- 0 until b.shape.head) {
      val want = frames(ci * 2 + k)
      val got = b.toBlock.data.slice(k * 24, (k + 1) * 24)
      assert(got.sameElements(want), s"chunk $ci frame $k mismatch")
    }
    // the stacked image behaves as a normal 3-d tensor, incl. a filter
    // with a temporal (cross-chunk) extent
    val sm = Filters.uniformFilter(TBlock.toBlocks(ds), Seq(3, 1, 1))
    assert(Grid.unblockify(sm).shape.toSeq == Seq(5, 4, 6))
  }

  test("TIFF LZW: codec round-trips across all code-width boundaries") {
    // >4094 dictionary entries forces 9→10→11→12-bit widths AND a mid-
    // stream Clear/reset; pseudo-random bytes defeat run coalescing
    val data = Array.tabulate(40000)(i => ((i * 2654435761L >> 7) & 0xff).toByte)
    val enc = graft.sources.ImageSource.lzwEncode(data)
    val dec = graft.sources.ImageSource.lzwDecode(enc, data.length)
    assert(dec.sameElements(data), "LZW round-trip mismatch")
    // compressible data actually compresses
    val runs = Array.fill(4096)(7.toByte)
    assert(graft.sources.ImageSource.lzwEncode(runs).length < runs.length / 4)
  }

  test("TIFF LZW multi-page file + predictor=2 strips decode correctly") {
    val dir = Files.createTempDirectory("graft_tifz").toFile
    dir.deleteOnExit()
    val frames = (0 until 3).map { f =>
      Array.tabulate(16 * 24)(i => ((i * 13 + f * 41) % 256).toDouble)
    }
    Files.write(Paths.get(dir.getPath, "z.tiff"),
      ImageSource.encodeTiffPages(frames.map(p => (16, 24, p)), comp = 5))
    val pages = ImageSource.decodeTiff(Files.readAllBytes(Paths.get(dir.getPath, "z.tiff")))
    assert(pages.length == 3)
    for ((p, f) <- pages.zipWithIndex)
      assert(DType.U8.decode(p._4).sameElements(frames(f)), s"LZW page $f mismatch")

    // predictor=2 (horizontal differencing): hand-assemble one LE page
    val h = 4; val w = 8
    val px = Array.tabulate(h * w)(i => (i * 3 % 256))
    val diffed = new Array[Byte](h * w)
    for (r <- 0 until h; c <- 0 until w)
      diffed(r * w + c) =
        (if (c == 0) px(r * w + c) else px(r * w + c) - px(r * w + c - 1)).toByte
    val strip = ImageSource.lzwEncode(diffed)
    val bos = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16(v >>> 16) }
    def entry(tag: Int, typ: Int, cnt: Int, v: Int): Unit = { u16(tag); u16(typ); u32(cnt); u32(v) }
    bos.write('I'); bos.write('I'); u16(42); u32(8 + strip.length)
    bos.write(strip)
    u16(10)
    entry(256, 4, 1, w); entry(257, 4, 1, h)
    entry(258, 3, 1, 8); entry(259, 3, 1, 5) // LZW
    entry(262, 3, 1, 1); entry(273, 4, 1, 8)
    entry(277, 3, 1, 1); entry(278, 4, 1, h)
    entry(279, 4, 1, strip.length); entry(317, 3, 1, 2) // Predictor: horizontal
    u32(0)
    val decoded = ImageSource.decodeTiff(bos.toByteArray)
    assert(decoded.length == 1 && DType.U8.decode(decoded.head._4).sameElements(px.map(_.toDouble)),
      "predictor=2 decode mismatch")
  }

  test("TIFF deflate and PackBits strips round-trip through readTiff") {
    val dir = Files.createTempDirectory("graft_tifc").toFile
    dir.deleteOnExit()
    // mix all four compressions across files of one stacked image
    val frames = (0 until 4).map { f =>
      Array.tabulate(12 * 10)(i => ((i * 7 + f * 23) % 256).toDouble)
    }
    for ((comp, f) <- Seq(1, 5, 8, 32773).zipWithIndex)
      Files.write(Paths.get(dir.getPath, f"c_$f%03d.tiff"),
        ImageSource.encodeTiffPages(Seq((12, 10, frames(f))), comp = comp))
    val blocks = ImageSource.readTiff(spark, dir.getPath + "/*.tiff")
      .collect().sortBy(_.idx.head)
    assert(blocks.length == 4)
    for ((b, f) <- blocks.zipWithIndex)
      assert(b.toBlock.data.sameElements(frames(f)), s"compression mix frame $f mismatch")
    // PackBits codec unit round-trip incl. long runs and literals
    val pb = Array.tabulate(1000)(i =>
      (if (i % 37 < 20) 42 else i % 251).toByte)
    val dec = ImageSource.packBitsDecode(ImageSource.packBitsEncode(pb), pb.length)
    assert(dec.sameElements(pb), "PackBits round-trip mismatch")
  }

  test("classic 8-bit strip TIFF fixture bytes are pinned for every codec, 1 and 3 pages") {
    // the digests of the retired classic-only encoder's output: the one
    // encoder must keep writing byte-identical fixtures (same 9 entries,
    // [strip][IFD] per page, same clamp and codecs); pixels cover the
    // clamp at both ends and half-way rounding
    val pages = Seq((12, 10), (7, 9), (5, 16)).zipWithIndex.map { case ((h, w), f) =>
      (h, w, Array.tabulate(h * w)(i => ((i * 7 + f * 23) % 300 - 20) + 0.5 * (i % 2)))
    }
    def sha256(b: Array[Byte]): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val pinned = Map(
      (1, 1) -> "9c8fbf28bc2b4d76e381190df69bf5771366ae1ff6deb9c883eb6d1e2b029a02",
      (1, 3) -> "ecdcc6bd74b3850dafa39414976e21d0af76c95b5d91312c885c76edbeb800eb",
      (5, 1) -> "5397c0656169affababe659ca1ca26aebb6f72411c4da269da00e75c9f5c589d",
      (5, 3) -> "549df0332492a7292932366896ea36b3d006b2e4b04410d2a8fba5161a324a28",
      (8, 1) -> "d1ba756990c9b9638d7ef154b61549aaa0e94b4dc88ae70048329021c4d53a40",
      (8, 3) -> "9a5326b5115edeafea0905b7a5050fd4f67131b4593e789bcc3859f8042cc318",
      (32773, 1) -> "40315d8c040f9438604b58226127871aa70fec7a4186565dd3dbc66f9eb1942e",
      (32773, 3) -> "9cac9d9aad17af03b96526a1b0aea907b2750588069dd566f55082f79f37f8bb")
    for (((comp, n), digest) <- pinned)
      assert(sha256(ImageSource.encodeTiffPages(pages.take(n), comp = comp)) == digest,
        s"compression $comp, $n page(s): fixture bytes changed")
  }

  test("TIFF decoder: big-endian (MM) 16-bit strips") {
    // hand-built MM TIFF: 2x3, 16-bit, two strips of one+one rows... keep
    // one strip of 2 rows for simplicity; samples 256*r + c + 1
    val bos = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { bos.write((v >> 8) & 0xff); bos.write(v & 0xff) }
    def u32(v: Int): Unit = { u16(v >>> 16); u16(v & 0xffff) }
    bos.write('M'); bos.write('M'); u16(42); u32(8 + 12) // pixels then IFD
    val px = for (r <- 0 until 2; c <- 0 until 3) yield 256 * r + c + 1
    px.foreach(u16) // 12 bytes of pixels at offset 8
    u16(8) // 8 IFD entries
    def entry(tag: Int, typ: Int, cnt: Int, inline: Int): Unit = {
      u16(tag); u16(typ); u32(cnt)
      if (typ == 3) { u16(inline); u16(0) } else u32(inline)
    }
    entry(256, 4, 1, 3); entry(257, 4, 1, 2)   // w=3 h=2
    entry(258, 3, 1, 16); entry(259, 3, 1, 1)  // 16-bit, uncompressed
    entry(273, 4, 1, 8)                        // strip at 8
    entry(277, 3, 1, 1); entry(278, 4, 1, 2)   // 1 sample, 2 rows/strip
    entry(279, 4, 1, 12)
    u32(0) // no next IFD
    // the 16-bit MM page lands as uint16 (2 bytes/px, LE-packed)
    val Seq((th, tw, dt, payload)) = ImageSource.decodeTiff(bos.toByteArray)
    assert(th == 2 && tw == 3 && dt == "uint16")
    assert(payload.length == 2 * 3 * 2, "uint16 page must pack 2 bytes/px")
    assert(graft.tensor.DType.U16.decode(payload).toSeq == px.map(_.toDouble))
  }

  test("BigTIFF: magic-43 multi-page strips decode identically to classic") {
    val frames = (0 until 3).map(f =>
      Array.tabulate(11 * 13)(i => ((i * 31 + f * 97) % 256).toDouble))
    val pages = frames.map(p => (11, 13, p))
    for (comp <- Seq(1, 5, 8, 32773)) {
      val classic = ImageSource.decodeTiff(
        ImageSource.encodeTiffPages(pages, comp = comp, big = false))
      val big = ImageSource.decodeTiff(
        ImageSource.encodeTiffPages(pages, comp = comp, big = true))
      assert(big.length == 3 && classic.length == 3, s"comp=$comp page count")
      for (f <- 0 until 3) {
        assert(big(f)._1 == 11 && big(f)._2 == 13 && big(f)._3 == "uint8")
        assert(big(f)._4.sameElements(classic(f)._4),
          s"comp=$comp frame $f: BigTIFF bytes diverge from classic")
        assert(big(f)._4.sameElements(frames(f).map(_.toInt.toByte)),
          s"comp=$comp frame $f: decode != source pixels")
      }
    }
    // page-count walk handles the 8-byte IFD chain too
    assert(ImageSource.tiffPageCount(
      ImageSource.encodeTiffPages(pages, big = true)) == 3L)
  }

  test("tiled TIFF: padded edge tiles reassemble byte-exactly, 8- and 16-bit") {
    val h = 23; val w = 17 // prime-ish: 10×8 tiles pad on both axes
    val px8 = Array.tabulate(h * w)(i => ((i * 7) % 256).toDouble)
    val px16 = Array.tabulate(h * w)(i => ((i * 523) % 65536).toDouble)
    for (comp <- Seq(1, 5, 8, 32773); big <- Seq(false, true)) {
      val Seq((th, tw, dt, pay)) = ImageSource.decodeTiff(
        ImageSource.encodeTiffPages(Seq((h, w, px8)), comp = comp,
          big = big, tile = Some((8, 10))))
      assert(th == h && tw == w && dt == "uint8", s"comp=$comp big=$big")
      assert(DType.U8.decode(pay).toSeq == px8.toSeq,
        s"comp=$comp big=$big: tiled uint8 reassembly mismatch")
    }
    val Seq((_, _, dt16, pay16)) = ImageSource.decodeTiff(
      ImageSource.encodeTiffPages(Seq((h, w, px16)), comp = 8,
        big = true, tile = Some((8, 10)), bps = 16))
    assert(dt16 == "uint16")
    assert(DType.U16.decode(pay16).toSeq == px16.toSeq,
      "tiled uint16 reassembly mismatch")
    // tile grid that divides exactly (no padding) also round-trips
    val Seq((_, _, _, payEx)) = ImageSource.decodeTiff(
      ImageSource.encodeTiffPages(Seq((24, 16, px8.take(24 * 16))),
        comp = 5, big = false, tile = Some((8, 8))))
    assert(DType.U8.decode(payEx).toSeq == px8.take(24 * 16).toSeq)
  }

  test("TIFF predictor 2: horizontal differencing round-trips at 8 and 16 bit, strips and tiles") {
    val h = 19; val w = 21
    // ramps + noise: differencing actually changes the byte stream
    val px8 = Array.tabulate(h * w)(i => ((i % w) * 3 + (i * 17) % 31).toDouble % 256)
    val px16 = Array.tabulate(h * w)(i => ((i % w) * 700 + (i * 523) % 997).toDouble % 65536)
    for (tile <- Seq(None, Some((8, 6))); big <- Seq(false, true)) {
      val Seq((_, _, dt8, pay8)) = ImageSource.decodeTiff(
        ImageSource.encodeTiffPages(Seq((h, w, px8)), comp = 5, big = big,
          tile = tile, bps = 8, pred = 2))
      assert(dt8 == "uint8" && DType.U8.decode(pay8).toSeq == px8.toSeq,
        s"pred2 uint8 tile=$tile big=$big")
      val Seq((_, _, dt16, pay16)) = ImageSource.decodeTiff(
        ImageSource.encodeTiffPages(Seq((h, w, px16)), comp = 5, big = big,
          tile = tile, bps = 16, pred = 2))
      assert(dt16 == "uint16" && DType.U16.decode(pay16).toSeq == px16.toSeq,
        s"pred2 uint16 tile=$tile big=$big")
    }
    // differencing does change the compressed stream (i.e. tag 317 is
    // honored, not ignored): decoding the pred=2 file as if pred=1 would
    // not reproduce the pixels, so byte streams must differ
    val plain = ImageSource.encodeTiffPages(Seq((h, w, px16)), comp = 1, bps = 16)
    val diffd = ImageSource.encodeTiffPages(Seq((h, w, px16)), comp = 1, bps = 16, pred = 2)
    assert(!plain.sameElements(diffd), "pred=2 must alter the sample stream")
  }

  test("TIFF codec property sweep: random geometries × all layout configs round-trip") {
    // deterministic pseudo-random sweep over the configuration cube the
    // hand-written binary layout code has to get right: odd geometries
    // (1×1, 1×w, h×1), tiles larger than the image, non-dividing tiles,
    // every compression, both headers, both depths, both predictors
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 12) {
      val h = 1 + rnd.nextInt(25)
      val w = 1 + rnd.nextInt(25)
      val bps = if (rnd.nextBoolean()) 8 else 16
      val maxV = (1 << bps) - 1
      val px = Array.fill(h * w)(rnd.nextInt(maxV + 1).toDouble)
      val comp = Seq(1, 5, 8, 32773)(rnd.nextInt(4))
      val big = rnd.nextBoolean()
      val tile = rnd.nextInt(3) match {
        case 0 => None
        case 1 => Some((1 + rnd.nextInt(w + 4), 1 + rnd.nextInt(h + 4))) // may exceed image
        case _ => Some((1 + rnd.nextInt(8), 1 + rnd.nextInt(8)))
      }
      val pred = if (rnd.nextBoolean()) 2 else 1
      val cfg = s"trial=$trial h=$h w=$w bps=$bps comp=$comp big=$big tile=$tile pred=$pred"
      val pages = ImageSource.decodeTiff(ImageSource.encodeTiffPages(
        Seq((h, w, px)), comp = comp, big = big, tile = tile, bps = bps, pred = pred))
      assert(pages.length == 1, cfg)
      val (dh, dw, dt, pay) = pages.head
      assert(dh == h && dw == w, cfg)
      val dec = graft.tensor.DType.of(dt).decode(pay)
      assert(dec.toSeq == px.toSeq, s"$cfg: pixel mismatch")
    }
    // multi-page chain under one random config
    val frames = (0 until 4).map(f =>
      Array.fill(9 * 7)(rnd.nextInt(65536).toDouble))
    val multi = ImageSource.decodeTiff(ImageSource.encodeTiffPages(
      frames.map((9, 7, _)), comp = 5, big = true, tile = Some((3, 4)),
      bps = 16, pred = 2))
    assert(multi.length == 4)
    for (f <- 0 until 4)
      assert(graft.tensor.DType.U16.decode(multi(f)._4).toSeq == frames(f).toSeq,
        s"multi-page frame $f mismatch")
  }

  test("typed grayscale imread: native byte payloads through the stacking shuffle") {
    val dir = Files.createTempDirectory("graft_typed_gray").toFile
    dir.deleteOnExit()
    val h = 6; val w = 9
    val frames = (0 until 4).map { f =>
      Array.tabulate(h * w)(i => ((i * 11 + f * 29) % 256).toDouble)
    }
    for (f <- frames.indices)
      Files.write(Paths.get(dir.getPath, f"g_$f%03d.pgm"),
        ImageSource.encodePgm(h, w, frames(f)))
    // nframes=2 exercises the byte-domain frame-stacking shuffle: each
    // chunk is ONE block of 2·h·w uint8 bytes — the 1-byte/pixel pin
    val typed = ImageSource.readPgm(spark, dir.getPath + "/*.pgm", nframes = 2)
      .collect().sortBy(_.idx.head)
    assert(typed.length == 2)
    for ((b, ci) <- typed.zipWithIndex) {
      assert(b.dtype == "uint8", s"grayscale PGM must ingest as uint8, got ${b.dtype}")
      assert(b.data.length == 2 * h * w, "payload must stay 1 byte/pixel")
      assert(b.toBlock.data.sameElements(frames(2 * ci) ++ frames(2 * ci + 1)),
        s"chunk $ci pixels differ from the source frames")
    }

    // 16-bit PGM → native uint16, values above the low byte intact
    val big = Array.tabulate(h * w)(i => ((i * 523 + 300) % 65536).toDouble)
    Files.write(Paths.get(dir.getPath, "big.pgm16"),
      ImageSource.encodePgm16(h, w, big))
    val Array(b16) = ImageSource.readPgm(spark, dir.getPath + "/*.pgm16").collect()
    assert(b16.dtype == "uint16" && b16.data.length == 2 * h * w)
    assert(b16.toBlock.data.sameElements(big), "uint16 PGM round-trip mismatch")
    assert(big.exists(_ > 255.0), "fixture must exercise the high byte")
  }

  test("PGM decoder: comments and 16-bit maxval") {
    val ascii = "P5\n# a comment line\n2 2\n65535\n".getBytes("US-ASCII")
    val body = Array[Byte](0x01, 0x00, 0x00, 0xff.toByte, 0x10, 0x00, 0x00, 0x2a)
    val (h, w, dt, px) = ImageSource.decodePgm(ascii ++ body)
    assert(h == 2 && w == 2 && dt == "uint16")
    assert(DType.U16.decode(px).toSeq == Seq(256.0, 255.0, 4096.0, 42.0))
  }

  // -------------------------------------------- DataSource V2 image scan

  private def v2Fixture(n: Int): String = {
    val dir = Files.createTempDirectory("graft_v2").toFile
    dir.deleteOnExit()
    for (f <- 0 until n)
      Files.write(Paths.get(dir.getPath, f"frame_$f%03d.pgm"),
        ImageSource.encodePgm(4, 5, Array.tabulate(4 * 5)(i => ((i * 3 + f * 17) % 251).toDouble)))
    dir.getPath + "/*.pgm"
  }

  test("imread RGB: PNG color decode is byte-exact, channel-last, native uint8") {
    val dir = Files.createTempDirectory("graft_rgb").toFile
    dir.deleteOnExit()
    val h = 9; val w = 11
    val mk = (f: Int) => Array.tabulate(h * w * 3) { k =>
      ((k * 31 + f * 97) % 256).toByte
    }
    for (f <- 0 until 2)
      Files.write(Paths.get(dir.toString, s"f_$f.png"),
        ImageSource.encodeRgb(h, w, mk(f), "png"))
    val blocks = ImageSource.readRgb(spark, s"$dir/*.png").collect().sortBy(_.origin.head)
    assert(blocks.length == 2)
    for ((b, f) <- blocks.zipWithIndex) {
      assert(b.dtype == DType.U8.name)
      assert(b.shape == Seq(1, h, w, 3) && b.arrayShape == Seq(2, h, w, 3))
      assert(b.data.sameElements(mk(f)), s"frame $f bytes differ")
    }
  }

  test("imread JPEG: lossy decode has exact geometry and bounded residual") {
    val dir = Files.createTempDirectory("graft_jpg").toFile
    dir.deleteOnExit()
    val h = 48; val w = 64
    // smooth gradient — DCT-friendly, so high-quality JPEG stays close
    val src = Array.tabulate(h * w * 3) { k =>
      val p = k / 3; val c = k % 3
      (p / w + p % w + 40 * c).toByte
    }
    Files.write(Paths.get(dir.toString, "f.jpg"),
      ImageSource.encodeRgb(h, w, src, "jpg"))
    val b = ImageSource.readRgb(spark, s"$dir/*.jpg").collect().head
    assert(b.shape == Seq(1, h, w, 3) && b.dtype == DType.U8.name)
    val errs = b.data.zip(src).map { case (a, e) => math.abs((a & 0xff) - (e & 0xff)) }
    val mean = errs.map(_.toDouble).sum / errs.length
    assert(mean < 2.0, s"JPEG mean residual $mean too large")
    assert(errs.max <= 16, s"JPEG max residual ${errs.max} too large")
  }

  test("V2 scan equals the binaryFile imread path") {
    import graft.sources.v2.ImageBlockSource
    val glob = v2Fixture(3)
    val v2 = ImageBlockSource.blocks(ImageBlockSource.read(spark, glob, "pgm"))
      .collect().sortBy(_.idx.head)
    val v1 = ImageSource.readPgm(spark, glob).collect().sortBy(_.idx.head)
    assert(v2.length == 3 && v1.length == 3)
    for ((a, b) <- v2.zip(v1)) {
      assert(a.idx == b.idx && a.origin == b.origin && a.shape == b.shape
        && a.arrayShape == b.arrayShape)
      assert(a.dtype == "uint8" && a.dtype == b.dtype)
      assert(a.data.sameElements(b.data), "V2 payload differs from the binaryFile path")
    }
  }

  test("V2 frame predicate prunes files at partition planning") {
    import graft.sources.v2.ImageBlockSource
    import org.apache.spark.sql.functions.col
    val glob = v2Fixture(4)
    val full = ImageBlockSource.read(spark, glob, "pgm")
    assert(full.rdd.getNumPartitions == 4, "one partition per file expected")
    val pruned = full.filter(col("frame") >= 2)
    // the filter reached planInputPartitions: 2 surviving files = 2 parts
    assert(pruned.rdd.getNumPartitions == 2,
      s"expected file pruning, got ${pruned.rdd.getNumPartitions} partitions")
    val rows = pruned.collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // arrayShape still reports the FULL stack under a pruned read
    assert(rows.forall(_.getSeq[Int](6) == Seq(4, 4, 5)))
  }

  test("V2 column pruning: metadata query decodes headers only") {
    import graft.sources.v2.ImageBlockSource
    val glob = v2Fixture(2)
    val meta = ImageBlockSource.read(spark, glob, "pgm").select("frame", "shape")
    val rows = meta.collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(rows.forall(_.getSeq[Int](1) == Seq(1, 4, 5)))
    // the scan's read schema must have shrunk to the requested columns
    val scan = meta.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("data"), s"data column not pruned from scan:\n$scan")
  }

  test("V2 metadata scan with data pruned reports each PGM's dtype from its header") {
    import graft.sources.v2.ImageBlockSource
    val dir = Files.createTempDirectory("graft_v2_dtype").toFile
    dir.deleteOnExit()
    val px = Array.tabulate(4 * 5)(i => (i * 3001 % 65536).toDouble)
    Files.write(Paths.get(dir.getPath, "a.pgm"), ImageSource.encodePgm(4, 5, px.map(_ % 256)))
    Files.write(Paths.get(dir.getPath, "b.pgm"), ImageSource.encodePgm16(4, 5, px))
    val meta = ImageBlockSource.read(spark, dir.getPath + "/*.pgm", "pgm").select("frame", "dtype")
    val scan = meta.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("data"), s"data column not pruned from scan:\n$scan")
    assert(meta.collect().map(r => r.getInt(0) -> r.getString(1)).sorted.toSeq ==
      Seq(0 -> "uint8", 1 -> "uint16"))
  }

  test("V2 header-only path: comment header past the 64 KiB prefix falls back, never mis-parses") {
    // r12 advisor item: a truncated prefix could cut a dim token
    // mid-digits and silently parse wrong dims. pgmHeader now requires an
    // in-buffer whitespace terminator per token, so the prefix parse
    // THROWS and the reader's full-read fallback engages.
    import graft.sources.v2.ImageBlockSource
    val dir = Files.createTempDirectory("graft_v2_bighead").toFile
    dir.deleteOnExit()
    // a P5 whose comments push w/h beyond 64 KiB
    val pad = ("#" + "x" * 998 + "\n") * 70 // ~70 KB of comment lines
    val body = ImageSource.encodePgm(4, 5,
      Array.tabulate(4 * 5)(i => (i % 251).toDouble))
    val withComments = ("P5\n" + pad).getBytes("US-ASCII") ++
      body.drop(3) // replace "P5\n" with "P5\n<comments>"
    Files.write(Paths.get(dir.getPath, "big.pgm"), withComments)
    val meta = ImageBlockSource.read(spark, dir.getPath + "/*.pgm", "pgm")
      .select("frame", "shape")
    val rows = meta.collect()
    assert(rows.length == 1 && rows.head.getSeq[Int](1) == Seq(1, 4, 5),
      s"big-header pgm dims wrong: ${rows.toSeq}")
    // and the unit seam itself: a prefix that cuts a dim token mid-digits
    // must throw (IllegalArgumentException), never return truncated dims
    val full = ("P5\n1024 768\n255\n").getBytes("US-ASCII")
    val cut = full.take(6) // "P5\n102"
    val e = intercept[IllegalArgumentException](ImageSource.pgmHeader(cut))
    assert(e.getMessage.contains("buffer boundary"), e.getMessage)
    assert(ImageSource.pgmHeader(full) == ((768, 1024, DType.U8, full.length)))
  }
}
