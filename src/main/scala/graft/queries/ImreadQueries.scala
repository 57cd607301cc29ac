package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ImageSource
import graft.tensor.{Images, TBlock}

/** Driver-gated imread queries (dask_image/imread — SURVEY.md §2A.1).
  *
  * The gate round-trips real files: a 3-frame fixture is derived
  * deterministically from the events raster (pixel = round(100·v) mod 256,
  * shifted per frame), encoded to PGM/PNG on local disk, then read back
  * through the DISTRIBUTED imread path (binaryFile scan → per-file decode
  * → frame-indexed TBlocks in the file's dtype). The oracle recomputes the expected bytes from
  * the events table — any decode, frame-order, or indexing defect breaks
  * the hash. All values are integers, so the compare is exact.
  */
object ImreadQueries {

  type Q = (SparkSession, String) => DataFrame

  private val H = 48
  private val W = 64
  private val FRAMES = 3

  /** The shared frame-0 pixel array: events raster → round(100·v) mod 256
    * (the formula every codec's oracle replays). */
  private def fixtureBase(s: SparkSession, dir: String): Array[Double] = {
    val px = Images.toPixels(Images.eventsRaster(s, dir))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val base = new Array[Double](H * W)
    for ((i, j, v) <- px)
      base(i * W + j) = (((math.round(v * 100) % 256) + 256) % 256).toDouble
    base
  }

  /** Per-(codec, sf-dir, Spark app) fixture directory, wiped of stale
    * codec files so an old run's leftovers can't leak extra frames into
    * the glob. Keyed by applicationId like SourceQueries.tmp — two
    * processes over one sfDir (Bench and Verify racing) must not delete
    * each other's fixtures mid-glob — and registered for JVM-exit
    * cleanup so repeated runs don't accumulate in the temp dir. */
  private def fixtureDir(s: SparkSession, dir: String, codec: String): java.nio.file.Path = {
    val out = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_imread_${codec}_${math.abs(dir.hashCode)}_${s.sparkContext.applicationId}")
    java.nio.file.Files.createDirectories(out)
    TmpCleanup.register(out)
    out.toFile.listFiles().filter(_.getName.endsWith(s".$codec"))
      .foreach(_.delete())
    out
  }

  /** Write the fixture files (tiny: 3 × 48×64) and return the glob. */
  private def writeFixture(s: SparkSession, dir: String, codec: String,
      frameStep: Int): String = {
    val base = fixtureBase(s, dir)
    val out = fixtureDir(s, dir, codec)
    for (f <- 0 until FRAMES) {
      val frame = base.map(p => (p + frameStep * f) % 256)
      val bytes = codec match {
        case "pgm" => ImageSource.encodePgm(H, W, frame)
        case "png" => ImageSource.encodePng(H, W, frame)
      }
      java.nio.file.Files.write(out.resolve(f"frame_$f%03d.$codec"), bytes)
    }
    s"$out/*.$codec"
  }

  /** (f, i, j, p) rows straight from TYPED grayscale frames — the dtype
    * codec widens each sample to BIGINT only here, at the relational
    * edge; upstream of this the payload is native bytes end to end. */
  private def typedFramesToDf(ds: Dataset[TBlock]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { b =>
      val nf = b.shape(0); val h = b.shape(1); val w = b.shape(2)
      val dt = b.dt
      // element index in Int: a TBlock payload is one JVM byte array, so
      // nf*h*w*width < 2^31 always holds — no Long widening to mislead
      for (f <- 0 until nf; i <- 0 until h; j <- 0 until w)
        yield (b.origin.head + f, i, j, dt.read(b.data, (f * h + i) * w + j).toLong)
    }.toDF("f", "i", "j", "p")
  }

  val imreadPgm: Q = (s, dir) => {
    val glob = writeFixture(s, dir, "pgm", frameStep = 7)
    typedFramesToDf(ImageSource.readPgm(s, glob)).orderBy("f", "i", "j")
  }

  /** Typed grayscale imread gate: the SAME pgm fixture as `imread_pgm`,
    * read through the native-uint8 path with nframes=3 — so the
    * frame-stacking SHUFFLE carries 1-byte/pixel payloads (byte width
    * pinned in ImageSourceSpec) and the oracle must still be hash-exact
    * against the `imread_pgm` SQL. */
  val imreadPgmTyped: Q = (s, dir) => {
    val glob = writeFixture(s, dir, "pgm", frameStep = 7)
    typedFramesToDf(ImageSource.readPgm(s, glob, nframes = 3))
      .orderBy("f", "i", "j")
  }

  /** uint16 grayscale imread gate — the microscopy ingest shape: a
    * 16-bit PGM fixture quantized at ×1000 mod 65536 (provably exercises
    * the high byte) comes back as native uint16 blocks, 2 bytes/pixel on
    * the wire. */
  val imreadPgm16Typed: Q = (s, dir) => {
    val base = fixtureBase16(s, dir)
    val out = fixtureDir(s, dir, "pgm16")
    for (f <- 0 until FRAMES) {
      val frame = base.map(p => (p + 300 * f) % 65536)
      java.nio.file.Files.write(out.resolve(f"frame_$f%03d.pgm16"),
        ImageSource.encodePgm16(H, W, frame))
    }
    typedFramesToDf(ImageSource.readPgm(s, s"$out/*.pgm16"))
      .orderBy("f", "i", "j")
  }

  /** End-to-end BYTE-DOMAIN imaging pipeline: PGM files on disk → typed
    * uint8 decode → threshold (pointU8, no decode) → binary OPENING
    * (TMorph, 1-byte halo) → per-frame foreground counts. Exercises the
    * full typed chain a 100 TB imaging lake runs — at no point between
    * file bytes and the final count does a float64 pixel exist. The
    * structure is the 2-d cross embedded in the 3-d frame stack (zero
    * frame extent, so frames stay independent); the oracle replays
    * threshold + erosion + dilation per frame in SQL. */
  val imreadTypedPipeline: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val glob = writeFixture(s, dir, "pgm", frameStep = 7)
    val typed = ImageSource.readPgm(s, glob)
    // both count branches (raw fg + opened) hang off `bin`; checkpoint so
    // the file scan + decode + threshold run once, not once per branch
    // (at 100 TB: persist the mask, it is 1/8 the decoded image)
    val bin = graft.Materialize(
      graft.tensor.TFilters.pointU8(typed)(v => if (v > 150) 1 else 0))
    val st = graft.tensor.Nd.zeros(Array(1, 3, 3))
    for ((i, j) <- Seq((1, 1), (0, 1), (2, 1), (1, 0), (1, 2)))
      st(Array(0, i, j)) = 1.0
    val opened = graft.tensor.TMorph.binaryOpening(bin, rank = 3, structure = Some(st))
    def counts(ds: Dataset[graft.tensor.TBlock], name: String): DataFrame =
      ds.map { b =>
        var n = 0L
        var i = 0
        while (i < b.data.length) { if (b.data(i) != 0) n += 1; i += 1 }
        (b.origin.head, n)
      }.toDF("f", name)
    counts(bin, "n_fg")
      .join(counts(opened, "n_opened").withColumnRenamed("f", "f2"),
        col("f") === col("f2"))
      .select(col("f"), col("n_fg"), col("n_opened"))
      .orderBy(col("f"))
  }

  private val typedPipelineSql: String =
    s"""WITH ${TensorQueries.gridCte},
       |fr AS (SELECT unnest([0, 1, 2]) AS f),
       |bin AS (
       |  SELECT fr.f, g.i, g.j,
       |    CASE WHEN ((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256
       |               + 7 * fr.f) % 256 > 150 THEN 1 ELSE 0 END AS b
       |  FROM grid g CROSS JOIN fr),
       |offs AS (SELECT unnest([0, -1, 1, 0, 0]) AS di, unnest([0, 0, 0, -1, 1]) AS dj),
       |ero AS (
       |  SELECT c.f, c.i, c.j, min(coalesce(n.b, 0)) AS b
       |  FROM bin c CROSS JOIN offs o
       |  LEFT JOIN bin n ON n.f = c.f AND n.i = c.i + o.di AND n.j = c.j + o.dj
       |  GROUP BY c.f, c.i, c.j),
       |opn AS (
       |  SELECT c.f, c.i, c.j, max(coalesce(n.b, 0)) AS b
       |  FROM ero c CROSS JOIN offs o
       |  LEFT JOIN ero n ON n.f = c.f AND n.i = c.i + o.di AND n.j = c.j + o.dj
       |  GROUP BY c.f, c.i, c.j),
       |fg AS (SELECT f, CAST(sum(b) AS BIGINT) AS n_fg FROM bin GROUP BY f),
       |op AS (SELECT f, CAST(sum(b) AS BIGINT) AS n_opened FROM opn GROUP BY f)
       |SELECT fg.f AS f, fg.n_fg, op.n_opened
       |FROM fg JOIN op USING (f) ORDER BY f""".stripMargin

  /** Frame-0 pixels at 16-bit depth: round(1000·v) mod 65536. */
  private def fixtureBase16(s: SparkSession, dir: String): Array[Double] = {
    val px = Images.toPixels(Images.eventsRaster(s, dir))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val base = new Array[Double](H * W)
    for ((i, j, v) <- px)
      base(i * W + j) = (((math.round(v * 1000) % 65536) + 65536) % 65536).toDouble
    base
  }

  val imreadPng: Q = (s, dir) => {
    val glob = writeFixture(s, dir, "png", frameStep = 13)
    typedFramesToDf(ImageSource.readPng(s, glob)).orderBy("f", "i", "j")
  }

  /** TIFF gate additionally exercises MULTI-PAGE frame indexing and LZW:
    * frames 0–1 live in one two-page LZW-compressed file, frame 2 in a
    * second uncompressed file — decode (both codecs), page chaining, and
    * the cross-file frame base must all line up. */
  val imreadTiff: Q = (s, dir) => {
    val base = fixtureBase(s, dir)
    val frameStep = 11
    val frames = (0 until FRAMES).map(f => base.map(p => (p + frameStep * f) % 256))
    val out = fixtureDir(s, dir, "tiff")
    java.nio.file.Files.write(out.resolve("frames_000_001.tiff"),
      ImageSource.encodeTiffPages(frames.take(2).map(f => (H, W, f)), comp = 5))
    java.nio.file.Files.write(out.resolve("frames_002.tiff"),
      ImageSource.encodeTiffPages(Seq((H, W, frames(2)))))
    typedFramesToDf(ImageSource.readTiff(s, s"$out/*.tiff")).orderBy("f", "i", "j")
  }

  /** BigTIFF + tiled-TIFF gate — the layout 100 TB microscopy actually
    * arrives in. Frames 0–1 live in ONE BigTIFF file (magic 43: 8-byte
    * IFD counts, 20-byte entries, LONG8 offset arrays) that is TILED
    * with a non-dividing 20×20 grid over 48×64 — both axes pad, so tile
    * reassembly must clip the padded edges — and LZW-compressed per
    * tile. Frame 2 is a classic TILED 16-bit deflate file (exact 16×16
    * grid), exercising the 2-byte-sample tile copy + byte-order
    * normalization. Both files use horizontal differencing (Predictor=2
    * — with LZW, THE standard microscopy combination; 16-bit diffs whole
    * samples). Tile-offset arrays exceed the inline value field in both
    * files, so the external-value indirection is also on the path. */
  val imreadBigTiff: Q = (s, dir) => {
    val base = fixtureBase(s, dir)
    val frames01 = (0 until 2).map(f => base.map(p => (p + 19 * f) % 256))
    val frame2 = fixtureBase16(s, dir).map(p => (p + 600) % 65536)
    val out = fixtureDir(s, dir, "btiff")
    java.nio.file.Files.write(out.resolve("frames_000_001.btiff"),
      ImageSource.encodeTiffPages(frames01.map((H, W, _)),
        comp = 5, big = true, tile = Some((20, 20)), pred = 2))
    java.nio.file.Files.write(out.resolve("frames_002.btiff"),
      ImageSource.encodeTiffPages(Seq((H, W, frame2)),
        comp = 8, big = false, tile = Some((16, 16)), bps = 16, pred = 2))
    typedFramesToDf(ImageSource.readTiff(s, s"$out/*.btiff")).orderBy("f", "i", "j")
  }

  private val bigTiffSql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f)
       |SELECT f.f AS f, g.i, g.j,
       |  CAST(CASE WHEN f.f < 2
       |    THEN ((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256
       |          + 19 * f.f) % 256
       |    ELSE ((CAST(round(g.v * 1000) AS BIGINT) % 65536 + 65536) % 65536
       |          + 600) % 65536
       |  END AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f
       |ORDER BY f, g.i, g.j""".stripMargin

  /** DataSource V2 imread gate: the same PGM fixture through
    * `format("graft-image")` with a `frame >= 1` predicate. The filter
    * pushes into the source's partition planning, so frame 0's file is
    * never opened or decoded (file-level pruning — asserted in
    * ImageSourceSpec); here the oracle checks the surviving frames'
    * bytes end to end. */
  val imreadV2Pushdown: Q = (s, dir) => {
    val glob = writeFixture(s, dir, "pgm", frameStep = 7)
    val df = graft.sources.v2.ImageBlockSource.read(s, glob, "pgm")
      .filter(col("frame") >= 1)
    typedFramesToDf(graft.sources.v2.ImageBlockSource.blocks(df)).orderBy("f", "i", "j")
  }

  // ------------------------------------------------------ RGB / JPEG
  /** (f, i, j, c, p) rows from 4-d channel-last uint8 TBlock frames. */
  private def rgbToDf(ds: org.apache.spark.sql.Dataset[graft.tensor.TBlock]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { b =>
      val h = b.shape(1); val w = b.shape(2); val nc = b.shape(3)
      val f = b.origin.head
      for (i <- 0 until h; j <- 0 until w; c <- 0 until nc)
        yield (f, i, j, c, (b.data((i * w + j) * nc + c) & 0xff).toLong)
    }.toDF("f", "i", "j", "c", "p")
  }

  /** Write a 3-frame RGB fixture: channel c of frame f =
    * (base + frameStep·f + 85·c) mod 256 — every (f, c) plane is a
    * distinct shift of the shared events-derived base, so a swapped
    * channel order or frame index breaks the hash. */
  private def writeRgbFixture(s: SparkSession, dir: String, codec: String,
      frameStep: Int): String = {
    val base = fixtureBase(s, dir)
    val out = fixtureDir(s, dir, codec)
    for (f <- 0 until FRAMES) {
      val rgb = new Array[Byte](H * W * 3)
      for (p <- 0 until H * W; c <- 0 until 3)
        rgb(p * 3 + c) = ((base(p).toInt + frameStep * f + 85 * c) % 256).toByte
      java.nio.file.Files.write(out.resolve(f"frame_$f%03d.$codec"),
        ImageSource.encodeRgb(H, W, rgb, codec))
    }
    s"$out/*.$codec"
  }

  /** RGB PNG imread through javax.imageio: color decode, channel-last
    * axis, native uint8 payload end to end (SURVEY §2A.1 — the
    * reference's pims surface is color-first; PNG is lossless so the
    * oracle recomputes every channel byte). */
  val imreadRgb: Q = (s, dir) => {
    val glob = writeRgbFixture(s, dir, "png", frameStep = 17)
    rgbToDf(ImageSource.readRgb(s, glob)).orderBy("f", "i", "j", "c")
  }

  /** JPEG imread, DETERMINISM-not-bytes oracle: the codec is lossy, so
    * no pixel-exact oracle can exist — but geometry, channel count, and
    * decode REPRODUCIBILITY are exact properties. The gate decodes the
    * fixture glob through two independent reads and emits one row per
    * frame: (f, h, w, nc, stable) where `stable` is md5-payload equality
    * across the two decodes. The DuckDB oracle states the expected
    * constants (48×64×3, stable) — any geometry drift, channel swap,
    * frame mis-index, or nondeterministic decode breaks the hash. The
    * pixel-level DCT residual stays bounded in ImageSourceSpec. */
  val imreadJpeg: Q = (s, dir) => {
    val out = fixtureDir(s, dir, "jpg")
    for (f <- 0 until FRAMES) {
      val rgb = new Array[Byte](H * W * 3)
      for (i <- 0 until H; j <- 0 until W; c <- 0 until 3)
        rgb((i * W + j) * 3 + c) = (i + j + 40 * c + 5 * f).toByte
      java.nio.file.Files.write(out.resolve(f"frame_$f%03d.jpg"),
        ImageSource.encodeRgb(H, W, rgb, "jpg"))
    }
    def sig(alias: String): DataFrame =
      ImageSource.readRgb(s, s"$out/*.jpg").toDF()
        .select(element_at(col("origin"), 1).as(s"f_$alias"),
          element_at(col("shape"), 2).as(s"h_$alias"),
          element_at(col("shape"), 3).as(s"w_$alias"),
          element_at(col("shape"), 4).as(s"nc_$alias"),
          md5(col("data")).as(s"md5_$alias"))
    sig("a").join(sig("b"), col("f_a") === col("f_b"))
      .select(col("f_a").as("f"), col("h_a").as("h"), col("w_a").as("w"),
        col("nc_a").as("nc"),
        (col("md5_a") === col("md5_b") && col("h_a") === col("h_b")
          && col("w_a") === col("w_b") && col("nc_a") === col("nc_b")).as("stable"))
      .orderBy(col("f"))
  }

  /** Animated-GIF imread through the clean-room GIF codec
    * (SURVEY §2A.1 — the pims source-breadth shape: one file is a whole
    * multi-frame clip). The fixture exercises the honest decode paths in
    * one gate: frames 0–1 live in ONE animated file with frame 1
    * INTERLACED (4-pass row order must deinterlace), frame 2 in a second
    * file with a REVERSED local palette over inverted indices — the
    * decoded value is right only if the LCT actually overrides the
    * global table. All three frames carry the gray value
    * (base + 23·f) mod 256 on every channel, so the oracle replays the
    * shared formula; LZW (with dictionary growth), palette lookup,
    * interlace, LCT, and cross-file frame numbering all sit under the
    * hash. */
  val imreadGif: Q = (s, dir) => {
    import graft.sources.GifSource
    import graft.sources.GifSource.GifFrame
    val base = fixtureBase(s, dir)
    val out = fixtureDir(s, dir, "gif")
    val grayPal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
    def idx(f: Int): Array[Byte] =
      base.map(p => ((p.toInt + 23 * f) % 256).toByte)
    java.nio.file.Files.write(out.resolve("frames_000_001.gif"),
      GifSource.encodeGif(W, H, grayPal, Seq(
        GifFrame(0, 0, W, H, idx(0)),
        GifFrame(0, 0, W, H, idx(1), interlace = true))))
    val revPal = Array.tabulate(256 * 3)(i => (255 - i / 3).toByte)
    java.nio.file.Files.write(out.resolve("frames_002.gif"),
      GifSource.encodeGif(W, H, grayPal, Seq(
        GifFrame(0, 0, W, H, idx(2).map(b => (255 - (b & 0xff)).toByte),
          localPalette = Some(revPal)))))
    rgbToDf(GifSource.readGif(s, s"$out/*.gif")).orderBy("f", "i", "j", "c")
  }

  private val gifSql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f),
       |chans AS (SELECT unnest([0, 1, 2]) AS c)
       |SELECT f.f AS f, g.i, g.j, c.c AS c,
       |  CAST(((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256
       |        + 23 * f.f) % 256 AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f CROSS JOIN chans c
       |ORDER BY f, g.i, g.j, c""".stripMargin

  /** FITS imread through the clean-room FITS codec (SURVEY §2A.1 — the
    * pims astronomy/microscopy container): frames 0–1 live in ONE
    * 3-axis cube file at BITPIX 16 with the BZERO=32768 unsigned
    * convention (big-endian sign-flip must land exactly for the ×1000
    * quantized values to survive), frame 2 in a second BITPIX 8 file —
    * cube plane indexing, the unsigned-16 offset, byte-order
    * normalization and cross-file frame numbering all under one hash. */
  val imreadFits: Q = (s, dir) => {
    import graft.sources.FitsSource
    val base16 = fixtureBase16(s, dir)
    val base8 = fixtureBase(s, dir)
    val out = fixtureDir(s, dir, "fits")
    java.nio.file.Files.write(out.resolve("cube_000_001.fits"),
      FitsSource.encodeFits(H, W,
        (0 until 2).map(f => base16.map(p => (p + 700 * f) % 65536)),
        bitpix = 16))
    java.nio.file.Files.write(out.resolve("frame_002.fits"),
      FitsSource.encodeFits(H, W,
        Seq(base8.map(p => (p + 29) % 256)), bitpix = 8))
    typedFramesToDf(FitsSource.readFits(s, s"$out/*.fits"))
      .orderBy("f", "i", "j")
  }

  private val fitsSql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f)
       |SELECT f.f AS f, g.i, g.j,
       |  CAST(CASE WHEN f.f < 2
       |    THEN ((CAST(round(g.v * 1000) AS BIGINT) % 65536 + 65536) % 65536
       |          + 700 * f.f) % 65536
       |    ELSE ((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256 + 29) % 256
       |  END AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f
       |ORDER BY f, g.i, g.j""".stripMargin

  /** Color image → relational reduction: per-(frame, channel) pixel sum
    * and count over the decoded RGB planes — the image-QC shape (channel
    * balance / dead-plane checks) a vision-data pipeline runs right
    * after decode. Exact integer outputs, so the oracle is hash-exact. */
  val imreadRgbChannelStats: Q = (s, dir) => {
    val glob = writeRgbFixture(s, dir, "png", frameStep = 17)
    rgbToDf(ImageSource.readRgb(s, glob))
      .groupBy(col("f"), col("c"))
      .agg(sum(col("p")).as("sum_p"), count(lit(1)).as("n_px"))
      .orderBy(col("f"), col("c"))
  }

  private val rgbChannelStatsSql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f),
       |chans AS (SELECT unnest([0, 1, 2]) AS c)
       |SELECT f.f AS f, c.c AS c,
       |  CAST(sum(((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256
       |       + 17 * f.f + 85 * c.c) % 256) AS BIGINT) AS sum_p,
       |  count(*) AS n_px
       |FROM grid g CROSS JOIN frames f CROSS JOIN chans c
       |GROUP BY f.f, c.c ORDER BY f, c""".stripMargin

  private def rgbRoundtripSql(frameStep: Int): String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f),
       |chans AS (SELECT unnest([0, 1, 2]) AS c)
       |SELECT f.f AS f, g.i, g.j, c.c AS c,
       |  CAST(((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256
       |        + $frameStep * f.f + 85 * c.c) % 256 AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f CROSS JOIN chans c
       |ORDER BY f, g.i, g.j, c""".stripMargin

  private def roundtripSql(frameStep: Int, minF: Int = 0): String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f)
       |SELECT f.f AS f, g.i, g.j,
       |  CAST(((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256
       |        + $frameStep * f.f) % 256 AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f
       |WHERE f.f >= $minF
       |ORDER BY f, g.i, g.j""".stripMargin

  private val pgm16Sql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f)
       |SELECT f.f AS f, g.i, g.j,
       |  CAST(((CAST(round(g.v * 1000) AS BIGINT) % 65536 + 65536) % 65536
       |        + 300 * f.f) % 65536 AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f
       |ORDER BY f, g.i, g.j""".stripMargin

  /** NumPy imread through the clean-room `.npy`/`.npz` codec
    * (SURVEY §2A.1 — the array-interchange format the reference's whole
    * ecosystem saves through `np.save`). The fixture exercises the
    * honest paths in one gate: frames 0–1 live in ONE 3-d BIG-ENDIAN
    * `'>u2'` cube (the byte-swap-at-decode path must land exactly for
    * the ×1000-quantized values to survive), frame 2 in an npz ZIP
    * container written UNDER a `.npy` NAME — numpy dispatches on
    * content, not extension, and so must the reader — holding a `'|u1'`
    * member. Cube plane slicing, endianness normalization, container
    * sniffing and cross-file frame numbering all under one hash. */
  val imreadNpy: Q = (s, dir) => {
    import graft.sources.NpySource
    import graft.tensor.DType
    val base16 = fixtureBase16(s, dir)
    val base8 = fixtureBase(s, dir)
    val out = fixtureDir(s, dir, "npy")
    val cube = new Array[Byte](2 * H * W * 2)
    for (f <- 0 until 2; p <- 0 until H * W) {
      val v = (base16(p).toInt + 500 * f) % 65536
      cube((f * H * W + p) * 2) = (v & 0xff).toByte
      cube((f * H * W + p) * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    java.nio.file.Files.write(out.resolve("cube_000_001.npy"),
      NpySource.encodeNpy(Seq(2, H, W), DType.U16, cube, bigEndian = true))
    val flat = Array.tabulate[Byte](H * W)(p => ((base8(p).toInt + 19) % 256).toByte)
    java.nio.file.Files.write(out.resolve("frame_002.npy"),
      NpySource.encodeNpz(Seq("arr_0.npy" ->
        NpySource.encodeNpy(Seq(H, W), DType.U8, flat))))
    typedFramesToDf(NpySource.readNpy(s, s"$out/*.npy"))
      .orderBy("f", "i", "j")
  }

  private val npySql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f)
       |SELECT f.f AS f, g.i, g.j,
       |  CAST(CASE WHEN f.f < 2
       |    THEN ((CAST(round(g.v * 1000) AS BIGINT) % 65536 + 65536) % 65536
       |          + 500 * f.f) % 65536
       |    ELSE ((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256 + 19) % 256
       |  END AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f
       |ORDER BY f, g.i, g.j""".stripMargin

  /** NumPy EXPORT round trip — the `np.save` interchange OUT
    * ([[graft.sources.NpySource.writeNpy]]): typed u16 frame blocks are
    * written distributedly as one `.npy` per block (no shuffle, each
    * executor writes its own files), then read back through
    * [[graft.sources.NpySource.readNpy]] and hashed against the same
    * formula oracle — so the header encode, the LE payload write, the
    * zero-padded frame naming and the glob read-back all gate together. */
  val npyExportRoundtrip: Q = (s, dir) => {
    import graft.sources.NpySource
    import graft.tensor.{DType, TBlock}
    val base16 = fixtureBase16(s, dir)
    val out = fixtureDir(s, dir, "npyx")
    val blocks = (0 until FRAMES).map { f =>
      val data = new Array[Byte](H * W * 2)
      for (p <- 0 until H * W) {
        val v = (base16(p).toInt + 123 * f) % 65536
        data(2 * p) = (v & 0xff).toByte
        data(2 * p + 1) = ((v >> 8) & 0xff).toByte
      }
      TBlock("npy_export", Seq(f, 0, 0), Seq(f, 0, 0), Seq(1, H, W),
        Seq(1, H, W), Seq(FRAMES, H, W), DType.U16.name, data)
    }
    import s.implicits._
    NpySource.writeNpy(s.createDataset(blocks).repartition(3), s"$out/store")
    typedFramesToDf(NpySource.readNpy(s, s"$out/store/*.npy"))
      .orderBy("f", "i", "j")
  }

  private val npyExportSql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f)
       |SELECT f.f AS f, g.i, g.j,
       |  CAST(((CAST(round(g.v * 1000) AS BIGINT) % 65536 + 65536) % 65536
       |        + 123 * f.f) % 65536 AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f
       |ORDER BY f, g.i, g.j""".stripMargin

  /** AVI imread through the clean-room RIFF container codec
    * (SURVEY §2A.1 — the pims VIDEO surface: upstream reads video
    * containers through pims/ffmpeg; this is the lossless BI_RGB leg,
    * pixel-exact by construction). The fixture exercises the honest
    * container paths in one gate: frames 0–1 live in ONE two-frame AVI
    * that ALSO carries an interleaved PCM16 audio track (the video walk
    * must step over '01wb' chunks without miscounting frames), frame 2
    * in a second video-only file. Channel c of frame f is the shared
    * events-derived base shifted by 23·f + 40·c — a swapped BGR order,
    * a dropped bottom-up row flip, or a frame mis-index all break the
    * hash. MJPEG (the lossy leg) is determinism-gated in AviSourceSpec
    * like imread_jpeg. */
  val imreadAvi: Q = (s, dir) => {
    import graft.sources.AviSource
    val base = fixtureBase(s, dir)
    val out = fixtureDir(s, dir, "avi")
    def frame(f: Int): Array[Byte] = {
      val rgb = new Array[Byte](H * W * 3)
      for (p <- 0 until H * W; c <- 0 until 3)
        rgb(p * 3 + c) = ((base(p).toInt + 23 * f + 40 * c) % 256).toByte
      rgb
    }
    val pcm = Array.tabulate[Short](800)(i => (i * 13 - 5200).toShort)
    java.nio.file.Files.write(out.resolve("clip_000_001.avi"),
      AviSource.encodeAvi(W, H, 40000L, Seq(frame(0), frame(1)),
        audio = Some((8000, pcm))))
    java.nio.file.Files.write(out.resolve("clip_002.avi"),
      AviSource.encodeAvi(W, H, 40000L, Seq(frame(2))))
    rgbToDf(AviSource.readAvi(s, s"$out/*.avi")).orderBy("f", "i", "j", "c")
  }

  private val aviSql: String =
    s"""WITH ${TensorQueries.gridCte},
       |frames AS (SELECT unnest([0, 1, 2]) AS f),
       |chans AS (SELECT unnest([0, 1, 2]) AS c)
       |SELECT f.f AS f, g.i, g.j, c.c AS c,
       |  CAST(((CAST(round(g.v * 100) AS BIGINT) % 256 + 256) % 256
       |        + 23 * f.f + 40 * c.c) % 256 AS BIGINT) AS p
       |FROM grid g CROSS JOIN frames f CROSS JOIN chans c
       |ORDER BY f, g.i, g.j, c""".stripMargin

  /** MJPEG-AVI imread, DETERMINISM-not-bytes oracle (the imread_jpeg
    * contract): the video chunks are lossy JPEG, so the gate pins
    * geometry, frame count and decode REPRODUCIBILITY (two independent
    * container decodes agree on order-free position-weighted integer
    * checksums per frame) — byte-exactness for the lossless DIB leg
    * lives in `imread_avi`. The fixture carries the `.mjpg` extension
    * (the codec is extension-agnostic) so fixtureDir's stale-file wipe
    * actually matches it. */
  val imreadAviMjpeg: Q = (s, dir) => {
    import graft.sources.AviSource
    val out = fixtureDir(s, dir, "mjpg")
    val rgb = Array.tabulate[Byte](FRAMES * H * W * 3) { p =>
      val f = p / (H * W * 3); ((p % 251) + 5 * f).toByte
    }
    java.nio.file.Files.write(out.resolve("clip.mjpg"),
      AviSource.encodeAvi(W, H, 40000L,
        (0 until FRAMES).map(f => java.util.Arrays.copyOfRange(
          rgb, f * H * W * 3, (f + 1) * H * W * 3)), codec = "MJPG"))
    // order-free, position-sensitive checksums (collect_list order is
    // nondeterministic; an integer weighted sum is not)
    def sig(alias: String): DataFrame =
      rgbToDf(AviSource.readAvi(s, s"$out/*.mjpg"))
        .groupBy(col("f").as(s"f_$alias"))
        .agg(max(col("i")).as(s"mi_$alias"), max(col("j")).as(s"mj_$alias"),
          sum(col("p")).as(s"s0_$alias"),
          sum(col("p") * ((col("i") * W + col("j")) * 3 + col("c")))
            .as(s"s1_$alias"))
    sig("a").join(sig("b"), col("f_a") === col("f_b"))
      .select(col("f_a").as("f"),
        (col("mi_a") + 1).as("h"), (col("mj_a") + 1).as("w"),
        (col("s0_a") === col("s0_b") && col("s1_a") === col("s1_b")
          && col("mi_a") === col("mi_b") && col("mj_a") === col("mj_b"))
          .as("stable"))
      .orderBy(col("f"))
  }

  val queries: Map[String, Q] = Map(
    "imread_pgm" -> imreadPgm,
    "imread_pgm_typed" -> imreadPgmTyped,
    "imread_pgm16_typed" -> imreadPgm16Typed,
    "imread_typed_pipeline" -> imreadTypedPipeline,
    "imread_png" -> imreadPng,
    "imread_tiff" -> imreadTiff,
    "imread_bigtiff" -> imreadBigTiff,
    "imread_v2_pushdown" -> imreadV2Pushdown,
    "imread_rgb" -> imreadRgb,
    "imread_jpeg" -> imreadJpeg,
    "imread_rgb_channel_stats" -> imreadRgbChannelStats,
    "imread_gif" -> imreadGif,
    "imread_fits" -> imreadFits,
    "imread_avi" -> imreadAvi,
    "imread_avi_mjpeg" -> imreadAviMjpeg,
    "imread_npy" -> imreadNpy,
    "npy_export_roundtrip" -> npyExportRoundtrip,
  )

  val oracle: Map[String, String] = Map(
    "imread_pgm" -> roundtripSql(7),
    "imread_pgm_typed" -> roundtripSql(7),
    "imread_pgm16_typed" -> pgm16Sql,
    "imread_typed_pipeline" -> typedPipelineSql,
    "imread_png" -> roundtripSql(13),
    "imread_tiff" -> roundtripSql(11),
    "imread_bigtiff" -> bigTiffSql,
    "imread_v2_pushdown" -> roundtripSql(7, minF = 1),
    "imread_rgb" -> rgbRoundtripSql(17),
    "imread_rgb_channel_stats" -> rgbChannelStatsSql,
    "imread_gif" -> gifSql,
    "imread_fits" -> fitsSql,
    "imread_avi" -> aviSql,
    "imread_npy" -> npySql,
    "npy_export_roundtrip" -> npyExportSql,
    // imread_jpeg: lossy DCT — the oracle gates DETERMINISM + geometry
    // (decode-twice md5 equality), not pixel bytes (spec-bounded residual)
    "imread_jpeg" ->
      """SELECT f, 48 AS h, 64 AS w, 3 AS nc, true AS stable
        |FROM (SELECT unnest([0, 1, 2]) AS f) ORDER BY f""".stripMargin,
    // imread_avi_mjpeg: same determinism contract as imread_jpeg
    "imread_avi_mjpeg" ->
      """SELECT f, 48 AS h, 64 AS w, true AS stable
        |FROM (SELECT unnest([0, 1, 2]) AS f) ORDER BY f""".stripMargin,
  )
}
