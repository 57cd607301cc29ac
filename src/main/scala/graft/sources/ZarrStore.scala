package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.tensor.{BNd, DType, TBlock}

/** Zarr v2 store — the PUBLIC chunked-array interchange format the
  * reference ecosystem's `to_zarr`/`from_zarr` speaks (dask/xarray/numpy
  * all read it; spec: zarr v2 storage specification). Unlike
  * [[TensorStore]] (the engine-private parquet chunk lake), a directory
  * written here is readable by any zarr client: a group `.zgroup`, one
  * array directory per imageId holding a `.zarray` JSON descriptor and
  * one chunk object per grid cell named `i.j[.k]` (dot-separated grid
  * indices), each the raw C-order little-endian chunk bytes, optionally
  * gzip-compressed (numcodecs `gzip` id — plain RFC 1952, so the JDK
  * codec interoperates bit-for-bit).
  *
  * Format corners implemented to spec:
  *  - EDGE chunks are stored FULL-SIZE (zarr pads the partial tail with
  *    `fill_value`); the writer pads with zeros, the reader trims back
  *    to the array bounds, so engine blocks (which carry trimmed edge
  *    shapes) round-trip exactly.
  *  - complex64/128: zarr's element is the (re, im) PAIR — `<c8`/`<c16`
  *    with the LOGICAL shape — while this engine's complex convention
  *    doubles the last axis with interleaved components
  *    ([[graft.tensor.Fourier]]). The byte payload is identical in C
  *    order; only the metadata halves/doubles the last axis at the
  *    store boundary. A zarr client sees a spec-correct complex array.
  *  - dtype typestrs: 1-byte types use `|`, wider are written `<`
  *    (little-endian, the engine's native payload order).
  *
  * Scale posture: the write is one pass with no shuffle — each executor
  * writes its own chunk objects through the Hadoop FileSystem of `dir`
  * (driver conf captured, so s3a:// and hdfs:// work like file:), and
  * the per-array `.zarray` comes from a |images|-row manifest aggregate.
  * The read parallelizes over chunk objects via `binaryFiles` with the
  * tiny `.zarray` broadcast — chunk-grain tasks, the same grain a
  * 100 TB zarr lake shards on.
  */
object ZarrStore {

  private val typestrOf: Map[String, String] = Map(
    "bool" -> "|b1", "int8" -> "|i1", "uint8" -> "|u1",
    "int16" -> "<i2", "uint16" -> "<u2", "int32" -> "<i4", "uint32" -> "<u4",
    "int64" -> "<i8", "uint64" -> "<u8",
    "float16" -> "<f2", "float32" -> "<f4", "float64" -> "<f8",
    "complex64" -> "<c8", "complex128" -> "<c16")
  private val dtypeNameOf: Map[String, String] = typestrOf.map(_.swap)

  private def isComplex(dtype: String): Boolean =
    dtype == "complex64" || dtype == "complex128"

  /** Array-level metadata as stored (LOGICAL zarr shape — complex NOT
    * component-doubled). */
  case class ZArray(name: String, shape: Seq[Int], chunks: Seq[Int],
      dtype: String, gzipLevel: Option[Int]) {
    def typestr: String = typestrOf(dtype)
    /** Engine-side (component-space) shape/chunks: complex doubles the
      * last axis. */
    def componentShape: Seq[Int] =
      if (isComplex(dtype)) shape.init :+ (shape.last * 2) else shape
    def componentChunks: Seq[Int] =
      if (isComplex(dtype)) chunks.init :+ (chunks.last * 2) else chunks
  }

  /** Write a NATIVE-dtype block tensor as one zarr v2 group: one array
    * per imageId. `gzipLevel` Some(1..9) stores numcodecs-gzip chunks;
    * None stores raw chunks (`"compressor": null`). Overwrites.
    *
    * ONE pass over the blocks (r13 review): the chunk-writing
    * foreachPartition also accumulates each partition's distinct
    * per-image geometry (a |images|-bounded driver set), so the input
    * lineage is never computed twice. Metadata (`.zarray`/`.zgroup`/
    * `.zmetadata`) is validated and written LAST — the commit marker: a
    * failed or geometry-inconsistent write leaves no descriptors, so
    * readers see nothing rather than a corrupt group. */
  def writeTyped(blocks: Dataset[TBlock], dir: String,
      gzipLevel: Option[Int] = None): Unit = {
    val spark = blocks.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new Path(dir)
    // UNCACHED FileSystem instances throughout: setWriteChecksum on the
    // shared cached instance would disable `.crc` sidecars for every
    // later user of that filesystem in this JVM; the uncached instance
    // scopes the no-sidecar behavior (the directory must hold ONLY spec
    // objects for foreign zarr clients) to this write, and is closed.
    val fs = FileSystem.newInstance(base.toUri, hconf)
    try {
      fs.setWriteChecksum(false)
      fs.delete(base, true)
      fs.mkdirs(base)

      // chunk objects + per-partition geometry harvest: executor-side,
      // one pass, no shuffle; edge blocks pad to the full chunk shape
      // with zero fill per the spec
      val conf = new SerializableConfiguration(hconf)
      type Geo = (String, Seq[Int], Seq[Int], String)
      val geoAcc: org.apache.spark.util.CollectionAccumulator[Geo] =
        spark.sparkContext.collectionAccumulator[Geo]("zarr_geometries")
      blocks.foreachPartition { (it: Iterator[TBlock]) =>
        val root = new Path(dir)
        val xfs = FileSystem.newInstance(root.toUri, conf.value)
        val seen = scala.collection.mutable.Set
          .empty[(String, Seq[Int], Seq[Int], String)]
        try {
          xfs.setWriteChecksum(false)
          it.foreach { b =>
            seen += ((b.imageId, b.arrayShape, b.chunk, b.dtype))
            val w = b.dt.bytes
            val full =
              if (b.shape == b.chunk) b.data
              else {
                val dst = BNd.zeros(b.chunk.toArray, w)
                dst.copyRegion(BNd.of(b.shape.toArray, w, b.data),
                  new Array[Int](b.ndim), b.shape.toArray, new Array[Int](b.ndim))
                dst.data
              }
            val payload = gzipLevel match {
              case None => full
              case Some(l) =>
                val bos = new ByteArrayOutputStream(full.length / 2 + 64)
                val gz = new GZIPOutputStream(bos) {
                  `def`.setLevel(l)
                }
                // close(), not just finish(): close ends the native
                // Deflater — finish alone leaks its zlib buffers until GC
                try gz.write(full) finally gz.close()
                bos.toByteArray
            }
            val adir = new Path(root, b.imageId)
            xfs.mkdirs(adir)
            val out = xfs.create(new Path(adir, b.idx.mkString(".")), true)
            try out.write(payload) finally out.close()
          }
          seen.foreach(geoAcc.add)
        } finally xfs.close()
      }

      // manifest from the harvested geometries, with the same
      // disagreement guards as TensorStore (mixed grids/dtypes must
      // fail, not corrupt — and they fail BEFORE any descriptor lands)
      import scala.jdk.CollectionConverters._
      val byImage: Map[String, Set[Geo]] =
        geoAcc.value.asScala.toSet[Geo].groupBy(_._1)
      for ((id, geoms) <- byImage) {
        require(geoms.map(g => (g._2, g._3)).size == 1,
          s"zarr write: blocks of one imageId must share arrayShape+chunk ($id)")
        require(geoms.map(_._4).size == 1,
          s"zarr write: blocks of one imageId must share one dtype ($id)")
      }

      def jsonOf(z: ZArray): String = {
        val comp = z.gzipLevel
          .map(l => s"""{"id":"gzip","level":$l}""").getOrElse("null")
        s"""{"zarr_format":2,"shape":[${z.shape.mkString(",")}],""" +
          s""""chunks":[${z.chunks.mkString(",")}],"dtype":"${z.typestr}",""" +
          s""""compressor":$comp,"fill_value":0,"order":"C",""" +
          s""""filters":null,"dimension_separator":"."}"""
      }
      def writeFile(p: Path, bytes: Array[Byte]): Unit = {
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
      }
      writeFile(new Path(base, ".zgroup"), """{"zarr_format":2}""".getBytes(UTF_8))
      val consolidated = scala.collection.mutable.ArrayBuffer(
        "\".zgroup\":{\"zarr_format\":2}")
      for (id <- byImage.keys.toSeq.sorted) {
        val (_, compShape, compChunk, dtype) = byImage(id).head
        require(typestrOf.contains(dtype), s"zarr: unsupported dtype $dtype")
        if (isComplex(dtype)) {
          require(compShape.last % 2 == 0 && compChunk.last % 2 == 0,
            s"zarr: complex payload must have even component last axis, " +
              s"got shape $compShape chunk $compChunk")
        }
        val (shape, chunk) =
          if (isComplex(dtype))
            (compShape.init :+ compShape.last / 2, compChunk.init :+ compChunk.last / 2)
          else (compShape, compChunk)
        val zaJson = jsonOf(ZArray(id, shape, chunk, dtype, gzipLevel))
        writeFile(new Path(new Path(base, id), ".zarray"), zaJson.getBytes(UTF_8))
        consolidated += s""""$id/.zarray":$zaJson"""
      }
      // consolidated metadata (the zarr-python `consolidate_metadata`
      // convention): ONE object holding every array descriptor, so an
      // object-store reader opens the group with a single GET instead of
      // a LIST + per-array fetch — [[arrays]] prefers it when present
      writeFile(new Path(base, ".zmetadata"),
        (s"""{"zarr_consolidated_format":1,"metadata":{""" +
          consolidated.mkString(",") + "}}").getBytes(UTF_8))
    } finally fs.close()
  }

  /** Parse one `.zarray` JSON (field-order tolerant over the subset of
    * the spec this store speaks; unknown compressors fail loudly). */
  private[graft] def parseZArray(name: String, json: String): ZArray = {
    def arr(field: String): Seq[Int] = {
      val re = ("\"" + field + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
      val body = re.findFirstMatchIn(json)
        .getOrElse(throw new IllegalArgumentException(
          s"zarr: .zarray missing $field: $json")).group(1).trim
      if (body.isEmpty) Seq.empty else body.split(",").map(_.trim.toInt).toSeq
    }
    val dtypeRe = "\"dtype\"\\s*:\\s*\"([^\"]+)\"".r
    val ts = dtypeRe.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"zarr: missing dtype: $json"))
      .group(1)
    val dtype = dtypeNameOf.getOrElse(ts,
      throw new IllegalArgumentException(s"zarr: unsupported dtype '$ts'"))
    val compRe = "\"compressor\"\\s*:\\s*(null|\\{[^}]*\\})".r
    val comp = compRe.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"zarr: missing compressor: $json"))
      .group(1)
    val gz =
      if (comp == "null") None
      else if (comp.contains("\"gzip\"")) {
        val lvl = "\"level\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(comp)
          .map(_.group(1).toInt).getOrElse(1)
        Some(lvl)
      } else throw new IllegalArgumentException(
        s"zarr: unsupported compressor $comp (null and gzip are implemented)")
    val orderRe = "\"order\"\\s*:\\s*\"([^\"]+)\"".r
    for (o <- orderRe.findFirstMatchIn(json).map(_.group(1)))
      require(o == "C", s"zarr: only C order is supported, got '$o'")
    // a filter chain (numcodecs Delta/Shuffle/…) transforms the chunk
    // bytes BEFORE the compressor; reading one as raw would return
    // residuals, not values — fail loudly, never corrupt silently
    for (f <- "\"filters\"\\s*:\\s*(null|\\[[^\\]]*\\])".r
        .findFirstMatchIn(json).map(_.group(1)))
      require(f == "null" || f.replaceAll("\\s", "") == "[]",
        s"zarr: filter chains are not supported, got filters=$f")
    for (sep <- "\"dimension_separator\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(json).map(_.group(1)))
      require(sep == ".", s"zarr: only '.' dimension_separator is supported")
    // fill_value semantics: a chunk ABSENT from the store reads as
    // fill_value. This reader requires every grid chunk to be present
    // (readTyped counts them), which is only equivalent for a DENSE
    // store; a non-zero/NaN fill_value signals a writer that relies on
    // implicit-fill semantics we don't synthesize — reject loudly
    // rather than return silently wrong values on foreign data.
    for (fv <- "\"fill_value\"\\s*:\\s*(null|\"[^\"]*\"|[-0-9.eE+]+)".r
        .findFirstMatchIn(json).map(_.group(1)))
      require(fv == "null" || fv == "0" || fv == "0.0" ||
          (try BigDecimal(fv) == 0 catch { case _: Exception => false }),
        s"zarr: non-zero fill_value $fv is not supported (sparse/implicit-" +
          "fill arrays would read back silently incomplete)")
    ZArray(name, arr("shape"), arr("chunks"), dtype, gz)
  }

  /** The group's array descriptors. Prefers `.zmetadata` (consolidated —
    * ONE read, the object-store path); falls back to listing array
    * directories for groups written by tools that don't consolidate. */
  def arrays(spark: SparkSession, dir: String): Seq[ZArray] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zm = new Path(base, ".zmetadata")
    if (fs.exists(zm)) {
      val in = fs.open(zm)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      // entries look like "name/.zarray":{...}; the value allows ONE
      // level of brace nesting (the compressor object) — matched with an
      // explicit nested-or-flat alternation, not a non-greedy dot (which
      // would cut at the compressor's closing brace)
      val entry = ("\"([^\"/]+)/\\.zarray\"\\s*:\\s*" +
        "(\\{(?:[^{}]|\\{[^{}]*\\})*\\})").r
      val out = entry.findAllMatchIn(json)
        .map(g => parseZArray(g.group(1), g.group(2))).toSeq.sortBy(_.name)
      require(out.nonEmpty, s"zarr: .zmetadata under $dir holds no arrays")
      // stale-consolidation cross-check: .zmetadata is a CACHE of the
      // per-array .zarray files; a tool that rewrote an array without
      // re-consolidating leaves them disagreeing, and trusting the
      // cache would decode chunks with the wrong shape/dtype. The
      // per-array files are the truth — compare, fail loudly.
      out.foreach { z =>
        val za = new Path(new Path(base, z.name), ".zarray")
        if (fs.exists(za)) {
          val in2 = fs.open(za)
          val fresh = try parseZArray(z.name,
            scala.io.Source.fromInputStream(in2, "UTF-8").mkString)
            finally in2.close()
          require(fresh == z,
            s"zarr: .zmetadata is STALE for array '${z.name}' (consolidated " +
              s"$z vs on-disk $fresh) — re-consolidate the group")
        }
      }
      out
    } else fs.listStatus(base).toSeq.filter(_.isDirectory).flatMap { st =>
      val za = new Path(st.getPath, ".zarray")
      if (!fs.exists(za)) None
      else {
        val in = fs.open(za)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some(parseZArray(st.getPath.getName, json))
      }
    }.sortBy(_.name)
  }

  /** Read one array (or all, imageId = None) back as native TBlock rows —
    * chunk-grain parallelism, edge chunks trimmed to the array bounds;
    * complex arrays come back in the engine's component convention.
    *
    * `frameRange` restricts the LEADING grid index to [lo, hi] — the
    * chunk key encodes the grid cell, so the restriction prunes at the
    * FILE NAME before any chunk object is opened (the zarr analog of
    * TensorStore's PartitionFilter pruning; on an object store this is
    * the difference between listing and fetching). */
  def readTyped(spark: SparkSession, dir: String,
      imageId: Option[String] = None,
      frameRange: Option[(Int, Int)] = None): Dataset[TBlock] = {
    import spark.implicits._
    val metas = arrays(spark, dir)
    val wanted = imageId match {
      case Some(id) =>
        require(metas.exists(_.name == id),
          s"zarr: no array '$id' under $dir (have ${metas.map(_.name).mkString(",")})")
        metas.filter(_.name == id)
      case None => metas
    }
    require(wanted.nonEmpty, s"zarr: no arrays under $dir")
    val byName = spark.sparkContext.broadcast(wanted.map(z => z.name -> z).toMap)
    val globs = wanted.map { z =>
      val adir = new Path(new Path(dir), z.name).toString
      frameRange match {
        // glob alternation over the surviving leading indices: the name
        // IS the grid address, so pruning happens in the LISTING
        case Some((lo, hi)) =>
          val leadMax = (z.shape.head + z.chunks.head - 1) / z.chunks.head - 1
          val keep = (math.max(lo, 0) to math.min(hi, leadMax))
          require(keep.nonEmpty, s"zarr: frame range [$lo,$hi] outside grid")
          s"$adir/{${keep.mkString(",")}}${if (z.shape.length > 1) ".*" else ""}"
        case None => s"$adir/*"
      }
    }
    val chunkName = """\d+(\.\d+)*""".r
    // DENSE-store contract (foreign-read guard): zarr semantics say an
    // absent chunk reads as fill_value, so a sparse foreign array would
    // otherwise come back silently incomplete. We don't synthesize fill
    // blocks — instead require every grid cell in range to be present,
    // counted at LISTING time (metadata-scale, the same listing the
    // binaryFiles read performs; tools/zarr_check.py makes the same
    // check independently).
    wanted.zip(globs).foreach { case (z, glob) =>
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val found = Option(fs.globStatus(new Path(glob))).getOrElse(Array.empty)
        .count(st => chunkName.matches(st.getPath.getName))
      val grid = z.shape.indices.map(k =>
        (z.shape(k) + z.chunks(k) - 1) / z.chunks(k))
      val leadCells = frameRange match {
        case Some((lo, hi)) =>
          math.min(hi, grid.head - 1) - math.max(lo, 0) + 1
        case None => grid.head
      }
      val expected = leadCells.toLong * grid.tail.map(_.toLong).product
      require(found.toLong == expected,
        s"zarr: array '${z.name}' has $found chunk objects where the grid " +
          s"needs $expected — a sparse (implicit fill_value) array is not " +
          "supported; materialize missing chunks before reading")
    }
    spark.sparkContext.binaryFiles(globs.mkString(","))
      .flatMap { case (path, pds) =>
        val p = new Path(path)
        val fname = p.getName
        if (chunkName.matches(fname)) {
          val z = byName.value(p.getParent.getName)
          val idx = fname.split("\\.").map(_.toInt).toSeq
          require(idx.length == z.shape.length,
            s"zarr: chunk $fname rank != array rank ${z.shape.length}")
          val raw = pds.toArray()
          val full = z.gzipLevel match {
            case None => raw
            case Some(_) =>
              val in = new GZIPInputStream(
                new java.io.ByteArrayInputStream(raw), 64 << 10)
              try in.readAllBytes() finally in.close()
          }
          val dt = DType.of(z.dtype)
          val compChunk = z.componentChunks
          val compShape = z.componentShape
          require(full.length == compChunk.product * dt.bytes,
            s"zarr: chunk $fname has ${full.length} B, expected " +
              s"${compChunk.product * dt.bytes} (chunks $compChunk × ${dt.bytes} B)")
          val origin = idx.indices.map(k => idx(k) * compChunk(k))
          val shape = idx.indices.map(k =>
            math.min(compChunk(k), compShape(k) - origin(k)))
          require(shape.forall(_ > 0), s"zarr: chunk $fname outside array bounds")
          val data =
            if (shape == compChunk) full
            else {
              val dst = BNd.zeros(shape.toArray, dt.bytes)
              dst.copyRegion(BNd.of(compChunk.toArray, dt.bytes, full),
                new Array[Int](idx.length), shape.toArray, new Array[Int](idx.length))
              dst.data
            }
          Some(TBlock(z.name, idx, origin, shape, compChunk, compShape,
            z.dtype, data))
        } else None
      }
      .toDS()
  }
}
