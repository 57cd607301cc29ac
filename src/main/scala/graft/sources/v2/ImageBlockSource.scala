package graft.sources.v2

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{ImageSource, NpySource}
import graft.tensor.TBlock

/** DataSource V2 imread — `spark.read.format("graft-image")` exposes an
  * image-file glob as TBlock rows (`dtype STRING, data BINARY`, the
  * file's own dtype — SURVEY §1.2) with a top-level `frame` column
  * (SURVEY.md §2A.1's eventual imread shape).
  *
  * What V2 buys over the binaryFile + decode helpers in
  * [[graft.sources.ImageSource]]: frame-range predicates PUSH INTO THE
  * SOURCE — `pushFilters` captures frame bounds, `planInputPartitions`
  * plans one partition per SURVIVING file, so pruned files are never
  * opened, never read, never decoded (binaryFile must read every file
  * and filter afterwards). Column pruning reaches the reader too: a
  * metadata query that never asks for `data` decodes headers only on the
  * PGM and npy paths, and still reports `dtype` (PGM maxval, npy descr).
  *
  * Frame numbering is plan-time: the driver lists and sorts the glob's
  * paths (names only — no file content), so frame i = i-th path, the
  * imread contract for one-frame-per-file codecs (pgm, png). Multi-page
  * TIFF needs per-file page counts, i.e. a content probe — that stays on
  * [[graft.sources.ImageSource.readTiff]]'s distributed prefix-sum path.
  *
  * Options: `path` (glob), `codec` (pgm | png | npy), `imageId` — npy
  * is the one-2-d-array-per-file `np.save` shape; its header carries
  * the dims, so the pruned-column path is header-only there too.
  */
class ImageBlockSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-image"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ImageBlockSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ImageBlockTable(properties.asScala.toMap)
}

object ImageBlockSource {
  /** TBlock fields plus a leading flat `frame` column (= idx(0)) that
    * filters can push against (arrays can't carry source filters). */
  val schema: StructType = StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("imageId", StringType, nullable = false),
    StructField("idx", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("origin", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("shape", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("chunk", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("arrayShape", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** Convenience: the V2 scan as a DataFrame. */
  def read(spark: SparkSession, glob: String, codec: String,
      imageId: String = "imread"): DataFrame =
    spark.read.format("graft-image")
      .option("codec", codec).option("imageId", imageId)
      .load(glob)

  /** Strip the pushdown column back to the engine's TBlock rows. */
  def blocks(df: DataFrame): Dataset[TBlock] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.drop("frame").as[TBlock]
  }
}

private[v2] class ImageBlockTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-image(${props.getOrElse("path", "?")})"
  override def schema(): StructType = ImageBlockSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ImageBlockScanBuilder(options.asScala.toMap ++ props)
}

private[v2] class ImageBlockScanBuilder(opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  // frame in [lo, hi], tightened by every accepted pushed filter
  private var lo = Int.MinValue
  private var hi = Int.MaxValue
  private var pushed = Array.empty[Filter]
  private var required: StructType = ImageBlockSource.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("frame", _: Int)            => true
      case GreaterThan("frame", _: Int)        => true
      case GreaterThanOrEqual("frame", _: Int) => true
      case LessThan("frame", _: Int)           => true
      case LessThanOrEqual("frame", _: Int)    => true
      case _                                   => false
    }
    accepted.foreach {
      case EqualTo(_, v: Int)            => lo = math.max(lo, v); hi = math.min(hi, v)
      case GreaterThan(_, v: Int)        => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual(_, v: Int) => lo = math.max(lo, v)
      case LessThan(_, v: Int)           => hi = math.min(hi, v - 1)
      case LessThanOrEqual(_, v: Int)    => hi = math.min(hi, v)
      case _                             =>
    }
    pushed = accepted
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new ImageBlockScan(opts, lo, hi, required)
}

/** One partition = one surviving file. `total` (frame count of the FULL
  * glob) rides along so arrayShape stays the whole stack's shape even
  * under a pruned read. */
private[v2] case class ImageFilePartition(path: String, frame: Int, total: Int,
    h: Int, w: Int) extends InputPartition

private[v2] class ImageBlockScan(opts: Map[String, String], lo: Int, hi: Int,
    required: StructType) extends Scan with Batch {

  private val glob = opts.getOrElse("path",
    throw new IllegalArgumentException("graft-image: path option is required"))
  private val codec = opts.getOrElse("codec", "pgm")
  private val imageId = opts.getOrElse("imageid", opts.getOrElse("imageId", "imread"))
  require(codec == "pgm" || codec == "png" || codec == "npy",
    s"graft-image: codec must be pgm|png|npy (multi-page tiff reads via ImageSource.readTiff), got $codec")

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-image $codec $glob frame∈[$lo,$hi]"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val p = new Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString).sorted
    files.zipWithIndex
      .filter { case (_, i) => i >= lo && i <= hi }
      .map { case (f, i) => ImageFilePartition(f, i, files.length, 0, 0): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // capture the session Hadoop conf DRIVER-SIDE so executor reads see the
    // same fs settings (s3a credentials etc.) that planInputPartitions used
    new ImageBlockReaderFactory(codec, imageId, required.fieldNames,
      new SerializableConfiguration(SparkSession.active.sparkContext.hadoopConfiguration))
}

private[v2] class ImageBlockReaderFactory(codec: String, imageId: String,
    fields: Array[String], conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[ImageFilePartition]
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (done) return false
        done = true
        val path = new Path(part.path)
        // executor-local FS access with the driver's session conf
        val fs = path.getFileSystem(conf.value)
        val len = fs.getFileStatus(path).getLen.toInt
        val needData = fields.contains("data")
        def readPrefix(n: Int): Array[Byte] = {
          val b = new Array[Byte](math.min(n, len))
          val in = fs.open(path)
          try in.readFully(0, b) finally in.close()
          b
        }
        def plane(shape: Seq[Int]): (Int, Int) = shape match {
          case Seq(hh, ww) => (hh, ww)
          case s => throw new IllegalArgumentException(
            s"graft-image npy: one 2-d array per file, got ${s.length}-d")
        }
        // (h, w, dtype) from a pgm or npy header
        def header(b: Array[Byte]): (Int, Int, String) = codec match {
          case "pgm" =>
            val (hh, ww, dt, _) = ImageSource.pgmHeader(b); (hh, ww, dt.name)
          case _ =>
            val (_, dt, _, shape) = NpySource.npyMeta(b)
            val (hh, ww) = plane(shape); (hh, ww, dt.name)
        }
        val (h, w, dtype, px): (Int, Int, String, Array[Byte]) =
          // column pruning reaches the decode: a metadata scan on a
          // header-bearing codec reads a HEADER PREFIX, not the payload —
          // that is the point of header-only decode on a big .npy; the
          // rare over-64KiB header falls back to the full read (png has
          // no header-only branch: it always decodes the full file)
          if (!needData && codec != "png") {
            val (hh, ww, dt) =
              try header(readPrefix(64 << 10))
              catch {
                case _: IllegalArgumentException if len > (64 << 10) =>
                  header(readPrefix(len))
              }
            (hh, ww, dt, null)
          } else {
            val bytes = readPrefix(len)
            codec match {
              case "pgm" => ImageSource.decodePgm(bytes)
              case "png" => ImageSource.decodePng(bytes)
              case _ =>
                val (shape, dt, le) = NpySource.decodeNpy(bytes)
                val (hh, ww) = plane(shape); (hh, ww, dt.name, le)
            }
          }
        val f = part.frame
        def arr(xs: Seq[Int]) = new GenericArrayData(xs.map(Int.box).toArray[Any])
        val values: Map[String, Any] = Map(
          "frame" -> f,
          "imageId" -> UTF8String.fromString(imageId),
          "idx" -> arr(Seq(f, 0, 0)),
          "origin" -> arr(Seq(f, 0, 0)),
          "shape" -> arr(Seq(1, h, w)),
          "chunk" -> arr(Seq(1, h, w)),
          "arrayShape" -> arr(Seq(part.total, h, w)),
          "dtype" -> UTF8String.fromString(dtype),
          "data" -> px)
        row = InternalRow.fromSeq(fields.toSeq.map(values))
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
