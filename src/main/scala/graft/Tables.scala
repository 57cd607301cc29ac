package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table loader for the driver-generated parquet testdata, and the one
  * parquet open path of the engine.
  *
  * All queries read through here so that a future move to a real lake
  * layout (partitioned dirs, bucketed tables, a catalog) is a one-file
  * change. At 100 TB these would be catalog tables with partition pruning;
  * at test scale they are single parquet files.
  *
  * Every parquet read in the engine goes through [[parquet]], which reads
  * the schema from one footer, once, on the driver. Spark's own schema
  * inference launches a job to read that same footer, even for one file.
  */
object Tables {

  /** Spark's parquet read of `path` without its schema-inference job: the
    * schema comes from the footer Spark's non-merging inference reads
    * (`_common_metadata`, else `_metadata`, else the first data file in
    * path order), read on the driver and converted by Spark's own
    * footer-to-schema code, and Spark still discovers partition columns
    * from the directory names. When the session asks for `mergeSchema`,
    * or the path holds no data file (or does not exist), the read is
    * Spark's unchanged, so its merge and its errors stay as they are. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    // listStatus, not listFiles/listLocatedStatus: a LocatedFileStatus
    // asks a local file for its permissions, which without native hadoop
    // forks a shell per file
    val root = try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
    val footer = root.flatMap { st =>
      if (st.isFile) Some(st)
      else {
        val entries = fs.listStatus(p)
        def named(n: String) = entries.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata")).orElse(firstDataFile(fs, entries))
      }
    }
    footer.map { st =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, hconf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, meta), new ParquetToSparkSchemaConverter(conf))
    }
  }

  /** The first data file in full-path order, as Spark's file index sorts
    * its leaves: a directory sorts as its name plus `/`. Hidden names are
    * skipped as the file index skips them (`_` without `=`, and `.`). */
  private def firstDataFile(fs: FileSystem, entries: Array[FileStatus]): Option[FileStatus] =
    entries.filterNot { st =>
      val n = st.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    }.sortBy(st => st.getPath.getName + (if (st.isDirectory) "/" else ""))
      .iterator
      .flatMap(st => if (st.isDirectory) firstDataFile(fs, fs.listStatus(st.getPath)) else Some(st))
      .nextOption()

  /** Sessions must set this: Spark has no nanosecond timestamp type, so a
    * TIMESTAMP(NANOS) events parquet column is read as a raw nanosecond
    * BIGINT and re-derived below. DuckDB 1.0 (the oracle) truncates ns→µs
    * on read, so `timestamp_micros(ts_ns div 1000)` is bit-identical to
    * what the oracle sees. Harmless when the file is µs-precision (the
    * conf only affects NANOS columns).
    */
  val nanosAsLongConf: (String, String) =
    "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** Normalize an events frame to the one shape every downstream query
    * assumes: `ts_ns` BIGINT epoch-nanoseconds in the original column slot
    * plus `ts` TIMESTAMP (µs, session-UTC) appended — derived as
    * `timestamp_micros(ts_ns div 1000)` in both branches so the µs
    * truncation matches what the DuckDB oracle reads.
    *
    * The driver has shipped two physical encodings of `events.ts`:
    * TIMESTAMP(NANOS), which `nanosAsLong` surfaces as a raw LongType; and
    * plain µs TIMESTAMP / TIMESTAMP_NTZ (the NANOS conf is a no-op there).
    * For the µs shapes, ts_ns = unix_micros × 1000 — value-preserving
    * under the UTC session timezone and far from Long overflow. */
  def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val tsNs: org.apache.spark.sql.Column = df.schema("ts").dataType match {
      case LongType => df("ts")
      case _ => unix_micros(df("ts").cast(TimestampType)) * 1000L
    }
    df.select(df.columns.map {
        case "ts" => tsNs.as("ts_ns")
        case c => df(c)
      }.toSeq: _*)
      .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
  }

  /** Plan cache: re-reading the same table re-lists files and re-reads
    * parquet footers on every call; reusing the analyzed DataFrame keeps
    * one shared FileIndex per (session, dir, table). On a cluster this is
    * what a catalog table gives you for free. [[t]] drops the entries of
    * stopped sessions, so the map does not keep them reachable. */
  private[graft] val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Bench-only: the testdata files are single-row-group parquet, so every
    * scan is ONE task regardless of maxPartitionBytes. When >0, tables are
    * repartitioned at load so the (persisted) in-memory relations scan in
    * parallel. 0 (the default everywhere but Bench) keeps the raw scan —
    * on a real lake, row groups already give scan parallelism. */
  @volatile var benchParts: Int = 0

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    cache.keySet.removeIf(_._1.sparkContext.isStopped)
    cache.computeIfAbsent((spark, dir, name), { _ =>
      val raw = parquet(spark, s"$dir/$name.parquet")
      val df = if (name == "events") normalizeEvents(raw) else raw
      if (benchParts > 0) df.repartition(benchParts) else df
    })
  }
}
