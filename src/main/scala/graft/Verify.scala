package graft
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB oracle compare (`tools/check_oracle.py`)
  * and manifest.json with each key's status. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: regex over query keys (local iteration only —
    // the driver always runs the full map)
    val keyFilter: String => Boolean =
      if (args.length > 2) { val re = args(2).r; s => re.findFirstIn(s).isDefined }
      else _ => true
    val spark = GraftSession.verify(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // Self-forensic sidecars (stream_embedding_dedup) land INSIDE this
    // dump so the driver ships them with the parquet the oracle hashes
    // (r22, verdict #1 — the /tmp sidecar was never driver-visible).
    sys.props("graft.forensics.dir") = outDir
    dump(spark, sfDir, outDir, SparkEntry.queries.filter(kv => keyFilter(kv._1)))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each query's result to `outDir/<key>` as one parquet file and
    * `outDir/manifest.json`: per key, `status` ok or error, for an error
    * the exception class and its first stack frame, `jobs` (the Spark
    * jobs the key started, its write included), `rows` (an ok key's row
    * count, read from the written file's footer) and `wall_s`. A
    * non-fatal failure is recorded and the next key runs; a fatal JVM
    * error propagates and ends the run. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val entries = Timed.TaskCounter.using(spark) { counter =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        var status = ""
        counter.around(spark) {
          status = try {
            val path = s"$outDir/$name"
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
            s""""status":"ok","rows":${footerRows(spark, path)}"""
          } catch { case NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            s""""status":"error","error":${q(e.getClass.getName)},""" +
              s""""frame":${q(e.getStackTrace.headOption.fold("")(_.toString))}"""
          }
        }
        val wallS = (System.nanoTime() - t0) / 1e9
        s"${q(name)}:{$status,\"jobs\":${counter.jobs.get},\"wall_s\":$wallS}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/manifest.json"), entries.mkString("{", ",", "}"))
  }

  /** Rows in the parquet files under `dir`, summed from their footers'
    * row-group counts on the driver (no Spark job). */
  private def footerRows(spark: SparkSession, dir: String): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    p.getFileSystem(hconf).listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hconf),
          ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
      }.sum
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in a query's SQL text would otherwise make the
  // oracle's json.load fail and silently zero the correctness check.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
