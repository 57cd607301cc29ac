package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
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
    * the exception class and its first stack frame, and `wall_s`. A
    * non-fatal failure is recorded and the next key runs; a fatal JVM
    * error propagates and ends the run. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val entries = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val status = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        s""""status":"ok""""
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        s""""status":"error","error":${q(e.getClass.getName)},""" +
          s""""frame":${q(e.getStackTrace.headOption.fold("")(_.toString))}"""
      }
      s"${q(name)}:{$status,\"wall_s\":${(System.nanoTime() - t0) / 1e9}}"
    }
    Files.writeString(Paths.get(s"$outDir/manifest.json"), entries.mkString("{", ",", "}"))
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
