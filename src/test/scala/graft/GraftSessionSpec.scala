package graft

import org.apache.spark.sql.execution.FormattedMode

/** The session factory keeps each profile's conf and sizing rules. */
class GraftSessionSpec extends SparkSpec {

  private def distinct(conf: Seq[(String, String)]): Map[String, String] = {
    assert(conf.map(_._1).distinct.size == conf.size, s"duplicate keys in $conf")
    conf.toMap
  }

  test("the engine reads exactly three graft conf keys") {
    // every other value is a constant or a private parameter the specs
    // pass: a new key needs two callers that want different values
    val keyLit = "\"((spark\\.)?graft\\.[A-Za-z.]+)\"".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    val files = java.nio.file.Files.walk(root)
    val keys = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
        keyLit.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1))
      }.toSet
    } finally files.close()
    assert(keys == Set("graft.checkpoint.reliable", "graft.forensics.dir",
      "spark.graft.stream.checkpointRoot"), s"graft conf keys in src/main: $keys")
  }

  test("bench latency/scale and verify conf maps, key by key") {
    val common = Map(
      "spark.locality.wait" -> "0",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
      "spark.ui.enabled" -> "false")
    assert(distinct(GraftSession.benchConf(4, 1, scale = false)) == common ++ Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false"))
    assert(distinct(GraftSession.benchConf(32, 32, scale = true)) == common ++ Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "128",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "67108864",
      "spark.shuffle.compress" -> "true",
      "spark.shuffle.spill.compress" -> "true",
      "spark.io.compression.codec" -> "zstd"))
    val verify = distinct(GraftSession.verifyConf(4))
    assert(verify == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.ui.enabled" -> "false"))
    // the specs' own session is the verify profile, in a temp warehouse
    val conf = spark.sparkContext.getConf
    verify.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("spark.sql.warehouse.dir").contains("graft_wh"))
  }

  test("shuffle width, table parts and the scale switch by input size and cores") {
    val (mib, gib) = (1L << 20, 1L << 30)
    val sizes = Seq(17 * mib, 173 * mib, 17 * gib)
    assert(sizes.map(GraftSession.shuffleWidth(_, 4)) == Seq(1, 4, 4))
    assert(sizes.map(GraftSession.shuffleWidth(_, 32)) == Seq(1, 17, 32))
    assert(GraftSession.shuffleWidth(0L, 4) == 1)
    assert(sizes.map(GraftSession.tableParts(_, 4)) == Seq(4, 4, 4))
    assert(sizes.map(GraftSession.tableParts(_, 32)) == Seq(8, 17, 32))
    assert(!GraftSession.isScale(4 * gib, None))
    assert(GraftSession.isScale(4 * gib + 1, None))
    assert(GraftSession.isScale(0L, Some("1")))
    assert(!GraftSession.isScale(17 * gib, Some("0")))
  }

  test("bench latency SQL confs plan q1 without AQE; the verify session plans it with AQE") {
    def explain(s: org.apache.spark.sql.SparkSession): String =
      SparkEntry.queries("q1_pricing_summary")(s, sf0001).queryExecution
        .explainString(FormattedMode)
    val bench = spark.newSession()
    // static keys (the codegen cache size) are the JVM's, not a session's
    GraftSession.benchConf(4, 1, scale = false)
      .filter { case (k, _) => k.startsWith("spark.sql.") && bench.conf.isModifiable(k) }
      .foreach { case (k, v) => bench.conf.set(k, v) }
    val p = explain(bench)
    assert(!p.contains("AdaptiveSparkPlan"), p)
    assert(explain(spark).contains("AdaptiveSparkPlan"))
  }
}
