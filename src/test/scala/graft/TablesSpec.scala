package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DateType, LongType}

/** `Tables.parquet` opens parquet with a schema read from one footer on
  * the driver; it must give Spark's own inferred schema, and launch no job. */
class TablesSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_tables_$tag")
    queries.TmpCleanup.register(d)
    d.toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Jobs started while `body` runs, counted by a listener on the bus. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftSession.drainListenerBus(s)
    s.sparkContext.addSparkListener(l)
    try { body; GraftSession.drainListenerBus(s) }
    finally s.sparkContext.removeSparkListener(l)
    n.get
  }

  test("the footer schema equals Spark's inferred schema on all 10 tables") {
    for (t <- tables) {
      val path = s"$sf001/$t.parquet"
      assert(Tables.parquet(spark, path).schema.json == spark.read.parquet(path).schema.json, t)
    }
  }

  test("a TIMESTAMP(NANOS) column reads as LongType under nanosAsLong") {
    assert(spark.conf.get(Tables.nanosAsLongConf._1) == "true")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int32 id; }")
    val file = new Path(tmpDir("nanos"), "ns.parquet")
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1700000000123456789L, 1700000000987654321L).zipWithIndex.foreach {
      case (ns, i) => w.write(groups.newGroup().append("ts", ns).append("id", i))
    } finally w.close()
    val df = Tables.parquet(spark, file.toString)
    assert(df.schema("ts").dataType == LongType)
    assert(df.schema.json == spark.read.parquet(file.toString).schema.json)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1700000000123456789L, 1700000000987654321L))
  }

  test("a Spark-written directory with _SUCCESS and .crc files reads as Spark reads it") {
    val dir = tmpDir("written")
    spark.range(0, 50, 1, 3)
      .selectExpr("id", "cast(id AS string) AS s", "array(id, id + 1) AS a",
        "named_struct('x', id * 0.5) AS st")
      .write.mode("overwrite").parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    val df = Tables.parquet(spark, dir)
    assert(df.schema.json == spark.read.parquet(dir).schema.json)
    assert(rows(df) == rows(spark.read.parquet(dir)))
    assert(df.count() == 50)
  }

  test("a day= partitioned directory gets the same partition column and type") {
    val dir = tmpDir("days")
    spark.range(0, 40).selectExpr("id", "date_add(DATE'2024-01-15', cast(id % 3 AS int)) AS day")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val df = Tables.parquet(spark, dir)
    val spark0 = spark.read.parquet(dir)
    assert(df.schema.json == spark0.schema.json)
    assert(df.schema("day").dataType == DateType)
    assert(rows(df) == rows(spark0))
  }

  test("an empty directory raises Spark's own AnalysisException") {
    val dir = tmpDir("empty")
    val ours = intercept[AnalysisException](Tables.parquet(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }

  test("a fresh session opens all 10 tables and builds eventsStream with 0 jobs") {
    val fresh = spark.newSession()
    assert(jobsDuring(fresh)(spark.read.parquet(s"$sf001/region.parquet")) > 0,
      "Spark's own inference should launch a job; the listener sees none")
    val jobs = jobsDuring(fresh) {
      tables.foreach(t => Tables.t(fresh, sf001, t).schema)
      graft.streaming.StreamOps.eventsStream(fresh, sf001).schema
    }
    assert(jobs == 0)
  }

  // Stops the shared session: keep this test last. SparkSpec starts a new
  // one for the suites that run after it.
  test("opening a table in a new session drops the stopped session's cache entries") {
    val old = SparkSpec.session
    Tables.t(old, sf001, "region")
    assert(Tables.cache.keySet.asScala.exists(_._1 eq old))
    old.stop()
    val next = SparkSpec.session
    assert(next ne old)
    Tables.t(next, sf001, "region")
    assert(!Tables.cache.keySet.asScala.exists(_._1 eq old))
    assert(Tables.cache.keySet.asScala.exists(_._1 eq next))
  }
}
