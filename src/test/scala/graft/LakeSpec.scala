package graft

import org.apache.spark.sql.functions._
import graft.sources.Lake

class LakeSpec extends SparkSpec {

  test("bucketed tables join with zero shuffle") {
    val orders = Tables.t(spark, sf001, "orders")
    val lineitem = Tables.t(spark, sf001, "lineitem")
    Lake.bucketize(orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 8)
    Lake.bucketize(lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(sum("l_quantity"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucket-aligned SortMergeJoin: no Exchange below the join
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
      // and the result matches the unbucketed join
      val plain = lineitem.join(orders, col("l_orderkey") === col("o_orderkey")).count()
      val bucketed = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey")).count()
      assert(plain == bucketed)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("salted join equals the plain equi-join on a skewed key") {
    val s = spark
    import s.implicits._
    // 90% of left rows hit one hot key
    val left = s.range(10000)
      .select((when(col("id") % 10 =!= 0, 7L).otherwise(col("id") % 100)).as("k"),
        col("id").as("payload"))
    val right = s.range(100).select(col("id").as("rk"), (col("id") * 2).as("rv"))
    val plain = left.join(right, col("k") === col("rk"))
      .agg(count(lit(1)), sum("rv"), sum("payload")).collect().head
    val salted = Lake.saltedJoin(left, right, "k", "rk", salt = 8)
      .agg(count(lit(1)), sum("rv"), sum("payload")).collect().head
    assert(plain == salted, s"salted join diverges: $plain vs $salted")
    // the salt must SPREAD within the hot key (hash of the full row, not
    // of the join key) and be retry-deterministic (hash, not rand) —
    // the r9 skewJoinSalted idiom, unified here in r10
    val hotSalts = left.filter(col("k") === 7L)
      .select(Lake.saltCol(left, 8).as("s"))
    assert(hotSalts.distinct().count() > 1, "salt constant within hot key")
    // retry determinism = the salt is a pure function of ROW CONTENT, not
    // of partition/position (which task re-execution can change): the
    // per-row (payload → salt) map must survive a repartition — seeded
    // rand() would pass a same-plan re-collect but fails this
    val byRow = left.select(col("payload"), Lake.saltCol(left, 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val reparted = left.repartition(7)
    val byRowR = reparted.select(col("payload"), Lake.saltCol(reparted, 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byRow == byRowR, "salt depends on partitioning — not retry-safe")
    // map columns can't be hashed (Spark refuses MapType in hash());
    // saltCol must exclude them instead of throwing AnalysisException,
    // and the join must still be exact with a map aboard
    val withMap = left.withColumn("m", map(col("k"), col("payload")))
    val saltedMap = Lake.saltedJoin(withMap, right, "k", "rk", salt = 8)
      .agg(count(lit(1)), sum("rv"), sum("payload")).collect().head
    assert(plain == saltedMap, s"salted join with map column diverges: $plain vs $saltedMap")
    assert(withMap.filter(col("k") === 7L)
      .select(Lake.saltCol(withMap, 8).as("s")).distinct().count() > 1,
      "salt constant within hot key once maps are excluded")
  }

  test("compact: many small files become few range-sorted files, content preserved") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_compact_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact_out").toString
    // 40 tiny files
    (1L to 2000L).map(i => (i, s"row_$i")).toDF("k", "v")
      .repartition(40).write.mode("overwrite").parquet(in)
    val nSmall = new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nSmall == 40)
    Lake.compact(spark, in, out, sortKey = "k", targetMb = 128)
    val outFiles = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(outFiles.length < nSmall, "compaction did not reduce file count")
    // content preserved exactly
    val a = spark.read.parquet(in).orderBy("k").collect().toSeq
    val b = spark.read.parquet(out).orderBy("k").collect().toSeq
    assert(a == b, "compaction changed the data")
    // each output file covers a contiguous key range (file-pruning layout)
    val ranges = outFiles.sortBy(_.getName).map { f =>
      val d = spark.read.parquet(f.getPath).agg(min("k"), max("k")).collect().head
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, "output files overlap in key range")
  }

  test("datePartitionByMonth: hive month dirs, ONE file per month, ts retained, content preserved") {
    val out = java.nio.file.Files.createTempDirectory("graft_month_test").toString
    val orders = Tables.t(spark, sf001, "orders")
    Lake.datePartitionByMonth(orders, out, "o_orderdate", "order_month")
    val dirs = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("order_month="))
    assert(dirs.length > 12, s"expected many month dirs, got ${dirs.length}")
    // the repartition-before-write property: one data file per month dir
    // (N×months small files would decay scan parallelism at lake scale)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName} holds ${files.length} files, want 1")
    }
    val back = spark.read.parquet(out)
    assert(back.count() == orders.count(), "row count changed through the layout")
    // the ts column is RETAINED in the data files (finer-than-month
    // predicates still push down within selected months)
    assert(back.columns.contains("o_orderdate"))
    // every row sits in the directory its month says it should
    val misplaced = back.filter(
      to_date(date_trunc("month", col("o_orderdate"))) =!= col("order_month")).count()
    assert(misplaced == 0, s"$misplaced rows in the wrong month partition")
    // rows within a month file are ts-sorted — tight parquet row-group
    // min/max stats, so day-grain cuts inside a month prune row groups
    val oneFile = dirs.minBy(_.getName).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val ts = spark.read.parquet(oneFile.getPath)
      .select(col("o_orderdate").cast("string")) // ISO — lexicographic == temporal
      .collect().map(_.getString(0))
    assert(ts.length > 1 && ts.sliding(2).forall {
      case Array(a, b) => a <= b
      case _ => true
    }, "month file not ts-sorted")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(p => p.toFile.delete())
  }

  test("compactPartitioned: per-dir files collapse, hive layout intact, pruning lands, content exact") {
    val in = java.nio.file.Files.createTempDirectory("graft_pcomp_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_pcomp_out").toString
    // streaming-sink decay shape: 8 writers strew files into every day dir
    Tables.t(spark, sf001, "events")
      .select(col("user_id"), col("value"), to_date(col("ts")).as("event_date"))
      .repartition(8)
      .write.mode("overwrite").partitionBy("event_date").parquet(in)
    def dayDirs(root: String) = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("event_date="))
    def filesIn(d: java.io.File) = d.listFiles().count(_.getName.endsWith(".parquet"))
    val before = dayDirs(in)
    assert(before.length > 20 && before.forall(filesIn(_) >= 4),
      s"fixture not decayed enough: ${before.map(filesIn).mkString(",")}")
    Lake.compactPartitioned(spark, in, out, "event_date", "user_id", targetMb = 128)
    val after = dayDirs(out)
    // same partition dirs survive; each collapses to 1 file (+1 tolerance
    // at a range boundary)
    assert(after.map(_.getName).sorted.sameElements(before.map(_.getName).sorted),
      "partition dirs changed through compaction")
    assert(after.forall(filesIn(_) <= 2),
      s"per-dir files not collapsed: ${after.map(d => d.getName + ':' + filesIn(d)).mkString(",")}")
    // content preserved exactly
    val a = spark.read.parquet(in).orderBy("event_date", "user_id", "value").collect().toSeq
    val b = spark.read.parquet(out).orderBy("event_date", "user_id", "value").collect().toSeq
    assert(a == b, "compaction changed the data")
    // partition pruning still lands on the compacted output
    val p = spark.read.parquet(out)
      .filter(col("event_date") === lit("2024-01-15").cast("date"))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(p).isDefined,
      s"pruning lost through compaction:\n$p")
    import scala.jdk.CollectionConverters._
    Seq(in, out).foreach { r =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(r))
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(pp => pp.toFile.delete())
    }
  }

  /** Rows EMITTED BY THE SCAN for `df` — the row-group-pruning probe:
    * the vectorized parquet reader emits every row of each surviving
    * row group (residual filters re-apply above the scan), so the
    * scan's numOutputRows counts exactly the groups the min/max stats
    * could not skip. */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    var rows = 0L
    def visit(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          visit(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          visit(q.plan) // stages hide their subplan (children = Nil)
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          rows += s.metrics("numOutputRows").value
        case _ =>
      }
      p.children.foreach(visit)
    }
    visit(df.queryExecution.executedPlan)
    rows
  }

  test("ts-sorted month files: a day cut inside one month skips row groups — scan rows scale with the day") {
    // the r17 commit sorted rows by ts within each month file exactly so
    // day-grain predicates prune at the ROW-GROUP level; this pins the
    // mechanism on a multi-row-group fixture (the sf testdata is
    // single-row-group, so the gated time_slice_day key can only pin
    // the plan shape — PlanShapeSpec — not the skip itself)
    val out = java.nio.file.Files.createTempDirectory("graft_rg_prune").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = Option(hconf.get("parquet.block.size"))
    // ~64 KB row groups: each month file carries dozens, so the day
    // cut's min/max stats have something to skip
    hconf.set("parquet.block.size", (64 * 1024).toString)
    try {
      // 300k rows spread evenly over ~87 days (3 month dirs); the md5
      // payload is incompressible, so row groups carry real bytes —
      // with delta/RLE-friendly columns alone the whole month encodes
      // to ~8 KB and the bytes-read figure is all footer
      val df = spark.range(300000L).selectExpr(
        "timestampadd(SECOND, CAST(id * 25 AS INT), TIMESTAMP '1995-01-01 00:00:00') AS l_shipdate",
        "md5(CAST(id AS STRING)) AS payload")
      Lake.datePartitionBy(df, out, "l_shipdate", "ship_month", "month")
    } finally {
      prevBlock match {
        case Some(v) => hconf.set("parquet.block.size", v)
        case None => hconf.unset("parquet.block.size")
      }
    }
    val base = spark.read.parquet(out)
    val feb = col("ship_month") === lit("1995-02-01").cast("date")
    // both probes carry an l_shipdate predicate (so their plans match);
    // only the day probe's bounds can prune row groups
    def probe(extra: org.apache.spark.sql.Column) =
      base.filter(feb && extra).agg(sum(length(col("payload"))))
    val fullRows = scanOutputRows(
      probe(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")))
    val dayRows = scanOutputRows(
      probe(col("l_shipdate") >= lit("1995-02-14").cast("timestamp") &&
        col("l_shipdate") < lit("1995-02-15").cast("timestamp")))
    assert(dayRows > 0, "day probe scanned nothing — fixture broken")
    assert(fullRows > 50000, s"month probe should scan the whole month, got $fullRows")
    assert(dayRows * 4 < fullRows,
      s"day cut must skip most of the month's row groups: " +
        s"scan emitted $dayRows rows vs the month's $fullRows")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(p => p.toFile.delete())
  }

  test("bucketedFacts: durable external layout — DROP TABLE is DDL-only, re-register reuses the files") {
    val flat = SparkEntry.queries("q3_top_orders")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val (lTab, oTab) = queries.Relational.bucketedFactNames(sf001)
    queries.Relational.bucketedFacts(spark, sf001)
    assert(queries.Relational.bucketedLayoutExists(sf001),
      "build must land the durable fingerprinted layout")
    assert(SparkEntry.queries("q3_bucketed")(spark, sf001)
      .collect().map(_.toSeq).toSeq == flat)
    val lDir = queries.Relational.bucketedLayoutDir(sf001, "lineitem")
    val sig = lDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    // mid-session DROP + re-register — what every fresh session does:
    // must be DDL replay over the surviving files, never a rewrite
    spark.sql(s"DROP TABLE $lTab"); spark.sql(s"DROP TABLE $oTab")
    assert(queries.Relational.bucketedLayoutExists(sf001),
      "external files must survive DROP TABLE")
    queries.Relational.bucketedFacts(spark, sf001)
    assert(lDir.listFiles().map(f => f.getName -> f.lastModified).toMap == sig,
      "re-register rewrote the layout files")
    val df = SparkEntry.queries("q3_bucketed")(spark, sf001)
    assert(df.collect().map(_.toSeq).toSeq == flat)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"re-registered layout lost the zero-exchange property:\n$p")
  }

  test("dirSuffix: identifier-safe hex, canonicalization-stable, distinct per dir") {
    val a = Lake.dirSuffix("/root/testdata/sf0.01")
    assert(a.matches("[0-9a-f]{12}"), s"suffix not identifier-safe hex: $a")
    // `..` round-trip canonicalizes to the same suffix (the old
    // math.abs(hashCode) differed here and could also go negative)
    assert(a == Lake.dirSuffix("/root/testdata/../testdata/sf0.01"))
    assert(a != Lake.dirSuffix("/root/testdata/sf0.001"))
  }
}
