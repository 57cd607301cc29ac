package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamingSpec extends SparkSpec {

  test("watermark drops late data in append mode (multi-batch MemoryStream)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1: events in hour 0 and hour 2 → watermark → 02:00−10min
    input.addData((t(0, 10), 1.0), (t(0, 50), 1.0), (t(2, 0), 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event for hour 0 (before watermark 01:50) must be
    // dropped; an on-time event for hour 2 must count
    input.addData((t(0, 30), 99.0), (t(2, 30), 1.0))
    q.processAllAvailable()
    // batch 3: advance watermark beyond hour 2 so its window closes
    input.addData((t(4, 0), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.table("wm_test")
      .select(col("window.start").cast("string"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("2024-01-01 00:00:00") == 2L,
      s"late event must be dropped, got $rows")
    assert(rows("2024-01-01 02:00:00") == 2L,
      s"on-time events must both count, got $rows")
  }

  test("streaming tumbling aggregation equals the batch result") {
    val streamed = graft.streaming.StreamOps.streamTumbling(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.queries.Relational.tumblingWindow(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("parquet append sink holds exactly the watermark-closed windows") {
    val sunk = graft.streaming.StreamOps.streamFileSink(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.queries.Relational.tumblingWindow(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sunk.nonEmpty)
    // every emitted window matches the batch result...
    assert(sunk.forall { case (b, n) => batch.get(b).contains(n) })
    // ...and the withheld set is exactly the windows still open at
    // watermark = max(ts) − 10 min (the live-stream behavior)
    val withheld = batch.keySet -- sunk.keySet
    assert(withheld.nonEmpty && withheld.forall(_ >= sunk.keySet.max))
  }

  test("stream-stream join equals the batch time-range join") {
    val streamed = graft.streaming.StreamOps.streamJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ev = Tables.t(spark, sf0001, "events")
    val batch = ev.as("a").filter(col("a.event_type") === "view")
      .join(ev.as("b").filter(col("b.event_type") === "click"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts") > col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("a.user_id"), col("a.event_id"), col("b.event_id"),
        unix_timestamp(col("b.ts")) - unix_timestamp(col("a.ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming dedup emits each (user, hour) exactly once") {
    val streamed = graft.streaming.StreamOps.streamDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Tables.t(spark, sf0001, "events")
      .groupBy(col("user_id"))
      .agg(countDistinct(date_trunc("hour", col("ts"))).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessionizer equals the batch lag/cumsum idiom") {
    val a = graft.streaming.StreamOps.streamStateSessions(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = graft.queries.Relational.sessionGap(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("foreachBatch upsert merges overlapping keys across batches (latest total wins)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_feb_spec").toString
    @volatile var latest = -1L
    val input = MemoryStream[(Long, Double)]
    val agg = input.toDF().toDF("user_id", "value")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
    val q = agg.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val sess = batch.sparkSession
        val prev =
          if (latest >= 0) sess.read.parquet(s"$outDir/v=$latest") else batch.limit(0)
        prev.join(batch, Seq("user_id"), "left_anti")
          .unionByName(batch)
          .write.mode("overwrite").parquet(s"$outDir/v=$id")
        latest = id
      }
      .start()
    // batch 1: users 1, 2
    input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
    q.processAllAvailable()
    // batch 2: user 1 again (its total must be UPDATED, not duplicated)
    // and new user 3; user 2 untouched (must carry over from v0)
    input.addData((1L, 4.0), (3L, 7.0))
    q.processAllAvailable()
    q.stop()
    val table = s.read.parquet(s"$outDir/v=$latest").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(table == Map(
      1L -> (3L, 7.0),  // cumulative across both batches, single row
      2L -> (1L, 5.0),  // carried over untouched
      3L -> (1L, 7.0)), s"upsert table wrong: $table")
  }

  test("unbounded rate source: windowed agg is trigger/processing-time independent") {
    // the always-on source shape (rate ~ a kafka topic that never ends):
    // event time is derived DETERMINISTICALLY from `value`, so however
    // the scheduler slices micro-batches — 25 ms vs 250 ms triggers, fast
    // or contended machine — the same windowed aggregate must come out.
    def run(name: String, trigger: Trigger): Map[Long, (Long, Long)] = {
      val agg = spark.readStream.format("rate")
        .option("rowsPerSecond", "5000").load()
        .filter(col("value") < 3000)
        .withColumn("ts", expr("timestamp_seconds(1700000000 + value)"))
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(trigger).start()
      try {
        val deadline = System.nanoTime() + 60L * 1000000000L
        def total(): Long =
          spark.table(name).agg(coalesce(sum(col("n")), lit(0L)))
            .collect().head.getLong(0)
        while (total() < 3000 && System.nanoTime() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50)
        }
        assert(total() == 3000, s"$name: saw ${total()} of 3000 rows in 60 s")
      } finally q.stop()
      spark.table(name).collect()
        .map(r => (r.getStruct(0).getTimestamp(0).getTime,
          (r.getLong(1), r.getLong(2)))).toMap
    }
    val fast = run("rate_fast", Trigger.ProcessingTime("25 milliseconds"))
    val slow = run("rate_slow", Trigger.ProcessingTime("250 milliseconds"))
    assert(fast == slow, s"trigger cadence changed the result:\n$fast\nvs\n$slow")
    assert(fast.values.map(_._1).sum == 3000)
  }

  test("streaming WET ingest equals the batch WARC reader row-for-row") {
    // maxFilesPerTrigger=1 inside the gate forces one shard per
    // micro-batch, so equality here proves the per-batch decode + append
    // union reconstructs the whole drop, not just a single-batch path
    val streamed = graft.streaming.StreamOps.streamWetIngest(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    val batch = graft.queries.SourceQueries.warcWetIngest(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("streaming quality gate equals the batch Gopher filter row-for-row") {
    val streamed = graft.streaming.StreamOps.streamQualityGate(spark, sf0001)
      .collect().map(_.toSeq)
    val batch = graft.queries.TextOps.qualityGopher(spark, sf0001)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("a repeated stream drain compiles nothing: its tasks reuse the executor loader") {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def gate() = graft.streaming.StreamOps.streamQualityGate(spark, sf0001)
      .collect().map(_.toSeq)
    val first = gate()
    val c0 = compiles.getCount
    val second = gate()
    val recompiled = compiles.getCount - c0
    assert(recompiled == 0, s"second identical drain compiled $recompiled classes")
    assert(second.nonEmpty && second.sameElements(first))
  }

  test("stream start: the clone drops loader isolation; the caller's conf and session artifacts are respected") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.{Dataset, Row, SparkSession}
    val iso = "spark.sql.artifact.isolation.enabled"
    val mgr = StreamOps.checkpointManagerKey
    val fsMgr = Some(StreamOps.fileSystemCheckpointManager)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_start")
    queries.TmpCleanup.register(tmp)
    // a drain's clone also takes the FileSystem checkpoint manager, a
    // durable start keeps Spark's default. The two keys as the stream's
    // own session (the clone every micro-batch runs in) reads them: a
    // durable start, read on the driver
    def durable(s: SparkSession, tag: String): (String, Option[String]) = {
      @volatile var seen: (String, Option[String]) = null
      StreamOps.runStream(StreamOps.eventsStream(s, sf0001).select("user_id")) {
        _.option("checkpointLocation", tmp.resolve(tag).toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            seen = (b.sparkSession.conf.get(iso), b.sparkSession.conf.getOption(mgr)) }
      }
      assert(seen != null, s"$tag: no micro-batch ran")
      seen
    }
    // ... and a drain, read in its tasks (the clone's SQL conf travels
    // with every micro-batch job)
    val probe = udf { () =>
      val c = org.apache.spark.sql.internal.SQLConf.get
      c.getConfString(iso) + "|" + c.getConfString(mgr, "") }
    def drained(s: SparkSession): (String, Option[String]) = {
      val seen = StreamOps.drain(StreamOps.eventsStream(s, sf0001).select(probe().as("c")),
        OutputMode.Append()).distinct().collect().map(_.getString(0))
      assert(seen.length == 1, seen.mkString(", "))
      val Array(i, m) = seen.head.split("\\|", -1)
      (i, Option(m).filter(_.nonEmpty))
    }
    def unset(s: SparkSession, k: String): Boolean = s.conf.getAll.get(k).isEmpty
    val caller = spark.newSession()
    assert(durable(caller, "plain") == ("false", None),
      "a durable start keeps Spark's default checkpoint manager")
    assert(drained(caller) == ("false", fsMgr))
    assert(unset(caller, iso) && unset(caller, mgr), "an unset caller key must stay unset")
    caller.conf.set(iso, "true")
    // a memory sink with no queryName fails inside start()
    intercept[org.apache.spark.sql.AnalysisException](StreamOps.runStream(
      StreamOps.eventsStream(caller, sf0001), ephemeral = true)(_.format("memory")))
    assert(caller.conf.getAll.get(iso).contains("true"),
      "a throwing start() must restore the caller's key")
    assert(unset(caller, mgr), "a throwing start() must leave an unset key unset")

    val withJar = spark.newSession()
    val jar = tmp.resolve("graft_tiny.jar")
    val out = new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar))
    out.putNextEntry(new java.util.jar.JarEntry("graft/tiny.txt"))
    out.write("tiny".getBytes("UTF-8"))
    out.close()
    withJar.addArtifact(jar.toString)
    assert(org.apache.spark.sql.GraftSessionAccess.sessionArtifactAdded(withJar))
    assert(durable(withJar, "jar") == ("true", None),
      "a session holding artifacts must keep its isolated loader")
    assert(drained(withJar) == ("true", fsMgr),
      "an artifact session's drain keeps isolation and takes the manager")
    assert(unset(withJar, mgr))
  }

  test("streaming near-dedup is trigger-invariant and actually drops near-dups") {
    // one-file-per-trigger (4 micro-batches, state crossing every batch
    // boundary) must equal the all-files-in-one-batch run — the
    // incremental-state contract; and the fixture must exercise real
    // drops, else the collision path is dead code
    val multi = graft.streaming.StreamOps.streamNearDedupWith(spark, sf001, 1)
      .collect().map(_.toSeq)
    val single = graft.streaming.StreamOps.streamNearDedupWith(spark, sf001, 4)
      .collect().map(_.toSeq)
    assert(multi.nonEmpty && multi.sameElements(single),
      s"micro-batching changed the near-dedup verdicts")
    assert(multi.map(_(2).asInstanceOf[Long]).sum > 0,
      "fixture produced zero near-dup drops — collision path untested")
  }

  test("index-bootstrapped near-dedup: seeded state equals the full-stream verdicts and is load-bearing") {
    import graft.streaming.StreamOps
    def perDoc(df: org.apache.spark.sql.DataFrame): Array[(Long, Boolean)] =
      df.groupBy(col("doc_id")).agg(max(col("collide")).as("c"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    // batch half streamed against state seeded from the persisted index
    val boot = perDoc(
      StreamOps.streamNearDedupBootstrapVerdicts(spark, sf0001, 1, 1 << 14))
    // the SAME docs' verdicts when the whole corpus streams through and
    // the state is built arrival-by-arrival — the seed must be exactly
    // the exact-dup-collapsed state those corpus arrivals leave behind
    val full = perDoc(
      StreamOps.streamNearDedupVerdicts(spark, sf0001, 1, 1 << 14, 0L)
        .filter(col("doc_id") >= 400))
    assert(boot.nonEmpty && boot.sameElements(full),
      "seeded-state verdicts diverged from the streamed-corpus verdicts")
    // corpus partners must be recognized from the FIRST micro-batch
    // (shard 0 = docs 400-424; its drops have corpus-only partners)
    val dropped = boot.filter(_._2).map(_._1).toSet
    assert(dropped.exists(_ < 425),
      "no first-shard doc dropped — bootstrap not visible in batch 1")
    // control: a cold (unseeded) run must lose the corpus-partner drops
    // but keep the within-stream ones — the seed is load-bearing
    val cold = perDoc(StreamOps.streamNearDedupBootstrapVerdicts(
      spark, sf0001, 1, 1 << 14, seed = false))
    val coldDropped = cold.filter(_._2).map(_._1).toSet
    assert(coldDropped.subsetOf(dropped) && coldDropped.size < dropped.size,
      s"seed not load-bearing: cold=$coldDropped seeded=$dropped")
  }

  test("index seed honors the bucket cap: most-recent signatures kept, negative recency stamps") {
    // r16, per ADVICE: an uncapped seed broke the bounded-state
    // invariant and its all-zero stamps made later LRU evictions
    // tie-break on list position. Pin the capped seed at the unit seam:
    // one bucket, 5 distinct sigs with copy-recency A(1,50) B(2) C(3,10)
    // D(4) E(5); cap 3 must keep {A, C, E} (recency 50/10/5), firstId =
    // each sig's keep-first owner, stamps = negative ascending-recency
    // ranks (E=-3, C=-2, A=-1) so every live arrival outranks them.
    import graft.streaming.StreamOps
    val s = spark
    import s.implicits._
    def sig(tag: Long): Seq[Long] = Seq.tabulate(32)(i => tag * 1000 + i)
    val rows = Seq( // (doc_id, sig-tag)
      (1L, 1L), (50L, 1L), (2L, 2L), (3L, 3L), (10L, 3L), (4L, 4L), (5L, 5L))
    val banded = rows.map { case (id, tg) => (id, "s", sig(tg), 0, "0|u") }
      .toDF("doc_id", "source", "sig", "band", "bucket")
    val path = java.nio.file.Files.createTempDirectory("graft_seed_cap").toString
    graft.sources.SigIndex.write(banded, path, "overwrite")
    val seeded = StreamOps.indexSeedState(spark, path, cap = 3)
      .mapGroups((k, it) => (k, it.next().entries.map(e =>
        (e.firstId, e.lastHit, e.sig(0))).toList))
      .collect().toMap
    val entries = seeded("0|u")
    assert(entries.map(_._3).toSet == Set(1000L, 3000L, 5000L),
      s"cap must keep the most-RECENT sigs (A,C,E): $entries")
    assert(entries == List((5L, -3L, 5000L), (3L, -2L, 3000L), (1L, -1L, 1000L)),
      s"firstId/stamp order wrong: $entries")
    // uncapped: all 5 survive, stamps still negative (arrivals outrank)
    val full = StreamOps.indexSeedState(spark, path)
      .mapGroups((k, it) => (k, it.next().entries)).collect().toMap
    assert(full("0|u").size == 5 && full("0|u").forall(_.lastHit < 0))
    // end-to-end at cap 1: the seeded gate run must hold EVERY bucket at
    // ≤ 1 entry (the invariant the uncapped seed violated) and complete
    val v = StreamOps.streamNearDedupBootstrapVerdicts(spark, sf0001, 1, 1)
      .select(col("doc_id"), col("n_state")).collect()
    assert(v.nonEmpty && v.forall(_.getInt(1) <= 1),
      s"cap-1 seeded run exceeded the bounded-state cap: " +
        s"max=${v.map(_.getInt(1)).max}")
  }

  test("near-dedup stream is state-store-provider-portable: RocksDB run (incl. seeded bootstrap) equals heap run") {
    // The documented live-crawl posture (SURVEY §2C, r14 verdict) is a
    // RocksDB state store — per-bucket signature memory off-heap, spill
    // to local disk, cap defaults sized for it. The gate's plan must be
    // provider-PORTABLE: the provider is a session conf the query picks
    // up at start, and verdicts must be bit-identical to the heap
    // (HDFSBackedStateStoreProvider) default — including the
    // initialState seeding path, which distributes the persisted index
    // into the RocksDB instances at query start.
    import graft.streaming.StreamOps
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def perDoc(df: org.apache.spark.sql.DataFrame): Array[(Long, Boolean)] =
      df.groupBy(col("doc_id")).agg(max(col("collide")).as("c"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    val heapFull = perDoc(
      StreamOps.streamNearDedupVerdicts(spark, sf0001, 1, 1 << 14, 0L))
    val heapBoot = perDoc(
      StreamOps.streamNearDedupBootstrapVerdicts(spark, sf0001, 1, 1 << 14))
    try {
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      val rocksFull = perDoc(
        StreamOps.streamNearDedupVerdicts(spark, sf0001, 1, 1 << 14, 0L))
      assert(rocksFull.nonEmpty && rocksFull.sameElements(heapFull),
        "RocksDB state store changed the near-dedup verdicts")
      val rocksBoot = perDoc(
        StreamOps.streamNearDedupBootstrapVerdicts(spark, sf0001, 1, 1 << 14))
      assert(rocksBoot.nonEmpty && rocksBoot.sameElements(heapBoot),
        "RocksDB + initialState bootstrap diverged from the heap run")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("near-dedup bucket state: exact-dup collapse, agreement boundary, LRU cap") {
    import graft.streaming.{SigEntry, StreamOps}
    val base = Array.tabulate(32)(i => 1000L + i)
    // flip the first k signature slots to a value no other sig uses
    def vary(k: Int): Array[Long] =
      base.zipWithIndex.map { case (v, i) => if (i < k) -v else v }

    // 100 verbatim copies — the hot-bucket shape that broke the BATCH
    // path at sf10 pre-collapse: state must stay at ONE entry, every
    // copy after the first must collide, and each arrival's scan is
    // over that one entry (n_state == 1 throughout)
    val copies = (1L to 100L).map(id => (id, "s", base.clone))
    val (v1, e1) = StreamOps.processBucketArrivals(copies, Nil, 1 << 20)
    assert(e1.size == 1 && e1.head.firstId == 1L && e1.head.lastHit == 100L)
    assert(!v1.head._3 && v1.tail.forall(_._3), "verbatim copies must collide")
    assert(v1.forall(_._4 == 1), "collapse must keep the bucket at one entry")

    // agreement boundary: 25/32 equal slots is below the jaccard-0.8
    // verifier, 26/32 is at it
    val (v25, _) = StreamOps.processBucketArrivals(
      Seq((2L, "s", vary(7))), List(SigEntry(1L, 1L, base)), 1 << 20)
    assert(!v25.head._3, "25/32 agreement must NOT collide")
    val (v26, e26) = StreamOps.processBucketArrivals(
      Seq((2L, "s", vary(6))), List(SigEntry(1L, 1L, base)), 1 << 20)
    assert(v26.head._3, "26/32 agreement must collide")
    assert(e26.size == 2, "near-dup with a DISTINCT sig is still a new entry")

    // keep-first guard: an entry first seen by a LATER doc never drops
    // an earlier one (out-of-order replay safety)
    val (vG, _) = StreamOps.processBucketArrivals(
      Seq((2L, "s", base.clone)), List(SigEntry(10L, 10L, base)), 1 << 20)
    assert(!vG.head._3)

    // LRU cap 2 over three mutually-far sigs (pairwise agreement ≤ 16):
    // A(1) B(2) insert; A exact-dup at 3 collides and refreshes A's
    // lastHit; C(4) inserts and evicts B (lastHit 2 < A's 3); a B
    // replay at 5 then does NOT collide — the documented bounded-state
    // trade — and state never exceeds the cap
    val A = base; val B = vary(32); val C = vary(16)
    val (v2, e2) = StreamOps.processBucketArrivals(
      Seq((1L, "s", A.clone), (2L, "s", B.clone), (3L, "s", A.clone),
        (4L, "s", C.clone), (5L, "s", B.clone)), Nil, 2)
    assert(v2.map(_._3) == Seq(false, false, true, false, false))
    assert(v2.forall(_._4 <= 2), s"cap overrun: $v2")
    assert(e2.map(_.firstId).toSet == Set(4L, 5L),
      "after eviction the bucket must hold exactly {C, replayed B}")
  }

  test("TTL eviction fires: timed-out bucket removed, aged-out near-dup readmitted") {
    import graft.streaming.{BucketState, StreamOps}
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // ProcessingTimeTimeout can NEVER fire under the AvailableNow drain
    // harness (Spark re-runs empty micro-batches unconditionally — the
    // r14 hang), so the timeout branch is pinned with Spark's public
    // TestGroupState against the named flatMapGroupsWithState function.
    val fn = StreamOps.bucketStateFunc(cap = 1 << 14, ttlMs = 60000L)
    val sig = Array.tabulate(32)(i => 7L + i)
    def arrival(id: Long) = Iterator((id, "web", "b", sig.toSeq))
    // batch 1 at t=1s: doc 1 inserts into an empty bucket and the TTL
    // timer is registered at now + 60s
    val s1 = TestGroupState.create[BucketState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L, Optional.empty(), false)
    assert(fn("b", arrival(1L), s1).toSeq == Seq((1L, "web", false, 1)))
    assert(s1.exists && s1.get.entries.size == 1)
    assert(s1.getTimeoutTimestampMs.get == 61000L,
      "setTimeoutDuration(ttl) must arm the timer at batch-time + ttl")
    // a verbatim copy before expiry still collides (state alive)
    val s1b = TestGroupState.create[BucketState](Optional.of(s1.get),
      GroupStateTimeout.ProcessingTimeTimeout, 30000L, Optional.empty(), false)
    assert(fn("b", arrival(2L), s1b).toSeq == Seq((2L, "web", true, 1)))
    // batch 2 at t=70s: bucket idle past the TTL — Spark calls the
    // function with no arrivals and hasTimedOut = true; the whole
    // frontier ages out (state removed, nothing emitted)
    val s2 = TestGroupState.create[BucketState](Optional.of(s1.get),
      GroupStateTimeout.ProcessingTimeTimeout, 70000L, Optional.empty(), true)
    assert(fn("b", Iterator.empty, s2).isEmpty, "timeout must emit nothing")
    assert(s2.isRemoved, "timeout must remove the bucket state")
    // batch 3: a verbatim replay of the aged-out signature is
    // RE-ADMITTED (collide = false) — the documented TTL trade
    val s3 = TestGroupState.create[BucketState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, 80000L, Optional.empty(), false)
    assert(fn("b", arrival(99L), s3).toSeq == Seq((99L, "web", false, 1)),
      "an aged-out signature must be readmitted after TTL eviction")
  }

  test("streaming near-dedup hot bucket stays collapsed end-to-end; cap and TTL wiring") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup_hot").toString
    val hot = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L until 100L).map(id => (id, "web", hot)) ++ Seq(
      (100L, "web", "one two"), // < 3 tokens → sentinel solo bucket
      (101L, "books", "completely different text with many unique words"))
    docs.toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val verdicts = graft.streaming.StreamOps
      .streamNearDedupVerdicts(spark, tmp, 1, 1 << 20, 0L)
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getInt(3)))
    // every bucket holds ONE collapsed entry even after 100 verbatim
    // arrivals — the unbounded-state failure shape is gone
    assert(verdicts.map(_._3).max == 1,
      s"hot bucket grew past one entry: ${verdicts.map(_._3).max}")
    val collidedIds = verdicts.filter(_._2).map(_._1).toSet
    assert(collidedIds == (1L until 100L).toSet,
      s"exactly the 99 later copies must collide, got ${collidedIds.size}")
    // a cap of 2 must not change the answer here (collapse keeps every
    // bucket at 1 entry), and a large TTL must be a no-op — while
    // exercising the ProcessingTimeTimeout registration path
    val unbounded = graft.streaming.StreamOps
      .streamNearDedupWith(spark, tmp, 1).collect().map(_.toSeq)
    val capped = graft.streaming.StreamOps
      .streamNearDedupWith(spark, tmp, 1, maxSigsPerBucket = 2).collect().map(_.toSeq)
    val withTtl = graft.streaming.StreamOps
      .streamNearDedupWith(spark, tmp, 1, ttlMs = 3600000L).collect().map(_.toSeq)
    assert(unbounded.sameElements(capped), "cap changed a collapsed-corpus answer")
    assert(unbounded.sameElements(withTtl), "an unexpired TTL changed the answer")
  }

  test("streaming A/V features equal the batch container kernel row-for-row") {
    // r12-verdict task #6: the micro-batch full decode (frame features +
    // frame-aligned audio energy) must reproduce the batch one-container
    // query exactly over the shared doc_id < 30 fixture — both sides run
    // Multimodal.avContainerFeatures, so a divergence means the fixture
    // writer and the batch asset builder drifted apart
    val streamed = graft.streaming.StreamOps.streamAvFeatures(spark, sf0001)
      .collect().map(_.toSeq)
    val batch = graft.queries.Multimodal.multimodalAvContainer(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("asset_id") < 30)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      s"streamed ${streamed.length} rows vs batch ${batch.length}")
  }

  test("stream_partitioned_sink: hive date dirs on disk, pruned day read-back, batch-replay equal") {
    import org.apache.spark.sql.functions._
    val gate = graft.streaming.StreamOps.queries("stream_partitioned_sink")(spark, sf0001)
    val rows = gate.collect()
    assert(rows.length == 1, s"one day sliced, got ${rows.length} rows")
    // the sink landed hive-style event_date= directories
    val outDir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_psink_${math.abs(sf0001.hashCode)}")
    val dayDirs = Option(outDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(dayDirs.length > 5,
      s"expected many event_date= dirs, got ${dayDirs.length} in $outDir")
    // the day read-back prunes at the directory level
    val p = graft.streaming.StreamOps.partitionedSinkDaySlice(spark, outDir.toString)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(p).isDefined,
      s"day filter must land as a PartitionFilter on the sink read:\n$p")
    // streamed slice equals the batch replay of the same day
    val b = Tables.t(spark, sf0001, "events")
      .filter(to_date(col("ts")) === lit("2024-01-15").cast("date"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("s"),
        countDistinct(col("user_id")).as("u")).collect().head
    val r = rows.head
    assert(r.getLong(1) == b.getLong(0) && r.getDouble(2) == b.getDouble(1)
      && r.getLong(3) == b.getLong(2),
      s"streamed slice $r != batch replay $b")
    // the full ingest cycle: the sink's per-batch files compact through
    // the layout-preserving pass with the hive dirs, their pruning, and
    // the day slice's content all intact — live feed → date dirs →
    // hygiene, end to end
    val compacted = java.nio.file.Files.createTempDirectory("graft_psink_comp").toString
    graft.sources.Lake.compactPartitioned(spark, outDir.toString, compacted,
      partitionCol = "event_date", sortKey = "user_id", targetMb = 128)
    val cSlice = graft.streaming.StreamOps.partitionedSinkDaySlice(spark, compacted)
    val cPlan = cSlice.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(cPlan).isDefined,
      s"pruning lost through sink compaction:\n$cPlan")
    assert(cSlice.count() == b.getLong(0),
      "sink compaction changed the day slice")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(compacted))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(p => p.toFile.delete())
  }

  test("streaming embedding dedup: trigger-invariant, equals the batch verdict roll-up, drops real dups") {
    import org.apache.spark.sql.functions._
    val multi = graft.streaming.StreamOps.streamEmbeddingDedupWith(spark, sf001, 1)
      .collect().map(_.toSeq)
    val single = graft.streaming.StreamOps.streamEmbeddingDedupWith(spark, sf001, 4)
      .collect().map(_.toSeq)
    assert(multi.nonEmpty && multi.sameElements(single),
      "micro-batching changed the embedding-dedup verdicts")
    assert(multi.map(_(2).asInstanceOf[Long]).sum > 0,
      "fixture produced zero embedding near-dup drops — collision path untested")
    // the stream's keep-first verdicts must equal the BATCH verdict key
    // rolled up the same way (same τ, same rounding, same label
    // confinement — the two paths share no code past the semantics)
    val batch = graft.queries.Similarity.embeddingNearDupVerdict(spark, sf001)
      .join(Tables.t(spark, sf001, "embeddings").select("vec_id", "label"), "vec_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy(col("label"))
      .collect().map(_.toSeq)
    assert(multi.sameElements(batch),
      s"stream verdicts diverged from the batch key:\n${multi.toSeq}\n${batch.toSeq}")
  }

  test("streaming embedding dedup: aggregate is arrival-order independent (permuted shard mtimes)") {
    // Replays the r19 gate's hypothesized failure mode: shards arriving
    // out of vec_id order (mtime permutation → trigger permutation).
    // Retroactive drop emission must make the roll-up invariant.
    val inOrder = graft.streaming.StreamOps
      .streamEmbeddingDedupWith(spark, sf001, 1).collect().map(_.toSeq)
    val reversed = graft.streaming.StreamOps
      .streamEmbeddingDedupWith(spark, sf001, 1, mtimeRank = k => 3 - k)
      .collect().map(_.toSeq)
    val shuffled = graft.streaming.StreamOps
      .streamEmbeddingDedupWith(spark, sf001, 1, mtimeRank = Seq(2, 0, 3, 1))
      .collect().map(_.toSeq)
    assert(inOrder.nonEmpty && inOrder.sameElements(reversed),
      s"reversed shard order changed the verdicts:\n${inOrder.toSeq}\n${reversed.toSeq}")
    assert(inOrder.sameElements(shuffled),
      s"shuffled shard order changed the verdicts:\n${inOrder.toSeq}\n${shuffled.toSeq}")
  }

  test("embedding-dedup forensics: agreement report always written; sidecar names divergent vectors") {
    import org.apache.spark.sql.functions._
    val sidecar = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_embdedup_forensics_${graft.sources.Lake.dirSuffix(sf0001)}.txt")
    java.nio.file.Files.deleteIfExists(sidecar)
    // agree path (r22): the sidecar is ALWAYS written — a clean local
    // compare must still leave driver-visible evidence (rollup rows)
    graft.streaming.StreamOps.streamEmbeddingDedupWith(spark, sf0001, 1).collect()
    assert(java.nio.file.Files.exists(sidecar),
      "forensics must write the agreement report even when stream==batch")
    val agreeReport = java.nio.file.Files.readString(sidecar)
    assert(agreeReport.contains("stream == batch"),
      s"agreement report must state the clean compare:\n$agreeReport")
    assert(agreeReport.contains("per-label rollup") && agreeReport.contains("n_dropped="),
      "agreement report must carry the key's output rollup rows")
    assert(!agreeReport.contains("divergent vectors"),
      "agreement report must not claim divergence")
    java.nio.file.Files.deleteIfExists(sidecar)
    // disagree path: a doctored verdict frame (vec_id 0's collide flag
    // forced true — vec 0 has no earlier witness, so the batch twin
    // ALWAYS keeps it) must produce a sidecar naming exactly that vector
    val (v, inDir, progress) = graft.streaming.StreamOps
      .streamEmbeddingVerdictsTraced(spark, sf0001, 1, 1 << 14)
    val doctored = v.withColumn("collide",
      when(col("vec_id") === 0L, lit(true)).otherwise(col("collide")))
    graft.streaming.StreamOps.embDedupForensics(
      spark, sf0001, doctored, inDir, progress)
    assert(java.nio.file.Files.exists(sidecar),
      "a stream-vs-batch disagreement must write the forensic sidecar")
    val report = java.nio.file.Files.readString(sidecar)
    assert(report.contains("vec_id=0"), s"sidecar must name the divergent vector:\n$report")
    assert(report.contains("batches") && report.contains("shards as listed"),
      "sidecar must carry trigger composition and listed shard mtimes")
    java.nio.file.Files.deleteIfExists(sidecar)
  }

  test("embedding-dedup forensics: routed into graft.forensics.dir; collects bounded by cap") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_forensics_route")
    val routed = outDir.resolve("stream_embedding_dedup.forensics.txt")
    sys.props("graft.forensics.dir") = outDir.toString
    try {
      // routed path: the report lands in the Verify-dump directory under
      // the driver-protocol name (r22, verdict #1)
      graft.streaming.StreamOps.streamEmbeddingDedupWith(spark, sf0001, 1).collect()
      assert(java.nio.file.Files.exists(routed),
        s"forensic report must land in graft.forensics.dir: $routed")
      java.nio.file.Files.deleteIfExists(routed)
      // bounded path: past the cap the compare (and its collects) is
      // skipped — no report, no corpus-sized driver materialization
      spark.conf.set("spark.graft.embDedup.forensicsCap", "1")
      try graft.streaming.StreamOps.streamEmbeddingDedupWith(spark, sf0001, 1).collect()
      finally spark.conf.unset("spark.graft.embDedup.forensicsCap")
      assert(!java.nio.file.Files.exists(routed),
        "forensics past the row cap must skip the compare entirely")
    } finally {
      sys.props.remove("graft.forensics.dir")
      java.nio.file.Files.deleteIfExists(routed)
      java.nio.file.Files.deleteIfExists(outDir)
    }
  }

  test("embedding-dedup state transition: retro drops rescue out-of-order arrivals") {
    import graft.streaming.StreamOps.processVecArrivals
    // cos(v3,v4) = cos(v4,v5) = cos 50° ≈ 0.643 ≥ τ; cos(v3,v5) =
    // cos 100° < τ. Keep-first truth: 3 keeps, 4 drops (witness 3),
    // 5 drops (witness 4). Arrivals REVERSED, one per trigger.
    val v3 = Array(1.0f, 0.0f)
    val v4 = Array(0.642788f, 0.766044f)
    val v5 = Array(-0.173648f, 0.984808f)
    val (o1, s1) = processVecArrivals(Seq((5L, 1, v5)), List.empty, cap = 16)
    assert(o1 == Seq((5L, 1, false, 1)), "no witness in state yet")
    val (o2, s2) = processVecArrivals(Seq((4L, 1, v4)), s1, cap = 16)
    // own verdict first (4 has no EARLIER witness), then the retro
    // drop for 5 (4 < 5 and cos ≥ τ — 5's arrival couldn't have seen 4)
    assert(o2.map(o => (o._1, o._3)) == Seq(4L -> false, 5L -> true),
      s"expected retro drop of 5, got $o2")
    val (o3, _) = processVecArrivals(Seq((3L, 1, v3)), s2, cap = 16)
    assert(o3.map(o => (o._1, o._3)) == Seq(3L -> false, 4L -> true),
      s"expected retro drop of 4 only (cos(3,5) < τ), got $o3")
    // the in-order run reaches the same aggregate through own verdicts
    val (inOrder, _) = processVecArrivals(
      Seq((3L, 1, v3), (4L, 1, v4), (5L, 1, v5)), List.empty, cap = 16)
    val agg = (o1 ++ o2 ++ o3).groupBy(_._1).map { case (id, rs) =>
      id -> rs.exists(_._3) }
    val aggIn = inOrder.groupBy(_._1).map { case (id, rs) =>
      id -> rs.exists(_._3) }
    assert(agg == aggIn && agg == Map(3L -> false, 4L -> true, 5L -> true))
  }

  test("embedding-dedup state transition: keep-first, zero-vector NaN keeps, exact collapse, LRU") {
    import graft.streaming.StreamOps.processVecArrivals
    import graft.streaming.VecEntry
    val a = Array(1.0f, 0.0f)
    val aDup = Array(1.0f, 0.0f)
    val near = Array(0.9f, 0.1f)   // cos ~0.994 vs a
    val ortho = Array(0.0f, 1.0f)  // cos 0 vs a
    val zero = Array(0.0f, 0.0f)   // cos NaN vs anything
    val (out1, st1) = processVecArrivals(
      Seq((1L, 7, a), (2L, 7, aDup), (3L, 7, near), (4L, 7, ortho), (5L, 7, zero)),
      List.empty, cap = 16)
    assert(out1.map(o => o._1 -> o._3) ==
      Seq(1L -> false, 2L -> true, 3L -> true, 4L -> false, 5L -> false))
    // exact dup collapsed: state holds a, near, ortho, zero — not aDup
    assert(st1.size == 4)
    // a second zero vector: exact-collapses AND keeps (NaN never clears τ)
    val (out2, st2) = processVecArrivals(Seq((6L, 7, Array(0.0f, 0.0f))), st1, cap = 16)
    assert(out2 == Seq((6L, 7, false, 4)))
    assert(st2.size == 4)
    // keep-first is id-based even across state order: an arrival with a
    // SMALLER id than every entry keeps (no earlier witness exists)
    val (out3, _) = processVecArrivals(Seq((0L, 7, Array(0.95f, 0.05f))), st1, cap = 16)
    assert(out3.head._3 == false, "no entry has firstId < 0 — must keep")
    // LRU: cap 2. Arrival 3 ([0.5, 0.5]) agrees with ortho (the list
    // head — cos 0.707), refreshing ortho's lastHit; its insert then
    // overflows the cap and evicts the least-recently-hit PRE-INSERT
    // entry, which is a (untouched since its own arrival).
    val (out4, st4) = processVecArrivals(
      Seq((1L, 7, a), (2L, 7, ortho), (3L, 7, Array(0.5f, 0.5f))),
      List.empty, cap = 2)
    assert(out4.map(o => o._1 -> o._3) ==
      Seq(1L -> false, 2L -> false, 3L -> true))
    assert(st4.map(_.firstId).toSet == Set(2L, 3L),
      s"LRU must evict entry a (least-recently-hit): ${st4.map(_.firstId)}")
  }
}
