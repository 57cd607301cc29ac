package graft

import graft.tensor._

/** Property tests (SURVEY.md §5.2): chunking invariance over RANDOM chunk
  * shapes (seeded Gen sampling), 3-d operator generality, label
  * permutation-independence, dedup idempotence. */
class PropertySpec extends SparkSpec {

  private def image3d(d0: Int, d1: Int, d2: Int): Nd = {
    val nd = Nd.zeros(Array(d0, d1, d2))
    var i = 0
    while (i < nd.data.length) {
      nd.data(i) = math.sin(i * 0.37) * 2 + (i * 2654435761L % 97) * 0.01
      i += 1
    }
    nd
  }

  private def maxAbsDiff(a: Nd, b: Nd): Double =
    a.data.zip(b.data).map { case (x, y) => math.abs(x - y) }.max

  test("3-d gaussian/uniform/morphology are chunk-invariant for random chunk shapes") {
    val img = image3d(12, 14, 10)
    val single = Grid.blockify(spark, "t", img, img.shape.toSeq)
    val gRef = Grid.unblockify(Filters.gaussianFilter(single, Seq(1.0, 1.0, 1.0)))
    val uRef = Grid.unblockify(Filters.uniformFilter(single, Seq(3, 3, 3)))
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 5) {
      val chunks = Seq(5 + rnd.nextInt(8), 5 + rnd.nextInt(10), 4 + rnd.nextInt(7))
      val ds = Grid.blockify(spark, "t", img, chunks)
      assert(maxAbsDiff(Grid.unblockify(Filters.gaussianFilter(ds, Seq(1.0, 1.0, 1.0))), gRef) < 1e-10,
        s"gaussian diverges at chunks $chunks")
      assert(maxAbsDiff(Grid.unblockify(Filters.uniformFilter(ds, Seq(3, 3, 3))), uRef) < 1e-10,
        s"uniform diverges at chunks $chunks")
    }
  }

  test("halo exchange equals an np.pad oracle: both forms, widths 1/2/8, random shapes") {
    // Independent reference: padded cell c of a block holds the WHOLE
    // array's value at global coordinate origin − depth + c, resolved per
    // axis by Boundary.resolve, or cval under Constant (np.pad
    // semantics). Checked over the groupByKey exchange and the
    // co-partitioned one (partitionBlocks + mapOverlapP with a kernel
    // that returns the padded payload itself), at element widths 1 and 2
    // (THalo over uint8/uint16) and 8 (the float64 Halo view), over
    // random shapes, chunkings, per-axis depths and all five modes — the
    // failure modes (stride slips, misplaced slabs, boundary resolve
    // off-by-ones, short edge blocks) are the ones tiny fixtures miss.
    val rnd = new scala.util.Random(7)
    val modes = Seq(Boundary.Reflect, Boundary.Nearest, Boundary.Mirror,
      Boundary.Wrap, Boundary.Constant(3.0))
    def oracle(img: Nd, origin: Seq[Int], padShape: Array[Int], depth: Seq[Int],
        mode: Boundary): Seq[Double] = {
      val out = Nd.zeros(padShape)
      out.foreachCoord { c =>
        val g = c.indices.map(k => origin(k) - depth(k) + c(k))
        val r = g.indices.map(k => Boundary.resolve(mode, g(k), img.shape(k)))
        out(c) = mode match {
          case Boundary.Constant(cval) if r.contains(-1) => cval
          case _ => img(r.toArray)
        }
      }
      out.data.toSeq
    }
    // (shape, chunks, depth, mode): eight random 2-d trials, one random
    // 3-d trial, and a wrap whose depth exceeds the short edge block on
    // one axis and the whole array on the other
    val trials = (0 until 8).map { t =>
      val shape = Array(4 + rnd.nextInt(14), 4 + rnd.nextInt(17))
      val chunks = Seq(2 + rnd.nextInt(shape(0) - 1), 2 + rnd.nextInt(shape(1) - 1))
      val depth = Seq(rnd.nextInt(math.min(3, chunks(0)) + 1),
        rnd.nextInt(math.min(3, chunks(1)) + 1))
      (shape, chunks, depth, modes(t % modes.length))
    } ++ {
      val shape = Array(5 + rnd.nextInt(6), 4 + rnd.nextInt(7), 3 + rnd.nextInt(6))
      val chunks = shape.toSeq.map(n => 2 + rnd.nextInt(n - 1))
      Seq((shape, chunks, chunks.map(c => 1 + rnd.nextInt(math.min(2, c))),
        modes(rnd.nextInt(modes.length))))
    } :+ ((Array(3, 10), Seq(5, 4), Seq(4, 3), Boundary.Wrap))
    for (((shape, chunks, depth, mode), trial) <- trials.zipWithIndex) {
      val img = Nd.zeros(shape)
      for (i <- img.data.indices) img.data(i) = ((i * 31 + trial * 97) % 256).toDouble
      val parts = 1 + trial % 3
      val what = s"trial $trial (shape=${shape.toSeq} chunks=$chunks depth=$depth mode=$mode)"
      def check(form: String, src: Nd, got: Seq[(Seq[Int], Seq[Int], Seq[Double])]): Unit = {
        assert(got.size == Grid.cartesian(shape.toSeq.zip(chunks)
          .map { case (n, c) => (n + c - 1) / c }).size, s"$form $what: block count")
        for ((idx, origin, pad) <- got) {
          val padShape = idx.indices.map { k =>
            math.min(chunks(k), shape(k) - origin(k)) + 2 * depth(k)
          }.toArray
          assert(pad == oracle(src, origin, padShape, depth, mode),
            s"$form $what: block $idx diverges from the oracle")
        }
      }
      for ((dt, src) <- Seq(DType.U8 -> img, DType.U16 -> Nd.of(shape, img.data.map(_ * 251)))) {
        val typed = TBlock.fromBlocks(Grid.blockify(spark, s"ph$trial", src, chunks), dt)
        check(s"${dt.name} exchange", src, THalo.exchange(typed, depth, mode).collect().toSeq
          .map(p => (p.block.idx, p.block.origin, dt.decode(p.padded).toSeq)))
        check(s"${dt.name} exchangeP", src, THalo.mapOverlapP(THalo.partitionBlocks(typed, parts),
            parts, depth, mode)(_.padded).collect().toSeq
          .map(b => (b.idx, b.origin, dt.decode(b.data).toSeq)))
      }
      val src = Nd.of(shape, img.data.map(_ + 0.25))
      val blocks = Grid.blockify(spark, s"ph$trial", src, chunks)
      check("float64 exchange", src, Halo.exchange(blocks, depth, mode).collect().toSeq
        .map(p => (p.block.idx, p.block.origin, p.padded.toSeq)))
      check("float64 exchangeP", src, Halo.mapOverlapP(Halo.partitionBlocks(blocks, parts),
          parts, depth, mode)(_.padded).collect().toSeq
        .map(b => (b.idx, b.origin, b.data.toSeq)))
    }
  }

  test("3-d label: component count independent of chunking") {
    val img = image3d(10, 12, 8)
    val bin = Nd.of(img.shape, img.data.map(v => if (v > 1.2) 1.0 else 0.0))
    val (_, nRef) = Measure.label(Grid.blockify(spark, "t", bin, bin.shape.toSeq), 3)
    for (chunks <- Seq(Seq(5, 6, 4), Seq(4, 5, 8), Seq(10, 4, 3))) {
      val (ds, n) = Measure.label(Grid.blockify(spark, "t", bin, chunks), 3)
      assert(n == nRef, s"chunks $chunks: $n != $nRef")
      assert(Grid.unblockify(ds).data.count(_ != 0.0) == bin.data.count(_ != 0.0))
    }
  }

  test("label numbering is invariant under foreground value scaling (permutation robustness)") {
    val img = image3d(8, 9, 7)
    val bin = Nd.of(img.shape, img.data.map(v => if (v > 1.2) 1.0 else 0.0))
    val scaled = Nd.of(bin.shape, bin.data.map(_ * 7.5)) // any nonzero is fg
    val (a, na) = Measure.label(Grid.blockify(spark, "t", bin, Seq(4, 5, 4)), 3)
    val (b, nb) = Measure.label(Grid.blockify(spark, "t", scaled, Seq(4, 5, 4)), 3)
    assert(na == nb)
    assert(Grid.unblockify(a).data.sameElements(Grid.unblockify(b).data))
  }

  test("exact dedup is idempotent and order-independent") {
    val docs = Tables.t(spark, sf001, "documents")
    import org.apache.spark.sql.functions._
    val once = docs.orderBy(col("doc_id")).dropDuplicates("text")
    val twiceShuffled = docs.orderBy(col("text")).dropDuplicates("text").dropDuplicates("text")
    assert(once.count() == twiceShuffled.count())
  }

  test("minhash signature entries only decrease as shingles are added (monotone merge)") {
    graft.functions.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq((1L, "a b"), (1L, "c d")).toDF("doc_id", "shingle")
    val more = Seq((1L, "a b"), (1L, "c d"), (1L, "e f")).toDF("doc_id", "shingle")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("doc_id").agg(expr("minhash_sig(shingle)").as("s"))
        .collect().head.getSeq[String](1)
    val (s1, s2) = (sig(base), sig(more))
    assert(s1.zip(s2).forall { case (a, b) => b <= a })
  }

  test("cardinal B-spline basis: partition of unity + non-negativity, orders 0-5") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200; n <- 0 to 5) {
      val u = rnd.nextDouble() * 6.0 - 3.0
      val total = (-7 to 7).map(t => Interp.bspline(n, u - t)).sum
      assert(math.abs(total - 1.0) < 1e-12,
        s"B_$n partition of unity fails at $u: $total")
      assert((-7 to 7).forall(t => Interp.bspline(n, u - t) >= -1e-15),
        s"B_$n negative weight at $u")
    }
  }

  test("BIGINT packing bounds: event_id and o_orderkey stay below 10^9") {
    // asofLatestOrder / asofNearestView pack (delta, id) into one BIGINT
    // with a 10^9 modulus — a testdata-generator change that widens the
    // ids would silently corrupt the unpacked id, so pin the assumption
    import org.apache.spark.sql.functions.{col, max}
    for (dir <- Seq(sf0001, sf001)) {
      val maxEvent = Tables.t(spark, dir, "events")
        .agg(max(col("event_id").cast("long"))).collect().head.getLong(0)
      val maxOrder = Tables.t(spark, dir, "orders")
        .agg(max(col("o_orderkey").cast("long"))).collect().head.getLong(0)
      assert(maxEvent < 1000000000L, s"event_id $maxEvent >= 10^9 in $dir")
      assert(maxOrder < 1000000000L, s"o_orderkey $maxOrder >= 10^9 in $dir")
    }
  }

  test("misra-gries guarantee holds on random zipf-ish streams across random partitionings") {
    // the mergeable-summaries property (Agarwal et al.): for ANY stream
    // and ANY partition/merge tree, every term with true count >
    // N/(k+1) (k = 64) is present in the final summary, and N is exact
    graft.functions.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 5) {
      val vocab = 100 + rnd.nextInt(900)
      val n = 1500 + rnd.nextInt(1500)
      // skewed draw: small ids get boosted mass, plus a uniform tail
      val stream = Seq.fill(n) {
        val z = rnd.nextInt(10)
        if (z < 4) s"t${rnd.nextInt(1 + vocab / 50)}" else s"t${rnd.nextInt(vocab)}"
      }
      val parts = 1 + rnd.nextInt(9)
      val out = stream.toDF("tok").repartition(parts)
        .agg(org.apache.spark.sql.functions.expr("misra_gries(tok)").as("s"))
        .select($"s.n", $"s.terms").head()
      assert(out.getLong(0) == n.toLong, s"trial $trial: N must be exact")
      val summary = out.getSeq[String](1).toSet
      assert(summary.size <= 64, s"trial $trial: capacity bound broken")
      val exact = stream.groupBy(identity).view.mapValues(_.size).toMap
      val mustKeep = exact.filter(_._2 > n / 65.0).keySet
      assert(mustKeep.subsetOf(summary),
        s"trial $trial (vocab=$vocab n=$n parts=$parts): " +
          s"missing hitters ${mustKeep -- summary}")
    }
  }

  test("bucketed ntile/prefix-sum equal their window twins on random groups/sizes/ties/buckets") {
    // the r13 scale machinery (broadcast histogram cuts + per-bucket
    // exact offsets) must be bit-identical to the NTILE / running-sum
    // windows for ANY data shape — random group counts, heavy value
    // ties, group sizes from 1 to hundreds, bucket counts from 2 to
    // beyond the data size
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 4) {
      val nGroups = 1 + rnd.nextInt(5)
      val rows = (0 until nGroups).flatMap { g =>
        val size = 1 + rnd.nextInt(300)
        // tie-heavy values: ~size/5 distinct
        (1 to size).map(i =>
          (s"g$g", i.toLong, (rnd.nextInt(math.max(size / 5, 1)) * 0.25), rnd.nextInt(50).toLong))
      }
      val df = rows.toDF("lang", "doc_id", "doc_nll", "n")
      val wN = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"doc_nll", $"doc_id")
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val expN = df.withColumn("tier", ntile(3).over(wN))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(4)).toMap
      val expS = df.withColumn("cum", sum($"n").over(wS))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
      val b = Seq(2, 7, 33, 500)(rnd.nextInt(4))
      spark.conf.set("graft.tiers.rankBuckets", b.toString)
      try {
        val gotN = graft.queries.TextOps.bucketedNtile(spark, df, 3)
          .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))
            -> r.getAs[Int]("tier")).toMap
        assert(gotN == expN, s"trial $trial (B=$b): ntile diverged")
        val gotS = graft.queries.TextOps.bucketedPrefixSum(
            spark, df.drop("doc_nll"), "lang", "doc_id", "n")
          .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))
            -> r.getAs[Long]("cum")).toMap
        assert(gotS == expS, s"trial $trial (B=$b): prefix sum diverged")
      } finally spark.conf.unset("graft.tiers.rankBuckets")
    }
  }

  test("pq_adc equals the hex-unpack HOF fold over random code words and tables") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      // random subspace count (word length), random nibbles, random table
      // values incl. negatives and exact zeros — bit-equality expected,
      // not approximate (both folds accumulate left-to-right from 0.0)
      val nBytes = 1 + rnd.nextInt(6)
      val rows = (0 until 40).map { i =>
        (i.toLong, Array.fill(nBytes)(rnd.nextInt(256).toByte))
      }
      val tab = IndexedSeq.fill(nBytes * 2 * 16)(
        if (rnd.nextInt(10) == 0) 0.0 else rnd.nextDouble() * 4 - 2)
      val df = rows.toDF("id", "codes").withColumn("tab", typedLit(tab))
      val native = df.select(col("id"), expr("pq_adc(codes, tab)").as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val hof = df.select(col("id"), expr(
        """aggregate(
          |  transform(sequence(0, length(codes) * 2 - 1), m -> tab[
          |    m * 16 + CAST(conv(substring(hex(codes), m + 1, 1), 16, 10) AS INT)]),
          |  0D, (a, x) -> a + x)""".stripMargin).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(native == hof, s"trial $trial (nBytes=$nBytes) diverged")
    }
  }
}
