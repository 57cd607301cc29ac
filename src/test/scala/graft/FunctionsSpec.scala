package graft

import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("cosine_sim native expression equals the HOF formulation and stays in codegen") {
    val e = Tables.t(spark, sf001, "embeddings").limit(200)
    val hof = e.select(col("vec_id"), expr(
      """aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),
        |                   transform(embedding, x -> CAST(x AS DOUBLE)), (a, b) -> a * b),
        |          0D, (acc, x) -> acc + x)""".stripMargin).as("selfdot"))
    val native = e.select(col("vec_id"), expr("cosine_sim(embedding, embedding)").as("cos"))
    // self-cosine must be exactly 1 (up to float) for nonzero vectors
    assert(native.collect().forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
    assert(hof.collect().forall(_.getDouble(1) > 0.0))
    // the expression must compile into whole-stage codegen (no fallback)
    // `*(n)` marks operators inside a WholeStageCodegen span; the Project
    // evaluating cosine_sim must carry it (no eval fallback)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cosine_sim"),
      s"cosine_sim fell out of whole-stage codegen:\n$plan")
  }

  test("argmax_dot native assignment is bit-identical to the HOF fold, incl. NaN/tie edges") {
    val s = spark
    import s.implicits._
    // real corpus: every sf0.01 vector against the real k-means
    // centroids — native assignment vs the interpreted fold it replaced
    val native = graft.queries.Similarity.assignedForTest(spark, sf001, hof = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hofFull = graft.queries.Similarity.assignedForTest(spark, sf001, hof = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == hofFull, "corpus assignment diverged between native and HOF")
    assert(native.values.toSet.size > 1, "degenerate single-cluster assignment")
    // synthetic edges the corpus can't produce: NaN vector (assigns to the
    // FIRST centroid under nan-safe >), exact tie (earliest c wins),
    // empty centroid table (-1)
    val cents = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("c", "cv")
    val vecs = Seq(
      (10L, Seq(3.0, 1.0)),            // clear winner c=0 (tie with c=1 -> earliest)
      (11L, Seq(0.0, 2.0)),            // winner c=2
      (12L, Seq(Double.NaN, 1.0)),     // NaN dp everywhere -> first centroid
      (13L, Seq(-5.0, -7.0)))          // every dp < the -2.0 seed -> -1, like the HOF
      .toDF("vec_id", "v")
    def run(assign: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame): Map[Long, Long] =
      assign(vecs, cents).select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nat = run(graft.queries.Similarity.assignCells)
    val hof = run(graft.queries.Similarity.assignCellsHof)
    assert(nat == hof, s"native=$nat hof=$hof")
    assert(nat(10L) == 0L && nat(11L) == 2L && nat(12L) == 0L)
    assert(nat(13L) == -1L, "all-below-seed vector must assign -1 in both forms")
    val empty = run((v, c) => graft.queries.Similarity.assignCells(v, c.filter(lit(false))))
    assert(empty.values.forall(_ == -1L), s"empty centroid table must assign -1: $empty")
    // degenerate-input null algebra: a length-mismatched centroid is
    // skipped (its HOF dp is null), and a winning centroid with null c
    // nulls the result -- both matching the interpreted fold
    val ragged = Seq((0L, Seq(9.0, 9.0, 9.0)), (2L, Seq(0.0, 1.0))).toDF("c", "cv")
    val nr = run((v, c) => graft.queries.Similarity.assignCells(v, ragged))
    val hr = run((v, c) => graft.queries.Similarity.assignCellsHof(v, ragged))
    assert(nr == hr && nr(10L) == 2L,
      s"length-mismatched centroid must be skipped: native=$nr hof=$hr")
  }

  test("vec_mean fails loudly on ragged AND null-element vectors") {
    // degenerate inputs must not mis-sum (r12 advisor item: a null
    // element previously contributed 0.0 silently, diverging from the
    // explode twin's per-dimension null-skipping avg)
    val s = spark
    import s.implicits._
    val ragged = Seq((1L, Seq[java.lang.Double](1.0, 2.0)),
      (1L, Seq[java.lang.Double](3.0))).toDF("g", "v")
    val re = intercept[Exception](
      ragged.groupBy("g").agg(expr("vec_mean(v)")).collect())
    assert(re.getMessage.contains("ragged")
      || Option(re.getCause).exists(_.getMessage.contains("ragged")))
    val withNull = Seq((1L, Seq[java.lang.Double](1.0, 2.0)),
      (1L, Seq[java.lang.Double](3.0, null))).toDF("g", "v")
    val ne = intercept[Exception](
      withNull.groupBy("g").agg(expr("vec_mean(v)")).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ne).exists(_.contains("null element")),
      s"null element must fail loudly, got: ${chain(ne)}")
    // null VECTORS (whole rows) stay skipped, not fatal
    val withNullVec = Seq((1L, Seq[java.lang.Double](2.0, 4.0)), (1L, null))
      .toDF("g", "v")
    val ok = withNullVec.groupBy("g").agg(expr("vec_mean(v)").as("m"))
      .collect().head.getSeq[Double](1)
    assert(ok == Seq(2.0, 4.0))
  }

  test("cosine_sim rejects wrong argument types with a clear error") {
    val err = intercept[Exception] {
      Tables.t(spark, sf001, "documents").select(expr("cosine_sim(text, text)")).collect()
    }
    assert(err.getMessage.contains("ARRAY<FLOAT>") || err.getMessage.contains("DATATYPE"))
  }

  private val names = graft.functions.GraftExtensions.functions.map(_._1.funcName)

  test("every native function resolves in a new session with no engine call") {
    assert(names.size == 13)
    val s = spark.newSession()
    names.foreach(n => assert(s.catalog.functionExists(n), s"$n not registered"))
    assert(s.sql("SELECT cosine_sim(array(1f, 0f), array(1f, 0f)), " +
      "count_in(array('a', 'b', 'a'), 'a')").head().toSeq == Seq(1.0, 2))
  }

  test("no native function name shadows a Spark builtin") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    names.foreach(n =>
      assert(!FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)), n))
  }

  test("ReplaceHofCosine rule rewrites the HOF pattern into the native expression") {
    val s = spark.newSession()
    val hofCos = graft.queries.Similarity.cosineTopk(s, sf001)
    val optimized = hofCos.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_sim"),
      s"HOF cosine not rewritten to native expression:\n$optimized")
    // semantics preserved: rewritten HOF query == native query
    val a = hofCos.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.queries.Similarity.cosineTopkNative(s, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("minhash_sig aggregate matches the HOF transform signatures") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, Seq("a b c", "b c d", "c d e")), (2L, Seq("x y z")))
      .toDF("doc_id", "shingles")
    val viaAgg = docs.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy("doc_id").agg(expr("minhash_sig(shingle)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaHof = docs.select(col("doc_id"), expr(
      """transform(sequence(0, 31),
        |  i -> array_min(transform(shingles, s -> substring(md5(concat(i, ':', s)), 1, 8))))"""
        .stripMargin).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaAgg == viaHof)
  }

  test("count_in native expression equals the HOF filter form, incl. null elements and literals-only args") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Seq("the", "fox", "and", "dog"),
      Seq("no", "stops", "here"),
      Seq[String](null, "the", null, "a"),
      Seq.empty[String]).toDF("t")
    val native = df.select(expr("count_in(t, 'the', 'a', 'of', 'and')").as("c"))
      .collect().map(_.getInt(0)).toSeq
    val hof = df.select(
        size(expr("filter(t, x -> array_contains(array('the','a','of','and'), x))")).as("c"))
      .collect().map(_.getInt(0)).toSeq
    assert(native == hof, s"native=$native hof=$hof")
    assert(native == Seq(2, 0, 2, 0))
    // non-literal word arguments are rejected at build time
    val err = intercept[Exception] {
      df.select(expr("count_in(t, concat('t','he'))")).collect()
    }
    assert(err.getMessage.contains("string literals")
      || err.getMessage.contains("count_in"), err.getMessage)
    // wrong array type fails analysis
    val err2 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq(1, 2)).toDF("t").select(expr("count_in(t, 'x')")).collect()
    }
    assert(err2.getMessage.contains("ARRAY<STRING>"), err2.getMessage)
  }

  test("misra_gries summary keeps every true heavy hitter under adversarial cardinality") {
    val s = spark
    import s.implicits._
    // 500 distinct light tokens (1 occurrence each) decrement-pressure a
    // k=64 summary; two heavy tokens at ~14% and ~7% must survive, and
    // the total count must be exact across partition merges
    val rows = (Seq.fill(100)("hot") ++ Seq.fill(50)("warm") ++
      (0 until 500).map(i => s"rare_$i"))
    val df = scala.util.Random.shuffle(rows).toDF("tok").repartition(7)
    val out = df.agg(org.apache.spark.sql.functions.expr("misra_gries(tok)").as("s"))
      .select($"s.n", $"s.terms").head()
    assert(out.getLong(0) == 650L, "N must be exact regardless of capacity")
    val terms = out.getSeq[String](1).toSet
    assert(terms.contains("hot") && terms.contains("warm"),
      s"MG guarantee: hitters above N/(k+1)=10 must survive, got $terms")
    assert(terms.size <= 64, "summary must respect its capacity bound")
    // exact verify stage reproduces the naive answer (count >= 5% of N)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 650 * 0.05).keySet
    val verified = df.join(
        org.apache.spark.sql.functions.broadcast(
          df.agg(org.apache.spark.sql.functions.expr("misra_gries(tok)").as("s"))
            .select(org.apache.spark.sql.functions.explode($"s.terms").as("tok"))),
        "tok")
      .groupBy("tok").count()
      .filter($"count" >= 650 * 0.05)
      .collect().map(_.getString(0)).toSet
    assert(verified == exact, s"verified=$verified exact=$exact")
  }

  test("misra_gries offset-counter update is bit-identical to the textbook algorithm") {
    // r13: update moved to the offset representation (base+=1, histogram
    // death detection, lazy eviction). This pins LOGICAL-state equality
    // against a literal textbook simulation on the adversarial shape the
    // offset trick exists for: SEMI-HOT terms that survive decrement-alls
    // (so entries don't die in batches and the lazy bookkeeping is live),
    // interleaved with unique-miss pressure. Single partition ⇒ the
    // aggregate sees the exact stream order the simulation replays.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val semiHot = (0 until 100).map(i => s"semi_$i") // > k=64 of them
    val stream = (0 until 20000).map { i =>
      if (rnd.nextInt(10) < 6) semiHot(rnd.nextInt(semiHot.size))
      else s"uniq_${i}_${rnd.nextInt(1000000)}"
    }
    // textbook MG, k=64: hit +1; room insert; else decrement-all drop-0
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    for (t <- stream) {
      if (m.contains(t)) m(t) += 1
      else if (m.size < 64) m(t) = 1L
      else {
        val dead = m.collect { case (k, 1L) => k }.toSeq
        for (k <- m.keys.toSeq) m(k) -= 1
        dead.foreach(m.remove)
      }
    }
    val out = stream.toDF("tok").coalesce(1)
      .agg(org.apache.spark.sql.functions.expr("misra_gries(tok)").as("s"))
      .select($"s.n", $"s.terms").head()
    assert(out.getLong(0) == stream.length.toLong)
    assert(out.getSeq[String](1).toSet == m.keySet.toSet,
      s"offset-counter keys diverged from textbook: extra=" +
        s"${out.getSeq[String](1).toSet -- m.keySet} missing=" +
        s"${m.keySet -- out.getSeq[String](1).toSet}")
  }

  test("misra_gries survives newline/tab-bearing terms across the shuffle and rejects non-strings") {
    val s = spark
    import s.implicits._
    // terms containing the bytes a separator-framed serialization would
    // corrupt — the buffer crosses partial/final agg serialization
    val ugly = Seq.fill(30)("multi\nline\tterm") ++ Seq.fill(20)("plain") ++
      (0 until 10).map(i => s"x$i\n$i")
    val out = ugly.toDF("tok").repartition(5)
      .agg(org.apache.spark.sql.functions.expr("misra_gries(tok)").as("s"))
      .select($"s.n", $"s.terms").head()
    assert(out.getLong(0) == 60L)
    assert(out.getSeq[String](1).contains("multi\nline\tterm"),
      "a newline-bearing heavy term must survive buffer serialization intact")
    // non-string argument fails at analysis, not mid-job
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L, 2L).toDF("v")
        .agg(org.apache.spark.sql.functions.expr("misra_gries(v)")).head()
    }
    assert(err.getMessage.contains("misra_gries expects a STRING"), err.getMessage)
  }

  test("topk aggregate: bounded per-group top-k equals sort-and-take, across partitions") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(i => (i % 7L, rnd.nextDouble() * 100, i.toLong))
    val df = rows.toDF("g", "score", "id").repartition(8)
    val got = df.groupBy("g")
      .agg(expr("topk(struct(-score AS ns, id), 3)").as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("p", "r")))
      .select(col("g"), col("p"), (-col("r.ns")).as("score"), col("r.id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    val want = rows.groupBy(_._1).view.mapValues(
      _.sortBy(t => (-t._2, t._3)).take(3).map(t => (t._2, t._3)).toSeq).toMap
    assert(got == want, "topk disagrees with sort-and-take")
    // k larger than the group emits the whole group, still sorted
    val small = Seq((1L, 5.0, 1L), (1L, 9.0, 2L)).toDF("g", "score", "id")
      .groupBy("g").agg(expr("topk(struct(-score AS ns, id), 10)").as("top"))
      .select(size(col("top"))).collect().head.getInt(0)
    assert(small == 2)
  }

  test("top2_by: declarative top-2 equals sort-and-take-2 across partitions; plans as HashAggregate") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    // duplicate scores within groups so the k-ASC tiebreak is exercised;
    // group 99 has a single row (one-entry array); null score rows skip
    val rows = (1 to 600).map(i => (i % 11L, (rnd.nextInt(9) + 1).toDouble, i.toLong))
    val df = rows.toDF("g", "score", "id")
      .unionByName(Seq((99L, 7.0, 9001L)).toDF("g", "score", "id"))
      .unionByName(Seq((0L, Option.empty[Double], 9002L)).toDF("g", "score", "id"))
      .repartition(8)
    val agg = df.groupBy("g").agg(expr("top2_by(score, id)").as("top"))
    val got = agg
      .select(col("g"), posexplode(col("top")).as(Seq("p", "r")))
      .select(col("g"), col("p"), col("r.v"), col("r.k"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    val want = (rows :+ ((99L, 7.0, 9001L)))
      .groupBy(_._1).view.mapValues(
        _.sortBy(t => (-t._2, t._3)).take(2).map(t => (t._2, t._3)).toSeq).toMap
    assert(got == want, "top2_by disagrees with sort-and-take-2")
    assert(got(99L) == Seq((7.0, 9001L)), "single-row group must emit one entry")
    // the scale contract: fixed-width buffer → HashAggregate (codegen,
    // no object-agg 128-key sort fallback)
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"top2_by must plan as fixed-width HashAggregate:\n$p")
  }

  test("top2_by DESCRIBE FUNCTION surfaces the -Infinity sentinel restriction") {
    // r17, per ADVICE: the restriction must be visible to SQL users, not
    // only in a Scaladoc they never read
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED top2_by")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("RESTRICTION") && desc.contains("-Infinity"),
      s"usage string lost the sentinel restriction:\n$desc")
  }

  test("pq_adc equals the HOF table-lookup fold, nibble layout and null algebra pinned") {
    val s = spark
    import s.implicits._
    // two subspaces (one byte): high nibble = subspace 0, low = subspace 1.
    // tab is flat: slot m*16 + j.
    val tab = (0 until 32).map(i => i * 0.25 - 1.0)
    val rows = Seq(
      (1L, Array[Byte](((3 << 4) | 7).toByte)),  // codes (3, 7)
      (2L, Array[Byte](0x00.toByte)),            // codes (0, 0)
      (3L, Array[Byte](0xFF.toByte)))            // codes (15, 15)
      .toDF("id", "codes")
      .withColumn("tab", typedLit(tab))
    val got = rows.select(col("id"), expr("pq_adc(codes, tab)").as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def exp(c0: Int, c1: Int) = tab(c0) + tab(16 + c1)
    assert(got == Map(1L -> exp(3, 7), 2L -> exp(0, 0), 3L -> exp(15, 15)),
      s"nibble layout broke: $got")
    // fold-order contract: identical to the left-to-right HOF over the
    // unpacked codes (the form the expression replaces on the hot path)
    // each hex digit of the packed word IS one nibble, in subspace order
    val hof = rows.select(col("id"), expr(
      """aggregate(
        |  transform(sequence(0, length(codes) * 2 - 1), m -> tab[
        |    m * 16 + CAST(conv(substring(hex(codes), m + 1, 1), 16, 10) AS INT)]),
        |  0D, (a, x) -> a + x)""".stripMargin).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == hof, s"native=$got hof=$hof")
    // null algebra: a table too short for the code word is null (never a
    // garbage read), and a referenced null slot is null
    val shortTab = rows.withColumn("tab", typedLit((0 until 16).map(_.toDouble)))
      .select(expr("pq_adc(codes, tab)")).collect()
    assert(shortTab.forall(_.isNullAt(0)), "short table must null out")
    val nullSlot = Seq((1L, Array[Byte](((3 << 4) | 7).toByte))).toDF("id", "codes")
      .withColumn("tab", expr(
        "transform(sequence(0, 31), i -> IF(i = 23, CAST(NULL AS DOUBLE), CAST(i AS DOUBLE)))"))
      .select(expr("pq_adc(codes, tab)")).collect()
    assert(nullSlot.forall(_.isNullAt(0)), "referenced null slot must null out")
    // a null slot the codes do NOT reference is harmless (dead codebook
    // entries are legitimately null in the live table)
    val deadSlot = Seq((1L, Array[Byte](((3 << 4) | 7).toByte))).toDF("id", "codes")
      .withColumn("tab", expr(
        "transform(sequence(0, 31), i -> IF(i = 5, CAST(NULL AS DOUBLE), CAST(i AS DOUBLE)))"))
      .select(expr("pq_adc(codes, tab)").as("adc")).collect()
    assert(deadSlot.head.getDouble(0) == 3.0 + 23.0, "unreferenced null slot must not null out")
  }
}
