package graft

import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import graft.queries.Similarity

  test("cosine_topk returns 10 rows in strictly non-increasing cos order") {
    val rows = Similarity.cosineTopk(spark, sf001).collect()
    assert(rows.length == 10)
    val cs = rows.map(_.getDouble(1))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    assert(cs.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("hyperplane-LSH ANN: results are a subset-ranked approximation with real recall") {
    val exact = Similarity.cosineTopk(spark, sf001).collect().map(_.getLong(0)).toSet
    val ann = Similarity.annHyperplaneTopk(spark, sf001).collect()
    assert(ann.length == 10)
    val cs = ann.map(_.getDouble(1))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    val recall = ann.map(_.getLong(0)).count(exact.contains) / 10.0
    // sign-LSH with 7 probes over ~1/9 of the corpus: recall must beat
    // random candidate selection (expected ~0.11) by a wide margin
    assert(recall >= 0.3, s"ANN recall $recall vs exact top-10")
    // adaptive radius (r13 task #6): at sf0.01 the corpus (499 vectors)
    // is below even the full-scan candidate target, so the radius
    // saturates to 6 — brute force — and recall is exactly 1.0
    assert(Similarity.adaptiveRadius(499) == 6)
    assert(recall == 1.0,
      s"sub-target corpora must degenerate to exact search, recall=$recall")
    // the regime boundaries the scaladoc promises: sf0.1 widens to
    // radius 3, sf1+ keeps the designed radius-1 plan, and the floor
    // never drops below 1 even at extreme n
    assert(Similarity.adaptiveRadius(1999) == 3)
    assert(Similarity.adaptiveRadius(19999) == 1)
    assert(Similarity.adaptiveRadius(1L << 40) == 1)
  }

  test("ivf_cosine_topk (k-means, multi-probe) has recall >= 0.9 vs brute force") {
    val exact = Similarity.cosineTopk(spark, sf0001).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfCosineTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.length == 10)
    val cs = ivf.map(_._2)
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    val recall = ivf.map(_._1).count(exact.contains) / 10.0
    assert(recall >= 0.9, s"IVF multi-probe recall $recall vs exact top-10")
  }

  test("ivf_pq_topk: ADC+re-rank recall, and small-corpus degeneracy to exact-within-probes") {
    val exact = Similarity.cosineTopk(spark, sf0001).collect().map(_.getLong(0)).toSet
    val pq = Similarity.ivfPqTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(pq.length == 10)
    val cs = pq.map(_._2)
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    val recall = pq.map(_._1).count(exact.contains) / 10.0
    assert(recall >= 0.9, s"IVF-PQ recall $recall vs exact top-10")
    // at sf0.001 the 3 probed cells hold ~150 < R=200 candidates, so the
    // ADC shortlist covers every candidate and the exact re-rank must
    // reproduce ivf_cosine_topk EXACTLY (same probes, same final
    // cosine arithmetic) — the documented benign degeneracy
    val ivf = Similarity.ivfCosineTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pq.toSeq == ivf,
      s"sub-R corpora must degenerate to exact-within-probes: pq=${pq.toSeq} ivf=$ivf")
  }

  test("ivf_pq_probe: stored-index probe is row-identical to the in-query key; index reuses") {
    // force a fresh build so the test owns its index lifecycle
    val root = Similarity.pqIndexDir(sf0001)
    if (root.exists()) graft.sources.Lake.deleteTree(root)
    assert(!Similarity.pqIndexExists(sf0001))
    val probe1 = Similarity.ivfPqProbe(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(Similarity.pqIndexExists(sf0001), "first call must build the index")
    val inQuery = Similarity.ivfPqTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe1 == inQuery,
      s"stored-index probe diverged from the in-query key:\nprobe=$probe1\ninq=$inQuery")
    // second call must PROBE the existing index (reuse), same rows
    val probe2 = Similarity.ivfPqProbe(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe2 == probe1)
    // the stored code payload is really 4 bytes/vector
    val codes = spark.read.parquet(new java.io.File(root, "codes").toString)
    assert(codes.filter(expr("length(codes) != 4")).count() == 0,
      "every packed PQ word must be exactly 4 bytes")
    assert(codes.count() == Similarity.normedForTest(spark, sf0001).count())
  }

  test("ivf_pq append lifecycle: appended codes equal a frozen-codebook rebuild; probe matches") {
    // the append-lifecycle index: trained full, codes stored for even
    // vec_ids, odd half APPENDED with frozen codebooks
    val apRoot = Similarity.ensurePqAppendIndex(spark, sf0001)
    // frozen codebooks ⇒ appended index must be ROW-IDENTICAL (as a
    // set) to the full build ivf_pq_probe uses
    val fullRoot = Similarity.pqIndexDir(sf0001)
    Similarity.ivfPqProbe(spark, sf0001).collect() // ensure full index
    def codeSet(root: java.io.File) =
      spark.read.parquet(new java.io.File(root, "codes").toString)
        .collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getLong(r.fieldIndex("cluster")),
          r.getAs[Array[Byte]]("codes").toSeq)).toSet
    val appended = codeSet(apRoot)
    val full = codeSet(fullRoot)
    assert(appended == full,
      s"append-built codes diverge from the full build: " +
        s"only-append=${(appended -- full).take(3)} " +
        s"only-full=${(full -- appended).take(3)}")
    // and the serving probe over the appended index returns the same
    // rows as the canonical stored-index probe
    val ap = Similarity.ivfPqAppendProbe(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pr = Similarity.ivfPqProbe(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ap == pr, s"append-index probe diverged: ap=$ap pr=$pr")
    // appending MORE vectors to a copy touches only the new rows: the
    // appended batch lands next to the existing files (no rewrite)
    val before = Option(new java.io.File(apRoot, "codes").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    val extra = Similarity.normedForTest(spark, sf0001)
      .filter(col("vec_id") < 0) // empty batch: append must be a no-op write
    Similarity.appendPqCodes(spark, apRoot, extra)
    val after = codeSet(apRoot)
    assert(after == appended, "empty append must not change the code set")
    assert(before > 0)
  }

  test("pq codebooks: 8 subspaces, <=16 codes each, 8-dim entries; codes cover the corpus") {
    val s = spark
    val vecs = Similarity.normedForTest(s, sf0001)
    val subs = vecs.select(col("vec_id"),
      posexplode(expr("transform(sequence(0, 7), m -> slice(v, m * 8 + 1, 8))"))
        .as(Seq("m", "sv")))
    val cb = Similarity.pqCodebooks(subs)
    val byM = cb.collect().groupBy(_.getInt(0))
    assert(byM.keySet == (0 until 8).toSet, s"subspaces: ${byM.keySet}")
    assert(byM.values.forall(g => g.length <= 16 && g.length >= 2))
    assert(cb.collect().forall(_.getSeq[Double](2).length == 8))
    // every (vec_id, m) gets a live code from its subspace's codebook
    val enc = Similarity.pqAssign(subs, cb)
    val n = vecs.count()
    assert(enc.count() == n * 8)
    assert(enc.filter(col("code") < 0 || col("code") > 15).count() == 0,
      "codes must stay in the 4-bit domain")
  }

  test("pqEncode (map-only, r21) packs bit-identical words to the explode/regroup twin") {
    val s = spark
    val vecs = Similarity.normedForTest(s, sf0001)
    val subs = vecs.select(col("vec_id"),
      posexplode(expr("transform(sequence(0, 7), m -> slice(v, m * 8 + 1, 8))"))
        .as(Seq("m", "sv")))
    val cb = Similarity.pqCodebooks(subs)
    val direct = Similarity.pqEncode(vecs, cb).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val twin = Similarity.pqPack(Similarity.pqAssign(subs, cb)).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(direct.keySet == twin.keySet)
    assert(direct == twin, "pqEncode must pack the exact bytes the explode twin packs")
    assert(direct.values.forall(_.length == 4))
  }

  test("ivf_centroid_stats: k cells partition the corpus, all non-empty") {
    val rows = Similarity.ivfCentroidStats(spark, sf0001).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(1)).sum == 500L)
    assert(rows.forall(_.getLong(1) > 0L))
  }

  test("embedding_near_dup is non-vacuous at sf0.001") {
    val rows = Similarity.embeddingNearDup(spark, sf0001).collect()
    assert(rows.nonEmpty, "near-dup threshold must fire on the test data")
    assert(rows.forall(_.getDouble(2) >= 0.40))
  }

  test("LSH-banded near-dup equals the all-pairs twin at both test scales") {
    // 32 bands × 2 sign bits: a threshold pair (cos 0.40, bit-agreement
    // p ≈ 0.631) survives with prob 1 − (1−p²)^32 ≈ 1 − 9e-8 — full
    // result equality expected, cosines included
    for (dir <- Seq(sf0001, sf001)) {
      val naive = Similarity.embeddingNearDupAllPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val lsh = Similarity.embeddingNearDup(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(lsh == naive, s"$dir: lsh=$lsh naive=$naive")
    }
  }

  test("near-dup on a duplicated corpus equals the all-pairs twin (exact-dup collapse expansion)") {
    // the r11 collapse path: 3 verbatim copies of every sf0.001 vector
    // (the sf10 generator's shape) — the representative pipeline must
    // reconstruct every intra-group (self-cosine) and inter-group
    // expanded pair the naive within-label all-pairs join produces
    import org.apache.spark.sql.functions.{col, lit, max}
    val e = Tables.t(spark, sf0001, "embeddings")
    val shift = e.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dup = (0 until 3).map(k =>
        e.withColumn("vec_id", col("vec_id") + lit(k * shift)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft_dupvecs").toFile
    dir.deleteOnExit()
    dup.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val naive = Similarity.embeddingNearDupAllPairs(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.embeddingNearDup(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == naive, s"missing=${naive -- lsh} extra=${lsh -- naive}")
    assert(lsh.exists { case (a, b, c) => (b - a) % shift == 0L && c == 1.0 },
      "intra-group copy pairs must appear with cos exactly 1.0")
    assert(lsh.exists { case (a, b, _) => (b - a) % shift != 0L },
      "inter-group expanded pairs must appear")
  }

  test("semantic_dedup equals the naive within-cluster anti-join, non-vacuously (sf0.001)") {
    val fast = Similarity.semanticDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = Similarity.semanticDedupNaive(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive, s"missing=${naive -- fast} extra=${fast -- naive}")
    val total = Tables.t(spark, sf0001, "embeddings").count()
    assert(fast.size < total, "must drop at least one semantic duplicate")
    assert(fast.size * 2 > total, "must keep most of the corpus")
  }

  test("semantic_dedup on a duplicated corpus keeps exactly the original survivors") {
    // verbatim copies collapse onto their representative: the rep-level
    // similarity graph is unchanged, so the survivor set must be exactly
    // the single-copy corpus's (copies are dropped via their rep's 1.0
    // self-cosine); the naive twin run on the same tripled corpus pins
    // the collapse≡naive equivalence under duplication too
    import org.apache.spark.sql.functions.{col, lit, max}
    val e = Tables.t(spark, sf0001, "embeddings")
    val shift = e.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dup = (0 until 3).map(k =>
        e.withColumn("vec_id", col("vec_id") + lit(k * shift)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft_semdup").toFile
    dir.deleteOnExit()
    dup.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val orig = Similarity.semanticDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val onDup = Similarity.semanticDedup(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(onDup == orig, s"missing=${orig -- onDup} extra=${onDup -- orig}")
    val naiveDup = Similarity.semanticDedupNaive(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(onDup == naiveDup,
      s"missing=${naiveDup -- onDup} extra=${onDup -- naiveDup}")
  }

  test("kmeansK scales with the corpus: floor 10, ~N/5000, broadcast-safe cap") {
    assert(Similarity.kmeansK(0) == 10 && Similarity.kmeansK(500) == 10
      && Similarity.kmeansK(50000) == 10, "toy scales keep the oracle K")
    assert(Similarity.kmeansK(500000) == 100, "K tracks ceil(N/5000)")
    assert(Similarity.kmeansK(5000000) == 1000)
    // 10x the distinct corpus -> 10x K (above the floor): the cluster-size
    // bound is scale-invariant
    assert(Similarity.kmeansK(5000000) == 10 * Similarity.kmeansK(500000))
    assert(Similarity.kmeansK(Long.MaxValue) == 4096, "broadcast-safe cap")
  }

  test("semantic_dedup collapse equals the naive twin at a non-oracle K") {
    // the collapse≡naive argument (rep self-cos 1.0, remover sets equal
    // at rep level) is K-independent — pin it off the oracle constant so
    // the scaled-K production path inherits the same correctness proof
    val e = Tables.t(spark, sf0001, "embeddings")
    val fast = Similarity.semanticDedupWith(e, 17).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = Similarity.semanticDedupNaiveWith(e, 17).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive, s"missing=${naive -- fast} extra=${fast -- naive}")
    assert(fast.nonEmpty && fast.size < e.count(), "non-vacuous at K=17")
  }

  test("scaling K bounds the largest cluster when distinct content grows 10x") {
    // the 100 TB SemDeDup argument: the quadratic stage is bounded by the
    // largest cluster, so K must grow with DISTINCT content. Build a
    // corpus whose distinct vectors grow 10x (deterministically perturbed
    // copies — NOT verbatim, so the exact-dup collapse can't absorb them)
    // and compare the largest cluster at the fixed oracle K=10 vs a
    // TARGET_CLUSTER-style scaled K=100.
    import org.apache.spark.sql.functions.{col, count, expr, lit, max}
    val e = Tables.t(spark, sf0001, "embeddings")
    val shift = e.agg(max(col("vec_id"))).head().getLong(0) + 1
    val grown = (0 until 10).map(k =>
        e.withColumn("vec_id", col("vec_id") + lit(k * shift))
          .withColumn("embedding",
            expr(s"transform(embedding, (x, i) -> x + CAST($k AS FLOAT) * 0.003F * CAST(i % 7 AS FLOAT))")))
      .reduce(_ unionByName _)
    val n = grown.count()
    assert(grown.select(col("embedding")).distinct().count() == n,
      "perturbed copies must be distinct vectors")
    def maxCluster(k: Int): Long =
      Similarity.assignedForTestOn(grown, k)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)
    val atOracleK = maxCluster(10)
    val atScaledK = maxCluster(100)
    assert(atScaledK < atOracleK,
      s"scaled K must shrink the largest cluster: K=10 -> $atOracleK, K=100 -> $atScaledK")
    // the quadratic bound: the largest cluster stays within a small
    // multiple of the N/K ideal (k-means is unbalanced, not degenerate)
    assert(atScaledK <= 8 * n / 100,
      s"largest cluster $atScaledK exceeds 8x the N/K ideal (${n / 100})")
  }

  test("vec_mean Lloyd update yields the same rounded centroids as the explode form") {
    // the typed aggregate replaced a 64x row explosion per iteration; the
    // 6-dp round must absorb the partial-sum regrouping on real data at
    // both gate scales (the DuckDB oracle remains the cross-engine pin)
    for (dir <- Seq(sf0001, sf001)) {
      def cents(explode: Boolean): Map[Long, Seq[Double]] =
        Similarity.kmeansWith(Similarity.normedForTest(spark, dir), explode)
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
      val fast = cents(explode = false)
      val twin = cents(explode = true)
      assert(fast == twin, s"centroids diverged at $dir")
      assert(fast.size == 10 && fast.values.forall(_.length == 64))
    }
  }

  test("hoisted plane matrix yields bit-identical signatures to the inline-sin form") {
    // the literal 64x64 plane column replaced per-row sin() recomputation;
    // both derive from java.lang.Math.sin with the same op order, so every
    // sign bit — hence every candidate pair — must match exactly
    val emb = Tables.t(spark, sf0001, "embeddings")
    import org.apache.spark.sql.functions.{col, expr}
    val inlineSig = emb.select(col("vec_id"), expr(
      """aggregate(sequence(0, 63), 0L, (acc, p) -> acc +
        |  CASE WHEN aggregate(zip_with(embedding,
        |                               transform(sequence(0, 63), d ->
        |                                 (sin(CAST(p * 64 + d AS DOUBLE)) * 43758.5453
        |                                  - floor(sin(CAST(p * 64 + d AS DOUBLE)) * 43758.5453)) * 2D - 1D),
        |                               (x, y) -> CAST(x AS DOUBLE) * y),
        |                      0D, (a, x) -> a + x) > 0D
        |       THEN shiftleft(1L, p) ELSE 0L END)""".stripMargin).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hoisted = Similarity.lshPlanes
    for (p <- 0 until 64; d <- 0 until 64) {
      val s = math.sin((p * 64 + d).toDouble) * 43758.5453
      assert(hoisted(p)(d) == (s - math.floor(s)) * 2 - 1)
    }
    val viaPlanes = emb
      .withColumn("planes", org.apache.spark.sql.functions.typedLit(hoisted))
      .select(col("vec_id"), expr(
        """aggregate(sequence(0, 63), 0L, (acc, p) -> acc +
          |  CASE WHEN aggregate(zip_with(embedding, element_at(planes, p + 1),
          |                               (x, y) -> CAST(x AS DOUBLE) * y),
          |                      0D, (a, x) -> a + x) > 0D
          |       THEN shiftleft(1L, p) ELSE 0L END)""".stripMargin).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPlanes == inlineSig, "hoisted signatures diverge from inline sin()")
    // the NATIVE codegen expression (the r10 production path) must match
    // both interpreted forms bit-for-bit
    val native = emb.select(col("vec_id"), expr("sign_lsh_sig(embedding)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == inlineSig, "native sign_lsh_sig diverges from the HOF forms")
  }

  test("native hyperplane_sig is bit-identical to the interpreted HOF fold, incl. edges") {
    // the ann_hyperplane_topk bucket moved to the codegen HyperplaneSig
    // expression in r12; the displaced HOF twin stays here as the
    // semantics oracle. Edge rows exercise the divergence-prone corners:
    // NaN element (Spark's > orders NaN above 0 → bit SET), null element /
    // wrong length / empty (all-null dots → bucket 0, not null).
    import org.apache.spark.sql.functions.{col, expr, typedLit}
    val planes: Seq[Seq[Double]] = graft.functions.HyperplaneSig.planes.map(_.toSeq).toSeq
    val hof =
      """aggregate(sequence(0, 5), 0L, (acc, p) -> acc +
        |  CASE WHEN aggregate(zip_with(embedding, element_at(planes, p + 1),
        |                               (x, y) -> CAST(x AS DOUBLE) * y),
        |                      0D, (a, x) -> a + x) > 0D
        |       THEN shiftleft(1L, p) ELSE 0L END)""".stripMargin
    def sigs(df: org.apache.spark.sql.DataFrame): (Map[Long, Long], Map[Long, Long]) = {
      val withPlanes = df.withColumn("planes", typedLit(planes))
      val h = withPlanes.select(col("vec_id"), expr(hof).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = df.select(col("vec_id"), expr("hyperplane_sig(embedding)").as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (h, n)
    }
    val (h1, n1) = sigs(Tables.t(spark, sf0001, "embeddings"))
    assert(n1 == h1, "native hyperplane_sig diverges from the HOF fold on real data")
    assert(n1.values.exists(_ != 0L), "degenerate: every bucket zero")
    // adversarial rows
    val base = Array.fill(64)(0.5f)
    val nanV = base.clone(); nanV(7) = Float.NaN
    val edge = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, base.toSeq),
      org.apache.spark.sql.Row(2L, nanV.toSeq),
      org.apache.spark.sql.Row(3L, Seq.empty[Float]),
      org.apache.spark.sql.Row(4L, base.take(10).toSeq),
      org.apache.spark.sql.Row(5L, (base.toSeq :+ 1.0f)),
      org.apache.spark.sql.Row(6L, base.toSeq.updated(3, null))
    )), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true)))))
    val (h2, n2) = sigs(edge)
    assert(n2 == h2, s"edge-row divergence: native $n2 vs HOF $h2")
    assert(n2(3) == 0L && n2(4) == 0L && n2(5) == 0L && n2(6) == 0L,
      s"degenerate rows must bucket to 0: $n2")
    assert(n2(2) != 0L, s"NaN dot must SET bits (Spark > orders NaN high): ${n2(2)}")
  }

  test("embedding_near_dup candidates come from banded buckets, not label all-pairs") {
    val plan = Similarity.embeddingLshCandidates(
        Tables.t(spark, sf0001, "embeddings"))
      .queryExecution.optimizedPlan.toString
    // the candidate join must key on the exploded (label, bucket) pair —
    // Generate (explode) feeding a join keyed on bucket
    assert(plan.contains("Generate"), s"band explode missing:\n$plan")
    assert(plan.toLowerCase.contains("bucket"), s"bucket join key missing:\n$plan")
  }

  test("int8 quantized top-k: high recall vs exact, cosine error bounded") {
    val exact = Similarity.cosineTopk(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val quant = Similarity.embeddingQuantTopk(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(quant.length == 10)
    val recall = quant.map(_._1).count(exact.contains) / 10.0
    assert(recall >= 0.8, s"int8 quantization recall $recall vs exact top-10")
    // 8-bit codes keep the cosine within ~1e-2 of exact for shared ids
    for ((id, qc) <- quant if exact.contains(id))
      assert(math.abs(qc - exact(id)) < 0.01, s"vec $id: quant $qc vs ${exact(id)}")
  }
}
