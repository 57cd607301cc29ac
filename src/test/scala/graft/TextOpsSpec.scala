package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import graft.queries.TextOps

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("simhash: identical texts get identical hashes; near texts are close") {
    val base = "spark scan filter join agg window sort merge hash batch stream value"
    val oneEdit = base.replace("merge", "shuffle")
    val different = "completely unrelated words about gardens flowers rivers mountains sunshine"
    val df = docsDf(Seq(1L -> base, 2L -> base, 3L -> oneEdit, 4L -> different))
    val hs = TextOps.simhashOf(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L), "exact duplicates must collide")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(3L)) < ham(hs(1L), hs(4L)),
      s"one-token edit (${ham(hs(1L), hs(3L))} bits) must be closer than unrelated (${ham(hs(1L), hs(4L))} bits)")
  }

  test("minhash LSH finds the same >=0.8-jaccard pairs as the exact join (sf0.001)") {
    val exact = TextOps.ngramJaccardPairsAllPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.minhashNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH=$lsh exact=$exact")
  }

  test("minhash on a duplicated corpus equals the naive join (exact-dup collapse expansion)") {
    // the r11 collapse path: 3 verbatim copies of every sf0.001 doc (the
    // sf10 generator's shape) — pairs must match the naive all-pairs
    // exact-jaccard join INCLUDING the intra-group (j = 1.0) and
    // inter-group expanded pairs the representative pipeline reconstructs
    val docs = Tables.t(spark, sf0001, "documents")
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val dup = (0 until 3).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * shift)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft_dupdocs").toFile
    dir.deleteOnExit()
    dup.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val naive = TextOps.ngramJaccardPairsAllPairs(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = TextOps.minhashNearDup(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == naive,
      s"missing=${naive -- lsh} extra=${lsh -- naive}")
    assert(lsh.exists { case (a, b, j) => (b - a) % shift == 0L && j == 1.0 },
      "intra-group copy pairs must appear with jaccard exactly 1.0")
    assert(lsh.exists { case (a, b, _) => (b - a) % shift != 0L },
      "inter-group expanded pairs must appear")
    // the prefix-filter path under the same collapse: rep-level document
    // frequencies differ from the full corpus', but losslessness holds
    // under any canonical order, so the verified output must still match
    val pf = TextOps.ngramJaccardPairs(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pf == naive, s"missing=${naive -- pf} extra=${pf -- naive}")
  }

  test("tfidf exact-dup collapse equals the naive per-doc form, dup-free and duplicated") {
    // r15: tf/df are functions of the text alone, so the collapsed plan
    // (md5-keyed distinct texts, multiplicity-weighted sums) must be
    // row-identical to the per-doc explode — on the dup-free corpus
    // (weights all 1: the degenerate case) AND on a 3x-duplicated one
    // (where df and the tf sums are genuinely weighted)
    def rows(dir: String, q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame) =
      q(spark, dir).collect().map(r =>
        (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    assert(rows(sf0001, TextOps.tfidfTopTerms) == rows(sf0001, TextOps.tfidfTopTermsNaive))
    val docs = Tables.t(spark, sf0001, "documents")
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val dup = (0 until 3).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * shift)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft_duptfidf").toFile
    dir.deleteOnExit()
    dup.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = rows(dir.toString, TextOps.tfidfTopTerms)
    assert(got == rows(dir.toString, TextOps.tfidfTopTermsNaive))
    assert(got.nonEmpty)
  }

  test("line dedup exact-dup collapse equals the per-doc form, dup-free and duplicated") {
    // r15: (n_segs, n_removed, clean_text) are functions of the text
    // given the global shared set, and nd weights by text multiplicity —
    // the collapsed pipeline must be row-identical to the per-doc one.
    // The duplicated fixture's copies land in different doc_id %3/%4
    // augmentation classes, so tid groups mix multiplicities.
    def rows(docs: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(docs).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val aug0 = TextOps.augmentLines(Tables.t(spark, sf0001, "documents"))
    assert(rows(aug0, TextOps.lineDedupOver(_)) == rows(aug0, TextOps.lineDedupOverNaive))
    val docs = Tables.t(spark, sf0001, "documents")
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val dup = (0 until 3).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * shift)))
      .reduce(_ unionByName _)
    val aug = TextOps.augmentLines(dup)
    val got = rows(aug, TextOps.lineDedupOver(_))
    assert(got == rows(aug, TextOps.lineDedupOverNaive))
    assert(got.exists(_._3 > 0), "fixture removed zero segments — shared path untested")
  }

  test("exact-substring dedup collapse equals the per-doc form; copies come out fully covered") {
    // r15: same collapse as line dedup — plus the self-collision edge:
    // a duplicated text's grams are shared BY ITS OWN COPIES (weighted
    // nd >= 2), so verbatim copies must come out with empty clean_text
    // exactly as the per-doc countDistinct form scores them.
    def rows(dir: String, q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame) =
      q(spark, dir).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(rows(sf0001, TextOps.exactSubstringDedup)
      == rows(sf0001, TextOps.exactSubstringDedupNaive))
    val docs = Tables.t(spark, sf0001, "documents")
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // shift by 15*shift so doc_id % 3 and % 5 classes are PRESERVED —
    // every copy gets the identical augmented text, making whole-doc
    // self-collision the dominant shape (the sf10/sf100 generator's)
    val dup = (0 until 3).map(kk =>
        docs.withColumn("doc_id", col("doc_id") + lit(kk * 15L * shift)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft_dupsub").toFile
    dir.deleteOnExit()
    dup.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = rows(dir.toString, TextOps.exactSubstringDedup)
    assert(got == rows(dir.toString, TextOps.exactSubstringDedupNaive))
    assert(got.forall(r => r._4.isEmpty && r._3 == r._2),
      "every doc is a verbatim copy — all tokens must be covered")
  }

  test("incremental_near_dedup: skew-guarded collapse equals the unguarded join on a duplicated batch/index") {
    // r13 task #3: a duplicated batch used to land batch_k × index_k
    // signature pairs on one (band, bucket) reducer. The guard collapses
    // both join inputs to distinct signatures; this pins exactness on
    // the hot shape — every batch doc 4×, every corpus doc 3×.
    val docs = Tables.t(spark, sf0001, "documents")
      .select("doc_id", "source", "text")
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // corpus copies at negative ids (still < 400); batch copies shifted
    // upward (still >= 400)
    val dupCorpus = (1 to 2).map(k =>
        corpus.withColumn("doc_id", -(col("doc_id") + lit(1L + k * shift))))
      .reduce(_ unionByName _)
    val dupBatch = (1 to 3).map(k =>
        batch.withColumn("doc_id", col("doc_id") + lit(k * shift)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("graft_dupbatch").toFile
    dir.deleteOnExit()
    corpus.unionByName(batch).unionByName(dupCorpus).unionByName(dupBatch)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val full = Tables.t(spark, dir.toString, "documents")
    val idxB = TextOps.nearDupBand(
        TextOps.nearDupSigs(full.filter(col("doc_id") < 400)))
      .select(col("band"), col("bucket"), col("sig").as("idx_sig"))
    // naive UNGUARDED twin: raw banded × banded equi-join
    val naive = TextOps.nearDupBand(
        TextOps.nearDupSigs(full.filter(col("doc_id") >= 400)))
      .join(idxB, Seq("band", "bucket"))
      .filter(expr(TextOps.sigAgreeExpr))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val guarded = TextOps.nearDupCollidedIds(
      TextOps.nearDupSigs(full.filter(col("doc_id") >= 400))
        .select("doc_id", "sig"), idxB)
      .collect().map(_.getLong(0)).toSet
    assert(naive.nonEmpty, "fixture produced zero collisions — guard untested")
    assert(guarded == naive,
      s"missing=${naive -- guarded} extra=${guarded -- naive}")
    // and the two gated variants agree end-to-end on the hot fixture
    val inline = TextOps.incrementalNearDedup(spark, dir.toString)
      .collect().map(_.toSeq)
    val indexed = TextOps.incrementalNearDedupIndexed(spark, dir.toString)
      .collect().map(_.toSeq)
    assert(inline.nonEmpty && indexed.sameElements(inline),
      s"indexed=$indexed inline=$inline")
  }

  test("incremental_near_dedup_indexed: parquet layout, pruned probe, append feeds the next crawl") {
    import graft.sources.SigIndex
    val d = sf0001
    val inline = TextOps.incrementalNearDedup(spark, d).collect().map(_.toSeq)
    val indexed = TextOps.incrementalNearDedupIndexed(spark, d)
      .collect().map(_.toSeq)
    assert(indexed.sameElements(inline), s"indexed=$indexed inline=$inline")
    // layout: band=<b>/part=<p> directories, fanout bounded by design
    val root = new java.io.File(TextOps.sigIndexPath(d))
    val bands = root.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert((0 to 7).map(b => s"band=$b").toSet.subsetOf(bands),
      s"missing band directories: $bands")
    val parts = new java.io.File(root, "band=0").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(parts.nonEmpty && parts.forall(_.startsWith("part=")) &&
      parts.length <= SigIndex.BucketFanout, s"bad part layout: ${parts.toSeq}")
    // append lifecycle: the gated run above appended the batch's sigs.
    // A SECOND batch that verbatim-copies a KEPT first-batch doc (one
    // that did NOT collide vs the corpus) must now be dropped — only
    // the appended rows can cause that.
    val s = spark
    import s.implicits._
    val docs = Tables.t(spark, d, "documents")
    val firstCollided = TextOps.nearDupCollidedIds(
      TextOps.nearDupSigs(docs.filter(col("doc_id") >= 400))
        .select("doc_id", "sig"),
      TextOps.nearDupBand(
          TextOps.nearDupSigs(docs.filter(col("doc_id") < 400)))
        .withColumnRenamed("sig", "idx_sig"))
      .collect().map(_.getLong(0)).toSet
    val kept = docs.filter(col("doc_id") >= 400)
      .filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id", "source", "text").collect()
      .find(r => !firstCollided.contains(r.getLong(0)))
      .getOrElse(fail("no kept batch doc with >= 3 tokens"))
    val second = Seq((900001L, kept.getString(1), kept.getString(2)))
      .toDF("doc_id", "source", "text")
    val secondSigs = TextOps.nearDupSigs(second).select("doc_id", "sig")
    val keys = SigIndex.probeKeys(
      TextOps.nearDupBand(TextOps.nearDupSigs(second)))
    val hit = TextOps.nearDupCollidedIds(secondSigs,
        SigIndex.prunedRead(spark, TextOps.sigIndexPath(d), keys)
          .withColumnRenamed("sig", "idx_sig"))
      .collect().map(_.getLong(0)).toSet
    assert(hit == Set(900001L),
      s"appended first-batch signatures must drop the second-batch copy, got $hit")
  }

  test("bloom-gated incremental dedup equals the exact path and drops cross-boundary copies") {
    val s = spark
    import s.implicits._
    // corpus = sf0.001 docs kept strictly below the 400 batch boundary
    // (the table's ids run 0..499); synthesize a batch where even slots
    // re-ingest an existing text VERBATIM (exercises the prefix-hit →
    // exact-verify → drop path, which random md5 prefixes almost never
    // do) and odd slots carry new text
    val corpus = Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val batch = corpus.orderBy(col("doc_id")).limit(40).collect().zipWithIndex
      .map { case (r, i) =>
        (400L + i, if (i % 2 == 0) r.getString(1) else r.getString(1) + " fresh" + i)
      }.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_incdocs").toFile
    dir.deleteOnExit()
    corpus.unionByName(batch.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = rows(TextOps.incrementalDedup(spark, dir.toString))
    val bloom = rows(TextOps.incrementalDedupBloom(spark, dir.toString))
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
    assert(bloom.map(_._1).toSet == (0 until 40).filter(_ % 2 == 1)
      .map(400L + _).toSet, s"verbatim re-ingests must drop: $bloom")
  }

  test("pii_redact: sentinels replace every match; counts follow the residue schedule") {
    val rows = TextOps.piiRedact(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (if (id % 3 == 0) 1 else 0), s"n_email doc $id")
      assert(r.getInt(2) == (if (id % 4 == 0) 1 else 0), s"n_phone doc $id")
      assert(r.getInt(3) == (if (id % 5 == 0) 1 else 0), s"n_ip doc $id")
      val red = r.getString(4)
      assert(!red.contains("@"), s"doc $id leaks an email: $red")
      assert(!red.matches("(?s).*\\d{3}-\\d{4}.*"), s"doc $id leaks a phone: $red")
      assert(!red.matches("(?s).*\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}.*"),
        s"doc $id leaks an IP: $red")
      if (id % 3 == 0) assert(red.contains("[EMAIL]"), s"doc $id missing sentinel")
      if (id % 4 == 0) assert(red.contains("[PHONE]"), s"doc $id missing sentinel")
      if (id % 5 == 0) assert(red.contains("[IP]"), s"doc $id missing sentinel")
    }
  }

  test("prefix-filtered jaccard join equals the naive all-pairs join") {
    // prefix filtering is LOSSLESS (SSJoin/AllPairs lemma) — full result
    // equality, jaccard values included, at both test scales
    for (dir <- Seq(sf0001, sf001)) {
      val naive = TextOps.ngramJaccardPairsAllPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pf = TextOps.ngramJaccardPairs(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pf == naive, s"$dir: prefix=$pf naive=$naive")
    }
  }

  test("ngram_jaccard_pairs never self-joins the full shingle set") {
    // the candidate join must read window-ranked PREFIX subsets (plan
    // shows the row_number window + rank filter feeding the join) and the
    // verify stage must stay candidate-restricted (LeftSemi). Candidate
    // generation is inspected un-checkpointed (the registered key
    // materializes it eagerly, which would hide the subplan).
    val candPlan = TextOps.prefixJaccardCandidates(
        Tables.t(spark, sf0001, "documents"))
      .queryExecution.optimizedPlan.toString
    assert(candPlan.contains("row_number"), s"prefix window missing:\n$candPlan")
    val plan = TextOps.ngramJaccardPairs(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"candidate semi-join missing:\n$plan")
    // quantitative: prefixes prune the join input to ⌊0.2n⌋+1 per doc
    val perDoc = Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))).as("shingle"))
      .groupBy("doc_id").count()
    val agg = perDoc
      .selectExpr("sum(count) AS total",
        "sum(count - (count * 4 + 4) div 5 + 1) AS prefix")
      .collect().head
    assert(agg.getLong(1) < 0.35 * agg.getLong(0),
      s"prefix rows ${agg.getLong(1)} not < 35% of ${agg.getLong(0)} shingle rows")
  }

  test("minhash verify stage is candidate-restricted (no corpus shingle self-join)") {
    // regression lock for the round-5 plan defect: the exact-Jaccard
    // verification must semi-join shingles to candidate endpoints before
    // any self-join — the optimized plan keeps the LeftSemi and never
    // aggregates an unrestricted shingle⋈shingle join
    val plan = TextOps.minhashNearDup(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"candidate semi-join missing from the optimized plan:\n$plan")
  }

  test("dup_ngram_doc_filter matches a naive per-doc recount (sf0.001)") {
    val rows = TextOps.dupNgramDocFilter(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val docs = Tables.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }
    val occurs = sh.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    for ((id, ng, nd, keep) <- rows) {
      val mine = sh(id)
      assert(ng == mine.size, s"doc $id n_grams $ng vs ${mine.size}")
      val dup = mine.count(g => occurs(g) >= 2).toLong
      assert(nd == dup, s"doc $id n_dup $nd vs $dup")
      assert(keep == (dup * 5 <= mine.size.toLong * 4), s"doc $id keep")
    }
    assert(rows.map(_._1).toSet == sh.filter(_._2.nonEmpty).keys.toSet,
      "every doc with >=1 shingle must get a verdict row")
  }

  test("line_dedup_docs matches a naive per-doc recount of the augmented corpus (sf0.001)") {
    val rows = TextOps.lineDedupDocs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = Tables.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // replay the augmentation: 3-token lines + residue-class boilerplate
    def lines(id: Long, t: String): Seq[String] = {
      val base = t.split(" ", -1).grouped(3).map(_.mkString(" ")).toSeq
      val b3 = if (id % 3 == 0)
        Seq("subscribe to our newsletter", "follow us on social media") else Nil
      val b4 = if (id % 4 == 0)
        Seq("all rights reserved", "terms of service apply") else Nil
      base ++ b3 ++ b4
    }
    val segsByDoc = docs.map { case (id, t) => id -> lines(id, t) }
    val docCount = segsByDoc.toSeq.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (sg, v) => sg -> v.size }
    val shared = docCount.filter(_._2 >= 4).keySet
    for ((id, nSegs, nRemoved, clean) <- rows) {
      val mine = segsByDoc(id)
      assert(nSegs == mine.size, s"doc $id n_segs $nSegs vs ${mine.size}")
      val keptSegs = mine.filterNot(shared)
      assert(nRemoved == (mine.size - keptSegs.size).toLong, s"doc $id n_removed")
      assert(clean == keptSegs.mkString("\n"),
        s"doc $id reassembly order/content mismatch")
    }
    assert(rows.map(_._1).toSet == docs.keySet, "one verdict row per doc")
    // non-vacuous at the gate scale: both the drop and the keep path run,
    // and BOTH boilerplate classes cross the >=4-doc bar
    assert(rows.exists(_._3 > 0), "no segment crossed the >=4-doc bar")
    assert(rows.exists(r => r._3 == 0 && r._2 > 0), "no fully-kept doc")
    assert(shared.contains("subscribe to our newsletter")
      && shared.contains("terms of service apply"),
      "injected multi-line boilerplate must be in the shared set")
    // the original corpus's own 3-token lines still cross the bar too
    // (the pre-r12 calibration survives the newline-ization)
    val injected = Set("subscribe to our newsletter", "follow us on social media",
      "all rights reserved", "terms of service apply")
    assert((shared -- injected).nonEmpty,
      "corpus-native shared segments disappeared under augmentation")
  }

  test("line_dedup drops multi-line boilerplate spanning docs, reassembles in order") {
    // REAL '\n' segments: each doc is a unique lead line, a 2-line
    // boilerplate block shared by all 5 docs, and a unique tail line —
    // the block must vanish from every doc, the lead/tail must survive
    // in document order
    val docs = docsDf((1L to 5L).map(i =>
      i -> s"unique lead $i\nsubscribe to our newsletter\nfollow us on social media\nunique tail $i"))
    val out = graft.queries.TextOps.lineDedupOver(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    for (i <- 1L to 5L) {
      val (nSegs, nRemoved, clean) = out(i)
      assert(nSegs == 4L, s"doc $i segmented into $nSegs lines")
      assert(nRemoved == 2L, s"doc $i removed $nRemoved lines")
      assert(clean == s"unique lead $i\nunique tail $i", s"doc $i clean='$clean'")
    }
  }

  test("shared-set probes are row-identical under a forced-low broadcast budget (salted fallback)") {
    // r12 (judge item #3): when the nd>=2 vocabulary outgrows the
    // broadcast budget, sharedSetProbe must switch to the salted replica
    // join and produce EXACTLY the broadcast path's rows — for both
    // riders of the idiom (each key vs its *Over form at budget 0).
    def rowSet(df: org.apache.spark.sql.DataFrame): Set[Vector[Any]] =
      df.collect().map(_.toSeq.toVector).toSet
    val docs = Tables.t(spark, sf0001, "documents")
    val salted = Map(
      "dup_ngram_doc_filter" -> TextOps.dupNgramDocFilterOver(docs, maxRows = 0L),
      "line_dedup_docs" ->
        TextOps.lineDedupOver(TextOps.augmentLines(docs), maxRows = 0L))
    for ((k, df) <- salted)
      assert(rowSet(df) == rowSet(SparkEntry.queries(k)(spark, sf0001)),
        s"$k diverged between broadcast and salted fallback")
  }

  test("mixture_weighted_repeat: per-source copy counts follow the weight table") {
    val rows = TextOps.mixtureWeightedRepeat(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val docs = Tables.t(spark, sf0001, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def extra(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id#mix".getBytes("UTF-8"))
      if (((md(0) >> 4) & 0xf) < 8) 1 else 0 // first hex char < '8'
    }
    val byDoc = rows.groupBy(_._1)
    for ((id, src) <- docs) {
      val sn = src.drop(3).toInt
      val want = if (sn == 0) 2 + extra(id)
        else if (sn % 2 == 1) 1
        else extra(id)
      val got = byDoc.get(id).map(_.length).getOrElse(0)
      assert(got == want, s"doc $id ($src): $got copies, want $want")
      if (want > 0)
        assert(byDoc(id).map(_._3).sorted.toSeq == (0 until want),
          s"doc $id copy indices")
    }
    // all three paths must fire: up-sampled, identity, down-sampled
    assert(rows.exists { case (id, s, c) => s == "src0" && c == 2 },
      "no third copy in the 2.5x domain")
    assert(docs.exists { case (id, s) =>
      s.drop(3).toInt % 2 == 0 && s != "src0" && !byDoc.contains(id) },
      "no doc dropped from a 0.5x domain")
  }

  test("exact dedup accounting is idempotent: re-deduping kept docs removes nothing") {
    val docs = Tables.t(spark, sf001, "documents")
    val kept = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val n1 = kept.count()
    val n2 = kept.select(col("h")).distinct().count()
    assert(n1 == n2, "second dedup pass must be a no-op")
  }

  test("doc_fingerprint is total: one row per doc with >=3 tokens") {
    val nDocs = Tables.t(spark, sf0001, "documents")
      .filter(size(split(col("text"), " ")) >= 3).count()
    assert(TextOps.docFingerprint(spark, sf0001).count() == nDocs)
  }

  test("pack_sequences: packs are contiguous, conserve tokens, overflow <= one doc") {
    val packs = TextOps.packSequences(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.t(spark, sf001, "documents")
      .select((col("doc_id") % 8).as("shard"), size(split(col("text"), " ")).as("tok"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val maxTok = docs.map(_._2).max
    for (shard <- docs.map(_._1).distinct) {
      val sp = packs.filter(_._1 == shard).sortBy(_._2)
      // contiguous pack ids from 0
      assert(sp.map(_._2).toSeq == (0L until sp.length).toSeq, s"shard $shard pack gap")
      // token conservation: every doc lands in exactly one pack
      assert(sp.map(_._4).sum == docs.filter(_._1 == shard).map(_._2.toLong).sum)
      // each pack spans one 2000-token budget interval, so its size can
      // exceed the budget by at most one straddling doc
      assert(sp.forall(_._4 <= 2000L + maxTok), s"shard $shard pack overflow")
    }
  }

  test("dataset_split: disjoint, complete, roughly 80/10/10 by hash") {
    val rows = graft.queries.TextOps.datasetSplit(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("train", "val", "test"))
    val total = rows.values.sum
    val nDocs = graft.Tables.t(spark, sf001, "documents").count()
    assert(total == nDocs, "every doc in exactly one split")
    val trainFrac = rows("train").toDouble / total
    assert(trainFrac > 0.72 && trainFrac < 0.88, s"train fraction $trainFrac")
    // determinism: the split is a pure function of doc_id — re-run equal
    val again = graft.queries.TextOps.datasetSplit(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == rows)
  }

  test("contamination_check: flags the cross-source near-copies of src0") {
    val rows = graft.queries.TextOps.contaminationCheck(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.forall(_._1 != "src0"), "eval source excluded")
    assert(rows.forall { case (_, n, c, f) => c <= n && f >= 0.0 && f <= 1.0 })
    assert(rows.map(_._3).sum > 0, "synthetic corpus contains src0 near-copies")
    // the broadcast of the eval shingle set must be in the plan (the
    // zero-corpus-shuffle probe is the point of the operator)
    val plan = graft.queries.TextOps.contaminationCheck(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval set not broadcast:\n$plan")
  }

  test("normalizeUrl: case, www, fragment, utm params, trailing slash, path case kept") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // (raw, expected canonical)
      ("HTTPS://WWW.Site.EXAMPLE.com/Page/3/", "https://site.example.com/Page/3"),
      ("https://site.example.com/Page/3?utm_source=a&id=3&utm_medium=b",
        "https://site.example.com/Page/3?id=3"),
      ("https://site.example.com/Page/3?utm_source=a&utm_medium=b",
        "https://site.example.com/Page/3"),
      ("https://site.example.com/Page/3?b=2&a=1#frag",
        "https://site.example.com/Page/3?b=2&a=1"), // param ORDER preserved
      ("http://site.example.com", "http://site.example.com"),
      ("http://site.example.com/#frag", "http://site.example.com"),
      // a path segment that merely STARTS with www must not be stripped
      ("https://site.example.com/www.deep/X", "https://site.example.com/www.deep/X"),
    )
    val got = cases.map(_._1).toDF("u")
      .select(graft.queries.TextOps.normalizeUrl(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"normalization mismatch: $got")
  }

  test("exact_substring_dedup: boilerplate tails removed, originals kept, dup docs emptied") {
    val k = 8
    val rows = graft.queries.TextOps.exactSubstringDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = Tables.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size, "one row per doc")
    val texts = docs.values.toSeq
    val dupTexts = texts.groupBy(identity).filter(_._2.size >= 2).keySet
    for ((id, nTok, nRem, clean) <- rows) {
      val orig = docs(id)
      val tail3 = id % 3 == 0
      val tail5 = id % 5 == 0
      val augLen = orig.split(" ", -1).length +
        (if (tail3) 12 else 0) + (if (tail5) 9 else 0)
      assert(nTok == augLen, s"doc $id token count")
      if (dupTexts.contains(orig))
        assert(nRem == nTok && clean == "",
          s"doc $id is an exact duplicate - every position is a shared run")
      else if (tail3 || tail5) {
        // the boilerplate tails are shared across their residue class;
        // removal must clip exactly at the run edge (original text kept
        // verbatim UNLESS part of it happens to sit in a shared run)
        assert(nRem >= (if (tail3) 12 else 0) + (if (tail5) 9 else 0),
          s"doc $id must drop its boilerplate tail(s)")
        assert(!clean.contains("lorem ipsum") && !clean.contains("rights reserved"),
          s"doc $id boilerplate survived")
        if (nRem == (if (tail3) 12 else 0) + (if (tail5) 9 else 0))
          assert(clean == orig, s"doc $id original text must survive verbatim")
      } else if (nRem == 0)
        assert(clean == orig, s"doc $id untouched text must round-trip")
    }
    // the run-length guarantee: a shared run shorter than k survives
    import spark.implicits._
    val tiny = Seq(
      (1L, "a b c d e f g h i j unique one side padding words here"),
      (2L, "a b c d e f g h i j other tail entirely different text body"),
      (3L, "a b c d e f g short shared run not removed at all okay")) // 7 shared
      .toDF("doc_id", "text")
    val grams = tiny.select($"doc_id",
      org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.expr(
          s"transform(sequence(0, size(split(text,' '))-$k), i -> md5(concat_ws(' ', slice(split(text,' '), i+1, $k))))"))
        .as(Seq("s", "gram")))
    val sharedN = grams.groupBy("gram")
      .agg(org.apache.spark.sql.functions.countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).count()
    // docs 1/2 share exactly the 10-token prefix -> 3 shared 8-gram
    // starts; doc 3's 7-token overlap contributes none
    assert(sharedN == 3, s"expected 3 shared grams, got $sharedN")
  }

  test("url_dedup_normalized: 200 raw urls collapse to 50 canonical pages, 4 variants each") {
    val rows = graft.queries.TextOps.urlDedupNormalized(spark, sf001).collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getLong(1) == 4L), "every page has 4 raw crawls")
    assert(rows.forall(_.getLong(2) == 4L), "all 4 raw variants are distinct strings")
    // odd buckets keep their real id param; even buckets end up query-free
    val norms = rows.map(_.getString(0))
    assert(norms.count(_.contains("?id=")) == 25)
    assert(norms.forall(_.contains("/Page/")), "path case must be preserved")
  }

  test("gopher rules: each rule fails exactly the doc built to fail it") {
    val s = spark
    import s.implicits._
    def words(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val docs = Seq(
      // passes all: 60 4-char words incl. 2 stopwords ('that' is 4 chars)
      (1L, "that that " + words("word", 58)),
      // fails wordcount only (10 tokens < 50)
      (2L, "that that " + words("word", 8)),
      // fails meanlen only (mean word length 2 < 3)
      (3L, "of of " + words("zz", 58)),
      // fails symbol + alpha: 20 '#' in 60 tokens (ratio 1/3 > 0.1;
      // alpha 2/3 < 0.8)
      (4L, "that that " + words("word", 38) + " " + words("#", 20)),
      // fails stopword only (zero stopwords)
      (5L, words("word", 60))
    ).map { case (id, tx) => (id, tx, "srcA") }.toDF("doc_id", "text", "source")
    val r = graft.queries.TextOps.gopherOver(docs).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 5L, "n_docs")
    assert(row.getLong(2) == 1L, s"fail_wordcount: $row")
    assert(row.getLong(3) == 1L, s"fail_meanlen: $row")
    assert(row.getLong(4) == 1L, s"fail_symbol: $row")
    assert(row.getLong(5) == 1L, s"fail_alpha: $row")
    assert(row.getLong(6) == 1L, s"fail_stopword: $row")
    assert(row.getLong(7) == 1L, s"n_pass: $row")
  }

  test("gopher augmentation: doc_id % 9 == 0 gains exactly n div 7 '#' tokens") {
    val s = spark
    import s.implicits._
    val docs = Seq((9L, Seq.fill(15)("w").mkString(" "), "srcA"),
      (10L, Seq.fill(15)("w").mkString(" "), "srcA"))
      .toDF("doc_id", "text", "source")
    val aug = graft.queries.TextOps.augmentSymbols(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(aug(9L) == Seq.fill(15)("w").mkString(" ") + " # #",
      s"15 div 7 = 2 symbols: '${aug(9L)}'")
    assert(aug(10L) == Seq.fill(15)("w").mkString(" "), "non-residue doc untouched")
  }

  test("c4 filter: line retention and doc-level drops behave per rule") {
    val s = spark
    import s.implicits._
    val good = "alpha beta gamma delta epsilon."   // 5 words + terminal '.'
    val docs = Seq(
      // kept: 3 good lines; the short and unpunctuated lines are dropped
      (1L, s"$good\n$good\n$good\nshort line.\nalpha beta gamma delta epsilon"),
      // dropped: code marker, even though lines would qualify
      (2L, s"$good\n$good\n$good\nvar f = function() {"),
      // dropped: lorem ipsum marker
      (3L, s"$good\n$good\n$good\nlorem ipsum dolor sit amet."),
      // not kept: only 2 retained lines
      (4L, s"$good\n$good\nshort one.")
    ).map { case (id, tx) => (id, tx, "srcA") }.toDF("doc_id", "text", "source")
    val r = graft.queries.TextOps.c4QualityOver(docs).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 4L, "n_docs")
    assert(row.getLong(2) == 1L, s"n_drop_code: $row")
    assert(row.getLong(3) == 1L, s"n_drop_lorem: $row")
    assert(row.getLong(4) == 1L, s"n_kept: $row")
    assert(row.getLong(5) == 16L, s"sum_lines: $row")
    // only doc 1 is kept; its 3 good lines are the retained ones
    assert(row.getLong(6) == 3L, s"sum_kept_lines: $row")
  }

  test("c4 augmentation: 5-token lines, '.' on the (doc_id+li)%3 != 0 classes") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, (1 to 12).map(i => s"w$i").mkString(" "), "srcA"))
      .toDF("doc_id", "text", "source")
    val tx = graft.queries.TextOps.augmentC4(docs).collect().head.getString(2)
    // doc 1: li 0 -> (1+0)%3=1 '.', li 1 -> 2 '.', li 2 -> 0 no '.'
    assert(tx == "w1 w2 w3 w4 w5.\nw6 w7 w8 w9 w10.\nw11 w12", s"'$tx'")
  }

  test("contamination_fuzzy flags near-copies of eval docs, not unrelated text") {
    val s = spark
    import s.implicits._
    val eval = (1 to 40).map(i => s"ev$i").mkString(" ")
    // near-copy: the eval text with ONE token changed (j well above 0.8)
    val leak = (1 to 40).map(i => if (i == 40) "zz" else s"ev$i").mkString(" ")
    val clean = (1 to 40).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (1L, eval, "src0"), (2L, leak, "srcA"), (3L, clean, "srcA"),
      (4L, clean + " tail", "srcB"))
      .toDF("doc_id", "text", "source")
      .select($"doc_id", $"text", org.apache.spark.sql.functions.lit("en").as("lang"),
        $"source", org.apache.spark.sql.functions.length($"text").as("n_chars"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_contam").toFile
    tmp.deleteOnExit()
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.queries.TextOps.contaminationFuzzy(spark, tmp.toString)
      .collect().map(x => x.getString(0) -> (x.getLong(2), x.getDouble(3))).toMap
    assert(r("srcA")._1 == 1L, s"the near-copy must be flagged: $r")
    assert(r("srcA")._2 > 0.9 && r("srcA")._2 < 1.0,
      s"leak jaccard must be fuzzy-high, not exact: $r")
    assert(r("srcB")._1 == 0L && r("srcB")._2 == 0.0,
      s"unrelated text must not be flagged: $r")
  }

  test("unigram_logprob matches hand-computed LM on a tiny corpus") {
    val s = spark
    import s.implicits._
    // corpus: a appears 3x, b 2x, c 1x -> total 6
    val docs = Seq((1L, "a a b", "en"), (2L, "a b c", "en"))
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("graft_unigram").toFile
    tmp.deleteOnExit()
    docs.select($"doc_id", $"text", $"lang", org.apache.spark.sql.functions.lit("srcA").as("source"),
        org.apache.spark.sql.functions.length($"text").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.queries.TextOps.unigramLogprob(spark, tmp.toString).collect()
    assert(r.length == 1)
    val row = r.head
    def nll(c: Long) = -math.log(c / 6.0)
    val d1 = (2 * nll(3) + nll(2)) / 3.0          // "a a b"
    val d2 = (nll(3) + nll(2) + nll(1)) / 3.0     // "a b c"
    // Spark's round(col, 4) on double is BigDecimal HALF_UP — match it
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(1) == 2L, "n_docs")
    assert(row.getDouble(2) == r4((d1 + d2) / 2), s"avg_nll: $row")
    assert(row.getDouble(3) == r4(math.min(d1, d2)), s"min_nll: $row")
    assert(row.getDouble(4) == r4(math.max(d1, d2)), s"max_nll: $row")
  }

  test("bucketedPrefixSum == exact running-sum window at every bucket count") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows =
      (1L to 200L).map(i => ("en", i * 3 + i % 7, rnd.nextInt(500).toLong)) ++
      (1L to 40L).map(i => ("de", i * 2, rnd.nextInt(500).toLong)) ++
      Seq(("xx", 5L, 42L)) // single-row group
    val df = rows.toDF("lang", "doc_id", "n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val expected = df.withColumn("cum", sum($"n").over(w))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    for (b <- Seq(2, 16, 64, 1000)) {
      val got = TextOps.bucketedPrefixSum(df, "lang", "doc_id", "n", buckets = b)
        .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))
          -> r.getAs[Long]("cum")).toMap
      assert(got == expected,
        s"bucketedPrefixSum(B=$b) diverged: ${(got.toSet diff expected.toSet).take(5)}")
    }
  }

  test("bucketedNtile == exact ntile window at every bucket count (ties, tiny langs, n<k)") {
    // the r12-verdict scale fix: the production tercile path replaces the
    // per-lang full-partition NTILE sort with histogram-bucketed exact
    // ranks — this spec pins production == the literal NTILE twin on a
    // fixture engineered for the seams: doc_nll ties at bucket cuts,
    // languages smaller than k (degenerate ntile), sizes not divisible
    // by 3 (uneven tile widths), and bucket counts from near-degenerate
    // (2) past the doc count (1000: most buckets empty)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows =
      (1L to 100L).map(i => ("en", i, math.floor(rnd.nextDouble() * 20) / 4.0, i % 7 + 1)) ++ // many ties
      (1L to 50L).map(i => ("de", i, rnd.nextDouble() * 10, i % 5 + 1)) ++
      (1L to 2L).map(i => ("xx", i, 1.0, 1L)) ++                                              // n < k
      (1L to 7L).map(i => ("fr", i, 3.14, 2L))                                                // ALL tied
    val perDoc = rows.toDF("lang", "doc_id", "doc_nll", "n_tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_nll", $"doc_id")
    val expected = perDoc.withColumn("tier", ntile(3).over(w))
      .select("lang", "doc_id", "tier").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    for (b <- Seq(2, 8, 64, 1000)) {
      val got = TextOps.bucketedNtile(perDoc, 3, buckets = b)
        .select("lang", "doc_id", "tier").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(got == expected,
        s"bucketedNtile(B=$b) diverged from the NTILE twin: " +
          s"${(got.toSet diff expected.toSet).take(5)} vs ${(expected.toSet diff got.toSet).take(5)}")
    }
  }

  test("quality_c4: map-side HOF form row-identical to the explode→regroup twin, plain and duplicated") {
    // r17 rewrite: n_keep/n_lines are per-doc functions of the text, so
    // folding them map-side (size(filter(split(…)))) must reproduce the
    // exploded aggregate exactly — including on a corpus where the line
    // and doc-flag classes repeat across many doc_ids.
    def rows(docs: org.apache.spark.sql.DataFrame,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(docs).collect().map(_.toSeq).toSeq
    val aug = TextOps.augmentC4(Tables.t(spark, sf0001, "documents"))
    val hof = rows(aug, TextOps.c4QualityOver)
    assert(hof == rows(aug, TextOps.c4QualityExploded))
    assert(hof.nonEmpty)
    val docs = Tables.t(spark, sf0001, "documents")
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val dup = (0 until 3).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * shift)))
      .reduce(_ unionByName _)
    val augDup = TextOps.augmentC4(dup)
    assert(rows(augDup, TextOps.c4QualityOver)
      == rows(augDup, TextOps.c4QualityExploded))
  }

  test("bm25_topk: 10 rows, non-increasing scores, and tf-monotonicity on equal-length docs") {
    val res = TextOps.bm25TopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(res.length == 10)
    val scores = res.map(_._2)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0.0), "every retrieved doc must match >= 1 query term")
    // hand-check the winner against a driver-side BM25 over the corpus:
    // same formula, same tokenization — catches a df/tf/idf wiring bug
    // the oracle could only catch as an opaque hash mismatch
    val docs = Tables.t(spark, sf001, "documents")
      .select("doc_id", "text").collect()
      .collect { case r if !r.isNullAt(1) => (r.getLong(0), r.getString(1)) }
    val q = Seq("spark", "join", "window")
    val dls = docs.map { case (id, t) => id -> t.split(" ", -1).length }.toMap
    val n = docs.length
    val avgdl = dls.values.map(_.toDouble).sum / n
    val tfs = docs.map { case (id, t) =>
      id -> t.split(" ", -1).toSeq.filter(q.contains).groupBy(identity)
        .map { case (k, v) => k -> v.size } }.toMap
    val dfs = q.map(term => term -> tfs.values.count(_.contains(term))).toMap
    def score(id: Long): Double = q.map { term =>
      val tf = tfs(id).getOrElse(term, 0)
      if (tf == 0) 0.0
      else math.log(1.0 + (n - dfs(term) + 0.5) / (dfs(term) + 0.5)) *
        (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dls(id) / avgdl))
    }.sum
    val expected = docs.map(_._1).map(id => (id, BigDecimal(score(id))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, sc) => (-sc, id) }.take(10).toSeq
    assert(res.toSeq == expected,
      s"engine top-10 diverged from the driver replay:\n${res.toSeq}\n$expected")
  }

  test("bm25TopKTerms: parameterized query — 1-term and 8-term shapes, fixed key is the 3-term call") {
    // the gated key IS the parameterized operator at the fixed query
    val fixed = TextOps.bm25TopK(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val param = TextOps.bm25TopKTerms(spark, sf001,
      Seq("spark", "join", "window"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(param == fixed)
    // 1-term query: scores rank purely by that term's BM25 — every
    // positive-score doc contains the term, ordering non-increasing
    val one = TextOps.bm25TopKTerms(spark, sf001, Seq("spark"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(one.length == 10)
    val oneScores = one.map(_._2)
    assert(oneScores.zip(oneScores.tail).forall { case (a, b) => a >= b })
    // 8-term query (with a guaranteed-absent term): runs the same
    // map-only shape at a different width; the absent term scores 0
    // everywhere so adding it must not change any doc's score vs the
    // same query without it
    val seven = Seq("spark", "join", "window", "the", "data", "query", "table")
    val s7 = TextOps.bm25TopKTerms(spark, sf001, seven, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val s8 = TextOps.bm25TopKTerms(spark, sf001,
      seven :+ "zz_no_such_token_zz", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(s8 == s7, "a zero-df term must contribute exactly 0.0 to every doc")
    // empty query is a loud error, not an empty result
    intercept[IllegalArgumentException] {
      TextOps.bm25TopKTerms(spark, sf001, Seq.empty, 10)
    }
  }

  test("chunk_documents: window/overlap geometry on hand-built token counts") {
    val s = spark
    import s.implicits._
    // token counts that bracket every boundary: 1, exactly one window,
    // one past it, exactly two windows with overlap, one past that
    val docs = Seq(
      (1L, "a", mkText(1)), (2L, "a", mkText(128)), (3L, "a", mkText(129)),
      (4L, "b", mkText(240)), (5L, "b", mkText(241)))
      .toDF("doc_id", "source", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunk_spec")
    try {
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rows = graft.queries.TextOps.chunkDocuments(spark, tmp.toString)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4)))
      // a: n=1 → 1 chunk/1 tok; n=128 → 1/128; n=129 → 2 chunks of
      //    128 + min(128, 129-112)=17 → 145
      // b: n=240 → 2 chunks 128+128=256; n=241 → 3 chunks 128+128+17=273
      assert(rows.toSeq == Seq(
        ("a", 3L, 4L, 1L + 128L + 145L, 2),
        ("b", 2L, 5L, 256L + 273L, 3)), rows.toSeq.toString)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => p.toFile.delete())
    }
  }

  private def mkText(nTokens: Int): String =
    (0 until nTokens).map(i => s"t$i").mkString(" ")
}
