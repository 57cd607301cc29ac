package graft.queries

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis + deduplication operators over the `documents` table
  * (SURVEY.md §2C) — the LLM-training-pipeline surface.
  *
  * Scale posture: everything here is a scan → narrow transform →
  * groupBy/join pipeline with no driver-side loops. The only quadratic
  * candidate (pairwise jaccard) is bounded by an inverted-index join on
  * shingles (`ngram_jaccard_pairs`) and by MinHash-LSH banding
  * (`minhash_near_dup`) — at 100 TB only the banded variant runs; the
  * exact one is its verification oracle at test scale.
  *
  * All hashes are md5-based so the DuckDB oracle can reproduce them
  * bit-for-bit (Spark's xxhash64/hash are engine-specific).
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame
  import graft.Tables.t

  /** Tokens of `text`, split on single spaces (testdata is single-spaced). */
  private val toks: Column = split(col("text"), " ")

  /** Distinct 3-token shingles of `text` as `shingle` rows (doc_id keyed).
    * transform over an index sequence builds the sliding 3-grams without
    * any UDF — stays inside whole-stage codegen. */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")))
          .as("shingle"))

  /** DuckDB twin of shingleRows (1-based list indexing). */
  private[graft] val shingleCte: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |idx AS (SELECT doc_id, t, unnest(range(1, len(t)-1)) AS i FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx)""".stripMargin

  /** DuckDB twin of [[minhashCandidates]]' signature and band keys over
    * [[shingleCte]]'s `sh`: `hashed` holds the (h1 + i·h2) mod p MinHash
    * per (doc_id, i), `bands` the 8 band buckets of 4 rows each. Every
    * MinHash oracle shares it, so none can drift from the others. */
  private[graft] val minhashBandsCte: String =
    """hashed AS (
      |  SELECT doc_id, i, min((h1 + i * h2) % 4294967291) AS h
      |  FROM (SELECT doc_id,
      |          ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
      |          ('0x' || substr(md5(shingle), 17, 15))::BIGINT % 1000000007 AS h2
      |        FROM sh)
      |  CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
      |  GROUP BY doc_id, i),
      |bands AS (
      |  SELECT doc_id, i // 4 AS band,
      |    (i // 4)::VARCHAR || '|' || string_agg(h::VARCHAR, '|' ORDER BY i) AS bucket
      |  FROM hashed GROUP BY doc_id, i // 4)""".stripMargin

  // ------------------------------------------------------ exact dedup
  /** Exact dedup accounting per source: hash-groupBy on md5(text).
    * At 100 TB this is one shuffle on the 16-byte digest — the canonical
    * exact-dedup plan. */
  val exactDedupDocs: Q = (s, dir) => {
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(unhex(md5(col("text")))).as("n_distinct"))
      .withColumn("n_dups", col("n_docs") - col("n_distinct"))
      .orderBy(col("source"))
  }

  val exactDedupDocsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  count(*) - count(DISTINCT md5(text)) AS n_dups
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Dedup keep-first: one surviving doc_id (the smallest) per distinct
    * text; reduced to global counts so the result is one stable row. */
  val dedupKeepFirst: Q = (s, dir) => {
    t(s, dir, "documents")
      .groupBy(unhex(md5(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n") - lit(1)).as("n_removed"),
        sum(col("keep_id")).as("keep_id_sum"))
  }

  val dedupKeepFirstSql: String =
    """SELECT count(*) AS n_kept,
      |  CAST(sum(n - 1) AS BIGINT) AS n_removed,
      |  CAST(sum(keep_id) AS BIGINT) AS keep_id_sum
      |FROM (SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
      |      FROM documents GROUP BY 1)""".stripMargin

  // ------------------------------------------------------ token stats
  /** Per-language token/char statistics (whitespace tokenizer). */
  val docTokenStats: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("lang"), size(toks).as("n_tokens"), col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("lang"))
  }

  val docTokenStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sum_tokens,
      |  round(avg(len(string_split(text,' '))), 4) AS avg_tokens,
      |  round(avg(n_chars), 4) AS avg_chars,
      |  max(len(string_split(text,' '))) AS max_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------- BM25
  /** BM25 top-10 documents for a fixed keyword query (Robertson/Sparck
    * Jones; k1 = 1.2, b = 0.75) — keyword retrieval over the corpus,
    * the lexical complement to the embedding ANN keys (quality
    * filtering and eval-set retrieval both want it at pipeline scale).
    *
    * Shape — ONE map-only scan (the plan a fixed query deserves at
    * 100 TB): per doc, its length and each query term's tf via the
    * codegen `count_in` (no token explode, no (doc, term) shuffle);
    * N/avgdl/per-term df reduce to ONE broadcast stats row in the same
    * pass; scoring is a per-row expression and the only ordering work
    * is TakeOrderedAndProject. The first cut of this key exploded all
    * tokens and aggregated (doc, term) counts — measured 10.1 s at
    * sf10 / 27.0 s at sf100; this form runs 6.9 / 9.6 s one-shot cold
    * (the explode was most of the work, and its cost grew with corpus
    * tokens where this scan grows with corpus bytes).
    *
    * Determinism: tf/df/N are integers; avgdl is one exact long-sum
    * divide; idf's ln is the only libm call (1-ulp engine skew absorbed
    * by the 4-dp round). The 3 per-term scores are summed in FIXED term
    * order as one expression — never a float sum over an unordered
    * group. Docs matching no term score exactly 0.0 in both engines. */
  val bm25TopK: Q = (s, dir) =>
    bm25TopKTerms(s, dir, Seq("spark", "join", "window"), 10)

  /** Gated 1-term variant — the parameterized operator at a different
    * width, driver-oracled (the spec pins 7- and 8-term shapes; this
    * key keeps a second width under the hash gate). */
  val bm25SingleTerm: Q = (s, dir) => bm25TopKTerms(s, dir, Seq("data"), 10)

  val bm25SingleTermSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS dl,
      |    len(list_filter(string_split(text, ' '), x -> x = 'data')) AS tf0
      |  FROM documents WHERE text IS NOT NULL),
      |st AS (
      |  SELECT count(*) AS n, avg(dl) AS avgdl,
      |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0
      |  FROM d)
      |SELECT doc_id, round(
      |    CASE WHEN tf0 > 0 THEN
      |      ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
      |        / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |    ELSE 0.0 END, 4) AS bm25
      |FROM d CROSS JOIN st
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** Query-terms-parameterized BM25 (r19 verdict #5 — the gated key's
    * fixed three terms were a fixture, not an operator): the tf
    * columns, the df aggregates, and the fixed-order score sum are all
    * generated from `terms`, so any query runs the same ONE map-only
    * scan + 1-row-broadcast plan the fixed key pins. Term list must be
    * non-empty; duplicate terms are legal (each occurrence scores —
    * standard bag-of-words query semantics). */
  def bm25TopKTerms(s: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopKTerms: empty query")
    val k1 = 1.2
    val b = 0.75
    // each term literal rides a Column-level lit(), never string
    // interpolation into expr() — a quote in a term must not become SQL
    val tfCols = terms.zipWithIndex.map { case (term, i) =>
      call_function("count_in", split(col("text"), " "), lit(term)).as(s"tf$i")
    }
    val tfs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .select(col("doc_id") +: size(toks).as("dl") +: tfCols: _*)
    val dfAggs = terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val aggCols = avg(col("dl")).as("avgdl") +: dfAggs
    val stats = tfs.agg(count(lit(1)).as("n"), aggCols: _*)
    def term(tf: Column, df: Column): Column =
      when(tf > 0,
        log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5))) *
          (tf * lit(k1 + 1)) /
          (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    val score = terms.indices
      .map(i => term(col(s"tf$i"), col(s"df$i")))
      .reduce(_ + _) // FIXED left-fold term order — never a float sum
                     // over an unordered group
    tfs.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  val bm25TopKSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS dl,
      |    len(list_filter(string_split(text, ' '), x -> x = 'spark'))  AS tf0,
      |    len(list_filter(string_split(text, ' '), x -> x = 'join'))   AS tf1,
      |    len(list_filter(string_split(text, ' '), x -> x = 'window')) AS tf2
      |  FROM documents WHERE text IS NOT NULL),
      |st AS (
      |  SELECT count(*) AS n, avg(dl) AS avgdl,
      |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM d)
      |SELECT doc_id, round(
      |    (CASE WHEN tf0 > 0 THEN
      |       ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
      |         / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |     ELSE 0.0 END)
      |  + (CASE WHEN tf1 > 0 THEN
      |       ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
      |         / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |     ELSE 0.0 END)
      |  + (CASE WHEN tf2 > 0 THEN
      |       ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
      |         / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |     ELSE 0.0 END), 4) AS bm25
      |FROM d CROSS JOIN st
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  // -------------------------------------------------- document chunking
  /** Context-window chunking: split each document's token stream into
    * fixed WINDOW=128-token chunks advancing by STEP=112 (16-token
    * overlap) — the doc→training-example splitting step that sits
    * between curation and [[packSequences]] in a real pipeline
    * (packing fills batches with whole short docs; chunking cuts long
    * docs down to the context length first). Chunk count for n tokens:
    * 1 if n ≤ 128, else 1 + ⌈(n−128)/112⌉; chunk i holds
    * min(128, n − i·112) tokens (only the last is short).
    *
    * Map-only: per-doc chunk geometry is pure integer arithmetic on
    * the token count (a transform over sequence(0, nc−1) folded with
    * aggregate — no chunk explode reaches the aggregate), rolled up
    * per source. All-integer output ⇒ exact cross-engine parity. */
  val chunkDocuments: Q = (s, dir) => {
    val per = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"), size(toks).as("n"))
      .withColumn("nc",
        when(col("n") <= 128, lit(1))
          .otherwise(lit(1) + ceil((col("n") - 128) / lit(112.0)).cast("int")))
      .withColumn("chunk_toks", expr(
        "aggregate(transform(sequence(0, nc - 1), " +
          "i -> least(128, n - i * 112)), 0, (a, x) -> a + x)"))
    per.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).cast("long").as("n_chunks"),
        sum(col("chunk_toks")).cast("long").as("sum_chunk_tokens"),
        max(col("nc")).as("max_chunks_per_doc"))
      .orderBy(col("source"))
  }

  val chunkDocumentsSql: String =
    """WITH d AS (
      |  SELECT source, len(string_split(text, ' ')) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT source, n,
      |    CASE WHEN n <= 128 THEN 1
      |         ELSE 1 + CAST(ceil((n - 128) / 112.0) AS INT) END AS nc
      |  FROM d),
      |c AS (
      |  SELECT source, n, nc,
      |    (SELECT sum(least(128, n - i * 112))
      |     FROM (SELECT unnest(range(0, nc)) AS i)) AS chunk_toks
      |  FROM g)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(nc) AS BIGINT) AS n_chunks,
      |  CAST(sum(chunk_toks) AS BIGINT) AS sum_chunk_tokens,
      |  max(nc) AS max_chunks_per_doc
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ sequence packing
  /** Training-batch sequence packing: contiguous prefix-sum bucketing of
    * each shard's docs into fixed 2000-token packs. The cumsum window is
    * PARTITIONED by shard (doc_id % 8) — the scale-right shape: no global
    * single-partition prefix sum; each shard packs independently and
    * deterministically in doc_id order. Emits per-pack population stats
    * (the downstream batch loader's manifest). */
  val packSequences: Q = (s, dir) => {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"), size(toks).as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("pack", expr("(cum - tok) div 2000"))
      .groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).cast("long").as("sum_tokens"))
      .orderBy(col("shard"), col("pack"))
  }

  val packSequencesSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 8 AS shard, len(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (
      |  SELECT shard, doc_id, tok,
      |    sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d)
      |SELECT shard, CAST((cum - tok) // 2000 AS BIGINT) AS pack,
      |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- chunk → pack pipeline
  /** The two training-data stages COMPOSED (r19 verdict #3 —
    * [[chunkDocuments]] aggregated chunk geometry but emitted no chunk
    * rows for [[packSequences]] to consume): chunk every document into
    * 128-token windows advancing by 112 (chunk i of an n-token doc
    * spans [i·112, i·112 + min(128, n − i·112))), then pack the chunk
    * rows shard-locally into 2000-token training batches and emit the
    * per-pack manifest the batch loader reads.
    *
    * Scale shape: the chunk emit is a map-side `posexplode` over
    * integer geometry (no token materialization — a chunk row is
    * (doc_id, chunk_idx, tok), ~n/112 rows per doc, linear in corpus
    * tokens); packing reuses the [[packSequences]] design — the cumsum
    * window is PARTITIONED by shard (doc_id % 8, chunks follow their
    * doc), so there is no global sort and no single-partition prefix
    * sum; the only chunk-level exchange is the shard window's hash
    * partition, and the manifest aggregate map-side-combines to
    * (shard, pack) partials. Plan pin (PlanShapeSpec): exactly one
    * chunk-level exchange, no global Sort below the window. */
  val chunkPackPipeline: Q = (s, dir) => {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(toks).as("n"))
      .withColumn("nc",
        when(col("n") <= 128, lit(1))
          .otherwise(lit(1) + ceil((col("n") - 128) / lit(112.0)).cast("int")))
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        posexplode(expr("transform(sequence(0, nc - 1), " +
          "i -> least(128, n - i * 112))")))
      .toDF("doc_id", "shard", "chunk_idx", "tok")
    chunks
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("pack", expr("(cum - tok) div 2000"))
      .groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tok")).cast("long").as("sum_tokens"),
        max(col("tok")).as("max_chunk_tokens"))
      .orderBy(col("shard"), col("pack"))
  }

  val chunkPackPipelineSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id, shard, n,
      |    CASE WHEN n <= 128 THEN 1
      |         ELSE 1 + CAST(ceil((n - 128) / 112.0) AS INT) END AS nc
      |  FROM d),
      |ix AS (
      |  SELECT doc_id, shard, n, unnest(range(0, nc)) AS chunk_idx FROM g),
      |ch AS (
      |  SELECT doc_id, shard, chunk_idx,
      |    least(128, n - chunk_idx * 112) AS tok
      |  FROM ix),
      |c AS (
      |  SELECT shard, doc_id, chunk_idx, tok,
      |    sum(tok) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM ch)
      |SELECT shard, CAST((cum - tok) // 2000 AS BIGINT) AS pack,
      |  count(*) AS n_chunks,
      |  count(DISTINCT doc_id) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
      |  max(tok) AS max_chunk_tokens
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------ top terms
  /** Top-3 terms per source by frequency (row_number with term tiebreak —
    * fully deterministic under count ties). Explode → partial-agg →
    * window over the small aggregate. */
  val topTerms: Q = (s, dir) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("term").asc)
    t(s, dir, "documents")
      .select(col("source"), explode(toks).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("source"), col("rnk"), col("term"), col("cnt"))
      .orderBy(col("source"), col("rnk"))
  }

  val topTermsSql: String =
    """SELECT source, rnk, term, cnt FROM (
      |  SELECT source, term, cnt,
      |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rnk
      |  FROM (SELECT source, term, count(*) AS cnt
      |        FROM (SELECT source, unnest(string_split(text,' ')) AS term FROM documents)
      |        GROUP BY 1, 2) c
      |) WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin

  // ------------------------------------------------------ tf-idf
  /** Per-source top-2 terms by summed tf-idf (idf = ln(N/df) over the whole
    * corpus). Scores are rounded to 6 decimals before ranking so the
    * cross-engine double noise (~1e-15) cannot flip the order.
    *
    * EXACT-DUP COLLAPSE (r15, same design as the near-dup keys): tf and
    * df are pure functions of a doc's TEXT, so verbatim copies — the
    * dominant redundancy in crawl corpora — need tokenizing once, not
    * per copy. Docs group to distinct texts keyed by md5 (128-bit; the
    * raw string never rides a shuffle as a key), multiplicities are
    * carried as weights, and every downstream count becomes a weighted
    * sum: df(term) = Σ ktext over texts containing term ≡
    * countDistinct(doc_id); the per-source score sum Σ_docs tf·idf ≡
    * Σ_texts ks·tf·idf. Explode/tokenize work drops from O(corpus) to
    * O(distinct content); both shuffles ahead of the explode carry
    * (md5, count) partials that map-side combine collapses, so a 1000×
    * duplicated corpus shuffles ~its distinct share. At zero duplication
    * the plan degrades to the naive cost plus one md5 pass. Equality
    * with the naive form is spec-pinned on a duplicated fixture
    * (TextOpsSpec); the DuckDB oracle keeps the naive shape. */
  val tfidfTopTerms: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n"))
    val base = docs.select(col("source"), col("text"), unhex(md5(col("text"))).as("tid"))
    // per-(source, distinct text) doc count: the tf-sum weight
    // (distinct (source, text)-sized; barrier)
    val grouped = Materialize(
      base.groupBy(col("source"), col("tid")).agg(count(lit(1)).as("ks")))
    // one representative text per tid + total doc count: the df weight
    // (distinct-content-sized; pushdown barrier)
    val texts = Materialize(base.groupBy(col("tid"))
      .agg(first(col("text")).as("text"), count(lit(1)).as("ktext")))
    val tfText = texts.select(col("tid"), col("ktext"), explode(toks).as("term"))
      .groupBy(col("tid"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("ktext")).as("ktext"))
    val df_ = tfText.groupBy(col("term")).agg(sum(col("ktext")).as("df"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("term").asc)
    tfText.join(grouped, "tid")
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("source"), col("term"))
      .agg(round(sum(col("ks") * col("tf") * log(col("n") / col("df"))), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("source"), col("rnk"), col("term"), col("score"))
      .orderBy(col("source"), col("rnk"))
  }

  /** The pre-r15 uncollapsed tf-idf — kept as the spec twin so the
    * collapse is pinned EXACT (same rows, same round-6 scores) on
    * duplicated and dup-free fixtures. */
  private[graft] val tfidfTopTermsNaive: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n"))
    val tf = docs.select(col("doc_id"), col("source"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("source"), col("term"))
      .agg(round(sum(col("tf") * log(col("n") / col("df"))), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("source"), col("rnk"), col("term"), col("score"))
      .orderBy(col("source"), col("rnk"))
  }

  val tfidfTopTermsSql: String =
    """WITH tf AS (
      |  SELECT doc_id, source, term, count(*) AS tf
      |  FROM (SELECT doc_id, source, unnest(string_split(text,' ')) AS term FROM documents)
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |scored AS (
      |  SELECT tf.source, tf.term,
      |    round(sum(tf.tf * ln(n.n * 1.0 / df.df)), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  GROUP BY 1, 2)
      |SELECT source, rnk, term, score FROM (
      |  SELECT source, term, score,
      |    row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rnk
      |  FROM scored)
      |WHERE rnk <= 2 ORDER BY source, rnk""".stripMargin

  // ------------------------------------------------------ quality score
  /** Per-language quality metrics: vocabulary-uniqueness ratio and average
    * token length — the standard cheap text-quality signals. */
  val textQuality: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("lang"),
        size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_uniq"),
        (col("n_chars") - size(toks) + lit(1)).as("n_nonspace"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_uniq").cast("double") / col("n_tok")), 4).as("avg_uniq_ratio"),
        round(avg(col("n_nonspace").cast("double") / col("n_tok")), 4).as("avg_tok_len"),
        min(col("n_tok")).as("min_tokens"))
      .orderBy(col("lang"))
  }

  val textQualitySql: String =
    """SELECT lang, count(*) AS n_docs,
      |  round(avg(len(list_distinct(string_split(text,' '))) * 1.0
      |            / len(string_split(text,' '))), 4) AS avg_uniq_ratio,
      |  round(avg((n_chars - len(string_split(text,' ')) + 1) * 1.0
      |            / len(string_split(text,' '))), 4) AS avg_tok_len,
      |  min(len(string_split(text,' '))) AS min_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------ language id
  /** Stopword-ratio language heuristic with a fixed English stopword list;
    * reports per-source mean ratio and the share of docs the heuristic
    * calls English. (Real n-gram models plug into the same shape.) */
  val langIdHeuristic: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("source"), col("lang"), toks.as("t"))
      .select(col("source"), col("lang"),
        (expr("count_in(t, 'the', 'a', 'of', 'and', 'in', 'to', 'is')").cast("double")
          / size(col("t"))).as("stop_ratio"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"),
        sum(when(col("stop_ratio") > 0.03, 1).otherwise(0)).cast("long").as("n_en_guess"))
      .orderBy(col("source"))
  }


  val langIdHeuristicSql: String =
    """SELECT source, count(*) AS n_docs,
      |  round(avg(stop_ratio), 4) AS avg_stop_ratio,
      |  CAST(sum(CASE WHEN stop_ratio > 0.03 THEN 1 ELSE 0 END) AS BIGINT) AS n_en_guess
      |FROM (
      |  SELECT source,
      |    len(list_filter(string_split(text,' '),
      |        x -> list_contains(['the','a','of','and','in','to','is'], x))) * 1.0
      |      / len(string_split(text,' ')) AS stop_ratio
      |  FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ fingerprint
  /** Per-document fingerprint = lexicographic min md5 of its 3-shingles
    * (a 1-permutation MinHash). Engine-independent by construction. */
  val docFingerprint: Q = (s, dir) => {
    shingleRows(t(s, dir, "documents"))
      .groupBy(col("doc_id"))
      .agg(min(md5(col("shingle"))).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val docFingerprintSql: String =
    s"""WITH $shingleCte
       |SELECT doc_id, min(md5(shingle)) AS fingerprint
       |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ exact jaccard
  /** Exact-Jaccard verification restricted to a candidate pair set:
    * shingle rows are semi-joined down to candidate endpoints, then
    * per-pair intersections are counted by a three-way join keyed on
    * (da, db, shingle) — the corpus-wide shingle self-join never
    * executes, and a hot shingle costs |candidate docs containing it|
    * join rows, not df² over the corpus. Shared by `minhash_near_dup`
    * (probabilistic candidates) and `ngram_jaccard_pairs` (lossless
    * prefix-filter candidates). */
  private def verifyJaccardPairs(docs: DataFrame, cand: DataFrame): DataFrame = {
    // ONE candidate-restriction pass (r21, guide §2.4/§3.1): the old form
    // semi-joined `docs` down to candidate endpoints separately inside
    // FOUR subtrees of the final plan — the shingle explode for each side
    // of the intersection join and each broadcast build of `sizes` — and
    // each semi planned as a SortMergeJoin (the checkpointed cand's
    // LogicalRDD size estimate defeats auto-broadcast), re-shuffling and
    // re-sorting the doc set four times (8 exchanges at sf0.1). Now the
    // endpoints' distinct-shingle ARRAYS are materialized once through a
    // single broadcast semi-join (candidate-endpoint-sized — the bound
    // broadcast(sizes) below already assumes): shingle rows are a
    // map-side explode of the checkpointed arrays, and per-doc sizes are
    // map-side size(sh) — the groupBy-count over exploded rows (one more
    // exchange, twice) is gone. Semantics identical: shingleRows explodes
    // exactly this distinct array, and docs under 3 tokens emit nothing
    // in either form.
    val candDocs = broadcast(cand.select(col("da").as("doc_id"))
      .union(cand.select(col("db").as("doc_id")))
      .distinct())
    val candShingles = Materialize(docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr(shingleArrayExpr).as("sh")))
    val shCand = candShingles.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val sizes = candShingles.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val inter = cand
      .join(shCand.as("a"), col("da") === col("a.doc_id"))
      .join(shCand.as("b"),
        col("db") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(broadcast(sizes).as("sa"), col("da") === col("sa.doc_id"))
      .join(broadcast(sizes).as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        round(col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("da"), col("db"))
  }

  /** Exact 3-shingle Jaccard near-dup pairs (threshold 0.8) via PREFIX
    * FILTERING (Chaudhuri/Ganti/Kaushik SSJoin 2006; Bayardo et al.
    * AllPairs 2007) — exact AND scale-correct, no corpus-wide shingle
    * self-join:
    *
    *  1. rank each doc's shingles in a global canonical order — document
    *     frequency ascending, shingle ascending (rarest first);
    *  2. keep only each doc's PREFIX, the first n − ⌈0.8·n⌉ + 1 = ⌊0.2n⌋+1
    *     shingles. Lemma: two sets with Jaccard ≥ t MUST share a prefix
    *     element under any common total order (their intersection is
    *     ≥ max(⌈t·na⌉, ⌈t·nb⌉), which exceeds what the suffixes can
    *     carry), so candidate generation is LOSSLESS — unlike LSH there
    *     are no false negatives, and the simple all-pairs oracle stays
    *     the spec;
    *  3. self-join only the prefixes (≈20% of shingle rows; rarest-first
    *     ordering keeps hot shingles out of prefixes, so inverted-index
    *     buckets stay small at 100 TB);
    *  4. exact-verify candidates through the shared candidate-restricted
    *     three-way join.
    *
    * The unfiltered all-pairs twin lives in [[ngramJaccardPairsAllPairs]]
    * (spec-only equivalence check at test scale). */
  val ngramJaccardPairs: Q = (s, dir) =>
    // r11: wrapped in the exact-dup collapse (see collapsedPairVerify —
    // losslessness makes the verified output transfer to member pairs);
    // cand stays tiny (one row per rep-level prefix collision) and is
    // materialized (graft.Materialize) inside the shared path
    collapsedPairVerify(t(s, dir, "documents"))(prefixJaccardCandidates)

  /** Lossless prefix-filter candidate pairs (da, db) — factored out
    * un-checkpointed so TextOpsSpec can assert the plan shape. */
  private[graft] def prefixJaccardCandidates(docs: DataFrame): DataFrame = {
    val sh = shingleRows(docs)
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = sh.join(df, "shingle")
      .withColumn("rn", row_number().over(
        wDoc.orderBy(col("df").asc, col("shingle").asc)))
      .withColumn("n", count(lit(1)).over(wDoc))
    // p = n − ⌈0.8n⌉ + 1, in exact integer arithmetic: ⌈0.8n⌉ = (4n+4) div 5
    // (integer `div`, not `/` — Spark's `/` on integers yields DOUBLE and
    // 0.8·n in binary floating point rounds the ceiling wrong, e.g. n=5)
    val prefix = ranked
      .filter(col("rn") <= col("n") - expr("(n * 4 + 4) div 5") + 1)
      .select(col("doc_id"), col("shingle"))
    prefix.as("x").join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** The naive all-pairs inverted-index join — test-scale verification
    * twin of [[ngramJaccardPairs]] (TextOpsSpec asserts set equality);
    * never registered as a gated key. */
  private[graft] val ngramJaccardPairsAllPairs: Q = (s, dir) => {
    val sh = shingleRows(t(s, dir, "documents"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(broadcast(sizes).as("sa"), col("da") === col("sa.doc_id"))
      .join(broadcast(sizes).as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        round(col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("da"), col("db"))
  }

  val ngramJaccardPairsSql: String =
    s"""WITH $shingleCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON da = sa.doc_id
       |JOIN sizes sb ON db = sb.doc_id
       |WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.8
       |ORDER BY da, db""".stripMargin

  // ------------------------------------------------------ MinHash + LSH
  /** MinHash signature (32 md5-derived permutations) + LSH banding
    * (8 bands × 4 rows) + exact-Jaccard verification of candidates.
    * The 100 TB plan: signatures are one narrow projection; the band
    * self-join shuffles only on 8 short bucket keys per doc, never on
    * raw shingles; verification is candidate-restricted — shingle rows
    * are semi-joined down to candidate endpoints, then intersections are
    * counted by a three-way join keyed on (da, db, shingle), so the
    * corpus-wide shingle self-join never executes and a hot shingle
    * costs |candidate docs containing it| join rows, not k² over the
    * corpus. `cand` seeds both the semi-join and the per-pair counts
    * (tiny: one row per confirmed LSH collision), so it is materialized
    * once via an eager graft.Materialize checkpoint — unlike persist(),
    * checkpoint blocks are GC-reclaimed with the DataFrame, so repeated
    * gate/spec runs don't accumulate session-lifetime cached copies.
    *
    * Permutation family (r10): DOUBLE HASHING — one md5 per shingle,
    * split into two 60-bit hex halves (h1, h2); permutation i is
    * h_i(s) = (h1 + i·h2′) mod 4294967291 with h2′ = h2 mod 1e9+7 so
    * i·h2′ never overflows a BIGINT — the classic (a + i·b) mod p
    * MinHash family. Replaces 32 md5 calls per shingle with ONE
    * (measured ~2.5× on the signature-dominated sf1 wall) and stays
    * oracle-checkable: DuckDB derives the identical integers via
    * ('0x' || substr(md5(s), …))::BIGINT — same lowercase md5 text,
    * same positive-mod arithmetic. */
  val minhashNearDup: Q = (s, dir) =>
    collapsedPairVerify(t(s, dir, "documents"))(minhashCandidates)

  /** EXACT-DUP COLLAPSE around a candidate-generate + Jaccard-verify
    * pipeline (r11) — the step every production dedup pipeline
    * (C4/Dolma/RefinedWeb) runs first, and the one that makes the
    * near-dup operators survive duplicate-heavy corpora: on a corpus
    * where a text has k verbatim copies, the copies have IDENTICAL
    * signatures/shingle sets, so every candidate generator pairs them
    * all and the candidate set grows as C(k,2) per group — the sf10
    * artifact (100 verbatim copies per doc) put ~30 M intra-group pairs
    * through the per-pair shingle-intersection join and killed the run.
    * The collapse verifies ONE representative per distinct text (md5
    * grouping key) and expands pairs back through the duplicate groups.
    *
    * Equivalence is exact, not approximate — by two different
    * arguments, one per caller:
    *  - `minhash_near_dup` (output = LSH candidates ∩ jaccard ≥ 0.8):
    *    the signature is a function of the text alone, so (a, b) is a
    *    candidate iff (rep(a), rep(b)) is, and jaccard(a, b) =
    *    jaccard(rep(a), rep(b)) — the candidate SET itself transfers.
    *  - `ngram_jaccard_pairs` (output = ALL jaccard ≥ 0.8 pairs; prefix
    *    filtering is lossless): the rep-level candidate set differs
    *    (document frequencies shift when copies collapse), but the
    *    lossless lemma holds under ANY canonical order, so the VERIFIED
    *    output — every ≥-threshold rep pair — transfers.
    * In both, an intra-group pair (identical text, ≥ 1 shingle) has
    * jaccard exactly 1.0 = n/(2n − n). Work on the quadratic stages
    * drops from corpus² to distinct-texts²; the expansion joins are
    * linear in the OUTPUT (itself the pair list the contract demands).
    * The oracles stay the naive corpus-wide spec — at gate scale both
    * forms agree row-for-row, and the duplicated-corpus specs in
    * TextOpsSpec pin full pair-set equality vs the all-pairs twin. */
  /** The shared exact-dup-collapse plumbing behind [[minhashNearDup]],
    * [[ngramJaccardPairs]] and [[ccDedupGroups]]: doc→rep mapping, the
    * verified rep-level near-dup pairs, and the shingle-eligible reps.
    * Everything returned is distinct-texts-sized except `mapping`
    * (corpus-sized but two-column). */
  private def collapsedVerified(docs: DataFrame)(
      candGen: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // doc → representative in ONE window-min shuffle on the digest (r21):
    // the old groupBy(h).min + keyed⋈reps join paid a second exchange for
    // the same information, and the UN-checkpointed mapping re-ran the
    // whole md5 scan + agg + join once per consumer — the pair-expansion
    // joins use it twice, the intra-group emit a third time, and
    // cc_dedup_groups twice more (4 corpus scans measured at sf0.1 in
    // the executed plan). Checkpointing is the r11 normedPinned rule
    // applied here: a NARROW (16 B/row) corpus projection is exactly
    // what you materialize; at 10⁹ docs it is ~16 GB across the cluster.
    val mapping = Materialize(docs
      .select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(unhex(md5(col("text"))))).as("rep")))
    // repDocs is CHECKPOINTED like cand: it is distinct-texts-sized
    // (tiny by the collapse's own premise) but its lineage scans the
    // full corpus — its three consumers (candidates, verify,
    // eligibleReps) would otherwise each re-run that scan (measured at
    // sf100: two twin 63 s full-scan stages for 5 k rows of output —
    // 40% of the key's wall re-deriving the same frame)
    val repDocs = Materialize(docs.join(
      mapping.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    val cand = Materialize(candGen(repDocs))
    // exact verify on candidates ONLY (shared candidate-restricted path),
    // representatives only — the quadratic stage runs on distinct texts
    val verified = verifyJaccardPairs(repDocs, cand)
    val eligibleReps = repDocs.select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3).select(col("doc_id").as("erep"))
    (mapping, verified, eligibleReps)
  }

  private def collapsedPairVerify(docs: DataFrame)(
      candGen: DataFrame => DataFrame): DataFrame = {
    val (mapping, verified, eligibleReps) = collapsedVerified(docs)(candGen)
    // inter-group expansion: every (member-of-da, member-of-db) pair
    // inherits the verified rep pair's jaccard; least/greatest restores
    // the da < db contract (group members interleave arbitrarily)
    val interG = verified
      .join(mapping.as("ma"), col("da") === col("ma.rep"))
      .join(mapping.as("mb"), col("db") === col("mb.rep"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("da"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("db"), col("jaccard"))
    // intra-group pairs: identical text with ≥ 1 shingle ⇒ jaccard 1.0
    // exactly (c = n on both sides; docs under 3 tokens produce no
    // shingle rows and never reach the verify joins — excluded here by
    // the same size(toks) ≥ 3 condition, via eligibleReps).
    //
    // Emitted GROUP-LOCALLY, not by a mapping⋈mapping self-join (r18):
    // the pair list is O(Σ k²) by contract — at sf100's 1000×
    // duplication that is 2.5 B rows, and the SMJ form paid ~1.2 µs per
    // pair buffering each hot group's row block plus the skew of whole
    // groups landing on single tasks. Collapsing to one sorted
    // member-list row per group (distinct-texts-sized, the collapse's
    // own premise) and double-exploding i<j pairs is a pure map-side
    // combinatorial emit: no join, no per-pair buffering.
    //
    // Skew posture (r18 ADVICE — the earlier comment overclaimed): the
    // repartition below is keyed by rep, so ONE dominant duplicate
    // group's whole O(k²) emit still runs on a single task — the width
    // only spreads the group MIX. Re-keying by (rep, i) after the
    // posexplode would spread a mega-group but ships the full O(k)
    // member list with every exploded row (O(k²) shuffle bytes for
    // exactly the group being rescued); at the observed duplication
    // profile (max group ≈ thousands) the single-task emit is µs-scale
    // and the re-key would cost more than it saves. Revisit only if a
    // corpus ships a group with k in the millions.
    //
    // explicit-width spread before the emit: the grouped lists are a
    // few MB, so AQE's byte-based coalesce squeezes them onto a handful
    // of tasks and the O(Σ k²) emit runs ~17-wide on 32 cores (measured
    // 119 s wall at 40 s of ideal CPU). An explicit-count repartition is
    // exempt from AQE coalescing; 4× cores gives the per-task group
    // mix room to even out.
    val emitWidth = mapping.sparkSession.sparkContext.defaultParallelism * 4
    val intraG = mapping.groupBy(col("rep"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .join(eligibleReps, col("rep") === col("erep"), "left_semi")
      .filter(size(col("ms")) >= 2)
      .repartition(emitWidth, col("rep"))
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "da")))
      .select(col("da"), explode(expr("slice(ms, i + 2, size(ms))")).as("db"),
        lit(1.0).as("jaccard"))
    interG.unionByName(intraG).orderBy(col("da"), col("db"))
  }

  /** MinHash LSH candidate pairs (da, db) — factored out un-checkpointed
    * so PlanShapeSpec can assert the plan shape (one md5 pass, banded
    * bucket join, no cartesian). */
  /** The 3-gram distinct-shingle array over a token array column `t` —
    * the Spark twin of [[shingleCte]]'s `sh` (streaming near-dedup and
    * the batch candidates must share it; a drifted copy would let the
    * two pipelines hash different shingle sets). */
  private[graft] val shingleArrayExpr: String =
    "array_distinct(transform(sequence(0, size(t)-3), " +
      "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))"

  /** The 32-permutation (h1 + i·h2) mod p MinHash fold over a
    * distinct-shingle array column `sh` (see the family note at
    * [[minhashNearDup]]); ONE aggregate() so the md5/conv pass
    * evaluates once per row. Shared by batch candidates and the
    * streaming near-dedup filter. */
  private[graft] val minhashSigFoldExpr: String =
    """aggregate(
      |  transform(transform(sh, s -> md5(s)), m -> named_struct(
      |    'h1', CAST(conv(substring(m, 1, 15), 16, 10) AS BIGINT),
      |    'h2', CAST(conv(substring(m, 17, 15), 16, 10) AS BIGINT) % 1000000007)),
      |  array_repeat(CAST(4294967291 AS BIGINT), 32),
      |  (acc, h) -> zip_with(acc, sequence(0, 31),
      |    (a, i) -> least(a, (h.h1 + i * h.h2) % 4294967291)))"""
      .stripMargin

  /** 8 LSH band keys (4 signature rows each) over a `sig` column. */
  private[graft] val bandKeysExpr: String =
    "transform(sequence(0, 7), b -> concat_ws('|', b, " +
      "sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3]))"

  private[graft] def minhashCandidates(docs: DataFrame): DataFrame = {
    // signature: array of 32 min-hashes per doc — 1 md5 + 32 affine maps
    val sigs = docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr(shingleArrayExpr).as("sh"))
      // ONE expression: a fold over the shingle hashes updating all 32
      // mins per step. Shape matters — a two-select version (hs in one
      // projection, per-i transform over it in the next) gets COLLAPSED
      // by Catalyst, inlining the md5/conv array into the per-i lambda
      // and re-evaluating it 32× per row (measured 1.5× SLOWER than the
      // 32-md5 form it replaced). aggregate() evaluates its input array
      // exactly once per row, so the md5+conv pass stays single.
      .select(col("doc_id"), expr(minhashSigFoldExpr).as("sig"))
    // bands: 8 buckets of 4 signature entries each
    val bands = sigs.select(col("doc_id"),
      posexplode(expr(bandKeysExpr)).as(Seq("band", "bucket")))
    bands.as("x").join(bands.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  val minhashNearDupSql: String =
    s"""WITH $shingleCte,
       |$minhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM bands x JOIN bands y
       |    ON x.bucket = y.bucket AND x.band = y.band AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.da, i.db, round(i.c * 1.0 / (sa.n + sb.n - i.c), 4) AS jaccard
       |FROM cand JOIN inter i ON cand.da = i.da AND cand.db = i.db
       |JOIN sizes sa ON i.da = sa.doc_id
       |JOIN sizes sb ON i.db = sb.doc_id
       |WHERE round(i.c * 1.0 / (sa.n + sb.n - i.c), 4) >= 0.8
       |ORDER BY i.da, i.db""".stripMargin

  // ------------------------------------- connected-component dedup groups
  /** Corpus-level near-duplicate clustering: the MinHash-LSH verified
    * pairs (jaccard ≥ 0.8) are edges of a duplicate graph; connected
    * components collapse transitive chains (A≈B, B≈C ⇒ {A,B,C} is ONE
    * cluster) and the min doc_id per component is kept as canonical —
    * the RefinedWeb/SlimPajama dedup shape. Emits one row per clustered
    * doc: (component, doc_id, keep).
    *
    * Scale (r18 rewrite): CC runs on the REP-LEVEL verified edges, not
    * the expanded pair list — the previous form fed GraphCC the full
    * minhashNearDup output, whose intra-group cliques are O(Σ k²)
    * (2.5 B edges at sf100's 1000× duplication), making the
    * groups-shaped key strictly MORE expensive than the pair key it
    * exists to replace. Equivalence is exact: each duplicate group is a
    * clique, so components of the expanded graph = components of the
    * rep graph plus whole-group membership, and the component id (min
    * reachable doc_id) equals GraphCC's min-rep id because every rep IS
    * its group's min doc_id. Multi-member shingle-eligible groups with
    * no near-dup edge cluster on their own rep (the intra clique). The
    * whole pipeline is corpus-linear: tiny edge set into
    * [[graft.plans.GraphCC]], then ONE mapping join expands components
    * to members — output-bound, no pair materialization.
    * Measured sf100: 2.5 B-edge form ≈ the 155 s pair key + CC rounds
    * on 2.5 B edges; this form emits 5 M rows in the time of the
    * verify pipeline itself (see BASELINE.md round-18). */
  val ccDedupGroups: Q = (s, dir) => ccDedupGroupsOver(t(s, dir, "documents"))

  private[graft] def ccDedupGroupsOver(docs: DataFrame): DataFrame = {
    val (mapping, verified, eligibleReps) =
      collapsedVerified(docs)(minhashCandidates)
    val repComp = graft.plans.GraphCC.components(
        verified.select(col("da"), col("db")))
      .select(col("node").as("rep"), col("comp"))
    // exact-dup groups (≥2 members, shingle-eligible) cluster even with
    // no near-dup edge; their component is the rep itself unless the
    // rep already sits in a near-dup component
    val isolated = mapping.groupBy(col("rep")).agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2).select(col("rep"))
      .join(eligibleReps, col("rep") === col("erep"), "left_semi")
      .join(repComp, Seq("rep"), "left_anti")
      .select(col("rep"), col("rep").as("comp"))
    val clusterReps = repComp.unionByName(isolated)
    mapping.join(clusterReps, Seq("rep"))
      .select(col("comp").as("component"), col("doc_id"),
        (col("doc_id") === col("comp")).as("keep"))
      .orderBy(col("component"), col("doc_id"))
  }

  /** DuckDB twin: same pair pipeline, then components via a recursive
    * reachability CTE (min reachable id = component id). */
  val ccDedupGroupsSql: String =
    s"""WITH RECURSIVE $shingleCte,
       |$minhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM bands x JOIN bands y
       |    ON x.bucket = y.bucket AND x.band = y.band AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i.da, i.db
       |  FROM cand JOIN inter i ON cand.da = i.da AND cand.db = i.db
       |  JOIN sizes sa ON i.da = sa.doc_id
       |  JOIN sizes sb ON i.db = sb.doc_id
       |  WHERE round(i.c * 1.0 / (sa.n + sb.n - i.c), 4) >= 0.8),
       |edges AS (
       |  SELECT da AS a, db AS b FROM pairs
       |  UNION ALL SELECT db, da FROM pairs),
       |walk AS (
       |  SELECT a AS node, a AS reach FROM edges
       |  UNION
       |  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach),
       |cc AS (SELECT node, min(reach) AS component FROM walk GROUP BY node)
       |SELECT CAST(component AS BIGINT) AS component,
       |  CAST(node AS BIGINT) AS doc_id, node = component AS keep
       |FROM cc ORDER BY component, doc_id""".stripMargin

  // ------------------------------------------------------ SimHash
  /** 32-bit SimHash per document from token md5s, grouped into buckets —
    * duplicate-cluster counting. Bit j of the simhash is the sign of the
    * sum over tokens of (bit j of md5(token) ? +tf : -tf).
    * Hash-checked against DuckDB: the hex→int parse is strpos arithmetic
    * and the bit tests are DuckDB's native `>>`/`&`/`<<`, so the whole
    * signature is engine-independent (ties v=0 land on bit 0 both
    * sides). */
  val simhashBuckets: Q = (s, dir) => {
    val sims = simhashOf(t(s, dir, "documents"))
    sims.groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("simhash"))
  }

  val simhashBucketsSql: String =
    """WITH tf AS (
      |  SELECT doc_id, t.term, count(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents) t(doc_id, term)
      |  GROUP BY 1, 2),
      |hx AS (
      |  SELECT doc_id, tf,
      |    (SELECT sum((strpos('0123456789abcdef', substr(md5(term), k, 1)) - 1)
      |                * (1::BIGINT << (4 * (8 - k))))
      |     FROM (SELECT unnest(range(1, 9)) AS k))::BIGINT AS h
      |  FROM tf),
      |bits AS (
      |  SELECT doc_id, j.j,
      |    sum(CASE WHEN ((h >> j.j) & 1) = 1 THEN tf ELSE -tf END) AS v
      |  FROM hx CROSS JOIN (SELECT unnest(range(0, 32)) AS j) j
      |  GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
      |  FROM bits GROUP BY 1)
      |SELECT simhash, count(*)::BIGINT AS n_docs, min(doc_id) AS min_doc
      |FROM sh GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin

  /** (doc_id, simhash) for every document — exposed for the spec. */
  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    val tokenBits = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // 32-bit int from the first 8 hex chars of md5(term)
      .withColumn("h", conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"))
    val withBits = tokenBits.select(col("doc_id"), col("tf"),
      posexplode(expr("transform(sequence(0, 31), j -> CASE WHEN (shiftright(h, j) % 2) = 1 THEN tf ELSE -tf END)"))
        .as(Seq("j", "contrib")))
    withBits
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("contrib")).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, expr("shiftleft(1L, j)")).otherwise(0L)).as("simhash"))
  }

  // --------------------------------------------- repetition filtering
  /** Gopher-style repetition filters: per doc the top-term frequency
    * ratio (max tf / n_tokens) and the duplicate-bigram fraction
    * (1 − distinct/total bigrams); a doc is flagged when either exceeds
    * its threshold (0.2 / 0.1 — calibrated so the synthetic corpus
    * flags a real subset). Per-source accounting with max statistics —
    * maxima of per-doc ROUNDED rationals, never round(avg(..)), per the
    * float-determinism playbook. All ratios are int/int divisions, so
    * both engines compute identical doubles. One explode + two doc-key
    * aggregates; no joins beyond doc id. */
  val repetitionStats: Q = (s, dir) => {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), toks.as("t"))
      .filter(size(col("t")) >= 2)
    val perDoc = base
      .select(col("doc_id"), col("source"), size(col("t")).as("n"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("source"), col("n"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"), col("n"))
      .agg(max(col("c")).as("maxtf"))
    val bigrams = base.select(col("doc_id"),
        expr("transform(sequence(0, size(t)-2), i -> concat_ws(' ', t[i], t[i+1]))").as("bgs"))
      .select(col("doc_id"), size(col("bgs")).as("nb"),
        size(array_distinct(col("bgs"))).as("ndb"))
    perDoc.join(bigrams, "doc_id")
      .select(col("source"),
        round(col("maxtf").cast("double") / col("n"), 4).as("ttr"),
        round(lit(1.0) - col("ndb").cast("double") / col("nb"), 4).as("dbf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ttr") >= 0.2 || col("dbf") >= 0.1, 1L).otherwise(0L)).as("n_flagged"),
        max(col("ttr")).as("max_top_tf"),
        max(col("dbf")).as("max_dup_bigram"))
      .orderBy(col("source"))
  }

  val repetitionStatsSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |tf AS (
      |  SELECT doc_id, source, len(t) AS n, u.term, count(*) AS c
      |  FROM (SELECT doc_id, source, t, unnest(t) AS term FROM base) u(doc_id, source, t, term)
      |  GROUP BY 1, 2, 3, 4),
      |pd AS (SELECT doc_id, source, n, max(c) AS maxtf FROM tf GROUP BY 1, 2, 3),
      |bg AS (
      |  SELECT doc_id, len(t) - 1 AS nb,
      |    len(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS ndb
      |  FROM base),
      |fr AS (
      |  SELECT pd.source, round(maxtf::DOUBLE / n, 4) AS ttr,
      |    round(1.0 - ndb::DOUBLE / nb, 4) AS dbf
      |  FROM pd JOIN bg USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ttr >= 0.2 OR dbf >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  max(ttr) AS max_top_tf, max(dbf) AS max_dup_bigram
      |FROM fr GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ deterministic split
  /** Reproducible train/val/test split: bucket = first md5 byte of the
    * doc id (0..255), train < 204 (~80%), val < 230 (~10%), test rest.
    * Hash splitting beats seeded sampling for a training pipeline —
    * membership is a pure function of the id, so re-runs, backfills and
    * incremental ingest land every doc in the same split with zero
    * coordination state. One narrow pass + a 3-key aggregate. */
  val datasetSplit: Q = (s, dir) => {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    t(s, dir, "documents")
      .withColumn("b", h)
      .withColumn("split",
        when(col("b") < 204, "train").when(col("b") < 230, "val").otherwise("test"))
      .withColumn("n_tok", size(toks))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"))
      .orderBy(col("split"))
  }

  val datasetSplitSql: String =
    """WITH b AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
      |    (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 2, 1)) - 1 AS h
      |  FROM documents)
      |SELECT CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- shard shuffle/write
  /** Deterministic global shuffle into training shards — the final step
    * of every dataset build: shard = md5-derived hash of doc_id mod 8,
    * within-shard order = the md5 string itself (a reproducible
    * permutation uncorrelated with doc order — "shuffled" in the
    * training sense without rand()'s retry nondeterminism). The gate
    * reduces each shard to (count, byte budget, and the FIRST doc in
    * shard order) so a shard-assignment or ordering defect breaks the
    * hash. At 100 TB this is `repartition(shard)` + per-partition sort →
    * one write pass; shard membership being a pure function of the key
    * makes re-runs and backfills land docs in the same shard. */
  val shuffleShards: Q = (s, dir) => {
    val md5s = md5(col("doc_id").cast("string"))
    t(s, dir, "documents")
      .withColumn("h", md5s)
      .withColumn("shard",
        (conv(substring(col("h"), 1, 1), 16, 10).cast("int") % 8).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min_by(col("doc_id"), col("h")).as("first_doc"))
      .orderBy(col("shard"))
  }

  val shuffleShardsSql: String =
    """WITH b AS (
      |  SELECT doc_id, n_chars, md5(doc_id::VARCHAR) AS h,
      |    (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1) % 8 AS shard
      |  FROM documents)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  arg_min(doc_id, h) AS first_doc
      |FROM b GROUP BY shard ORDER BY shard""".stripMargin

  // ------------------------------------------------- stratified sampling
  /** Domain-rebalancing sampler: each SOURCE samples at its own
    * deterministic hash rate (even-numbered sources keep ~50%, odd ~25%
    * — in a real pipeline the per-domain rate vector comes from the
    * corpus-mix spec). Membership is a pure function of doc_id, so the
    * sample is stable across re-runs/backfills and pushes down to the
    * scan as an ordinary filter — no per-stratum shuffling or state. */
  val stratifiedSample: Q = (s, dir) => {
    val thr = when(expr("CAST(substring(source, 4) AS INT) % 2 = 0"),
      lit("80")).otherwise(lit("40"))
    t(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < thr)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN '80' ELSE '40' END
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- mixture weighting
  /** Data mixing with per-domain EPOCH weights — the "repeat wikipedia
    * 2.5×" stage of published LLM data recipes (mixture tables à la
    * GPT-3/Llama): weight w emits ⌊w⌋ full copies of every doc plus the
    * fractional remainder as a deterministic md5-membership sample, so
    * a 2.5× domain yields 2 copies of every doc and a third copy of a
    * hash-selected half. Downstream packing/shuffling treats copies as
    * independent docs (the copy index is carried for seed-style
    * variation). Weights here: src0→2.5, odd sources→1.0, other even
    * sources→0.5 — exercising the up-sample, identity, and down-sample
    * paths at once. The membership test is the same hex-threshold
    * idiom as [[stratifiedSample]] ('80' = exactly half the 256 2-hex
    * space), salted with '#mix' so the two samples are independent.
    *
    * 100 TB design: map-only — a weight lookup, one md5, and a bounded
    * explode per row; no shuffle at all (the output order-by is the
    * gate's, not the operator's). Fractional sampling by content hash
    * keeps reruns and incremental batches consistent without any RNG
    * state. */
  val mixtureWeightedRepeat: Q = (s, dir) => {
    val srcN = expr("CAST(substring(source, 4) AS INT)")
    val extra = (substring(md5(concat(col("doc_id").cast("string"), lit("#mix"))), 1, 2)
      < "80").cast("int")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("copies",
        when(srcN === 0, lit(2) + extra)
          .when(srcN % 2 === 1, lit(1))
          .otherwise(extra))
      .filter(col("copies") > 0) // sequence(0, -1) DESCENDS — never build it
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(0, copies - 1)")).as("copy"))
      .orderBy(col("doc_id"), col("copy"))
  }

  val mixtureWeightedRepeatSql: String =
    """WITH c AS (
      |  SELECT doc_id, source,
      |    CASE WHEN CAST(substr(source, 4) AS INT) = 0 THEN 2 + x
      |         WHEN CAST(substr(source, 4) AS INT) % 2 = 1 THEN 1
      |         ELSE x END AS copies
      |  FROM (SELECT doc_id, source,
      |          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 2)
      |                    < '80' THEN 1 ELSE 0 END AS x
      |        FROM documents))
      |SELECT doc_id, source, CAST(unnest(range(0, copies)) AS INT) AS copy
      |FROM c WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin

  // ------------------------------------------------- relative quality gate
  /** Per-stratum relative quality gate: keep each source's TOP HALF by
    * length (percent_rank ≥ 0.5 over (source, n_chars, doc_id)) — the
    * "best-k% of every domain" filter quality pipelines apply so weak
    * domains aren't wiped out by a global threshold. percent_rank is an
    * exact rational of integer ranks, so the oracle hash-matches; the
    * per-source window state is one sort of that source's rows (bounded
    * per stratum; at 100 TB source is the partition key it would
    * already be bucketed by). */
  val qualityGateStratified: Q = (s, dir) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    t(s, dir, "documents")
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("n_chars")).as("min_kept_chars"),
        sum(col("n_chars")).as("sum_kept_chars"))
      .orderBy(col("source"))
  }

  val qualityGateStratifiedSql: String =
    """WITH pr AS (
      |  SELECT source, doc_id, n_chars,
      |    percent_rank() OVER (PARTITION BY source
      |                         ORDER BY n_chars, doc_id) AS pr
      |  FROM documents)
      |SELECT source, count(*) AS n_kept, min(n_chars) AS min_kept_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_kept_chars
      |FROM pr WHERE pr >= 0.5 GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- decontamination
  /** Benchmark decontamination: treat source 'src0' as the held-out
    * eval set; for every other doc, the fraction of its distinct
    * 3-shingles that appear anywhere in the eval set. A doc with
    * overlap ≥ 0.5 is contaminated (the synthetic corpus really
    * contains cross-source near-copies, so the gate is non-vacuous at
    * every sf). Emits per-source accounting.
    *
    * Scale: the eval set is tiny relative to the corpus (benchmarks
    * always are), so its distinct-shingle set BROADCASTS and the
    * corpus-side check is one zero-shuffle hash probe per shingle row
    * followed by a doc-key aggregate — the corpus never self-joins. */
  val contaminationCheck: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val sh = shingleRows(docs).join(docs.select(col("doc_id"), col("source")), "doc_id")
    val ev = sh.filter(col("source") === "src0").select(col("shingle")).distinct()
    val corpus = sh.filter(col("source") =!= "src0")
    val sizes = corpus.groupBy(col("doc_id"), col("source")).agg(count(lit(1)).as("n"))
    val hits = corpus.join(broadcast(ev), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    sizes.join(hits, Seq("doc_id"), "left")
      .withColumn("frac",
        round(coalesce(col("n_shared"), lit(0L)).cast("double") / col("n"), 4))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("frac") >= 0.5, 1L).otherwise(0L)).as("n_contaminated"),
        max(col("frac")).as("max_overlap"))
      .orderBy(col("source"))
  }

  val contaminationCheckSql: String =
    s"""WITH $shingleCte,
       |shs AS (SELECT sh.doc_id, source, shingle FROM sh JOIN documents USING (doc_id)),
       |ev AS (SELECT DISTINCT shingle FROM shs WHERE source = 'src0'),
       |corpus AS (SELECT doc_id, source, shingle FROM shs WHERE source <> 'src0'),
       |sizes AS (SELECT doc_id, source, count(*) AS n FROM corpus GROUP BY 1, 2),
       |hits AS (SELECT c.doc_id, count(*) AS n_shared FROM corpus c JOIN ev USING (shingle) GROUP BY 1),
       |fr AS (
       |  SELECT sizes.source, round(coalesce(n_shared, 0) * 1.0 / n, 4) AS frac
       |  FROM sizes LEFT JOIN hits USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN frac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |  max(frac) AS max_overlap
       |FROM fr GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ full pipeline
  /** End-to-end training-data pipeline in ONE dataflow: exact dedup
    * (keep-first) → quality gate (vocabulary uniqueness + min length) →
    * per-language corpus accounting. The shape a real 100 TB curation job
    * takes: each stage is a narrow transform or one shuffle, and the
    * whole chain is a single Catalyst plan (no intermediate
    * materialization). */
  val pipelineTrainingData: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val byHash = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val kept = docs
      .withColumn("h", unhex(md5(col("text"))))
      .withColumn("rn", row_number().over(byHash))
      .filter(col("rn") === 1)
    val scored = kept
      .withColumn("tk", toks)
      .withColumn("n_tok", size(col("tk")))
      .withColumn("uniq_ratio", size(array_distinct(col("tk"))).cast("double") / col("n_tok"))
      .filter(col("n_tok") >= 20 && col("uniq_ratio") >= 0.25)
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("token_budget"),
        round(avg(col("uniq_ratio")), 4).as("avg_uniq"))
      .orderBy(col("lang"))
  }

  val pipelineTrainingDataSql: String =
    """WITH kept AS (
      |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents QUALIFY rn = 1),
      |scored AS (
      |  SELECT lang,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_distinct(string_split(text, ' '))) * 1.0
      |      / len(string_split(text, ' ')) AS uniq_ratio
      |  FROM kept)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS token_budget,
      |  round(avg(uniq_ratio), 4) AS avg_uniq
      |FROM scored
      |WHERE n_tok >= 20 AND uniq_ratio >= 0.25
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------ regex tokens
  /** Regex (BPE-ish) tokenizer stats: alpha runs only, per source — the
    * non-whitespace tokenization path (`split` with a regex class). */
  val regexTokenStats: Q = (s, dir) => {
    val toksRe = expr("filter(split(text, '[^a-z]+'), t -> t != '')")
    t(s, dir, "documents")
      .select(col("source"), toksRe.as("tk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("tk"))).cast("long").as("n_tokens"),
        sum(size(array_distinct(col("tk")))).cast("long").as("n_distinct_sum"))
      .orderBy(col("source"))
  }

  val regexTokenStatsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(list_filter(string_split_regex(text, '[^a-z]+'), t -> t != ''))) AS BIGINT) AS n_tokens,
      |  CAST(sum(len(list_distinct(list_filter(string_split_regex(text, '[^a-z]+'), t -> t != '')))) AS BIGINT) AS n_distinct_sum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ native aggregate
  /** Per-document MinHash signatures via the custom
    * TypedImperativeAggregate (graft.functions.MinHashSig): one narrow
    * partial-mergeable aggregation over shingle rows — demonstrates the
    * aggregate-over-exploded-shingles shape. Uses MinHashSig's
    * md5-per-permutation family (NOT interchangeable with
    * minhash_near_dup's double-hash family — see MinHashSig scaladoc).
    * Oracle reproduces the md5 permutation hashes in SQL. */
  val minhashSignatures: Q = (s, dir) => {
    shingleRows(t(s, dir, "documents"))
      .groupBy(col("doc_id"))
      .agg(concat_ws("|", expr("minhash_sig(shingle)")).as("sig"))
      .orderBy(col("doc_id"))
  }

  val minhashSignaturesSql: String =
    s"""WITH $shingleCte
       |SELECT doc_id, string_agg(h, '|' ORDER BY i) AS sig FROM (
       |  SELECT doc_id, i, min(substr(md5(i || ':' || shingle), 1, 8)) AS h
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
       |  GROUP BY doc_id, i)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ incremental dedup
  /** Snapshot-incremental dedup: a new crawl batch (here: doc_id ≥ 400)
    * is deduplicated against the already-ingested corpus (doc_id < 400)
    * by content digest — LEFT ANTI join on md5(text) — then within-batch
    * dups collapse to the min doc_id. This is how a 100 TB corpus grows:
    * the existing side is a narrow (digest) projection readable from a
    * dedup index table, the anti-join shuffles on the 16-byte digest
    * only, and the batch side is small relative to the corpus — at real
    * scale the digest index is bucketed by digest so the anti-join is
    * shuffle-free on the corpus side. */
  val incrementalDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val existing = docs.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("h")).distinct()
    val batch = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), md5(col("text")).as("h"))
    batch.join(existing, Seq("h"), "left_anti")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .select(col("keep_id"), col("n_batch_copies"))
      .orderBy(col("keep_id"))
  }

  val incrementalDedupSql: String =
    """WITH existing AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400),
      |batch AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400)
      |SELECT min(doc_id) AS keep_id, count(*) AS n_batch_copies
      |FROM batch WHERE h NOT IN (SELECT h FROM existing)
      |GROUP BY h ORDER BY keep_id""".stripMargin

  // ------------------------------------- incremental dedup, Bloom-gated
  /** The 100 TB shape of [[incrementalDedup]]: a Bloom-style prefilter
    * in front of the exact anti-join. The probe is the corpus digests'
    * 24-bit PREFIX set — bounded at ≤ 2²⁴ rows (≈ 2 MB broadcast)
    * regardless of corpus size, i.e. a one-hash Bloom filter
    * materialized as a broadcastable set. Batch rows whose prefix
    * misses the set are DEFINITELY new (a Bloom negative is exact) and
    * skip the full-digest join entirely; only prefix hits pay the exact
    * anti-join, which resolves the false positives. The filter changes
    * the PLAN, not the answer — output is row-identical to
    * incremental_dedup (spec-pinned). At real scale the corpus digest
    * index is PARTITIONED by the same prefix, so the verify join reads
    * only the partitions the surviving batch prefixes name — the
    * dedup-index twin of dynamic partition pruning. */
  val incrementalDedupBloom: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val existing = docs.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("h")).distinct()
    val prefixes = existing.select(substring(col("h"), 1, 6).as("p")).distinct()
    val batch = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("p", substring(col("h"), 1, 6))
    val definiteNew = batch.join(broadcast(prefixes), Seq("p"), "left_anti")
    val maybeDup = batch.join(broadcast(prefixes), Seq("p"), "left_semi")
    val verifiedNew = maybeDup.join(existing, Seq("h"), "left_anti")
    definiteNew.select("doc_id", "h").unionByName(verifiedNew.select("doc_id", "h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .select(col("keep_id"), col("n_batch_copies"))
      .orderBy(col("keep_id"))
  }

  /** Oracle = the naive incremental-dedup spec: the Bloom stage is a
    * plan-level optimization with an exactness proof, so the SQL twin is
    * the same anti-join the un-gated operator oracles against. */
  val incrementalDedupBloomSql: String = incrementalDedupSql

  // ------------------------------- incremental NEAR-dup vs sig index
  /** Snapshot-incremental NEAR-duplicate dedup (r13 — the fuzzy twin of
    * [[incrementalDedup]], and the batch twin of the streaming
    * `stream_near_dedup`): a new crawl batch (doc_id ≥ 400) is checked
    * against the existing corpus's SIGNATURE INDEX — the narrow
    * (doc_id, sig[32], band buckets) projection a real lake PERSISTS
    * (~300 B/doc). In the gate the index is derived inline from the
    * corpus half (the testdata has no pre-built index table); from the
    * `banded(index)` relation onward the plan is exactly the
    * production shape, where that relation is a bucket-partitioned
    * parquet read and the corpus text is never touched. A batch doc is
    * dropped iff some indexed doc shares an LSH band bucket with
    * signature agreement ≥ 26/32 (≈ estimated jaccard 0.8 — the same
    * verifier as the stream, where exact shingle re-verification would
    * need corpus text).
    *
    * 100 TB shape: both sides explode to 8 bucket rows and meet in ONE
    * equi-join on (band, bucket) — the index side is bucket-partitioned
    * at rest, so only colliding buckets shuffle; the agreement check is
    * a flat 32-element fold over the two carried signatures (codegen,
    * no nested HOF). Never all-pairs, never a text read. */
  /** Per-doc MinHash signatures of a documents slice (docs under 3
    * tokens carry no signature and are excluded — they can never
    * near-dup collide). */
  private[graft] def nearDupSigs(part: DataFrame): DataFrame = part
    .select(col("doc_id"), col("source"), toks.as("t"))
    .filter(size(col("t")) >= 3)
    .select(col("doc_id"), col("source"), expr(shingleArrayExpr).as("sh"))
    .select(col("doc_id"), col("source"), expr(minhashSigFoldExpr).as("sig"))

  /** Explode a sig-carrying frame to its 8 LSH (band, bucket) rows;
    * every other column passes through. */
  private[graft] def nearDupBand(sigs: DataFrame): DataFrame = sigs
    .select(col("*"), posexplode(expr(bandKeysExpr)).as(Seq("band", "bucket")))

  /** ≥ 26/32 signature agreement (≈ estimated jaccard 0.8) between the
    * probing `sig` and the indexed `idx_sig` — a flat codegen fold. */
  private[graft] val sigAgreeExpr: String =
    "aggregate(zip_with(sig, idx_sig, (a, b) -> IF(a = b, 1, 0)), " +
      "0, (acc, x) -> acc + x) >= 26"

  /** Batch doc_ids that near-dup-collide with the signature index —
    * with the exact-dup SKEW GUARD (r13/r14 judge item) on BOTH join
    * inputs: the batch collapses to ONE representative row per DISTINCT
    * signature (carrying its member doc_id list), the index collapses
    * to distinct signatures, so a duplicated batch meeting a duplicated
    * index lands ONE row × ONE row on the (band, bucket) reducer
    * instead of batch_k × index_k — the quadratic blow-up that killed
    * the pre-collapse batch near-dup at sf10. Exactness: the signature
    * is a function of the text alone, banding a function of the
    * signature, and the verdict depends only on the (sig, idx_sig)
    * pair — so every member doc inherits its representative's verdict,
    * and index duplicates add no new buckets. TextOpsSpec pins equality
    * against the unguarded join on a duplicated-batch fixture.
    *
    * `batchSigs`: (doc_id, sig); `idxBanded`: (band, bucket, idx_sig)
    * — possibly with duplicates and extra columns; returns distinct
    * collided `doc_id`s. */
  private[graft] def nearDupCollidedIds(batchSigs: DataFrame,
      idxBanded: DataFrame): DataFrame = {
    val groups = batchSigs.groupBy(col("sig"))
      .agg(collect_list(col("doc_id")).as("ids"))
    val idxD = idxBanded.select("band", "bucket", "idx_sig").distinct()
    nearDupBand(groups).join(idxD, Seq("band", "bucket"))
      .filter(expr(sigAgreeExpr))
      // a representative colliding in several bands repeats the SAME
      // ids array — distinct collapses those copies; each batch doc
      // lives in exactly one sig group, so no further dedup is needed
      .select(col("ids")).distinct()
      .select(explode(col("ids")).as("doc_id"))
  }

  /** Per-source keep/drop roll-up over the batch half. */
  private def nearDupRollup(docs: DataFrame, collided: DataFrame): DataFrame =
    docs.filter(col("doc_id") >= 400)
      .join(collided.withColumn("hit", lit(true)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy(col("source"))

  val incrementalNearDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val idxB = nearDupBand(
      nearDupSigs(docs.filter(col("doc_id") < 400)).select("sig").distinct())
      .withColumnRenamed("sig", "idx_sig")
    val collided = nearDupCollidedIds(
      nearDupSigs(docs.filter(col("doc_id") >= 400)).select("doc_id", "sig"),
      idxB)
    nearDupRollup(docs, collided)
  }

  /** Scratch path for the PERSISTED index — keyed by sf dir AND query
    * name so concurrent suites over different sf dirs never share a
    * store. */
  private[graft] def sigIndexPath(dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sig_index_${math.abs(dir.hashCode)}").toString

  /** The PERSISTED-index variant of [[incrementalNearDedup]] (r13 task
    * #2): the signature index is a real bucket-partitioned parquet
    * artifact with an append lifecycle, not an inline derivation —
    * see [[graft.sources.SigIndex]] for the layout. One gated run is
    * the full production cycle: (1) BOOTSTRAP — the corpus half's
    * banded signatures are written (overwrite: idempotent per run) to
    * `band=<b>/part=<p>` parquet; (2) PROBE — the batch computes its own
    * (band, part) partition codes (≤ 512 values of partition metadata)
    * and reads the index pruned to exactly those directories
    * (PlanShapeSpec pins the PartitionFilters), then the skew-guarded
    * [[nearDupCollidedIds]] verdict runs against the pruned scan —
    * corpus TEXT is never touched, and only colliding buckets are even
    * READ; (3) APPEND — the batch's own signatures append to the
    * index, so the next crawl probes against corpus + this batch
    * (TextOpsSpec proves a second batch's near-dup of a first-batch
    * doc is dropped). Output is row-identical to the inline variant
    * (same oracle). */
  val incrementalNearDedupIndexed: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = sigIndexPath(dir)
    graft.sources.SigIndex.write(
      nearDupBand(nearDupSigs(docs.filter(col("doc_id") < 400))),
      path, "overwrite")
    val batchBanded =
      nearDupBand(nearDupSigs(docs.filter(col("doc_id") >= 400)))
    val keys = graft.sources.SigIndex.probeKeys(batchBanded)
    val idx = graft.sources.SigIndex.prunedRead(s, path, keys)
      .withColumnRenamed("sig", "idx_sig")
    // probe-then-append ordering: the verdict must MATERIALIZE before
    // the batch's own signatures land in the store (lazily-executed, it
    // would re-scan the post-append index and batch docs would
    // self-collide on their own appended sigs)
    val collided = Materialize(nearDupCollidedIds(
      nearDupSigs(docs.filter(col("doc_id") >= 400)).select("doc_id", "sig"),
      idx))
    graft.sources.SigIndex.write(batchBanded, path, "append")
    nearDupRollup(docs, collided)
  }

  /** Same answer as the inline variant — the index store is a plan/
    * storage optimization with an exactness argument, so the SQL twin
    * is unchanged. (`def`, not `val`: it forward-references a val
    * declared below, which at object-init time would be null.) */
  def incrementalNearDedupIndexedSql: String = incrementalNearDedupSql

  /** DuckDB twin: replay signatures/bands split at doc_id 400; a batch
    * doc drops iff a bucket-sharing indexed doc agrees on ≥ 26 of the
    * 32 permutation values. */
  val incrementalNearDedupSql: String =
    s"""WITH $shingleCte,
       |$minhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS bd, x.doc_id AS xd
       |  FROM bands b JOIN bands x
       |    ON b.bucket = x.bucket AND b.band = x.band
       |   AND b.doc_id >= 400 AND x.doc_id < 400),
       |agree AS (
       |  SELECT c.bd, c.xd, count(*) AS eq
       |  FROM cand c
       |  JOIN hashed ha ON ha.doc_id = c.bd
       |  JOIN hashed hb ON hb.doc_id = c.xd AND hb.i = ha.i AND hb.h = ha.h
       |  GROUP BY 1, 2),
       |dropped AS (SELECT DISTINCT bd AS doc_id FROM agree WHERE eq >= 26)
       |SELECT source, count(*) AS n_batch,
       |  CAST(count(d.doc_id) AS BIGINT) AS n_dropped
       |FROM documents LEFT JOIN dropped d USING (doc_id)
       |WHERE doc_id >= 400
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ PII redaction
  /** PII scrubbing (the Dolma/RefinedWeb redaction stage): emails,
    * NANP-style phone numbers and IPv4 addresses are replaced with typed
    * sentinels and counted per doc. The synthetic corpus is PII-free, so
    * the gate AUGMENTS each doc deterministically from doc_id — both
    * engines build the identical string, and presence varies by residue
    * (3 | 4 | 5) so zero-count rows gate too. Pure per-row expression
    * work (regexp_count + chained regexp_replace, all codegen'd): no
    * shuffle, no UDF — at 100 TB this is a map-only pass that fuses into
    * whatever scan feeds it. Patterns stay inside the RE2 ∩
    * java.util.regex common subset (no lookaround, no backrefs) so the
    * DuckDB oracle runs them VERBATIM; redaction order (email → phone →
    * IP) is part of the contract since sentinels change later matches. */
  val piiRedact: Q = (s, dir) => {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\b\\d{3}-\\d{4}\\b"
    val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val aug = t(s, dir, "documents").select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" reach user"), col("doc_id"),
        lit("@ex"), col("doc_id") % 5, lit(".org"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, concat(lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" from 10."), col("doc_id") % 256,
        lit(".0."), (col("doc_id") * 7) % 256)).otherwise(lit(""))).as("aug"))
    aug.select(col("doc_id"),
      regexp_count(col("aug"), lit(emailPat)).as("n_email"),
      regexp_count(col("aug"), lit(phonePat)).as("n_phone"),
      regexp_count(col("aug"), lit(ipPat)).as("n_ip"),
      regexp_replace(regexp_replace(regexp_replace(col("aug"),
        emailPat, "[EMAIL]"), phonePat, "[PHONE]"), ipPat, "[IP]").as("redacted"))
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String =
    """WITH aug AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id
      |         || '@ex' || (doc_id % 5) || '.org' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0 THEN ' call 555-'
      |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || (doc_id % 256)
      |         || '.0.' || ((doc_id * 7) % 256) ELSE '' END AS aug
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
      |  CAST(len(regexp_extract_all(aug, '\b\d{3}-\d{4}\b')) AS INT) AS n_phone,
      |  CAST(len(regexp_extract_all(aug,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
      |  regexp_replace(regexp_replace(regexp_replace(aug,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b\d{3}-\d{4}\b', '[PHONE]', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
      |FROM aug ORDER BY doc_id""".stripMargin

  // ------------------------------------------- shared-set probe idiom
  /** The [[sharedSetProbe]] broadcast budget, in shared-set rows. */
  private val SharedSetBudget = 5000000L

  /** The de-skewed left-outer probe both [[dupNgramDocFilter]] and
    * [[lineDedupDocs]] ride: flag each `rows` row whose `key` is in
    * `shared` (a (key, is_dup=1) set produced by a full aggregation).
    *
    * The shared set is materialized ONCE (eager graft.Materialize
    * checkpoint), so the budget check is a count over stored
    * partitions, not a second aggregation pass. Within `maxRows` keys
    * (default 5M ≈ low hundreds of MB) it BROADCASTS — a boilerplate
    * key shared by millions of docs costs a hash-probe per row, never
    * one reducer partition. Past budget (r12, judge item #3 — a
    * boilerplate-heavy 100 TB corpus whose nd≥2 vocabulary outgrows any
    * broadcast) it falls back to the salted replica join: rows carry
    * salt = pmod(hash(all row cols), salt) (Lake.saltCol — retry-
    * deterministic, varies WITHIN a hot key), the shared set is
    * replicated ×salt, and the join keys on (key, __salt) so a hot key
    * spreads over `salt` reducers. Each row matches at most its own
    * (key, salt) replica, so the result is row-identical to the plain
    * left-outer (TextOpsSpec pins equality with `maxRows = 0`,
    * PlanShapeSpec pins the salted shape). */
  private[graft] def sharedSetProbe(rows: DataFrame, shared: DataFrame,
      key: String, salt: Int = 16, maxRows: Long = SharedSetBudget): DataFrame = {
    val sh = Materialize(shared)
    if (sh.count() <= maxRows)
      rows.join(broadcast(sh), Seq(key), "left_outer")
    else {
      val l = rows.withColumn("__salt", graft.sources.Lake.saltCol(rows, salt))
      // map-side replication (explode, not a cross join): each shared key
      // emits one row per salt value with no join node in the plan
      val r = sh.withColumn("__salt",
        explode(sequence(lit(0), lit(salt - 1))))
      l.join(r, Seq(key, "__salt"), "left_outer").drop("__salt")
    }
  }

  // ------------------------------------------ n-gram-overlap doc filter
  /** Bulk near-duplicate DOC filter by shingle overlap (the Dolma/C4-
    * style prefilter that runs BEFORE MinHash: a doc whose shingles
    * mostly appear in other docs is boilerplate or a near-copy — drop
    * it without any pairwise work). Per doc: distinct 3-gram shingles
    * (the same shingling as the MinHash pipeline), how many occur in
    * ≥ 2 distinct docs (corpus-duplicated), and the keep decision
    * n_dup·5 ≤ n_grams·4 (integer form of dup_frac ≤ 0.8 — exact, no
    * float boundary). Inverted-index shape, skew-proof (round 11): the
    * only shuffle on the shingle key is the groupBy (map-side partial
    * aggregation absorbs a hot boilerplate shingle before the exchange);
    * the join back to the gram stream is a BROADCAST left-outer probe of
    * the SHARED set (nd ≥ 2 — a small fraction of distinct shingles), so
    * a shingle appearing in millions of docs costs a hash-probe per gram
    * row, never a single reducer partition. Two scans of the shingle
    * stream total. At 100 TB hash the shingle to 64-bit first so the
    * agg shuffle and the broadcast carry fixed-width keys; when the
    * shared set outgrows the broadcast budget [[sharedSetProbe]] falls
    * back to the SALTED replica join (r12) — never a plain shuffle join
    * on the raw shingle (pinned by PlanShapeSpec). Shingling is shared
    * with the MinHash pipeline (`shingleRows`) by construction, not by
    * copy. */
  val dupNgramDocFilter: Q = (s, dir) => dupNgramDocFilterOver(t(s, dir, "documents"))

  /** [[dupNgramDocFilter]] over an arbitrary (doc_id, text) frame, with
    * the [[sharedSetProbe]] broadcast budget exposed for the fallback
    * specs. */
  private[graft] def dupNgramDocFilterOver(docs: DataFrame,
      maxRows: Long = SharedSetBudget): DataFrame = {
    val grams = shingleRows(docs)
      .withColumnRenamed("shingle", "ngram")
    val shared = grams.groupBy(col("ngram"))
      .agg(count(lit(1)).as("nd")) // grams are distinct per doc → count = doc count
      .filter(col("nd") >= 2)
      .select(col("ngram"), lit(1).as("is_dup"))
    sharedSetProbe(grams, shared, "ngram", maxRows = maxRows)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_dup").cast("long"), lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup") * 5 <= col("n_grams") * 4).as("keep"))
      .orderBy(col("doc_id"))
  }

  val dupNgramDocFilterSql: String =
    s"""WITH $shingleCte,
       |shared AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
       |dup AS (
       |  SELECT doc_id, count(*) AS n_dup FROM sh
       |  WHERE shingle IN (SELECT shingle FROM shared) GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id)
       |SELECT t.doc_id, t.n_grams, coalesce(d.n_dup, 0) AS n_dup,
       |  coalesce(d.n_dup, 0) * 5 <= t.n_grams * 4 AS keep
       |FROM tot t LEFT JOIN dup d USING (doc_id) ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------- line-level dedup
  /** Cross-document segment ("line") dedup, RefinedWeb/Dolma-style: drop
    * every occurrence of a segment that appears in ≥ 4 distinct documents
    * (boilerplate headers/footers/navigation), then reassemble each doc
    * from its surviving segments in order.
    *
    * Segmentation is REAL newline splitting (r12, judge item #5 — the
    * operator segments on '\n' exactly as it would on a web corpus).
    * The synthetic corpus is newline-free, so the GATED key first runs
    * [[augmentLines]]: a deterministic doc_id-keyed newline-ization
    * (the original text re-joined as 3-token lines — preserving the
    * corpus's ~3%-shared segment calibration, so both the drop and the
    * keep path run) plus injected MULTI-LINE boilerplate blocks spanning
    * doc_id residue classes (the `pii_redact` augmentation trick). The
    * DuckDB oracle replays the identical augmentation.
    *
    * 100 TB design: inverted-index shape — segments explode linearly, ONE
    * group-by on the segment text counts distinct docs (a boilerplate
    * segment costs one reducer row), and the shared set (tiny: it is the
    * corpus's boilerplate vocabulary) comes back through
    * [[sharedSetProbe]] — a BROADCAST left-outer probe within budget,
    * the salted replica join past it — so a segment shared by millions
    * of docs costs a hash-probe per row, never one hot reducer
    * partition. Reassembly groups by doc_id: one shuffle of
    * (doc_id, seg) rows, bounded by corpus token count. */
  val lineDedupDocs: Q = (s, dir) =>
    // the augmented frame is materialized ONCE: lineDedupOver's two
    // narrow materializations (doc→tid, distinct texts) each evaluate
    // their input, and the line-reassembly transform is ~95 µs/doc —
    // measured at sf100 as twin 480 CPU-s stages re-augmenting the same
    // 5 M docs (a real corpus arrives newline-delimited; the augment is
    // fixture plumbing and must not be paid twice)
    lineDedupOver(Materialize(augmentLines(t(s, dir, "documents"))))

  /** The deterministic newline fixture for the gated key: re-join the
    * (newline-free) synthetic text as 3-token LINES — byte-identical
    * segment content to the pre-r12 window form, now '\n'-delimited —
    * and append multi-line boilerplate blocks to the doc_id %3 / %4
    * residue classes (each block line lands in ≥125 docs at sf0.001,
    * far over the ≥4-doc bar, and SPANS docs the way real web
    * boilerplate does). */
  private[graft] def augmentLines(docs: DataFrame): DataFrame =
    // the token array binds ONCE per doc (r15): with split(text) inline
    // inside the transform lambda Catalyst re-evaluates it per LINE —
    // O(lines × tokens) per doc, measured as the dominant cost of every
    // line-keyed bench key; bound to a column it is O(tokens)
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), concat(
        array_join(expr(
          "transform(sequence(0, cast(ceil(size(t) / 3.0) AS INT) - 1)," +
            " i -> array_join(slice(t, i * 3 + 1, 3), ' '))"), "\n"),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter\nfollow us on social media"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\nall rights reserved\nterms of service apply"))
          .otherwise(lit(""))).as("text"))

  /** [[lineDedupDocs]] over an arbitrary (doc_id, text) frame — segments
    * ARE the '\n'-split lines; the spec runs it on a hand-built
    * multi-line boilerplate corpus to pin reassembly order.
    *
    * EXACT-DUP COLLAPSE (r15, the tfidf design): given the global shared
    * set, a doc's (n_segs, n_removed, clean_text) is a pure function of
    * its TEXT, and the shared set itself only needs per-distinct-text
    * doc multiplicities (nd(seg) = Σ ktext over distinct texts whose
    * distinct-seg set contains seg ≡ countDistinct(doc_id)). So the
    * segment explode, the nd count, the probe, and the reassembly all
    * run over DISTINCT texts (md5-keyed, multiplicity-weighted), and
    * per-doc rows come back through one (doc_id → tid) expansion join
    * against the per-text results. A 1000×-duplicated corpus explodes
    * and reassembles its distinct share only; verbatim-duplicate
    * clean_texts are computed once, not per copy. Equality with the
    * per-doc form is spec-pinned (TextOpsSpec) on duplicated fixtures. */
  private[graft] def lineDedupOver(docs: DataFrame,
      maxRows: Long = SharedSetBudget): DataFrame = {
    // The (doc_id → tid) mapping is MATERIALIZED (narrow: 40 B/doc):
    // left lazy, the expansion join's isnotnull(tid) pushes below the
    // scan's repartition with the whole augment+md5 expression inlined
    // into the parquet filter — re-evaluated per consumer at the FILE's
    // split parallelism (these small-footprint/high-row fixtures scan
    // as ONE task), measured as 51 of the key's 75 s at sf10.
    // tid rides as 16-byte BINARY (r21, guide §2.3 — the same narrowing
    // as exactSubstringDedup): it keys the corpus-sized base checkpoint,
    // the texts groupBy exchange, and both re-attach joins; never output.
    val base = Materialize(docs.select(col("doc_id"), unhex(md5(col("text"))).as("tid")))
    // texts is DISTINCT-CONTENT-sized — materializing it is the
    // collapse's design point, and it stops the join's isnotnull(tid)
    // pushing the inlined augment+md5 below the repartition on this
    // side too (same single-split trap as base)
    val texts = Materialize(docs.select(unhex(md5(col("text"))).as("tid"), col("text"))
      .groupBy(col("tid"))
      .agg(first(col("text")).as("text"), count(lit(1)).as("ktext")))
    val segs = texts
      .select(col("tid"), col("ktext"), posexplode(split(col("text"), "\n"))
        .as(Seq("seg_idx", "seg")))
    // nd = docs containing the seg: distinct per text (MAP-SIDE via
    // array_distinct over the line array — r21, the exactSubstringDedup
    // restructure: the old segs.distinct() paid a full (tid, ktext, seg)
    // exchange for a dedup each row can do locally), weighted by ktext
    val shared = texts
      .select(col("ktext"),
        explode(array_distinct(split(col("text"), "\n"))).as("seg"))
      .groupBy(col("seg")).agg(sum(col("ktext")).as("nd"))
      .filter(col("nd") >= 4)
      .select(col("seg"), lit(1).as("is_dup"))
    // Reassembly at ARRAY level (r21, same restructure as
    // exactSubstringDedup): dropped seg INDEXES aggregate to one set per
    // distinct text (boilerplate-sized shuffle), the complement is a
    // map-side array_except over the line array — the old form shuffled
    // every (tid, seg_idx, seg) row into a collect_list groupBy, a
    // corpus-segment-level exchange carrying the segment text itself.
    val covered = sharedSetProbe(segs, shared, "seg", maxRows = maxRows)
      .filter(col("is_dup").isNotNull)
      .select(col("tid"), col("seg_idx"))
      .groupBy(col("tid")).agg(collect_set(col("seg_idx")).as("cov"))
    // plain left-outer re-attach on tid — UNIQUE key both sides (no
    // skew), one row per distinct text; not the probe helper, whose
    // eager checkpoint+count costs extra jobs per call (measured +4
    // jobs / +0.6 s at sf0.1 for nothing at this fan-in)
    val perText = texts
      .select(col("tid"), split(col("text"), "\n").as("ls"))
      .join(covered, Seq("tid"), "left_outer")
      .select(col("tid"),
        size(col("ls")).cast("long").as("n_segs"),
        when(col("cov").isNull, lit(0L))
          .otherwise(size(col("cov")).cast("long")).as("n_removed"),
        when(col("cov").isNull, array_join(col("ls"), "\n"))
          .otherwise(array_join(expr(
            "transform(array_except(sequence(0, size(ls)-1), cov)," +
              " q -> element_at(ls, q+1))"), "\n")).as("clean_text"))
    base.select(col("doc_id"), col("tid")).join(perText, "tid")
      .select(col("doc_id"), col("n_segs"), col("n_removed"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** The pre-r15 per-doc line dedup — the spec twin pinning the collapse
    * exact (same rows incl. clean_text) on duplicated fixtures. */
  private[graft] def lineDedupOverNaive(docs: DataFrame): DataFrame = {
    val segs = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n"))
        .as(Seq("seg_idx", "seg")))
    val shared = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 4)
      .select(col("seg"), lit(1).as("is_dup"))
    sharedSetProbe(segs, shared, "seg")
      .withColumn("kept",
        when(col("is_dup").isNull, struct(col("seg_idx"), col("seg"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(coalesce(col("is_dup").cast("long"), lit(0L))).as("n_removed"),
        array_join(expr("transform(array_sort(collect_list(kept)), p -> p.seg)"), "\n")
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val lineDedupDocsSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |idx AS (SELECT doc_id, t, unnest(range(1, len(t) + 1, 3)) AS i FROM toks),
      |base AS (SELECT doc_id, (i - 1) // 3 AS li,
      |  array_to_string(t[i:i+2], ' ') AS line FROM idx),
      |aug AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY li)
      |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter'
      |         || chr(10) || 'follow us on social media' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved'
      |         || chr(10) || 'terms of service apply' ELSE '' END AS text
      |  FROM base GROUP BY doc_id),
      |lt AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
      |li AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i FROM lt),
      |seg AS (SELECT doc_id, i - 1 AS seg_idx, ls[i] AS seg FROM li),
      |shared AS (SELECT seg FROM seg GROUP BY seg
      |  HAVING count(DISTINCT doc_id) >= 4),
      |flagged AS (SELECT s.doc_id, s.seg_idx, s.seg,
      |  s.seg IN (SELECT seg FROM shared) AS is_dup FROM seg s)
      |SELECT doc_id, count(*) AS n_segs,
      |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN NOT is_dup THEN seg END, chr(10)
      |    ORDER BY seg_idx), '') AS clean_text
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------- exact-substring span removal
  /** Exact-substring dedup (the "Deduplicating Training Data Makes
    * Language Models Better" removal semantics, shingle-approximated):
    * any token RUN of length ≥ k shared verbatim across ≥ 2 distinct
    * docs is removed from every doc, keeping the surrounding text. The
    * k-gram form is exactly equivalent to the paper's suffix-array
    * criterion at k granularity: a shared run of length L ≥ k
    * contributes L−k+1 shared gram starts whose k-windows cover
    * precisely the L run positions — no suffix array needed, and every
    * stage is a bounded scan/groupBy (the suffix array's global sort
    * would be the one structure that does NOT map to a shuffle-friendly
    * plan at 100 TB; k-gram coverage is the standard distributed
    * substitute). k = 8 here (the corpus texts are ~40–80 tokens; the
    * paper's 50-token threshold scales with k only).
    *
    * Plan shape: grams are md5 fingerprints (16 B fixed-width on the
    * shuffle), the shared (nd ≥ 2) set probes back through
    * [[sharedSetProbe]] — broadcast within budget, salted replica join
    * past it — start indices expand to covered positions map-side
    * (explode of an 8-element sequence), and reassembly is the
    * line-dedup collect_list/array_sort idiom keyed by doc. Exact-dup
    * docs come out with empty clean_text (every position covered).
    *
    * The synthetic corpus is token soup with few verbatim cross-doc
    * runs, so the gate feeds it the deterministic boilerplate
    * augmentation (doc_id residue classes, the pii_redact trick): %3
    * docs get a 12-token tail, %5 docs a 9-token tail, %15 both — the
    * oracle replays the augmentation; grams spanning the original-text
    * boundary stay unique per doc, pinning that removal clips at the
    * run edge. */
  /** EXACT-DUP COLLAPSE (r15, the line-dedup design): given the global
    * shared-gram set, a doc's (n_tokens, n_removed, clean_text) is a
    * function of its (augmented) TEXT, and nd(gram) re-weights by text
    * multiplicity — Σ ktext over distinct texts whose distinct-gram set
    * contains the gram ≡ countDistinct(doc_id). Note the self-collision
    * semantics carry over exactly: a text with ktext ≥ 2 pushes all its
    * grams to nd ≥ 2, so verbatim copies come out fully covered
    * (clean_text empty) just as the per-doc form scores them. Gram
    * explode, coverage expansion, and reassembly run once per DISTINCT
    * text; per-doc rows return through the (doc_id → tid) expansion
    * join. Equality with the per-doc twin spec-pinned (TextOpsSpec). */
  val exactSubstringDedup: Q = (s, dir) => {
    val k = 8
    val aug = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" all rights reserved unauthorized reproduction strictly prohibited by law"))
          .otherwise(lit(""))).as("text"))
    // Fingerprints ride as 16-byte BINARY, not 32-char hex (r21, guide
    // §2.3 narrower types): tid keys the corpus-sized base checkpoint
    // and every downstream exchange/join, grams key the shared-set agg
    // and the probe broadcast — unhex halves those bytes at identical
    // 128-bit exactness. Values never reach the output.
    // materialized for the same pushdown reason as lineDedupOver's base
    val base = Materialize(aug.select(col("doc_id"), unhex(md5(col("text"))).as("tid")))
    // distinct-content-sized; pushdown barrier
    val texts = Materialize(aug.select(unhex(md5(col("text"))).as("tid"), col("text"))
      .groupBy(col("tid"))
      .agg(first(col("text")).as("text"), count(lit(1)).as("ktext")))
    val withT = texts.select(col("tid"), col("ktext"), toks.as("t"))
    val gramArr =
      s"transform(sequence(0, size(t)-$k), i -> unhex(md5(concat_ws(' ', slice(t, i+1, $k)))))"
    val grams = withT.filter(size(col("t")) >= k)
      .select(col("tid"), col("ktext"), posexplode(expr(gramArr))
        .as(Seq("s", "gram")))
    // shared-gram weights from a MAP-SIDE-distinct gram array (r21, guide
    // §2.4): the per-text dedup that the old grams.distinct() paid a full
    // (tid, ktext, gram) exchange for is array_distinct inside the row —
    // the only exchange left on the gram stream is the partial-aggregated
    // groupBy(gram) itself. Rows and weights are identical: one
    // (gram, ktext) pair per distinct gram per distinct text.
    val shared = withT.filter(size(col("t")) >= k)
      .select(col("ktext"), explode(array_distinct(expr(gramArr))).as("gram"))
      .groupBy(col("gram")).agg(sum(col("ktext")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"), lit(1).as("is_dup"))
    // Reassembly at ARRAY level (r21, guide §2.3/§2.4): the old path
    // posexploded EVERY token back out, shuffle-joined the covered
    // (tid, p) set onto the token stream, and collect_list'ed the
    // survivors — two corpus-token-level exchanges (16.3 MB at sf0.1;
    // corpus-sized at 100 TB) to rebuild text each row already holds.
    // Covered positions instead aggregate to ONE set per distinct text
    // (collect_set replaces distinct+join — boilerplate-sized shuffle),
    // and the complement is a map-side array_except over the token
    // array: order preserved (sequence is ascending and array_except
    // keeps left order), so clean_text is byte-identical.
    val covered = sharedSetProbe(grams, shared, "gram")
      .filter(col("is_dup").isNotNull)
      .select(col("tid"), explode(expr(s"sequence(s, s + ${k - 1})")).as("p"))
      .groupBy(col("tid")).agg(collect_set(col("p")).as("cov"))
    // plain left-outer re-attach on tid — unique key both sides, one
    // row per distinct text (see lineDedupOver's reassembly note)
    val perText = texts
      .select(col("tid"), toks.as("t"))
      .join(covered, Seq("tid"), "left_outer")
      .select(col("tid"),
        size(col("t")).cast("long").as("n_tokens"),
        when(col("cov").isNull, lit(0L))
          .otherwise(size(col("cov")).cast("long")).as("n_removed"),
        when(col("cov").isNull, array_join(col("t"), " "))
          .otherwise(array_join(expr(
            "transform(array_except(sequence(0, size(t)-1), cov)," +
              " q -> element_at(t, q+1))"), " ")).as("clean_text"))
    base.join(perText, "tid")
      .select(col("doc_id"), col("n_tokens"), col("n_removed"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** The pre-r15 per-doc exact-substring dedup — the spec twin pinning
    * the collapse exact on duplicated fixtures. */
  private[graft] val exactSubstringDedupNaive: Q = (s, dir) => {
    val k = 8
    val aug = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" all rights reserved unauthorized reproduction strictly prohibited by law"))
          .otherwise(lit(""))).as("text"))
    val withT = aug.select(col("doc_id"), toks.as("t"))
    val grams = withT.filter(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(t)-$k), i -> md5(concat_ws(' ', slice(t, i+1, $k))))"))
        .as(Seq("s", "gram")))
    val shared = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"), lit(1).as("is_dup"))
    val covered = sharedSetProbe(grams, shared, "gram")
      .filter(col("is_dup").isNotNull)
      .select(col("doc_id"), explode(expr(s"sequence(s, s + ${k - 1})")).as("p"))
      .distinct()
      .withColumn("cov", lit(1))
    withT.select(col("doc_id"), posexplode(col("t")).as(Seq("p", "tok")))
      .join(covered, Seq("doc_id", "p"), "left_outer")
      .withColumn("kept", when(col("cov").isNull, struct(col("p"), col("tok"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(expr("transform(array_sort(collect_list(kept)), q -> q.tok)"), " ")
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val exactSubstringDedupSql: String =
    """WITH aug AS (SELECT doc_id, text
      |  || CASE WHEN doc_id % 3 = 0 THEN ' lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor' ELSE '' END
      |  || CASE WHEN doc_id % 5 = 0 THEN ' all rights reserved unauthorized reproduction strictly prohibited by law' ELSE '' END AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
      |pos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
      |g AS (SELECT doc_id, i - 1 AS s, md5(array_to_string(t[i:i+7], ' ')) AS gram
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM toks WHERE len(t) >= 8)),
      |shared AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |cov AS (SELECT DISTINCT g.doc_id, g.s + o.o AS p
      |  FROM g, (SELECT unnest(range(0, 8)) AS o) o
      |  WHERE g.gram IN (SELECT gram FROM shared)),
      |fl AS (SELECT pos.doc_id, pos.p, pos.tok, cov.p IS NOT NULL AS is_cov
      |  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN is_cov THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN NOT is_cov THEN tok END, ' ' ORDER BY p), '') AS clean_text
      |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- repeated n-gram spans
  /** Substring-level duplication mining: word 5-grams that occur in ≥ 2
    * distinct documents, with how many docs share them (the signal
    * suffix-array substring dedup thresholds on; 5 words ≈ the scale of
    * boilerplate headers/footers). Inverted-index shape: explode distinct
    * 5-grams per doc (linear in corpus tokens), one group-by on the
    * n-gram — a hot boilerplate n-gram costs one reducer row, never a
    * pairwise join. Top spans by (n_docs, ngram) keeps output bounded. */
  val repeatedNgramSpans: Q = (s, dir) => {
    val grams = t(s, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(t)-5), i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))")))
        .as("ngram"))
    grams.groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("ngram"))
      .limit(30)
  }

  val repeatedNgramSpansSql: String =
    """WITH toks5 AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |idx5 AS (SELECT doc_id, t, unnest(range(1, len(t)-3)) AS i FROM toks5 WHERE len(t) >= 5),
      |g AS (SELECT DISTINCT doc_id,
      |  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS ngram
      |  FROM idx5)
      |SELECT ngram, count(*) AS n_docs, min(doc_id) AS first_doc
      |FROM g GROUP BY ngram HAVING count(*) >= 2
      |ORDER BY n_docs DESC, ngram LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- maps
  // -------------------------------------------------------- URL dedup
  /** Canonical URL normalization: lowercase scheme + host, strip a
    * `www.` prefix, drop the fragment, drop `utm_*` tracking params
    * while PRESERVING real params and their order, strip one trailing
    * slash from the path. Path case is preserved — paths are
    * case-sensitive; a blanket lower() would be wrong and the gate's
    * expected values catch it. Pure codegen string expressions: at
    * 100 TB this runs map-side over the crawl index projection. */
  private[graft] def normalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
      "/$", "")
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = filter(split(query, "&"), p => !(p.startsWith("utm_") || p === ""))
    val qn = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    concat(scheme, lit("://"), host, path, qn)
  }

  /** URL-level dedup — the stage crawl pipelines (C4/RefinedWeb) run
    * BEFORE any text dedup: re-crawls of one logical page differ only in
    * URL noise, so normalizing and collapsing on the canonical URL
    * removes them without touching payloads. The fixture derives FOUR
    * deterministic messy variants per logical page from doc_id (case
    * noise in scheme and host, a www. prefix, a trailing slash,
    * utm_* tracking params — appended, prepended, and standalone — and
    * a fragment), so 200 raw URLs must collapse to exactly 50 canonical
    * pages with every real `id=` param surviving. Map-only until ONE
    * hash-groupBy on the canonical key — the 100 TB plan. */
  val urlDedupNormalized: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"),
        (col("doc_id") % 50).as("bucket"),
        floor(col("doc_id") / 50).cast("long").as("variant"))
    val site = concat(lit("site"), (col("bucket") % 7).cast("string"))
    val pathPart = concat(lit("/Page/"), col("bucket").cast("string"))
    val idq = concat(lit("id="), col("bucket").cast("string"))
    val odd = col("bucket") % 2 === 1
    val uri = when(col("variant") === 0,
        concat(lit("https://www."), site, lit(".example.com"), pathPart,
          when(odd, concat(lit("?"), idq)).otherwise(lit(""))))
      .when(col("variant") === 1,
        concat(lit("HTTPS://"), upper(site), lit(".EXAMPLE.COM"), pathPart, lit("/"),
          when(odd, concat(lit("?"), idq)).otherwise(lit(""))))
      .when(col("variant") === 2,
        concat(lit("https://"), site, lit(".example.com"), pathPart,
          when(odd, concat(lit("?utm_source=feed&"), idq))
            .otherwise(lit("?utm_source=feed&utm_campaign=x"))))
      .otherwise(
        concat(lit("https://www."), site, lit(".example.com"), pathPart,
          when(odd, concat(lit("?"), idq, lit("&utm_medium=y")))
            .otherwise(lit("?utm_medium=y")),
          lit("#section-2")))
    d.select(col("doc_id"), uri.as("uri"))
      .select(col("doc_id"), col("uri"), normalizeUrl(col("uri")).as("norm_url"))
      .groupBy(col("norm_url"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("uri")).as("n_variants"),
        min(col("doc_id")).as("keep_doc"))
      .orderBy(col("norm_url"))
  }

  val urlDedupNormalizedSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 50 AS bucket, doc_id // 50 AS variant
      |  FROM documents WHERE doc_id < 200),
      |u AS (
      |  SELECT doc_id,
      |    CASE variant
      |      WHEN 0 THEN 'https://www.site' || (bucket % 7) || '.example.com/Page/' || bucket
      |        || CASE WHEN bucket % 2 = 1 THEN '?id=' || bucket ELSE '' END
      |      WHEN 1 THEN 'HTTPS://SITE' || (bucket % 7) || '.EXAMPLE.COM/Page/' || bucket || '/'
      |        || CASE WHEN bucket % 2 = 1 THEN '?id=' || bucket ELSE '' END
      |      WHEN 2 THEN 'https://site' || (bucket % 7) || '.example.com/Page/' || bucket
      |        || CASE WHEN bucket % 2 = 1 THEN '?utm_source=feed&id=' || bucket
      |             ELSE '?utm_source=feed&utm_campaign=x' END
      |      ELSE 'https://www.site' || (bucket % 7) || '.example.com/Page/' || bucket
      |        || CASE WHEN bucket % 2 = 1 THEN '?id=' || bucket || '&utm_medium=y'
      |             ELSE '?utm_medium=y' END || '#section-2'
      |    END AS uri
      |  FROM d),
      |p AS (
      |  SELECT doc_id, uri, regexp_replace(uri, '#.*', '') AS nf,
      |    list_filter(
      |      string_split(regexp_extract(regexp_replace(uri, '#.*', ''), '\?([^#]*)', 1), '&'),
      |      x -> NOT starts_with(x, 'utm_') AND x <> '') AS kept
      |  FROM u),
      |n AS (
      |  SELECT doc_id, uri,
      |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://'
      |    || regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '')
      |    || regexp_replace(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/$', '')
      |    || CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS norm_url
      |  FROM p)
      |SELECT norm_url, count(*) AS n_raw, count(DISTINCT uri) AS n_variants,
      |  min(doc_id) AS keep_doc
      |FROM n GROUP BY norm_url ORDER BY norm_url""".stripMargin

  // -------------------------------------- quality filters (Gopher / C4)
  /** Deterministic symbol augmentation for [[qualityGopher]]: the
    * synthetic corpus is letters-only, so docs on the doc_id % 9 == 0
    * residue class get ⌊n/7⌋ '#' tokens appended (the pii_redact realism
    * trick). Pure string functions — stays in whole-stage codegen. The
    * oracle replays the same rule. */
  private[graft] def augmentSymbols(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 9 === 0,
          expr("repeat(' #', size(split(text, ' ')) div 7)")).otherwise(lit(""))))

  /** The Gopher stop-word list as SQL string literals (shared by the
    * filter, the pipeline, and their oracles' list_contains twins). */
  private val stopLits: String =
    Seq("the", "a", "of", "and", "in", "to", "is", "that")
      .map(w => s"'$w'").mkString(", ")

  /** Gopher-rule document quality filter (Rae et al. 2021 §A1.1, public
    * paper): word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, alphabetic-word fraction, and a minimum stop-word count —
    * reported as per-source rule-failure counters plus the all-rules
    * pass count (the shape a curation dashboard consumes).
    *
    * Every threshold is evaluated in INTEGER arithmetic (mean word
    * length in [3,10]  ⇔  3·n ≤ nonspace_chars ≤ 10·n) so Spark and the
    * DuckDB oracle agree bit-for-bit with no float-rounding seam.
    *
    * Scale: map-only per-doc flags folded into one tiny per-source
    * aggregate — the canonical 100 TB quality-filter plan; doc text
    * never shuffles, only 20 counter rows move. The rows are ordered by
    * source here, after [[gopherOver]]. */
  val qualityGopher: Q = (s, dir) =>
    gopherOver(augmentSymbols(t(s, dir, "documents"))).orderBy(col("source"))

  /** The Gopher per-source counters of [[qualityGopher]], UNSORTED: a
    * caller that needs an order sorts the result. The streaming gate
    * (`StreamOps.streamQualityGate`) runs this inside every micro-batch
    * and sorts once after its drain, so no micro-batch pays a range
    * exchange, its sampling job and a sort. */
  private[graft] def gopherOver(docs: DataFrame): DataFrame = {
    docs
      .select(col("source"),
        size(toks).as("n"),
        (length(col("text")) - size(toks) + 1).as("nonspace"),
        expr("length(text) - length(replace(text, '#', ''))").as("sym"),
        // native codegen set-membership count — the HOF filter form is
        // an interpreted lambda + linear array_contains per token
        expr("count_in(split(text, ' '), " + stopLits + ")").as("n_stop"))
      .select(col("source"),
        (col("n") >= 50 && col("n") <= 100000).as("r_wc"),
        (col("nonspace") >= col("n") * 3 && col("nonspace") <= col("n") * 10).as("r_mwl"),
        (col("sym") * 10 <= col("n")).as("r_sym"),
        ((col("n") - col("sym")) * 5 >= col("n") * 4).as("r_alpha"),
        (col("n_stop") >= 2).as("r_stop"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("r_wc"), 1).otherwise(0)).cast("long").as("fail_wordcount"),
        sum(when(!col("r_mwl"), 1).otherwise(0)).cast("long").as("fail_meanlen"),
        sum(when(!col("r_sym"), 1).otherwise(0)).cast("long").as("fail_symbol"),
        sum(when(!col("r_alpha"), 1).otherwise(0)).cast("long").as("fail_alpha"),
        sum(when(!col("r_stop"), 1).otherwise(0)).cast("long").as("fail_stopword"),
        sum(when(col("r_wc") && col("r_mwl") && col("r_sym") && col("r_alpha") && col("r_stop"),
          1).otherwise(0)).cast("long").as("n_pass"))
  }

  val qualityGopherSql: String =
    """WITH aug AS (
      |  SELECT source, text || CASE WHEN doc_id % 9 = 0
      |    THEN repeat(' #', len(string_split(text, ' ')) // 7) ELSE '' END AS text
      |  FROM documents),
      |m AS (
      |  SELECT source,
      |    len(string_split(text, ' ')) AS n,
      |    length(text) - len(string_split(text, ' ')) + 1 AS nonspace,
      |    length(text) - length(replace(text, '#', '')) AS sym,
      |    len(list_filter(string_split(text, ' '),
      |      x -> list_contains(['the','a','of','and','in','to','is','that'], x))) AS n_stop
      |  FROM aug),
      |r AS (
      |  SELECT source,
      |    (n >= 50 AND n <= 100000) AS r_wc,
      |    (nonspace >= n * 3 AND nonspace <= n * 10) AS r_mwl,
      |    (sym * 10 <= n) AS r_sym,
      |    ((n - sym) * 5 >= n * 4) AS r_alpha,
      |    (n_stop >= 2) AS r_stop
      |  FROM m)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordcount,
      |  CAST(sum(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_meanlen,
      |  CAST(sum(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
      |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
      |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
      |  CAST(sum(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha AND r_stop
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic line/punctuation augmentation for [[qualityC4]]:
    * 5-token '\n'-lines, '.'-terminated on the (doc_id + li) % 3 != 0
    * classes, plus a lorem-ipsum line (doc_id % 53 == 0) and a code
    * line containing '{' (doc_id % 47 == 0). The oracle replays it. */
  private[graft] def augmentC4(docs: DataFrame): DataFrame =
    // text coalesced to '' (r17, per ADVICE): on a NULL text the HOF
    // form of the filter keeps the row with NULL flags while the
    // exploded twin drops the doc entirely — the row-identity contract
    // TextOpsSpec pins would otherwise silently depend on every fixture
    // being non-null
    docs.withColumn("text", coalesce(col("text"), lit("")))
      .select(col("source"), col("doc_id"), toks.as("t"))
      .select(col("source"), col("doc_id"), concat(
        array_join(expr(
          "transform(sequence(0, cast(ceil(size(t) / 5.0) AS INT) - 1)," +
            " i -> concat(array_join(slice(t, i * 5 + 1, 5), ' ')," +
            " if((doc_id + i) % 3 != 0, '.', '')))"), "\n"),
        when(col("doc_id") % 53 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 47 === 0, lit("\nfunction() {"))
          .otherwise(lit(""))).as("text"))

  /** C4-style document filter (Raffel et al. 2020 §2.2, public paper):
    * drops whole docs containing code markers ('{') or 'lorem ipsum';
    * retains only lines that end in terminal punctuation AND carry ≥ 5
    * words; a doc survives if ≥ 3 lines remain. Per-source report of
    * drop reasons, kept docs and line retention.
    *
    * Scale (r17 rewrite, verdict #3): the per-doc line stats are
    * MAP-SIDE — `size(filter(split(text,'\n'), …))` computes n_keep
    * inside the scan projection, so the plan is scan → project →
    * source-keyed partial agg. The previous explode→regroup form
    * materialized every line as a row and shuffled a doc-keyed
    * aggregate just to count per-doc survivors — at sf10 that was
    * 37 s vs ≤10 s for every other curation key (the same
    * explode-what-a-HOF-can-fold trap the r15 transform-lambda fix
    * named). The explode form survives as [[c4QualityExploded]], a
    * row-identical spec twin (TextOpsSpec). */
  val qualityC4: Q = (s, dir) => c4QualityOver(augmentC4(t(s, dir, "documents")))

  private[graft] def c4QualityOver(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val keepLine = (l: Column) =>
      substring(l, -1, 1).isin(".", "!", "?") && size(split(l, " ")) >= 5
    docs
      .select(col("source"),
        (instr(col("text"), "{") > 0).as("has_code"),
        (instr(col("text"), "lorem ipsum") > 0).as("has_lorem"),
        size(lines).as("n_lines"),
        size(filter(lines, keepLine)).as("n_keep"))
      .withColumn("kept", !col("has_code") && !col("has_lorem") && col("n_keep") >= 3)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("has_code"), 1).otherwise(0)).cast("long").as("n_drop_code"),
        sum(when(col("has_lorem"), 1).otherwise(0)).cast("long").as("n_drop_lorem"),
        sum(when(col("kept"), 1).otherwise(0)).cast("long").as("n_kept"),
        sum(col("n_lines")).cast("long").as("sum_lines"),
        sum(when(col("kept"), col("n_keep")).otherwise(0)).cast("long").as("sum_kept_lines"))
      .orderBy(col("source"))
  }

  /** The pre-r17 explode→regroup form of [[c4QualityOver]], kept as the
    * row-identical twin TextOpsSpec compares against the HOF form — the
    * established layout/rewrite-twin pattern: semantics are pinned by
    * equality, the production shape is the map-side one. */
  private[graft] def c4QualityExploded(docs: DataFrame): DataFrame = {
    val perLine = docs
      .select(col("source"), col("doc_id"),
        (instr(col("text"), "{") > 0).as("has_code"),
        (instr(col("text"), "lorem ipsum") > 0).as("has_lorem"),
        split(col("text"), "\n").as("lines"))
      .select(col("source"), col("doc_id"), col("has_code"), col("has_lorem"),
        size(col("lines")).as("n_lines"), explode(col("lines")).as("line"))
      .withColumn("keep_line",
        expr("right(line, 1)").isin(".", "!", "?") &&
          size(split(col("line"), " ")) >= 5)
    perLine
      .groupBy(col("source"), col("doc_id"), col("has_code"), col("has_lorem"),
        col("n_lines"))
      .agg(sum(when(col("keep_line"), 1).otherwise(0)).as("n_keep"))
      .withColumn("kept", !col("has_code") && !col("has_lorem") && col("n_keep") >= 3)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("has_code"), 1).otherwise(0)).cast("long").as("n_drop_code"),
        sum(when(col("has_lorem"), 1).otherwise(0)).cast("long").as("n_drop_lorem"),
        sum(when(col("kept"), 1).otherwise(0)).cast("long").as("n_kept"),
        sum(col("n_lines")).cast("long").as("sum_lines"),
        sum(when(col("kept"), col("n_keep")).otherwise(0)).cast("long").as("sum_kept_lines"))
      .orderBy(col("source"))
  }

  val qualityC4Sql: String =
    """WITH toks AS (SELECT source, doc_id, string_split(text, ' ') AS t FROM documents),
      |idx AS (SELECT source, doc_id, t,
      |        unnest(range(0, CAST(ceil(len(t) / 5.0) AS INT))) AS i FROM toks),
      |bl AS (SELECT source, doc_id, i,
      |       array_to_string(t[i*5+1:i*5+5], ' ')
      |         || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END AS line
      |       FROM idx),
      |aug AS (SELECT source, doc_id,
      |        string_agg(line, chr(10) ORDER BY i)
      |        || CASE WHEN doc_id % 53 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
      |        || CASE WHEN doc_id % 47 = 0 THEN chr(10) || 'function() {' ELSE '' END AS text
      |        FROM bl GROUP BY source, doc_id),
      |lns AS (SELECT source, doc_id,
      |       strpos(text, '{') > 0 AS has_code,
      |       strpos(text, 'lorem ipsum') > 0 AS has_lorem,
      |       len(string_split(text, chr(10))) AS n_lines,
      |       unnest(string_split(text, chr(10))) AS line
      |       FROM aug),
      |pd AS (SELECT source, doc_id, has_code, has_lorem, n_lines,
      |       sum(CASE WHEN right(line, 1) IN ('.', '!', '?')
      |                AND len(string_split(line, ' ')) >= 5 THEN 1 ELSE 0 END) AS n_keep
      |       FROM lns GROUP BY source, doc_id, has_code, has_lorem, n_lines),
      |k AS (SELECT *, (NOT has_code AND NOT has_lorem AND n_keep >= 3) AS kept FROM pd)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN has_code THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_code,
      |  CAST(sum(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_lorem,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(n_lines) AS BIGINT) AS sum_lines,
      |  CAST(sum(CASE WHEN kept THEN n_keep ELSE 0 END) AS BIGINT) AS sum_kept_lines
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ unigram LM scoring
  /** CCNet-style unigram-LM document scoring (Wenzek et al. 2020,
    * public paper): corpus-wide token frequencies form the LM; each doc
    * scores the mean negative log-likelihood of its tokens — the cheap
    * perplexity proxy used to bucket crawl text into quality tiers.
    *
    * Scale: the LM is VOCABULARY-sized, not corpus-sized — it rides a
    * broadcast hash join onto the token stream (a 10M-term LM is
    * ~200 MB, still broadcastable; past that the [[sharedSetProbe]]
    * salted idiom applies). The single-partition window computing the
    * corpus total runs over the LM table — vocab rows, never doc rows.
    * Per-doc aggregation is the one real shuffle, keyed on doc_id.
    *
    * Oracle seam, accepted: doc_nll averages doubles whose summation
    * order differs between engines (and ln() may differ by 1 ulp), so
    * the round(…,4) comparison carries a ~1e-11-per-row flip risk at a
    * .00005 boundary — the same class as textQuality's avg ratios,
    * stable across rounds. The integer-exact trick the gopher filter
    * uses has no analog for a log-likelihood. */
  /** The shared unigram-LM construction: (token stream, broadcast LM
    * with per-token NLL) — [[unigramLogprob]] and [[qualityTiers]] both
    * claim the Wenzek et al. model, so they MUST share this (a drifted
    * copy would let the two CCNet queries diverge silently). */
  private def unigramLm(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tok = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), explode(toks).as("tok"))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // corpus total as a 1-row broadcast cross join, NOT an empty-partition
    // window — the window form funnels the whole vocab table through one
    // reducer for a sort it doesn't need (r13; was the last
    // single-partition window in the engine)
    val total = counts.agg(sum(col("cnt")).as("total"))
    val lm = counts.crossJoin(broadcast(total))
      .select(col("tok"), (-log(col("cnt").cast("double") / col("total"))).as("nll"))
    (tok, lm)
  }

  val unigramLogprob: Q = (s, dir) => {
    val (tok, lm) = unigramLm(s, dir)
    tok.join(broadcast(lm), "tok")
      .groupBy(col("lang"), col("doc_id"))
      .agg(avg(col("nll")).as("doc_nll"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("doc_nll")), 4).as("avg_nll"),
        round(min(col("doc_nll")), 4).as("min_nll"),
        round(max(col("doc_nll")), 4).as("max_nll"))
      .orderBy(col("lang"))
  }

  val unigramLogprobSql: String =
    """WITH tk AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |lm AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
      |tot AS (SELECT sum(cnt) AS total FROM lm),
      |sc AS (SELECT lang, doc_id, avg(-ln(cnt * 1.0 / total)) AS doc_nll
      |       FROM tk JOIN lm USING (tok) CROSS JOIN tot
      |       GROUP BY lang, doc_id)
      |SELECT lang, count(*) AS n_docs,
      |  round(avg(doc_nll), 4) AS avg_nll,
      |  round(min(doc_nll), 4) AS min_nll,
      |  round(max(doc_nll), 4) AS max_nll
      |FROM sc GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------- CCNet-style tiers
  /** CCNet quality tiers (Wenzek et al. 2020 §4.3, public): per-doc
    * unigram NLL splits each language into head/middle/tail terciles —
    * the bucketing CCNet actually ships as its output layout; reported
    * as per-(lang, tier) doc counts and token budgets.
    *
    * Determinism across engines: the tercile assignment is EXACTLY
    * `ntile(3) OVER (PARTITION BY lang ORDER BY doc_nll, doc_id)` — the
    * NLL is ROUNDED to 6 dp with doc_id as the tie-break, so raw-double
    * ~1e-15 summation-order differences cannot swap adjacent docs at a
    * tercile boundary (the oracle keeps the literal NTILE form).
    *
    * Scale: the naive NTILE window hash-partitions on `lang` alone — a
    * handful of reducers each sorting an entire language's per-doc table,
    * the classic low-cardinality-window funnel. The production path here
    * computes the SAME ranks without it, via [[bucketedNtile]]: an
    * approximate per-lang NLL histogram (percentile_approx — tiny agg,
    * broadcast) pre-buckets docs map-side; exact per-bucket counts
    * (another tiny agg) prefix-sum into global rank offsets; then the
    * only sort windows run per (lang, bucket) — each ~n/B docs, spread
    * over all reducers. Bucket cut precision never affects the answer
    * (any cuts yield correct ranks — only balance varies); B is
    * [[bucketedNtile]]'s `buckets` (default 64; size so n_docs/B fits a
    * reducer's sort budget at the target corpus). */
  val qualityTiers: Q = (s, dir) => {
    val (tok, lm) = unigramLm(s, dir)
    val perDoc = tok.join(broadcast(lm), "tok")
      .groupBy(col("lang"), col("doc_id"))
      .agg(round(avg(col("nll")), 6).as("doc_nll"), count(lit(1)).as("n_tok"))
    bucketedNtile(perDoc, 3)
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("token_budget"),
        round(min(col("doc_nll")), 4).as("min_nll"),
        round(max(col("doc_nll")), 4).as("max_nll"))
      .orderBy(col("lang"), col("tier"))
  }

  /** Exact `ntile(k) OVER (PARTITION BY lang ORDER BY doc_nll, doc_id)`
    * without a per-lang full-partition sort. Input must carry
    * (lang, doc_id, doc_nll); output adds `tier`.
    *
    * Mechanics — [[rankBuckets]] over (lang, doc_nll) with B =
    * `buckets` (per-lang cuts plus the per-lang doc count, the map-side
    * bucket, per-(lang, bucket) counts prefix-summed into rank offsets),
    * then row_number per (lang, bucket) + offset = exact global rank;
    * ntile arithmetic from the per-lang count closes it.
    * Ties on doc_nll land in one bucket by construction (bucket is a
    * function of doc_nll alone), so bucket-major + in-bucket
    * (doc_nll, doc_id) order IS the global (doc_nll, doc_id) order.
    *
    * Bound: value-based bucketing cannot split TIES, so a language
    * whose docs all share one rounded NLL degenerates back to a
    * single-reducer sort for that language — the inherent limit of
    * ranking by (value, id) without shuffling on id. Real NLLs at 6 dp
    * are effectively unique per doc; a corpus pathological enough to
    * tie a whole language is one where the tercile is meaningless
    * anyway. */
  private[graft] def bucketedNtile(perDoc: DataFrame, k: Int,
      buckets: Int = 64): DataFrame = {
    val (bucketed, offs) = rankBuckets(perDoc, "lang", "doc_nll",
      count(lit(1)), buckets, count(lit(1)).as("n_lang"))
    val bw = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("doc_nll"), col("doc_id"))
    bucketed.withColumn("lr", row_number().over(bw))
      .join(broadcast(offs), Seq("lang", "bucket"))
      .withColumn("rnk", col("off") + col("lr"))
      // ntile(k) over n rows: the first n%k tiles get ceil(n/k) rows,
      // the rest floor(n/k); degenerate n<k ⇒ tier = rank. All divisions
      // are explicit floor-div: Column./ is ALWAYS double division in
      // Spark SQL, which silently truncates tier boundaries wrong.
      .withColumn("tier", {
        def fdiv(a: Column, b: Column): Column = floor(a / b).cast("long")
        val n = col("n_lang"); val r = col("rnk")
        val base = fdiv(n, lit(k)); val rem = n % k
        val bigSpan = rem * (base + lit(1))
        when(base === 0, r.cast("int"))
          .otherwise((when(r <= bigSpan, fdiv(r - 1, base + lit(1)) + 1)
            .otherwise(rem + fdiv(r - 1 - bigSpan, base) + 1)).cast("int"))
      })
      .drop("bucket", "lr", "off", "rnk", "n_lang")
  }

  /** The steps [[bucketedNtile]] and [[bucketedPrefixSum]] share: per-`grp`
    * cuts = percentile_approx(`ord`, 1/B..(B-1)/B) (plus `grpAggs`, one
    * small row per group, broadcast); the map-side `bucket` = #cuts ≤
    * `ord` (a flat fold over B-1 doubles — codegen-friendly, no nested
    * HOF); and per-(grp, bucket) totals of `weight` prefix-summed into
    * the exclusive offset `off` (a window over ≤B rows per group).
    * Returns (`df` + `bucket` + the `grpAggs` columns, (grp, bucket,
    * off)). Cut precision moves only bucket balance, never the answer. */
  private def rankBuckets(df: DataFrame, grp: String, ord: String,
      weight: Column, buckets: Int, grpAggs: Column*): (DataFrame, DataFrame) = {
    require(buckets >= 2, s"rank buckets must be >= 2, got $buckets")
    val pcts = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    val cuts = df.groupBy(col(grp))
      .agg(percentile_approx(col(ord).cast("double"), pcts, lit(10000)).as("cuts"),
        grpAggs: _*)
    val bucketed = df.join(broadcast(cuts), Seq(grp))
      .withColumn("bucket",
        expr(s"aggregate(cuts, 0, (acc, c) -> acc + IF($ord >= c, 1, 0))"))
      .drop("cuts")
    val offs = bucketed.groupBy(col(grp), col("bucket"))
      .agg(weight.as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.partitionBy(col(grp)).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(grp), col("bucket"), col("off"))
    (bucketed, offs)
  }

  val qualityTiersSql: String =
    """WITH tk AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |lm AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
      |tot AS (SELECT sum(cnt) AS total FROM lm),
      |sc AS (SELECT lang, doc_id, round(avg(-ln(cnt * 1.0 / total)), 6) AS doc_nll,
      |       count(*) AS n_tok
      |       FROM tk JOIN lm USING (tok) CROSS JOIN tot
      |       GROUP BY lang, doc_id),
      |tiers AS (SELECT lang, doc_nll, n_tok,
      |       ntile(3) OVER (PARTITION BY lang ORDER BY doc_nll, doc_id) AS tier
      |       FROM sc)
      |SELECT lang, tier, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS token_budget,
      |  round(min(doc_nll), 4) AS min_nll,
      |  round(max(doc_nll), 4) AS max_nll
      |FROM tiers GROUP BY lang, tier ORDER BY lang, tier""".stripMargin

  /** Exact running sum of `value` over `PARTITION BY grp ORDER BY ord`
    * (ord UNIQUE within grp) without a per-grp full-partition sort —
    * the prefix-sum twin of [[bucketedNtile]] over the same
    * [[rankBuckets]]: the running sum runs per (grp, bucket) (~n/B
    * rows, all reducers) and per-bucket `value` totals prefix into
    * broadcast offsets. Adds `cum`. B = `buckets`. */
  private[graft] def bucketedPrefixSum(df: DataFrame, grp: String, ord: String,
      value: String, buckets: Int = 64): DataFrame = {
    val (bucketed, offs) = rankBuckets(df, grp, ord, sum(col(value)), buckets)
    val bw = Window.partitionBy(col(grp), col("bucket")).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.withColumn("lcum", sum(col(value)).over(bw))
      .join(broadcast(offs), Seq(grp, "bucket"))
      .withColumn("cum", col("off") + col("lcum"))
      .drop("bucket", "lcum", "off")
  }

  // ---------------------------------------------- curation pipeline v2
  /** End-to-end curation chain in ONE Catalyst plan, using the Gopher
    * rule subset that needs no augmentation (word-count, mean-word-
    * length, stop-word floor — all integer-exact on raw text) →
    * exact dedup keep-first → per-language 2000-token pack manifest.
    * The 100 TB shape: one scan, the dedup window shuffle on md5(text),
    * then the pack prefix sum via [[bucketedPrefixSum]] (r13 — the
    * per-lang running-sum window was the same ≤#languages-reducer
    * funnel quality_tiers had; now the only lang-keyed sort is over
    * (lang, bucket) slices with broadcast offset joins). Each stage is
    * the gated single-op twin's logic verbatim, so the oracle is the
    * same CTEs chained. */
  val pipelineCurationV2: Q = (s, dir) => {
    val byHash = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val deduped = t(s, dir, "documents")
      .withColumn("n", size(toks))
      .withColumn("nonspace", length(col("text")) - col("n") + 1)
      .withColumn("n_stop", expr("count_in(split(text, ' '), " + stopLits + ")"))
      .filter(col("n") >= 50 && col("n") <= 100000 &&
        col("nonspace") >= col("n") * 3 && col("nonspace") <= col("n") * 10 &&
        col("n_stop") >= 2)
      .withColumn("h", unhex(md5(col("text"))))
      .withColumn("rn", row_number().over(byHash))
      .filter(col("rn") === 1)
      .select(col("lang"), col("doc_id"), col("n"))
    bucketedPrefixSum(deduped, "lang", "doc_id", "n")
      .withColumn("pack", expr("(cum - n) div 2000"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("long").as("token_budget"),
        countDistinct(col("pack")).as("n_packs"))
      .orderBy(col("lang"))
  }

  val pipelineCurationV2Sql: String =
    """WITH m AS (
      |  SELECT doc_id, lang, text,
      |    len(string_split(text, ' ')) AS n,
      |    length(text) - len(string_split(text, ' ')) + 1 AS nonspace,
      |    len(list_filter(string_split(text, ' '),
      |      x -> list_contains(['the','a','of','and','in','to','is','that'], x))) AS n_stop
      |  FROM documents),
      |g AS (SELECT * FROM m
      |      WHERE n >= 50 AND n <= 100000
      |        AND nonspace >= n * 3 AND nonspace <= n * 10 AND n_stop >= 2),
      |k AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM g),
      |p AS (SELECT lang, doc_id, n,
      |      sum(n) OVER (PARTITION BY lang ORDER BY doc_id
      |                   ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM k WHERE rn = 1)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS token_budget,
      |  CAST(count(DISTINCT (cum - n) // 2000) AS BIGINT) AS n_packs
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------- fuzzy decontamination
  /** Fuzzy eval-set decontamination: real leakage is NEAR-duplicate
    * (reformatted, truncated, re-wrapped eval items), so the check is
    * the minhash near-dup pipeline pointed at the eval boundary —
    * verified (jaccard ≥ 0.8) pairs with the src0 eval set on exactly
    * one side, reported per corpus source as leaked-doc counts + worst
    * overlap. Rides [[collapsedPairVerify]]+[[minhashCandidates]]
    * unchanged, so the full 100 TB posture (banded LSH candidates,
    * exact-dup collapse, candidate-restricted verify) transfers — and
    * the exact [[contaminationCheck]] (shingle-overlap fraction)
    * remains the companion for verbatim leakage.
    *
    * RECALL CONTRACT (r13, advisor item): this check inherits the LSH
    * recall bound, NOT exhaustive recall — a true j ≥ 0.8 pair is
    * missed iff no band of 4 rows collides: miss ≤ (1 − j⁴)⁸ ≈ 1.5%
    * at j = 0.8, vanishing as j → 1 (verbatim leakage is caught by
    * [[contaminationCheck]] regardless). The oracle REPLAYS the same
    * banding (the `cand` CTE, as minhashNearDupSql does), so both
    * engines verify the identical candidate set and the gate is exact
    * over the defined output — not data-dependently "exact all-pairs
    * happened to equal LSH on this fixture". The collapse equivalence
    * argument (signatures are a function of the text alone) makes the
    * doc-level oracle banding identical to the Spark side's rep-level
    * banding, intra-group pairs included. */
  val contaminationFuzzy: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val pairs = collapsedPairVerify(docs)(minhashCandidates)
    val src = docs.select(col("doc_id"), col("source"))
    val hits = pairs
      .join(src.as("sa"), col("da") === col("sa.doc_id"))
      .join(src.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), col("jaccard"),
        col("sa.source").as("src_a"), col("sb.source").as("src_b"))
      .filter((col("src_a") === "src0") =!= (col("src_b") === "src0"))
      .select(
        when(col("src_a") === "src0", col("db")).otherwise(col("da")).as("doc_id"),
        when(col("src_a") === "src0", col("src_b")).otherwise(col("src_a")).as("source"),
        col("jaccard"))
      .groupBy(col("doc_id"), col("source"))
      .agg(max(col("jaccard")).as("best_j"))
    docs.filter(col("source") =!= "src0")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(hits.groupBy(col("source"))
        .agg(count(lit(1)).as("n_leaked"), max(col("best_j")).as("max_jaccard")),
        Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
      .orderBy(col("source"))
  }

  val contaminationFuzzySql: String =
    s"""WITH $shingleCte,
       |$minhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM bands x JOIN bands y
       |    ON x.bucket = y.bucket AND x.band = y.band AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i.da, i.db, round(i.c * 1.0 / (sa.n + sb.n - i.c), 4) AS jaccard
       |  FROM cand JOIN inter i ON cand.da = i.da AND cand.db = i.db
       |  JOIN sizes sa ON i.da = sa.doc_id
       |  JOIN sizes sb ON i.db = sb.doc_id
       |  WHERE round(i.c * 1.0 / (sa.n + sb.n - i.c), 4) >= 0.8),
       |srcs AS (SELECT doc_id, source FROM documents),
       |hits0 AS (
       |  SELECT CASE WHEN x.source = 'src0' THEN p.db ELSE p.da END AS doc_id,
       |         CASE WHEN x.source = 'src0' THEN y.source ELSE x.source END AS source,
       |         p.jaccard
       |  FROM pairs p
       |  JOIN srcs x ON p.da = x.doc_id
       |  JOIN srcs y ON p.db = y.doc_id
       |  WHERE (x.source = 'src0') <> (y.source = 'src0')),
       |hit AS (
       |  SELECT doc_id, source, max(jaccard) AS best_j
       |  FROM hits0 GROUP BY 1, 2),
       |base AS (SELECT source, count(*) AS n_docs FROM documents
       |         WHERE source <> 'src0' GROUP BY 1)
       |SELECT base.source, n_docs,
       |  CAST(coalesce(count(hit.doc_id), 0) AS BIGINT) AS n_leaked,
       |  coalesce(max(hit.best_j), 0.0) AS max_jaccard
       |FROM base LEFT JOIN hit USING (source)
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ------------------------------------------------- heavy hitters (MG)
  /** Exact corpus heavy hitters (tokens with count ≥ 2% of all tokens)
    * through the bounded-memory candidates+verify pattern:
    *
    * 1. one scan folds the token stream into a mergeable Misra–Gries
    *    summary (`misra_gries` native aggregate, capacity 64 ≥ 1/φ) —
    *    per MG's guarantee the summary's key set is a SUPERSET of every
    *    term with count > N/65, and only one ≤64-entry buffer per
    *    partition ever moves;
    * 2. the candidate terms broadcast back onto the token stream and an
    *    exact count runs over candidate rows ONLY — so the output is
    *    EXACT (the oracle is a plain GROUP BY … HAVING), but the
    *    full-cardinality term shuffle a naive top-terms would pay at
    *    100 TB never happens.
    *
    * The threshold comparison is `cnt ≥ N · 0.02` with integer cnt/N —
    * one IEEE multiply, identical in both engines. */
  val heavyHitters: Q = (s, dir) => {
    val tok = t(s, dir, "documents").select(explode(toks).as("tok"))
    val mg = tok.agg(expr("misra_gries(tok)").as("s"))
      .select(col("s.n").as("n"), explode(col("s.terms")).as("tok"))
    tok.join(broadcast(mg), "tok")
      .groupBy(col("tok").as("term"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").cast("double") >= col("n").cast("double") * 0.02)
      .select(col("term"), col("cnt"))
      .orderBy(col("term"))
  }

  val heavyHittersSql: String =
    """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |SELECT tok AS term, CAST(count(*) AS BIGINT) AS cnt
      |FROM tk GROUP BY tok
      |HAVING count(*) >= (SELECT count(*) FROM tk) * 0.02
      |ORDER BY term""".stripMargin

  val queries: Map[String, Q] = Map(
    "pipeline_training_data" -> pipelineTrainingData,
    "regex_token_stats" -> regexTokenStats,
    "minhash_signatures" -> minhashSignatures,
    "exact_dedup_docs" -> exactDedupDocs,
    "dedup_keep_first" -> dedupKeepFirst,
    "doc_token_stats" -> docTokenStats,
    "bm25_topk" -> bm25TopK,
    "bm25_single_term" -> bm25SingleTerm,
    "chunk_documents" -> chunkDocuments,
    "pack_sequences" -> packSequences,
    "chunk_pack_pipeline" -> chunkPackPipeline,
    "top_terms" -> topTerms,
    "tfidf_top_terms" -> tfidfTopTerms,
    "text_quality" -> textQuality,
    "lang_id_heuristic" -> langIdHeuristic,
    "doc_fingerprint" -> docFingerprint,
    "ngram_jaccard_pairs" -> ngramJaccardPairs,
    "minhash_near_dup" -> minhashNearDup,
    "cc_dedup_groups" -> ccDedupGroups,
    "simhash_buckets" -> simhashBuckets,
    "dataset_split" -> datasetSplit,
    "shuffle_shards" -> shuffleShards,
    "stratified_sample" -> stratifiedSample,
    "quality_gate_stratified" -> qualityGateStratified,
    "contamination_check" -> contaminationCheck,
    "repetition_stats" -> repetitionStats,
    "incremental_dedup" -> incrementalDedup,
    "incremental_dedup_bloom" -> incrementalDedupBloom,
    "incremental_near_dedup" -> incrementalNearDedup,
    "incremental_near_dedup_indexed" -> incrementalNearDedupIndexed,
    "pii_redact" -> piiRedact,
    "repeated_ngram_spans" -> repeatedNgramSpans,
    "dup_ngram_doc_filter" -> dupNgramDocFilter,
    "line_dedup_docs" -> lineDedupDocs,
    "mixture_weighted_repeat" -> mixtureWeightedRepeat,
    "url_dedup_normalized" -> urlDedupNormalized,
    "exact_substring_dedup" -> exactSubstringDedup,
    "quality_gopher" -> qualityGopher,
    "quality_c4" -> qualityC4,
    "unigram_logprob" -> unigramLogprob,
    "heavy_hitters" -> heavyHitters,
    "contamination_fuzzy" -> contaminationFuzzy,
    "pipeline_curation_v2" -> pipelineCurationV2,
    "quality_tiers" -> qualityTiers,
  )

  val oracle: Map[String, String] = Map(
    "pipeline_training_data" -> pipelineTrainingDataSql,
    "regex_token_stats" -> regexTokenStatsSql,
    "minhash_signatures" -> minhashSignaturesSql,
    "exact_dedup_docs" -> exactDedupDocsSql,
    "dedup_keep_first" -> dedupKeepFirstSql,
    "doc_token_stats" -> docTokenStatsSql,
    "bm25_topk" -> bm25TopKSql,
    "bm25_single_term" -> bm25SingleTermSql,
    "chunk_documents" -> chunkDocumentsSql,
    "pack_sequences" -> packSequencesSql,
    "chunk_pack_pipeline" -> chunkPackPipelineSql,
    "top_terms" -> topTermsSql,
    "tfidf_top_terms" -> tfidfTopTermsSql,
    "text_quality" -> textQualitySql,
    "lang_id_heuristic" -> langIdHeuristicSql,
    "doc_fingerprint" -> docFingerprintSql,
    "ngram_jaccard_pairs" -> ngramJaccardPairsSql,
    "minhash_near_dup" -> minhashNearDupSql,
    "cc_dedup_groups" -> ccDedupGroupsSql,
    "simhash_buckets" -> simhashBucketsSql,
    "dataset_split" -> datasetSplitSql,
    "shuffle_shards" -> shuffleShardsSql,
    "stratified_sample" -> stratifiedSampleSql,
    "quality_gate_stratified" -> qualityGateStratifiedSql,
    "contamination_check" -> contaminationCheckSql,
    "repetition_stats" -> repetitionStatsSql,
    "incremental_dedup" -> incrementalDedupSql,
    "incremental_dedup_bloom" -> incrementalDedupBloomSql,
    "incremental_near_dedup" -> incrementalNearDedupSql,
    "incremental_near_dedup_indexed" -> incrementalNearDedupIndexedSql,
    "pii_redact" -> piiRedactSql,
    "repeated_ngram_spans" -> repeatedNgramSpansSql,
    "dup_ngram_doc_filter" -> dupNgramDocFilterSql,
    "line_dedup_docs" -> lineDedupDocsSql,
    "mixture_weighted_repeat" -> mixtureWeightedRepeatSql,
    "url_dedup_normalized" -> urlDedupNormalizedSql,
    "exact_substring_dedup" -> exactSubstringDedupSql,
    "quality_gopher" -> qualityGopherSql,
    "quality_c4" -> qualityC4Sql,
    "unigram_logprob" -> unigramLogprobSql,
    "heavy_hitters" -> heavyHittersSql,
    "contamination_fuzzy" -> contaminationFuzzySql,
    "pipeline_curation_v2" -> pipelineCurationV2Sql,
    "quality_tiers" -> qualityTiersSql,
  )
}
