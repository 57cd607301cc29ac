package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Source/sink format coverage beyond parquet (SURVEY §2B row 1-2): the
  * formats an LLM-corpus lake actually ingests. Each gate writes a
  * fixture from the driver tables, reads it back through the format
  * under test, and reduces — the oracle runs the same reduction over
  * the ORIGINAL parquet, so any escaping, type-mapping, row-boundary,
  * or partition-layout defect in the round-trip breaks the hash.
  */
object SourceQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Fixture dir keyed by (sf dir, tag, THIS Spark app) — the app id
    * makes concurrent runs over the same sfDir (Bench and Verify racing)
    * write disjoint paths, so one process's mode("overwrite") delete can
    * never collide with the other's read. Registered for JVM-exit
    * cleanup: run-keyed dirs are never reused and would otherwise
    * accumulate a full fixture copy per invocation. */
  private def tmp(s: SparkSession, dir: String, tag: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_src_${tag}_${math.abs(dir.hashCode)}_${s.sparkContext.applicationId}").toString
    TmpCleanup.register(p)
    p
  }

  /** documents → JSON-LINES on disk → schema-pinned read-back → per-lang
    * reduction. JSONL is the lingua franca of text-corpus interchange;
    * reading it back with the parquet schema (not inference) is the
    * production shape — inference at 100 TB is a full extra pass. */
  val jsonlRoundtrip: Q = (s, dir) => {
    val out = tmp(s, dir, "jsonl")
    val docs = t(s, dir, "documents")
    docs.write.mode("overwrite").json(out)
    s.read.schema(docs.schema).json(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"))
      .orderBy(col("lang"))
  }

  val jsonlRoundtripSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Adversarial rows unioned onto documents before the CSV write — the
    * exact characters where CSV interchange breaks: embedded newline,
    * embedded quote, commas, backslash, the empty string, and a NULL
    * text. They are part of the hashed reduction (the oracle unions the
    * same literals in SQL), so a mis-parsed row boundary, a dropped
    * escape, or an empty-string-read-as-null all break the gate. */
  private def advRows(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq[(Long, Option[String], String, String, Long)](
      (900001L, Some("line1\nline2"), "zz", "adv", 11L),
      (900002L, Some("a,\"quoted\",b"), "zz", "adv", 12L),
      (900003L, Some("back\\slash,end"), "zz", "adv", 14L),
      (900004L, Some(""), "zz", "adv", 0L),
      (900005L, None, "zz", "adv", 5L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** documents (+ adversarial rows) → quoted CSV → schema-pinned
    * multiLine read-back → per-lang reduction incl. count(text), which
    * separates NULL from empty. nullValue is pinned to `\N` on BOTH
    * sides so the empty string survives the cycle (Spark's default reads
    * empty fields as null). CSV is where interchange breaks in practice
    * — free text full of commas and quotes must survive the quote/escape
    * cycle byte-for-byte or sum_text_len moves. */
  val csvRoundtrip: Q = (s, dir) => {
    val out = tmp(s, dir, "csv")
    val docs = t(s, dir, "documents").unionByName(advRows(s))
    docs.write.mode("overwrite").option("header", "true")
      .option("nullValue", "\\N").csv(out)
    s.read.schema(docs.schema).option("header", "true")
      .option("multiLine", "true").option("nullValue", "\\N").csv(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"),
        count(col("text")).as("n_text"))
      .orderBy(col("lang"))
  }

  val csvRoundtripSql: String =
    """WITH aug AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (900001, 'line1' || chr(10) || 'line2', 'zz', 'adv', 11),
      |    (900002, 'a,"quoted",b', 'zz', 'adv', 12),
      |    (900003, 'back\slash,end', 'zz', 'adv', 14),
      |    (900004, '', 'zz', 'adv', 0),
      |    (900005, NULL, 'zz', 'adv', 5)
      |  ) v(doc_id, text, lang, source, n_chars)
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |  count(text) AS n_text
      |FROM aug GROUP BY lang ORDER BY lang""".stripMargin

  /** lineitem → ORC → read-back → q1-shaped reduction. ORC is Spark's
    * other first-class columnar format (Hive lakes); the gate proves the
    * type mapping (DOUBLE/STRING/TIMESTAMP) survives the round-trip. */
  val orcRoundtrip: Q = (s, dir) => {
    val out = tmp(s, dir, "orc")
    t(s, dir, "lineitem").write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  val orcRoundtripSql: String =
    """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
      |  count(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** orders → hive-layout PARTITIONED parquet (partitionBy status) →
    * filtered read-back. The filter must land as a PartitionFilter —
    * directory pruning, zero foreign files opened (plan asserted in
    * SourcesSpec) — which IS the 100 TB scan-cost mechanism: a
    * status='F' query over a petabyte lake reads only status=F/ files. */
  val partitionedPrune: Q = (s, dir) => {
    val out = tmp(s, dir, "part")
    t(s, dir, "orders").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(out)
    prunedScan(s, out)
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** The filtered read-back, factored un-aggregated so SourcesSpec can
    * assert the PartitionFilters plan shape. */
  private[graft] def prunedScan(s: SparkSession, out: String): DataFrame =
    graft.Tables.parquet(s, out).filter(col("o_orderstatus") === "F")

  val partitionedPruneSql: String =
    """SELECT count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** documents → Common-Crawl-layout `.warc.wet.gz` shards (one gzip
    * member per record, a `warcinfo` lead record per file) → streamed
    * WARC parse → per-record (uri, length, md5). The fixture is 200 docs
    * across 4 shard files, so multi-member gzip, the header/payload
    * framing, the record-type filter (warcinfo must NOT surface) and
    * cross-shard union all sit under the hash; the oracle recomputes
    * uri/length/md5 straight from the documents table. This is stage
    * zero of a 100 TB pipeline — at scale the same reader runs one task
    * per shard file, which is exactly the crawl-dump parallelism grain
    * (gzip is unsplittable by design there). */
  /** Write the shared WET fixture (docs 0–199 as 4 Common-Crawl-layout
    * shards with warcinfo lead records) into `out` — used by both the
    * batch gate here and the streaming ingest gate. */
  private[graft] def writeWetShards(s: SparkSession, dir: String, out: String): Unit = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    for (shard <- 0 until 4) {
      val recs = docs.filter(_._1 % 4 == shard).sortBy(_._1)
        .map { case (id, src, text) => (s"https://example.com/$src/$id", text) }
      java.nio.file.Files.write(outDir.resolve(f"wet_$shard%02d.warc.wet.gz"),
        graft.sources.WarcSource.encodeWetGz(recs.toIndexedSeq))
    }
  }

  /** documents → 32 deliberately tiny parquet files → [[graft.sources.Lake.compact]]
    * (size-targeted, range-partitioned on doc_id, sorted within files) →
    * read-back → per-lang reduction. Compaction is the lake hygiene pass
    * a 100 TB corpus runs continuously behind streaming sinks and
    * incremental ingest — thousands of small files per micro-batch decay
    * scan parallelism and NameNode/manifest pressure until a compactor
    * rewrites them at the target size. The gate hashes CONTENT
    * preservation through the rewrite (count, sums, and an order-exact
    * doc_id checksum, so a dropped, duplicated, or reordered-within-key
    * row breaks it); LakeSpec pins the layout mechanics (file-count
    * reduction, disjoint contiguous key ranges per file — the
    * query-time file-pruning property). */
  val lakeCompactRoundtrip: Q = (s, dir) => {
    val in = tmp(s, dir, "compact_in")
    val out = tmp(s, dir, "compact_out")
    t(s, dir, "documents").repartition(32).write.mode("overwrite").parquet(in)
    graft.sources.Lake.compact(s, in, out, sortKey = "doc_id", targetMb = 4)
    graft.Tables.parquet(s, out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id") * col("doc_id")).as("id_checksum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  val lakeCompactRoundtripSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(doc_id * doc_id) AS BIGINT) AS id_checksum,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** events → hive date-partitioned parquet with MANY small files per
    * day dir (8-way pre-repartition, the streaming-sink decay shape) →
    * [[graft.sources.Lake.compactPartitioned]] (size-targeted,
    * layout-preserving, sorted within files) → read-back → per-day
    * reduction. The gate hashes content preservation THROUGH the
    * partition-preserving rewrite; LakeSpec pins the layout mechanics
    * (per-dir file collapse, hive dirs intact, partition pruning still
    * landing on the compacted output). */
  val lakeCompactPartitioned: Q = (s, dir) => {
    val in = tmp(s, dir, "pcompact_in")
    val out = tmp(s, dir, "pcompact_out")
    t(s, dir, "events")
      .select(col("user_id"), col("value"), to_date(col("ts")).as("event_date"))
      .repartition(8)
      .write.mode("overwrite").partitionBy("event_date").parquet(in)
    graft.sources.Lake.compactPartitioned(s, in, out,
      partitionCol = "event_date", sortKey = "user_id", targetMb = 4)
    graft.Tables.parquet(s, out)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        sum(col("user_id")).as("uid_checksum"))
      .orderBy(col("event_date"))
  }

  val lakeCompactPartitionedSql: String =
    """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value,
      |  CAST(sum(user_id) AS BIGINT) AS uid_checksum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val warcWetIngest: Q = (s, dir) => {
    val out = tmp(s, dir, "wet")
    writeWetShards(s, dir, out)
    graft.sources.WarcSource.readWet(s, s"$out/*.warc.wet.gz")
      .filter(col("rec_type") === "conversion")
      .select(col("uri"),
        length(col("text")).cast("long").as("n_chars_rt"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("uri"))
  }

  val warcWetIngestSql: String =
    """SELECT 'https://example.com/' || source || '/' || CAST(doc_id AS VARCHAR) AS uri,
      |  CAST(length(text) AS BIGINT) AS n_chars_rt, md5(text) AS text_md5
      |FROM documents WHERE doc_id < 200 ORDER BY uri""".stripMargin

  val queries: Map[String, Q] = Map(
    "jsonl_source_roundtrip" -> jsonlRoundtrip,
    "csv_source_roundtrip" -> csvRoundtrip,
    "orc_source_roundtrip" -> orcRoundtrip,
    "partitioned_lake_prune" -> partitionedPrune,
    "lake_compact_roundtrip" -> lakeCompactRoundtrip,
    "lake_compact_partitioned" -> lakeCompactPartitioned,
    "warc_wet_ingest" -> warcWetIngest,
  )

  val oracle: Map[String, String] = Map(
    "jsonl_source_roundtrip" -> jsonlRoundtripSql,
    "csv_source_roundtrip" -> csvRoundtripSql,
    "orc_source_roundtrip" -> orcRoundtripSql,
    "partitioned_lake_prune" -> partitionedPruneSql,
    "lake_compact_roundtrip" -> lakeCompactRoundtripSql,
    "lake_compact_partitioned" -> lakeCompactPartitionedSql,
    "warc_wet_ingest" -> warcWetIngestSql,
  )
}
