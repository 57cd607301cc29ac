package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lake-layout utilities — the 100 TB storage posture the flat test
  * parquet stands in for (SURVEY.md §1.2: "at 100 TB these would be
  * catalog tables").
  *
  * - `bucketize` writes a table bucketed+sorted by its join key; two
  *   tables bucketed the same way join with ZERO shuffle (verified in
  *   LakeSpec by asserting no Exchange in the physical plan).
  * - `saltedJoin` spreads a skewed build-side key across `salt` synthetic
  *   sub-keys — the standard hot-key mitigation when AQE's skew split
  *   isn't available (e.g. broadcast-unfriendly aggregations).
  */
object Lake {

  /** Stable identifier-safe suffix for per-dataset table/dir names.
    *
    * md5 of the CANONICAL path (symlink/`..`-normalized), hex-truncated:
    * never negative (the old `math.abs(hashCode)` emitted an invalid
    * `-214…` identifier for Int.MinValue) and collision-safe across sf
    * dirs (a 32-bit hashCode collision between two dirs would silently
    * reuse the wrong-scale bucketed tables within a session). 12 hex
    * chars = 48 bits — collision odds are negligible at
    * handfuls-of-dirs cardinality. */
  def dirSuffix(dir: String): String = {
    val canonical =
      try new java.io.File(dir).getCanonicalPath catch { case _: java.io.IOException => dir }
    keySuffix(canonical)
  }

  /** md5-hex-12 of an arbitrary key string — the same identifier-safe
    * suffix for keys that are not paths (content fingerprints). */
  def keySuffix(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  // ------------------------------------------------- durable layouts
  /** Content fingerprint of a layout's source file: canonical path +
    * size + mtime + a LAYOUT-VERSION tag (bump the tag when the write
    * format changes, so stale-format builds are swept like stale-source
    * ones). A regenerated source file can never be served a stale
    * layout. */
  def layoutFingerprint(src: java.io.File, versionTag: String): String = {
    val canonical =
      try src.getCanonicalPath catch { case _: java.io.IOException => src.getPath }
    keySuffix(s"$canonical:${src.length}:${src.lastModified}:$versionTag")
  }

  /** True iff the durable layout at `root` finished building. */
  def layoutComplete(root: java.io.File): Boolean =
    new java.io.File(root, "_SUCCESS").isFile

  private[graft] def deleteTree(d: java.io.File): Unit = {
    import scala.jdk.CollectionConverters._
    if (d.exists()) {
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => p.toFile.delete())
    }
  }

  /** Build-if-absent harness for a durable fingerprinted layout dir
    * (`<prefix>_<fp12>` — the shared machinery behind the month
    * lineitem, day events, and bucketed fact layouts). Durability is
    * the honest-bench requirement: probing a multi-GB layout in the
    * same JVM that just built it measures the build's page-cache
    * eviction, not the layout (BASELINE.md, r17 measurement lesson).
    *
    * Race-safe for concurrent Bench/Verify: each builder writes an
    * app-id-suffixed temp dir and atomically renames it in; the rename
    * loser deletes its copy and reads the winner's. Stale fingerprints
    * of the same prefix are swept AFTER the new layout lands (r17, per
    * ADVICE: sweeping first widened the window in which a concurrent
    * older-fingerprint reader loses its files mid-scan). Residual and
    * documented trade: regenerating the source while an older run is
    * still executing invalidates that run's layout-backed legs — disk
    * stays bounded at one live layout per source instead of serving
    * arbitrarily many stale generations. */
  def ensureLayout(s: SparkSession, root: java.io.File)(
      build: java.io.File => Unit): Unit = {
    if (layoutComplete(root)) return
    val tmp = new java.io.File(root.getParentFile,
      s"${root.getName}_tmp_${s.sparkContext.applicationId}")
    // a crashed build must not strand a multi-GB temp dir: the stale
    // sweep below deliberately never matches `_tmp_` names (they may be
    // a CONCURRENT builder's live write), so this failed-own-build is
    // the only safe point to reclaim it (r18 ADVICE)
    try build(tmp)
    catch { case e: Throwable => deleteTree(tmp); throw e }
    if (!tmp.renameTo(root)) {
      deleteTree(tmp)
      require(layoutComplete(root),
        s"layout rename failed and no complete layout at $root")
    }
    // match ONLY completed layout dirs — exactly prefix + 12 hex, never
    // `_tmp_<app>` dirs: a concurrent builder's in-progress temp matches
    // the bare prefix and deleting it would kill its build mid-write
    val prefix = root.getName.dropRight(12)
    val stale = s"${java.util.regex.Pattern.quote(prefix)}[0-9a-f]{12}".r
    Option(root.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => stale.pattern.matcher(f.getName).matches()
        && f.getName != root.getName)
      .foreach(deleteTree)
  }

  /** One-command layout lifecycle (r18 verdict #7): build-or-validate
    * EVERY durable fingerprinted layout for `dir` in one pass — month
    * lineitem, day events, the bucketed facts, the bench signature
    * index, and the IVF-PQ ANN index — returning (layout, reused,
    * build_s) rows. Build-once /
    * reuse-forever is the engine's core lake economics; this is the
    * deterministic path from a fresh environment to the benched state
    * (and on a warm one it validates all-reused at ~0.1 s/layout).
    * Driven by `SPARK_GRAFT_ENSURE=1` on the Bench main. */
  def ensureAll(s: SparkSession, dir: String): Seq[(String, Boolean, Double)] = {
    def timed(tag: String, exists: => Boolean)(build: => Unit) = {
      val reused = exists
      val t0 = System.nanoTime()
      build
      (tag, reused, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      timed("month_lineitem", graft.queries.Relational.monthLayoutExists(dir)) {
        graft.queries.Relational.monthLineitem(s, dir); ()
      },
      timed("day_events", graft.queries.Relational.dayEventsLayoutExists(dir)) {
        graft.queries.Relational.dayEvents(s, dir); ()
      },
      timed("bucketed_facts", graft.queries.Relational.bucketedLayoutExists(dir)) {
        graft.queries.Relational.bucketedFacts(s, dir); ()
      },
      { val (r, b) = SigIndex.ensureBenchIndex(s, dir); ("sig_index", r, b) },
      timed("pq_index", graft.queries.Similarity.pqIndexExists(dir)) {
        graft.queries.Similarity.ensurePqIndex(s, dir); ()
      })
  }

  /** Write `df` date-partitioned by calendar month of `tsCol` — the
    * TIME-axis lake layout (the bucketed layout's twin for scans instead
    * of joins). The derived `monthCol` becomes a hive-style partition
    * directory (`ship_month=1995-02-01/`), so:
    *
    *  - a month-grouped aggregate reads the grouping key from DIRECTORY
    *    METADATA — the timestamp column never appears in the scan's
    *    ReadSchema (at 100 TB, decoding 600B timestamps IS the wall);
    *  - any time-range predicate lands as a PartitionFilter — directory
    *    pruning, zero foreign files opened, the same mechanism
    *    `partitioned_lake_prune` gates for categorical keys.
    *
    * `tsCol` itself is RETAINED in the data files: month is the
    * partition grain, finer predicates (a specific cut date) still push
    * down as parquet filters within the selected months.
    *
    * The `repartition(col(monthCol))` before the write is load-bearing
    * the same way [[bucketize]]'s is: it hash-clusters each month into
    * exactly one task, so every partition directory holds ONE file
    * (~84 months × 1 instead of tasks × months small files — at
    * streaming-sink file counts the lake would need [[compact]]).
    *
    * Rows are additionally SORTED by `tsCol` within each task, so the
    * month file's parquet row groups carry tight min/max stats on the
    * timestamp — a day-grain predicate inside a month (the residual cut
    * `q1_partitioned` pushes) prunes at the ROW-GROUP level after the
    * directory level, finishing the pruning hierarchy: dir → row group
    * → page. */
  def datePartitionByMonth(df: DataFrame, outDir: String, tsCol: String,
      monthCol: String): Unit =
    datePartitionBy(df, outDir, tsCol, monthCol, "month")

  /** Run `f` with parquet timestamps written as INT64 micros. Spark's
    * session default is still INT96 (spark.sql.parquet.
    * outputTimestampType), and INT96 carries NO usable min/max
    * statistics — a layout written with the default can never
    * row-group-prune on its timestamp, which silently voids the whole
    * point of ts-sorting rows within files (measured: a day cut inside
    * a 77-row-group month file scanned all 96 768 rows as INT96 vs
    * 4 364 as INT64 — LakeSpec pins the micros behavior). Every lake
    * writer in this object goes through here so the layout's pruning
    * contract never depends on the caller's session conf. */
  private def withMicrosTimestamps[T](s: org.apache.spark.sql.SparkSession)(
      f: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "TIMESTAMP_MICROS")
    try f finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Grain-parameterized form of [[datePartitionByMonth]] — "day" is
    * the event-stream grain (a streaming sink's `event_date=` dirs and
    * the batch day-slice twins read the same layout); every documented
    * property (one file per partition dir, ts retained and sorted
    * within files) holds per grain. */
  def datePartitionBy(df: DataFrame, outDir: String, tsCol: String,
      partCol: String, grain: String): Unit =
    withMicrosTimestamps(df.sparkSession) {
      df.withColumn(partCol, to_date(date_trunc(grain, col(tsCol))))
        .repartition(col(partCol))
        .sortWithinPartitions(col(partCol), col(tsCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partCol)
        .parquet(outDir)
    }

  /** Write `df` as a bucketed, sorted managed table.
    *
    * The `repartition(buckets, key)` BEFORE the bucketed write is
    * load-bearing: Spark's bucket id is `pmod(murmur3(key), buckets)` —
    * the same function HashPartitioning computes — so after the
    * repartition every write task holds exactly ONE bucket's rows.
    * Without it, each of the N input tasks writes into all `buckets`
    * files (N×buckets small files; at 600M rows / sf100 that is ~4000
    * files whose per-task sorts collectively spill the whole fact
    * uncompressed) and, worse for the READ side, each bucket is split
    * across N files — Spark only treats a bucketed table's sort order
    * as usable when each bucket holds a single file, so the sortBy
    * metadata would be dead weight and every join would re-sort. One
    * file per bucket keeps the write sort to rows-per-bucket and lets
    * the sort-merge join read both sides sort-free. */
  def bucketize(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    withMicrosTimestamps(df.sparkSession) {
      df.repartition(buckets, col(key))
        .write
        .mode(SaveMode.Overwrite)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    }

  /** [[bucketize]] into an EXTERNAL location — the durable-layout form:
    * the files land at `path` (fingerprinted dir, survives the session)
    * while the catalog entry is disposable. Spark's bucket id is
    * carried in the part-file NAMES (`…_00017`), so the files stay a
    * valid bucketed table through a directory rename and a later
    * re-registration by [[registerBucketed]]. */
  def bucketizeExternal(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Unit =
    withMicrosTimestamps(df.sparkSession) {
      df.repartition(buckets, col(key))
        .write
        .mode(SaveMode.Overwrite)
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    }

  /** Re-register an existing bucketed layout as an external catalog
    * table — what a persistent metastore gives a cluster for free; the
    * session-scoped in-memory catalog needs the DDL replayed once per
    * session (build_s ≈ 0, `reused: true` in the bench artifacts). */
  def registerBucketed(s: SparkSession, table: String, schemaDDL: String,
      key: String, buckets: Int, path: String): Unit =
    s.sql(s"CREATE TABLE $table ($schemaDDL) USING PARQUET " +
      s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
      s"LOCATION '$path'")

  /** Compact a directory of (typically many small) parquet files into
    * size-targeted output files — the streaming-sink / incremental-ingest
    * hygiene pass a 100 TB lake runs continuously. Output file count is
    * computed from the actual input bytes (target ~`targetMb` MiB per
    * file, compression-ratio agnostic by design: parquet in ≈ parquet
    * out); rows are range-partitioned on `sortKey` so each output file
    * covers a contiguous key range (query-time file pruning). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      sortKey: String, targetMb: Int = 128): Long = {
    val df = graft.Tables.parquet(spark, inDir)
    // size via the Hadoop FileSystem of whatever store the path lives on
    // (hdfs://, s3a://, file:, nested layouts) — a java.io.File listing
    // would silently see 0 bytes on any non-local URI and compact the
    // whole dataset into one partition
    val hconf = spark.sparkContext.hadoopConfiguration
    val bytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1L, bytes / (targetMb.toLong << 20) +
      (if (bytes % (targetMb.toLong << 20) == 0) 0 else 1)).toInt
    withMicrosTimestamps(spark) {
      df.repartitionByRange(nFiles, col(sortKey))
        .sortWithinPartitions(col(sortKey))
        .write.mode(SaveMode.Overwrite).parquet(outDir)
    }
    nFiles.toLong
  }

  /** Compact a HIVE-PARTITIONED dataset while PRESERVING its partition
    * layout — the hygiene pass behind a date-partitioned streaming sink
    * (every micro-batch strews a small file into each day dir it
    * touches; at 100 TB that decays both scan parallelism and manifest
    * pressure until a compactor rewrites it).
    *
    * One distributed pass, no per-partition driver loop: rows are
    * range-partitioned on (partitionCol, sortKey) into size-targeted
    * tasks — ranges keep partition values CONTIGUOUS across tasks, so
    * each task writes into at most two partition dirs and each dir ends
    * up with ceil(dirBytes/targetMb) files (±1 at a range boundary),
    * sorted by sortKey within each file (query-time file pruning within
    * the dir, same property as [[compact]]). The partitionBy write
    * re-lands the hive layout, so partition pruning on the compacted
    * output is unchanged. */
  def compactPartitioned(spark: SparkSession, inDir: String, outDir: String,
      partitionCol: String, sortKey: String, targetMb: Int = 128): Long = {
    val df = graft.Tables.parquet(spark, inDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val bytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1L, bytes / (targetMb.toLong << 20) +
      (if (bytes % (targetMb.toLong << 20) == 0) 0 else 1)).toInt
    withMicrosTimestamps(spark) {
      df.repartitionByRange(nFiles, col(partitionCol), col(sortKey))
        .sortWithinPartitions(col(partitionCol), col(sortKey))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(outDir)
    }
    nFiles.toLong
  }

  /** Join `left` (large, possibly skewed on `leftKey`) with `right` on
    * equality, salting the right side `salt` ways so one hot key spreads
    * over `salt` tasks. Result equals the plain equi-join.
    *
    * The left-side salt is `pmod(hash(<every left column>), salt)` — the
    * same retry-deterministic idiom as `Relational.skewJoinSalted` (task
    * re-execution reproduces the salt, which `rand()` would not), and
    * hashing the full row makes the salt vary WITHIN a hot key, which
    * hashing the join key alone would not. */
  /** The fact-side salt expression — factored so LakeSpec pins spread
    * and retry-determinism on the expression the join actually uses.
    *
    * hash() rejects MapType columns (map iteration order is undefined,
    * so Spark refuses to hash them), so maps are EXCLUDED from the salt
    * mix — frames carrying a map column salt on their remaining columns.
    * Known limit, shared with any deterministic row-content salt: fully
    * identical duplicate rows of a hot key hash to one salt and don't
    * spread; rows must differ somewhere outside their map columns for
    * the salt to vary within a key. */
  private[graft] def saltCol(left: DataFrame, salt: Int) = {
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val hashable = left.schema.fields.filterNot(f => hasMap(f.dataType)).map(f => col(f.name))
    require(hashable.nonEmpty,
      "saltedJoin: every left column contains a map — nothing hashable to salt on")
    pmod(hash(hashable.toIndexedSeq: _*), lit(salt))
  }

  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, salt: Int): DataFrame = {
    val l = left.withColumn("__salt", saltCol(left, salt))
    val r = right.crossJoin(
      left.sparkSession.range(salt).select(col("id").cast("int").as("__salt")))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop(l("__salt")).drop(r("__salt"))
  }
}
