package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** A session the engine started, with the posture it was built for.
  * `shuffle` is the session's `spark.sql.shuffle.partitions`; `scale`
  * says which of the two `bench` profiles it runs. */
final case class GraftSession(spark: SparkSession, cpus: Int, shuffle: Int,
    inputBytes: Long, scale: Boolean) {
  def profile: String = if (scale) "scale" else "latency"

  /** Materialize Bench's tables once before timing (BASELINE.md measures
    * warm medians and allows cached reads): CacheManager then substitutes
    * the InMemoryRelation into every matching plan fragment. lineitem is
    * cacheable because inMemoryColumnarStorage.compressed=false (the
    * round-1 4x TIMESTAMP_NTZ decode penalty was the codec). Sets
    * `Tables.benchParts` and returns the names it cached. */
  def warmTables(sfDir: String): Seq[String] = {
    val cacheList = sys.env.getOrElse("SPARK_GRAFT_CACHE",
      "region,nation,customer,supplier,part,orders,lineitem,events,documents,embeddings")
      .split(",").filter(_.nonEmpty).toSeq
    Tables.benchParts = sys.env.get("SPARK_GRAFT_TABLE_PARTS")
      .fold(GraftSession.tableParts(inputBytes, cpus))(_.toInt)
    for (name <- cacheList) {
      val df = Tables.t(spark, sfDir, name)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      df.count()
    }
    cacheList
  }
}

/** The one place the engine builds a SparkSession. Two profiles:
  *  - `bench`: what Bench times, in its latency or scale posture;
  *  - `verify`: what Verify dumps for the oracle and what the specs run.
  * Both run in local mode, in UTC (the DuckDB oracle runs UTC), with
  * `Tables.nanosAsLongConf`, no UI and a per-run temp warehouse. */
object GraftSession {

  /** Local-mode cores: SPARK_GRAFT_CPUS, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Bytes of the parquet files directly under `dir`; 0 when it is not a
    * directory. */
  def inputBytes(dir: String): Long = {
    val d = new java.io.File(dir)
    if (d.isDirectory) d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    else 0L
  }

  /** Scale-aware shuffle width: ~10 MiB of input per shuffle partition
    * (floor division), clamped to [1, cpus]. At sf0.1 (17 MiB total) that
    * is 1 — a 32-wide shuffle of kilobyte partitions is pure
    * task-dispatch latency; at sf1 (173 MiB) it is 17, in the band that
    * measured fastest (16-way beat both 6-way and 32-way: under 6 the
    * big joins starve, past ~16 dispatch overtakes the extra
    * parallelism); at 100 TB the same rule caps at the cluster's cores
    * and AQE coalescing takes over. */
  def shuffleWidth(inputBytes: Long, cpus: Int): Int =
    math.max(1L, math.min(cpus.toLong, inputBytes / (10L << 20))).toInt

  /** Cached-table scan width: floor of min(cpus, 8) (the sf0.1-tuned
    * value), growing with `shuffleWidth` once the data is big enough to
    * feed more scan tasks. */
  def tableParts(inputBytes: Long, cpus: Int): Int =
    math.max(math.min(cpus, 8), shuffleWidth(inputBytes, cpus))

  /** The scale profile is on when `forced` (SPARK_GRAFT_SCALE_PROFILE)
    * is "1", off when it is anything else, and otherwise on for more than
    * 4 GiB of input. */
  def isScale(inputBytes: Long, forced: Option[String]): Boolean = forced match {
    case Some(v) => v == "1"
    case None => inputBytes > (4L << 30)
  }

  /** Bench's conf. The latency profile is tuned for the MB-scale benches:
    * AQE off (per-stage replanning is pure latency when shuffles carry
    * kilobytes) and shuffle/spill codecs off (codec + checksum time
    * exceeds the bytes moved in-process). The r15 sf100 run (17 GiB)
    * showed where that stops being right: 4-wide shuffles sort-spilled
    * the big joins/aggs UNCOMPRESSED to one local disk, and the
    * spill-bound keys went 20-100x instead of 10x (BASELINE.md sf100
    * section). At real scale the cluster posture is the opposite —
    * compression on, AQE on (coalesce + skew split), wide initial
    * shuffles — so that is what the scale profile sets, and the rest of
    * the library never assumes either profile. */
  def benchConf(cpus: Int, shuffle: Int, scale: Boolean): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.locality.wait" -> "0",
      "spark.sql.shuffle.partitions" -> shuffle.toString,
      "spark.sql.session.timeZone" -> "UTC",
      Tables.nanosAsLongConf,
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
      "spark.ui.enabled" -> "false") ++ (
    if (scale) Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cpus * 4).toString,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // 64 MiB splits (default 128 MiB): a single-file table scans
      // ceil(bytes/split) ways — at sf100 the 2.5 GB documents file
      // gave 10 scan tasks on 32 cores, so every text-decode-bound
      // stage idled 2/3 of the machine (the streaming trigger-sizing
      // lesson, r17, applied to batch scans). On a real lake row
      // groups + many files make this moot; on the one-file-per-table
      // fixture the split size IS scan parallelism.
      "spark.sql.files.maxPartitionBytes" -> (64L << 20).toString,
      "spark.shuffle.compress" -> "true",
      "spark.shuffle.spill.compress" -> "true",
      // zstd over the lz4 default at scale: row-oriented shuffle of a
      // wide fact runs 2-4x the parquet bytes, and on a single spill
      // disk the transient footprint is the binding constraint (the
      // sf100 bucketed-layout build overflowed 60 GB of free disk on
      // lz4; zstd halves it). Same posture as a production cluster,
      // where shuffle bytes cross a network.
      "spark.io.compression.codec" -> "zstd")
    else Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false"))

  /** Verify's conf: Spark's defaults (AQE on) at `cpus` cores and as many
    * shuffle partitions. */
  def verifyConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    Tables.nanosAsLongConf,
    "spark.ui.enabled" -> "false")

  /** Bench's session for `inputBytes` of input at SPARK_GRAFT_CPUS cores.
    * The shuffle width is `shuffle` when given, else SPARK_GRAFT_SHUFFLE,
    * else `shuffleWidth`. */
  def bench(inputBytes: Long, shuffle: Option[Int] = None): GraftSession = {
    val n = cpus
    val width = shuffle.getOrElse(sys.env.get("SPARK_GRAFT_SHUFFLE")
      .fold(shuffleWidth(inputBytes, n))(_.toInt))
    val scale = isScale(inputBytes, sys.env.get("SPARK_GRAFT_SCALE_PROFILE"))
    GraftSession(start(benchConf(n, width, scale)), n, width, inputBytes, scale)
  }

  /** Verify's session at `cpus` cores. */
  def verify(cpus: Int): SparkSession = start(verifyConf(cpus))

  private def start(conf: Seq[(String, String)]): SparkSession = {
    // per-run temp warehouse (concurrent Bench/Verify must not race on
    // one path), deleted by the exit hook — at sf100 a stranded
    // warehouse holds a full bucketed fact copy (tens of GB) on the box
    // where ~60 GB free disk is the binding constraint
    val wh = java.nio.file.Files.createTempDirectory("graft_wh")
    queries.TmpCleanup.register(wh)
    val spark = (conf :+ ("spark.sql.warehouse.dir" -> wh.toString))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drain the async listener event bus before reading a task-metrics
    * counter (r17: on a loaded bus, task-end events landing after a fixed
    * sleep were missed or bled into the next measurement).
    * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence the
    * reflective call; falls back to a settle-sleep if the internal API
    * ever moves. */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case NonFatal(_) => Thread.sleep(500) }
}
