package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, explode, expr, length, lit, sum}
import graft.Timed._
import graft.tensor.{Block, TBlock}

/** Benchmark main — prints the artifact's JSON lines.
  *
  * Methodology mirrors BASELINE.md exactly: per query, untimed warm-ups
  * then the median of 3 timed runs (the DuckDB baseline is also the median
  * of 3 consecutive warm runs). The headline list is the 16 BASELINE.md
  * keys; the full query surface is exercised by Verify, not here, so the
  * bench total stays comparable run-over-run as operators are added.
  *
  * Each mode is a table of rows (groups of keys and single-purpose legs)
  * run in order over the shared protocol in [[Timed]]:
  *  - default: warm-ups + median of 3 per key, floor-guarded groups;
  *  - SPARK_GRAFT_ONEPASS: each key once, at scale (+ KEYS, COLD_GROUPS,
  *    TENSOR_SMOKE);
  *  - SPARK_GRAFT_ENSURE=1: build/validate the durable layouts and exit.
  */
object Bench {

  /** The 16 BASELINE.md query keys, in its table order. */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "semi_anti_join", "window_rank",
    "window_running", "distinct_users", "rollup_sales", "set_ops",
    "string_funcs", "date_trunc_agg", "json_extract", "tumbling_window",
    "session_gap", "exact_dedup_docs", "doc_token_stats", "cosine_topk")

  /** The LLM-pipeline headliners (BASELINE.md sf1 appendix, round 10):
    * dedup and packing ARE the 100 TB workload, so they get their own
    * benched group — separate from `headline` to keep the relational
    * total comparable round-over-round. Same protocol; the DuckDB twin
    * runs the same keys' oracle SQL (tools/bench_duckdb.py --llm). */
  val llmHeadline: Seq[String] = Seq(
    "minhash_near_dup", "embedding_near_dup", "embedding_near_dup_verdict",
    "tfidf_top_terms",
    "pack_sequences", "shuffle_shards", "line_dedup_docs", "semantic_dedup")

  /** The curation headliners (round 12): the data-curation operators a
    * crawl→training pipeline runs between ingest and dedup — benched as
    * their own group (tools/bench_duckdb.py --curation twin). */
  val curationHeadline: Seq[String] = Seq(
    "exact_substring_dedup", "url_dedup_normalized",
    "quality_gopher", "quality_c4", "unigram_logprob", "heavy_hitters",
    // r13: the previously unbenched curation-adjacent keys — tiering,
    // fuzzy decontamination, the chained pipeline, and the streaming
    // quality gate (timed as one micro-batch drain; its DuckDB twin is
    // the batch-equivalent oracle)
    "quality_tiers", "contamination_fuzzy", "pipeline_curation_v2",
    "stream_quality_gate")

  /** The ANN headliners (round 11): the three approximate top-k paths,
    * benched with RECALL against the exact brute-force top-10 — an ANN
    * operator that got fast by returning the wrong neighbors must fail
    * the artifact, not pass on wall-clock alone. Floors are the sf1
    * measured values minus slack (BASELINE.md ann table); a key below
    * its floor lands in `failed`. */
  val annHeadline: Seq[(String, Double)] = Seq(
    "ivf_cosine_topk" -> 0.8,
    // adaptive probe radius (r15): brute force under ~1k vectors, radius
    // 3 at sf0.1 (measured 0.9), radius 1 from sf1 up (measured 0.9) —
    // the old 0.2 floor dated from the fixed-radius-1 sf0.1 regime
    "ann_hyperplane_topk" -> 0.8,
    "embedding_quantize_topk" -> 0.8,
    // IVF-PQ (r19): 4-bit codes on random embeddings are PQ's
    // adversarial case; the ADC+R=200 re-rank measured 1.0/0.9/0.8/1.0
    // at sf0.001/0.01/0.1/1 — floor under the sf0.1 low point
    "ivf_pq_topk" -> 0.7,
    // stored-index variant: row-identical result by construction, so
    // the same floor; its wall is the serving-path number (no training)
    "ivf_pq_probe" -> 0.7)

  /** Untimed warm-ups before each median of 3. Three get the generated
    * code through C2 (one is not enough — run 2 is still ~30% slower
    * than steady state on the join-heavy queries). */
  val warmups = 3

  /** The one-pass llm group's scaled-K SemDeDup row (r12): the production
    * K rule (kmeansK ≈ ⌈N/5000⌉) instead of the gated key's oracle K=10 —
    * at sf10 this is the row proving the cluster-bounded quadratic stays
    * in band when K tracks the corpus. */
  val scaledKey = "semantic_dedup_scaledK"

  /** One row of a mode's table: `tag` names it (and labels its
    * cold-groups cache drop); `toggle` is the env variable that skips it
    * when set to anything but "1" (None: always on); `keys` are the names
    * SPARK_GRAFT_KEYS may select. A group row runs over its selected keys,
    * even none; a row with `leg` set runs only when a key is selected.
    * `body` gets the selected keys and returns the row's JSON fields. */
  private final case class Row(tag: String, toggle: Option[String], keys: Seq[String],
      leg: Boolean)(val body: Seq[String] => Obj)

  /** The tensor group's kernels, each run over both layouts. */
  val tensorKernels: Seq[String] =
    Seq("gaussian5", "uniform3_u8", "label_stats", "affine_shift", "affine_u8")

  /** Top-level fields the compact line carries (both modes). */
  val compactKeys: Set[String] = Set("metric", "value", "unit", "queries",
    "failed", "floor_per_query", "adjusted_total", "contended", "llm_total",
    "curation_total", "ann_total", "disk_probe_mb_per_s", "disk_contended",
    "cpu_probe_ms", "cpu_contended", "peak_heap_mb", "sf")

  /** The artifact: the FULL line, then a COMPACT line printed LAST. A
    * reader that keeps only the final ~2000 chars of stdout lost the ~3 KB
    * full line's head (rounds 1–17 all parsed as null); the compact line
    * (`compactKeys` at 4 decimals) stays well under that window. The full
    * line stays first for the committed artifacts (take stdout line 1). */
  private[graft] def lines(o: Obj): (String, String) =
    (o.render(compact = false),
      Obj(o.fields.filter(f => compactKeys(f._1)): _*).render(compact = true))

  private def head(metric: String, value: Double, queries: Seq[(String, Double)],
      failed: Iterable[String]): Obj =
    Obj("metric" -> metric, "value" -> value, "unit" -> "sec",
      "queries" -> Obj(queries: _*), "failed" -> failed.toSeq)

  /** The default line: the guarded headline pass `main`, then its rows'
    * and probes' fields. The floor accounting (SURVEY §6): adjusted_total
    * = total − floor_total estimates pure operator work, the quantity
    * comparable to DuckDB's in-process total at toy scale. The raw total
    * remains the headline "value" for continuity. */
  private[graft] def defaultLine(main: Guarded[Double], failed: Iterable[String], rows: Obj,
      probes: Obj, sfDir: String): Obj = {
    val total = main.results.map(_._2).sum
    val floorTotal = main.floor * main.results.size
    head("total", total, main.results, failed) ++ Obj("floor_per_query" -> main.floor,
      "floor_iqr" -> main.floorIqr, "floor_total" -> floorTotal,
      "adjusted_total" -> math.max(0.0, total - floorTotal),
      "contended" -> main.contended, "attempts" -> main.attempts) ++
      rows ++ probes ++ Obj("sf" -> sfDir)
  }

  /** The one-pass line: the headline keys' single calls and their wall,
    * then the rows' and probes' fields and the pass's peak heap. */
  private[graft] def onePassLine(res: Seq[(String, Double)], wall: Double, failed: Iterable[String],
      rows: Obj, probes: Obj, peakHeapMb: Long, sfDir: String): Obj =
    head("onepass", wall, res, failed) ++ rows ++ probes ++
      Obj("peak_heap_mb" -> peakHeapMb, "sf" -> sfDir)

  private[graft] def guardedFields(tag: String, g: Guarded[Double]): Obj =
    Obj(tag -> Obj(g.results: _*), s"${tag}_total" -> g.results.map(_._2).sum,
      s"${tag}_floor" -> g.floor, s"${tag}_floor_iqr" -> g.floorIqr,
      s"${tag}_contended" -> g.contended, s"${tag}_attempts" -> g.attempts)

  private[graft] def onceFields(tag: String, res: Seq[(String, Double)], wall: Double): Obj =
    Obj(tag -> Obj(res: _*), s"${tag}_wall" -> wall)

  private[graft] def annFields(ann: Seq[(String, Double)], recalls: Seq[(String, Option[Double])]): Obj =
    Obj("ann" -> Obj(ann: _*), "ann_total" -> ann.map(_._2).sum,
      "ann_recall" -> Obj(recalls: _*))

  private[graft] def tensorFields(g: Guarded[(Option[Double], Option[Double])]): Obj = {
    val ratios = g.results.map { case (k, (m, s)) =>
      k -> (for (mv <- m; sv <- s) yield mv / math.max(sv, 1e-9))
    }
    Obj("tensor" -> Obj(g.results.map { case (k, (m, _)) => k -> m }: _*),
      "tensor_single" -> Obj(g.results.map { case (k, (_, s)) => k -> s }: _*),
      "tensor_ratio" -> Obj(ratios: _*), "tensor_floor" -> g.floor,
      "tensor_contended" -> g.contended, "tensor_attempts" -> g.attempts)
  }

  /** Probe-pair fields: `disk_probe_mb_per_s` + `disk_contended`. The
    * 256 MB / 400 MB/s band is evaluated PER END (r21: min(pre, post)
    * bytes let one declined end suppress the flag even when the surviving
    * end measured a collapsed window); a declined end is `null`. Empty
    * when neither probe ran, so artifacts stay comparable by field
    * presence. */
  private[graft] def diskFields(pre: (Double, Long), post: (Double, Long), kind: String): Obj = {
    if (pre._1 < 0 && post._1 < 0) return Obj()
    val ends = Seq(pre, post)
    val contended = ends.exists(e => e._1 >= 0 && e._2 >= 256L * 1024 * 1024 && e._1 < 400.0)
    def js(e: (Double, Long)) = Option(e._1).filter(_ >= 0)
    Obj("disk_probe_mb_per_s" -> Obj("pre" -> js(pre), "post" -> js(post),
      "probe_mb" -> ends.map(e => if (e._1 < 0) 0L else e._2).max / 1048576,
      "kind" -> kind), "disk_contended" -> contended)
  }

  /** Deterministic synthetic grid for the tensor benches: pixel (gi, gj)
    * = ((gi·1315423911 + gj·2654435761) >>> 7) mod 256, blockified at
    * `chunk` — built from a `spark.range` leaf over the CELL count, so
    * the block table is distributed at any grid size (the same property
    * the r10 needs-table fix pinned for affine). */
  private def synthBlocks(spark: SparkSession, H: Int, W: Int,
      chunk: Seq[Int], id: String): Dataset[Block] = {
    import spark.implicits._
    val gh = (H + chunk(0) - 1) / chunk(0)
    val gw = (W + chunk(1) - 1) / chunk(1)
    val (ch, cw) = (chunk(0), chunk(1))
    spark.range(gh.toLong * gw).map { cell =>
      val bi = (cell / gw).toInt; val bj = (cell % gw).toInt
      val oi = bi * ch; val oj = bj * cw
      val h = math.min(ch, H - oi); val w = math.min(cw, W - oj)
      val data = new Array[Double](h * w)
      var i = 0
      while (i < h) {
        var j = 0
        while (j < w) {
          val gi = oi + i; val gj = oj + j
          data(i * w + j) =
            (((gi * 1315423911L + gj * 2654435761L) >>> 7) % 256L).toDouble
          j += 1
        }
        i += 1
      }
      Block(id, Seq(bi, bj), Seq(oi, oj), Seq(h, w), chunk, Seq(H, W), data)
    }
  }

  private def forceB(ds: Dataset[Block]): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(_.data.length.toLong).reduce(_ + _); ()
  }

  private def forceTB(ds: Dataset[TBlock]): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(_.data.length.toLong).reduce(_ + _); ()
  }

  private def binarizeB(ds: Dataset[Block]) =
    graft.tensor.Filters.mapBlocks(ds)(b => b.data.map(v => if (v > 200.0) 1.0 else 0.0))

  private def dropCaches(): Boolean =
    try {
      new ProcessBuilder("sync").start().waitFor()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/proc/sys/vm/drop_caches"), "3")
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The scale's largest table file, the disk probes' target. */
  private def probeTarget(sfDir: String): Option[java.io.File] =
    Seq("lineitem.parquet", "documents.parquet", "orders.parquet")
      .map(new java.io.File(sfDir, _)).filter(_.exists()).sortBy(-_.length()).headOption

  /** Cold sequential-read throughput of the host disk, MB/s — measured
    * IN the artifact (r19 verdict #2): cold sf100 walls inherit the
    * host's cold-read throughput wholesale, and that throughput swings
    * ~5–12× between windows (159 vs 846 MB/s minutes apart on the same
    * file). Caches dropped → read up to 4 GB of the scale's largest table
    * sequentially → drop again (the measured group still starts cold).
    * Returns (mb_per_s, bytes_read); (-1, 0) when the probe can't run (no
    * drop_caches privilege — a warm-cache "probe" would read GB/s
    * fiction). */
  private def diskProbe(sfDir: String): (Double, Long) = {
    val target = probeTarget(sfDir)
    if (target.isEmpty || !dropCaches()) return (-1.0, 0L)
    val buf = new Array[Byte](1 << 20)
    var read = 0L
    val in = new java.io.FileInputStream(target.get)
    val s = try once {
      var n = in.read(buf)
      while (n >= 0 && read < (4L << 30)) { read += n; n = in.read(buf) }
    } finally in.close()
    dropCaches()
    (read / 1e6 / math.max(s, 1e-9), read)
  }

  /** Direct-I/O sequential-read throughput, MB/s — the WARM-pass twin
    * of [[diskProbe]] (r20): warm artifacts inherit the host's disk window
    * too, through writes, spills, shuffle files, and streaming-source
    * listings, but dropping caches to measure would evict the very warmth
    * those passes rely on. O_DIRECT bypasses the page cache in BOTH
    * directions. Capped at 1 GB (a collapsed window must cost seconds,
    * not a minute) and at whole aligned 1 MiB chunks (O_DIRECT rejects
    * unaligned lengths). Returns (mb_per_s, bytes_read); (-1, 0) when the
    * platform refuses O_DIRECT or no table file is probe-sized. */
  private[graft] def diskProbeDirect(sfDir: String): (Double, Long) = {
    val chunk = 1 << 20
    val target = probeTarget(sfDir)
    val len = target.fold(0L)(t => math.min(t.length - t.length % chunk, 1L << 30))
    if (len <= 0) return (-1.0, 0L)
    try {
      val ch = java.nio.channels.FileChannel.open(target.get.toPath,
        java.nio.file.StandardOpenOption.READ,
        com.sun.nio.file.ExtendedOpenOption.DIRECT)
      try {
        val buf = java.nio.ByteBuffer.allocateDirect(chunk + 4096).alignedSlice(4096)
        var read = 0L
        var eof = false
        val s = once {
          while (read < len && !eof) {
            buf.clear()
            buf.limit(chunk)
            val n = ch.read(buf)
            if (n <= 0) eof = true else read += n
          }
        }
        (read / 1e6 / math.max(s, 1e-9), read)
      } finally ch.close()
    // a fatal error (OOM, interrupt) must propagate, not masquerade as a
    // clean probe decline
    } catch { case scala.util.control.NonFatal(_) => (-1.0, 0L) }
  }

  // sink for the CPU probe's fold results — a field store the JIT cannot
  // prove dead, so the spin loop never folds away
  @volatile private var cpuProbeSink: Double = 0.0

  /** Deterministic CPU spin probe (r21): the disk probes cannot see CPU
    * contention, and CPU-bound keys (PQ/Lloyd training) swung far more
    * than the dispatch floor in r20's polluted window. Fixed work —
    * `cpuIters` passes of a 4096-wide multiply-add fold over a constant
    * array (the argmax_dot kernel's shape) — in milliseconds. */
  private def cpuSpin(): Double = {
    val a = Array.tabulate(4096)(i => (((i * 1315423911L) >>> 7) % 256L).toDouble / 256.0)
    var acc = 0.0
    val secs = once {
      var it = 0
      while (it < cpuIters) {
        var s = 0.0
        var i = 0
        while (i < 4096) { s += a(i) * a((i + it) & 4095); i += 1 }
        acc += s
        it += 1
      }
    }
    cpuProbeSink = acc
    secs * 1000
  }

  /** Healthy idle readings on this host (r21, 32 threads): single ≈
    * 23 ms, multi ≈ 48 ms — the bands sit ~2.5× above, the same
    * wait-for-a-better-window posture as the 400 MB/s disk band. */
  private val cpuIters = 8192
  private val cpuSingleRefMs = 60.0
  private val cpuMultiRefMs = 2 * cpuSingleRefMs

  /** CPU probe fields; `cpu_contended` flags either reading past its
    * band. */
  private[graft] def cpuFields(single: Double, multi: Double, threads: Int): Obj =
    Obj("cpu_probe_ms" -> Obj("single" -> single, "multi" -> multi,
      "threads" -> threads, "iters" -> cpuIters),
      "cpu_contended" -> (single > cpuSingleRefMs || multi > cpuMultiRefMs))

  /** The spin timed once on the calling thread (`single`) and on
    * `threads` concurrent threads each running the identical work
    * (`multi` = slowest thread, the all-cores wall). */
  private def cpuProbe(threads: Int): Obj =
    try {
      cpuSpin(); cpuSpin() // JIT warm-up (C2), untimed
      val single = cpuSpin()
      val wallUs = new java.util.concurrent.atomic.AtomicLong(0L)
      val ts = (1 to math.max(1, threads)).map { _ =>
        new Thread(() => {
          val us = (cpuSpin() * 1000).toLong
          wallUs.getAndUpdate(w => math.max(w, us))
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      cpuFields(single, wallUs.get() / 1000.0, threads)
    } catch { case scala.util.control.NonFatal(_) => Obj() }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val onePass = sys.env.contains("SPARK_GRAFT_ONEPASS")
    require(onePass || !sys.env.contains("SPARK_GRAFT_TENSOR_SMOKE"),
      "SPARK_GRAFT_TENSOR_SMOKE runs inside the one-pass artifact: set " +
        "SPARK_GRAFT_ONEPASS=1 SPARK_GRAFT_TENSOR_SMOKE=<side>")
    val gs = GraftSession.bench(GraftSession.inputBytes(sfDir))
    System.err.println(s"[bench] profile=${gs.profile} " +
      s"cpus=${gs.cpus} shuffle=${gs.shuffle} inputMB=${gs.inputBytes >> 20}")
    // One-command layout lifecycle (r18 verdict #7): SPARK_GRAFT_ENSURE=1
    // builds/validates every durable fingerprinted layout and exits —
    // the deterministic path from a fresh environment to the benched
    // state. Runs before the cache warm (layout builds stream the
    // source; MEMORY_ONLY-caching 17 GiB first would wedge sf100).
    if (sys.env.get("SPARK_GRAFT_ENSURE").contains("1")) {
      val rows = graft.sources.Lake.ensureAll(gs.spark, sfDir)
      rows.foreach { case (tag, reused, b) =>
        System.err.println(f"[bench] layout $tag reused=$reused build_s=$b%.2f") }
      println(Obj("metric" -> "ensure_layouts", "value" -> rows.map(_._3).sum,
        "unit" -> "sec", "layouts" -> Obj(rows.map { case (tag, reused, b) =>
          tag -> Obj("reused" -> reused, "build_s" -> b) }: _*),
        "sf" -> sfDir).render(compact = false))
    } else {
      val run = new Run(gs, sfDir, onePass, gs.warmTables(sfDir))
      val (full, compact) = lines(if (onePass) run.onePass() else run.default())
      println(full)
      println(compact)
    }
    gs.spark.stop()
  }

  /** One Bench run over `gs`'s warmed tables (`cached`). */
  private final class Run(gs: GraftSession, sfDir: String, onePass: Boolean,
      cached: Seq[String]) {
    private val (spark, cpus) = (gs.spark, gs.cpus)
    private val qs = SparkEntry.queries
    private val shufflePartitions = "spark.sql.shuffle.partitions"
    private val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

    // Scheduler-floor probe: the cheapest possible gated query shape (one
    // cached 5-row scan → agg → exchange → final agg → count). The part of
    // each query's latency that is Spark job/stage dispatch, not operator
    // work — DuckDB-in-process has no equivalent cost.
    private val runner = new Runner(() =>
      once(Tables.t(spark, sfDir, "region").groupBy("r_regionkey").count().count()))
    import runner.{failed, leg}

    /** SPARK_GRAFT_COLD_GROUPS=1 (one-pass mode): sync + drop the OS page
      * cache before each row, so every group measures from the same
      * cold-disk state a standalone run sees. The warm pass leaves each
      * group reading the previous group's cache/writeback aftermath — the
      * "in-pass context tax" that made minhash read 208 s in-pass vs 71 s
      * standalone (r17). Root-only; silently a no-op when not writable,
      * so artifacts are comparable by the env flag, not the platform. */
    private val cold = onePass && sys.env.getOrElse("SPARK_GRAFT_COLD_GROUPS", "0") == "1"

    private def coldGroup(tag: String): Unit =
      if (cold && dropCaches())
        System.err.println(s"[bench] cold-groups: caches dropped before $tag")

    /** The mode's disk probe with its kind: cold-groups passes measure the
      * cold-read window (drop → read → drop); warm passes measure the
      * same device through O_DIRECT without touching the cache. */
    private def diskProbeAuto(when: String): ((Double, Long), String) = {
      val (p, kind) =
        if (cold) (diskProbe(sfDir), "drop_caches") else (diskProbeDirect(sfDir), "o_direct")
      if (p._1 >= 0)
        System.err.println(f"[bench] disk probe ($when, $kind): " +
          f"${p._1}%.1f MB/s over ${p._2 / 1e6}%.0f MB")
      (p, kind)
    }

    private def df(name: String): DataFrame = qs(name)(spark, sfDir)

    /** One call of a key; a crashing query must not silently bench as
      * ~0 s, so it lands in `failed`. */
    private def query(name: String): Unit = leg(name)(df(name).count())

    // In the uncached one-pass, several keys localCheckpoint
    // intermediates (collapse reps, candidate sets, distinct-text
    // aggregates); left persisted they accumulate across the pass and
    // the tail keys run against a storage-full heap (r15 sf100: 91 GB
    // peak, tail keys 5-10x their standalone walls). Keys are
    // independent, so drop everything persisted after each — only when
    // NO tables were cached (normal mode must keep them).
    // INVARIANT (r16): this drops EVERY persistent RDD, including eagerly
    // localCheckpointed ones whose lineage is gone — safe only because
    // each call rebuilds its plan from scratch.
    private val dropPersistedPerKey = onePass && cached.isEmpty

    /** One-pass protocol: one timed call. */
    private def queryOnce(name: String): Double = {
      val t = once(query(name))
      if (dropPersistedPerKey)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      t
    }

    private def on(toggle: Option[String]): Boolean =
      toggle.forall(v => sys.env.getOrElse(v, "1") == "1")

    private def runRows(rows: Seq[Row], keep: String => Boolean): Obj =
      rows.filter(r => on(r.toggle)).foldLeft(Obj()) { (acc, r) =>
        val kept = r.keys.filter(keep)
        if (r.leg && kept.isEmpty) acc else { coldGroup(r.tag); acc ++ r.body(kept) }
      }

    /** A leg row; a failure lands in `failed` under its `key`. */
    private def legRow(tag: String, toggle: String, key: String)(body: => Obj): Row =
      Row(tag, Some(toggle), Seq(key), leg = true)(_ => leg(key)(body).getOrElse(Obj()))

    private def heapPools = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
    }

    /** Summed per-pool peaks since the last reset: an upper bound on the
      * true simultaneous peak — fine for a flat-heap regression flag. */
    private def peakHeapMb(): Long = heapPools.map(_.getPeakUsage.getUsed).sum >> 20

    // ------------------------------------------------------------ default

    def default(): Obj = {
      // Disk self-adjudication for the default mode too
      // (r20): the CPU floor probe can't see a collapsed disk window, and
      // warm walls still pay it through shuffle/spill writes.
      val (pre, kind) = diskProbeAuto("pre")
      (1 to warmups).foreach(_ => runner.floor())
      // spike re-probes take a fresh median of 3 without warm-ups
      def group(tag: String, keys: Seq[String], iqr: Boolean) =
        runner.guarded(tag, keys.filter(qs.contains), Gate.spikes(iqr))(
          n => med3(query(n), warmups), n => med3(query(n)))
      val main = group("headline", headline, iqr = true)
      // Each group interleaves its OWN floor probes (r15 verdict #8: the
      // main pass's verdict cannot cover groups that run minutes later).
      // Its test is the floor MEDIAN only: group probes sit right after
      // multi-second GC-churning keys (minhash, substring dedup), so one
      // probe spiking on a collection pause is the NORMAL quiet state and
      // the IQR would flag forever. The IQR ships in the JSON, unjudged.
      val rows = Seq(
        Row("llm", Some("SPARK_GRAFT_LLM"), llmHeadline, leg = false)(ks =>
          guardedFields("llm", group("llm", ks, iqr = false))),
        Row("curation", Some("SPARK_GRAFT_CURATION"), curationHeadline, leg = false)(ks =>
          guardedFields("curation", group("curation", ks, iqr = false))),
        legRow("hh_highcard", "SPARK_GRAFT_CURATION", "hh_highcard")(heavyHitters()),
        legRow("bucketed", "SPARK_GRAFT_BUCKETED", "q3_bucketed_bench")(
          bucketed(warmMed3, full = true)),
        legRow("partitioned", "SPARK_GRAFT_PARTITIONED", "partitioned_bench")(
          partitioned(warmMed3, full = true)),
        Row("ann", Some("SPARK_GRAFT_ANN"), annHeadline.map(_._1), leg = false)(_ => ann()),
        legRow("ingest", "SPARK_GRAFT_INGEST", "wet_ingest_bench")(ingest()),
        Row("tensor", Some("SPARK_GRAFT_TENSOR"), Seq.empty, leg = false)(_ => tensor()))
      val fields = runRows(rows, _ => true)
      val (post, _) = diskProbeAuto("post")
      defaultLine(main, failed, fields, diskFields(pre, post, kind) ++ cpuProbe(cpus), sfDir)
    }

    /** Default-mode leg timer: one warm-up, then the median of 3 over one
      * planned DataFrame. */
    private def warmMed3(name: String): Double = {
      val d = df(name)
      med3(d.count(), warmups = 1)
    }

    /** Heavy hitters at HIGH cardinality (r12 verdict #5): the MG
      * candidates+verify claim ("the naive plan's full-cardinality term
      * shuffle is what dies at web scale") needs a stream the sf fixture
      * (~50 terms) cannot give. A deterministic zipf-ish stream is
      * generated INSIDE the query (spark.range + md5; identical generator
      * SQL in the DuckDB twin): 50% of rows spread over 16 hot tokens
      * (~3.1% each, all above the 2% threshold), 50% unique md5 tokens.
      * Both plans must return the SAME 16 terms. Default 32M rows: at 8M
      * the naive GROUP BY's wall is bistable (the whole shuffle
      * intermittently stays in memory); at 32M the bounded-vs-full-shuffle
      * gap is robust in any JVM state. */
    private def heavyHitters(): Obj = {
      val n = sys.env.getOrElse("SPARK_GRAFT_HH_ROWS", "32000000").toLong
      def tokens = spark.range(n).selectExpr(
        // (id div 4) % 16 is uniform over the id % 4 < 2 subset (the
        // naive id % 16 only reaches 8 residues there)
        "IF(id % 4 < 2, concat('hot_', (id div 4) % 16), " +
          "concat('r_', md5(cast(id AS string)))) AS tok")
      def mgDf = {
        val tok = tokens
        val mg = tok.agg(expr("misra_gries(tok)").as("s"))
          .select(col("s.n").as("n"), explode(col("s.terms")).as("tok"))
        tok.join(broadcast(mg), "tok").groupBy("tok", "n").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt").cast("double") >= col("n").cast("double") * 0.02)
          .select("tok")
      }
      def naiveDf = tokens.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= n * 0.02).select("tok")
      // equal answers, once (untimed)
      val mgTerms = mgDf.collect().map(_.getString(0)).toSet
      val nvTerms = naiveDf.collect().map(_.getString(0)).toSet
      require(mgTerms == nvTerms && mgTerms.size == 16,
        s"hh_highcard answers diverged: mg=${mgTerms.size} naive=${nvTerms.size}")
      TaskCounter.using(spark) { c =>
        val mgS = med3(mgDf.count())
        val nvS = med3(naiveDf.count())
        val mgBytes = c.around(spark)(mgDf.count()).shuffleBytes.get
        val nvBytes = c.around(spark)(naiveDf.count()).shuffleBytes.get
        // record-and-flag, not require (r14): the listener is async
        // best-effort, so a metrics hiccup must not abort the artifact
        val mgBounded = mgBytes * 10 < nvBytes
        if (!mgBounded) System.err.println(
          s"[bench] hh_highcard FLAG: MG shuffled $mgBytes B — not an " +
            s"order of magnitude under the naive plan's $nvBytes B")
        // generation-only baseline: both plans embed the md5 stream
        // generator, so the OPERATOR cost is (plan − gen). MG reads the
        // stream twice (summary + verify), naive once — so MG's operator
        // cost ≈ mg_s − 2·gen_s, naive's ≈ naive_s − gen_s.
        val genS = med3(tokens.agg(count(col("tok"))).collect(): Unit)
        Obj("hh_highcard" -> Obj("rows" -> n, "distinct_approx" -> n / 2,
          "gen_s" -> genS, "mg_s" -> mgS, "naive_groupby_s" -> nvS,
          "mg_shuffle_mb" -> mgBytes / 1e6, "naive_shuffle_mb" -> nvBytes / 1e6,
          "mg_bounded_buffer_ok" -> mgBounded))
      }
    }

    /** Bucketed-lake leg (r15 verdict #2): q3's sf100 wall was pure
      * shuffle-spill disk I/O on an optimal plan — the fix is STORAGE.
      * The layout is durable across runs (r18): build_s is the real write
      * on the first-ever run and DDL replay (≈0) with reused=true after,
      * and its probe is the honest layout number. `full` (default mode)
      * adds the flat twin, SHUFFLE BYTES for both, and the structural
      * check on the executed plan (bytes can both read 0 at toy sf where
      * every join broadcasts): a bucket-aligned q3 needs NO hash exchange
      * anywhere. */
    private def bucketed(time: String => Double, full: Boolean): Obj = {
      val reused = queries.Relational.bucketedLayoutExists(sfDir)
      val buildS = once(queries.Relational.bucketedFacts(spark, sfDir))
      val probe = Obj("build_s" -> buildS, "reused" -> reused,
        "q3_bucketed_s" -> time("q3_bucketed"))
      val extra = if (!full) Obj() else TaskCounter.using(spark) { c =>
        val flatS = time("q3_top_orders")
        val (b, f) = (df("q3_bucketed"), df("q3_top_orders"))
        val bMb = c.around(spark)(b.count()).shuffleBytes.get / 1e6
        val fMb = c.around(spark)(f.count()).shuffleBytes.get / 1e6
        val noExchange = !b.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning")
        if (!noExchange) System.err.println(
          "[bench] q3_bucketed FLAG: hash exchange survived the bucketed layout")
        Obj("q3_flat_s" -> flatS, "q3_bucketed_shuffle_mb" -> bMb,
          "q3_flat_shuffle_mb" -> fMb, "no_exchange_ok" -> noExchange)
      }
      Obj("bucketed" -> (probe ++ extra))
    }

    /** Time-partitioned lake leg (r17 verdict #1), the time-axis analog of
      * the bucketed leg: the month layout serves date_trunc's grouping key
      * from directory metadata and turns q1's shipdate cut into directory
      * pruning; the events day layout rides the same leg. Layouts are
      * content-fingerprinted and durable: a same-JVM build-then-probe
      * measures the build's page-cache eviction instead (r17 sf100). The
      * flat twins are in the headline group of the same artifact. `full`
      * adds the check that the partitioned date_trunc scan never decodes
      * the timestamp column. */
    private def partitioned(time: String => Double, full: Boolean): Obj = {
      import queries.Relational._
      val reused = monthLayoutExists(sfDir)
      val buildS = once(monthLineitem(spark, sfDir))
      val probes = Seq("date_trunc_agg_partitioned", "q1_partitioned",
        "time_slice_quarter", "time_slice_day").map(k => s"${k}_s" -> time(k))
      val eReused = dayEventsLayoutExists(sfDir)
      val eBuildS = once(dayEvents(spark, sfDir))
      val sgS = time("session_gap_day")
      val noTs = if (!full) Obj() else {
        val ok = !df("date_trunc_agg_partitioned").queryExecution.executedPlan
          .toString.contains("l_shipdate")
        if (!ok) System.err.println("[bench] date_trunc_agg_partitioned FLAG: " +
          "timestamp column survived in the scan")
        Obj("no_ts_scan_ok" -> ok)
      }
      Obj("partitioned" -> (Obj("build_s" -> buildS, "reused" -> reused) ++
        Obj(probes: _*) ++ Obj("events_build_s" -> eBuildS, "events_reused" -> eReused,
          "session_gap_day_s" -> sgS) ++ noTs))
    }

    /** Wall + recall for the approximate top-k paths. Recall = overlap of
      * the ANN top-10 vec_ids with the exact brute-force top-10 (the
      * cosine_topk headline result) — 10 driver rows per key. NO floor
      * guard or spike re-probe: its walls are bimodal BY DESIGN (ivf's
      * centroid pass is ~15× hyperplane's probe), so the group-median 5×
      * test would fire on every healthy run; the BASELINE.md ann band and
      * the recall floors guard it instead. */
    private def ann(): Obj = {
      if (!annHeadline.forall { case (n, _) => qs.contains(n) }) return Obj()
      def topIds(name: String): Option[Set[Long]] =
        leg(name)(df(name).select("vec_id").collect().map(_.getLong(0)).toSet)
      val truth = topIds("cosine_topk")
      val walls = annHeadline.map { case (name, _) => name -> med3(query(name), warmups) }
      val recalls = annHeadline.map { case (name, floor) =>
        val r = for (t <- truth; ids <- topIds(name))
          yield ids.intersect(t).size / math.max(t.size, 1).toDouble
        r.filter(_ < floor).foreach { rv =>
          failed += s"${name}_recall"
          System.err.println(f"[bench] $name recall $rv%.2f below floor $floor%.2f")
        }
        name -> r
      }
      annFields(walls, recalls)
    }

    /** WET decode throughput, ingest's stage zero: the sf documents
      * re-encoded ONCE (untimed fixture prep) as Common-Crawl-layout
      * per-record-gzip shards, then the streamed WARC parse decodes every
      * record — count + length-sum forces the full payload path. Two
      * record shapes: the sf documents as-is (~300 B records — stresses
      * per-member gzip setup, the Common Crawl worst case), and the same
      * text tiled to ~5 KB records (the REAL crawl's median
      * conversion-record size), separating per-member overhead from parse
      * cost. At 100 TB this stage bounds the pipeline's admission rate. */
    private def ingest(): Obj = {
      val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "source", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val nShards = 8
      def wetLeg(tag: String, text: (Long, String) => String): Obj = {
        val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
          s"graft_bench_wet_${tag}_${math.abs(sfDir.hashCode)}")
        if (java.nio.file.Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.delete)
        }
        java.nio.file.Files.createDirectories(dir)
        var rawBytes = 0L
        for (sh <- 0 until nShards) {
          val rs = docs.filter(_._1 % nShards == sh).sortBy(_._1).map {
            case (id, src, t) => (s"https://example.com/$src/$id", text(id, t))
          }.toIndexedSeq
          rawBytes += rs.map(_._2.getBytes("UTF-8").length.toLong).sum
          java.nio.file.Files.write(dir.resolve(f"wet_$sh%02d.warc.wet.gz"),
            graft.sources.WarcSource.encodeWetGz(rs))
        }
        val med = med3(graft.sources.WarcSource.readWet(spark, s"$dir/*.warc.wet.gz")
          .filter(col("rec_type") === "conversion")
          .agg(count(lit(1)), sum(length(col("text")))).collect(): Unit, warmups = 1)
        val mb = rawBytes / 1e6
        val prefix = if (tag == "sfdocs") "wet" else s"wet_$tag"
        Obj(s"${prefix}_decode_s" -> med, s"${prefix}_raw_mb" -> mb,
          s"${prefix}_mb_per_s" -> mb / math.max(med, 1e-9))
      }
      Obj("ingest" -> (wetLeg("sfdocs", (_, t) => t) ++ wetLeg("5k", (id, t) => {
        val b = new StringBuilder(5400)
        var i = 0
        while (b.length < 5000) { b.append(t).append(f"\nseg $id%d.$i%d\n"); i += 1 }
        b.toString
      })))
    }

    /** Tensor headline group (BASELINE.md "Tensor kernels"): five kernels
      * over a deterministic 1024×1024 synthetic in 8 chunks (256×512) vs
      * the SAME kernel over the single-block layout. No DuckDB twin exists
      * for the tensor path, so the baseline is the no-halo single-block
      * run: the multi/single ratio bounds the halo-exchange + merge tax
      * (a ratio < 1 means the 8-way parallelism pays for the halo). Each
      * kernel is one warm-up + median of 3 under the floor guard, and a
      * ratio breach re-probes both layouts (the round-10 artifact recorded
      * gaussian5 at ratio 3.35 with no way to tell contention from
      * regression). Shuffle width is lifted to the block count — the
      * relational width (1 at sf0.1) would serialize the 8-task exchange. */
    private def tensor(): Obj = withConf(spark.conf,
        shufflePartitions -> math.min(cpus, 8).toString) {
      import graft.tensor._
      val persistLvl = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
      // Both layouts' inputs stay persisted for the whole group (≈25 MiB)
      // so a ratio-breach re-probe can re-run either side without
      // rebuilding state.
      val inputs = Seq("multi" -> Seq(256, 512), "single" -> Seq(1024, 1024))
        .map { case (vname, chunk) =>
          val base = synthBlocks(spark, 1024, 1024, chunk, s"bench_$vname").persist(persistLvl)
          forceB(base)
          val u8 = TBlock.fromBlocks(base, DType.U8).persist(persistLvl)
          forceTB(u8)
          val bin = binarizeB(base).persist(persistLvl)
          forceB(bin)
          vname -> ((base, u8, bin))
        }.toMap
      val m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
      val off = Array(0.5, -0.25)
      def runKernel(kname: String, vname: String): Unit = {
        val (base, u8, bin) = inputs(vname)
        kname match {
          // σ=0.5, truncate=4 → radius 2: the 5×5 gaussian
          case "gaussian5" => forceB(Filters.gaussianFilter(base, Seq(0.5, 0.5)))
          case "uniform3_u8" => forceTB(Filters.uniformFilterTyped(u8, Seq(3, 3), DType.F32))
          case "label_stats" =>
            val (lab, _) = Measure.label(bin, 2)
            Measure.area(bin, lab, 2).count(); ()
          case "affine_shift" => forceB(Interp.affineTransform(base, 2, m, off, order = 1))
          // typed twin: the gather join ships 1 B/px uint8 instead of
          // 8 B/px float64 — the r10 native-byte resampling path
          case "affine_u8" =>
            forceTB(Interp.affineTransformTyped(u8, 2, m, off, order = 1, outDtype = DType.F32))
        }
      }
      // a failed run is not kernel performance: the layout reports None
      def layout(kname: String, vname: String): Option[Double] = {
        var ok = true
        val t = med3(if (leg(s"tensor_${kname}_$vname")(runKernel(kname, vname)).isEmpty)
          ok = false, warmups = 1)
        Some(t).filter(_ => ok)
      }
      def both(k: String) = (layout(k, "multi"), layout(k, "single"))
      val g = runner.guarded("tensor", tensorKernels, Gate.ratio)(both, both)
      inputs.values.foreach { case (b, u, n) => b.unpersist(); u.unpersist(); n.unpersist() }
      tensorFields(g)
    }

    // ----------------------------------------------------------- one-pass

    /** One-pass scale smoke (SURVEY §6, round 10 — the sf10 artifact):
      * each key runs ONCE, reporting wall clock and peak driver heap. No
      * warm-ups or medians — at GB scale a single pass is signal. Run with
      * SPARK_GRAFT_CACHE= (empty) so peak heap tracks driver-side METADATA
      * (needs tables, relabel maps, plan state), not cached table storage:
      * flat heap sf1 → sf10 is the pass condition. */
    def onePass(): Obj = {
      // peaks measure the PASS, not JVM startup / table-cache warm-up highs
      heapPools.foreach(_.resetPeakUsage())
      // SPARK_GRAFT_KEYS=a,b,c restricts every row to the named keys —
      // the re-measurement tool for one slow key without paying the
      // full pass. A key outside every group (e.g. minhash_signatures,
      // the signature-scan half of minhash_near_dup) runs in its own
      // "extra" group, never in a group total.
      val onlyKeys = sys.env.get("SPARK_GRAFT_KEYS").map(_.split(",").filter(_.nonEmpty).toSet)
      val grouped = (headline ++ llmHeadline ++ curationHeadline).toSet
      val extra = onlyKeys.fold(Seq.empty[String])(_.filter(k =>
        qs.contains(k) && !grouped(k)).toSeq.sorted)
      def items(ks: Seq[String]) = ks.filter(qs.contains).map(n => n -> (() => queryOnce(n)))
      // The streaming legs run BEFORE the layout legs: their builds
      // rewrite a full fact table and the probes' micro-batch reads would
      // otherwise measure that writeback aftermath (in-pass 38 s vs 15 s
      // standalone, r17).
      val rows = Seq(
        Row("llm", Some("SPARK_GRAFT_LLM"), llmHeadline :+ scaledKey, leg = false)(ks =>
          llm(items(ks), ks.contains(scaledKey))),
        Row("extra", None, extra, leg = true)(ks => onceGroup("extra", items(ks))),
        Row("curation", Some("SPARK_GRAFT_CURATION"), curationHeadline, leg = false)(ks =>
          onceGroup("curation", items(ks))),
        legRow("streaming", "SPARK_GRAFT_STREAMING", "stream_throughput")(stream()),
        legRow("streaming_stateful", "SPARK_GRAFT_STREAMING",
          "stream_stateful_throughput")(statefulStream()),
        legRow("bucketed", "SPARK_GRAFT_BUCKETED", "q3_bucketed")(
          bucketed(queryOnce, full = false)),
        legRow("partitioned", "SPARK_GRAFT_PARTITIONED", "date_trunc_agg_partitioned")(
          partitioned(queryOnce, full = false)),
        legRow("sigindex", "SPARK_GRAFT_SIGINDEX", "sigindex_probe")(sigIndex()),
        legRow("pqindex", "SPARK_GRAFT_PQINDEX", "pqindex_probe")(pqIndex()))
      // fail loudly on a typo'd key (r16): a filter that matches nothing
      // would still write a plausible-looking line with every group empty
      onlyKeys.foreach { ks =>
        val unknown = ks -- qs.keySet -- rows.flatMap(_.keys)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_KEYS names no known query: ${unknown.mkString(",")}")
      }
      def keep(n: String): Boolean = onlyKeys.forall(_.contains(n))
      // every one-pass artifact carries its own disk MB/s so a band can
      // tell a slow disk window from a slow plan (r19 verdict #2)
      val (pre, kind) = diskProbeAuto("pre")
      // the cache drop comes BEFORE t0 (r17): billing the sync + drop
      // into the headline wall made it incomparable under the flag
      coldGroup("headline")
      val (res, wall) = timed(headline.filter(qs.contains).filter(keep)
        .map(n => n -> queryOnce(n)))
      val fields = runRows(rows, keep)
      val peakMb = peakHeapMb()
      val smoke = if (sys.env.contains("SPARK_GRAFT_TENSOR_SMOKE")) tensorSmoke() else Obj()
      // the pass is only self-adjudicating if the disk was healthy BOTH
      // ends (r19 watched a window collapse mid-pass)
      val (post, _) = diskProbeAuto("post")
      onePassLine(res, wall, failed, fields ++ smoke,
        diskFields(pre, post, kind) ++ cpuProbe(cpus), peakMb, sfDir)
    }

    /** A one-pass group: each item once, plus the group's wall. */
    private def onceGroup(tag: String, items: Seq[(String, () => Double)]): Obj = {
      val (res, wall) = timed(items.map { case (n, t) => n -> t() })
      onceFields(tag, res, wall)
    }

    /** The one-pass LLM group (round 11 — the sf10 dedup artifact:
      * banding miscalibration shows up as superlinear candidate growth,
      * and this is the scale where it would), with the scaled-K row. */
    private def llm(items: Seq[(String, () => Double)], withScaled: Boolean): Obj = {
      var k = 0
      val scaled = if (!withScaled) Seq.empty else Seq(scaledKey -> (() => {
        val emb = Tables.t(spark, sfDir, "embeddings")
        k = queries.Similarity.kmeansK(leg(scaledKey)(emb.count()).getOrElse(0L))
        once(leg(scaledKey)(queries.Similarity.semanticDedupWith(emb, k).count()))
      }))
      onceGroup("llm", items ++ scaled) ++
        // scaled_k only when its row ran: kmeansK(0) would mislead
        (if (scaled.isEmpty) Obj() else Obj("scaled_k" -> k))
    }

    /** Scratch input and checkpoint dirs for a streaming leg. */
    private def streamDirs(prefix: String): (String, String) = {
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"${prefix}_${graft.sources.Lake.dirSuffix(sfDir)}" +
          s"_${spark.sparkContext.applicationId}").toString
      queries.TmpCleanup.register(base + "_in")
      queries.TmpCleanup.register(base + "_ckpt")
      (base + "_in", base + "_ckpt")
    }

    private def stateTotals(p: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
      val ops = p.reverse.find(_.stateOperators.nonEmpty).toSeq.flatMap(_.stateOperators.toSeq)
      (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum / 1e6)
    }

    /** Streaming throughput probe (r17 verdict #8): the quality gate
      * streamed over the scale corpus — 32 parquet shards, 8 per
      * micro-batch, through the Gopher filter with the RocksDB state store
      * (the cluster provider). Each batch's scan holds ≥ cpus splits, so
      * it feeds the whole machine (with 1 big file per trigger a 12-split
      * scan left 2/3 of the cores idle — size the TRIGGER to the cluster).
      * The batch twin runs FIRST over the SAME shard files (a twin on the
      * original table measured warm page cache against the stream's cold
      * shard copy and flagged a phantom 66×); its failure fails the leg. */
    private def stream(): Obj = {
      val docs = Tables.t(spark, sfDir, "documents")
      val nDocs = docs.count()
      val (inDir, ckpt) = streamDirs("graft_bench_stream")
      docs.repartition(32).write.mode("overwrite").parquet(inDir)
      val batchS = once(queries.TextOps.gopherOver(queries.TextOps.augmentSymbols(
        Tables.parquet(spark, inDir))).count())
      // State width is sized to the STATE (20 groups), not the batch: each
      // stateful shuffle partition is one RocksDB instance paying
      // snapshot+commit EVERY micro-batch (a 32-wide shuffle measured
      // ~10 s/batch for a 20-row aggregate, sf10 r17).
      val (q, wall) = withConf(spark.conf, rocksDb,
          shufflePartitions -> math.min(8, cpus).toString) {
        val agg = queries.TextOps.gopherOver(queries.TextOps.augmentSymbols(spark.readStream
          .schema(docs.schema).option("maxFilesPerTrigger", "8").parquet(inDir)))
        timed(graft.streaming.StreamOps.runStream(agg) {
          _.format("memory").queryName("graft_bench_stream_gate")
            .option("checkpointLocation", ckpt).outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        })
      }
      val progress = q.recentProgress.toSeq
      val batches = progress.count(_.numInputRows > 0)
      val (stateRows, stateMb) = stateTotals(progress)
      // flag band: 5× the batch twin's operator work, plus ~1.5 s per
      // micro-batch (dispatch + state-store commit are a FIXED per-trigger
      // cost, ~0.9 s/batch at toy sf), plus a 3 s one-time STARTUP
      // allowance (offset-log/checkpoint init + file-index build). Without
      // it the band flipped on ±1 s of disk noise at sf100 (r18); the flag
      // exists for the 106 k-rows/s class of micro-batch/state
      // regressions, which a 3 s constant cannot mask.
      val ok = wall <= batchS * 5 + 1.5 * math.max(batches, 1) + 3.0
      if (!ok) {
        failed += "stream_throughput"
        System.err.println(f"[bench] stream_throughput FLAG: streamed $wall%.1f s " +
          f"vs batch twin $batchS%.1f s — past the 5x + 1.5s/batch band")
      }
      Obj("streaming" -> Obj("rows" -> nDocs, "batches" -> batches, "wall_s" -> wall,
        "rows_per_s" -> nDocs / math.max(wall, 1e-9), "batch_twin_s" -> batchS,
        "state_rows" -> stateRows, "state_mem_mb" -> stateMb, "overhead_ok" -> ok))
    }

    /** Stateful streaming throughput (r18 verdict #5): the LIVE-CRAWL
      * posture — the near-dedup flatMapGroupsWithState with RocksDB state —
      * over the same 32-shard corpus. State WIDTH tracks STATE CARDINALITY
      * (the r17 rule): one entry per (band, distinct-signature) bucket —
      * thousands of groups, not 20 — so the shuffle keeps the cluster
      * width. Progress is counted by a listener, not q.recentProgress:
      * Spark retains only numRecentProgressUpdates (default 100) entries,
      * so a longer run would undercount ingested rows (r19). */
    private def statefulStream(): Obj = {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "source", "text")
      val nDocs = docs.count()
      val (inDir, ckpt) = streamDirs("graft_bench_sstream")
      // distributed shard write (the verdict-path writeDocShards is a
      // driver collect — test plumbing, not a scale fixture)
      docs.repartition(32).write.mode("overwrite").json(inDir)
      withConf(spark.conf, rocksDb, shufflePartitions -> cpus.toString) {
        val verdicts = graft.streaming.StreamOps.nearDedupVerdictStream(
          spark, inDir, filesPerTrigger = 8, maxSigsPerBucket = 1 << 14, ttlMs = 0L)
        val ingestedAcc = new java.util.concurrent.atomic.AtomicLong(0L)
        val batchesAcc = new java.util.concurrent.atomic.AtomicLong(0L)
        @volatile var qid: java.util.UUID = null
        val listener = new StreamingQueryListener {
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            if (qid != null && e.progress.id == qid) {
              ingestedAcc.addAndGet(e.progress.numInputRows)
              if (e.progress.numInputRows > 0) batchesAcc.incrementAndGet()
            }
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(listener)
        val (stateQ, wall) = try timed(graft.streaming.StreamOps.runStream(verdicts,
            (q0, limitMs) => { qid = q0.id; graft.streaming.StreamOps.awaitEnd(q0, limitMs) }) {
          _.format("noop").option("checkpointLocation", ckpt).outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        }) finally {
          // listener events are async: wait (50 ms steps, 10 s cap) until
          // the counter reaches the source count or holds still for 2 s
          var (last, still, waited) = (-1L, 0, 0)
          while (ingestedAcc.get() < nDocs && waited < 200 && still < 40) {
            if (ingestedAcc.get() == last) still += 1
            else { last = ingestedAcc.get(); still = 0 }
            Thread.sleep(50); waited += 1
          }
          spark.streams.removeListener(listener)
        }
        // throughput numerator = rows the stream ACTUALLY ingested, not the
        // source count — a glob/hidden-file mismatch dropping a shard
        // would otherwise silently overstate rows/s (r18)
        val ingested = ingestedAcc.get()
        if (ingested != nDocs) {
          failed += "stream_stateful_throughput"
          System.err.println(s"[bench] stateful stream FLAG: ingested " +
            s"$ingested rows but source has $nDocs")
        }
        // the LAST progress entry is always within retention
        val (stateRows, stateMb) = stateTotals(stateQ.recentProgress.toSeq)
        Obj("streaming_stateful" -> Obj("rows" -> ingested, "rows_expected" -> nDocs,
          "batches" -> batchesAcc.get(), "wall_s" -> wall,
          "rows_per_s" -> ingested / math.max(wall, 1e-9), "state_rows" -> stateRows,
          "state_mem_mb" -> stateMb, "state_width" -> cpus))
      }
    }

    /** Persisted-SigIndex probe leg (r19 verdict #6): the production
      * batch-arrival shape next to minhash_near_dup's full-corpus number.
      * The index over the accumulated corpus (doc_id below the
      * 90th-percentile cut) is DURABLE (a warm run skips the corpus
      * signature pass: build_s ≈ 0, reused: true); the timed probe
      * computes the 10% batch's signatures, reads the index pruned to the
      * batch's own (band, part) partitions (pruned_scan_ok pins the
      * literal PartitionFilters at scale), and runs the collide verdict.
      * Corpus TEXT is never read. */
    private def sigIndex(): Obj = {
      import graft.queries.TextOps
      import graft.sources.SigIndex
      val docs = Tables.t(spark, sfDir, "documents")
      val (root, cut) = SigIndex.benchRoot(spark, sfDir)
      val (reused, buildS) = SigIndex.ensureBenchIndex(spark, sfDir)
      // batch signatures once (Materialize: banded keys + the verdict
      // both consume them; recomputing the minhash fold per consumer
      // would double the timed work)
      def probe(batch: DataFrame) = {
        val sigs = Materialize(TextOps.nearDupSigs(batch))
        val keys = SigIndex.probeKeys(TextOps.nearDupBand(sigs))
        val idx = SigIndex.prunedRead(spark, root.toString, keys)
          .withColumnRenamed("sig", "idx_sig")
        (sigs, keys, idx, TextOps.nearDupCollidedIds(sigs.select("doc_id", "sig"), idx).count())
      }
      val ((batchSigs, keys, idx, nCollided), probeS) =
        timed(probe(docs.filter(col("doc_id") >= cut)))
      val nBatch = batchSigs.count()
      val prunedOk = "PartitionFilters: \\[[^\\]]*band".r
        .findFirstIn(idx.queryExecution.executedPlan.toString).isDefined
      if (!prunedOk) {
        failed += "sigindex_probe"
        System.err.println("[bench] sigindex probe FLAG: partition pruning not in scan")
      }
      // Band-sparse small-batch probe (r19 verdict #4): the 10% batch
      // above bands into every (band, part) partition on the synthetic
      // corpus (the pruning mechanism is pinned but inert), so this twin
      // probes what pruning is FOR: 16 arriving docs whose ≤128 banded
      // keys list a fraction of the 512 partitions, against an UNPRUNED
      // twin of the same verdict — pruning must never change the answer.
      val ((smallSigs, sKeys, _, sCollided), sPrunedS) = timed(probe(docs
        .filter(col("doc_id") >= cut && col("doc_id") < cut + 16)))
      val (uCollided, sUnprunedS) = timed(TextOps.nearDupCollidedIds(
        smallSigs.select("doc_id", "sig"),
        SigIndex.read(spark, root.toString).withColumnRenamed("sig", "idx_sig")).count())
      if (sCollided != uCollided) {
        failed += "sigindex_probe"
        System.err.println(s"[bench] sigindex small-batch FLAG: pruned " +
          s"verdict $sCollided != unpruned $uCollided")
      }
      Obj("sigindex" -> Obj("build_s" -> buildS, "reused" -> reused, "probe_s" -> probeS,
        "batch_docs" -> nBatch, "n_collided" -> nCollided, "probe_partitions" -> keys.length,
        "pruned_scan_ok" -> prunedOk, "small_batch" -> Obj("batch_docs" -> 16,
          "probe_partitions" -> sKeys.length, "total_partitions" -> 512,
          "pruned_probe_s" -> sPrunedS, "unpruned_probe_s" -> sUnprunedS,
          "n_collided" -> sCollided, "verdict_equal" -> (sCollided == uCollided))))
    }

    /** Stored-index IVF-PQ leg (r19): the ANN serving-path number at scale
      * — the durable index (codes 4 B/vector + cell id) is built once per
      * corpus fingerprint; the timed probe reads the index relations, ADCs
      * the probed cells' packed codes, and fetches only the 200
      * shortlisted float payloads. codes_mb is the measured at-rest index
      * size — the BASELINE.md memory-table claim as an artifact row. */
    private def pqIndex(): Obj = {
      import graft.queries.Similarity
      val reused = Similarity.pqIndexExists(sfDir)
      val (root, buildS) = timed(Similarity.ensurePqIndex(spark, sfDir))
      val codesMb = Option(new java.io.File(root, "codes").listFiles()).getOrElse(Array.empty)
        .map(f => if (f.isFile) f.length else 0L).sum / 1e6
      val (top, probeS) = timed(df("ivf_pq_probe").collect())
      if (top.length != 10) {
        failed += "pqindex_probe"
        System.err.println(s"[bench] pqindex probe FLAG: ${top.length} rows")
      }
      // Incremental-append datapoint (r19 verdict #6): the marginal cost of
      // adding the newest 10% of vectors to the FROZEN index — encode +
      // cell-assign + parquet write of only the new codes. Writes land in
      // a throwaway dir so the durable index stays its fingerprinted build.
      val maxId = Tables.t(spark, sfDir, "embeddings")
        .agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0)
      val newVecs = Similarity.normedForTest(spark, sfDir)
        .filter(col("vec_id") >= maxId - maxId / 10)
      val aDir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bench_pqappend_${spark.sparkContext.applicationId}").toString
      queries.TmpCleanup.register(aDir)
      val appendS = once(Similarity.appendPqCodes(spark, root, newVecs, aDir))
      Obj("pqindex" -> Obj("build_s" -> buildS, "reused" -> reused, "probe_s" -> probeS,
        "codes_mb" -> codesMb, "append_s" -> appendS,
        "append_rows" -> Tables.parquet(spark, aDir).count()))
    }

    /** Big-grid tensor smoke (round 11, merged into the one-pass artifact
      * in r12): SPARK_GRAFT_TENSOR_SMOKE=<side> runs gaussian5 +
      * label_stats + affine_u8 ONCE over a side² grid in 256×512 blocks
      * (8192² default → 512 blocks), streaming from the Range-leaf synth.
      * Nothing is persisted, so peak heap (re-reset here: its own
      * section's figure) tracks per-kernel operator state (halo slabs, CC
      * edge tables, gather needs rows), which must grow with the BLOCK,
      * not the grid. Flat heap 1024² → 8192² is the pass bar. */
    private def tensorSmoke(): Obj = withConf(spark.conf, shufflePartitions -> cpus.toString) {
      import graft.tensor._
      val side = sys.env("SPARK_GRAFT_TENSOR_SMOKE") match {
        case "" | "1" => 8192
        case v => v.toInt
      }
      heapPools.foreach(_.resetPeakUsage())
      val base = synthBlocks(spark, side, side, Seq(256, 512), "smoke")
      val m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
      val off = Array(0.5, -0.25)
      def kernel(name: String)(body: => Unit) =
        name -> once(leg(s"tensor_smoke_$name")(body))
      val (res, wall) = timed(Seq(
        kernel("gaussian5")(forceB(Filters.gaussianFilter(base, Seq(0.5, 0.5)))),
        kernel("label_stats") {
          val bin = binarizeB(base)
          val (lab, _) = Measure.label(bin, 2)
          Measure.area(bin, lab, 2).count(); ()
        },
        kernel("affine_u8")(forceTB(Interp.affineTransformTyped(
          TBlock.fromBlocks(base, DType.U8), 2, m, off, order = 1, outDtype = DType.F32)))))
      Obj("tensor_smoke" -> Obj(res: _*), "tensor_smoke_wall" -> wall, "tensor_side" -> side,
        "tensor_blocks" -> ((side + 255) / 256).toLong * ((side + 511) / 512),
        "tensor_peak_heap_mb" -> peakHeapMb())
    }
  }
}
