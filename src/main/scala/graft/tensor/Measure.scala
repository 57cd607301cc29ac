package graft.tensor

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Labeled measurements + connected components (dask_image.ndmeasure,
  * 16 ops — SURVEY.md §2A.5, "the relational heart").
  *
  * Every measurement is a group-by over (label) of the pixel relation
  * `(coords…, value, label)` — exactly the reference's partial+tree-reduce
  * plan (ndmeasure/__init__.py::mean ≈ L430–465 etc.), expressed as Spark
  * partial aggregation. Pixels are never materialized globally: `explode`
  * happens inside the scan-side of one shuffle whose reduce side is
  * num_labels rows.
  *
  * `label` is the one genuinely distributed algorithm
  * (ndmeasure/__init__.py::label ≈ L250–330): per-block union-find, then
  * face-adjacency edges, then iterative min-label propagation on an edge
  * DataFrame (the large-star/small-star style loop), then a fully
  * distributed relabel — roots ranked by a range-partitioned
  * sort+zipWithIndex and shuffle-joined back per block. No driver-side
  * connected-components solve and no O(#labels) driver or broadcast
  * state — unlike the reference, which funnels the global graph through
  * one task.
  */
object Measure {

  /** The pixel relation: one row per element with global coordinates.
    * Schema: imageId, c0..c{d-1} LONG, value DOUBLE [, label LONG]. */
  def pixels(ds: Dataset[Block], ndim: Int): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val rows = ds.flatMap { b =>
      val nd = Nd.of(b.shape.toArray, b.data)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Long], Double)]
      nd.foreachCoord { c =>
        val g = c.indices.map(k => (b.origin(k) + c(k)).toLong)
        buf += ((b.imageId, g, nd(c)))
      }
      buf
    }.toDF("imageId", "coords", "value")
    (0 until ndim).foldLeft(rows)((df, k) => df.withColumn(s"c$k", col("coords")(k)))
      .drop("coords")
  }

  /** Pixel relation of (value block, label block) pairs joined on idx. */
  def labeledPixels(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame = {
    val spark = image.sparkSession
    import spark.implicits._
    val joined = image.joinWith(labels,
      image("imageId") === labels("imageId") && image("idx") === labels("idx"))
    val rows = joined.flatMap { case (b, lb) =>
      val nd = Nd.of(b.shape.toArray, b.data)
      val ln = Nd.of(lb.shape.toArray, lb.data)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Double, Long)]
      nd.foreachCoord { c =>
        val g = c.indices.map(k => (b.origin(k) + c(k)).toLong)
        buf += ((g, nd(c), ln(c).toLong))
      }
      buf
    }.toDF("coords", "value", "label")
    (0 until ndim).foldLeft(rows)((df, k) => df.withColumn(s"c$k", col("coords")(k)))
      .drop("coords")
  }

  // ---------------------------------------------------------- measurements
  // Each returns a DataFrame keyed by label (background 0 excluded),
  // ordered by label — directly comparable to the reference's per-index
  // outputs.

  private def lp(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    labeledPixels(image, labels, ndim).filter(col("label") =!= 0)

  /** area (pixel count per label).
    *
    * Block-local histogram (r21, guide §2.3 aggregate-before-shuffle):
    * area is a function of the LABEL blocks alone, so the image⋈labels
    * block join and the per-pixel (coords, value, label) row explode the
    * generic lp() path pays are pure overhead here — at the 8192² bench
    * smoke they shuffled two full pixel payloads and allocated 67M tuple
    * rows to count them. One primitive loop per block emits ≤ its
    * distinct-label count of (label, n) partials; the groupBy sums them.
    * Output identical: non-background pixel count per label (counts are
    * associative over blocks). */
  def area(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    labels.flatMap { b =>
      val m = scala.collection.mutable.LongMap.empty[Long]
      val d = b.data
      var i = 0
      while (i < d.length) {
        val v = d(i)
        if (v != 0.0) { val l = v.toLong; m(l) = m.getOrElse(l, 0L) + 1L }
        i += 1
      }
      m.iterator
    }.toDF("label", "n")
      .groupBy("label").agg(sum("n").as("area")).orderBy("label")
  }

  /** find_objects: the tight per-label bounding box — (min_k, max_k) per
    * axis for every non-background label, the upstream
    * ndmeasure.find_objects surface (slice tuples there, explicit bound
    * columns here — the relational shape composes with joins/filters).
    * One partial-aggregating group-by on the label key; pixel payloads
    * never shuffle, only (label, coords) rows. */
  def findObjects(labels: Dataset[Block], ndim: Int): DataFrame = {
    // Block-local partial bounding boxes (r21, guide §2.3): the old form
    // self-joined `labels` WITH ITSELF through labeledPixels (two full
    // pixel-payload shuffles for a frame the flatMap already holds) and
    // exploded one row per pixel; min/max per axis are associative over
    // blocks, so each block emits one [min0..,max0..] partial per label
    // it contains and the groupBy folds those. Output identical.
    val spark = labels.sparkSession
    import spark.implicits._
    val partials = labels.flatMap { b =>
      val nd = Nd.of(b.shape.toArray, b.data)
      val d = b.ndim
      val m = scala.collection.mutable.LongMap.empty[Array[Long]]
      nd.foreachCoord { c =>
        val v = nd(c)
        if (v != 0.0) {
          val arr = m.getOrElseUpdate(v.toLong, {
            val a = new Array[Long](2 * d)
            java.util.Arrays.fill(a, 0, d, Long.MaxValue)
            java.util.Arrays.fill(a, d, 2 * d, Long.MinValue)
            a
          })
          var k = 0
          while (k < d) {
            val g = b.origin(k).toLong + c(k)
            if (g < arr(k)) arr(k) = g
            if (g > arr(d + k)) arr(d + k) = g
            k += 1
          }
        }
      }
      m.iterator.map { case (l, a) => (l, a.toSeq) }
    }.toDF("label", "mm")
    val aggs = (0 until ndim).flatMap(k =>
      Seq(min(col("mm")(k)).as(s"min_$k"), max(col("mm")(ndim + k)).as(s"max_$k")))
    partials.groupBy("label").agg(aggs.head, aggs.tail: _*).orderBy("label")
  }

  /** Per-(block, label) partial aggregates over congruent (image, labels)
    * block pairs (r22, guide §2.3 aggregate-before-shuffle + §1.2
    * per-task work): ONE primitive loop per joined pair emits, per label
    * the block contains,
    *   (label, n, s = Σv, ss = Σv², mn, mx, minR, maxR, mv = [Σc_k·v]_k)
    * where ridx is the C-order global ravel index (scipy's
    * first-encounter tiebreak key) and minR/maxR are the ridx of the
    * block's lexicographic (value, ridx) / (−value, ridx) minima. All of
    * these are associative over blocks, so the downstream label groupBy
    * folds ≤ #labels·#blocks partial rows into exactly the global
    * aggregates — where the old lp() path materialized one Spark row PER
    * PIXEL (a (coords…, value, label) explode) before the partial
    * aggregation even began. Double comparisons use
    * `java.lang.Double.compare` so NaN ordering (NaN greatest) and
    * −0.0 < 0.0 match Spark's, keeping the fold bit-equal to the old
    * per-pixel min/max/min_by aggregation. */
  private def labelPartials(image: Dataset[Block], labels: Dataset[Block]): DataFrame = {
    val spark = image.sparkSession
    import spark.implicits._
    val joined = image.joinWith(labels,
      image("imageId") === labels("imageId") && image("idx") === labels("idx"))
    joined.flatMap { case (b, lb) =>
      val nd = Nd.of(b.shape.toArray, b.data)
      val ln = Nd.of(lb.shape.toArray, lb.data)
      val d = b.ndim
      val gs = new Array[Long](d) // C-order global strides
      var acc = 1L
      var k = d - 1
      while (k >= 0) { gs(k) = acc; acc *= b.arrayShape(k); k -= 1 }
      final class P {
        var n = 0L; var s = 0.0; var ss = 0.0
        var mn = 0.0; var mx = 0.0
        var minR = 0L; var maxR = 0L
        var mnC: Array[Long] = null; var mxC: Array[Long] = null
        val mv = new Array[Double](d)
      }
      val m = scala.collection.mutable.LongMap.empty[P]
      nd.foreachCoord { c =>
        val l = ln(c)
        if (l != 0.0) {
          val v = nd(c)
          var r = 0L
          val g = new Array[Long](d)
          var j = 0
          while (j < d) {
            g(j) = b.origin(j) + c(j)
            r += g(j) * gs(j)
            j += 1
          }
          val p = m.getOrElseUpdate(l.toLong, new P)
          // foreachCoord walks ridx ascending within the block, so strict
          // compare keeps the first encounter on value ties
          if (p.n == 0L) { p.mn = v; p.minR = r; p.mnC = g; p.mx = v; p.maxR = r; p.mxC = g }
          else {
            if (java.lang.Double.compare(v, p.mn) < 0) { p.mn = v; p.minR = r; p.mnC = g }
            if (java.lang.Double.compare(v, p.mx) > 0) { p.mx = v; p.maxR = r; p.mxC = g }
          }
          p.n += 1; p.s += v; p.ss += v * v
          var q = 0
          while (q < d) { p.mv(q) += g(q) * v; q += 1 }
        }
      }
      m.iterator.map { case (l, p) =>
        (l, p.n, p.s, p.ss, p.mn, p.mx, p.minR, p.maxR,
          p.mnC.toSeq, p.mxC.toSeq, p.mv.toSeq)
      }
    }.toDF("label", "n", "s", "ss", "mn", "mx", "minR", "maxR", "mnC", "mxC", "mv")
  }

  /** (label, area, Σv, Σc_k·v …) in one block-partial fold — the fused
    * aggregate behind tensor_label_stats / tensor_label_i32_store (the
    * callers apply their own exact-decimal rounding). Unordered; callers
    * order. */
  def labelWeightedSums(image: Dataset[Block], labels: Dataset[Block],
      ndim: Int): DataFrame = {
    val aggs = Seq(sum("n").as("area"), sum("s").as("sv")) ++
      (0 until ndim).map(k => sum(col("mv")(k)).as(s"s$k"))
    labelPartials(image, labels).groupBy("label").agg(aggs.head, aggs.tail: _*)
  }

  /** sum_labels. */
  def sumLabels(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    labelPartials(image, labels).groupBy("label")
      .agg(sum("s").as("sum")).orderBy("label")

  /** mean. */
  def mean(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    labelPartials(image, labels).groupBy("label")
      .agg((sum("s") / sum("n")).as("mean")).orderBy("label")

  /** variance / standard_deviation (population, as scipy) — from the
    * (n, Σ, Σx²) block partials: E[x²] − E[x]² (values here are exact
    * 2-decimal quantities, so the naive form is well-conditioned). */
  def variance(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    labelPartials(image, labels).groupBy("label")
      .agg((sum("ss") / sum("n") - (sum("s") / sum("n")) * (sum("s") / sum("n")))
        .as("variance")).orderBy("label")

  def standardDeviation(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    labelPartials(image, labels).groupBy("label")
      .agg(sqrt(sum("ss") / sum("n") - (sum("s") / sum("n")) * (sum("s") / sum("n")))
        .as("std")).orderBy("label")

  /** minimum / maximum. */
  def minimum(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    labelPartials(image, labels).groupBy("label")
      .agg(min("mn").as("min")).orderBy("label")

  def maximum(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    labelPartials(image, labels).groupBy("label")
      .agg(max("mx").as("max")).orderBy("label")

  /** median (exact, as the reference's labeled_comprehension-based median). */
  def median(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame =
    lp(image, labels, ndim).groupBy("label")
      .agg(expr("percentile(value, 0.5)").as("median")).orderBy("label")

  /** Raveled index for positional tie-breaks (C-order, as scipy's
    * first-encounter argmin/argmax). */
  private def ravel(ndim: Int, arrayShape: Seq[Int]): org.apache.spark.sql.Column = {
    val strides = new Array[Long](ndim)
    var acc = 1L
    for (k <- (ndim - 1) to 0 by -1) { strides(k) = acc; acc *= arrayShape(k) }
    (0 until ndim).map(k => col(s"c$k") * lit(strides(k)))
      .reduce(_ + _)
  }

  /** minimum_position / maximum_position — the block partials carry the
    * per-block lexicographic-(value, ridx) minimum's ravel index; the
    * fold is one min_by over partials, coords unravel at the end
    * (deterministic scipy first-encounter tiebreak, as before). */
  def minimumPosition(image: Dataset[Block], labels: Dataset[Block], ndim: Int,
      arrayShape: Seq[Int]): DataFrame =
    labelPartials(image, labels).groupBy("label")
      .agg(min_by(col("mnC"), struct(col("mn"), col("minR"))).as("pos"))
      .select(col("label") +:
        (0 until ndim).map(k => col("pos")(k).as(s"c$k")): _*)
      .orderBy("label")

  def maximumPosition(image: Dataset[Block], labels: Dataset[Block], ndim: Int,
      arrayShape: Seq[Int]): DataFrame =
    // max on value, but FIRST occurrence on ties → minimize ridx: flip sign
    labelPartials(image, labels).groupBy("label")
      .agg(min_by(col("mxC"), struct(negate(col("mx")), col("maxR"))).as("pos"))
      .select(col("label") +:
        (0 until ndim).map(k => col("pos")(k).as(s"c$k")): _*)
      .orderBy("label")

  /** extrema — (min, max, min_pos, max_pos) in one fold over the block
    * partials. */
  def extrema(image: Dataset[Block], labels: Dataset[Block], ndim: Int,
      arrayShape: Seq[Int]): DataFrame = {
    def coordsOf(pos: org.apache.spark.sql.Column) =
      struct((0 until ndim).map(k => pos(k).as(s"c$k")): _*)
    labelPartials(image, labels).groupBy("label").agg(
      min("mn").as("min"), max("mx").as("max"),
      min_by(col("mnC"), struct(col("mn"), col("minR"))).as("amin"),
      min_by(col("mxC"), struct(negate(col("mx")), col("maxR"))).as("amax"))
      .select(col("label"), col("min"), col("max"),
        coordsOf(col("amin")).as("min_pos"), coordsOf(col("amax")).as("max_pos"))
      .orderBy("label")
  }

  /** center_of_mass — Σ(coordᵢ·value)/Σvalue per axis, from the block
    * partials' per-axis moment sums. */
  def centerOfMass(image: Dataset[Block], labels: Dataset[Block], ndim: Int): DataFrame = {
    val aggs = (0 until ndim).map(k =>
      (sum(col("mv")(k)) / sum(col("s"))).as(s"com$k"))
    labelPartials(image, labels).groupBy("label")
      .agg(aggs.head, aggs.tail: _*).orderBy("label")
  }

  /** histogram(min, max, bins) per label — block-local (label, bin)
    * counts (bin arithmetic identical to the old Spark expression:
    * floor((v − lo) / ((hi − lo) / bins)) in double), folded by one
    * groupBy and pivoted to a map per label
    * (ndmeasure/__init__.py::histogram ≈ L185–245). */
  def histogram(image: Dataset[Block], labels: Dataset[Block], ndim: Int,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val spark = image.sparkSession
    import spark.implicits._
    val width = (hi - lo) / bins
    val joined = image.joinWith(labels,
      image("imageId") === labels("imageId") && image("idx") === labels("idx"))
    val partials = joined.flatMap { case (b, lb) =>
      val nd = Nd.of(b.shape.toArray, b.data)
      val ln = Nd.of(lb.shape.toArray, lb.data)
      val m = scala.collection.mutable.HashMap.empty[(Long, Int), Long]
      nd.foreachCoord { c =>
        val l = ln(c)
        if (l != 0.0) {
          val v = nd(c)
          if (v >= lo && v < hi) {
            val bin = math.floor((v - lo) / width).toInt
            val key = (l.toLong, bin)
            m(key) = m.getOrElse(key, 0L) + 1L
          }
        }
      }
      m.iterator.map { case ((l, bin), n) => (l, bin, n) }
    }.toDF("label", "bin", "pn")
    partials.groupBy("label", "bin").agg(sum("pn").as("n"))
      .groupBy("label")
      .agg(map_from_entries(array_sort(collect_list(struct(col("bin"), col("n"))))).as("hist"))
      .orderBy("label")
  }

  /** labeled_comprehension — arbitrary serializable reduction over each
    * label's values (the UDAF extension point,
    * ndmeasure/__init__.py::labeled_comprehension ≈ L745–830). */
  def labeledComprehension(image: Dataset[Block], labels: Dataset[Block], ndim: Int)(
      fn: Iterator[Double] => Double): DataFrame = {
    val spark = image.sparkSession
    import spark.implicits._
    lp(image, labels, ndim)
      .select(col("label"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (label: Long, it: Iterator[(Long, Double)]) => (label, fn(it.map(_._2))) }
      .toDF("label", "result")
      .orderBy("label")
  }

  // ---------------------------------------------------------------- label

  /** Connected components of a boolean image (ndmeasure/__init__.py::label).
    *
    * 1. per-block union-find → locally-rooted labels, globally disjoint
    *    (offset = C-order linear cell index, so labels are deterministic);
    * 2. face plane exchange → cross-block adjacency edge DataFrame;
    * 3. iterative min-label propagation over edges (converges in
    *    O(log diameter) rounds with path doubling; checkpointed);
    * 4. distributed relabel: roots ranked to dense ids 1..n by a
    *    range-partitioned sort + zipWithIndex (scipy's scan-order
    *    numbering, since roots are first-cell linear indices), the
    *    old→dense relation shuffle-joined against each block's label set,
    *    and applied as one bounded map per block — no driver collect, no
    *    broadcast of O(#labels) state.
    *
    * Checkpointing: lineage is truncated per round with
    * `localCheckpoint(eager = true)` by default (fast, but not
    * fault-tolerant — blocks live only in executor storage). Set
    * `graft.checkpoint.reliable=true` in the session conf AND a
    * `SparkContext.setCheckpointDir` to use reliable HDFS/FS checkpoints
    * instead on a real cluster.
    *
    * Returns (label blocks, num_labels).
    */
  def label(ds: Dataset[Block], ndim: Int, connectivity: Int = 1): (Dataset[Block], Long) = {
    val spark = ds.sparkSession
    import spark.implicits._

    // Lineage truncation for the iterative steps: reliable checkpoint when
    // configured (cluster posture — survives executor loss), local
    // otherwise (single-machine speed).
    val reliable = spark.conf.getOption("graft.checkpoint.reliable").contains("true")
    if (reliable) require(spark.sparkContext.getCheckpointDir.isDefined,
      "graft.checkpoint.reliable=true requires SparkContext.setCheckpointDir")
    // LAZY truncation: the one call site runs a full-pass count right
    // after, which materializes every partition in that same job (see
    // graft.plans.GraphCC.cpLazyFor for the contract)
    def cp2(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = false) else df.localCheckpoint(eager = false)

    // ---- step 1: local label pass (labels = global linear index of the
    // component's root cell + 1; 0 = background)
    val local: Dataset[Block] = Filters.mapBlocks(ds) { b =>
      localLabel(b, connectivity)
    }.cache()

    // ---- step 2: adjacency edges across block faces.
    // A depth-1 halo exchange gives every block its neighbors' boundary
    // labels; each padded block emits (labelA, labelB) for adjacent fg
    // cells that straddle a face.
    val st = Morph.binaryStructure(ndim, connectivity)
    val center = st.shape.map(_ / 2)
    val offs = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      st.foreachCoord(c => if (st(c) != 0.0) {
        val o = c.indices.map(k => c(k) - center(k)).toArray
        if (o.exists(_ != 0)) buf += o
      })
      buf.toArray
    }
    // SLAB-PAIR exchange (r21, guide §2.3 — shuffle the proxy, not the
    // payload): an edge emit over the stencil halo exchange shuffles every
    // block's FULL label payload (the padded-block reassembly needs the
    // center piece co-located with its halo, so the exchange moves the
    // whole dataset — right for stencils that compute over the padded
    // array, pure waste here where only boundary adjacency matters).
    // Each adjacent block PAIR now exchanges depth-1 boundary slabs keyed
    // by the unordered pair id; the scan runs in global coordinates over
    // the two slabs and emits exactly the cross-block (max, min) label
    // pairs the padded form emitted (structure symmetric, both-side
    // emits were distinct()-normalized anyway). Shuffle drops from the
    // full label raster to the 2·d·depth/chunk slab fraction — at the
    // 8192² bench smoke ~0.5 GB → ~4 MB.
    val edges = faceEdges(local, offs).toDF("node", "root").distinct()

    // ---- step 3: connected components on the label graph — the shared
    // min-label-propagation/pointer-doubling kernel (graft.plans.GraphCC;
    // O(log diameter) rounds, two id-joins per round, checkpointed per the
    // same reliable/local posture as this method). Non-convergence aborts
    // inside GraphCC — duplicate `old` keys in the relabel relation would
    // otherwise surface as a cryptic map_from_entries failure downstream.
    val mapping = graft.plans.GraphCC.components(edges)
      .filter(col("node") =!= col("comp"))
      .select(col("node"), col("comp").as("root"))

    // ---- step 4: densify to 1..n in root order (deterministic; scipy
    // numbering is scan-order of component first-cells, and our roots ARE
    // first-cell linear indices, so rank(root) reproduces it).
    //
    // Fully distributed: rank roots with a range-partitioned sort +
    // zipWithIndex (no single-partition window), build the old→dense
    // relabel relation as a DataFrame, and join it against each block's
    // label set. Per-task state is one map bounded by the block's cell
    // count — never O(#labels) on the driver or in any one executor.
    // Each block's distinct labels, keyed by block (consumed twice: to
    // derive the global label set here and to build the per-block relabel
    // maps below — one scan of `local`, not two).
    val blockLabels = local.flatMap { b =>
      b.data.filter(_ != 0.0).map(_.toLong).distinct.map(l => (b.imageId, b.idx, l))
    }.toDF("imageId", "idx", "old")
    val allLabels = blockLabels.select(col("old").as("lbl")).distinct()
    // roots = labels that never appear as a NON-ROOT node of the mapping
    // (r21): `mapping` is filtered to node =!= comp, so a component's
    // root never shows up in its node column — the anti-join alone
    // already yields isolated labels ∪ component roots. The old
    // mapping.select(root).distinct().union(…).distinct() re-derived the
    // component roots through two extra distinct exchanges for a set the
    // anti-join had, provably, already produced.
    // Lazily truncated (r21): the ranking below consumes roots twice —
    // sortBy's range-partitioner sketch is a full pass (it samples within
    // every partition) and the sort shuffle itself is another. The sketch
    // pass completes this lazy truncation, so the anti-join lineage
    // (blockLabels distinct + anti-join against the CC mapping) executes
    // once instead of twice, at zero extra jobs.
    val roots = cp2(allLabels
      .join(mapping, col("lbl") === col("node"), "left_anti")
      .select(col("lbl").as("root")))
    // Lazy checkpoint + full count in ONE job (r21): dense ids are the
    // contiguous 1..n, so the count both materializes the truncated
    // ranking and IS n — the old eager checkpoint + agg(max(dense)) pair
    // paid two jobs for the same information.
    //
    // The RDD sortBy+zipWithIndex ranking was DELIBERATELY kept over a
    // pure-DataFrame bucketed rank (percentile_approx cuts + per-bucket
    // row_number + broadcast offsets, the TextOps.bucketedNtile idiom):
    // measured at sf0.1 the bucketed form added 4 driver-dispatched jobs
    // (its two broadcast builds don't dedup across the offsets/main
    // subtrees) for zero shuffle saved, and at scale it sorts each of
    // its ~64 value buckets in ONE task where sortBy range-partitions
    // the sort across the cluster's full parallelism.
    val ranked = cp2(roots.as[Long].rdd.sortBy(identity).zipWithIndex()
      .map { case (r, i) => (r, i + 1L) }
      .toDF("root", "dense")) // two consumers below; avoid recomputing the sort
    val n = ranked.count()
    if (n == 0L) return (local, 0L)
    // old label → dense id: roots map via their own rank, interior nodes via
    // their root's rank.
    val relabelDf = ranked.select(col("root").as("old"), col("dense"))
      .union(mapping.join(ranked, "root").select(col("node").as("old"), col("dense")))
    // Block labels joined to the relabel relation (shuffle join on label —
    // broadcastable when small, AQE picks), folded back into one bounded
    // map per block.
    val perBlock = blockLabels.join(relabelDf, "old")
      .groupBy("imageId", "idx")
      .agg(map_from_entries(collect_list(struct(col("old"), col("dense")))).as("m"))
      .as[(String, Seq[Int], Map[Long, Long])]
    val relabeled = local.joinWith(perBlock,
        local("imageId") === perBlock("imageId") && local("idx") === perBlock("idx"),
        "left_outer")
      .map { case (b, pm) =>
        if (pm == null) b
        else {
          val m = pm._3
          val out = new Array[Double](b.data.length)
          var i = 0
          while (i < out.length) {
            val v = b.data(i)
            out(i) = if (v == 0.0) 0.0 else m(v.toLong).toDouble
            i += 1
          }
          b.copy(data = out)
        }
      }
    (relabeled, n)
  }

  /** Cross-block adjacency label pairs from depth-1 boundary-slab PAIRS
    * (see the call site in [[label]] step 2). Every block emits, toward
    * each in-grid neighbor direction o ∈ {−1,0,1}^d \ {0}, its depth-1
    * boundary slab on that face (full extent on axes where o = 0; the
    * same face slabs THalo.emit ships), keyed by the UNORDERED block
    * pair — so a group holds at most two slabs, one per side, and
    * all-background slabs are never shipped. The scan walks the
    * lexicographically-smaller block's slab in GLOBAL coordinates under
    * the structuring offsets and pairs fg cells that land inside the
    * other slab's box. Coverage argument: an adjacency (a ∈ A, b = a+t
    * ∈ B) forces a into A's (B−A)-slab and b into B's (A−B)-slab on
    * every crossing axis, and the slabs span the blocks' full extent on
    * non-crossing axes — so scanning one side under the full symmetric
    * offset set emits exactly the pairs the padded-block form emitted
    * from both sides (distinct() downstream normalized those anyway). */
  private def faceEdges(local: Dataset[Block], offs: Array[Array[Int]])
      : Dataset[(Long, Long)] = {
    val spark = local.sparkSession
    import spark.implicits._
    def lexLt(a: Seq[Int], b: Seq[Int]): Boolean = {
      var k = 0
      while (k < a.length) {
        if (a(k) != b(k)) return a(k) < b(k)
        k += 1
      }
      false
    }
    val slabs = local.flatMap { b =>
      val d = b.ndim
      val grid = b.gridDims
      val src = Nd.of(b.shape.toArray, b.data)
      val dirs = Grid.cartesian(Seq.fill(d)(3)).map(_.map(_ - 1))
        .filter(_.exists(_ != 0))
      dirs.flatMap { o =>
        val target = b.idx.indices.map(k => b.idx(k) + o(k))
        if (!target.indices.forall(k => target(k) >= 0 && target(k) < grid(k))) None
        else {
          val lo = new Array[Int](d); val ss = new Array[Int](d)
          var k = 0
          while (k < d) {
            o(k) match {
              case 1  => lo(k) = b.shape(k) - 1; ss(k) = 1
              case -1 => lo(k) = 0; ss(k) = 1
              case _  => lo(k) = 0; ss(k) = b.shape(k)
            }
            k += 1
          }
          val slab = Nd.zeros(ss)
          var anyFg = false
          slab.foreachCoord { c =>
            val sc = new Array[Int](d)
            var j = 0
            while (j < d) { sc(j) = lo(j) + c(j); j += 1 }
            val v = src(sc)
            if (v != 0.0) anyFg = true
            slab(c) = v
          }
          if (!anyFg) None // a background slab can never host an edge
          else {
            val gorigin = (0 until d).map(k => (b.origin(k) + lo(k)).toLong)
            val first = lexLt(b.idx, target)
            val (pa, pb) = if (first) (b.idx, target) else (target, b.idx)
            Some((b.imageId, pa, pb, first, gorigin, ss.toSeq, slab.data))
          }
        }
      }
    }
    slabs.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        if (rows.length < 2) Iterator.empty
        else {
          val a = rows.find(_._4).get
          val bp = rows.find(!_._4).get
          val an = Nd.of(a._6.toArray, a._7)
          val bn = Nd.of(bp._6.toArray, bp._7)
          val (ao, bo) = (a._5, bp._5)
          val d = an.ndim
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          an.foreachCoord { c =>
            val x = an(c)
            if (x != 0.0) {
              var t = 0
              while (t < offs.length) {
                var inside = true
                var noff = 0
                var j = 0
                while (j < d) {
                  val g = ao(j) + c(j) + offs(t)(j)
                  val rel = g - bo(j)
                  if (rel < 0 || rel >= bn.shape(j)) { inside = false; j = d }
                  else { noff += rel.toInt * bn.strides(j); j += 1 }
                }
                if (inside) {
                  val y = bn.data(noff)
                  if (y != 0.0 && x != y) {
                    if (x < y) buf += ((y.toLong, x.toLong))
                    else buf += ((x.toLong, y.toLong))
                  }
                }
                t += 1
              }
            }
          }
          buf.distinct.iterator
        }
      }
  }

  /** Sequential union-find CC inside one block; labels are global C-order
    * linear indices of component roots + 1 (globally unique without any
    * coordination — the reference instead offsets by per-chunk counts,
    * which needs a scan; ndmeasure/_utils/_label.py::_label_adjacency_graph). */
  private[tensor] def localLabel(b: Block, connectivity: Int): Array[Double] = {
    val d = b.ndim
    val nd = Nd.of(b.shape.toArray, b.data)
    val n = nd.size
    val parent = new Array[Int](n)
    var i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, bb: Int): Unit = {
      val ra = find(a); val rb = find(bb)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val st = Morph.binaryStructure(d, connectivity)
    val centerSt = st.shape.map(_ / 2)
    val offs = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      st.foreachCoord(c => if (st(c) != 0.0) {
        val o = c.indices.map(k => c(k) - centerSt(k)).toArray
        if (o.exists(_ != 0)) buf += o
      })
      buf.toArray
    }
    nd.foreachCoord { c =>
      val self = nd.offset(c)
      if (nd.data(self) != 0.0) {
        var t = 0
        while (t < offs.length) {
          var ok = true
          var noff = 0
          var k = 0
          while (k < d) {
            val nc = c(k) + offs(t)(k)
            if (nc < 0 || nc >= nd.shape(k)) ok = false
            noff += nc * nd.strides(k)
            k += 1
          }
          if (ok && nd.data(noff) != 0.0) union(self, noff)
          t += 1
        }
      }
    }
    // global linear index strides
    val gStrides = new Array[Long](d)
    var acc = 1L
    var k = d - 1
    while (k >= 0) { gStrides(k) = acc; acc *= b.arrayShape(k); k -= 1 }
    val out = new Array[Double](n)
    nd.foreachCoord { c =>
      val self = nd.offset(c)
      if (nd.data(self) != 0.0) {
        val root = find(self)
        // root's LOCAL coords → GLOBAL linear index
        val rc = new Array[Int](d)
        var rem = root
        var j = 0
        while (j < d) { rc(j) = rem / nd.strides(j); rem %= nd.strides(j); j += 1 }
        var g = 0L
        j = 0
        while (j < d) { g += (b.origin(j) + rc(j)) * gStrides(j); j += 1 }
        out(self) = (g + 1).toDouble
      }
    }
    out
  }
}
