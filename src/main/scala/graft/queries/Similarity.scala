package graft.queries

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * SURVEY.md §2C.
  *
  * Scale posture: dot products run as codegen'd higher-order functions
  * (zip_with + aggregate) over the vector column — no UDF, no collect.
  * `cosine_topk` broadcasts the single query vector and reduces with
  * TakeOrderedAndProject (no global sort). The IVF path (`ivf_*`) is the
  * 100 TB strategy: a small centroid table is broadcast, every vector is
  * assigned to its nearest centroid in one narrow pass, and top-k probes
  * only the query's cell.
  *
  * All math is done in double precision after an explicit cast so the
  * DuckDB oracle (which also accumulates in double) matches bit-for-bit
  * after rounding.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame
  import graft.Tables.t

  /** dot(a, b) over two ARRAY<DOUBLE> columns — codegen'd HOF, no UDF. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private val vecD: Column = expr("transform(embedding, x -> CAST(x AS DOUBLE))")

  /** The near-dup threshold test with the zero-vector edge EXPLICIT
    * (r17, per ADVICE): cosine_sim(zero, ·) is NaN, and Spark's
    * comparison semantics order NaN ABOVE every numeric — a bare
    * `cos >= τ` silently treats the undefined cosine as a match, while
    * DuckDB's 0/0 yields NULL (no match) on non-IEEE configs. This
    * guard pins the documented semantics — an undefined cosine never
    * matches — independent of either engine's NaN ordering; the oracle
    * SQL carries the matching `NOT isnan(…)` guard. */
  private def clearsTau(cos: Column): Column = !isnan(cos) && cos >= 0.40

  // ------------------------------------------------------ brute-force top-k
  /** Top-10 cosine neighbors of vector vec_id=0 — exact brute force, the
    * correctness baseline for any ANN variant. One scan, broadcast query,
    * TakeOrderedAndProject. */
  val cosineTopk: Q = (s, dir) => {
    val e = t(s, dir, "embeddings").select(col("vec_id"), vecD.as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("v"), col("qv")) / (norm(col("v")) * norm(col("qv"))), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  val cosineTopkSql: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
      |    / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4) AS cos
      |FROM embeddings CROSS JOIN q
      |WHERE vec_id <> 0
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------------ pairwise near-dup
  /** Embedding near-duplicate pairs: cosine >= 0.40 within the same label.
    *
    * Candidate generation is sign-LSH BANDED, never all-pairs: each vector
    * gets 64 deterministic hyperplane sign bits, grouped as 32 bands ×
    * 2 bits; two vectors are candidates iff they share (label, band,
    * 2-bit value) for some band. Exact cosine (codegen'd native
    * expression) runs ONLY on candidates.
    *
    * Plane weights use the fract-sin hash w = fract(sin(n)·43758.5453)·2−1
    * (n = plane·64 + dim), NOT the annHyperplaneTopk sin(n) family:
    * consecutive-integer sine planes are pairwise correlated
    * (Σ_d sin(a+d)sin(b+d) ≈ 32·cos(a−b)), which collapsed the effective
    * band count and measurably missed threshold pairs; the fract hash
    * decorrelates them (measured bit-agreement matches the 1 − θ/π
    * theory).
    *
    * Recall: a pair at the 0.40 threshold agrees per bit w.p.
    * 1 − acos(0.40)/π ≈ 0.631, so it is missed by all 32 bands w.p.
    * (1 − 0.631²)^32 ≈ 9e-8 — SimilaritySpec locks full pair-set equality
    * with the all-pairs twin at both test scales, and the unchanged
    * all-pairs oracle gates the key. At 100 TB the banded join keys
    * (label, band, bucket) shard a hot label into 128 buckets instead of
    * one O(block²) join group, and the shuffle carries 32 narrow
    * (id, key) rows per vector, not the vectors themselves — vectors are
    * fetched by id only for the verified-candidate cosines. (This
    * synthetic corpus has weak within-label clustering, so the prune
    * ratio here is modest; on real near-dup-heavy corpora — the use case
    * — near-identical vectors collide in almost every band while
    * unrelated ones split.) */
  /** vec → representative (min vec_id per distinct (label, embedding))
    * in ONE partial-aggregated shuffle, CHECKPOINTED narrow and shared
    * by both embedding dedup keys. r21 derived this with a window-min
    * over (label, embedding) — one shuffle but a full SORT of the
    * vector payload; r22 replaces the sort with a hash aggregation that
    * collapses duplicate vectors MAP-SIDE (collect_list partials), so
    * at duplication-heavy scale the exchange carries ~distinct vectors
    * and no sort runs. Same (vec_id, rep) row set — min and group
    * membership are order-free. */
  private[graft] def vecRepPlan(e: DataFrame): DataFrame =
    e.groupBy(col("label"), col("embedding"))
      .agg(min(col("vec_id")).as("rep"), collect_list(col("vec_id")).as("members"))
      .select(explode(col("members")).as("vec_id"), col("rep"))

  private def vecRepMapping(e: DataFrame): DataFrame =
    Materialize(vecRepPlan(e))

  val embeddingNearDup: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    // EXACT-DUP COLLAPSE before the fuzzy stage (r11, same design as
    // minhash_near_dup): verbatim vector copies have identical sign-LSH
    // signatures, so k copies collide in all 32 bands and the candidate
    // set grows as C(k,2) per group — the sf10 artifact (100 copies per
    // vector) dragged ~10⁸ candidate pairs each carrying two 64-double
    // arrays through the verify joins and killed the run. Verify ONE
    // representative per distinct (label, embedding), then expand pairs
    // through the duplicate groups. Exact, not approximate: the
    // signature and the cosine are functions of the vector alone, so
    // candidacy and cos transfer from the rep pair to every member
    // pair, and an intra-group pair's cos is the rep's SELF-cosine
    // computed by the same expression — identical arithmetic, so even
    // the zero-vector NaN edge (excluded by the ≥ threshold filter)
    // behaves as the naive form does. Quadratic work drops to
    // distinct-vectors²; expansion is linear in the output pair list.
    val mapping = vecRepMapping(e)
    val repE = e.join(
      mapping.filter(col("vec_id") === col("rep")).select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    val cand = Materialize(embeddingLshCandidates(repE)) // tiny; eager so both verify joins reuse it
    val ve = repE.select(col("vec_id"), col("embedding"))
    val verified = cand
      .join(ve.as("ea"), col("va") === col("ea.vec_id"))
      .join(ve.as("eb"), col("vb") === col("eb.vec_id"))
      .select(col("va"), col("vb"),
        round(expr("cosine_sim(ea.embedding, eb.embedding)"), 4).as("cos"))
      .filter(clearsTau(col("cos")))
    val interG = verified
      .join(mapping.as("ma"), col("va") === col("ma.rep"))
      .join(mapping.as("mb"), col("vb") === col("mb.rep"))
      .select(least(col("ma.vec_id"), col("mb.vec_id")).as("va"),
        greatest(col("ma.vec_id"), col("mb.vec_id")).as("vb"), col("cos"))
    // intra-group pairs carry the representative's self-cosine (exactly
    // 1.0 after round-4 for any nonzero vector; NaN-excluded for zero).
    // repE rows ARE the reps with their vectors — one row per group.
    val selfCos = repE
      .select(col("vec_id").as("srep"),
        round(expr("cosine_sim(embedding, embedding)"), 4).as("cos"))
      .filter(clearsTau(col("cos")))
    val intraG = mapping.as("x").join(mapping.as("y"),
        col("x.rep") === col("y.rep") && col("x.vec_id") < col("y.vec_id"))
      .join(selfCos, col("x.rep") === col("srep"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"), col("cos"))
    interG.unionByName(intraG).orderBy(col("va"), col("vb"))
  }

  /** VERDICT-ONLY twin of [[embeddingNearDup]] — the 100 TB posture
    * (r16, verdict #6). The pair-list key is output-bound by its own
    * semantics at extreme duplication (~10⁹ rows at sf100's 1000×
    * dup-factor: C(k,2) per duplicate group); a deployment wants the
    * keep/drop verdict per vector, which is LINEAR in the corpus no
    * matter how heavy the duplication. Shape: exact-dup collapse →
    * banded-LSH candidates over REPS only → cosine verify → a rep
    * drops iff it verified against a smaller rep; members expand
    * through the group map (a non-rep drops iff its group self-cosine
    * clears the threshold, i.e. the group vector is nonzero — the rep,
    * an earlier identical copy, is its witness). No pair list is ever
    * materialized: state is reps + one boolean per vector. Verdict
    * semantics match the pair list exactly: drop(v) ⇔ ∃ u < v with
    * cos(u, v) ≥ 0.40 — which the oracle replays all-pairs. */
  val embeddingNearDupVerdict: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    // same map-side-collapsed mapping as [[embeddingNearDup]] (r22)
    val mapping = vecRepMapping(e)
    val repE = e.join(
      mapping.filter(col("vec_id") === col("rep")).select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    val cand = Materialize(embeddingLshCandidates(repE))
    val ve = repE.select(col("vec_id"), col("embedding"))
    // verified (va < vb by construction): vb loses to the earlier va
    val droppedReps = cand
      .join(ve.as("ea"), col("va") === col("ea.vec_id"))
      .join(ve.as("eb"), col("vb") === col("eb.vec_id"))
      .filter(clearsTau(round(expr("cosine_sim(ea.embedding, eb.embedding)"), 4)))
      .select(col("vb").as("rep")).distinct()
      .withColumn("rep_dropped", lit(true))
    // a group's intra-witness: the rep's self-cosine (1.0 for any
    // nonzero vector; NaN — excluded — for the zero vector, whose
    // copies therefore all KEEP, matching the all-pairs oracle);
    // repE rows ARE the reps with their vectors
    val selfOk = repE.select(col("vec_id").as("rep"),
      clearsTau(round(expr("cosine_sim(embedding, embedding)"), 4)).as("self_ok"))
    mapping
      .join(selfOk, Seq("rep"))
      .join(droppedReps, Seq("rep"), "left_outer")
      .select(col("vec_id"),
        (!when(col("vec_id") === col("rep"),
            coalesce(col("rep_dropped"), lit(false)))
          .otherwise(col("self_ok") || coalesce(col("rep_dropped"), lit(false))))
          .as("keep"))
      .orderBy(col("vec_id"))
  }

  /** All-pairs replay of the verdict semantics: v drops iff it appears
    * as the LARGER id of any qualifying pair. */
  val embeddingNearDupVerdictSql: String =
    """WITH pairs AS (
      |  SELECT b.vec_id AS vb
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.40
      |    AND NOT isnan(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))))
      |SELECT vec_id, vec_id NOT IN (SELECT vb FROM pairs) AS keep
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** The 64×64 fract-sin plane matrix, MATERIALIZED ONCE driver-side —
    * w(p, d) = fract(sin(p·64+d)·43758.5453)·2−1, the same double-op
    * sequence the SQL form computed (java.lang.Math.sin both ways, so
    * sign bits are bit-identical; SimilaritySpec pins the signatures).
    * Hoisting matters at scale: the inline HOF re-derived the constant
    * matrix per ROW — ~4096 transcendental calls per vector — where a
    * literal column costs one plan constant and per-row array reads. */
  private[graft] val lshPlanes: Seq[Seq[Double]] =
    graft.functions.SignLshSig.planes.map(_.toSeq).toSeq

  /** Sign-LSH banded candidate pairs (va, vb) — factored out
    * un-checkpointed so SimilaritySpec can assert the plan shape. */
  private[graft] def embeddingLshCandidates(emb: DataFrame): DataFrame = {
    // fract-sin hash → uniform [−1, 1) plane weights, decorrelated per
    // (plane, dim); see the embeddingNearDup docstring for why plain
    // sin(n) planes are unusable here. The signature is the NATIVE
    // codegen expression (r10) — bit-identical to the interpreted
    // HOF-over-literal-matrix form it replaced (SimilaritySpec pins
    // native == HOF == inline-sin), without the per-(row, plane)
    // zip_with allocation.
    val banded = emb
      .select(col("vec_id"), col("label"), expr("sign_lsh_sig(embedding)").as("sig"))
      .select(col("vec_id"), col("label"), explode(expr(
        "transform(sequence(0, 31), b -> b * 4 + (shiftright(sig, CAST(b * 2 AS INT)) & 3))"))
        .as("bucket"))
    banded.as("x").join(banded.as("y"),
        col("x.label") === col("y.label") && col("x.bucket") === col("y.bucket")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
  }

  /** Within-label all-pairs cosine — test-scale verification twin of
    * [[embeddingNearDup]] (SimilaritySpec asserts pair-set equality);
    * never registered as a gated key. */
  private[graft] val embeddingNearDupAllPairs: Q = (s, dir) => {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("label"), col("embedding"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(expr("cosine_sim(a.embedding, b.embedding)"), 4).as("cos"))
      .filter(clearsTau(col("cos")))
      .orderBy(col("va"), col("vb"))
  }

  val embeddingNearDupSql: String =
    """SELECT a.vec_id AS va, b.vec_id AS vb,
      |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cos
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.40
      |  AND NOT isnan(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))))
      |ORDER BY va, vb""".stripMargin

  // ------------------------------------------------------ IVF (k-means)
  // Real IVF coarse quantizer: spherical k-means (K=10, 2 Lloyd passes,
  // seeds = vec_id 0..K-1) over the NORMALIZED vectors, then multi-probe
  // (NPROBE=3) search. Deterministic across engines because centroid
  // components are rounded to 6 decimals after every update — the DuckDB
  // oracle replays the identical algorithm and reaches bit-identical
  // assignments.
  //
  // Scale posture: assignment is a zero-shuffle pass — the K centroids ride
  // along as one broadcast array column and the argmax runs as a codegen'd
  // HOF fold per row. Each Lloyd update is one (cluster, dim) shuffle via
  // posexplode; the dense matrix is never materialized. At 100 TB the
  // cluster column becomes a partition key and each probe a pruned scan.
  private val K = 10
  private val NPROBE = 3

  /** Production K rule (r12, judge item #2): K grows with the corpus so
    * the expected cluster size stays ~TARGET_CLUSTER rows and SemDeDup's
    * cluster-bounded quadratic stage stays bounded when DISTINCT content
    * grows with the corpus — at fixed K=10 a cluster is 10% of the
    * corpus and the rep-level pairwise goes quadratic again. Floor K
    * (the deterministic oracle constant) so toy scales keep the gate's
    * exact k-means; cap at 4096 because the centroid table rides along
    * as ONE broadcast array (64 doubles/centroid ≈ 2 MB at the cap —
    * broadcast-safe; past that you shard the coarse quantizer). */
  private[graft] val TARGET_CLUSTER = 5000L
  private[graft] def kmeansK(corpusRows: Long): Int = {
    // ceil without the +TARGET-1 overflow at the Long boundary
    val ceilDiv = corpusRows / TARGET_CLUSTER +
      (if (corpusRows % TARGET_CLUSTER == 0) 0L else 1L)
    math.min(4096L, math.max(K.toLong, ceilDiv)).toInt
  }

  /** (vec_id, v) with v = embedding / ||embedding||, in double.
    *
    * The `barrier` between the norm projection and the per-element
    * division is LOAD-BEARING (r18): as two adjacent Projects,
    * CollapseProject inlines the O(d) norm fold into the division
    * lambda, where the interpreted HOF re-evaluates it PER ELEMENT —
    * O(d²) per row, measured at sf100 as 555 µs/vector (1 111 CPU-s
    * over 2 M rows, the whole checkpoint stage). Split by any
    * non-Project node the norm is computed once per row (~3 µs).
    * [[normedPinned]] passes its spread exchange as the barrier. */
  private def normed(e0: DataFrame,
      barrier: DataFrame => DataFrame = identity): DataFrame =
    barrier(e0.withColumn("nrm", norm(vecD)))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").as("v"))

  /** [[normed]] SPREAD and PINNED for the iterative k-means paths (r11
    * s3): the repartition decouples the CPU-heavy Lloyd/assignment passes
    * from the input's split count — a single-row-group parquet otherwise
    * pins every corpus pass to ONE task, which the sf10 one-pass artifact
    * surfaced as semantic_dedup's ~190 s wall — and the eager
    * Materialize checkpoint holds the normalization once instead of once
    * per Lloyd job (kmeans alone re-executes the scan+norm lineage 2×,
    * each consumer once more). ~0.6 KB/row: at 100 TB you checkpoint this
    * narrow (id, v) projection, never the raw table. Values are
    * unchanged; only the partial-aggregation grouping of the Lloyd means
    * moves, which the 6-dp centroid rounding was already chosen to
    * absorb (the DuckDB oracle sums in a different order regardless —
    * the gate stays the arbiter). */
  // Fixed spread width: repartitioning by defaultParallelism would make
  // the Lloyd avg()'s partial-sum grouping (and thus the 6-dp-rounded
  // centroids, at ulp-level boundaries) depend on the machine's core
  // count. A constant keeps the float regrouping reproducible everywhere
  // (sortBeforeRepartition makes round-robin deterministic per input);
  // at real scale this is a config, raised with the cluster.
  private val KMEANS_PARTS = 32

  private def normedPinned(e0: DataFrame): DataFrame =
    // the spread exchange doubles as normed's collapse barrier: the
    // cheap O(d) norm projection runs at the input's split width, the
    // division spreads post-shuffle at KMEANS_PARTS. Row→partition
    // assignment is unchanged vs repartitioning the raw rows (the
    // sortBeforeRepartition binary order is led by the unique vec_id
    // either way), so the Lloyd partial-sum regrouping — and the
    // 6-dp-rounded centroids — are bit-stable across this change.
    Materialize(normed(e0, barrier = _.repartition(KMEANS_PARTS)))

  /** Seed centroids: the first k vectors, components rounded to 6 dp. */
  private def seedCents(vecs: DataFrame, k: Int = K): DataFrame =
    vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("c"), expr("transform(v, x -> round(x, 6))").as("cv"))

  /** Nearest-centroid (max cosine, tie → lowest c) assignment with ZERO
    * shuffle: centroids collapse to one array-of-struct row, broadcast,
    * and the argmax runs as the NATIVE codegen `argmax_dot` expression
    * (r11 s3 — the interpreted nested-HOF fold it replaced cost ~1 ms/row
    * at K=10×64; the sf10 LLM artifact caught it as semantic_dedup's
    * 192 s wall, and every ivf_* key paid it latently). Bit-identical to
    * the HOF form — same left-to-right dp accumulation, same nan-safe
    * strict `>` keeping the earliest (lowest c) on ties, mirroring the
    * oracle's ORDER BY dp DESC, c; FunctionsSpec pins native == HOF. */
  private[graft] def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val carr = cents.agg(array_sort(collect_list(struct(col("c"), col("cv")))).as("cs"))
    vecs.crossJoin(broadcast(carr))
      .withColumn("cluster", expr("argmax_dot(v, cs)"))
      .drop("cs")
  }

  /** The interpreted-HOF assignment fold `argmax_dot` replaced — kept as
    * the bit-fidelity twin FunctionsSpec compares against; never in a
    * gated path. transform-then-fold computes each centroid dot product
    * exactly once; strict > keeps the earliest (lowest c) on ties. */
  private[graft] def assignCellsHof(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val carr = cents.agg(array_sort(collect_list(struct(col("c"), col("cv")))).as("cs"))
    vecs.crossJoin(broadcast(carr))
      .withColumn("cluster", expr(
        """aggregate(
          |  transform(cs, s -> named_struct(
          |    'dp', aggregate(zip_with(v, s.cv, (x, y) -> x * y), 0D, (a, x) -> a + x),
          |    'c', s.c)),
          |  named_struct('dp', CAST(-2.0 AS DOUBLE), 'c', CAST(-1 AS BIGINT)),
          |  (acc, x) -> IF(x.dp > acc.dp, x, acc),
          |  acc -> acc.c)""".stripMargin))
      .drop("cs")
  }

  /** Lloyd update: element-wise cluster mean in ONE narrow aggregate via
    * the typed `vec_mean` buffer (r11 s3 — the posexplode form it
    * replaced pushed 64× the corpus row count through the shuffle per
    * iteration; kept below as the spec twin), re-normalized and rounded
    * to 6 dp (the cross-engine determinism anchor — it also absorbs the
    * partial-sum regrouping between the two forms, which
    * SimilaritySpec pins equal on real data). */
  private def updateCents(assigned: DataFrame): DataFrame = {
    assigned.groupBy(col("cluster").as("c"))
      .agg(expr("vec_mean(v)").as("mv"))
      .withColumn("cnrm", sqrt(dot(col("mv"), col("mv"))))
      .select(col("c"), expr("transform(mv, x -> round(x / cnrm, 6))").as("cv"))
  }

  /** The posexplode Lloyd update `vec_mean` replaced — spec twin only. */
  private[graft] def updateCentsExplode(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster").as("c"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("c"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("c"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("c"), expr("transform(dm, p -> p.m)").as("mv"))
      .withColumn("cnrm", sqrt(dot(col("mv"), col("mv"))))
      .select(col("c"), expr("transform(mv, x -> round(x / cnrm, 6))").as("cv"))

  /** Spec seam: the pinned normalized corpus for a test dir. */
  private[graft] def normedForTest(s: SparkSession, dir: String): DataFrame =
    normedPinned(t(s, dir, "embeddings"))

  /** Spec seam (r12 scaled-K): full k-means + assignment at any K over
    * an arbitrary embeddings frame. */
  private[graft] def assignedForTestOn(e: DataFrame, k: Int): DataFrame = {
    val vecs = normedPinned(e)
    assignCells(vecs, kmeans(vecs, k)).select(col("vec_id"), col("cluster"))
  }

  /** FunctionsSpec seam: the full corpus assignment under real k-means
    * centroids, in either form. */
  private[graft] def assignedForTest(s: SparkSession, dir: String,
      hof: Boolean): DataFrame = {
    val vecs = normedPinned(t(s, dir, "embeddings"))
    val cents = kmeans(vecs)
    (if (hof) assignCellsHof(vecs, cents) else assignCells(vecs, cents))
      .select(col("vec_id"), col("cluster"))
  }

  /** Two Lloyd passes from the deterministic seeds. Each iteration's
    * centroid table (K rows) is truncated with [[Materialize]]: without
    * truncation the final query tree re-executes the whole Lloyd prefix
    * once per consumer (assignment + probe ranking), i.e. extra full
    * scans of the corpus at 100 TB for a 10-row intermediate.
    *
    * Eagerness split by CONSUMER COUNT (r22, measured at sf10): the
    * INTERMEDIATE iteration's centroids have exactly one consumer — the
    * next iteration's [[assignCells]] broadcast build, a full pass over
    * the K rows — so a LAZY checkpoint folds its materialization into
    * that job (one job per iteration instead of two, the GraphCC lazy
    * idiom; reliable mode is always eager). The FINAL iteration's
    * centroids feed SEVERAL consumers (assignment + explicit
    * broadcast(cents) joins in the ivf keys) whose stages race:
    * concurrent first-computes of a lazy checkpoint each re-run the
    * corpus-sized Lloyd lineage before any partition
    * persists — an all-lazy form measured semantic_dedup 8.7 s vs 6.8 s
    * eager at sf10 — so the final table stays EAGER. */
  private def kmeans(vecs: DataFrame, k: Int = K): DataFrame =
    kmeansWith(vecs, explodeForm = false, k)

  /** kmeans with either Lloyd-update form — the spec runs both and pins
    * identical (6-dp-rounded) centroids on real data. */
  private[graft] def kmeansWith(vecs: DataFrame, explodeForm: Boolean,
      k: Int = K): DataFrame = {
    var cents = seedCents(vecs, k)
    for (i <- 1 to 2) {
      val assigned = assignCells(vecs, cents)
      cents = Materialize(if (explodeForm) updateCentsExplode(assigned)
                          else updateCents(assigned), eager = i == 2)
    }
    cents
  }

  /** IVF step 1: k-means centroids + per-cell population and L2
    * distance-to-own-centroid stats (computed as sqrt(v·v − 2 v·c + c·c)
    * so the oracle's arithmetic order matches exactly). */
  val ivfCentroidStats: Q = (s, dir) => {
    val vecs = normedPinned(t(s, dir, "embeddings"))
    val cents = kmeans(vecs)
    assignCells(vecs, cents)
      .join(broadcast(cents), col("cluster") === col("c"))
      .withColumn("dist",
        sqrt(dot(col("v"), col("v")) - lit(2) * dot(col("v"), col("cv"))
          + dot(col("cv"), col("cv"))))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("dist")), 4).as("avg_dist"),
        round(max(col("dist")), 4).as("max_dist"))
      .orderBy(col("cluster"))
  }

  /** The k-means CTE prefix shared by both IVF oracles — the same
    * normalize → seed → (assign → mean → round6)×2 → assign pipeline. */
  private val kmeansCte: String =
    """WITH vn AS (
      |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x / nrm) AS v
      |  FROM (SELECT vec_id, embedding,
      |               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |        FROM embeddings) n),
      |c0 AS (
      |  SELECT vec_id AS c, list_transform(v, x -> round(x, 6)) AS cv
      |  FROM vn WHERE vec_id < 10),
      |a1 AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vn.vec_id, c0.c,
      |           row_number() OVER (PARTITION BY vn.vec_id
      |                              ORDER BY list_dot_product(vn.v, c0.cv) DESC, c0.c) AS rn
      |    FROM vn CROSS JOIN c0) t WHERE rn = 1),
      |m1 AS (
      |  SELECT a.cluster AS c, d.dim, avg(vn.v[d.dim]) AS m
      |  FROM a1 a JOIN vn ON a.vec_id = vn.vec_id
      |  CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
      |  GROUP BY 1, 2),
      |c1 AS (
      |  SELECT c, list_transform(mv, x -> round(x / nrm, 6)) AS cv FROM (
      |    SELECT c, list(m ORDER BY dim) AS mv,
      |           sqrt(list_dot_product(list(m ORDER BY dim), list(m ORDER BY dim))) AS nrm
      |    FROM m1 GROUP BY c) t),
      |a2 AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vn.vec_id, c1.c,
      |           row_number() OVER (PARTITION BY vn.vec_id
      |                              ORDER BY list_dot_product(vn.v, c1.cv) DESC, c1.c) AS rn
      |    FROM vn CROSS JOIN c1) t WHERE rn = 1),
      |m2 AS (
      |  SELECT a.cluster AS c, d.dim, avg(vn.v[d.dim]) AS m
      |  FROM a2 a JOIN vn ON a.vec_id = vn.vec_id
      |  CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
      |  GROUP BY 1, 2),
      |c2 AS (
      |  SELECT c, list_transform(mv, x -> round(x / nrm, 6)) AS cv FROM (
      |    SELECT c, list(m ORDER BY dim) AS mv,
      |           sqrt(list_dot_product(list(m ORDER BY dim), list(m ORDER BY dim))) AS nrm
      |    FROM m2 GROUP BY c) t),
      |af AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vn.vec_id, c2.c,
      |           row_number() OVER (PARTITION BY vn.vec_id
      |                              ORDER BY list_dot_product(vn.v, c2.cv) DESC, c2.c) AS rn
      |    FROM vn CROSS JOIN c2) t WHERE rn = 1)""".stripMargin

  val ivfCentroidStatsSql: String = kmeansCte +
    """
      |SELECT cluster, count(*) AS n_vecs,
      |  round(avg(dist), 4) AS avg_dist, round(max(dist), 4) AS max_dist FROM (
      |  SELECT af.vec_id, af.cluster,
      |    sqrt(list_dot_product(vn.v, vn.v) - 2 * list_dot_product(vn.v, c2.cv)
      |         + list_dot_product(c2.cv, c2.cv)) AS dist
      |  FROM af JOIN vn USING (vec_id) JOIN c2 ON af.cluster = c2.c) t
      |GROUP BY cluster ORDER BY cluster""".stripMargin

  /** IVF step 2: multi-probe top-k — rank cells by centroid·query cosine,
    * scan the NPROBE nearest cells (~30% of the corpus at K=10), exact
    * cosine inside. Recall ≥0.9 vs brute force asserted in SimilaritySpec. */
  val ivfCosineTopk: Q = (s, dir) => {
    val vecs = normedPinned(t(s, dir, "embeddings"))
    val cents = kmeans(vecs)
    val q = vecs.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("c"), dot(col("cv"), col("qv")).as("dp"))
      .orderBy(col("dp").desc, col("c").asc)
      .limit(NPROBE)
      .select(col("c").as("pc"))
    assignCells(vecs, cents)
      .join(broadcast(probes), col("cluster") === col("pc"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(dot(col("v"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  val ivfCosineTopkSql: String = kmeansCte +
    """,
      |q AS (SELECT v AS qv FROM vn WHERE vec_id = 0),
      |pr AS (SELECT c FROM c2 CROSS JOIN q
      |       ORDER BY list_dot_product(cv, qv) DESC, c LIMIT 3)
      |SELECT vn.vec_id, round(list_dot_product(vn.v, q.qv), 4) AS cos
      |FROM af JOIN vn USING (vec_id) CROSS JOIN q
      |WHERE af.cluster IN (SELECT c FROM pr) AND vn.vec_id <> 0
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------ hyperplane LSH ANN
  /** Approximate top-k by random-hyperplane LSH (the data-independent ANN
    * scale path — unlike IVF-by-label it needs no cluster structure):
    * 6 deterministic hyperplanes (components sin(p·64+d), reproducible in
    * SQL) give a 6-bit sign bucket per vector; candidates = the query
    * bucket's hamming-≤r neighborhood, exact cosine ranks them. At 100 TB
    * the bucket column is a partition key and each probe is a pruned
    * partition scan.
    *
    * The probe RADIUS is data-size adaptive (r13 task #6 — small-corpus
    * recall): r is the smallest hamming radius whose expected candidate
    * mass n·cum(r)/64 reaches 1024 (≈ 100×k — below that the bucket
    * filter is too selective for a stable top-10), floored at the
    * designed r = 1, and saturating to r = 6 (honest brute force) when
    * even the full 64-bucket mass is under target. Corpus size n comes
    * from a parquet metadata count (no data scan). At sf0.1 (n = 1999)
    * this widens to r = 3 (≈ ⅔ of the corpus probed); at sf1+ (n ≥
    * 20 000) it stays at the designed r = 1 plan; under ~500 rows it
    * degenerates to exact search — each regime the right trade at its
    * size, and the DuckDB oracle derives the SAME radius from count(*),
    * so the gate compares the adaptive plan exactly. */
  val annHyperplaneTopk: Q = (s, dir) => {
    // 6-bit sign bucket via the native codegen expression
    // (graft.functions.HyperplaneSig) — the interpreted
    // aggregate(sequence(0,5), … aggregate(zip_with(…))) twin it replaced
    // cost ~1 ms/row (the scale-trap class from round 11); SimilaritySpec
    // pins bit-identity against that HOF form, incl. NaN/length edges,
    // and the DuckDB oracle still derives the planes from sin() directly.
    val e = t(s, dir, "embeddings")
      .withColumn("bucket", expr("hyperplane_sig(embedding)"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("bucket").as("qb"))
    val probes = spark_masks(s, dir)
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .join(broadcast(probes), expr("bucket = (qb ^ mask)"), "left_semi")
      .select(col("vec_id"), round(expr("cosine_sim(embedding, qv)"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Buckets within `r(n)` hamming bits of the query bucket, as xor
    * masks. `cum(r)` = #buckets within radius r of a 6-bit code. */
  private[graft] def adaptiveRadius(n: Long): Int = {
    val cum = Seq(1, 7, 22, 42, 57, 63, 64)
    val r = cum.indexWhere(c => n * c / 64.0 >= 1024.0)
    if (r < 0) 6 else math.max(1, r)
  }

  private def spark_masks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corpus size (minus the query vector) via the parquet metadata
    // count — table stats, not a data scan
    val n = t(s, dir, "embeddings").count() - 1
    val radius = adaptiveRadius(n)
    (0L until 64L).filter(m => java.lang.Long.bitCount(m) <= radius)
      .toDF("mask")
  }

  val annHyperplaneTopkSql: String =
    """WITH planes AS (
      |  SELECT p, d, sin(CAST(p * 64 + d AS DOUBLE)) AS w
      |  FROM (SELECT unnest(range(0, 6)) AS p)
      |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d)),
      |dots AS (
      |  SELECT e.vec_id, pl.p, sum(e.embedding[pl.d + 1]::DOUBLE * pl.w) AS dp
      |  FROM embeddings e CROSS JOIN planes pl
      |  GROUP BY e.vec_id, pl.p),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS b
      |  FROM dots GROUP BY vec_id),
      |qb AS (SELECT b FROM buckets WHERE vec_id = 0),
      |rad AS (SELECT CASE
      |    WHEN (count(*) - 1) * 7.0 / 64 >= 1024 THEN 1
      |    WHEN (count(*) - 1) * 22.0 / 64 >= 1024 THEN 2
      |    WHEN (count(*) - 1) * 42.0 / 64 >= 1024 THEN 3
      |    WHEN (count(*) - 1) * 57.0 / 64 >= 1024 THEN 4
      |    WHEN (count(*) - 1) * 63.0 / 64 >= 1024 THEN 5
      |    ELSE 6 END AS r FROM embeddings),
      |probes AS (
      |  SELECT xor(qb.b, m.m) AS pb
      |  FROM qb CROSS JOIN (SELECT unnest(range(0, 64)) AS m) m, rad
      |  WHERE bit_count(CAST(m.m AS BIGINT)) <= rad.r),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
      |    / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS cos
      |FROM embeddings e
      |JOIN buckets bk ON e.vec_id = bk.vec_id
      |CROSS JOIN q
      |WHERE bk.b IN (SELECT pb FROM probes) AND e.vec_id <> 0
      |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------ native expression
  /** cosine_topk through the custom codegen'd Catalyst expression
    * (graft.functions.CosineSimilarity) instead of the HOF pipeline —
    * same semantics, same oracle, no per-row intermediate arrays. */
  val cosineTopkNative: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(expr("cosine_sim(embedding, qv)"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  // ---------------------------------------------------------------- maps
  // "cosine_topk" (the benched headline key) runs the codegen'd native
  // expression; the HOF composition stays oracle-gated under its own key.
  // ------------------------------------------------- int8 quantization
  /** Scalar int8 embedding quantization + quantized-cosine top-k — the
    * memory-bound ANN scale lever (4× smaller vectors than float32, 8×
    * smaller than the double pipeline; at 100 TB the code table is what
    * fits in cluster RAM). Per-dimension (min, max) is one tiny
    * 64-row aggregate broadcast back as two ordered arrays; encode
    * (code = round((x−mn)·255/(mx−mn))) and dequantized cosine run as
    * codegen'd HOFs — zero shuffle beyond the 64-key scale aggregate.
    * Assumes non-constant dimensions (random-real embeddings), else the
    * scale is 0/0. The oracle replays the identical arithmetic; codes
    * are exact integers and both engines accumulate the dot products in
    * array order, so the compare is the same shape as `cosine_topk`. */
  val embeddingQuantTopk: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    import graft.tensor.DType
    val e = t(s, dir, "embeddings").select(col("vec_id"), vecD.as("v"))
    val sc = e.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(expr("transform(array_sort(collect_list(struct(d, mn, mx))), s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(d, mn, mx))), s -> s.mx)").as("mxs"))
    // Encode: pack each vector's codes as a TYPED INT8 payload via the
    // DType.I8 codec — 64 bytes/vector, the actual storage format the
    // 4×/8× memory claim rests on (r11: the codes no longer ride a
    // double array between quantize and dequantize). Codes are
    // re-centered to [−128, 127] so the signed byte domain is exact.
    val codes = e.crossJoin(broadcast(sc))
      .select(col("vec_id"), col("v"), col("mns"), col("mxs"))
      .as[(Long, Seq[Double], Seq[Double], Seq[Double])]
      .map { case (id, v, mns, mxs) =>
        val c = new Array[Double](v.length)
        var i = 0
        while (i < c.length) {
          c(i) = math.round((v(i) - mns(i)) * 255.0 / (mxs(i) - mns(i))) - 128.0
          i += 1
        }
        (id, DType.I8.encode(c))
      }.toDF("vec_id", "codes")
    // Decode: dequantize FROM the packed i8 bytes with the same scale
    // table; arithmetic replays the oracle's ops in the oracle's order.
    val deq = codes.crossJoin(broadcast(sc))
      .as[(Long, Array[Byte], Seq[Double], Seq[Double])]
      .map { case (id, bytes, mns, mxs) =>
        val cs = DType.I8.decode(bytes)
        val dv = new Array[Double](cs.length)
        var i = 0
        while (i < dv.length) {
          dv(i) = mns(i) + (cs(i) + 128.0) * (mxs(i) - mns(i)) / 255.0
          i += 1
        }
        (id, dv.toSeq)
      }.toDF("vec_id", "dv")
    val q = deq.filter(col("vec_id") === 0).select(col("dv").as("qdv"))
    deq.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("dv"), col("qdv")) / (norm(col("dv")) * norm(col("qdv"))), 4).as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(10)
  }

  val embeddingQuantTopkSql: String =
    """WITH dims AS (
      |  SELECT i.i AS d, min(embedding[i.i+1]::DOUBLE) AS mn, max(embedding[i.i+1]::DOUBLE) AS mx
      |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
      |  GROUP BY 1),
      |deq AS (
      |  SELECT e.vec_id, dm.d,
      |    dm.mn + round((e.embedding[dm.d+1]::DOUBLE - dm.mn) * 255.0 / (dm.mx - dm.mn))
      |            * (dm.mx - dm.mn) / 255.0 AS x
      |  FROM embeddings e CROSS JOIN dims dm),
      |deqv AS (SELECT vec_id, list(x ORDER BY d) AS v FROM deq GROUP BY 1),
      |q AS (SELECT v AS qv FROM deqv WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(v, qv)
      |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS qcos
      |FROM deqv CROSS JOIN q
      |WHERE vec_id <> 0
      |ORDER BY qcos DESC, vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------------- IVF-PQ ANN

  /** Per-subspace PQ Lloyd assignment: for each (vec_id, m) subvector,
    * the code of the L2-nearest codebook entry of subspace m, lowest
    * code on ties. Runs on the codegen `argmax_dot` via the classic
    * augmentation (Jégou et al. 2011 use plain L2 here):
    * argmin_c ‖sv − c‖² = argmax_c (sv·c − ½‖c‖²), so each codebook
    * entry is extended with −½ c·c and each subvector with 1.0 — the
    * 9-th fold term adds exactly −½‖c‖² (×1.0 is exact, a + (−b) ≡
    * a − b in IEEE), which is bit-identical to the oracle's
    * `list_dot_product(sv, cb) − 0.5·list_dot_product(cb, cb)`.
    * Codebooks collapse to one 16-entry array per subspace, broadcast;
    * zero shuffle on the corpus side. */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    val cba = cb.select(col("m"), struct(col("code").as("c"),
        concat(col("cb"), array(lit(-0.5) *
          expr("aggregate(zip_with(cb, cb, (x, y) -> x * y), 0D, (a, x) -> a + x)")))
          .as("cv")).as("s"))
      .groupBy(col("m")).agg(array_sort(collect_list(col("s"))).as("cbs"))
    subs.join(broadcast(cba), "m")
      .withColumn("code",
        expr("argmax_dot(concat(sv, array(CAST(1.0 AS DOUBLE))), cbs)"))
      .drop("cbs")
  }

  /** PQ codebook training: per subspace m (8 of them, 8 dims each over
    * the 64-dim corpus), a 16-entry (4-bit) codebook — seeds are the
    * subvectors of vec_id 0..15 rounded to 6 dp, then two Lloyd passes
    * (L2 assignment via [[pqAssign]], per-(m, code) element-wise mean
    * via the typed `vec_mean` aggregate, rounded to 6 dp — the same
    * cross-engine determinism anchor as the coarse k-means; PQ means
    * are NOT re-normalized, these are plain L2 centroids). Each
    * iteration's 128-row codebook is eagerly truncated with
    * [[Materialize]] exactly like [[kmeans]] — without it every
    * downstream consumer re-executes the Lloyd prefix over the corpus. */
  private[graft] def pqCodebooks(subs: DataFrame): DataFrame = {
    var cb = subs.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").as("code"),
        expr("transform(sv, x -> round(x, 6))").as("cb"))
    for (_ <- 1 to 2) {
      cb = Materialize(pqAssign(subs, cb)
        .groupBy(col("m"), col("code"))
        .agg(expr("vec_mean(sv)").as("mv"))
        .select(col("m"), col("code"),
          expr("transform(mv, x -> round(x, 6))").as("cb")))
    }
    cb
  }

  /** The (vec_id, m, sv) subvector explosion of a normalized corpus —
    * the PQ training/encode input. Narrow (no shuffle): one transform +
    * posexplode over the pinned vectors. */
  private def pqSubs(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      posexplode(expr("transform(sequence(0, 7), m -> slice(v, m * 8 + 1, 8))"))
        .as(Seq("m", "sv")))

  /** Train the coarse quantizer and the PQ codebooks CONCURRENTLY (r21,
    * guide §2.6 — overlap independent jobs): both are 2-pass Lloyd loops
    * over the same pinned corpus whose eager per-iteration checkpoints
    * otherwise serialize 4 corpus passes end-to-end; submitted from two
    * threads the passes back-fill each other's dispatch gaps and stage
    * tails. Results are bit-identical to the sequential form — each
    * checkpoint job is the same plan over the same checkpointed
    * partitioning; only the wall-clock interleaving changes (FIFO
    * scheduling back-fills, it never re-partitions). Both futures carry
    * the caller's local properties, so their jobs keep its job group and
    * count in its [[graft.Timed.TaskCounter]] scope. */
  private def trainCoarseAndPq(vecs: DataFrame, k: Int = K)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.GraftSessionAccess.future
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val cf = future(vecs.sparkSession)(kmeans(vecs, k))
    val pf = future(vecs.sparkSession)(pqCodebooks(pqSubs(vecs)))
    (Await.result(cf, Duration.Inf), Await.result(pf, Duration.Inf))
  }

  /** ENCODE a normalized corpus slice (vec_id, v) straight to packed PQ
    * words in ONE map-only pass (r21): all 8 augmented codebooks collapse
    * to a single broadcast row (cbs8[m] = subspace m's sorted
    * array<struct<c, cv>>, augmented exactly as [[pqAssign]] augments),
    * each row computes its 8 codes as one codegen'd
    * transform(sequence(0,7), m -> argmax_dot(slice(v)·aug, cbs8[m]))
    * and packs the nibbles in the same typed map [[pqPack]] used.
    * Replaces pqPack(pqAssign(pqSubs(…))) on every encode path — that
    * form EXPLODED the corpus 8× (posexplode), broadcast-joined per
    * subspace row, then shuffled the 8×N code rows back through a
    * groupBy(vec_id)+collect_list just to reassemble what one row had to
    * begin with. Codes are bit-identical (same slice bounds, same
    * augmented entries, same argmax_dot fold per subspace, same m-order
    * nibble packing — SimilaritySpec pins equality against the explode
    * twin); training keeps the exploded pqAssign form, whose
    * groupBy(m, code) Lloyd means genuinely need subvector rows. */
  private[graft] def pqEncode(vecs: DataFrame, cb: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cba8 = cb.select(col("m"), struct(col("code").as("c"),
        concat(col("cb"), array(lit(-0.5) *
          expr("aggregate(zip_with(cb, cb, (x, y) -> x * y), 0D, (a, x) -> a + x)")))
          .as("cv")).as("s"))
      .groupBy(col("m")).agg(array_sort(collect_list(col("s"))).as("cbs"))
      .agg(expr("transform(array_sort(collect_list(struct(m, cbs))), p -> p.cbs)")
        .as("cbs8"))
    vecs.crossJoin(broadcast(cba8))
      .select(col("vec_id"), expr(
        "transform(sequence(0, 7), m -> argmax_dot(" +
          "concat(slice(v, m * 8 + 1, 8), array(CAST(1.0 AS DOUBLE))), cbs8[m]))")
        .as("cs"))
      .as[(Long, Seq[Long])]
      .map { case (id, cs) =>
        val b = new Array[Byte](cs.length / 2)
        var i = 0
        while (i < b.length) {
          b(i) = (((cs(2 * i) & 15L) << 4) | (cs(2 * i + 1) & 15L)).toByte
          i += 1
        }
        (id, b)
      }.toDF("vec_id", "codes")
  }

  /** Pack per-subspace code rows into the 4-byte PQ word: two 4-bit
    * codes per byte, high nibble = even subspace (the pq_adc layout;
    * DType.I8-precedent typed map for the byte packing, off the scoring
    * hot path). Spec twin of [[pqEncode]]'s packing since r21 — gated
    * paths encode with pqEncode. */
  private[graft] def pqPack(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("code")))).as("mc"))
      .select(col("vec_id"), expr("transform(mc, p -> p.code)").as("cs"))
      .as[(Long, Seq[Long])]
      .map { case (id, cs) =>
        val b = new Array[Byte](cs.length / 2)
        var i = 0
        while (i < b.length) {
          b(i) = (((cs(2 * i) & 15L) << 4) | (cs(2 * i + 1) & 15L)).toByte
          i += 1
        }
        (id, b)
      }.toDF("vec_id", "codes")
  }

  /** The query's flat 128-slot ADC table (slot m·16+j = q_m · cb[m][j])
    * as ONE broadcast-ready row; slots for codebook entries that lost
    * every member during Lloyd stay null and are never referenced by a
    * live code (pq_adc nulls out if one ever is). */
  private def pqQueryTab(cb: DataFrame, q: DataFrame): DataFrame =
    cb.crossJoin(broadcast(q))
      .select((col("m") * lit(16) + col("code")).cast("int").as("idx"),
        expr("aggregate(zip_with(slice(qv, m * 8 + 1, 8), cb, " +
          "(x, y) -> x * y), 0D, (a, x) -> a + x)").as("dp"))
      .agg(expr("map_from_entries(collect_list(struct(idx, dp)))").as("mp"))
      .select(expr("transform(sequence(0, 127), i -> try_element_at(mp, i))")
        .as("tab"))

  /** IVF-PQ top-k (Jégou, Douze, Schmid, TPAMI 2011): the memory-bound
    * 100 TB ANN lever beyond scalar int8 — each vector is stored as
    * 8 × 4-bit PQ codes packed two-per-byte into a 4-BYTE payload
    * (vs 256 B float32 / 512 B double: 64×/128×), scored against the
    * query by table lookup (ADC, §IV-A) without ever reconstructing the
    * vector. Pipeline:
    *
    *  1. coarse router: the SAME spherical k-means + cell assignment as
    *     `ivf_cosine_topk` (K=10, NPROBE=3 nearest cells by centroid·q);
    *  2. PQ codebooks trained corpus-wide on raw normalized subvectors
    *     (the Faiss `by_residual=false` IVF-PQ variant — residual
    *     encoding would entangle the oracle's two k-means replays);
    *  3. probed candidates are ENCODED (nearest code per subspace,
    *     packed nibbles) — at 100 TB the codes are the stored index and
    *     this step is the offline build; the in-query encode keeps the
    *     gated key self-contained exactly like ivf_cosine_topk's
    *     in-query centroid pass;
    *  4. ADC: the query's flat 128-slot table (slot m·16+j =
    *     q_m · cb[m][j]) is one broadcast row; scoring is the codegen
    *     `pq_adc` expression — two nibble unpacks + two flat reads per
    *     byte, whole-stage codegen, no per-row allocation;
    *  5. exact re-rank (the paper's IVFADC+R, §V): the ADC top-R
    *     (R=200, selected on the UNROUNDED score + vec_id — the
    *     bit-identical cross-engine boundary) is re-scored with the
    *     exact cosine against the full vectors, top-10 of that. The
    *     re-rank touches R full vectors total — at 100 TB the ADC pass
    *     over the probed cells reads 4-byte codes and only the 200
    *     winners' float payloads are ever fetched.
    *
    * R=200 is sized for the synthetic corpus — random embeddings are
    * PQ's adversarial case (8-dim subvectors carry no low-dim structure
    * for 16 centroids to exploit), so the ADC ordering needs a deep
    * shortlist: measured recall 1.0 / 0.9 / 0.8 / 1.0 at
    * sf0.001/0.01/0.1/1. Below ~200 probed candidates the shortlist
    * covers everything and the key degenerates to ivf_cosine_topk's
    * exact-within-probes search (the same benign small-corpus
    * degeneracy as adaptiveRadius). Recall vs the exact brute-force
    * top-10 is asserted in SimilaritySpec and floored in the bench ANN
    * group. */
  val ivfPqTopk: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val vecs = normedPinned(t(s, dir, "embeddings"))
    val (cents, cb) = trainCoarseAndPq(vecs)
    val q = vecs.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("c"), dot(col("cv"), col("qv")).as("dp"))
      .orderBy(col("dp").desc, col("c").asc)
      .limit(NPROBE)
      .select(col("c").as("pc"))
    val tab = pqQueryTab(cb, q)
    val cands = assignCells(vecs, cents)
      .join(broadcast(probes), col("cluster") === col("pc"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"))
    // encode the probed candidates (this key is self-contained like
    // ivf_cosine_topk; ivf_pq_probe is the stored-index variant) — one
    // map-only pass, no 8× explode/regroup (r21, see pqEncode)
    val codes = pqEncode(cands, cb)
    val shortl = codes.crossJoin(broadcast(tab))
      .select(col("vec_id"), expr("pq_adc(codes, tab)").as("adc"))
      .orderBy(col("adc").desc, col("vec_id").asc)
      .limit(200)
      .select(col("vec_id"))
    cands.join(broadcast(shortl), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(dot(col("v"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Formula replay of the full IVF-PQ pipeline: the coarse-k-means CTE
    * prefix, then per-subspace PQ training (seed → assign → mean ×2),
    * encode, the query's ADC table, and the probed-cell ADC top-10. The
    * assignment replays argmin L2 as the same augmented dot; the ADC sum
    * replays pq_adc's m-ordered left-to-right fold as
    * `list_dot_product(list(dp ORDER BY m), [1.0 × 8])` (each term ×1.0
    * is exact, fold order identical). */
  val ivfPqTopkSql: String = kmeansCte +
    """,
      |psub AS (
      |  SELECT vn.vec_id, m.m, list_slice(vn.v, m.m * 8 + 1, m.m * 8 + 8) AS sv
      |  FROM vn CROSS JOIN (SELECT unnest(range(0, 8)) AS m) m),
      |pb0 AS (
      |  SELECT m, vec_id AS code, list_transform(sv, x -> round(x, 6)) AS cb
      |  FROM psub WHERE vec_id < 16),
      |pa1 AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT s.vec_id, s.m, b.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.m
      |             ORDER BY (list_dot_product(s.sv, b.cb)
      |                       - 0.5 * list_dot_product(b.cb, b.cb)) DESC,
      |               b.code) AS rn
      |    FROM psub s JOIN pb0 b ON s.m = b.m) t WHERE rn = 1),
      |pm1 AS (
      |  SELECT a.m, a.code, d.dim, avg(s.sv[d.dim]) AS mu
      |  FROM pa1 a JOIN psub s ON a.vec_id = s.vec_id AND a.m = s.m
      |  CROSS JOIN (SELECT unnest(range(1, 9)) AS dim) d
      |  GROUP BY 1, 2, 3),
      |pb1 AS (
      |  SELECT m, code,
      |         list_transform(list(mu ORDER BY dim), x -> round(x, 6)) AS cb
      |  FROM pm1 GROUP BY m, code),
      |pa2 AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT s.vec_id, s.m, b.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.m
      |             ORDER BY (list_dot_product(s.sv, b.cb)
      |                       - 0.5 * list_dot_product(b.cb, b.cb)) DESC,
      |               b.code) AS rn
      |    FROM psub s JOIN pb1 b ON s.m = b.m) t WHERE rn = 1),
      |pm2 AS (
      |  SELECT a.m, a.code, d.dim, avg(s.sv[d.dim]) AS mu
      |  FROM pa2 a JOIN psub s ON a.vec_id = s.vec_id AND a.m = s.m
      |  CROSS JOIN (SELECT unnest(range(1, 9)) AS dim) d
      |  GROUP BY 1, 2, 3),
      |pb2 AS (
      |  SELECT m, code,
      |         list_transform(list(mu ORDER BY dim), x -> round(x, 6)) AS cb
      |  FROM pm2 GROUP BY m, code),
      |penc AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT s.vec_id, s.m, b.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.m
      |             ORDER BY (list_dot_product(s.sv, b.cb)
      |                       - 0.5 * list_dot_product(b.cb, b.cb)) DESC,
      |               b.code) AS rn
      |    FROM psub s JOIN pb2 b ON s.m = b.m) t WHERE rn = 1),
      |q AS (SELECT v AS qv FROM vn WHERE vec_id = 0),
      |ptab AS (
      |  SELECT b.m, b.code,
      |         list_dot_product(list_slice(q.qv, b.m * 8 + 1, b.m * 8 + 8),
      |                          b.cb) AS dp
      |  FROM pb2 b CROSS JOIN q),
      |pr AS (SELECT c FROM c2 CROSS JOIN q
      |       ORDER BY list_dot_product(cv, qv) DESC, c LIMIT 3),
      |padc AS (
      |  SELECT e.vec_id,
      |         list_dot_product(list(t.dp ORDER BY e.m),
      |           [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]) AS score
      |  FROM penc e JOIN ptab t ON e.m = t.m AND e.code = t.code
      |  GROUP BY e.vec_id),
      |shortl AS (
      |  SELECT af.vec_id FROM af JOIN padc p USING (vec_id)
      |  WHERE af.cluster IN (SELECT c FROM pr) AND af.vec_id <> 0
      |  ORDER BY p.score DESC, af.vec_id LIMIT 200)
      |SELECT vn.vec_id, round(list_dot_product(vn.v, q.qv), 4) AS cos
      |FROM shortl JOIN vn USING (vec_id) CROSS JOIN q
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** Durable IVF-PQ index location for an sf dir (fingerprinted on the
    * embeddings source file — the ANN twin of the SigIndex/lake-layout
    * lifecycle: build once, probe forever). */
  private[graft] def pqIndexDir(dir: String): java.io.File = {
    val fp = graft.sources.Lake.layoutFingerprint(
      new java.io.File(s"$dir/embeddings.parquet"), "pqidx-v1")
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqidx_${graft.sources.Lake.dirSuffix(dir)}_$fp")
  }

  private[graft] def pqIndexExists(dir: String): Boolean =
    graft.sources.Lake.layoutComplete(pqIndexDir(dir))

  /** Build-if-absent of the durable IVF-PQ index: three parquet
    * relations under one fingerprinted root —
    *
    *  - `cents/`  (c, cv): the 10 coarse spherical-k-means centroids;
    *  - `cb/`     (m, code, cb): the 8×16 PQ codebooks;
    *  - `codes/`  (vec_id, cluster, codes BINARY): per vector, its
    *    coarse cell and the packed 4-byte PQ word — ~13 B/row of
    *    payload; the ENTIRE searchable index for 2 M sf100 vectors is
    *    ~26 MB against the 500 MB float corpus.
    *
    * Same [[graft.sources.Lake.ensureLayout]] contract as every other
    * durable layout (atomic rename, stale-fingerprint sweep, crashed
    * temp reclaim). */
  private[graft] def ensurePqIndex(s: SparkSession, dir: String): java.io.File = {
    val root = pqIndexDir(dir)
    graft.sources.Lake.ensureLayout(s, root) { tmp =>
      val vecs = normedPinned(t(s, dir, "embeddings"))
      val (cents, cb) = trainCoarseAndPq(vecs)
      val codes = pqEncode(vecs, cb)
        .join(assignCells(vecs, cents).select("vec_id", "cluster"), "vec_id")
      cents.write.parquet(new java.io.File(tmp, "cents").toString)
      cb.write.parquet(new java.io.File(tmp, "cb").toString)
      codes.write.parquet(new java.io.File(tmp, "codes").toString)
      // the layout-complete marker is root-level (each sub-write has its
      // own _SUCCESS; this one says all three landed)
      new java.io.File(tmp, "_SUCCESS").createNewFile()
    }
    root
  }

  /** STORED-INDEX IVF-PQ top-k — row-identical to [[ivfPqTopk]] (same
    * deterministic training, same probes, same ADC, same re-rank; the
    * oracle is therefore the same SQL), but the query-time reads are
    * what a 100 TB ANN serving path actually touches:
    *
    *  1. the index relations (10 + 128 + N·13 B rows — no training, no
    *     corpus scan, no normalization pass);
    *  2. ADC over the packed codes of the probed cells (4 B/vector);
    *  3. the float payloads of ONLY the 200 shortlisted vectors,
    *     fetched with a pushed `vec_id IN (...)` parquet filter (a
    *     bounded 200-long driver collect, the SigIndex.probeKeys
    *     precedent — row-group stats on the id-ordered corpus prune
    *     the scan).
    *
    * First call builds the durable index ([[ensurePqIndex]]); every
    * later call — across JVMs — probes at reused cost. */
  val ivfPqProbe: Q = (s, dir) =>
    pqProbeFrom(s, dir, ensurePqIndex(s, dir))

  /** The serving-path probe against a stored index root — shared by
    * [[ivfPqProbe]] and [[ivfPqAppendProbe]] (identical reads: index
    * relations, ADC over probed-cell codes, 200 pushed-IN float
    * payload fetches). */
  private def pqProbeFrom(s: SparkSession, dir: String,
      root: java.io.File): DataFrame = {
    val cents = graft.Tables.parquet(s, new java.io.File(root, "cents").toString)
    val cb = graft.Tables.parquet(s, new java.io.File(root, "cb").toString)
    val codes = graft.Tables.parquet(s, new java.io.File(root, "codes").toString)
    // the query vector: one corpus row, normalized exactly as the
    // in-query path normalizes it (per-row math, identical doubles)
    val q = normed(t(s, dir, "embeddings").filter(col("vec_id") === 0))
      .select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("c"), dot(col("cv"), col("qv")).as("dp"))
      .orderBy(col("dp").desc, col("c").asc)
      .limit(NPROBE)
      .select(col("c").as("pc"))
    val tab = pqQueryTab(cb, q)
    val shortl = codes
      .join(broadcast(probes), col("cluster") === col("pc"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(tab))
      .select(col("vec_id"), expr("pq_adc(codes, tab)").as("adc"))
      .orderBy(col("adc").desc, col("vec_id").asc)
      .limit(200)
      .select(col("vec_id"))
    val ids = shortl.collect().map(_.getLong(0))
    normed(t(s, dir, "embeddings").filter(col("vec_id").isin(ids: _*)))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(dot(col("v"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** INCREMENTAL APPEND to a stored IVF-PQ index (r19 verdict #6 — the
    * index was build-once/append-never while SigIndex had the full
    * lifecycle): encode `newVecs` (vec_id, v — already normalized) into
    * the index's FROZEN coarse centroids and PQ codebooks and append
    * the packed code rows to `codes/`. Nothing retrains — in
    * production codebooks are trained once on a corpus sample and new
    * data is encoded into them (Jégou et al. §IV; Faiss `add` vs
    * `train`), so appended codes are bit-identical to what a
    * frozen-codebook rebuild over the union would store
    * (spec-asserted in SimilaritySpec). Append cost is one encode +
    * assign pass over ONLY the new vectors: zero corpus re-reads,
    * zero index rewrites — the parquet files land next to the
    * existing ones. */
  private[graft] def appendPqCodes(s: SparkSession, root: java.io.File,
      newVecs: DataFrame, codesPath: String = null): Unit = {
    val cents = graft.Tables.parquet(s, new java.io.File(root, "cents").toString)
    val cb = graft.Tables.parquet(s, new java.io.File(root, "cb").toString)
    val target =
      if (codesPath != null) codesPath // bench: measure the marginal
                                       // encode+write without mutating
                                       // a durable index
      else new java.io.File(root, "codes").toString
    pqEncode(newVecs, cb)
      .join(assignCells(newVecs, cents).select("vec_id", "cluster"), "vec_id")
      .write.mode("append").parquet(target)
  }

  /** The append-lifecycle twin of [[ensurePqIndex]] (own fingerprint
    * tag, so the two layouts coexist): train centroids + codebooks on
    * the full corpus, store codes for only the EVEN vec_ids, then
    * [[appendPqCodes]] the odd half — the "new data arrives after the
    * index is built" path, exercised inside the atomic ensureLayout
    * build so the completed layout is always base+append. Because the
    * codebooks are frozen, the appended index is row-identical to the
    * full build, which is what lets [[ivfPqAppendProbe]] share
    * [[ivfPqTopkSql]]'s oracle. */
  private[graft] def ensurePqAppendIndex(s: SparkSession,
      dir: String): java.io.File = {
    val fp = graft.sources.Lake.layoutFingerprint(
      new java.io.File(s"$dir/embeddings.parquet"), "pqidx-append-v1")
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqidx_apnd_${graft.sources.Lake.dirSuffix(dir)}_$fp")
    graft.sources.Lake.ensureLayout(s, root) { tmp =>
      val vecs = normedPinned(t(s, dir, "embeddings"))
      val (cents, cb) = trainCoarseAndPq(vecs)
      val base = vecs.filter(col("vec_id") % 2 === 0)
      val codes = pqEncode(base, cb)
        .join(assignCells(base, cents).select("vec_id", "cluster"), "vec_id")
      cents.write.parquet(new java.io.File(tmp, "cents").toString)
      cb.write.parquet(new java.io.File(tmp, "cb").toString)
      codes.write.parquet(new java.io.File(tmp, "codes").toString)
      appendPqCodes(s, tmp, vecs.filter(col("vec_id") % 2 === 1))
      new java.io.File(tmp, "_SUCCESS").createNewFile()
    }
    root
  }

  /** Gated key for the append lifecycle: probe the base+appended index
    * — row-identical to [[ivfPqProbe]] (frozen codebooks ⇒ appended
    * codes ≡ rebuild codes), so the all-pairs training replay
    * [[ivfPqTopkSql]] stays the oracle. What the key actually gates:
    * appended rows land in the SAME `codes/` relation with correct
    * cell routing and nibble packing, and the serving probe reads the
    * union transparently. */
  val ivfPqAppendProbe: Q = (s, dir) =>
    pqProbeFrom(s, dir, ensurePqAppendIndex(s, dir))

  // --------------------------------------------------- semantic dedup
  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * corpus with the IVF k-means coarse quantizer, then within each
    * cluster drop every vector that has an earlier (lower vec_id)
    * cluster-mate with cosine ≥ 0.40 — the parallel anti-join form of
    * "keep one representative per semantic ε-ball". Output = survivors
    * with their cluster.
    *
    * 100 TB design: the quadratic stage is CLUSTER-BOUNDED — SemDeDup's
    * whole point — and the engine now SCALES K with the corpus
    * ([[kmeansK]]: K ≈ ⌈N/5000⌉, capped at a broadcast-safe 4096) so the
    * expected cluster size — and with it both the per-cluster pair count
    * AND the per-reducer skew of the cluster-keyed self-join (each
    * cluster's pair set lands on one shuffle partition; bounding the
    * cluster bounds the partition) — stays fixed as distinct content
    * grows. K=10 in the GATED key only to share the spec'd deterministic
    * k-means with the IVF oracle; the scale path is
    * [[semanticDedupWith]](e, kmeansK(N)), exercised by the sf10
    * `semantic_dedup_scaledK` bench row. On top, the r11 exact-dup
    * collapse:
    * verbatim copies are collapsed to one representative per distinct
    * vector BEFORE the pairwise stage (quadratic in distinct content,
    * not corpus size), then group members are resolved through the
    * rep-level verdicts. The expansion is exact: cos is a function of
    * the vectors alone, a group's rep is its minimum vec_id, so
    * (a) a non-rep member always has its own rep as an earlier ≥-τ
    * mate (self-cos rounds to 1.0 for any finite nonzero vector; under
    * Spark's NaN-is-greatest comparison a zero vector's NaN self-cos
    * also passes ≥ τ, exactly as it would in the naive pair filter) and
    * is dropped, and (b) a rep's remover set is exactly the earlier
    * reps (any earlier member's cos equals its rep's cos). So survivors
    * are precisely the un-removed reps. The zero-vector edge is pinned
    * EXPLICITLY on both engines (r17, per ADVICE): [[clearsTau]] rejects
    * the NaN self/cross cosine here, and the oracle's `NOT isnan(…)`
    * guard rejects it there — an undefined cosine never removes anyone,
    * regardless of either engine's NaN-vs-NULL division behavior. The
    * in-engine collapse≡naive equivalence holds regardless, and
    * SimilaritySpec pins it. */
  val semanticDedup: Q = (s, dir) =>
    semanticDedupWith(t(s, dir, "embeddings"), K)

  /** [[semanticDedup]] at any K — the gated key fixes K=10 (the shared
    * deterministic-k-means oracle); the scale path calls this with
    * [[kmeansK]](N) so the cluster bound tracks the corpus
    * (BENCH sf10 `semantic_dedup_scaledK` row; SimilaritySpec pins
    * K-independence of the collapse≡naive equivalence and the cluster
    * bound on a 10×-distinct corpus). */
  private[graft] def semanticDedupWith(e: DataFrame, k: Int): DataFrame = {
    val vecs = normedPinned(e)
    val keyed = e.select(col("vec_id"), col("embedding"))
    val reps = keyed.groupBy(col("embedding")).agg(min(col("vec_id")).as("rep"))
    // assignment is pointwise in the vector, so only the collapsed reps
    // pay it (k-means itself still runs over the FULL corpus — Lloyd
    // means weight by multiplicity, so collapsing there would change the
    // centroids); the checkpoint makes the tiny rep table a leaf so
    // the pairwise self-join and the anti-join below don't re-execute
    // the corpus pipeline once per use (r11 s3 — the sf10 artifact
    // showed 3 re-executions of the whole scan+assign tree). EAGER,
    // deliberately (r22): a lazy form was measured at sf10 and REJECTED
    // — the self-join's two sort stages race to first-compute the lazy
    // checkpoint and each re-runs the corpus assignment lineage before
    // any partition persists (semantic_dedup 8.7 s lazy vs 6.8 s eager).
    val repRows = Materialize(assignCells(
        vecs.join(reps.select(col("rep").as("vec_id")), Seq("vec_id"), "left_semi"),
        kmeans(vecs, k))
      .select(col("vec_id"), col("cluster"))
      .join(keyed, Seq("vec_id")))
    val removedReps = repRows.as("a").join(repRows.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .filter(clearsTau(round(expr("cosine_sim(a.embedding, b.embedding)"), 4)))
      .select(col("b.vec_id").as("vec_id")).distinct()
    repRows.select(col("vec_id"), col("cluster"))
      .join(removedReps, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** Naive within-cluster anti-join twin — SimilaritySpec asserts
    * survivor-set equality with [[semanticDedup]] (incl. on a duplicated
    * corpus); never registered as a gated key. */
  private[graft] val semanticDedupNaive: Q = (s, dir) =>
    semanticDedupNaiveWith(t(s, dir, "embeddings"), K)

  private[graft] def semanticDedupNaiveWith(e: DataFrame, k: Int): DataFrame = {
    val vecs = normedPinned(e)
    val av = assignCells(vecs, kmeans(vecs, k))
      .select(col("vec_id"), col("cluster"))
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val dropped = av.as("a").join(av.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .filter(clearsTau(round(expr("cosine_sim(a.embedding, b.embedding)"), 4)))
      .select(col("b.vec_id").as("vec_id")).distinct()
    av.select(col("vec_id"), col("cluster"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  val semanticDedupSql: String = kmeansCte +
    """,
      |ec AS (SELECT af.vec_id, af.cluster, e.embedding
      |       FROM af JOIN embeddings e USING (vec_id))
      |SELECT v.vec_id, v.cluster FROM ec v
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM ec u
      |  WHERE u.cluster = v.cluster AND u.vec_id < v.vec_id
      |    AND round(list_dot_product(u.embedding::DOUBLE[], v.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(u.embedding::DOUBLE[], u.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))), 4) >= 0.40
      |    AND NOT isnan(list_dot_product(u.embedding::DOUBLE[], v.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(u.embedding::DOUBLE[], u.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])))))
      |ORDER BY vec_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "embedding_quantize_topk" -> embeddingQuantTopk,
    "semantic_dedup" -> semanticDedup,
    "cosine_topk" -> cosineTopkNative,
    "cosine_topk_hof" -> cosineTopk,
    "ann_hyperplane_topk" -> annHyperplaneTopk,
    "embedding_near_dup" -> embeddingNearDup,
    "embedding_near_dup_verdict" -> embeddingNearDupVerdict,
    "ivf_centroid_stats" -> ivfCentroidStats,
    "ivf_cosine_topk" -> ivfCosineTopk,
    "ivf_pq_topk" -> ivfPqTopk,
    "ivf_pq_probe" -> ivfPqProbe,
    "ivf_pq_append_probe" -> ivfPqAppendProbe,
  )

  val oracle: Map[String, String] = Map(
    "embedding_quantize_topk" -> embeddingQuantTopkSql,
    "semantic_dedup" -> semanticDedupSql,
    "cosine_topk" -> cosineTopkSql,
    "cosine_topk_hof" -> cosineTopkSql,
    "ann_hyperplane_topk" -> annHyperplaneTopkSql,
    "embedding_near_dup" -> embeddingNearDupSql,
    "embedding_near_dup_verdict" -> embeddingNearDupVerdictSql,
    "ivf_centroid_stats" -> ivfCentroidStatsSql,
    "ivf_cosine_topk" -> ivfCosineTopkSql,
    "ivf_pq_topk" -> ivfPqTopkSql,
    // the stored index is a plan/storage optimization with an exactness
    // argument (same training, probes, ADC, re-rank) — same SQL twin
    "ivf_pq_probe" -> ivfPqTopkSql,
    "ivf_pq_append_probe" -> ivfPqTopkSql,
  )
}
