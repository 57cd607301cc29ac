package graft.plans

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list: min-label
  * propagation with pointer doubling. Each round every node takes the
  * min of its own component id, its neighbors' ids, and its id's id
  * (comp ∘ comp). Converges in O(log diameter) rounds; each round is two
  * shuffle joins on node ids.
  *
  * The same idiom labels tensor components (`graft.tensor.Measure.label`
  * step 3) and collapses document near-duplicate clusters
  * (`TextOps.cc_dedup_groups`).
  *
  * Scale posture: state is one row per edge endpoint — nodes untouched
  * by any edge never enter the computation, so a 100 TB corpus with a
  * few million duplicate pairs propagates over millions of rows, not the
  * corpus. Measured on a hub-heavy graph (GraphCCSpec hub stress, 10⁶
  * edges, 1000 hubs of degree ~991 chained into one component, 32-way
  * local): 11 rounds, 27 s.
  *
  * Each round's frame is truncated through [[graft.Materialize]], which
  * owns the local-vs-reliable checkpoint choice.
  */
object GraphCC {

  private def edgeCols(pairs: DataFrame): DataFrame = {
    val cols = pairs.columns
    require(cols.length == 2, s"edge list must have exactly 2 columns, got: ${cols.mkString(",")}")
    pairs.select(col(cols(0)).as("a"), col(cols(1)).as("b"))
  }

  /** Components of the undirected graph given by a 2-column edge list
    * (direction ignored; self-loops harmless). Returns (node, comp) with
    * one row per distinct endpoint; comp = min node id in the component.
    */
  def components(pairs: DataFrame, maxRounds: Int = 60): DataFrame =
    componentsCounted(pairs, maxRounds)._1

  /** As [[components]], also returning the round count (the GraphCCSpec
    * hub-stress harness reports it). */
  private[graft] def componentsCounted(pairs: DataFrame,
      maxRounds: Int = 60): (DataFrame, Int) = {
    val e = edgeCols(pairs)
    // und stays EAGER (r21, measured): folding its materialization into
    // comp.count()'s job read consistently ~0.6 s SLOWER on
    // cc_dedup_groups' expensive verify lineage than paying the
    // dedicated job — the union's two branches of a deep input plan
    // behave worse inside the downstream job than in their own.
    val und = Materialize(e.union(e.select(col("b").as("a"), col("a").as("b"))))
    // LAZY: the full-pass count right after materializes every partition
    // AND answers emptiness in the same job, instead of a dedicated
    // checkpoint job and then a second action (isEmpty's limit(1) would
    // leave the truncation incomplete)
    var comp = Materialize(und.select(col("a").as("node")).distinct()
      .withColumn("comp", col("node")), eager = false)
    var converged = comp.count() == 0L
    var iter = 0
    while (!converged && iter < maxRounds) {
      val viaNbr = und.join(comp, und("b") === comp("node"))
        .groupBy(col("a")).agg(min(col("comp")).as("nbr_min"))
      // carry the round's starting comp as `prev` (r21): the convergence
      // test becomes a map-side filter over the checkpointed frame — the
      // per-round doubled⋈comp re-join it replaces was a full extra
      // shuffle join per round
      val stepped = comp.as("c")
        .join(viaNbr, col("c.node") === col("a"), "left")
        .select(col("c.node").as("node"), col("c.comp").as("prev"),
          least(col("c.comp"), coalesce(col("nbr_min"), col("c.comp"))).as("comp"))
      // pointer doubling: comp(node) ← comp(comp(node))
      val doubled = Materialize(stepped.as("s")
        .join(comp.as("t"), col("s.comp") === col("t.node"), "left")
        .select(col("s.node").as("node"), col("s.prev").as("prev"),
          least(col("s.comp"), coalesce(col("t.comp"), col("s.comp"))).as("comp")),
        eager = false)
      // ONE job: the full-pass filter-count materializes the lazy
      // checkpoint and detects convergence (no limit — see above)
      val changed = doubled.filter(col("comp") =!= col("prev")).count()
      comp = doubled.select(col("node"), col("comp"))
      converged = changed == 0
      iter += 1
    }
    // Non-convergence would leave comp non-idempotent (duplicate keys for
    // downstream relabel maps) — fail loudly; pointer doubling covers
    // component diameters up to ~2^maxRounds, so this guards regressions,
    // not real inputs.
    require(converged, s"connected-components propagation did not converge in $iter rounds")
    (comp, iter)
  }
}
