package graft

import org.apache.spark.sql.functions._

class GraphCCSpec extends SparkSpec {
  import graft.plans.GraphCC

  private def comps(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    GraphCC.components(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path, triangle, isolated edge, cross-listed direction") {
    // path 1-2-3-4 (transitive), triangle 10-11-12, edge 20-21 given
    // reversed, self-loop 30-30
    val m = comps(Seq(2L -> 1L, 2L -> 3L, 4L -> 3L,
      10L -> 11L, 12L -> 10L, 11L -> 12L, 21L -> 20L, 30L -> 30L))
    assert(Seq(1L, 2L, 3L, 4L).forall(m(_) == 1L), s"path collapsed wrong: $m")
    assert(Seq(10L, 11L, 12L).forall(m(_) == 10L))
    assert(m(20L) == 20L && m(21L) == 20L)
    assert(m(30L) == 30L)
    assert(m.size == 10)
  }

  test("long chain needs pointer doubling (diameter 64 > one round)") {
    val m = comps((1L until 65L).map(i => i -> (i + 1)))
    assert((1L to 65L).forall(m(_) == 1L))
  }

  test("empty edge list yields empty components") {
    assert(comps(Seq.empty).isEmpty)
  }

  private def sequentialCC(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("high-degree hub star graph collapses to the min spoke") {
    // hub 1000 connected to 500 spokes: every round re-shuffles the hub's
    // full neighbor list
    val edges = (1L to 500L).map(i => 1000L -> i)
    val m = comps(edges)
    assert(m.size == 501)
    assert(m.values.forall(_ == 1L))
  }

  test("random graphs match sequential union-find") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val edges = Seq.fill(n)((rnd.nextLong(50).abs, rnd.nextLong(50).abs))
      val expected = sequentialCC(edges)
      val got = comps(edges)
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("hub stress: hub-heavy graph — one component, rounds and wall reported") {
    // H hubs × 990 spokes (degree ~991) + a hub chain = one component
    // rooted at node 0: each round re-shuffles every hub's full neighbor
    // list. Default is 100 hubs (~1e5 edges, seconds); the full measured
    // configuration — GRAFT_CC_HUBS=1000 → 1e6 edges, 11 rounds/27 s at
    // 32-way local — is documented in the GraphCC scaladoc and
    // re-runnable via the env var without taxing every sbt-test
    // iteration.
    val hubs = sys.env.getOrElse("GRAFT_CC_HUBS", "100").toLong
    val spokes = spark.range(hubs * 990L).select(
      (col("id") / 990L).cast("long").as("a"), (col("id") + hubs).as("b"))
    val chain = spark.range(hubs - 1).select(col("id").as("a"), (col("id") + 1L).as("b"))
    val t0 = System.nanoTime()
    val (comp, rounds) = GraphCC.componentsCounted(spokes.union(chain))
    val wrong = comp.filter(col("comp") =!= 0L).count()
    val n = comp.count()
    val wall = (System.nanoTime() - t0) / 1e9
    assert(wrong == 0, "nodes outside component 0")
    assert(n == hubs * 990L + hubs, s"node count $n")
    // the hub chain's diameter is `hubs` but pointer doubling halves it
    // each round — well under the 60-round guard
    assert(rounds < 30, s"rounds=$rounds")
    info(f"hub stress ${hubs * 990 + hubs - 1} edges: rounds=$rounds wall=$wall%.1f s")
  }

  test("cc_dedup_groups: rep-level CC + whole-group expansion under heavy duplication — transitive merge, no pair materialization needed") {
    // the r18 rewrite's contract: components must equal the expanded
    // pair graph's even when every text carries many verbatim copies
    // (the regime where the old expanded-edge form went O(k²)).
    // A ≈ B by construction (11 shared of 12 union 3-shingles = 0.917);
    // C shares nothing. 20 interleaved copies of each.
    val s = spark
    import s.implicits._
    val tA = "a b c d e f g h i j k l m n"
    val tB = tA + " o" // one appended token: jaccard 12/13 ≥ 0.8
    val tC = "zz yy xx ww vv uu tt ss rr qq pp oo nn mm"
    val docs = (0 until 20).flatMap(k => Seq(
      (k * 3L + 0, tA), (k * 3L + 1, tB), (k * 3L + 2, tC)))
      .toDF("doc_id", "text")
    val rows = graft.queries.TextOps.ccDedupGroupsOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byComp = rows.groupBy(_._1)
    // A and B groups merge transitively through the verified rep edge:
    // one component, id 0 (the min doc), holding all 40 A/B copies
    val ab = (0 until 20).flatMap(k => Seq(k * 3L, k * 3L + 1)).toSet
    val cs = (0 until 20).map(k => k * 3L + 2).toSet
    assert(byComp.keySet == Set(0L, 2L), s"components: ${byComp.keySet}")
    assert(byComp(0L).map(_._2).toSet == ab, "A∪B membership")
    assert(byComp(2L).map(_._2).toSet == cs, "C membership")
    assert(rows.filter(_._3).map(_._2).toSet == Set(0L, 2L),
      "exactly the component minima are kept")
  }

  test("cc_dedup_groups: components agree with pair graph on sf0.001") {
    import graft.queries.TextOps
    val pairs = TextOps.minhashNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = TextOps.ccDedupGroups(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byDoc = rows.map(r => r._2 -> r._1).toMap
    // every pair's endpoints share a component
    assert(pairs.forall { case (a, b) => byDoc(a) == byDoc(b) },
      "paired docs must share a component")
    // exactly one kept doc per component, and it is the component id (min)
    rows.groupBy(_._1).foreach { case (comp, members) =>
      assert(members.count(_._3) == 1, s"component $comp keep count")
      assert(members.filter(_._3).head._2 == comp)
      assert(members.map(_._2).min == comp, s"component id must be min doc")
    }
    // endpoints of the pair graph = clustered docs, exactly
    assert(rows.map(_._2).toSet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }
}
