package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Dataset, Row}

class MaterializeSpec extends SparkSpec {

  private val reliable = "graft.checkpoint.reliable" -> "true"

  /** A row as text, arrays by content, so two collects compare. */
  private def render(r: Row): String = r.toSeq.map {
    case a: Array[_] => a.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")

  private def rows(key: String): Seq[String] =
    SparkEntry.queries(key)(spark, sf0001).collect().map(render).sorted.toSeq

  private def rddDirs(root: Path): Long = {
    val walk = Files.walk(root)
    try walk.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-")).count()
    finally walk.close()
  }

  // one key per module that checkpoints: TextOps and GraphCC, Similarity,
  // ImageSource and ImreadQueries, Multimodal, Measure
  for (key <- Seq("cc_dedup_groups", "embedding_near_dup", "imread_typed_pipeline",
      "multimodal_av_container", "tensor_label_stats")) {
    test(s"$key: reliable checkpoints give the local rows and land in the checkpoint dir") {
      val local = rows(key)
      val dir = Files.createTempDirectory("graft_ckpt")
      queries.TmpCleanup.register(dir)
      spark.sparkContext.setCheckpointDir(dir.toString)
      val got = Timed.withConf(spark.conf, reliable)(rows(key))
      assert(got == local)
      assert(rddDirs(dir) > 0, s"no reliable checkpoint under $dir")
    }
  }

  test("reliable mode is eager: Spark's lazy reliable checkpoint recomputes its lineage") {
    val s = spark
    import s.implicits._
    val evals = s.sparkContext.longAccumulator("evals")
    def tagged: Dataset[Long] = s.range(0, 1000, 1, 4).as[Long].map { x => evals.add(1); x }
    def jobs(body: => Unit): Long = Timed.TaskCounter.using(s)(_.around(s)(body).jobs.get)
    val dir = Files.createTempDirectory("graft_ckpt")
    queries.TmpCleanup.register(dir)
    s.sparkContext.setCheckpointDir(dir.toString)

    // lazy reliable, unwrapped: the first action computes the lineage and
    // a second job computes it again to write the files
    Timed.withConf(s.conf, reliable) {
      val ds = tagged.checkpoint(eager = false)
      assert(jobs(ds.foreach(_ => ())) == 2)
    }
    assert(evals.value == 2000)

    // through Materialize: one write job at the call, one evaluation; the
    // action reads the files
    evals.reset()
    Timed.withConf(s.conf, reliable) {
      var ds: Dataset[Long] = null
      assert(jobs { ds = Materialize(tagged, eager = false) } == 1)
      assert(jobs(ds.foreach(_ => ())) == 1)
    }
    assert(evals.value == 1000)

    // local mode keeps the caller's lazy flag: no job at the call, and the
    // action evaluates the lineage once
    evals.reset()
    var ds: Dataset[Long] = null
    assert(jobs { ds = Materialize(tagged, eager = false) } == 0)
    assert(jobs(ds.foreach(_ => ())) == 1)
    assert(evals.value == 1000)
  }
}
