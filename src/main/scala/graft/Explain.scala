package graft
/** Dump formatted physical plans for named queries (plan-quality tool),
  * planned in Bench's session (`GraftSession.bench`) so the dump is the
  * plan Bench executes. Tables are not warmed, so scans show their
  * pushed filters rather than the cache substitution. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.01"
    val spark = GraftSession.bench(GraftSession.inputBytes(dir)).spark
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"===== $name =====")
      // Checkpoint-truncated sub-plans never appear in a declared query's
      // final plan; name them here explicitly so their shape is dumpable.
      val df = name match {
        case "vec_rep_mapping" =>
          graft.queries.Similarity.vecRepPlan(Tables.t(spark, dir, "embeddings"))
        case _ => SparkEntry.queries(name)(spark, dir)
      }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
