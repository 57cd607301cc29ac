package graft

import org.apache.spark.sql.Dataset

/** The engine's one lineage-truncation policy. Every materialization in
  * `src/main` (a barrier against pushdown, a frame with several
  * consumers, an iterative round) goes through [[apply]].
  *
  * With the session conf `graft.checkpoint.reliable` unset (or anything
  * but `true`) it is Spark's `localCheckpoint`: blocks stay in executor
  * storage, fast on one machine, and a lost executor loses them. With
  * `graft.checkpoint.reliable=true` it is Spark's reliable `checkpoint`
  * into `SparkContext.setCheckpointDir`, which survives executor loss;
  * a missing checkpoint dir fails at the call.
  *
  * Reliable mode is always eager, whatever `eager` says. Spark writes a
  * lazy reliable checkpoint of an unpersisted frame in a second job that
  * recomputes its lineage after the first action over it: measured
  * (`MaterializeSpec`), the first action runs 2 jobs and evaluates every
  * row twice. An eager one is written by one job that evaluates each row
  * once, and every later action reads the files. Local mode keeps the
  * caller's `eager`: a lazy local checkpoint is completed, at no extra
  * job, by the caller's next full-pass action.
  */
object Materialize {

  def apply[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val spark = ds.sparkSession
    if (spark.conf.getOption("graft.checkpoint.reliable").contains("true")) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "graft.checkpoint.reliable=true requires SparkContext.setCheckpointDir")
      ds.checkpoint(eager = true)
    } else ds.localCheckpoint(eager)
  }
}
