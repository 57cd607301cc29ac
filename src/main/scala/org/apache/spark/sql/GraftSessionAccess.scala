package org.apache.spark.sql

/** The package-private Spark state graft reads or carries across threads:
  * the session's artifact flag, which the stream start path
  * (`graft.streaming.StreamOps.runStream`) needs, and the SparkContext's
  * thread-local properties. */
object GraftSessionAccess {

  /** True once `s` has added a session-scoped artifact (jar, class file or
    * file), whose classes load only through the session's isolated class
    * loader. The flag is `protected` in Scala but a public accessor in
    * bytecode, so it is read reflectively. */
  def sessionArtifactAdded(s: SparkSession): Boolean = {
    val am = s.asInstanceOf[classic.SparkSession].artifactManager
    am.getClass.getMethod("sessionArtifactAdded").invoke(am)
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get()
  }

  /** `body` as a Future on `ec` that runs with the calling thread's
    * SparkContext local properties, as Spark's
    * `SQLExecution.withThreadLocalCaptured` does: a pool thread otherwise
    * keeps the properties of the thread that created it. */
  def future[T](s: SparkSession)(body: => T)(
      implicit ec: scala.concurrent.ExecutionContext): scala.concurrent.Future[T] = {
    val sc = s.sparkContext
    val props = org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)
    scala.concurrent.Future {
      val prev = sc.getLocalProperties
      sc.setLocalProperties(props)
      try body finally sc.setLocalProperties(prev)
    }
  }
}
