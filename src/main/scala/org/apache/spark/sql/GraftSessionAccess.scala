package org.apache.spark.sql

/** Reads the one piece of package-private session state that graft's stream
  * start path (`graft.streaming.StreamOps.runStream`) needs. */
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
}
