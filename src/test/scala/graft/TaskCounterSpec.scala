package graft

import java.util.concurrent.CountDownLatch

/** `Timed.TaskCounter` counts only the jobs its scope started. */
class TaskCounterSpec extends SparkSpec {

  test("a counter counts jobs of threads started inside its scope, not of threads started before it") {
    val sc = spark.sparkContext
    def job(): Unit = { sc.parallelize(1 to 4, 2).count(); () }
    val go = new CountDownLatch(1)
    val before = new Thread(() => { go.await(); job() })
    before.start()
    val c = Timed.TaskCounter.using(spark)(_.around(spark) {
      go.countDown()
      before.join()
      val inside = new Thread(() => job())
      inside.start()
      inside.join()
    })
    assert((c.jobs.get, c.stages.get, c.tasks.get) == (1L, 1L, 2L))
  }
}
