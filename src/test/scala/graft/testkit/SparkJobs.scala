package graft.testkit

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark-job budgets for tests: how many jobs a block of driver code runs. */
object SparkJobs {

  /** Jobs started on `spark` while `body` ran. Listener events are posted
    * asynchronously, so the count is polled until it stops changing.
    */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(250) }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
