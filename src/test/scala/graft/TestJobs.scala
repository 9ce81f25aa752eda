package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** How many Spark jobs a block of code starts: a listener counts the jobs
  * that carry a job tag set around the block alone.
  */
object TestJobs {
  def count(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = s"counted-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      org.apache.spark.TestListenerBus.drain(sc)
      sc.addJobTag(tag)
      try body
      finally sc.removeJobTag(tag)
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }
}
