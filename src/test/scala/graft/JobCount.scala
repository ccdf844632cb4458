package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object JobCount {

  /** Jobs started while `body` ran. Listener delivery is async but
    * ORDERED: a marker job runs after the body, and once its start event
    * is seen every job start the body triggered has been delivered — no
    * timing-dependent sleeps. */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"job-count-marker-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      require(markerSeen.await(30, TimeUnit.SECONDS), "marker job start event not delivered")
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }
}
