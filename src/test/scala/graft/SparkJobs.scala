package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object SparkJobs {

  /** Spark jobs started while `body` runs, counted by a listener. A
    * fence job run after `body` marks the end: listener events arrive
    * in order, so once its start is seen every earlier job was counted.
    */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val fence = "spark-jobs-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == fence)
          fenced.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never seen")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
