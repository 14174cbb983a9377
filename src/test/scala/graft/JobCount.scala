package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Jobs are attributed by a fresh
  * local-property tag set on the calling thread (and inherited by the
  * threads Spark starts for it), so jobs of other threads or of earlier
  * work never count.
  */
object JobCount {
  private val Key = "graft.test.tag"

  def of(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try {
      body
      ListenerBusDrain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
