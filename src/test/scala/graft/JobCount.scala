package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusDrain

/** Counts the Spark jobs a block starts on the calling thread. The block
  * runs under its own job group, and only jobs of that group are counted,
  * after the listener bus has delivered every event. */
object JobCount {
  private val group = "graft-job-count"

  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
          .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "JobCount")
    try {
      val r = f
      ListenerBusDrain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
