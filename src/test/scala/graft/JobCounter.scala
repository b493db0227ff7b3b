package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs `body` launches: the body runs under a fresh job
  * tag (`SparkContext.addJobTag`), and a listener counts the job starts
  * that carry it — jobs other threads launch for the body (broadcast
  * builds) inherit the tag, jobs of anything else running do not. */
object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
      (out, n.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
