package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

object SparkJobs {

  /** Spark jobs launched while `body` runs, with its result. */
  def during[T](sc: SparkContext)(body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
