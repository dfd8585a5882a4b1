package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), UTC, small
  * shuffle fanout matching local cores. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Spark jobs started while `body` runs. Events already posted are
    * delivered before counting starts, and the count is read only after
    * the body's own events have arrived. */
  def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(8).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
