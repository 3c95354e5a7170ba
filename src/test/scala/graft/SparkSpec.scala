package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one JVM-wide SparkSession from the
  * harness factory ([[EngineConf.localSession]]) on local[4] — UTC,
  * shuffle parallelism 4, nanos-tolerant parquet reads (TESTDATA.md).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener (events post asynchronously: wait for `atLeast` of them,
    * then a little longer for any straggler). */
  def jobsDuring[T](atLeast: Int = 0)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      val deadline = System.nanoTime() + 10000000000L
      while (jobs.get() < atLeast && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = EngineConf.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
