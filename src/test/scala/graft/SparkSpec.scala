package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one JVM-wide SparkSession from the
  * harness factory ([[EngineConf.localSession]]) on local[4] — UTC,
  * shuffle parallelism 4, nanos-tolerant parquet reads (TESTDATA.md).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = EngineConf.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
