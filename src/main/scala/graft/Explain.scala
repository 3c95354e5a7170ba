package graft

import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

/** Plan-hygiene inspector: runs the bench headline queries (or names
  * given as args) and prints each one's formatted FINAL physical plan,
  * so pushdown, broadcast choices, partial aggregation, WholeStageCodegen
  * spans and AQE's runtime decisions (reused exchanges, cache stages,
  * join switches) can be reviewed (SCALE.md records the conclusions).
  * A query is drained through its own QueryExecution first, as
  * perfbench does: before it runs, an adaptive plan is only the
  * initial one.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = EngineConf.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
                else Bench.headline.filterNot(_.startsWith("stream"))
    names.foreach { name =>
      println(s"==== $name ====")
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        SQLExecution.withNewExecutionId(qe, Some(s"explain $name")) {
          qe.toRdd.foreach(_ => ())
        }
        println(qe.explainString(ExplainMode.fromString("formatted")))
      }
      catch { case e: Throwable => println(s"  explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
