package graft

/** Plan-hygiene inspector: prints the formatted physical plan of the
  * bench headline queries (or names given as args) so pushdown,
  * broadcast choices, partial aggregation, and WholeStageCodegen spans
  * can be reviewed (SCALE.md records the conclusions).
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
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"  explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
