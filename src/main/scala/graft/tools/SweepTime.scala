package graft.tools

/** Round-14 full-surface timing sweep: one warm noop execution of
  * EVERY declared query at the given scale factor, sorted report —
  * finds hot non-headline operators the bench never times (the
  * dedup_simhash_pairs 207 s pathology was found this way).
  * Usage: runMain graft.tools.SweepTime [sfDir] [nameFilter]
  */
object SweepTime {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val filter: String => Boolean =
      if (args.length > 1) { n => args(1).split(",").exists(n.contains) }
      else _ => true
    val spark = graft.EngineConf.localSession(
      math.min(32, Runtime.getRuntime.availableProcessors()))
    spark.sparkContext.setLogLevel("ERROR")
    // warmup
    try graft.SparkEntry.queries("q1_groupby_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val names = graft.SparkEntry.queries.keys.toSeq.sorted.filter(filter)
    val out = names.map { name =>
      val t0 = System.nanoTime()
      val ok = try {
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[sweep] $name failed: ${e.getMessage}")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[sweep] $name%-32s ${dt}%8.2f s ${if (ok) "" else "FAILED"}")
      // round-15 (ADVICE r14): several query builders cache
      // query-local frames with no unpersist (lazy results make an
      // in-builder unpersist impossible); over a 354-query sweep the
      // pinned InMemoryRelations accumulate and can evict each other
      // or spill, degrading LATER queries for reasons that have
      // nothing to do with their own code. Clearing between queries
      // keeps every row's number self-contained. (Bench deliberately
      // does NOT clear: its reps measure the same query repeatedly
      // and cross-round comparability pins its methodology.)
      spark.sharedState.cacheManager.clearCache()
      (name, dt, ok)
    }
    println("==== slowest 40 ====")
    out.sortBy(-_._2).take(40).foreach { case (n, t, ok) =>
      println(f"[top] $n%-32s $t%8.2f s ${if (ok) "" else "FAILED"}")
    }
    println(f"[sweep-total] ${out.map(_._2).sum}%.1f s over ${out.size} queries")
    spark.stop()
  }
}
