package graft.tools

import org.apache.spark.sql.functions._

/** Writes a TIME-ORDERED copy of the events table for the streaming
  * throughput drive (StreamBench), plus a documents symlink so the
  * stream_* corpus queries resolve against the same directory.
  *
  * Why: `FileStreamSource` delivers files oldest-modTime-first, so a
  * randomly-ordered parquet copy front-loads the corpus's MAX event
  * time into micro-batch 1 — the watermark jumps to (corpus end −
  * delay) immediately and either nothing ever evicts (long delay) or
  * almost every later row arrives "late" (short delay). Neither regime
  * exercises the bounded-state contract the scaled record is meant to
  * ground (round-10 verdict, What's wrong #2). A production ingest is
  * approximately time-ordered; this tool reproduces that shape:
  *
  *   1. `repartitionByRange(nFiles, ts)` + `sortWithinPartitions(ts)`
  *      — part-00000 holds the earliest time range, part-N the latest;
  *   2. part files get STRICTLY INCREASING mtimes in path order, so
  *      the file source's modTime sort delivers them chronologically
  *      regardless of which write task finished first.
  *
  * Driven this way with `SPARK_GRAFT_STREAM_DEDUP_DELAY` shorter than
  * the corpus span, the watermark advances batch by batch, expired
  * dedup state evicts continuously (`numRowsRemoved > 0`), and the
  * state peak plateaus at ~one delay-horizon of keys instead of
  * growing monotonically.
  *
  * Usage: TimeOrderEvents <srcSfDir> <dstDir> [nFiles=96]
  */
object TimeOrderEvents {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeOrderEvents <srcSfDir> <dstDir> [nFiles]")
    val src = args(0)
    val dst = args(1)
    val nFiles = if (args.length > 2) args(2).toInt else 96
    val spark = graft.EngineConf.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")

    val outDir = s"$dst/events.parquet"
    graft.Tables(spark, src, "events")
      .repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(outDir)

    // strictly increasing mtimes in path order = chronological delivery
    import java.nio.file.{Files, Paths}
    val sorted = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val base = System.currentTimeMillis() - sorted.size * 2000L
    sorted.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 2000L)
    }
    println(s"[time-order] wrote ${sorted.size} chronological part files to $outDir")

    // documents: streamed by stream_curation — symlink the source copy
    val docLink = Paths.get(dst, "documents.parquet")
    val docSrc = Paths.get(src, "documents.parquet")
    if (!Files.exists(docLink) && Files.exists(docSrc))
      Files.createSymbolicLink(docLink, docSrc)
    spark.stop()
  }
}
