package graft

import org.apache.spark.sql.SparkSession

/** Engine-level session settings, applied at session CONSTRUCTION by
  * every harness (Bench, Verify, the test session, all through
  * [[EngineConf.localSession]]) — the documented
  * front door for confs the engine's physical plans depend on, so no
  * query builder ever mutates global session state from inside a
  * query (round-9 verdict #4).
  *
  * The two layout settings exist for `sources.BucketedLayout`:
  *
  *  - `autoBucketedScan.enabled=false`: keep bucket-per-partition
  *    reads even when no operator above the scan declares a required
  *    distribution (the sorted-run EWM is a mapPartitions pass that
  *    depends on the run layout, which the auto-bucketed-scan rule
  *    would otherwise repack by file splits);
  *  - `legacy.bucketedTableScan.outputOrdering=true`: report the
  *    on-disk sort order from the scan. Off by default since Spark
  *    3.1 because it is only sound with ONE FILE PER BUCKET — exactly
  *    what BucketedLayout's repartition-to-bucket-count write
  *    guarantees; with it off, every window above a layout still
  *    plans the Sort the layout exists to eliminate.
  *
  * Both are scoped to the whole session deliberately: they change no
  * query RESULT, only whether bucketed scans expose their physical
  * properties, and they must be active when the DOWNSTREAM query
  * plans — a set/restore around the layout builder would silently
  * lose the layout's no-Exchange/no-Sort property at use sites.
  */
object EngineConf {

  /** Settings a cluster deployment passes as `--conf` pairs (or via
    * [[configure]]); `spark.sql.extensions=graft.GraftExtensions` is
    * the companion registration knob (GraftExtensions.scala). */
  val layoutSettings: Map[String, String] = Map(
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  /** Performance settings (round-14), applied by [[configure]] but NOT
    * required by [[requireLayoutSettings]] — a session missing them
    * degrades gracefully, never wrongly.
    *
    * canChangeCachedPlanOutputPartitioning=true lets AQE optimize the
    * build plan of CACHED frames (coalesce small shuffle partitions,
    * split skewed ones) instead of freezing the static
    * shuffle.partitions count into the cache. The dedup/curation
    * pipeline caches reused intermediates (sig0/reps/mapping/exact);
    * with the default `false`, every consumer of those caches runs one
    * task per static shuffle partition regardless of data size —
    * measured at sf0.1: pipe_curation 4.5 s → 1.9 s with AQE allowed
    * to size the cached partitions. At cluster scale the same setting
    * sizes cache partitions by AQE's advisory bytes rather than a
    * constant, which is the partitioning-follows-data behavior every
    * uncached stage already has. Values are unaffected (physical
    * partitioning only). */
  val perfSettings: Map[String, String] = Map(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Fold the engine settings into a session builder — including the
    * extensions class, so every harness session carries the custom
    * strategy, the graft_* functions, and the optimizer rules exactly
    * as a cluster deployment would (`--conf spark.sql.extensions=
    * graft.GraftExtensions`). Applies only at session CREATION;
    * `getOrCreate` against an existing session keeps its extensions. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    (layoutSettings ++ perfSettings).foldLeft(
      b.config("spark.sql.extensions", "graft.GraftExtensions")) {
      case (bb, (k, v)) => bb.config(k, v)
    }

  /** The one local-session factory: [[configure]] plus the local-mode
    * settings every harness (the mains and the test session) shares,
    * on `local[cpus]`. Callers pass only what differs — their core
    * count and any harness-specific conf pairs in `extra`, which win
    * over the defaults. Adaptive execution is Spark's default and is
    * not set here.
    *
    *  - shuffle partitions = `cpus`, or `SPARK_GRAFT_SHUFFLE_PARTITIONS`.
    *    Shuffle parallelism must scale with DATA, not cores: at sf100
    *    (600M lineitem) 32 partitions means ~19M rows each and the
    *    sort/join spill path dominates (join_inner 94 s -> 45 s,
    *    agg_minmax_nunique 173 s -> 89 s at 256 partitions, same
    *    machine), so scaled runs pass the override exactly as a
    *    cluster job would size it;
    *  - 32 MiB file splits, or `SPARK_GRAFT_MAX_PARTITION_BYTES`: the
    *    driver's testdata ships one parquet file per table, and 32 MiB
    *    keeps single-file scans parallel on local[32] (a real cluster
    *    reads many files and would use the 128 MiB default);
    *  - UTC session time, `nanosAsLong` and no TIMESTAMP_NTZ inference:
    *    the testdata timestamp contract, see [[Tables.apply]];
    *  - a 60 s ContextCleaner GC: shuffle files are only deleted when a
    *    GC collects their ShuffleDependency, and with a big heap the
    *    default 30 min lets scaled-run spills pile up on one shared
    *    disk (the round-8 sf100 disk-full event: 43 GB of blockmgr
    *    files in 10 min at p256);
    *  - no UI. */
  def localSession(cpus: Int, extra: (String, String)*): SparkSession = {
    val local = Seq(
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString),
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.cleaner.periodicGC.interval" -> "60s",
      "spark.ui.enabled" -> "false")
    (local ++ extra).foldLeft(
      configure(SparkSession.builder().master(s"local[$cpus]"))) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
  }

  /** Loud check used by layout readers: a session missing the engine
    * settings would plan the Sort/Exchange the layout exists to
    * eliminate — fail with the fix rather than silently degrade. */
  def requireLayoutSettings(s: SparkSession): Unit =
    layoutSettings.foreach { case (k, v) =>
      require(s.conf.getOption(k).contains(v),
        s"BucketedLayout requires session conf $k=$v — apply " +
          "graft.EngineConf.configure(builder) at session construction " +
          "(see EngineConf.scala for why these are engine settings)")
    }
}
