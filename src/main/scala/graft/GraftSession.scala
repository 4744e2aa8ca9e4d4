package graft

import org.apache.spark.sql.SparkSession

/** The library's one session builder and its one per-query state drop.
  * Bench, Verify, QueryTimer, the test base and the measurement tools all
  * build through [[get]] and drop through [[dropQueryState]], so a conf
  * added here reaches every entry point at once.
  */
object GraftSession {

  /** The session with the library's semantics pinned.
    *
    * Honours a submitted `spark.master` (spark-submit / -Dspark.master) and
    * only falls back to `local[localCores]` when none was provided: the
    * harness must not pick the cluster shape. Shuffle partitions are sized
    * to the DATA, not the cores — with sub-second queries, reducer-task
    * scheduling overhead dominates past a few MB per partition; CPU-bound
    * stages override via `Par.spread`'s explicit counts.
    *
    * ANSI is pinned off for the reference's NULL-on-failure cast semantics
    * (see [[graft.etl.Schemas]]). Timestamps are written as INT64 micros:
    * INT96 is deprecated and carries no usable min/max statistics, so
    * neither row-group pruning nor the skipping manifest could prune on it.
    * Partitioned overwrites are dynamic (replace only the partitions
    * written), the ETL sinks' contract; the sink writers also pin it per
    * write.
    */
  def get(localCores: Int, shufflePartitions: Int): SparkSession = {
    val submitted = new org.apache.spark.SparkConf().contains("spark.master")
    // Generated-class cache sized to the WORKLOAD, not the 100-entry
    // default: one registered query compiles ~10-40 whole-stage/expression
    // fragments, so a 379-query sweep evicts a query's fragments long
    // before a pass returns to it and every timed execution re-runs Janino.
    // Measured (commit 86fb8c2; OPTIMIZATION_r11.md "The round's headline":
    // 8 heavy queries interleaved, min-of-two) AT 5000 ENTRIES: 43.06 ->
    // 31.44 s, all 8 faster. The 10000 default is that measured value with
    // 2x headroom; 10000 itself was not A/B'd. Not a local[32] artifact:
    // any long-lived session serving many distinct queries pays the same
    // recompile tax. Caches compiled classes, never data. Static conf, so
    // it must sit on the first builder.
    val codegenCacheEntries = sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000")
    val builder = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
    val spark =
      (if (submitted) builder else builder.master(s"local[$localCores]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-query state hygiene, run OUTSIDE any timed window: queries that
    * persist or localCheckpoint intermediates (CC rounds, ANN indexes,
    * signature tables) would otherwise accumulate pinned blocks across a
    * sweep, and later heavy queries would pay eviction + recompute for
    * their predecessors' leftovers — measured as 4-25x bimodal swings
    * (q58 4 s <-> 43 s, q85 15 s <-> 102 s) purely from run order.
    *
    * The driver GC is part of the same contract ("each query pays for its
    * own state only"): Spark's ContextCleaner frees dropped shuffle files,
    * broadcast blocks and accumulator state only after the DRIVER's GC
    * collects the weak references, and `spark.cleaner.periodicGC.interval`
    * defaults to 30 min, longer than a whole sweep — so the backlog (and
    * the old-gen pauses it forces) would land inside LATER queries' timed
    * windows. Measured (commit 0287782; OPTIMIZATION_r11.md §F: 45 heavy
    * queries, GC vs no GC interleaved): 139.7 -> 134.0 s min-sums, every
    * top-20 query faster, no losers.
    */
  def dropQueryState(spark: SparkSession): Unit = {
    try {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => () }
    System.gc()
  }
}
