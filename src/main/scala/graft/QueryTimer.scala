package graft

/** Steady-state timer for one or more registered queries — the figure
  * Bench's in-sweep numbers get checked against, and the A/B harness for a
  * handful of queries without the 379-query sweep.
  *
  * Each query is warmed once at sf0.001 (JIT, codegen; the `sf0.001` dir
  * beside the target SF dir) and once at the target SF (staged layouts,
  * footer cache). Then 3 reps run ROUND-ROBIN across the queries, so
  * ambient drift spreads over all of them instead of landing on whichever
  * ran last, with [[GraftSession.dropQueryState]] after every run. One JSON line per query: its times, min and spread
  * ((max − min) / min, the harness's own variance floor).
  *
  * Usage: `runMain graft.QueryTimer <query> [query ...]`, with
  * `SPARK_GRAFT_SF_DIR` selecting the data (default sf0.1).
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryTimer <query> [query ...]")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get(
      localCores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8").toInt)
    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.dropQueryState(spark)
      dt
    }
    // sf0.001 lives beside the target SF dir; its warmup is skipped when absent
    val warmDir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toFile
    for (name <- args) {
      if (warmDir.isDirectory) run(name, warmDir.toString)
      run(name, sfDir)
    }
    val reps = Seq.fill(3)(args.toSeq.map(name => name -> run(name, sfDir)))
    for (name <- args) {
      val times = reps.map(_.toMap.apply(name))
      val spread = 100.0 * (times.max - times.min) / math.max(1e-9, times.min)
      println(f"""{"query":"$name","sf":"$sfDir","times":[${times.map(t => f"$t%.3f").mkString(",")}],""" +
        f""""min":${times.min}%.3f,"spread_pct":$spread%.1f}""")
    }
    spark.stop()
  }
}
