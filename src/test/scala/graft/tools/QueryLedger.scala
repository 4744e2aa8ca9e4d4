package graft.tools

import graft.GraftSession

/** Per-job/stage attribution for ONE registered query under Bench's exact
  * session settings — the round-11 optimization round's "where does the
  * time actually go" probe. Runs the query once warm (sf0.001), then once
  * timed at sf0.1 with the [[StageLedger]] capturing, and prints the job
  * table (wall, run, cpu, shuffle bytes, spill, tasks, top stage name).
  *
  * Run: sbt "Test/runMain graft.tools.QueryLedger q354_restart_join [q...]"
  */
object QueryLedger {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q307_coreness")
    val spark = GraftSession.get(localCores = 32, shufflePartitions = 8)
    val ledger = new StageLedger(spark)
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, "/root/testdata/sf0.001").count() // JIT warm
      GraftSession.dropQueryState(spark)
      // one untimed full-SF pass so layout caches (split dirs, indexes)
      // are built; the ledger pass below then measures steady state
      fn(spark, "/root/testdata/sf0.1").count()
      GraftSession.dropQueryState(spark)
      ledger.start()
      val t0 = System.nanoTime()
      fn(spark, "/root/testdata/sf0.1").count()
      val dt = (System.nanoTime() - t0) / 1e9
      ledger.stop()
      println(f"==== $name steady pass: $dt%.2f s ====")
      ledger.print(topStages = 16)
      GraftSession.dropQueryState(spark)
    }
    spark.stop()
  }
}
