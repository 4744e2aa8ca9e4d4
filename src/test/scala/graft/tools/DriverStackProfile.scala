package graft.tools

import graft.GraftSession

/** Round-12 driver-gap attribution (guide §7.3, applied in-process): the
  * QueryLedger showed iterative queries spend ~half their wall OUTSIDE any
  * job (q332: 2.77 s of 5.02 s; q307: 2.35 s of 6.72 s). This samples the
  * MAIN thread's stack every ~2 ms while the query runs repeatedly and
  * histograms (a) the top frame's declaring class bucket and (b) the
  * deepest "interesting" Spark frame, splitting the gap into analysis /
  * optimization / physical planning / codegen / checkpoint machinery /
  * action setup. Sampling the main thread only is sound for gap
  * attribution: job time runs on executor threads while main blocks in
  * awaitResult (which shows up as its own bucket).
  *
  * Run: sbt "Test/runMain graft.tools.DriverStackProfile q332_grid_dbscan [reps]"
  */
object DriverStackProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q332_grid_dbscan")
    val reps = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = GraftSession.get(localCores = 32, shufflePartitions = 8)
    def drop(): Unit = GraftSession.dropQueryState(spark)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, "/root/testdata/sf0.001").count() // JIT warm
    drop()
    fn(spark, "/root/testdata/sf0.1").count() // layout warm
    drop()

    val main = Thread.currentThread()
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val deep = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    // bucket by the shallowest frame that names a known phase; fall back to
    // the top frame's package
    val phases = Seq(
      "awaitResult" -> "BLOCKED-on-job(awaitResult)",
      "Analyzer" -> "catalyst-analysis",
      "CheckAnalysis" -> "catalyst-analysis",
      "Optimizer" -> "catalyst-optimization",
      "RuleExecutor" -> "catalyst-ruleexec(other)",
      "QueryPlanner" -> "physical-planning",
      "SparkStrategies" -> "physical-planning",
      "EnsureRequirements" -> "physical-prep",
      "prepareForExecution" -> "physical-prep",
      "CodeGenerator" -> "codegen",
      "doCodeGen" -> "codegen",
      "ClosureCleaner" -> "closure-clean",
      "localCheckpoint" -> "checkpoint-machinery",
      "unpersist" -> "unpersist",
      "TreeNode" -> "catalyst-tree(other)",
      "QueryExecution" -> "queryexecution(other)",
      "collectFromPlan" -> "action-collect",
      "executeTake" -> "action-collect",
      "Observation" -> "observation-wait",
      "parquet" -> "parquet-io",
      "InMemoryFileIndex" -> "file-listing"
    )
    val sampler = new Thread(() => {
      while (sampling) {
        val st = main.getStackTrace
        if (st.nonEmpty) {
          val full = st.map(f => s"${f.getClassName}.${f.getMethodName}")
          val phase = phases.collectFirst {
            case (pat, label) if full.exists(_.contains(pat)) => label
          }.getOrElse {
            val t = st.head
            s"other:${t.getClassName.split('.').takeRight(2).mkString(".")}.${t.getMethodName}"
          }
          hist.merge(phase, 1, (a, b) => a + b)
          // deepest catalyst/execution frame for the "other" buckets
          if (phase.startsWith("other:") || phase.endsWith("(other)")) {
            val interesting = full.find(c => c.contains("org.apache.spark"))
              .getOrElse(full.head)
            deep.merge(interesting, 1, (a, b) => a + b)
          }
        }
        Thread.sleep(2)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    for (_ <- 1 to reps) { fn(spark, "/root/testdata/sf0.1").count(); drop() }
    val dt = (System.nanoTime() - t0) / 1e9
    sampling = false
    sampler.join(1000)
    println(f"==== $name x$reps = $dt%.2f s (incl. drop) ====")
    val total = hist.values().stream().mapToInt(_.intValue).sum().max(1)
    import scala.jdk.CollectionConverters._
    for ((k, v) <- hist.asScala.toSeq.sortBy(-_._2.intValue))
      println(f"${100.0 * v.intValue / total}%6.1f%% ($v%5d) $k")
    println("---- deepest spark frames inside 'other' buckets ----")
    for ((k, v) <- deep.asScala.toSeq.sortBy(-_._2.intValue).take(25))
      println(f"($v%5d) $k")
    spark.stop()
  }
}
