package graft.tools

import org.apache.spark.scheduler._

import graft.GraftSession

/** Round-12 per-query floor attribution (VERDICT r11 next-round #6): the
  * 245 sub-0.5 s queries sum to ~55 s at sf0.1 and the open question is
  * whether that floor is Catalyst planning (driver-side, between jobs) or
  * execution (inside jobs). Per query this prints
  *   wall        - end-to-end steady-state time,
  *   job_wall    - sum of job wall (submit -> end) from the listener,
  *   driver_gap  - wall - job_wall: driver-side time OUTSIDE any job
  *                 (analysis, optimization, physical planning, codegen
  *                 lookup, action setup),
  *   n_jobs      - actions the query ran.
  * Jobs are sequential in these query paths (one action at a time), so the
  * gap is a faithful planning/driver attribution, not an overlap artifact.
  *
  * Run: sbt "Test/runMain graft.tools.FloorLedger [maxSecFilter]"
  */
object FloorLedger {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(localCores = 32, shufflePartitions = 8)

    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobWall = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStarts.put(e.jobId, e.time); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach { t0 =>
          jobWall.addAndGet(e.time - t0)
          jobCount.incrementAndGet()
          ()
        }
    })

    val dir = "/root/testdata/sf0.1"
    // default scope: every registered query; a numeric arg keeps only
    // queries whose steady pass lands under that many seconds (the floor
    // population), printed either way for the ones measured
    val cap = args.headOption.map(_.toDouble).getOrElse(Double.MaxValue)
    var sumWall = 0.0; var sumJobs = 0.0; var n = 0
    println("query | wall_s | job_wall_s | driver_gap_s | n_jobs")
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        fn(spark, "/root/testdata/sf0.001").count() // JIT/codegen warm
        GraftSession.dropQueryState(spark)
        fn(spark, dir).count() // layout warm
        GraftSession.dropQueryState(spark)
        jobWall.set(0L); jobCount.set(0); jobStarts.clear()
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(60) // let job-end events drain
        val jw = jobWall.get / 1e3
        if (wall <= cap) {
          sumWall += wall; sumJobs += jw; n += 1
          println(f"$name | $wall%.3f | $jw%.3f | ${wall - jw}%.3f | ${jobCount.get}")
        }
        GraftSession.dropQueryState(spark)
      } catch { case e: Throwable =>
        println(s"$name | FAILED ${e.getClass.getSimpleName}")
        GraftSession.dropQueryState(spark)
      }
    }
    println(f"TOTAL over $n queries: wall=$sumWall%.1f s job_wall=$sumJobs%.1f s " +
      f"driver_gap=${sumWall - sumJobs}%.1f s")
    spark.stop()
  }
}
