package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Skipping, Writer}
import graft.ops.{Dedup, Graph, RoundTrace}

/** Pins the ONE-ACTION-PER-ROUND contract of the observe-fused iterative
  * loops (round-8's §8.9#12 device: convergence metrics ride the
  * checkpoint job via `observe()`). Until now that property was measured
  * prose — a refactor reintroducing a separate per-round count scan would
  * silently re-add a full action of scheduling overhead per round
  * (measured ~40% of small-graph round cost when the CC loop had it).
  *
  * Granularity: SQL EXECUTIONS, not raw scheduler jobs — Spark 4's eager
  * `localCheckpoint` internally submits two scheduler jobs (a
  * CollectMetrics-scoped materialization plus the checkpoint pass) under
  * ONE execution id, which is an engine constant we don't own. What the
  * fusion guarantees — and what a regression would break — is that a
  * round issues exactly ONE SQL execution: the checkpoint carrying the
  * observed metrics, with no second action for convergence.
  *
  * Device: run the operator on two inputs whose ROUND counts differ
  * (witnessed by [[RoundTrace]]), counting distinct execution ids around
  * each run. Setup executions (edge materialization, initial checkpoints)
  * are identical for both, so
  *   executions(B) − executions(A) == rounds(B) − rounds(A)
  * holds iff the marginal round costs exactly one action.
  *
  * The same grain pins the ETL sink write: its date set and row count ride
  * the data write as observed metrics, and the footer harvest behind the
  * skipping manifest is a single-stage job.
  */
class JobCountSpec extends SparkTestBase {

  /** (SQL executions, scheduler jobs, submitted stages) run by `body`. */
  private def countActions(body: => Unit): (Int, Int, Int) = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.root.id")))
          .foreach { id => ids.add(id); () }
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    (ids.size(), jobs.get, stages.get)
  }

  private def countExecutions(body: => Unit): Int = countActions(body)._1

  private def pathGraph(n: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    (nodes, edges)
  }

  /** Assert the marginal round costs exactly one SQL execution for `run`
    * over a small vs a larger path graph. Both round counts must actually
    * differ or the delta proves nothing.
    */
  private def assertOneActionPerRound(op: String, small: Int, big: Int)
                                     (run: Int => Unit): Unit = {
    val execA = countExecutions(run(small))
    val roundsA = RoundTrace(op)
    val execB = countExecutions(run(big))
    val roundsB = RoundTrace(op)
    assert(roundsA > 0 && roundsB > roundsA,
      s"$op rounds must differ to pin the delta: $roundsA vs $roundsB")
    assert(execB - execA == roundsB - roundsA,
      s"$op marginal round must cost exactly ONE SQL execution: " +
        s"executions $execA→$execB (+${execB - execA}) for rounds " +
        s"$roundsA→$roundsB (+${roundsB - roundsA}) — a separate per-round " +
        "scan crept back in")
  }

  test("connectedComponents: one action per round (observe-fused convergence)") {
    // both sizes converge in < 5 rounds, below the broadcast-switch probe,
    // so the marginal cost is purely the per-round shape
    assertOneActionPerRound("cc", 2, 4) { n =>
      val (nodes, edges) = pathGraph(n)
      Dedup.connectedComponents(nodes, edges).count()
      ()
    }
  }

  test("kCore: one action per round (fused keep-list + observed count)") {
    assertOneActionPerRound("kcore", 7, 15) { n =>
      val (_, edges) = pathGraph(n)
      // k=2 over a path peels one endpoint pair per round until empty —
      // round count grows with n, deterministic
      Graph.kCore(edges, k = 2).count()
      ()
    }
  }

  test("shortestPathsInt: one action per round (witness fused into the checkpoint)") {
    import spark.implicits._
    assertOneActionPerRound("sssp", 4, 8) { n =>
      val (_, edges) = pathGraph(n)
      val w = edges.withColumn("w", lit(1L))
      Graph.shortestPathsInt(w, Seq(0L).toDF("node"), maxRounds = 32).count()
      ()
    }
  }

  test("replaceCountryRangePartitioned: the data write is the only SQL execution") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jc").toString + "/t"
    val df = spark.range(0, 60).select(
      lit("EC").as("pais"),
      date_add(to_date(lit("2025-01-01")), (col("id") % 3).cast("int")).as("fecha_proceso"),
      col("id").cast("decimal(21,2)").as("precio"))
    def write(slice: DataFrame): Long =
      Writer.replaceCountryRangePartitioned(slice, dir, "fecha_proceso", "pais", "EC",
        "2025-01-01", "2025-01-31", statsColumns = Seq("precio"))
    write(df)
    // the measured rerun drops one date, so the stale cleanup and the
    // manifest refresh both have work to do
    var rows = 0L
    val execs = countExecutions { rows = write(df.filter(col("id") % 3 =!= 2)) }
    assert(rows == 40)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "fecha_proceso=2025-01-03")))
    assert(execs == 1, s"the write must be the only SQL execution, got $execs")
  }

  test("Skipping.updateManifest: k fresh footers are harvested by one single-stage job") {
    val root = java.nio.file.Files.createTempDirectory("graft-jc").toString + "/m"
    spark.range(0, 40).repartition(4).write.parquet(root)
    Skipping.writeManifest(spark, root, Seq("id"))
    spark.range(100, 130).repartition(3).write.mode("append").parquet(root)
    var harvested = 0
    val (_, jobs, stages) = countActions { harvested = Skipping.updateManifest(spark, root, Seq("id")) }
    assert(harvested == 3)
    assert(jobs == 1 && stages == 1,
      s"footer harvest must be one job with one stage: $jobs jobs, $stages stages")
  }
}
