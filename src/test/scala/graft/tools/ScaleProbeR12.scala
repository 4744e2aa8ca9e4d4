package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Round-12 scale-out probe (VERDICT r11 next-round #3): the r11 bench's
  * 8-core/32-core ratio was ~1.0 across the board because sf0.1 queries are
  * fixed-overhead-bound — so "fast at 100 TB" had plan-shape evidence only.
  * This probe times the top data-heavy queries on an INFLATED dataset
  * (replica inflation with per-replica key offsets — the r7/r8 ladder
  * device — default 10x sf0.1 ~ sf1 volume, all referential keys offset
  * consistently so join fanouts replicate instead of exploding) under the
  * session's own core count, with shuffle partitions matched to cores.
  * Run it once with SPARK_GRAFT_CPUS=32 / SPARK_GRAFT_SHUFFLE=32 and once
  * with 8/8: data-heavy queries should now track the core ratio, and the
  * ones that do not get named (with their reason) in OPTIMIZATION_r12.md.
  *
  * The inflated dir is STAGED INPUT LAYOUT (rebuilt whenever the source
  * stamp or factor changes, shared by both core-count invocations), never
  * results: every measurement recomputes from the staged parquet.
  *
  * Run: SPARK_GRAFT_CPUS=8 SPARK_GRAFT_SHUFFLE=8 \
  *        sbt "Test/runMain graft.tools.ScaleProbeR12 [query ...]"
  */
object ScaleProbeR12 {
  // (table, key columns to offset per replica) — offsets keep referential
  // integrity: every FK edge is offset on both sides, so replica k is a
  // disjoint copy of the base relational world
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "region" -> Seq(), // dimension enums: copied, not replicated
    "nation" -> Seq()
  )
  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val factor = sys.env.getOrElse("GRAFT_PROBE_FACTOR", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
    else Seq("q85_dedup_cascade", "q335_ktruss", "q309_stream_neardup",
      "q131_link_prediction", "q213_itemsets_3", "q293_ks_statistic",
      "q245_theil_sen", "q247_consistent_hash", "q323_join_size_sketch",
      "q218_rank_correlation")
    val spark = GraftSession.get(localCores = cpus.toInt, shufflePartitions = shuffle.toInt)

    // ---- stage the inflated dir (idempotent across invocations) ----
    val srcStamp = graft.Tables.names.map { t =>
      val f = new java.io.File(s"$src/$t.parquet")
      s"$t:${f.length()}:${f.lastModified()}"
    }.mkString("|")
    val probeDir = new java.io.File(s"/tmp/graft-scaleprobe-f$factor")
    val stampFile = new java.io.File(probeDir, "_stamp")
    val stampVal = s"$srcStamp|f=$factor"
    val fresh = stampFile.isFile &&
      new String(java.nio.file.Files.readAllBytes(stampFile.toPath)) == stampVal
    if (!fresh) {
      def wipe(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
        f.delete(); ()
      }
      wipe(probeDir); probeDir.mkdirs()
      for (t <- graft.Tables.names) {
        val base = spark.read.parquet(s"$src/$t.parquet")
        val keys = keyCols.getOrElse(t, Seq())
        val out =
          if (keys.isEmpty) base
          else {
            val reps = spark.range(factor.toLong).toDF("__rep")
            keys.foldLeft(base.crossJoin(reps)) { (d, k) =>
              d.withColumn(k, col(k) + col("__rep") * Off)
            }.drop("__rep")
          }
        out.write.mode("overwrite").parquet(s"$probeDir/$t.parquet")
        println(s"staged $t x${if (keys.isEmpty) 1 else factor}")
      }
      java.nio.file.Files.write(stampFile.toPath, stampVal.getBytes)
    }
    def stealTotal(): (Long, Long) = {
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val cols = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally f.close()
        (cols.lift(7).getOrElse(0L), cols.sum)
      } catch { case _: Throwable => (0L, 1L) }
    }

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      try {
        fn(spark, "/root/testdata/sf0.001").count() // JIT warm
        GraftSession.dropQueryState(spark)
        fn(spark, probeDir.toString).count() // layout/staging warm at scale
        GraftSession.dropQueryState(spark)
        val times = (1 to 2).map { _ =>
          val (s0, j0) = stealTotal()
          val t0 = System.nanoTime()
          fn(spark, probeDir.toString).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val (s1, j1) = stealTotal()
          GraftSession.dropQueryState(spark)
          (dt, 100.0 * (s1 - s0) / math.max(1L, j1 - j0))
        }
        val best = times.minBy(_._1)
        println(f"PROBE|$name|cores=$cpus|shuffle=$shuffle|f=$factor|" +
          f"min=${best._1}%.2f|t1=${times(0)._1}%.2f|t2=${times(1)._1}%.2f|" +
          f"steal=${best._2}%.2f%%")
      } catch { case e: Throwable =>
        println(s"PROBE|$name|cores=$cpus|FAILED|${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(140))
        GraftSession.dropQueryState(spark)
      }
    }
    spark.stop()
  }
}
