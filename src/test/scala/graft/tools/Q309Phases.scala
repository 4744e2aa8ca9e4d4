package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Phase-level timing for q309_stream_neardup's 14.9 s bench cost at sf0.1:
  * (a) streaming bucket-index build (minhash + transformWithState/RocksDB),
  * (b) batch pair expansion self-join + distinct,
  * (c) hashedWordSets materialization,
  * (d) exact verify (size prefilter + sorted-merge Jaccard).
  * Also re-times q307_coreness solo for the in-sweep vs solo gap.
  *
  * Run: sbt "Test/runMain graft.tools.Q309Phases"
  */
object Q309Phases {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(localCores = 32, shufflePartitions = 32)
    val dir = "/root/testdata/sf0.1"

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // warm the JIT/readers on sf0.001 once, untimed
    graft.SparkEntry.queries("q309_stream_neardup")(spark, "/root/testdata/sf0.001").count()

    (1 to 2).foreach { pass =>
      println(s"--- pass $pass ---")
      time("q309 end-to-end") {
        println("  rows: " + graft.SparkEntry.queries("q309_stream_neardup")(spark, dir).count())
      }
    }

    // phase attribution: index (streaming) / expansion / wordsets / verify
    val docsBatch = spark.read.parquet(s"$dir/documents.parquet")
    (1 to 2).foreach { pass =>
      println(s"--- phase pass $pass ---")
      val index = time("index build (streaming)") {
        graft.streaming.StreamOps.streamingNearDupIndex(
          spark, graft.Tables.documentsStream(spark, dir), "doc_id", "text",
          numHashes = 96, bands = 16).localCheckpoint(true)
      }
      val raw = time("expansion raw pairs") {
        val r = graft.streaming.StreamOps
          .expandBucketPairsRaw(index, sizeRatio = Some(0.95)).localCheckpoint(true)
        println("  raw pairs: " + r.count()); r
      }
      val ws = time("hashedWordSets") {
        graft.ops.Dedup.hashedWordSets(docsBatch, "doc_id", "text").localCheckpoint(true)
      }
      time("verify") {
        println("  verified: " + graft.ops.Dedup
          .verifyCandidatePairs(raw, ws, 0.95, broadcastAttach = false).count())
      }
      GraftSession.dropQueryState(spark)
    }

    // RocksDB knob A/B, alternated (same-session streaming runs are noisy)
    def buildIndex(): Long = {
      val idx = graft.streaming.StreamOps.streamingNearDupIndex(
        spark, graft.Tables.documentsStream(spark, dir), "doc_id", "text",
        numHashes = 96, bands = 16)
      idx.select(sum(size(col("members")))).first.getLong(0)
    }
    val knobs = Seq(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    (1 to 3).foreach { rep =>
      time(s"index baseline rep$rep") { buildIndex() }
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      try time(s"index tuned    rep$rep") { buildIndex() }
      finally knobs.foreach { case (k, _) => spark.conf.unset(k) }
      knobs.take(1).foreach { case (k, v) => spark.conf.set(k, v) }
      try time(s"index track-off rep$rep") { buildIndex() }
      finally knobs.take(1).foreach { case (k, _) => spark.conf.unset(k) }
      knobs.drop(1).foreach { case (k, v) => spark.conf.set(k, v) }
      try time(s"index chlog-on  rep$rep") { buildIndex() }
      finally knobs.drop(1).foreach { case (k, _) => spark.conf.unset(k) }
    }

    // isolate compute vs streaming machinery: the same minhash+banding as a
    // BATCH aggregation to the same (band,bhash)→members index shape
    graft.functions.GraftFunctions.register(spark)
    (1 to 2).foreach { pass =>
      time(s"batch banding+index (pass $pass)") {
        val banded = docsBatch
          .select(col("doc_id").cast("long").as("id"),
            array_distinct(graft.ops.TextAnalysis.tokens(col("text"))).as("toks"))
          .select(col("id"), size(col("toks")).as("sz"),
            graft.ops.Dedup.minHashSignature(col("toks"), 96, 42L).as("sig"))
          .select(col("id"), col("sz"), xxhash64(col("sig")).as("fsig"),
            explode(transform(sequence(lit(0), lit(15)),
              b => struct(b.cast("int").as("band"),
                xxhash64(slice(col("sig"), b * 6 + 1, lit(6))).as("bhash")))).as("bb"))
          .select(col("bb.band").as("band"), col("bb.bhash").as("bhash"),
            col("id"), col("fsig"), col("sz"))
        val idx = banded
          .groupBy(col("band"), col("bhash"))
          .agg(sort_array(collect_list(struct(col("id"), col("fsig"), col("sz")))).as("ms"))
          .select(col("band"), col("bhash"),
            col("ms.id").as("members"), col("ms.fsig").as("fsigs"), col("ms.sz").as("szs"))
        println("  cells: " + idx.select(sum(size(col("members")))).first.getLong(0))
      }
    }

    // q307 solo for comparison with the 14.2 s in-sweep number
    (1 to 2).foreach { pass =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("q307_coreness")(spark, dir).count()
      println(f"[q307 solo pass $pass] ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
