package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.GraftSession

/** Round-12 streaming-family attribution (VERDICT r11 next-round #1): a
  * StreamingQueryListener that captures EVERY microbatch's
  * `durationMs` breakdown (triggerExecution / queryPlanning / addBatch /
  * walCommit / commitOffsets / getBatch / latestOffset) and every state
  * operator's commit metrics plus the RocksDB custom metrics (snapshot
  * upload vs store open vs commit), per registered streaming gate. The
  * point is to SPLIT the family's ~50 s (sf0.1) into
  *   (a) state-store cost inside addBatch (RocksDB open/commit/upload),
  *   (b) microbatch protocol cost (offset WAL, commit log, planning), and
  *   (c) everything outside the streaming queries (staging writes, batch
  *       reads, pair-expansion joins, query start/stop),
  * so the round only tunes where the ledger shows the time actually is.
  *
  * Run: sbt "Test/runMain graft.tools.StreamBatchLedger q354_restart_join ..."
  */
object StreamBatchLedger {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
    else Seq("q354_restart_join", "q309_stream_neardup", "q359_restart_sessions",
      "q353_restart_recovery", "q273_stream_join", "q304_tws_timers",
      "q305_tws_firstk", "q300_stream_outer_join", "q313_stream_full_outer_join",
      "q368_available_now", "q77_stream_hourly")
    val spark = GraftSession.get(localCores = 32, shufflePartitions = 8)

    // progress events arrive on the async listener bus; processAllAvailable
    // + stop() inside the gates does not drain it, so collect into a
    // concurrent buffer and sleep briefly before reading it back
    val progress = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.streaming.StreamingQueryProgress]())
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
    })

    val dir = "/root/testdata/sf0.1"
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, "/root/testdata/sf0.001").count() // JIT warm
      GraftSession.dropQueryState(spark)
      fn(spark, dir).count() // layout/staging warm
      GraftSession.dropQueryState(spark)
      progress.clear()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(600) // drain the async listener bus
      import scala.jdk.CollectionConverters._
      val ps = progress.asScala.toSeq
      println(f"==== $name wall=$wall%.2f s, microbatches captured=${ps.size} ====")
      // per-batch rows
      val durKeys = ps.flatMap(_.durationMs.keySet.asScala).distinct.sorted
      ps.zipWithIndex.foreach { case (p, i) =>
        val durs = durKeys.map(k =>
          s"$k=${Option(p.durationMs.get(k)).map(_.toString).getOrElse("-")}").mkString(" ")
        println(f"  b$i%02d rows=${p.numInputRows}%6d $durs")
        p.stateOperators.foreach { so =>
          val cm = so.customMetrics.asScala.toSeq.filter(_._2 != 0)
            .sortBy(-_._2).take(10)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(f"      op=${so.operatorName} commitMs=${so.commitTimeMs} " +
            f"updMs=${so.allUpdatesTimeMs} rmMs=${so.allRemovalsTimeMs} " +
            f"rowsTot=${so.numRowsTotal} shufflePartitions=${so.numShufflePartitions} $cm")
        }
      }
      // totals: trigger vs protocol vs state
      def sumDur(k: String): Long =
        ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
      val trig = sumDur("triggerExecution")
      val add = sumDur("addBatch")
      val proto = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets", "commitBatch").map(sumDur).sum
      val commit = ps.flatMap(_.stateOperators.toSeq.map(_.commitTimeMs)).sum
      val custTot = ps.flatMap(_.stateOperators.toSeq
          .flatMap(_.customMetrics.asScala.toSeq))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.longValue).sum }
        .filter(_._2 != 0).toSeq.sortBy(-_._2)
      println(f"  TOTALS wall=$wall%.2f s | sum(triggerExecution)=${trig / 1e3}%.2f s " +
        f"(addBatch=${add / 1e3}%.2f, protocol=${proto / 1e3}%.2f) | " +
        f"outside-stream=${wall - trig / 1e3}%.2f s | state commitTimeMs(sum)=${commit / 1e3}%.2f s")
      println("  state custom metrics (sums over all batches/operators): " +
        custTot.take(16).map { case (k, v) => s"$k=$v" }.mkString(" "))
      GraftSession.dropQueryState(spark)
    }
    spark.stop()
  }
}
