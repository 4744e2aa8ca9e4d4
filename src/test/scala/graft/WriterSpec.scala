package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.Writer

class WriterSpec extends SparkTestBase {
  import spark.implicits._

  private def mk(rows: Seq[(String, String, Double)]) =
    rows.toDF("pais", "d", "v")
      .select(col("pais"), to_date(col("d")).as("fecha_proceso"), col("v"))

  test("partition-aligned replaceWhere: rewrites slice, drops stale partitions, keeps other countries") {
    val dir = Files.createTempDirectory("graft-w").toString + "/t"
    // initial state: EC on two dates, PE on one shared date
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("EC", "2025-01-01", 1.0), ("EC", "2025-01-02", 2.0))),
      dir, "fecha_proceso", "pais", "EC", "2025-01-01", "2025-01-31")
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("PE", "2025-01-02", 9.0))),
      dir, "fecha_proceso", "pais", "PE", "2025-01-01", "2025-01-31")
    assert(spark.read.parquet(dir).count() == 3)

    // rerun EC with 2025-01-02 gone from the source and 01-01 updated:
    // replace semantics must update 01-01, DELETE the stale EC 01-02
    // partition, and leave PE untouched.
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("EC", "2025-01-01", 5.0))),
      dir, "fecha_proceso", "pais", "EC", "2025-01-01", "2025-01-31")
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.filter(col("pais") === "EC").count() == 1)
    assert(back.filter(col("pais") === "EC").collect().head.getAs[Double]("v") == 5.0)
    assert(back.filter(col("pais") === "PE").count() == 1)

    // out-of-range partitions are never touched
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("EC", "2025-02-10", 7.0))),
      dir, "fecha_proceso", "pais", "EC", "2025-02-01", "2025-02-28")
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("partition-aligned replaceWhere: stale cleanup matches escaped country directories") {
    val dir = Files.createTempDirectory("graft-w").toString + "/t"
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("E:C", "2025-01-01", 1.0), ("E:C", "2025-01-02", 2.0))),
      dir, "fecha_proceso", "pais", "E:C", "2025-01-01", "2025-01-31")
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("PE", "2025-01-02", 9.0))),
      dir, "fecha_proceso", "pais", "PE", "2025-01-01", "2025-01-31")
    // Spark stores the value escaped: ':' becomes %3A in the directory name
    val stale = Paths.get(dir, "fecha_proceso=2025-01-02", "pais=E%3AC")
    assert(Files.isDirectory(stale))

    Writer.replaceCountryRangePartitioned(
      mk(Seq(("E:C", "2025-01-01", 5.0))),
      dir, "fecha_proceso", "pais", "E:C", "2025-01-01", "2025-01-31")
    assert(!Files.exists(stale), "the stale escaped partition must be deleted")
    val back = spark.read.parquet(dir)
    assert(back.filter(col("pais") === "E:C").collect().map(_.getAs[Double]("v")).toSeq == Seq(5.0))
    assert(back.filter(col("pais") === "PE").count() == 1)
  }

  test("partition-aligned replaceWhere: a rerun with no in-range rows clears only that slice") {
    val dir = Files.createTempDirectory("graft-w").toString + "/t"
    assert(Writer.replaceCountryRangePartitioned(
      mk(Seq(("EC", "2025-01-01", 1.0), ("EC", "2025-01-02", 2.0))),
      dir, "fecha_proceso", "pais", "EC", "2025-01-01", "2025-01-31") == 2)
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("PE", "2025-01-02", 9.0))),
      dir, "fecha_proceso", "pais", "PE", "2025-01-01", "2025-01-31")
    Writer.replaceCountryRangePartitioned(
      mk(Seq(("EC", "2025-02-10", 7.0))),
      dir, "fecha_proceso", "pais", "EC", "2025-02-01", "2025-02-28")

    // the source still holds rows, none of them EC within January: the
    // write is empty, its observation must still resolve, and every EC
    // January partition is stale
    val written = Writer.replaceCountryRangePartitioned(
      mk(Seq(("PE", "2025-01-05", 3.0), ("EC", "2025-03-01", 4.0))),
      dir, "fecha_proceso", "pais", "EC", "2025-01-01", "2025-01-31")
    assert(written == 0)
    val back = spark.read.parquet(dir)
    assert(back.filter(col("pais") === "EC").collect().map(_.getAs[Double]("v")).toSeq == Seq(7.0))
    assert(back.filter(col("pais") === "PE").collect().map(_.getAs[Double]("v")).toSeq == Seq(9.0))
    assert(!Files.exists(Paths.get(dir, "fecha_proceso=2025-01-01")),
      "a date directory left empty by the cleanup is removed")
  }

  test("versioned replaceWhere: commit pointer, replace semantics, crash safety, GC") {
    val dir = Files.createTempDirectory("graft-wv").toString + "/t"
    def pred(c: String) = col("pais") === c

    // v-0: first commit
    Writer.replaceWhereVersioned(spark, mk(Seq(("EC", "2025-01-01", 1.0),
      ("PE", "2025-01-01", 9.0))), dir, Seq.empty, pred("EC"))
    assert(Writer.readCurrent(spark, dir).count() == 2)

    // v-1: replace EC only — PE kept, EC swapped
    Writer.replaceWhereVersioned(spark, mk(Seq(("EC", "2025-01-02", 5.0))),
      dir, Seq.empty, pred("EC"))
    val cur = Writer.readCurrent(spark, dir)
    assert(cur.count() == 2)
    assert(cur.filter(col("pais") === "EC").collect().head.getAs[Double]("v") == 5.0)
    assert(cur.filter(col("pais") === "PE").collect().head.getAs[Double]("v") == 9.0)

    // crash simulation: an orphaned next-version directory (data written,
    // pointer never updated) must be invisible to readers and silently
    // overwritten by the next successful write.
    val orphan = new java.io.File(s"$dir/v-2"); orphan.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/v-2/garbage"), "not parquet")
    assert(Writer.readCurrent(spark, dir).count() == 2) // still v-1
    Writer.replaceWhereVersioned(spark, mk(Seq(("PE", "2025-01-03", 4.0))),
      dir, Seq.empty, pred("PE"))
    val cur2 = Writer.readCurrent(spark, dir)
    assert(cur2.count() == 2)
    assert(cur2.filter(col("pais") === "PE").collect().head.getAs[Double]("v") == 4.0)

    // GC: after v-2 commits, only current and previous versions remain
    // (plus the current/previous claim markers the protocol leaves behind)
    val vs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("v-") && !n.endsWith(".claim")).sorted
    assert(vs.toSeq == Seq("v-1", "v-2"), vs.mkString(","))
  }

  test("versioned replaceWhere: two interleaved writers both land (claim CAS serializes)") {
    val dir = Files.createTempDirectory("graft-wvc").toString + "/t"
    def pred(c: String) = col("pais") === c
    // base version both racers will read
    Writer.replaceWhereVersioned(spark, mk(Seq(("EC", "2025-01-01", 1.0),
      ("PE", "2025-01-01", 2.0), ("CO", "2025-01-01", 3.0))), dir, Seq.empty, pred("EC"))

    // the lost-update interleaving: A and B both observe v-0 and race v-1.
    // Without the claim CAS, both merge from v-0 and the second pointer
    // write silently drops the first writer's rows; with it, the loser's
    // claim of v-1 fails, it re-reads the pointer and re-merges from the
    // winner's v-1 — both updates must land.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tA = new Thread(() =>
      try Writer.replaceWhereVersioned(spark, mk(Seq(("EC", "2025-02-01", 10.0))),
        dir, Seq.empty, pred("EC"))
      catch { case e: Throwable => errs.add(e); () })
    val tB = new Thread(() =>
      try Writer.replaceWhereVersioned(spark, mk(Seq(("PE", "2025-02-01", 20.0))),
        dir, Seq.empty, pred("PE"))
      catch { case e: Throwable => errs.add(e); () })
    tA.start(); tB.start(); tA.join(120000); tB.join(120000)
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    val cur = Writer.readCurrent(spark, dir)
    assert(cur.count() == 3)
    assert(cur.filter(col("pais") === "EC").collect().head.getAs[Double]("v") == 10.0)
    assert(cur.filter(col("pais") === "PE").collect().head.getAs[Double]("v") == 20.0)
    assert(cur.filter(col("pais") === "CO").collect().head.getAs[Double]("v") == 3.0)
    // serialized: two commits happened, pointer at v-2
    assert(Writer.readCurrent(spark, dir).inputFiles.head.contains("/v-2/"))

    // stale claim from a crashed writer blocks and fails LOUDLY (bounded
    // retry, message names the claim) instead of silently double-committing
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/v-3.claim"), "stale")
    val ex = intercept[IllegalStateException] {
      Writer.replaceWhereVersioned(spark, mk(Seq(("EC", "2025-03-01", 99.0))),
        dir, Seq.empty, pred("EC"), maxAttempts = 2, claimRetryMs = 10L)
    }
    assert(ex.getMessage.contains("v-3.claim"))
    // operator recovery: delete the stale claim, retry succeeds
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/v-3.claim"))
    Writer.replaceWhereVersioned(spark, mk(Seq(("EC", "2025-03-01", 99.0))),
      dir, Seq.empty, pred("EC"))
    assert(Writer.readCurrent(spark, dir)
      .filter(col("pais") === "EC").collect().head.getAs[Double]("v") == 99.0)
  }
}
