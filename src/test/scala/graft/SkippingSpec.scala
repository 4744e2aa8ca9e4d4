package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Skipping, Writer}

/** File-level data skipping: manifest write, predicate pruning, loud
  * staleness fallback, and the files-touched measurements the round-9
  * brief asks for (≤¼ of files on a selective predicate over BOTH the
  * date-sorted and the Z-ordered layout).
  */
class SkippingSpec extends SparkTestBase {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-skip-$tag").toFile
    d.deleteOnExit()
    d.toString
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def parse(p: String) =
    spark.sessionState.sqlParser.parseExpression(p)

  // ------------------------------------------------------------- layouts

  test("date-sorted layout: pruned read == full read, touching <=1/4 of files") {
    val root = Tables.skippingLayout(spark, sf(), "date")
    val pred = "l_shipdate_d >= DATE '1995-06-01' AND l_shipdate_d < DATE '1995-09-01'"
    val pr = Skipping.readPrunedDetailed(spark, root, pred)
    assert(pr.fallback.isEmpty, s"manifest should engage: ${pr.fallback}")
    assert(pr.total == 16, s"layout should have 16 files, found ${pr.total}")
    assert(pr.selected >= 1, "the window overlaps data — something must survive")
    assert(pr.selected * 4 <= pr.total,
      s"a 3-month window over a 16-file date-sorted layout must touch <=1/4 " +
        s"of files: ${pr.selected}/${pr.total}")
    val full = spark.read.parquet(root).filter(pred)
    assert(sortedRows(pr.df) == sortedRows(full))
  }

  test("z-ordered layout prunes conjunctive AND single-dimension range predicates") {
    val root = Tables.skippingLayout(spark, sf(), "zorder")
    val mm = spark.read.parquet(root).agg(max("l_partkey"), max("l_suppkey")).head()
    val (pQ, sQ) = (mm.getLong(0) / 5, mm.getLong(1) / 5)
    // both dims constrained to their lowest quarter: the 4x4 file grid
    // should route this to ~1 file
    val both = Skipping.readPrunedDetailed(spark, root,
      s"l_partkey <= $pQ AND l_suppkey <= $sQ")
    assert(both.fallback.isEmpty)
    assert(both.selected * 4 <= both.total,
      s"conjunctive quarter-range should touch <=1/4 of files: " +
        s"${both.selected}/${both.total}")
    // the z-order point: a range on the SECOND dim alone also prunes
    // (a single-column sort could never prune this one)
    val suppOnly = Skipping.readPrunedDetailed(spark, root, s"l_suppkey <= $sQ")
    assert(suppOnly.selected * 2 <= suppOnly.total,
      s"single-dim quarter-range should touch <=1/2 of files: " +
        s"${suppOnly.selected}/${suppOnly.total}")
    // correctness is independent of the prune on both shapes
    val full = spark.read.parquet(root)
    assert(sortedRows(both.df) ==
      sortedRows(full.filter(s"l_partkey <= $pQ AND l_suppkey <= $sQ")))
    assert(sortedRows(suppOnly.df) == sortedRows(full.filter(s"l_suppkey <= $sQ")))
  }

  test("provably-empty predicate selects zero files and returns zero rows, schema intact") {
    val root = Tables.skippingLayout(spark, sf(), "date")
    val pr = Skipping.readPrunedDetailed(spark, root, "l_shipdate_d > DATE '2999-01-01'")
    assert(pr.fallback.isEmpty && pr.selected == 0)
    assert(pr.df.count() == 0)
    assert(pr.df.columns.contains("l_shipdate_d"))
  }

  // ---------------------------------------------- staleness / fallbacks

  test("stale manifest (file added behind its back) is rejected loudly; result still correct") {
    import spark.implicits._
    val root = tmpDir("stale")
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("k"))
    val ok = Skipping.readPrunedDetailed(spark, root, "k <= 10")
    assert(ok.fallback.isEmpty && ok.selected < ok.total)
    // a file lands AFTER the manifest was written
    Seq((1000L, "late")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(root)
    val stale = Skipping.readPrunedDetailed(spark, root, "k <= 10")
    assert(stale.fallback.exists(_.contains("stale")),
      s"expected loud stale fallback, got ${stale.fallback}")
    assert(stale.selected == stale.total, "fallback must be a FULL scan")
    assert(stale.df.count() == 10)
  }

  test("metadataSummary answers from footers alone, and refuses when stale") {
    import spark.implicits._
    val root = tmpDir("metaagg")
    (1 to 100).map(i => (i.toLong, if (i % 10 == 0) null else s"v$i"))
      .toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("k", "v"))
    val (rows, cols) = Skipping.metadataSummary(spark, root)
      .getOrElse(fail("summary must be available on a current manifest"))
    assert(rows == 100)
    assert(cols("k").nonNull == 100)
    assert(cols("k").lo.contains("1") && cols("k").hi.contains("100"))
    assert(cols("v").nonNull == 90) // nulls subtracted exactly
    // strings are EXCLUDED from bounds (parquet may truncate binary stats)
    assert(cols("v").lo.isEmpty && cols("v").hi.isEmpty)
    // drift: a file lands behind the manifest's back -> None, never a
    // wrong count
    Seq((1000L, "late")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(root)
    assert(Skipping.metadataSummary(spark, root).isEmpty,
      "a stale manifest must refuse, not undercount")
    // incremental refresh re-engages with the new file included
    Skipping.updateManifest(spark, root, Seq("k", "v"))
    val (rows2, cols2) = Skipping.metadataSummary(spark, root).get
    assert(rows2 == 101 && cols2("k").hi.contains("1000"))
  }

  test("FLOAT columns prune in float space: 2^24 collapse never loses rows (round 11)") {
    import spark.implicits._
    val root = tmpDir("f32")
    // one value per file, staged deterministically (round-robin start
    // indices are random, so repartition(4) can co-locate values and make
    // per-file min/max assumptions flaky); 16777216f is the smallest
    // float with an integer collapse twin (16777217 rounds onto it)
    Seq(16777216.0f).toDF("fcol").coalesce(1).write.mode("overwrite").parquet(root)
    for (v <- Seq(100.0f, 255.5f, 1048576.0f))
      Seq(v).toDF("fcol").coalesce(1).write.mode("append").parquet(root)
    Skipping.writeManifest(spark, root, Seq("fcol"))
    def check(pred: String): Skipping.Pruned = {
      val pr = Skipping.readPrunedDetailed(spark, root, pred)
      assert(pr.fallback.isEmpty, s"manifest must engage: ${pr.fallback}")
      assert(pr.df.collect().map(_.toString).sorted.toSeq ==
        spark.read.parquet(root).filter(pred).collect().map(_.toString).sorted.toSeq,
        s"pruned result must equal full scan for: $pred")
      pr
    }
    // integral literal: Spark promotes LONG to FLOAT, so 16777217 MATCHES
    // the 16777216f row — exact order would confidently prune it
    val eq = check("fcol = 16777217")
    assert(eq.df.count() == 1, "the float-collapapsed twin must survive")
    assert(eq.selected == 1, "float-space order still prunes the other files")
    // string literal casts to the column type: same collapse
    val s = check("fcol = '16777217'")
    assert(s.df.count() == 1 && s.selected == 1)
    // fractional LITERAL (not a CAST node — the evaluator only rules on
    // literals): comparison is double-space (float < double)
    val d = check("fcol = 16777216.0D")
    assert(d.df.count() == 1 && d.selected == 1)
    // non-strict range at the collapse boundary
    val le = check("fcol >= 16777217")
    assert(le.df.count() == 1, ">= must keep the row float order calls equal")
    // tightness retained where float space is exact
    val far = check("fcol = 100")
    assert(far.df.count() == 1 && far.selected == 1)
    // metadata summary serves f32 bounds
    val (_, cols) = Skipping.metadataSummaryOrFail(spark, root)
    assert(cols("fcol").lo.isDefined && cols("fcol").hi.isDefined,
      "f32 columns must report min/max in the metadata summary")
  }

  test("metadata-agg QUERY path fails loudly on an out-of-band append (round 11)") {
    import spark.implicits._
    val root = tmpDir("metaloud")
    (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(2).write.mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("k"))
    val (rows, _) = Skipping.metadataSummaryOrFail(spark, root)
    assert(rows == 50)
    // a writer that bypasses updateManifest lands a file behind the
    // manifest's back: the query contract is a LOUD failure, because the
    // write-time nonNull/min/max no longer describe the table — a silent
    // 50 here would be a wrong answer, not a slow one
    Seq((999L, "late")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(root)
    val e = intercept[IllegalStateException] {
      Skipping.metadataSummaryOrFail(spark, root)
    }
    assert(e.getMessage.contains("current"),
      s"failure must explain the staleness contract: ${e.getMessage}")
    // and the documented remedy restores service with the true count
    Skipping.updateManifest(spark, root, Seq("k"))
    assert(Skipping.metadataSummaryOrFail(spark, root)._1 == 51)
  }

  test("missing manifest falls back to a full scan with a reason") {
    import spark.implicits._
    val root = tmpDir("nomanifest")
    (1 to 10).map(i => (i, i * 2)).toDF("a", "b").write.mode("overwrite").parquet(root)
    val pr = Skipping.readPrunedDetailed(spark, root, "a <= 3")
    assert(pr.fallback.exists(_.contains("manifest")))
    assert(pr.df.count() == 3)
  }

  // ------------------------------------------------------ writer hooks

  test("overwritePartitionsWithStats: partition values prune as exact stats") {
    import spark.implicits._
    val root = tmpDir("partcols")
    val df = Seq(
      ("AR", "2024-01-01", 1.0), ("AR", "2024-01-02", 2.0),
      ("BR", "2024-01-01", 3.0), ("CL", "2024-01-03", 4.0)
    ).toDF("country", "date", "amount")
    Writer.overwritePartitionsWithStats(df, root, Seq("country"), Seq("amount", "date"))
    val pr = Skipping.readPrunedDetailed(spark, root, "country = 'AR' AND amount >= 2.0")
    assert(pr.fallback.isEmpty)
    assert(pr.selected < pr.total,
      s"partition-value stats must prune non-AR files: ${pr.selected}/${pr.total}")
    assert(sortedRows(pr.df) ==
      sortedRows(spark.read.parquet(root).filter("country = 'AR' AND amount >= 2.0")))
  }

  // ------------------------------------------- incremental maintenance

  test("updateManifest after an append harvests ONLY the new file (round-10 task 1)") {
    import spark.implicits._
    val root = tmpDir("incr")
    (1 to 160).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(root)
    assert(Skipping.writeManifest(spark, root, Seq("k", "x")) == 8)
    val fsH = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = Skipping.readManifest(fsH, new HPath(root)).get
    // one file lands; pruning is now (loudly) disabled until maintenance
    Seq((1000L, 0.0)).toDF("k", "x").coalesce(1).write.mode("append").parquet(root)
    assert(Skipping.readPrunedDetailed(spark, root, "k <= 20")
      .fallback.exists(_.contains("stale")))
    // the incremental refresh: exactly ONE footer harvested, and the
    // Spark work done is the one-file job, not a 9-file re-sweep —
    // counted at the task grain (a full rewrite schedules 9 harvest
    // tasks, one per file)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val harvested =
      try {
        val h = Skipping.updateManifest(spark, root, Seq("k", "x"))
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        h
      } finally spark.sparkContext.removeSparkListener(l)
    assert(harvested == 1, s"must harvest only the appended file, got $harvested")
    assert(tasks.get <= 4,
      s"incremental update must not re-sweep old footers: ${tasks.get} tasks")
    // old entries carried forward VERBATIM; the new file's entry is real
    val after = Skipping.readManifest(fsH, new HPath(root)).get
    assert(after.files.size == 9)
    val beforeByPath = before.files.map(f => f.path -> f).toMap
    val (kept, fresh) = after.files.partition(f => beforeByPath.contains(f.path))
    assert(kept.size == 8 && kept.forall(f => beforeByPath(f.path) == f),
      "surviving entries must be byte-identical carries, not re-harvests")
    assert(fresh.size == 1 && fresh.head.cols("k").lo.contains("1000"))
    // and pruning engages again, correctly
    val pr = Skipping.readPrunedDetailed(spark, root, "k <= 20")
    assert(pr.fallback.isEmpty && pr.selected < pr.total)
    assert(pr.df.count() == 20)
  }

  test("updateManifest drops replaced files and falls back to a full build when columns change") {
    import spark.implicits._
    val root = tmpDir("incr2")
    Seq(("AR", 1L), ("AR", 2L), ("BR", 3L)).toDF("c", "v")
      .write.partitionBy("c").mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("v"))
    val fsH = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val arBefore = Skipping.readManifest(fsH, new HPath(root)).get
      .files.filter(_.path.startsWith("c=AR"))
    // dynamic overwrite replaces ONLY the BR partition's files
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try Seq(("BR", 30L), ("BR", 31L)).toDF("c", "v")
      .write.partitionBy("c").mode("overwrite").parquet(root)
    finally prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    Skipping.updateManifest(spark, root, Seq("v"))
    val after = Skipping.readManifest(fsH, new HPath(root)).get
    assert(after.files.filter(_.path.startsWith("c=AR")) == arBefore,
      "untouched partition's entries carry forward")
    assert(after.files.filter(_.path.startsWith("c=BR"))
      .forall(_.cols("v").lo.exists(_.toLong >= 30L)),
      "replaced partition's entries re-harvested from the new files")
    val pr = Skipping.readPrunedDetailed(spark, root, "v >= 30")
    assert(pr.fallback.isEmpty && pr.selected < pr.total && pr.df.count() == 2)
    // a DIFFERENT stats-column set can't extend old entries → full rebuild
    val n = Skipping.updateManifest(spark, root, Seq("v", "c"))
    assert(n == after.files.size,
      s"column-set change must re-harvest everything, got $n")
    assert(Skipping.readPrunedDetailed(spark, root, "v >= 30").fallback.isEmpty)
  }

  test("part stats: date-shaped partition values normalize like date columns (no silent prune)") {
    import spark.implicits._
    val root = tmpDir("partdate")
    // date-shaped partition dirs: Spark's partition-type inference makes
    // `d` a DATE column on read, so literals are CAST — '1995-6-1' means
    // 1995-06-01, where raw utf8 order over the dir strings is wrong
    Seq(("1995-06-01", 1), ("1995-06-01", 2), ("1995-07-15", 3))
      .toDF("d", "x").write.partitionBy("d").mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("x"))
    def prune(p: String) = Skipping.readPrunedDetailed(spark, root, p)
    // the r9 ADVICE scenario: non-canonical string literal on a date-typed
    // partition column — must NOT prune the matching partition
    val eq = prune("d = '1995-6-1'")
    assert(eq.df.count() == 2, "non-ISO literal must match the June partition")
    val range = prune("d >= '1995-7-1'")
    assert(range.df.count() == 1 && range.selected < range.total,
      s"range over normalized forms should both match and prune: " +
        s"${range.selected}/${range.total}, rows=${range.df.count()}")
    // DATE-typed literals normalize the same way
    val dlit = prune("d = DATE '1995-07-15'")
    assert(dlit.df.count() == 1 && dlit.selected < dlit.total)
  }

  test("replaceWhereVersioned writes the manifest before the pointer flip; readCurrentPruned prunes") {
    import spark.implicits._
    val root = tmpDir("versioned")
    val v0 = (1 to 40).map(i => (i.toLong, "AR", i * 1.0)).toDF("id", "country", "x")
      .repartitionByRange(4, col("id"))
    Writer.replaceWhereVersioned(spark, v0, root, Nil, lit(false),
      statsColumns = Seq("id", "x"))
    val pr = Writer.readCurrentPruned(spark, root, "id <= 5")
    assert(pr.fallback.isEmpty, s"committed version must carry its manifest: ${pr.fallback}")
    assert(pr.selected < pr.total)
    assert(pr.df.count() == 5)
  }

  // -------------------------------------------------- evaluator semantics

  private val fNum = Skipping.FileStats("f1", 1L, 100L,
    Map("a" -> Skipping.ColStats("num", Some("10"), Some("20"), Some(0L)),
      "s" -> Skipping.ColStats("string", Some("bb"), Some("dd"), Some(5L))))

  test("mayMatch: interval logic on comparisons, IN, and boolean structure") {
    def m(p: String, f: Skipping.FileStats = fNum) = Skipping.mayMatch(parse(p), f)
    assert(m("a = 15") && !m("a = 9") && !m("a = 21"))
    assert(m("a < 11") && !m("a < 10") && m("a <= 10"))
    assert(m("a > 19") && !m("a > 20") && m("a >= 20") && !m("a >= 21"))
    assert(m("15 <= a") && !m("a BETWEEN 1 AND 9") && m("a BETWEEN 1 AND 10"))
    assert(m("a IN (1, 2, 15)") && !m("a IN (1, 2, 30)"))
    assert(!m("a = 15 AND s = 'aa'"), "AND prunes when either side is infeasible")
    assert(m("a = 9 OR s = 'cc'") && !m("a = 9 OR s = 'aa'"))
    assert(m("s >= 'bb' AND s < 'cc'") && !m("s > 'dd'"))
    // unsupported shapes never prune
    assert(m("length(s) > 100") && m("a + 1 = 9"))
    // literal-only predicates
    assert(!m("false") && m("true"))
  }

  test("mayMatch: null semantics — all-null files, =NULL, null-safe equality") {
    val allNull = Skipping.FileStats("f2", 1L, 50L,
      Map("a" -> Skipping.ColStats("num", None, None, Some(50L))))
    val noNulls = fNum
    val unknownNulls = Skipping.FileStats("f3", 1L, 50L,
      Map("a" -> Skipping.ColStats("num", Some("1"), Some("2"), None)))
    def m(p: String, f: Skipping.FileStats) = Skipping.mayMatch(parse(p), f)
    assert(!m("a = 1", allNull), "null-rejecting cmp can't match an all-null file")
    assert(m("a IS NULL", allNull) && !m("a IS NOT NULL", allNull))
    assert(!m("a IS NULL", noNulls) && m("a IS NOT NULL", noNulls))
    assert(m("a IS NULL", unknownNulls) && m("a IS NOT NULL", unknownNulls))
    assert(!m("a = NULL", noNulls), "= NULL matches nothing")
    assert(!m("a <=> NULL", noNulls) && m("a <=> NULL", allNull))
    assert(!m("NOT (a IS NOT NULL)", noNulls))
    // empty file matches nothing, whatever the predicate
    val empty = Skipping.FileStats("f4", 1L, 0L, Map.empty)
    assert(!m("some_unknown_col = 1", empty))
    // a column with no stats at all never prunes
    assert(m("zz = 123", noNulls))
  }

  test("mayMatch soundness: CAST semantics, not raw string comparison") {
    // every wrong answer here is silent row loss (the pruned file is never
    // read, so the re-applied filter cannot recover) — these are the four
    // round-9 review scenarios, pinned
    def fs(cols: (String, Skipping.ColStats)*) =
      Skipping.FileStats("f", 1L, 10L, cols.toMap)
    def m(p: String, f: Skipping.FileStats) = Skipping.mayMatch(parse(p), f)
    // 1. DATE column vs string literal: Spark casts the LITERAL to date,
    //    so '1995-6-1' and '1995-06-01 00:00:00' both mean 1995-06-01
    val june = fs("d" -> Skipping.ColStats("date",
      Some("1995-06-01"), Some("1995-06-30"), Some(0L)))
    assert(m("d = '1995-6-1'", june), "non-ISO date literal must normalize")
    assert(m("d >= '1995-06-01 00:00:00'", june), "time suffix truncates")
    assert(!m("d = '1995-7-1'", june), "normalized literal out of range prunes")
    assert(m("d = 'not-a-date'", june), "unparseable literal keeps the file")
    // 2. STRING column vs numeric literal: Spark casts the COLUMN, and
    //    lexicographic min/max do not bound the cast values — stats of
    //    {"85","9"} are lo="85", hi="9", yet value "9" matches s = 9
    val s99 = fs("s" -> Skipping.ColStats("string", Some("85"), Some("9"), Some(0L)))
    assert(m("s = 9", s99), "numeric retry on string RANGE stats is unsound")
    // 3. `part` stats are exact (min == max == the value): numeric retry
    //    is sound there — "05" equals 5, not 6
    val p05 = fs("k" -> Skipping.ColStats("part", Some("05"), Some("05"), Some(0L)))
    assert(m("k = 5", p05) && !m("k = 6", p05))
    // 4. UTF-8 byte order, not UTF-16 code units: U+1F600's UTF-8 bytes
    //    (F0..) sort ABOVE U+E000's (EE..), while its UTF-16 surrogate
    //    (D83D) sorts below — String.compareTo would wrongly prune
    val emoji = fs("s" -> Skipping.ColStats("string",
      Some("a"), Some("😀"), Some(0L)))
    assert(m(s"s >= ''", emoji), "supplementary char must compare as UTF-8")
  }

  test("partition value with '+' survives the path decode and is not pruned") {
    // Spark's escapePathName never escapes '+', and its unescape decodes
    // only %XX — URLDecoder would turn "a+b" into "a b" and the exact
    // partition stat would prune every file of the partition
    import spark.implicits._
    val root = tmpDir("plus")
    Seq(("a+b", 1), ("a+b", 2), ("c%d e", 3))
      .toDF("k", "x").write.partitionBy("k").mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("x"))
    val pr = Skipping.readPrunedDetailed(spark, root, "k = 'a+b'")
    assert(pr.fallback.isEmpty)
    assert(pr.df.count() == 2, "the a+b partition's rows must survive")
    assert(pr.selected < pr.total, "the other partition should be pruned")
    val pr2 = Skipping.readPrunedDetailed(spark, root, "k = 'c%d e'")
    assert(pr2.df.count() == 1 && pr2.selected < pr2.total,
      "%XX-escaped partition value must decode and prune selectively")
  }

  test("timestamp stats normalize to micros and prune against TIMESTAMP literals") {
    import spark.implicits._
    val root = tmpDir("ts")
    val rows = (0 until 96).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i / 4 + 1}%02d 0${i % 4}:00:00"))
    }
    rows.toDF("id", "ts").repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("ts", "id"))
    val pr = Skipping.readPrunedDetailed(spark, root,
      "ts >= TIMESTAMP '2024-01-20 00:00:00'")
    assert(pr.fallback.isEmpty && pr.selected < pr.total,
      s"timestamp range should prune: ${pr.selected}/${pr.total}")
    assert(pr.df.count() ==
      spark.read.parquet(root).filter("ts >= TIMESTAMP '2024-01-20 00:00:00'").count())
  }

  test("manifest round-trips through JSON including unusable bounds and unknown nulls") {
    import spark.implicits._
    val root = tmpDir("roundtrip")
    Seq((1, Option("x")), (2, None), (3, Option("z")))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(root)
    Skipping.writeManifest(spark, root, Seq("k", "v", "ghost"))
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = Skipping.readManifest(fs, new HPath(root)).get
    assert(m.formatVersion == Skipping.FormatVersion)
    assert(m.files.size == 1)
    val f = m.files.head
    assert(f.rows == 3)
    assert(f.cols("k").lo.contains("1") && f.cols("k").hi.contains("3"))
    assert(f.cols("v").nulls.contains(1L))
    assert(!f.cols.contains("ghost"), "a column absent from the files records no stats")
  }
}
