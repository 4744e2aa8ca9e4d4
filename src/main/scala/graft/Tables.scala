package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Test-table access for the driver's TPC-H-ish parquet dirs (TESTDATA.md).
  * One parquet file per table under the scale-factor dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // idempotent, but skip the 7 registry writes on the hot path
    if (!spark.sessionState.functionRegistry
          .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_long_dot")))
      graft.functions.GraftFunctions.register(spark)
    if (name == "events") {
      // The generator has shipped events.ts under two physical encodings:
      // INT64 TIMESTAMP(NANOS) (which the vectorized reader rejects without
      // the nanos-as-long legacy conf) and plain TIMESTAMP(MICROS) (read as
      // TIMESTAMP_NTZ under Spark 4's NTZ inference). Normalize both to the
      // session-TZ TIMESTAMP the whole registry was gated against: with the
      // session pinned to UTC, NTZ -> LTZ is wall-clock-identical, and
      // nanos -> micros is lossless (the generator emits micro-grained values).
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try normalizeEventsTs(readFooterCached(spark, s"$sfDir/$name.parquet"))
      finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } else readFooterCached(spark, s"$sfDir/$name.parquet")
  }

  /** Single-file parquet read with the FOOTER SCHEMA cached per source
    * identity (path + size + mtime): a bare
    * `spark.read.parquet(path)` runs a one-task schema-inference job per
    * call, which is pure fixed overhead when the same immutable test table
    * is opened hundreds of times in one process (round-11 measured ~2-3 such
    * jobs at the head of nearly every registered query). The first open
    * still infers from the footer — nothing is hard-coded — and the cached
    * schema is METADATA keyed to the exact file identity, so a regenerated
    * testdata drop re-infers. Results are unchanged by construction: the
    * reader gets the same schema it would have inferred.
    */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  /** Cache key = file identity (path + size + mtime) PLUS the active
    * legacy-conf (round-12, VERDICT r11 #8): `nanosAsLong` changes what
    * schema the SAME footer infers to (INT64 TIMESTAMP(NANOS) -> LongType
    * vs an AnalysisException), so a reader opening the file under a
    * different conf must not be served the first reader's schema. File
    * identity alone aliased those two inferences.
    */
  private[graft] def footerCacheKey(spark: SparkSession, path: String): String = {
    val f = new java.io.File(path)
    val nanosConf = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
    s"$path|${f.length()}|${f.lastModified()}|nanos=$nanosConf"
  }
  private def readFooterCached(spark: SparkSession, path: String): DataFrame = {
    val key = footerCacheKey(spark, path)
    val cached = footerSchemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      footerSchemaCache.put(key, df.schema)
      df
    }
  }

  /** Footer schema of a single parquet file, via the same cache — for the
    * streaming readers that need an explicit schema up front. */
  private def footerSchema(spark: SparkSession, path: String): StructType =
    readFooterCached(spark, path).schema

  /** Rewrite an events frame's `ts` to session-TZ TIMESTAMP whatever the
    * physical encoding delivered (see [[apply]]).
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    val conv: Option[Column] = df.schema("ts").dataType match {
      case LongType => Some(expr("timestamp_micros(ts div 1000)")) // nanos-as-long
      case TimestampNTZType => Some(col("ts").cast(TimestampType)) // UTC session: same wall clock
      case _ => None
    }
    conv.fold(df)(c => df.withColumn("ts", c))
  }

  /** MULTI-BATCH stream feeds (round-8): the single-file gate feed delivers
    * everything in ONE microbatch, which never exercises state handoff,
    * watermark advance, or timer firing BETWEEN batches — the paths real
    * streaming jobs live on. These split a table into `n` single-file
    * parquet splits in a staged dir ([[graft.util.Staged]]: built once per
    * (source identity, table, mode, n), reused across queries, passes and
    * processes) and read them back with `maxFilesPerTrigger = 1`,
    * mtime-ordered — exactly `n` microbatches, deterministic content and
    * order.
    *
    * Two split modes, chosen per operator semantics:
    *  - `"time"`: batch k = the k-th span of event time (exact-quantile
    *    cutoffs, ties to the earlier batch). For EVENT-TIME operators
    *    (watermarked sessions, timers): the watermark advances between
    *    batches, and because every later-batch row is strictly above the
    *    earlier batches' max event time, nothing is ever late-dropped — the
    *    deterministic-subset gate contract is unchanged.
    *  - `"hash"`: batch k = md5(id) mod n (the registry's deterministic
    *    split device). For TimeMode.None running-state operators: keys
    *    deliberately span batches, so every gate crosses a state handoff.
    */
  def eventsStreamBatched(spark: SparkSession, sfDir: String,
                          mode: String, n: Int = 3): DataFrame =
    batchedStream(spark, sfDir, "events", "event_id", mode, n)

  def documentsStreamBatched(spark: SparkSession, sfDir: String,
                             mode: String, n: Int = 3): DataFrame =
    batchedStream(spark, sfDir, "documents", "doc_id", mode, n)

  /** The single-file parquet under the scale-factor dir: the source whose
    * identity keys every staged artifact built from it. */
  private def source(sfDir: String, table: String): java.io.File =
    new java.io.File(s"$sfDir/$table.parquet")

  private def batchedStream(spark: SparkSession, sfDir: String, table: String,
                            idCol: String, splitMode: String, n: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(splitMode == "time" || splitMode == "hash",
      s"split mode must be time|hash: $splitMode")
    require(n >= 2 && n <= 16, s"n must be in [2,16]: $n")
    val base = apply(spark, sfDir, table)
    val dir = graft.util.Staged.dir(s"batched-$table-$splitMode-$n",
        Seq(source(sfDir, table)), "v1") { st =>
      val withB = splitMode match {
        case "hash" =>
          base.withColumn("__b", pmod(
            conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long"),
            lit(n.toLong)).cast("int"))
        case "time" =>
          // exact quantiles (relativeError 0) of event time: the cutoffs
          // are data values, so `ts <= cut` puts every tie in the earlier
          // batch and later batches sit strictly above the watermark the
          // earlier ones advanced to
          val cuts = base.withColumn("__tsd", col("ts").cast("double"))
            .stat.approxQuantile("__tsd", (1 until n).map(_.toDouble / n).toArray, 0.0)
          base.withColumn("__b", cuts.foldLeft(lit(0)) { (acc, c) =>
            acc + when(col("ts").cast("double") > c, 1).otherwise(0)
          })
      }
      writeSplits(st, n, k => withB.filter(col("__b") === k).drop("__b"))
    }
    val schema: StructType =
      footerSchema(spark, new java.io.File(dir, splitName(0)).toString)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "b*.parquet")
      .parquet(dir.toString)
  }

  /** File name of split `k` in a split dir. */
  private[graft] def splitName(k: Int): String = f"b$k%03d.parquet"

  /** Write `n` single-file parquet splits under `dir`, split k from
    * `splitOf(k)` as [[splitName]]`(k)`. The mtimes are pinned distinct and
    * ascending: the file source processes oldest-first, which makes the
    * batch ORDER deterministic (a copy that keeps the mtime keeps the order).
    */
  private[graft] def writeSplits(dir: java.io.File, n: Int,
                                 splitOf: Int => DataFrame): Unit =
    (0 until n).foreach { k =>
      val tmp = new java.io.File(dir, s".tmp-$k")
      splitOf(k).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Option(tmp.listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"split $k under $dir produced no part file " +
          "(empty split — the table is too small for this n)"))
      val dst = new java.io.File(dir, splitName(k))
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1600000000000L + k * 600000L)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      ()
    }

  /** Streaming read of the documents table (file source over the single
    * parquet under the scale-factor dir; schema from the footer). The feed
    * for the streaming dedup/near-dup operators.
    */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema: StructType = footerSchema(spark, s"$sfDir/documents.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
  }

  /** Streaming read of the events table with the same `ts` normalization as
    * the batch path. The file source needs a user schema, so the parquet
    * footer is read (cheap, schema-only) to match whichever encoding this
    * testdata drop uses. For the legacy nanos encoding the nanos-as-long conf
    * must still be set when micro-batches EXECUTE, so it is left set in that
    * case (harmless: nothing else in the engine reads nano-timestamp files).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val schema: StructType = footerSchema(spark, s"$sfDir/events.parquet")
    val legacyNanos = schema("ts").dataType == LongType
    if (!legacyNanos) prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    normalizeEventsTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
  }

  /** Data-skipping demo layouts over lineitem, staged per source identity
    * ([[graft.util.Staged]]): 16 files laid out so that per-file min/max
    * stats actually prune —
    *
    *  - `"date"`: range-partitioned + sorted by ship date; a date-window
    *    predicate touches only the files whose range straddles the window.
    *  - `"zorder"`: range-partitioned by a Z-value over QUANTILE-BUCKETED
    *    (`width_bucket` into 256) part/supp keys — bucketing first is what
    *    real Z-ordering (Delta's OPTIMIZE ZORDER) does, and it is what
    *    makes the interleave scale-free: the top 4 Z-bits cut BOTH key
    *    ranges into quarters (a 4×4 grid of files), so a conjunctive
    *    range predicate on either or both keys prunes.
    *
    * The skipping manifest is written at build time ([[graft.etl.Skipping]]);
    * the build is one range-shuffle write + one footer sweep, no re-scan.
    */
  def skippingLayout(spark: SparkSession, sfDir: String, layout: String): String = {
    import org.apache.spark.sql.functions._
    require(layout == "date" || layout == "zorder", s"layout must be date|zorder: $layout")
    graft.util.Staged.dir(s"skiplayout-$layout", Seq(source(sfDir, "lineitem")), "v4") { dir =>
      val li = apply(spark, sfDir, "lineitem")
        .withColumn("l_shipdate_d", to_date(col("l_shipdate")))
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate_d")
      val laid = layout match {
        case "date" =>
          li.repartitionByRange(16, col("l_shipdate_d"))
            .sortWithinPartitions("l_shipdate_d")
        case "zorder" =>
          // QUANTILE-bucket each key into 64 equal-count buckets before
          // interleaving (what Delta's OPTIMIZE ZORDER does via per-column
          // range-partition ids). Equi-width bucketing breaks on sparse or
          // skewed domains — bucket occupancy goes lumpy, the equal-count
          // z range-split no longer aligns with the bit grid, and files
          // stop forming the 4×4 (partkey × suppkey) quarters that make
          // both dimensions prunable (measured: 7/16 files for a
          // conjunctive quarter predicate vs ~1/16 with quantile buckets).
          // approxQuantile is distributed; the driver holds 63 doubles per
          // key; the per-row bucket is a depth-6 `when` binary search —
          // pure codegen, no join, no window.
          // ONE multi-column quantile job — the per-column overload
          // would scan lineitem once per key
          val allCuts = li.stat.approxQuantile(
            Array("l_partkey", "l_suppkey"),
            (1 until 64).map(_ / 64.0).toArray, 0.001)
          def cuts(c: String): Array[Double] =
            if (c == "l_partkey") allCuts(0) else allCuts(1)
          def bucket(c: org.apache.spark.sql.Column, cs: Array[Double]) = {
            val v = c.cast("double")
            // #{i : cs(i) < value} via binary search over the when-tree
            def bs(lo: Int, hi: Int): org.apache.spark.sql.Column =
              if (lo >= hi) lit(lo.toLong)
              else {
                val mid = (lo + hi) / 2
                when(v > lit(cs(mid)), bs(mid + 1, hi)).otherwise(bs(lo, mid))
              }
            bs(0, cs.length)
          }
          val z = graft.ops.Relational.zOrderValue(
            bucket(col("l_partkey"), cuts("l_partkey")),
            bucket(col("l_suppkey"), cuts("l_suppkey")), 6)
          li.withColumn("__z", z)
            .repartitionByRange(16, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
      }
      laid.write.mode("overwrite").parquet(dir.toString)
      graft.etl.Skipping.writeManifest(spark, dir.toString,
        Seq("l_shipdate_d", "l_partkey", "l_suppkey", "l_quantity", "l_returnflag"))
      // the date layout additionally carries a Bloom index on the SECONDARY
      // key (l_orderkey is scattered across the date-sorted files, so its
      // per-file min/max span everything and only a bloom can prune an
      // equality probe — the q361 gate)
      if (layout == "date")
        graft.etl.BloomSkipping.writeBloomIndex(spark, dir.toString, Seq("l_orderkey"))
    }.toString
  }

  /** Deliberately FRAGMENTED lineitem copy (48 tiny files) compacted by
    * [[graft.etl.Compaction]] — the q362 gate artifact, built once per
    * source identity. `targetBytes` is sized from the table itself
    * (≈1/6 of total) so compaction engages at every scale factor; the
    * build `require`s that it actually reduced the file count and left
    * the skipping manifest + bloom index fresh, so a silently inert
    * compactor can never pass the gate.
    */
  def compactedLayout(spark: SparkSession, sfDir: String): String =
    graft.util.Staged.dir("compactlayout", Seq(source(sfDir, "lineitem")), "v2") { dir =>
      apply(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
          "l_returnflag")
        .repartition(48)
        .write.mode("overwrite").parquet(dir.toString)
      graft.etl.Skipping.writeManifest(spark, dir.toString,
        Seq("l_orderkey", "l_quantity", "l_returnflag"))
      graft.etl.BloomSkipping.writeBloomIndex(spark, dir.toString, Seq("l_orderkey"))
      val fs = new org.apache.hadoop.fs.Path(dir.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val total = graft.etl.Skipping
        .listDataFiles(fs, new org.apache.hadoop.fs.Path(dir.toString))
        .map(_._2).sum
      val rep = graft.etl.Compaction.compact(spark, dir.toString,
        targetBytes = total / 6 + 1)
      require(rep.filesAfter < rep.filesBefore,
        s"compaction must engage: ${rep.filesBefore} -> ${rep.filesAfter}")
    }.toString

  /** ORC sink+source round-trip artifact (q364): a lineitem slice written
    * as a PARTITIONED ORC table (Spark's built-in v2 ORC source — columnar,
    * stats-bearing, predicate-pushdown-capable like parquet). Built once
    * per source identity; the gate reads it back through the ORC reader
    * with a partition filter, so both the writer and the
    * partition-pruning read path are under oracle.
    */
  def orcLayout(spark: SparkSession, sfDir: String): String =
    graft.util.Staged.dir("orclayout", Seq(source(sfDir, "lineitem")), "v1") { dir =>
      apply(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_linestatus")
        .write.mode("overwrite").partitionBy("l_returnflag")
        .orc(dir.toString)
    }.toString

  /** JSONL sink+source round-trip artifact (q365): `documents` written as
    * line-delimited JSON (the interchange format every LLM-corpus
    * pipeline meets) and read back with an EXPLICIT schema, inference
    * off — the S1 discipline. The gate aggregates over the round-tripped
    * `text` itself (length sums), so any escaping/unicode infidelity in
    * the writer or parser breaks the hash.
    */
  def jsonlLayout(spark: SparkSession, sfDir: String): String =
    graft.util.Staged.dir("jsonllayout", Seq(source(sfDir, "documents")), "v1") { dir =>
      apply(spark, sfDir, "documents")
        .write.mode("overwrite").json(dir.toString)
    }.toString

  /** Month-partitioned lineitem layout for q372 (dynamic partition
    * pruning): the star-schema fact layout — partitioned by
    * `ship_month`, the column the date dimension joins on. At 100 TB
    * this is the layout where DPP earns its keep: a filter on the DIM
    * side (quarter, holiday flag, fiscal period) prunes FACT partitions
    * at runtime through the broadcast-reused subquery, without the fact
    * query ever naming the months explicitly.
    */
  def dppLayout(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions.{col, date_format}
    graft.util.Staged.dir("dpplayout", Seq(source(sfDir, "lineitem")), "v1") { dir =>
      apply(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_shipdate"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(dir.toString)
    }.toString
  }

  private val bucketedPairLock = new Object

  /** Co-bucketed table pair for q369 (orders + lineitem, both
    * `bucketBy(8, o_orderkey)` sorted within buckets): the layout that
    * makes the fact-to-fact join EXCHANGE-FREE — both sides arrive
    * pre-clustered on the join key, so the 100 TB shuffle (the single
    * biggest cost in a fact join) never happens, per-query, amortized
    * over every query that joins on the key. Built once per source
    * identity per JVM; table names carry the stamp so scale factors
    * never cross-contaminate a shared warehouse. Catalog tables, not a
    * directory, so this is not a [[graft.util.Staged]] artifact.
    */
  def bucketedPair(spark: SparkSession, sfDir: String): (String, String) = {
    def stamp(table: String): String = {
      val f = source(sfDir, table)
      s"$sfDir|${f.length()}|${f.lastModified()}"
    }
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${stamp("orders")}|${stamp("lineitem")}|bkt|v1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val (ot, lt) = (s"g369_orders_$key", s"g369_lineitem_$key")
    bucketedPairLock.synchronized {
      if (!(spark.catalog.tableExists(ot) && spark.catalog.tableExists(lt))) {
        for (t <- Seq(ot, lt)) {
          spark.sql(s"DROP TABLE IF EXISTS $t")
          // a previously aborted run can leave a stale managed location
          // saveAsTable refuses to reuse — clear it (the CatalogSpec lesson)
          val loc = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir") + "/" + t.toLowerCase)
          loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
        }
        graft.etl.Writer.writeBucketed(
          apply(spark, sfDir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice"),
          ot, "o_orderkey", 8, sortCols = Seq("o_orderkey"))
        graft.etl.Writer.writeBucketed(
          apply(spark, sfDir, "lineitem")
            .select(org.apache.spark.sql.functions.col("l_orderkey").as("o_orderkey"),
              org.apache.spark.sql.functions.col("l_quantity"),
              org.apache.spark.sql.functions.col("l_extendedprice")),
          lt, "o_orderkey", 8, sortCols = Seq("o_orderkey"))
      }
    }
    (ot, lt)
  }

  /** XML sink+source round-trip artifact (q366): `documents` written as a
    * PARTITIONED XML table through Spark 4's built-in XML source (one
    * `<doc>` element per row, `lang=` partition dirs) and read back with
    * an EXPLICIT schema + rowTag — inference off, the S1 discipline. XML
    * is the one interchange format where ESCAPING does real work on this
    * corpus (`<`, `&`, quotes must entity-encode), so the gate aggregates
    * over the round-tripped `text` itself: any writer/parser infidelity
    * breaks the hash, not just the row count.
    */
  def xmlLayout(spark: SparkSession, sfDir: String): String =
    graft.util.Staged.dir("xmllayout", Seq(source(sfDir, "documents")), "v1") { dir =>
      apply(spark, sfDir, "documents")
        .write.mode("overwrite").option("rowTag", "doc")
        .partitionBy("lang")
        .format("xml").save(dir.toString)
    }.toString

  /** CSV sink+source round-trip artifact (q367): `documents` written
    * through Spark's CSV writer (default quote/escape discipline) and
    * read back `multiLine` with an EXPLICIT schema — the format the
    * reference ingests on (S1) exercised in BOTH directions. Quoted
    * embedded commas/quotes/newlines are the hostile surface;
    * FormatsSpec pins them byte-exact (and pins the one documented
    * divergence: the multiLine parser normalizes CRLF inside quoted
    * fields to LF — this corpus is CR-free, checked at build).
    */
  def csvLayout(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions.col
    graft.util.Staged.dir("csvlayout", Seq(source(sfDir, "documents")), "v1") { dir =>
      val docs = apply(spark, sfDir, "documents")
      val crRows = docs
        .filter(col("text").contains("\r") || col("text") === "")
        .limit(1).count()
      require(crRows == 0L,
        "csvLayout: corpus has CR characters or empty strings; the " +
          "multiLine parser normalizes quoted CRLF and the nullValue " +
          "default swallows \"\" — the round-trip would drift (both " +
          "divergences pinned in FormatsSpec)")
      docs.write.mode("overwrite").option("header", "false").csv(dir.toString)
    }.toString
  }

  /** Persisted inverted index over `documents` ([[graft.ops.Lexical]]),
    * staged once per source identity ([[graft.util.Staged]]) and reused
    * across queries, passes and processes — the amortization a real index
    * exists for. Build = one tokenize + tf groupBy + bucket-partitioned
    * write.
    */
  def lexicalIndex(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions.col
    // v2: bucket-led write sort (the round-10 review fix) — bump forces
    // cached indexes to rebuild with the guaranteed within-shard tok order
    graft.util.Staged.dir("lexidx", Seq(source(sfDir, "documents")), "v2") { dir =>
      graft.ops.Lexical.buildIndex(
        graft.ops.Par.spread(apply(spark, sfDir, "documents"), col("doc_id")),
        "doc_id", "text", dir.toString)
    }.toString
  }

  /** The INCREMENTALLY-maintained twin of [[lexicalIndex]]: built over
    * two-thirds of the corpus, then [[graft.ops.Lexical.appendToIndex]]
    * folds the remaining third in. Queries over it must be
    * indistinguishable from queries over a full one-shot build — q375's
    * gate shares q358/q360's full-corpus oracle, so a lost posting, a
    * doubled posting, or a stale `totals` row all hash-mismatch.
    */
  def lexicalIndexIncremental(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions.col
    graft.util.Staged.dir("lexidxinc", Seq(source(sfDir, "documents")), "v1") { dir =>
      val docs = graft.ops.Par.spread(apply(spark, sfDir, "documents"), col("doc_id"))
      graft.ops.Lexical.buildIndex(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", dir.toString)
      graft.ops.Lexical.appendToIndex(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", dir.toString)
      ()
    }.toString
  }
}
