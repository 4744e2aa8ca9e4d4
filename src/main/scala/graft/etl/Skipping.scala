package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** File-level data skipping: a per-file min/max/null-count stats manifest
  * written at sink time, and a reader that prunes files against a predicate
  * BEFORE the scan — the biggest scan-cost lever a 100 TB table has after
  * partition pruning. The reference delegates this to Delta
  * (`notebooks/ETL_Entregas_Base.ipynb:502-507` `USING DELTA` implies
  * stats-based skipping on Databricks); this is the same `stats`-per-file
  * idea in its minimal manifest form.
  *
  * Design rules, in order of importance:
  *
  *  1. '''Pruning is never load-bearing for correctness.''' [[readPruned]]
  *     re-applies the full predicate as an ordinary `.filter` after the
  *     (possibly pruned) scan, so a too-conservative OR buggy skip decision
  *     can only cost performance, never rows — the Delta contract. Every
  *     "can't decide" path below answers "the file may match" (keep it).
  *  2. '''Stats come from parquet footers, not a re-scan.''' The writer
  *     already paid to compute chunk statistics; [[writeManifest]] harvests
  *     them with a DISTRIBUTED footer read (one Spark job over the file
  *     list — at 100k files of a 100 TB table the driver never reads a
  *     footer itself), merges row groups, and writes one JSON object.
  *  3. '''Staleness is rejected loudly.''' The manifest records every data
  *     file's (relative path, size); [[readPruned]] re-lists and requires
  *     set equality before trusting a single stat. Any drift — a file
  *     added, replaced, or resized behind the manifest's back — falls back
  *     to a FULL scan with a warning and a machine-readable reason in the
  *     returned [[Pruned]] (spec-gated).
  *
  * Predicates are SQL strings (the `replaceWhere` shape), parsed with
  * Spark's own parser; the skip evaluator understands conjunctions /
  * disjunctions of `col op literal` comparisons, `IN`, `BETWEEN` (the
  * parser expands it), `IS [NOT] NULL`, and null-safe equality. Anything
  * else — casts, functions, OR-of-unknowns — degrades to "may match".
  */
object Skipping {

  val ManifestName = "_graft_skipping.json"
  // v2 (round 11): FLOAT columns moved from the "num" domain to "f32" so
  // the evaluator compares them in FLOAT space (Spark's actual coercion
  // for integral/string literals — exact order silently lost rows past
  // 2^24). The bump deliberately invalidates v1 manifests: a carried-
  // forward v1 entry would keep the unsound arm alive for old files, so
  // they degrade loudly to a full scan and rebuild on the next write.
  val FormatVersion = 2

  /** Per-column, per-file statistics. `t` is the comparison domain:
    * `"num"` (integral/double/decimal/timestamp values, compared as
    * BigDecimal with double-order agreement), `"f32"` (FLOAT columns,
    * compared in float space — their exact double widening is stored,
    * so `toFloat` recovers the original), `"date"` (ISO `yyyy-MM-dd`,
    * compared as strings),
    * `"string"` (UTF-8, compared as strings), `"part"` (a partition-dir
    * value: exact, min==max, compared as string with a numeric retry).
    * `lo`/`hi` absent means the bounds are unusable for this file (stats
    * dropped, unconvertible type, or all-null chunks) — never prune on
    * them; `nulls` absent means the null count is unknown.
    */
  final case class ColStats(t: String, lo: Option[String], hi: Option[String],
                            nulls: Option[Long])
  final case class FileStats(path: String, size: Long, rows: Long,
                             cols: Map[String, ColStats])
  final case class Manifest(formatVersion: Int, stamp: String,
                            statsColumns: List[String], files: List[FileStats])

  /** Result of a pruned read: `df` is ALWAYS correct (full predicate
    * re-applied); `selected`/`total` are the files-touched measurement;
    * `fallback` names why pruning was bypassed, if it was.
    * `statsSelected` separates the two pruning stages when a
    * [[BloomSkipping]] index was consulted: the stats pass alone kept
    * `statsSelected` files and the bloom pass narrowed them to
    * `selected` (so `statsSelected > selected` PROVES the blooms
    * engaged); -1 = no usable bloom index, `selected` is stats-only.
    */
  final case class Pruned(df: DataFrame, total: Int, selected: Int,
                          fallback: Option[String], statsSelected: Int = -1)

  // ---------------------------------------------------------------- write

  /** Harvest parquet footer statistics for `statsColumns` (plus every
    * partition-directory column, which is free) across all data files under
    * `root`, and write the manifest. The footer reads run as a Spark job —
    * the file list is the only thing the driver holds. Returns the number
    * of files covered.
    *
    * CONCURRENT WRITERS — documented non-goal: two writers stamping the
    * same root race last-write-wins on the final rename (no claim
    * protocol, unlike [[Writer.replaceWhereVersioned]]). This is safe by
    * construction, not by arbitration: a manifest is SELF-VALIDATING —
    * [[readPrunedDetailed]] trusts it only if its recorded (path, size)
    * set exactly matches the live listing, so the losing writer's
    * manifest either matches the final file state (both writers saw the
    * same files — identical stats, either winner is correct) or
    * mismatches and triggers the loud full-scan fallback. Worst case is
    * a performance regression with a warning, never a wrong prune. The
    * raced-writer-SAFE route exists for tables that need it:
    * [[Writer.replaceWhereVersioned]] stamps the manifest inside an
    * immutable version directory before the pointer flip, under the
    * version-claim protocol.
    */
  def writeManifest(spark: SparkSession, root: String,
                    statsColumns: Seq[String]): Int = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listDataFiles(fs, rootPath)
    val fileJsons = harvestJsons(spark, fs, rootPath, files,
      statsColumns.map(_.toLowerCase).toSet)
    commitManifest(fs, rootPath, statsColumns, fileJsons)
    files.size
  }

  /** Incrementally refresh the manifest after an append / partial
    * overwrite: harvest footers ONLY for files the current manifest does
    * not cover, carry every still-live entry forward verbatim, and drop
    * entries whose file is gone or resized. This is what keeps skipping
    * usable on a 100 TB table with frequent appends — [[writeManifest]]
    * re-harvests EVERY footer per call (O(all files)), which at that
    * scale turns each small append into a full metadata sweep (Delta
    * appends per-commit stats for the same reason; round-10 task 1).
    *
    * Falls back to a full [[writeManifest]] when there is no usable
    * manifest to extend — absent, wrong format version, or a different
    * stats-column set (old entries would lack the new columns' stats).
    * Returns the number of files actually harvested, so a caller (and
    * the spec) can prove the old footers were not re-read.
    */
  def updateManifest(spark: SparkSession, root: String,
                     statsColumns: Seq[String]): Int = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wantedCols = statsColumns.map(_.toLowerCase).toList
    readManifest(fs, rootPath) match {
      case Some(m) if m.formatVersion == FormatVersion &&
          m.statsColumns == wantedCols =>
        val actual = listDataFiles(fs, rootPath)
        val known = m.files.map(f => (f.path, f.size)).toSet
        val actualSet = actual.toSet
        val kept = m.files.filter(f => actualSet((f.path, f.size)))
        val fresh = actual.filterNot(known)
        val freshJsons = harvestJsons(spark, fs, rootPath, fresh, wantedCols.toSet)
        commitManifest(fs, rootPath, statsColumns,
          kept.map(fileStatsJson) ++ freshJsons)
        fresh.size
      case _ => writeManifest(spark, root, statsColumns)
    }
  }

  /** The distributed footer sweep shared by [[writeManifest]] (all files)
    * and [[updateManifest]] (only new files): one single-stage Spark job
    * over the given file list, split into at most 32 tasks — at 100k files
    * of a 100 TB table the driver never reads a footer itself.
    */
  private def harvestJsons(spark: SparkSession, fs: FileSystem,
                           rootPath: HPath, files: Seq[(String, Long)],
                           wanted: Set[String]): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    val qualifiedRoot = fs.makeQualified(rootPath).toString
    // ship the DRIVER's hadoop conf to the footer tasks (a fresh
    // Configuration() on the executor would drop credentials/endpoints for
    // non-local stores — harmless on file://, wrong on s3a://hdfs://)
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.sparkContext
      .parallelize(files, math.min(files.size, 32))
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { case (rel, size) =>
          harvestFileJson(conf, qualifiedRoot, rel, size, wanted)
        }
      }
      .collect()
      .toSeq
  }

  private def commitManifest(fs: FileSystem, rootPath: HPath,
                             statsColumns: Seq[String],
                             fileJsons: Seq[String]): Unit = {
    val manifest = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      val filesJ = org.json4s.JArray(
        fileJsons.sorted.map(JsonMethods.parse(_)).toList)
      val j = ("formatVersion" -> FormatVersion) ~
        ("stamp" -> s"graft-${System.currentTimeMillis()}") ~
        ("statsColumns" -> statsColumns.map(_.toLowerCase).toList) ~
        ("files" -> filesJ)
      JsonMethods.compact(JsonMethods.render(j))
    }
    val tmp = new HPath(rootPath, s".${ManifestName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(manifest.getBytes("UTF-8"))
    finally out.close()
    val dest = new HPath(rootPath, ManifestName)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"could not move manifest into place at $dest")
    ()
  }

  /** All non-hidden files under `root`, as (relative path, size), sorted.
    * Hidden = any path segment starting with `_` or `.` — the same
    * convention Spark's file index uses, which is also why the manifest
    * itself (underscore-named) is invisible to a plain full scan.
    */
  def listDataFiles(fs: FileSystem, root: HPath): Seq[(String, Long)] = {
    val rootUri = fs.makeQualified(root).toUri
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val rel = rootUri.relativize(st.getPath.toUri).getPath
      val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && st.isFile) buf += ((rel, st.getLen))
    }
    buf.sortBy(_._1).toSeq
  }

  /** Executor-side: read ONE file's footer, merge row-group stats per
    * wanted column, attach partition-dir values, emit the [[FileStats]] as
    * a JSON string. Must stay dependency-free beyond parquet-hadoop +
    * json4s (both on Spark's classpath).
    */
  private def harvestFileJson(conf: org.apache.hadoop.conf.Configuration,
                              qualifiedRoot: String, rel: String, size: Long,
                              wanted: Set[String]): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val abs = new HPath(s"$qualifiedRoot/$rel")
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(abs, conf))
    val (rows, cols) =
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // per-column accumulators across row groups
        final case class Acc(var t: String, var lo: String, var hi: String,
                             var nulls: Long, var nullsKnown: Boolean,
                             var boundsOk: Boolean)
        val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
        for (b <- blocks; c <- b.getColumns.asScala) {
          val name = c.getPath.toDotString.toLowerCase
          if (wanted(name)) {
            val acc = accs.getOrElseUpdate(name, Acc(null, null, null, 0L, true, true))
            val st = c.getStatistics
            if (st == null || st.isEmpty) { acc.boundsOk = false; acc.nullsKnown = false }
            else {
              if (st.isNumNullsSet) acc.nulls += st.getNumNulls else acc.nullsKnown = false
              if (st.hasNonNullValue) {
                (convertStat(c.getPrimitiveType, st.genericGetMin),
                  convertStat(c.getPrimitiveType, st.genericGetMax)) match {
                  case (Some((t1, loV)), Some((t2, hiV))) if t1 == t2 =>
                    if (acc.t == null) { acc.t = t1; acc.lo = loV; acc.hi = hiV }
                    else if (acc.t != t1) acc.boundsOk = false
                    else {
                      if (compareSame(t1, loV, acc.lo) < 0) acc.lo = loV
                      if (compareSame(t1, hiV, acc.hi) > 0) acc.hi = hiV
                    }
                  case _ => acc.boundsOk = false
                }
              } else {
                // no non-null value recorded: fine iff the chunk is ALL
                // null (then it constrains nothing); otherwise the stats
                // were dropped and the bounds can't be trusted
                val allNull = st.isNumNullsSet && st.getNumNulls == c.getValueCount
                if (!allNull) acc.boundsOk = false
              }
            }
          }
        }
        val statCols = accs.map { case (n, a) =>
          val usable = a.boundsOk && a.t != null
          n -> ColStats(if (usable) a.t else "?",
            if (usable) Some(a.lo) else None,
            if (usable) Some(a.hi) else None,
            if (a.nullsKnown) Some(a.nulls) else None)
        }.toMap
        (rows, statCols ++ partitionCols(rel, rows))
      } finally reader.close()
    fileStatsJson(FileStats(rel, size, rows, cols))
  }

  /** Partition-directory `k=v` segments as exact stats (min==max==v,
    * nulls==0 — the value holds for every row of the file). The Hive null
    * sentinel becomes an all-null column (bounds unusable, nulls==rows).
    */
  private def partitionCols(rel: String, rows: Long): Map[String, ColStats] =
    rel.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val k = seg.substring(0, i).toLowerCase
        val raw = seg.substring(i + 1)
        // decode ONLY %XX escapes — Spark's unescapePathName semantics.
        // URLDecoder would also turn '+' into a space, but Spark's
        // escapePathName never escapes '+', so a partition value "a+b"
        // must stay "a+b" (a space-corrupted stat prunes every file of
        // the partition on an exact-match predicate).
        val v = unescapePathSeg(raw)
        if (v == "__HIVE_DEFAULT_PARTITION__")
          Some(k -> ColStats("part", None, None, Some(rows)))
        else Some(k -> ColStats("part", Some(v), Some(v), Some(0L)))
      }
    }.toMap

  /** %XX-only unescape (byte-wise, then UTF-8 decode) — mirrors Spark's
    * `unescapePathName`; malformed escapes pass through literally.
    */
  private def unescapePathSeg(s: String): String = {
    if (!s.contains('%')) return s
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        // copy the whole run up to the next '%' as substring bytes —
        // char-at-a-time would split surrogate pairs into '?' bytes
        val next = s.indexOf('%', i + 1)
        val end = if (next < 0) s.length else next
        out.write(s.substring(i, end)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        i = end
      }
    }
    out.toString("UTF-8")
  }
  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** One parquet chunk statistic → (comparison domain, canonical string).
    * None = unconvertible (booleans, int96, NaN/Inf floats, unknown
    * logical types) — the column's bounds become unusable for the file.
    */
  private def convertStat(pt: org.apache.parquet.schema.PrimitiveType,
                          v: Any): Option[(String, String)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def dec(unscaled: BigInt, ann: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =
      Some(("num", BigDecimal(unscaled, ann.getScale).bigDecimal.toPlainString))
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 => ann match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          Some(("date", java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()).toString))
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(BigInt(v.asInstanceOf[Number].longValue()), d)
        case _ => Some(("num", v.toString))
      }
      case INT64 => ann match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          // normalize to MICROS: the unit Spark writes and the unit a
          // TimestampType literal carries
          val raw = v.asInstanceOf[Number].longValue()
          val micros = ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => raw
            case LogicalTypeAnnotation.TimeUnit.NANOS => raw / 1000L
            case _ => return None
          }
          Some(("num", micros.toString))
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(BigInt(v.asInstanceOf[Number].longValue()), d)
        case _ => Some(("num", v.toString))
      }
      case FLOAT =>
        // FLOAT columns get their OWN domain (round-11 review): Spark
        // compares a float column to an integral or string literal in
        // FLOAT space (numeric precedence promotes even LONG to float),
        // where neighbors past 2^24 collapse — exact or double order can
        // confidently (and wrongly) prune a matching row. The stat string
        // is the float's exact double widening, so `toFloat` recovers the
        // original float and the evaluator can compare in the right space.
        val d = v.asInstanceOf[Number].doubleValue()
        if (d.isNaN || d.isInfinite) None
        else Some(("f32", BigDecimal(d).bigDecimal.toPlainString))
      case DOUBLE =>
        val d = v.asInstanceOf[Number].doubleValue()
        if (d.isNaN || d.isInfinite) None
        else Some(("num", BigDecimal(d).bigDecimal.toPlainString))
      case BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some(("string", v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(BigInt(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes), d)
        case _ => None
      }
      case FIXED_LEN_BYTE_ARRAY => ann match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(BigInt(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes), d)
        case _ => None
      }
      case _ => None
    }
  }

  // ----------------------------------------------------------------- read

  /** Convenience wrapper over [[readPrunedDetailed]]. */
  def readPruned(spark: SparkSession, root: String, predicate: String): DataFrame =
    readPrunedDetailed(spark, root, predicate).df

  /** Prune files against `predicate` using the manifest, then read the
    * survivors (partition columns recovered via `basePath`) and re-apply
    * the FULL predicate. Missing or stale manifest → loud full-scan
    * fallback; an unprunable predicate simply selects every file.
    */
  def readPrunedDetailed(spark: SparkSession, root: String,
                         predicate: String): Pruned = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val actual = listDataFiles(fs, rootPath)
    def fullScan(reason: String): Pruned = {
      System.err.println(s"[graft.Skipping] WARNING: full scan of $root — $reason")
      Pruned(spark.read.parquet(root).filter(predicate),
        actual.size, actual.size, Some(reason))
    }
    readManifest(fs, rootPath) match {
      case None => fullScan(s"no $ManifestName manifest present")
      case Some(m) =>
        validatedManifest(m, actual) match {
          case scala.util.Left(reason) => fullScan(reason)
          case scala.util.Right(_) =>
          val expr = spark.sessionState.sqlParser.parseExpression(predicate)
          val statsSurvivors = m.files.filter(f => mayMatch(expr, f))
          // second stage: a Bloom index (if present AND matching the same
          // live listing) prunes equality/IN probes the min/max stats
          // can't — a stale/undecodable index degrades to stats-only with
          // a warning, never to a wrong prune
          val (survivors, statsSel) =
            (if (hasEqualityArm(expr)) BloomSkipping.readIndex(fs, rootPath)
             else None) match { // range-only predicates skip the index parse
              case None => (statsSurvivors, -1)
              case Some(idx) =>
                BloomSkipping.validated(idx, actual, root) match {
                  case None => (statsSurvivors, -1)
                  case Some(byPath) =>
                    val prober = new BloomSkipping.Prober(idx,
                      spark.sessionState.conf.sessionLocalTimeZone)
                    (statsSurvivors.filter(f => byPath.get(f.path)
                      .forall(fb => mayMatchBloom(expr, fb, prober))),
                      statsSurvivors.size)
                }
            }
          val qualifiedRoot = fs.makeQualified(rootPath).toString
          val df =
            if (survivors.isEmpty)
              // provably no file can match: keep the schema, let the
              // optimizer collapse Filter(false) to an empty relation —
              // zero files are actually read
              spark.read.parquet(root).filter(predicate).filter(lit(false))
            else spark.read
              .option("basePath", qualifiedRoot)
              .parquet(survivors.map(f => s"$qualifiedRoot/${f.path}"): _*)
              .filter(predicate)
          Pruned(df, m.files.size, survivors.size, None, statsSel)
        }
    }
  }

  /** The manifest trust gate, ONE place (round-11 review — it previously
    * lived both here and in the V2 source's file index, a drift risk):
    * format version must match and the recorded (relative path, size)
    * set must equal the live listing. Left(reason) = do not trust a
    * single stat; Right = per-relative-path stats.
    */
  private[graft] def validatedManifest(m: Manifest, actual: Seq[(String, Long)])
      : Either[String, Map[String, FileStats]] =
    if (m.formatVersion != FormatVersion)
      scala.util.Left(s"manifest format v${m.formatVersion} != expected v$FormatVersion")
    else if (m.files.map(f => (f.path, f.size)).toSet != actual.toSet)
      scala.util.Left(s"stale manifest (stamp ${m.stamp}): recorded ${m.files.size} " +
        s"files, found ${actual.size}, or sizes drifted — rewrite the manifest")
    else scala.util.Right(m.files.map(f => f.path -> f).toMap)

  /** One stats column summarized ACROSS the manifest's files: non-null
    * count, and — for `num`/`date` typed stats only — the exact global
    * lo/hi in canonical string form. Strings are excluded from bounds by
    * design: parquet writers may TRUNCATE binary min/max, so a string
    * bound is a pruning aid, not an exact answer.
    */
  final case class ColSummary(typ: String, nonNull: Long,
                              lo: Option[String], hi: Option[String])

  /** Metadata-only aggregation — the Iceberg/Delta "metadata query"
    * path: COUNT(*), per-column non-null counts, and exact MIN/MAX for
    * numeric/date stats columns answered from the MANIFEST ALONE, zero
    * data files opened. At 100 TB this is the difference between a
    * footer-ledger lookup and an hours-long scan for the queries every
    * catalog UI runs (row counts, freshness watermarks, value ranges).
    *
    * STRICT by contract: returns None — never a wrong number — unless
    * the manifest is present, current against the live listing (same
    * self-validation as [[readPrunedDetailed]]), and every file carries
    * the needed stat. A file with absent bounds contributes to lo/hi
    * only if its null count PROVES it is all-null for that column;
    * otherwise the column's bounds are unknown and reported None.
    */
  def metadataSummary(spark: SparkSession, root: String)
      : Option[(Long, Map[String, ColSummary])] = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val actual = listDataFiles(fs, rootPath)
    readManifest(fs, rootPath) match {
      case Some(m) if m.formatVersion == FormatVersion &&
          m.files.map(f => (f.path, f.size)).toSet == actual.toSet =>
        val totalRows = m.files.map(_.rows).sum
        val cols = m.statsColumns.map { c =>
          val per = m.files.map(f => (f.rows, f.cols.get(c)))
          if (per.exists(_._2.isEmpty)) c -> None
          else {
            val stats = per.map { case (r, s) => (r, s.get) }
            val nonNull =
              if (stats.exists(_._2.nulls.isEmpty)) None
              else Some(totalRows - stats.map(_._2.nulls.get).sum)
            val typ = stats.head._2.t
            // a file may contribute no bounds ONLY if provably all-null
            def bound(pick: Seq[String] => String): Option[String] = {
              if (typ != "num" && typ != "f32" && typ != "date") return None
              val vals = stats.flatMap { case (r, s) =>
                (s.lo, s.hi) match {
                  case (Some(l), Some(h)) => Some((l, h))
                  case _ if s.nulls.contains(r) => None // all-null: no values
                  case _ => return None // bounds genuinely unknown
                }
              }
              if (vals.isEmpty) None
              else Some(pick(vals.map(_._1) ++ vals.map(_._2)))
            }
            def cmp(a: String, b: String): Int =
              if (typ == "num" || typ == "f32") BigDecimal(a).compare(BigDecimal(b))
              else a.compareTo(b) // ISO dates: lexicographic = chronological
            val lo = bound(vs => vs.reduce((a, b) => if (cmp(a, b) <= 0) a else b))
            val hi = bound(vs => vs.reduce((a, b) => if (cmp(a, b) >= 0) a else b))
            nonNull match {
              case Some(nn) => c -> Some(ColSummary(typ, nn, lo, hi))
              case None => c -> None
            }
          }
        }.collect { case (c, Some(s)) => c -> s }.toMap
        Some((totalRows, cols))
      case _ => None
    }
  }

  /** [[metadataSummary]] for callers whose answer is WRONG if stale (the
    * metadata-only aggregation query shape): absent/stale manifests are a
    * loud IllegalStateException, never a silently partial count. A file
    * appended behind the manifest's back (no [[updateManifest]]) flips
    * every query built on this to the failure path — spec-pinned.
    */
  def metadataSummaryOrFail(spark: SparkSession, root: String)
      : (Long, Map[String, ColSummary]) =
    metadataSummary(spark, root).getOrElse(throw new IllegalStateException(
      s"metadata-only aggregation over $root requires a manifest that is " +
        "present and current against the live file listing; it is not — " +
        "run Skipping.updateManifest (or writeManifest) and retry"))

  def readManifest(fs: FileSystem, root: HPath): Option[Manifest] = {
    val p = new HPath(root, ManifestName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toString("UTF-8")
      } finally in.close()
      Some(parseManifest(txt))
    }
  }

  // --------------------------------------------------------- skip decision

  /** Can any row of `f` satisfy `e`? Conservative three-way logic collapsed
    * to Boolean: every unknown answers TRUE (keep the file). AND may prune
    * when either side is independently infeasible; OR only when both are.
    */
  def mayMatch(e: Expression, f: FileStats): Boolean = {
    if (f.rows == 0L) return false // an empty file matches nothing
    e match {
      case And(a, b) => mayMatch(a, f) && mayMatch(b, f)
      case Or(a, b) => mayMatch(a, f) || mayMatch(b, f)
      case Not(IsNull(Attr(n))) => notNullFeasible(f, n)
      case Not(IsNotNull(Attr(n))) => nullFeasible(f, n)
      case IsNull(Attr(n)) => nullFeasible(f, n)
      case IsNotNull(Attr(n)) => notNullFeasible(f, n)
      case In(Attr(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => cmpFeasible(f, n, "=", v.asInstanceOf[Literal]))
      case Cmp(n, op, l) => cmpFeasible(f, n, op, l)
      case l: Literal if l.dataType == BooleanType && l.value != null =>
        l.value == true
      // BETWEEN parses to the unresolved `between(c, lo, hi)` function in
      // Spark 4 — expand it to the AND of comparisons it means
      case fn: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if fn.nameParts.map(_.toLowerCase) == Seq("between") && fn.arguments.size == 3 =>
        mayMatch(And(GreaterThanOrEqual(fn.arguments(0), fn.arguments(1)),
          LessThanOrEqual(fn.arguments(0), fn.arguments(2))), f)
      // other sugar may land as RuntimeReplaceable; its `replacement` is
      // the canonical expansion
      case rr: RuntimeReplaceable =>
        try mayMatch(rr.replacement, f) catch { case _: Exception => true }
      case _ => true // unsupported shape: never prune on it
    }
  }

  /** Does the predicate contain any shape a Bloom filter could rule on?
    * Gates the (JSON-parse) cost of opening the bloom index: a range-only
    * predicate can never bloom-prune, so the index is not even read.
    */
  private[graft] def hasEqualityArm(e: Expression): Boolean = e match {
    case And(a, b) => hasEqualityArm(a) || hasEqualityArm(b)
    case Or(a, b) => hasEqualityArm(a) || hasEqualityArm(b)
    case EqualTo(_, _) | EqualNullSafe(_, _) | In(_, _) => true
    case _ => false
  }

  /** Bloom-stage companion of [[mayMatch]]: only equality-shaped arms can
    * answer (a Bloom filter knows nothing about ranges); everything else —
    * including NOT, whose push-through would need three-valued care — is
    * "may match". AND/OR compose the same conservative way as the stats
    * walk. `col = NULL` / `col <=> NULL` never probe (a filter holds no
    * null entry; the stats evaluator already rules on those).
    */
  private[graft] def mayMatchBloom(e: Expression, fb: BloomSkipping.FileBlooms,
                            p: BloomSkipping.Prober): Boolean = e match {
    case And(a, b) => mayMatchBloom(a, fb, p) && mayMatchBloom(b, fb, p)
    case Or(a, b) => mayMatchBloom(a, fb, p) || mayMatchBloom(b, fb, p)
    case EqualTo(Attr(n), l: Literal) => p.mayEqual(fb, n, l)
    case EqualTo(l: Literal, Attr(n)) => p.mayEqual(fb, n, l)
    case EqualNullSafe(Attr(n), l: Literal) if l.value != null => p.mayEqual(fb, n, l)
    case EqualNullSafe(l: Literal, Attr(n)) if l.value != null => p.mayEqual(fb, n, l)
    case In(Attr(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => p.mayEqual(fb, n, v.asInstanceOf[Literal]))
    case _ => true
  }

  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name.toLowerCase)
      case a: AttributeReference => Some(a.name.toLowerCase)
      case _ => None
    }
  }

  /** Normalize `col op lit` / `lit op col` to (column, op, literal). */
  private object Cmp {
    def unapply(e: Expression): Option[(String, String, Literal)] = e match {
      case EqualTo(Attr(n), l: Literal) => Some((n, "=", l))
      case EqualTo(l: Literal, Attr(n)) => Some((n, "=", l))
      case EqualNullSafe(Attr(n), l: Literal) => Some((n, "<=>", l))
      case EqualNullSafe(l: Literal, Attr(n)) => Some((n, "<=>", l))
      case LessThan(Attr(n), l: Literal) => Some((n, "<", l))
      case LessThan(l: Literal, Attr(n)) => Some((n, ">", l))
      case LessThanOrEqual(Attr(n), l: Literal) => Some((n, "<=", l))
      case LessThanOrEqual(l: Literal, Attr(n)) => Some((n, ">=", l))
      case GreaterThan(Attr(n), l: Literal) => Some((n, ">", l))
      case GreaterThan(l: Literal, Attr(n)) => Some((n, "<", l))
      case GreaterThanOrEqual(Attr(n), l: Literal) => Some((n, ">=", l))
      case GreaterThanOrEqual(l: Literal, Attr(n)) => Some((n, "<=", l))
      case _ => None
    }
  }

  private def nullFeasible(f: FileStats, n: String): Boolean =
    f.cols.get(n) match {
      case Some(s) => s.nulls.forall(_ > 0L)
      case None => true
    }

  private def notNullFeasible(f: FileStats, n: String): Boolean =
    f.cols.get(n) match {
      case Some(s) => !s.nulls.contains(f.rows)
      case None => true
    }

  private def cmpFeasible(f: FileStats, n: String, op: String, l: Literal): Boolean = {
    if (l.value == null)
      // `c = NULL` / `c < NULL` match nothing; `c <=> NULL` is IS NULL
      return if (op == "<=>") nullFeasible(f, n) else false
    val s = f.cols.getOrElse(n, return true)
    // every remaining op is null-rejecting on the column side (<=> with a
    // non-null literal included): an all-null file can't match
    if (s.nulls.contains(f.rows)) return false
    val (lk, lv) = litKV(l).getOrElse(return true)
    val lo = s.lo.getOrElse(return true)
    val hi = s.hi.getOrElse(return true)
    def cLo = compareVals(s.t, lk, lo, lv)
    def cHi = compareVals(s.t, lk, hi, lv)
    op match {
      case "=" | "<=>" => cLo.forall(_ <= 0) && cHi.forall(_ >= 0)
      case "<" => cLo.forall(_ < 0)
      case "<=" => cLo.forall(_ <= 0)
      case ">" => cHi.forall(_ > 0)
      case ">=" => cHi.forall(_ >= 0)
      case _ => true
    }
  }

  /** Literal → (comparison kind, canonical string), mirroring
    * [[convertStat]]'s domains. None = can't compare → never prune.
    */
  private def litKV(l: Literal): Option[(String, String)] = l.dataType match {
    case StringType => Some(("string", l.value.toString))
    case ByteType | ShortType | IntegerType | LongType => Some(("num", l.value.toString))
    case FloatType | DoubleType =>
      // distinct kind: a FRACTIONAL literal forces Spark to coerce BOTH
      // comparison sides to DOUBLE regardless of the column's numeric
      // type, so the evaluator must compare in double space (exact
      // BigDecimal order disagrees past 2^53 and would lose rows)
      val d = l.value.asInstanceOf[Number].doubleValue()
      if (d.isNaN || d.isInfinite) None
      else Some(("fnum", BigDecimal(d).bigDecimal.toPlainString))
    case _: DecimalType =>
      Some(("num", l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal.toPlainString))
    case DateType =>
      Some(("date", java.time.LocalDate.ofEpochDay(
        l.value.asInstanceOf[Number].longValue()).toString))
    case TimestampType => Some(("num", l.value.toString)) // micros since epoch
    case _ => None
  }

  /** UTF-8 byte order, unsigned — how Spark's UTF8String actually compares
    * strings. Java's String.compareTo orders by UTF-16 code UNIT, which
    * disagrees for supplementary characters (a surrogate 0xD800–0xDFFF
    * sorts below 0xE000–0xFFFF in UTF-16 but its UTF-8 bytes 0xF0.. sort
    * ABOVE 0xEE..) — comparing stats in the wrong order prunes files whose
    * rows Spark would match.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** A string literal compared against a DATE column: Spark CASTS the
    * literal to date (so '1995-6-1' and '1995-06-01 00:00:00' both mean
    * 1995-06-01) — normalize the same way before comparing, or answer
    * None (keep the file) when the literal isn't date-shaped.
    */
  private val dateLitRe = """^\s*(\d{4})-(\d{1,2})-(\d{1,2})\s*([ T].*)?$""".r
  private def normalizeDateLit(s: String): Option[String] = s match {
    case dateLitRe(y, m, d, _) =>
      try Some(java.time.LocalDate.of(y.toInt, m.toInt, d.toInt).toString)
      catch { case _: java.time.DateTimeException => None }
    case _ => None
  }

  /** Compare a stored stat against a literal across their domains.
    * None = domains incomparable → caller keeps the file. Soundness rules
    * (each wrong answer here silently LOSES rows, so every cross-domain
    * arm must bound Spark's cast semantics, not just "look comparable"):
    *  - date column vs string literal: only after normalizing the literal
    *    through the same cast Spark applies (None if not date-shaped);
    *  - string column vs date/number literal: NEVER prune — Spark casts
    *    the COLUMN, and lexicographic min/max do not bound the cast values
    *    (stats {"85","9"} have string-min "85", but numeric 9 < 85);
    *  - `part` stats are exact (min == max == the one value), so a
    *    numeric retry on them is sound where it never is for range stats.
    */
  private def compareVals(colT: String, litK: String,
                          stat: String, litV: String): Option[Int] = {
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    // double-space comparison mirrors Spark's lossy-but-MONOTONE cast of
    // each side to double (nearest-even), so min/max bounds survive it;
    // column values never overflow double (long ≤ 9.2e18, decimal ≤ 1e38)
    def dblCmp(a: String, b: String): Int =
      java.lang.Double.compare(BigDecimal(a).toDouble, BigDecimal(b).toDouble)
    (colT, litK) match {
      case ("num", "num") =>
        // the column's runtime type is invisible here: integral/decimal
        // columns compare EXACTLY against an integral/decimal literal,
        // but a float/double column drags the comparison into DOUBLE
        // space, where distinct exact values past 2^53 collapse (a
        // double column holding 2^53 DOES match the bigint literal
        // 2^53+1, which exact order calls unequal → silent row loss).
        // Answer only when the two orders agree; a disagreement keeps
        // the file — sound under either typing, the same discipline as
        // the ("part","string") arm below.
        val exact = Integer.signum(BigDecimal(stat).compare(BigDecimal(litV)))
        if (exact == Integer.signum(dblCmp(stat, litV))) Some(exact) else None
      case ("num", "fnum") =>
        // fractional literal: BOTH sides are coerced to double no matter
        // the column's numeric type — double space is the exact mirror
        Some(dblCmp(stat, litV))
      // ---- FLOAT columns (round-11 review): the comparison space is
      // FLOAT for integral and string literals (numeric precedence
      // promotes long to float; a string literal casts to the column
      // type) and DOUBLE for fractional literals (float < double). The
      // stat string is the float's exact double widening, so toFloat
      // recovers the original float and toDouble its exact widening —
      // each arm below is the EXACT mirror of Spark's coercion, tight
      // where blanket agreement rules would have lost all pruning past
      // float's 2^24 integer range.
      case ("f32", "num") => Some(java.lang.Float.compare(
        BigDecimal(stat).toFloat, BigDecimal(litV).toFloat))
      case ("f32", "fnum") => Some(dblCmp(stat, litV))
      case ("f32", "string") => num(litV).map(lv =>
        java.lang.Float.compare(BigDecimal(stat).toFloat, lv.toFloat))
      case ("num", "string") =>
        // measured (Spark 4, ANSI off AND on): a string literal is cast
        // to the COLUMN's type — exact order mirrors integral/decimal
        // columns, but a float/double column compares in double space,
        // where a long-form literal ('0.3000...125') matches the stored
        // double whose exact rendering differs. Column type unknown here
        // → agree-or-keep, as above.
        num(litV).flatMap { lv =>
          val exact = Integer.signum(BigDecimal(stat).compare(lv))
          val dbl = Integer.signum(
            java.lang.Double.compare(BigDecimal(stat).toDouble, lv.toDouble))
          if (exact == dbl) Some(exact) else None
        }
      case ("date", "date") => Some(utf8Compare(stat, litV))
      case ("date", "string") =>
        normalizeDateLit(litV).map(utf8Compare(stat, _))
      case ("string", "string") => Some(utf8Compare(stat, litV))
      // `part` stats hold the RAW directory value; the column's runtime
      // type depends on partition-type inference, which this evaluator
      // can't see — so date-shaped values get the same normalization
      // discipline as regular date columns (round-10; the r9 fix covered
      // only "date" stats, and a date-typed partition column filtered
      // with d = '1995-6-1' hit the raw utf8 arm and silently pruned the
      // whole partition — the same silent-row-loss class).
      case ("part", "date") =>
        // a DATE-typed literal means the column is date-valued to Spark
        // (inferred DateType, or a string column cast by the comparison):
        // compare the stat through the same normalization. A
        // non-date-shaped value casts to NULL (no row could match), but
        // stay conservative — keep the file.
        normalizeDateLit(stat).map(utf8Compare(_, litV))
      case ("part", "string") =>
        // with inference ON a date-shaped dir value makes the column
        // DateType and Spark casts the literal ('1995-6-1' ≡ 1995-06-01,
        // where raw utf8 order is wrong); with inference OFF the column
        // stays string and raw utf8 order is exact. When both sides are
        // date-shaped, answer only when the two orders AGREE — a
        // disagreement keeps the file, sound under either typing.
        (normalizeDateLit(stat), normalizeDateLit(litV)) match {
          case (Some(ns), Some(nl)) =>
            val raw = Integer.signum(utf8Compare(stat, litV))
            val norm = Integer.signum(utf8Compare(ns, nl))
            if (raw == norm) Some(raw) else None
          case _ => Some(utf8Compare(stat, litV))
        }
      case ("part", "num") =>
        // same unknown-typing hazard as ("num","num"): an inferred DOUBLE
        // partition column compares in double space — agree-or-keep
        num(stat).flatMap { s =>
          val exact = Integer.signum(s.compare(BigDecimal(litV)))
          val dbl = Integer.signum(
            java.lang.Double.compare(s.toDouble, BigDecimal(litV).toDouble))
          if (exact == dbl) Some(exact) else None
        }
      case ("part", "fnum") => num(stat).map(s =>
        java.lang.Double.compare(s.toDouble, BigDecimal(litV).toDouble))
      case _ => None
    }
  }

  private def compareSame(t: String, a: String, b: String): Int =
    if (t == "num" || t == "f32") BigDecimal(a).compare(BigDecimal(b))
    else utf8Compare(a, b)

  // ------------------------------------------------------------------ json

  private def fileStatsJson(f: FileStats): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val cols = org.json4s.JObject(f.cols.toList.sortBy(_._1).map { case (n, c) =>
      n -> (("t" -> c.t) ~ ("lo" -> c.lo) ~ ("hi" -> c.hi) ~ ("nulls" -> c.nulls))
    })
    JsonMethods.compact(JsonMethods.render(
      ("path" -> f.path) ~ ("size" -> f.size) ~ ("rows" -> f.rows) ~ ("cols" -> cols)))
  }

  private def parseManifest(txt: String): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(txt)
    Manifest(
      (j \ "formatVersion").extract[Int],
      (j \ "stamp").extract[String],
      (j \ "statsColumns").extract[List[String]],
      (j \ "files").extract[List[JObject]].map { fj =>
        FileStats(
          (fj \ "path").extract[String],
          (fj \ "size").extract[Long],
          (fj \ "rows").extract[Long],
          (fj \ "cols") match {
            case JObject(fields) => fields.map { case (n, cj) =>
              n -> ColStats(
                (cj \ "t").extract[String],
                (cj \ "lo").extractOpt[String],
                (cj \ "hi").extractOpt[String],
                (cj \ "nulls").extractOpt[Long])
            }.toMap
            case _ => Map.empty[String, ColStats]
          })
      })
  }
}
