package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._

/** Predicate-scoped idempotent overwrite ("replaceWhere" emulation).
  *
  * The reference writes all three sinks with Delta's
  * `mode("overwrite").option("replaceWhere", country ∧ date∈[s,e])`
  * (`/root/reference/notebooks/ETL_Entregas_Base.ipynb:502-507,639-644,672-677`):
  * atomically replace exactly the rows matching the predicate, preserving
  * everything else. Delta is not on this classpath, so this is the one piece of
  * genuinely custom machinery (SURVEY §7.3). It lives entirely in the writer —
  * no Catalyst surgery.
  *
  * Two paths:
  *   - '''partition-aligned fast path''' ([[overwritePartitions]]): when the
  *     predicate exactly covers whole partitions of the partition column,
  *     dynamic partition overwrite rewrites only the partitions present in the
  *     incoming data — no read of existing data, no shuffle. This is the path a
  *     100 TB table needs: cost ∝ new slice, not table size.
  *   - '''general path''' ([[replaceWhere]]): read-keep-union-rewrite — keep
  *     `existing.filter(!predicate)`, union the new slice, write to a temp dir,
  *     atomic directory swap. Cost ∝ table size; only correct fallback for
  *     predicates that cut inside partitions. Single-writer rename-swap is
  *     safe on rename-atomic stores (local/HDFS); on object stores rename is
  *     copy+delete — real Delta would give transactional atomicity there.
  *     Documented divergence.
  *
  * All filesystem metadata operations go through the Hadoop FileSystem
  * resolved from the path (NOT java.nio), so the same code works on
  * local/HDFS/object-store URIs.
  */
object Writer {

  /** Fast path: dynamic partition overwrite — only partitions present in
    * `df` are replaced. The mode is pinned per-write (writer option) rather
    * than relying on the session conf: under the default STATIC mode an
    * `overwrite` would silently wipe every other partition of the table.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** [[overwritePartitions]] + a file-level data-skipping manifest
    * ([[Skipping.writeManifest]]) over `statsColumns`, rewritten to cover
    * the WHOLE table after the partial overwrite (stats are per-file and
    * harvested from footers, so the rewrite costs one footer sweep, no
    * data re-scan). Readers go through [[Skipping.readPruned]]; a crash
    * between the data write and the manifest write leaves a stale manifest
    * that the reader REJECTS loudly (full scan + warning), never a wrong
    * prune.
    */
  def overwritePartitionsWithStats(df: DataFrame, path: String,
                                   partitionCols: Seq[String],
                                   statsColumns: Seq[String]): Unit = {
    overwritePartitions(df, path, partitionCols)
    Skipping.writeManifest(df.sparkSession, path, statsColumns)
    refreshBloomIfPresent(df.sparkSession, path)
    ()
  }

  /** Keep an opted-in [[BloomSkipping]] index from going stale across
    * writes: if the root carries one, refresh it INCREMENTALLY over the
    * same columns it was built for (only new files are scanned). Tables
    * without an index pay nothing — blooms are an explicit opt-in via
    * [[BloomSkipping.writeBloomIndex]]; this hook only maintains them.
    */
  private def refreshBloomIfPresent(spark: SparkSession, path: String): Unit = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    BloomSkipping.readIndex(fs, p).foreach { idx =>
      BloomSkipping.updateBloomIndex(spark, path, Some(idx),
        idx.colTypes.keys.toSeq.sorted, bitsPerItem = idx.bitsPerItem)
      ()
    }
  }

  /** Bucketed catalog table: pre-shuffles rows into `numBuckets` files per
    * partition by hash of `bucketCol` and records the layout in the catalog.
    * Joins and aggregations on the bucket column between co-bucketed tables
    * then plan WITHOUT an Exchange — the repeated-workload shape at corpus
    * scale, where re-shuffling the fact table per query is the dominant
    * cost. `sortCols` additionally sorts within each bucket file so a
    * sort-merge join skips its sort. Bucketing only exists through the
    * catalog (`saveAsTable`): a path write cannot record bucket metadata.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
      sortCols: Seq[String] = Nil
  ): Unit = {
    val w = df.write.mode("overwrite").format("parquet").bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** General path: replace exactly the rows matching `predicate`, keep the rest.
    *
    * The kept set is read with the *existing* table's schema; the caller must
    * ensure `df` is union-compatible (the pipeline always is — fixed DDL).
    * Returns the number of rows `df` contributed, observed on the write.
    */
  def replaceWhere(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      predicate: Column,
      statsColumns: Seq[String] = Nil
  ): Long = {
    val obs = Observation()
    val slice = df.observe(obs, count(lit(1)).as("rows"))
    val target = new HPath(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new HPath(path + ".old")
    // crash recovery: a previous run that died between the two renames left
    // the whole table at .old and nothing at the target — restore it rather
    // than silently rebuilding the table from this run's slice alone.
    if (!fs.exists(target) && fs.exists(old)) fs.rename(old, target)
    if (!fs.exists(target)) {
      overwritePartitions(slice, path, partitionCols)
      if (statsColumns.nonEmpty) Skipping.updateManifest(spark, path, statsColumns)
      refreshBloomIfPresent(spark, path)
      return observed(obs, path)("rows").asInstanceOf[Long]
    }
    // the swap below replaces the WHOLE directory, taking any bloom index
    // with it — snapshot its column set now so it can be rebuilt after
    // (all files are new post-swap, so a full rebuild is the honest cost)
    val priorBloomCols = BloomSkipping.readIndex(fs, target)
      .map(_.colTypes.keys.toSeq.sorted)
    val existing = spark.read.parquet(path)
    // NULL-safe keep: rows where the predicate is NULL are kept too (Delta
    // replaceWhere deletes only rows where the predicate evaluates to true).
    val kept = existing.filter(!coalesce(predicate, lit(false)))
    val merged = kept.unionByName(slice.select(existing.columns.map(col).toIndexedSeq: _*))

    val tmp = new HPath(path + ".inprogress")
    fs.delete(tmp, true)
    merged.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(tmp.toString)
    val rows = observed(obs, path)("rows").asInstanceOf[Long]
    // swap: move old out, new in, drop old — last-moment non-atomicity is the
    // price of no transaction log (recovered on the next run, see above);
    // single-writer assumption documented above.
    fs.delete(old, true)
    fs.rename(target, old)
    fs.rename(tmp, target)
    fs.delete(old, true)
    // every data file is new after the swap, so the incremental update
    // degenerates to a full harvest here — correct, just not cheaper
    // (the general path already costs ∝ table size for the data itself)
    if (statsColumns.nonEmpty) Skipping.updateManifest(spark, path, statsColumns)
    priorBloomCols.foreach { cols =>
      BloomSkipping.updateBloomIndex(spark, path, cols)
      ()
    }
    rows
  }

  /** The pipeline's standard sink: country+date-range predicate, partitioned by
    * the process-date column. The predicate never cuts inside a date partition,
    * but it DOES cut inside on country (two countries share a date) — so the
    * fast path applies only when the caller guarantees one country per run
    * shares no partition with another. The reference's semantics replace
    * (country ∧ range), so we use the general path whenever the target exists
    * and may hold other countries' rows for the same dates. Returns the
    * number of rows `df` contributed.
    */
  def replaceCountryRange(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      partitionCol: String,
      countryCol: String,
      country: String,
      startDate: String,
      endDate: String,
      dateAsString: Boolean = false
  ): Long = {
    // Quarantine stores fec_proceso as STRING; its replaceWhere compares
    // lexicographically — correct only because ISO yyyy-MM-dd sorts like dates
    // (`ETL_Entregas_Base.ipynb:675`; SURVEY EP2.4). Preserve carefully.
    // A string date column must NOT become a partition directory either:
    // partition-column type inference would hand every reader a DATE-typed
    // column, breaking the all-STRING quarantine contract — so dateAsString
    // tables are stored unpartitioned (they hold only the reject stream).
    val rangePred =
      if (dateAsString)
        col(partitionCol) >= lit(startDate) && col(partitionCol) <= lit(endDate)
      else
        col(partitionCol).between(to_date(lit(startDate)), to_date(lit(endDate)))
    replaceWhere(
      spark,
      df,
      path,
      if (dateAsString) Seq.empty else Seq(partitionCol),
      col(countryCol) === country && rangePred
    )
  }

  /** Partition-aligned replaceWhere — the 100 TB path. The table is
    * partitioned by (dateCol, countryCol), so the predicate
    * `country ∧ date∈[s,e]` exactly covers whole partitions:
    *
    *  1. dynamic partition overwrite rewrites only the (date, country)
    *     partitions present in `df` — cost ∝ the new slice;
    *  2. partitions matching the predicate that received NO new rows are
    *     stale under replace semantics (their source rows disappeared) and
    *     are deleted by directory listing — cost ∝ partition count, not data.
    *
    * Compared with [[replaceWhere]]'s read-keep-union-rewrite (cost ∝ table
    * size), this touches only the affected slice. The data write is the only
    * Spark action: the written date set and row count ride it as observed
    * metrics. Returns the number of rows written.
    */
  def replaceCountryRangePartitioned(
      df: DataFrame,
      path: String,
      dateCol: String,
      countryCol: String,
      country: String,
      startDate: String,
      endDate: String,
      statsColumns: Seq[String] = Nil
  ): Long = {
    // enforce the declared contract: rows outside (country ∧ range) must not
    // ride along — dynamic overwrite would replace THEIR partitions too, and
    // the stale-partition cleanup could not account for them.
    val bounded = df.filter(
      col(countryCol) === country &&
        col(dateCol).cast("string") >= startDate && col(dateCol).cast("string") <= endDate)
    val obs = Observation()
    // cluster by the partition columns before writing: without this every
    // task writes a sliver into every partition directory (tasks × dates
    // small files — the classic small-file explosion); with it each
    // partition gets one well-sized file. AQE rebalances if a date is huge.
    // partitionOverwriteMode pinned per-write: STATIC would wipe the table.
    bounded.repartition(col(dateCol), col(countryCol))
      .observe(obs, collect_set(col(dateCol).cast("string")).as("dates"),
        count(lit(1)).as("rows"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dateCol, countryCol).mode("overwrite").parquet(path)
    val m = observed(obs, path)
    cleanupStale(bounded.sparkSession, path, dateCol, countryCol, country,
      startDate, endDate, m("dates").asInstanceOf[Seq[String]].toSet)
    // skipping manifest, refreshed INCREMENTALLY: only the files this
    // write produced get their footers harvested; every untouched
    // partition's entries carry forward (cost ∝ slice, matching the
    // write itself — a full per-write re-harvest would reintroduce the
    // O(all files) sweep this fast path exists to avoid)
    if (statsColumns.nonEmpty)
      Skipping.updateManifest(bounded.sparkSession, path, statsColumns)
    refreshBloomIfPresent(bounded.sparkSession, path)
    m("rows").asInstanceOf[Long]
  }

  /** The metrics observed on a finished write. Blocks until Spark delivers
    * them; a write whose metrics are missing fails here rather than reading
    * as "nothing written" (for the partitioned writer that would delete the
    * slice it just wrote as stale).
    */
  private def observed(obs: Observation, path: String): Map[String, Any] = {
    val m = obs.get
    if (!m.contains("rows"))
      throw new IllegalStateException(s"write to $path finished without its observed metrics")
    m
  }

  // ---------------------------------------------------------------------
  // Versioned commit protocol — the object-store-safe replaceWhere variant.
  // ---------------------------------------------------------------------

  /** Name of the atomic pointer object holding the current version. */
  private val CurrentPointer = "_current"

  private def versionDir(path: String, v: Long) = new HPath(path, s"v-$v")

  private def readPointer(fs: FileSystem, root: HPath): Option[Long] = {
    val p = new HPath(root, CurrentPointer)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in).mkString.trim
        if (s.isEmpty) None else Some(s.toLong)
      } finally in.close()
    }
  }

  private def writePointer(fs: FileSystem, root: HPath, v: Long): Unit = {
    // ONE small-object write: atomic PUT on object stores, atomic
    // create-overwrite on HDFS/local — this is the commit point.
    val out = fs.create(new HPath(root, CurrentPointer), true)
    try out.write(v.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Read the current committed version of a [[replaceWhereVersioned]] table
    * (empty-schema error if the table has never committed).
    */
  def readCurrent(spark: SparkSession, path: String): DataFrame = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = readPointer(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    spark.read.parquet(versionDir(path, v).toString)
  }

  /** [[readCurrent]] through the data-skipping manifest: resolve the
    * committed version, then file-prune it against `predicate`
    * ([[Skipping.readPrunedDetailed]]). Versions written with
    * `statsColumns` carry their manifest from birth; versions written
    * without one fall back to a full scan, loudly.
    */
  def readCurrentPruned(spark: SparkSession, path: String,
                        predicate: String): Skipping.Pruned = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = readPointer(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    Skipping.readPrunedDetailed(spark, versionDir(path, v).toString, predicate)
  }

  /** Object-store-safe replaceWhere: versioned-directory commit protocol
    * closing [[replaceWhere]]'s rename-swap atomicity gap (real Delta closes
    * it with a transaction log; this is the minimal manifest form of the same
    * idea).
    *
    * Layout: `path/v-<n>/…parquet` plus `path/_current`, a one-line pointer
    * object naming the committed version. A write: resolve `_current`,
    * compute kept ∪ new, write the FULL next version to `v-<n+1>` (a fresh
    * directory — no file of the committed version is ever touched), then
    * atomically overwrite the pointer. Readers ([[readCurrent]]) always see a
    * complete version: a crash anywhere before the pointer write leaves them
    * on `v-<n>` intact, and the next writer simply overwrites the orphaned
    * `v-<n+1>` attempt. The one previous version is kept for in-flight
    * readers; older ones are GC'd.
    *
    * Tradeoff vs [[replaceWhere]]: the table is read through [[readCurrent]]
    * (the root dir is not itself a valid parquet table).
    *
    * CONCURRENT WRITERS (round-7): the naive protocol loses updates — two
    * writers that both read pointer v race the same v+1: both merge from v,
    * the slower pointer write wins, and the faster writer's rows silently
    * vanish (WriterSpec proves the interleaving). Version numbers are
    * therefore CLAIMED before any merge: a writer must RENAME a unique temp
    * file onto `v-<n>.claim` via `FileContext.rename(…, Rename.NONE)`
    * (fail-if-destination-exists — one winner per version) before it may
    * read its base, write `v-<n>`, and move the pointer. A loser re-reads
    * the pointer — which now (or soon) names the winner's commit — and
    * re-merges from THAT version, so no committed row is ever lost; the
    * bounded retry loop turns concurrent writers into a serial schedule.
    * Liveness caveat, documented not hidden: a claimant that CRASHES
    * between claim and commit leaves a stale `v-<n>.claim` that blocks all
    * writers — after `maxAttempts` the writer fails loudly naming the
    * claim file (operator confirms no writer is alive, deletes the claim
    * and any orphaned `v-<n>` dir). Real Delta arbitrates the same race
    * with its transaction log plus timeouts; this is the minimal
    * rename-as-commit form of the same idea.
    *
    * STORE SEMANTICS caveat, documented not hidden: the mutual exclusion is
    * only as strong as the store's fail-if-destination-exists rename. HDFS
    * and ABFS implement it atomically server-side — the guarantee holds.
    * The raw local filesystem and S3A do NOT have an atomic conditional
    * rename (POSIX rename overwrites; S3A renames are copy+delete), so
    * there `Rename.NONE` degrades to check-then-act: the race window
    * shrinks to microseconds but does not close. On S3-class stores, run
    * single-writer, or arbitrate versions externally (a real transaction
    * log / DynamoDB-style conditional put) — exactly why Delta Lake ships
    * LogStore implementations per store.
    */
  def replaceWhereVersioned(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      predicate: Column,
      maxAttempts: Int = 20,
      claimRetryMs: Long = 200L,
      statsColumns: Seq[String] = Nil
  ): Unit = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    var attempt = 0
    var committed = false
    var lastClaim: HPath = null
    while (!committed && attempt < maxAttempts) {
      attempt += 1
      val cur = readPointer(fs, root)
      val next = cur.getOrElse(-1L) + 1L
      val claim = new HPath(root, s"v-$next.claim")
      lastClaim = claim
      if (claimVersion(fs, root, claim)) {
        // we own version `next`: nobody else can commit it, and `cur` is
        // committed (the pointer only ever names completed versions), so
        // merging from `cur` cannot lose a concurrent writer's rows
        val merged = cur match {
          case None => df
          case Some(v) =>
            val existing = spark.read.parquet(versionDir(path, v).toString)
            existing.filter(!coalesce(predicate, lit(false)))
              .unionByName(df.select(existing.columns.map(col).toIndexedSeq: _*))
        }
        val target = versionDir(path, next)
        fs.delete(target, true) // clear any orphaned attempt at this version
        val w = merged.write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(target.toString)
        // skipping manifest BEFORE the pointer flip: version dirs are
        // immutable once committed, so a committed version always carries
        // a manifest that exactly matches its files — no staleness window
        if (statsColumns.nonEmpty)
          Skipping.writeManifest(spark, target.toString, statsColumns)
        writePointer(fs, root, next) // ← the commit
        committed = true
        // GC: keep current + previous, drop anything older (best effort),
        // claims alongside their versions
        fs.listStatus(root).foreach { st =>
          val name = st.getPath.getName
          val vOpt =
            if (st.isDirectory && name.startsWith("v-")) name.stripPrefix("v-").toLongOption
            else if (name.startsWith("v-") && name.endsWith(".claim"))
              name.stripPrefix("v-").stripSuffix(".claim").toLongOption
            else None
          if (vOpt.exists(_ < next - 1)) { fs.delete(st.getPath, true); () }
        }
      } else {
        // version already claimed: its writer has committed (pointer moved —
        // next read re-merges from it) or is in flight (wait) or crashed
        // (the bounded loop fails loudly below)
        Thread.sleep(claimRetryMs)
      }
    }
    if (!committed)
      throw new IllegalStateException(
        s"replaceWhereVersioned could not claim a version after $maxAttempts attempts — " +
          s"a concurrent writer is running, or a crashed writer left a stale claim " +
          s"($lastClaim); if no writer is alive, delete the claim file and the " +
          "orphaned version directory it guards, then retry")
  }

  /** Claim a version: write a unique temp object, rename it onto the claim
    * path with `FileContext.rename(…, Rename.NONE)` — the Hadoop API whose
    * contract is fail-if-destination-exists, unlike `FileSystem.rename`,
    * whose local implementation is POSIX rename (silently overwrites, so
    * two claimants could both "win"). Atomic on HDFS/ABFS; check-then-act
    * on raw-local/S3A — see [[replaceWhereVersioned]]'s store-semantics
    * caveat.
    */
  private def claimVersion(fs: FileSystem, root: HPath, claim: HPath): Boolean = {
    if (fs.exists(claim)) return false
    val tmp = new HPath(root, s".claim-${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(claim.getName.getBytes("UTF-8"))
    finally out.close()
    val won =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          root.toUri, fs.getConf)
        fc.rename(tmp, claim, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        // A store with no AbstractFileSystem binding (FileContext is the
        // NEWER Hadoop API; some FileSystem-only schemes never got one)
        // throws UnsupportedFileSystemException from getFileContext. That
        // is a capability gap, not a lost race — treating it as "claim
        // lost" would spin all attempts and blame a phantom concurrent
        // writer. Fall back to the FileSystem path: check-then-act
        // create, the same (weaker) semantics raw-local/S3A already have
        // through FileContext, so the documented guarantee is unchanged.
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          try { fs.rename(tmp, claim) && fs.exists(claim) }
          catch { case _: java.io.IOException => false }
        case _: java.io.IOException => false
      }
    if (!won) { fs.delete(tmp, true); () }
    won
  }

  private def cleanupStale(
      spark: SparkSession,
      path: String,
      dateCol: String,
      countryCol: String,
      country: String,
      startDate: String,
      endDate: String,
      newDates: Set[String]
  ): Unit = {
    // drop stale partitions: predicate-matching dirs that got no new data.
    // ISO yyyy-MM-dd compares lexicographically, which is what makes the
    // string range test below correct for both DATE and STRING date columns.
    // Hadoop FS listing/deletion so the same code runs on any store; cost ∝
    // number of date partitions, not data size.
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith(s"$dateCol=")) {
          val dateVal = name.substring(dateCol.length + 1)
          if (dateVal >= startDate && dateVal <= endDate && !newDates.contains(dateVal)) {
            // the directory name carries the value as Spark escaped it
            fs.delete(new HPath(st.getPath, s"$countryCol=${escapePathName(country)}"), true)
            // remove the date dir too if now empty
            if (fs.exists(st.getPath) && fs.listStatus(st.getPath).isEmpty)
              fs.delete(st.getPath, true)
            ()
          }
        }
      }
    }
  }
}
