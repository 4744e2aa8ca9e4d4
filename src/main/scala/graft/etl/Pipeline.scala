package graft.etl

import org.slf4j.LoggerFactory

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.storage.StorageLevel

import graft.config.{CountryParam, EtlConfig}

/** Per-country orchestration: the reference's driver loop
  * (`/root/reference/notebooks/ETL_Entregas_Base.ipynb:708-723`).
  *
  * For each `params` block with `proccess == NO`: Bronze slice → write; Silver
  * rename+enrich → clean/quarantine split → three writes; mark the country
  * processed in the YAML (run state lives in the config file, reference O2).
  *
  * Divergences from the reference, both deliberate (SURVEY §7.6):
  *   - the enriched frame is persisted before the 3-way fan-out (the reference
  *     recomputes the plan per action; results identical, 3× the work);
  *   - a failed country is NOT marked processed (the reference swallows the
  *     exception and marks YES anyway — bug, fixed here).
  */
object Pipeline {
  private val log = LoggerFactory.getLogger(getClass)

  /** Per-sink-root write locks for a concurrent [[run]]: countries are
    * independent SLICES, but they share the four table roots, and two of
    * the shared mechanics are not concurrent-safe inside one driver —
    * the side-index refresh (updateManifest/bloom: list-then-commit) and
    * the quarantine's read-keep-union-rewrite. A JVM monitor per root
    * serializes exactly the write+index step while scans/aggregations of
    * other countries keep running. Sequential callers pay an uncontended
    * monitor (~ns). ACROSS drivers this lock does not exist — that is
    * [[Writer.replaceWhereVersioned]]'s claim protocol, documented there.
    */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)

  final case class Paths(
      bronze: String,
      silverClean: String,
      silverQuarantine: String,
      processedDir: String
  )
  object Paths {
    def under(root: String): Paths = Paths(
      bronze = s"$root/rdv/data_ventas",
      silverClean = s"$root/udv/data_ventas_depurado",
      silverQuarantine = s"$root/udv/data_ventas_obs",
      processedDir = s"$root/data/processed"
    )
  }

  /** Rows one country's run wrote to the Bronze, clean and quarantine sinks,
    * read from the metrics observed on the writes themselves (no extra job).
    */
  final case class CountryCounts(bronze: Long, clean: Long, quarantine: Long) {
    override def toString: String = s"bronze=$bronze clean=$clean quarantine=$quarantine"
  }

  /** Run every unprocessed country; returns countries successfully
    * processed, in CONFIG order.
    *
    * Run-level events go to a per-run timestamped log file ([[RunLog]],
    * reference S7) under `logDir` — default `<output_root>/log` — as well as
    * the console. Config-validation failures happen before the output root is
    * known, so they are console-only (the reference logs them to its
    * pre-created volume path instead; same information, different home).
    *
    * Stage error isolation is per country (reference O3): a failed country
    * is logged and NOT marked processed; the others proceed.
    *
    * `maxParallel` > 1 opts into CONCURRENT countries. The reference's loop
    * is sequential (`ETL_Entregas_Base.ipynb:708-723`); at 100 TB the
    * country slices are independent and a country's Silver aggregation can
    * overlap another's Bronze scan. Semantics are identical by
    * construction: every sink WRITE (and its side-index refresh)
    * serializes on a per-root monitor ([[rootLocks]]), and the YAML
    * run-state write-back serializes on one lock, threading the latest
    * config through (`markProcessed` is read-modify-write). Lock order per
    * country is fixed (bronze → silverClean → processedDir → quarantine),
    * so no deadlock. At the default of 1 every country runs inline on the
    * caller's thread with `eager = false` (see [[runCountry]]).
    *
    * `beforeCountry` is a test seam: it runs just before the country's
    * first stage (inside the worker when concurrent), where a spec can
    * inject a failure and prove isolation.
    */
  def run(
      spark: SparkSession,
      configPath: String,
      auditTs: Column = current_timestamp(),
      logDir: Option[String] = None,
      logClock: () => java.time.LocalDateTime = () => java.time.LocalDateTime.now(),
      maxParallel: Int = 1,
      beforeCountry: CountryParam => Unit = _ => ()
  ): List[String] = {
    require(maxParallel >= 1, s"maxParallel must be >= 1, got $maxParallel")
    EtlConfig.load(configPath) match {
      case Left(errs) =>
        errs.foreach(e => log.error(s"config invalid: $e"))
        throw new IllegalArgumentException(
          s"config validation failed: ${errs.mkString("; ")}"
        )
      case Right(cfg0) =>
        // the file sink is OBSERVABILITY, not pipeline state: if the log dir
        // is not a local filesystem path (RunLog writes through java.io — an
        // hdfs:// or s3:// output_root cannot host it), degrade to
        // console-only rather than failing the run.
        val rl: Option[RunLog] =
          try Some(RunLog(logDir.getOrElse(s"${cfg0.outputRoot}/log"), logClock))
          catch {
            case e: Exception =>
              log.warn(s"run-log file sink unavailable (${e.getMessage}); console only")
              None
          }
        def rinfo(m: String): Unit = rl.fold(log.info(m))(_.info(m))
        def rerror(m: String, e: Throwable): Unit = rl.fold(log.error(m, e))(_.error(m, e))
        try {
          rinfo(s"config $configPath loaded: ${cfg0.params.size} country blocks" +
            (if (maxParallel > 1) s" (concurrent, maxParallel=$maxParallel)" else ""))
          val todo = cfg0.params.filter { p =>
            if (p.process) rinfo(s"skip ${p.country}: already processed")
            !p.process
          }
          val configLock = new Object
          var cfg = cfg0
          val ok = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
          def country(p: CountryParam): Unit =
            try {
              beforeCountry(p)
              val counts = runCountry(spark, cfg0, p, auditTs, eager = maxParallel > 1)
              configLock.synchronized {
                cfg = EtlConfig.markProcessed(configPath, cfg, p.country)
              }
              ok.add(p.country)
              rinfo(s"country ${p.country} done [${p.startDate}..${p.endDate}] $counts")
            } catch {
              case e: Exception =>
                rerror(s"country ${p.country} failed: ${e.getMessage}", e)
            }
          if (maxParallel == 1) todo.foreach(country)
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(maxParallel, math.max(todo.size, 1)))
            try {
              todo.map(p => pool.submit(new Runnable { def run(): Unit = country(p) }))
                .foreach(_.get()) // Runnable: get() rethrows only pool errors
            } finally pool.shutdown()
          }
          val done = todo.map(_.country).filter(ok.contains)
          rinfo(s"run complete: processed=${done.mkString(",")}")
          done.toList
        } finally rl.foreach(_.close())
    }
  }

  /** One country end-to-end: EP1 (Bronze) then EP2 (Silver split).
    *
    * `eager` (set by a concurrent [[run]]): materialize the persisted
    * enriched frame while still holding the Bronze root's lock, so a
    * concurrent country's partition overwrite can never delete files out
    * from under this country's in-flight scan (only a hazard when the
    * manifest went stale and the read fell back to a full listing).
    * Sequential runs keep `eager = false` — same job count as always.
    * Returns the rows written per sink.
    */
  def runCountry(
      spark: SparkSession,
      cfg: EtlConfig,
      p: CountryParam,
      auditTs: Column = current_timestamp(),
      eager: Boolean = false
  ): CountryCounts = {
    val paths = Paths.under(cfg.outputRoot)

    // EP1 — Bronze: CSV → typed → slice → partition-aligned replaceWhere.
    // Tables are partitioned by (process date, country) so the per-run
    // predicate covers whole partitions: the write rewrites only the new
    // slice (cost ∝ slice, not table size — the 100 TB path).
    val bronze = Bronze(spark, cfg.rawCsv, p.country, p.startDate, p.endDate)
    // EP2's pruned re-read happens under the same lock: the plan must see
    // the file set this write commits, not a concurrent country's
    // mid-commit state
    val (bronzeRows, enriched) = lockFor(paths.bronze).synchronized {
      val rows = Writer.replaceCountryRangePartitioned(
        bronze, paths.bronze,
        dateCol = "fecha_proceso", countryCol = "pais",
        country = p.country, startDate = p.startDate, endDate = p.endDate,
        // stamp a skipping manifest with each write (refreshed incrementally
        // — only this slice's files get their footers read): measure stats
        // on the two decimals, partition-dir stats (pais, fecha_proceso)
        // ride along for free
        statsColumns = Seq("precio", "cantidad")
      )

      // EP2 — Silver: re-read Bronze through the PLANNER-INTEGRATED V2
      // source (round 11; previously the opt-in readPrunedDetailed
      // helper): an ordinary .filter on the graft-parquet relation gets
      // partition-dir pruning natively from the file index and
      // manifest/bloom data skipping inside listFiles — pruned files
      // never become InputPartitions, and Spark re-applies the full
      // predicate to surviving rows. A missing/stale manifest degrades
      // to a plain parquet scan with a warning, never wrong rows.
      val prunedDf = graft.sources.GraftParquetSource.read(spark, paths.bronze)
        .filter(
          s"pais = '${p.country.replace("'", "''")}' AND " +
            s"fecha_proceso >= DATE '${p.startDate}' AND " +
            s"fecha_proceso <= DATE '${p.endDate}'")
      val bronzeBack = Bronze.slice(prunedDf, p.country, p.startDate, p.endDate)
      val e = Silver
        .enriched(Silver.renamed(bronzeBack), cfg, cfg.rawCsv, auditTs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // cache filled before the lock drops; on failure the registered
      // blocks must not leak — the try/finally below never owns `e` if
      // this throws, and a concurrent run would carry the dead cache for
      // the rest of the session (round-11 review)
      if (eager) {
        try { e.count(); () }
        catch { case t: Throwable => e.unpersist(); throw t }
      }
      (rows, e)
    }
    try {
      val clean = Silver.clean(enriched)
      val cleanRows = lockFor(paths.silverClean).synchronized {
        Writer.replaceCountryRangePartitioned(
          clean, paths.silverClean,
          dateCol = "fec_proceso", countryCol = "cod_pais",
          country = p.country, startDate = p.startDate, endDate = p.endDate,
          statsColumns = Seq("mto_venta", "cant_uni_medida")
        )
      }
      // plain Delta-directory copy of depurado (`:647-652`) → parquet dir.
      lockFor(paths.processedDir).synchronized {
        Writer.replaceCountryRangePartitioned(
          clean, paths.processedDir,
          dateCol = "fec_proceso", countryCol = "cod_pais",
          country = p.country, startDate = p.startDate, endDate = p.endDate
        )
      }
      // Quarantine keeps the general read-keep-union-rewrite path and is
      // stored UNPARTITIONED: its contract is ALL columns STRING, and a
      // date-partition directory would come back DATE-typed via
      // partition-column inference for any reader. The reject stream is tiny
      // relative to the clean table, so cost ∝ its size is acceptable.
      // (read-keep-union-REWRITE is the one genuinely non-concurrent sink
      // shape: the lock is load-bearing here, not just index hygiene.)
      val quarantine = Silver.quarantine(enriched)
      val quarantineRows = lockFor(paths.silverQuarantine).synchronized {
        Writer.replaceCountryRange(
          spark, quarantine, paths.silverQuarantine,
          partitionCol = "fec_proceso", countryCol = "cod_pais",
          country = p.country, startDate = p.startDate, endDate = p.endDate,
          dateAsString = true
        )
      }
      CountryCounts(bronzeRows, cleanRows, quarantineRows)
    } finally enriched.unpersist()
  }
}
