package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{Pipeline, Skipping}
import graft.sources.{GraftFileIndex, GraftParquetSource}

/** A named benchmark workload: a set-up, then units of work run in a closed
  * loop until the measured time reaches the run's budget.
  */
trait Workload {
  def name: String
  /** Kind of the operation whose median is `op_p50_s`. */
  def primaryKind: String
  /** Measured seconds of one unit of work on the reference machine
    * (4 vCPUs, `local[4]`); a run does `seconds / nominalUnitS` units.
    */
  def nominalUnitS: Double
  def setup(): Unit
  def runUnit(unit: Int, traced: Boolean): Unit
  /** Workload-specific end-to-end figures: (name, value, unit). */
  def report(records: Seq[OpRecord]): Seq[(String, Double, String)]
  /** Workload-specific per-layer figures over the traced units. */
  def layerReport(totals: Map[String, Double], units: Int): Seq[(String, Double, String)] = Nil
}

object Etl {
  val Start: LocalDate = LocalDate.of(2025, 1, 1)
  /** Fixed audit timestamp: outputs do not depend on the wall clock. */
  def auditTs = to_timestamp(lit("2026-01-01 00:00:00"))

  def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  def wipe(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(wipe)
    f.delete()
    ()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytesUnder).sum
    else if (f.isFile) f.length() else 0L

  def sinkRoots(out: String): Seq[String] = {
    val p = Pipeline.Paths.under(out)
    Seq(p.bronze, p.silverClean, p.silverQuarantine, p.processedDir)
  }

  def storedBytes(out: String): Long = sinkRoots(out).map(r => bytesUnder(new File(r))).sum

  /** Footers the skipping manifests hold that an earlier manifest did not:
    * new (path, size) entries across the stamped sinks.
    */
  def manifestEntries(spark: SparkSession, out: String): Set[(String, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    sinkRoots(out).flatMap { r =>
      val root = new org.apache.hadoop.fs.Path(r)
      if (!new File(r).exists()) Nil
      else Skipping.readManifest(fs, root).toSeq.flatMap(_.files.map(f => (f.path, f.size)))
    }.toSet
  }

  private def cents(v: java.math.BigDecimal): Long =
    if (v == null) 0L else v.movePointRight(2).longValueExact()

  /** Compare the four sinks under `out` with the oracle's cells; returns the
    * first mismatch.
    */
  def checkTables(spark: SparkSession, out: String,
                  expected: Map[String, Entregas.Cell]): Option[String] = {
    val p = Pipeline.Paths.under(out)
    val clean = spark.read.parquet(p.silverClean).groupBy("cod_pais")
      .agg(count(lit(1)), sum("cant_uni_medida"), sum("mto_venta")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), cents(r.getDecimal(2)), cents(r.getDecimal(3))))
      .toMap
    val ruleCols = Entregas.Rules.map(c =>
      sum(when(array_contains(split(col("motivo_obs"), "\\|"), c), 1).otherwise(0)).cast("long"))
    val quar = spark.read.parquet(p.silverQuarantine).groupBy("cod_pais")
      .agg(count(lit(1)), ruleCols: _*).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        Entregas.Rules.indices.map(i => Entregas.Rules(i) -> r.getLong(2 + i)).toMap))
      .toMap
    val bronze = spark.read.parquet(p.bronze).groupBy("pais").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val processed = spark.read.parquet(p.processedDir).count()
    val problems = expected.toSeq.sortBy(_._1).flatMap { case (c, e) =>
      val (n, cc, pc) = clean.getOrElse(c, (0L, 0L, 0L))
      val (q, rules) = quar.getOrElse(c, (0L, Map.empty[String, Long]))
      Seq(
        (n == e.clean) -> s"$c clean rows $n != ${e.clean}",
        (cc == e.cantCents && pc == e.precioCents) ->
          s"$c clean checksum ($cc,$pc) != (${e.cantCents},${e.precioCents})",
        (q == e.quarantine) -> s"$c quarantined rows $q != ${e.quarantine}",
        Entregas.Rules.forall(r => rules.getOrElse(r, 0L) == e.rules.getOrElse(r, 0L)) ->
          s"$c per-rule counts $rules != ${e.rules}",
        (bronze.getOrElse(c, 0L) == e.clean + e.quarantine) ->
          s"$c bronze rows ${bronze.getOrElse(c, 0L)} != ${e.clean + e.quarantine}"
      ).collect { case (false, m) => m }
    }
    val extra = (clean.keySet ++ quar.keySet ++ bronze.keySet) -- expected.keySet
    val totalClean = expected.values.map(_.clean).sum
    (problems ++
      (if (extra.nonEmpty) Seq(s"unexpected countries ${extra.mkString(",")}") else Nil) ++
      (if (processed != totalClean) Seq(s"processed rows $processed != $totalClean") else Nil)
    ).headOption
  }

  /** The countries a run reports as processed must be all configured ones;
    * a country the pipeline skipped is reported with the cause from its log.
    */
  def checkProcessed(done: List[String], expected: Seq[String], out: String): Option[String] =
    if (done == expected.toList) None
    else {
      val logDir = new File(out, "log")
      val causes = Option(logDir.listFiles()).getOrElse(Array.empty[File]).toSeq
        .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.contains("failed")))
      Some(s"processed ${done.mkString(",")}; ${causes.take(3).mkString(" | ")}")
    }
}

/** Shared machinery of the two ETL workloads. */
abstract class EtlWorkload(runner: Runner, work: File, seed: Long, rowsPerDay: Int)
    extends Workload {
  protected val spark: SparkSession = runner.spark
  protected val countries: Seq[String] = Entregas.Countries
  /** CSV bytes handed to the pipeline since set-up began. */
  protected var csvBytes = 0L
  // traced units only: CSV bytes, bytes the sinks grew by, new manifest entries
  private var tracedCsvBytes = 0.0
  private var newBytes = 0.0
  private var footersRead = 0.0

  /** Write `rows` and a config for every country over [lo, hi] into `out`;
    * returns the Pipeline.run call.
    */
  protected def pipeline(dir: File, rows: Seq[Entregas.Row], lo: LocalDate, hi: LocalDate,
                         out: File): () => List[String] = {
    val csv = new File(dir, "entregas.csv").toPath
    val bytes = Entregas.csvBytes(rows)
    Etl.write(csv, bytes)
    val cfg = new File(dir, "config.yaml").toPath
    Etl.write(cfg, Entregas.configYaml(csv.toString, out.toString,
      countries.map(c => (c, lo, hi))).getBytes("UTF-8"))
    csvBytes += bytes.length
    () => Pipeline.run(spark, cfg.toString, auditTs = Etl.auditTs)
  }

  protected def ranges(lo: LocalDate, hi: LocalDate): Map[String, (LocalDate, LocalDate)] =
    countries.map(_ -> (lo, hi)).toMap

  protected def daysRows(from: LocalDate, days: Int): Seq[Entregas.Row] =
    (0 until days).flatMap(d => Entregas.dayRows(seed, from.plusDays(d), rowsPerDay))

  /** Record what one traced load added: CSV bytes in, sink bytes out, and
    * manifest entries (one footer read each).
    */
  protected def noteTraced(out: File, csv: File, before: Long,
                           manifestBefore: Set[(String, Long)]): Unit = {
    tracedCsvBytes += csv.length()
    newBytes += math.max(0L, Etl.storedBytes(out.toString) - before)
    footersRead += (Etl.manifestEntries(spark, out.toString) -- manifestBefore).size
  }

  override def layerReport(t: Map[String, Double], units: Int): Seq[(String, Double, String)] = Seq(
    ("etl.Bronze.csv_scans_per_input",
      t.getOrElse("csv.scanned_bytes", 0.0) / math.max(1.0, tracedCsvBytes), "ratio"),
    ("etl.Skipping.footers_read", footersRead / math.max(units, 1), "count"),
    ("etl.Writer.rewrite_bytes_per_new_byte",
      t.getOrElse("module.etl.Writer.output_bytes", 0.0) / math.max(1.0, newBytes), "ratio"))
}

/** `etl_backfill`: one seeded multi-country CSV, every country through
  * `Pipeline.run` into an empty output root.
  */
final class EtlBackfill(runner: Runner, work: File, seed: Long, days: Int, rowsPerDay: Int)
    extends EtlWorkload(runner, work, seed, rowsPerDay) {
  val name = "etl_backfill"
  val primaryKind = "backfill"
  val nominalUnitS = 8.0
  private val dir = new File(work, "backfill")
  private val out = new File(dir, "out")
  private val hi = Etl.Start.plusDays(days - 1)
  private var rows: Seq[Entregas.Row] = Nil
  private var expected: Map[String, Entregas.Cell] = Map.empty
  private var stored = 0L

  def setup(): Unit = {
    // a small load end to end, so the timed window starts warm
    val warm = new File(work, "warm")
    val lo = Etl.Start.minusDays(10)
    pipeline(warm, daysRows(lo, 2), lo, lo.plusDays(1), new File(warm, "out"))()
    Runner.dropState(spark)
    rows = daysRows(Etl.Start, days)
    expected = Entregas.byCountry(Entregas.expect(rows, ranges(Etl.Start, hi))._1)
  }

  def runUnit(unit: Int, traced: Boolean): Unit = {
    Etl.wipe(out)
    val run = pipeline(dir, rows, Etl.Start, hi, out)
    runner.op("backfill", "Pipeline.run", "etl", unit, traced)(run()) { done =>
      Etl.checkProcessed(done, countries, out.toString)
        .orElse(Etl.checkTables(spark, out.toString, expected))
    }
    if (traced) noteTraced(out, new File(dir, "entregas.csv"), 0L, Set.empty)
    stored = Etl.storedBytes(out.toString)
    Runner.dropState(spark)
  }

  def report(records: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val ok = records.filter(_.ok)
    Seq(
      ("rows_per_s", rows.size * ok.size / math.max(ok.map(_.seconds).sum, 1e-9), "1/s"),
      ("stored_bytes_per_input_byte",
        stored.toDouble / math.max(1L, Entregas.csvBytes(rows).length), "ratio"))
  }
}

/** `etl_daily`: a rebuilt multi-day history, then one-day drops through
  * `Pipeline.run`, each followed by a pruned downstream read of the clean
  * table (country + 7-day window, aggregated). Set-up builds the history and
  * runs one untimed drop, so the timed drops start from a warm JVM.
  */
final class EtlDaily(runner: Runner, work: File, seed: Long, historyDays: Int, rowsPerDay: Int)
    extends EtlWorkload(runner, work, seed, rowsPerDay) {
  val name = "etl_daily"
  val primaryKind = "load"
  val nominalUnitS = 5.3
  private val dir = new File(work, "daily")
  private val out = new File(dir, "out")
  private val cleanRoot = Pipeline.Paths.under(out.toString).silverClean
  private val cells = mutable.HashMap.empty[(String, LocalDate), Entregas.Cell]
  private val prune = mutable.ArrayBuffer.empty[(Int, Int)]
  private var sourcesListed = 0.0
  private var sourcesKept = 0.0

  private def addExpected(rows: Seq[Entregas.Row], lo: LocalDate, hi: LocalDate): Unit =
    Entregas.expect(rows, ranges(lo, hi))._1.foreach { case (k, c) =>
      cells(k) = cells.getOrElse(k, Entregas.EmptyCell) + c
    }

  private var historyS = 0.0
  private var warmDropS = 0.0

  def setup(): Unit = {
    val t0 = System.nanoTime()
    val hi = Etl.Start.plusDays(historyDays - 1)
    val rows = daysRows(Etl.Start, historyDays)
    val done = pipeline(new File(dir, "history"), rows, Etl.Start, hi, out)()
    Etl.checkProcessed(done, countries, out.toString).foreach(m => sys.error(s"history build: $m"))
    addExpected(rows, Etl.Start, hi)
    Runner.dropState(spark)
    val t1 = System.nanoTime()
    historyS = (t1 - t0) / 1e9
    drop(-1, None)
    warmDropS = (System.nanoTime() - t1) / 1e9
  }

  private def read(country: String, day: LocalDate): (Long, Long, Long) = {
    val r = GraftParquetSource.read(spark, cleanRoot)
      .filter(col("cod_pais") === country &&
        col("fec_proceso").between(lit(day.minusDays(6)), lit(day)))
      .agg(count(lit(1)), sum("cant_uni_medida"), sum("mto_venta"))
      .collect().head
    def c(i: Int) = Option(r.getDecimal(i)).map(_.movePointRight(2).longValueExact()).getOrElse(0L)
    (r.getLong(0), c(1), c(2))
  }

  def runUnit(unit: Int, traced: Boolean): Unit = drop(unit, Some(traced))

  /** Load the drop of day `historyDays + 1 + unit`, then read it back.
    * `timed` is None for the set-up's warm drop: same work and checks, no
    * operation record, a failed check aborts the set-up.
    */
  private def drop(unit: Int, timed: Option[Boolean]): Unit = {
    val traced = timed.contains(true)
    def step[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Unit =
      timed match {
        case Some(t) => runner.op(kind, name, "etl", unit, t)(body)(check)
        case None => check(body).foreach(m => sys.error(s"warm $kind: $m"))
      }
    val day = Etl.Start.plusDays(historyDays + 1 + unit)
    val rows = Entregas.dayRows(seed, day, rowsPerDay)
    val drop = new File(dir, s"drop$unit")
    val run = pipeline(drop, rows, day, day, out)
    val before = if (traced) Etl.storedBytes(out.toString) else 0L
    val manifestBefore = if (traced) Etl.manifestEntries(spark, out.toString) else Set.empty[(String, Long)]
    addExpected(rows, day, day)
    val expected = Entregas.byCountry(cells.toMap)
    step("load", "Pipeline.run")(run()) { done =>
      Etl.checkProcessed(done, countries, out.toString)
        .orElse(Etl.checkTables(spark, out.toString, expected))
    }
    if (traced) noteTraced(out, new File(drop, "entregas.csv"), before, manifestBefore)
    Runner.dropState(spark)

    val country = countries(math.floorMod(unit, countries.size))
    val want = cells.iterator.filter { case ((c, d), _) =>
      c == country && !d.isBefore(day.minusDays(6)) && !d.isAfter(day)
    }.map(_._2).foldLeft(Entregas.EmptyCell)(_ + _)
    step("read", "GraftParquetSource.read")(read(country, day)) { got =>
      val (listed, _, kept) = GraftFileIndex.pruneFor(cleanRoot)
      if (timed.isDefined) prune += ((listed, kept))
      if (traced) { sourcesListed += listed; sourcesKept += kept }
      val exp = (want.clean, want.cantCents, want.precioCents)
      if (got == exp) None else Some(s"read $country@$day $got != $exp")
    }
    Runner.dropState(spark)
  }

  def report(records: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val ok = records.filter(_.ok)
    val loads = ok.filter(_.kind == "load")
    Seq(
      ("load_p50_s", Runner.median(loads.map(_.seconds)), "s"),
      ("read_p50_s", Runner.median(ok.filter(_.kind == "read").map(_.seconds)), "s"),
      ("rows_per_s", loads.size * rowsPerDay / math.max(ok.map(_.seconds).sum, 1e-9), "1/s"),
      ("stored_bytes_per_input_byte",
        Etl.storedBytes(out.toString).toDouble / math.max(1L, csvBytes), "ratio"),
      ("read_kept_ratio", prune.map(_._2).sum.toDouble / math.max(1, prune.map(_._1).sum), "ratio"),
      ("setup.history_s", historyS, "s"),
      ("setup.warm_drop_s", warmDropS, "s")
    )
  }

  override def layerReport(t: Map[String, Double], units: Int): Seq[(String, Double, String)] = {
    val u = math.max(units, 1).toDouble
    super.layerReport(t, units) ++ Seq(
      ("sources.GraftParquetSource.files_listed", sourcesListed / u, "count"),
      ("sources.GraftParquetSource.files_kept", sourcesKept / u, "count"),
      ("sources.GraftParquetSource.kept_ratio", sourcesKept / math.max(1.0, sourcesListed), "ratio")
    )
  }
}
