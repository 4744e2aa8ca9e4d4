package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** One listed registry query: its family, the `RoundTrace` loop it runs (if
  * any) and the hash of its DuckDB-confirmed result.
  */
final case class ListedQuery(name: String, family: String, roundOp: Option[String], hash: String)

object QueryMix {
  /** `queries.tsv`: name, family, round-trace op (`-` for none), sha256. */
  def load(path: String): Seq[ListedQuery] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, f, r, h) = l.split("\t")
        ListedQuery(n, f, Some(r).filter(_ != "-"), h)
      }

  /** Order-independent hash of a result: columns in name order, each row
    * rendered canonically, rows sorted, SHA-256 over the lines.
    */
  def resultHash(df: DataFrame, rows: Array[Row]): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(i => df.schema(i).name + ":" + df.schema(i).dataType.simpleString)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(header.mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes(StandardCharsets.UTF_8)) }
    md.digest().map("%02x".format(_)).mkString
  }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** `query_mix`: every listed query once per pass, in a seeded order; each
  * result is compared with its stored hash outside the timed window, and
  * cached state is dropped between queries.
  */
final class QueryMixWorkload(runner: Runner, dataDir: String, list: Seq[ListedQuery], seed: Long)
    extends Workload {
  val name = "query_mix"
  val primaryKind = "query"
  val nominalUnitS = 9.3
  private val spark: SparkSession = runner.spark
  private var stagingS = 0.0
  private var warmPassS = 0.0
  private val rounds = scala.collection.mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private def run(q: ListedQuery): (DataFrame, Array[Row]) = {
    val df = SparkEntry.queries(q.name)(spark, dataDir)
    (df, df.collect())
  }

  def setup(): Unit = {
    val missing = list.map(_.name).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(",")}")
    // the staged layout the skipping queries read, built through the public
    // Tables function and timed as its own layer
    val t0 = System.nanoTime()
    graft.Tables.skippingLayout(spark, dataDir, "date")
    stagingS = (System.nanoTime() - t0) / 1e9
    // warm pass: JIT and generated-class caches reach the steady state the
    // timed passes measure
    val t1 = System.nanoTime()
    list.foreach { q =>
      try run(q) catch { case _: Throwable => () }
      Runner.dropState(spark)
    }
    warmPassS = (System.nanoTime() - t1) / 1e9
  }

  def runUnit(unit: Int, traced: Boolean): Unit = {
    val order = new scala.util.Random(seed * 7919L + unit).shuffle(list)
    order.foreach { q =>
      runner.op("query", q.name, q.family, unit, traced)(run(q)) { case (df, rows) =>
        if (traced) q.roundOp.foreach(op => rounds(q.name) += math.max(0, graft.ops.RoundTrace(op)))
        val h = QueryMix.resultHash(df, rows)
        if (h == q.hash) None else Some(s"${q.name} result hash $h != ${q.hash}")
      }
      Runner.dropState(spark)
    }
  }

  def report(records: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val t = records.filter(_.ok).map(_.seconds).sorted
    // the highest percentile that still has at least ten samples above it
    val n = t.size
    val (tail, pct) =
      if (n >= 11) (t(n - 11), math.floor(100.0 * (n - 10) / n))
      else (t.lastOption.getOrElse(Double.NaN), 100.0)
    Seq(
      ("query_p50_s", Runner.median(t), "s"),
      ("query_tail_s", tail, "s"),
      ("query_tail_percentile", pct, "%"),
      ("query_tail_samples", n.toDouble, "count"),
      ("setup.staging_s", stagingS, "s"),
      ("setup.warm_pass_s", warmPassS, "s")
    )
  }

  override def layerReport(t: Map[String, Double], units: Int): Seq[(String, Double, String)] = {
    val u = math.max(units, 1).toDouble
    Seq(("ops.Graph.rounds", rounds.values.sum / u, "count"),
        ("tables.staging_s", stagingS, "s"))
  }

  /** Run each listed query once and dump its result for the DuckDB
    * comparison (`tools/confirm_hashes.py`): `<dir>/<query>/` parquet (INT96
    * timestamps, as the oracle check reads them), `oracle_sql.json` and
    * `hashes.tsv`.
    */
  def dump(outDir: String, names: Seq[String]): Unit = {
    new File(outDir).mkdirs()
    val lines = names.map { n =>
      val h = try {
        val (df, rows) = run(ListedQuery(n, "", None, ""))
        val key = "spark.sql.parquet.outputTimestampType"
        val prior = spark.conf.get(key)
        spark.conf.set(key, "INT96")
        try spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$n")
        finally spark.conf.set(key, prior)
        QueryMix.resultHash(df, rows)
      } catch { case e: Throwable => "error: " + Runner.describe(e) }
      Runner.dropState(spark)
      s"$n\t$h"
    }
    Files.writeString(Paths.get(s"$outDir/hashes.tsv"), lines.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }
}
