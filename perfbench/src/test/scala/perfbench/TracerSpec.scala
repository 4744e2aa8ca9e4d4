package perfbench

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Pipeline, Writer}

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark: SparkSession = Main.session(work, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Etl.wipe(work)
  }

  test("module names come from the innermost graft frame of a call site") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3440)",
      "graft.etl.Writer$.replaceCountryRangePartitioned(Writer.scala:250)",
      "graft.etl.Pipeline$.runCountry(Pipeline.scala:140)",
      "perfbench.Main$.main(Main.scala:1)").mkString("\n")
    assert(Attribution.moduleOfCallSite(site).contains("etl.Writer"))
    assert(Attribution.moduleOfCallSite("perfbench.Main$.main(Main.scala:1)").isEmpty)
    assert(Attribution.moduleOfClass("graft.SparkEntry$$anonfun$queries$1").contains("SparkEntry"))
    assert(Attribution.moduleOfClass("graft.ops.Graph$Loop$").contains("ops.Graph"))
    assert(Attribution.layerOf("etl.Writer") == "etl" && Attribution.layerOf("Tables") == "Tables")
  }

  test("a Writer.replaceCountryRangePartitioned job is attributed to etl.Writer") {
    val tracer = new Tracer(spark, Thread.currentThread())
    tracer.install()
    val df = spark.range(0, 200).select(
      lit("EC").as("pais"),
      date_add(lit(Date0), (col("id") % 3).cast("int")).as("fecha_proceso"),
      col("id").cast("decimal(21,2)").as("precio"))
    val op = tracer.begin("write", "replaceCountryRangePartitioned", "etl")
    Writer.replaceCountryRangePartitioned(df, new File(work, "t").toString,
      dateCol = "fecha_proceso", countryCol = "pais", country = "EC",
      startDate = "2025-01-01", endDate = "2025-01-03", statsColumns = Seq("precio"))
    tracer.end()
    tracer.uninstall()
    val modules = op.jobs.map(_.module).toSet
    assert(op.jobs.nonEmpty && modules.contains("etl.Writer"), modules)
    val t = tracer.totals(Seq(op))
    assert(t("module.etl.Writer.jobs") >= 1)
    assert(t.getOrElse("spark.output_files", 0.0) >= 3, t) // one file per date partition
    assert(t.getOrElse("spark.tasks", 0.0) > 0 && t("spark.jobs") == op.jobs.size)
    assert(tracer.spans("spec").exists(s => s("kind") == "job" && s("module") == "etl.Writer"))
  }

  test("Pipeline.run on generated input matches the oracle") {
    val day = LocalDate.of(2025, 2, 1)
    val rows = (0 until 2).flatMap(d => Entregas.dayRows(5L, day.plusDays(d), 400))
    val dir = new File(work, "pipe")
    val csv = new File(dir, "entregas.csv").toPath
    Etl.write(csv, Entregas.csvBytes(rows))
    val out = new File(dir, "out").toString
    val cfg = new File(dir, "config.yaml").toPath
    val countries = Entregas.Countries.map(c => (c, day, day.plusDays(1)))
    Etl.write(cfg, Entregas.configYaml(csv.toString, out, countries).getBytes("UTF-8"))
    val done = Pipeline.run(spark, cfg.toString, auditTs = Etl.auditTs)
    assert(Etl.checkProcessed(done, Entregas.Countries, out).isEmpty)
    val ranges = Entregas.Countries.map(_ -> (day, day.plusDays(1))).toMap
    val expected = Entregas.byCountry(Entregas.expect(rows, ranges)._1)
    assert(Etl.checkTables(spark, out, expected).isEmpty)
    // a wrong expectation is caught
    val wrong = expected.updated("EC", expected("EC").copy(clean = expected("EC").clean + 1))
    assert(Etl.checkTables(spark, out, wrong).exists(_.contains("EC clean rows")))
  }

  private val Date0 = "2025-01-01"
}
