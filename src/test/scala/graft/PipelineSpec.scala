package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.config.EtlConfig
import graft.etl.Pipeline

/** Golden-output parity test of the full entregas pipeline on the FIXTURES.md §A
  * synthetic CSV: clean-vs-quarantine split, exact motivo_obs strings (pipe-join
  * order), guarded derived columns, 3-valued indicators, date-parse drops, and
  * replaceWhere idempotence.
  */
class PipelineSpec extends SparkTestBase {

  private def fixture(): (Path, String) = {
    val dir = Files.createTempDirectory("graft-pipe")
    val csv = dir.resolve("entregas.csv")
    // header + rows per FIXTURES.md §A (see comments for expectations)
    Files.writeString(
      csv,
      """pais,fecha_proceso,transporte,ruta,tipo_entrega,material,precio,cantidad,unidad
        |EC,20250110,T1,R1,ZPRE,M1,100.0,2.0,CS
        |EC,20250111,T1,R1,Z04,M2,50.5,1.0,ST
        |EC,20250112,T1,R2, zpre ,M3,10.0,1.0,cs
        |EC,20250113,T2,R1,ZVE1,,20.0,1.0,ST
        |EC,20250114,T2,R1,ZPRE,M4,,1.0,ST
        |EC,20250115,T2,R1,ZPRE,M5,-5.0,1.0,ST
        |EC,20250116,T2,R1,ZPRE,M6,5.0,,ST
        |EC,20250117,T2,R1,ZPRE,M7,5.0,0.0,ST
        |EC,20250118,T2,R1,ZPRE,M8,5.0,1.0,XX
        |EC,20250119,T2,R1,ZZZ,M9,5.0,1.0,ST
        |EC,20250120,T2,R1,ZZZ,,0.0,-1.0,XX
        |EC,2025 0121,T1,R1,ZPRE,M10,1.0,1.0,ST
        |EC,20250122,T1,R1,,M15,5.0,1.0,ST
        |EC,garbage,T1,R1,ZPRE,M11,1.0,1.0,ST
        |EC,20240101,T1,R1,ZPRE,M12,1.0,1.0,ST
        |PE,20250110,T1,R1,ZPRE,M13,30.0,3.0,CS
        |BR,20250110,T1,R1,ZPRE,M14,1.0,1.0,ST
        |""".stripMargin
    )
    val cfgPath = dir.resolve("config.yaml")
    Files.writeString(
      cfgPath,
      s"""paths:
         |  raw_csv: $csv
         |  output_root: $dir/out
         |params:
         |- country: EC
         |  start_date: '2025-01-01'
         |  end_date: '2025-06-30'
         |  proccess: 'NO'
         |- country: PE
         |  start_date: '2025-01-01'
         |  end_date: '2025-06-30'
         |  proccess: 'NO'
         |delivery_types:
         |  routine:
         |  - ZPRE
         |  - ZVE1
         |  bonus:
         |  - Z04
         |  - Z05
         |unit_factors:
         |  CS: 20
         |  ST: 1
         |""".stripMargin
    )
    (dir, cfgPath.toString)
  }

  test("full pipeline: split, rules, derived columns, idempotence") {
    val (dir, cfgPath) = fixture()
    val fixedTs = to_timestamp(lit("2026-01-01 00:00:00"))

    val fixedClock = () => java.time.LocalDateTime.of(2026, 1, 2, 3, 4, 5)
    val done = Pipeline.run(spark, cfgPath, auditTs = fixedTs, logClock = fixedClock)
    assert(done == List("EC", "PE"))

    // S7: per-run timestamped log-file sink — file named from the (injected)
    // run clock, lines in `timestamp [LEVEL] message` format.
    val logFile = java.nio.file.Paths.get(s"$dir/out/log/etl_run_20260102_030405.log")
    assert(Files.exists(logFile), s"expected run log at $logFile")
    val logText = Files.readString(logFile)
    assert(logText.contains("2026-01-02 03:04:05 [INFO] country EC done [2025-01-01..2025-06-30]"), logText)
    assert(logText.contains("[INFO] run complete: processed=EC,PE"), logText)

    // a scheme-prefixed non-local log root must be REJECTED (java.io would
    // happily create a bogus local "s3:/bucket" directory — POSIX filenames
    // allow the colon) so Pipeline.run's catch degrades to console-only
    intercept[IllegalArgumentException] {
      graft.etl.RunLog("s3://bucket/out/log", fixedClock)
    }

    val paths = Pipeline.Paths.under(s"$dir/out")
    val clean = spark.read.parquet(paths.silverClean)
    val obs = spark.read.parquet(paths.silverQuarantine)

    // EC: 5 clean (M1,M2,M3,M4-null-precio,M10-ws-date), 8 quarantined
    // (incl. M15's NULL delivery type — documented divergence: the reference
    // would let it into clean with NULL flags); PE: 1 clean.
    // garbage/out-of-range dates and BR never appear.
    assert(clean.filter(col("cod_pais") === "EC").count() == 5)
    assert(clean.filter(col("cod_pais") === "PE").count() == 1)
    assert(obs.count() == 8)

    // the run log carries each country's per-sink row counts, observed on
    // the writes themselves; they must match what the sinks hold
    val bronze = spark.read.parquet(paths.bronze)
    for (c <- Seq("EC", "PE")) {
      val counts = s"bronze=${bronze.filter(col("pais") === c).count()} " +
        s"clean=${clean.filter(col("cod_pais") === c).count()} " +
        s"quarantine=${obs.filter(col("cod_pais") === c).count()}"
      assert(logText.contains(s"country $c done [2025-01-01..2025-06-30] $counts"), logText)
    }
    assert(
      obs.filter(col("cod_material") === "M15").collect().head
        .getAs[String]("motivo_obs") == "ERR_TIPO_ENTREGA_NO_CONSIDERADA")
    assert(clean.filter(col("cod_material").isin("M11", "M12", "M14")).count() == 0)

    // derived columns on the flagship row M1: factor 20.
    val m1 = clean.filter(col("cod_material") === "M1").collect().head
    assert(m1.getAs[java.math.BigDecimal]("cant_unidades").doubleValue() == 40.0)
    assert(m1.getAs[java.math.BigDecimal]("precio_unitario_unidades").doubleValue() == 2.5)
    assert(m1.getAs[Boolean]("ind_rutina") && !m1.getAs[Boolean]("ind_bonificacion"))

    // case/whitespace normalization row M3: ' zpre ' + 'cs'.
    val m3 = clean.filter(col("cod_material") === "M3").collect().head
    assert(m3.getAs[java.math.BigDecimal]("cant_unidades").doubleValue() == 20.0)
    assert(m3.getAs[java.math.BigDecimal]("precio_unitario_unidades").doubleValue() == 0.5)

    // NULL precio is allowed: clean, with NULL unit price (M4).
    val m4 = clean.filter(col("cod_material") === "M4").collect().head
    assert(m4.isNullAt(m4.fieldIndex("precio_unitario_unidades")))
    assert(m4.getAs[java.math.BigDecimal]("cant_unidades").doubleValue() == 1.0)

    // single-rule rows carry exactly their code.
    def motivo(mat: String): String =
      obs.filter(col("cod_material") === mat).collect().head.getAs[String]("motivo_obs")
    assert(motivo("M5") == "ERR_VENTA_NO_POSITIVA")
    assert(motivo("M7") == "ERR_CANT_NO_POSITIVA")
    assert(motivo("M8") == "ERR_UNIDAD_DESCONOCIDA")
    assert(motivo("M9") == "ERR_TIPO_ENTREGA_NO_CONSIDERADA")
    // material-NULL row (ZVE1): only missing-material fires.
    val m6row = obs.filter(col("motivo_obs") === "ERR_CANT_NULL").collect()
    assert(m6row.length == 1 && m6row.head.getAs[String]("cod_material") == "M6")

    // multi-rule row: declaration order, pipe-joined (`:566-576`).
    val multi = obs
      .filter(col("cod_tipo_entrega") === "ZZZ" && col("cod_material").isNull)
      .collect().head
    assert(
      multi.getAs[String]("motivo_obs") ==
        "ERR_CANT_NO_POSITIVA|ERR_SIN_MATERIAL_CONOCIDO|ERR_UNIDAD_DESCONOCIDA|" +
        "ERR_VENTA_NO_POSITIVA|ERR_TIPO_ENTREGA_NO_CONSIDERADA"
    )

    // quarantined rows keep NULL indicator flags (3-valued, all-string table).
    assert(multi.isNullAt(multi.fieldIndex("ind_rutina")))

    // run state written back: both countries marked YES.
    val after = EtlConfig.load(cfgPath).toOption.get
    assert(after.params.forall(_.process))

    // idempotence: reset run state, rerun → replaceWhere replaces, not appends.
    EtlConfig.load(cfgPath).foreach { c =>
      Files.writeString(
        java.nio.file.Paths.get(cfgPath),
        EtlConfig.render(c.copy(params = c.params.map(_.copy(process = false)))))
    }
    Pipeline.run(spark, cfgPath, auditTs = fixedTs)
    assert(spark.read.parquet(paths.silverClean).count() == 6)
    assert(spark.read.parquet(paths.silverQuarantine).count() == 8)
    assert(spark.read.parquet(paths.bronze).count() == 14)
    // quarantine contract: every column STRING for any reader (unpartitioned
    // storage — no DATE-inferred partition column)
    assert(spark.read.parquet(paths.silverQuarantine).schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.StringType))
  }

  test("EP2's Silver re-read engages the skipping manifest: files-touched < total, rows identical") {
    // round-10 task 2: the pipeline's own tables now carry incrementally
    // maintained manifests (EP1 stamps, EP2 reads through readPruned) —
    // assert the integration on the exact predicate shape runCountry uses,
    // after BOTH countries ran (so the manifest survived an incremental
    // update and the country filter has something to prune).
    val (dir, cfgPath) = fixture()
    val fixedTs = to_timestamp(lit("2026-01-01 00:00:00"))
    assert(Pipeline.run(spark, cfgPath, auditTs = fixedTs) == List("EC", "PE"))
    val paths = Pipeline.Paths.under(s"$dir/out")

    val pred = "pais = 'EC' AND fecha_proceso >= DATE '2025-01-01' AND " +
      "fecha_proceso <= DATE '2025-06-30'"
    val pr = graft.etl.Skipping.readPrunedDetailed(spark, paths.bronze, pred)
    assert(pr.fallback.isEmpty,
      s"the EP1-stamped manifest must engage on the EP2 read: ${pr.fallback}")
    assert(pr.selected < pr.total,
      s"PE's partition files must be pruned for the EC slice: ${pr.selected}/${pr.total}")
    val plain = graft.etl.Bronze.slice(
      spark.read.parquet(paths.bronze), "EC", "2025-01-01", "2025-06-30")
    assert(pr.df.count() == plain.count() && plain.count() > 0)
    assert(pr.df.collect().map(_.toString).sorted.toSeq ==
      plain.collect().map(_.toString).sorted.toSeq)

    // the Silver clean table is stamped too, with footer stats that prune
    // on a measure predicate (not just partition dirs)
    val sc = graft.etl.Skipping.readPrunedDetailed(
      spark, paths.silverClean, "cod_pais = 'PE'")
    assert(sc.fallback.isEmpty && sc.selected < sc.total)
    assert(sc.df.count() == 1)
  }

  // ------------------------------------ concurrent orchestration (round 11)

  private def allTables(root: String): Map[String, Seq[String]] = {
    val paths = Pipeline.Paths.under(s"$root/out")
    Seq("bronze" -> paths.bronze, "clean" -> paths.silverClean,
      "obs" -> paths.silverQuarantine, "processed" -> paths.processedDir)
      .map { case (name, p) =>
        val df = spark.read.parquet(p)
        // des_fuente embeds the fixture's temp path: normalize it so two
        // fixture instances compare on VALUES, not on tmp-dir names
        name -> (df.schema.toDDL +:
          df.collect().map(_.toString.replace(root, "<ROOT>")).sorted.toSeq)
      }.toMap
  }

  test("concurrent run (maxParallel=2) is value-identical to the sequential run") {
    val fixedTs = to_timestamp(lit("2026-01-01 00:00:00"))
    val (seqDir, seqCfg) = fixture()
    val (conDir, conCfg) = fixture()
    val seqDone = Pipeline.run(spark, seqCfg, auditTs = fixedTs)
    val conDone = Pipeline.runConcurrent(spark, conCfg, maxParallel = 2,
      auditTs = fixedTs)
    assert(seqDone == conDone, "processed list must match in CONFIG order")
    assert(allTables(seqDir.toString) == allTables(conDir.toString),
      "all four tables must be value-identical (schema + every row)")
    // run state written back for both countries despite racing write-backs
    val after = EtlConfig.load(conCfg).toOption.get
    assert(after.params.forall(_.process))
    // side-indexes stayed fresh under concurrency: the EP2-shaped pruned
    // read engages (no stale-manifest fallback) on the concurrent output
    val paths = Pipeline.Paths.under(s"$conDir/out")
    val pr = graft.etl.Skipping.readPrunedDetailed(
      spark, paths.bronze, "pais = 'EC'")
    assert(pr.fallback.isEmpty, s"manifest must be fresh: ${pr.fallback}")
  }

  test("concurrent run isolates an injected mid-run failure; retry converges") {
    val fixedTs = to_timestamp(lit("2026-01-01 00:00:00"))
    val (seqDir, seqCfg) = fixture()
    Pipeline.run(spark, seqCfg, auditTs = fixedTs) // the oracle outcome
    val (conDir, conCfg) = fixture()
    // inject: PE's worker dies while EC's worker is (possibly) mid-write —
    // the failure must not mark PE processed nor disturb EC's tables
    val done1 = Pipeline.runConcurrent(spark, conCfg, maxParallel = 2,
      auditTs = fixedTs,
      beforeCountry = p =>
        if (p.country == "PE") throw new RuntimeException("injected PE failure"))
    assert(done1 == List("EC"), s"only EC may report success, got $done1")
    val midState = EtlConfig.load(conCfg).toOption.get
    assert(midState.params.find(_.country == "EC").get.process,
      "EC must be marked processed")
    assert(!midState.params.find(_.country == "PE").get.process,
      "failed PE must NOT be marked processed (reference bug stays fixed)")
    // retry: only PE runs (EC skips on run state); outcome converges to
    // the sequential oracle exactly
    val done2 = Pipeline.runConcurrent(spark, conCfg, maxParallel = 2,
      auditTs = fixedTs)
    assert(done2 == List("PE"))
    assert(allTables(seqDir.toString) == allTables(conDir.toString),
      "after retry, every table must equal the sequential run's")
  }
}
