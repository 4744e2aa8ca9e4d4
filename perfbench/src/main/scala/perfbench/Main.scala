package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `run.py`).
  *
  * {{{
  * Main --workload etl_backfill|etl_daily|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR --result FILE --data DIR --queries FILE
  *      [--source-id ID] [--cores N] [--nproc N]
  * Main --dump OUT_DIR --work DIR --data DIR QUERY...
  * }}}
  *
  * Runs the workload's set-up, then a fixed number of units of work sized
  * to `--seconds`; with `--trace 1`, four units of which the middle two are
  * traced.
  * Prints a metrics summary and, as the last stdout line, a JSON line with
  * `correct`, `attempted`, `failed` and every end-to-end and per-layer metric;
  * `run.py` turns it into the result line. The full result (fingerprint,
  * every operation, every failure with its cause) goes to `--result`, the
  * spans of a traced run next to it.
  */
object Main {
  /** No unit starts after this many seconds of JVM life, so a run ends
    * within three minutes even on a much slower machine.
    */
  val MaxWallS = 140.0

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (opts, rest) = parse(argv)
    val work = new File(opts("work")).getAbsoluteFile
    val cores = math.min(opts.get("cores").map(_.toInt).getOrElse(4),
      Runtime.getRuntime.availableProcessors())
    val spark = session(work, cores)
    try {
      opts.get("dump") match {
        case Some(out) =>
          new QueryMixWorkload(new Runner(spark, None), opts("data"), Nil, 0L).dump(out, rest)
        case None => bench(spark, opts, work, cores, jvmStartMs)
      }
    } finally spark.stop()
  }

  private def parse(argv: Array[String]): (Map[String, String], Seq[String]) = {
    val opts = mutable.LinkedHashMap.empty[String, String]
    val rest = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < argv.length) {
      if (argv(i).startsWith("--") && i + 1 < argv.length) {
        opts(argv(i).drop(2)) = argv(i + 1); i += 2
      } else { rest += argv(i); i += 1 }
    }
    (opts.toMap, rest.toSeq)
  }

  def session(work: File, cores: Int): SparkSession = {
    // long call sites, so a job's innermost graft.* frame is always recorded
    System.setProperty("spark.callstack.depth", "200")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fingerprint(spark: SparkSession, cores: Int, opts: Map[String, String])
      : Map[String, Any] = {
    val rt = Runtime.getRuntime
    val cpu = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines().find(_.startsWith("model name")).map(_.split(":", 2)(1).trim)
      finally src.close()
    }.toOption.flatten
    Json.obj(
      "nproc" -> opts.get("nproc").map(_.toInt).getOrElse(rt.availableProcessors()),
      "jvm_processors" -> rt.availableProcessors(),
      "master" -> s"local[$cores]",
      "heap_max_mb" -> rt.maxMemory() / (1 << 20),
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "cpu" -> cpu.orNull,
      "os" -> s"${sys.props("os.name")} ${sys.props("os.version")}",
      "source_id" -> opts.getOrElse("source-id", "unknown"),
      "seed" -> opts("seed").toLong
    ).toMap
  }

  private def bench(spark: SparkSession, opts: Map[String, String], work: File, cores: Int,
                    jvmStartMs: Long): Unit = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val tracer = if (trace) Some(new Tracer(spark, Thread.currentThread())) else None
    val runner = new Runner(spark, tracer)
    val w: Workload = workload match {
      case "etl_backfill" => new EtlBackfill(runner, work, seed, days = 4, rowsPerDay = 6000)
      case "etl_daily" => new EtlDaily(runner, work, seed, historyDays = 6, rowsPerDay = 3000)
      case "query_mix" =>
        new QueryMixWorkload(runner, opts("data"), QueryMix.load(opts("queries")), seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    w.setup()
    tracer.foreach(_.install())

    // closed loop over a fixed number of units, sized so the measured time is
    // about `seconds` on the reference machine: every run does the same work,
    // so a faster program finishes sooner instead of doing more. A traced run
    // does four units, untraced-traced-traced-untraced, so a trend across the
    // run (the JIT still warming) cancels out of the tracing overhead.
    val units = if (trace) 4 else math.max(1, math.round(seconds / w.nominalUnitS).toInt)
    def tracedUnit(u: Int) = trace && (u % 4 == 1 || u % 4 == 2)
    val (steal0, jiffies0) = Runner.stealJiffies()
    def elapsedS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    var unit = 0
    while (unit < units && (unit == 0 || elapsedS < MaxWallS)) {
      w.runUnit(unit, traced = tracedUnit(unit))
      unit += 1
    }
    val (steal1, jiffies1) = Runner.stealJiffies()
    val setupS = (runner.firstOpStartMs - jvmStartMs) / 1e3
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    val recs = runner.records.toSeq
    val untraced = recs.filter(!_.traced)
    def passTimes(rs: Seq[OpRecord]): Seq[Double] =
      rs.groupBy(_.unit).values.filter(_.forall(_.ok)).map(_.map(_.seconds).sum).toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (Runner.median(untraced.filter(r => r.ok && r.kind == w.primaryKind)
        .map(_.seconds)), "s"),
      "pass_s" -> (Runner.median(passTimes(untraced)), "s"),
      "retained_heap_mb" -> (heapMb, "MB"),
      "wall_s" -> (untraced.filter(_.ok).map(_.seconds).sum, "s"),
      "steal_frac" -> ((steal1 - steal0).toDouble / math.max(1L, jiffies1 - jiffies0), "ratio"),
      "failed_frac" -> (recs.count(!_.ok).toDouble / math.max(1, recs.size), "ratio"),
      "setup.session_s" -> (sessionS, "s")
    )
    w.report(untraced).foreach { case (k, v, u) => e2e(k) = (v, u) }

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    var spans: Seq[Map[String, Any]] = Nil
    tracer.foreach { tr =>
      tr.uninstall()
      val tracedRecs = recs.filter(_.traced)
      val units = tracedRecs.map(_.unit).distinct.size
      val t = tr.totals(tr.traced)
      val u = math.max(units, 1).toDouble
      def per(k: String) = t.getOrElse(k, 0.0) / u
      Seq("spark.catalyst.analysis_s", "spark.catalyst.optimization_s",
        "spark.catalyst.planning_s", "spark.codegen.compiles", "spark.codegen.compile_s",
        "spark.driver_gap_s", "spark.jobs", "spark.tasks", "spark.task_cpu_s",
        "spark.task_run_s", "spark.task_gc_s", "spark.task_wait_s",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
        "spark.input_bytes", "spark.output_bytes", "spark.output_files",
        "streaming.batches", "streaming.state_commit_s", "streaming.state_rows",
        "trace.plan_walk_errors"
      ).foreach(k => layers(k) = (per(k), unitOf(k)))
      Seq("etl.Writer", "etl.Skipping", "ops.Graph", "ops.Dedup", "ops.Similarity",
        "ops.Relational").foreach(m => layers(s"$m.busy_s") = (per(s"module.$m.busy_s"), "s"))
      layers("etl.Writer.jobs") = (per("module.etl.Writer.jobs"), "count")
      layers("etl.Writer.output_bytes") = (per("module.etl.Writer.output_bytes"), "B")
      // workload-specific layers; zero where the workload does not reach them
      Seq("etl.Bronze.csv_scans_per_input" -> "ratio", "etl.Skipping.footers_read" -> "count",
        "etl.Writer.rewrite_bytes_per_new_byte" -> "ratio",
        "sources.GraftParquetSource.files_listed" -> "count",
        "sources.GraftParquetSource.files_kept" -> "count",
        "sources.GraftParquetSource.kept_ratio" -> "ratio",
        "ops.Graph.rounds" -> "count", "tables.staging_s" -> "s"
      ).foreach { case (k, un) => layers(k) = (0.0, un) }
      w.layerReport(t, units).foreach { case (k, v, un) => layers(k) = (v, un) }
      tracedRecs.groupBy(_.family).toSeq.sortBy(_._1).foreach { case (f, rs) =>
        layers(s"family.$f.busy_s") = (rs.map(_.seconds).sum / u, "s")
      }
      t.keys.filter(_.startsWith("layer.")).toSeq.sorted.foreach(k => layers(k) = (per(k), "s"))
      t.keys.filter(k => k.startsWith("module.") && k.endsWith(".busy_s")).toSeq.sorted
        .foreach(k => layers(k) = (per(k), "s"))
      val overhead = mean(passTimes(tracedRecs)) - mean(passTimes(untraced))
      layers("trace.overhead_s") = (overhead, "s")
      layers("trace.overhead_frac") = (overhead / mean(passTimes(untraced)), "ratio")
      spans = tr.spans(workload)
    }

    val failures = recs.filterNot(_.ok).map(r => Json.obj("kind" -> r.kind, "name" -> r.name,
      "unit" -> r.unit, "traced" -> r.traced, "error" -> r.error.get))
    val attempted = recs.size
    val failed = failures.size
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
    val result = Json.obj(
      "workload" -> workload,
      "trace" -> trace,
      "fingerprint" -> fingerprint(spark, cores, opts),
      "correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "failures" -> failures,
      "operations" -> recs.map(r => Json.obj("kind" -> r.kind, "name" -> r.name,
        "family" -> r.family, "unit" -> r.unit, "traced" -> r.traced,
        "seconds" -> (if (r.ok) r.seconds else null), "error" -> r.error.orNull))
    )
    val resultPath = Paths.get(opts("result"))
    Files.createDirectories(resultPath.toAbsolutePath.getParent)
    Files.writeString(resultPath, Json.render(result) + "\n")
    if (trace) Files.writeString(Paths.get(resultPath.toString.stripSuffix(".json") + ".spans.json"),
      Json.render(spans) + "\n")

    println(s"== perfbench $workload seed=$seed trace=${if (trace) 1 else 0} " +
      s"attempted=$attempted failed=$failed ${Json.render(result("fingerprint"))}")
    e2e.foreach { case (k, (v, u)) => println(f"  end_to_end $k%-36s $v%16.6f $u") }
    layers.foreach { case (k, (v, u)) => println(f"  per_layer  $k%-44s $v%16.6f $u") }
    failures.foreach(f => println(s"  FAILED ${Json.render(f)}"))
    // the whole result; run.py keeps the metrics BENCHMARK.json names
    println(Json.render(Json.obj("correct" -> result("correct"), "attempted" -> attempted,
      "failed" -> failed, "end_to_end" -> result("end_to_end"), "per_layer" -> result("per_layer"))))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "B" else "count"
}
