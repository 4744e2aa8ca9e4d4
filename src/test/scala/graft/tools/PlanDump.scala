package graft.tools

import graft.GraftSession

/** Dump `.explain("formatted")` of registered queries to files — the
  * round-11 optimization round's plan evidence (`plans/r11/<q>_<tag>.txt`).
  * Runs under Bench's exact session settings so the dumped plan is the
  * plan the bench times (initial plan, `isFinalPlan=false` under AQE).
  *
  * Note for queries whose builder EXECUTES work before returning the final
  * frame (streaming restarts, staged layouts): the dump shows the final
  * batch plan; the executed prefix is attributed by QueryLedger instead.
  *
  * Run: sbt "Test/runMain graft.tools.PlanDump <tag> q307_coreness [q...]"
  *   → writes plans/r11/q307_coreness_<tag>.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> <query> [query ...]")
    val tag = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.get(localCores = 32, shufflePartitions = 8)
    val outDir = new java.io.File("plans/r11")
    outDir.mkdirs()
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, "/root/testdata/sf0.1")
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.writeString(f.toPath, txt)
      println(s"[plandump] wrote ${f.getPath} (${txt.length} chars)")
      GraftSession.dropQueryState(spark)
    }
    spark.stop()
  }
}
