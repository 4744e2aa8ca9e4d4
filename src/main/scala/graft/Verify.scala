package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — trailing names restrict the
    // dump to those queries (local iteration); the driver passes exactly two
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.get(
      localCores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8").toInt)
    // INT96 here, DELIBERATELY diverging from the library default
    // (GraftSession writes INT64 micros — the statistics-bearing form
    // the skipping manifest needs): this dump is not a data sink, it is
    // the comparator surface hashed against DuckDB, and INT64
    // timestamps carry isAdjustedToUTC=true which DuckDB surfaces as
    // TIMESTAMPTZ ('+00:00') while the oracle SQL yields naive TIMESTAMP
    // — 9 timestamp-shaped queries hash-red on representation alone
    // (measured via scripts/oracle_check.py, round 9). INT96 reproduces
    // the exact dump bytes every green round has gated on.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // toString, not getMessage: the class names the failure, and the
        // message alone can be null
        System.err.println(s"[verify] $name failed: $e")
      }
      GraftSession.dropQueryState(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${BenchCompare.jsonString(k)}: ${BenchCompare.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
