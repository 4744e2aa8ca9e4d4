package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.Similarity

/** Measurement tool behind the q29/q55/q74 recall gates: per-query hit counts
  * of each ANN path against the brute-force exact ranking, at every test SF.
  * Both sides are deterministic-by-construction, so the minima printed here
  * are EXACT properties of (data, config) — the query-level boolean gates use
  * thresholds at or below these minima, making the driver's hash compare a
  * stable accuracy check rather than a statistical one.
  *
  * Run: sbt "Test/runMain graft.tools.RecallAudit"
  */
object RecallAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(localCores = 32, shufflePartitions = 8)
    graft.functions.GraftFunctions.register(spark)

    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (!new java.io.File(dir).isDirectory) {
        println(s"== $sf: missing, skipped ==")
      } else {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val n = emb.count()
        val auditMax = 500L
        val audit = emb.filter(col("vec_id") < auditMax)
        val nAudit = audit.count()
        println(s"== $sf: corpus=$n audit=$nAudit ==")

        // exact rankings the booleans compare against (q27's verified machinery)
        val exact5 = Similarity
          .bruteForceTopK(emb, audit, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
        val exact20 = Similarity
          .bruteForceTopK(emb, audit, "vec_id", "embedding", k = 20)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
        val queryIds = audit.select(col("vec_id").as("query_id")).localCheckpoint(true)

        def report(name: String, ann: DataFrame, qMax: Long): Unit = {
          val a = ann
            .filter(col("query_id") < qMax)
            .select(col("query_id"), col("neighbor_id"))
            .localCheckpoint(true)
          def hitHist(exact: DataFrame, label: String): Unit = {
            val hits = queryIds
              .filter(col("query_id") < qMax)
              .join(
                a.join(exact, Seq("query_id", "neighbor_id"))
                  .groupBy(col("query_id"))
                  .agg(count(lit(1)).as("h")),
                Seq("query_id"),
                "left")
              .select(coalesce(col("h"), lit(0L)).as("h"))
            val rows = hits.groupBy(col("h")).count().orderBy(col("h")).collect()
            val dist = rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
            println(s"  $name $label hits-dist {$dist}")
          }
          hitHist(exact5, "vs-exact-top5 ")
          hitHist(exact20, "vs-exact-top20")
          // rank-1 recall: is the exact best neighbor inside the ANN top-k set
          val best = Similarity
            .bruteForceTopK(emb, audit.filter(col("vec_id") < qMax), "vec_id", "embedding", k = 1)
            .select(col("query_id"), col("neighbor_id"))
          val nFoundBest = best.join(a, Seq("query_id", "neighbor_id")).count()
          val nq = queryIds.filter(col("query_id") < qMax).count()
          println(s"  $name rank1-in-topk $nFoundBest/$nq")
        }

        report(
          "lsh(8pl,10tb,probe2)",
          Similarity.annTopK(emb, "vec_id", "embedding", k = 5,
            planes = 8, numTables = 10, probeBits = 2),
          auditMax)
        report(
          "ivf(32,8,it1)      ",
          Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
            nlist = 32, nprobe = 8, iters = 1),
          auditMax)
        report(
          "pq(16x256)         ",
          Similarity.pqTopK(emb, "vec_id", "embedding", k = 5,
            queryMaxId = 50, subspaces = 16, codebookSize = 256),
          50L)
        report(
          "ivfpq(32,8|16x256) ",
          Similarity.ivfPqTopK(emb, "vec_id", "embedding", k = 5,
            queryMaxId = 50, nlist = 32, nprobe = 8, ivfIters = 1,
            subspaces = 16, codebookSize = 256),
          50L)
      }
    }
    spark.stop()
  }
}
