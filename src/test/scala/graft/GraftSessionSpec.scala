package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The one per-query state drop really releases a query's state, and the
  * session builder and the drop stay single copies: each drifted back one
  * copy at a time before, so a source scan fails on the first new one.
  */
class GraftSessionSpec extends SparkTestBase {

  test("dropQueryState uncaches tables and unpersists persisted and checkpointed RDDs") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    spark.range(100).createOrReplaceTempView("graft_drop_cached")
    spark.catalog.cacheTable("graft_drop_cached")
    spark.table("graft_drop_cached").count()
    val persisted = spark.range(100).selectExpr("id * 2 AS x").persist()
    persisted.count()
    spark.range(100).selectExpr("id + 1 AS y").localCheckpoint(true)
    // the shared session may hold other suites' RDDs: check only ours
    val created = sc.getPersistentRDDs.keySet.toSet -- before
    assert(created.size >= 3, s"expected cache + persist + checkpoint RDDs, got $created")
    assert(spark.catalog.isCached("graft_drop_cached"))

    GraftSession.dropQueryState(spark)

    assert(!spark.catalog.isCached("graft_drop_cached"))
    val left = sc.getPersistentRDDs.keySet.toSet intersect created
    assert(left.isEmpty, s"still persisted after the drop: $left")
  }

  test("one session builder and one state drop in the sources") {
    val root = Paths.get(sys.props("user.dir"))
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val dir = root.resolve(d)
      assert(Files.isDirectory(dir), s"source dir not found: $dir")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def offenders(needle: String, allowed: Set[String]): Seq[Path] =
      files.filter(f => !allowed(f.getFileName.toString) &&
        Files.readString(f).contains(needle))
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    // needles are split so this file does not match itself
    val builders = offenders("SparkSession" + ".builder",
      Set("GraftSession.scala", "ExtensionsSpec.scala"))
    assert(builders.isEmpty,
      s"build sessions through GraftSession.get, not in: ${builders.mkString(", ")}")
    val drops = offenders("getPersistentRDDs.values" + ".foreach(_.unpersist",
      Set("GraftSession.scala"))
    assert(drops.isEmpty,
      s"drop state through GraftSession.dropQueryState, not in: ${drops.mkString(", ")}")
  }
}
