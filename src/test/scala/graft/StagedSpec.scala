package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.util.Staged

/** Pins [[graft.util.Staged]]'s contract: only a complete build is ever
  * published, by one atomic rename, so concurrent stagers (threads or
  * JVMs) never see a partial dir, a failed build leaves nothing behind,
  * and nothing from the marker-based scheme it replaced is adopted.
  */
class StagedSpec extends SparkTestBase {

  private def tmpRoot: File = new File(sys.props("java.io.tmpdir"))
  private def stagedNames(root: File, tag: String): Seq[String] =
    Option(root.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(s"graft-stage-$tag-")).toSeq.sorted
  private def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  test("JVMs staging one key at once publish one complete dir and leave no private copy") {
    val work = Files.createTempDirectory("graft-staged-race").toFile
    try {
      val src = new File(work, "source.bin")
      Files.write(src.toPath, "source".getBytes(UTF_8))
      val root = new File(work, "tmp"); root.mkdirs()
      val go = new File(work, "go")
      val java = s"${sys.props("java.home")}/bin/java"
      // two children start at the same moment; the third starts halfway
      // through their builds (a late stager must not disturb a running one)
      val delaysMs = Seq(0, 0, 250)
      val procs = delaysMs.indices.map { i =>
        new ProcessBuilder(java, s"-Djava.io.tmpdir=$root",
          "-cp", sys.props("java.class.path"), "graft.StagedRaceChild",
          src.toString, go.toString, new File(work, s"ready-$i").toString,
          delaysMs(i).toString)
          .redirectErrorStream(true).start()
      }
      // release the children together once every JVM is up
      val deadline = System.currentTimeMillis() + 60000
      while (delaysMs.indices.exists(i => !new File(work, s"ready-$i").exists()) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      go.createNewFile()
      val outs = procs.map { p =>
        val out = new String(p.getInputStream.readAllBytes(), UTF_8)
        assert(p.waitFor() == 0, s"child failed:\n$out")
        out.linesIterator.collect { case l if l.contains("=") =>
          val Array(k, v) = l.split("=", 2); k -> v
        }.toMap
      }
      assert(outs.forall(_("built") == "true"),
        s"every child must have built (the race was not exercised): $outs")
      assert(outs.map(_("dir")).distinct.size == 1, s"different dirs returned: $outs")
      assert(outs.map(_("files")).distinct.size == 1, s"different file sets seen: $outs")
      // complete, and every file from ONE builder: no mix of two builds
      val files = outs.head("files").split(";").toSeq.map(_.split(":", 2))
      assert(files.map(_(0)) == (0 until 5).map(i => s"f$i"), s"incomplete file set: $outs")
      assert(files.map(_(1)).distinct.size == 1, s"files from more than one build: $outs")
      assert(stagedNames(root, "race") == Seq(new File(outs.head("dir")).getName),
        s"private build dirs left behind: ${root.list().toSeq}")
    } finally rm(work)
  }

  test("a build that throws publishes nothing, leaves no private dir, and the next call builds") {
    val tag = s"fail-${java.util.UUID.randomUUID().toString.take(8)}"
    val src = Files.createTempFile("graft-staged-src", ".bin").toFile
    val stamps = scala.collection.mutable.ListBuffer.empty[File]
    try {
      val e = intercept[RuntimeException] {
        Staged.dir(tag, Seq(src), "v1") { d =>
          Files.write(new File(d, "half").toPath, Array[Byte](1))
          throw new RuntimeException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(stagedNames(tmpRoot, tag).isEmpty, "a failed build left a dir behind")

      var builds = 0
      def stage() = Staged.dir(tag, Seq(src), "v1") { d =>
        builds += 1
        Files.write(new File(d, "ok").toPath, Array[Byte](1))
      }
      val dir = stage(); stamps += dir
      assert(builds == 1 && dir.list().toSeq == Seq("ok"))
      assert(stagedNames(tmpRoot, tag) == Seq(dir.getName))
      assert(stage() == dir && builds == 1, "a published dir must be reused, not rebuilt")

      // a regenerated source is a new key: built again, under a new name
      assert(src.setLastModified(src.lastModified() - 60000))
      val dir2 = stage(); stamps += dir2
      assert(dir2 != dir && builds == 2)
    } finally {
      stamps.foreach(rm)
      src.delete()
    }
  }

  test("a half-built dir at a marker-era name is never adopted") {
    val li = new File(s"${sf()}/lineitem.parquet")
    val oldKey = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${sf()}|${li.length()}|${li.lastModified()}|skip-date|v4".getBytes(UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    val legacy = new File(tmpRoot, s"graft-skiplayout-$oldKey")
    val planted = !legacy.exists() && legacy.mkdirs()
    try {
      // what a builder killed mid-write left under the old scheme: data
      // files but no _LAYOUT_DONE marker
      if (planted) Files.write(new File(legacy, "part-00000.parquet").toPath,
        "truncated".getBytes(UTF_8))
      val root = Tables.skippingLayout(spark, sf(), "date")
      assert(root != legacy.toString)
      assert(new File(root).getName.startsWith("graft-stage-skiplayout-date-"))
      assert(spark.read.parquet(root).count() == Tables(spark, sf(), "lineitem").count())
    } finally if (planted) rm(legacy)
  }
}

/** Child JVM of [[StagedSpec]]'s race: signals it is up, waits for the
  * shared `go` file and its own delay, then stages one key with a slow
  * multi-file build
  * (each file names the building JVM) and prints whether it built, the
  * dir it got and that dir's files.
  */
object StagedRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(src, go, ready, delayMs) = args
    new File(ready).createNewFile()
    while (!new File(go).exists()) Thread.sleep(5)
    Thread.sleep(delayMs.toLong)
    var built = false
    val pid = ProcessHandle.current().pid()
    val dir = Staged.dir("race", Seq(new File(src)), "v1") { d =>
      built = true
      (0 until 5).foreach { i =>
        Files.write(new File(d, s"f$i").toPath, s"built by $pid".getBytes(UTF_8))
        Thread.sleep(100)
      }
    }
    val files = dir.listFiles().toSeq.sortBy(_.getName)
      .map(f => s"${f.getName}:${new String(Files.readAllBytes(f.toPath), UTF_8)}")
    println(s"built=$built")
    println(s"dir=$dir")
    println(s"files=${files.mkString(";")}")
  }
}
