package graft.util

import java.io.{File, IOException}
import java.nio.file.{Files, StandardCopyOption}

/** The ONE way to stage a derived input directory (a layout, an index, a
  * set of stream splits) in the temp dir, built once per source identity
  * and shared by every caller on the machine — threads of one JVM and
  * concurrent JVMs (sharded Verify runs, a Bench beside a Verify) alike.
  *
  * A build never writes into the published directory. It writes into a
  * private sibling (same parent, pid + nonce suffix) and is published by
  * ONE atomic rename, so the published directory existing is the proof
  * that it is complete: there is no marker file, no cross-process lock
  * and no wipe of a shared directory. Two racing processes each build;
  * the first rename wins, the loser deletes its own copy and returns the
  * winner's. A build that throws leaves nothing behind, and the next call
  * builds again. Within one JVM a per-key monitor keeps threads from
  * building the same key twice.
  *
  * The key covers `tag`, each source file's (absolute path, size, mtime)
  * and `version`: a regenerated source, or a bumped version after a build
  * change, publishes under a new name. Names start with `graft-stage-`,
  * which no earlier (marker-based) staging scheme used, so a half-built
  * directory from one of those is never adopted.
  */
object Staged {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def dir(tag: String, sources: Seq[File], version: String)(build: File => Unit): File = {
    val published = new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-stage-$tag-${key(tag, sources, version)}")
    if (!published.isDirectory)
      locks.computeIfAbsent(published.getName, _ => new Object).synchronized {
        if (!published.isDirectory) {
          val nonce = java.util.UUID.randomUUID().toString.take(8)
          val priv = new File(published.getParentFile,
            s"${published.getName}-p${ProcessHandle.current().pid()}-$nonce")
          try {
            priv.mkdirs()
            build(priv)
            try Files.move(priv.toPath, published.toPath, StandardCopyOption.ATOMIC_MOVE)
            catch { case _: IOException if published.isDirectory => () } // another process won
          } finally wipe(priv) // gone after a successful publish
        }
      }
    published
  }

  private def key(tag: String, sources: Seq[File], version: String): String = {
    val stamp = sources.map(f => s"${f.getAbsolutePath}|${f.length()}|${f.lastModified()}")
    java.security.MessageDigest.getInstance("MD5")
      .digest((tag +: stamp :+ version).mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  private def wipe(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
    f.delete(); ()
  }
}
