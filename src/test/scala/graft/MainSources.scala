package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The program's source tree, for the specs that guard a one-helper
  * idiom by scanning it. */
object MainSources {
  // target/scala-2.13/test-classes → the project root
  private val root = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    .getParent.getParent.getParent

  /** Every `.scala` file under `src/main/scala` with its lines. */
  lazy val files: Seq[(Path, IndexedSeq[String])] = {
    val src = root.resolve("src/main/scala")
    assert(Files.isDirectory(src), s"no source tree at $src")
    Files.walk(src).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq)
  }

  /** `file:line` of a zero-based line index, relative to the root. */
  def at(p: Path, i: Int): String = s"${root.relativize(p)}:${i + 1}"
}
