package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every derived table and driver-side memo goes through
  * `graft.sources.Artifact`, the one place that keys, builds and retires
  * them. This scan of the main sources fails, listing the offending
  * lines, when a build-once check, a memo map or a second source
  * signature appears anywhere else — the copies that left artifact
  * families keyed by path only. `Warehouse.readTableOrFiles` may ask the
  * catalog: it reads stream state, not a derived artifact. */
class ArtifactGuardSpec extends AnyFunSuite {

  private val Registry = "graft/sources/Artifact.scala"
  private val Forbidden = Seq(
    "catalog.tableExists" -> "a build-once check",
    "TrieMap.empty" -> "a memo map",
    "HashSet.empty" -> "a memo set",
    "lastModified" -> "a source signature (file mtime)",
    "getModificationTime" -> "a source signature (file mtime)")

  private def sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  test("derived artifacts and memos go through the registry only") {
    val files = sources
    assert(files.exists(_.getPath.endsWith(Registry)), "main sources not found")
    val offenders = for {
      f <- files if !f.getPath.endsWith(Registry)
      lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      (line, i) <- lines.zipWithIndex
      (token, what) <- Forbidden if line.contains(token)
      enclosing = lines.take(i).reverseIterator
        .collectFirst { case l if l.contains(" def ") => l.trim }.getOrElse("")
      if !(f.getPath.endsWith("graft/sources/Warehouse.scala") &&
        token == "catalog.tableExists" && enclosing.startsWith("def readTableOrFiles("))
    } yield s"${f.getPath}:${i + 1}: $what — use graft.sources.Artifact: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
