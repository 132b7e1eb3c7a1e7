package graft

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per concern, enforced on the main sources: every derived
  * table and driver-side memo goes through `graft.sources.Artifact`, the
  * one place that keys, builds and retires them; every vector search
  * ranks, scores cosines and pivots PQ codebooks through
  * `graft.ann.Stages`; every DuckDB oracle that grades them takes its
  * cosine guard, dot fold, centroid-assignment and top-k windows from the
  * stages' SQL twins (`Stages.Sql`); and every entry point gets its
  * session from `graft.Harness`. This scan fails, listing the offending
  * lines, when a rule's token appears in its scope outside the rule's
  * allowed file — the copies that left artifact families keyed by path
  * only and let the ANN files and their oracles drift apart. `Warehouse.readTableOrFiles` may ask the
  * catalog: it reads stream state, not a derived artifact. */
class ArtifactGuardSpec extends AnyFunSuite {

  private val Registry = "graft/sources/Artifact.scala"
  private val Stages = "graft/ann/Stages.scala"
  private val Harness = "graft/Harness.scala"
  private val Everywhere = Seq("graft/")
  private val Search = Seq("graft/ann/", "graft/rag/Search.scala")
  private val Oracles = Seq("graft/ann/", "graft/rag/")

  /** (token, what it is, the one file allowed to hold it, scope). */
  private val Forbidden = Seq(
    ("catalog.tableExists", "a build-once check", Registry, Everywhere),
    ("TrieMap.empty", "a memo map", Registry, Everywhere),
    ("HashSet.empty", "a memo set", Registry, Everywhere),
    ("lastModified", "a source signature (file mtime)", Registry, Everywhere),
    ("getModificationTime", "a source signature (file mtime)", Registry, Everywhere),
    ("""orderBy(col("similarity").desc, col("vec_id"))""", "a top-k ranking window",
      Stages, Search),
    ("=== 0.0, 0.0)", "a zero-norm cosine guard", Stages, Everywhere),
    ("""max(when(col("m") === m && col("k") === k""", "a PQ codebook pivot",
      Stages, Search),
    ("= 0 THEN 0.0", "a DuckDB zero-norm cosine guard", Stages, Everywhere),
    ("list_reduce(list_transform(range(1, len(", "a DuckDB dot fold", Stages, Everywhere),
    ("ORDER BY cs DESC, cent_id)", "an oracle centroid-assignment window", Stages, Oracles),
    ("ORDER BY similarity DESC, vec_id)", "an oracle top-k window", Stages, Oracles),
    ("SparkSession.builder()", "a session builder", Harness, Everywhere))

  private def sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  private def offenders(allowedFile: String): Seq[String] = {
    val files = sources
    assert(files.exists(_.getPath.endsWith(allowedFile)), s"$allowedFile not found")
    for {
      f <- files
      rel = f.getPath.stripPrefix("src/main/scala/")
      lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      (line, i) <- lines.zipWithIndex
      (token, what, allowed, scope) <- Forbidden
      if allowed == allowedFile && rel != allowed && scope.exists(rel.startsWith) &&
        line.contains(token)
      enclosing = lines.take(i).reverseIterator
        .collectFirst { case l if l.contains(" def ") => l.trim }.getOrElse("")
      if !(rel == "graft/sources/Warehouse.scala" &&
        token == "catalog.tableExists" && enclosing.startsWith("def readTableOrFiles("))
    } yield s"${f.getPath}:${i + 1}: $what — use $allowed: ${line.trim}"
  }

  test("derived artifacts and memos go through the registry only") {
    val found = offenders(Registry)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("vector search ranks, scores and pivots codebooks through the ANN stages only") {
    val found = offenders(Stages)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("entry points build their sessions through the harness only") {
    val found = offenders(Harness)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
