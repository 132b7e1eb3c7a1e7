package graft

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per concern, enforced on the main sources: every derived
  * table and driver-side memo goes through `graft.sources.Artifact`, the
  * one place that keys, builds and retires them; every vector search
  * ranks, scores cosines and pivots PQ codebooks through
  * `graft.ann.Stages`; every DuckDB oracle that grades them takes its
  * cosine guard, dot fold, centroid-assignment and top-k windows from the
  * stages' SQL twins (`Stages.Sql`); every entry point gets its session
  * from `graft.Harness`; plans are read only by Bench's structural
  * fingerprint, never as text; every filesystem commit (a rename) is
  * `graft.sources.Warehouse`'s; the ANN statistics and dial laws are
  * gathered and computed in `graft.ann.Ann` only; and the dedup chain's Jaccard verify,
  * rare-shingle cap, cluster table and cluster-size report, in Spark and
  * in their DuckDB twins, are `graft.dedup.DupStages`'. This scan fails,
  * listing the offending lines, when a rule's token appears in its scope
  * outside the rule's allowed file — the copies that left artifact
  * families keyed by path only and let the ANN files, the dedup flavours
  * and their oracles drift apart. */
class ArtifactGuardSpec extends AnyFunSuite {

  private val Registry = "graft/sources/Artifact.scala"
  private val Stages = "graft/ann/Stages.scala"
  private val Harness = "graft/Harness.scala"
  private val Bench = "graft/Bench.scala"
  private val Warehouse = "graft/sources/Warehouse.scala"
  private val DupStages = "graft/dedup/DupStages.scala"
  private val Ann = "graft/ann/Ann.scala"
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
    ("SparkSession.builder()", "a session builder", Harness, Everywhere),
    ("executedPlan.toString", "a plan-text reader", Bench, Everywhere),
    (".rename(", "a filesystem commit", Warehouse, Everywhere),
    ("""col("na") + col("nb") - col("i")""", "a Jaccard verify", DupStages, Everywhere),
    ("len(list_intersect(", "a DuckDB Jaccard verify", DupStages, Everywhere),
    ("HAVING count(*) <= $D7DfCap", "a rare-shingle cap", DupStages, Everywhere),
    ("""col("lbl").as("cluster_id")""", "a cluster-table body", DupStages, Everywhere),
    (""""cluster_size", count(lit(1)).over(""", "a cluster-size report", DupStages, Everywhere),
    ("occupancyEstimate(", "an ANN statistics gather", Ann, Everywhere),
    ("rerankRatioFor(", "an ANN dial law", Ann, Everywhere))

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

  test("plans are read through the fingerprint rendering only") {
    val found = offenders(Bench)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("filesystem commits go through the warehouse only") {
    val found = offenders(Warehouse)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the dedup chain's steps are written once, in the dedup stages") {
    val found = offenders(DupStages)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the ANN statistics and dial laws are computed once, in Ann") {
    val found = offenders(Ann)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
