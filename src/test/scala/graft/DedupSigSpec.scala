package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ann.{IvfPqR, KmeansIvf, Sq}
import graft.dedup.Dedup

/** In-place regeneration freshness for the derived artifacts: every
  * artifact is keyed by `Artifact.signature` of the sources it derives
  * from, so a corpus regenerated IN PLACE within one live session must
  * rebuild instead of serving stale dedup keys, eval truth, index codes,
  * MV partials or memory rows. Each case below builds + serves at
  * version 1, regenerates the SAME path with version-2 content, and pins
  * the in-place result row-identical to a never-cached fresh-directory
  * compute of the identical version-2 source. Results are compared as
  * multisets (sorted on every column): artifact reads are unordered.
  */
class DedupSigSpec extends SparkSpec {

  /** Tiny deterministic documents corpus; `version` changes which docs are
    * near-duplicates, so every dedup artifact's content changes with it. */
  private def writeDocs(dir: String, version: Int): Unit = {
    import spark.implicits._
    // per-doc-unique vocabulary: no cross-doc shingles except the copied
    // doc below, so the dup structure IS the version's distinguishing fact
    val base = (0 until 24).map { i =>
      val words = (0 until 12).map(j => s"v${version}d${i}w$j")
      (i.toLong, words.mkString(" "), "en", s"src${i % 3}", 60L)
    }
    // duplicate pairs shift with the version: v1 copies doc 0 -> 1,
    // v2 copies doc 2 -> 3 (different dup groups, different truth sets)
    val rows = base.map { case (id, text, lang, src, n) =>
      if (version == 1 && id == 1L) (id, base(0)._2, lang, src, n)
      else if (version == 2 && id == 3L) (id, base(2)._2, lang, src, n)
      else (id, text, lang, src, n)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** PqSigSpec's deterministic embeddings corpus, seeded by version. */
  private def writeVecs(dir: String, version: Int): Unit = {
    val rnd = new java.util.Random(20260818L + version)
    val dim = 32
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / nrm)
    }
    val rows = (0 until 300).map(i => Row(i.toLong, unit().toSeq, i % 10))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The sf0.001 `table`: whole at version 1, without the `drop` rows at
    * version 2. One part file, so a trained (k-means) artifact sees the
    * same partitioning in the in-place and the fresh directory. */
  private def writeFrom(table: String, drop: Column)(dir: String, version: Int): Unit = {
    val src = spark.read.parquet(s"$Sf/$table.parquet")
    (if (version == 1) src else src.filter(!drop))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  /** A multiset of rows, in a fixed order: sorted on every column. */
  private def rowsOf(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.toSeq.map(c => col(s"`$c`")): _*).collect().toSeq

  /** (what regenerates, its writer, the queries reading its artifacts);
    * the first query's answer must also differ from version 1's, or the
    * case could not tell a stale artifact from a fresh one. */
  private case class Regen(what: String, write: (String, Int) => Unit,
                           queries: Seq[(String, String => DataFrame)])

  private val cases = Seq(
    // d11 consumes sh3 + dup3; d7 consumes mhsig -> rare3 -> truth3 +
    // cand3 — between them the full shingle/signature/truth/candidate stack
    Regen("documents regeneration rebuilds the dedup artifact chain", writeDocs, Seq(
      "d11" -> (Dedup.d11DupTextFraction(spark, _)),
      "d7" -> (Dedup.d7LshRecall(spark, _)))),
    Regen("embeddings regeneration rebuilds the knn101 eval shortlist", writeVecs, Seq(
      "knn101" -> (graft.rag.Search.knnShortlist101(spark, _)))),
    Regen("embeddings regeneration rebuilds the SQ, residual-PQ and k-means IVF indexes",
      writeFrom("embeddings", col("vec_id") > 250), Seq(
        "a16" -> (IvfPqR.a16IvfPqResidualTopK(spark, _)),
        "a12" -> (Sq.a12SqRecall(spark, _)),
        "a4" -> (KmeansIvf.a4KnnIvfKmeans(spark, _)),
        "a18" -> (IvfPqR.a18IvfPqrKmeansTopK(spark, _)))),
    Regen("lineitem regeneration rebuilds the q23 partial-aggregate MV",
      writeFrom("lineitem", col("l_orderkey") % 7 === 0), Seq(
        "q23" -> (graft.analytics.Queries.q23IncrementalAgg(spark, _)))),
    Regen("events regeneration rebuilds the memory table",
      writeFrom("events", col("event_id") % 5 === 0), Seq(
        "memoryTable" -> (graft.memory.MemoryOps.memoryTable(spark, _)))))

  cases.foreach { c =>
    test(s"in-place ${c.what}") {
      val dir = tempDir("graft_sig").toString
      c.write(dir, 1)
      val v1 = c.queries.map { case (_, q) => rowsOf(q(dir)) }
      assert(v1.forall(_.nonEmpty))

      // regenerate the SAME path; the oracle is a never-cached fresh dir
      c.write(dir, 2)
      val fresh = tempDir("graft_sig_f").toString
      c.write(fresh, 2)

      val inPlace = c.queries.map { case (name, q) =>
        val got = rowsOf(q(dir))
        assert(got === rowsOf(q(fresh)),
          s"$name served a stale artifact after in-place regeneration")
        got
      }
      assert(inPlace.head !== v1.head,
        s"${c.queries.head._1}: version 2 produced the version-1 answer — artifact not data-keyed")
    }
  }
}
