package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.Pq
import graft.sources.{Artifact, Warehouse}

/** In-place regeneration freshness for the PQ artifact caches (r17,
  * verdict r16 #2): codesTable (pqcodes), the default-nlists ivfPqTable,
  * and the trained-codebook paths cache by (path, DATA SIGNATURE) — a
  * corpus regenerated IN PLACE at a different dimension within one live
  * session re-derives subDimOf from the new data, and before 7d1ef78 the
  * path-keyed tables then joined fresh-width LUTs against stale-width
  * codes with no schema error: silently wrong ADC scores. This spec is
  * the missing executable proof: generate at dim 32, serve, regenerate
  * the SAME path at dim 64, and pin the in-place result row-identical to
  * a never-cached fresh-directory compute of the identical corpus.
  * The registry's own contract (missing sources, generations,
  * single-flight builds) is pinned at the end.
  */
class PqSigSpec extends SparkSpec {

  /** RouterDimSpec's deterministic clustered-corpus construction: seeded
    * by dim only, so two writes of the same dim are content-identical —
    * which is exactly what lets the fresh-dir twin act as the oracle. */
  private def writeCorpus(dir: String, dim: Int, n: Int, k: Int = 16): Unit = {
    val rnd = new java.util.Random(20260816L + dim)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / nrm)
    }
    val centers = Array.fill(k)(unit())
    val rows = (0 until n).map { i =>
      val c = centers(i % k)
      val v = c.map(x =>
        x + 0.35f * rnd.nextGaussian().toFloat / math.sqrt(dim).toFloat)
      Row(i.toLong, v.toSeq, i % k % 10)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def sig(dir: String): String =
    Artifact.signature(spark, dir, Seq("embeddings.parquet"))

  test("in-place dim regeneration serves fresh PQ artifacts, not cached-width tables") {
    val dir = tempDir("graft_pqsig").toString
    writeCorpus(dir, dim = 32, n = 600)
    val sig32 = sig(dir)
    assert(Pq.subDimOf(spark, dir) === 32 / Pq.M)
    // build + serve every cached artifact flavor at dim 32: pqcodes (a5),
    // default-nlists ivfPqTable (a13), and the composed a22 serving shape
    val r32 = rowsOf(Pq.a5PqTopK(spark, dir))
    assert(r32.nonEmpty)
    rowsOf(Pq.a13IvfPqTopK(spark, dir)): Unit

    // regenerate the SAME path at dim 64 within the SAME session
    writeCorpus(dir, dim = 64, n = 600)
    assert(sig(dir) !== sig32,
      "regeneration must move the data signature or every cache aliases")
    assert(Pq.subDimOf(spark, dir) === 64 / Pq.M)

    // oracle: the identical dim-64 corpus in a NEVER-CACHED fresh dir
    val fresh = tempDir("graft_pqsig_fresh").toString
    writeCorpus(fresh, dim = 64, n = 600)

    // a5: pqcodes codesTable freshness — a stale dim-32 code table joined
    // against dim-64 LUTs changes ADC scores silently; row-identity to the
    // fresh-dir compute is the whole claim
    val inPlace5 = rowsOf(Pq.a5PqTopK(spark, dir))
    val fresh5 = rowsOf(Pq.a5PqTopK(spark, fresh))
    assert(inPlace5 === fresh5, "a5 served a stale-signature pqcodes table")
    assert(inPlace5 !== r32,
      "dim-64 regeneration produced the dim-32 answer — cache not keyed by data")

    // a13: the default-nlists ivfPqTable branch (the one branch that was
    // path-keyed before 7d1ef78)
    assert(rowsOf(Pq.a13IvfPqTopK(spark, dir)) ===
      rowsOf(Pq.a13IvfPqTopK(spark, fresh)),
      "a13 served a stale-signature default-nlists ivfPq table")

    // a22: the production two-stage serving shape composes codes + exact
    // rerank over the regenerated corpus
    assert(rowsOf(Pq.a22IvfPqRerank(spark, dir)) ===
      rowsOf(Pq.a22IvfPqRerank(spark, fresh)),
      "a22 composed a stale cached artifact after in-place regeneration")
  }

  test("k-means-trained codebook cache (pqkcb/pqkcodes) is signature-keyed") {
    val dir = tempDir("graft_pqsig_km").toString
    writeCorpus(dir, dim = 32, n = 400)
    rowsOf(Pq.a9PqKmeansTopK(spark, dir)): Unit
    writeCorpus(dir, dim = 64, n = 400)
    val fresh = tempDir("graft_pqsig_kmf").toString
    writeCorpus(fresh, dim = 64, n = 400)
    // deterministic seeded training on identical bytes: in-place == fresh
    assert(rowsOf(Pq.a9PqKmeansTopK(spark, dir)) ===
      rowsOf(Pq.a9PqKmeansTopK(spark, fresh)),
      "a9 served a stale-signature trained codebook or code table")
  }

  /** A one-row-per-id source whose content (and so signature) is `n`. */
  private def writeSource(dir: String, n: Int): Unit =
    spark.range(n).coalesce(1).write.mode("overwrite").parquet(s"$dir/src.parquet")

  private def specTable(kind: String, dir: String)(onBuild: => Unit = ()): DataFrame =
    Artifact.table(spark, kind, dir, Seq("src.parquet")) { t =>
      onBuild
      Warehouse.writeTable(spark.read.parquet(s"$dir/src.parquet"), t)
    }

  test("a missing source throws, naming its path") {
    val dir = tempDir("graft_sig_missing").toString
    val e = intercept[java.io.FileNotFoundException](
      specTable("specmissing", dir)(fail("built an artifact of absent data")))
    assert(e.getMessage.contains(s"$dir/src.parquet"))
  }

  test("a superseded generation stays readable; older ones are dropped") {
    val dir = tempDir("graft_sig_gen").toString
    def generations = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_specgen_")).toSeq
    writeSource(dir, 1)
    val g1 = specTable("specgen", dir)()
    writeSource(dir, 2)
    assert(specTable("specgen", dir)().count() === 2L)
    assert(g1.count() === 1L, "a resolved generation must survive one rebuild")
    writeSource(dir, 3)
    assert(specTable("specgen", dir)().count() === 3L)
    assert(generations.size === 2,
      s"two rebuilds must leave exactly two generations: $generations")
  }

  test("concurrent callers of one key cause one build") {
    val dir = tempDir("graft_sig_flight").toString
    writeSource(dir, 5)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val callers = (0 until 2).map { _ =>
      val th = new Thread(() => {
        start.await()
        specTable("specflight", dir) { builds.incrementAndGet(); Thread.sleep(200) }.count(): Unit
      })
      th.start()
      th
    }
    start.countDown()
    callers.foreach(_.join())
    assert(builds.get === 1)
    assert(specTable("specflight", dir)().count() === 5L)
  }

  test("the registry keys, refuses and rebuilds through a non-local FileSystem") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfake.impl", classOf[GraftFakeFs].getName)
    val local = tempDir("graft_sig_fakefs").toString
    val dir = s"graftfake://$local"
    val missing = intercept[java.io.FileNotFoundException](
      Artifact.signature(spark, dir, Seq("src.parquet")))
    assert(missing.getMessage.contains(s"graftfake:$local/src.parquet"))
    def fakeTable() = Artifact.table(spark, "specfake", dir, Seq("src.parquet")) { t =>
      Warehouse.writeTable(spark.read.parquet(s"$dir/src.parquet"), t)
    }
    writeSource(local, 1)
    val sig1 = Artifact.signature(spark, dir, Seq("src.parquet"))
    assert(fakeTable().count() === 1L)
    writeSource(local, 2)
    assert(Artifact.signature(spark, dir, Seq("src.parquet")) !== sig1,
      "a rewrite must move the signature read through the FileSystem")
    assert(fakeTable().count() === 2L, "the rewritten source must rebuild its artifact")
  }
}

/** A FileSystem under its own scheme (`graftfake://`) over local files:
  * the registry must reach data only through the Hadoop FileSystem API,
  * never through `java.io` paths. */
class GraftFakeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfake:///")
  override def getScheme: String = "graftfake"
}
