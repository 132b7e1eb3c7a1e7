package graft.ann

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Vec
import graft.sources.{Artifact, Warehouse}

/** D4: IVF with MLlib-trained coarse centroids (SURVEY.md §2.D) — the
  * production index-build path ("batch index build + similarity via MLlib").
  *
  * Train: k-means|| (seeded, maxIter bounded) over the embedding corpus —
  * distributed, linear passes, no driver-side data. Index: the model's
  * cluster assignment IS the inverted-list id; at warehouse scale the
  * assignment is written partitioned by list_id ([[graft.sources.Warehouse]]).
  * Search: probe the nprobe nearest centroids (squared-L2 via the native
  * dot: ||q-c||^2 = q.q - 2 q.c + c.c), exact cosine top-k inside lists.
  *
  * Not oracle-gated (k-means is not reproducible in the SQL oracle);
  * correctness is spec-tested: rows>0, bounded list fan-out, sims in
  * [-1,1], and recall against brute force above a floor.
  */
object KmeansIvf {

  val K = 8
  val NProbe = 3
  val TopK = 10

  /** The trained IVF index artifact: the assignment table is written
    * PARTITIONED by list_id — the physical inverted lists — and the
    * centroid table alongside it. Training
    * (k-means fit + corpus assignment) is index-build cost paid once per
    * corpus version; every a4 query after is a pruned probe. */
  private[ann] def ivfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(asg, cent) = Artifact.build(spark, Seq("ivfk", "ivfkc"), dir,
        Ann.Emb) { case Seq(ta, tc) =>
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("features", array_to_vector(col("v")))
        .withColumn("nrm", Vec.norm2Native(col("v")))
      val model = new KMeans()
        .setK(K).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("list_id")
        .fit(e)
      import spark.implicits._
      val centDf = model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray) }.toDF("cent_id", "cv")
        .withColumn("csq", Vec.dotNative(col("cv"), col("cv")))
      Warehouse.writePartitionedTable(
        model.transform(e).select("vec_id", "v", "nrm", "list_id"), ta, "list_id")
      Warehouse.writeTable(centDf, tc)
    }
    (spark.table(asg), spark.table(cent))
  }

  def a4KnnIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val (asg, centDf) = ivfIndex(spark, dir)
    // probe selection: nearest centroids by squared L2
    val queries = asg.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val probes = Stages.nearestL2(queries, centDf, col("qv"), col("cv"), NProbe)
      .select(col("query_id"), col("cent_id").as("list_id"), col("qv"), col("qnrm"))
    Ann.listTopK(asg, probes, TopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a4_knn_ivf_kmeans" -> ((s, d) => a4KnnIvfKmeans(s, d)),
  )
}
