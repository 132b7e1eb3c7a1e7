package graft

import org.apache.spark.sql.types.{TimestampType, LongType}

/** The schema-drift guard (VERDICT r7 §next-round #3): every driver table
  * loads against Tables.Pinned, and the events `ts` normalization turns
  * any of the known physical shapes into a plain UTC TimestampType.
  * A drift in the regenerated testdata must surface HERE (and at every
  * loader call) as one named error, not as broken downstream queries.
  */
class TablesSchemaSpec extends SparkSpec {

  val all = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("all 10 driver tables load under the pinned schema contract") {
    // load() throws IllegalStateException("TESTDATA SCHEMA DRIFT...") on
    // any mismatch — a plain load of each table IS the assertion
    all.foreach { t =>
      val df = Tables.loaders(t)(spark, Sf)
      assert(df.columns.nonEmpty, s"$t loaded no columns")
    }
  }

  test("Pinned covers exactly the 10 driver tables") {
    assert(Tables.Pinned.keySet == all.toSet)
  }

  test("events.ts is normalized to TimestampType whatever the file stores") {
    val ts = Tables.events(spark, Sf).schema("ts").dataType
    assert(ts == TimestampType, s"events.ts surfaced as $ts")
  }

  test("normalized events.ts preserves the stored wall-clock micros") {
    // the raw file (read without normalization) and the normalized loader
    // must agree on unix micros under the UTC session — a tz-shifted cast
    // would silently move every event by the zone offset
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$Sf/events.parquet")
    val rawMicros = raw.schema("ts").dataType match {
      case LongType => raw.select((col("ts") / 1000L).cast("long")) // nanos file
      case _        => raw.select(col("ts").cast("string")) // compare as wall-clock text
    }
    val norm = Tables.events(spark, Sf)
    raw.schema("ts").dataType match {
      case LongType =>
        val a = rawMicros.as[Long](spark.implicits.newLongEncoder).head(5).toSeq
        val b = norm.select(unix_micros(col("ts")))
          .as[Long](spark.implicits.newLongEncoder).head(5).toSeq
        assert(a == b)
      case _ =>
        val a = rawMicros.as[String](spark.implicits.newStringEncoder).head(5).toSeq
        val b = norm.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .as[String](spark.implicits.newStringEncoder).head(5).toSeq
        // NTZ renders without zone; TimestampType renders in the UTC session —
        // equal text means the cast moved nothing
        assert(a.map(_.take(19)) == b.map(_.take(19)))
      }
  }

  test("a drifted schema fails with the named error") {
    // synthesize drift: write an events file with ts as string
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_drift").toString
    spark.read.parquet(s"$Sf/events.parquet")
      .withColumn("ts", col("ts").cast("string"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("TESTDATA SCHEMA DRIFT"))
    assert(e.getMessage.contains("events.ts"))
  }

  test("a non-events temporal drift (o_orderdate -> date) is convicted too") {
    // r9 verdict hygiene item: the shared temporal set must not let
    // orders/lineitem date columns drift to shapes the queries were never
    // tested against — date changes interval arithmetic and output types
    // silently across ~20 plans
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_drift2").toString
    spark.read.parquet(s"$Sf/orders.parquet")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalStateException](Tables.orders(spark, dir))
    assert(e.getMessage.contains("TESTDATA SCHEMA DRIFT"))
    assert(e.getMessage.contains("orders.o_orderdate"))
  }
}
