package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.analytics.Queries
import graft.streaming.Streams
import graft.streaming.Streams.LiDelta

/** H11: streaming incremental MV maintenance — every micro-batch folds
  * into the stored q1 MV; after the stream drains, the MV must equal a
  * full batch recompute EXACTLY (decimal partial states; no tolerance).
  */
class StreamMvSpec extends SparkSpec {

  test("H11: stream-merged MV == batch recompute, bit-exact") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
    val li = Tables.lineitem(spark, Sf).selectExpr(cols: _*).as[LiDelta]
    val rows = li.collect()
    assert(rows.length > 100)

    val mvTable = "graft_h11_mv_spec"
    // dropStale clears the catalog entry AND the parquet files (state
    // directories and records) a previous JVM's run left behind — DROP
    // alone forgets the table but the next merge would resurrect its state
    graft.sources.Warehouse.dropStale(spark, mvTable)
    val stream = MemoryStream[LiDelta]
    val ckptDir = tempDir("graft_h11_ckpt").toString
    val q = Streams.maintainQ1Mv(stream.toDF(), mvTable, ckptDir)
    try {
      // three uneven micro-batches (incl. the whole tail in one) — merge
      // order and batch sizing must not matter
      val splits = Seq(rows.slice(0, 40), rows.slice(40, 1000), rows.drop(1000))
      splits.filter(_.nonEmpty).foreach { batch =>
        stream.addData(batch.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = Queries.q1MergeFinalize(spark.table(mvTable)).collect()
    val recomputed = Queries.q1MergeFinalize(
      Queries.q1Partials(li.toDF())).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == recomputed.toSeq,
      s"stream-merged MV diverged from batch recompute:\n" +
        s"streamed=${streamed.toSeq}\nrecomputed=${recomputed.toSeq}")

    // replay safety: foreachBatch is at-least-once, so re-delivering an
    // already-merged batch (same app incarnation + batchId) must be a
    // no-op, not a double-count — the failure-recovery path in miniature.
    // The replay batch is pinned deterministically: rows inside the
    // q1Partials shipdate window, so "merging it" provably changes state.
    val appId = Streams.appIdFor(ckptDir) // the production derivation, shared
    val cutoff = java.time.Instant.parse("1998-09-02T00:00:00Z").toEpochMilli
    val replayRows = rows.filter(_.l_shipdate.getTime <= cutoff).take(500)
    assert(replayRows.nonEmpty, "need in-window rows for a meaningful replay test")
    val replayDf = spark.createDataset(replayRows.toIndexedSeq).toDF()
    def marks(): Map[String, Long] = spark.table(mvTable)
      .select("marks").head().getMap[String, org.apache.spark.sql.Row](0)
      .view.mapValues(_.getLong(0)).toMap
    val before = Queries.q1MergeFinalize(spark.table(mvTable)).collect().toSeq
    val lastId = marks()(appId)
    Streams.mergeQ1Mv(replayDf, mvTable, lastId, appId) // replayed (stale) id
    val after = Queries.q1MergeFinalize(spark.table(mvTable)).collect().toSeq
    assert(after == before, "replaying a merged batch must not change the MV")
    // ...while a NEW batch id still applies
    Streams.mergeQ1Mv(replayDf, mvTable, lastId + 1, appId)
    val applied = Queries.q1MergeFinalize(spark.table(mvTable)).collect().toSeq
    assert(applied != before, "a genuinely new batch must merge")
    // ...and a fresh incarnation (new appId, batch ids restarting at 0)
    // must merge rather than be swallowed by the stale high-water mark
    val preFresh = Queries.q1MergeFinalize(spark.table(mvTable)).collect().toSeq
    Streams.mergeQ1Mv(replayDf, mvTable, 0L, appId + "_fresh")
    val postFresh = Queries.q1MergeFinalize(spark.table(mvTable)).collect().toSeq
    assert(postFresh != preFresh, "a new incarnation's batch 0 must merge")
    // ...and the fresh incarnation's merge must NOT have erased the first
    // app's high-water mark: a late replay from the still-live original
    // query (at-least-once re-delivery after its own crash) is still a
    // no-op even though another incarnation wrote in between
    assert(marks().keySet == Set(appId, appId + "_fresh"),
      s"per-app marks must accumulate, got ${marks()}")
    Streams.mergeQ1Mv(replayDf, mvTable, lastId + 1, appId) // cross-incarnation replay
    val postCross = Queries.q1MergeFinalize(spark.table(mvTable)).collect().toSeq
    assert(postCross == postFresh,
      "a replay from app A after app B wrote must still be a no-op")
    // mark retention: the registry is bounded (Delta-style) — the
    // least-recently-merged incarnation is evicted first and the current
    // writer always survives
    (1 to 4).foreach { i =>
      Streams.mergeQ1Mv(replayDf, mvTable, 0L, s"${appId}_r$i", maxApps = 3)
    }
    val m = marks()
    assert(m.size == 3, s"marks registry must be capped at maxApps: $m")
    assert(m.contains(appId + "_r4"), "the current writer must never be evicted")
    assert(!m.contains(appId), s"the least-recently-merged mark evicts first: $m")
  }
}
