package graft

import graft.dedup.Dedup

/** d12_dup_spans (r11, verdict #6): the substring-level dedup deliverable —
  * maximal cross-document duplicated spans with remove/keep verdicts.
  * Oracle-gated for values (three scales); this spec pins the semantic
  * invariants the hash can't explain on its own, plus the exchange-lean
  * plan shape the 100 TB contract requires. */
class D12SpanSpec extends SparkSpec {

  private lazy val rows = Dedup.d12DupSpans(spark, Sf).collect()

  test("spans are well-formed: ordered, non-overlapping, >= one shingle wide") {
    assert(rows.nonEmpty, "fixture must produce duplicate spans")
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      val spans = rs.map(r =>
        (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).sorted
      spans.foreach { case (s, e) =>
        assert(s >= 0 && e >= s + 2, s"doc $doc span ($s,$e) narrower than a 3-gram")
      }
      // maximality (r12, the r11 ADVICE fix): reported spans must not
      // overlap, touch, OR be token-adjacent — adjacent windows (shingle
      // gap exactly 3) now fuse, so consecutive spans always leave at
      // least one genuinely un-duplicated token between them
      spans.sliding(2).foreach {
        case Array((_, e1), (s2, _)) =>
          assert(s2 > e1 + 1,
            s"doc $doc spans touch or abut: end $e1 vs next start $s2")
        case _ =>
      }
    }
  }

  test("verdict is exactly the span-length threshold") {
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val expected = if (n >= Dedup.D12MinSpanTokens) "remove" else "keep"
      assert(r.getAs[String]("verdict") == expected,
        s"span of $n tokens got verdict ${r.getAs[String]("verdict")}")
      assert(n == r.getAs[Long]("span_end") - r.getAs[Long]("span_start") + 1)
    }
    assert(rows.exists(_.getAs[String]("verdict") == "remove"),
      "fixture must exercise the remove branch")
    assert(rows.exists(_.getAs[String]("verdict") == "keep"),
      "fixture must exercise the keep branch")
  }

  test("span bounds stay inside the document") {
    val lens = graft.Tables.documents(spark, Sf)
      .selectExpr("doc_id", "size(split(text, ' ')) as n")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    rows.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("span_end") < lens(doc),
        s"doc $doc span_end ${r.getAs[Long]("span_end")} beyond ${lens(doc)} tokens")
    }
  }

  test("token-adjacent windows fuse; a contiguous run is ONE span (r11 ADVICE)") {
    import spark.implicits._
    // doc 0 duplicates shingles at positions 2 and 5 (gap exactly 3):
    // token windows [2,4] and [5,7] are ADJACENT and must fuse into one
    // [2,7] span — pre-fix they graded as two independent spans, letting
    // a >= threshold contiguous run dodge removal. doc 1 holds the same
    // shingles at gap 6: genuinely separate spans stay separate.
    val dir = tempDir("graft_d12fix").toString
    Seq((0L, "a0 a1 t2 t3 t4 t5 t6 t7 b8 b9", "en", "src0", 30L),
        (1L, "t2 t3 t4 q0 q1 q2 t5 t6 t7", "en", "src0", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = Dedup.d12DupSpans(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(r => (r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).sorted.toSeq).toMap
    assert(got(0L) == Seq((2L, 7L)),
      s"gap-3 windows must fuse into one [2,7] span, got ${got(0L)}")
    assert(got(1L) == Seq((0L, 2L), (6L, 8L)),
      s"gap-6 windows must stay separate, got ${got(1L)}")
  }

  test("plan is exchange-lean: no pair join, island agg rides the window partitioning") {
    val plan = Dedup.d12DupSpans(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"pair join smuggled in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"hash-agg fallback:\n$plan")
    // exactly three hash exchanges: the positional-parse window (doc_id),
    // the df groupBy (hs), and the island-window rehash (doc_id) — the
    // (doc_id, island) groupBy must NOT add a fourth (subset clustering
    // is satisfied by the window's doc_id partitioning)
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 3,
      s"expected <= 3 hash exchanges, found $hashExchanges:\n$plan")
  }
}
