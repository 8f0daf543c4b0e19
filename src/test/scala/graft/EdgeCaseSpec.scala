package graft

import org.apache.spark.sql.functions._
import graft.ops._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** Degenerate-input behavior: operators must return empty/partial results,
  * never throw, when documents are too short to shingle, corpora are
  * empty, or the query set exceeds the corpus.
  */
class EdgeCaseSpec extends SparkSpec with TimeLimits {
  import spark.implicits._
  implicit val signaler: Signaler = ThreadSignaler

  test("dedup ops on documents too short to shingle") {
    val tiny = Seq((1L, "a b"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    assert(DedupOps.minhashSigArr(tiny).count() === 0) // no 3-shingles
    assert(DedupOps.minhashPairs(tiny).count() === 0)
    // "a b" has a bigram but no partner doc: inverted join yields no pair
    assert(DedupOps.ngramJaccardPairs(tiny).count() === 0)
  }

  test("driver contract: entry() yields rows; every query key has SQL or a rows-only note") {
    assert(SparkEntry.entry(spark).count() > 0)
    // Rows-only set is exactly the five declared engine-specific queries
    // (sketch estimates differ across engines by design).
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly === Set("q_agg_uniq_approx", "q_agg_quantile_approx",
      "q_pagerank_conv", "q_profile_approx", "q_agg_sketch_rollup"))
  }

  test("late-round-9 ops on degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nulls = Seq((1L, null: String), (2L, "short")).toDF("doc_id", "text")

    // CDC: null text excluded, sub-k docs have no gram positions.
    assert(DedupOps.cdcChunkStats(empty).count() === 0)
    assert(DedupOps.cdcChunkStats(nulls).count() === 0)
    assert(DedupOps.cdcSavings(empty).count() === 0) // no chunks → no row

    // HLL: empty input yields an empty register table; merging arrivals
    // into an empty persisted artifact keeps reg_base = 0 everywhere.
    val emptyKeys = Seq.empty[Long].toDF("k")
    assert(AggOps.hllRegisters(emptyKeys, "k").count() === 0)
    val hllPath = java.nio.file.Files
      .createTempDirectory("graft_hll_edge").toString
    AggOps.writeHllRegisters(emptyKeys, "k", hllPath)
    val merged = AggOps.hllMergeIncremental(
      Seq(1L, 2L, 3L).toDF("k"), "k", hllPath).collect()
    assert(merged.nonEmpty)
    merged.foreach { r =>
      assert(r.getLong(1) === 0L)              // reg_base
      assert(r.getLong(3) === r.getLong(2))    // merged = arrivals
    }

    // rankEval: empty corpus — every query reports all-zero metrics.
    val ev = CurationOps.rankEval(empty, Seq((1L, "anything"))).collect()
    assert(ev.length === 1 && (1 to 7).forall(i => ev.head.getLong(i) === 0L))

    // Gated decode: a gate nothing clears yields an empty fingerprint
    // set, and no decode error can surface (decode never runs).
    assert(MultimodalOps
      .imageGatedAHash(Seq((0L, "x")).toDF("doc_id", "text"),
        minPixels = Long.MaxValue).count() === 0)

    // Compaction on a fresh, append-free index is idempotent.
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_edge").toString
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    DedupOps.writeMinhashIndex(docs, idx)
    val before = spark.read.parquet(s"$idx/bands").collect().toSet
    DedupOps.compactMinhashIndex(idx)
    assert(spark.read.parquet(s"$idx/bands").collect().toSet === before)
  }

  test("round-9 ops on degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // Span dedup: empty and all-null corpora yield no rows, no throw.
    assert(DedupOps.substringDupStats(empty).count() === 0)
    assert(DedupOps.substringDupStats(nulls).count() === 0)
    // Budget select: zero-token and null docs never enter the ranking.
    assert(CurationOps.budgetSelect(empty).count() === 0)
    assert(CurationOps.budgetSelect(
      Seq((1L, ""), (2L, "  ")).toDF("doc_id", "text")).count() === 0)
    // Length buckets: empty in, empty out.
    assert(CurationOps.lengthBuckets(nulls).count() === 0)
    // PII report on a lang-null corpus groups under the null lang
    // rather than throwing.
    val langNull = Seq((1L, null.asInstanceOf[String], "u@ex.org x"))
      .toDF("doc_id", "lang", "text")
    assert(TextStatsOps.piiReport(langNull).count() === 4)
    // Classifier: a corpus with no alphabetic tokens trains an empty
    // weight table and scores nothing — empty result, no throw.
    val numeric = Seq((1L, "en", "123 456")).toDF("doc_id", "lang", "text")
    assert(TextStatsOps.linearClassifierApply(numeric).count() === 0)
    // Quantization audit: all-zero vectors are excluded by contract.
    val zeros = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(SimilarityOps.int8QuantAudit(zeros).count() === 0)
    // Hard negatives: single-label corpus has no valid negative.
    val oneLabel = Seq((0L, Seq(1.0f, 0.0f), 7), (1L, Seq(0.0f, 1.0f), 7))
      .toDF("vec_id", "embedding", "label")
    assert(SimilarityOps.hardNegatives(oneLabel).count() === 0)
    // Temperature mix: single-domain corpus takes the whole allocation.
    val one = CurationOps.temperatureMix(
      Seq((1L, "en", "t"), (2L, "en", "t")).toDF("doc_id", "lang", "text"))
      .collect()
    assert(one.length === 1 && one.head.getLong(4) === 1000000L)
  }

  test("curation ops on degenerate inputs") {
    import graft.ops.CurationOps
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    // Empty benchmark: nothing can contaminate.
    val noBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(CurationOps.decontaminate(docs, noBench).count() === 0)
    // Benchmark shorter than the gram width contributes no grams.
    val shortBench = Seq((9L, "a b c")).toDF("doc_id", "text")
    assert(CurationOps.decontaminate(docs, shortBench).count() === 0)
    // All-duplicate corpus: paragraph dedup keeps exactly one copy.
    val paras = DedupOps.paragraphDedup(DedupOps.chunkedParas(docs, 10))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(paras.toSeq === Seq((1L, 1L, "a b c d")))
    // pct=0 target drops the whole group; absent group keys keep others.
    val zero = CurationOps.mixResample(docs, "text",
      org.apache.spark.sql.functions.lit(0))
    assert(zero.count() === 0)
    // vocabSize beyond the vocabulary: everything is in-vocab.
    val cov = CurationOps.vocabCoverage(docs, vocabSize = 1000).collect()
    assert(cov.forall(_.getDouble(3) === 0.0))
  }

  test("empty corpus flows through every dedup operator") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DedupOps.exactDedup(empty).count() === 0)
    assert(DedupOps.minhashPairs(empty).count() === 0)
    assert(DedupOps.simhashPairs(empty).count() === 0)
    assert(DedupOps.ngramJaccardPairs(empty).count() === 0)
  }

  test("similarity search with fewer vectors than queries") {
    val few = Seq(
      (0L, Array.fill(64)(0.1f)),
      (1L, Array.fill(64)(-0.1f)),
      (2L, (0 until 64).map(i => if (i % 2 == 0) 0.1f else -0.1f).toArray)
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.bruteTopK(few, numQueries = 5, k = 10).collect()
    // 3 queries exist, each sees the other 2 → 6 rows, ranks 1..2
    assert(out.length === 6)
    assert(out.map(_.getLong(3)).forall(r => r == 1L || r == 2L))
    assert(SimilarityOps.lshTopK(few, numQueries = 5).count() <= 6)
  }

  test("sessionize on empty and single-event inputs") {
    val empty = Seq.empty[(Long, Long, Long, Double)]
      .toDF("event_id", "ts", "user_id", "value")
    assert(EventOps.sessionize(empty).count() === 0)
    val one = Seq((1L, 1700000000000000000L, 9L, 2.5))
      .toDF("event_id", "ts", "user_id", "value")
    val r = EventOps.sessionize(one).head()
    assert(r.getLong(2) === 1L && r.getDouble(5) === 2.5)
  }

  test("grep with a pattern that never matches") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    assert(TextOps.grep(docs, "text", "zzz[0-9]+").count() === 0)
  }

  test("histogram handles negative values with floor bucketing") {
    val df = Seq(("a", -15.0), ("a", -5.0), ("a", 5.0)).toDF("k", "v")
    val out = AggOps.histogram(df, "k", "v", 10.0).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(-2L -> 1L, -1L -> 1L, 0L -> 1L))
  }

  test("pagerank on a single edge") {
    val out = GraphOps.pageRankFixed(Seq((1L, 2L)).toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === 150000000000L) // no inlinks → base rank
  }

  test("connectedComponents on empty and single-edge inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(GraphOps.connectedComponents(empty).count() === 0)
    val one = GraphOps.connectedComponents(Seq((5L, 9L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === Map(5L -> 5L, 9L -> 5L))
  }

  test("scrub and tfidf on empty/degenerate documents") {
    val docs = Seq((1L, ""), (2L, "solo")).toDF("doc_id", "text")
    val s = TextStatsOps.scrub(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(s(1L) === 0L && s(2L) === 4L) // nothing redacted, lengths kept
    // tfidf: empty doc yields no terms; 'solo' df=1, tf=1 → weight 2e6 (N=2)
    val t = TextStatsOps.tfidfTopTerms(docs).collect()
    assert(t.length === 1 && t.head.getDouble(4) === 2000000.0)
    val none = TextStatsOps.tfidfTopTerms(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(none.count() === 0)
  }

  test("frame sampling of payloads smaller than one chunk") {
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val out = MultimodalOps.frameSampleStats(tiny).head()
    assert(out.getLong(1) === 1L && out.getLong(2) === 2L)
  }

  test("decode pipeline on degenerate ids (1x1 images, wrap-around)") {
    // id 0 → 1×1 image (the smallest PNG this tier can produce); resize
    // of an already-1×1 image must stay 1×1, not hit a 0-dim raster.
    val docs = Seq((0L, "x")).toDF("doc_id", "text")
    val row = MultimodalOps.decodeResizeStats(docs).collect().head
    assert(row.getAs[Long]("sum_width") === 1L)
    assert(row.getAs[Long]("sum_rwidth") === 1L)
  }

  test("embedNearDupPairs on empty and zero-norm corpora") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(SimilarityOps.embedNearDupPairs(empty).count() === 0)
    val zeros = Seq((1L, Array.fill(64)(0.0f)),
      (2L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    // zero-norm vectors are filtered before bucketing — no NaN cosines
    assert(SimilarityOps.embedNearDupPairs(zeros).count() === 0)
  }

  test("saltedJoin with empty sides") {
    val l = Seq.empty[(Long, Long)].toDF("k", "x")
    val r = Seq((1L, "p")).toDF("k", "y")
    assert(JoinOps.saltedJoin(l, r, "k", col("x")).count() === 0)
    assert(JoinOps.saltedJoin(r, l.toDF("k", "y2"), "k", col("y")).count() === 0)
  }

  test("round-5 text/curation ops on empty and degenerate corpora") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val tiny = Seq((1L, "solo"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(CurationOps.chunkOverlap(empty).count() === 0)
    assert(CurationOps.chunkOverlap(tiny).count() === 1) // only 'solo'
    assert(CurationOps.invertedIndex(empty).count() === 0)
    assert(TextStatsOps.lmScore(empty).count() === 0)
    assert(TextStatsOps.lmScore(tiny).count() === 0)     // no bigrams anywhere
  }

  test("round-5 relational ops on empty inputs") {
    val base = Seq((1L, "a")).toDF("k", "v")
    val noChanges = Seq.empty[(Long, String, String, Long)]
      .toDF("k", "v", "op", "seq")
    assert(CdcOps.mergeApply(base, noChanges, "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a")))
    val hist = CdcOps.scd2(base, noChanges, "k").head()
    assert(hist.getLong(2) === 0L && hist.getLong(4) === 1L) // v0, current
    val emptyBase = Seq.empty[(Long, String)].toDF("k", "v")
    assert(CdcOps.mergeApply(emptyBase,
      Seq((5L, "e", "I", 1L)).toDF("k", "v", "op", "seq"), "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((5L, "e")))
    assert(AggOps.profile(emptyBase, Seq("k", "v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet ===
      Set(("k", 0L, 0L), ("v", 0L, 0L)))
    assert(AggOps.tableDigest(emptyBase, "t", Seq("k")).head().getLong(1) === 0L)
  }

  test("round-5 graph/event ops on empty and tiny inputs") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.triangleCounts(noEdges).count() === 0)
    // one edge, no triangle
    assert(GraphOps.triangleCounts(
      Seq((1L, 2L)).toDF("src", "dst")).count() === 0)
    val noEvents = Seq.empty[(Long, Long, Long, Double)]
      .toDF("event_id", "ts", "user_id", "value")
      .withColumn("event_type", lit("view"))
    assert(EventOps.gapFill(noEvents).count() === 0)
    assert(EventOps.funnel(noEvents).count() === 0)
    val one = Seq((1L, 1700000000000000000L, 9L, 2.5))
      .toDF("event_id", "ts", "user_id", "value")
      .withColumn("event_type", lit("signup"))
    val f = EventOps.funnel(one).head()
    assert(f.getLong(4) === 1L) // depth 1, later steps null
    assert(EventOps.gapFill(one).count() === 1)
  }

  test("round-9 session ops on empty and degenerate inputs") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nullDoc = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // curation filters: empty corpora vanish; a null text row is dropped
    assert(CurationOps.gopherRules(CurationOps.lineWrap(noDocs)).count() === 0)
    assert(CurationOps.c4LineFilter(CurationOps.lineWrap(nullDoc)).count() === 0)
    // an empty-text doc must not ANSI-crash the div guards
    val emptyText = CurationOps.gopherRules(
      Seq((1L, "page")).toDF("doc_id", "page")
        .select(col("doc_id"), lit("").as("page"))).head()
    assert(emptyText.getLong(1) === 0L)
    // dedup family: empty corpora are silent
    assert(DedupOps.containmentPairs(noDocs).count() === 0)
    assert(DedupOps.noveltyStats(noDocs).count() === 0)
    assert(DedupOps.noveltyStats(nullDoc).count() === 0)
    // graph ops: empty edge sets yield empty results, no throw; the
    // loops read their round scalars from observed metrics, so a
    // metric that never arrives fails here instead of hanging
    failAfter(Span(120, Seconds)) {
      val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
      assert(GraphOps.hitsFixed(noEdges, 3).count() === 0)
      assert(GraphOps.personalizedPageRank(noEdges, 3, 2).count() === 0)
      assert(GraphOps.linkPredict(noEdges, 10).count() === 0)
      assert(GraphOps.kCore(noEdges, 2).count() === 0)
      assert(GraphOps.labelPropagation(noEdges).count() === 0)
      // the source alone is at depth / distance 0
      assert(GraphOps.bfsLevels(noEdges, 7L, 3).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq === Seq((7L, 0)))
      val noWeighted = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
      assert(GraphOps.ssspWeighted(noWeighted, 7L, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((7L, 0L)))
    }
    val noPrior = Seq.empty[(Long, Long)].toDF("node", "rank_fp")
    // warm start with an empty prior == cold start
    val cold = GraphOps.pageRankFixed(
      Seq((1L, 2L)).toDF("src", "dst"), 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val warm = GraphOps.pageRankWarmStart(
      Seq((1L, 2L)).toDF("src", "dst"), noPrior, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm === cold)
    // retrieval: empty index serve returns empty, not a crash
    val p = java.nio.file.Files.createTempDirectory("bm25empty").toString
    CurationOps.writeBm25Index(noDocs, p)
    assert(CurationOps.bm25TopKIndexed(spark, p,
      Seq((1L, "hash join"))).count() === 0)
    // rrf with one empty side degrades to the other list's order
    val a = Seq((1L, 10L, 1L)).toDF("q_id", "doc_id", "rnk")
    val b = Seq.empty[(Long, Long, Long)].toDF("q_id", "doc_id", "rnk")
    val fused = CurationOps.rrfFuse(a, b, 5).head()
    assert(fused.getLong(1) === 10L && fused.getLong(5) === 1L)
    // projection: the all-zero vector pair is filtered by d2 > 0
    val zeros = Seq((1L, Seq.fill(64)(0.0f)), (2L, Seq.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    assert(SimilarityOps.rpDistortion(zeros).count() === 0)
  }

  test("pqTopK with a corpus smaller than the codebook") {
    val few = (0 until 6).map { i =>
      val a = Array.fill(64)(0.0f); a(i) = 1.0f + i; (i.toLong, a.toSeq)
    }.toDF("vec_id", "embedding")
    // codebook = all 6 vectors; 5 queries over 6 vectors still rank
    val out = SimilarityOps.pqTopK(few, numQueries = 5, k = 10).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) !== r.getLong(1)))
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(SimilarityOps.pqTopK(empty).count() === 0)
  }

  test("pair-key ids past the encoded-int64 span take the wide-key branch") {
    // ids near 2^32: idSpan > EncodedPairMaxSpan, so the encoded
    // v·idSpan + w key would overflow int64 (ANSI throw). The
    // plan-build-time fallback must produce the same triangles and
    // link predictions as the small-id isomorph.
    val big = 4294967296L // 2^32
    def iso(ids: Seq[Long]) = Seq(
      (ids(0), ids(1)), (ids(1), ids(2)), (ids(0), ids(2)), // triangle
      (ids(2), ids(3))                                      // pendant
    ).toDF("src", "dst")
    val small = iso(Seq(0L, 1L, 2L, 3L))
    val wide = iso(Seq(big, big + 1L, big + 2L, big + 3L))
    val triS = GraphOps.triangleCounts(small).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val triW = GraphOps.triangleCounts(wide).collect()
      .map(r => (r.getLong(0) - big, r.getLong(1))).toMap
    assert(triW === triS)
    val lpS = GraphOps.linkPredict(small, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lpW = GraphOps.linkPredict(wide, 10).collect()
      .map(r => (r.getLong(0) - big, r.getLong(1) - big, r.getLong(2),
        r.getLong(3)))
    assert(lpW.toSeq === lpS.toSeq)
  }
}
