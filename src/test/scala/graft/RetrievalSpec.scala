package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Retrieval

/** Planted-ground-truth specs for BM25 retrieval and RRF fusion —
  * relevance ordering, the BM25 component behaviors (idf rarity,
  * length normalization, tf saturation), exact micro-quantized
  * scores, and partitioning-independence.
  */
class RetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4, overlay = None)

  override def afterAll(): Unit = spark.stop()

  private def corpus() = {
    import spark.implicits._
    Seq(
      (1L, "spark shuffle join optimizer"), // both query terms, len 4
      (2L, "spark shuffle tuning guide for the large cluster fleet"),
      (3L, "spark spark spark streaming watermark state"), // tf saturates
      (4L, "gardening tips for tomato seedlings in spring weather"),
      (5L, "shuffle"), // one term, shortest doc
      (6L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
  }

  private def queriesDf() = {
    import spark.implicits._
    Seq((100L, "spark shuffle")).toDF("query_id", "qtext")
  }

  test("bm25: doc with both query terms ranks first, zero-term docs absent") {
    val r = Retrieval.bm25TopK(corpus(), "doc_id", "text",
      queriesDf(), "query_id", "qtext", k = 10).collect()
    val ranked = r.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("doc_id"))
    // doc 1 matches both terms in a short doc → top; docs 4 and 6
    // share no query term → never retrieved
    assert(ranked.head == 1L)
    assert(!ranked.contains(4L) && !ranked.contains(6L))
    assert(ranked.toSet == Set(1L, 2L, 3L, 5L))
    // scores strictly ordered by construction (rnk follows score desc)
    val scores = r.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("score_micro"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("bm25: rarer term out-scores common term (idf)") {
    import spark.implicits._
    // "rare" appears in 1 of 4 docs, "common" in all 4; the docs are
    // otherwise symmetric (same length, tf=1)
    val docs = Seq(
      (1L, "common rare pad pad"),
      (2L, "common word pad pad"),
      (3L, "common word pad pad"),
      (4L, "common word pad pad")).toDF("doc_id", "text")
    val qs = Seq((1L, "rare common")).toDF("query_id", "qtext")
    val r = Retrieval.bm25TopK(docs, "doc_id", "text", qs,
      "query_id", "qtext", k = 4).collect()
      .sortBy(_.getAs[Long]("rnk"))
    assert(r.head.getAs[Long]("doc_id") == 1L)
    // doc 1 (rare+common) must beat doc 2 (common only) by more than
    // a tie-break: strictly larger score
    assert(r(0).getAs[Long]("score_micro") > r(1).getAs[Long]("score_micro"))
  }

  test("bm25: shorter doc wins at equal tf (length normalization)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "target"),
      (2L, "target plus seven more words of trailing padding here"),
      (3L, "unrelated filler so corpus stats have a third document"))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "target")).toDF("query_id", "qtext")
    val r = Retrieval.bm25TopK(docs, "doc_id", "text", qs,
      "query_id", "qtext", k = 2).collect().sortBy(_.getAs[Long]("rnk"))
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(r(0).getAs[Long]("score_micro") > r(1).getAs[Long]("score_micro"))
  }

  test("bm25: trailing whitespace and whitespace-only docs don't distort lengths") {
    import spark.implicits._
    // trim() strips only 0x20 spaces and split(limit=-1) keeps empty
    // fields, so docs ending in \t/\n produce a trailing "" token and
    // all-whitespace docs produce ["", ""] — the map-side dl must
    // count neither (the old explode+filter(length>=1) semantics).
    // The messy corpus must yield bit-identical scores to the clean
    // one: same dl per doc, same n_docs/len_total (whitespace-only
    // docs stay outside the corpus statistics).
    val clean = Seq(
      (1L, "spark shuffle join"), (2L, "spark tuning"), (3L, "shuffle"))
      .toDF("doc_id", "text")
    val messy = Seq(
      (1L, "spark shuffle join\t"), (2L, " spark tuning\n"),
      (3L, "shuffle"), (4L, "\t"), (5L, "   "))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "spark shuffle")).toDF("query_id", "qtext")
    def run(d: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25TopK(d, "doc_id", "text", qs, "query_id", "qtext",
        k = 10).collect().map(r => (r.getLong(0), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))).toSet
    assert(run(messy) == run(clean))
  }

  test("bm25 is partitioning-independent") {
    val base = Retrieval.bm25TopK(corpus(), "doc_id", "text",
      queriesDf(), "query_id", "qtext", k = 10).collect().toSet
    val shuffled = Retrieval.bm25TopK(corpus().repartition(7), "doc_id",
      "text", queriesDf(), "query_id", "qtext", k = 10).collect().toSet
    assert(base == shuffled)
  }

  test("rrf: doc ranked in both lists beats single-list docs; exact micros") {
    import spark.implicits._
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L))
      .toDF("query_id", "doc_id", "rnk")
    val dense = Seq((1L, 10L, 2L), (1L, 12L, 1L))
      .toDF("query_id", "doc_id", "rnk")
    val r = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rnk",
      k = 10).collect().sortBy(_.getAs[Long]("rnk"))
    // doc 10: 1/61 + 1/62; doc 12: 1/61; doc 11: 1/62
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 12L, 11L))
    assert(r(0).getAs[Long]("rrf_micro") ==
      math.round((1.0 / 61 + 1.0 / 62) * 1e6))
    assert(r(1).getAs[Long]("rrf_micro") == math.round(1.0 / 61 * 1e6))
    // absent-side ranks surface as 0, never null
    assert(r(1).getAs[Long]("rank_lex") == 0L &&
      r(1).getAs[Long]("rank_dense") == 1L)
    assert(r(2).getAs[Long]("rank_lex") == 2L &&
      r(2).getAs[Long]("rank_dense") == 0L)
  }

  test("ranking metrics: hand-computed MRR/recall/nDCG on a planted list") {
    import spark.implicits._
    val results = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "doc_id", "rnk")
    // doc 11 (rank 2) is the only retrieved relevant; doc 99 missed
    val relevance = Seq((1L, 11L), (1L, 99L)).toDF("query_id", "doc_id")
    val r = Retrieval.rankingMetrics(results, "query_id", "doc_id",
      "rnk", relevance, k = 10).collect()
    assert(r.length == 1)
    val row = r.head
    def w(i: Int): Long =
      math.round(1000000.0 / (math.log(i + 1.0) / math.log(2.0)))
    assert(row.getAs[Long]("n_rel") == 2L)
    assert(row.getAs[Long]("n_hits") == 1L)
    assert(row.getAs[Long]("mrr_micro") == 500000L) // 1e6 / rank 2
    assert(row.getAs[Long]("recall_micro") == 500000L) // 1 of 2
    val dcg = w(2) // one hit at rank 2
    val idcg = w(1) + w(2) // two relevant, ideal ranks 1..2
    assert(row.getAs[Long]("ndcg_micro") ==
      math.round(1000000.0 * dcg / idcg))
  }

  test("ranking metrics: zero-relevance and zero-hit queries report zeros") {
    import spark.implicits._
    val results = Seq((1L, 10L, 1L), (2L, 10L, 1L))
      .toDF("query_id", "doc_id", "rnk")
    // query 1: relevant set exists but nothing retrieved matches;
    // query 2: no relevance rows at all
    val relevance = Seq((1L, 99L)).toDF("query_id", "doc_id")
    val r = Retrieval.rankingMetrics(results, "query_id", "doc_id",
        "rnk", relevance, k = 10)
      .collect().sortBy(_.getAs[Long]("query_id"))
    assert(r(0).getAs[Long]("n_rel") == 1L &&
      r(0).getAs[Long]("n_hits") == 0L)
    assert(r(0).getAs[Long]("mrr_micro") == 0L &&
      r(0).getAs[Long]("recall_micro") == 0L &&
      r(0).getAs[Long]("ndcg_micro") == 0L)
    assert(r(1).getAs[Long]("n_rel") == 0L &&
      r(1).getAs[Long]("mrr_micro") == 0L &&
      r(1).getAs[Long]("recall_micro") == 0L &&
      r(1).getAs[Long]("ndcg_micro") == 0L)
  }

  test("ranking metrics: perfect ranking scores nDCG exactly 10^6") {
    import spark.implicits._
    val results = Seq((1L, 10L, 1L), (1L, 11L, 2L))
      .toDF("query_id", "doc_id", "rnk")
    val relevance = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "doc_id")
    val row = Retrieval.rankingMetrics(results, "query_id", "doc_id",
      "rnk", relevance, k = 10).collect().head
    assert(row.getAs[Long]("mrr_micro") == 1000000L)
    assert(row.getAs[Long]("recall_micro") == 1000000L)
    assert(row.getAs[Long]("ndcg_micro") == 1000000L)
  }

  test("hybrid dense side: PQ+rerank recall@20 vs brute force on the battery shape") {
    // p60/p61 run the PRODUCTION dense path (pqRerankTopK); brute
    // force survives here as the recall oracle — same corpus, same
    // query selection (vec_id % 100 = 0), same k=20 as the battery.
    // Random gaussian vectors are PQ's worst case (see the p37 spec);
    // the floor sits under the measured value to absorb testdata
    // regeneration drift.
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 20)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqRerankTopK(e, q, "vec_id", "embedding", 20)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    assert(recall >= 0.6, s"hybrid dense recall@20 $recall below floor")
  }

  test("rrf: equal scores tie-break ascending on doc_id") {
    import spark.implicits._
    val lex = Seq((1L, 21L, 1L), (1L, 20L, 2L))
      .toDF("query_id", "doc_id", "rnk")
    val dense = Seq((1L, 20L, 1L), (1L, 21L, 2L))
      .toDF("query_id", "doc_id", "rnk")
    // both docs score 1/61 + 1/62 → tie → doc 20 first
    val r = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rnk",
      k = 10).collect().sortBy(_.getAs[Long]("rnk"))
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(20L, 21L))
  }

  test("hard negatives: excluded pairs skipped, survivors re-ranked") {
    import spark.implicits._
    val ranked = Seq( // two queries, ranks 1..4 each
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L),
      (2L, 20L, 1L), (2L, 21L, 2L), (2L, 22L, 3L), (2L, 23L, 4L)
    ).toDF("query_id", "doc_id", "rnk")
    // q1 excludes its positive 11 and itself-as-doc 10;
    // q2 excludes nothing (all four are negatives, nNeg caps at 2)
    val ex = Seq((1L, 11L), (1L, 10L), (1L, 10L)) // dup must not matter
      .toDF("query_id", "doc_id")
    val r = Retrieval.hardNegatives(ranked, "query_id", "doc_id",
        "rnk", ex, "query_id", "doc_id", nNeg = 2)
      .select(col("query_id"), col("neg_rnk"), col("doc_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(r.toSeq == Seq(
      (1L, 1L, 12L), (1L, 2L, 13L), // survivors keep original order
      (2L, 1L, 20L), (2L, 2L, 21L)))
  }

  test("TopKAggregate == typed-Aggregator udaf on a seeded adversarial corpus") {
    import spark.implicits._
    // ties (same score distinct ids), duplicate (id, score) rows, NaN
    // and infinite scores, >2k rows per key so culls fire, multiple
    // partitions so merge paths run
    val rnd = new scala.util.Random(17)
    val rows = (1 to 5000).map { i =>
      val key = i % 7L
      val id = rnd.nextInt(400).toLong
      val score = rnd.nextInt(12) match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case 2 => Double.NegativeInfinity
        case _ => rnd.nextInt(50).toDouble // plenty of exact ties
      }
      (key, id, score)
    }
    val df = rows.toDF("q", "id", "s").repartition(11)
    for (k <- Seq(1, 3, 20)) {
      val got = df.groupBy("q")
        .agg(graft.operators.TopK.topK(k)(col("id"), col("s")).as("t"))
        .select(col("q"), expr("to_json(t)").as("j"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val want = df.groupBy("q")
        .agg(graft.operators.TopKReference.topKUdaf(k)(col("id"), col("s")).as("t"))
        .select(col("q"), expr("to_json(t)").as("j"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got === want, s"k=$k diverges from the udaf reference")
    }
  }
}
