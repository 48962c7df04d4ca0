package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Similarity, TextAnalysis}

/** Specs for Kneser–Ney cross-corpus LM scoring (probability-mass
  * sanity, backoff behavior, hand-replayed integer arithmetic) and
  * greedy k-center coreset selection (farthest-point semantics,
  * radius monotonicity, determinism under repartitioning).
  */
class CoresetLmSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4, overlay = None)

  override def afterAll(): Unit = spark.stop()

  test("kneser-ney: hand-replayed integer num/den on a tiny LM") {
    import spark.implicits._
    // train: "a b a b c" → bigrams ab:2, ba:1, bc:1; V=3, NN=3
    // hist: a→(ca 2, n1a 1), b→(ca 2, n1a 2); cont: b→1 (only a→b),
    // a→1, c→1
    val train = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    // score doc: "a b x" → bigrams: (a,b) seen; (b,x) backoff (b
    // seen, x unseen continuation)
    val scoreDf = Seq((10L, "a b x")).toDF("doc_id", "text")
    val r = TextAnalysis.kneserNeyScore(train, scoreDf, "doc_id", "text")
      .collect().head
    assert(r.getLong(1) === 2L) // n_bigrams
    assert(r.getLong(2) === 1L) // n_unseen: (b,x)
    val C = 3L + 3L + 1L // NN + V + 1 = 7
    // P(b|a): cab=2, ca=2, n1a=1, n1b=1 →
    //   num = (4·2−3)·7 + 3·1·(1+1) = 35+6 = 41; den = 4·2·7 = 56
    // P(x|b): cab=0, ca=2, n1a=2, n1b(x)=0 →
    //   num = 3·2·(0+1) = 6; den = 56
    def lpm(num: Long, den: Long): Long =
      math.round((math.log(num.toDouble) - math.log(den.toDouble)) * 1e6)
    val expect = -(lpm(41, C * 8) + lpm(6, C * 8)).toDouble / 2.0 / 1e6
    assert(math.abs(r.getDouble(3) - expect) < 1e-12)
  }

  test("kneser-ney: unseen history falls back to the continuation base") {
    import spark.implicits._
    val train = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    // "z a": history z unseen → P = (n1b(a)+1)/(NN+V+1) = 2/7
    val scoreDf = Seq((10L, "z a")).toDF("doc_id", "text")
    val r = TextAnalysis.kneserNeyScore(train, scoreDf, "doc_id", "text")
      .collect().head
    assert(r.getLong(1) === 1L && r.getLong(2) === 1L)
    val expect = -math.round(
      (math.log(2.0) - math.log(7.0)) * 1e6).toDouble / 1e6
    assert(math.abs(r.getDouble(3) - expect) < 1e-12)
  }

  test("kneser-ney: seen-history probabilities sum below 1 (proper sub-distribution)") {
    import spark.implicits._
    val train = Seq((1L, "a b a b c b a c a a")).toDF("doc_id", "text")
    // score every vocab word after history 'a'; Σ P(b|a) over the
    // FULL vocab must be ≤ 1 (it is 1 minus the unk continuation mass)
    val scoreDf = Seq("a", "b", "c").zipWithIndex
      .map { case (w, i) => (i.toLong * 10, s"a $w") }
      .toDF("doc_id", "text")
    val rows = TextAnalysis.kneserNeyScore(train, scoreDf, "doc_id",
      "text").collect()
    val pSum = rows.map(r => math.exp(-r.getDouble(3))).sum
    assert(pSum < 1.0 && pSum > 0.8)
  }

  test("kneser-ney: duplicated held-out text scores identically; lower-nll for in-domain") {
    import spark.implicits._
    val train = (1L to 20L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val scoreDf = Seq((100L, "the cat sat"), (101L, "the cat sat"),
      (102L, "mat the on cat")).toDF("doc_id", "text")
    val rows = TextAnalysis.kneserNeyScore(train, scoreDf, "doc_id",
        "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows(100L) === rows(101L))
    assert(rows(100L) < rows(102L)) // fluent order beats shuffled
  }

  test("moore-lewis: in-domain-like pool docs rank ahead of off-domain ones") {
    import spark.implicits._
    // in-domain (flag true): fluent "the cat sat on the mat" prose;
    // pool: two docs echoing the in-domain phrasing, two with inverted
    // word order the in-domain LM has never seen
    val docs = ((1L to 10L).map(i =>
        (i, "the cat sat on the mat and the dog sat too", true)) ++ Seq(
      (101L, "the cat sat on the mat", false),
      (102L, "the dog sat on the mat", false),
      (103L, "mat the on sat cat the", false),
      (104L, "too sat dog the and mat", false)
    )).toDF("doc_id", "text", "is_in")
    val got = graft.operators.TextAnalysis.mooreLewisSelect(
        docs, "doc_id", "text", col("is_in"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(4), r.getString(5)))).toMap
    assert(got.keySet === Set(101L, 102L, 103L, 104L))
    // echoes score strictly more in-domain than inversions
    assert(got(101L)._1 < got(103L)._1 && got(102L)._1 < got(104L)._1)
    assert(got(101L)._2 === "select")
    // the worst-scoring pool doc always lands in the reject tercile
    val worst = got.maxBy { case (id, (s, _)) => (s, id) }
    assert(worst._2._2 === "reject")
    assert(Set(103L, 104L).contains(worst._1))
  }

  test("moore-lewis: ml_score is exactly nll_in - nll_gen per row") {
    import spark.implicits._
    val docs = ((1L to 5L).map(i => (i, "a b c a b", true)) ++
      (11L to 16L).map(i => (i, s"b a c b a ${"xq" * (i % 3).toInt}",
        false))).toDF("doc_id", "text", "is_in")
    graft.operators.TextAnalysis.mooreLewisSelect(
        docs, "doc_id", "text", col("is_in"))
      .collect().foreach { r =>
        assert(r.getDouble(4) === r.getDouble(2) - r.getDouble(3))
      }
  }

  private def vecs(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("k-center: farthest-point traversal on a hand geometry") {
    // four unit-ish vectors: two near (1,0), one near (0,1), one at
    // (-1, 0.1). Seed = id 1 (lowest). Farthest from v1 by cosine is
    // the opposite vector, then the orthogonal one.
    val df = vecs(Seq(
      1L -> Seq(1.0, 0.0), 2L -> Seq(0.99, 0.14), 3L -> Seq(0.0, 1.0),
      4L -> Seq(-1.0, 0.1)))
    val got = Similarity.kCenterCoreset(df, "vec_id", "embedding", 3)
      .orderBy(col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got === Array((1L, 1L), (2L, 4L), (3L, 3L)))
  }

  test("k-center: radius sequence is non-increasing and seed radius NULL") {
    val df = vecs((1L to 40L).map(i =>
      i -> Seq(math.cos(i * 0.37), math.sin(i * 0.37), (i % 7) * 0.1)))
    val rows = Similarity.kCenterCoreset(df, "vec_id", "embedding", 6)
      .orderBy(col("rnk")).collect()
    assert(rows.length === 6)
    assert(rows.head.isNullAt(2))
    val radii = rows.tail.map(_.getLong(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
    assert(rows.map(_.getLong(1)).distinct.length === 6) // no re-picks
  }

  test("k-center: partitioning-invariant selection") {
    val base = (1L to 60L).map(i =>
      i -> Seq(math.cos(i * 1.7), math.sin(i * 0.9), math.cos(i * 0.3)))
    def run(parts: Int) = {
      import spark.implicits._
      Similarity.kCenterCoreset(
          base.toDF("vec_id", "embedding").repartition(parts),
          "vec_id", "embedding", 5)
        .orderBy(col("rnk")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(run(1) === run(7))
  }
}
