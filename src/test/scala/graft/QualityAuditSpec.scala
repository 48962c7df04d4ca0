package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Curation, Similarity}

/** Specs for the Gopher rule gate (per-rule hand cases, integer
  * threshold edges) and the label-silhouette embedding audit
  * (separated vs shuffled geometries, centroid hand math).
  */
class QualityAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4, overlay = None)

  override def afterAll(): Unit = spark.stop()

  private val goodDoc: String = {
    // 60 words, all alphabetic, mean length in [3,10], ≥2 Gopher
    // stopwords, no symbols
    val base = Seq("the", "model", "reads", "clean", "text", "with",
      "steady", "words", "and", "that")
    (1 to 6).flatMap(_ => base).mkString(" ")
  }

  private def gate(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    Curation.gopherGate(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
  }

  test("gopher gate: a clean document passes every rule") {
    val r = gate(Seq(1L -> goodDoc))(1L)
    assert(r.getLong(1) === 60L)
    assert(r.getBoolean(6))
  }

  test("gopher gate: each rule fails independently") {
    val short = "the model and that text" // 5 words < 50
    val longWords = (1 to 60).map(_ => "incomprehensibilities")
      .mkString(" ") // mean len 21 > 10
    val noStops = (1 to 60).map(_ => "word").mkString(" ") // 1 distinct stop? none
    val symbols = goodDoc + " " + (1 to 10).map(_ => "#").mkString(" ")
    val numeric = ((1 to 45).map(_ => "12345") ++
      (1 to 15).map(_ => "the")).mkString(" ") // alpha frac 0.25 < 0.8
    val g = gate(Seq(1L -> short, 2L -> longWords, 3L -> noStops,
      4L -> symbols, 5L -> numeric))
    assert(!g(1L).getBoolean(6)) // word count
    assert(!g(2L).getBoolean(6)) // mean word length
    assert(!g(3L).getBoolean(6)) // stopword presence
    assert(g(3L).getLong(4) === 0L)
    assert(!g(4L).getBoolean(6)) // symbol ratio (10 syms / 70 words)
    assert(g(4L).getLong(5) === 10L)
    assert(!g(5L).getBoolean(6)) // alphabetic fraction
  }

  test("gopher gate: integer threshold edges (ellipsis counting, 80% alpha)") {
    // exactly 50 words with one '...' → n_sym = 1, 10·1 ≤ 50 passes;
    // word count exactly at the lower bound passes
    val atEdge = ((1 to 48).map(_ => "the") ++ Seq("and", "dots...")
      ).mkString(" ")
    val r = gate(Seq(1L -> atEdge))(1L)
    assert(r.getLong(1) === 50L && r.getLong(5) === 1L)
    assert(r.getBoolean(6))
    // 41 alpha words of 51 → just above 80% passes; 40 of 51 fails
    // (4-char words keep the mean-length rule satisfied)
    def mix(alpha: Int) =
      ((1 to alpha).map(_ => "that") ++
        (1 to (50 - alpha)).map(_ => "1234")
        ).mkString(" ") + " and" // 51 words, alpha+1 alphabetic
    val g2 = gate(Seq(1L -> mix(40), 2L -> mix(39)))
    assert(g2(1L).getBoolean(6))
    assert(!g2(2L).getBoolean(6))
  }

  private def silhouette(rows: Seq[(Long, Int, Seq[Double])]) = {
    import spark.implicits._
    Similarity.labelSilhouette(
        rows.toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> r).toMap
  }

  test("label silhouette: separated clusters score positive margin, shuffled near zero") {
    // two tight orthogonal clusters → intra ≈ 1, other ≈ 0
    val sep = silhouette(Seq(
      (1L, 0, Seq(1.0, 0.0, 0.01)), (2L, 0, Seq(0.99, 0.0, -0.01)),
      (3L, 1, Seq(0.0, 1.0, 0.01)), (4L, 1, Seq(0.0, 0.98, -0.01))))
    assert(sep(0).getDouble(4) > 0.9 && sep(1).getDouble(4) > 0.9)
    // identical distribution across labels → margin ≈ 0 (own vs other
    // centroid nearly the same)
    val shuf = silhouette(Seq(
      (1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(0.0, 1.0)),
      (3L, 1, Seq(1.0, 0.0)), (4L, 1, Seq(0.0, 1.0))))
    assert(math.abs(shuf(0).getDouble(4)) < 1e-6)
  }

  test("label silhouette: hand centroid math on one label pair") {
    // label 0: (1,0) and (0,1) → centroid (0.5, 0.5); label 1: (1,1)
    val got = silhouette(Seq(
      (1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(0.0, 1.0)),
      (3L, 1, Seq(1.0, 1.0))))
    // member (1,0) vs own centroid (.5,.5): cos = .5/(1·√.5) = √.5
    // member (3) vs own centroid (1,1): cos = 1
    val c = math.sqrt(0.5)
    val intra0 = (math.round(c * 1e6) * 2) / 2.0 / 1e6
    assert(math.abs(got(0).getDouble(2) - BigDecimal(intra0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    assert(got(1).getDouble(2) === 1.0)
    // label 1's nearest-other = cos((1,1),(.5,.5)) = 1
    assert(got(1).getDouble(3) === 1.0 && got(1).getDouble(4) === 0.0)
  }

  test("label silhouette: single label reports NULL other/margin") {
    val got = silhouette(Seq((1L, 7, Seq(1.0, 0.0)),
      (2L, 7, Seq(0.9, 0.1))))
    assert(got(7).isNullAt(3) && got(7).isNullAt(4))
  }

  test("jl signs: deterministic ±1 matrix of the right shape") {
    val s1 = Similarity.jlSigns(8, 4)
    val s2 = Similarity.jlSigns(8, 4)
    assert(s1 === s2)
    assert(s1.length === 4 && s1.forall(_.length === 8))
    assert(s1.flatten.forall(x => x == 1.0 || x == -1.0))
    assert(s1.flatten.toSet.size === 2) // both signs occur
  }

  test("jl distortion: matches a local double replica exactly") {
    import spark.implicits._
    val vecs = (1L to 12L).map(i =>
      (i, (0 until 8).map(d => math.sin(i * 1.3 + d * 0.7))))
    val got = Similarity.jlDistortionAdjacent(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        inDim = 8, outDim = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val signs = Similarity.jlSigns(8, 3)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cosM(a: Seq[Double], b: Seq[Double]) =
      math.round(dot(a, b) / (math.sqrt(dot(a, a)) *
        math.sqrt(dot(b, b))) * 1e6)
    def proj(v: Seq[Double]) = signs.map(row => dot(v, row))
    val local = vecs.init.zip(vecs.tail).map { case ((i, va), (_, vb)) =>
      val (co, cp) = (cosM(va, vb), cosM(proj(va), proj(vb)))
      i -> ((co, cp, math.abs(co - cp)))
    }.toMap
    assert(got === local)
  }

  test("jl distortion: identical neighbors have zero distortion") {
    import spark.implicits._
    val v = (0 until 8).map(_.toDouble + 1)
    val got = Similarity.jlDistortionAdjacent(
        Seq((1L, v), (2L, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", inDim = 8, outDim = 4)
      .collect().head
    assert(got.getLong(1) === 1000000L && got.getLong(2) === 1000000L)
    assert(got.getLong(3) === 0L)
  }
}
