package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Curation, Ratings, TextAnalysis}

/** Specs for the preference-rating / classifier-eval / label-QA
  * family: Bradley–Terry MM trajectories replayed by a local integer
  * replica, adjacent-pair mining semantics, exact tie-corrected AUC
  * against brute-force pair counting, Cohen's kappa hand values, and
  * Chao1/Simpson vocabulary richness hand counts.
  */
class RatingsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4, overlay = None)

  override def afterAll(): Unit = spark.stop()

  // Local integer replica of Ratings.bradleyTerryMicro — the same
  // Long floor-divisions and single-double rescale, driver-side.
  private def btLocal(matches: Seq[(Long, Long)],
      rounds: Int): Map[Long, (Long, Long, Long)] = {
    val pw = matches.filter(m => m._1 != m._2)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val e = scala.collection.mutable.Map.empty[(Long, Long), Long]
    pw.foreach { case ((w, l), n) =>
      e((w, l)) = e.getOrElse((w, l), 0L) + n
      e((l, w)) = e.getOrElse((l, w), 0L) + n
    }
    val players = e.keys.map(_._1).toSeq.distinct
    val wins = players.map(p =>
      p -> pw.collect { case ((w, _), n) if w == p => n }.sum).toMap
    val nm = players.map(p =>
      p -> e.collect { case ((i, _), n) if i == p => n }.sum).toMap
    var s = players.map(p => p -> 1000000L).toMap
    for (_ <- 1 to rounds) {
      val d = players.map { i =>
        i -> e.collect { case ((ii, j), n) if ii == i =>
          n * 1000000000000L / math.max(s(i) + s(j), 1L)
        }.sum
      }.toMap
      val raw = players.map(i =>
        i -> wins(i) * 1000000000000L / math.max(d(i), 1L)).toMap
      val mx = raw.values.max
      s = players.map(i =>
        i -> math.round(raw(i).toDouble * 1000000.0 / mx.toDouble)).toMap
    }
    players.map(p => p -> (s(p), nm(p), wins(p))).toMap
  }

  private def btSpark(matches: Seq[(Long, Long)], rounds: Int,
      parts: Int = 4): Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    Ratings.bradleyTerryMicro(
        matches.toDF("w", "l").repartition(parts), "w", "l", rounds)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  private val arena: Seq[(Long, Long)] =
    // 1 dominant, 4 never wins, assorted cycles and repeats
    Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 2L), (1L, 4L),
      (2L, 4L), (3L, 4L), (1L, 3L), (2L, 1L))

  test("bradley-terry matches the local integer replica exactly") {
    assert(btSpark(arena, rounds = 3) === btLocal(arena, rounds = 3))
  }

  test("bradley-terry is partitioning-invariant") {
    assert(btSpark(arena, rounds = 3, parts = 1) ===
      btSpark(arena, rounds = 3, parts = 7))
  }

  test("bradley-terry orders dominance and zeroes the never-winner") {
    val out = btSpark(arena, rounds = 3)
    val s = out.view.mapValues(_._1).toMap
    assert(s(1L) === 1000000L) // the max player rescales to exactly 1e6
    assert(s(1L) > s(2L) && s(2L) > s(4L))
    assert(s(4L) === 0L) // W=0 is the MM fixed point at zero
    assert(out(4L)._3 === 0L && out(4L)._2 === 3L)
    assert(out(1L)._3 === 5L && out(1L)._2 === 6L)
  }

  test("bradley-terry drops self-matches as signal") {
    val withSelf = arena ++ Seq((2L, 2L), (4L, 4L), (4L, 4L))
    assert(btSpark(withSelf, rounds = 3) === btSpark(arena, rounds = 3))
  }

  test("adjacent preferences: strict-decrease pairs only, ties and same-player skipped") {
    import spark.implicits._
    val df = Seq(
      // judge 10: scores 9 > 7 = 7 > 5; tie (7,7) yields no pair but
      // bridges order by the tie-break id
      (10L, 1L, 9L, 100L), (10L, 2L, 7L, 101L), (10L, 3L, 7L, 102L),
      (10L, 4L, 5L, 103L),
      // judge 20: adjacent same player collapses (no self pair)
      (20L, 5L, 8L, 200L), (20L, 5L, 6L, 201L), (20L, 6L, 4L, 202L)
    ).toDF("judge", "player", "score", "id")
    val got = Ratings.adjacentPreferences(df, "judge", "player",
        "score", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (3L, 4L), (5L, 6L)))
  }

  // Brute-force AUC with ties: (concordant + ties/2) / (np*nn);
  // doubled to integers: u2 = 2*concordant + ties.
  private def aucBrute(rows: Seq[(Long, Long)]): (Long, Long, Long) = {
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 != 1L).map(_._1)
    val u2 = (for (p <- pos; n <- neg) yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    (pos.size.toLong, neg.size.toLong, u2)
  }

  test("aucReport equals brute-force pair counting, ties included") {
    import spark.implicits._
    val rows = Seq[(Long, Long)]((5L, 1L), (5L, -1L), (3L, 1L), (3L, 1L),
      (3L, -1L), (1L, -1L), (8L, 1L), (0L, -1L), (5L, 1L), (-2L, -1L))
    val (np, nn, u2) = aucBrute(rows)
    val got = Curation.aucReport(rows.toDF("score", "y"), "score", "y")
      .collect().head
    assert(got.getLong(0) === np && got.getLong(1) === nn)
    assert(got.getLong(2) === u2)
    assert(got.getDouble(3) ===
      BigDecimal(u2.toDouble / (2.0 * np * nn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("aucReport: perfect separation scores 1.0, reversal 0.0") {
    import spark.implicits._
    val perfect = Seq[(Long, Long)]((10L, 1L), (9L, 1L), (2L, -1L),
      (1L, -1L))
    assert(Curation.aucReport(perfect.toDF("score", "y"), "score", "y")
      .collect().head.getDouble(3) === 1.0)
    val reversed = perfect.map { case (s, y) => (s, -y) }
    assert(Curation.aucReport(reversed.toDF("score", "y"), "score", "y")
      .collect().head.getDouble(3) === 0.0)
  }

  test("aucReport crosses score-bucket boundaries correctly") {
    import spark.implicits._
    // scores straddle the 8192-wide prefix buckets and negatives
    val rows = Seq[(Long, Long)]((-9000L, -1L), (-1L, -1L), (0L, 1L),
      (8191L, -1L), (8192L, 1L), (50000L, 1L))
    val (np, nn, u2) = aucBrute(rows)
    val got = Curation.aucReport(rows.toDF("score", "y"), "score", "y")
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
      ((np, nn, u2)))
  }

  test("bradley-terry fuzz: 30 seeded random arenas match the local replica") {
    val rnd = new scala.util.Random(4242)
    (1 to 30).foreach { i =>
      val players = 2 + rnd.nextInt(6)
      val n = 1 + rnd.nextInt(25)
      val ms = (1 to n).map(_ =>
        (rnd.nextInt(players).toLong, rnd.nextInt(players).toLong))
        .filter(m => m._1 != m._2)
      if (ms.nonEmpty) {
        val rounds = 1 + rnd.nextInt(3)
        assert(btSpark(ms, rounds) === btLocal(ms, rounds),
          s"arena $i: $ms rounds=$rounds")
      }
    }
  }

  test("aucReport fuzz: 30 seeded random score sets match brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(31337)
    (1 to 30).foreach { i =>
      val n = 2 + rnd.nextInt(40)
      // coarse scores force heavy ties; ensure both classes present
      val rows = (1 to n).map(_ => (rnd.nextInt(6).toLong - 2,
        if (rnd.nextBoolean()) 1L else -1L)) ++
        Seq((0L, 1L), (1L, -1L))
      val (np, nn, u2) = aucBrute(rows)
      val got = Curation.aucReport(rows.toDF("score", "y"), "score", "y")
        .collect().head
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
        ((np, nn, u2)), s"set $i: $rows")
    }
  }

  test("raterAgreement: hand kappa and NULL on constant raters") {
    import spark.implicits._
    // group g: n=4, agree=2, r1+=2, r2+=2 → pe2=8, num=4*2-8=0 → kappa 0
    // group h: raters identical → kappa 1
    // group z: both raters constant-true → pe=1 → NULL
    val df = Seq(
      ("g", true, true), ("g", true, false), ("g", false, true),
      ("g", false, false),
      ("h", true, true), ("h", false, false),
      ("z", true, true), ("z", true, true)
    ).toDF("grp", "a", "b")
    val got = Curation.raterAgreement(df, "grp", col("a"), col("b"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(got("g") === Some(0.0))
    assert(got("h") === Some(1.0))
    assert(got("z") === None)
  }

  test("vocabRichness: hand-counted bigram tail, chao1 and simpson") {
    import spark.implicits._
    // source s: docs "a b a b" and "a b c" → bigrams: (a b)x3? no:
    // doc1: "a b","b a","a b"; doc2: "a b","b c"
    // counts: "a b"→3, "b a"→1, "b c"→1 → N=5, v=3, f1=2, f2=0
    // chao1 = 3 + 2*1/(2*1) = 4.0
    // simpson = (3*2 + 0 + 0) / (5*4) = 0.3
    val df = Seq(("s", "a b a b"), ("s", "a b c")).toDF("src", "text")
    val r = TextAnalysis.vocabRichness(df, "src", "text", n = 2)
      .collect().head
    assert(r.getLong(1) === 5L && r.getLong(2) === 3L)
    assert(r.getLong(3) === 2L && r.getLong(4) === 0L)
    assert(r.getDouble(5) === 4.0)
    assert(r.getDouble(6) === 0.3)
  }

  test("vocabRichness: sub-n-token docs contribute nothing; simpson NULL when N<2") {
    import spark.implicits._
    val df = Seq(("a", "only"), ("a", "two words"), ("b", "one"))
      .toDF("src", "text")
    val rows = TextAnalysis.vocabRichness(df, "src", "text", n = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("a").getLong(1) === 1L) // "two words" only
    assert(rows("a").isNullAt(6)) // N=1 → simpson undefined
    assert(!rows.contains("b")) // no grams at all → no row
  }
}
