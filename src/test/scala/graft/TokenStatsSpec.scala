package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.TokenStats

/** Pins the codegen [[TokenStats]] expression field-for-field against
  * the interpreted HOF formulation it replaced (the r16 verdict's
  * `expression == HOF` gate): every counter must agree on hand edge
  * cases AND a seeded corpus of adversarial strings (unicode,
  * supplementary plane, ellipses in both forms, overlapping dots,
  * whitespace runs, empty/blank docs). The HOF side is built from the
  * exact column formulas `gopherGate`/`qualityScore` used before the
  * rewrite, so a drift in either tokenization or counting breaks this
  * suite before it can break an oracle hash.
  */
class TokenStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4, overlay = None)

  override def afterAll(): Unit = spark.stop()

  private val stops = Seq("the", "a", "an", "and", "of")

  /** The pre-r17 interpreted formulation, column by column. */
  private def hofFrame(texts: Seq[String]) = {
    import spark.implicits._
    val inList = stops.map(s => s"'$s'").mkString("(", ", ", ")")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .withColumn("tk", split(trim(lower(col("text"))), "\\s+"))
      .select(col("id"),
        size(col("tk")).cast("long").as("n_words"),
        expr("aggregate(transform(tk, x -> CAST(length(x) AS BIGINT)), CAST(0 AS BIGINT), (a, b) -> a + b)")
          .as("chars"),
        expr("CAST(size(filter(tk, x -> x rlike '[a-z]')) AS BIGINT)")
          .as("alpha"),
        expr("CAST(size(array_distinct(tk)) AS BIGINT)").as("n_distinct"),
        expr(s"CAST(size(filter(tk, x -> x IN $inList)) AS BIGINT)")
          .as("stop_hits"),
        expr(s"CAST(size(array_distinct(filter(tk, x -> x IN $inList))) AS BIGINT)")
          .as("stop_distinct"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "#", "")) +
          (length(col("text")) -
            length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3 +
          (length(col("text")) -
            length(regexp_replace(col("text"), "…", ""))))
          .cast("long").as("n_sym"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast("long").as("n_punct"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[A-Z]", "")))
          .cast("long").as("n_upper"),
        length(col("text")).cast("long").as("n_chars"))
  }

  private def tsFrame(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), TokenStats(col("text"), stops).as("ts"))
      .select(col("id"), col("ts.*"))
  }

  private def assertEqual(texts: Seq[String]): Unit = {
    val cols = Seq("id", "n_words", "chars", "alpha", "n_distinct",
      "stop_hits", "stop_distinct", "n_sym", "n_punct", "n_upper",
      "n_chars")
    val got = tsFrame(texts).orderBy("id").collect()
    val want = hofFrame(texts).select(cols.map(col): _*)
      .orderBy("id").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      cols.zipWithIndex.foreach { case (c, i) =>
        assert(g.get(i) === w.get(i),
          s"field $c differs on text ${texts(w.getLong(0).toInt)}")
      }
    }
  }

  test("token stats == HOF formulation on hand edge cases") {
    assertEqual(Seq(
      "",
      "   ",
      "the",
      "The quick Brown FOX; jumps... over the lazy dog!?",
      "dots.... and….more… #tags ##",
      "…", "......", ".......",
      "a  a   a\tthe\nthe  an of of of",
      "UPPER ONLY TEXT",
      "12345 67890 !!!",
      "汉字 文本 的 测试 😀😀 mixed 漢字",
      " nbsp is not split",
      "é combining acute",
      "𝕊𝕦𝕡𝕡𝕝𝕖𝕞𝕖𝕟𝕥𝕒𝕣𝕪 𝖕𝖑𝖆𝖓𝖊 #…",
      "tab\tand\nnewline\r\nsplits"))
  }

  test("token stats == HOF formulation on a seeded random corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Seq("the", "a", "an", "and", "of", "word", "12345",
      "Mixed", "UPPER", "#", "...", "…", "x.y", "!?;:", "汉字", "😀",
      "é", "..", "....", ".", "", " ")
    val texts = (1 to 200).map { _ =>
      (1 to (1 + rnd.nextInt(40)))
        .map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(sep = if (rnd.nextBoolean()) " " else "  ")
    }
    assertEqual(texts)
  }

  test("driver-side compute matches the column path (both eval modes)") {
    val stopSet = new java.util.HashSet[String]()
    stops.foreach(stopSet.add)
    val texts = Seq("the quick... fox #… AND the", "")
    val viaCol = tsFrame(texts).orderBy("id").collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val r = TokenStats.compute(UTF8String.fromString(t), stopSet)
      (0 until 10).foreach { f =>
        assert(r.getLong(f) === viaCol(i).getLong(f + 1),
          s"field $f differs on '$t'")
      }
    }
  }

  test("marker counts == per-language HOF filter counts") {
    import spark.implicits._
    val sets = Seq(
      Seq("the", "a", "and"), Seq("der", "die"), Seq("el", "la", "a"))
    val rnd = new scala.util.Random(7)
    val vocab = Seq("the", "a", "and", "der", "die", "el", "la", "x",
      "DIE", "The", "汉", "", "a.")
    val texts = (1 to 120).map(_ => (1 to (1 + rnd.nextInt(20)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")) ++
      Seq("", "   ", "a a a der la")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .withColumn("tk", split(trim(lower(col("text"))), "\\s+"))
      .withColumn("mc", graft.functions.MarkerCounts(col("text"), sets))
    sets.zipWithIndex.foreach { case (set, i) =>
      val in = set.map(s => s"'$s'").mkString(", ")
      val bad = df.filter(col("mc")(i) =!=
        expr(s"CAST(size(filter(tk, x -> x IN ($in))) AS BIGINT)"))
      assert(bad.count() == 0L, s"set $i diverges from the HOF count")
    }
  }

  test("bpe count == regexp_extract_all match count") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pieces = Seq("abc", "XYZ", "123", "9", ".", "!?", " ", "\t",
      "\n", "汉字", "a1b2", "é", "…", "#", "", "x.y.z")
    val texts = (1 to 200).map(_ => (1 to (1 + rnd.nextInt(12)))
      .map(_ => pieces(rnd.nextInt(pieces.size))).mkString) ++
      Seq("", "   ", "abc123!def")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val bad = df.filter(graft.functions.BpeCount(col("text")) =!=
      expr("""CAST(size(regexp_extract_all(text,
        |  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS BIGINT)"""
        .stripMargin))
    assert(bad.count() == 0L)
  }

  test("sorted array pairs == HOF pair generation (long and string)") {
    import spark.implicits._
    val hof =
      """CASE WHEN size(__is) < 2 THEN array() ELSE
        |flatten(transform(sequence(1, size(__is) - 1), i ->
        |  transform(slice(__is, CAST(i + 1 AS INT),
        |      size(__is) - CAST(i AS INT)),
        |    y -> struct(element_at(__is, CAST(i AS INT)) AS x,
        |      y AS y)))) END""".stripMargin
    val rnd = new scala.util.Random(13)
    val longArrays = (1 to 80).map(_ =>
      (1 to rnd.nextInt(9)).map(_ => rnd.nextInt(50).toLong)
        .distinct.sorted) :+ Seq.empty[Long]
    val ldf = longArrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "__is")
    val lbad = ldf.select(col("id"),
        graft.functions.SortedArrayPairs(col("__is")).as("got"),
        expr(hof).as("want"))
      .filter(expr("to_json(got) != to_json(want)"))
    assert(lbad.count() == 0L, "long pair arrays diverge from HOF")
    val strArrays = (1 to 60).map(_ =>
      (1 to rnd.nextInt(7)).map(_ => s"w${rnd.nextInt(30)}")
        .distinct.sorted) :+ Seq.empty[String]
    val sdf = strArrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "__is")
    val sbad = sdf.select(col("id"),
        graft.functions.SortedArrayPairs(col("__is")).as("got"),
        expr(hof).as("want"))
      .filter(expr("to_json(got) != to_json(want)"))
    assert(sbad.count() == 0L, "string pair arrays diverge from HOF")
    // end-to-end: withinGroupPairs over a basket frame == HOF replica
    val baskets = (1 to 300).map(i =>
      ((i % 40).toLong, rnd.nextInt(25).toLong))
    val bdf = baskets.toDF("o", "p")
    val got = graft.operators.Association.withinGroupPairs(bdf, "o", "p")
      .groupBy("x", "y").count()
    val want = bdf.groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("__is"))
      .select(explode(expr(hof)).as("__p"))
      .select(col("__p.x").as("x"), col("__p.y").as("y"))
      .groupBy("x", "y").count()
    assert(got.exceptAll(want).count() == 0L &&
      want.exceptAll(got).count() == 0L)
  }

  test("gopher gate counts real ellipses as symbols (r16 advice fix)") {
    import spark.implicits._
    // 60 words incl. 7 real-ellipsis tokens → n_sym 7, 70 ≥ 60 → fail
    val dotty = ((1 to 53).map(_ => "the") ++ (1 to 7).map(_ => "…word"))
      .mkString(" ")
    val r = graft.operators.Curation
      .gopherGate(Seq((1L, dotty)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect()(0)
    assert(r.getLong(5) === 7L)
    assert(!r.getBoolean(6))
  }
}
