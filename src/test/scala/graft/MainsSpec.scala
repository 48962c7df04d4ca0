package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The pieces the battery mains share: the session factory,
  * Verify's dump loop and Bench's contract-line tail cap. */
class MainsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(4, overlay = None)

  override def afterAll(): Unit = spark.stop()

  test("Sessions.localConf: base confs, overlay applied when set, absent when unset") {
    val base = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    assert(Sessions.localConf(4, None) == base)
    assert(Sessions.localConf(4,
        Some(" spark.sql.shuffle.partitions = 9 ;no-equals; a.b=c=d")) ==
      base ++ Map("spark.sql.shuffle.partitions" -> "9", "a.b" -> "c=d"))
    // the specs' session ignores SPARK_GRAFT_SPARK_CONF
    Sessions.localConf(4, None).foreach {
      case (k, v) => assert(spark.conf.get(k) == v, k)
    }
  }

  test("Verify.dump: a throwing entry leaves an empty dir, not stale output, and is reported failed") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_vout_").toString
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("x")
    val boom = udf((x: Long) => { if (x >= 0) sys.error("boom"); x })
    val failsAtPlan: (SparkSession, String) => DataFrame = (_, _) => sys.error("boom")
    val failsAtRun: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).select(boom($"id").as("x"))
    val names = Seq("a", "b", "c")
    assert(Verify.dump(spark, "", out, names.map(_ -> ok)).isEmpty)
    assert(names.forall(n => new File(s"$out/$n").isDirectory))
    val failed = Verify.dump(spark, "", out,
      Seq("a" -> ok, "b" -> failsAtPlan, "c" -> failsAtRun))
    assert(failed == Seq("b", "c"))
    assert(spark.read.parquet(s"$out/a").count() == 3L)
    // an empty directory is what scripts/check.py reports as FAIL
    Seq("b", "c").foreach { n =>
      val d = new File(s"$out/$n")
      assert(d.isDirectory && d.list().isEmpty,
        s"$n: a failed entry must leave an empty dir, not the previous run's result")
    }
  }

  test("Bench.slowestPrefix stops at the first fragment that does not fit") {
    val results = Seq("a_very_long_name_x" -> 3.0,
      "another_long_name" -> 2.0, "q" -> 1.0)
    // 27 + 26 > 40 stops the map after the slowest entry, although
    // the fast short-named "q" (10) would still fit
    assert(Bench.slowestPrefix(results, 40) == Seq("\"a_very_long_name_x\":3.000"))
    assert(Bench.slowestPrefix(results, 63) == Seq(
      "\"a_very_long_name_x\":3.000", "\"another_long_name\":2.000", "\"q\":1.000"))
    assert(Bench.slowestPrefix(results, 26).isEmpty)
  }
}
