package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.{BandedRangeJoin, GraftSparkExtensions}

/** Optimizer-rule spec: a pure bounded range join (no equi key) is
  * rewritten into two banded hash joins that return exactly the
  * nested-loop result — including sign edge cases around zero — and
  * joins that already carry an equi key are left alone.
  */
class BandedRangeJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4, overlay = None)

  override def afterAll(): Unit = spark.stop()

  private def withRule[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved :+ BandedRangeJoin
    try f finally spark.experimental.extraOptimizations = saved
  }

  test("pure range join rewrites to hash joins with identical results") {
    import spark.implicits._
    // negative ids cover the truncating-division edge cases the
    // rewrite's band-membership proof has to survive
    val a = (-500L until 1500L).map(i => (i, i * 2)).toDF("vec_id", "pa")
    val b = (-500L until 1500L).map(i => (i, i * 3)).toDF("b_id", "pb")
    def q = a.join(b,
      col("b_id") > col("vec_id") && col("b_id") <= col("vec_id") + 20)
    val baseline = q.agg(count(lit(1)), sum(col("pa") + col("pb"))).head()
    val naivePlan = q.queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin"), naivePlan)
    withRule {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(q.agg(count(lit(1)), sum(col("pa") + col("pb"))).head() ==
        baseline)
    }
  }

  test("joins with an existing equi key are untouched") {
    import spark.implicits._
    val a = (0L until 100L).map(i => (i, i % 7)).toDF("ka", "g")
    val b = (0L until 100L).map(i => (i, i % 7)).toDF("kb", "h")
    withRule {
      val q = a.join(b, col("g") === col("h") &&
        col("kb") > col("ka") && col("kb") <= col("ka") + 10)
      // one hash join, not a banded union of two
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Union"), plan)
      assert(q.count() ==
        a.crossJoin(b).filter(col("g") === col("h") &&
          col("kb") > col("ka") && col("kb") <= col("ka") + 10).count())
    }
  }

  test("banded rewrite equals the nested loop for random widths and data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { trial =>
      val w = rnd.nextInt(40) + 1
      val n = 150
      def keys() = (0 until n)
        .map(i => (i.toLong, (rnd.nextInt(600) - 300).toLong))
      val a = keys().toDF("ia", "ka")
      val b = keys().toDF("ib", "kb")
      def q = a.join(b,
        col("kb") > col("ka") && col("kb") <= col("ka") + w)
      def fingerprint(df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)), sum(col("ka") * 31 + col("kb"))).head()
      val naive = fingerprint(q)
      withRule {
        assert(!q.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"), s"trial $trial w=$w not rewritten")
        assert(fingerprint(q) == naive, s"trial $trial w=$w diverged")
      }
    }
  }

  test("GraftSparkExtensions registers the rule") {
    val ext = new SparkSessionExtensions
    new GraftSparkExtensions()(ext)
    val rules = org.apache.spark.sql.graftshim.optimizerRules(ext, spark)
    assert(rules.contains(BandedRangeJoin))
  }
}
