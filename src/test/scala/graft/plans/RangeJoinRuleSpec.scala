package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The automatic interval-join bucketization rule: plan rewrite
  * (BNLJ → equi join) and bit-identical results vs the nested-loop
  * plan across boundary values, strict bounds, nulls, inverted and
  * empty intervals, point-side-on-the-right, and non-eligible joins.
  * Conf-gated — every test sets/unsets `spark.graft.rangeJoin
  * .bucketWidth` around its body.
  */
class RangeJoinRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Width = "spark.graft.rangeJoin.bucketWidth"

  private def withWidth[T](w: String)(body: => T): T =
    try { spark.conf.set(Width, w); body }
    finally spark.conf.unset(Width)

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.toLowerCase

  private val points = (0L to 300L).map(i => (i, i % 53)).toDF("pid", "v")
  private val intervals = Seq[(Long, java.lang.Long, java.lang.Long)](
    (0L, 0L, 10L),     // aligned at bucket edges
    (1L, 9L, 11L),     // straddles a bucket boundary (width 10)
    (2L, 25L, 25L),    // degenerate single point
    (3L, 40L, 30L),    // inverted: matches nothing
    (4L, null, 10L),   // null bound: matches nothing
    (5L, 48L, 52L))
    .toDF("iid", "lo", "hi")

  private def naiveCond(p: DataFrame, i: DataFrame) =
    p("v") >= i("lo") && p("v") <= i("hi")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rewrites the non-equi interval join to an equi join, same rows") {
    val expected = pairs(points.join(intervals, naiveCond(points, intervals)))
    assert(expected.nonEmpty)
    withWidth("10") {
      val df = points.join(intervals, naiveCond(points, intervals))
      val plan = planOf(df)
      assert(!plan.contains("nestedloop") && !plan.contains("cartesian"),
        s"rewrite did not fire:\n$plan")
      assert(pairs(df) == expected)
    }
  }

  test("bit-identical across widths, including width larger than the domain") {
    val expected = pairs(points.join(intervals, naiveCond(points, intervals)))
    for (w <- Seq("1", "3", "7", "1000")) withWidth(w) {
      assert(pairs(points.join(intervals, naiveCond(points, intervals)))
        == expected, s"width $w diverged")
    }
  }

  test("strict bounds (> and <) rewrite and match the nested-loop result") {
    val strict = (p: DataFrame, i: DataFrame) =>
      p("v") > i("lo") && p("v") < i("hi")
    val expected = pairs(points.join(intervals, strict(points, intervals)))
    withWidth("10") {
      val df = points.join(intervals, strict(points, intervals))
      assert(!planOf(df).contains("nestedloop"))
      assert(pairs(df) == expected)
    }
  }

  test("point side on the RIGHT of the join rewrites too") {
    val expected = pairs(intervals.join(points, naiveCond(points, intervals)))
    withWidth("10") {
      val df = intervals.join(points, naiveCond(points, intervals))
      assert(!planOf(df).contains("nestedloop"))
      assert(pairs(df) == expected)
    }
  }

  test("a join with a cross-side equality conjunct is left untouched") {
    withWidth("10") {
      val df = points.join(intervals,
        points("v") === intervals("iid") && points("v") >= intervals("lo"))
      assert(!df.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("explode"))
    }
  }

  test("extra same-side conjuncts survive the rewrite") {
    val cond = naiveCond(points, intervals) &&
      points("pid") % 2 === 0 && intervals("iid") =!= 2L
    val expected = pairs(points.join(intervals, cond))
    withWidth("10") {
      val df = points.join(intervals, cond)
      assert(!planOf(df).contains("nestedloop"))
      assert(pairs(df) == expected)
    }
  }

  test("an interval exploding past the bucket cap fails fast, named knob") {
    val wide = Seq((1L, 0L, 10_000_000L)).toDF("iid", "lo", "hi")
    withWidth("1") {
      val e = intercept[Exception] {
        points.join(wide, naiveCond(points, wide)).count()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("rangeJoin")), s"got: $e")
    }
  }

  test("a severely inverted interval yields no buckets, not a descending sequence") {
    // hi << lo: Sequence's default step would be -1, materializing
    // ~1e18 descending buckets — past Spark's array limit, an error
    // the one-sided width guard never saw (its width is negative).
    // The rewrite must emit an empty bucket array instead: inverted
    // intervals match nothing.
    val inv = Seq((1L, 1_000_000_000_000_000_000L, 0L)).toDF("iid", "lo", "hi")
    withWidth("1") {
      val df = points.join(inv, naiveCond(points, inv))
      assert(!planOf(df).contains("nestedloop"))
      assert(df.count() === 0L)
    }
  }

  test("a malformed width conf disables the rule instead of poisoning queries") {
    withWidth("30s") {
      val df = points.join(intervals, naiveCond(points, intervals))
      assert(planOf(df).contains("nestedloop") || planOf(df).contains("cartesian"))
      assert(pairs(df).nonEmpty)
    }
  }

  test("disabled (conf unset) leaves the nested-loop plan alone") {
    val df = points.join(intervals, naiveCond(points, intervals))
    assert(planOf(df).contains("nestedloop") || planOf(df).contains("cartesian"))
  }
}
