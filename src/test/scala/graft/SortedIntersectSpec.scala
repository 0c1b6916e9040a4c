package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The codegen'd graft_sorted_intersect expression: two-pointer merge-count
  * over ascending ARRAY<BIGINT>, used by the d13 verify stage. Must agree
  * with `size(array_intersect(...))` on every duplicate-free sorted input. */
class SortedIntersectSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("merge-count == size(array_intersect) on random sorted distinct arrays") {
    val rnd = new Random(7)
    val rows = (1 to 200).map { _ =>
      // draw from a small universe so intersections are non-trivial
      val a = rnd.shuffle((0L until 60L).toList).take(rnd.nextInt(30) + 1).sorted
      val b = rnd.shuffle((0L until 60L).toList).take(rnd.nextInt(30) + 1).sorted
      (a.toArray, b.toArray)
    }
    val df = rows.toDF("a", "b")
      .withColumn("native", call_function("graft_sorted_intersect", $"a", $"b"))
      .withColumn("builtin", size(array_intersect($"a", $"b")))
    assert(df.filter($"native" =!= $"builtin").count() === 0)
    // and at least some rows genuinely intersect, or the test proves nothing
    assert(df.filter($"native" > 0).count() > 0)
  }

  test("empty, disjoint, identical, and null-element inputs") {
    val df = Seq(
      (Array.empty[Long], Array(1L, 2L)),             // empty side -> 0
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),         // disjoint -> 0
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L))          // identical -> 3
    ).toDF("a", "b")
      .withColumn("c", call_function("graft_sorted_intersect", $"a", $"b"))
    assert(df.select("c").as[Int].collect().toSeq === Seq(0, 0, 3))
    // null elements sort first and match nothing (array_intersect semantics)
    val withNulls = spark.sql(
      """SELECT graft_sorted_intersect(array(CAST(NULL AS BIGINT), 1L, 2L),
        |                              array(CAST(NULL AS BIGINT), 2L, 9L)) AS c""".stripMargin)
    assert(withNulls.as[Int].collect().toSeq === Seq(1))
    // a null ARRAY input is null out
    val nullArr = spark.sql(
      "SELECT graft_sorted_intersect(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS c")
    assert(nullArr.collect().head.isNullAt(0))
  }

  test("rejects non-ARRAY<BIGINT> inputs at analysis") {
    val err = intercept[Exception] {
      Seq((Array(1.0), Array(2.0))).toDF("a", "b")
        .select(call_function("graft_sorted_intersect", $"a", $"b")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<bigint>"))
  }
}
