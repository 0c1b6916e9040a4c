package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RewriteHofDotProduct optimizer rule: user code written as the
  * declarative `aggregate(zip_with(...))` dot product must execute as the
  * codegen'd graft_dot expression, with identical values (the rewrite
  * preserves the left-to-right fold). */
class RulesSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def hofDot = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("HOF dot product is rewritten to the native DotProduct expression") {
    // inputs derive from a column (non-foldable) so constant folding
    // can't collapse the expression before the rule sees it
    val df = spark.range(1).select(
        array($"id" + 1.0, $"id" + 2.0, $"id" + 3.0).as("a"),
        array($"id" + 4.0, $"id" + 5.0, $"id" + 6.0).as("b"))
      .select(hofDot.as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), s"rule did not fire:\n$optimized")
    assert(!optimized.contains("aggregate("), s"HOF survived:\n$optimized")
    assert(df.collect().head.getDouble(0) === 32.0)
  }

  test("rewrite preserves values vs the un-rewritten HOF on real embeddings") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(100)
      .select($"vec_id", graft.functions.VectorFns.toDouble($"embedding").as("a"))
      .withColumn("b", $"a")
    val viaRule = emb.select($"vec_id", hofDot.as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = emb.select($"vec_id",
      graft.functions.VectorFns.dot($"a", $"b").as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaRule === native) // bit-identical, not approximate
    assert(viaRule.nonEmpty)
  }

  test("rewrite is observationally equivalent on length mismatch and null elements") {
    // zip_with pads the shorter array with null and null poisons the HOF
    // sum — DotProduct must return null on both shapes or the rewrite
    // would silently change results for exactly these inputs.
    val rows = Seq(
      (Array(1.0, 2.0), Array(3.0, 4.0, 5.0)),   // length mismatch
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)) // clean
    ).toDF("a0", "b0")
    // second row additionally gets a null element injected into `a`
    val df = rows
      .withColumn("a", when(size($"a0") === 3,
        array($"a0"(0), lit(null).cast("double"), $"a0"(2))).otherwise($"a0"))
      .withColumn("b", $"b0")
    val viaRule = df.select(hofDot.as("d")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val native = df.select(
      graft.functions.VectorFns.dot($"a", $"b").as("d")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(viaRule.toSeq === Seq(None, None))
    assert(native.toSeq === viaRule.toSeq)
  }

  test("rule leaves non-dot aggregates alone") {
    // a different zip lambda (x + y) must NOT rewrite
    val df = spark.range(1).select(
        array($"id" + 1.0, $"id" + 2.0).as("a"),
        array($"id" + 3.0, $"id" + 4.0).as("b"))
      .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x + y),
        lit(0.0), (acc, x) => acc + x).as("s"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_dot"))
    assert(df.collect().head.getDouble(0) === 10.0)
  }

  // The session recipe: graft's functions and rule come from
  // GraftSession.tune alone (operators never register them), so a session
  // that skipped it must fail loudly and one tune must fix it.
  private val graftFnQueries: Seq[(String, String, Any)] = Seq(
    ("graft_dot", "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))", 11.0),
    ("graft_sorted_intersect",
      "SELECT graft_sorted_intersect(array(1L, 2L, 3L), array(2L, 3L, 4L))", 2))

  test("an untuned session fails naming the graft function; tune installs it") {
    val fresh = spark.newSession()
    graftFnQueries.foreach { case (fn, sql, _) =>
      val err = intercept[org.apache.spark.sql.AnalysisException](fresh.sql(sql).collect())
      assert(err.getMessage.contains(fn), err.getMessage)
    }
    GraftSession.tune(fresh)
    graftFnQueries.foreach { case (_, sql, want) =>
      assert(fresh.sql(sql).head().get(0) == want, sql)
    }
  }

  test("tune is idempotent: twice leaves exactly one RewriteHofDotProduct") {
    val fresh = spark.newSession()
    def installed = fresh.experimental.extraOptimizations
      .count(_ == graft.plans.RewriteHofDotProduct)
    assert(installed === 0)
    GraftSession.tune(fresh)
    GraftSession.tune(fresh)
    assert(installed === 1)
  }
}
