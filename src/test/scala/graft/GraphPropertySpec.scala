package graft

import graft.operators.{Dedup, GraphOps}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY.md §5.3): random graphs and documents via
  * ScalaCheck generators (sampled with fixed seeds — deterministic runs),
  * invariants that must hold for every input. */
class GraphPropertySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val edgeGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 14)
    m <- Gen.choose(1, 50)
    es <- Gen.listOfN(m, for {
      u <- Gen.choose(0L, n.toLong)
      v <- Gen.choose(0L, n.toLong)
    } yield (u, v))
  } yield es

  private def brute(es: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val und = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    (for {
      a <- nodes; b <- nodes if a < b && und((a, b))
      c <- nodes if b < c && und((a, c)) && und((b, c))
    } yield (a, b, c)).toSet
  }

  private def assertBruteForce(tri: DataFrame, es: Seq[(Long, Long)]): Unit = {
    val got = tri.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (a, b, c) => a < b && b < c }, s"not canonical: $es")
    assert(got.length === got.toSet.size, s"duplicates: $es")
    assert(got.toSet === brute(es), s"mismatch vs oracle: $es")
  }

  test("triangles: sorted, unique, closed, equal to brute force — ∀ random graphs") {
    samples(edgeGen, 10).foreach { es =>
      assertBruteForce(GraphOps.triangles(es.toDF("src", "dst")), es)
      assertBruteForce(GraphOps.trianglesAuto(es.toDF("src", "dst")), es)
      // the same graph with a planted hub joined to every node and to 30
      // fresh leaves: the leaves are most of the nodes, so the median
      // degree is 1, max/median >= 33, and trianglesAuto must orient
      val hub = 100L
      val hubbed = es ++ es.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (hub, n)) ++
        (1L to 30L).map(l => (hub, hub + l))
      val tri = GraphOps.trianglesAuto(hubbed.toDF("src", "dst"))
      assert(TriangleBranch.oriented(tri), s"planted hub took the id-ordered join: $es")
      assertBruteForce(tri, hubbed)
    }
  }

  test("degree-ordered triangles == id-ordered triangles — ∀ random graphs") {
    // the forward algorithm must lose/duplicate nothing under ANY degree
    // distribution — tie-heavy small random graphs are the adversarial
    // case for the (degree, id) total order's tie-breaking
    samples(edgeGen, 10).foreach { es =>
      val ordered = GraphOps.trianglesDegreeOrdered(es.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(ordered === brute(es), s"forward algorithm mismatch: $es")
    }
  }

  test("degree-ordered triangles survive 64-bit hash node ids (no id arithmetic)") {
    // regression: the middle vertex was once s+t1+t2−min−max, which
    // overflows Long under ANSI mode for ids a hash-keyed graph uses
    val big = 4000000000000000000L
    val es = Seq((big, big + 1), (big, big + 2), (big + 1, big + 2))
      .toDF("src", "dst")
    val got = GraphOps.trianglesDegreeOrdered(es)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((big, big + 1, big + 2)))
  }

  test("triangles invariant under permutation, flips, duplication — ∀ random graphs") {
    samples(edgeGen, 6).zipWithIndex.foreach { case (es, i) =>
      val rnd = new scala.util.Random(1000L + i)
      val perturbed = rnd.shuffle(
        es.map { case (u, v) => if (rnd.nextBoolean()) (v, u) else (u, v) } ++
          rnd.shuffle(es).take(es.length / 2))
      val base = GraphOps.triangles(es.toDF("src", "dst")).collect().toSet
      val pert = GraphOps.triangles(perturbed.toDF("src", "dst")).collect().toSet
      assert(base === pert, s"perturbation changed triangles: $es")
    }
  }

  test("triangle delta fold == recompute — ∀ random graphs × random splits") {
    // dense little graphs + 40% batch fraction make triangles with 2 and
    // 3 new edges COMMON — the attribution cases the sf0.01 gate graph
    // (17 triangles, delta 3) barely exercises.
    samples(edgeGen, 12).zipWithIndex.foreach { case (es, i) =>
      val canon = GraphOps.canonicalEdges(es.toDF("src", "dst"))
        .withColumn("is_batch",
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("u"),
              org.apache.spark.sql.functions.col("v"),
              org.apache.spark.sql.functions.lit(i)),
            org.apache.spark.sql.functions.lit(5)) < 2)
      val tAll = GraphOps.triangles(es.toDF("src", "dst")).count()
      val old = canon.filter(!org.apache.spark.sql.functions.col("is_batch"))
        .select("u", "v")
      val tOld = GraphOps.trianglesFromCanonical(old).count()
      val delta = GraphOps.triangleDelta(canon).head().getLong(0)
      assert(tOld + delta === tAll,
        s"sample $i: day1 $tOld + delta $delta != recompute $tAll")
    }
  }

  test("component fold == recompute — ∀ random graphs × random splits") {
    // g27's quotient argument exercised where merges are common: 40%
    // batch fractions make multi-component merges and brand-new nodes
    // routine.
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    samples(edgeGen, 10).zipWithIndex.foreach { case (es, i) =>
      val canon = GraphOps.canonicalEdges(es.toDF("src", "dst"))
        .withColumn("is_batch",
          pmod(xxhash64(col("u"), col("v"), lit(i)), lit(5)) < 2)
      val old = canon.filter(!col("is_batch"))
        .select(col("u").as("src"), col("v").as("dst"))
      val batch = canon.filter(col("is_batch")).select("u", "v")
      val day1 = GraphOps.connectedComponents(old)
      val folded = GraphOps.foldComponents(day1, batch).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = GraphOps.connectedComponents(es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(folded === full, s"sample $i: fold != recompute")
    }
  }

  test("star CC == min-label CC == brute-force components — ∀ random graphs") {
    samples(edgeGen, 8).foreach { es =>
      val df = es.toDF("src", "dst")
      val (starDf, rounds) = GraphOps.connectedComponentsStar(df)
      val star = starDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val minl = GraphOps.connectedComponentsMinLabel(df)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === minl, s"algorithms disagree on $es")
      assert(rounds >= 1)
      // independent oracle: union-find over the undirected edge set
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      und.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val oracle = und.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      assert(star === oracle, s"star CC != union-find on $es")
    }
  }

  test("link-prediction scores == brute-force RA/AA over uncapped wedges — ∀ random graphs") {
    samples(edgeGen, 10).foreach { es =>
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val adj = und.toSeq.flatMap(e => Seq(e, e.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val deg = adj.view.mapValues(_.size.toLong).toMap
      def bitlen(x: Long): Long = 64 - java.lang.Long.numberOfLeadingZeros(x)
      val nodes = adj.keys.toSeq.sorted
      val expected = (for {
        u <- nodes; v <- nodes if u < v
        common = adj(u) & adj(v) if common.nonEmpty
      } yield ((u, v), (common.size.toLong,
        common.toSeq.map(w => 1000000L / deg(w)).sum,
        common.toSeq.map(w => 1000000L / bitlen(deg(w))).sum))).toMap
      val got = GraphOps.linkPredictionScores(es.toDF("src", "dst"),
          maxDegree = Long.MaxValue).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got === expected, s"edges: $es")
    }
  }

  test("star round at the fixed point returns the identical edge set — ∀ random graphs") {
    // the property the convergence check rests on: once the edge set is
    // a star forest (every big end has one edge, to a root that is no
    // big end), one more round changes nothing, so count and hash repeat
    // exactly there. Checked on the random graphs and on the same graphs
    // with a planted hub.
    import org.apache.spark.sql.functions.col
    def edgeSet(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    def starForest(es: Set[(Long, Long)]): Boolean =
      es.map(_._1).size == es.size && es.map(_._2).intersect(es.map(_._1)).isEmpty
    samples(edgeGen, 8).foreach { es =>
      val hub = 100L
      val hubbed = es ++ es.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (hub, n)) ++
        (1L to 30L).map(l => (hub, hub + l))
      Seq(es, hubbed).foreach { g =>
        var e = GraphOps.canonicalEdges(g.toDF("src", "dst"))
          .select(col("v").as("u"), col("u").as("v")).localCheckpoint()
        var rounds = 0
        while (!starForest(edgeSet(e))) {
          assert(rounds < 20, s"no star forest after 20 rounds: $g")
          e = GraphOps.starRound(e).localCheckpoint()
          rounds += 1
        }
        assert(edgeSet(GraphOps.starRound(e)) === edgeSet(e),
          s"one extra round moved the fixed point: $g")
      }
    }
  }

  test("star CC with an exhausted round budget still labels every node exactly once") {
    // a path needs ~log2(n) star rounds; cap below that and the edge set
    // is NOT a star forest — the labeling must still be one row per node
    val n = 64L
    val path = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val (labelsDf, rounds) = GraphOps.connectedComponentsStar(path, maxIter = 2)
    val labels = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rounds === 2)
    assert(labels.length === n, "one row per node even when unconverged")
    assert(labels.map(_._1).distinct.length === n)
    // and with enough budget the same graph fully converges to component 0
    val (conv, _) = GraphOps.connectedComponentsStar(path)
    assert(conv.collect().map(_.getLong(1)).toSet === Set(0L))
  }

  private val docGen: Gen[Seq[(Long, String)]] = {
    val word = Gen.oneOf("the", "fast", "key", "order", "sort", "merge", "scan")
    for {
      n <- Gen.choose(2, 6)
      docs <- Gen.listOfN(n, Gen.listOfN(12, word).map(_.mkString(" ")))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("minhash estimate within 0.35 of exact bigram Jaccard — ∀ random docs") {
    samples(docGen, 5).foreach { docs =>
      val df = docs.map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang")
      val exact = Dedup.ngramJaccardPairs(df, 0.0).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val est = Dedup.minhashLshPairs(df).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      est.foreach { case (pair, e) =>
        val x = exact.getOrElse(pair, 0.0)
        assert(math.abs(e - x) <= 0.35, s"$pair est=$e exact=$x docs=$docs")
      }
    }
  }
}
