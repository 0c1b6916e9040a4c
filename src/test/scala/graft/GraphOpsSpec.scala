package graft

import graft.operators.GraphOps
import graft.sources.EdgeList
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Unit + oracle tests for the graph surface (SURVEY.md §5).
  *
  * Micro-graphs are hand-computable; 50.txt parity uses an independent
  * in-memory O(n³)-ish enumeration as the oracle (the reference repo
  * publishes no expected outputs) over a generated file of the same
  * shape ([[EdgeListFixture]]).
  */
class GraphOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def edgesDF(es: Seq[(Long, Long)]): DataFrame = es.toDF("src", "dst")

  private def triSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Independent oracle: brute-force triangle enumeration over a hash set. */
  private def bruteTriangles(es: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val undirected = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = undirected.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    (for {
      a <- nodes; b <- nodes if a < b && undirected((a, b))
      c <- nodes if b < c && undirected((a, c)) && undirected((b, c))
    } yield (a, b, c)).toSet
  }

  test("K3 yields exactly its one triangle (the §2.9 regression property)") {
    assert(triSet(GraphOps.triangles(edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L))))) ===
      Set((1L, 2L, 3L)))
  }

  test("K4 yields 4 triangles") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(triSet(GraphOps.triangles(edgesDF(k4))) ===
      Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("path graph has no triangles") {
    assert(triSet(GraphOps.triangles(edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L))))).isEmpty)
  }

  test("multi-edges and reversed duplicates don't duplicate triangles") {
    val es = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L))
    assert(triSet(GraphOps.triangles(edgesDF(es))) === Set((1L, 2L, 3L)))
  }

  test("self-loops never form degenerate triangles") {
    val es = Seq((1L, 1L), (1L, 2L), (2L, 3L), (1L, 3L), (2L, 2L))
    assert(triSet(GraphOps.triangles(edgesDF(es))) === Set((1L, 2L, 3L)))
  }

  test("node id 0 is a normal node (no sentinel reservation, unlike the reference)") {
    assert(triSet(GraphOps.triangles(edgesDF(Seq((0L, 1L), (1L, 2L), (0L, 2L))))) ===
      Set((0L, 1L, 2L)))
  }

  test("disconnected components are independent") {
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    assert(triSet(GraphOps.triangles(edgesDF(es))).size === 2)
  }

  test("degrees on K3 plus a pendant edge") {
    val d = GraphOps.degrees(edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d === Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("common neighbors: square 1-2-3-4 has cn(1,3)=cn(2,4)=2") {
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val cn = GraphOps.commonNeighbors(edgesDF(sq), minCommon = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cn === Map((1L, 3L) -> 2L, (2L, 4L) -> 2L))
  }

  test("link prediction scores: exact integer RA and bit-length AA on known wedges") {
    // square 1-2-3-4: pair (1,3) has centers 2 and 4, both degree 2 →
    // cn=2, ra = 2·(10^6 div 2), aa = 2·(10^6 div bitlen(2)=2)
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val scores = GraphOps.linkPredictionScores(edgesDF(sq), maxDegree = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(scores((1L, 3L)) === ((2L, 1000000L, 1000000L)))
    assert(scores((2L, 4L)) === ((2L, 1000000L, 1000000L)))
    // star hub 0 -> 1,2,3 with pendant 1-4: center 1 has degree 2 for
    // pair (0,4); hub 0 (degree 3, bitlen 2) centers pairs among 1,2,3
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L))
    val s2 = GraphOps.linkPredictionScores(edgesDF(star), maxDegree = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(s2((0L, 4L)) === ((1L, 500000L, 500000L)))
    assert(s2((1L, 2L)) === ((1L, 333333L, 500000L)))
    // degree cap drops hub-centered wedges entirely
    val capped = GraphOps.linkPredictionScores(edgesDF(star), maxDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((0L, 4L)))
  }

  test("node triangle counts on K4: every node in 3 triangles") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val counts = GraphOps.nodeTriangleCounts(edgesDF(k4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("clustering coefficient: K4 nodes are fully closed, path interiors are 0") {
    // K4: deg 3, 3 triangles per node -> cc = 2*3/(3*2) = 1 (1e6 micro)
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cc4 = GraphOps.clusteringCoefficient(edgesDF(k4))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(cc4 === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L, 4L -> 1000000L))
    // path 1-2-3: only node 2 has degree >= 2, with no triangle -> cc 0;
    // endpoints (degree 1) are excluded entirely
    val path = GraphOps.clusteringCoefficient(edgesDF(Seq((1L, 2L), (2L, 3L))))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(path === Map(2L -> 0L))
    // triangle + pendant: node 1 in K3 plus edge 1-4 -> deg 3, 1 triangle,
    // cc = 2/(3*2) = 1/3 (333333 micro, floor division)
    val tp = GraphOps.clusteringCoefficient(
      edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(tp === Map(1L -> 333333L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("graphStats: path is perfectly disassortative, pendant triangle at 3/5") {
    // path 1-2-3: no triangles; endpoint degrees (1,2) on every directed
    // edge -> assortativity exactly -1
    val path = GraphOps.graphStats(edgesDF(Seq((1L, 2L), (2L, 3L)))).head()
    assert(path.getAs[Long]("n_triangles") === 0L)
    assert(path.getAs[Long]("transitivity_micro") === 0L)
    assert(path.getAs[Double]("assortativity") === -1.0)
    // triangle 1-2-3 plus pendant 1-4: T=1, wedges=3+1+1=5 -> 3/5
    val tp = GraphOps.graphStats(
      edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))).head()
    assert(tp.getAs[Long]("n_triangles") === 1L)
    assert(tp.getAs[Long]("transitivity_micro") === 600000L)
    assert(tp.getAs[Long]("n_nodes") === 4L && tp.getAs[Long]("n_edges") === 4L)
  }

  test("adjacency lists are sorted distinct neighbors") {
    val adj = GraphOps.adjacency(edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L))))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(adj === Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 2L)))
  }

  test("commonNeighbors degree cap excludes wedges through hubs") {
    // star: hub 0 connects 1,2,3; plus edge 1-4 making node 1 degree 2
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L))
    val uncapped = GraphOps.commonNeighbors(edgesDF(star), minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set((1L, 2L), (1L, 3L), (2L, 3L), (0L, 4L)))
    // cap 2 removes the hub (degree 3): only wedges via low-degree nodes stay
    val capped = GraphOps.commonNeighbors(edgesDF(star), minCommon = 1, maxDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((0L, 4L)))
  }

  test("50.txt parity with independent brute-force oracle") {
    // 50 lines over 12 nodes: dense enough that many triangles form, with
    // the duplicate and reversed edges of the paper's 50.txt shape
    val path = EdgeListFixture.write("edges50", nEdges = 50, nNodes = 12, seed = 50L)
    val df = EdgeList.read(spark, path)
    val es = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(es.length === 50)
    assert(bruteTriangles(es).nonEmpty, "fixture forms no triangle — weak test")
    assert(triSet(GraphOps.triangles(df)) === bruteTriangles(es))
  }

  test("maxSplitBytes bounds input split size without changing results") {
    // 100k edge lines of two 9-digit ids are 2.0 MB (the paper's 100k.txt
    // is ~1.8 MB): a 256 KiB split cap must yield at least 7 scan
    // partitions — the reference's per-run split-size knob, §2.1 — and
    // the parsed edges must be identical to the default read
    val path = EdgeListFixture.write("edges100k", nEdges = 100000,
      nNodes = 5280, seed = 100000L)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(path)) >= 1800000L)
    val capped = EdgeList.read(spark, path, maxSplitBytes = Some(256L << 10))
    assert(capped.rdd.getNumPartitions >= 7)
    val default = EdgeList.read(spark, path)
    assert(capped.count() === default.count())
    assert(capped.exceptAll(default).isEmpty && default.exceptAll(capped).isEmpty)
  }

  test("connectedComponents: min-label fixed point on disjoint shapes") {
    // triangle {1,2,3}, chain 10-11-12-13, isolated pair {20,21}
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 13L), (20L, 21L))
    val cc = GraphOps.connectedComponents(edgesDF(es))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("pageRankPpb: symmetric graphs give equal ranks; hubs outrank leaves") {
    // K3: perfect symmetry -> every node keeps SCALE/3
    val k3 = GraphOps.pageRankPpb(edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 1L))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(k3.values.toSet.size === 1)
    assert(math.abs(k3(1L) - 1000000000L / 3) < 3)
    // star: center must outrank leaves, ranks conserved up to int truncation
    val star = GraphOps.pageRankPpb(edgesDF(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star(0L) > star(1L))
    assert(star(1L) === star(2L) && star(2L) === star(3L) && star(3L) === star(4L))
    val total = star.values.sum
    assert(total > 900000000L && total <= 1000000000L)
  }

  test("personalized PageRank: sparse frontier grows one hop per round, mass stays near the seed") {
    // path 0-1-2-...-9, seed = node 0 (the only node ≡ 0 mod 100):
    // after 3 rounds only nodes within 3 hops of the seed hold rank
    val path = edgesDF((0L to 8L).map(i => (i, i + 1)))
    val one = GraphOps.personalizedPageRankPpb(path, seedMod = 100, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one.keySet === Set(0L, 1L), s"1-round frontier: $one")
    val ppr = GraphOps.personalizedPageRankPpb(path, seedMod = 100, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ppr.keySet === Set(0L, 1L, 2L, 3L), s"3-round frontier: $ppr")
    // per-round ranks oscillate with walk parity on a path, so no
    // per-node monotonicity — but the seed's 1-hop ball must hold the
    // bulk of the mass, and everything reachable holds some
    assert(ppr.values.forall(_ > 0))
    assert(ppr(0L) + ppr(1L) > 3L * (ppr(2L) + ppr(3L)),
      s"mass should concentrate within one hop of the seed: $ppr")
  }

  test("kCore: peels pendants and chains; K4 is its own 3-core") {
    // K4 with a pendant chain hanging off node 0: 3-core = exactly K4,
    // and the chain peels one layer per round (peeling depth > 1)
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val chain = Seq((0L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val (core3, rounds3) = GraphOps.kCore(edgesDF(k4 ++ chain), 3)
    val got3 = core3.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got3 === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    assert(rounds3 >= 2) // chain nodes go in the first peel, +1 to detect fixpoint
    // 2-core of a pure path is empty, and takes ceil(len/2) peels
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val (core2, rounds2) = GraphOps.kCore(edgesDF(path), 2)
    assert(core2.count() === 0)
    assert(rounds2 === 4) // ends peel inward one layer per round, +1 to detect
    // a cycle survives 2-core intact in one round
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val (coreC, _) = GraphOps.kCore(edgesDF(cyc), 2)
    assert(coreC.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("invariance: permutation + direction flips + duplicate injection") {
    val rnd = new scala.util.Random(42)
    val base = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val expected = bruteTriangles(base)
    val perturbed = rnd.shuffle(
      base.map { case (u, v) => if (rnd.nextBoolean()) (v, u) else (u, v) } ++
        base.take(15))
    assert(triSet(GraphOps.triangles(edgesDF(perturbed))) === expected)
  }

  /** Independent oracle: BFS over an adjacency map, |B(v, hops)| per node. */
  private def bruteReach(es: Seq[(Long, Long)], hops: Int): Map[Long, Long] = {
    val undirected = es.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1)).distinct
    val adj = undirected.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    adj.keys.map { root =>
      var seen = Set(root); var frontier = Set(root)
      for (_ <- 1 to hops) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      root -> seen.size.toLong
    }.toMap
  }

  test("khopReach: path graph counts, self included; hops=1 is degree+1") {
    // path 1-2-3-4-5: B(1,2)={1,2,3}, B(3,2)=all five
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = GraphOps.khopReach(edgesDF(path), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 3L, 2L -> 4L, 3L -> 5L, 4L -> 4L, 5L -> 3L))
    val deg1 = GraphOps.khopReach(edgesDF(path), 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(deg1 === Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 2L))
  }

  test("khopReach matches BFS oracle on random graphs; monotone in hops") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(80)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    for (h <- 1 to 3) {
      val got = GraphOps.khopReach(edgesDF(es), h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === bruteReach(es, h), s"hops=$h")
    }
  }

  test("skewed derived graph is genuinely hub-skewed: max/median degree >= 100") {
    // g18-g21's gate value rests on the derived graph actually having the
    // reference experiment's shape (Twitter-skew deg^2 hub blowup). The
    // g21 summary row certifies it: at sf0.01 the cube-ramp derivation
    // measures max degree 691 vs median 3 (ratio 230).
    val row = SparkEntry.queries("g21_skew_degree_stats")(
      spark, "/root/testdata/sf0.01").collect().head
    val (nNodes, maxDeg, medDeg, ratio) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nNodes > 1000)
    assert(medDeg >= 1)
    assert(ratio === maxDeg / medDeg)
    assert(ratio >= 100, s"max/median degree $maxDeg/$medDeg = $ratio below 100")
  }

  test("hyperballReach: exact arm matches khopReach, every node within bound") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val hb = GraphOps.hyperballReach(edgesDF(es), 2).collect()
    val exact = GraphOps.khopReach(edgesDF(es), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hb.nonEmpty)
    hb.foreach { r =>
      val (root, nExact, est, bound) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))
      assert(nExact === exact(root), s"exact-arm drift at $root")
      assert(bound === 1, s"node $root: est $est vs exact $nExact out of bound")
    }
  }

  // ---- g24: DOULION sampled triangle estimate --------------------------

  private def sampledRow(es: Seq[(Long, Long)], invP: Int) = {
    val r = GraphOps.sampledTriangles(edgesDF(es), invP).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  test("sampledTriangles: invP=1 recovers the exact count") {
    val k8 = for (a <- 1L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val (eTot, eS, triS, est) = sampledRow(k8, 1)
    assert(eTot === 28L && eS === 28L)
    assert(triS === 56L && est === 56L) // C(8,3)
  }

  test("sampledTriangles: deterministic, and estimate lands near truth on K40") {
    // K40: 780 edges, C(40,3) = 9880 triangles. At p = 1/5 the expected
    // sample is 156 edges / ~79 triangles; the hash coin is one FIXED
    // draw, so the run is repeatable and the spec pins both determinism
    // and that this draw's estimate sits inside the estimator's working
    // band (DOULION's relative error at this triangle mass is ~11%; the
    // 35% assert leaves head-room without becoming vacuous).
    val k40 = for (a <- 1L to 40L; b <- (a + 1) to 40L) yield (a, b)
    val first = sampledRow(k40, 5)
    assert(first === sampledRow(k40, 5), "hash-coin sample must be repeatable")
    val (eTot, eS, _, est) = first
    assert(eTot === 780L)
    assert(math.abs(eS - 156L) <= 62L, s"edge sample $eS far from p*|E|=156")
    assert(math.abs(est - 9880L) <= 9880L * 35 / 100,
      s"estimate $est outside 35% of exact 9880")
  }

  test("sampledTriangles: empty graph yields an all-zero row") {
    assert(sampledRow(Seq.empty, 5) === ((0L, 0L, 0L, 0L)))
  }

  test("foldDegrees: maintained stats == recomputed, and trianglesAuto agrees") {
    // hub graph (node 0 connected to 1..12, plus a triangle rim) so the
    // chooser's skew branch is actually exercised by the maintained stats
    val es = (1L to 12L).map(i => (0L, i)) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val all = edgesDF(es)
    // partition the canonical edge set: last three edges arrive day-2
    val old = edgesDF(es.dropRight(3))
    val batch = edgesDF(es.takeRight(3))
    val maintained = GraphOps.foldDegrees(GraphOps.degrees(old), batch)
    val recomputed = GraphOps.degrees(all)
    val m = maintained.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rc = recomputed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === rc, "fold != recompute")
    // the maintained stats drive the SAME plan to the SAME triangles
    val stats = GraphOps.degreeStats(maintained)
    assert(stats._1 === 12L) // the hub
    val viaKnown = GraphOps.trianglesAuto(all, knownStats = Some(stats))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaMeasured = GraphOps.trianglesAuto(all)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaKnown === viaMeasured)
    assert(viaKnown === Set((1L, 2L, 3L), (4L, 5L, 6L),
      (0L, 1L, 2L), (0L, 2L, 3L), (0L, 1L, 3L), (0L, 4L, 5L), (0L, 5L, 6L),
      (0L, 4L, 6L)))
  }

  test("versioned degree state: trianglesAuto(knownStats) reads the COMMITTED snapshot (g30 mechanism)") {
    // the g30 artifact end-to-end at spec scale: day-1 degrees publish as
    // v1, the day-2 fold reads the committed parquet (not lineage) and
    // CAS-publishes v2, degreeStats off the LIVE snapshot drive
    // trianglesAuto to the same triangles as a measured run — and the
    // pinned v1 read still serves the day-1 table after v2 published
    import graft.sources.{VersionedTables => VT}
    val es = (1L to 12L).map(i => (0L, i)) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val all = edgesDF(es)
    val old = edgesDF(es.dropRight(3))
    val batch = edgesDF(es.takeRight(3))
    val root = java.nio.file.Files.createTempDirectory("g30-spec").toString
    VT.publish(root, Seq("degrees" -> GraphOps.degrees(old)), base = None)
    val pin = VT.liveVersion(root).get
    val day1 = VT.read(spark, root, "degrees", GraphOps.degreesSchema)
    VT.publish(root, Seq("degrees" -> GraphOps.foldDegrees(day1, batch)),
      base = Some(pin))
    val committed = VT.read(spark, root, "degrees", GraphOps.degreesSchema)
    val rc = GraphOps.degrees(all).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(committed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === rc, "committed fold != recompute")
    val stats = GraphOps.degreeStats(committed)
    val viaKnown = GraphOps.trianglesAuto(all, knownStats = Some(stats))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaKnown === GraphOps.trianglesAuto(all)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // pinned day-1 read survives the v2 publish — snapshot isolation
    val pinnedSum = VT.read(spark, root, "degrees", GraphOps.degreesSchema,
      asOf = Some(pin)).agg(org.apache.spark.sql.functions.sum("degree"))
      .head().getLong(0)
    assert(pinnedSum === 2L * es.dropRight(3).size,
      "pinned v1 no longer serves the day-1 degree table")
    // a publish against a stale base surfaces the retryable conflict
    intercept[graft.sources.CommitConflictException] {
      VT.publish(root, Seq("degrees" -> committed), base = Some(pin))
    }
  }

  test("warm-start PageRank: warm-with-uniform == cold, and warm beats cold toward the day-2 fixed point") {
    // random graph + small day-2 batch, deterministic seed
    val rnd = new scala.util.Random(41)
    val es = (0 until 400).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).filter(p => p._1 != p._2)
    val all = edgesDF(es)
    val batchSize = es.size / 10
    val old = edgesDF(es.dropRight(batchSize))
    def ranksMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identity: warm-started from the uniform vector (iters=0 ranks) the
    // loop must reproduce the cold run bit-for-bit — the code-path cert
    val uniform = GraphOps.pageRankPpb(all, iters = 0)
    assert(ranksMap(GraphOps.pageRankPpbFrom(all, uniform, iters = 3)) ===
      ranksMap(GraphOps.pageRankPpb(all, iters = 3)))
    // convergence value: resuming from day-1 ranks gets closer to the
    // day-2 fixed point than the same round budget from cold, at every
    // budget a maintenance pass would actually use
    val ref = ranksMap(GraphOps.pageRankPpb(all, iters = 12))
    val day1 = GraphOps.pageRankPpb(old, iters = 3)
    def l1(m: Map[Long, Long]) =
      ref.map { case (n, r) => math.abs(r - m.getOrElse(n, 0L)) }.sum
    Seq(1, 2).foreach { k =>
      val warm = l1(ranksMap(GraphOps.pageRankPpbFrom(all, day1, iters = k)))
      val cold = l1(ranksMap(GraphOps.pageRankPpb(all, iters = k)))
      info(s"L1 to fixed point after $k rounds: warm=$warm cold=$cold")
      assert(warm < cold,
        s"warm start not closer at $k rounds: warm=$warm cold=$cold")
    }
  }
}
