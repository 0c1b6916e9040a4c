package graft

import graft.operators.{Dedup, Similarity, VersionedBand}
import graft.functions.VectorFns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val docs = Seq(
    (0L, "The quick brown fox jumps over the lazy dog", "en"),
    (1L, "the  quick BROWN fox jumps over the lazy dog", "en"), // ws/case variant of 0
    (2L, "The quick brown fox jumps over the lazy cat today", "en"), // near-dup of 0
    (3L, "completely different content about spark engines", "en"),
    (4L, "The quick brown fox jumps over the lazy dog", "fr") // exact text, other lang
  ).toDF("doc_id", "text", "lang")

  test("exactDedup aggregate form == window formulation on duplicate-heavy input") {
    // 200 docs over 7 distinct contents — big clusters, the shape the
    // bounded-memory groupBy+join form exists for
    val many = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("content "), pmod(col("id"), lit(7))).as("text"), lit("en").as("lang"))
    val viaAgg = Dedup.exactDedup(many).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val viaWindow = many
      .select(col("doc_id"), graft.functions.TextFns.fingerprint(col("text")).as("fp"))
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") =!= col("keeper_id")).as("is_dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(viaAgg === viaWindow)
    assert(viaAgg.count(!_._3) === 7) // one keeper per distinct content
  }

  test("exactDedup: normalization variants collapse to one keeper") {
    val rows = Dedup.exactDedup(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(rows(0L) === ((0L, false)))
    assert(rows(1L) === ((0L, true)))  // whitespace/case variant deduped
    assert(rows(4L) === ((0L, true)))  // same content, different lang col
    assert(rows(2L)._2 === false)      // near-dup is NOT an exact dup
    assert(rows(3L)._2 === false)
  }

  test("minhash LSH: exact variant pairs bucket together with high estimate") {
    val pairs = Dedup.minhashLshPairs(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // identical shingle sets -> identical signatures -> est 1.0
    assert(pairs(0L -> 1L) === 1.0)
    assert(pairs(0L -> 4L) === 1.0)
    // near-dup shares most shingles -> high but < 1
    assert(pairs.get(0L -> 2L).forall(j => j > 0.3))
    // unrelated doc should not pair with doc 0 at any band
    assert(!pairs.contains(0L -> 3L))
  }

  test("minhash estimate tracks exact Jaccard on the near-dup pair") {
    val est = Dedup.minhashLshPairs(docs).filter($"d1" === 0 && $"d2" === 2)
      .select("est_jaccard").collect().headOption.map(_.getDouble(0))
    val exact = Dedup.ngramJaccardPairs(docs, 0.0).filter($"d1" === 0 && $"d2" === 2)
      .select("jaccard").collect().headOption.map(_.getDouble(0))
    (est, exact) match {
      case (Some(e), Some(x)) => assert(math.abs(e - x) < 0.35, s"est=$e exact=$x")
      case _ => fail(s"missing pair: est=$est exact=$exact")
    }
  }

  test("simhash: identical normalized text -> identical signature") {
    val sh = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sh(0L) === sh(1L))
    assert(sh(0L) === sh(4L))
    assert(sh(0L) !== sh(3L))
    // near-dup within small hamming distance
    val ham = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(ham <= 6, s"hamming($ham) too large for near-dup")
  }

  test("ngramJaccard: variant pair has jaccard 1.0; cross-lang blocked") {
    val pairs = Dedup.ngramJaccardPairs(docs, 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(0L -> 1L) === 1.0)
    assert(!pairs.contains(0L -> 4L)) // lang-blocked despite identical text
  }

  test("ngramJaccard: df cap is a no-op when no shingle is hot") {
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter($"doc_id" < 200)
    val uncapped = Dedup.ngramJaccardPairs(corpus, 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    // cap above any real df: the anti-join path runs with an empty hot
    // list and must return exactly the uncapped result
    val capped = Dedup.ngramJaccardPairs(corpus, 0.1, maxShingleDf = 1000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    assert(capped === uncapped)
    assert(uncapped.nonEmpty)
  }

  test("ngramJaccard: hot shingle is dropped from the join and the universe") {
    // every doc shares the hot bigram "zz zz"; only docs 0/1 share more
    val hotDocs = Seq(
      (0L, "zz zz alpha beta gamma", "en"),
      (1L, "zz zz alpha beta delta", "en"),
      (2L, "zz zz unrelated words here", "en"),
      (3L, "zz zz other totally different", "en")
    ).toDF("doc_id", "text", "lang")
    val pairs = Dedup.ngramJaccardPairs(hotDocs, 0.01, maxShingleDf = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // "zz zz" has df=4 > 3 -> dropped; docs 2,3 share nothing else
    assert(!pairs.contains(2L -> 3L))
    // docs 0,1 still pair on "alpha beta" etc.; jaccard over the capped
    // universe: shingles/doc = {zz-alpha, alpha-beta, beta-gamma|delta}
    // minus nothing else hot -> inter=2 of sizes 3,3 -> 2/4
    assert(pairs.contains(0L -> 1L))
    assert(math.abs(pairs(0L -> 1L) - 0.5) < 1e-9)
  }

  test("prefixJaccard: lossless vs brute force across thresholds") {
    // 48 docs drawn from word pools with id-driven mutations — many pairs
    // straddle the 0.4..0.7 similarity band, so a lossy prefix would show
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rows = (0 until 48).map { i =>
      val base = pool.drop(i % 3).take(8)
      val mutated = base.updated(i % 8, pool((i * 5) % pool.size)) ++
        Vector(pool((i * 7) % pool.size))
      (i.toLong, mutated.mkString(" "), if (i % 5 == 0) "fr" else "en")
    }
    val corpus = rows.toDF("doc_id", "text", "lang")

    // brute force, independent of the operator AND the oracle SQL
    def bigrams(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toVector
      toks.zip(toks.drop(1)).map { case (a, b) => s"$a $b" }.toSet
    }
    val byId = rows.map { case (id, t, l) => (id, (bigrams(t), l)) }.toMap
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val expected = (for {
        (i, (si, li)) <- byId; (j, (sj, lj)) <- byId
        if i < j && li == lj && si.nonEmpty
        inter = (si & sj).size
        jacc = inter.toDouble / (si.size + sj.size - inter)
        if jacc >= t
      } yield (i, j, BigDecimal(jacc)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      val got = Dedup.prefixJaccardPairs(corpus, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected, s"threshold $t")
    }
  }

  test("containment catches the quoted-subset pair Jaccard misses") {
    // doc 1 = doc 0's text embedded in much longer surrounding content:
    // every shingle of 0 appears in 1 except the two splice-boundary
    // bigrams don't break containment (0's own bigrams all survive intact
    // inside 1 because the quote is contiguous)
    val small = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val corpus = Seq(
      (0L, small, "en"),
      (1L, s"$filler $small $filler", "en"),
      (2L, "unrelated content entirely different", "en")
    ).toDF("doc_id", "text", "lang")
    val ov = Dedup.containmentPairs(corpus, minOverlap = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap
    assert(ov.contains((0L, 1L)))
    assert(ov((0L, 1L))._1 === 1.0)
    assert(ov((0L, 1L))._2 === 1)
    // while Jaccard on the same pair is far below any useful threshold
    val j = Dedup.ngramJaccardPairs(corpus, minJaccard = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) < 0.2)
  }

  test("dupShingleRate: exact copies score 10000 bp, unique docs 0, overlap in between") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta", "en"),
      (1L, "alpha beta gamma delta", "en"),      // exact copy of 0 -> all shingles shared
      (2L, "epsilon zeta eta theta", "en"),      // fully unique -> 0 bp
      (3L, "alpha beta iota kappa", "en")        // shares "alpha beta" with 0/1 only
    ).toDF("doc_id", "text", "lang")
    val rates = Dedup.dupShingleRate(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_dup"), r.getAs[Long]("dup_rate_bp"))).toMap
    assert(rates(0L) === ((3L, 3L, 10000L)))
    assert(rates(1L) === ((3L, 3L, 10000L)))
    assert(rates(2L) === ((3L, 0L, 0L)))
    // doc 3: shingles = {alpha beta, beta iota, iota kappa}; only the first recurs
    assert(rates(3L) === ((3L, 1L, 3333L)))
  }

  test("dupSpans: separated copied passages yield two merged spans, exact coverage") {
    val corpus = Seq(
      // doc 0: passage P1 (tokens 1-6, copied in doc 1) + unique filler
      // (7-12) + passage P2 (13-18, copied in doc 2). The two duplicated
      // 5-gram hits inside each passage overlap and must merge to ONE
      // island per passage — two separated islands for the doc.
      (0L, "alpha beta gamma delta epsilon zeta one two three four five six " +
        "eta theta iota kappa lambda mu", "en"),
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "eta theta iota kappa lambda mu", "en"),
      (3L, "nu xi omicron pi rho sigma", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.dupSpans(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("n_spans"), r.getAs[Long]("dup_ppm"))).toMap
    assert(out(0L) === ((18L, 12L, 2L, 666666L)))
    assert(out(1L) === ((6L, 6L, 1L, 1000000L))) // whole doc = shared passage
    assert(out(2L) === ((6L, 6L, 1L, 1000000L)))
    assert(out(3L) === ((6L, 0L, 0L, 0L)))       // unique doc: no spans
  }

  test("substringRewrite: excises exactly the merged spans, identity elsewhere") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta one two three four five six " +
        "eta theta iota kappa lambda mu", "en"),
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "eta theta iota kappa lambda mu", "en"),
      (3L, "nu xi omicron pi rho sigma", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.substringRewrite(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("n_spans"), r.getAs[String]("clean_text"))).toMap
    // doc 0: both copied passages cut, the unique filler survives intact
    assert(out(0L) === ((18L, 6L, 2L, "one two three four five six")))
    // docs 1/2 ARE the shared passages — fully excised
    assert(out(1L) === ((6L, 0L, 1L, "")))
    assert(out(2L) === ((6L, 0L, 1L, "")))
    // doc 3 untouched: identity on the token stream
    assert(out(3L) === ((6L, 6L, 0L, "nu xi omicron pi rho sigma")))
    // consistency with the measuring form: kept = n_tokens - dup_tokens
    val measured = Dedup.dupSpans(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    out.foreach { case (id, (n, kept, _, _)) =>
      assert(kept === n - measured(id), s"doc $id: kept != n_tokens - dup_tokens")
    }
  }

  test("substringRewriteKeepOne: the minimum-doc carrier keeps the passage") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta one two three four five six " +
        "eta theta iota kappa lambda mu", "en"),
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "eta theta iota kappa lambda mu", "en"),
      (3L, "nu xi omicron pi rho sigma", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.substringRewriteKeepOne(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("kept_tokens"), r.getAs[Long]("n_spans"),
          r.getAs[String]("clean_text"))).toMap
    // doc 0 is the min carrier of BOTH passages: fully intact
    assert(out(0L)._1 === 18L && out(0L)._2 === 0L)
    // docs 1/2 lose their copies (the corpus still holds them via doc 0)
    assert(out(1L) === ((0L, 1L, "")))
    assert(out(2L) === ((0L, 1L, "")))
    assert(out(3L)._3 === "nu xi omicron pi rho sigma")
    // every duplicated passage survives SOMEWHERE: union of clean texts
    // still contains both passages (via doc 0)
    assert(out(0L)._3.contains("alpha beta gamma delta epsilon zeta"))
    assert(out(0L)._3.contains("eta theta iota kappa lambda mu"))
  }

  test("substringRewriteKeepOne: overlapping cut span cannot clip a kept passage") {
    // The r9 ADVICE counterexample: 'a b c d e' (keeper doc1) overlaps
    // 'c d e f g' (keeper doc0) inside doc1. Without the keeper-coverage
    // guard, doc1's cut span [3,7] excised tokens 3-5 of its OWN kept
    // shingle and the passage survived nowhere intact.
    val corpus = Seq(
      (0L, "c d e f g", "en"),
      (1L, "a b c d e f g", "en"),
      (2L, "a b c d e f g", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.substringRewriteKeepOne(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    // doc0 keeps its shingle (keeper of 'c d e f g')
    assert(out(0L) === "c d e f g")
    // doc1 keeps positions covered by its OWN kept shingles ('a b c d e',
    // 'b c d e f' => positions 1-6); only position 7 (covered solely by
    // doc0's shingle) is excised
    assert(out(1L) === "a b c d e f")
    // doc2 keeps nothing (every shingle's keeper is elsewhere)
    assert(out(2L) === "")
    // the invariant itself: every duplicated 5-gram survives in some doc
    val clean = out.values.toSeq
    Seq("a b c d e", "b c d e f", "c d e f g").foreach { sh =>
      assert(clean.exists(_.contains(sh)), s"passage '$sh' lost corpus-wide")
    }
  }

  test("substringRewrite: minSpanTokens leaves short overlaps in place") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta one two three four five six " +
        "eta theta iota kappa lambda mu", "en"),
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "eta theta iota kappa lambda mu", "en")
    ).toDF("doc_id", "text", "lang")
    // both merged spans are 6 tokens; a 7-token minimum keeps everything
    val out = Dedup.substringRewrite(corpus, minSpanTokens = 7).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("kept_tokens"), r.getAs[Long]("n_spans"))).toMap
    assert(out(0L) === ((18L, 0L)))
    assert(out(1L) === ((6L, 0L)))
    // and a 6-token minimum excises them again
    val cut = Dedup.substringRewrite(corpus, minSpanTokens = 6).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("kept_tokens")).toMap
    assert(cut(0L) === 6L && cut(1L) === 0L && cut(2L) === 0L)
  }

  test("substringRewrite: no duplicated shingles => clean_text == normalized tokens") {
    val unique = Seq(
      (0L, "The quick  BROWN fox jumps over the lazy dog", "en"),
      (1L, "completely different content about spark engines", "en")
    ).toDF("doc_id", "text", "lang")
    val expect = unique.select(col("doc_id"),
        array_join(graft.functions.TextFns.tokens(col("text")), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Dedup.substringRewrite(unique).collect().foreach { r =>
      assert(r.getAs[Long]("n_spans") === 0L)
      assert(r.getAs[String]("clean_text") === expect(r.getAs[Long]("doc_id")))
    }
  }

  test("clusterSplit: no near-dup pair straddles the split, any train pct") {
    Seq(10, 50, 90).foreach { pct =>
      val side = Dedup.clusterSplit(docs, trainPct = pct).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(side.size == 5)
      val pairs = Dedup.minhashLshPairs(docs)
        .filter(col("est_jaccard") >= 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty, "fixture has no near-dup pairs — weak test")
      pairs.foreach { case (d1, d2) =>
        assert(side(d1) === side(d2), s"pair ($d1,$d2) straddles at pct=$pct")
      }
    }
  }

  test("band-index lifecycle: append == full rebuild, compaction row-identical") {
    val many = spark.range(60).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta content "), pmod(col("id"), lit(9)),
        lit(" epsilon zeta "), pmod(col("id"), lit(4))).as("text"),
      lit("en").as("lang"))
    val corpus = many.filter(col("doc_id") % 10 =!= 0)
    val batch = many.filter(col("doc_id") % 10 === 0)
    def tmp() = java.nio.file.Files.createTempDirectory("graft_idx_spec").toString
    val lifecycleDir = tmp(); val rebuildDir = tmp()
    VersionedBand.build(corpus, lifecycleDir)
    val v = VersionedBand.append(spark, batch, lifecycleDir, batchId = "day2")
    VersionedBand.build(many, rebuildDir)
    def rows(root: String) = VersionedBand.readLive(spark, root)
      .select(col("doc_id"), col("band"), col("bkey")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def rowsMulti(root: String) = VersionedBand.readLive(spark, root)
      .select(col("doc_id"), col("band"), col("bkey")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    val appended = rows(lifecycleDir)
    assert(appended === rows(rebuildDir), "append != full rebuild")
    // retry safety: re-appending the same batch id is a manifest no-op —
    // row-identical INCLUDING multiplicity, not just as a set
    val before = rowsMulti(lifecycleDir)
    assert(VersionedBand.append(spark, batch, lifecycleDir, batchId = "day2") === v)
    assert(rowsMulti(lifecycleDir) === before, "retried append changed the artifact")
    VersionedBand.compact(spark, lifecycleDir)
    assert(rowsMulti(lifecycleDir) === before, "compaction changed the index")
    assert(VersionedBand.currentManifest(lifecycleDir).get.leaves
      .forall(_.path.contains("-compact-")), "compaction did not swap every leaf")
  }

  test("incremental LSH == full pair set minus old-old, for any batch split") {
    // duplicate-heavy corpus: every 4th doc repeats text of doc_id-1, so
    // pairs exist inside and across any split
    val rows = (0 until 40).map { i =>
      val t = if (i % 4 == 1) s"the quick brown fox ${i - 1} jumps over it"
              else s"the quick brown fox $i jumps over it"
      (i.toLong, t, "en")
    }
    val all = rows.toDF("doc_id", "text", "lang")
    val full = Dedup.minhashLshPairs(all).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (mod <- Seq(2, 5, 10)) {
      val corpus = all.filter(col("doc_id") % mod =!= 0)
      val batch = all.filter(col("doc_id") % mod === 0)
      val inc = Dedup.incrementalLshPairs(corpus, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = full.filter { case (d1, d2, _) =>
        d1 % mod == 0 || d2 % mod == 0 }
      assert(inc === expected, s"batch = ids % $mod == 0")
    }
  }

  test("dupClusters: transitive closure over near-dup pairs, singletons keep own id") {
    // A==B and B==C near-dups but A,C in different bands would still
    // cluster transitively; here identical texts guarantee the pairs
    val docsDf = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon zeta", "en"),
      (5L, "alpha beta gamma delta epsilon zeta", "en"),
      (7L, "totally different content words here now", "en"),
      (9L, "another unrelated document entirely on purpose", "en")
    ).toDF("doc_id", "text", "lang")
    val clusters = Dedup.dupClusters(docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 9L))
  }

  test("bloom filter: zero false negatives, bounded false positives") {
    import graft.functions.{PortableBloom, TextFns}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val fp = TextFns.fingerprint($"text")
    val ref = docs.filter($"doc_id" < 200)
    val bloom = PortableBloom.build(ref, fp)
    val probed = PortableBloom.probe(docs, "doc_id", fp, bloom)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    // every reference doc must hit (no false negatives, by construction)
    (0L until 200L).foreach(id => assert(probed(id), s"false negative for $id"))
    // non-reference docs may false-positive, but nowhere near all of them:
    // with n=200, m=4096, k=4 the design FP rate is ~(1-e^(-kn/m))^k ≈ 1.4%
    val others = probed.filter(_._1 >= 200)
    val fpRate = others.count(_._2).toDouble / others.size
    assert(fpRate < 0.2, s"false-positive rate $fpRate implausibly high")
  }

  test("cosine: hand-computed values and self-similarity") {
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f)), (4L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, -1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(1L -> 2L) === 0.0)
    assert(pairs(1L -> 4L) === 1.0)
    assert(math.abs(pairs(1L -> 3L) - 0.7071) < 1e-4)
  }

  test("semanticClustersBanded recall: planted high-cosine duplicates, banded == exact at cos >= 0.9") {
    // The d20 CONTRACT (Dedup.scala semanticClustersBanded scaladoc): at
    // production SemDeDup thresholds (cos >= 0.9), banded clusters equal
    // exact clusters. Plant 20 duplicate pairs: each dup is its base plus
    // small noise, so cos(base, dup) >= 0.9, while 60 independent random
    // 64-dim vectors sit near-orthogonal (cos ~ N(0, 1/8), far below 0.9).
    val rnd = new scala.util.Random(42)
    def randVec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def perturb(v: Array[Float]): Array[Float] = {
      // noise at ~7% of signal norm => cosine ~ 1/sqrt(1+0.07^2... ) well above 0.9
      val nrm = math.sqrt(v.map(x => x * x.toDouble).sum)
      v.map(x => (x + (rnd.nextGaussian() * 0.07 * nrm / 8).toFloat))
    }
    val bases = (0 until 20).map(i => (i.toLong, randVec()))
    val dups = bases.map { case (i, v) => (100L + i, perturb(v)) }
    val loners = (0 until 60).map(i => (1000L + i, randVec()))
    val emb = spark.createDataFrame(bases ++ dups ++ loners)
      .toDF("vec_id", "embedding")

    val exact = Dedup.semanticClusters(emb, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val banded = Dedup.semanticClustersBanded(emb, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // every planted pair must actually be a high-cosine pair the exact
    // form clusters (fixture sanity: the plant worked)
    bases.foreach { case (i, _) =>
      assert(exact(100L + i) === exact(i), s"planted pair $i not clustered by exact")
    }
    // recall certification: banded reproduces the exact clustering
    assert(banded === exact)
    // and candidate generation really is subquadratic on this corpus
    val n = 100L
    val allPairs = n * (n - 1) / 2
    val candidates = Dedup.bandedCandidateCount(emb)
    assert(candidates < allPairs / 2,
      s"banded candidates $candidates not well below all-pairs $allPairs")
  }

  test("semanticClustersBanded matches its own banded contract on the fixture corpus") {
    // bit-for-bit banded semantics are certified by the DuckDB oracle (d20);
    // here: the banded form is deterministic and clusters-or-singletons
    // every vector exactly once
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val banded = Dedup.semanticClustersBanded(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val again = Dedup.semanticClustersBanded(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(banded === again)
    assert(banded.size === emb.count())
    // cluster ids are min-vec_id representatives: every cluster id is a member
    banded.values.toSet.foreach { c: Long => assert(banded(c) === c) }
  }

  test("semanticRepresentatives: reps are the brute-force medoids of their clusters") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val clusters = Dedup.semanticClustersBanded(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val vecs = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosMicro(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val expected = clusters.groupBy(_._2).map { case (c, ms) =>
      val ids = ms.map(_._1).sorted
      val aff = ids.map(i =>
        i -> ids.filter(_ != i).map(j => cosMicro(vecs(i), vecs(j))).sum)
      val maxA = aff.map(_._2).max
      c -> ((aff.filter(_._2 == maxA).map(_._1).min, ids.length.toLong, maxA))
    }
    val got = Dedup.semanticRepresentatives(emb)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // singletons keep themselves at affinity 0
    got.foreach { case (c, (rep, n, a)) => if (n == 1) assert(rep === c && a === 0L) }
  }

  test("exact-duplicate collapse: banded clusters identical to the uncollapsed form on a mass-dup corpus") {
    // 120 copies of one vector + near-dup pairs + a zero vector — the
    // hostile-fuzz shape. The collapsed operator must return EXACTLY the
    // uncollapsed pipeline's assignment (computed inline here as the
    // reference), while paying ~1 representative instead of a 120-wide
    // clique in every band bucket.
    import graft.operators.Similarity
    val base = Seq(
      (1000L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
      (1001L, Array(1.0f, 0.001f, 0.1f, 0.0f)),   // near-dup of 1000
      (1002L, Array(0.0f, 1.0f, 0.0f, 0.2f)),
      (1003L, Array(0.0f, 0.0f, 0.0f, 0.0f))      // zero vector
    )
    val dupes = (0 until 120).map(i => (i.toLong, Array(0.5f, -0.5f, 0.5f, -0.5f)))
    val emb = (base ++ dupes).toDF("vec_id", "embedding")
    val got = Dedup.semanticClustersBanded(emb, minCos = 0.4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // inline UNCOLLAPSED reference: the operator's EXACT banding
    // (8 planes × 8 tables from one 64-bit signature) over every vector,
    // duplicates included — the pipeline as it was before the collapse
    val e = VectorFns.toDouble(col("embedding"))
    val sig = emb.select(col("vec_id"), e.as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))
      .withColumn("s", Similarity.lshBucket(col("e"), 4, 64))
      .withColumn("tb", explode(array((0 until 8).map { t =>
        struct(lit(t).as("t"),
          shiftright(col("s"), t * 8).bitwiseAND(lit(255L)).as("b"))
      }: _*)))
      .select(col("vec_id"), col("e"), col("nrm"),
        col("tb.t").as("t"), col("tb.b").as("b"))
    val pairs = sig.toDF("v1", "e1", "n1", "t", "b")
      .join(sig.toDF("v2", "e2", "n2", "t", "b"), Seq("t", "b"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(graft.functions.VectorFns.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 4).as("cos"))
      .groupBy(col("v1"), col("v2")).agg(max(col("cos")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("v1"), col("v2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find closure in plain Scala
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    pairs.foreach { case (a, b) => union(a, b) }
    val expected = (base ++ dupes).map(_._1).map(v => v -> find(v)).toMap
    assert(got === expected)
    assert(got(1003L) === 1003L, "zero vector stays a singleton")
    assert(dupes.map(_._1).map(got).toSet.size === 1, "the dup group is one cluster")
    assert(got(dupes.head._1) === 0L, "cluster label is the group's min id")
    // and the audit counter really sees the collapsed join input
    val cand = Dedup.bandedCandidateCount(emb, dim = 4)
    assert(cand < 200, s"collapse should kill the 120-wide clique, got $cand candidates")
  }

  test("clusterRepresentatives: capped probe rule matches brute force on a giant planted cluster") {
    // 300 members in ONE cluster (the hostile mass-duplication shape the
    // r7 verdict flagged) + 4-member groups; cap=16 forces the sampled
    // arm on the giant cluster while the small ones stay exact. The
    // reference below applies the IDENTICAL probe rule in plain Scala —
    // baseHash(vec_id)·m < cap·2³² — so this certifies the capped
    // contract end to end, not just "some keeper came back".
    val n = 360
    val cap = 16
    val rnd = new scala.util.Random(20260814)
    val rows = (0 until n).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextInt(2001) - 1000) / 1000.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val assign = emb.select($"vec_id",
      when($"vec_id" < 300, 0L).otherwise(expr("(vec_id DIV 4) * 4"))
        .as("cluster_id"))
    val got = Dedup.clusterRepresentatives(assign, emb, cap)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    val vecs = rows.map { case (id, a) => id -> a.map(_.toDouble) }.toMap
    def cosMicro(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    def baseHash(v: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    val byCluster = (0 until n).map(_.toLong)
      .groupBy(v => if (v < 300) 0L else (v / 4) * 4)
    val expected = byCluster.map { case (c, ms) =>
      val m = ms.length
      val probes = if (m <= cap) ms
        else ms.filter(v => baseHash(v) * m < (cap.toLong << 32))
      val aff = ms.map(v =>
        v -> probes.filter(_ != v).map(p => cosMicro(vecs(v), vecs(p))).sum)
      val maxA = aff.map(_._2).max
      c -> ((aff.filter(_._2 == maxA).map(_._1).min, m.toLong, maxA))
    }
    assert(got === expected)
    // the giant cluster really took the sampled arm, at ~cap probes
    val giantProbes = (0L until 300L).count(v => baseHash(v) * 300 < (cap.toLong << 32))
    assert(giantProbes >= 1 && giantProbes < 60,
      s"expected ~$cap sampled probes for the 300-member cluster, got $giantProbes")
    // and the keeper is a member of its cluster, always
    got.foreach { case (c, (rep, _, _)) => assert(byCluster(c).contains(rep)) }
  }

  test("zero-norm convention: no pairs, singleton cluster, self-kept representative") {
    // a zero embedding has no direction: it must generate NO similarity
    // pairs (previously an ANSI DIVIDE_BY_ZERO crash — fuzz finding) but
    // cluster-shaped outputs still carry it as a singleton
    val emb = Seq(
      (0L, Array.fill(4)(0.0f)),                  // the zero vector
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.001f, 0.0f, 0.0f))       // near-dup of 1
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, minCos = 0.4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val clusters = Dedup.semanticClustersBanded(emb, minCos = 0.4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters(0L) === 0L, "zero vector must stay a singleton cluster")
    assert(clusters(1L) === clusters(2L))
    val reps = Dedup.semanticRepresentatives(emb, minCos = 0.4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(reps(0L) === 0L, "singleton zero vector keeps itself")
  }

  test("lshTopK == exact top-k restricted to the query's bucket") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter($"vec_id" < 20)
    val lsh = Similarity.lshTopK(emb, queries, 5, planes = 4)
      .select("qid", "rank", "vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // independent reference: bucket everything, then exact top-k per bucket
    val bucketed = emb.select($"vec_id",
      Similarity.lshBucket(graft.functions.VectorFns.toDouble($"embedding"), 64, 4).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Similarity.bruteForceTopK(emb, queries, Int.MaxValue)
      .orderBy($"qid", $"rank")
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (q, v) => bucketed(q) == bucketed(v) }
      .groupBy(_._1).toSeq
      .flatMap { case (q, vs) =>
        vs.map(_._2).take(5).zipWithIndex.map { case (v, i) => (q, i + 1, v) }
      }.toSet
    assert(lsh === expected)
    assert(lsh.nonEmpty)
  }

  test("d26 contaminationPairs: planted leaks attribute to the right eval doc with exact counts") {
    // E1 "alpha beta gamma delta" (bigrams: ab, bg, gd); E2 "omega psi chi"
    // (om, ps). Corpus doc 20 copies E1's first three words (shares ab, bg);
    // doc 21 shares exactly one bigram with EACH eval doc; doc 22 is clean.
    val evalSet = Seq(
      (0L, "alpha beta gamma delta", "en"),
      (1L, "omega psi chi", "en")).toDF("doc_id", "text", "lang")
    val corpus = Seq(
      (20L, "alpha beta gamma zeta", "en"),
      (21L, "alpha beta then omega psi", "en"),
      (22L, "nothing shared here", "en")).toDF("doc_id", "text", "lang")
    val pairs = Dedup.contaminationPairs(corpus, evalSet).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs === Map(
      (20L, 0L) -> 2L, // "alpha beta", "beta gamma"
      (21L, 0L) -> 1L, // "alpha beta"
      (21L, 1L) -> 1L  // "omega psi"
    ))
    // consistency with d12: the docs appearing in pairs are exactly the
    // docs decontaminate flags
    val flagged = Dedup.decontaminate(corpus, evalSet)
      .filter(col("contaminated") === 1)
      .collect().map(_.getLong(0)).toSet
    assert(pairs.keySet.map(_._1) === flagged)
  }
}
