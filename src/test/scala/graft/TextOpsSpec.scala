package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("packSequences: per-shard token stream is gapless and cut every budget") {
    val docs = (0L until 200L).map { i =>
      (i, Seq.fill((i % 7).toInt + 1)(s"w$i").mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val budget = 16
    val out = TextOps.packSequences(docs, budget, shards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 200)
    // reconstruct each doc's start offset and check the stream per shard:
    // consecutive docs (by doc_id) in a shard abut exactly — no gaps, no
    // overlaps — and every in-sequence offset is < budget
    for ((_, rows) <- out.groupBy(_._2)) {
      var expectedPre = 0L
      for ((_, _, n, seqId, off) <- rows.sortBy(_._1)) {
        assert(off < budget)
        assert(seqId * budget + off === expectedPre)
        expectedPre += n
      }
    }
    // shard assignment is a pure function of doc_id: a reshuffled input
    // maps every doc to the identical (shard, seq, offset) slot
    val again = TextOps.packSequences(docs.repartition(13), budget, shards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("t14 terciles: per-lang sizes within 1 and surprisal boundaries monotone") {
    val rows = SparkEntry.queries("t14_perplexity_buckets")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val by = rs.groupBy(_._3).map { case (b, xs) => b -> xs.map(_._2) }
      // ntile(3): bucket sizes differ by at most one within each language
      val sizes = Seq("head", "middle", "tail").map(b => by.getOrElse(b, Array[Long]()).length)
      assert(sizes.max - sizes.min <= 1, s"$lang bucket sizes $sizes")
      // head holds the LOWEST surprisal: boundaries monotone (ties may abut)
      for (Seq(a, b) <- Seq("head", "middle", "tail").sliding(2)
           if by.contains(a) && by.contains(b)) {
        assert(by(a).max <= by(b).min, s"$lang: $a max > $b min")
      }
    }
  }

  test("t16 BPE pairs: hand-computed counts, vocabulary-weighted not corpus-exploded") {
    val docs = Seq(
      (0L, "ab ab abc", "en"),   // ab word x2, abc x1
      (1L, "abc x", "en")        // abc again; "x" has no pair
    ).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-t16").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t16_bpe_pairs")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "ab": freq 2 contributes ab:2; "abc": freq 2 contributes ab:2, bc:2
    assert(out === Map("ab" -> 4L, "bc" -> 2L))
  }

  test("t15 chunks: full coverage, stride-48 starts, only the final chunk short") {
    val docs = Seq(0, 1, 5, 63, 64, 65, 100, 112, 113, 200).zipWithIndex.map {
      case (n, i) => (i.toLong, (1 to n).map(j => s"w$j").mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    // drive through a temp dir so the registered query's loader runs as-is
    val dir = java.nio.file.Files.createTempDirectory("graft-t15").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t15_rag_chunks")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(0L), "empty doc emitted a chunk")
    for ((doc, chunks) <- byDoc) {
      val n = docs.filter($"doc_id" === doc).select(size(split($"text", " ")))
        .head().getInt(0)
      val sorted = chunks.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === sorted.indices.toSeq, s"doc $doc ids")
      sorted.foreach { case (_, id, start, len) =>
        assert(start === id * 48L + 1, s"doc $doc chunk $id start")
        if (id < sorted.length - 1) assert(len === 64L, s"doc $doc chunk $id len")
      }
      // the final chunk reaches the last token; with stride < width the
      // windows tile [1..n] with no gap
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen - 1 === n.toLong, s"doc $doc tail coverage")
      assert(sorted.forall { case (_, id, s, _) =>
        id == 0 || s <= sorted(id - 1)._3 + 64 }, s"doc $doc gap")
    }
  }

  test("domainCap == naive per-domain window for random corpora, all knobs") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 4) {
      val nDomains = rnd.nextInt(5) + 2
      val docs = (0L until (50 + rnd.nextInt(200)).toLong).map { i =>
        (i, s"src${rnd.nextInt(nDomains)}")
      }.toDF("doc_id", "source")
      // the naive form the operator replaces: one window per whole domain
      val h = graft.functions.PortableHash.baseHash(
        concat(col("source"), lit(":"), col("doc_id").cast("string")))
      for (n <- Seq(1L, 7L, 1000L); buckets <- Seq(1, 4, 4096)) {
        val naive = docs
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("source")).orderBy(h, col("doc_id"))))
          .filter(col("rk") <= n)
          .select(col("doc_id"), col("source").as("domain"))
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity[(Long, String)])
        val capped = TextOps.domainCap(docs, n, buckets)
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity[(Long, String)])
        assert(capped.toSeq === naive.toSeq,
          s"trial=$trial n=$n buckets=$buckets: threshold select drifted from the naive window")
      }
    }
  }

  test("gopherRepetition: hand-computed rules on planted repetition shapes") {
    import spark.implicits._
    val docs = Seq(
      // 0: "x x x x x" — 4 bigrams all "x x": top_cnt 4, frac 8000 bp
      //    (4·2/5·10000 = 16000? no: 10000·4·2 div 5 = 16000) → flagged;
      //    5-grams: one "x x x x x", count 1 → no intra-doc dup
      (0L, "x x x x x"),
      // 1: a 6-token passage repeated twice with a separator — the
      //    5-grams of each copy repeat, covering both copies
      (1L, "a b c d e f sep a b c d e f"),
      // 2: no repetition at all
      (2L, "one two three four five six seven"),
      // 3: empty and single-token degenerates
      (3L, ""),
      (4L, "word"),
      // 5: 60 tokens of "y z" loops — past the 50-word gate, both rules fire
      (5L, Seq.fill(30)("y z").mkString(" "))
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = TextOps.gopherRepetition(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("top_bigram_cnt"),
          r.getAs[Long]("top_bigram_frac_bp"), r.getAs[Long]("dup5_tokens"),
          r.getAs[Long]("dup5_frac_bp"), r.getAs[Int]("flagged"))).toMap
    // below the 50-word gate nothing flags, however repetitive
    assert(out(0L) === ((5L, 4L, 16000L, 0L, 0L, 0)))
    // doc 1: 13 tokens; dup 5-grams are "a b c d e" and "b c d e f",
    // each at positions {1,8} and {2,9} — merged spans [1,6] and [8,13],
    // 12 covered tokens; top bigram count 2, frac 3076 bp
    assert(out(1L) === ((13L, 2L, 3076L, 12L, 9230L, 0)))
    assert(out(2L) === ((7L, 1L, 2857L, 0L, 0L, 0)))
    // degenerate docs: the empty doc normalizes to one empty token
    assert(out(3L)._4 === 0L); assert(out(4L)._4 === 0L)
    assert(out(4L)._2 === 0L) // single token: no bigrams
    // doc 5: 60 tokens, "y z" bigram ×30 → top frac 10000 bp; every
    // 5-gram repeats → full coverage; past the length gate → flagged
    assert(out(5L) === ((60L, 30L, 10000L, 60L, 10000L, 1)))
  }

  test("bpeTrain: hand-computed merges, greedy non-overlap on chains") {
    import spark.implicits._
    // vocab: "aaaa"×3, "ab"×2, "abab"×1  (tokens split on whitespace)
    val docs = Seq(
      (0L, "aaaa aaaa ab", "en"),
      (1L, "aaaa ab abab", "en")
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.bpeTrain(docs, merges = 3).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"),
        r.getAs[Long]("n")))
    // step 1 pair counts: (a,a): aaaa has 3 adjacent (a,a) per word × 3
    //   words = 9; (a,b): ab×2 = 2, abab has 2 = 2 → 4; (b,a): abab 1.
    //   best = (a,a) n=9. Merge greedy non-overlap: aaaa → [aa, aa]
    //   (NOT [aa, a, a]); ab → [a, b]; abab → [a, b, a, b].
    assert(out(0) === ((1, "a", "a", "aa", 9L)))
    // step 2 counts: (aa,aa): 3; (a,b): 4; (b,a): 1 → best (a,b) n=4.
    assert(out(1) === ((2, "a", "b", "ab", 4L)))
    // step 3: aaaa=[aa,aa] ×3 → (aa,aa)=3; abab=[ab,ab] → (ab,ab)=1.
    assert(out(2) === ((3, "aa", "aa", "aaaa", 3L)))
  }

  test("bpeVocab: run-cert corpus folds runs greedily (ADVICE r10 shapes)") {
    import spark.implicits._
    // the t20 corpus: six rounds select (a,a),(b,b),(-,-),(aa,aa),(a,b),
    // (ab,ab) — every divergence shape of the old replace-fixpoint
    // oracle. The greedy fold pairs runs left-to-right: run 6 → 3 pairs,
    // run 5 → 2 pairs + survivor (NEVER the stranded stride-3 layout).
    val docs = TextOps.runCertCorpus.toDF("doc_id", "text")
    val out = TextOps.bpeVocab(docs, merges = 6).collect()
      .map(r => r.getAs[String]("w") -> r.getAs[String]("syms_str")).toMap
    assert(out("aaaaaa") === "aaaa aa")
    assert(out("bbbbb") === "bb bb b")
    assert(out("------") === "-- -- --")
    assert(out("ababab") === "abab ab")
    assert(out("aabaa") === "aa b aa")
    assert(out("cccc") === "c c c c") // (c,c) never selected in 6 rounds
  }

  /** The per-round distributed trainer, kept as the test reference: the
    * definition the oracle's unrolled rounds mirror, three Spark jobs per
    * merge (pair count → argmax → greedy fold over every word). Returns
    * the merge rows plus the final vocabulary (w, freq, syms). */
  private def perRoundTrain(docs: org.apache.spark.sql.DataFrame, merges: Int)
      : (Seq[(Int, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    def applyMerge(syms: org.apache.spark.sql.Column, l: String,
        r: String): org.apache.spark.sql.Column =
      aggregate(syms, array().cast("array<string>"),
        (acc, s) => when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && s === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s))))
    var vocab = docs
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("\u0001"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    for (step <- 1 to merges) {
      val pairs = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
      val best = pairs.orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val b = best(0)
        val (l, r, n) = (b.getString(0), b.getString(1), b.getLong(2))
        out += ((step, l, r, n))
        val next = vocab.select(col("w"), col("freq"),
          applyMerge(col("syms"), l, r).as("syms")).localCheckpoint()
        graft.operators.GraphOps.freeLocalCheckpoint(vocab)
        vocab = next
      }
    }
    (out.toSeq, vocab)
  }

  private def mergeTable(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Int]("step"), r.getAs[String]("lhs"),
      r.getAs[String]("rhs"), r.getAs[Long]("n"))).toSeq.sortBy(_._1)

  /** bpeTrain's merge table AND bpeVocab's final symbols both equal the
    * per-round reference on `docs`; returns the merge table. */
  private def assertMatchesReference(docs: org.apache.spark.sql.DataFrame,
      merges: Int, clue: String): Seq[(Int, String, String, Long)] = {
    val (refTable, refVocab) = perRoundTrain(docs, merges)
    val table = mergeTable(TextOps.bpeTrain(docs, merges))
    assert(table === refTable, s"$clue: merge table != per-round reference")
    def vocab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vocab(TextOps.bpeVocab(docs, merges).select("w", "syms_str")) ===
      vocab(refVocab.select(col("w"), array_join(col("syms"), " "))),
      s"$clue: final symbols != per-round reference")
    table
  }

  test("bpeTrain == the per-round reference trainer — ∀ random corpora") {
    // one word-count wave + in-memory training must reproduce the
    // per-round distributed definition exactly: merge table (counts and
    // tie-breaks included) and every word's final symbols, on corpora
    // with runs, ties, multi-char collisions, and — through U+FF41 and an
    // astral emoji in the alphabet — ties whose UTF-16 and code-point
    // orders disagree.
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val alphabet = Seq("a", "b", "-", "c", "\uFF41", "\uD83D\uDE00")
    def corpus(): Seq[(Long, String)] =
      (0 until 12).map { i =>
        val words = (0 until rnd.nextInt(6) + 1).map { _ =>
          (0 until rnd.nextInt(7) + 1)
            .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        }
        (i.toLong, words.mkString(" "))
      }
    (0 until 4).foreach { trial =>
      assertMatchesReference(corpus().toDF("doc_id", "text"), 6, s"trial $trial")
    }
    // and on the run-cert corpus (every stride-bug shape)
    assertMatchesReference(TextOps.runCertCorpus.toDF("doc_id", "text"), 6,
      "run-cert")

    // ADVICE r11 self-pair corpus: (a,a):7 and (b,c):2 are symbol-disjoint,
    // but merging (a,a) creates (aa,aa):3, which sequential training
    // emits BEFORE (b,c):2.
    val selfPair = Seq((0L, "aaaaaaaa"), (1L, "bc bc")).toDF("doc_id", "text")
    assert(assertMatchesReference(selfPair, 3, "self-pair") ===
      Seq((1, "a", "a", 7L), (2, "aa", "aa", 3L), (3, "b", "c", 2L)))

    // ADVICE r11 supplementary-plane corpus: Spark substr and the oracle
    // slice by CODE POINT; a UTF-16 code-unit split would shear these
    // emoji into unpaired surrogates.
    val astral = Seq((0L, "\uD83D\uDE00\uD83D\uDE00a \uD83D\uDE00a b"))
      .toDF("doc_id", "text")
    assert(assertMatchesReference(astral, 3, "astral").head._2 === "\uD83D\uDE00",
      "training must treat the emoji as ONE symbol")

    // CJK extension B (r12 verdict #6): same two-code-unit class as the
    // emoji but from the CJK astral block, as a repeated RUN — the shape
    // where a code-unit split would also corrupt the stride machinery.
    val cjkB = Seq((0L, "\uD840\uDC00\uD840\uDC00\uD840\uDC00a \uD840\uDC00a b"))
      .toDF("doc_id", "text")
    assert(assertMatchesReference(cjkB, 3, "cjk-b").head._2 === "\uD840\uDC00",
      "training must treat the ext-B char as ONE symbol")
  }

  test("bpeTrain: ties break in code-point order, not UTF-16 order") {
    import spark.implicits._
    // (U+FF41, U+FF41) and (U+1F600, U+1F600) tie at count 1. Spark's
    // orderBy and DuckDB compare code points, so U+FF41 wins; Java's
    // String.compareTo compares UTF-16 units and would pick the emoji,
    // whose lead surrogate 0xD83D sorts below 0xFF41.
    val fw = "\uFF41"
    val emoji = "\uD83D\uDE00"
    val docs = Seq((0L, s"$fw$fw $emoji$emoji")).toDF("doc_id", "text")
    val expected = Seq((1, fw, fw, 1L))
    assert(perRoundTrain(docs, 1)._1 === expected)
    assert(mergeTable(TextOps.bpeTrain(docs, merges = 1)) === expected)
    assert(TextOps.bpeLocalTrain(
      Array((Array(fw, fw), 1L), (Array(emoji, emoji), 1L)), 1)._1 === expected)
  }

  test("bpeEncodeWith: per-doc counts and packing under a saved trained vocabulary") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aaaa aaaa ab", "en"),
      (1L, "aaaa ab abab", "en")
    ).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("bpe-encode").toString
    TextOps.bpeSaveTrained(docs, dir, merges = 3)
    val encoded = TextOps.bpeEncodeWith(docs, TextOps.bpeLoadVocab(spark, dir))
    // after the 3 merges above: aaaa→[aaaa] (1 sym), ab→[ab] (1),
    // abab→[ab,ab] (2)
    val out = encoded.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("bpe_tokens"))).toMap
    assert(out(0L) === ((3L, 3L)))
    assert(out(1L) === ((3L, 4L)))

    // packing under the TRAINED counts (the e07 composition): one shard,
    // budget 4 — doc0 (3 bpe tokens) fills [0,3); doc1 (4) starts at
    // offset 3 of seq 0 and spills into seq 1
    val packed = TextOps.packSequencesBy(
        encoded.select(col("doc_id"), col("bpe_tokens").as("n_tokens")),
        budgetTokens = 4, shards = 1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("seq_id"),
          r.getAs[Long]("seq_offset"))).toMap
    assert(packed(0L) === ((3L, 0L, 0L)))
    assert(packed(1L) === ((4L, 0L, 3L)))
  }

  test("bpeTokenize: ordered trained-token stream, hand-computed fingerprints") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aaaa ab aaaa", "en"),
      (1L, "ab", "en"),
      (2L, "", "en")
    ).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("bpe-tok").toString
    // merges on this corpus: (a,a)->aa, (aa,aa)->aaaa, (a,b)->ab
    TextOps.bpeSaveTrained(docs, dir, merges = 3)
    val out = TextOps.bpeTokenize(docs, TextOps.bpeLoadVocab(spark, dir))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc0: aaaa -> [aaaa], ab -> [ab], aaaa -> [aaaa] in WORD order
    assert(out(0L) === ((3L, md5("aaaa ab aaaa"))))
    assert(out(1L) === ((1L, md5("ab"))))
    assert(out(2L) === ((0L, md5(""))))
    // sequence fingerprint == the t19 count pricing on every doc
    val counts = TextOps.bpeEncodeWith(docs, TextOps.bpeLoadVocab(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { case (id, (n, _)) => assert(counts(id) === n) }
  }

  test("trained-vocab artifact: loaded merges == bpeTrain, encode == trained vocabulary") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aaaa aaaa ab river bank", "en"),
      (1L, "aaaa ab abab bank", "en"),
      (2L, "", "en")
    ).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("bpe-artifact").toString
    TextOps.bpeSaveTrained(docs, dir, merges = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(TextOps.bpeLoadMerges(spark, dir)) ===
      rows(TextOps.bpeTrain(docs, merges = 4)),
      "merge table changed through the artifact round trip")
    // encode against the loaded vocabulary == each doc's words priced by
    // the train-inline vocabulary's final symbols; the artifact path ALSO
    // emits n_oov (zero on the training corpus by construction — every
    // eligible word is in its own vocabulary)
    val nsyms = TextOps.bpeVocab(docs, merges = 4).collect()
      .map(r => r.getAs[String]("w") -> r.getAs[String]("syms_str").split(" ").length.toLong)
      .toMap
    val expected = docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("t")).collect()
      .map { r =>
        val ws = r.getSeq[String](1).filter(_.nonEmpty)
        Seq(r.getLong(0), ws.length.toLong, ws.map(nsyms).sum)
      }.toSet
    val fromArtifact = TextOps.bpeEncodeWith(docs,
      TextOps.bpeLoadVocab(spark, dir))
    assert(rows(fromArtifact.select("doc_id", "n_words", "bpe_tokens")) === expected,
      "encode against the loaded vocabulary diverged from the trained vocabulary")
    assert(fromArtifact.filter($"n_oov" =!= 0L).count() === 0L,
      "n_oov nonzero on the vocabulary's own training corpus")
    // and a genuinely out-of-vocabulary doc REPORTS its OOV words
    val oov = TextOps.bpeEncodeWith(
      Seq((9L, "zzz aaaa unknownword")).toDF("doc_id", "text"),
      TextOps.bpeLoadVocab(spark, dir)).collect().head
    assert(oov.getAs[Long]("n_oov") === 2L &&
      oov.getAs[Long]("n_words") === 1L,
      s"OOV accounting wrong: $oov")
    // a retried training run overwrites in place — idempotent
    TextOps.bpeSaveTrained(docs, dir, merges = 4)
    assert(rows(TextOps.bpeLoadMerges(spark, dir)) ===
      rows(TextOps.bpeTrain(docs, merges = 4)))
  }
}
