package graft

import graft.functions.{PortableHash, TextFns}
import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native in-row kernels (`graft_minhash`, `graft_slot_eq`,
  * `graft_gopher_rep`) against the column formulations they replaced,
  * kept here as references: the exploded shingle stream with K `min`
  * aggregates, the `zip_with`/`aggregate` match count, and the
  * sorted-array lambda chain over hashed n-grams. */
class TextKernelsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val K = PortableHash.K

  /** Seeded random documents over a small vocabulary (so bigrams and
    * 5-grams repeat), near-duplicate copies of some of them (so LSH finds
    * candidate pairs), and the edge cases. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(20261019L)
    val vocab = Seq("the", "cat", "sat", "on", "mat", "dog", "ran", "far",
      "über", "naïve", "日本", "語", "😀", "x")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val random = (0 until 200).map(i => words(rnd.nextInt(120)).mkString(" "))
    val nearDups = random.take(40).map { t =>
      val w = t.split(" ")
      if (w.length > 3) w.updated(rnd.nextInt(w.length), "edit").mkString(" ") else t
    }
    val passage = words(30).mkString(" ")
    val edge = Seq[String](null, "", "   ", "one", "two words", "a b c d e",
      "same same same same same same", "  Mixed\tCASE \n spacing  here ",
      "ü é 日本 語 😀 ü é 日本 語 😀",
      Seq.fill(12)(passage).mkString(" sep "),
      (passage + " " + words(200).mkString(" ") + " " + passage))
    (random ++ nearDups ++ edge).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en") }.toDF("doc_id", "text", "lang")
  }

  /** The signature as the explode + K-`min` aggregation computed it. */
  private def referenceSignature(df: DataFrame): DataFrame = {
    val withH = Dedup.shingles(df).withColumn("h", PortableHash.baseHash(col("s")))
    val aggs = (0 until K).map(k => min(PortableHash.minhash(col("h"), k)).as(s"m$k"))
    withH.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private def sigMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> (1 to K).map(r.getLong)).toMap

  test("graft_minhash signature == explode + K-min reference, md5 and fast hash") {
    val before = PortableHash.fastHash
    try {
      for (fast <- Seq(false, true)) {
        PortableHash.pin(fast)
        val got = sigMap(Dedup.minhashSignature(docs))
        val want = sigMap(referenceSignature(docs))
        assert(got.nonEmpty)
        assert(got.keySet === want.keySet, s"fast=$fast: documents with a signature differ")
        want.foreach { case (id, sig) =>
          assert(got(id) === sig, s"fast=$fast doc $id: signature drifted")
        }
      }
    } finally PortableHash.pin(before)
  }

  test("graft_slot_eq est-Jaccard == zip_with/aggregate form on LSH candidate pairs") {
    val pairs = Dedup.minhashLshPairs(docs)
    val sig = Dedup.minhashSignature(docs)
      .select(col("doc_id"), array((0 until K).map(k => col(s"m$k")): _*).as("sig"))
    val reference = round(aggregate(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / K, 4)
    val rows = pairs
      .join(sig.as("a"), col("d1") === col("a.doc_id"))
      .join(sig.as("b"), col("d2") === col("b.doc_id"))
      .select(col("d1"), col("d2"), col("est_jaccard"), reference.as("ref"))
      .collect()
    assert(rows.length >= 40, s"too few candidate pairs to compare: ${rows.length}")
    rows.foreach(r => assert(r.getDouble(2) === r.getDouble(3), s"pair ${r.getLong(0)}-${r.getLong(1)}"))
  }

  test("graft_slot_eq matches zip_with padding and null semantics") {
    val cases = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (Seq(1L, 2L, 3L), Seq(1L, 5L, 3L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L)),
      (Seq(1L, null, 3L), Seq(1L, null, 3L)),
      (Seq(), Seq(7L)),
      (null, Seq(1L)))
    val df = cases.toDF("a", "b")
    val zipForm = aggregate(zip_with(col("a"), col("b"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
    val out = df.select(call_function("graft_slot_eq", col("a"), col("b")), zipForm).collect()
    out.foreach(r => assert(r.get(0) === r.get(1), s"$r"))
  }

  /** gopherRepetition's counts as the sorted-array lambda chain over
    * xxhash64-hashed n-grams computed them. */
  private def referenceGopher(df: DataFrame, dupN: Int = 5): DataFrame = {
    val w = dupN - 1
    df.select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
        transform(TextFns.ngramsOfTokens(col("__t"), dupN),
          g => xxhash64(g)).as("__g"),
        array_sort(transform(TextFns.bigramsOfTokens(col("__t")),
          b => xxhash64(b))).as("__sb"))
      .withColumn("__sg", array_sort(col("__g")))
      .withColumn("__dups", array_distinct(filter(col("__sg"), (x, i) =>
        when(i > 0, element_at(col("__sg"), i) === x).otherwise(lit(false)))))
      .withColumn("__top",
        when(size(col("__sb")) <= 1, size(col("__sb")).cast("long"))
          .otherwise(aggregate(sequence(lit(2), size(col("__sb"))),
            struct(lit(1L).as("run"), lit(1L).as("best")),
            (acc, i) => {
              val same = element_at(col("__sb"), i) === element_at(col("__sb"), i - 1)
              when(same, struct((acc.getField("run") + 1L).as("run"),
                  greatest(acc.getField("best"), acc.getField("run") + 1L).as("best")))
                .otherwise(struct(lit(1L).as("run"), acc.getField("best").as("best")))
            },
            acc => acc.getField("best"))))
      .withColumn("__dup_tokens",
        when(size(col("__g")) === 0 || size(col("__dups")) === 0, lit(0L))
          .otherwise(aggregate(
            filter(sequence(lit(1), size(col("__g"))), i =>
              array_contains(col("__dups"), element_at(col("__g"), i))),
            struct(lit(0L).as("cov"), lit(0L).as("end")),
            (acc, i) => struct(
              (acc.getField("cov") + (i.cast("long") + w -
                greatest(acc.getField("end"), i.cast("long") - 1))).as("cov"),
              (i.cast("long") + w).as("end")),
            acc => acc.getField("cov"))))
      .select(col("doc_id"), col("n_tokens"),
        col("__top").as("top_bigram_cnt"),
        expr("10000 * __top * 2 div greatest(n_tokens, CAST(1 AS BIGINT))")
          .as("top_bigram_frac_bp"),
        col("__dup_tokens").as("dup5_tokens"),
        expr("10000 * __dup_tokens div greatest(n_tokens, CAST(1 AS BIGINT))")
          .as("dup5_frac_bp"))
      .withColumn("flagged", (col("n_tokens") >= 50 &&
        (col("top_bigram_frac_bp") > 2000 ||
          col("dup5_frac_bp") > 1500)).cast("int"))
  }

  test("graft_gopher_rep gopherRepetition == hashed lambda-chain reference") {
    for (n <- Seq(5, 2, 1)) {
      def rows(df: DataFrame): Map[Long, Seq[Any]] =
        df.orderBy(col("doc_id")).collect().map((r: Row) => r.getLong(0) -> r.toSeq.tail).toMap
      val got = rows(TextOps.gopherRepetition(docs, n))
      val want = rows(referenceGopher(docs, n))
      assert(got.size === want.size)
      assert(want.values.exists(_(3) match { case v: Long => v > 0; case _ => false }),
        s"n=$n: no document has duplicated n-grams")
      want.foreach { case (id, r) => assert(got(id) === r, s"n=$n doc $id") }
    }
  }
}
