package graft.operators

import graft.{Q, Tables}
import graft.functions.{Stopwords, TextFns}
import org.apache.spark.sql.functions._

/** Text-analysis queries over the `documents` table: token statistics,
  * quality scoring, language ID, content fingerprinting. All pure column
  * expressions (whole-stage codegen, no UDFs) with exact DuckDB oracles.
  *
  * At 100 TB these are embarrassingly parallel scan-only passes — no
  * shuffle at all until an aggregation is requested, so they scale with
  * input bandwidth.
  */
object TextOps {

  /** Gopher-style repetition filters (Rae et al. 2021, Table A1) —
    * INTRA-document duplication, the quality gate d19/d27's cross-document
    * machinery deliberately does not cover: a document that repeats its
    * own content (keyword stuffing, degenerate generations, boilerplate
    * loops) is low-quality even if nothing else in the corpus shares it.
    * Two of the paper's rule family, in exact integer basis points on a
    * TOKEN basis (the paper uses characters; tokens are tokenizer-stable
    * and engine-portable — same spirit, same thresholds):
    *
    *  - `top_bigram_frac_bp`: token mass of the most frequent bigram
    *    (count × 2 / n_tokens; overlapping occurrences each counted, as
    *    the paper does — a pathological "x x x …" doc can exceed 10000);
    *  - `dup5_frac_bp`: fraction of tokens covered by width-`dupN`
    *    n-grams occurring ≥ 2 times WITHIN the document, overlapping
    *    hits merged (d19's islands semantics, intra-doc);
    *  - `flagged`: the paper's drop rule — top-2-gram fraction > 0.20 or
    *    duplicate-5-gram fraction > 0.15 — gated on the paper's own
    *    ≥ 50-word minimum-length rule, because the fraction thresholds
    *    are meaningless below it (a 7-token doc's single most common
    *    bigram is already 29% of it; ungated, every short doc flags).
    *
    * Scale shape: everything is ROW-LOCAL — both counts come from the
    * native `graft_gopher_rep` kernel ([[graft.plans.GopherRepetition]]),
    * one primitive pass per document over its token array: tokens are
    * dense-ranked, n-grams compared as exact token sequences (no hashed
    * stand-ins), the top-bigram count is the longest run of equal sorted
    * bigram keys, and the coverage merges the hits' spans in ascending
    * position (d19's islands semantics, intra-doc). So the whole
    * operator is one scan with ZERO shuffles (d19 needs the corpus-wide
    * inverted df; this needs nothing outside the row). */
  def gopherRepetition(docs: org.apache.spark.sql.DataFrame,
      dupN: Int = 5): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
        call_function("graft_gopher_rep", col("__t"), lit(dupN)).as("__r"))
      .select(col("doc_id"), col("n_tokens"),
        col("__r.top_bigram_cnt").as("top_bigram_cnt"),
        expr("10000 * __r.top_bigram_cnt * 2 div greatest(n_tokens, CAST(1 AS BIGINT))")
          .as("top_bigram_frac_bp"),
        col("__r.dup_tokens").as("dup5_tokens"),
        expr("10000 * __r.dup_tokens div greatest(n_tokens, CAST(1 AS BIGINT))")
          .as("dup5_frac_bp"))
      .withColumn("flagged", (col("n_tokens") >= 50 &&
        (col("top_bigram_frac_bp") > 2000 ||
          col("dup5_frac_bp") > 1500)).cast("int"))

  /** Sequence packing for pretraining: concatenate documents in a
    * deterministic order and cut the stream every `budgetTokens` tokens,
    * GPT-style (documents may straddle a cut — the tokenizer inserts the
    * separator; here we record where each document lands). Output per
    * document: its shard, token count, the sequence index its first token
    * falls in, and the offset within that sequence.
    *
    * Scale shape: a single global concatenation order would be one
    * all-data sort through one task, so the corpus is first split into
    * `shards` deterministic streams (portable content-independent hash of
    * doc_id — stable under re-partitioning and corpus append ordering),
    * and the running token total is a window per shard: each shard is an
    * independent spill-able sort + streaming sum, so parallelism and
    * per-task state are both set by `shards`. At 100 TB you size shards
    * to the training-data writer's output file count (thousands), giving
    * ~GB-scale sorted runs per task — the same partition-then-window
    * shape st05's alerts use. */
  def packSequences(docs: org.apache.spark.sql.DataFrame, budgetTokens: Int = 512,
      shards: Int = 8): org.apache.spark.sql.DataFrame =
    packSequencesBy(docs.select(col("doc_id"),
      TextFns.tokenCount(col("text")).cast("long").as("n_tokens")),
      budgetTokens, shards)

  /** The packing layout over a PRE-COUNTED (doc_id, n_tokens) table —
    * what [[packSequences]] (whitespace counts) and e07 (TRAINED-
    * tokenizer counts from [[bpeEncodeWith]]) share. Same shard-parallel
    * window shape and scale argument as [[packSequences]]'s scaladoc. */
  def packSequencesBy(counts: org.apache.spark.sql.DataFrame,
      budgetTokens: Int = 512, shards: Int = 8): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = counts.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
      pmod(graft.functions.PortableHash.baseHash(col("doc_id").cast("string")),
        lit(shards.toLong)).as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    t.withColumn("pre", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"pre div $budgetTokens").as("seq_id"),
        (col("pre") % budgetTokens).as("seq_offset"))
  }

  /** Top-k collocations by the integer-exact PMI likelihood ratio
    * c_xy·N²/(M·c_x·c_y) in micro-units — see the t12 query comment for
    * the derivation and portability argument. */
  def collocations(docs: org.apache.spark.sql.DataFrame, minSupport: Long = 5,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    val uni = docs.select(explode(TextFns.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val big = docs.select(TextFns.tokens(col("text")).as("__t"))
      .select(explode(TextFns.bigramsOfTokens(col("__t"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minSupport)
      .select(expr("split(bg, ' ')[0]").as("x"),
        expr("split(bg, ' ')[1]").as("y"), col("cxy"))
    // both corpus totals from one scalar scan — no explode, no shuffle
    // (the t11 lesson)
    val tot = docs.agg(
      sum(size(array_remove(TextFns.tokens(col("text")), ""))).as("n"),
      sum(greatest(size(TextFns.tokens(col("text"))) - 1, lit(0))).as("m"))
    big.join(uni.toDF("x", "cx"), "x")
      .join(uni.toDF("y", "cy"), "y")
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("cxy"),
        expr("""CAST(1000000 AS DECIMAL(38,0)) * cxy * n * n
                div (CAST(m AS DECIMAL(38,0)) * cx * cy)""").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Deterministic per-domain document cap — keep exactly `n` documents
    * per domain (a uniform, re-run-stable subsample keyed on a portable
    * content-independent hash) WITHOUT ever sorting a whole domain in one
    * task. Domain-cap enforcement is the mixture-control primitive of a
    * training corpus ("at most N docs of src7"), and its naive form —
    * `row_number() OVER (PARTITION BY domain ORDER BY priority)` — is the
    * q36 scale-killer: domains are few (tens), so WindowExec sorts an
    * entire domain (billions of rows at 100 TB) in a single task.
    *
    * Two-pass threshold select instead (the distributed top-k shape):
    *   1. bucket each row's priority hash into `buckets` monotone ranges
    *      and build a per-(domain, bucket) histogram — a bounded aggregate
    *      of at most domains × buckets rows, independent of corpus size.
    *      A running sum over that tiny table identifies, per domain, the
    *      boundary bucket b* containing the n-th priority (the one bucket
    *      with cum ≥ n and cum − cnt < n — no self-join needed) and
    *      `before` = the exact row count in buckets below it.
    *   2. broadcast (b*, before) back onto the data and DROP every row
    *      with bucket > b* before anything sorts: what survives is ≈ the
    *      kept set plus the boundary bucket's tail. One row_number window
    *      partitioned by (domain, bucket) — a HIGH-cardinality key whose
    *      partitions hold ~domain/buckets rows — supplies the within-
    *      bucket rank, and `bucket < b* OR before + rank <= n` is the cap.
    *
    * Bucketing is monotone in the hash, so the kept set is EXACTLY the
    * oracle's per-domain top-n by (hash, doc_id) — the histogram changes
    * the plan shape, never the result. The executed plan reads the pruned
    * 2-column projection twice (histogram + data pass) and shuffles only
    * survivors (~n per domain + one bucket's width), vs the naive window's
    * full-corpus shuffle into one task per domain. At 100 TB, size
    * `buckets` so domain/buckets fits one task's sort (2^16 ⇒ a 10B-row
    * domain leaves ~150k boundary rows); a second histogram level inside
    * the boundary bucket extends the same idea if one can't. Domains
    * smaller than n never reach the threshold (no b* row) and are kept
    * whole via the left join's null arm. */
  /** Overlapping token-window chunks (the t15 operator body): stride-48
    * windows of 64 tokens with per-chunk md5 fingerprints, from per-row
    * integer array math — one scan, zero shuffles. STATELESS, so it runs
    * unchanged under `readStream` (StreamingSpec proves stream == batch
    * chunk-for-chunk); empty docs emit no chunks (a descending
    * `sequence(0, -1)` is guarded out). */
  def ragChunks(docs: org.apache.spark.sql.DataFrame, win: Int = 64,
      stride: Int = 48): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        filter(TextFns.tokens(col("text")), x => x =!= "").as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .withColumn("nch",
        expr(s"(greatest(n - $win, 0) + ${stride - 1}) div $stride + 1"))
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(sequence(lit(0L), col("nch") - 1)))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        (col("col") * stride + 1).cast("bigint").as("start_tok"),
        slice(col("t"), (col("col") * stride + 1).cast("int"), lit(win)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("bigint").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))

  def domainCap(docs: org.apache.spark.sql.DataFrame, n: Long = 15,
      buckets: Int = 4096): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"domainCap n must be >= 1, got $n")
    val h = graft.functions.PortableHash.baseHash(
      concat(col("source"), lit(":"), col("doc_id").cast("string")))
    // bucket = floor(h * buckets / 2^32): h < 2^32 so the product stays
    // far from Long overflow and the mapping is monotone in h
    val base = docs.select(col("doc_id"), col("source").as("domain"), h.as("h"))
      .withColumn("bucket", expr(s"CAST((h * $buckets) div ${1L << 32} AS INT)"))
    val hist = base.groupBy(col("domain"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    // this window runs over the HISTOGRAM (≤ buckets rows per domain),
    // never the data
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("domain")).orderBy(col("bucket"))))
    val thr = cum.filter(col("cum") >= n && col("cum") - col("cnt") < n)
      .select(col("domain"), col("bucket").as("bstar"),
        (col("cum") - col("cnt")).as("before"))
    val survivors = base.join(broadcast(thr), Seq("domain"), "left")
      .filter(col("bstar").isNull || col("bucket") <= col("bstar"))
    val w = Window.partitionBy(col("domain"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    survivors.withColumn("rk", row_number().over(w))
      .filter(col("bstar").isNull || col("bucket") < col("bstar") ||
        col("before") + col("rk") <= n)
      .select(col("doc_id"), col("domain"))
      .orderBy(col("domain"), col("doc_id"))
  }

  private def inListSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private def scoreSql(words: Seq[String]): String =
    s"len(list_filter(t, x -> x IN ${inListSql(words)}))"

  private val normSql = TextFns.normalizeSql("text")
  private val toksSql = TextFns.tokensSql("text")

  /** BPE TRAINING (t18) — the iterated form of t16's single inner step,
    * closing the last LLM-pipeline stage t16 only sampled: k rounds of
    * (count adjacent symbol pairs over the word-frequency vocabulary →
    * pick the max-count pair, ties broken (left, right) ascending in
    * code-point order → merge every left-to-right non-overlapping
    * occurrence in every word). The output is the merge table itself —
    * (step, lhs, rhs, merged, n) — i.e. the trained tokenizer.
    *
    * Shape: ONE distributed wave, then exact in-memory training
    * ([[bpeTrainCore]]). The wave is the only corpus-sized work BPE has:
    * tokenize → word-frequency groupBy (map-side combined) → collect the
    * vocabulary, so driver memory is O(distinct eligible words),
    * independent of corpus size. The k rounds then run over that table
    * in [[bpeLocalTrain]] — the standard trainer algorithm (Sennrich et
    * al. 2016 §3; HuggingFace tokenizers and SentencePiece train in
    * memory over exactly this table): one ordered-set argmax per merge,
    * and each merge touches only the words that contain its pair. No
    * Spark job runs per merge; 30k merges are set operations, not job
    * waves.
    *
    * Why sequential, not batched distributed rounds: selecting the top-k
    * pairwise non-interacting merges per round is NOT sequential-
    * equivalent — a skipped conflicting pair keeps its count after the
    * top merge applies wherever their occurrences don't overlap, and can
    * outrank every selected pair at the next sequential step (measured on
    * English text: skip-and-continue agrees with sequential on only ~36%
    * of a 256-merge table). The only provably equal selection rule is
    * "stop at the first pair sharing a symbol (or output) with the
    * selected prefix, keep strictly above the cutoff", and on
    * character-level text the top pairs share letters immediately, so
    * sound batches average < 2 merges. Sequential dependence is
    * fundamental to BPE; the scale answer is to make each step
    * O(affected words) in memory, not to parallelize the step.
    *
    * Merge application is a greedy left fold over each word's symbols
    * (merge when the accumulator's last symbol == l and the incoming one
    * == r): in "a a a" the pair (a,a) merges once and the survivor does
    * NOT re-merge, because a merged token never equals its own left
    * half. Words split by CODE POINT and ties compare in code-point
    * order, as Spark's UTF8String and DuckDB both do — Java's UTF-16
    * `compareTo` sorts astral characters below U+E000–U+FFFF.
    *
    * The oracle unrolls the same k rounds in DuckDB with the vocabulary
    * as U+0001-delimited symbol strings and merge application as a
    * `list_reduce` left fold that mirrors this greedy fold
    * symbol-for-symbol — exact for EVERY input, including same-symbol
    * runs. The previous 8-pass '|l|r|'→'|lr|' replace fixpoint was NOT
    * equivalent: the pattern consumes the trailing delimiter, so in a
    * run of identical symbols non-overlapping matches land at stride 3
    * and the stranded singles are never adjacent again ('aaaaaa' with
    * merge (a,a) → [aa,a,aa,a] instead of the engine's [aa,aa,aa]; order
    * diverges at run length 5, token count at 6). */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame,
      merges: Int = 8): org.apache.spark.sql.DataFrame =
    bpeTrainCore(docs, merges)._1

  /** Final trained vocabulary as one row per word — (w, freq, syms_str)
    * with the symbol list space-joined. This is the DIRECT certificate of
    * merge application (t18's merge table only witnesses a fold
    * divergence one round later, through the changed pair counts). */
  def bpeVocab(docs: org.apache.spark.sql.DataFrame,
      merges: Int): org.apache.spark.sql.DataFrame =
    bpeTrainCore(docs, merges)._2.select(col("w"), col("freq"), col("syms_str"))

  // ---- persisted trained-tokenizer artifact (r11 verdict #5) ----------

  /** Declared layout of the [[bpeSaveTrained]] artifacts — reads never
    * infer (an empty-corpus training writes empty files; the s10 lesson). */
  private val mergesSchema = new org.apache.spark.sql.types.StructType()
    .add("step", org.apache.spark.sql.types.IntegerType)
    .add("lhs", org.apache.spark.sql.types.StringType)
    .add("rhs", org.apache.spark.sql.types.StringType)
    .add("merged", org.apache.spark.sql.types.StringType)
    .add("n", org.apache.spark.sql.types.LongType)
  private val vocabSchema = new org.apache.spark.sql.types.StructType()
    .add("w", org.apache.spark.sql.types.StringType)
    .add("freq", org.apache.spark.sql.types.LongType)
    .add("nsyms", org.apache.spark.sql.types.LongType)
    .add("syms_str", org.apache.spark.sql.types.StringType)

  /** Train ONCE, persist the result: the merge table (the tokenizer) and
    * the trained vocabulary's per-word symbol counts (the encode table).
    * Production trains a tokenizer once and SHIPS it — every consumer
    * (encode, packing, budgeting) loads the artifact instead of
    * re-running the training loop. Overwrite mode: a retried training
    * run is idempotent (training is deterministic). */
  def bpeSaveTrained(docs: org.apache.spark.sql.DataFrame, dir: String,
      merges: Int): Unit = {
    val (tbl, vocab) = bpeTrainCore(docs, merges)
    tbl.write.mode("overwrite").parquet(s"$dir/merges")
    vocab.write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** The trained merge table, loaded from a [[bpeSaveTrained]] artifact —
    * row-identical to [[bpeTrain]] on the same corpus (strings and
    * integers round-trip parquet losslessly). */
  def bpeLoadMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(mergesSchema).parquet(s"$dir/merges")

  /** The trained vocabulary, loaded from a [[bpeSaveTrained]] artifact. */
  def bpeLoadVocab(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(vocabSchema).parquet(s"$dir/vocab")

  /** ENCODE with a LOADED trained vocabulary (t19) — the step t18's
    * merge table exists for: count each document's tokens under the
    * trained vocabulary (per-word symbol counts summed per doc). This is
    * the cost model a corpus pipeline prices everything with — "how many
    * TRAINED-tokenizer tokens is this corpus" decides packing, budgets,
    * and mixture weights, and the whitespace proxy (t01) misprices
    * exactly the degenerate documents quality filtering cares about.
    * The production path: no training, one token explode + a vocabulary
    * equi-join + a per-doc sum. Words containing U+0001 are excluded on
    * both engines (the [[bpeTrain]] delimiter contract); docs with no
    * eligible words keep a 0-count row. Certified by t19: the oracle
    * replays training from source, so encode-from-artifact ==
    * encode-after-training exactly. */
  def bpeEncodeWith(docs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val enc = vocab.select(col("w"), col("nsyms"))
    val words = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("\u0001"))
    // LEFT join + explicit n_oov (r12 ADVICE): the production path is
    // NEW documents against a shipped day-1 vocabulary, and an inner
    // join silently dropped out-of-vocabulary words from the counts --
    // an invisible undercount on any corpus the artifact wasn't trained
    // on. n_words/bpe_tokens keep their matched-words semantics; n_oov
    // is the caller's gate signal (the tokenizer sibling of s14's
    // quantizer-drift stats -- both feed a retrain decision).
    val agg = words.join(enc, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("nsyms")).cast("long").as("n_words"),
        coalesce(sum(col("nsyms")), lit(0L)).cast("long").as("bpe_tokens"),
        count(when(col("nsyms").isNull, 1)).cast("long").as("n_oov"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
  }

  /** TOKENIZE with a loaded trained vocabulary (t22) — the actual token
    * SEQUENCE, not just the counts: t19 prices a corpus (token counts
    * drive packing/budgets), but the artifact a trainer finally consumes
    * is the ordered token stream itself. Per document: every eligible
    * word's trained symbol list, in word order, fingerprinted (md5 of
    * the space-joined stream) so the oracle can certify the WHOLE
    * sequence — content and order — in one hash without shipping
    * doc-length strings through the gate output. Work is one positional
    * token explode + a vocabulary equi-join + a per-doc ordered rollup;
    * per-row memory is one document's token string (the t10/m08 per-doc
    * class), never global. Docs with no eligible words keep a row with
    * n_tokens=0 and the empty-stream fingerprint. */
  def bpeTokenize(docs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val enc = vocab.select(col("w"), col("nsyms"), col("syms_str"))
    val words = docs.select(col("doc_id"),
        posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "w")))
      .filter(col("w") =!= "" && !col("w").contains("\u0001"))
    val agg = words.join(enc, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("nsyms")).cast("long").as("n_tokens"),
        md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("syms_str")))),
            x => x.getField("syms_str")), " ")).as("tokens_fp"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("tokens_fp"), md5(lit(""))).as("tokens_fp"))
  }

  /** One training run per (process, corpus, merges): t18 reads the merge
    * table from this artifact, t19 and e07 (Pipeline) encode against its
    * vocabulary — three gate queries, ONE training loop (r11 verdict #5;
    * previously each re-ran all `merges` rounds). Keyed by source dir so
    * a fuzz corpus or an empty-input sweep trains its own artifact; the
    * artifact lives under this process's [[graft.RunDirs]] tree, so
    * concurrent runs on one box never share state. */
  private val trainedDirs =
    scala.collection.mutable.HashMap.empty[(String, Int), String]

  /** Cheap corpus fingerprint: file listing + sizes + mtimes of the
    * documents table (one directory listing — metadata-scale, the
    * FileSystem.listStatus a lake catalog does anyway). Keying the
    * trained-artifact cache on CONTENT identity, not path identity
    * (r12 ADVICE): a corpus regenerated in place within one process
    * (fuzz reseed, fixture rewrite) changes sizes/mtimes, so t18/t19/
    * t22/e07 retrain instead of silently encoding against the stale
    * vocabulary. */
  private def corpusFingerprint(srcDir: String): String = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(srcDir, "documents.parquet")
    val entries: Seq[String] =
      if (java.nio.file.Files.isDirectory(p)) {
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => s"${p.relativize(f)}:${java.nio.file.Files.size(f)}:" +
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .toSeq.sorted
        finally w.close()
      } else if (java.nio.file.Files.exists(p))
        Seq(s"${java.nio.file.Files.size(p)}:" +
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
      else Seq("absent")
    java.security.MessageDigest.getInstance("MD5")
      .digest((srcDir + "\n" + entries.mkString("\n")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  def ensureTrainedArtifact(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, merges: Int): String = trainedDirs.synchronized {
    val key = corpusFingerprint(srcDir)
    trainedDirs.getOrElseUpdate((key, merges), {
      val dir = graft.RunDirs.dir(s"bpe_m${merges}_$key").toString
      bpeSaveTrained(Tables.load(spark, srcDir, "documents"), dir, merges)
      dir
    })
  }

  // ---- VERSIONED trained-tokenizer artifact (r14 verdict #4) ----------

  /** PUBLISH a trained tokenizer (the [[bpeSaveTrained]] pair — merge
    * table + encode vocabulary) as one committed snapshot under a
    * [[graft.sources.VersionedTables]] root: both tables flip together
    * behind the atomic pointer, so an encoder can never read v1 merges
    * beside v2 vocabulary, a retrain racing running encoders is CAS-safe
    * instead of a lost update/torn read, and a long-running encode job
    * PINS the version it started with (`asOf`) while the retrain
    * publishes past it — "encode this corpus with tokenizer v1 while v2
    * trains" is the production norm. Returns the committed version. */
  def bpePublishTokenizer(spark: org.apache.spark.sql.SparkSession,
      trainedDir: String, root: String): String =
    graft.sources.VersionedTables.publish(root,
      Seq("merges" -> bpeLoadMerges(spark, trainedDir),
        "vocab" -> bpeLoadVocab(spark, trainedDir)),
      base = graft.sources.VersionedTables.liveVersion(root))

  /** The committed tokenizer's vocabulary — CURRENT, or a pinned
    * published version (`asOf`), resolved through the snapshot
    * manifest. Feed to [[bpeEncodeWith]]/[[bpeTokenize]]. */
  def bpeLoadVocabVersioned(spark: org.apache.spark.sql.SparkSession,
      root: String, asOf: Option[String] = None): org.apache.spark.sql.DataFrame =
    graft.sources.VersionedTables.read(spark, root, "vocab", vocabSchema, asOf)

  /** The committed tokenizer's merge table — see
    * [[bpeLoadVocabVersioned]]. */
  def bpeLoadMergesVersioned(spark: org.apache.spark.sql.SparkSession,
      root: String, asOf: Option[String] = None): org.apache.spark.sql.DataFrame =
    graft.sources.VersionedTables.read(spark, root, "merges", mergesSchema, asOf)

  /** The t20 certificate corpus: same-symbol runs at and past the stride
    * bug's divergence thresholds (order diverges at run 5, count at 6 —
    * ADVICE r10), a multi-char-symbol run, and l≠r alternations, with
    * frequencies chosen so six training rounds select (a,a), (b,b),
    * (-,-), (aa,aa), (a,b), (ab,ab) — every shape where the old
    * replace-fixpoint oracle silently stranded singles. Embedded as
    * literals on BOTH engines, so the gate hash certifies the greedy
    * fold equivalence every round regardless of the gate corpus's
    * character statistics. */
  private[graft] val runCertCorpus: Seq[(Long, String)] =
    Seq("aaaaaa" -> 9, "bbbbb" -> 7, "ababab" -> 5, "------" -> 4,
      "aabaa" -> 3, "cccc" -> 2).zipWithIndex.map { case ((w, f), i) =>
      ((i + 1).toLong, Seq.fill(f)(w).mkString(" "))
    }

  /** The one BPE trainer behind [[bpeTrain]], [[bpeVocab]] and
    * [[bpeSaveTrained]] (shape and contract on [[bpeTrain]]): one
    * word-frequency wave, [[bpeLocalTrain]] over the collected table,
    * and the merge table and final vocabulary back as DataFrames in the
    * declared artifact layouts, so an empty corpus still yields typed
    * empty tables. Words containing U+0001 are excluded on BOTH sides —
    * it is the oracle's symbol delimiter; zero occurrences in every gate
    * corpus, and the exclusion is part of the operator contract so a
    * corpus that does carry it still compares equal instead of
    * corrupting the oracle's encoding. */
  private def bpeTrainCore(docs: org.apache.spark.sql.DataFrame, merges: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val wf = docs.select(explode(TextFns.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("\u0001"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // split by CODE POINT, not UTF-16 code unit, as the oracle slices
    // DuckDB strings: a code-unit split would shear supplementary-plane
    // characters (emoji, rare CJK) into unpaired surrogates
    val (table, syms) = bpeLocalTrain(wf.map { case (w, f) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f)
    }, merges)
    val spark = docs.sparkSession
    val mergeRows = table.map { case (step, l, r, n) => Row(step, l, r, l + r, n) }
    val vocabRows = wf.indices.map { i =>
      Row(wf(i)._1, wf(i)._2, syms(i).length.toLong, syms(i).mkString(" "))
    }
    (spark.createDataFrame(mergeRows.asJava, mergesSchema),
      spark.createDataFrame(vocabRows.asJava, vocabSchema))
  }

  /** String order by code point — the order of Spark's UTF8String and
    * of DuckDB. Java's `compareTo` compares UTF-16 units, which sorts
    * surrogate pairs (code points above U+FFFF) below U+E000–U+FFFF;
    * lifting surrogates above that block at the first differing unit
    * restores code-point order. */
  private val codePointOrder: Ordering[String] = new Ordering[String] {
    private def lift(c: Char): Int =
      if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) Integer.compare(a.length, b.length)
      else Integer.compare(lift(a.charAt(i)), lift(b.charAt(i)))
    }
  }

  /** Exact sequential BPE over an in-memory word-frequency table with
    * incremental pair-count maintenance: a TreeSet orders candidates by
    * (count desc, l, r) in code-point order — the tie-break of Spark's
    * `orderBy` and of the oracle — and each merge touches only the words
    * that contain its pair (occurrence index; stale entries tolerated
    * and re-checked). Greedy left-to-right non-overlapping application
    * (see [[bpeTrain]]). Returns the merge table and every word's final
    * symbol list, in input order. */
  private[graft] def bpeLocalTrain(words: Array[(Array[String], Long)],
      merges: Int): (Seq[(Int, String, String, Long)], IndexedSeq[Seq[String]]) = {
    import scala.collection.mutable
    val syms = words.map(w => mutable.ArrayBuffer.from(w._1))
    val freq = words.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    val heap = mutable.TreeSet.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering.Long.reverse, codePointOrder, codePointOrder))
    def bump(p: (String, String), delta: Long, wordIdx: Int): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) heap -= ((old, p._1, p._2))
      val nw = old + delta
      if (nw == 0L) counts.remove(p)
      else { counts(p) = nw; heap += ((nw, p._1, p._2)) }
      if (delta > 0L && wordIdx >= 0)
        occ.getOrElseUpdate(p, mutable.Set.empty) += wordIdx
    }
    syms.indices.foreach { i =>
      var j = 0
      while (j < syms(i).length - 1) {
        bump((syms(i)(j), syms(i)(j + 1)), freq(i), i); j += 1
      }
    }
    val out = mutable.Buffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= merges && heap.nonEmpty) {
      val (n, l, r) = heap.head
      out += ((step, l, r, n))
      val pair = (l, r)
      occ.remove(pair).getOrElse(mutable.Set.empty).foreach { wi =>
        val s = syms(wi)
        // greedy left-to-right merge in place; skip if stale (no hit)
        var hit = false
        var j = 0
        while (j < s.length - 1 && !hit) {
          hit = s(j) == l && s(j + 1) == r; j += 1
        }
        if (hit) {
          val before = s.toIndexedSeq
          val acc = mutable.ArrayBuffer.empty[String]
          var k = 0
          while (k < before.length) {
            if (acc.nonEmpty && acc.last == l && before(k) == r)
              acc(acc.length - 1) = l + r
            else acc += before(k)
            k += 1
          }
          s.clear(); s ++= acc
          // incremental count diff: retract the old adjacency multiset,
          // add the new one (word lengths are small; exact and simple)
          var x = 0
          while (x < before.length - 1) {
            bump((before(x), before(x + 1)), -freq(wi), -1); x += 1
          }
          x = 0
          while (x < acc.length - 1) {
            bump((acc(x), acc(x + 1)), freq(wi), wi); x += 1
          }
        }
      }
      step += 1
    }
    (out.toSeq, syms.toIndexedSeq.map(_.toSeq))
  }

  /** The k unrolled training rounds shared by t18's and t19's oracles:
    * tk → wf → v0 (delimited symbol strings, word carried along) →
    * sp/p/b/v per round. Merge application is a `list_reduce` left fold
    * over the word's symbol list (each symbol wrapped <d>sym<d> with the
    * U+0001 delimiter; words carrying it are excluded from the vocab on
    * both sides — see bpeTrain): merge when the accumulator's LAST
    * symbol == l and the incoming symbol == r, exactly the engine's
    * greedy fold ([[bpeLocalTrain]]) — exact on same-symbol runs where the old
    * replace fixpoint silently stranded singles (see [[bpeTrain]]).
    * `v$i` LEFT JOINs its round's best pair so an empty candidate set
    * keeps the vocabulary UNCHANGED (the engine's behavior) instead of
    * zeroing it. */
  private def bpeChainSql(merges: Int,
      fromSql: String = "documents"): String = {
    val d = "chr(1)"
    // exact greedy fold: acc is a <d>-delimited symbol string ending in
    // <d>; each element arrives pre-wrapped <d>sym<d>. ends_with's
    // leading <d> pins the match to a whole trailing SYMBOL (no symbol
    // contains the delimiter), so a multi-char symbol merely SUFFIXED by
    // l never merges.
    val fold =
      s"""list_reduce(
         |    list_transform(list_filter(str_split(s, $d), x -> x <> ''),
         |                   x -> $d || x || $d),
         |    (acc, x) -> CASE
         |      WHEN ends_with(acc, $d || b.l || $d) AND x = $d || b.r || $d
         |      THEN left(acc, len(acc) - len(b.l) - 1) || b.l || b.r || $d
         |      ELSE acc || x[2:] END)""".stripMargin
    val rounds = (1 to merges).map { i =>
      s"""sp$i AS (SELECT freq, str_split(s, chr(1)) AS f FROM v${i - 1}),
         |p$i AS MATERIALIZED (
         |  SELECT f[j + 1] AS l, f[j + 2] AS r, sum(freq) AS n
         |  FROM sp$i, unnest(range(1, len(f) - 2)) AS u(j)
         |  WHERE len(f) >= 4
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, n FROM p$i
         |  ORDER BY n DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT w, freq, CASE WHEN b.l IS NULL THEN s ELSE $fold END AS s
         |  FROM v${i - 1} LEFT JOIN b$i b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""tk AS (SELECT unnest($toksSql) AS w FROM $fromSql),
       |wf AS (SELECT w, count(*) AS freq FROM tk
       |       WHERE w <> '' AND strpos(w, chr(1)) = 0 GROUP BY w),
       |v0 AS MATERIALIZED (SELECT w, freq,
       |  chr(1) || array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> w[i:i]), chr(1)) || chr(1) AS s
       |  FROM wf),
       |$rounds""".stripMargin
  }

  private def bpeTrainOracleSql(merges: Int): String = {
    val union = (1 to merges)
      .map(i => s"SELECT $i AS step, l, r, n FROM b$i")
      .mkString("\n       UNION ALL ")
    s"""WITH ${bpeChainSql(merges)},
       |mt AS ($union)
       |SELECT step, l AS lhs, r AS rhs, l || r AS merged,
       |  CAST(n AS BIGINT) AS n
       |FROM mt
       |ORDER BY step""".stripMargin
  }

  /** Chain + per-doc rollup shared by t19's oracle and e07's (Pipeline):
    * ends at `agg(doc_id, n_words, bpe_tokens)` over docs with ≥ 1
    * eligible word — callers LEFT JOIN documents to zero-fill. */
  private[operators] def bpeDocCountsSql(merges: Int): String =
    s"""${bpeChainSql(merges)},
       |enc AS (SELECT w, CAST(len(str_split(s, chr(1))) - 2 AS BIGINT) AS nsyms
       |        FROM v$merges),
       |tkd AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |        CAST(sum(nsyms) AS BIGINT) AS bpe_tokens
       |        FROM tkd JOIN enc USING (w)
       |        GROUP BY doc_id)""".stripMargin

  /** t19's oracle: the trained vocabulary's per-word symbol counts joined
    * back to the per-doc token stream — see [[bpeEncodeWith]]. The OOV count
    * replays the Spark side's ELIGIBLE-word filter ('' and delimiter
    * words excluded before the vocabulary join) and left-joins, so a
    * vocabulary gap shows up as a real n_oov mismatch, not silence. */
  private def bpeEncodeOracleSql(merges: Int): String =
    s"""WITH ${bpeDocCountsSql(merges)},
       |tke AS (SELECT doc_id, w FROM tkd
       |        WHERE w <> '' AND strpos(w, chr(1)) = 0),
       |oov AS (SELECT doc_id,
       |        CAST(count(*) - count(nsyms) AS BIGINT) AS n_oov
       |        FROM tke LEFT JOIN enc USING (w)
       |        GROUP BY doc_id)
       |SELECT d.doc_id AS doc_id,
       |  CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(bpe_tokens, 0) AS BIGINT) AS bpe_tokens,
       |  CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |LEFT JOIN oov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** t22's oracle: the trained vocabulary's per-word SYMBOL STRINGS
    * reassembled into each document's ordered token stream and
    * fingerprinted — the oracle recomputes the identical md5 over the
    * identical space-joined sequence, so one hash certifies content AND
    * order of every document's trained tokens. */
  private def bpeTokenizeOracleSql(merges: Int): String =
    s"""WITH ${bpeChainSql(merges)},
       |enc AS (SELECT w,
       |    array_to_string(list_filter(str_split(s, chr(1)), x -> x <> ''),
       |                    ' ') AS syms_str,
       |    CAST(len(str_split(s, chr(1))) - 2 AS BIGINT) AS nsyms
       |  FROM v$merges),
       |dt AS (SELECT doc_id,
       |    list_filter($toksSql,
       |                x -> x <> '' AND strpos(x, chr(1)) = 0) AS t
       |  FROM documents),
       |tkd AS (SELECT doc_id, j AS pos, t[j + 1] AS w
       |        FROM dt, unnest(range(0, len(t))) AS u(j)),
       |seq AS (SELECT doc_id,
       |    CAST(sum(nsyms) AS BIGINT) AS n_tokens,
       |    md5(string_agg(syms_str, ' ' ORDER BY pos)) AS tokens_fp
       |  FROM tkd JOIN enc USING (w)
       |  GROUP BY doc_id)
       |SELECT d.doc_id AS doc_id,
       |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       |  coalesce(tokens_fp, md5('')) AS tokens_fp
       |FROM documents d LEFT JOIN seq USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** t20's oracle: the same training rounds over the inline certificate
    * corpus, ending at the final vocabulary's fold results. */
  private def bpeRunCertOracleSql(merges: Int): String = {
    val values = runCertCorpus
      .map { case (id, text) => s"($id, '$text')" }.mkString(", ")
    val from = s"(VALUES $values) AS corpus(doc_id, text)"
    s"""WITH ${bpeChainSql(merges, from)}
       |SELECT w, CAST(freq AS BIGINT) AS freq,
       |  array_to_string(list_filter(str_split(s, chr(1)), x -> x <> ''),
       |                  ' ') AS syms_str
       |FROM v$merges
       |ORDER BY w""".stripMargin
  }

  /** The [[TextFns.qualityScore]] formula over CTE columns `n`
    * (normalized text) and `t` (token list) — shared by d10's oracle and
    * the e01 pipeline oracle so both gate the SAME quality semantics. */
  private[operators] val qualitySql: String =
    s"""round((CASE WHEN len(t) >= 10 THEN 0.4 ELSE 0.0 END)
       |  + (CASE WHEN round(length(regexp_replace(n, '[a-z0-9 ]', '', 'g'))::DOUBLE
       |                   / greatest(length(n), 1), 4) <= 0.1 THEN 0.3 ELSE 0.0 END)
       |  + (CASE WHEN round(${scoreSql(Stopwords.en)}::DOUBLE / greatest(len(t), 1), 4) >= 0.05
       |          THEN 0.3 ELSE 0.0 END), 2)""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- t13: per-domain cap (mixture control) -------------------------
    // The oracle is the NAIVE single-window form the Spark side exists to
    // avoid — same keep-set by construction (monotone bucketing), opposite
    // plan shape, so a hash match certifies the threshold-select rewrite
    // is lossless, not that two copies of one algorithm agree.
    Q("t13_domain_cap",
      (s, dir) => domainCap(Tables.load(s, dir, "documents")),
      Some(s"""WITH p AS (SELECT doc_id, source AS domain,
              |        ${graft.functions.PortableHash.baseHashSql("source || ':' || doc_id")} AS h
              |      FROM documents),
              |r AS (SELECT doc_id, domain,
              |        row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rk
              |      FROM p)
              |SELECT doc_id, domain FROM r WHERE rk <= 15
              |ORDER BY domain, doc_id""".stripMargin)),

    // ---- t09: repetition score -----------------------------------------
    // Repeated-bigram fraction (1 - distinct/total) — the cheap repetition
    // detector that catches boilerplate, keyword stuffing, and degenerate
    // generations before they reach training. Pure per-row column math:
    // one scan, zero shuffles, exact 4dp ratio portable to the oracle.
    Q("t09_repetition",
      (s, dir) => {
        val bi = TextFns.bigramsOfTokens(col("__t"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
          .select(col("doc_id"),
            size(bi).cast("long").as("n_bigrams"),
            size(array_distinct(bi)).cast("long").as("n_distinct"))
          .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
            // zero-bigram docs (empty / single word) score 0, not the
            // 1 - 0/1 = 1.0 the bare formula gives: "no repetition
            // observed" must not read as "maximally repetitive"
            when(col("n_bigrams") === 0, lit(0.0))
              .otherwise(round(lit(1.0) - col("n_distinct").cast("double") /
                col("n_bigrams"), 4)).as("repetition"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
              |b AS (SELECT doc_id,
              |        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
              |      FROM d)
              |SELECT doc_id,
              |  CAST(len(bg) AS BIGINT) AS n_bigrams,
              |  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct,
              |  CASE WHEN len(bg) = 0 THEN 0.0
              |       ELSE round(1.0 - len(list_distinct(bg))::DOUBLE / len(bg), 4)
              |  END AS repetition
              |FROM b
              |ORDER BY doc_id""".stripMargin)),

    // ---- t17: Gopher intra-doc repetition filters ----------------------
    // The oracle recomputes the top-bigram count by grouped frequency
    // (the Spark side uses a sorted-array longest-run fold — different
    // algorithm, same integer) and rebuilds the duplicated-5-gram
    // coverage with d19's positional islands CTE restricted to IN-DOC
    // duplicates. Hash parity certifies both rules and the drop flag.
    Q("t17_gopher_repetition",
      // per-row kernel work (token ranking, sorted n-gram keys) over a
      // one-task scan — fan out first (graft.FanOut, no-op at scale)
      (s, dir) => gopherRepetition(graft.FanOut.cpuBound(
          Tables.load(s, dir, "documents"), col("doc_id")))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
              |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM d),
              |bge AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
              |          i -> t[i] || ' ' || t[i+1])) AS g FROM d),
              |topb AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt FROM
              |         (SELECT doc_id, g, count(*) AS c FROM bge
              |          GROUP BY doc_id, g) GROUP BY doc_id),
              |ex AS (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM d),
              |pos AS (SELECT doc_id, i AS s_start, i + 4 AS s_end,
              |        array_to_string(t[i:i+4], ' ') AS s FROM ex),
              |dupg AS (SELECT doc_id, s FROM pos GROUP BY doc_id, s
              |         HAVING count(*) >= 2),
              |sp AS (SELECT p.doc_id, p.s_start, p.s_end
              |       FROM pos p JOIN dupg USING (doc_id, s)),
              |isl AS (SELECT doc_id, s_start, s_end,
              |        CASE WHEN s_start > coalesce(max(s_end) OVER (
              |          PARTITION BY doc_id ORDER BY s_start
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |        THEN 1 ELSE 0 END AS brk FROM sp),
              |isl2 AS (SELECT doc_id, s_start, s_end,
              |         sum(brk) OVER (PARTITION BY doc_id ORDER BY s_start
              |           ROWS UNBOUNDED PRECEDING) AS gid FROM isl),
              |cov AS (SELECT doc_id, max(s_end) - min(s_start) + 1 AS ctoks
              |        FROM isl2 GROUP BY doc_id, gid),
              |agg AS (SELECT doc_id, CAST(sum(ctoks) AS BIGINT) AS dup_tokens
              |        FROM cov GROUP BY doc_id)
              |SELECT n.doc_id AS doc_id, n_tokens,
              |  CAST(coalesce(top_cnt, 0) AS BIGINT) AS top_bigram_cnt,
              |  CAST(10000 * coalesce(top_cnt, 0) * 2
              |       // greatest(n_tokens, 1) AS BIGINT) AS top_bigram_frac_bp,
              |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup5_tokens,
              |  CAST(10000 * coalesce(dup_tokens, 0)
              |       // greatest(n_tokens, 1) AS BIGINT) AS dup5_frac_bp,
              |  CAST(CASE WHEN n_tokens >= 50
              |             AND (10000 * coalesce(top_cnt, 0) * 2
              |                    // greatest(n_tokens, 1) > 2000
              |                  OR 10000 * coalesce(dup_tokens, 0)
              |                    // greatest(n_tokens, 1) > 1500)
              |       THEN 1 ELSE 0 END AS INT) AS flagged
              |FROM n LEFT JOIN topb USING (doc_id) LEFT JOIN agg USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // ---- t10: sequence packing -----------------------------------------
    // Where every document lands after shard-parallel GPT-style
    // concatenate-and-cut packing (budget 512 tokens, 8 shards). The
    // oracle re-derives the same per-shard running sums with a window —
    // integer-exact, so the whole layout is hash-gated.
    Q("t10_pack_sequences",
      (s, dir) => packSequences(Tables.load(s, dir, "documents"), 512, 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
              |    ${graft.functions.PortableHash.baseHashSql("doc_id::VARCHAR")} % 8 AS shard
              |  FROM documents),
              |c AS (SELECT doc_id, shard, n_tokens,
              |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              |         - n_tokens AS BIGINT) AS pre
              |  FROM t)
              |SELECT doc_id, shard, n_tokens,
              |  CAST(pre // 512 AS BIGINT) AS seq_id,
              |  CAST(pre % 512 AS BIGINT) AS seq_offset
              |FROM c
              |ORDER BY doc_id""".stripMargin)),

    // ---- t12: top-k collocations by integer-exact PMI lift -------------
    // Collocation extraction (the phrase-mining pass of a corpus
    // pipeline): rank adjacent word pairs by the PMI likelihood ratio
    // p(xy)/(p(x)p(y)) = c_xy·N² / (M·c_x·c_y) — emitted as the exact
    // integer micro-unit quotient (DECIMAL(38,0)/HUGEINT arithmetic, no
    // libm log: the ratio is monotone in PMI so the RANKING is identical,
    // the g12 discretization idea). Min-support 5 keeps rare-pair noise
    // out and the top-20 deterministic (ties broken by pair text).
    // Bigrams keep multiplicity (no array_distinct) — counts, not sets.
    Q("t12_collocations",
      (s, dir) => collocations(Tables.load(s, dir, "documents")),
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS l FROM documents),
              |uni AS (SELECT term, count(*) AS c
              |        FROM (SELECT unnest(l) AS term FROM d)
              |        WHERE term <> '' GROUP BY term),
              |bgs AS (SELECT unnest(list_transform(range(1, len(l)),
              |                 i -> l[i] || ' ' || l[i+1])) AS bg FROM d),
              |big AS (SELECT bg, count(*) AS cxy FROM bgs
              |        GROUP BY bg HAVING count(*) >= 5),
              |sp AS (SELECT string_split(bg, ' ')[1] AS x,
              |              string_split(bg, ' ')[2] AS y, cxy FROM big),
              |tot AS (SELECT
              |    CAST(sum(len(list_filter(l, t -> t <> ''))) AS BIGINT) AS n,
              |    CAST(sum(greatest(len(l) - 1, 0)) AS BIGINT) AS m FROM d)
              |SELECT x, y, cxy,
              |  CAST(CAST(1000000 AS HUGEINT) * cxy * n * n
              |       // (CAST(m AS HUGEINT) * cx * cy) AS BIGINT) AS lift_micro
              |FROM sp
              |JOIN (SELECT term AS x, c AS cx FROM uni) ux USING (x)
              |JOIN (SELECT term AS y, c AS cy FROM uni) uy USING (y)
              |CROSS JOIN tot
              |ORDER BY lift_micro DESC, x, y
              |LIMIT 20""".stripMargin)),

    // ---- t01: token statistics -----------------------------------------
    Q("t01_token_stats",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          TextFns.bpeishTokenCount(col("text")).as("n_bpeish"),
          length(TextFns.normalizeText(col("text"))).as("n_chars_norm"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  len($toksSql) AS n_tokens,
              |  len(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpeish,
              |  length($normSql) AS n_chars_norm
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // ---- t02: quality heuristics ---------------------------------------
    Q("t02_quality",
      // one-task scan, four normalize/score expressions per row — fan out
      (s, dir) => graft.FanOut.cpuBound(
          Tables.load(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          TextFns.punctRatio(col("text")).as("punct_ratio"),
          TextFns.stopwordRatio(col("text")).as("stopword_ratio"),
          TextFns.avgTokenLen(col("text")).as("avg_token_len"),
          TextFns.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $normSql AS n, $toksSql AS t FROM documents)
              |SELECT doc_id,
              |  round(length(regexp_replace(n, '[a-z0-9 ]', '', 'g'))::DOUBLE
              |        / greatest(length(n), 1), 4) AS punct_ratio,
              |  round(${scoreSql(Stopwords.en)}::DOUBLE / greatest(len(t), 1), 4) AS stopword_ratio,
              |  round((length(n) - (len(t) - 1))::DOUBLE / greatest(len(t), 1), 4) AS avg_token_len,
              |  round((CASE WHEN len(t) >= 10 THEN 0.4 ELSE 0.0 END)
              |      + (CASE WHEN round(length(regexp_replace(n, '[a-z0-9 ]', '', 'g'))::DOUBLE
              |                       / greatest(length(n), 1), 4) <= 0.1 THEN 0.3 ELSE 0.0 END)
              |      + (CASE WHEN round(${scoreSql(Stopwords.en)}::DOUBLE / greatest(len(t), 1), 4) >= 0.05
              |              THEN 0.3 ELSE 0.0 END), 2) AS quality
              |FROM d
              |ORDER BY doc_id""".stripMargin)),

    // ---- t03: language identification ----------------------------------
    Q("t03_langid",
      // langId evaluates 4 stopword-score expressions + a CJK regex per
      // row over a one-task scan — fan out first (no-op at scale)
      (s, dir) => graft.FanOut.cpuBound(
          Tables.load(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          TextFns.langId(col("text")).as("pred_lang"),
          col("lang"),
          (TextFns.langId(col("text")) === col("lang")).as("is_match"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, lang, text, $toksSql AS t FROM documents),
              |scored AS (SELECT doc_id, lang,
              |  regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk,
              |  ${scoreSql(Stopwords.en)} AS en_s,
              |  ${scoreSql(Stopwords.de)} AS de_s,
              |  ${scoreSql(Stopwords.fr)} AS fr_s,
              |  ${scoreSql(Stopwords.es)} AS es_s
              |FROM d)
              |SELECT doc_id,
              |  CASE WHEN cjk THEN 'zh'
              |       WHEN de_s > greatest(en_s, fr_s, es_s) THEN 'de'
              |       WHEN fr_s > greatest(en_s, es_s) THEN 'fr'
              |       WHEN es_s > en_s THEN 'es'
              |       ELSE 'en' END AS pred_lang,
              |  lang,
              |  (CASE WHEN cjk THEN 'zh'
              |        WHEN de_s > greatest(en_s, fr_s, es_s) THEN 'de'
              |        WHEN fr_s > greatest(en_s, es_s) THEN 'fr'
              |        WHEN es_s > en_s THEN 'es'
              |        ELSE 'en' END) = lang AS is_match
              |FROM scored
              |ORDER BY doc_id""".stripMargin)),

    // ---- t04: content fingerprint --------------------------------------
    Q("t04_fingerprint",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.fingerprint(col("text")).as("fp"),
          col("source"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, md5($normSql) AS fp, source
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // ---- t05: TF-IDF top terms per document ----------------------------
    // One explode + two aggregations (tf, then df) + a broadcast of the
    // tiny doc count; ranking is on the ROUNDED score with a term
    // tiebreak, so the ln() last-ulp difference between libm and DuckDB
    // can't reorder rows. At corpus scale df is the only global state —
    // a map-side-combined count per term.
    Q("t05_tfidf",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val nn = docs.agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
        tf.join(df, "term").crossJoin(broadcast(nn))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(col("n") / col("df")), 4).as("tfidf"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS tf
              |       FROM toks WHERE term <> '' GROUP BY doc_id, term),
              |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              |nn AS (SELECT count(*) AS n FROM documents),
              |scored AS (SELECT doc_id, tf.term,
              |    round(tf * ln(n / df), 4) AS tfidf
              |  FROM tf JOIN df ON tf.term = df.term, nn),
              |ranked AS (SELECT doc_id, term, tfidf,
              |    row_number() OVER (PARTITION BY doc_id
              |                       ORDER BY tfidf DESC, term) AS rank
              |  FROM scored)
              |SELECT doc_id, rank, term, tfidf
              |FROM ranked WHERE rank <= 3
              |ORDER BY doc_id, rank""".stripMargin)),

    // ---- t07: PII redaction (training-data privacy pass) ---------------
    // Scrub digit runs and email-shaped tokens from the text before it
    // enters a training mix; one scan-parallel pass of two regexes.
    // Checked via the md5 of the redacted text (pins every byte of the
    // transform without dumping the corpus) plus the redaction count.
    // Patterns stay in the Java/RE2 common subset so both engines match
    // identically.
    Q("t07_redact",
      (s, dir) => {
        val email = "[a-z0-9.]+@[a-z0-9.]+"
        val digits = "[0-9]+"
        val norm = TextFns.normalizeText(col("text"))
        val redacted = regexp_replace(
          regexp_replace(norm, email, "<EMAIL>"), digits, "<NUM>")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), md5(redacted).as("redacted_md5"),
            (size(regexp_extract_all(norm, lit(email), lit(0))) +
              size(regexp_extract_all(
                regexp_replace(norm, email, "<EMAIL>"), lit(digits), lit(0))))
              .as("n_redactions"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH n AS (SELECT doc_id, $normSql AS t FROM documents),
              |r AS (SELECT doc_id, t,
              |        regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g') AS t1
              |      FROM n)
              |SELECT doc_id,
              |  md5(regexp_replace(t1, '[0-9]+', '<NUM>', 'g')) AS redacted_md5,
              |  CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+'))
              |     + len(regexp_extract_all(t1, '[0-9]+')) AS INT) AS n_redactions
              |FROM r
              |ORDER BY doc_id""".stripMargin)),

    // ---- t08: vocabulary coverage / OOV rate ---------------------------
    // Top-1000 corpus vocabulary (deterministic: count desc, term asc),
    // then per-document out-of-vocabulary token ratio — the data-quality
    // number that tells you whether a document is language/domain drift
    // before it enters a training mix. The vocab is tiny and broadcast;
    // the corpus pass is one explode + one aggregation.
    Q("t08_vocab_coverage",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
        // orderBy+limit, not a global row_number window: Spark plans this
        // as TakeOrderedAndProject (per-partition top-k, merged on the
        // driver) where an unpartitioned window would sort the whole
        // frequency table in one task
        val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term")).limit(1000)
          .select(col("term"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("term"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            round(col("n_oov").cast("double") / col("n_tokens"), 4).as("oov_ratio"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term
              |             FROM documents),
              |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
              |freq AS (SELECT term, count(*) AS n FROM tk GROUP BY term),
              |vocab AS (SELECT term FROM (
              |    SELECT term, row_number() OVER (ORDER BY n DESC, term) AS r
              |    FROM freq) WHERE r <= 1000)
              |SELECT doc_id, count(*) AS n_tokens,
              |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
              |  round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE
              |        / count(*), 4) AS oov_ratio
              |FROM tk LEFT JOIN vocab v ON tk.term = v.term
              |GROUP BY doc_id
              |ORDER BY doc_id""".stripMargin)),

    // ---- t11: unigram surprisal (LM-ish quality signal) ----------------
    // Mean per-token surprisal under the corpus's own unigram model —
    // documents full of rare-token soup score high, natural prose low:
    // the cheap language-model-quality filter a pretraining pipeline
    // runs before anything transformer-shaped. Surprisal is discretized
    // to the integer bit length of (corpus_tokens div token_freq) — the
    // g12/g08 trick: ⌊log₂⌋+1 with no libm ln and no FP sum reordering,
    // so per-doc sums are exact integers in any engine. Plan shape: one
    // token explode, one frequency aggregation, one equi-join back on
    // term (at 100 TB: broadcast the Zipf head of the frequency table
    // and shuffle only the long tail), one per-doc aggregation.
    Q("t11_unigram_surprisal",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
        val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("freq"))
        // total token count from a per-row size(), NOT sum(freq): deriving
        // it from `freq` duplicates the whole explode+shuffle subtree in
        // the plan (no exchange reuse across the differing aggregates) —
        // this form is one scalar scan with no explode and no shuffle
        val nn = Tables.load(s, dir, "documents")
          .agg(sum(size(array_remove(TextFns.tokens(col("text")), "")))
            .as("n_corpus"))
        toks.join(freq, "term").crossJoin(broadcast(nn))
          .withColumn("bits", length(expr("bin(n_corpus div freq)")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("bits")).as("sum_bits"))
          .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
            expr("sum_bits * 1000 div n_tokens").as("mean_millibits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
              |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
              |freq AS (SELECT term, count(*) AS freq FROM tk GROUP BY term),
              |nn AS (SELECT CAST(sum(freq) AS BIGINT) AS n_corpus FROM freq)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(sum(length(format('{:b}', n_corpus // freq))) AS BIGINT) AS sum_bits,
              |  CAST(sum(length(format('{:b}', n_corpus // freq))) * 1000
              |       // count(*) AS BIGINT) AS mean_millibits
              |FROM tk JOIN freq USING (term), nn
              |GROUP BY doc_id
              |ORDER BY doc_id""".stripMargin)),

    // ---- t14: CCNet-style perplexity buckets ---------------------------
    // The per-doc unigram surprisal (t11's integer-bits model standing in
    // for the wiki-LM perplexity) terciled WITHIN language into
    // head/middle/tail — the CCNet bucketing a crawl pipeline uses to
    // keep/downsample/drop by fluency. lang is a 3-value key, so the
    // tercile is NOT a Window.partitionBy(lang) (one task per lang at any
    // scale) but Relational.distributionRanks' two-pass range-partitioned
    // rank: max task load n/parts regardless of group cardinality, with
    // (mean_millibits, doc_id) the tie-broken total order both engines
    // rank identically. ntile(3) semantics (first n mod 3 buckets one
    // larger) are the SQL standard on both sides.
    Q("t14_perplexity_buckets",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = docs
          .select(col("doc_id"), col("lang"),
            explode(TextFns.tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
        val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("freq"))
        val nn = docs
          .agg(sum(size(array_remove(TextFns.tokens(col("text")), "")))
            .as("n_corpus"))
        val perDoc = toks.join(freq, "term").crossJoin(broadcast(nn))
          .withColumn("bits", length(expr("bin(n_corpus div freq)")))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
          .select(col("doc_id"), col("lang"),
            expr("sum_bits * 1000 div n_tokens").as("mean_millibits"))
        Relational.distributionRanks(perDoc, Seq("lang"),
            Seq(col("mean_millibits"), col("doc_id")), ntiles = 3)
          .select(col("doc_id"), col("lang"), col("mean_millibits"),
            when(col("octile") === 1, "head")
              .when(col("octile") === 2, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, unnest($toksSql) AS term FROM documents),
              |tk AS (SELECT doc_id, lang, term FROM toks WHERE term <> ''),
              |freq AS (SELECT term, count(*) AS freq FROM tk GROUP BY term),
              |nn AS (SELECT CAST(sum(freq) AS BIGINT) AS n_corpus FROM freq),
              |pd AS (SELECT doc_id, lang,
              |    CAST(sum(length(format('{:b}', n_corpus // freq))) * 1000
              |         // count(*) AS BIGINT) AS mean_millibits
              |  FROM tk JOIN freq USING (term), nn
              |  GROUP BY doc_id, lang),
              |b AS (SELECT doc_id, lang, mean_millibits,
              |    ntile(3) OVER (PARTITION BY lang
              |                   ORDER BY mean_millibits, doc_id) AS tl
              |  FROM pd)
              |SELECT doc_id, lang, mean_millibits,
              |  CASE tl WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              |          ELSE 'tail' END AS bucket
              |FROM b ORDER BY doc_id""".stripMargin)),

    // ---- t16: BPE pair statistics (tokenizer-training inner step) ------
    // The count-adjacent-pairs step a BPE trainer iterates: character
    // pairs weighted by word frequency, top 20 by (count, pair). The
    // scale trick is the real BPE one — pairs explode over the DISTINCT
    // VOCABULARY (already map-side-combined to word counts), never over
    // the corpus token stream; the top-k is TakeOrdered, no global sort
    // materializes. Both engines slice strings by CHARACTER (Spark
    // substr / DuckDB [i:j]), so the unicode fuzz docs exercise the
    // same boundaries in both.
    Q("t16_bpe_pairs",
      (s, dir) => {
        val words = Tables.load(s, dir, "documents")
          .select(explode(TextFns.tokens(col("text"))).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        words.filter(length(col("w")) >= 2)
          .select(col("freq"),
            explode(transform(sequence(lit(1), length(col("w")) - 1),
              i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20)
      },
      Some(s"""WITH tk AS (SELECT unnest($toksSql) AS w FROM documents),
              |wf AS (SELECT w, count(*) AS freq FROM tk WHERE w <> '' GROUP BY w),
              |pr AS (SELECT w[i:i+1] AS pair, freq
              |       FROM wf, unnest(range(1, len(w))) AS u(i)
              |       WHERE len(w) >= 2)
              |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
              |FROM pr GROUP BY pair
              |ORDER BY n DESC, pair
              |LIMIT 20""".stripMargin)),

    // ---- t18: BPE TRAINING (k iterated merges) --------------------------
    // t16 run to its fixed point: 8 rounds of count-pairs → argmax →
    // merge-in-every-word, trained in memory after ONE word-count wave
    // (no Spark job per round); output = the merge table (the trained
    // tokenizer). The oracle unrolls the identical 8 rounds over a
    // delimited-symbol vocabulary with the same greedy left fold — see
    // bpeTrain's scaladoc for the greedy-non-overlap semantics.
    // r11 verdict #5: t18 now trains via the SHARED persisted artifact —
    // one training run per process serves t18, t19, and e07; the query
    // reads the merge table back through the declared schema, and the
    // unchanged oracle hash certifies the artifact round trip.
    Q("t18_bpe_train",
      (s, dir) => bpeLoadMerges(s, ensureTrainedArtifact(s, dir, merges = 8)),
      Some(bpeTrainOracleSql(8))),

    // ---- t19: encode with the trained tokenizer --------------------------
    // Per-document token counts under t18's trained merges — the corpus
    // cost model (see bpeEncodeWith). Encodes against the LOADED trained
    // vocabulary (the production path: the tokenizer ships as an
    // artifact); the oracle still replays the full 8 training rounds from
    // source, so one hash certifies training, the artifact round trip,
    // AND encoding.
    Q("t19_bpe_encode",
      (s, dir) => bpeEncodeWith(Tables.load(s, dir, "documents"),
          bpeLoadVocab(s, ensureTrainedArtifact(s, dir, merges = 8)))
        .orderBy(col("doc_id")),
      Some(bpeEncodeOracleSql(8))),

    // ---- t22: tokenize — the actual trained-token SEQUENCE --------------
    // t19 prices the corpus; t22 emits what a trainer consumes: each
    // document's ordered trained-token stream, fingerprinted so one hash
    // certifies content AND order cross-engine. Tokenizes against the
    // LOADED shared artifact (the production path); the oracle replays
    // training from source and reassembles the same stream.
    Q("t22_bpe_tokenize",
      (s, dir) => bpeTokenize(Tables.load(s, dir, "documents"),
          bpeLoadVocab(s, ensureTrainedArtifact(s, dir, merges = 8)))
        .orderBy(col("doc_id")),
      Some(bpeTokenizeOracleSql(8))),

    // ---- t23: VERSIONED tokenizer — pinned encode races a retrain -------
    // The d34 adversarial shape on the trained-tokenizer artifact (r14
    // verdict #4): publish the production tokenizer (8 merges — the one
    // the oracle replays) as v1, PIN it, then publish a RETRAIN with a
    // different merge budget (2) past the pin, and encode the corpus
    // against the pinned version. Any regression of asOf to
    // CURRENT-resolution — or a torn read pairing v1 merges with v2
    // vocabulary — encodes with the wrong symbol counts and breaks the
    // hash on any corpus where merges 3..8 bind, not just a spec. The
    // oracle is t19's unchanged full-training replay, so one hash
    // certifies training, the versioned round trip, the pin, AND
    // encoding. Both trainings resolve through the per-process shared
    // artifact cache (one loop each per process); the publishes are
    // vocabulary-sized copies behind the atomic pointer.
    Q("t23_bpe_versioned_pinned_encode",
      (s, dir) => {
        val root = graft.RunDirs.freshDir("t23").toString
        bpePublishTokenizer(s, ensureTrainedArtifact(s, dir, merges = 8), root)
        val pin = graft.sources.VersionedTables.liveVersion(root).get
        // the retrain publishes past the pin — CURRENT now serves v2
        bpePublishTokenizer(s, ensureTrainedArtifact(s, dir, merges = 2), root)
        bpeEncodeWith(Tables.load(s, dir, "documents"),
            bpeLoadVocabVersioned(s, root, asOf = Some(pin)))
          .orderBy(col("doc_id"))
      },
      Some(bpeEncodeOracleSql(8))),

    // ---- t20: same-symbol-run merge-application certificate -------------
    // Six training rounds over an INLINE corpus whose selected merges all
    // land on runs (aaaaaa / bbbbb / ------ / aa-aa / alternations) — the
    // exact shapes where r10's replace-fixpoint oracle diverged from the
    // engine's greedy fold (ADVICE r10 high). Output is the final
    // VOCABULARY fold results, the direct certificate: under the old
    // oracle this query hashes red ('aaaaaa' → "aa a aa a"), under the
    // list_reduce fold it is green on every corpus.
    Q("t20_bpe_run_cert",
      (s, dir) => {
        import s.implicits._
        bpeVocab(runCertCorpus.toDF("doc_id", "text"), merges = 6)
          .orderBy(col("w"))
      },
      Some(bpeRunCertOracleSql(6))),

    // ---- t21: direct training == the unrolled rounds --------------------
    // bpeTrain straight over the corpus (one word-count wave + exact
    // in-memory training, no artifact round trip) certified against the
    // SAME unrolled-rounds oracle t18 uses: t18 pins the persisted
    // artifact path, t21 the trainer's own output.
    Q("t21_bpe_fast_train",
      (s, dir) => bpeTrain(Tables.load(s, dir, "documents"), merges = 8),
      Some(bpeTrainOracleSql(8))),

    // ---- t15: overlapping token-window chunking (RAG layout) -----------
    // Each document split into stride-48 windows of 64 tokens (16-token
    // overlap) with a per-chunk content fingerprint — the chunk index a
    // retrieval pipeline embeds, as opposed to t10's gapless pretraining
    // packing. Pure per-row array math: one scan, zero shuffles, chunk
    // count and boundaries from integer arithmetic both engines share.
    // Empty docs emit no chunks (sequence(0, -1) would DESCEND — guarded).
    Q("t15_rag_chunks",
      (s, dir) => ragChunks(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_id")),
      Some(s"""WITH d AS (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS t
              |          FROM documents),
              |c AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
              |ch AS (SELECT doc_id, i AS chunk_id, i*48 + 1 AS start_tok,
              |         t[i*48 + 1 : least(i*48 + 64, n)] AS chunk
              |       FROM c, unnest(range((greatest(n - 64, 0) + 47) // 48 + 1)) AS u(i))
              |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
              |  CAST(start_tok AS BIGINT) AS start_tok,
              |  CAST(len(chunk) AS BIGINT) AS n_tokens,
              |  md5(array_to_string(chunk, ' ')) AS chunk_fp
              |FROM ch
              |ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- d10: importance sampling by quality score ---------------------
    // Keep a document with probability proportional to its quality score
    // — deterministic (content-hash threshold, like d06/d07), so the
    // sampled slice is reproducible across runs and engines. Registered
    // here because it composes the quality heuristics with the sampling
    // primitive.
    Q("d10_importance_sample",
      (s, dir) => Tables.load(s, dir, "documents")
        .filter(graft.functions.PortableHash.baseHash(
            TextFns.normalizeText(col("text"))) % 100 <
          TextFns.qualityScore(col("text")) * 100)
        .select(col("doc_id"), TextFns.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      {
        Some(s"""WITH d AS (SELECT doc_id, $normSql AS n, $toksSql AS t FROM documents),
                |q AS (SELECT doc_id, n, $qualitySql AS quality FROM d)
                |SELECT doc_id, quality
                |FROM q
                |WHERE ${graft.functions.PortableHash.baseHashSql("n")} % 100 < quality * 100
                |ORDER BY doc_id""".stripMargin)
      }),

    // ---- t06: inverted index (posting lists) ---------------------------
    // term → document frequency + first-10 sorted posting list. The
    // posting list is the one genuinely order-sensitive aggregate here, so
    // it is sorted in-engine (`sort_array` / `list_sort`) before
    // truncation — engine-portable by construction. Mid-frequency band
    // keeps the demo output bounded; the operator itself is one
    // aggregation at any scale.
    Q("t06_inverted_index",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(TextFns.tokens(col("text"))).as("term"))
          .filter(col("term") =!= "").distinct()
        toks.groupBy(col("term"))
          .agg(count(lit(1)).as("df"),
            array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 10), ",")
              .as("postings_10"))
          .filter(col("df").between(5, 50))
          .orderBy(col("term"))
      },
      Some(s"""WITH toks AS (SELECT DISTINCT doc_id, term FROM (
              |    SELECT doc_id, unnest($toksSql) AS term FROM documents)
              |  WHERE term <> '')
              |SELECT term, CAST(count(*) AS BIGINT) AS df,
              |  array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings_10
              |FROM toks
              |GROUP BY term
              |HAVING count(*) BETWEEN 5 AND 50
              |ORDER BY term""".stripMargin)),
  )
}
