package graft.operators

import graft.{Q, Tables}
import graft.functions.{PortableBloom, PortableHash, TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (content
  * hash), MinHash+LSH, SimHash, exact n-gram Jaccard, and embedding-cosine
  * near-dup. Everything is DataFrame-native (explode/groupBy/join — no
  * driver-side loops), so the same plans run on a 1000-executor cluster:
  * MinHash signatures are computed in-row (a native kernel per
  * document), so the band-bucket self-join is the MinHash path's only
  * shuffle, keyed well for AQE.
  *
  * Hashes use [[PortableHash]] (md5-derived) so every sketch is
  * reproducible in the DuckDB oracle; swap in xxhash64 for raw speed.
  */
object Dedup {

  import PortableHash.{K, P}

  /** Distinct word-bigram shingles per document: (doc_id, s).
    * Dedup happens inside the row (`array_distinct` before explode) — a
    * narrow transform — rather than a global `.distinct()`, which would
    * shuffle every shingle row. Tokenization runs in its own projection
    * (the [[TextFns.ngramsOfTokens]] performance contract). */
  def shingles(docs: DataFrame): DataFrame =
    // Scale-adaptive fan-out on doc_id (graft.FanOut): tokenizing and
    // hashing every shingle is per-row CPU, and on a small tier the scan
    // plans as ONE task. Hash-partitioning on doc_id keeps each doc's
    // shingles colocated, so a doc_id-keyed aggregation above this (the
    // incremental MinHash sketch) finds its distribution already
    // satisfied. No-op at scale (guard in FanOut.cpuBound).
    graft.FanOut.cpuBound(docs, col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.bigramsOfTokens(col("__t")))).as("s"))

  /** Deterministic content-hash sample: keep a document iff its content
    * hash lands under `percent`. Unlike `df.sample()`, the decision is a
    * pure function of the content — reproducible across runs, engines,
    * partitionings, and corpus versions, and consistent for duplicated
    * documents (a near-dup's exact copies sample identically). The
    * standard way to carve a stable eval slice out of a 100 TB corpus. */
  def contentSample(docs: DataFrame, percent: Int): DataFrame =
    docs.filter(PortableHash.baseHash(TextFns.normalizeText(col("text"))) % 100 < percent)

  /** Stratified deterministic sample: per-stratum keep rates keyed by
    * `lang` (fallback `defaultPercent`) over the same content hash as
    * [[contentSample]] — rebalances a multilingual mix while staying a
    * pure, reproducible function of the content. One scan, no shuffle. */
  def stratifiedSample(docs: DataFrame, percentByLang: Map[String, Int],
      defaultPercent: Int): DataFrame = {
    val rate = percentByLang.foldLeft(lit(defaultPercent)) {
      case (acc, (lang, pct)) => when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    docs.filter(
      PortableHash.baseHash(TextFns.normalizeText(col("text"))) % 100 < rate)
  }

  /** Temperature-scaled domain mixture weights — the sampling schedule a
    * multi-domain training run needs (the α-scaled multinomial of XLM /
    * mT5: w_d ∝ tokens_d^α, α < 1 upweights small domains). Per domain:
    * doc/token counts, the raw corpus share, the resampled share, and the
    * expected epochs each domain is replayed when `budgetTokens` are drawn
    * under the resampled shares (epochs > 1 ⇒ that domain repeats —
    * the overfitting signal mixture designers watch).
    *
    * Shape: one map-side-combined agg to ~|domains| rows, then the two
    * scalar totals broadcast back — nothing downstream of the first agg
    * depends on corpus size, so the plan is identical at 100 TB. α = 0.5
    * uses `sqrt` (IEEE-exact in both engines — bit-identical to the
    * oracle); other α fall back to `pow`, correctly-rounded in practice
    * but not guaranteed by IEEE. */
  def mixtureWeights(docs: DataFrame, domainCol: String = "source",
      alpha: Double = 0.5, budgetTokens: Long = 1000000L): DataFrame = {
    def w(c: Column): Column =
      if (alpha == 0.5) sqrt(c.cast("double")) else pow(c.cast("double"), alpha)
    val dom = docs.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
    val tot = dom.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(w(col("n_tokens"))).as("tot_w"))
    dom.crossJoin(broadcast(tot))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("tot_tokens"), 4).as("raw_share"),
        round(w(col("n_tokens")) / col("tot_w"), 4).as("temp_share"),
        round(lit(budgetTokens) * (w(col("n_tokens")) / col("tot_w"))
          / col("n_tokens"), 4).as("expected_epochs"))
      .orderBy(col("domain"))
  }

  /** Quality-ranked greedy selection under a token budget — the cut a
    * training corpus actually takes: order documents by (score DESC,
    * doc_id ASC) and keep the prefix whose cumulative token count stays
    * within `budget` (prefix rule: a document is kept iff the running
    * total INCLUDING it fits — no skip-and-continue knapsack).
    *
    * The global running sum is the [[Relational.distributionRanks]]
    * two-pass shape, generalized from counts to weights: range-partition
    * on the total order (`parts` contiguous slices, max task load
    * n/parts), per-slice token totals → prefix offsets over that tiny
    * `parts`-row table, broadcast back, and local running sums complete
    * the global cumulative count. Never a single-partition global
    * window, which is the textbook cumsum scale-killer. The order must
    * be total (score ties broken by doc_id) or cross-engine determinism
    * is lost. */
  def budgetSelect(docs: DataFrame, score: Column, weight: Column,
      budget: Long, numParts: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = if (numParts > 0) numParts
      else docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(col("doc_id"), score.as("score"),
      weight.cast("long").as("n_tokens"))
    val order = Seq(col("score").desc, col("doc_id").asc)
    // localCheckpoint for the same correctness reason as
    // [[Relational.distributionRanks]]: the slice assignment feeds both
    // the offsets pass and the running-sum pass, and two un-materialized
    // references would each range-sample their own boundaries.
    val ranged = base.repartitionByRange(parts, order: _*)
      // lazy (r16, the distributionRanks rule): one sampling either way;
      // the first consumer materializes the cache
      .withColumn("__pid", spark_partition_id()).localCheckpoint(false)
    val slices = ranged.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__wsum"))
    // deliberately GLOBAL window: the offsets table is bounded at one row
    // per shuffle partition, so single-partition execution is the design,
    // not an accident. WindowExec's per-execution scale warning for this
    // shape is silenced at the logger (GraftSession) — a constant
    // partitionBy key does NOT work, Catalyst folds foldable partition
    // expressions out of the spec (measured: the executed Window is
    // unpartitioned again).
    val offsets = slices.select(col("__pid"),
      coalesce(sum(col("__wsum")).over(Window.orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"))
    val localW = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    ranged.join(broadcast(offsets), "__pid")
      .withColumn("cum_tokens", col("__off") + sum(col("n_tokens")).over(localW))
      .filter(col("cum_tokens") <= budget)
      .drop("__pid", "__off")
  }

  /** Exact dedup decision per document: keeper = min doc_id sharing the
    * normalized-content fingerprint.
    *
    * Shape: groupBy(fp).min + an equi-join back, NOT
    * `min().over(Window.partitionBy(fp))` — WindowExec buffers each
    * fingerprint's whole duplicate cluster in one task, so a
    * pathological 10⁷-copy cluster (empty documents, boilerplate) pins
    * 10⁷ rows in a single partition's memory. The aggregate form is
    * map-side-combined partial mins (constant memory per key) and the
    * join hash-partitions clusters like any other; PlanSpec pins the
    * window's absence on the executed plan. */
  def exactDedup(docs: DataFrame): DataFrame = {
    // explicit repartition on fp: the keeper aggregation and the join
    // probe then both consume the SAME exchange (ReuseExchange dedups the
    // identical subtree), so the text is scanned and fingerprinted once —
    // without it the two references to `fps` each re-read the source and
    // re-run the md5, the dominant per-row cost
    val fps = docs.select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      .repartition(col("fp"))
    val keepers = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper_id"))
    fps.join(keepers, "fp")
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") =!= col("keeper_id")).as("is_dup"))
  }

  /** K-column MinHash signature per document over bigram shingles:
    * (doc_id, m0..mK-1), one row per document with at least one bigram.
    *
    * Formulation note: the signature is computed in-row by the native
    * `graft_minhash` kernel ([[PortableHash.signature]]) — one primitive
    * loop over the token array per document, no shingle rows, no
    * regrouping. It replaced an explode + K `min` aggregates: on the
    * perfbench `executor_work` corpus (4 cores, seed 7) d02's executor
    * CPU per pass fell from 13.2 s to 2.2–3.5 s. The map-only shape also
    * bands a stream row by row ([[streamingLshProbe]]). */
  def minhashSignature(docs: DataFrame): DataFrame =
    signatureArrays(docs).select(col("doc_id") +:
      (0 until K).map(k => col("sig").getItem(k).as(s"m$k")): _*)

  /** (doc_id, sig) with `sig` the K-slot signature array, one row per
    * document with at least one bigram. The fan-out parallelizes the
    * kernel on a one-task scan (no-op at scale or on a stream,
    * FanOut.cpuBound). A bigram-less document's signature is null and
    * the generator drops it in place: a Filter would be pushed below the
    * fan-out and tokenize every document twice, once on the scan task. */
  private def signatureArrays(docs: DataFrame): DataFrame =
    graft.FanOut.cpuBound(docs, col("doc_id"))
      .select(col("doc_id"), PortableHash.signature(TextFns.tokens(col("text"))).as("__s"))
      .select(col("doc_id"),
        explode(when(col("__s").isNotNull, array(col("__s")))).as("sig"))

  /** The incremental-pipeline MinHash path: each document's shingle
    * stream is split into deterministic slices (hash parity — stands in
    * for ingest batches / partition files at 100 TB), every slice is
    * sketched INDEPENDENTLY with the mergeable
    * [[graft.functions.MinHashAggregator]], and the per-slice sketches
    * are merged by elementwise min. The result must equal the
    * whole-corpus signature computed in one pass — that equality is what
    * lets a production pipeline persist per-day partial sketches and
    * fold new data in without re-reading old data (HLL-union-style).
    * Output columns match [[minhashSignature]] (m0..mK-1). */
  def incrementalMinhashSignature(docs: DataFrame, slices: Int = 2): DataFrame = {
    val h = shingles(docs).withColumn("h", PortableHash.baseHash(col("s")))
      .withColumn("slice", pmod(col("h"), lit(slices)))
    val partials = h.groupBy(col("doc_id"), col("slice"))
      .agg(graft.functions.MinHashAggregator.minhashSketch(col("h")).as("sk"))
    val mergeAggs = (0 until K).map(k =>
      min(element_at(col("sk"), k + 1)).as(s"m$k"))
    partials.groupBy(col("doc_id")).agg(mergeAggs.head, mergeAggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing any band of the MinHash signature,
    * with the signature-estimated Jaccard (exact multiple of 1/K, so the
    * value is engine-portable). The signature array rides through the
    * band self-join, so the estimate is computed in-row on candidate
    * pairs — no extra joins back to the signature table. */
  /** Band table of a document set: one (doc_id, sig, band, bkey) row per
    * band, the signature array riding along so candidate pairs score
    * in-row. This IS the persisted LSH index of an incremental pipeline:
    * appending a day's documents appends their band rows. */
  private[graft] def bandTable(docs: DataFrame, bands: Int): DataFrame = {
    val rows = K / bands
    signatureArrays(docs).select(col("doc_id"), col("sig"), explode(array(
        (0 until bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws(",", (0 until rows).map(r =>
              element_at(col("sig"), b * rows + r + 1).cast("string")): _*)).as("bkey"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.bkey"))
  }

  /** Signature-estimated Jaccard of two signature arrays (exact multiple
    * of 1/K — engine-portable): the native `graft_slot_eq` count of equal
    * slots, over K. */
  private def estJaccard(a: Column, b: Column): Column =
    round(call_function("graft_slot_eq", a, b).cast("double") / K, 4)

  def minhashLshPairs(docs: DataFrame, bands: Int = 8): DataFrame = {
    // localCheckpoint: the band table feeds BOTH sides of the self-join —
    // without the barrier the whole signature build (tokenize + the md5
    // MinHash kernel) is re-derived once per side, and AQE
    // sizes the join from compressed estimates that undercount the
    // 32-long sig arrays (the d13 flap class: at 50k smoke docs the
    // estimate slipped under the broadcast threshold and the driver
    // built a corpus-sized broadcast map). Strategy is chosen from the
    // TRUE row count, nearly free off the checkpoint: broadcast only
    // when the uncompressed build side genuinely fits (~400 B/row:
    // 32×8 B sig + 32-hex bkey + keys), else a deterministic shuffled
    // hash join on (band, bkey) — in-partition work grows with bucket
    // occupancy, never the corpus.
    // LAZY checkpoint (r16, the CC-loop mechanism): the sizing count just
    // below is the materializing action — the signature build computes,
    // caches, and counts in one job instead of an eager-checkpoint job
    // plus a separate count over the cached blocks. Single-RDD semantics
    // are unchanged: both join sides still read the one cached table.
    val bandsDf = bandTable(docs, bands).localCheckpoint(false)
    val a = bandsDf.as("a")
    val left = if (bandsDf.count() * 400L < (64L << 20)) a
               else a.hint("shuffle_hash")
    left.join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        estJaccard(col("a.sig"), col("b.sig")).as("est_jaccard"))
      .distinct()
  }

  /** The band artifact's declared schema — reads never infer (an EMPTY
    * partitioned index has no schema-bearing files to infer from: a
    * partitionBy write of zero rows emits only _SUCCESS). `batch_id` is
    * resolved from the leaf's partition directory on read. */
  private[operators] val bandIndexSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", org.apache.spark.sql.types.LongType)
    .add("sig", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))
    .add("band", org.apache.spark.sql.types.IntegerType)
    .add("bkey", org.apache.spark.sql.types.StringType)
    .add("batch_id", org.apache.spark.sql.types.StringType)

  /** Sub-batch TAKEDOWN granularity (r14 verdict #1): band artifacts
    * partition `batch_id` further by a content-INDEPENDENT hash bucket
    * of the doc id, so a delete rewrites `(batch, bucket)` leaves —
    * ~1/[[BandBuckets]] of a batch per hit bucket — instead of whole
    * batch partitions. Without it the delete cost was a step function:
    * tiny for a day-N batch, CORPUS-SIZED for any day-1 document (the
    * `base` partition IS the initial corpus, and old content is exactly
    * where takedown exposure accumulates). The key is a pure function of
    * `doc_id` (never of artifact state or text), so band rows land in
    * the same bucket in every version, probes are layout-agnostic, and
    * the d28/d31–d34 oracle hashes are untouched — this is physical
    * layout only, the exact `(cid, batch_id)` move that made the IVF
    * takedown affected-leaf-sized (VersionedIvf.scala:210).
    *
    * The bucket COUNT is a per-artifact build parameter (the `nlist`
    * convention: registered gate queries run small, production and the
    * BASELINE_SELF band-takedown ledger run the default) recorded IN the
    * artifact — the `buckets` line of the [[VersionedBand]] manifest — so
    * append/delete always derive the modulus from the artifact itself and
    * a caller can never probe with a mismatched bucket function (a silent
    * missed-takedown otherwise). */
  private[graft] val BandBuckets = 256
  private[operators] def bandBucket(docId: Column, buckets: Int): Column =
    pmod(xxhash64(docId), lit(buckets)).cast("int")

  /** [[bandIndexSchema]] plus the physical `bucket` partition column —
    * the on-disk layout; readers project it away before serving rows. */
  private[operators] val bandIndexDiskSchema =
    bandIndexSchema.add("bucket", org.apache.spark.sql.types.IntegerType)

  /** One shuffle keyed on the physical partition columns before a
    * partitioned write: each `(batch, bucket)` lands from ONE task → one
    * file per leaf dir, instead of every task emitting a sliver of every
    * bucket (32 tasks × 256 buckets of tiny files). */
  private[operators] def clusterForBandWrite(rows: DataFrame): DataFrame =
    rows.repartition(col("batch_id"), col("bucket"))

  /** The d14/d30 oracle: full from-scratch band rebuild, banded pair
    * join, signature-estimated Jaccard, restricted to pairs touching the
    * day-2 batch (doc_id % 10 == 0) — the quadrant contract both the
    * inline and the probe-from-artifact forms must reproduce. */
  private lazy val incrementalPairsOracleSql: String = {
    val bands = 8; val rows = K / bands
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sig")
      .mkString("\n       UNION ALL ")
    val matchSum = (0 until K)
      .map(k => s"(CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH ${shCte()},
       |$sigCte,
       |bands AS ($bandSelects),
       |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT d1, d2, round(($matchSum) / ${K}.0, 4) AS est_jaccard
       |FROM pairs
       |JOIN sig sa ON sa.doc_id = d1
       |JOIN sig sb ON sb.doc_id = d2
       |WHERE d1 % 10 = 0 OR d2 % 10 = 0
       |ORDER BY d1, d2""".stripMargin
  }

  /** Incremental dedup: candidate pairs where at least one side is in the
    * NEW batch — new-vs-corpus probes plus new-vs-new self-pairs, never
    * corpus-vs-corpus (history already deduped; re-pairing it is the
    * quadratic cost an incremental pipeline exists to avoid). The batch's
    * band table BROADCASTS, so the corpus-side index — the persisted,
    * append-only artifact ([[bandTable]]) — is probed in place: never
    * shuffled, and at 100 TB never rebuilt (here it is derived inline
    * because a registered query owns no cross-run state). Result ==
    * `minhashLshPairs(corpus ∪ batch)` minus its old-old pairs, which is
    * exactly what the oracle checks. */
  def incrementalLshPairs(corpus: DataFrame, batch: DataFrame,
      bands: Int = 8): DataFrame =
    incrementalPairsCore(bandTable(corpus, bands), bandTable(batch, bands))

  /** d14's incremental probe reading the corpus side from the PERSISTED
    * [[VersionedBand]] artifact instead of re-deriving it (d30, d33, d34)
    * — the form a 100 TB pipeline actually runs: the corpus band table
    * was paid for once at build/append time and is PROBED every day;
    * only the batch computes signatures. The corpus side resolves the
    * artifact's CURRENT pointer (or a pinned `asOf` version) and reads
    * only manifest-named leaves, so the daily dedup pass is safe to run
    * WHILE maintenance writers append/compact/take down — it observes
    * one committed snapshot, never a half-landed batch. Same quadrant
    * contract as [[incrementalLshPairs]] (new-vs-corpus + new-vs-new,
    * never old-vs-old) and the same from-scratch rebuild oracle. */
  def incrementalLshPairsFromVersioned(spark: SparkSession, root: String,
      batch: DataFrame, bands: Int = 8,
      asOf: Option[String] = None): DataFrame =
    incrementalPairsCore(
      VersionedBand.readLive(spark, root, asOf)
        .select(col("doc_id"), col("sig"), col("band"), col("bkey")),
      bandTable(batch, bands))

  private def incrementalPairsCore(cb: DataFrame, nb: DataFrame): DataFrame = {
    val newVsCorpus = cb.as("a").join(broadcast(nb.as("b")),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        estJaccard(col("a.sig"), col("b.sig")).as("est_jaccard"))
    val newVsNew = nb.as("a").join(nb.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        estJaccard(col("a.sig"), col("b.sig")).as("est_jaccard"))
    newVsCorpus.unionByName(newVsNew).distinct()
  }

  /** Streaming incremental dedup (st14): each NEW document's LSH
    * candidate matches against the STATIC corpus band index — d14's
    * batch-vs-index probe under `readStream`, via st09's stream-static
    * join template. New-vs-corpus ONLY, deliberately: new-vs-new pairs
    * would make output depend on micro-batch slicing, and under
    * continuous ingest "the other new doc" IS a corpus doc once its
    * batch commits — the day-2 loop folds each admitted batch into the
    * index and the next batch probes it.
    *
    * Streaming-safety is structural, not asserted: the probe side is
    * [[bandTable]] itself, which is map-only (the in-row signature
    * kernel and a band explode), so it bands a stream statelessly,
    * micro-batch by micro-batch, with the batch index's values. Pair-level
    * dedup (a doc pair can collide in several bands) is moved INTO the join —
    * a row survives only on the FIRST matching band, decided row-locally
    * from the two signature arrays riding the join. No `.distinct()`,
    * no dropDuplicates state, append mode end to end. At 100 TB that
    * also deletes the widest shuffle of the batch form. The static index
    * should be the persisted [[bandTable]] artifact (persist()/bucketed
    * by (band, bkey)); it is derived inline here because a registered
    * query owns no cross-run state. */
  def streamingLshProbe(corpus: DataFrame, newDocs: DataFrame,
      bands: Int = 8): DataFrame = {
    val rows = K / bands
    val idx = bandTable(corpus, bands)
    val probe = bandTable(newDocs, bands)
    def sliceEq(b: Int): Column =
      (0 until rows).map(r =>
        element_at(col("a.sig"), b * rows + r + 1) ===
          element_at(col("b.sig"), b * rows + r + 1)).reduce(_ && _)
    val firstBandOnly = (0 until bands - 1).map(b =>
      col("a.band") <= b || !sliceEq(b))
      .foldLeft(lit(true))(_ && _) // foldLeft: bands=1 has no earlier bands
    probe.as("a").join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .filter(firstBandOnly)
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("match_id"),
        estJaccard(col("a.sig"), col("b.sig")).as("est_jaccard"))
  }

  /** Near-duplicate clusters: LSH candidate pairs above an estimated
    * Jaccard threshold become edges, and connected components over them
    * assign every document a cluster id (`min doc_id` of its cluster;
    * singletons cluster with themselves). This is the operator
    * composition a corpus-dedup pass actually ships — band join for
    * candidates, graph closure for transitive duplicates ("A≈B, B≈C ⇒
    * one cluster") — and both stages are the scale-correct shapes proven
    * elsewhere (banded equi-join; one-shuffle-per-round label
    * propagation). */
  def dupClusters(docs: DataFrame, minEstJaccard: Double = 0.5): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE before the band join (round 8, the
    // semanticClustersBanded mechanism on the text side): exact copies
    // share the fingerprint, the shingle set, the signature, and every
    // band, and est_jaccard(copy, copy) = 1 ≥ any threshold — so a
    // mass-duplicated group of g copies was always one cluster, but paid
    // g²/2 candidate pairs per bucket to learn it. One representative
    // (min doc_id) per fingerprint enters the LSH; members rejoin their
    // representative's component afterwards. Shingle-LESS docs (< 2
    // tokens) are excluded from the collapse: the banded form cannot see
    // them, so they were always singletons — collapsing two empty docs
    // would CHANGE the contract, not speed it up.
    // (doc_id, fp) is referenced three times (reps derivation, the
    // rep semi-join feed, member→rep reattachment) and each lazy
    // reference would re-run the tokenize+md5 pass — materialized once,
    // it is a two-column table
    // shingled ⟺ ≥ 2 tokens (L tokens make L−1 bigrams) — the token
    // count is the cheap equivalent of building the bigram arrays
    // fan out the normalize+md5 fingerprint pass (one-task scan; the
    // checkpoint then materializes cores-wide partitions)
    val fps = graft.FanOut.cpuBound(docs, col("doc_id"))
      .filter(TextFns.tokenCount(col("text")) >= 2)
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      // lazy (r16): materializes inside the band table's sizing count
      // (reps → repDocs → signatures pull it) — one fewer job; all three
      // references still read the one cached table
      .localCheckpoint(false)
    val reps = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val repDocs = docs.join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = minhashLshPairs(repDocs)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val comps = GraphOps.connectedComponents(pairs)
    val viaRep = fps
      .join(reps.withColumnRenamed("doc_id", "rep"), "fp")
      .join(comps, col("rep") === comps("node"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("rep")).as("cl"))
    docs.select(col("doc_id"))
      .join(viaRep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cl"), col("doc_id")).as("cluster_id"))
  }

  /** Per-document duplicated-shingle rate: what fraction of a document's
    * distinct word-bigram shingles also occur in at least one OTHER
    * document. The substring-level duplication diagnostic (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22
    * motivates exactly this measurement): document-level dedup (d01/d02)
    * misses boilerplate and quoted passages, and this score is how a
    * pipeline finds them before deciding on substring-level removal.
    * Emitted in exact integer basis points (`div`), engine-portable.
    *
    * Shape: the shingle stream is repartitioned on the shingle once, so
    * the document-frequency aggregation and the join probe consume the
    * SAME exchange (the d01 ReuseExchange trick — one scan + explode,
    * not two); the final per-doc rollup shuffles on doc_id. Hot
    * boilerplate shingles cost their occurrence count in join output —
    * bounded by the corpus shingle stream itself, no quadratic blowup. */
  def dupShingleRate(docs: DataFrame): DataFrame = {
    val sh = shingles(docs).repartition(col("s"))
    // count(doc_id), not count(1): an argument-less count lets Catalyst
    // prune doc_id from this branch, making its exchange subtree differ
    // from the probe's — ReuseExchange only dedups IDENTICAL subtrees.
    // Same value (doc_id is never null, shingles are distinct per doc).
    val dfreq = sh.groupBy(col("s")).agg(count(col("doc_id")).as("df"))
    sh.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_rate_bp", expr("10000 * n_dup div n_shingles"))
  }

  /** Merged duplicated-passage spans per document — the POSITIONAL
    * companion to [[dupShingleRate]], and the measurement substring-level
    * dedup (Lee et al., ACL'22) acts on: which token ranges of each
    * document are covered by a width-`n` shingle that also occurs in at
    * least one other document, with overlapping hits merged into maximal
    * spans (gaps-and-islands). Output per doc: token count, covered-token
    * count, merged-span count, and coverage in exact integer ppm — the
    * "how much would substring dedup remove" number, float-free.
    *
    * Shape, and why it is spill-safe at 100 TB: the duplicated-shingle
    * list is the standard inverted-df build over IN-ROW-distinct shingles
    * (map-side combinable count, never a per-group buffer), and span
    * detection is an equi-join of the positional stream against that list
    * — both branches prune the scan to (doc_id, text), so the duplicated
    * work between them is one narrow explode, the price of avoiding a
    * collect_list/window buffer that a hot boilerplate shingle would blow
    * up. Span merging is a per-DOCUMENT running-max window (doc_id is the
    * highest-cardinality key in the corpus — no q36-style fat partition),
    * and the final rollup + token-count join share the doc_id shuffle. */
  def dupSpans(docs: DataFrame, n: Int = 5): DataFrame = {
    val covered = mergedSpans(docs, n)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1)
          .cast("bigint").as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("dup_ppm",
        expr("1000000 * dup_tokens div greatest(n_tokens, 1L)"))
  }

  /** The merged-span table itself: one (doc_id, span_start, span_end) row
    * per maximal duplicated-passage token range (1-based, inclusive) —
    * the shared core of [[dupSpans]] (measure) and [[substringRewrite]]
    * (act). Shape notes live on [[dupSpans]]'s scaladoc; nothing here
    * adds a shuffle class beyond them. */
  private[graft] def mergedSpans(docs: DataFrame, n: Int): DataFrame =
    mergeIslands(dupHits(docs, n, withKeeper = false)
      .select(col("doc_id"), col("s_start"), col("s_end")))

  /** Positional duplicated-shingle hit stream: one (doc_id, s_start,
    * s_end[, keeper]) row per occurrence of a width-`n` shingle with
    * corpus df ≥ 2 — the inverted-df build over in-row-distinct shingles
    * (map-side combinable, never a per-group buffer) equi-joined back to
    * the positional shingle stream. `keeper` = min doc_id over carriers,
    * the per-shingle keep-one identity. */
  private def dupHits(docs: DataFrame, n: Int, withKeeper: Boolean): DataFrame = {
    val dupSh0 = shinglesN(docs, n)
      .groupBy(col("s"))
      .agg(count(col("doc_id")).as("df"), min(col("doc_id")).as("keeper"))
      .filter(col("df") >= 2)
    val dupSh = if (withKeeper) dupSh0.select(col("s"), col("keeper"))
                else dupSh0.select(col("s"))
    val pos = graft.FanOut.cpuBound(docs, col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        posexplode(TextFns.ngramsOfTokens(col("__t"), n)).as(Seq("p", "s")))
      .select(col("doc_id"), (col("p") + 1).as("s_start"),
        (col("p") + lit(n)).as("s_end"), col("s"))
    pos.join(dupSh, "s")
  }

  /** THE gaps-and-islands interval merge (single implementation — r9
    * verdict #2 flagged the d29 clone): hit rows (doc_id[, extraKeys],
    * s_start, s_end) → maximal merged spans per key. Per-document
    * running-max window; doc_id is the highest-cardinality key in the
    * corpus, so no fat partition. */
  private[graft] def mergeIslands(hits: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keys = ("doc_id" +: extraKeys).map(col)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("s_start"))
    val unb = org.apache.spark.sql.expressions.Window.unboundedPreceding
    hits
      .withColumn("prev_end", max(col("s_end")).over(byDoc.rowsBetween(unb, -1)))
      .withColumn("brk",
        when(col("s_start") > coalesce(col("prev_end"), lit(0)), 1).otherwise(0))
      .withColumn("gid", sum(col("brk")).over(byDoc.rowsBetween(unb, 0)))
      .groupBy(keys :+ col("gid"): _*)
      .agg(min(col("s_start")).as("span_start"),
        max(col("s_end")).as("span_end"))
      .select(keys :+ col("span_start") :+ col("span_end"): _*)
  }

  /** Substring-level dedup that ACTS, not just measures (Lee et al.,
    * ACL'22 — the removal pass, where [[dupSpans]] is the report): emit
    * the REWRITTEN corpus with every cross-document duplicated passage
    * (a maximal merged span of width-`n` shingles occurring in ≥ 2
    * documents) excised, tokens outside the spans kept in order. After
    * MinHash document dedup this is the most-shipped transform in a
    * CommonCrawl-scale pretraining pipeline — boilerplate and quoted
    * passages survive document-level dedup and must be cut positionally.
    * Removal semantics follow the paper's released ExactSubstr tool:
    * the duplicated passage is removed from EVERY document carrying it
    * (the paper's own simplification over keep-one-copy — symmetric, so
    * the output is order- and engine-independent).
    *
    * `clean_text` is the kept tokens rejoined with single spaces — the
    * tokenizer's normalization, applied to UNTOUCHED documents too, so
    * "no spans" is the identity on the token stream (property-tested),
    * and the whole output is a pure function of corpus content.
    *
    * Scale shape: [[mergedSpans]] keeps d19's inverted-df build (the
    * duplicated-shingle list is corpus-bounded, never a per-group
    * buffer); reassembly is per-document — spans collect into one
    * in-row array (bounded by the document's own token count, the same
    * bound every per-doc array here lives under) and a positional
    * `filter` drops covered tokens row-locally. New shuffles beyond
    * d19's: ONE doc_id rollup of the span table (tiny — spans, not
    * tokens) and the doc_id join, the class d19 already pays. */
  def substringRewrite(docs: DataFrame, n: Int = 5,
      minSpanTokens: Int = 1): DataFrame = {
    // minSpanTokens: excise only merged spans at least this long — the
    // paper's deployments cut matches of >= 50 tokens, leaving short
    // coincidental overlaps (idioms, citations) in place; the default
    // keeps every detected span (the d27 registered semantics)
    exciseSpans(docs,
      mergedSpans(docs, n)
        .filter(col("span_end") - col("span_start") + 1 >= minSpanTokens))
  }

  private val emptySpans =
    array().cast("array<struct<span_start:int,span_end:int>>")

  /** The excision step of [[substringRewrite]] (remove-every-copy):
    * collect each doc's spans in-row and drop covered tokens. */
  private def exciseSpans(docs: DataFrame, spanTable: DataFrame): DataFrame =
    reassemble(docs, spanTable
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("cut"))
      .withColumn("keep", emptySpans))

  /** Shared reassembly of [[substringRewrite]] and
    * [[substringRewriteKeepOne]]: `arrs` carries per-doc `cut` and `keep`
    * span arrays (each bounded by the doc's own token count — the bound
    * every per-doc array here lives under). A token at 0-based i survives
    * iff no cut span covers 1-based i+1 OR a keep span does — the keep
    * guard is what makes keep-one's "every passage survives in its keeper
    * doc" invariant real (r9 ADVICE: cut spans from OTHER shingles used
    * to clip a keeper's own kept passage). Both arrays are row attributes
    * by the time the lambdas capture them (the r8 HOF-capture lesson); if
    * CollapseProject inlines the single-reference coalesce into a lambda,
    * the per-element cost is an attribute read + constant-folded empty
    * literal — harmless, unlike a re-tokenize. */
  private def reassemble(docs: DataFrame, arrs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
      .join(arrs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__t"),
        coalesce(col("cut"), emptySpans).as("cut"),
        coalesce(col("keep"), emptySpans).as("keep"))
      .withColumn("__kept", filter(col("__t"), (t, i) =>
        !exists(col("cut"), sp =>
          i + 1 >= sp.getField("span_start") && i + 1 <= sp.getField("span_end")) ||
        exists(col("keep"), sp =>
          i + 1 >= sp.getField("span_start") && i + 1 <= sp.getField("span_end"))))
      .select(col("doc_id"),
        size(col("__t")).cast("bigint").as("n_tokens"),
        size(col("__kept")).cast("bigint").as("kept_tokens"),
        size(col("cut")).cast("bigint").as("n_spans"),
        array_join(col("__kept"), " ").as("clean_text"))

  /** The KEEP-ONE-COPY arm of substring dedup — the removal semantics the
    * paper discusses but its released tool simplifies away: each
    * duplicated width-`n` shingle stays in the MINIMUM-doc_id document
    * carrying it (that doc keeps all its occurrences) and is excised
    * everywhere else, so every duplicated passage survives INTACT in its
    * keeper document — the property replay-sensitive corpora (code,
    * references, legal boilerplate that must survive somewhere) want,
    * where [[substringRewrite]]'s remove-everywhere arm maximizes dedup.
    * Keeper identity is per SHINGLE (min doc_id over carriers), a pure
    * corpus-content function both engines compute identically.
    *
    * The invariant is enforced POSITIONALLY, not just by span filtering
    * (r9 ADVICE medium): a doc's excision spans are built from its
    * non-keeper hits, but a position also covered by a shingle this doc
    * KEEPS is protected from excision — without the guard, an
    * overlapping non-keeper span could clip the keeper copy of a passage
    * whose other carriers all excised theirs, losing it corpus-wide
    * (regression-tested with the exact r9 counterexample).
    *
    * Scale shape: identical to [[substringRewrite]] — the keeper column
    * rides the same inverted-df aggregate, cut and keep hit families
    * merge in ONE [[mergeIslands]] pass sub-partitioned by is_keeper
    * (same window shuffle), and one conditional collect builds both
    * per-doc arrays. No new shuffle class. */
  def substringRewriteKeepOne(docs: DataFrame, n: Int = 5): DataFrame = {
    val hits = dupHits(docs, n, withKeeper = true)
      .withColumn("is_keeper", (col("doc_id") === col("keeper")).cast("int"))
    val spans = mergeIslands(
      hits.select(col("doc_id"), col("is_keeper"), col("s_start"), col("s_end")),
      extraKeys = Seq("is_keeper"))
    // collect_list skips the nulls the unmatched when() arms produce, so
    // one aggregation builds both families' arrays
    val arrs = spans.groupBy(col("doc_id")).agg(
      sort_array(collect_list(when(col("is_keeper") === 0,
        struct(col("span_start"), col("span_end"))))).as("cut"),
      sort_array(collect_list(when(col("is_keeper") === 1,
        struct(col("span_start"), col("span_end"))))).as("keep"))
    reassemble(docs, arrs)
  }

  /** Near-dup-cluster-aware train/eval split: documents are assigned a
    * side by a deterministic hash of their [[dupClusters]] CLUSTER id,
    * not of their own content — so a near-duplicate pair can never
    * straddle the split (the leakage a content-hash split like
    * [[contentSample]] permits: a paraphrase in train, its twin in eval).
    * The composition every decontaminated-split pipeline ships: band
    * join → connected components → one hash per cluster. Pure function
    * of corpus content — reproducible across runs, engines, and corpus
    * orderings. */
  def clusterSplit(docs: DataFrame, trainPct: Int = 90): DataFrame =
    dupClusters(docs).select(col("doc_id"), col("cluster_id"),
      when(PortableHash.baseHash(col("cluster_id").cast("string")) % 100
          < trainPct, "train").otherwise("eval").as("split"))

  /** Eval-set decontamination: flag corpus documents that share ANY
    * word-bigram shingle with the benchmark/eval set — the overlap check
    * every training-data pipeline runs before shipping a corpus (a
    * benchmark answer leaking into training data invalidates the eval).
    * The eval shingle universe is tiny relative to the corpus, so it
    * broadcasts and the corpus-side shingle stream is scanned once with
    * no shuffle besides the per-doc hit count — at 100 TB the corpus
    * never moves. */
  /** Distinct word n-gram shingles per document (generalizes [[shingles]];
    * decontamination wants WIDE shingles — a 5..13-gram only collides on
    * genuinely copied spans, where bigrams collide on shared vocabulary). */
  def shinglesN(docs: DataFrame, n: Int): DataFrame =
    // same scale-adaptive fan-out as [[shingles]] (one-task scan,
    // tokenize + n-gram build is the dominant per-row cost)
    graft.FanOut.cpuBound(docs, col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.ngramsOfTokens(col("__t"), n))).as("s"))

  def decontaminate(docs: DataFrame, evalSet: DataFrame,
      ngram: Int = 2): DataFrame = {
    val evalSh = shinglesN(evalSet, ngram).select(col("s")).distinct()
    val hits = shinglesN(docs, ngram).join(broadcast(evalSh), "s")
      .groupBy(col("doc_id")).agg(countDistinct(col("s")).as("n_hits"))
    docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  /** Contamination ATTRIBUTION — the pair-level drill-down behind d12's
    * per-doc bit: which eval document leaked into which corpus document,
    * and how many distinct n-grams they share. The report an eval-set
    * owner actually reads before deciding whether a hit is a true leak
    * (many shared shingles, one source) or stop-phrase noise (one
    * shingle, many sources).
    *
    * Scale shape is d12's: eval shingles are tiny by contract and ride
    * broadcast, so the corpus shingle stream is scanned once and NEVER
    * shuffles for the join; the only shuffle is the (doc, eval_doc)
    * rollup over hit rows — bounded by the leak volume, not the corpus.
    * Both shingle sides are per-doc distinct ([[shinglesN]]), so each
    * (doc, eval_doc, shingle) row is unique and the rollup is a plain
    * count, no distinct aggregation. */
  def contaminationPairs(docs: DataFrame, evalSet: DataFrame,
      ngram: Int = 2, minShared: Long = 1): DataFrame =
    shinglesN(docs, ngram)
      .join(broadcast(shinglesN(evalSet, ngram)
        .select(col("doc_id").as("eval_doc_id"), col("s"))), "s")
      .groupBy(col("doc_id"), col("eval_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** 16-bit SimHash per document over whitespace tokens (with
    * multiplicity): bit k is the majority vote of bit k across token
    * hashes. */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .withColumn("h", PortableHash.baseHash(col("w")))
    val cnts = (0 until bits).map(k =>
      sum(shiftright(col("h"), k).bitwiseAND(lit(1L))).as(s"c$k"))
    val agged = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), cnts: _*)
    val value = (0 until bits)
      .map(k => when(col(s"c$k") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    agged.select(col("doc_id"), value.as("simhash"))
  }

  /** Exact word-bigram Jaccard similarity for same-language doc pairs with
    * similarity ≥ `minJaccard`. Blocking on `lang` bounds the shingle
    * self-join; at corpus scale you'd block on an LSH band instead (see
    * [[minhashLshPairs]]) — this operator is the exact verifier stage.
    *
    * `maxShingleDf` drops shingles whose document frequency exceeds the
    * cap before the self-join (standard stop-shingle practice): a
    * corpus-frequent bigram ("of the") would otherwise contribute df²
    * join rows on its key. Jaccard is then computed over the capped
    * shingle universe (sizes too), so the capped result is exact for that
    * universe. The hot list is tiny by construction (df > cap), so the
    * filter is a broadcast anti-join — the shingle stream itself takes no
    * extra shuffle, and the df aggregation is map-side-combined. When no
    * shingle is hot the output is unchanged (DedupSpec property). */
  /** Pairwise shingle-intersection table `(d1, d2, inter, sz1, sz2)` —
    * the shared core of [[ngramJaccardPairs]] and [[containmentPairs]]:
    * per-shingle self-join (optionally hot-shingle-capped), intersection
    * counts, per-doc set sizes. */
  private def shingleIntersections(docs: DataFrame,
      maxShingleDf: Long): DataFrame = {
    val shAll = docs
      .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(TextFns.bigramsOfTokens(col("__t")))).as("s"))
    val sh =
      if (maxShingleDf == Long.MaxValue) shAll
      else {
        val hot = shAll.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select(col("s"))
        shAll.join(broadcast(hot), Seq("s"), "left_anti")
      }
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("d1", "sz1"), "d1")
      .join(sizes.toDF("d2", "sz2"), "d2")
  }

  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.2,
      maxShingleDf: Long = Long.MaxValue): DataFrame =
    shingleIntersections(docs, maxShingleDf)
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** Containment (overlap-coefficient) pairs: `|a∩b| / min(|a|,|b|)` over
    * distinct word-bigram shingles — the asymmetric-duplication detector
    * Jaccard structurally misses: a document quoted whole inside a much
    * larger one has J ≈ |small|/|large| (arbitrarily low) but overlap
    * coefficient 1.0. Corpus pipelines run this as the subset/quotation
    * check next to symmetric near-dup (d04/d13). `full_containment`
    * flags exact subset pairs (`inter == min(sz)`). Same hot-shingle df
    * cap and join shape as d04 — the verifier-stage baseline; the prefix
    * economics of d13 apply unchanged when scaled out. */
  def containmentPairs(docs: DataFrame, minOverlap: Double = 0.6,
      maxShingleDf: Long = Long.MaxValue): DataFrame =
    shingleIntersections(docs, maxShingleDf)
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          least(col("sz1"), col("sz2")), 4).as("overlap"),
        (col("inter") === least(col("sz1"), col("sz2"))).cast("int")
          .as("full_containment"))
      .filter(col("overlap") >= minOverlap)

  /** Prefix-filtered exact Jaccard join — the AllPairs/PPJoin candidate
    * generation (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06) that
    * makes EXACT similarity joins survive corpus scale, where
    * [[ngramJaccardPairs]]'s per-shingle self-join is the verifier-stage
    * baseline.
    *
    * Principle: order every document's shingles by a GLOBAL rarest-first
    * key `(df, s)` and keep only the first `|d| - ⌈t·|d|⌉ + 1` as the
    * document's prefix. If `J(a,b) ≥ t`, the prefixes must intersect —
    * proof: were they disjoint, order the two prefix maxima and every
    * common shingle lands in the smaller-maximum document's suffix, which
    * holds only `⌈t·|d|⌉ - 1 < ⌈t·|d|⌉ ≤ |a∩b|` shingles. So joining
    * prefixes loses NO true pair: the oracle is the naive quadratic SQL,
    * blind to the filter.
    *
    * Why it scales where the naive join dies: the self-join's fan-out per
    * shingle is df², and rarest-first prefixes hold each document's
    * LOWEST-df shingles — the corpus-frequent shingles ("of the") never
    * enter the join. At threshold t the candidate volume drops by
    * (1-t)² on the doc side times the df skew on the key side; candidates
    * are then verified per-pair in-row (`array_intersect` of the two
    * sorted shingle arrays — no second shuffle of the shingle stream).
    * The threshold test runs on the UNROUNDED ratio in both engines: the
    * prefix guarantee covers J ≥ t, not round(J) ≥ t. */
  def prefixJaccardPairs(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val (arrs, cand) = prefixJaccardParts(docs, minJaccard)
    // verify: attach the two sid-sorted long arrays and merge-count
    // in-row — graft_sorted_intersect is a codegen'd two-pointer over
    // primitive longs (no per-pair hash set, no output array); the
    // sort_array runs once per DOCUMENT, the merge once per candidate
    // pair. Same sizing rule as the candidate self-join: byId is the
    // corpus-sized side (one heavy long-array row per doc), so broadcast
    // only when its true array volume fits — otherwise doc_id
    // equi-shuffles, deterministically.
    val arrBytes = arrs.agg(coalesce(sum(col("sz")).cast("long"), lit(0L)))
      .head().getLong(0) * 8L + arrs.count() * 32L
    val byId0 = arrs.select(col("doc_id"), sort_array(col("arr")).as("arr"),
      col("sz"))
    val byId = if (arrBytes < (64L << 20)) byId0 else byId0.hint("shuffle_hash")
    cand
      .join(byId.toDF("d1", "a1", "sz1"), "d1")
      .join(byId.toDF("d2", "a2", "sz2"), "d2")
      .withColumn("inter", call_function("graft_sorted_intersect",
        col("a1"), col("a2")))
      .select(col("d1"), col("d2"), (col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter"))).as("j"))
      .filter(col("j") >= minJaccard)
      .select(col("d1"), col("d2"), round(col("j"), 4).as("jaccard"))
  }

  /** The candidate-generation half of [[prefixJaccardPairs]]: returns
    * (per-doc rarest-first arrays, distinct candidate pairs). BASELINE_SELF
    * "Scale smoke" (d13 rows) records the candidates against the
    * n·(n−1)/2 all-pairs bound at 50k docs. */
  private def prefixJaccardParts(docs: DataFrame,
      minJaccard: Double): (DataFrame, DataFrame) = {
    val t = minJaccard
    // Shingles are carried as xxhash64 longs from the source: Jaccard only
    // needs equality, and longs join/sort/intersect without string hashing
    // or string shuffles (a corpus-wide collision is ~n²/2⁶⁴ — far beyond
    // the 4dp rounding of the reported ratio). The shingle stream is NOT
    // pre-repartitioned by sid: the df aggregation map-side-combines to a
    // vocab-sized table that AQE broadcasts when small (so sh never
    // shuffles by sid), and at corpus scale AQE falls back to a shuffled
    // join on its runtime size. The round-3 plan instead materialized a
    // full shuffle of the exploded stream, which dominated its cost —
    // re-scanning the source is cheaper than shuffling its explosion.
    // scale-adaptive fan-out (graft.FanOut): this tokenize + bigram +
    // xxhash pass is the heaviest per-row stage and runs TWICE (the
    // dfreq branch and the arrs branch re-derive sh by design); on a
    // one-task scan both passes were single-threaded
    val sh = graft.FanOut.cpuBound(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(transform(TextFns.bigramsOfTokens(col("__t")),
          s => xxhash64(s)))).as("sid"))
    val dfreq = sh.groupBy(col("sid")).agg(count(lit(1)).as("df"))
    // one per-doc aggregation carrying the WHOLE rarest-first ordering:
    // sort_array on (df, sid) structs reproduces the global (df, sid) key
    // order, so the prefix and the verify array are slices of one array
    // localCheckpoint (eager): arrs is the shared base of BOTH sides of
    // the candidate self-join AND the verify arrays — without the barrier
    // Catalyst re-derives the whole scan + df-join + agg subtree once per
    // reference (measured: the dfreq join ran twice at 50k docs), and the
    // self-join's inputs get sized from compressed re-derived estimates.
    val arrs = sh.join(dfreq, "sid")
      .groupBy(col("doc_id"), col("lang"))
      .agg(transform(sort_array(collect_list(struct(col("df"), col("sid")))),
        x => x.getField("sid")).as("arr"))
      .withColumn("sz", size(col("arr")))
      // lazy (r16): the terminal action's first branch materializes it;
      // the barrier property is the single cached RDD, not the eagerness
      .localCheckpoint(false)
    // prefix = first |d| - ceil(t*|d|) + 1 entries, sliced in-row — no
    // window, no second pass over the shingle stream. pos (0-based) feeds
    // the positional bound below.
    val pref = arrs.select(col("doc_id"), col("lang"), col("sz"),
        posexplode(slice(col("arr"), lit(1),
          (col("sz") - ceil(lit(t) * col("sz")) + lit(1)).cast("int"))))
      .select(col("doc_id"), col("lang"), col("sz"), col("pos"),
        col("col").as("sid"))
    // Two PPJoin candidate filters (each epsilon only ever ADMITS borderline
    // pairs — the exact verify below decides):
    //  - length: J ≥ t ⇒ t·max(sz1,sz2) ≤ min(sz1,sz2)
    //  - positional: J ≥ t ⇒ |a∩b| ≥ ⌈t/(1+t)·(sz1+sz2)⌉ = α, and at a
    //    match on prefix positions p1,p2 the remaining-suffix bound says
    //    |a∩b| ≤ min(sz1-p1, sz2-p2); the FIRST common prefix element has
    //    no common elements before it, so a true pair always passes there
    //    (later matches only tighten the bound — any-match + distinct is
    //    exactly first-match semantics, lossless).
    val alpha = ceil(lit(t / (1 + t)) * (col("a.sz") + col("b.sz")) - lit(1e-9))
    // Join-strategy decision made from TRUE cardinality, not AQE's
    // compressed map-output estimate: both self-join sides are the
    // corpus-sized prefix stream, and at 50k smoke docs AQE's estimate
    // slipped under the 64 MB broadcast threshold and built a 2M-row
    // broadcast map on the driver — 30-60 s of plan-invisible variance
    // and a plan that CANNOT survive a corpus 100× that. The prefix row
    // count is exact and nearly free off the checkpointed arrs; broadcast
    // only when the true uncompressed build side genuinely fits.
    val prefRows = prefixStreamRows(arrs, t)
    val a = pref.as("a")
    val left = if (prefRows * 48L < (64L << 20)) a else a.hint("shuffle_hash")
    val cand = left.join(pref.as("b"),
        col("a.sid") === col("b.sid") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") >= lit(t) * col("a.sz") - lit(1e-9) &&
          col("a.sz") >= lit(t) * col("b.sz") - lit(1e-9) &&
          least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >= alpha)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    (arrs, cand)
  }

  /** Exact prefix-stream cardinality Σ_d (|d| − ⌈t·|d|⌉ + 1), read off the
    * checkpointed per-doc table — one tiny aggregate, the operator's own
    * sizing statistic for the self-join strategy above. */
  private def prefixStreamRows(arrs: DataFrame, t: Double): Long =
    arrs.agg(coalesce(
        sum((col("sz") - ceil(lit(t) * col("sz")) + lit(1)).cast("long")),
        lit(0L))) // empty corpus: sum is NULL, the stream has 0 rows
      .head().getLong(0)

  /** Embedding near-duplicate pairs: cosine ≥ `minCos` (computed in double,
    * rounded to 4dp). Brute-force all-pairs — the exact baseline; the LSH
    * path for scale is [[Similarity.lshTopK]]. Norms are computed once per
    * vector (not per pair), and the per-pair dot is the native codegen'd
    * [[graft.plans.DotProduct]]. */
  def embeddingNearDupPairs(emb: DataFrame, minCos: Double = 0.4): DataFrame = {
    val e = emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))
    e.toDF("v1", "e1", "n1").join(e.toDF("v2", "e2", "n2"), col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(VectorFns.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 4).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Semantic dedup clusters (the SemDeDup shape — Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): embedding-cosine near-dup pairs become edges and
    * connected components assign every vector a cluster id (min vec_id;
    * singletons cluster with themselves) — the keeper-selection input for
    * removing SEMANTIC duplicates exact/MinHash dedup can't see (same
    * meaning, different words). Pair generation here is the exact
    * all-pairs baseline (d05's contract); at corpus scale swap in the
    * banded/IVF candidate stages (s02/s03/s05) in front of the same CC —
    * identical composition, candidate generation is the only moving
    * part. */
  def semanticClusters(emb: DataFrame, minCos: Double = 0.4): DataFrame = {
    val pairs = embeddingNearDupPairs(emb, minCos)
      .select(col("v1").as("src"), col("v2").as("dst"))
    val comps = GraphOps.connectedComponents(pairs)
    emb.select(col("vec_id"))
      .join(comps, col("vec_id") === comps("node"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
  }

  /** Semantic dedup clusters, BANDED — the scale form of
    * [[semanticClusters]]: candidate pairs come from `tables` independent
    * sign-LSH tables (the [[Similarity.lshTopKMulti]] OR-construction —
    * one `planes·tables`-bit signature per vector, sliced into per-table
    * band keys, self-joined on (table, bucket)), only candidates pay the
    * exact cosine, and the SAME connected-components stage assigns
    * cluster ids. Candidate work is Σ_buckets |bucket|² instead of n²/2 —
    * the 100 TB shape (at 100× vectors, all-pairs grows 10⁴×; in-bucket
    * pairs grow with bucket occupancy only).
    *
    * Defaults are 8 planes × 8 tables: 256 buckets per table cuts the
    * fixture candidate volume 28× below all-pairs (4,372 of 124,750
    * pairs at sf0.01; DedupSpec audits it via `bandedCandidateCount`). The
    * earlier 2-planes/32-tables setting bucketed ~every pair somewhere
    * (4 buckets/table ⇒ Σ|b|² ≈ n²/4 per table × 32) — all-pairs cost
    * wearing an LSH hat.
    *
    * CONTRACT — banded semantics, not exact-cluster parity. At a weak
    * threshold on weakly-clustered data no subquadratic candidate
    * generator reproduces the exact clustering: measured on the fixture
    * corpus at θ=0.4 (where near-threshold pairs sit between
    * near-orthogonal vectors, per-plane agreement 0.63 vs 0.5
    * background), every sign-LSH setting below ~all-pairs candidates and
    * every IVF (nlist, nprobe) below ~98% candidate volume breaks
    * cluster equality. So the oracle gate certifies the BANDED
    * computation itself bit-for-bit — DuckDB recomputes the identical
    * signatures ([[Similarity.lshBucketSql]]'s engine-portable
    * hyperplanes), band keys, in-bucket cosine edges, and components —
    * the d02 MinHash-banding pattern. Recall against the exact form is
    * certified where it is meaningful, at production SemDeDup
    * thresholds (cos ≥ 0.9, per-edge bucket-together prob ≈ 0.99 at
    * these defaults): DedupSpec plants high-cosine duplicates and holds
    * banded clusters equal to exact clusters. */
  /** d20's registered banding setting. The SAME constants drive both the
    * Spark plan and the generated oracle SQL below, so retuning the
    * banding can never silently desynchronize the two sides of the gate. */
  private[graft] val d20Dim = 64
  private[graft] val d20Planes = 8
  private[graft] val d20Tables = 8
  private[graft] val d20MinCos = 0.4

  /** The d20 oracle's banded-clustering CTE chain (exact-dup collapse →
    * signatures → bands → in-bucket candidates → cosine-θ edges →
    * ITERATIVE min-label components), generated from the SAME constants
    * the Scala operator gets — shared by d20 and d23 so the keeper's
    * oracle certifies the clusters it selects from with one text. Ends at
    * `clv(vec_id, c)` — the per-vector cluster map for every NONZERO
    * vector; append a SELECT (d20) or further CTEs (d23). */
  private lazy val d20ChainSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |$d20ChainBodySql""".stripMargin

  /** Chain body after the `e` source CTE — so a variant query (d25) can
    * substitute a derived corpus for the raw embeddings table. The
    * collapse (identical vectors → min-vec_id rep before banding) and the
    * ClosureSql iterative components are what make this oracle runnable
    * on the hostile mass-duplication fuzz tier — signature, band keys and
    * the cosine test are pure functions of the vector value, so the
    * quotient is exact (see d08ChainSql's argument; multi-member value
    * groups are internally connected because identical nonzero vectors
    * share every bucket and have cosine 1 ≥ θ). */
  private lazy val d20ChainBodySql: String =
    s"""en AS (SELECT vec_id, e FROM e WHERE list_dot_product(e, e) > 0),
       |grp AS MATERIALIZED (SELECT e, min(vec_id) AS rep FROM en GROUP BY e),
       |repm AS MATERIALIZED (SELECT en.vec_id, g.rep
       |        FROM en JOIN grp g ON en.e = g.e),
       |sig AS (SELECT rep AS vec_id, e,
       |        ${Similarity.lshBucketSql("e", d20Dim, d20Planes * d20Tables)} AS s
       |        FROM grp),
       |band AS (SELECT vec_id, e, t, (s >> (t*$d20Planes)) & ${(1 << d20Planes) - 1} AS b
       |         FROM sig, unnest(range($d20Tables)) AS u(t)),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2,
       |                a.e AS e1, b.e AS e2
       |         FROM band a JOIN band b
       |           ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
       |dup AS (SELECT d1, d2 FROM cand
       |        WHERE round(list_cosine_similarity(e1, e2), 4) >= $d20MinCos),
       |sym AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM dup
       |        UNION ALL SELECT d2, d1 FROM dup),
       |${graft.functions.ClosureSql.minLabelComp()},
       |clv AS (SELECT r.vec_id, coalesce(comp.c, r.rep) AS c
       |        FROM repm r LEFT JOIN comp ON r.rep = comp.node)""".stripMargin

  /** Keeper-step CTEs appended after the chain: capped medoid per
    * cluster, the SAME probe-set rule as [[clusterRepresentatives]]
    * (`m <= cap` → exact, else baseHash(vec_id)·m < cap·2³²), so one
    * SQL text certifies both the exact and the sampled arm. */
  private def d23KeeperSql(cap: Int): String = {
    val thr = cap.toLong << 32
    s"""cl AS (SELECT vec_id, coalesce(clv.c, vec_id) AS cluster_id
       |       FROM e LEFT JOIN clv USING (vec_id)),
       |mem AS (SELECT cl.cluster_id, cl.vec_id, e.e
       |        FROM cl JOIN e USING (vec_id)),
       |msz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS m
       |        FROM mem GROUP BY cluster_id),
       |pr AS (SELECT mem.cluster_id, mem.vec_id, mem.e
       |       FROM mem JOIN msz USING (cluster_id)
       |       WHERE m <= $cap
       |          OR CAST(${PortableHash.baseHashSql("CAST(mem.vec_id AS VARCHAR)")}
       |                  AS HUGEINT) * m < $thr),
       |pa AS (SELECT a.cluster_id, a.vec_id,
       |        CAST(round(list_cosine_similarity(a.e, b.e) * 1e6) AS BIGINT) AS cm
       |       FROM mem a JOIN pr b
       |         ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id),
       |aff AS (SELECT cluster_id, vec_id, CAST(sum(cm) AS BIGINT) AS affinity
       |        FROM pa GROUP BY cluster_id, vec_id),
       |ma AS (SELECT m.cluster_id, m.vec_id, coalesce(a.affinity, 0) AS affinity
       |       FROM mem m LEFT JOIN aff a
       |         ON m.cluster_id = a.cluster_id AND m.vec_id = a.vec_id),
       |best AS (SELECT cluster_id, max(affinity) AS am FROM ma GROUP BY cluster_id),
       |rep AS (SELECT m.cluster_id, min(m.vec_id) AS rep_vec_id
       |        FROM ma m JOIN best b
       |          ON m.cluster_id = b.cluster_id AND m.affinity = b.am
       |        GROUP BY m.cluster_id),
       |cnt AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
       |        FROM mem GROUP BY cluster_id)
       |SELECT r.cluster_id, r.rep_vec_id, c.n_members, b.am AS affinity_micro
       |FROM rep r JOIN best b USING (cluster_id) JOIN cnt c USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin
  }

  def semanticClustersBanded(emb: DataFrame, minCos: Double = 0.4,
      dim: Int = 64, planes: Int = 8, tables: Int = 8): DataFrame = {
    require(planes * tables <= 64, "signature must fit one long")
    val mask = (1L << planes) - 1
    // zero-norm vectors skip candidate generation (VectorFns.nonZero) but
    // keep their singleton row via the final left join over all of emb
    val vecs = emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
    // EXACT-DUPLICATE COLLAPSE before the band join (round 8): identical
    // vectors share every band and sit at cosine 1, so a mass-duplicated
    // group of g copies would otherwise form a g²/2-pair clique in every
    // band bucket — the hostile-fuzz shape, and at 100 TB a stuck stage
    // (the d23 lesson one operator upstream). One representative (min
    // vec_id) per DISTINCT vector enters the banding; group members
    // rejoin their representative's cluster afterwards. Output is
    // IDENTICAL to the uncollapsed form: exact copies always satisfied
    // cos ≥ θ against their group, so they were always in the
    // representative's component, and cluster labels are min-id either
    // way. The collapse aggregation combines duplicates map-side
    // (min-agg), so the extra shuffle carries ~distinct vectors, and the
    // member→rep join's hot key has a single-row build side — the shape
    // AQE's skew split handles.
    // reps feeds both the signature chain and the member→rep
    // reattachment join; materialized once so the distinct-vector
    // aggregation (a corpus shuffle) never runs twice
    val reps = vecs.groupBy(col("e")).agg(min(col("vec_id")).as("vec_id"))
      .localCheckpoint(false) // lazy: the CC loop's first round materializes it
    val sig = reps
      .withColumn("nrm", VectorFns.norm(col("e")))
      .withColumn("s", Similarity.lshBucket(col("e"), dim, planes * tables))
      .withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          shiftright(col("s"), t * planes).bitwiseAND(lit(mask)).as("b"))
      }: _*)))
      .select(col("vec_id"), col("e"), col("nrm"),
        col("tb.t").as("t"), col("tb.b").as("b"))
    // cosine is computed inside the bucket join (narrow, codegen'd) and
    // deduped by a map-side-combinable max — vectors never shuffle past
    // the join, matching lshTopKMulti's shape
    val pairs = sig.toDF("v1", "e1", "n1", "t", "b")
      .join(sig.toDF("v2", "e2", "n2", "t", "b"), Seq("t", "b"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(VectorFns.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 4).as("cos"))
      .groupBy(col("v1"), col("v2")).agg(max(col("cos")).as("cos"))
      .filter(col("cos") >= minCos)
      .select(col("v1").as("src"), col("v2").as("dst"))
    val comps = GraphOps.connectedComponents(pairs)
    val viaRep = vecs
      .join(reps.select(col("e"), col("vec_id").as("rep")), "e")
      .join(comps, col("rep") === comps("node"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("rep")).as("cl"))
    emb.select(col("vec_id"))
      .join(viaRep, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cl"), col("vec_id")).as("cluster_id"))
  }

  /** Embedding-space eval-set decontamination — [[decontaminate]]'s
    * semantic sibling (the SemDeDup-paper eval-leak check): for every
    * corpus vector, the max cosine to ANY eval vector plus a θ-flag. A
    * paraphrased eval item shares no 5-gram but sits at high cosine;
    * this catches what the shingle probe misses. The eval set is tiny
    * by the d12 contract, so the plan is one corpus scan against the
    * BROADCAST eval vectors reduced by a map-side-combinable
    * max(struct) argmax — the corpus never shuffles. Nearest-eval ties
    * break to the smallest eval id on the 6dp-rounded cosine.
    *
    * EVERY corpus row survives, literally: the scored argmax left-joins
    * back to the full corpus key set, so an empty (or all-zero-norm)
    * eval set and zero-norm corpus vectors yield `contaminated = 0` with
    * NULL nearest_eval/max_cos — mirroring [[decontaminate]]'s left join
    * — instead of silently dropping the rows (r7 ADVICE). */
  def embeddingDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      minCos: Double = 0.4): DataFrame = {
    val ev = evalSet.select(col("vec_id").as("eid"),
        VectorFns.toDouble(col("embedding")).as("ee"))
      .filter(VectorFns.nonZero(col("ee")))
      .withColumn("en", VectorFns.norm(col("ee")))
    val best = corpus
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))
      .join(broadcast(ev))
      .select(col("vec_id"), col("eid"),
        round(VectorFns.dot(col("e"), col("ee")) / (col("nrm") * col("en")), 6)
          .as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("eid")).as("ne"))).as("best"))
      .select(col("vec_id"), (-col("best.ne")).as("nearest_eval"),
        col("best.cos").as("max_cos"))
    corpus.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("nearest_eval"), col("max_cos"),
        coalesce((col("max_cos") >= minCos).cast("int"), lit(0))
          .as("contaminated"))
  }

  /** SemDeDup's KEEPER step over [[semanticClustersBanded]]'s clusters:
    * one representative per cluster — the medoid, the member with the
    * highest summed cosine affinity to its cluster mates (ties → min
    * vec_id; singletons keep themselves at affinity 0). Affinities are
    * exact integer micro-units (the s07 LUT convention): each pair
    * cosine rounds to 1e-6 BEFORE the sum, so totals are BIGINTs both
    * engines reproduce under any summation order — no float-order
    * hazard in the argmax.
    *
    * Scale shape — BOUNDED (r7 verdict's one scale-killer, fixed): the
    * affinity join is member × PROBE SET per cluster, never member ×
    * member. For clusters of m ≤ `cap` members the probe set is the
    * whole cluster (exact medoid, the pre-r8 semantics unchanged); above
    * `cap` it is a deterministic content-hash sample of ~cap mates —
    * member v probes iff `baseHash(v) · m < cap · 2³²`, a pure integer
    * predicate both engines evaluate identically, with NO per-cluster
    * sort/rank (a row_number window would put the giant cluster's m rows
    * through one sorting reducer — the exact hot spot being avoided).
    * Work is thus ≤ m·cap pairs per cluster (vs m²: 10¹⁸ → 2.5·10¹¹ for
    * a 10⁹-member cluster), and the remaining single-key fan-out is a
    * plain shuffle join on cluster_id whose small side is ≤ ~cap rows
    * per key — precisely the shape AQE's skew-join split handles by
    * splitting the member side. Sampled members estimate affinity on the
    * SAME probe set, so the argmax compares like with like (probe
    * members see cap−1 terms, non-probe members cap; deterministic in
    * both engines, and irrelevant below the cap).
    * BASELINE_SELF "d23 capped keeper on the hostile duplication shape"
    * records the bound on 30% of 500k vectors in ONE cluster. */
  def semanticRepresentatives(emb: DataFrame, minCos: Double = 0.4,
      dim: Int = 64, planes: Int = 8, tables: Int = 8,
      cap: Int = 256): DataFrame =
    clusterRepresentatives(
      semanticClustersBanded(emb, minCos, dim, planes, tables), emb, cap)

  /** The keeper step alone, over EXPLICIT cluster assignments
    * (`assign`: vec_id, cluster_id — from [[semanticClustersBanded]],
    * [[semanticClusters]], or any external clustering): medoid per
    * cluster under the capped probe-set contract documented on
    * [[semanticRepresentatives]]. Factored out so the m·cap bound is
    * measurable on a planted hostile assignment without paying (or
    * detonating) the clustering stage. */
  def clusterRepresentatives(assign: DataFrame, emb: DataFrame,
      cap: Int = 256): DataFrame = {
    require(cap >= 1, s"clusterRepresentatives: cap must be >= 1, got $cap")
    // materialized once: members is referenced three times (both sides
    // of the affinity join + the final member list), and each lazy
    // reference would re-run the upstream clustering and the corpus scan
    val members = assign.select(col("vec_id"), col("cluster_id"))
      .join(emb.select(col("vec_id"),
          VectorFns.toDouble(col("embedding")).as("e"))
        .withColumn("nrm", VectorFns.norm(col("e"))), "vec_id")
      .localCheckpoint(false) // lazy: first consumer materializes the one table
    val sizes = members.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("m"))
    val probes = members.toDF("v2", "cluster_id", "e2", "n2")
      .join(sizes, "cluster_id")
      // decimal(38,0) product: baseHash < 2³² times a BIGINT m can wrap
      // Long for m ≥ ~2³¹ members — Spark would wrap silently (inverting
      // the sample predicate) while DuckDB errors, a divergence exactly
      // on the giant-cluster shape the cap exists for. The oracle side
      // computes the same product in HUGEINT (d23KeeperSql).
      .filter(col("m") <= cap ||
        PortableHash.baseHash(col("v2").cast("string")).cast("decimal(20,0)") *
          col("m").cast("decimal(20,0)") < lit(cap.toLong << 32))
      .select(col("cluster_id"), col("v2"), col("e2"), col("n2"))
    val aff = members.toDF("v1", "cluster_id", "e1", "n1")
      .join(probes, "cluster_id")
      .filter(col("v1") =!= col("v2"))
      .select(col("cluster_id"), col("v1"),
        round(VectorFns.dot(col("e1"), col("e2")) / (col("n1") * col("n2")) * 1e6)
          .cast("long").as("cm"))
      .groupBy(col("cluster_id"), col("v1"))
      .agg(sum(col("cm")).as("affinity"))
      .withColumnRenamed("v1", "vec_id")
    members.select(col("cluster_id"), col("vec_id"))
      .join(aff, Seq("cluster_id", "vec_id"), "left")
      .withColumn("affinity", coalesce(col("affinity"), lit(0L)))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("affinity"), (-col("vec_id")).as("nv"))).as("best"))
      .select(col("cluster_id"), (-col("best.nv")).as("rep_vec_id"),
        col("n_members"), col("best.affinity").as("affinity_micro"))
  }

  /** Exposed for DedupSpec's candidate-count audit: the (v1, v2)
    * in-bucket candidate pairs the banded form pays exact cosine for —
    * AFTER the exact-duplicate collapse, mirroring
    * [[semanticClustersBanded]]'s actual join input. */
  private[graft] def bandedCandidateCount(emb: DataFrame, dim: Int = 64,
      planes: Int = 8, tables: Int = 8): Long = {
    val mask = (1L << planes) - 1
    val sig = emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      // same nonZero gate as the operator: a zero-vector representative
      // would audit bucket pairs the real join never sees
      .filter(VectorFns.nonZero(col("e")))
      .groupBy(col("e")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("e"))
      .withColumn("s", Similarity.lshBucket(col("e"), dim, planes * tables))
      .withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          shiftright(col("s"), t * planes).bitwiseAND(lit(mask)).as("b"))
      }: _*)))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))
    sig.toDF("v1", "t", "b").join(sig.toDF("v2", "t", "b"), Seq("t", "b"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct().count()
  }

  // ---- oracle SQL generation (same constants as the Spark side) --------

  private val toksSql = TextFns.tokensSql("text")
  private[operators] def shCte(filter: String = "") =
    s"""tok AS (SELECT doc_id, lang, $toksSql AS l FROM documents$filter),
       |sh AS (SELECT DISTINCT doc_id, lang,
       |       unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS s
       |       FROM tok)""".stripMargin

  private[operators] val sigCte = {
    val mins = (0 until K)
      .map(k => s"min(${PortableHash.minhashSql("h", k)}) AS m$k").mkString(",\n       ")
    s"""bh AS (SELECT doc_id, ${PortableHash.baseHashSql("s")} AS h FROM sh),
       |sig AS (SELECT doc_id,
       |       $mins
       |       FROM bh GROUP BY doc_id)""".stripMargin
  }

  private[operators] def bandKeySql(b: Int, rows: Int): String =
    "md5(concat_ws(','," + (0 until rows).map(r => s"m${b * rows + r}::VARCHAR").mkString(",") + "))"

  /** d08/d17's shared clustering chain: minhash signatures → exact-dup
    * COLLAPSE → banded candidates over representatives → est-Jaccard ≥ 0.5
    * edges → [[graft.functions.ClosureSql]] iterative min-label components
    * → per-doc cluster map `cl(doc_id, cluster_id)` covering every doc
    * with ≥ 1 shingle (shingle-less docs fall through the callers' final
    * coalesce to their own id, as before).
    *
    * The collapse quotients docs with IDENTICAL signatures to their
    * min-doc_id representative before any pair generation — the same
    * exact-dup collapse the Spark side runs, and what keeps the hostile
    * mass-duplication tier's candidate set corpus-shaped instead of
    * clique-quadratic (a 20k-member identical-text group at sf0.1 would
    * otherwise put 2·10⁸ rows in `cand` before the closure even starts).
    * Quotient exactness: band keys and the match-fraction test are pure
    * functions of the signature, so (a) same-sig docs share all band
    * buckets and est-Jaccard 1 ≥ 0.5 — each multi-member group is
    * internally connected, its cluster id is its rep (= group min) even
    * when the rep has no external edge; (b) a cross-group edge exists iff
    * the rep pair passes the identical test any member pair would. */
  private lazy val d08ChainSql: String = {
    val bands = 8; val rows = K / bands
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sigr")
      .mkString("\n       UNION ALL ")
    val matchSum = (0 until K)
      .map(k => s"(CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END)").mkString(" + ")
    val skey = "md5(concat_ws(','," +
      (0 until K).map(k => s"m$k::VARCHAR").mkString(",") + "))"
    s"""${shCte()},
       |$sigCte,
       |repm AS MATERIALIZED (SELECT doc_id,
       |        min(doc_id) OVER (PARTITION BY $skey) AS rep FROM sig),
       |sigr AS MATERIALIZED (SELECT s.* FROM sig s JOIN repm r
       |        ON s.doc_id = r.rep AND s.doc_id = r.doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |dup AS (SELECT d1, d2 FROM cand
       |        JOIN sigr sa ON sa.doc_id = d1
       |        JOIN sigr sb ON sb.doc_id = d2
       |        WHERE round(($matchSum) / ${K}.0, 4) >= 0.5),
       |sym AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM dup
       |        UNION ALL SELECT d2, d1 FROM dup),
       |${graft.functions.ClosureSql.minLabelComp()},
       |cl AS (SELECT r.doc_id, coalesce(comp.c, r.rep) AS cluster_id
       |       FROM repm r LEFT JOIN comp ON r.rep = comp.node)""".stripMargin
  }

  /** d19/d27/d29's shared positional span chain (ONE text — r9 verdict
    * #2 flagged d29's 35-line clone of d27): tokens → positional 5-gram
    * stream → duplicated-shingle list (with `keeper` when asked) →
    * per-doc hits → gaps-and-islands merge, ending at `spans(doc_id,a,b)`.
    * For keepOne the hit stream excludes each shingle's keeper doc and a
    * `ksp` keeper-hit CTE rides along for the excision guard. */
  private def spanChainSql(keepOne: Boolean): String = {
    val dfq =
      if (keepOne)
        """dfq AS (SELECT s, min(doc_id) AS keeper
          |        FROM (SELECT DISTINCT doc_id, s FROM pos)
          |        GROUP BY s HAVING count(*) >= 2)""".stripMargin
      else
        """dfq AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM pos)
          |        GROUP BY s HAVING count(*) >= 2)""".stripMargin
    val sp =
      if (keepOne)
        """sp AS (SELECT doc_id, s_start, s_end
          |       FROM pos JOIN dfq USING (s) WHERE doc_id <> keeper),
          |ksp AS (SELECT doc_id, s_start, s_end
          |       FROM pos JOIN dfq USING (s) WHERE doc_id = keeper)""".stripMargin
      else
        "sp AS (SELECT doc_id, s_start, s_end FROM pos JOIN dfq USING (s))"
    s"""tok AS (SELECT doc_id, $toksSql AS l FROM documents),
       |ex AS (SELECT doc_id, l, unnest(range(1, len(l) - 3)) AS i FROM tok),
       |pos AS (SELECT doc_id, i AS s_start, i + 4 AS s_end,
       |        array_to_string(l[i:i+4], ' ') AS s FROM ex),
       |$dfq,
       |$sp,
       |isl AS (SELECT doc_id, s_start, s_end,
       |        CASE WHEN s_start > coalesce(max(s_end) OVER (
       |          PARTITION BY doc_id ORDER BY s_start
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        THEN 1 ELSE 0 END AS brk FROM sp),
       |isl2 AS (SELECT doc_id, s_start, s_end,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY s_start
       |           ROWS UNBOUNDED PRECEDING) AS gid FROM isl),
       |spans AS (SELECT doc_id, min(s_start) AS a, max(s_end) AS b
       |          FROM isl2 GROUP BY doc_id, gid)""".stripMargin
  }

  /** d27/d29's shared reassembly: positional anti-join of every token
    * against `spans`, ordered string_agg, doc-preserving left joins. For
    * keepOne a token also survives when a keeper-kept shingle covers it
    * (coverage by keeper HITS equals coverage by merged keeper spans, so
    * the unmerged `ksp` is exact) — the engine-side invariant guard,
    * re-derived independently here. */
  private def reassembleSql(keepOne: Boolean): String = {
    val guard =
      if (keepOne)
        """
          |            OR EXISTS (SELECT 1 FROM ksp k
          |           WHERE k.doc_id = p.doc_id AND p.j BETWEEN k.s_start AND k.s_end)""".stripMargin
      else ""
    s"""pos2 AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS j FROM tok),
       |kept AS (SELECT p.doc_id, p.j, p.l[p.j] AS tk FROM pos2 p
       |         WHERE NOT EXISTS (SELECT 1 FROM spans s
       |           WHERE s.doc_id = p.doc_id AND p.j BETWEEN s.a AND s.b)$guard),
       |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
       |       string_agg(tk, ' ' ORDER BY j) AS clean_text
       |       FROM kept GROUP BY doc_id),
       |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
       |       FROM spans GROUP BY doc_id)
       |SELECT t.doc_id AS doc_id,
       |  CAST(len(l) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
       |  coalesce(clean_text, '') AS clean_text
       |FROM tok t LEFT JOIN ka USING (doc_id) LEFT JOIN ns USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    // ---- d01: exact dedup ----------------------------------------------
    Q("d01_exact_dedup",
      (s, dir) => exactDedup(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some(s"""WITH f AS (SELECT doc_id, md5(${TextFns.normalizeSql("text")}) AS fp FROM documents)
              |SELECT doc_id,
              |  min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
              |  doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
              |FROM f
              |ORDER BY doc_id""".stripMargin)),

    // ---- d02: MinHash + LSH candidate pairs ----------------------------
    Q("d02_minhash_lsh", { (s, dir) =>
        minhashLshPairs(Tables.load(s, dir, "documents"))
          .orderBy(col("d1"), col("d2"))
      }, {
        val bands = 8; val rows = K / bands
        val bandSelects = (0 until bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sig")
          .mkString("\n       UNION ALL ")
        val matchSum = (0 until K)
          .map(k => s"(CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END)").mkString(" + ")
        Some(s"""WITH ${shCte()},
                |$sigCte,
                |bands AS ($bandSelects),
                |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                |          FROM bands a JOIN bands b
                |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
                |SELECT d1, d2, round(($matchSum) / ${K}.0, 4) AS est_jaccard
                |FROM pairs
                |JOIN sig sa ON sa.doc_id = d1
                |JOIN sig sb ON sb.doc_id = d2
                |ORDER BY d1, d2""".stripMargin)
      }),

    // ---- d14: incremental dedup (new batch vs corpus index) ------------
    // Batch = every 10th doc; corpus = the rest. The oracle computes the
    // FULL d02 pair set and keeps only pairs touching the batch — the
    // green row machine-checks that probing the index incrementally loses
    // nothing vs re-pairing the whole corpus (and the plan never forms
    // the old-old quadrant).
    Q("d14_incremental_dedup", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        incrementalLshPairs(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0))
          .orderBy(col("d1"), col("d2"))
      }, Some(incrementalPairsOracleSql)),

    // ---- d30: incremental dedup probing the PERSISTED band index --------
    // d14 re-derives the corpus band table inline because a registered
    // query owns no cross-run state; d30 closes that caveat by walking
    // the real production shape inside one query: build the d28 artifact
    // from the day-1 corpus, then probe its live snapshot with the day-2
    // batch — the corpus side is read back from parquet (declared
    // schema), never recomputed, so at 100 TB a daily dedup pass costs
    // one batch signature pass + an index scan. Same oracle as d14 (the
    // from-scratch rebuild): one hash certifies that probing the on-disk
    // artifact produces the identical pair set.
    Q("d30_incremental_dedup_from_index", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val root = graft.RunDirs.freshDir("d30").toString
        VersionedBand.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root,
          buckets = 8)
        incrementalLshPairsFromVersioned(s, root,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0))
          .orderBy(col("d1"), col("d2"))
      }, Some(incrementalPairsOracleSql)),

    // ---- d28: LSH band-index lifecycle (build → append → compact) ------
    // The persisted-artifact arm of d14: day-1 index built from the
    // corpus (doc_id % 10 != 0), the day-2 batch (doc_id % 10 == 0)
    // APPENDED from the batch alone, the live version compacted, and the
    // read-back artifact returned. The oracle rebuilds the band table of
    // the FULL corpus from scratch — green == "append == rebuild",
    // certified on the artifact that actually hits disk (bkey is the md5
    // of the signature slice, so signature content is certified too).
    Q("d28_band_index_lifecycle", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val root = graft.RunDirs.freshDir("d28").toString
        val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        VersionedBand.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root,
          buckets = 8)
        VersionedBand.append(s, batch, root, "day2")
        // the RETRY: re-append the same batch id — manifest membership
        // makes it a no-op, so the gate's hash certifies double-append
        // == single append on the on-disk artifact
        VersionedBand.append(s, batch, root, "day2")
        VersionedBand.compact(s, root)
        VersionedBand.readLive(s, root)
          .select(col("doc_id"), col("band"), col("bkey"))
          .orderBy(col("doc_id"), col("band"))
      }, {
        val bands = 8; val rows = K / bands
        val bandSelects = (0 until bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sig")
          .mkString("\n       UNION ALL ")
        Some(s"""WITH ${shCte()},
                |$sigCte,
                |bands AS ($bandSelects)
                |SELECT doc_id, band, bkey FROM bands
                |ORDER BY doc_id, band""".stripMargin)
      }),

    // ---- d31: takedown through the persisted band index ----------------
    // The deletion arm d28's append-only lifecycle was missing (r12
    // verdict #1): build day 1, append day 2, then DELETE a doc set that
    // spans both batches — the rewrite touches only the (batch, bucket)
    // leaves that contain deleted docs, and a fully-emptied leaf has no
    // successor in the new manifest. The delete runs TWICE (the retry
    // finds nothing and commits nothing), and the oracle is the
    // from-scratch rebuild WITHOUT the deleted docs: one hash certifies
    // delete-then-read == rebuild-without on the artifact that actually
    // hits disk.
    Q("d31_band_index_delete", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val root = graft.RunDirs.freshDir("d31").toString
        VersionedBand.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root,
          buckets = 8)
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), root, "day2")
        val dels = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id"))
        VersionedBand.delete(s, root, dels)
        VersionedBand.delete(s, root, dels) // retried — finds nothing affected
        VersionedBand.readLive(s, root)
          .select(col("doc_id"), col("band"), col("bkey"))
          .orderBy(col("doc_id"), col("band"))
      }, {
        val bands = 8; val rows = K / bands
        val bandSelects = (0 until bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sig")
          .mkString("\n       UNION ALL ")
        Some(s"""WITH ${shCte()},
                |$sigCte,
                |bands AS ($bandSelects)
                |SELECT doc_id, band, bkey FROM bands
                |WHERE doc_id % 7 <> 0
                |ORDER BY doc_id, band""".stripMargin)
      }),

    // ---- d32: VERSIONED band-index lifecycle (atomic snapshot publish) --
    // s16's protocol on the dedup artifact: build(day1) → append(day2) →
    // REPLAYED append (exactly-once by manifest membership) →
    // delete(%7) twice (idempotent) → compact-swap → HARD vacuum →
    // read the live snapshot. Same from-scratch rebuild-without oracle
    // as d31 — one hash certifies snapshot reads, the no-op replay,
    // leaf-localized delete, swap compaction, and that vacuum reclaimed
    // nothing the live version serves.
    Q("d32_band_versioned_lifecycle", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val root = graft.RunDirs.freshDir("d32").toString
        VersionedBand.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root,
          buckets = 8)
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), root, "day2")
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), root, "day2")
        val dels = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id"))
        VersionedBand.delete(s, root, dels)
        VersionedBand.delete(s, root, dels)
        VersionedBand.compact(s, root)
        VersionedBand.vacuum(root, keepVersions = 1)
        VersionedBand.readLive(s, root)
          .select(col("doc_id"), col("band"), col("bkey"))
          .orderBy(col("doc_id"), col("band"))
      }, {
        val bands = 8; val rows = K / bands
        val bandSelects = (0 until bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sig")
          .mkString("\n       UNION ALL ")
        Some(s"""WITH ${shCte()},
                |$sigCte,
                |bands AS ($bandSelects)
                |SELECT doc_id, band, bkey FROM bands
                |WHERE doc_id % 7 <> 0
                |ORDER BY doc_id, band""".stripMargin)
      }),

    // ---- d33: incremental dedup probing the VERSIONED band index -------
    // The d30 shape over a COMMITTED VersionedBand snapshot (r13 verdict
    // #4): day 1 builds v1, day 2 appends (and REPLAYS — exactly-once by
    // manifest membership), and the day-3 batch probes CURRENT. The
    // corpus side is resolved through the atomic pointer and read from
    // manifest-named leaves only, so this exact query is safe to run
    // concurrently with the maintenance writers d32 exercises — the
    // versioned artifact is the PRIMARY dedup path, not a parallel
    // stack. Oracle: the same full from-scratch rebuild as d14/d30
    // (pairs touching the doc_id % 10 == 0 batch over the whole corpus
    // — day1 ∪ day2 IS doc_id % 10 <> 0), so one hash certifies the
    // snapshot read, the replay no-op, and the probe quadrant together.
    Q("d33_incremental_dedup_versioned", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val root = graft.RunDirs.freshDir("d33").toString
        VersionedBand.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
          pmod(col("doc_id"), lit(10)) =!= 5), root, buckets = 8)
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(10)) === 5), root, "day2")
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(10)) === 5), root, "day2") // replayed
        incrementalLshPairsFromVersioned(s, root,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0))
          .orderBy(col("d1"), col("d2"))
      }, Some(incrementalPairsOracleSql)),

    // ---- d34: TIME-TRAVEL dedup probe (pinned asOf read) ----------------
    // A long-running consumer pins one committed snapshot while
    // maintenance keeps publishing (r13 verdict #5's read path, made
    // oracle-certified rather than spec-only): pin v1 (the %10<>0
    // corpus), then APPEND THE PROBE BATCH ITSELF as day 2 — the
    // adversarial choice: against CURRENT the probe would find every
    // batch doc in the corpus and emit d1==d2 self-pairs the oracle
    // excludes, so any regression of asOf to CURRENT-resolution (or a
    // vacuum that broke the pinned version inside its grace window)
    // breaks the hash, not just a spec. The pinned probe sees exactly
    // the pre-append corpus — d14's from-scratch oracle, unchanged.
    Q("d34_dedup_time_travel", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val root = graft.RunDirs.freshDir("d34").toString
        val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        VersionedBand.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root,
          buckets = 8)
        val pin = graft.sources.VersionedArtifact.currentName(root).get
        VersionedBand.append(s, batch, root, "day2") // CURRENT moves past the pin
        incrementalLshPairsFromVersioned(s, root, batch, asOf = Some(pin))
          .orderBy(col("d1"), col("d2"))
      }, Some(incrementalPairsOracleSql)),

    // ---- st17: streaming VERSIONED band maintenance (registered batch
    // form) — st16's shape on the dedup artifact (r14 verdict #7):
    // foreachBatch maintains the COMMITTED VersionedBand index, one
    // CAS-committed append per micro-batch keyed by Spark's own batchId,
    // so the at-least-once sink contract (a failed trigger REPLAYS its
    // batch) meets manifest-membership exactly-once and concurrent
    // probes keep snapshot isolation. This registered form splits day 2
    // into two content-derived micro-batches (doc_id mod 20 ∈ {0, 10}),
    // REPLAYS the second, and reads the live snapshot; the oracle is
    // d28's full-corpus from-scratch rebuild — one hash certifies
    // chunked-append ∪ == rebuild and the replay no-op on the artifact
    // that hits disk. StreamingSpec runs the real readStream →
    // foreachBatch form with a mid-stream retry and asserts the replayed
    // trigger left the published-version count unchanged.
    Q("st17_stream_band_maintenance", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val root = graft.RunDirs.freshDir("st17").toString
        VersionedBand.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root,
          buckets = 8)
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(20)) === 0), root, "mb0")
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(20)) === 10), root, "mb1")
        VersionedBand.append(s,
          docs.filter(pmod(col("doc_id"), lit(20)) === 10), root, "mb1") // replayed trigger — manifest no-op
        VersionedBand.readLive(s, root)
          .select(col("doc_id"), col("band"), col("bkey"))
          .orderBy(col("doc_id"), col("band"))
      }, {
        val bands = 8; val rows = K / bands
        val bandSelects = (0 until bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sig")
          .mkString("\n       UNION ALL ")
        Some(s"""WITH ${shCte()},
                |$sigCte,
                |bands AS ($bandSelects)
                |SELECT doc_id, band, bkey FROM bands
                |ORDER BY doc_id, band""".stripMargin)
      }),

    // ---- st14: streaming incremental dedup (registered batch form) -----
    // The same probe StreamingSpec runs under readStream: new docs
    // (every 10th) vs the static corpus index, new-vs-corpus pairs only
    // (the streaming-safe contract — see streamingLshProbe). The oracle
    // rebuilds the full band set and keeps exactly the directed
    // new→corpus quadrant; the first-matching-band join dedup must
    // reproduce its DISTINCT bit-for-bit.
    Q("st14_stream_incremental_dedup", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        streamingLshProbe(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0))
          .orderBy(col("doc_id"), col("match_id"))
      }, {
        val bands = 8; val rows = K / bands
        val bandSelects = (0 until bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rows)} AS bkey FROM sig")
          .mkString("\n       UNION ALL ")
        val matchSum = (0 until K)
          .map(k => s"(CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END)").mkString(" + ")
        Some(s"""WITH ${shCte()},
                |$sigCte,
                |bands AS ($bandSelects),
                |pairs AS (SELECT DISTINCT a.doc_id AS nd, b.doc_id AS cd
                |          FROM bands a JOIN bands b
                |            ON a.band = b.band AND a.bkey = b.bkey
                |          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
                |SELECT nd AS doc_id, cd AS match_id,
                |  round(($matchSum) / ${K}.0, 4) AS est_jaccard
                |FROM pairs
                |JOIN sig sa ON sa.doc_id = nd
                |JOIN sig sb ON sb.doc_id = cd
                |ORDER BY doc_id, match_id""".stripMargin)
      }),

    // ---- d08: near-dup clusters (LSH pairs -> connected components) ----
    // The oracle rebuilds the identical pair set (same generated MinHash
    // constants as d02) over signature-collapsed representatives and
    // closes it with ITERATIVE min-label propagation (ClosureSql) —
    // min-reachable-id equals the propagation fixed point exactly, at
    // O((E+V)·rounds) instead of the old reach-pair CTE's cubic-in-clique
    // blowup, so the hostile mass-duplication fuzz tier compares this
    // oracle instead of skipping it (r9 verdict #1). See d08ChainSql for
    // the quotient-exactness argument.
    Q("d08_dup_clusters", { (s, dir) =>
        dupClusters(Tables.load(s, dir, "documents"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $d08ChainSql
              |SELECT doc_id, coalesce(cl.cluster_id, doc_id) AS cluster_id
              |FROM documents LEFT JOIN cl USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // ---- d17: cluster-aware train/eval split ---------------------------
    // The d08 chain extended one step: the split side hashes the CLUSTER
    // id, so near-dup pairs can't straddle the split.
    Q("d17_cluster_split", { (s, dir) =>
        clusterSplit(Tables.load(s, dir, "documents"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $d08ChainSql,
              |cl2 AS (SELECT doc_id, coalesce(cl.cluster_id, doc_id) AS cluster_id
              |        FROM documents LEFT JOIN cl USING (doc_id))
              |SELECT doc_id, cluster_id,
              |  CASE WHEN ${PortableHash.baseHashSql("CAST(cluster_id AS VARCHAR)")} % 100 < 90
              |       THEN 'train' ELSE 'eval' END AS split
              |FROM cl2
              |ORDER BY doc_id""".stripMargin)),

    // ---- d09: Bloom-filter membership vs a reference set ---------------
    // Filter a corpus against the already-ingested set without joining
    // it: bloom built over the reference fingerprints (docs < 400),
    // probed by every document. The filter bits are integer-exact in both
    // engines (portable hash family), so the whole result hash-matches —
    // including which non-reference docs false-positive. Exact-duplicate
    // docs of a reference doc genuinely hit; the no-false-negative
    // invariant is also spec-asserted (DedupSpec).
    Q("d09_bloom_filter", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val fp = TextFns.fingerprint(col("text"))
        val bloom = PortableBloom.build(docs.filter(col("doc_id") < 400), fp)
        PortableBloom.probe(docs, "doc_id", fp, bloom)
          .withColumn("in_reference", (col("doc_id") < 400).cast("int"))
          .withColumn("maybe_present", col("maybe_present").cast("int"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${PortableBloom.buildSql(
                 "documents WHERE doc_id < 400", s"md5(${TextFns.normalizeSql("text")})")},
              |${PortableBloom.probeSql(
                 "documents", "doc_id", s"md5(${TextFns.normalizeSql("text")})")}
              |SELECT id AS doc_id,
              |  CAST(maybe_present AS INT) AS maybe_present,
              |  CAST(id < 400 AS INT) AS in_reference
              |FROM probed
              |ORDER BY doc_id""".stripMargin)),

    // ---- d11: incremental MinHash (mergeable partial sketches) ---------
    // Sketch two deterministic slices of every document independently,
    // merge by elementwise min, and hash-match the ORACLE'S whole-corpus
    // signatures (sigCte — same constants, but the oracle never sees the
    // split). Green means partial-sketch persist-and-merge is exact, the
    // property the 100 TB incremental pipeline depends on.
    Q("d11_incremental_minhash",
      (s, dir) => incrementalMinhashSignature(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH ${shCte()},
              |$sigCte
              |SELECT doc_id, ${(0 until K).map(k => s"m$k").mkString(", ")}
              |FROM sig
              |ORDER BY doc_id""".stripMargin)),

    // ---- d12: eval-set decontamination ---------------------------------
    // Benchmark stand-in = docs 0..19; corpus = the rest. A corpus doc is
    // contaminated iff it shares any bigram shingle with the benchmark.
    Q("d12_decontaminate",
      (s, dir) => {
        val all = Tables.load(s, dir, "documents")
        decontaminate(all.filter(col("doc_id") >= 20), all.filter(col("doc_id") < 20))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${shCte()},
              |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
              |hits AS (SELECT doc_id, count(DISTINCT sh.s) AS n_hits
              |         FROM sh JOIN ev ON sh.s = ev.s
              |         WHERE doc_id >= 20 GROUP BY doc_id)
              |SELECT d.doc_id AS doc_id,
              |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
              |  CAST(coalesce(n_hits, 0) > 0 AS INT) AS contaminated
              |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
              |WHERE d.doc_id >= 20
              |ORDER BY d.doc_id""".stripMargin)),

    // ---- d26: contamination attribution pairs --------------------------
    // d12's drill-down: the oracle recomputes the same distinct-shingle
    // pair rollup, so the green row certifies pair identity AND counts.
    // Registered at ngram=5, the e01 decontamination setting: a bigram
    // probe pairs nearly every corpus doc with every eval doc through
    // shared VOCABULARY ("of the"), which makes the report noise and the
    // rollup ~|corpus|×|eval| rows (measured 3.3 s vs 0.3 s at sf0.1);
    // a 5-gram only matches on copied spans — the leaks the report is for.
    Q("d26_contamination_pairs",
      (s, dir) => {
        val all = Tables.load(s, dir, "documents")
        contaminationPairs(all.filter(col("doc_id") >= 20),
            all.filter(col("doc_id") < 20), ngram = 5)
          .orderBy(col("doc_id"), col("eval_doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
              |sh5 AS (SELECT doc_id,
              |    unnest(list_distinct(list_transform(range(1, len(t) - 3),
              |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS s
              |  FROM tok),
              |ev AS (SELECT doc_id AS eval_doc_id, s FROM sh5 WHERE doc_id < 20)
              |SELECT sh5.doc_id AS doc_id, ev.eval_doc_id,
              |  CAST(count(*) AS BIGINT) AS n_shared
              |FROM sh5 JOIN ev ON sh5.s = ev.s
              |WHERE sh5.doc_id >= 20
              |GROUP BY sh5.doc_id, ev.eval_doc_id
              |ORDER BY doc_id, eval_doc_id""".stripMargin)),

    // ---- d24: embedding-space decontamination --------------------------
    // d12's semantic sibling (the SemDeDup-paper eval-leak check): a
    // paraphrased eval item shares no 5-gram but sits at high cosine.
    // The eval set is tiny by the same contract as d12, so the plan is
    // one corpus scan against BROADCAST eval vectors — max cosine via a
    // map-side-combinable max(struct) argmax, no shuffle of the corpus,
    // no LSH needed (candidate generation only pays off when BOTH sides
    // are large). 6dp rounding + min-vec_id tiebreak as everywhere.
    Q("d24_embedding_decontaminate",
      (s, dir) => {
        val all = Tables.load(s, dir, "embeddings")
        embeddingDecontaminate(all.filter(col("vec_id") >= 20),
          all.filter(col("vec_id") < 20), minCos = 0.4)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |ev AS (SELECT vec_id AS eid, e AS ee FROM e WHERE vec_id < 20),
             |sc AS (SELECT e.vec_id, eid,
             |         round(list_cosine_similarity(e.e, ee), 6) AS cos
             |       FROM e CROSS JOIN ev WHERE e.vec_id >= 20),
             |mx AS (SELECT vec_id, max(cos) AS m FROM sc GROUP BY vec_id),
             |best AS (SELECT sc.vec_id, min(eid) AS nearest_eval, mx.m
             |         FROM sc JOIN mx ON sc.vec_id = mx.vec_id AND sc.cos = mx.m
             |         GROUP BY sc.vec_id, mx.m),
             |corpus AS (SELECT vec_id FROM embeddings WHERE vec_id >= 20)
             |SELECT c.vec_id, best.nearest_eval, best.m AS max_cos,
             |  COALESCE(CAST(best.m >= 0.4 AS INT), 0) AS contaminated
             |FROM corpus c LEFT JOIN best ON c.vec_id = best.vec_id
             |ORDER BY c.vec_id""".stripMargin)),

    // ---- d03: SimHash signatures ---------------------------------------
    Q("d03_simhash",
      (s, dir) => simhash(Tables.load(s, dir, "documents")).orderBy(col("doc_id")), {
        val bits = 16
        val caseTerms = (0 until bits)
          .map(k => s"(CASE WHEN 2 * sum((h >> $k) & 1) > count(*) THEN ${1L << k} ELSE 0 END)")
          .mkString("\n       + ")
        Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
                |bh AS (SELECT doc_id, ${PortableHash.baseHashSql("w")} AS h FROM tok)
                |SELECT doc_id,
                |  CAST($caseTerms AS BIGINT) AS simhash
                |FROM bh GROUP BY doc_id
                |ORDER BY doc_id""".stripMargin)
      }),

    // ---- d04: exact n-gram Jaccard pairs (same-lang blocking) ----------
    // The registered query caps at doc_id < 1000 (exact all-pairs Jaccard
    // is the verifier stage you run on LSH candidates, not the whole
    // corpus) and exercises the df-50 stop-shingle cap — mirrored exactly
    // in the oracle, which drops the same hot shingles.
    Q("d04_ngram_jaccard",
      (s, dir) => ngramJaccardPairs(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 1000), 0.2,
        maxShingleDf = 50)
        .orderBy(col("d1"), col("d2")),
      Some(s"""WITH ${shCte(" WHERE doc_id < 1000")},
              |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 50),
              |shc AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
              |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
              |          FROM shc a JOIN shc b
              |            ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
              |          GROUP BY a.doc_id, b.doc_id)
              |SELECT d1, d2,
              |  round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) AS jaccard
              |FROM inter
              |JOIN sizes s1 ON s1.doc_id = d1
              |JOIN sizes s2 ON s2.doc_id = d2
              |WHERE round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) >= 0.2
              |ORDER BY d1, d2""".stripMargin)),

    // ---- d06: deterministic content-hash sample ------------------------
    Q("d06_content_sample",
      (s, dir) => contentSample(Tables.load(s, dir, "documents"), 20)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang, source
              |FROM documents
              |WHERE ${PortableHash.baseHashSql(TextFns.normalizeSql("text"))} % 100 < 20
              |ORDER BY doc_id""".stripMargin)),

    // ---- d07: stratified content-hash sample ---------------------------
    // Per-language sampling rates (downsample dominant en to 10%, keep
    // 30% of the rest) with the same content-hash determinism as d06 —
    // the rebalancing pass a multilingual training mix needs, still a
    // pure function of the content.
    Q("d07_stratified_sample",
      (s, dir) => stratifiedSample(Tables.load(s, dir, "documents"),
          Map("en" -> 10), defaultPercent = 30)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang
              |FROM documents
              |WHERE ${PortableHash.baseHashSql(TextFns.normalizeSql("text"))} % 100
              |      < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
              |ORDER BY doc_id""".stripMargin)),

    // ---- d16: containment / overlap-coefficient pairs ------------------
    // Same doc_id cap and df cap as d04 (the symmetric sibling); the
    // lower 0.5 threshold is what makes the asymmetric metric visible on
    // the fixture corpus.
    Q("d16_containment",
      (s, dir) => containmentPairs(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 1000), 0.5,
        maxShingleDf = 50)
        .orderBy(col("d1"), col("d2")),
      Some(s"""WITH ${shCte(" WHERE doc_id < 1000")},
              |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 50),
              |shc AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
              |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
              |          FROM shc a JOIN shc b
              |            ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
              |          GROUP BY a.doc_id, b.doc_id)
              |SELECT d1, d2,
              |  round(inter::DOUBLE / least(s1.sz, s2.sz), 4) AS overlap,
              |  CASE WHEN inter = least(s1.sz, s2.sz) THEN 1 ELSE 0 END
              |    AS full_containment
              |FROM inter
              |JOIN sizes s1 ON s1.doc_id = d1
              |JOIN sizes s2 ON s2.doc_id = d2
              |WHERE round(inter::DOUBLE / least(s1.sz, s2.sz), 4) >= 0.5
              |ORDER BY d1, d2""".stripMargin)),

    // ---- d15: per-document duplicated-shingle rate ---------------------
    // The substring-duplication diagnostic: fraction of each document's
    // distinct shingles that recur elsewhere in the corpus, in exact
    // integer basis points. Documents with no shingles (sub-2-token) drop
    // out on both sides.
    Q("d15_dup_shingle_rate",
      (s, dir) => dupShingleRate(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH ${shCte()},
              |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
              |SELECT doc_id,
              |  count(*) AS n_shingles,
              |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
              |  CAST(10000 * sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
              |       // count(*) AS BIGINT) AS dup_rate_bp
              |FROM sh JOIN dfq USING (s)
              |GROUP BY doc_id
              |ORDER BY doc_id""".stripMargin)),

    // ---- d19: merged duplicated-passage spans --------------------------
    // The positional substring-dedup measurement (5-gram spans, merged by
    // gaps-and-islands). The oracle rebuilds positional shingles with a
    // lateral range over the token list and merges islands with the same
    // running-max window — exact integers end to end, so hash parity
    // certifies both the span detection and the interval merge.
    Q("d19_dup_spans",
      (s, dir) => dupSpans(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH ${spanChainSql(keepOne = false)},
              |agg AS (SELECT doc_id, CAST(sum(b - a + 1) AS BIGINT) AS dup_tokens,
              |        CAST(count(*) AS BIGINT) AS n_spans FROM spans GROUP BY doc_id)
              |SELECT t.doc_id AS doc_id,
              |  CAST(len(l) AS BIGINT) AS n_tokens,
              |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
              |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
              |  CAST(1000000 * coalesce(dup_tokens, 0)
              |       // greatest(len(l), 1) AS BIGINT) AS dup_ppm
              |FROM tok t LEFT JOIN agg USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // ---- d27: substring-dedup REWRITE (the acting form of d19) ---------
    // Emits the cleaned corpus: d19's merged duplicated-passage spans
    // excised, kept tokens rejoined. The oracle rebuilds the same spans
    // (d19's lateral-unnest chain) and reassembles each document with a
    // positional anti-join + ordered string_agg — hash parity certifies
    // span detection, interval merge, AND the token-range excision.
    Q("d27_substring_rewrite",
      (s, dir) => substringRewrite(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH ${spanChainSql(keepOne = false)},
              |${reassembleSql(keepOne = false)}""".stripMargin)),

    // ---- d29: substring-dedup rewrite, KEEP-ONE-COPY arm ----------------
    // d27 with per-shingle keeper semantics: the minimum-doc_id carrier
    // keeps the passage, everyone else excises; positions covered by a
    // shingle THIS doc keeps are protected from overlapping cut spans
    // (see substringRewriteKeepOne's invariant scaladoc). Oracle = the
    // SAME shared chain/reassembly fragments as d27, parameterized by
    // the keeper filter.
    Q("d29_substring_rewrite_keep_one",
      (s, dir) => substringRewriteKeepOne(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH ${spanChainSql(keepOne = true)},
              |${reassembleSql(keepOne = true)}""".stripMargin)),

    // ---- d13: prefix-filtered exact Jaccard (the scale path) -----------
    // Runs over the FULL documents table — the point of prefix filtering
    // is that the exact join no longer needs d04's doc_id cap. The oracle
    // is the naive quadratic join with NO knowledge of the prefix filter:
    // green here is a machine check of the filter's losslessness, not
    // just of the arithmetic.
    Q("d13_prefix_jaccard",
      (s, dir) => prefixJaccardPairs(Tables.load(s, dir, "documents"), 0.5)
        .orderBy(col("d1"), col("d2")),
      Some(s"""WITH ${shCte()},
              |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
              |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
              |          FROM sh a JOIN sh b
              |            ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
              |          GROUP BY a.doc_id, b.doc_id)
              |SELECT d1, d2,
              |  round(inter::DOUBLE / (s1.sz + s2.sz - inter), 4) AS jaccard
              |FROM inter
              |JOIN sizes s1 ON s1.doc_id = d1
              |JOIN sizes s2 ON s2.doc_id = d2
              |WHERE inter::DOUBLE / (s1.sz + s2.sz - inter) >= 0.5
              |ORDER BY d1, d2""".stripMargin)),

    // ---- d18: semantic dedup clusters (SemDeDup shape) -----------------
    // The d08 closure semantics over COSINE edges instead of LSH
    // candidates. Same hostile-tier treatment as d08ChainSql: vectors
    // with identical values quotient to their min-vec_id rep before the
    // all-pairs join (cosine is a pure function of the values, and an
    // identical nonzero pair has cosine 1 ≥ 0.4, so each multi-member
    // value group is internally connected and cross-group edges exist iff
    // the rep pair passes the same test), then ITERATIVE min-label
    // components (ClosureSql) instead of the cubic reach-pair CTE.
    Q("d18_semantic_clusters",
      (s, dir) => semanticClusters(Tables.load(s, dir, "embeddings"))
        .orderBy(col("vec_id")),
      Some(s"""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |en AS (SELECT * FROM e WHERE list_dot_product(e, e) > 0),
             |grp AS MATERIALIZED (SELECT e, min(vec_id) AS rep FROM en GROUP BY e),
             |repm AS MATERIALIZED (SELECT en.vec_id, g.rep
             |        FROM en JOIN grp g ON en.e = g.e),
             |dup AS (SELECT a.rep AS d1, b.rep AS d2
             |        FROM grp a JOIN grp b ON a.rep < b.rep
             |        WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.4),
             |sym AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM dup
             |        UNION ALL SELECT d2, d1 FROM dup),
             |${graft.functions.ClosureSql.minLabelComp()},
             |cl AS (SELECT r.vec_id, coalesce(comp.c, r.rep) AS cluster_id
             |       FROM repm r LEFT JOIN comp ON r.rep = comp.node)
             |SELECT vec_id, coalesce(cl.cluster_id, vec_id) AS cluster_id
             |FROM e LEFT JOIN cl USING (vec_id)
             |ORDER BY vec_id""".stripMargin)),

    // ---- d20: semantic clusters, banded (the scale form of d18) --------
    // Oracle arm replicates the BANDED generation (the d02 pattern): the
    // hyperplanes are engine-portable constants, so DuckDB recomputes the
    // identical 64-bit signatures, slices the same 8-bit band keys,
    // generates the same in-bucket candidate pairs, keeps the same
    // cosine-θ edges, and runs the same min-label components — a
    // bit-for-bit cross-engine certificate of the subquadratic path
    // itself. (Exact-cluster parity at θ=0.4 is unreachable for ANY
    // subquadratic generator on this corpus — see semanticClustersBanded's
    // scaladoc; recall is certified at production thresholds in
    // DedupSpec instead.)
    Q("d20_semantic_clusters_banded",
      (s, dir) => semanticClustersBanded(Tables.load(s, dir, "embeddings"),
        minCos = d20MinCos, dim = d20Dim, planes = d20Planes, tables = d20Tables)
        .orderBy(col("vec_id")),
      Some(s"""$d20ChainSql
             |SELECT vec_id, coalesce(clv.c, vec_id) AS cluster_id
             |FROM e LEFT JOIN clv USING (vec_id)
             |ORDER BY vec_id""".stripMargin)),

    // ---- d23: SemDeDup keeper — one representative per d20 cluster -----
    // The medoid: the member with the highest summed cosine affinity to
    // its cluster mates (ties -> min vec_id; singletons keep themselves
    // at affinity 0). Affinities are exact integer micro-units (the s07
    // LUT convention) so the BIGINT sums match in any order. The oracle
    // extends the d20 chain, so one hash certifies clusters AND keeper.
    // Affinity work is capped at m·cap per cluster (cap=256 here; exact
    // below the cap, hash-thresholded sample above — see d25 for the
    // sampled arm under oracle certification).
    Q("d23_semantic_representatives",
      (s, dir) => semanticRepresentatives(Tables.load(s, dir, "embeddings"),
        minCos = d20MinCos, dim = d20Dim, planes = d20Planes, tables = d20Tables,
        cap = 256)
        .orderBy(col("cluster_id")),
      Some(s"""$d20ChainSql,
             |${d23KeeperSql(256)}""".stripMargin)),

    // ---- d25: the capped keeper on the HOSTILE mass-duplication shape --
    // 30% of the corpus is overwritten with one seed vector, building the
    // exact giant cluster the r7 verdict flagged as d23's detonator; the
    // cap (16 here, far below the ~150-member clique at sf0.01) forces
    // the hash-thresholded SAMPLED arm, and the oracle encodes the same
    // probe rule — so the driver's gate certifies the sampled medoid,
    // not just the exact one. Work is m·~cap per cluster, never m².
    Q("d25_semantic_representatives_hostile",
      (s, dir) => {
        val base = Tables.load(s, dir, "embeddings")
        val seed = base.orderBy(col("vec_id")).limit(1)
          .select(col("embedding").as("semb"))
        val hostile = base.crossJoin(broadcast(seed))
          .select(col("vec_id"),
            when(col("vec_id") % 10 < 3, col("semb"))
              .otherwise(col("embedding")).as("embedding"))
        semanticRepresentatives(hostile, minCos = d20MinCos, dim = d20Dim,
          planes = d20Planes, tables = d20Tables, cap = 16)
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH seed AS (
             |  SELECT embedding::DOUBLE[] AS semb FROM embeddings
             |  ORDER BY vec_id LIMIT 1),
             |e AS (SELECT vec_id,
             |        CASE WHEN vec_id % 10 < 3 THEN semb
             |             ELSE embedding::DOUBLE[] END AS e
             |      FROM embeddings CROSS JOIN seed),
             |$d20ChainBodySql,
             |${d23KeeperSql(16)}""".stripMargin)),

    // ---- d05: embedding-cosine near-dup pairs --------------------------
    Q("d05_embedding_neardup",
      (s, dir) => embeddingNearDupPairs(Tables.load(s, dir, "embeddings"), 0.4)
        .orderBy(col("v1"), col("v2")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
             |SELECT a.vec_id AS v1, b.vec_id AS v2,
             |  round(list_cosine_similarity(a.e, b.e), 4) AS cos
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.4
             |ORDER BY v1, v2""".stripMargin)),

    // ---- d21: temperature-scaled domain mixture weights ----------------
    // α = 0.5 (sqrt — IEEE-exact on both engines), 1M-token budget; the
    // `source` column is the domain axis. raw vs temp share shows the
    // small-domain upweighting; expected_epochs > 1 flags domains the
    // budget would replay.
    Q("d21_mixture_weights",
      (s, dir) => mixtureWeights(Tables.load(s, dir, "documents"))
        .orderBy(col("domain")),
      Some(s"""WITH dom AS (SELECT source AS domain,
             |    CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |tot AS (SELECT sum(n_tokens) AS tot_tokens,
             |    sum(sqrt(n_tokens)) AS tot_w FROM dom)
             |SELECT domain, n_docs, n_tokens,
             |  round(n_tokens / tot_tokens, 4) AS raw_share,
             |  round(sqrt(n_tokens) / tot_w, 4) AS temp_share,
             |  round(1000000 * (sqrt(n_tokens) / tot_w) / n_tokens, 4)
             |    AS expected_epochs
             |FROM dom, tot ORDER BY domain""".stripMargin)),

    // ---- d22: token-budget corpus selection ----------------------------
    // Greedy prefix under a 15k-token budget, quality = stopword density
    // in exact integer basis points (ties broken by doc_id). The oracle
    // certifies the two-pass distributed cumulative sum against the
    // naive single-window form it replaces.
    Q("d22_budget_select",
      (s, dir) => {
        def idiv(a: Column, b: Column): Column =
          ((a - pmod(a, b)) / b).cast("long")
        val toks = TextFns.tokens(col("text"))
        val scoreBp = idiv(
          lit(10000L) * size(filter(toks,
            x => x.isInCollection(graft.functions.Stopwords.en))),
          greatest(size(toks), lit(1)))
        budgetSelect(Tables.load(s, dir, "documents"),
          scoreBp, TextFns.tokenCount(col("text")), budget = 15000L)
          .orderBy(col("doc_id"))
      }, {
        val inList = graft.functions.Stopwords.en
          .map(w => s"'$w'").mkString("(", ", ", ")")
        Some(s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
               |sc AS (SELECT doc_id,
               |    CAST(10000 * len(list_filter(t, x -> x IN $inList))
               |         // greatest(len(t), 1) AS BIGINT) AS score,
               |    CAST(len(t) AS BIGINT) AS n_tokens FROM d),
               |c AS (SELECT doc_id, score, n_tokens,
               |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
               |         AS BIGINT) AS cum_tokens FROM sc)
               |SELECT doc_id, score, n_tokens, cum_tokens
               |FROM c WHERE cum_tokens <= 15000
               |ORDER BY doc_id""".stripMargin)
      }),
  )
}
