package graft.operators

import graft.{Q, Tables}
import graft.functions.{PortableHash, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus build — the composition a training-data pipeline
  * actually ships, registered as ONE driver-gated query so the operator
  * interfaces are proven to compose, not just to pass in isolation:
  *
  *   quality filter (t02 semantics) → eval-set decontamination (d12) →
  *   exact dedup, keepers only (d01) → sequence packing (t10).
  *
  * Every stage is the library operator, unmodified; the oracle re-derives
  * the whole flow in one SQL CTE chain from the same shared fragments
  * (TextOps.qualitySql, the d12 shingle overlap, the d01 fingerprint, the
  * t10 shard windows), so the gate pins the COMPOSED semantics end to end.
  *
  * Scale notes: the stages keep their individual shapes — scan-parallel
  * quality scoring, broadcast eval shingles (corpus never shuffles for
  * decontamination), shared-exchange dedup aggregate+join, shard-parallel
  * packing windows. Nothing about composing them introduces a new shuffle
  * beyond their own.
  */
object Pipeline {

  def corpusBuild(docs: DataFrame, evalMax: Long = 20,
      minQuality: Double = 0.7, decontamNgram: Int = 5,
      budgetTokens: Int = 512, shards: Int = 8): DataFrame = {
    val corpus = docs.filter(col("doc_id") >= evalMax)
    val evalSet = docs.filter(col("doc_id") < evalMax)
    // Materialize each stage boundary once: the lazy composition
    // referenced the quality-filtered corpus from FOUR downstream
    // subtrees (decontamination, the anti-join, dedup, the survivor
    // semi-join), and the executed plan re-scanned the input and re-ran
    // the tokenize/normalize quality predicate 12 times (counted on the
    // executed plan; now 0 — every consumer reads the materialized
    // stage). At fixture scale the redundant scans are cheap and wall
    // time barely moves; at 100 TB a 12× re-read of the corpus is the
    // difference between a pipeline and an accident. This is also how a
    // production corpus build runs — stage outputs materialize between
    // stages rather than re-deriving the whole upstream flow per
    // consumer.
    val qualified = corpus
      .filter(TextFns.qualityScore(col("text")) >= minQuality)
      .localCheckpoint(false)
    // WIDE shingles for decontamination (5-gram, the d12 operator's ngram
    // knob): bigrams collide on shared VOCABULARY and would empty a
    // narrow-domain corpus; a 5-gram only collides on copied spans
    val contaminated = Dedup.decontaminate(qualified, evalSet, decontamNgram)
      .filter(col("contaminated") === 1).select(col("doc_id"))
    val clean = qualified.join(contaminated, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val keepers = Dedup.exactDedup(clean)
      .filter(!col("is_dup")).select(col("doc_id"))
    val surviving = clean.join(keepers, Seq("doc_id"), "left_semi")
    TextOps.packSequences(surviving, budgetTokens, shards)
  }

  /** The corpus-build FRONT END (quality → decontaminate → exact dedup)
    * re-shaped to run unchanged under `readStream` — the day-0 ingest
    * that admits documents as they arrive instead of in a nightly batch:
    *
    *  - quality filter: stateless row predicate (unchanged);
    *  - decontamination: the batch form aggregates per-doc hit counts and
    *    joins back — two stateful stages a stream doesn't need. Here the
    *    eval shingle set (tiny by d12's contract) rides IN-ROW as a
    *    literal array and `arrays_overlap` gives the same contaminated
    *    bit statelessly: n_hits > 0  ⟺  overlap ≠ ∅;
    *  - exact dedup: first-arrival-wins `dropDuplicates` on the content
    *    fingerprint — state is one fingerprint per distinct content, and
    *    under doc_id-ordered arrival "first" IS the batch min-keeper
    *    (StreamingSpec replays one document per micro-batch to pin
    *    row-level keeper identity, not just count parity).
    *
    * Packing stays batch-side (it is an ordering over the admitted set);
    * everything before it streams. */
  def streamIngestFrontEnd(docs: DataFrame, evalShingles: Seq[String],
      minQuality: Double = 0.7, decontamNgram: Int = 5): DataFrame =
    docs.filter(TextFns.qualityScore(col("text")) >= minQuality)
      .withColumn("__t", TextFns.tokens(col("text")))
      .filter(!arrays_overlap(
        TextFns.ngramsOfTokens(col("__t"), decontamNgram),
        typedLit(evalShingles)))
      .withColumn("fp", TextFns.fingerprint(col("text")))
      .dropDuplicates("fp")
      .select(col("doc_id"), col("fp"))

  /** Filter-ablation audit: the per-document admission status of the
    * corpus-build front end under TWO quality thresholds, side by side —
    * the "what would this config change actually do" report a pipeline
    * owner runs before touching a knob that re-filters 100 TB.
    *
    * Status per config, in the pipeline's own gate order: `quality`
    * (score below the threshold), `contaminated` (shares an eval 5-gram),
    * `duplicate` (a smaller-id twin with the same fingerprint survived
    * the earlier gates), `admitted`. Each config derives its OWN keeper
    * table — the general shape, because dedup keepers depend on which
    * twins survive the earlier gates. On THIS data model the keeper can
    * never actually shift between configs: fingerprint, quality, and
    * contamination are all functions of the same normalized text, so an
    * fp-group is status-homogeneous up to the keeper role and a config
    * change moves whole groups, never their internal order. That
    * invariance is a provable property, not an assumption — PipelineSpec
    * asserts no doc ever flips between `admitted` and `duplicate`, while
    * planting every flip class that CAN happen (quality → admitted /
    * duplicate / contaminated).
    *
    * Scale shape: the config-independent per-doc facts (quality score,
    * fingerprint, contamination bit) are computed ONCE from one corpus
    * scan and materialized; each config then derives its keeper table
    * with one map-side-combinable min-per-fingerprint aggregate over
    * that base — no second read of `text`, no per-config re-scan. */
  def admissionDiff(docs: DataFrame, qA: Double = 0.7, qB: Double = 0.4,
      evalMax: Long = 20, decontamNgram: Int = 5): DataFrame = {
    val corpus = docs.filter(col("doc_id") >= evalMax)
    val evalSet = docs.filter(col("doc_id") < evalMax)
    val cont = Dedup.decontaminate(corpus, evalSet, decontamNgram)
      .select(col("doc_id"), col("contaminated"))
    val base = corpus
      .select(col("doc_id"), TextFns.qualityScore(col("text")).as("q"),
        TextFns.fingerprint(col("text")).as("fp"))
      .join(cont, "doc_id")
      .localCheckpoint(false)
    // BOTH configs' keeper tables from ONE conditional aggregation (a
    // config's keeper = min doc_id among its clean members), and both
    // statuses from one join against it — one fp shuffle and no final
    // doc_id self-join, half the exchanges of the status-per-arm form
    val keepers = base.groupBy(col("fp")).agg(
      min(when(col("q") >= qA && col("contaminated") === 0, col("doc_id")))
        .as("keep_a"),
      min(when(col("q") >= qB && col("contaminated") === 0, col("doc_id")))
        .as("keep_b"))
    def status(minQ: Double, keep: String): Column =
      when(col("q") < minQ, "quality")
        .when(col("contaminated") === 1, "contaminated")
        .when(col("doc_id") === col(keep), "admitted")
        .otherwise("duplicate")
    base.join(keepers, "fp")
      .select(col("doc_id"), status(qA, "keep_a").as("status_a"),
        status(qB, "keep_b").as("status_b"))
      .withColumn("changed", (col("status_a") =!= col("status_b")).cast("int"))
  }

  /** Deterministic global shuffle + balanced shard layout — the
    * training-order shuffle every pretraining pipeline runs between corpus
    * build and tokenization: give every document a pseudo-random position,
    * then lay the permuted order out round-robin across `shards` so each
    * shard is (a) exactly balanced in document count (sizes differ by at
    * most one — hash-mod sharding, t10's shape, only balances in
    * expectation) and (b) an unbiased uniform sample of the corpus, the
    * property that makes any shard prefix a valid training subset.
    *
    * The permutation is a keyed hash, not a random(): `h = portableHash
    * (salt‖doc_id)` ordered with a doc_id tie-break — re-runs reproduce
    * the layout bit-for-bit, a different `salt` is a fresh epoch shuffle,
    * and the DuckDB oracle replays the identical order.
    *
    * Scale shape: the naive form — `row_number() OVER (ORDER BY h)` — is
    * a single-task global sort at any scale. This reuses
    * [[Relational.distributionRanks]]' two-pass global-rank machinery
    * (range-partition by (h, doc_id) → per-slice counts → broadcast
    * prefix offsets + per-slice local rank), so max task load is
    * n/parts regardless of corpus size and the only per-row movement is
    * the one range exchange — the same shape d22/q51 already certify. */
  def shuffleShards(docs: DataFrame, shards: Int = 16,
      salt: String = "r0"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val base = docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
      PortableHash.baseHash(
        concat(lit(salt + "|"), col("doc_id").cast("string"))).as("__h"))
    val rk = col("pr_num") // global rank - 1 from the two-pass rank shape
    Relational.distributionRanks(base, Seq.empty,
        Seq(col("__h"), col("doc_id")), ntiles = 1)
      .select(col("doc_id"),
        (rk % shards).cast("int").as("shard"),
        ((rk - rk % shards) / shards).cast("long").as("shard_pos"),
        col("n_tokens"))
  }

  /** Day-2 incremental maintenance, certified in one result set — the
    * operations a 100 TB corpus actually runs when a new batch lands,
    * WITHOUT re-reading old data, each emitting a machine-checked row:
    *
    *  - `new_near_dup_pairs`: the d14 incremental LSH probe (batch vs
    *    corpus index; the old-old quadrant is never formed) — the count
    *    the oracle recomputes from the full pair set;
    *  - `batch_fp_already_in_corpus`: exact-dedup increment — batch docs
    *    whose fingerprint already exists (oracle recomputes);
    *  - `hll_fold_register_mismatch` / `cms_fold_cell_mismatch` /
    *    `hdr_fold_bucket_mismatch`: the three persisted corpus sketches
    *    (p08 registers, p09 counters, p07 buckets) folded old⊕new and
    *    compared to the whole-corpus build — 0 on the oracle side by
    *    fiat, EARNED on the Spark side (the d11 merge property for the
    *    max, sum, and sum monoids respectively).
    */
  def dayTwoCertification(docs: DataFrame): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    // The five certifications deliberately re-derive their arms (fold vs
    // whole IS the certification), so each arm re-reads the columnar
    // source — 15 scans on the executed plan. That is the honest shape
    // for a cert query: pruned parquet re-reads are cheap, while
    // materializing the text column once to feed them costs more than it
    // saves (measured +1.4 s at sf0.1). The PRODUCTION incremental path
    // (d11/d14 probes) never re-reads old data; only this certification
    // arm does.
    val old = docs.filter(!isBatch)
    val nw = docs.filter(isBatch)
    def row(name: String, v: DataFrame) =
      v.select(lit(name).as("metric"), col("value"))

    val pairs = Dedup.incrementalLshPairs(old, nw)
      .agg(count(lit(1)).as("value"))

    val fpOld = old.select(TextFns.fingerprint(col("text")).as("fp")).distinct()
    val dupFp = nw.select(TextFns.fingerprint(col("text")).as("fp"))
      .join(fpOld, "fp").agg(count(lit(1)).as("value"))

    def mismatches(fold: DataFrame, whole: DataFrame, keys: Seq[String],
        v: String): DataFrame =
      fold.join(whole.withColumnRenamed(v, "_w"), keys, "full")
        .agg(sum(when(col(v) <=> col("_w"), 0L).otherwise(1L)).as("value"))

    def hllR(df: DataFrame) = Profile.hllRegisters(df, col("doc_id"))
    val hllFold = hllR(old).unionByName(hllR(nw))
      .groupBy(col("bucket")).agg(max(col("m")).as("m"))
    val hllMis = mismatches(hllFold, hllR(docs), Seq("bucket"), "m")

    def cmsC(df: DataFrame) = Profile.cmsCounters(df, col("doc_id") % 997)
    val cmsFold = cmsC(old).unionByName(cmsC(nw))
      .groupBy(col("r"), col("c")).agg(sum(col("cnt")).as("cnt"))
    val cmsMis = mismatches(cmsFold, cmsC(docs), Seq("r", "c"), "cnt")

    def hdr(df: DataFrame) = df
      .agg(graft.functions.HdrSketch.sketch(col("n_chars").cast("long")).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e._1").as("bucket"), col("e._2").as("cnt"))
    val hdrFold = hdr(old).unionByName(hdr(nw))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val hdrMis = mismatches(hdrFold, hdr(docs), Seq("bucket"), "cnt")

    row("batch_fp_already_in_corpus", dupFp)
      .unionByName(row("cms_fold_cell_mismatch", cmsMis))
      .unionByName(row("hdr_fold_bucket_mismatch", hdrMis))
      .unionByName(row("hll_fold_register_mismatch", hllMis))
      .unionByName(row("new_near_dup_pairs", pairs))
      .orderBy(col("metric"))
  }

  private val normSql = TextFns.normalizeSql("text")
  private val toksSql = TextFns.tokensSql("text")

  /** Corpus snapshot diff — the audit between two corpus VERSIONS a lake
    * pipeline runs after every rebuild/backfill before promoting it:
    * per-document status (`added` / `removed` / `changed` / `unchanged`)
    * from the content fingerprint, never the bytes-on-disk layout. The
    * report that answers "what did yesterday's pipeline change actually
    * touch" — and the precondition for safe incremental consumers (a
    * downstream index re-embeds exactly the `added` + `changed` rows).
    *
    * Scale shape: one full outer equi-join on the corpus key; both sides
    * project to (key, 16-byte fingerprint) before the join, so the wide
    * text column never shuffles. At 100 TB both snapshot fingerprint
    * tables are the natural [[graft.sources.Formats.writeBucketed]]
    * artifacts — co-bucketed on doc_id, the join needs no exchange at
    * all. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"),
      TextFns.fingerprint(col("text")).as("old_fp"))
    val n = newDocs.select(col("doc_id"),
      TextFns.fingerprint(col("text")).as("new_fp"))
    o.join(n, Seq("doc_id"), "full")
      .select(col("doc_id"), col("old_fp"), col("new_fp"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-language corpus DATASHEET — the one-page report card shipped
    * beside a released corpus (Datasheets for Datasets; Dolma/RefinedWeb
    * publish exactly these tables): document and token volumes, length
    * range, mean quality, and the exact-duplicate rate, one row per
    * language. All exact integers (quality in centipoints — the 2dp
    * score ×100 — and rates in basis points), so the whole datasheet is
    * hash-gated cross-engine rather than eyeballed.
    *
    * Scale shape: one scan projects (lang, tokens, quality, fingerprint);
    * the exact-dup bit reuses d01's shared-exchange keeper shape (the
    * repartition feeds both the keeper aggregate and the join probe);
    * the final rollup groups on `lang` — a tiny key set, and the only
    * state per group is a handful of counters. */
  def corpusDatasheet(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(TextFns.qualityScore(col("text")) * 100).cast("long").as("q_cp"),
        TextFns.fingerprint(col("text")).as("fp"))
      .repartition(col("fp"))
    val keepers = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper_id"))
    base.join(keepers, "fp")
      .withColumn("is_dup", (col("doc_id") =!= col("keeper_id")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("q_cp")).as("q_sum"),
        sum(col("is_dup")).as("dup_docs"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        expr("total_tokens div n_docs").as("mean_tokens"),
        col("min_tokens"), col("max_tokens"),
        expr("q_sum div n_docs").as("mean_quality_cp"),
        col("dup_docs"),
        expr("10000 * dup_docs div n_docs").as("dup_rate_bp"))
  }

  val queries: Seq[Q] = Seq(

    // ---- e06: per-language corpus datasheet -----------------------------
    // The release report card, hash-gated: the oracle recomputes volumes,
    // the shared quality formula (TextOps.qualitySql — the same text t02
    // and e01 gate), and the exact-dup rate from first principles.
    Q("e06_corpus_datasheet",
      (s, dir) => corpusDatasheet(Tables.load(s, dir, "documents"))
        .orderBy(col("lang")),
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |        ${TextFns.normalizeSql("text")} AS n,
              |        ${TextFns.tokensSql("text")} AS t FROM documents),
              |b AS (SELECT doc_id, lang,
              |        CAST(len(t) AS BIGINT) AS n_tokens,
              |        CAST(round((${TextOps.qualitySql}) * 100) AS BIGINT) AS q_cp,
              |        md5(n) AS fp FROM d),
              |k AS (SELECT fp, min(doc_id) AS keeper FROM b GROUP BY fp),
              |j AS (SELECT b.*, CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END
              |        AS is_dup FROM b JOIN k USING (fp))
              |SELECT lang,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              |  CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens,
              |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
              |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
              |  CAST(sum(q_cp) // count(*) AS BIGINT) AS mean_quality_cp,
              |  CAST(sum(is_dup) AS BIGINT) AS dup_docs,
              |  CAST(10000 * sum(is_dup) // count(*) AS BIGINT) AS dup_rate_bp
              |FROM j GROUP BY lang
              |ORDER BY lang""".stripMargin)),

    // ---- e05: corpus snapshot diff --------------------------------------
    // Old = docs with doc_id % 7 != 0; new = docs with doc_id % 5 != 0,
    // texts of doc_id % 11 == 0 edited — all four statuses exercised on
    // the fixture. Oracle = the same fingerprint full join in DuckDB.
    Q("e05_corpus_diff", { (s, dir) =>
        val docs = Tables.load(s, dir, "documents")
        val oldV = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        val newV = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(11)) === 0,
              concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        corpusDiff(oldV, newV).orderBy(col("doc_id"))
      },
      Some(s"""WITH o AS (SELECT doc_id,
              |        md5(${TextFns.normalizeSql("text")}) AS old_fp
              |        FROM documents WHERE doc_id % 7 <> 0),
              |nw AS (SELECT doc_id,
              |        md5(${TextFns.normalizeSql(
                "CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END")}) AS new_fp
              |        FROM documents WHERE doc_id % 5 <> 0)
              |SELECT doc_id, old_fp, new_fp,
              |  CASE WHEN old_fp IS NULL THEN 'added'
              |       WHEN new_fp IS NULL THEN 'removed'
              |       WHEN old_fp = new_fp THEN 'unchanged'
              |       ELSE 'changed' END AS status
              |FROM o FULL JOIN nw USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // ---- e01: the composed corpus build --------------------------------
    // Output = t10's per-document packing layout, but over only the
    // documents that survive quality + decontamination + dedup. The
    // oracle chains the four stages' SQL fragments over the same data.
    Q("e01_corpus_build",
      (s, dir) => corpusBuild(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $normSql AS n, $toksSql AS t FROM documents),
              |q AS (SELECT doc_id, n, t FROM d
              |      WHERE doc_id >= 20 AND ${TextOps.qualitySql} >= 0.7),
              |ev AS (SELECT DISTINCT s FROM (
              |        SELECT unnest(list_distinct(list_transform(range(1, len(t) - 3),
              |                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS s
              |        FROM d WHERE doc_id < 20)),
              |qsh AS (SELECT doc_id,
              |         unnest(list_distinct(list_transform(range(1, len(t) - 3),
              |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS s
              |        FROM q),
              |cont AS (SELECT DISTINCT doc_id FROM qsh JOIN ev USING (s)),
              |clean AS (SELECT doc_id, n, t FROM q
              |          WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
              |fp AS (SELECT doc_id, t, md5(n) AS fp FROM clean),
              |keep AS (SELECT doc_id, t FROM (
              |          SELECT doc_id, t, min(doc_id) OVER (PARTITION BY fp) AS k
              |          FROM fp)
              |         WHERE doc_id = k),
              |pk AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
              |        ${PortableHash.baseHashSql("doc_id::VARCHAR")} % 8 AS shard
              |       FROM keep),
              |c AS (SELECT doc_id, shard, n_tokens,
              |        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              |             - n_tokens AS BIGINT) AS pre
              |      FROM pk)
              |SELECT doc_id, shard, n_tokens,
              |  CAST(pre // 512 AS BIGINT) AS seq_id,
              |  CAST(pre % 512 AS BIGINT) AS seq_offset
              |FROM c
              |ORDER BY doc_id""".stripMargin)),

    // ---- e03: filter-ablation admission diff ---------------------------
    // The oracle replays BOTH config chains from one shared base CTE
    // (the same quality/fingerprint/contamination fragments e01 gates)
    // and joins the two statuses — one hash certifies both chains and
    // the per-doc diff between them.
    Q("e03_admission_diff",
      (s, dir) => admissionDiff(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some {
        val sh = """unnest(list_distinct(list_transform(range(1, len(t) - 3),
                   |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS s""".stripMargin
        def arm(q: Double, tag: String) =
          s"""k$tag AS (SELECT fp, min(doc_id) AS keep_id FROM base
             |      WHERE q >= $q AND cd = 0 GROUP BY fp),
             |s$tag AS (SELECT b.doc_id,
             |      CASE WHEN b.q < $q THEN 'quality'
             |           WHEN b.cd = 1 THEN 'contaminated'
             |           WHEN b.doc_id = k$tag.keep_id THEN 'admitted'
             |           ELSE 'duplicate' END AS status_$tag
             |  FROM base b LEFT JOIN k$tag USING (fp))""".stripMargin
        s"""WITH d AS (SELECT doc_id, $normSql AS n, $toksSql AS t FROM documents),
           |c AS (SELECT doc_id, n, t, ${TextOps.qualitySql} AS q FROM d
           |      WHERE doc_id >= 20),
           |ev AS (SELECT DISTINCT s FROM (
           |        SELECT $sh
           |        FROM d WHERE doc_id < 20)),
           |csh AS (SELECT doc_id, $sh
           |        FROM c),
           |cont AS (SELECT DISTINCT doc_id FROM csh JOIN ev USING (s)),
           |base AS (SELECT doc_id, q, md5(n) AS fp,
           |      CASE WHEN doc_id IN (SELECT doc_id FROM cont) THEN 1 ELSE 0 END AS cd
           |    FROM c),
           |${arm(0.7, "a")},
           |${arm(0.4, "b")}
           |SELECT sa.doc_id, status_a, status_b,
           |  CASE WHEN status_a <> status_b THEN 1 ELSE 0 END AS changed
           |FROM sa JOIN sb USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- e04: deterministic global shuffle → balanced shards -----------
    // The oracle replays the identical keyed-hash permutation with a
    // plain window row_number — the Spark side must reach the same
    // global ranks through the two-pass distributed form, so the gate
    // certifies the scalable machinery against the obvious spec.
    Q("e04_shuffle_shard",
      (s, dir) => shuffleShards(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""WITH b AS (SELECT doc_id,
              |        CAST(len($toksSql) AS BIGINT) AS n_tokens,
              |        ${PortableHash.baseHashSql("'r0|' || doc_id::VARCHAR")} AS h
              |      FROM documents),
              |o AS (SELECT doc_id, n_tokens,
              |        row_number() OVER (ORDER BY h, doc_id) - 1 AS rk
              |      FROM b)
              |SELECT doc_id, CAST(rk % 16 AS INT) AS shard,
              |  CAST(rk // 16 AS BIGINT) AS shard_pos, n_tokens
              |FROM o ORDER BY doc_id""".stripMargin)),

    // ---- e02: day-2 incremental maintenance, certified -----------------
    // The oracle recomputes the two countable metrics from scratch (full
    // LSH pair set quadrant-filtered, batch fingerprints vs old corpus)
    // and asserts the three fold-mismatch counts as literal 0 — zeros the
    // Spark side must EARN by actually folding old⊕new sketches and
    // comparing to the whole-corpus build.
    // ---- e07: pack by the TRAINED tokenizer's counts --------------------
    // t10's packing layout budgeted by t19's trained-BPE token counts
    // instead of the whitespace proxy — how production actually sizes
    // sequences (the proxy misprices exactly the degenerate documents
    // quality filtering flags, so whitespace-budgeted packing under- or
    // over-fills real model contexts). Composition of library operators
    // unmodified: bpeEncodeWith → packSequencesBy. One hash certifies
    // training, encoding, AND the resulting layout.
    // r11 verdict #5: encodes against the SHARED trained-vocab artifact
    // (one training run per process across t18/t19/e07); the oracle still
    // replays training from source, so the hash certifies the loaded path.
    Q("e07_bpe_packing",
      (s, dir) => TextOps.packSequencesBy(
          TextOps.bpeEncodeWith(Tables.load(s, dir, "documents"),
              TextOps.bpeLoadVocab(s,
                TextOps.ensureTrainedArtifact(s, dir, merges = 8)))
            .select(col("doc_id"), col("bpe_tokens").as("n_tokens")),
          budgetTokens = 512, shards = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH ${TextOps.bpeDocCountsSql(8)},
              |t AS (SELECT d.doc_id,
              |    CAST(coalesce(bpe_tokens, 0) AS BIGINT) AS n_tokens,
              |    ${PortableHash.baseHashSql("d.doc_id::VARCHAR")} % 8 AS shard
              |  FROM documents d LEFT JOIN agg USING (doc_id)),
              |c AS (SELECT doc_id, shard, n_tokens,
              |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              |         - n_tokens AS BIGINT) AS pre
              |  FROM t)
              |SELECT doc_id, shard, n_tokens,
              |  CAST(pre // 512 AS BIGINT) AS seq_id,
              |  CAST(pre % 512 AS BIGINT) AS seq_offset
              |FROM c
              |ORDER BY doc_id""".stripMargin)),

    Q("e02_day_two",
      (s, dir) => dayTwoCertification(Tables.load(s, dir, "documents")),
      Some {
        val bands = 8; val rows = PortableHash.K / bands
        val bandSelects = (0 until bands)
          .map(b => s"SELECT doc_id, $b AS band, ${Dedup.bandKeySql(b, rows)} AS bkey FROM sig")
          .mkString("\n       UNION ALL ")
        s"""WITH ${Dedup.shCte()},
           |${Dedup.sigCte},
           |bands AS ($bandSelects),
           |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |          FROM bands a JOIN bands b
           |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
           |SELECT 'batch_fp_already_in_corpus' AS metric,
           |  CAST(count(*) AS BIGINT) AS value
           |FROM documents
           |WHERE doc_id % 10 = 0 AND md5($normSql) IN
           |  (SELECT md5($normSql) FROM documents WHERE doc_id % 10 <> 0)
           |UNION ALL SELECT 'cms_fold_cell_mismatch', 0
           |UNION ALL SELECT 'hdr_fold_bucket_mismatch', 0
           |UNION ALL SELECT 'hll_fold_register_mismatch', 0
           |UNION ALL SELECT 'new_near_dup_pairs',
           |  (SELECT CAST(count(*) AS BIGINT) FROM pairs
           |   WHERE d1 % 10 = 0 OR d2 % 10 = 0)
           |ORDER BY metric""".stripMargin
      }),
  )
}
