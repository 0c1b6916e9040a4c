package graft.operators

import graft.{Q, Tables}
import graft.functions.{PortableHash, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k via a broadcast join of the
  *     query set against the corpus — the correctness baseline. At 100 TB
  *     the corpus side stays partitioned and scanned once; only the
  *     (small) query set is broadcast, so there is no shuffle at all.
  *   - [[lshTopK]]: random-hyperplane LSH — corpus and queries are
  *     bucketed by sign-pattern, the join is equi on bucket, and only
  *     in-bucket candidates pay the exact cosine. The scale path: bucket
  *     count grows 2^planes, the join stays equi-keyed (AQE-friendly),
  *     and recall trades off against planes.
  */
object Similarity {

  /** Sign-pattern bucket id from `planes` deterministic hyperplanes — a
    * native codegen'd expression ([[graft.plans.LshSignature]]): one
    * reference-object plane matrix and a primitive loop, not planes×dim
    * Catalyst nodes (the Column-tree form at 64 planes produced 8 MiB
    * task binaries and a driver OOM). Callers must have registered
    * [[graft.plans.GraftFunctions]]. */
  def lshBucket(e: Column, dim: Int, planes: Int): Column =
    call_function("graft_lsh_sig", e, lit(planes), lit(dim))

  private def planeComponent(k: Int, i: Int): Double =
    graft.plans.LshSignature.planeComponent(k, i)

  /** DuckDB SQL for the same bucket: each plane component is n/1000 with
    * |n| ≤ 1000, an exact decimal whose parsed double equals Scala's
    * division bit-for-bit, and `list_inner_product` folds left-to-right
    * like the codegen'd loop — so the sign tests (and hence buckets)
    * agree across engines. (A spelled-out `e[1]*c1 + e[2]*c2 + …` chain
    * gives the same doubles but blows DuckDB's 128-deep binder recursion
    * at the 64-plane signature.) */
  private[graft] def lshBucketSql(arr: String, dim: Int, planes: Int): String =
    (0 until planes).map { k =>
      val lst = (0 until dim).map(i => planeComponent(k, i)).mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product($arr, $lst) > 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString("\n       + ")

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ranked on cosine rounded to 6dp with vec_id
    * tiebreak (deterministic + engine-portable). */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val corpus = emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))
    val qs = queries.select(col("vec_id").as("qid"), VectorFns.toDouble(col("embedding")).as("qe"))
      .filter(VectorFns.nonZero(col("qe")))
      .withColumn("qnrm", VectorFns.norm(col("qe")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(qs), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Multi-table (OR-amplified) LSH ANN: `tables` independent sign-LSH
    * tables of `planes` bits each, sliced from one `planes·tables`-bit
    * signature computed in a single pass. A corpus vector is a candidate
    * for a query iff some table buckets them together, so recall is
    * amplified to 1-(1-p^planes)^tables — the standard knob for hitting a
    * recall target that a single table can't reach on weakly-clustered
    * data (SimilaritySpec measures the curve; ≥0.8 at the registered
    * setting vs 0.12 single-table).
    *
    * Scale shape: corpus explodes to `tables` (table, bucket) rows — a
    * narrow map pipelined into the broadcast join, same banding pattern
    * as [[Dedup.minhashLshPairs]] — and candidates dedupe on
    * (qid, vec_id) with one aggregation; only in-bucket candidates pay
    * the exact cosine. */
  def lshTopKMulti(emb: DataFrame, queries: DataFrame, k: Int, dim: Int = 64,
      planes: Int = 4, tables: Int = 16): DataFrame = {
    require(planes * tables <= 64, "signature must fit one long")
    val mask = (1L << planes) - 1
    def bandRows(sig: Column): Column = explode(array((0 until tables).map { t =>
      struct(lit(t).as("t"), shiftright(sig, t * planes).bitwiseAND(lit(mask)).as("b"))
    }: _*))
    val corpus = emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))
      .withColumn("tb", bandRows(lshBucket(col("e"), dim, planes * tables)))
      .select(col("vec_id"), col("e"), col("nrm"), col("tb.t").as("t"), col("tb.b").as("b"))
    val qs = queries.select(col("vec_id").as("qid"), VectorFns.toDouble(col("embedding")).as("qe"))
      .filter(VectorFns.nonZero(col("qe")))
      .withColumn("qnrm", VectorFns.norm(col("qe")))
      .withColumn("tb", bandRows(lshBucket(col("qe"), dim, planes * tables)))
      .select(col("qid"), col("qe"), col("qnrm"), col("tb.t").as("t"), col("tb.b").as("b"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(qs), Seq("t", "b"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 6).as("cos"))
      .groupBy(col("qid"), col("vec_id")).agg(max(col("cos")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed cosine top-k: exact cosine only within the query's
    * bucket. Returns the same shape as [[bruteForceTopK]]; recall < 1. */
  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int, dim: Int = 64,
      planes: Int = 8): DataFrame = {
    val corpus = emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))
      .withColumn("bucket", lshBucket(col("e"), dim, planes))
    val qs = queries.select(col("vec_id").as("qid"), VectorFns.toDouble(col("embedding")).as("qe"))
      .filter(VectorFns.nonZero(col("qe")))
      .withColumn("qnrm", VectorFns.norm(col("qe")))
      .withColumn("bucket", lshBucket(col("qe"), dim, planes))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(qs), Seq("bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style ANN: a coarse quantizer splits the corpus into `nlist`
    * inverted lists; queries probe only the `nprobe` nearest lists and
    * pay exact cosine there — the other standard scale path next to LSH
    * (FAISS's IVF-Flat shape), better when the corpus is clustered (LSH
    * hyperplanes are data-blind; centroids follow the data).
    *
    * Centroids here are the embeddings of the first `nlist` vec_ids — a
    * deterministic stand-in for a trained k-means (iterative FP k-means
    * is not engine-portable); the partitioning math, the inverted-list
    * build, and the probe shape are exactly what a trained quantizer
    * uses, so the plan is the one that scales.
    *
    * Scale shape: assignment is corpus × broadcast(centroids) scored in
    * one pass, reduced by a map-side-combinable max(struct) aggregate —
    * the corpus is never windowed or re-shuffled beyond one equi-join to
    * attach list ids. Probing broadcasts (query, list) pairs; only
    * in-list candidates pay the exact cosine. Assignment ties break to
    * the smallest centroid id on the 6dp-rounded cosine (engine-portable,
    * like every ranking here). */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int, nlist: Int = 8,
      nprobe: Int = 2): DataFrame = {
    val (corpus, cents, _, assigned) = ivfParts(emb, nlist)
    val index = corpus.join(assigned, "vec_id")
    // nprobe nearest lists per query (query set is small: window is fine)
    val qs = queries.select(col("vec_id").as("qid"), VectorFns.toDouble(col("embedding")).as("qe"))
      .filter(VectorFns.nonZero(col("qe")))
      .withColumn("qnrm", VectorFns.norm(col("qe")))
    val wp = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))
    val qprobe = qs.join(broadcast(cents))
      .select(col("qid"), col("cid"),
        round(VectorFns.dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 6)
          .as("ccos"))
      .withColumn("pr", row_number().over(wp)).filter(col("pr") <= nprobe)
      .select(col("qid"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    index.join(broadcast(qprobe.join(qs, "qid")), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The deterministic coarse quantizer SHARED by [[ivfTopK]] and
    * [[knnJoin]] — one definition of the engine-portable assignment
    * convention (first-`nlist` centroids, 6dp-rounded cosine, min-cid
    * tiebreak via the map-side-combinable max(struct) argmax), so the
    * two operators' oracles can never drift apart. Returns
    * (corpus, broadcast-ready centroids, per-(vector, cell) scores,
    * home-cell assignment). */
  private[operators] def ivfParts(emb: DataFrame, nlist: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val corpus = prepCorpus(emb)
    val cents = prepCentroids(emb, nlist)
    val scores = cellScores(corpus, cents)
    (corpus, cents, scores, argmaxCell(scores))
  }

  /** (vec_id, e, nrm) with zero vectors dropped — the corpus-side shape
    * every IVF stage shares. */
  private[graft] def prepCorpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))

  /** The deterministic first-`nlist` coarse quantizer — engine-portable
    * (the oracle recomputes it as `vec_id < nlist`). */
  private[graft] def prepCentroids(src: DataFrame, nlist: Int): DataFrame =
    src.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), VectorFns.toDouble(col("embedding")).as("ce"))
      .filter(VectorFns.nonZero(col("ce")))
      .withColumn("cnrm", VectorFns.norm(col("ce")))

  /** NARROW (vec_id, cid, ccos) rows — the probe window sorts this
    * stream, and carrying vectors through that sort tripled knnJoin's
    * wall at √n nlist (see BASELINE_SELF). */
  private[operators] def cellScores(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.join(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(VectorFns.dot(col("e"), col("ce")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))

  /** Nearest list per corpus vector: lexicographic max of (cos, -cid) =
    * max cosine with min-cid tiebreak, as ONE map-side-combinable agg. */
  private[operators] def argmaxCell(scores: DataFrame): DataFrame =
    scores
      .groupBy(col("vec_id"))
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("best"))
      .select(col("vec_id"), (-col("best.ncid")).as("cid"))

  /** Home-cell assignment IN-ROW — (vec_id, e, nrm, cid) with zero
    * exchanges (r16 optimization, guide §2.4 "remove shuffles outright"):
    * scoring n·nlist rows, reducing them through a hash-aggregate
    * exchange and re-attaching the (vec_id, cid) pairs to the corpus
    * through a second join re-shuffles the whole corpus (the 64-dim
    * vectors, not just keys) by vec_id solely to pick up one small
    * column. The centroid table is broadcast-sized BY CONTRACT
    * ([[MaxNlist]]), so the argmax instead FOLDS over the broadcast
    * centroid list per corpus row: same 6dp-rounded cosine, same
    * max(cos, -cid) lexicographic tiebreak (struct comparison == the
    * [[argmaxCell]] aggregate's struct ordering), one narrow codegen
    * pass, no per-row array materialization (`aggregate`, not
    * `transform`+max). An empty centroid table assigns nothing — the
    * inner-join semantics the degenerate-lifecycle specs pin — via the
    * size filter. Every other corpus column rides through untouched
    * (retrain's corpus carries batch lineage). */
  private[graft] def assignCells(corpus: DataFrame,
      cents: DataFrame): DataFrame = {
    val centsArr = broadcast(cents.agg(
      collect_list(struct(col("cid"), col("ce"), col("cnrm"))).as("__cents")))
    val init = struct(lit(-2.0).as("ccos"), lit(Long.MinValue).as("ncid"))
    corpus.crossJoin(centsArr)
      .filter(size(col("__cents")) >= 1)
      .withColumn("__best", aggregate(col("__cents"), init, (acc, c) => {
        val cand = struct(
          round(VectorFns.dot(col("e"), c.getField("ce")) /
            (col("nrm") * c.getField("cnrm")), 6).as("ccos"),
          (-c.getField("cid")).as("ncid"))
        when(cand > acc, cand).otherwise(acc)
      }))
      .withColumn("cid", -col("__best").getField("ncid"))
      .drop("__cents", "__best")
  }

  /** Cap on `nlist` for the persisted IVF artifact ([[VersionedIvf.build]]).
    * [[assignCells]] collects the WHOLE centroid table into one
    * broadcast row, and a row is one int-addressed byte region: Spark
    * refuses any row or array past ~2 GiB (`Int.MaxValue` bytes). One
    * centroid costs its 8·dim-byte vector plus ~48 bytes of struct and
    * array headers, so at dim 4096 (above the common 384–3072 text
    * embedding widths) 2^15 centroids are 32768 × 32816 B ≈ 1.07 GB —
    * half the row limit, with room for the collect's buffer copy. At the
    * nlist ≈ √n sizing rule that still serves a 10^9-vector corpus.
    * [[VersionedIvf.retrain]] needs no check of its own: its centroids
    * are the live cells, at most the build's nlist. */
  private[graft] val MaxNlist = 1 << 15

  /** Declared layout of the IVF artifact's centroids and postings
    * ([[VersionedIvf]]) — the index is a CONTRACT, not something a
    * reader infers. Reading with these schemas (instead of inference)
    * is what keeps a probe alive on the degenerate shape: an empty
    * corpus makes `partitionBy` write a fileless directory, and schema
    * inference over zero files throws `UNABLE_TO_INFER_SCHEMA` (the
    * round-11 EmptyInputSpec red). */
  private[operators] val centroidsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ce",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("cnrm", org.apache.spark.sql.types.DoubleType)))
  private[operators] val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("e",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("nrm", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.StringType)))

  /** Query-side probe protocol of [[VersionedIvf.probe]]: the
    * (query, probed-cell) pairs ranked with s05's exact conventions. */
  private[operators] def queryProbe(cents: DataFrame, queries: DataFrame,
      nprobe: Int): (DataFrame, DataFrame) = {
    val qs = queries.select(col("vec_id").as("qid"),
        VectorFns.toDouble(col("embedding")).as("qe"))
      .filter(VectorFns.nonZero(col("qe")))
      .withColumn("qnrm", VectorFns.norm(col("qe")))
    val wp = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))
    val qprobe = qs.join(broadcast(cents))
      .select(col("qid"), col("cid"),
        round(VectorFns.dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 6)
          .as("ccos"))
      .withColumn("pr", row_number().over(wp)).filter(col("pr") <= nprobe)
      .select(col("qid"), col("cid"))
    (qs, qprobe)
  }

  /** Candidate ranking of [[VersionedIvf.probe]] — `postings` arrives
    * already restricted to the probed cells (the manifest's explicit
    * leaf selection). One definition of the scoring/tie-break protocol. */
  private[operators] def rankProbe(postings: DataFrame, qs: DataFrame,
      qprobe: DataFrame, k: Int,
      postingsFilter: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    postings
      .filter(postingsFilter)
      .join(broadcast(qprobe.join(qs, "qid")), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Full k-NN SELF-join via IVF cells: every corpus vector gets its k
    * approximate nearest neighbors — the building block a SemDeDup /
    * corpus-clustering pipeline runs over the WHOLE embedding table, as
    * opposed to [[ivfTopK]]'s small-query-set retrieval.
    *
    * Shape: one centroid broadcast scores both roles of every vector —
    * its home cell (index side, min-cid tiebreak like [[ivfTopK]]) and
    * its `nprobe` nearest cells (probe side). Candidates are the equi-join
    * probe×index on cell id, so no pair outside a shared probed cell is
    * ever formed, and the per-vector ranking window partitions on qid —
    * the table's own key, never a fat partition.
    *
    * Scale contract: work is n·nlist scoring rows plus n·nprobe·(n/nlist)
    * candidate pairs, so `nlist` must grow with the corpus — nlist ≈ √n
    * balances the two terms at n^1.5 (the standard IVF sizing), while at
    * FIXED nlist a 100× corpus is 10⁴× the candidates. The registered
    * fixture runs nlist=8 over 5k vectors; BASELINE_SELF "s08 k-NN
    * self-join sizing slopes" records both (at 80k×64-dim, √n sizing beat
    * fixed nlist 15.8 s vs 20.3 s with 4× the 20k corpus's work — the
    * measured crossover the sizing rule predicts). Recall is certified against
    * [[bruteForceTopK]] in SimilaritySpec on a planted-duplicate corpus;
    * the oracle certifies the banded computation itself.
    *
    * NOTE (r7 ADVICE): unless `knownBytes` is supplied, building the plan
    * runs an EAGER one-row aggregate over `emb` to size the join strategy
    * from true cardinality, so construction scans the corpus once and the
    * operator cannot compose over a streaming / not-yet-materialized
    * input. Callers that already know the vector volume (an index
    * build that just wrote it, or a streaming wrapper) pass
    * `knownBytes = Some(n)` and construction stays lazy. */
  def knnJoin(emb: DataFrame, k: Int, nlist: Int = 8, nprobe: Int = 2,
      knownBytes: Option[Long] = None): DataFrame = {
    // Join-strategy decision from TRUE corpus volume, not AQE's estimate:
    // every join below has the corpus itself on both sides, and at ~50 MB
    // of vectors AQE's compressed estimates flap across the broadcast
    // threshold run to run (the d13 disease — measured here as 2× wall
    // swings between identical smoke runs). Broadcast only when the real
    // vector volume fits; otherwise pin shuffle-hash, the only strategy
    // that survives a corpus 100× this size.
    val corpusBytes = knownBytes.getOrElse(emb
      .agg(coalesce(sum(size(col("embedding"))).cast("long"), lit(0L)),
        count(lit(1)))
      .head() match { case r => r.getLong(0) * 8L + r.getLong(1) * 64L })
    val big = corpusBytes >= (64L << 20)
    def sized(df: DataFrame): DataFrame = if (big) df.hint("shuffle_hash") else df
    // one scored stream feeds BOTH the home-cell assignment and the probe
    // lists: n·nlist narrow rows, centroids broadcast, corpus scanned
    // once — the shared ivfParts convention. Vectors re-attach by vec_id
    // (the table's own key) after the probe window.
    val (corpus, _, scores, assigned) = ivfParts(emb, nlist)
    val index = corpus.join(sized(assigned), "vec_id")
    val wp = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    val probes = scores
      .withColumn("pr", row_number().over(wp)).filter(col("pr") <= nprobe)
      .select(col("vec_id"), col("cid"))
      .join(sized(corpus), "vec_id")
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"),
        col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    probes.join(sized(index), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 6)
          .as("cos"))
      // no pair-level distinct needed, by construction: a vector sits in
      // exactly ONE home cell and a query's probed cells are distinct, so
      // (q, x) forms at most once — unlike multi-table LSH, where a pair
      // recurs per shared table. Skipping it saves a full shuffle+dedup
      // of the candidate stream, the operator's widest intermediate.
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Two-stage retrieval: int8 stage-1 scan + exact float re-rank — the
    * memory-bandwidth design for a RAM-resident 100 TB index (SCANN /
    * IVF-PQ shape): stage 1 scans only the 4×-smaller [[quantizeInt8]]
    * vectors (plus two per-vector scalars, scale and norm, stored with
    * the index) and keeps `k·candMult` candidates per query; stage 2
    * re-fetches full floats BY KEY for candidates only and re-ranks with
    * exact cosine. The candidate fetch is an equi-join on vec_id — at
    * scale the float table never scans.
    *
    * Portability: the stage-1 integer dot is EXACT in any engine
    * (|q|≤127, dim 64 → |dot| < 2^21); the scale/norm adjustment is one
    * shared-order double expression rounded to 6dp, the same convention
    * as every ranking here. */
  def quantizedRerank(emb: DataFrame, queries: DataFrame, k: Int,
      candMult: Int = 4): DataFrame = {
    val floats = emb.select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .filter(VectorFns.nonZero(col("e")))
      .withColumn("nrm", VectorFns.norm(col("e")))
    val qt = quantizeInt8(emb)
    val index = qt.join(floats.select(col("vec_id"), col("nrm")), "vec_id")
    val qids = queries.select(col("vec_id").as("qid"))
    val qv = qt.join(floats, "vec_id")
      .join(broadcast(qids), col("vec_id") === col("qid"), "left_semi")
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("scale").as("qscale"), col("nrm").as("qnrm"), col("e").as("qe"))
    val intdot = aggregate(
      zip_with(col("qq"), col("q"), (x, y) => (x * y).cast("long")),
      lit(0L), (a, x) => a + x)
    val w1 = Window.partitionBy(col("qid")).orderBy(col("s1").desc, col("vec_id"))
    val cands = index
      .join(broadcast(qv.select(col("qid"), col("qq"), col("qscale"), col("qnrm"))),
        col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(intdot * col("qscale") * col("scale") / (col("qnrm") * col("nrm")), 6)
          .as("s1"))
      .withColumn("s1rank", row_number().over(w1))
      .filter(col("s1rank") <= k * candMult)
      .select(col("qid"), col("vec_id"))
    val w2 = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cands.join(floats, "vec_id")
      .join(broadcast(qv.select(col("qid"), col("qe"),
        col("qnrm").as("qn"))), "qid")
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qn") * col("nrm")), 6).as("cos"))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
  }

  /** Per-vector max-abs int8 quantization: q_i = floor(e_i·127/‖e‖∞),
    * plus the scale needed to dequantize. The 4× size cut is the standard
    * first step before shipping embeddings to an ANN index at corpus
    * scale; floor over identically-ordered double ops keeps every
    * quantized integer engine-portable. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val e = VectorFns.toDouble(col("embedding"))
    emb.select(col("vec_id"), e.as("e"))
      .withColumn("mx", greatest(array_max(transform(col("e"), x => abs(x))), lit(1e-12)))
      .select(col("vec_id"), round(col("mx"), 6).as("scale"),
        transform(col("e"), x => floor(x * lit(127.0) / col("mx")).cast("int")).as("q"))
  }

  /** Product-quantization ADC top-k — the IVF-PQ memory layout's scoring
    * half (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI'11): the embedding is split into `m` subvectors, each
    * encoded as the id of its nearest sub-codebook centroid, and a query
    * scores a corpus vector by summing per-subspace LOOKUPS of
    * query·centroid dots instead of touching the vector — at 100 TB the
    * float corpus is replaced by m small codes per vector (here 8×4 bits
    * vs 64 floats, a 64× cut) and scoring never reads it.
    *
    * Deterministic stand-ins mirroring [[ivfTopK]]: codebook c_{j,·} =
    * subvectors of the first `ksub` corpus vectors (a trained k-means in
    * a real deployment); encode = argmin 6dp-rounded L2² with min-code
    * tiebreak. ADC terms are exact integer micro-units
    * (`round(dot·1e6)` per lookup, summed as BIGINT) so the score is
    * order-independent and engine-portable.
    *
    * Shapes: encode = corpus-subvector stream × broadcast codebook,
    * map-side-combined argmin; scoring = code stream × broadcast LUT
    * (|queries|·m·ksub rows), map-side-combined sum per (query, vector).
    * No all-pairs float join anywhere. */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      ksub: Int = 16, dim: Int = 64): DataFrame = {
    val dsub = dim / m
    require(m * dsub == dim, s"dim $dim must split into $m subvectors")
    def subs(df: DataFrame) = df
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("e"))
      .select(col("vec_id"), col("j"),
        expr(s"slice(e, j * $dsub + 1, $dsub)").as("sub"))
    val cents = subs(emb.filter(col("vec_id") < ksub))
      .select(col("j"), col("vec_id").cast("int").as("code"), col("sub").as("csub"))
    val d2 = subs(emb).join(broadcast(cents), "j")
      .select(col("vec_id"), col("j"), col("code"),
        round(VectorFns.dot(col("sub"), col("sub"))
          - lit(2) * VectorFns.dot(col("sub"), col("csub"))
          + VectorFns.dot(col("csub"), col("csub")), 6).as("d2"))
    val codes = d2.groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.code").as("code"))
    val lut = subs(queries).join(broadcast(cents), "j")
      .select(col("vec_id").as("qid"), col("j"), col("code"),
        round(VectorFns.dot(col("sub"), col("csub")) * 1e6).cast("long").as("dm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_micro").desc, col("vec_id"))
    codes.join(broadcast(lut), Seq("j", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dm")).as("adc_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ end-to-end — the standard production ANN index (Jégou et
    * al. TPAMI'11 "IVFADC"), composed from the three certified stages
    * that previously existed only separately: [[ivfTopK]]'s coarse
    * quantizer picks `nprobe` cells per query, [[pqTopK]]'s ADC scores
    * ONLY the vectors assigned to those cells from their m-byte codes,
    * and the top `k·candMult` ADC candidates are re-ranked with the
    * exact float cosine (the [[quantizedRerank]] pattern).
    *
    * Scale shape — why this is THE 100 TB retrieval plan: the float
    * corpus is scanned once at index-build time (assignment + codes);
    * at query time the touched bytes are nprobe/nlist of the CODES
    * table (64× smaller than the floats here: 8×4-bit codes vs 64
    * floats) plus a by-key fetch of k·candMult float vectors per query
    * for the re-rank. Centroids, probe lists, and the query LUT
    * broadcast; nothing wide shuffles. Every stage keeps the engine's
    * determinism conventions (6dp rounding, integer micro-unit ADC
    * sums, min-id ties), so the full composition is hash-reproducible
    * in the DuckDB oracle (s09). Recall at the 500k×64-dim sweep is
    * recorded in BASELINE_SELF "ANN recall/cost curve". */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2, m: Int = 8, ksub: Int = 16,
      dim: Int = 64, candMult: Int = 4): DataFrame = {
    val dsub = dim / m
    require(m * dsub == dim, s"dim $dim must split into $m subvectors")
    // ---- coarse stage: the shared deterministic quantizer --------------
    val (corpus, cents, _, assigned) = ivfParts(emb, nlist)
    val qs = queries.select(col("vec_id").as("qid"),
        VectorFns.toDouble(col("embedding")).as("qe"))
      .filter(VectorFns.nonZero(col("qe")))
      .withColumn("qnrm", VectorFns.norm(col("qe")))
    val wp = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))
    val qprobe = qs.join(broadcast(cents))
      .select(col("qid"), col("cid"),
        round(VectorFns.dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm")), 6)
          .as("ccos"))
      .withColumn("pr", row_number().over(wp)).filter(col("pr") <= nprobe)
      .select(col("qid"), col("cid"))
    // ---- PQ codes + query LUT (pqTopK's exact conventions) -------------
    def subs(df: DataFrame) = df
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("e"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("e"))
      .select(col("vec_id"), col("j"),
        expr(s"slice(e, j * $dsub + 1, $dsub)").as("sub"))
    val pcents = subs(emb.filter(col("vec_id") < ksub))
      .select(col("j"), col("vec_id").cast("int").as("code"), col("sub").as("csub"))
    val d2 = subs(emb).join(broadcast(pcents), "j")
      .select(col("vec_id"), col("j"), col("code"),
        round(VectorFns.dot(col("sub"), col("sub"))
          - lit(2) * VectorFns.dot(col("sub"), col("csub"))
          + VectorFns.dot(col("csub"), col("csub")), 6).as("d2"))
    val codes = d2.groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.code").as("code"))
    val lut = subs(queries).join(broadcast(pcents), "j")
      .select(col("vec_id").as("qid"), col("j"), col("code"),
        round(VectorFns.dot(col("sub"), col("csub")) * 1e6).cast("long").as("dm"))
    // ---- ADC restricted to probed cells: (q, x) forms at most once -----
    // (one home cell per vector, distinct probed cells per query — the
    // s08 no-distinct argument)
    val cand = assigned.join(broadcast(qprobe), "cid")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"))
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc_micro").desc, col("vec_id"))
    val stage1 = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("qid", "j", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dm")).as("adc_micro"))
      .withColumn("r1", row_number().over(wAdc)).filter(col("r1") <= k * candMult)
      .select(col("qid"), col("vec_id"))
    // ---- exact re-rank: floats fetched BY KEY for candidates only ------
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    stage1.join(corpus, "vec_id")
      .join(broadcast(qs), "qid")
      .select(col("qid"), col("vec_id"),
        round(VectorFns.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 6)
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** s05's full-replay oracle — shared verbatim by s10 and (with the
    * centroid predicate restricted to the day-1 split) by s11: probing
    * the PERSISTED index must hash identically to the rebuild-and-probe
    * semantics this SQL defines. `centsWhere` picks the centroid rows —
    * s05/s10 train on the whole corpus (`vec_id < 8`), s11 freezes
    * day-1 centroids (`vec_id < 8 AND vec_id % 4 <> 3`) and assigns the
    * union against them, exactly what build(day1) + append(day2)
    * produces. */
  private def ivfOracleSql(centsWhere: String,
      candWhere: String = "TRUE"): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |cents AS (SELECT vec_id AS cid, e AS ce FROM e WHERE $centsWhere),
             |ascore AS (SELECT e.vec_id, cid,
             |    round(list_cosine_similarity(e.e, ce), 6) AS ccos
             |  FROM e CROSS JOIN cents),
             |abest AS (SELECT vec_id, max(ccos) AS best FROM ascore GROUP BY vec_id),
             |assign AS (SELECT a.vec_id, min(cid) AS cid
             |  FROM ascore a JOIN abest b ON a.vec_id = b.vec_id AND a.ccos = b.best
             |  GROUP BY a.vec_id),
             |qprobe AS (SELECT vec_id AS qid, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS pr
             |    FROM ascore WHERE vec_id < 5) WHERE pr <= 2),
             |scored AS (SELECT qp.qid, a.vec_id,
             |    round(list_cosine_similarity(qe.e, ce2.e), 6) AS cos
             |  FROM qprobe qp
             |  JOIN assign a ON a.cid = qp.cid
             |  JOIN e qe ON qe.vec_id = qp.qid
             |  JOIN e ce2 ON ce2.vec_id = a.vec_id
             |  WHERE qp.qid <> a.vec_id AND ($candWhere)),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT qid, vec_id, cos, rank
             |FROM ranked WHERE rank <= 10
             |ORDER BY qid, rank""".stripMargin

  private val ivfTopKOracleSql: String = ivfOracleSql("vec_id < 8")

  val queries: Seq[Q] = Seq(

    // ---- s01: exact cosine top-10 for query vectors 0..4 ---------------
    Q("s01_cosine_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id < 5),
             |scored AS (SELECT qid, vec_id,
             |    round(list_cosine_similarity(qe, e.e), 6) AS cos
             |  FROM e CROSS JOIN q
             |  WHERE qid <> vec_id),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT qid, vec_id, cos, rank
             |FROM ranked WHERE rank <= 10
             |ORDER BY qid, rank""".stripMargin)),

    // ---- s02: LSH-bucketed ANN (scale path) ----------------------------
    // Fully oracle-checked: the hyperplanes are engine-portable constants
    // (see lshBucketSql), so DuckDB recomputes the identical buckets and
    // the whole LSH output hash-matches — not just a recall bound.
    // SimilaritySpec separately measures recall@10 vs the exact top-k.
    Q("s02_lsh_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        lshTopK(emb, emb.filter(col("vec_id") < 50), k = 10, planes = 4)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
              |c AS (SELECT vec_id, e,
              |       ${lshBucketSql("e", 64, 4)} AS bucket FROM e),
              |q AS (SELECT vec_id AS qid, e AS qe, bucket FROM c WHERE vec_id < 50),
              |scored AS (SELECT qid, c.vec_id AS vec_id,
              |    round(list_cosine_similarity(qe, c.e), 6) AS cos
              |  FROM c JOIN q ON c.bucket = q.bucket
              |  WHERE qid <> c.vec_id),
              |ranked AS (SELECT qid, vec_id, cos,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
              |  FROM scored)
              |SELECT qid, vec_id, cos, rank
              |FROM ranked WHERE rank <= 10
              |ORDER BY qid, rank""".stripMargin)),

    // ---- s03: multi-table LSH ANN (recall-amplified scale path) --------
    // Oracle recomputes the identical 64-bit signature, slices the same
    // 16 four-bit tables, and matches candidates on any shared (table,
    // bucket) — full hash parity, like s02. Both engines use arithmetic
    // >> then mask, so the sign bit (plane 63) slices identically.
    Q("s03_lsh_multitable",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        lshTopKMulti(emb, emb.filter(col("vec_id") < 50), k = 10,
          planes = 4, tables = 16)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
              |c AS (SELECT vec_id, e,
              |       ${lshBucketSql("e", 64, 64)} AS sig FROM e),
              |q AS (SELECT vec_id AS qid, e AS qe, sig AS qsig FROM c WHERE vec_id < 50),
              |tt AS (SELECT unnest(range(0, 16)) AS t),
              |cb AS (SELECT vec_id, t, (sig >> (4 * t)::INT) & 15 AS b FROM c CROSS JOIN tt),
              |qb AS (SELECT qid, t, (qsig >> (4 * t)::INT) & 15 AS b FROM q CROSS JOIN tt),
              |cand AS (SELECT DISTINCT qid, vec_id
              |         FROM cb JOIN qb ON cb.t = qb.t AND cb.b = qb.b
              |         WHERE qid <> vec_id),
              |scored AS (SELECT cand.qid, cand.vec_id,
              |    round(list_cosine_similarity(q.qe, c.e), 6) AS cos
              |  FROM cand
              |  JOIN c ON c.vec_id = cand.vec_id
              |  JOIN q ON q.qid = cand.qid),
              |ranked AS (SELECT qid, vec_id, cos,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
              |  FROM scored)
              |SELECT qid, vec_id, cos, rank
              |FROM ranked WHERE rank <= 10
              |ORDER BY qid, rank""".stripMargin)),

    // ---- s05: IVF ANN (inverted-list scale path) -----------------------
    // Full hash parity like s02/s03: deterministic centroids + 6dp-rounded
    // cosines mean DuckDB rebuilds the identical inverted lists, probes
    // the identical nprobe lists, and ranks the identical candidates.
    Q("s05_ivf_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10, nlist = 8, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfTopKOracleSql)),

    // ---- s10: PERSISTED IVF index lifecycle -----------------------------
    // The d28 pattern for ANN: build the index artifact once (centroids +
    // cid-partitioned postings under this process's RunDirs, published as
    // a VersionedIvf snapshot), probe it with s05's exact protocol, and
    // certify probe-from-artifact against s05's own full-replay oracle —
    // one hash proves the artifact round trip loses nothing AND the
    // partitioned layout serves the identical ranking. The probe reads
    // only the manifest leaves of its nprobe cells (PlanSpec pins it),
    // not the corpus.
    Q("s10_ivf_index_lifecycle",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val root = graft.RunDirs.freshDir("s10").toString
        VersionedIvf.build(emb, root, nlist = 8)
        VersionedIvf.probe(s, root, emb.filter(col("vec_id") < 5), k = 10, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfTopKOracleSql)),

    // ---- s11: INCREMENTAL IVF index maintenance --------------------------
    // The day-2 story for s10 (r11 verdict's #1 missing piece): build the
    // index on day 1 (vec_id % 4 <> 3), APPEND day 2 against the FROZEN
    // day-1 centroids (one batch-sized score pass + a batch-sized segment
    // committed by manifest; the retry — running the append TWICE — is a
    // manifest-membership no-op), then probe the grown
    // artifact. The oracle replays rebuild-on-the-union with the same
    // frozen centroids — append == rebuild holds exactly because cell
    // assignment is a pure per-vector function of the frozen centroid
    // table, and one hash certifies assignment, append idempotence, the
    // artifact round trip, and the probe ranking together.
    Q("s11_ivf_incremental",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val day1 = emb.filter(col("vec_id") % 4 =!= 3)
        val day2 = emb.filter(col("vec_id") % 4 === 3)
        val root = graft.RunDirs.freshDir("s11").toString
        VersionedIvf.build(day1, root, nlist = 8)
        VersionedIvf.append(s, day2, root, "day2")
        VersionedIvf.append(s, day2, root, "day2") // retried — manifest no-op
        VersionedIvf.probe(s, root, emb.filter(col("vec_id") < 5), k = 10, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql("vec_id < 8 AND vec_id % 4 <> 3"))),

    // ---- s12: IVF index compaction ---------------------------------------
    // The maintenance pass s11's growth path accumulates toward: after a
    // build + append the postings carry one file per (cid, batch) leaf;
    // compaction rewrites the live version one-file-per-cell WITHOUT
    // losing the cid layout the probe's leaf selection keys on, and
    // publishes it as a swap. Probe-after-compact must equal
    // rebuild-and-probe — same oracle as s11, so one hash certifies the
    // compactor moved every row and changed none.
    Q("s12_ivf_compaction",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val day1 = emb.filter(col("vec_id") % 4 =!= 3)
        val day2 = emb.filter(col("vec_id") % 4 === 3)
        val root = graft.RunDirs.freshDir("s12").toString
        VersionedIvf.build(day1, root, nlist = 8)
        VersionedIvf.append(s, day2, root, "day2")
        VersionedIvf.compact(s, root)
        VersionedIvf.probe(s, root, emb.filter(col("vec_id") < 5),
            k = 10, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql("vec_id < 8 AND vec_id % 4 <> 3"))),

    // ---- st16: streaming IVF index maintenance (registered batch form) --
    // The production composition of s11 + foreachBatch: an embedding
    // stream maintains the persisted ANN index, one VersionedIvf.append
    // per micro-batch keyed by Spark's own batchId. foreachBatch's sink
    // contract is at-least-once — a failed trigger REPLAYS its batch
    // with the same id — and the VERSIONED artifact (r13 verdict #2: a
    // live writer must give concurrent probes snapshot isolation, which
    // an overwrite-in-place append cannot) makes that replay a
    // manifest-membership no-op: exactly-once that survives compaction,
    // plus CAS commits so the appender can race a maintenance writer.
    // This registered form splits day 2 into two content-derived
    // micro-batches (vec_id mod 8 ∈ {3, 7}), REPLAYS the second, and
    // probes the live snapshot; the oracle is s11's frozen-centroid
    // rebuild — one hash certifies chunked-append ∪ == one-shot append
    // == rebuild. StreamingSpec runs the real readStream → foreachBatch
    // form with a mid-stream retry and asserts the replay is a manifest
    // no-op (version count unchanged) and the artifact equals the
    // rebuild.
    Q("st16_stream_index_maintenance",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val root = graft.RunDirs.freshDir("st16").toString
        VersionedIvf.build(emb.filter(col("vec_id") % 4 =!= 3), root, nlist = 8)
        VersionedIvf.append(s, emb.filter(col("vec_id") % 8 === 3), root, "mb0")
        VersionedIvf.append(s, emb.filter(col("vec_id") % 8 === 7), root, "mb1")
        VersionedIvf.append(s, emb.filter(col("vec_id") % 8 === 7), root, "mb1") // replayed trigger — manifest no-op
        VersionedIvf.probe(s, root, emb.filter(col("vec_id") < 5), k = 10, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql("vec_id < 8 AND vec_id % 4 <> 3"))),

    // ---- s13: attribute-FILTERED vector search ---------------------------
    // Top-k among index vectors passing a predicate (here the even-id
    // half — standing in for category/tenant/date scoping), with the
    // filter applied to postings BEFORE ranking so a selective scope
    // still yields k eligible neighbors from the probed cells, never a
    // post-filtered stub. The oracle replays the probe with the same
    // candidate restriction; cell pruning composes with the filter.
    Q("s13_ivf_filtered_search",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val root = graft.RunDirs.freshDir("s13").toString
        VersionedIvf.build(emb, root, nlist = 8)
        VersionedIvf.probeFiltered(s, root, emb.filter(col("vec_id") < 5), k = 10,
            nprobe = 2, col("vec_id") % 2 === 0)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql("vec_id < 8", "a.vec_id % 2 = 0"))),

    // ---- s14: IVF index health stats -------------------------------------
    // The drift monitor for the frozen-centroid lifecycle: per-cell
    // occupancy split (base vs appended) and summed member-to-centroid
    // affinity, read straight off the persisted artifact after a
    // build + append. The oracle replays the assignment from source and
    // aggregates identically — one hash certifies that what the monitor
    // reads from disk is exactly what the assignment semantics say.
    Q("s14_ivf_index_stats",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val root = graft.RunDirs.freshDir("s14").toString
        VersionedIvf.build(emb.filter(col("vec_id") % 4 =!= 3), root, nlist = 8)
        VersionedIvf.append(s, emb.filter(col("vec_id") % 4 === 3), root, "day2")
        VersionedIvf.stats(s, root).orderBy(col("cid"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |cents AS (SELECT vec_id AS cid, e AS ce FROM e
             |          WHERE vec_id < 8 AND vec_id % 4 <> 3),
             |ascore AS (SELECT e.vec_id, cid,
             |    round(list_cosine_similarity(e.e, ce), 6) AS ccos
             |  FROM e CROSS JOIN cents),
             |abest AS (SELECT vec_id, max(ccos) AS best FROM ascore GROUP BY vec_id),
             |assign AS (SELECT a.vec_id, min(cid) AS cid, min(a.ccos) AS ccos
             |  FROM ascore a JOIN abest b ON a.vec_id = b.vec_id AND a.ccos = b.best
             |  GROUP BY a.vec_id)
             |SELECT CAST(cid AS BIGINT) AS cid,
             |  CAST(sum(CASE WHEN vec_id % 4 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             |  CAST(sum(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             |  CAST(sum(CAST(round(ccos * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_ccos_micro
             |FROM assign
             |GROUP BY cid
             |ORDER BY cid""".stripMargin)),

    // ---- s15: takedown through the persisted IVF index -------------------
    // The deletion arm of the s10–s12 lifecycle (r12 verdict #1): build
    // day 1 with frozen centroids, append day 2, then DELETE a vector
    // set spanning both batches and probe the survivor index. Only the
    // leaves containing deleted vectors are rewritten, into a fresh
    // segment (an emptied leaf has no successor in the new manifest);
    // the delete runs TWICE (the retry finds nothing and commits
    // nothing). The oracle
    // replays rebuild-on-the-union-without-the-deleted against the same
    // frozen day-1 centroids — one hash certifies leaf-localized delete
    // == rebuild-without, on the artifact that hits disk.
    Q("s15_ivf_delete",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val root = graft.RunDirs.freshDir("s15").toString
        VersionedIvf.build(emb.filter(col("vec_id") % 4 =!= 3), root, nlist = 8)
        VersionedIvf.append(s, emb.filter(col("vec_id") % 4 === 3), root, "day2")
        val dels = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
        VersionedIvf.delete(s, root, dels)
        VersionedIvf.delete(s, root, dels) // retried — finds nothing affected
        VersionedIvf.probe(s, root, emb.filter(col("vec_id") < 5), k = 10, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql("vec_id < 8 AND vec_id % 4 <> 3",
        "a.vec_id % 7 <> 0"))),

    // ---- s16: VERSIONED index lifecycle (atomic snapshot publish) --------
    // The r12 verdict-#2 mechanism end-to-end: every operation lands a
    // complete snapshot (immutable leaves + manifest) and atomically
    // flips the CURRENT pointer, so a reader never observes a
    // half-committed append/delete/compaction. This walks build(day1) →
    // append(day2a) → REPLAYED append(day2a — exactly-once by manifest
    // membership, no dynamic-overwrite needed) → append(day2b) →
    // delete(%7) → compact (a real swap, not a copy) → HARD vacuum
    // (keep only the live version) → probe. The oracle is the same
    // frozen-centroid rebuild-without-the-deleted as s15: one hash
    // certifies the whole versioned chain — snapshot reads, exactly-once
    // append, leaf-localized delete, swap compaction, and that vacuum
    // reclaimed nothing the live version serves. Crash-window semantics
    // (stage without publish serves the prior version) are pinned in
    // ArtifactLifecycleSpec.
    Q("s16_ivf_versioned_lifecycle",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val root = graft.RunDirs.freshDir("s16").toString
        VersionedIvf.build(emb.filter(col("vec_id") % 4 =!= 3), root, nlist = 8)
        VersionedIvf.append(s, emb.filter(col("vec_id") % 8 === 3), root, "day2a")
        VersionedIvf.append(s, emb.filter(col("vec_id") % 8 === 3), root, "day2a")
        VersionedIvf.append(s, emb.filter(col("vec_id") % 8 === 7), root, "day2b")
        VersionedIvf.delete(s, root,
          emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
        VersionedIvf.compact(s, root)
        VersionedIvf.vacuum(root, keepVersions = 1)
        VersionedIvf.probe(s, root, emb.filter(col("vec_id") < 5),
            k = 10, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfOracleSql("vec_id < 8 AND vec_id % 4 <> 3",
        "a.vec_id % 7 <> 0"))),

    // ---- s17: retrain — the acting arm of s14's drift monitor ------------
    // r12 verdict #3: the monitor reports drift; retrain ACTS on it.
    // One exact Lloyd step: new centroid = coordinate-wise mean of each
    // cell's current members over exact integer micro-units (bit-portable
    // in any engine — the determinism that makes a TRAINING step
    // oracle-checkable at all), then the corpus re-indexes against the
    // new quantizer into a fresh version. The oracle replays the whole
    // thing from source: first-8 centroids → assignment → micro-integer
    // means → new centroids → re-assignment → probe. One hash certifies
    // the trained doubles, the re-assignment, and the probe ranking.
    // Recall recovery on an actually-drifted corpus: SimilaritySpec's s17
    // test, and BASELINE_SELF "s17 retrain drift loop" at 100k.
    Q("s17_ivf_retrain",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val root = graft.RunDirs.freshDir("s17").toString
        VersionedIvf.build(emb, root, nlist = 8)
        VersionedIvf.retrain(s, root)
        VersionedIvf.probe(s, root, emb.filter(col("vec_id") < 5),
            k = 10, nprobe = 2)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |cents0 AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
             |ascore0 AS (SELECT e.vec_id, cid,
             |    round(list_cosine_similarity(e.e, ce), 6) AS ccos
             |  FROM e CROSS JOIN cents0),
             |abest0 AS (SELECT vec_id, max(ccos) AS best FROM ascore0 GROUP BY vec_id),
             |assign0 AS (SELECT a.vec_id, min(cid) AS cid
             |  FROM ascore0 a JOIN abest0 b ON a.vec_id = b.vec_id AND a.ccos = b.best
             |  GROUP BY a.vec_id),
             |memb AS (SELECT a.cid, e.e FROM assign0 a JOIN e ON e.vec_id = a.vec_id),
             |sums AS (SELECT cid, j,
             |    SUM(CAST(round(e[j + 1] * 1000000) AS BIGINT)) AS s,
             |    COUNT(*) AS n
             |  FROM memb, range(0, 64) t(j) GROUP BY cid, j),
             |cents1 AS (SELECT cid,
             |    list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY j) AS ce
             |  FROM sums GROUP BY cid),
             |cents1nz AS (SELECT cid, ce FROM cents1
             |  WHERE list_dot_product(ce, ce) > 0),
             |ascore1 AS (SELECT e.vec_id, cid,
             |    round(list_cosine_similarity(e.e, ce), 6) AS ccos
             |  FROM e CROSS JOIN cents1nz),
             |abest1 AS (SELECT vec_id, max(ccos) AS best FROM ascore1 GROUP BY vec_id),
             |assign1 AS (SELECT a.vec_id, min(cid) AS cid
             |  FROM ascore1 a JOIN abest1 b ON a.vec_id = b.vec_id AND a.ccos = b.best
             |  GROUP BY a.vec_id),
             |qprobe AS (SELECT vec_id AS qid, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS pr
             |    FROM ascore1 WHERE vec_id < 5) WHERE pr <= 2),
             |scored AS (SELECT qp.qid, a.vec_id,
             |    round(list_cosine_similarity(qe.e, ce2.e), 6) AS cos
             |  FROM qprobe qp
             |  JOIN assign1 a ON a.cid = qp.cid
             |  JOIN e qe ON qe.vec_id = qp.qid
             |  JOIN e ce2 ON ce2.vec_id = a.vec_id
             |  WHERE qp.qid <> a.vec_id),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT qid, vec_id, cos, rank
             |FROM ranked WHERE rank <= 10
             |ORDER BY qid, rank""".stripMargin)),

    // ---- s04: int8 embedding quantization ------------------------------
    // Checked as scale + integer checksum + leading lanes: the quantized
    // values are exact integers in both engines (same floor over the same
    // double ops), so the checksum pins the whole vector.
    // ---- s06: int8 stage-1 scan + exact re-rank ------------------------
    // The oracle replays the full two-stage pipeline: identical integer
    // quantization and integer stage-1 dots, identical shared-order
    // 6dp-rounded adjustment, identical candidate cut, exact re-rank.
    Q("s06_quantized_rerank",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        quantizedRerank(emb, emb.filter(col("vec_id") < 5), k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |f AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
             |m AS (SELECT vec_id, e,
             |        greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) AS mx
             |      FROM e),
             |qt AS (SELECT vec_id, round(mx, 6) AS scale,
             |        list_transform(e, x -> CAST(floor(x * 127 / mx) AS INT)) AS q
             |      FROM m),
             |ix AS (SELECT qt.vec_id, qt.scale, qt.q, f.nrm
             |       FROM qt JOIN f ON qt.vec_id = f.vec_id),
             |qv AS (SELECT vec_id AS qid, q AS qq, scale AS qscale, nrm AS qnrm
             |       FROM ix WHERE vec_id < 5),
             |s1 AS (SELECT qid, ix.vec_id,
             |    round(CAST(list_dot_product(qq, ix.q) AS DOUBLE)
             |          * qscale * ix.scale / (qnrm * ix.nrm), 6) AS s1
             |  FROM ix CROSS JOIN qv WHERE qid <> ix.vec_id),
             |cand AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY s1 DESC, vec_id) AS r
             |    FROM s1) WHERE r <= 40),
             |qe AS (SELECT f.vec_id AS qid, f.e AS qe, f.nrm AS qn
             |       FROM f WHERE f.vec_id < 5),
             |rr AS (SELECT c.qid, c.vec_id,
             |    round(list_dot_product(qe.qe, f.e) / (qe.qn * f.nrm), 6) AS cos
             |  FROM cand c JOIN f ON c.vec_id = f.vec_id
             |  JOIN qe ON c.qid = qe.qid)
             |SELECT qid, vec_id, cos,
             |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
             |FROM rr
             |QUALIFY rank <= 10
             |ORDER BY qid, rank""".stripMargin)),

    // ---- s07: product-quantization ADC top-k ---------------------------
    // The oracle replays the full PQ pipeline: same subvector slices,
    // same 6dp L2² argmin with min-code ties (two-step min, the s05
    // technique), same integer micro-unit LUT dots summed as BIGINT —
    // codes and scores hash-match exactly.
    Q("s07_pq_adc",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |subs AS (SELECT vec_id, k AS j, e[k*8+1 : k*8+8] AS sub
             |         FROM e, range(0, 8) t(k)),
             |cents AS (SELECT j, CAST(vec_id AS INT) AS code, sub AS csub
             |          FROM subs WHERE vec_id < 16),
             |d2 AS (SELECT s.vec_id, s.j, c.code,
             |    round(list_dot_product(s.sub, s.sub)
             |          - 2 * list_dot_product(s.sub, c.csub)
             |          + list_dot_product(c.csub, c.csub), 6) AS d2
             |  FROM subs s JOIN cents c ON s.j = c.j),
             |dbest AS (SELECT vec_id, j, min(d2) AS b FROM d2 GROUP BY vec_id, j),
             |codes AS (SELECT d.vec_id, d.j, min(d.code) AS code
             |  FROM d2 d JOIN dbest b
             |    ON d.vec_id = b.vec_id AND d.j = b.j AND d.d2 = b.b
             |  GROUP BY d.vec_id, d.j),
             |lut AS (SELECT s.vec_id AS qid, s.j, c.code,
             |    CAST(round(list_dot_product(s.sub, c.csub) * 1e6) AS BIGINT) AS dm
             |  FROM subs s JOIN cents c ON s.j = c.j WHERE s.vec_id < 5),
             |adc AS (SELECT l.qid, co.vec_id,
             |    CAST(sum(l.dm) AS BIGINT) AS adc_micro
             |  FROM codes co JOIN lut l ON co.j = l.j AND co.code = l.code
             |  WHERE l.qid <> co.vec_id
             |  GROUP BY l.qid, co.vec_id),
             |ranked AS (SELECT qid, vec_id, adc_micro,
             |    row_number() OVER (PARTITION BY qid ORDER BY adc_micro DESC, vec_id)
             |      AS rank
             |  FROM adc)
             |SELECT qid, vec_id, adc_micro, rank
             |FROM ranked WHERE rank <= 10
             |ORDER BY qid, rank""".stripMargin)),

    // ---- s08: IVF k-NN self-join (whole-corpus neighbors) --------------
    // The oracle replays the banded computation: identical deterministic
    // centroids, identical min-cid home-cell assignment, identical nprobe
    // probe lists over EVERY vector, identical candidate set and 6dp
    // ranking — so the hash certifies the self-join path bit-for-bit.
    // (Recall vs the exact form is certified in SimilaritySpec on planted
    // duplicates; an oracle cannot decide recall, only reproduce the
    // approximate computation.)
    Q("s08_knn_join",
      (s, dir) => knnJoin(Tables.load(s, dir, "embeddings"), k = 3)
        .orderBy(col("qid"), col("rank")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |cents AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
             |ascore AS (SELECT e.vec_id, cid,
             |    round(list_cosine_similarity(e.e, ce), 6) AS ccos
             |  FROM e CROSS JOIN cents),
             |abest AS (SELECT vec_id, max(ccos) AS best FROM ascore GROUP BY vec_id),
             |assign AS (SELECT a.vec_id, min(cid) AS cid
             |  FROM ascore a JOIN abest b ON a.vec_id = b.vec_id AND a.ccos = b.best
             |  GROUP BY a.vec_id),
             |probe AS (SELECT vec_id AS qid, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS pr
             |    FROM ascore) WHERE pr <= 2),
             |cand AS (SELECT DISTINCT p.qid, a.vec_id
             |  FROM probe p JOIN assign a USING (cid) WHERE p.qid <> a.vec_id),
             |scored AS (SELECT c.qid, c.vec_id,
             |    round(list_cosine_similarity(qe.e, xe.e), 6) AS cos
             |  FROM cand c
             |  JOIN e qe ON qe.vec_id = c.qid
             |  JOIN e xe ON xe.vec_id = c.vec_id),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored)
             |SELECT qid, vec_id, cos, rank
             |FROM ranked WHERE rank <= 3
             |ORDER BY qid, rank""".stripMargin)),

    // ---- s09: IVF-PQ end-to-end (coarse → ADC → exact re-rank) ---------
    // The full production composition, hash-certified: the oracle replays
    // the s05 coarse assignment, the s07 codes/LUT, the cell-restricted
    // integer ADC, the k·candMult stage-1 cut, and the exact 6dp re-rank
    // — one SQL text proving the three stages compose bit-for-bit.
    Q("s09_ivf_pq_topk",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        ivfPqTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             |f AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
             |cents AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
             |ascore AS (SELECT e.vec_id, cid,
             |    round(list_cosine_similarity(e.e, ce), 6) AS ccos
             |  FROM e CROSS JOIN cents),
             |abest AS (SELECT vec_id, max(ccos) AS best FROM ascore GROUP BY vec_id),
             |assign AS (SELECT a.vec_id, min(cid) AS cid
             |  FROM ascore a JOIN abest b ON a.vec_id = b.vec_id AND a.ccos = b.best
             |  GROUP BY a.vec_id),
             |qprobe AS (SELECT vec_id AS qid, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS pr
             |    FROM ascore WHERE vec_id < 5) WHERE pr <= 2),
             |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |subs AS (SELECT vec_id, k AS j, e[k*8+1 : k*8+8] AS sub
             |         FROM e0, range(0, 8) t(k)),
             |pcents AS (SELECT j, CAST(vec_id AS INT) AS code, sub AS csub
             |           FROM subs WHERE vec_id < 16),
             |d2 AS (SELECT s.vec_id, s.j, c.code,
             |    round(list_dot_product(s.sub, s.sub)
             |          - 2 * list_dot_product(s.sub, c.csub)
             |          + list_dot_product(c.csub, c.csub), 6) AS d2
             |  FROM subs s JOIN pcents c ON s.j = c.j),
             |dbest AS (SELECT vec_id, j, min(d2) AS b FROM d2 GROUP BY vec_id, j),
             |codes AS (SELECT d.vec_id, d.j, min(d.code) AS code
             |  FROM d2 d JOIN dbest b
             |    ON d.vec_id = b.vec_id AND d.j = b.j AND d.d2 = b.b
             |  GROUP BY d.vec_id, d.j),
             |lut AS (SELECT s.vec_id AS qid, s.j, c.code,
             |    CAST(round(list_dot_product(s.sub, c.csub) * 1e6) AS BIGINT) AS dm
             |  FROM subs s JOIN pcents c ON s.j = c.j WHERE s.vec_id < 5),
             |cand AS (SELECT qp.qid, a.vec_id
             |  FROM qprobe qp JOIN assign a USING (cid) WHERE qp.qid <> a.vec_id),
             |adc AS (SELECT c.qid, c.vec_id, CAST(sum(l.dm) AS BIGINT) AS adc_micro
             |  FROM cand c JOIN codes co ON co.vec_id = c.vec_id
             |  JOIN lut l ON l.qid = c.qid AND l.j = co.j AND l.code = co.code
             |  GROUP BY c.qid, c.vec_id),
             |stage1 AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY adc_micro DESC, vec_id) AS r1
             |    FROM adc) WHERE r1 <= 40),
             |qe AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM f WHERE vec_id < 5),
             |rr AS (SELECT s.qid, s.vec_id,
             |    round(list_dot_product(qe.qe, f.e) / (qe.qn * f.nrm), 6) AS cos
             |  FROM stage1 s JOIN f ON f.vec_id = s.vec_id JOIN qe ON qe.qid = s.qid)
             |SELECT qid, vec_id, cos,
             |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
             |FROM rr
             |QUALIFY rank <= 10
             |ORDER BY qid, rank""".stripMargin)),

    Q("s04_quantize_int8",
      (s, dir) => quantizeInt8(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long")).as("qsum"),
          element_at(col("q"), 1).as("q1"), element_at(col("q"), 2).as("q2"),
          element_at(col("q"), 3).as("q3"), element_at(col("q"), 4).as("q4"))
        .orderBy(col("vec_id")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |m AS (SELECT vec_id, e,
             |        greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) AS mx
             |      FROM e),
             |q AS (SELECT vec_id, round(mx, 6) AS scale,
             |        list_transform(e, x -> CAST(floor(x * 127 / mx) AS INT)) AS q
             |      FROM m)
             |SELECT vec_id, scale,
             |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum,
             |  q[1] AS q1, q[2] AS q2, q[3] AS q3, q[4] AS q4
             |FROM q
             |ORDER BY vec_id""".stripMargin)),
  )
}
