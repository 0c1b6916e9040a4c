package graft

import graft.operators.{Dedup, GraphOps, Profile, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke test: the "would it survive 100×" evidence local[32]
  * correctness runs can't give (BASELINE_SELF.md records results).
  *
  * Synthesizes deterministic inputs ~10–50× the sf0.1 fixtures:
  *   - a power-law graph (default 5M edges over ~1M nodes): endpoint
  *     `floor(N·u²)` concentrates degree on low ids — the top hub gets
  *     ~10⁴ edges, the realistic adversary for wedge/triangle joins;
  *   - a 50k-doc corpus (~80 words each, zipf-ish vocab so some shingles
  *     are corpus-hot, 5% exact duplicates for LSH to find).
  *
  * Runs g01 (triangles), g03 (common neighbors, degree-capped), d02
  * (MinHash LSH pairs) and reports wall-clock + shuffle bytes + result
  * counts as JSON lines.
  *
  * Skew evidence, two distinct mechanisms (the 100 TB design uses both,
  * for different problems):
  *   - wedge joins on hubs explode OUTPUT, not input partitions — AQE
  *     skew split can't help there; the degree cap is the mitigation,
  *     and g03's runtime under the cap is the measurement;
  *   - skewed FACT joins (one key owning a big slice of the rows)
  *     oversize shuffle-INPUT partitions — exactly AQE skew split's
  *     job. The smoke builds a zipf fact (top key ≈ 20% of rows),
  *     sort-merge-joins it to a dim, and asserts from the EXECUTED plan
  *     that the join ran with skew=true.
  *
  * Everything is derived from xxhash64 of the row id — reruns, any
  * parallelism, same data.
  *
  * Usage: `runMain graft.ScaleSmoke [nEdges] [nDocs]` (defaults 5M / 50k).
  */
object ScaleSmoke {

  /** u ~ Uniform(0,1] derived from a hashed id. */
  private def uniform(seed: Int) =
    (pmod(xxhash64(col("id"), lit(seed)), lit(1000000000L)) + 1).cast("double") / 1e9

  /** Power-law-ish node id in [0, n): floor(n·u²) — density ∝ x^(-1/2),
    * hubs at low ids. */
  private def zipfNode(n: Long, seed: Int) =
    least(floor(lit(n.toDouble) * pow(uniform(seed), 2.0)), lit(n - 1)).cast("long")

  def edges(spark: SparkSession, nEdges: Long, nNodes: Long): DataFrame =
    spark.range(nEdges).select(
      zipfNode(nNodes, 1).as("src"), zipfNode(nNodes, 2).as("dst"))

  def docs(spark: SparkSession, nDocs: Long, vocab: Int = 5000, words: Int = 80): DataFrame = {
    // 5% of docs copy their predecessor's text: exact-dup pairs for LSH
    val base = when(pmod(col("id"), lit(20)) === 1, col("id") - 1).otherwise(col("id"))
    val wordAt = (j: Int) => {
      val u = (pmod(xxhash64(base * 131 + lit(j), lit(7)), lit(1000000000L)) + 1)
        .cast("double") / 1e9
      concat(lit("w"), least(floor(lit(vocab.toDouble) * pow(u, 2.0)),
        lit(vocab - 1)).cast("int").cast("string"))
    }
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(array((0 until words).map(wordAt): _*), " ").as("text"),
      lit("en").as("lang"))
  }

  def main(args: Array[String]): Unit = {
    val skewOnly = args.contains("--skew-only")
    val t13Only = args.contains("--t13-only")
    val p12Only = args.contains("--p12-only")
    val zorderOnly = args.contains("--zorder-only")
    val recallOnly = args.contains("--recall-only")
    val d13Only = args.contains("--d13-only")
    val d02Only = args.contains("--d02-only")
    val posArgs = args.filterNot(_.startsWith("--"))
    val nEdges = posArgs.lift(0).map(_.toLong).getOrElse(5000000L)
    val nDocs = posArgs.lift(1).map(_.toLong).getOrElse(50000L)
    val nNodes = nEdges / 5
    val spark = GraftSession.get(appName = "graft-scale-smoke")
    val totals = ShuffleTotals.install(spark)
    import spark.implicits._

    // full-output evaluation (Bench.exec's protocol): materialize every
    // output column via the exec RDD — a stacked .count() lets Catalyst
    // prune projections and ELIMINATE unique-keyed left joins, silently
    // measuring a fraction of the operator (found twice now: Bench r8,
    // then the first d19/d27 smoke rows here)
    def exec(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    def timed(name: String)(body: => Long): Unit = {
      val (r0, w0) = totals.snapshotAfter()
      val t0 = System.nanoTime()
      val n = body
      val sec = (System.nanoTime() - t0) / 1e9
      val (r1, w1) = totals.snapshotAfter()
      println(s"""{"step":"$name","rows":$n,"sec":$sec,"shuffle_read":${r1 - r0},"shuffle_write":${w1 - w0}}""")
    }

    if (d13Only) {
      val d = docs(spark, nDocs).persist()
      d.count()
      var d13Cands = -1L
      // three repeats: d13's cost history here was dominated by a
      // flapping broadcast decision (see prefixJaccardParts), so the
      // variance band is part of what this flag measures
      for (i <- 1 to 3) {
        timed(s"d13_prefix_jaccard_candidates_$i") {
          val (_, cand) = Dedup.prefixJaccardParts(d, minJaccard = 0.5)
          d13Cands = cand.count(); d13Cands
        }
        timed(s"d13_prefix_jaccard_full_$i") {
          Dedup.prefixJaccardPairs(d, minJaccard = 0.5).count()
        }
      }
      println(s"""{"step":"d13_selectivity","docs":$nDocs,"candidates":$d13Cands,"all_pairs_bound":${nDocs * (nDocs - 1) / 2}}""")
      spark.stop(); return
    }

    if (args.contains("--t18-only")) {
      // t18's vocab-bounded claim measured: the per-round pair
      // aggregation explodes the DISTINCT vocabulary (map-side-combined
      // word frequencies), never the corpus token stream — so 4× the
      // docs over the same stem universe must grow the training rounds'
      // SHUFFLE sublinearly (the scan cost grows, the aggregation state
      // doesn't). Round-robin repartition + persist first: the
      // spark.range partitioning gift would otherwise elide the vocab
      // exchange entirely (see the --d27-only protocol note).
      for (n <- Seq(nDocs, nDocs * 4)) {
        val d = docs(spark, n)
          .repartition(spark.sessionState.conf.numShufflePartitions)
          .persist(); d.count()
        val vocabN = d.select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "").distinct().count()
        timed(s"t18_bpe_train_8_rounds_$n") {
          exec(TextOps.bpeTrain(d, merges = 8))
        }
        println(s"""{"step":"t18_vocab","docs":$n,"vocab":$vocabN}""")
        d.unpersist()
      }
      spark.stop(); return
    }

    if (args.contains("--s10-only")) {
      // ---- s10 leaf pruning MEASURED, not just plan-pinned -------------
      // The same VersionedIvf.probe over one artifact, reading only the
      // manifest leaves of the probed cells (nprobe 8 of 128) vs probing
      // EVERY cell (nprobe = nlist: every leaf read — the full-scan
      // contrast). The input-RECORDS ratio is the pruning evidence
      // (bytesRead is unreliable for local-FS array columns — a 102 MB full scan
      // reported 0.7 MB; recordsRead counts every row the scan actually
      // produced). Pruning wins when the UNION of probed cells is
      // small — the online-serving shape (2 queries × nprobe 8 → ≤16 of
      // 128 directories); a large OFFLINE query batch blankets every
      // cell and rightly degenerates to the full scan (measured too, so
      // the boundary is on record).
      val n = posArgs.lift(0).map(_.toLong).getOrElse(200000L)
      val nlist = 128
      var recsRead = 0L
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              recsRead += t.taskMetrics.inputMetrics.recordsRead
        })
      // FULL-ENTROPY components: the first cut used 2001 distinct values
      // and parquet dictionary-coded 102 MB of vectors down to ~12 MB —
      // the pruning signal drowned in the probe pipeline's constant
      // costs. Real embeddings don't dictionary-compress; neither do
      // these.
      val cols = (0 until 64).map(i =>
        (xxhash64(col("id"), lit(i)).cast("double") / 9.223372036854776e18))
      val emb = spark.range(n)
        .select(col("id").as("vec_id"), array(cols: _*).as("embedding")).persist()
      emb.count()
      val root = java.nio.file.Files.createTempDirectory("s10-root").toString
      timed("s10_build_index") {
        graft.operators.VersionedIvf.build(emb, root, nlist)
        0L
      }
      // queries as a MATERIALIZED local table: an online probe arrives
      // as a handful of vectors, not as a scan of the corpus — and the
      // bytes ledger then shows only what the PROBE reads
      def queryTable(nq: Int) = spark.createDataFrame(
        spark.sparkContext.parallelize(
          emb.filter(col("vec_id") < nq).collect().toSeq, 1),
        emb.schema)
      for ((name, nprobe, nq) <- Seq(
             ("s10_probe_pruned", 8, 2),
             ("s10_probe_fullscan", nlist, 2),
             ("s10_probe_pruned_wide", 8, 64))) {
        val queries = queryTable(nq)
        // listener events are async — settle before/after snapshotting
        Thread.sleep(1000)
        val b0 = recsRead
        timed(name) {
          exec(graft.operators.VersionedIvf.probe(spark, root, queries,
            k = 10, nprobe = nprobe))
        }
        Thread.sleep(1000)
        println(s"""{"step":"${name}_records","input_records":${recsRead - b0},"corpus_records":$n,"queries":$nq,"nlist":$nlist,"nprobe":$nprobe}""")
      }
      emb.unpersist()
      spark.stop(); return
    }

    if (args.contains("--s16-only")) {
      // ---- s16 versioned chain: the commit must be METADATA-sized ------
      // The r13 verdict's ask: the versioned artifact's claim that a
      // commit references untouched leaves instead of copying them was
      // asserted from the code, never measured. Ledger every hop of the
      // chain at 200k × 64-dim: append (bytes written ≈ the 1% batch,
      // never the corpus), the REPLAYED append (a pure metadata no-op:
      // zero bytes, zero new versions), delete (affected-leaf-sized),
      // compact (corpus-sized by design — it rewrites the layout),
      // manifest sizes (the actual commit payload), and vacuum's
      // reclaimed bytes. Correctness arm: the final live snapshot equals
      // the frozen-centroid rebuild-without row-for-row.
      val n = posArgs.lift(0).map(_.toLong).getOrElse(200000L)
      val nlist = 128
      var recsRead = 0L; var bytesWritten = 0L
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null) {
              recsRead += t.taskMetrics.inputMetrics.recordsRead
              bytesWritten += t.taskMetrics.outputMetrics.bytesWritten
            }
        })
      def du(dir: String): Long = {
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(dir)
        if (!java.nio.file.Files.exists(p)) return 0L
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
        finally w.close()
      }
      val cols = (0 until 64).map(i =>
        (xxhash64(col("id"), lit(i)).cast("double") / 9.223372036854776e18))
      val emb = spark.range(n)
        .select(col("id").as("vec_id"), array(cols: _*).as("embedding")).persist()
      emb.count()
      val day1 = emb.filter(col("vec_id") % 100 =!= 0)
      val batchDir = java.nio.file.Files.createTempDirectory("s16-batch").toString
      emb.filter(col("vec_id") % 100 === 0).write.mode("overwrite").parquet(batchDir)
      val day2 = spark.read.parquet(batchDir)
      val root = java.nio.file.Files.createTempDirectory("s16-root").toString
      val ref = java.nio.file.Files.createTempDirectory("s16-ref").toString
      import graft.operators.VersionedIvf
      import graft.sources.VersionedArtifact
      def manifestBytes(v: String): Long =
        java.nio.file.Files.size(
          java.nio.file.Paths.get(root, "versions", s"$v.mf"))
      timed(s"s16_build_day1_99pct_$n") {
        VersionedIvf.build(day1, root, nlist); 0L
      }
      Thread.sleep(1000)
      val (r0, w0) = (recsRead, bytesWritten)
      var vAppend = ""
      timed(s"s16_append_day2_1pct_$n") {
        vAppend = VersionedIvf.append(spark, day2, root, "day2"); 0L
      }
      Thread.sleep(1000)
      val (appendRecs, appendBytes) = (recsRead - r0, bytesWritten - w0)
      val appendMfBytes = manifestBytes(vAppend)
      // the REPLAYED trigger: committed-batch-id membership makes it a
      // metadata no-op — measure that it truly writes and commits nothing
      val versionsBefore = VersionedArtifact.publishedVersions(root).size
      val (wr0) = bytesWritten
      val tR = System.nanoTime()
      VersionedIvf.append(spark, day2, root, "day2")
      val replaySec = (System.nanoTime() - tR) / 1e9
      Thread.sleep(1000)
      val replayBytes = bytesWritten - wr0
      val replayNoop = VersionedArtifact.publishedVersions(root).size == versionsBefore
      // takedown: ~n/4000 scattered ids (the s15 protocol)
      val delDir = java.nio.file.Files.createTempDirectory("s16-dels").toString
      emb.filter(col("vec_id") % 4000 === 7).select(col("vec_id"))
        .write.mode("overwrite").parquet(delDir)
      val dels = spark.read.parquet(delDir)
      val (r1, w1) = (recsRead, bytesWritten)
      timed(s"s16_delete_${n}_ids_${n / 4000}") {
        VersionedIvf.delete(spark, root, dels); 0L
      }
      Thread.sleep(1000)
      val (delRecs, delBytes) = (recsRead - r1, bytesWritten - w1)
      val w2 = bytesWritten
      timed(s"s16_compact_$n") { VersionedIvf.compact(spark, root); 0L }
      Thread.sleep(1000)
      val compactBytes = bytesWritten - w2
      val duBefore = du(s"$root/data")
      val reclaimed = VersionedIvf.vacuum(root, keepVersions = 1)
      val duAfter = du(s"$root/data")
      // correctness: live snapshot == frozen-centroid rebuild-without
      timed(s"s16_rebuild_without_$n") {
        VersionedIvf.build(
          emb.join(dels, Seq("vec_id"), "left_anti"), ref, nlist,
          centroidSource = Some(day1)); 0L
      }
      val g = VersionedIvf.livePostings(spark, root)
        .select(col("vec_id"), col("cid"))
      val r = VersionedIvf.livePostings(spark, ref)
        .select(col("vec_id"), col("cid"))
      val diff = g.exceptAll(r).count() + r.exceptAll(g).count()
      println(s"""{"step":"s16_versioned_detail","corpus_records":$n,""" +
        s""""batch_records":${n / 100},"append_input_records":$appendRecs,""" +
        s""""append_bytes_written":$appendBytes,""" +
        s""""append_manifest_bytes":$appendMfBytes,""" +
        f""""replay_sec":$replaySec%.3f,"replay_bytes_written":$replayBytes,""" +
        s""""replay_is_metadata_noop":$replayNoop,""" +
        s""""deleted_ids":${n / 4000},"delete_input_records":$delRecs,""" +
        s""""delete_bytes_written":$delBytes,""" +
        s""""compact_bytes_written":$compactBytes,""" +
        s""""vacuum_reclaimed_dirs":${reclaimed.size},""" +
        s""""vacuum_reclaimed_bytes":${duBefore - duAfter},""" +
        s""""data_bytes_live":$duAfter,""" +
        s""""versioned_eq_rebuild":${diff == 0L},"row_diff":$diff}""")
      require(replayNoop, "replayed append committed a new version")
      require(diff == 0L, "versioned chain diverged from rebuild-without")
      emb.unpersist()
      spark.stop(); return
    }

    if (args.contains("--band-delete")) {
      // ---- r14 verdict #1 DONE-criterion: band takedown cost must be
      // affected-BUCKET-sized, not base-partition-sized. At 50k docs the
      // base batch is 99% of the index; pre-bucketing, ANY day-1 delete
      // rewrote all of it. Ledger: (a) one-doc takedown (the production
      // opt-out case) ≈ 1/256 of base; (b) 50 scattered ids ≈ the
      // ~46/256 expected hit-bucket fraction; both measured as bytes
      // written and affected-leaf counts, and certified against
      // rebuild-without row-for-row.
      import graft.operators.VersionedBand
      val n = posArgs.lift(0).map(_.toLong).getOrElse(50000L)
      // AtomicLong: onTaskEnd fires on the listener-bus thread; a plain
      // var read from the main thread has no happens-before edge and can
      // silently under-count the ledger
      val bytesWritten = new java.util.concurrent.atomic.AtomicLong()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              bytesWritten.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
        })
      def du(dir: String): Long = {
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(dir)
        if (!java.nio.file.Files.exists(p)) return 0L
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
        finally w.close()
      }
      val d = docs(spark, n)
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .persist(); d.count()
      // materialize the delete sets (parquet round trip, the s16 protocol
      // — the listener must not attribute their derivation to the delete)
      def materialize(df: DataFrame, tag: String): DataFrame = {
        val p = java.nio.file.Files.createTempDirectory(tag).toString
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      // ids ≡ 7 (mod 1000) are never ≡ 0 (mod 100): every deleted doc is
      // a DAY-1 (base-partition) doc — the adversarial case
      val oneId = materialize(d.filter(col("doc_id") === 7)
        .select(col("doc_id")), "bd-one")
      val fiftyIds = materialize(d.filter(col("doc_id") % 1000 === 7)
        .select(col("doc_id")), "bd-fifty")
      val root = java.nio.file.Files.createTempDirectory("bd-root").toString
      timed(s"band_build_day1_99pct_$n") {
        VersionedBand.build(d.filter(col("doc_id") % 100 =!= 0), root); 0L
      }
      timed(s"band_append_day2_1pct_$n") {
        VersionedBand.append(spark,
          d.filter(col("doc_id") % 100 === 0), root, "day2"); 0L
      }
      Thread.sleep(1000)
      val mBefore = VersionedBand.currentManifest(root).get
      val baseBytes = mBefore.leaves.filter(_.batch == "base")
        .map(l => du(s"$root/${l.path}")).sum
      val totalLeaves = mBefore.leaves.size
      def measuredDelete(ids: DataFrame, tag: String): (Long, Int, Double) = {
        val before = VersionedBand.currentManifest(root).get.leaves.toSet
        val w0 = bytesWritten.get()
        var sec = 0.0
        val t0 = System.nanoTime()
        VersionedBand.delete(spark, root, ids)
        sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1000)
        val after = VersionedBand.currentManifest(root).get.leaves.toSet
        ((bytesWritten.get() - w0), (before -- after).size, sec)
      }
      val (oneBytes, oneLeaves, oneSec) = measuredDelete(oneId, "one")
      val (fiftyBytes, fiftyLeaves, fiftySec) = measuredDelete(fiftyIds, "fifty")
      // correctness: live snapshot == rebuild-without (both delete sets
      // applied; oneId ⊂ fiftyIds so the survivor set is %1000 ≠ 7)
      val ref = java.nio.file.Files.createTempDirectory("bd-ref").toString
      VersionedBand.build(d.filter(col("doc_id") % 1000 =!= 7), ref)
      val g = VersionedBand.readLive(spark, root)
        .select(col("doc_id"), col("band"), col("bkey"))
      val r = VersionedBand.readLive(spark, ref)
        .select(col("doc_id"), col("band"), col("bkey"))
      val diff = g.exceptAll(r).count() + r.exceptAll(g).count()
      println(s"""{"step":"band_delete_detail","corpus_docs":$n,""" +
        s""""buckets":${Dedup.BandBuckets},"total_leaves":$totalLeaves,""" +
        s""""base_bytes":$baseBytes,""" +
        f""""one_doc_bytes_written":$oneBytes,"one_doc_affected_leaves":$oneLeaves,"one_doc_sec":$oneSec%.3f,""" +
        f""""one_doc_fraction_of_base":${oneBytes.toDouble / math.max(1L, baseBytes)}%.4f,""" +
        f""""fifty_doc_bytes_written":$fiftyBytes,"fifty_doc_affected_leaves":$fiftyLeaves,"fifty_doc_sec":$fiftySec%.3f,""" +
        f""""fifty_doc_fraction_of_base":${fiftyBytes.toDouble / math.max(1L, baseBytes)}%.4f,""" +
        s""""delete_eq_rebuild":${diff == 0L},"row_diff":$diff}""")
      require(diff == 0L, "bucketed band delete diverged from rebuild-without")
      require(oneLeaves <= 2,
        s"one-doc takedown affected $oneLeaves leaves — bucket localization broken")
      d.unpersist()
      spark.stop(); return
    }

    if (args.contains("--manifest-scale")) {
      // ---- r14 verdict #6: manifest scaling on LONG append chains ------
      // A VersionedIvf manifest holds one `leaf` line per (cid, batch)
      // per uncompacted append; at production nlist × hundreds of daily
      // appends that is 10⁵–10⁷ driver-parsed lines per probe
      // resolution. Drive ~1k tiny appends into nlist 256, measure (a)
      // manifest line count and byte size at the end of the chain, (b)
      // the driver-side RESOLUTION cost alone (manifest read + parse —
      // the part that scales with lines), (c) full probe wall pre- vs
      // post-compaction (the small-files cost compaction exists for),
      // (d) the post-compaction collapse (lines back to ~nlist). The
      // BASELINE_SELF row is the documented compaction-cadence rule.
      import graft.operators.VersionedIvf
      import graft.sources.VersionedArtifact
      val nAppends = posArgs.lift(0).map(_.toInt).getOrElse(1000)
      val batchSz = 16
      val nlist = 256
      val dim = 16
      val cols = (0 until dim).map(i =>
        (xxhash64(col("id"), lit(i)).cast("double") / 9.223372036854776e18))
      def embOf(ids: org.apache.spark.sql.Dataset[java.lang.Long]): DataFrame =
        ids.select(col("id").as("vec_id"), array(cols: _*).as("embedding"))
      val base = embOf(spark.range(20000)).persist(); base.count()
      val root = java.nio.file.Files.createTempDirectory("ms-root").toString
      timed(s"manifest_build_20000_nlist$nlist") {
        VersionedIvf.build(base, root, nlist); 0L
      }
      val qs = embOf(spark.range(10)).withColumnRenamed("vec_id", "qid")
        .select(col("qid").as("vec_id"), col("embedding"))
      val tA = System.nanoTime()
      var i = 0
      while (i < nAppends) {
        VersionedIvf.append(spark,
          embOf(spark.range(100000L + i.toLong * batchSz,
            100000L + (i + 1).toLong * batchSz)), root, s"a$i")
        i += 1
      }
      val appendChainSec = (System.nanoTime() - tA) / 1e9
      val live = VersionedArtifact.currentName(root).get
      val mfLines = VersionedArtifact.readManifest(root, live).size
      val mfBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(root, "versions", s"$live.mf"))
      // resolution cost ALONE: read + parse the manifest (what scales
      // with the chain), repeated for a stable median
      def resolveMs(): Double = {
        val t = System.nanoTime()
        VersionedArtifact.readManifest(root, live).size
        (System.nanoTime() - t) / 1e6
      }
      val resolvePre = (1 to 5).map(_ => resolveMs()).sorted.apply(2)
      def probeSec(): Double = {
        val t = System.nanoTime()
        VersionedIvf.probe(spark, root, qs, k = 5, nprobe = 8)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }
      val probePre = probeSec()
      var compactSec = 0.0
      timed(s"manifest_compact_after_$nAppends") {
        val t = System.nanoTime()
        VersionedIvf.compact(spark, root)
        compactSec = (System.nanoTime() - t) / 1e9; 0L
      }
      val live2 = VersionedArtifact.currentName(root).get
      val mfLinesPost = VersionedArtifact.readManifest(root, live2).size
      val probePost = probeSec()
      println(s"""{"step":"manifest_scale_detail","appends":$nAppends,""" +
        s""""batch_size":$batchSz,"nlist":$nlist,""" +
        f""""append_chain_sec":$appendChainSec%.1f,""" +
        s""""manifest_lines_pre":$mfLines,"manifest_bytes_pre":$mfBytes,""" +
        f""""resolve_ms_pre":$resolvePre%.2f,""" +
        f""""probe_sec_pre_compact":$probePre%.2f,""" +
        f""""compact_sec":$compactSec%.2f,""" +
        s""""manifest_lines_post":$mfLinesPost,""" +
        f""""probe_sec_post_compact":$probePost%.2f}""")
      require(mfLinesPost < mfLines / 4,
        "compaction failed to collapse the manifest")
      base.unpersist()
      spark.stop(); return
    }

    if (args.contains("--retrain-only")) {
      // ---- s17 retrain: the monitor→retrain→recall loop, measured ------
      // The r12 verdict's ask: prove the drift monitor's numbers trigger
      // an action that provably helps. Day 1 is a clustered corpus; the
      // day-2 batch arrives from FOUR UNRELATED cluster centers (real
      // drift, not noise). Appending against the frozen day-1 quantizer
      // tanks both monitor signals (appended-mass affinity, occupancy
      // skew) and recall@10 for day-2 queries; one exact Lloyd step
      // (VersionedIvf.retrain) must recover recall. The run FAILS unless
      // recall_after >= recall_before.
      val nBase = posArgs.lift(0).map(_.toLong).getOrElse(100000L)
      // r13 ADVICE: below 250 the query-sampling stride nDrift/50 is zero
      // and the modulo (then recall's division) fails opaquely — fail
      // fast with the actual constraint instead
      require(nBase >= 250,
        s"--retrain-only needs nBase >= 250 (got $nBase): the query " +
          "sampling stride (nBase/5)/50 would be zero")
      val nDrift = nBase / 5
      def centerDim(clusterKey: org.apache.spark.sql.Column, i: Int) =
        (pmod(xxhash64(clusterKey, lit(i + 500)), lit(2001L))
          - 1000).cast("double") / 1000.0
      def noiseDim(i: Int) =
        (pmod(xxhash64(col("id"), lit(i)), lit(201L))
          - 100).cast("double") / 1000.0
      def member(clusterKey: org.apache.spark.sql.Column)
          : Seq[org.apache.spark.sql.Column] =
        (0 until 64).map(i => centerDim(clusterKey, i) + noiseDim(i))
      val day1 = spark.range(nBase).select(col("id").as("vec_id"),
        array(member(pmod(col("id"), lit(8))): _*).as("embedding")).persist()
      // the drifted batch: four clusters each centered at the MIDPOINT of
      // two day-1 cluster directions — exactly where the frozen quantizer
      // is worst: members straddle the two cells' boundary, so at
      // nprobe=1 a query misses the neighbors that landed across it. A
      // mild orthogonal offset (key+100) keeps the drift population a
      // real new cluster, not a day-1 mixture.
      val driftKey = pmod(col("id"), lit(4))
      val day2 = spark.range(nDrift)
        .select((col("id") + nBase).as("vec_id"),
          array((0 until 64).map(i =>
            (centerDim(driftKey * 2, i) + centerDim(driftKey * 2 + 1, i))
              / 2.0
              + centerDim(driftKey + 100, i) / 4.0
              + noiseDim(i)): _*).as("embedding"))
        .persist()
      day1.count(); day2.count()
      val union = day1.unionByName(day2).persist()
      val queries = day2
        .filter(col("vec_id") % math.max(1L, nDrift / 50) === 1).persist()
      val nq = queries.count()
      val root = java.nio.file.Files.createTempDirectory("s17-root").toString
      timed(s"s17_build_day1_$nBase") {
        graft.operators.VersionedIvf.build(day1, root, nlist = 8); 0L
      }
      timed(s"s17_append_drifted_$nDrift") {
        graft.operators.VersionedIvf.append(spark, day2, root, "day2"); 0L
      }
      def affinity(): (Double, Double, Double) = {
        val s = graft.operators.VersionedIvf.stats(spark, root)
          .agg(sum(col("n_base")), sum(col("n_new")), sum(col("sum_ccos_micro")),
            max(col("n_base") + col("n_new")), count(lit(1)))
          .head()
        val (nb, nn, micro) = (s.getLong(0), s.getLong(1), s.getLong(2))
        val skew = s.getLong(3).toDouble / ((nb + nn).toDouble / s.getLong(4))
        (micro.toDouble / ((nb + nn) * 1e6), skew, nn.toDouble / (nb + nn))
      }
      val exact = Similarity.bruteForceTopK(union, queries, 10)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(): Double = {
        // nprobe=1: the setting where quantizer quality IS recall — a
        // boundary-straddling cluster loses every neighbor across the
        // boundary (nprobe=2 would paper over a 2-cell straddle)
        val got = graft.operators.VersionedIvf
          .probe(spark, root, queries, k = 10, nprobe = 1)
          .select("qid", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(exact).size.toDouble / exact.size
      }
      val (affB, skewB, _) = affinity()
      val recallB = recallOf()
      timed(s"s17_retrain_${nBase + nDrift}") {
        graft.operators.VersionedIvf.retrain(spark, root); 0L
      }
      val (affA, skewA, _) = affinity()
      val recallA = recallOf()
      println(f"""{"step":"s17_retrain_detail","n_base":$nBase,"n_drift":$nDrift,"n_queries":$nq,"affinity_before":$affB%.4f,"affinity_after":$affA%.4f,"occupancy_skew_before":$skewB%.2f,"occupancy_skew_after":$skewA%.2f,"recall_before":$recallB%.4f,"recall_after":$recallA%.4f}""")
      require(recallA >= recallB,
        f"retrain REGRESSED recall: $recallB%.4f -> $recallA%.4f")
      spark.stop(); return
    }

    if (args.contains("--bpe-scale")) {
      // ---- the r10 verdict's tokenizer scale-up, measured -------------
      // Three trainer shapes, one operator (property-proven identical):
      //   fast    — ONE distributed wave (word-freq groupBy + collect),
      //             then exact in-memory incremental training; the
      //             production ~30k-merge shape. Jobs ≈ 1, checkpoints 0.
      //   batched — the sound stop-at-first-conflict selection; batch
      //             factor is DATA-DEPENDENT (top character pairs share
      //             letters), reported honestly as rounds for 256.
      //   seq     — the per-merge loop (t18's gate shape), now FREEING
      //             each round's checkpoint: cached-block count must
      //             stay flat, not grow with merges.
      var jobs = 0
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs += 1
        })
      val d = docs(spark, nDocs)
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .persist(); d.count()
      val baseRdds = spark.sparkContext.getPersistentRDDs.size

      val j0 = jobs
      var fast: Seq[(Int, String, String, Long)] = Seq.empty
      timed("bpe_fast_256_merges") {
        fast = TextOps.bpeTrainFast(d, merges = 256).collect()
          .map(r => (r.getAs[Int]("step"), r.getAs[String]("lhs"),
            r.getAs[String]("rhs"), r.getAs[Long]("n"))).toSeq
        fast.size.toLong
      }
      val fastJobs = jobs - j0
      println(s"""{"step":"bpe_fast_jobs","jobs":$fastJobs,"merges":256,"cached_rdds_delta":${spark.sparkContext.getPersistentRDDs.size - baseRdds}}""")

      val j1 = jobs
      var batched: Seq[(Int, String, String, Long)] = Seq.empty
      var rounds = 0
      timed("bpe_batched_256_merges") {
        val (t, vocab, r) = TextOps.bpeTrainBatchedCore(d, 256, 64)
        GraphOps.freeLocalCheckpoint(vocab)
        batched = t; rounds = r; t.size.toLong
      }
      println(s"""{"step":"bpe_batched_rounds","rounds":$rounds,"merges":${batched.size},"jobs":${jobs - j1},"equal_to_fast":${batched == fast},"cached_rdds_delta":${spark.sparkContext.getPersistentRDDs.size - baseRdds}}""")
      require(batched == fast,
        "batched and fast trainers diverged — the soundness argument is broken")

      // the gate-shaped sequential loop must hold storage FLAT now that
      // each round frees its predecessor (r10 verdict: linear growth)
      val j2 = jobs
      timed("bpe_sequential_32_merges") {
        exec(TextOps.bpeTrain(d, merges = 32))
      }
      println(s"""{"step":"bpe_seq_storage","jobs":${jobs - j2},"merges":32,"cached_rdds_delta":${spark.sparkContext.getPersistentRDDs.size - baseRdds}}""")
      d.unpersist()
      spark.stop(); return
    }

    if (args.contains("--d23-only")) {
      // ---- d23/clusterRepresentatives on the HOSTILE duplication shape --
      // 30% of n vectors (first positional arg, default 500k) land in ONE
      // cluster; the rest in ≤5-member groups. The exact medoid affinity
      // would be m² ≈ 2.25·10¹⁰ pairs for the giant cluster alone — a
      // stuck stage, the r7 verdict's scale-killer. The capped keeper
      // pays m·~cap; the wall + shuffle bytes printed here are the bound
      // evidence, and the probe-count line shows the sample really is
      // ~cap, not m.
      val n = posArgs.lift(0).map(_.toLong).getOrElse(500000L)
      val cap = 256
      val cols = (0 until 64).map(i =>
        ((pmod(xxhash64(col("id"), lit(i)), lit(2001L)) - 1000).cast("double") / 1000.0))
      val emb = spark.range(n)
        .select(col("id").as("vec_id"), array(cols: _*).as("embedding")).persist()
      emb.count()
      val assign = emb.select(col("vec_id"),
        when(col("vec_id") % 10 < 3, lit(0L))
          .otherwise(expr("(vec_id DIV 5) * 5 + 1")).as("cluster_id"))
        .persist()
      val giantM = assign.filter(col("cluster_id") === 0).count()
      val giantProbes = assign.filter(col("cluster_id") === 0)
        .filter(graft.functions.PortableHash.baseHash(col("vec_id").cast("string"))
          * lit(giantM) < lit(cap.toLong << 32)).count()
      println(s"""{"step":"d23_hostile_profile","n":$n,"giant_members":$giantM,""" +
        s""""giant_probes":$giantProbes,"exact_pairs_bound":${giantM * giantM},""" +
        s""""capped_pairs_bound":${giantM * (giantProbes max 1)}}""")
      timed(s"d23_capped_keeper_n${n}_cap$cap") {
        Dedup.clusterRepresentatives(assign, emb, cap = cap).count()
      }
      // ---- d20 on the same hostile shape: exact-duplicate collapse ------
      // 30% of vectors are LITERAL copies of vector 0 (not just
      // co-clustered): without the round-8 collapse the band join forms a
      // (0.3n)²/2-pair clique in EVERY bucket (~9·10¹⁰ pairs at 500k —
      // unrunnable); with it the whole group enters the banding as one
      // representative. Wall + shuffle + the candidate audit are the
      // bound evidence.
      val seedRow = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("semb"))
      def hostileOf(src: DataFrame) = src.crossJoin(broadcast(seedRow))
        .select(col("vec_id"),
          when(col("vec_id") % 10 < 3, col("semb"))
            .otherwise(col("embedding")).as("embedding"))
      // audit at full n (analytic — no pair materialization): the
      // uncollapsed clique term alone would be (0.3n)²/2 × 8 tables;
      // after the collapse it contributes ZERO (one representative)
      val hostileFull = hostileOf(emb).persist(); hostileFull.count()
      val vol = Dedup.bandedJoinVolume(hostileFull)
      val dupGroup = n * 3 / 10
      println(s"""{"step":"d20_hostile_collapse_profile","n":$n,""" +
        s""""dup_group":$dupGroup,"clique_join_rows_uncollapsed":${dupGroup * dupGroup / 2 * 8},""" +
        s""""banded_join_rows_after_collapse":$vol}""")
      hostileFull.unpersist()
      // timed clustering row at n/5: the residual join volume on random
      // noise is ~(0.7n)²·tables/2^planes regardless of the collapse —
      // that background cost scales the same for any banded LSH — so the
      // smaller timing row isolates what the collapse changed (the
      // clique term, which would dominate everything at any n)
      val nSmall = n / 5
      val hostileSmall = hostileOf(emb.filter(col("vec_id") < nSmall))
        .persist(); hostileSmall.count()
      timed(s"d20_collapsed_clusters_n$nSmall") {
        Dedup.semanticClustersBanded(hostileSmall).count()
      }
      hostileSmall.unpersist()
      assign.unpersist(); emb.unpersist()
      spark.stop(); return
    }

    if (d02Only) {
      // the MinHash-band family (d02 and its consumers d17/e01): same
      // repeat protocol as --d13-only, for the same reason — the band
      // self-join's strategy used to flap on AQE's compressed estimate
      val d = docs(spark, nDocs).persist()
      d.count()
      for (i <- 1 to 3) {
        timed(s"d02_minhash_lsh_$i") {
          Dedup.minhashLshPairs(d).filter(col("est_jaccard") >= 0.5).count()
        }
      }
      for (i <- 1 to 2) {
        timed(s"d17_cluster_split_$i") { Dedup.clusterSplit(d).count() }
      }
      timed("e01_corpus_build") {
        graft.operators.Pipeline.corpusBuild(d).count()
      }
      timed("d14_incremental_2pct") {
        Dedup.incrementalLshPairs(
          d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0))
          .filter(col("est_jaccard") >= 0.5).count()
      }
      timed("d15_dup_shingle_rate") { Dedup.dupShingleRate(d).count() }
      spark.stop(); return
    }

    if (args.contains("--d27-only")) {
      // substring-dedup at 50k docs: the measuring pass (d19) and the
      // ACTING pass (d27) on the same corpus — the rewrite must stay in
      // d19's cost class (its only additions are a span-table doc_id
      // rollup and the per-doc positional filter, both bounded by the
      // corpus token stream). The reconciliation row proves the rewrite
      // removes EXACTLY the token mass d19 measures, at scale.
      //
      // Two measurement-protocol rules, both learned the hard way:
      // (a) evaluate FULL output (exec) — both operators end in a LEFT
      //     join whose right side is a groupBy(doc_id) aggregate, which
      //     is provably unique-keyed, so a stacked .count() JOIN-
      //     ELIMINATES the entire span machinery (the r8 Bench.exec
      //     lesson, resurfacing in the smoke harness);
      // (b) break the range-source partitioning gift — spark.range
      //     reports RangePartitioning(id), which narrow transforms
      //     preserve, so doc_id-keyed windows/aggregates on the raw
      //     generated corpus shuffle NOTHING; a real parquet corpus has
      //     no such gift. One round-robin repartition before persist
      //     restores the honest shape.
      val d = docs(spark, nDocs)
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .persist(); d.count()
      timed(s"d19_dup_spans_${nDocs}") { exec(Dedup.dupSpans(d)) }
      timed(s"d27_substring_rewrite_${nDocs}") {
        exec(Dedup.substringRewrite(d))
      }
      // t17 rides the same corpus: intra-doc rules are ROW-LOCAL, so its
      // shuffle must be ~zero where d19/d27 pay the corpus-wide inverted
      // df — the measured contrast IS the scale story
      timed(s"t17_gopher_repetition_${nDocs}") {
        exec(graft.operators.TextOps.gopherRepetition(d))
      }
      val rec = Dedup.substringRewrite(d)
        .agg(sum(col("n_tokens")).as("nt"), sum(col("kept_tokens")).as("kt"))
        .head()
      val measured = Dedup.dupSpans(d)
        .agg(sum(col("dup_tokens"))).head().getLong(0)
      val removed = rec.getLong(0) - rec.getLong(1)
      println(s"""{"step":"d27_reconciliation","total_tokens":${rec.getLong(0)},""" +
        s""""removed_tokens":$removed,"d19_dup_tokens":$measured,""" +
        s""""rewrite_eq_measure":${removed == measured}}""")
      spark.stop(); return
    }

    if (recallOnly) {
      // ---- the ANN recall/cost curve at 500k × 64-dim -------------------
      // What a real deployment tunes: recall@10 against the exact scan,
      // swept over (nlist, nprobe) for IVF (s05) and (planes, tables) for
      // multi-table sign-LSH (s03). The curve goes to BASELINE_SELF.md;
      // the run FAILS (exit 1) if recall at the registered settings —
      // s03 (4 planes × 16 tables), s05 (nlist 64, nprobe 16) — drops
      // below 0.9, so a regression in either index can't ship silently.
      val nVecs = 500000L
      val embCols = (0 until 64).map(i =>
        ((pmod(xxhash64(col("id"), lit(i)), lit(2001L)) - 1000).cast("double") / 1000.0))
      val bigEmb = spark.range(nVecs)
        .select(col("id").as("vec_id"), array(embCols: _*).as("embedding"))
        .persist()
      val queries = bigEmb.filter(col("vec_id") < 50).persist()
      queries.count()
      val exact = Similarity.bruteForceTopK(bigEmb, queries, 10)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(df: DataFrame): Double = {
        val got = df.select("qid", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(exact).size.toDouble / exact.size
      }
      var registeredOk = true
      for ((nlist, nprobe) <- Seq((64, 4), (64, 8), (64, 16), (256, 16),
          (256, 32), (256, 64))) {
        val t0 = System.nanoTime()
        val r = recallOf(Similarity.ivfTopK(bigEmb, queries, k = 10,
          nlist = nlist, nprobe = nprobe))
        val sec = (System.nanoTime() - t0) / 1e9
        val reg = nlist == 64 && nprobe == 16
        if (reg && r < 0.9) registeredOk = false
        println(f"""{"step":"recall_ivf","nlist":$nlist,"nprobe":$nprobe,"recall_at_10":$r%.4f,"sec":$sec%.2f,"registered":$reg}""")
      }
      // s09 IVF-PQ end-to-end. Two curves, because the two recalls are
      // different quantities (the s08 lesson, measured here at 500k):
      // (a) arbitrary-neighbor recall@10 on STRUCTURELESS uniform noise —
      // honest context, NOT gated: the 8×16-centroid PQ reconstruction
      // error is larger than the ~0.01 cosine margins separating noise
      // neighbors, so ADC cannot rank them (plain IVF scores exact
      // cosine in-cell and hits 1.0 above; that contrast IS the PQ
      // trade, not a defect); (b) near-duplicate recall@1 on planted
      // twins at cos ≈ 0.999 — the engine's actual retrieval contract
      // (SemDeDup/decontamination), GATED ≥ 0.9 at the registered
      // (64, 16, 16) setting.
      for ((nlist, nprobe, candMult) <- Seq((64, 16, 4), (64, 16, 16),
          (64, 16, 64), (256, 32, 16))) {
        val t0 = System.nanoTime()
        val r = recallOf(Similarity.ivfPqTopK(bigEmb, queries, k = 10,
          nlist = nlist, nprobe = nprobe, candMult = candMult))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"step":"recall_ivfpq_noise","nlist":$nlist,"nprobe":$nprobe,"cand_mult":$candMult,"recall_at_10":$r%.4f,"sec":$sec%.2f,"registered":false}""")
      }
      {
        val twins = bigEmb.filter(col("vec_id") % 1000 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              x + (pmod(xxhash64(col("vec_id"), i), lit(101L)) - 50)
                .cast("double") / 1000.0).as("embedding"))
        val withTwins = bigEmb.unionByName(twins).persist()
        val nTwins = twins.count()
        val t0 = System.nanoTime()
        val top1 = Similarity.ivfPqTopK(withTwins, twins, k = 1,
          nlist = 64, nprobe = 16, candMult = 16)
          .select("qid", "vec_id").collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val hits = top1.count(r => r.getLong(1) == r.getLong(0) - 10000000L)
        val twinRecall = hits.toDouble / nTwins
        if (twinRecall < 0.9) registeredOk = false
        withTwins.unpersist()
        println(f"""{"step":"recall_ivfpq_twins","nlist":64,"nprobe":16,"cand_mult":16,"twins":$nTwins,"recall_at_1":$twinRecall%.4f,"sec":$sec%.2f,"registered":true}""")
      }
      for ((planes, tables) <- Seq((2, 8), (2, 16), (2, 32), (4, 8),
          (4, 16), (8, 8))) {
        val t0 = System.nanoTime()
        val r = recallOf(Similarity.lshTopKMulti(bigEmb, queries, k = 10,
          planes = planes, tables = tables))
        val sec = (System.nanoTime() - t0) / 1e9
        val reg = planes == 4 && tables == 16
        if (reg && r < 0.9) registeredOk = false
        println(f"""{"step":"recall_lsh","planes":$planes,"tables":$tables,"recall_at_10":$r%.4f,"sec":$sec%.2f,"registered":$reg}""")
      }
      println(s"""{"step":"recall_gate","registered_settings_recall_ge_090":$registeredOk}""")
      spark.stop()
      if (!registeredOk) sys.exit(1)
      return
    }

    if (args.contains("--s08-only")) {
      // ---- s08 knnJoin's n^1.5 scale contract ---------------------------
      // Candidate volume is n·nprobe·(n/nlist): with nlist ≈ √n the join
      // is n^1.5 (4× vectors → ~8× work), with nlist FIXED it is n² (4×
      // vectors → 16× candidates). Both slopes are measured here so the
      // scaladoc's sizing rule is evidence, not assertion.
      def emb(n: Long) = {
        val cols = (0 until 64).map(i =>
          ((pmod(xxhash64(col("id"), lit(i)), lit(2001L)) - 1000).cast("double") / 1000.0))
        spark.range(n).select(col("id").as("vec_id"), array(cols: _*).as("embedding"))
          .persist()
      }
      for ((n, nlist) <- Seq((20000L, 141), (80000L, 283), (80000L, 141))) {
        val e = emb(n); e.count()
        timed(s"s08_knn_join_n${n}_nlist$nlist") {
          Similarity.knnJoin(e, k = 3, nlist = nlist, nprobe = 2).count()
        }
        if (n == 20000L) {
          // recall@3 against the exact scan for 50 sampled vectors — the
          // self-join path's recall evidence, beside --recall-only's
          // s03/s05 curves. Sampled by id stride so the probe set spans
          // the corpus rather than one cell.
          val qids = (0 until 50).map(i => i * 397L)
          val qs = e.filter(col("vec_id").isin(qids: _*))
          val exact = Similarity.bruteForceTopK(e, qs, 3)
            .select("qid", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val got = Similarity.knnJoin(e, k = 3, nlist = nlist, nprobe = 2)
            .filter(col("qid").isin(qids: _*))
            .select("qid", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val recall = (exact & got).size.toDouble / exact.size
          println(f"""{"step":"s08_recall_at_3","n":$n,"nlist":$nlist,"nprobe":2,"recall":$recall%.4f}""")
          // the operator's ACTUAL contract is near-duplicate recall (the
          // SemDeDup role), not arbitrary-neighbor recall on structureless
          // noise: plant 200 deterministic twins at cos ≈ 0.999 and ask
          // whether each finds its base at rank 1 through the cell join
          val twins = e.filter(col("vec_id") % 100 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"),
              transform(col("embedding"), (x, i) =>
                x + (pmod(xxhash64(col("vec_id"), i), lit(101L)) - 50)
                  .cast("double") / 1000.0).as("embedding"))
          val withTwins = e.unionByName(twins).persist()
          val nTwins = twins.count()
          val top1 = Similarity.knnJoin(withTwins, k = 1, nlist = nlist, nprobe = 2)
            .filter(col("qid") >= 1000000L)
            .select("qid", "vec_id").collect()
          val hits = top1.count(r => r.getLong(1) == r.getLong(0) - 1000000L)
          withTwins.unpersist()
          println(f"""{"step":"s08_twin_recall_at_1","n":$n,"nlist":$nlist,"nprobe":2,"twins":$nTwins,"recall":${hits.toDouble / nTwins}%.4f}""")
        }
        e.unpersist()
      }
      spark.stop(); return
    }

    if (!skewOnly && !t13Only && !p12Only && !zorderOnly) {
      val e = edges(spark, nEdges, nNodes).persist()
      val d = docs(spark, nDocs).persist()
      println(s"""{"step":"gen","edges":${e.count()},"docs":${d.count()},"top_degree":${
        e.groupBy("src").count().agg(max("count")).as[Long].head()}}""")

      var triExact = -1L
      timed("g01_triangles") {
        val canon = GraphOps.canonicalEdges(e).persist()
        triExact = GraphOps.trianglesFromCanonical(canon).count()
        canon.unpersist(); triExact
      }

      // g23: the exact hub mitigation on the same graph — identical
      // triangle set via degree-ordered orientation; the id-ordered join
      // above pays C(deg_lo(hub), 2) wedges while the forward algorithm
      // bounds every node's wedge contribution by C(O(√m), 2)
      timed("g23_triangles_degree_ordered") {
        GraphOps.trianglesDegreeOrdered(e).count()
      }

      // g24: the DOULION sample against both exact plans on the same
      // graph — the wall ratio is the p² wedge-volume claim measured,
      // and the relative error against g01's exact count is the
      // estimator's accuracy at real triangle mass (the spec's K40 band
      // is fixture-scale; this is the one that matters)
      timed("g24_sampled_triangles") {
        val r = GraphOps.sampledTriangles(e).collect().head
        val est = r.getLong(3)
        val errPm = if (triExact > 0) math.abs(est - triExact) * 1000 / triExact else -1
        println(s"""{"step":"g24_accuracy","tri_exact":$triExact,"tri_est":$est,"rel_err_permille":$errPm,"edges_sampled":${r.getLong(1)}}""")
        est
      }

      // g03: the degree cap is the hub mitigation (output-explosion skew);
      // runtime under the cap on a 5M-edge power-law graph is the evidence
      timed("g03_common_neighbors_capped") {
        GraphOps.commonNeighbors(e, minCommon = 2, maxDegree = 64).count()
      }

      timed("d02_minhash_lsh") {
        Dedup.minhashLshPairs(d).filter(col("est_jaccard") >= 0.5).count()
      }

      // d13 at 50k docs: the prefix+positional+length filters must keep
      // the candidate count FAR under the n(n-1)/2 all-pairs bound — that
      // ratio is the whole survival argument for an exact join at 100×
      var d13Cands = -1L
      timed("d13_prefix_jaccard_candidates") {
        val (_, cand) = Dedup.prefixJaccardParts(d, minJaccard = 0.5)
        d13Cands = cand.count(); d13Cands
      }
      timed("d13_prefix_jaccard_full") {
        Dedup.prefixJaccardPairs(d, minJaccard = 0.5).count()
      }
      println(s"""{"step":"d13_selectivity","docs":$nDocs,"candidates":$d13Cands,"all_pairs_bound":${nDocs * (nDocs - 1) / 2},"candidate_fraction":${d13Cands.toDouble / (nDocs * (nDocs - 1) / 2)}}""")

      // d12 at 50k docs: the eval shingle set broadcasts; the corpus-side
      // stream must stay a single scan (shuffle = per-doc hit counts only)
      timed("d12_decontaminate") {
        Dedup.decontaminate(d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
          .filter(col("contaminated") === 1).count()
      }

      // s05 IVF at 500k synthetic 64-dim embeddings (250x the sf0.1
      // fixture): assignment = corpus x 64 broadcast centroids reduced by
      // one agg; probe pays exact cosine on ~nprobe/nlist of the corpus
      val nVecs = 500000L
      val embCols = (0 until 64).map(i =>
        ((pmod(xxhash64(col("id"), lit(i)), lit(2001L)) - 1000).cast("double") / 1000.0))
      val bigEmb = spark.range(nVecs)
        .select(col("id").as("vec_id"), array(embCols: _*).as("embedding"))
        .persist()
      timed("s05_ivf_topk_500k") {
        // (64, 16): the registered scale setting the --recall-only gate
        // pins at recall >= 0.9
        Similarity.ivfTopK(bigEmb, bigEmb.filter(col("vec_id") < 10),
          k = 10, nlist = 64, nprobe = 16).count()
      }

      // s06 two-stage retrieval on the same 500k corpus: stage 1 scans
      // int8 vectors for all queries in one pass; stage 2 re-fetches
      // floats for 40 candidates/query by key — the float table's
      // contribution to the probe must be candidate-sized, not corpus-
      // sized
      timed("s06_quantized_rerank_500k") {
        Similarity.quantizedRerank(bigEmb,
          bigEmb.filter(col("vec_id") < 10), k = 10).count()
      }

      // s07 PQ-ADC on the same 500k corpus: encode pays corpus×(m·ksub)
      // broadcast-joined argmin rows ONCE (the index build); scoring
      // touches only the code stream × a 1 280-row LUT — the float
      // corpus is never read by the query side
      timed("s07_pq_adc_500k") {
        val n = Similarity.pqTopK(bigEmb,
          bigEmb.filter(col("vec_id") < 10), k = 10).count()
        bigEmb.unpersist(); n
      }

      // d14 incremental dedup at 50k docs, 2% daily batch: the batch
      // probes the corpus index via broadcast — the corpus-side band
      // table is built once and never shuffled by the join, so the cost
      // must sit near ONE d02 index build, not two plus a self-join
      timed("d14_incremental_2pct") {
        Dedup.incrementalLshPairs(
          d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0))
          .filter(col("est_jaccard") >= 0.5).count()
      }

      // g13 personalized PageRank on the 5M-edge power-law graph: hubs
      // put most nodes within 3 hops of the seed set, so this measures
      // the frontier join at near-full width — the worst case for the
      // sparse formulation
      timed("g13_ppr_5M") {
        GraphOps.personalizedPageRankPpb(e, seedMod = 1000, iters = 3).count()
      }

      // g28 warm-start PageRank maintenance at 5M edges: after a ~10%
      // day-2 batch, two warm sweeps must land closer to the day-2 fixed
      // point than two cold sweeps — and each sweep is the same
      // one-join + one-map-side-agg cost, so the maintenance win is
      // ROUNDS SAVED, not per-round price. L1 distances are computed
      // distributed (never a 1M-node collect).
      val g28old = e.filter((xxhash64(col("src"), col("dst")) % 10) =!= 0)
      var day1Ranks: org.apache.spark.sql.DataFrame = null
      timed("g28_day1_cold3_5M") {
        day1Ranks = GraphOps.pageRankPpb(g28old, iters = 3).localCheckpoint()
        day1Ranks.count()
      }
      val g28ref = GraphOps.pageRankPpb(e, iters = 8)
        .toDF("node", "ref").localCheckpoint()
      def l1(df: org.apache.spark.sql.DataFrame): Long = df
        .join(g28ref, "node")
        .agg(sum(abs(col("rank_ppb") - col("ref")))).head().getLong(0)
      var l1Warm = -1L; var l1Cold = -1L
      timed("g28_warm2_5M") {
        l1Warm = l1(GraphOps.pageRankPpbFrom(e, day1Ranks, iters = 2)); l1Warm
      }
      timed("g28_cold2_5M") {
        l1Cold = l1(GraphOps.pageRankPpb(e, iters = 2)); l1Cold
      }
      println(s"""{"step":"g28_warm_vs_cold","l1_warm_2_rounds":$l1Warm,""" +
        s""""l1_cold_2_rounds":$l1Cold,"warm_closer":${l1Warm < l1Cold}}""")

      // p08 HLL registers over 20M keys (~1300x the sf0.01 gate): the
      // persisted artifact is <= 512 rows, so shuffle must stay KB-scale
      // no matter the corpus — the corpus-stationary evidence d12/d09/s05
      // carry, here for the distinct-count sketch
      timed("p08_hll_registers_20M") {
        Profile.hllRegisters(
          spark.range(20000000L).select((col("id") % 3000000L).as("k")),
          col("k")).count()
      }

      // g12 link-prediction scores at 5M edges under the same cap g03
      // uses: scoring rides the capped wedge rows (zero extra joins), so
      // its cost must track g03's, not exceed it
      timed("g12_link_prediction_5M") {
        GraphOps.linkPredictionScores(e, maxDegree = 64, minCommon = 2).count()
      }

      // Connected components, both algorithms. The power-law graph is
      // low-diameter (hubs shortcut everything), so min-label is already
      // cheap there — the interesting numbers are the round counts and
      // that star's wall-clock stays in the same band.
      var starRounds = 0
      timed("cc_star_powerlaw") {
        val (labels, r) = GraphOps.connectedComponentsStar(e)
        starRounds = r; labels.count()
      }
      var minlRounds = 0
      timed("cc_minlabel_powerlaw") {
        val (labels, r) = GraphOps.connectedComponentsMinLabel(e)
        minlRounds = r; labels.count()
      }
      println(s"""{"step":"cc_powerlaw_rounds","star":$starRounds,"minlabel":$minlRounds}""")

      // High-diameter adversary: a 1M-node path (diameter = n). Star
      // converges in O(log n) rounds; min-label would need n rounds —
      // give it star's round budget and count the components it still
      // thinks exist (1 is the truth; anything more = not converged).
      val nPath = 1000000L
      val path = spark.range(nPath - 1)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      var pathComponents = -1L
      timed("cc_star_path1M") {
        val (labels, r) = GraphOps.connectedComponentsStar(path, maxIter = 100)
        starRounds = r
        pathComponents = labels.select(countDistinct(col("component"))).as[Long].head()
        pathComponents
      }
      var minlPathComponents = -1L
      timed("cc_minlabel_path1M_star_budget") {
        val (labels, r) = GraphOps.connectedComponentsMinLabel(path, maxIter = starRounds)
        minlRounds = r
        minlPathComponents = labels.select(countDistinct(col("component"))).as[Long].head()
        minlPathComponents
      }
      println(s"""{"step":"cc_path1M","star_rounds":$starRounds,"star_components":$pathComponents,"minlabel_rounds_budget":$minlRounds,"minlabel_components":$minlPathComponents}""")

      // g11 k-core on the 5M-edge power-law graph: rounds = peeling depth
      // (the inherent bound of simultaneous-removal semantics); each round
      // only shrinks the edge set, so the logged rounds × per-round cost
      // is the whole scale story
      var kcoreRounds = 0
      timed("g11_kcore_k3_5M") {
        val (core, r) = GraphOps.kCore(e, k = 3)
        kcoreRounds = r; core.count()
      }
      println(s"""{"step":"g11_kcore_rounds","rounds":$kcoreRounds}""")

      // g14 clustering coefficient at 5M edges: two map-side-combined
      // aggregations (degrees, per-node triangle counts) over the same
      // canonical edges plus a node-keyed join — the cost must track g01's
      // triangle join, not add a new shape
      // filter on cc_micro (not a bare count): a count() of a left join
      // with a unique right key is derivable from the left side alone,
      // so an unreferenced triangle arm could be optimized away and the
      // row would time only the degree aggregation
      timed("g14_clustering_coeff_5M") {
        GraphOps.clusteringCoefficient(e).filter(col("cc_micro") > 0).count()
      }

      // e04 shuffle-shard at 50k docs into 1024 shards: cost must be the
      // one range exchange of the two-pass rank (plus the tiny offsets
      // broadcast), and the round-robin balance invariant — max shard
      // size minus min ≤ 1 — must hold at ANY scale, not just the spec's
      // 101-doc fixture
      var e04Skew = -1L
      timed("e04_shuffle_shard_50k_1024shards") {
        val out = graft.operators.Pipeline.shuffleShards(d, shards = 1024)
          .persist()
        val n = out.count()
        e04Skew = out.groupBy("shard").count()
          .agg(max("count") - min("count")).as[Long].head()
        out.unpersist(); n
      }
      println(s"""{"step":"e04_balance","shards":1024,"max_minus_min":$e04Skew}""")

      // d15 duplicated-shingle rate at 50k docs: the df aggregation and
      // the join probe consume ONE repartition of the shingle stream
      // (shared exchange) — cost must be ~one shingle shuffle + the
      // per-doc rollup, not two scans of the corpus
      timed("d15_dup_shingle_rate_50k") {
        Dedup.dupShingleRate(d).count()
      }

      // m06 banded perceptual-hash near-dup at 50k payloads: candidates
      // come from two 8-bit-band equi-joins, so the measured pair count
      // vs the n(n-1)/2 bound is the survival argument (the d13 ratio,
      // for media)
      var m06Pairs = -1L
      timed("m06_phash_neardup_50k") {
        val media = d.select(col("doc_id"), lit("image").as("kind"),
          encode(col("text"), "UTF-8").as("payload"),
          lit(64).as("width"), lit(64).as("height"), lit(0).as("sample_rate"))
          .as[graft.operators.Multimodal.MediaRow]
        m06Pairs = graft.operators.Multimodal.phashNearDup(media).count()
        m06Pairs
      }
      println(s"""{"step":"m06_selectivity","docs":$nDocs,"pairs":$m06Pairs,"all_pairs_bound":${nDocs * (nDocs - 1) / 2}}""")

      // p09 count-min counters over 20M keys (~1300x the sf0.01 gate):
      // the persisted artifact is <= 256 cells, so shuffle must stay
      // KB-scale no matter the corpus — the corpus-stationary evidence
      // p08 carries for HLL, here for the frequency sketch
      timed("p09_cms_counters_20M") {
        Profile.cmsCounters(
          spark.range(20000000L).select((col("id") % 3000000L).as("k")),
          col("k")).count()
      }

      // d17 cluster-aware split at 50k docs: the cost must sit near the
      // same corpus's d02+CC run (the split adds one hash per cluster)
      timed("d17_cluster_split_50k") {
        Dedup.clusterSplit(d).count()
      }

      // t12 collocations at 50k docs: two token-stream aggregations plus
      // two unigram joins on the min-support-filtered bigram table — the
      // joins' left side is support-bounded, not corpus-bounded
      timed("t12_collocations_50k") {
        graft.operators.TextOps.collocations(d).count()
      }

      // e01 end-to-end corpus build at 50k docs: the composed pipeline's
      // cost must be ~the sum of its stages (no composition-induced
      // recomputation beyond exactDedup's documented shared exchange)
      timed("e01_corpus_build_50k") {
        graft.operators.Pipeline.corpusBuild(d).count()
      }

      // Stateful threshold alerts at 20M events / ~1M users with a
      // power-law user distribution (hot user ≈ 10⁴ events): the
      // secondary-sort batch path must stream each group's iterator —
      // state is one (cum, fired) pair per user, never a buffered group.
      val nEvents = 20000000L
      val events = spark.range(nEvents).select(
        col("id").as("event_id"),
        zipfNode(nEvents / 20, 21).as("user_id"),
        timestamp_millis(lit(1700000000000L) +
          pmod(xxhash64(col("id"), lit(22)), lit(86400000L))).as("ts"),
        (pmod(xxhash64(col("id"), lit(23)), lit(10000L)).cast("double") / 100.0).as("value"))
      // user count measured OUTSIDE the timed block — it is context, not
      // part of the operator under test
      val nUsers = events.select(countDistinct(col("user_id"))).as[Long].head()
      var nAlerts = -1L
      timed("st05_alerts_20M") {
        nAlerts = graft.streaming.EventStreams.thresholdAlerts(events, 500.0).count()
        nAlerts
      }
      println(s"""{"step":"st05_state","n_users":$nUsers,"n_alerts":$nAlerts}""")

      // q45 retention shape at 20M events / ~1M users / 26 weeks: ONE
      // user-keyed shuffle (min + collect_set of week buckets — state per
      // user is bounded by the corpus's week count, not its event count)
      // then a rollup over cohort×offset cells. Shuffle must track one
      // pass over distinct (user, week), never events × matrix.
      timed("q45_retention_20M") {
        spark.range(nEvents).select(
            zipfNode(nEvents / 20, 31).as("user_id"),
            pmod(xxhash64(col("id"), lit(32)), lit(26L * 604800000L)).as("ms"))
          .select(col("user_id"), expr("ms div 604800000").as("week"))
          .groupBy(col("user_id"))
          .agg(min(col("week")).as("cohort"),
            collect_set(col("week")).as("weeks"))
          .select(col("cohort"), explode(col("weeks")).as("week"))
          .groupBy(col("cohort"), (col("week") - col("cohort")).as("off"))
          .count().count()
      }

      // q46 capped-basket pairs at 10M purchases / zipf users / 2000
      // items: the hot user draws ~10⁴ events (distinct items ≈ the full
      // catalog) but the basket cap bounds its in-row pair cost at
      // 32·31/2 — runtime and shuffle must track the (user, item)
      // stream, not the hot user's uncapped deg².
      timed("q46_copurchase_10M") {
        spark.range(10000000L).select(
            zipfNode(500000L, 41).as("user_id"),
            pmod(xxhash64(col("id"), lit(42)), lit(2000L)).cast("int").as("item"))
          .groupBy(col("user_id"))
          .agg(slice(sort_array(collect_set(col("item"))), 1, 32).as("items"))
          .select(explode(col("items")).as("i"), col("items"))
          .select(col("i"),
            explode(filter(col("items"), x => x > col("i"))).as("j"))
          .groupBy(col("i"), col("j")).count().count()
      }
    }

    if (!skewOnly && !p12Only && !zorderOnly) {
      // t13 domain cap at 20M docs / 50 domains / n = 10k: the naive form
      // shuffles the WHOLE corpus into 50 window partitions (one task
      // sorts ~400k rows — the q36 shape); threshold select must shuffle
      // only survivors (~n + one bucket's width per domain ≈ 2.5% here).
      // Both run on identical data so the shuffle-byte ratio IS the
      // 100×-survival argument: naive grows with the corpus, threshold
      // select with the OUTPUT.
      val nCap = 20000000L
      val capDocs = spark.range(nCap).select(
        col("id").as("doc_id"),
        concat(lit("src"), pmod(xxhash64(col("id"), lit(51)), lit(50L))).as("source"))
      // buckets sized to the corpus: the histogram shuffle costs
      // tasks × domains × buckets partial rows while the boundary costs
      // domain/buckets rows per domain — 256 balances both at this width
      // (the default 4096 is sized for billion-row domains)
      timed("t13_domain_cap_20M") {
        graft.operators.TextOps.domainCap(capDocs, n = 10000L, buckets = 256).count()
      }
      timed("t13_naive_window_20M") {
        val h = graft.functions.PortableHash.baseHash(
          concat(col("source"), lit(":"), col("doc_id").cast("string")))
        capDocs.withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("source")).orderBy(h, col("doc_id"))))
          .filter(col("rk") <= 10000).count()
      }
    }

    if (!skewOnly && !t13Only && !zorderOnly) {
      // p12 corpus overlap at 15M vs 14M keys with a 9M-key true overlap
      // (~40 000x the sf0.01 gate): three 512-row register folds — the
      // corpora are never joined, so shuffle must stay KB-scale no matter
      // the corpus (the p08/p09 corpus-stationary evidence, here for the
      // two-corpus question). The detail row logs estimates vs the
      // construction-known truth.
      val ovA = spark.range(15000000L).select(col("id").cast("string").as("k"))
      val ovB = spark.range(6000000L, 20000000L)
        .select(col("id").cast("string").as("k"))
      var ovRow: org.apache.spark.sql.Row = null
      timed("p12_sketch_overlap_29M") {
        ovRow = Profile.overlapEstimates(ovA, ovB, col("k")).head(); 1L
      }
      println(s"""{"step":"p12_overlap_detail","est_a":${ovRow.getLong(0)},"est_b":${ovRow.getLong(1)},"est_union":${ovRow.getLong(2)},"est_inter":${ovRow.getLong(3)},"true_a":15000000,"true_b":14000000,"true_inter":9000000}""")
    }

    if (!skewOnly && !t13Only && !p12Only) {
      // q53 z-order layout at 20M rows / 2 uniform 2^20-wide dims: the
      // write-side sort is the whole cost; the payoff is a 2-D predicate
      // (1/64 of the plane) that prunes to the files owning the box's
      // z-range while the hash layout scans every row group. Both scans
      // produce identical counts — layout must never change results.
      val nZ = 20000000L
      val zsrc = spark.range(nZ).select(
        pmod(xxhash64(col("id"), lit(61)), lit(1L << 20)).as("x"),
        pmod(xxhash64(col("id"), lit(62)), lit(1L << 20)).as("y"))
      val zHashDir = graft.RunDirs.dir("smoke_zhash").toString
      val zClusDir = graft.RunDirs.dir("smoke_zord").toString
      timed("zorder_write_hash_20M") {
        zsrc.repartition(64).write.mode("overwrite").parquet(zHashDir); nZ
      }
      timed("zorder_write_clustered_20M") {
        graft.functions.ZOrder.cluster(zsrc, "x", "y", files = 64)
          .write.mode("overwrite").parquet(zClusDir); nZ
      }
      val zPred = "x < 131072 AND y < 131072"
      var nHash = -1L; var nClus = -1L
      timed("zorder_scan_hash_20M") {
        nHash = spark.read.parquet(zHashDir).filter(zPred).count(); nHash
      }
      timed("zorder_scan_clustered_20M") {
        nClus = spark.read.parquet(zClusDir).filter(zPred).count(); nClus
      }
      def boxFiles(path: String): Long = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("x")).as("nx"), max(col("x")).as("mx"),
          min(col("y")).as("ny"), max(col("y")).as("my"))
        .filter(col("nx") < 131072 && col("ny") < 131072)
        .count()
      println(s"""{"step":"zorder_detail","rows_hash":$nHash,"rows_clustered":$nClus,"files_intersecting_hash":${boxFiles(zHashDir)},"files_intersecting_clustered":${boxFiles(zClusDir)},"files_total":64}""")
    }

    if (t13Only || p12Only || zorderOnly) { spark.stop(); return }

    // Skewed FACT join: 20M-row fact whose hottest key owns ~20% of rows
    // (floor(K·u⁸): P(key=0) = K^(-1/8)), joined to a per-key dim.
    // Broadcast off forces the sort-merge path; with the hot partition
    // ~10× the median, AQE must split it — assert skew=true on the
    // EXECUTED join node.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // demo-scale thresholds (defaults are 256m/5x, sized for real clusters).
    // AQE sizes partitions on COMPRESSED map-output bytes, and a hot key's
    // partition (millions of identical keys) compresses hard — the payload
    // column is a hash so the partition stays incompressible, like real data
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    val nKeys = 100000L
    val fact = spark.range(20000000L).select(
      least(floor(lit(nKeys.toDouble) * pow(uniform(9), 8.0)), lit(nKeys - 1))
        .cast("long").as("k"),
      pmod(xxhash64(col("id"), lit(3)), lit(1000000L)).as("v"))
    val dim = spark.range(nKeys).select(col("id").as("k"), (col("id") % 13).as("grp"))
    var skewFired = false
    timed("skewed_fact_join") {
      val joined = fact.join(dim, "k").groupBy("grp").agg(sum("v").as("sv"))
      // collect() (not count()) so the inspected QueryExecution is the one
      // that ran — df.count() plans a separate query, whose executed plan
      // would still read isFinalPlan=false here
      val n = joined.collect().length.toLong
      val plan = joined.queryExecution.executedPlan.toString
      skewFired = plan.contains("skew=true")
      if (!skewFired) System.err.println(plan)
      n
    }
    println(s"""{"step":"skew_evidence","aqe_skew_split_fired":$skewFired}""")

    if (!skewFired)
      println("""{"warn":"AQE skew split did not fire - inspect plan/thresholds"}""")
    spark.stop()
  }
}
