package graft

import graft.operators.{Dedup, TextOps, VersionedBand, VersionedIvf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle operators (build / append / probe over a FILESYSTEM
  * artifact) meeting degenerate inputs — the class of bug s10 shipped in
  * round 11 (`UNABLE_TO_INFER_SCHEMA` probing the fileless postings dir
  * an empty partitioned build leaves behind). EmptyInputSpec gates every
  * registered query's DEFAULT path on an empty corpus; this spec walks
  * the lifecycle edges the registered arms don't reach: build-on-empty
  * then probe, append-an-empty-batch, probe-with-zero-queries, and
  * append-into-an-empty-build — for the IVF index (s10/s11), the LSH
  * band index (d28), and the trained-tokenizer artifact (t18/t19/e07).
  * Every arm asserts the operation is a structured no-op (empty result,
  * schema intact, existing artifact untouched), never a throw.
  */
class ArtifactLifecycleSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val docs =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def probeRows(root: String, queries: DataFrame): Array[_] =
    VersionedIvf.probe(spark, root, queries, k = 5, nprobe = 2).collect()

  // ---- IVF index (s10 / s11) -------------------------------------------

  test("IVF: build on an empty corpus, probe with real queries — empty result, no throw") {
    val root = tmp("alc-ivf-empty")
    VersionedIvf.build(emb.limit(0), root, nlist = 8)
    assert(probeRows(root, emb.filter($"vec_id" < 3)).isEmpty)
  }

  test("IVF: append an EMPTY batch — artifact byte-identical, probe unchanged") {
    val root = tmp("alc-ivf-appendempty")
    VersionedIvf.build(emb, root, nlist = 8)
    val before = probeRows(root, emb.filter($"vec_id" < 3)).toSeq
    val leavesBefore = VersionedIvf.currentManifest(root).get.leaves
    VersionedIvf.append(spark, emb.limit(0), root, batchId = "day2")
    // the commit records the batch id but serves exactly the same leaves
    assert(VersionedIvf.currentManifest(root).get.leaves === leavesBefore)
    assert(probeRows(root, emb.filter($"vec_id" < 3)).toSeq === before)
  }

  test("IVF: probe with ZERO queries — empty result, no throw") {
    val root = tmp("alc-ivf-zeroq")
    VersionedIvf.build(emb, root, nlist = 8)
    assert(probeRows(root, emb.limit(0)).isEmpty)
  }

  test("IVF: append into an EMPTY build — no centroids means no postings, probe empty") {
    // a build that saw zero rows trained zero centroids; a later batch
    // has nothing to be assigned against, so the append is a structured
    // no-op (the pipeline's real fix is a rebuild) rather than a crash or
    // a silently self-centroided index
    val root = tmp("alc-ivf-appendinto")
    VersionedIvf.build(emb.limit(0), root, nlist = 8)
    VersionedIvf.append(spark, emb, root, batchId = "day2")
    assert(VersionedIvf.livePostings(spark, root).count() === 0L)
    assert(probeRows(root, emb.filter($"vec_id" < 3)).isEmpty)
  }

  test("IVF: stats over an EMPTY index — empty result, no throw") {
    val root = tmp("alc-ivf-stats-empty")
    VersionedIvf.build(emb.limit(0), root, nlist = 8)
    assert(VersionedIvf.stats(spark, root).collect().isEmpty)
  }

  test("IVF: compact an EMPTY index — probe survives, empty result") {
    val root = tmp("alc-ivf-compact")
    VersionedIvf.build(emb.limit(0), root, nlist = 8)
    VersionedIvf.compact(spark, root)
    assert(probeRows(root, emb.filter($"vec_id" < 3)).isEmpty)
  }

  test("IVF delete: EVERYTHING — probe empty, no leaked leaves, no throw") {
    val root = tmp("alc-ivf-del-all")
    VersionedIvf.build(emb.filter($"vec_id" < 40), root, nlist = 4)
    VersionedIvf.append(spark, emb.filter($"vec_id" >= 40 && $"vec_id" < 60),
      root, "day2")
    VersionedIvf.delete(spark, root,
      emb.filter($"vec_id" < 60).select($"vec_id"))
    assert(probeRows(root, emb.filter($"vec_id" < 3)).isEmpty)
    assert(VersionedIvf.currentManifest(root).get.leaves.isEmpty)
    // once the superseded versions are vacuumed, no postings file of
    // either batch is left on disk — only the centroids the live
    // version still names
    VersionedIvf.vacuum(root, keepVersions = 1)
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
    val postingFiles = try w.iterator().asScala
      .map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("-cents-"))
      .toSeq
    finally w.close()
    assert(postingFiles.isEmpty, s"fully-deleted leaves left files: $postingFiles")
  }

  test("IVF delete: NOTHING (empty id set) — artifact untouched") {
    val root = tmp("alc-ivf-del-none")
    VersionedIvf.build(emb.filter($"vec_id" < 40), root, nlist = 4)
    val before = probeRows(root, emb.filter($"vec_id" < 3)).toSeq
    val live = graft.sources.VersionedArtifact.currentName(root)
    VersionedIvf.delete(spark, root, emb.limit(0).select($"vec_id"))
    // ids absent from the index are a no-op too
    VersionedIvf.delete(spark, root,
      emb.filter($"vec_id" > 100000).select($"vec_id"))
    assert(graft.sources.VersionedArtifact.currentName(root) === live,
      "a no-op delete committed a new version")
    assert(probeRows(root, emb.filter($"vec_id" < 3)).toSeq === before)
  }

  test("IVF delete: TWICE == once, and equals rebuild-without") {
    val root = tmp("alc-ivf-del-twice")
    val ref = tmp("alc-ivf-del-ref")
    val corpus = emb.filter($"vec_id" < 60)
    VersionedIvf.build(corpus, root, nlist = 4)
    val dels = corpus.filter($"vec_id" % 3 === 0).select($"vec_id")
    val once = VersionedIvf.delete(spark, root, dels)
    assert(VersionedIvf.delete(spark, root, dels) === once,
      "the retried delete committed again")
    // rebuild WITHOUT the deleted ids against the SAME frozen centroids
    VersionedIvf.build(corpus.filter($"vec_id" % 3 =!= 0), ref,
      nlist = 4, centroidSource = Some(corpus))
    val qs = emb.filter($"vec_id" < 3)
    assert(probeRows(root, qs).toSeq === probeRows(ref, qs).toSeq)
  }

  // ---- LSH band index (d28 / d30) ----------------------------------------

  private def bandRows(root: String): Set[Seq[Any]] =
    VersionedBand.readLive(spark, root).collect().map(_.toSeq).toSet

  test("band delete: EVERYTHING — read-back empty, partitions dropped") {
    val root = tmp("alc-band-del-all")
    VersionedBand.build(docs.filter($"doc_id" < 30), root)
    VersionedBand.append(spark, docs.filter($"doc_id" >= 30 && $"doc_id" < 40),
      root, batchId = "day2")
    VersionedBand.delete(spark, root,
      docs.filter($"doc_id" < 40).select($"doc_id"))
    assert(VersionedBand.readLive(spark, root).count() === 0L)
    assert(VersionedBand.currentManifest(root).get.leaves.isEmpty,
      "emptied leaves are still named by the live manifest")
  }

  test("band delete: NOTHING / missing ids — artifact untouched; TWICE == once") {
    val root = tmp("alc-band-del-none")
    VersionedBand.build(docs.filter($"doc_id" < 30), root)
    val before = bandRows(root)
    VersionedBand.delete(spark, root, docs.limit(0).select($"doc_id"))
    VersionedBand.delete(spark, root,
      docs.filter($"doc_id" > 100000).select($"doc_id"))
    assert(bandRows(root) === before)
    val dels = docs.filter($"doc_id" % 4 === 1).select($"doc_id")
    val v = VersionedBand.delete(spark, root, dels)
    val once = bandRows(root)
    assert(VersionedBand.delete(spark, root, dels) === v)
    assert(bandRows(root) === once)
    assert(once.nonEmpty && once.size < before.size)
  }

  test("incremental probe from an EMPTY index: only new-vs-new pairs can form") {
    val root = tmp("alc-d30-emptyidx")
    VersionedBand.build(docs.limit(0), root)
    // no corpus: result must equal the batch's self-pairs alone — and on
    // a tiny all-distinct batch that is simply "no throw, schema intact"
    val out = Dedup.incrementalLshPairsFromVersioned(spark, root,
      docs.filter($"doc_id" < 5))
    assert(out.columns.toSeq === Seq("d1", "d2", "est_jaccard"))
    out.count() // must execute without schema-inference failure
  }

  test("incremental probe with an EMPTY batch: empty result, index untouched") {
    val root = tmp("alc-d30-emptybatch")
    VersionedBand.build(docs.filter($"doc_id" < 20), root)
    val before = bandRows(root)
    assert(Dedup.incrementalLshPairsFromVersioned(spark, root, docs.limit(0))
      .count() === 0L)
    assert(bandRows(root) === before)
  }

  test("band index: build on an empty corpus reads back empty with the declared schema") {
    val root = tmp("alc-band-empty")
    VersionedBand.build(docs.limit(0), root)
    val back = VersionedBand.readLive(spark, root)
    assert(back.count() === 0L)
    assert(back.columns.toSet ===
      Set("doc_id", "sig", "band", "bkey", "batch_id"))
  }

  test("band index: append a real batch into an empty build serves exactly the batch") {
    val root = tmp("alc-band-appendinto")
    VersionedBand.build(docs.limit(0), root)
    val batch = docs.filter($"doc_id" < 10)
    VersionedBand.append(spark, batch, root, batchId = "day2")
    val back = VersionedBand.readLive(spark, root)
    assert(back.select($"doc_id").distinct().count() ===
      batch.count())
    assert(back.filter($"batch_id" =!= "day2").count() === 0L)
  }

  test("band index: append an EMPTY batch leaves the artifact untouched") {
    val root = tmp("alc-band-appendempty")
    VersionedBand.build(docs.filter($"doc_id" < 10), root)
    val before = bandRows(root)
    val leavesBefore = VersionedBand.currentManifest(root).get.leaves
    VersionedBand.append(spark, docs.limit(0), root, batchId = "day2")
    assert(VersionedBand.currentManifest(root).get.leaves === leavesBefore)
    assert(bandRows(root) === before)
  }

  // ---- versioned IVF index (s16/s17) -------------------------------------

  private def vprobe(root: String, queries: DataFrame): Seq[_] =
    operators.VersionedIvf.probe(spark, root, queries, k = 5, nprobe = 2)
      .orderBy($"qid", $"rank").collect().toSeq

  test("versioned: a writer that dies MID-APPEND leaves the prior snapshot serving") {
    val root = tmp("alc-vivf-crash")
    val corpus = emb.filter($"vec_id" < 60)
    operators.VersionedIvf.build(corpus, root, nlist = 4)
    val qs = emb.filter($"vec_id" < 3)
    val before = vprobe(root, qs)
    // simulate the crash window: the writer landed data AND staged the
    // manifest but died before the pointer flip — readers must resolve
    // the OLD version untouched
    val orphanData = java.nio.file.Paths.get(root, "data", "v00000002-append",
      "cid=0", "batch_id=day2")
    java.nio.file.Files.createDirectories(orphanData)
    java.nio.file.Files.writeString(orphanData.resolve("part-garbage.parquet"),
      "not parquet at all")
    graft.sources.VersionedArtifact.stage(root, "v00000002", Seq(
      "centroids data/v00000001-cents",
      "batch base", "batch day2",
      "leaf 0 day2 data/v00000002-append/cid=0/batch_id=day2"),
      base = Some("v00000001"))
    assert(vprobe(root, qs) === before,
      "a staged-but-unpublished version leaked into the read path")
    // the RETRIED append commits a fresh version past the orphan and wins
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 60 && $"vec_id" < 80), root, "day2")
    val after = vprobe(root, qs)
    assert(after !== before, "retried append after the crash never landed")
    // the same window for a TAKEDOWN: the delete's survivor segment is
    // written and its manifest staged, but the writer dies before the
    // flip — the prior version keeps serving row-identical, and vacuum
    // reclaims none of its leaves
    import graft.sources.{VersionedArtifact => VA}
    val live = VA.currentName(root).get
    val m = operators.VersionedIvf.currentManifest(root).get
    val rowsBefore = operators.VersionedIvf.livePostings(spark, root)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    val hit = m.leaves.maxBy(_.path)
    val crashVer = VA.nextName(root)
    val leafRel = s"data/$crashVer-delete-wcrash/cid=${hit.cid}/batch_id=${hit.batch}"
    val leafRows = spark.read.parquet(s"$root/${hit.path}")
    leafRows.filter($"vec_id" =!= leafRows.agg(min($"vec_id")).head().getLong(0))
      .write.parquet(s"$root/$leafRel")
    val kept = m.leaves.filterNot(_ == hit) :+ hit.copy(path = leafRel)
    VA.stage(root, crashVer, Seq(s"centroids ${m.centroids}") ++
      m.batches.map(b => s"batch $b") ++
      kept.map(l => s"leaf ${l.cid} ${l.batch} ${l.path}"), base = Some(live))
    def rowsNow() = operators.VersionedIvf.livePostings(spark, root)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(rowsNow() === rowsBefore, "a staged delete leaked into the read path")
    assert(vprobe(root, qs) === after)
    val removed = operators.VersionedIvf.vacuum(root, keepVersions = 1)
    val served = (m.centroids +: m.leaves.map(_.path)).map(_.split("/")(1)).toSet
    assert(!removed.exists(served), s"vacuum reclaimed a served leaf: $removed")
    assert(rowsNow() === rowsBefore && vprobe(root, qs) === after,
      "vacuum broke the version the crashed delete left serving")
  }

  test("versioned: vacuum never touches what the live version serves") {
    val root = tmp("alc-vivf-vacuum")
    val corpus = emb.filter($"vec_id" < 60)
    operators.VersionedIvf.build(corpus, root, nlist = 4)
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 60 && $"vec_id" < 80), root, "day2")
    operators.VersionedIvf.compact(spark, root)
    val qs = emb.filter($"vec_id" < 3)
    val before = vprobe(root, qs)
    val removed = operators.VersionedIvf.vacuum(root, keepVersions = 1)
    // superseded build/append postings are reclaimed; the compacted
    // segment and the centroids the live manifest references survive
    assert(removed.exists(_.contains("-build")),
      s"vacuum reclaimed nothing: $removed")
    assert(!removed.exists(_.contains("-compact")))
    assert(!removed.exists(_.contains("-cents")))
    assert(vprobe(root, qs) === before, "vacuum broke the live snapshot")
    // idempotent: nothing left to reclaim
    assert(operators.VersionedIvf.vacuum(root, keepVersions = 1).isEmpty)
  }

  test("versioned: exactly-once append — a replayed batch id is a metadata no-op") {
    val root = tmp("alc-vivf-replay")
    operators.VersionedIvf.build(emb.filter($"vec_id" < 60), root, nlist = 4)
    val batch = emb.filter($"vec_id" >= 60 && $"vec_id" < 80)
    val v1 = operators.VersionedIvf.append(spark, batch, root, "day2")
    val v2 = operators.VersionedIvf.append(spark, batch, root, "day2")
    assert(v1 === v2, "replayed append committed a new version")
    assert(graft.sources.VersionedArtifact.currentName(root) === Some(v1))
  }

  test("versioned: degenerate lifecycle — empty build, append-into-empty, retrain-on-empty") {
    val root = tmp("alc-vivf-empty")
    operators.VersionedIvf.build(emb.limit(0), root, nlist = 4)
    assert(vprobe(root, emb.filter($"vec_id" < 3)).isEmpty)
    // no centroids trained: a later batch has nothing to assign against
    operators.VersionedIvf.append(spark, emb.filter($"vec_id" < 20), root, "day2")
    assert(vprobe(root, emb.filter($"vec_id" < 3)).isEmpty)
    // retrain over zero postings: commits an empty quantizer, no throw
    operators.VersionedIvf.retrain(spark, root)
    assert(vprobe(root, emb.filter($"vec_id" < 3)).isEmpty)
    // delete on empty: metadata no-op
    operators.VersionedIvf.delete(spark, root, emb.limit(0).select($"vec_id"))
    assert(vprobe(root, emb.filter($"vec_id" < 3)).isEmpty)
  }

  test("versioned: delete-everything then probe — empty, and batch ids stay committed") {
    val root = tmp("alc-vivf-delall")
    val corpus = emb.filter($"vec_id" < 40)
    operators.VersionedIvf.build(corpus, root, nlist = 4)
    operators.VersionedIvf.delete(spark, root, corpus.select($"vec_id"))
    assert(vprobe(root, emb.filter($"vec_id" < 3)).isEmpty)
    // the committed "base" batch id survives the takedown — a replayed
    // build-batch append would still be refused as already-committed
    val m = operators.VersionedIvf.currentManifest(root).get
    assert(m.batches === Seq("base"))
    assert(m.leaves.isEmpty)
  }

  test("versioned band: crash window serves prior snapshot; replay no-op; empty build") {
    val root = tmp("alc-vband")
    operators.VersionedBand.build(docs.filter($"doc_id" < 30), root)
    val before = operators.VersionedBand.readLive(spark, root)
      .collect().map(_.toSeq).toSet
    // crash window: stage a manifest without flipping — readers keep v1
    graft.sources.VersionedArtifact.stage(root, "v00000002", Seq(
      "batch base", "batch day2",
      "leaf day2 data/v00000002-append/batch_id=day2"),
      base = Some("v00000001"))
    assert(operators.VersionedBand.readLive(spark, root)
      .collect().map(_.toSeq).toSet === before)
    // exactly-once: the same batch id twice commits once
    val batch = docs.filter($"doc_id" >= 30 && $"doc_id" < 40)
    val v1 = operators.VersionedBand.append(spark, batch, root, "day2")
    val v2 = operators.VersionedBand.append(spark, batch, root, "day2")
    assert(v1 === v2)
    // crash window for a TAKEDOWN: the delete's survivor leaf is written
    // and its manifest staged, but never published — the prior version
    // keeps serving row-identical and vacuum reclaims none of its leaves
    import graft.sources.{VersionedArtifact => VA}
    val m = operators.VersionedBand.currentManifest(root).get
    val served = operators.VersionedBand.readLive(spark, root)
      .collect().map(_.toSeq).toSeq.sortBy(_.take(3).toString)
    val hit = m.leaves.maxBy(_.path)
    val crashVer = VA.nextName(root)
    val leafRel =
      s"data/$crashVer-delete-wcrash/batch_id=${hit.batch}/bucket=${hit.bucket}"
    val leafRows = spark.read.parquet(s"$root/${hit.path}")
    leafRows.filter($"doc_id" =!= leafRows.agg(min($"doc_id")).head().getLong(0))
      .write.parquet(s"$root/$leafRel")
    VA.stage(root, crashVer, Seq(s"buckets ${m.buckets}") ++
      m.batches.map(b => s"batch $b") ++
      (m.leaves.filterNot(_ == hit) :+ hit.copy(path = leafRel))
        .map(l => s"leaf ${l.batch} ${l.path}"), base = Some(v1))
    def servedNow() = operators.VersionedBand.readLive(spark, root)
      .collect().map(_.toSeq).toSeq.sortBy(_.take(3).toString)
    assert(servedNow() === served, "a staged delete leaked into the read path")
    val removed = operators.VersionedBand.vacuum(root, keepVersions = 1)
    assert(!removed.exists(m.leaves.map(_.path.split("/")(1)).toSet),
      s"vacuum reclaimed a served leaf: $removed")
    assert(servedNow() === served,
      "vacuum broke the version the crashed delete left serving")
    // empty build: read-back empty with declared schema, no throw
    val root2 = tmp("alc-vband-empty")
    operators.VersionedBand.build(docs.limit(0), root2)
    assert(operators.VersionedBand.readLive(spark, root2).count() === 0L)
    operators.VersionedBand.delete(spark, root2, docs.limit(0).select($"doc_id"))
    assert(operators.VersionedBand.readLive(spark, root2).count() === 0L)
  }

  // ---- concurrent writers (r13 verdict #1) -------------------------------

  test("CAS publish: a writer whose base was superseded is refused — no committed line is ever lost") {
    import graft.sources.{CommitConflictException, VersionedArtifact => VA}
    val root = tmp("alc-cas")
    VA.stage(root, "v00000001", Seq("payload w0"), base = None)
    VA.publish(root, "v00000001")
    // W1 and W2 both derive from v1; W1 claims v2, W2 (seeing v2 staged)
    // claims v3 — still derived from v1
    VA.stage(root, "v00000002", Seq("payload w0", "payload w1"),
      base = Some("v00000001"))
    VA.stage(root, "v00000003", Seq("payload w0", "payload w2"),
      base = Some("v00000001"))
    VA.publish(root, "v00000002") // W1 wins
    // W2's manifest was derived from v1 — committing it would DROP W1's
    // line (the lost update); publish must refuse and surface a retry
    intercept[CommitConflictException] { VA.publish(root, "v00000003") }
    assert(VA.currentName(root) === Some("v00000002"))
    assert(VA.readManifest(root, "v00000002").contains("payload w1"))
    assert(!VA.listVersions(root).contains("v00000003"),
      "the losing stage must be removed, not left pinning data dirs")
    // W2 retries from the NEW live snapshot: merged manifest commits
    val retry = VA.nextName(root)
    VA.stage(root, retry,
      Seq("payload w0", "payload w1", "payload w2"), base = Some("v00000002"))
    VA.publish(root, retry)
    assert(VA.currentName(root) === Some(retry))
    assert(VA.readManifest(root, retry).toSet ===
      Set("payload w0", "payload w1", "payload w2"),
      "after the retry every writer's committed line survives")
  }

  test("CAS stage: two writers racing to the SAME version name — exactly one claims it") {
    import graft.sources.{CommitConflictException, VersionedArtifact => VA}
    val root = tmp("alc-cas-name")
    VA.stage(root, "v00000001", Seq("base payload"), base = None)
    VA.publish(root, "v00000001")
    VA.stage(root, "v00000002", Seq("writer one"), base = Some("v00000001"))
    intercept[CommitConflictException] {
      VA.stage(root, "v00000002", Seq("writer two"), base = Some("v00000001"))
    }
    assert(VA.readManifest(root, "v00000002") === Seq("writer one"),
      "the second stage must never overwrite the first writer's manifest")
  }

  test("versioned IVF: stale compactor racing a committed append cannot drop the appended leaves") {
    // the exact r13 lost-update scenario, deterministically interleaved:
    // a compactor derives its manifest from v1; an appender commits v2
    // first; the compactor's publish must refuse — v2's leaves survive
    import graft.sources.{CommitConflictException, VersionedArtifact => VA}
    val root = tmp("alc-vivf-stale-compact")
    operators.VersionedIvf.build(emb.filter($"vec_id" < 60), root, nlist = 4)
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 60 && $"vec_id" < 80), root, "day2") // v2 commits
    val staleLines = VA.readManifest(root, "v00000001") // compactor's stale view
    val ver = VA.nextName(root)
    VA.stage(root, ver, staleLines, base = Some("v00000001"))
    intercept[CommitConflictException] { VA.publish(root, ver) }
    val liveIds = operators.VersionedIvf.livePostings(spark, root)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert((60L until 80L).forall(liveIds.contains),
      "the committed append's leaves were lost to the stale compactor")
  }

  test("versioned IVF: two concurrent appenders — both batches commit, none lost") {
    val root = tmp("alc-vivf-race")
    val seqRoot = tmp("alc-vivf-race-seq")
    operators.VersionedIvf.build(emb.filter($"vec_id" < 60), root, nlist = 4)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appender(lo: Int, hi: Int, id: String) = new Thread(() =>
      try operators.VersionedIvf.append(spark,
        emb.filter($"vec_id" >= lo && $"vec_id" < hi), root, id)
      catch { case t: Throwable => failures.add(t) })
    val t1 = appender(60, 80, "day2a")
    val t2 = appender(80, 100, "day2b")
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(failures.isEmpty, s"appender threw: ${failures.peek()}")
    val m = operators.VersionedIvf.currentManifest(root).get
    assert(m.batches.toSet === Set("base", "day2a", "day2b"))
    // the racing artifact serves exactly what the sequential one does
    operators.VersionedIvf.build(emb.filter($"vec_id" < 60), seqRoot, nlist = 4)
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 60 && $"vec_id" < 80), seqRoot, "day2a")
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 80 && $"vec_id" < 100), seqRoot, "day2b")
    val qs = emb.filter($"vec_id" < 3)
    assert(vprobe(root, qs) === vprobe(seqRoot, qs),
      "racing appenders diverged from the sequential artifact")
  }

  test("cross-process writers: the flock commit lock and CAS hold across a real process boundary") {
    // the in-JVM two-writer tests serialize on the per-root JVM monitor
    // BEFORE the OS file lock is ever contended — this arm spawns a real
    // second JVM (CrossProcessAppendMain) appending concurrently with
    // this process, then publishes a stale pre-spawn stage: both batches
    // must commit (no lost update under cross-process racing) and the
    // stale CAS must refuse against a CURRENT moved by other processes
    import graft.sources.{CommitConflictException, VersionedArtifact => VA}
    import scala.jdk.CollectionConverters._
    val root = tmp("alc-xproc")
    operators.VersionedBand.build(docs.filter($"doc_id" < 30), root) // v1
    // a stale writer (this process) stages v2 derived from v1 and stalls
    VA.stage(root, "v00000002", VA.readManifest(root, "v00000001"),
      base = Some("v00000001"))
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    val cp = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(new java.io.File(_).getAbsolutePath).mkString("", ":", ":/opt/spark/jars/*")
    val cmd = (Seq("java") ++ opens ++ Seq("-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC", "-Xmx2g", "-cp", cp,
      "graft.CrossProcessAppendMain", root, "child",
      "/root/testdata/sf0.001", "30", "40")).asJava
    val log = java.nio.file.Files.createTempFile("alc-xproc", ".log").toFile
    val pb = new ProcessBuilder(cmd)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val child = pb.start()
    // this process appends concurrently — the two writers race for real
    val parentErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try operators.VersionedBand.append(spark,
        docs.filter($"doc_id" >= 40 && $"doc_id" < 50), root, "parent")
      catch { case e: Throwable => parentErr.set(e) })
    t.start()
    val done = child.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    t.join()
    assert(parentErr.get() == null, s"parent append threw: ${parentErr.get()}")
    assert(done, "child JVM timed out")
    assert(child.exitValue() === 0, "child append failed:\n" +
      scala.io.Source.fromFile(log).mkString.takeRight(2000))
    intercept[CommitConflictException] { VA.publish(root, "v00000002") }
    val m = operators.VersionedBand.currentManifest(root).get
    assert(m.batches.toSet === Set("base", "child", "parent"),
      s"a cross-process commit was lost: ${m.batches}")
    // no committed row lost: live content == a one-shot build over the union
    val ref = tmp("alc-xproc-ref")
    operators.VersionedBand.build(docs.filter($"doc_id" < 50), ref)
    def rows(r: String) = operators.VersionedBand.readLive(spark, r)
      .select($"doc_id", $"band", $"bkey").collect().map(_.toSeq).toSet
    assert(rows(root) === rows(ref),
      "cross-process merged artifact diverged from the one-shot build")
  }

  // ---- pinned (asOf) reads + published-only retention --------------------

  test("versioned: a pinned asOf reader is unaffected by publishes and survives default-grace vacuum") {
    val root = tmp("alc-vivf-asof")
    val qs = emb.filter($"vec_id" < 3)
    operators.VersionedIvf.build(emb.filter($"vec_id" < 60), root, nlist = 4)
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 60 && $"vec_id" < 80), root, "day2")
    val pinned = graft.sources.VersionedArtifact.currentName(root).get // v2
    def pinnedProbe() = operators.VersionedIvf
      .probe(spark, root, qs, k = 5, nprobe = 2, asOf = Some(pinned))
      .orderBy($"qid", $"rank").collect().toSeq
    val r1 = pinnedProbe()
    operators.VersionedIvf.compact(spark, root) // CURRENT moves to v3
    assert(pinnedProbe() === r1, "a publish changed a pinned reader's view")
    operators.VersionedIvf.vacuum(root) // default grace keeps the pin
    assert(pinnedProbe() === r1, "grace-window vacuum broke a pinned reader")
    // outside the window the pin fails LOUDLY, never silently re-resolves
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 100 && $"vec_id" < 110), root, "day3")
    operators.VersionedIvf.vacuum(root, keepVersions = 1)
    intercept[IllegalArgumentException] { pinnedProbe() }
    // band artifact: same contract on readLive(asOf)
    val broot = tmp("alc-vband-asof")
    operators.VersionedBand.build(docs.filter($"doc_id" < 30), broot)
    val bpin = graft.sources.VersionedArtifact.currentName(broot).get
    val b1 = operators.VersionedBand.readLive(spark, broot, asOf = Some(bpin))
      .collect().map(_.toSeq).toSet
    operators.VersionedBand.append(spark,
      docs.filter($"doc_id" >= 30 && $"doc_id" < 40), broot, "day2")
    assert(operators.VersionedBand.readLive(spark, broot, asOf = Some(bpin))
      .collect().map(_.toSeq).toSet === b1)
  }

  test("vacuum: a staged-but-never-published orphan cannot consume a retention-grace slot") {
    // r13 ADVICE: an orphan manifest (crashed writer, version <= CURRENT
    // after the retry commits past it) must not displace the real
    // previous published version from the grace window
    import graft.sources.{VersionedArtifact => VA}
    val root = tmp("alc-vivf-orphan-grace")
    val qs = emb.filter($"vec_id" < 3)
    operators.VersionedIvf.build(emb.filter($"vec_id" < 60), root, nlist = 4) // v1
    val v1 = VA.currentName(root).get
    val r1 = operators.VersionedIvf
      .probe(spark, root, qs, k = 5, nprobe = 2, asOf = Some(v1))
      .orderBy($"qid", $"rank").collect().toSeq
    // a writer stages v2 and dies before publish; the retried append
    // commits v3 (nextName skips the orphan)
    VA.stage(root, "v00000002", VA.readManifest(root, v1), base = Some(v1))
    operators.VersionedIvf.append(spark,
      emb.filter($"vec_id" >= 60 && $"vec_id" < 80), root, "day2") // v3
    assert(VA.currentName(root) === Some("v00000003"))
    operators.VersionedIvf.vacuum(root, keepVersions = 2)
    // the grace window is {v1, v3} — PUBLISHED versions — never {v2, v3}:
    // a reader that resolved v1 just before the flip must still finish
    assert(VA.listVersions(root).contains(v1),
      "the orphan displaced the real previous published version")
    assert(!VA.listVersions(root).contains("v00000002"),
      "the never-published orphan manifest must be swept")
    assert(operators.VersionedIvf
      .probe(spark, root, qs, k = 5, nprobe = 2, asOf = Some(v1))
      .orderBy($"qid", $"rank").collect().toSeq === r1,
      "vacuum reclaimed data the grace-window version still serves")
  }

  test("versioned: a full REBUILD carries committed batch ids — replayed append stays a no-op") {
    // r13 ADVICE: rebuild used to reset the batch list, so a replayed
    // foreachBatch trigger after a rebuild whose corpus already contained
    // the batch re-committed it — duplicate postings in the live snapshot
    val root = tmp("alc-vivf-rebuild-batches")
    val day1 = emb.filter($"vec_id" < 60)
    val day2 = emb.filter($"vec_id" >= 60 && $"vec_id" < 80)
    operators.VersionedIvf.build(day1, root, nlist = 4)
    operators.VersionedIvf.append(spark, day2, root, "day2")
    // full rebuild over the union (the corpus already contains day2 rows)
    val rebuilt = operators.VersionedIvf.build(day1.unionByName(day2), root,
      nlist = 4)
    val replay = operators.VersionedIvf.append(spark, day2, root, "day2")
    assert(replay === rebuilt, "replayed batch re-committed after a rebuild")
    val ids = operators.VersionedIvf.livePostings(spark, root)
      .groupBy($"vec_id").count().filter($"count" > 1).count()
    assert(ids === 0L, "duplicate postings after post-rebuild replay")
    // band sibling
    val broot = tmp("alc-vband-rebuild-batches")
    val bday1 = docs.filter($"doc_id" < 30)
    val bday2 = docs.filter($"doc_id" >= 30 && $"doc_id" < 40)
    operators.VersionedBand.build(bday1, broot)
    operators.VersionedBand.append(spark, bday2, broot, "day2")
    val brebuilt = operators.VersionedBand.build(bday1.unionByName(bday2), broot)
    assert(operators.VersionedBand.append(spark, bday2, broot, "day2") === brebuilt)
  }

  test("registered versioned queries are re-execution-identical in one JVM (the Bench contract)") {
    // Bench executes every registered query FOUR times in one process
    // against the same per-pid RunDirs root, and a versioned build
    // deliberately carries committed batch ids forward (exactly-once
    // across rebuilds) — so these queries must wipe their root
    // (RunDirs.freshDir). A regression to a carried root would no-op
    // the appends on run 2 and probe a silently smaller corpus.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("d28_band_index_lifecycle",
        "d30_incremental_dedup_from_index", "d31_band_index_delete",
        "d32_band_versioned_lifecycle",
        "d33_incremental_dedup_versioned", "d34_dedup_time_travel",
        "s10_ivf_index_lifecycle", "s11_ivf_incremental",
        "s12_ivf_compaction", "s13_ivf_filtered_search",
        "s14_ivf_index_stats", "s15_ivf_delete",
        "s16_ivf_versioned_lifecycle",
        "s17_ivf_retrain", "st16_stream_index_maintenance")) {
      val q = SparkEntry.queries(name)
      val r1 = q(spark, dir).collect().map(_.toSeq).toSeq
      val r2 = q(spark, dir).collect().map(_.toSeq).toSeq
      assert(r1.nonEmpty, s"$name returned nothing")
      assert(r1 === r2, s"$name diverged on re-execution in one JVM")
    }
  }

  // ---- trained-tokenizer artifact (t18/t19/e07) --------------------------

  test("BPE artifact: train on an empty corpus — loads empty, encode gives every doc a 0-count row") {
    val dir = tmp("alc-bpe-empty")
    TextOps.bpeSaveTrained(docs.limit(0), dir, merges = 4)
    assert(TextOps.bpeLoadMerges(spark, dir).count() === 0L)
    assert(TextOps.bpeLoadVocab(spark, dir).count() === 0L)
    // encoding real docs against the empty vocabulary: every document
    // keeps its row with zero counts (the left-join contract), because a
    // downstream packer must see the full doc set either way
    val enc = TextOps.bpeEncodeWith(docs.filter($"doc_id" < 5),
      TextOps.bpeLoadVocab(spark, dir)).collect()
    assert(enc.length === docs.filter($"doc_id" < 5).count().toInt)
    assert(enc.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
  }

  test("BPE artifact: encode ZERO docs against a real vocabulary — empty result, no throw") {
    val dir = tmp("alc-bpe-zerodocs")
    TextOps.bpeSaveTrained(docs.filter($"doc_id" < 20), dir, merges = 4)
    assert(TextOps.bpeEncodeWith(docs.limit(0),
      TextOps.bpeLoadVocab(spark, dir)).count() === 0L)
  }

  // ---- round 15: time-based retention, vacuum writer-safety, bucketed
  // ---- band takedown ------------------------------------------------------

  test("vacuum: time-based retention — a pinned reader inside maxAge survives, outside fails loudly") {
    import graft.sources.{VersionedArtifact => VA}
    val root = tmp("alc-vband-maxage")
    operators.VersionedBand.build(docs.filter($"doc_id" < 30), root) // v1
    val pin = VA.currentName(root).get
    val pinned = operators.VersionedBand
      .readLive(spark, root, asOf = Some(pin)).collect().map(_.toSeq).toSet
    operators.VersionedBand.append(spark,
      docs.filter($"doc_id" >= 30 && $"doc_id" < 40), root, "day2") // v2
    operators.VersionedBand.append(spark,
      docs.filter($"doc_id" >= 40 && $"doc_id" < 50), root, "day3") // v3
    // keepVersions alone would sweep v1 and v2; the age window (all three
    // published milliseconds ago) keeps them — the kept set is the UNION
    operators.VersionedBand.vacuum(root, keepVersions = 1,
      maxAgeMs = Some(60L * 60 * 1000))
    assert(VA.publishedVersions(root).contains(pin),
      "age-window retention failed to keep a version keepVersions would sweep")
    assert(operators.VersionedBand.readLive(spark, root, asOf = Some(pin))
      .collect().map(_.toSeq).toSet === pinned,
      "a pinned reader inside the age window lost its snapshot")
    // without the age window the count floor applies: v1/v2 swept, and
    // the stale pin fails LOUDLY instead of silently re-resolving
    operators.VersionedBand.vacuum(root, keepVersions = 1)
    intercept[IllegalArgumentException] {
      operators.VersionedBand.readLive(spark, root, asOf = Some(pin)).collect()
    }
  }

  test("vacuum: a never-referenced young data dir is shielded (in-flight writer), an old one reclaimed") {
    import graft.sources.{VersionedArtifact => VA}
    val root = tmp("alc-vband-orphanage")
    operators.VersionedBand.build(docs.filter($"doc_id" < 30), root) // v1
    operators.VersionedBand.append(spark,
      docs.filter($"doc_id" >= 30 && $"doc_id" < 40), root, "day2") // v2
    // an in-flight writer's segment: tagged with a superseded version,
    // referenced by NO manifest (it has not staged yet — r14 ADVICE medium)
    val inflight = java.nio.file.Paths.get(root, "data",
      "v00000001-append-w999x1")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.parquet"), "x")
    val removed1 = VA.vacuumDataDirs(root, keepVersions = 1)
    assert(!removed1.exists(_.contains("v00000001-append-w999x1")),
      "vacuum reclaimed a young never-referenced dir — a live writer's leaves")
    assert(java.nio.file.Files.exists(inflight))
    // ...but once it is OLD it is a crash orphan and must be collectable
    // (the shield ages the NEWEST mtime in the tree — a live writer
    // shows deep file activity — so every entry must be aged)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    java.nio.file.Files.setLastModifiedTime(inflight, old)
    java.nio.file.Files.setLastModifiedTime(
      inflight.resolve("part-0.parquet"), old)
    val removed2 = VA.vacuumDataDirs(root, keepVersions = 1)
    assert(removed2.exists(_.contains("v00000001-append-w999x1")),
      s"vacuum left an aged-out crash orphan behind: $removed2")
    // stale tmp sweep (r14 ADVICE low): an old leaked manifest tmp goes,
    // a young one stays
    val vdir = java.nio.file.Paths.get(root, "versions")
    val oldTmp = vdir.resolve(".v00000099.mf.tmp-99999-1")
    val newTmp = vdir.resolve(".v00000098.mf.tmp-99999-2")
    java.nio.file.Files.writeString(oldTmp, "orphan")
    java.nio.file.Files.writeString(newTmp, "orphan")
    java.nio.file.Files.setLastModifiedTime(oldTmp, old)
    VA.vacuumDataDirs(root, keepVersions = 1)
    assert(!java.nio.file.Files.exists(oldTmp), "stale manifest tmp not swept")
    assert(java.nio.file.Files.exists(newTmp), "young manifest tmp swept")
  }

  test("corrupt artifact: a live version with no manifest fails loudly, not with a raw read error") {
    import graft.sources.{VersionedArtifact => VA}
    val root = tmp("alc-vband-corrupt")
    operators.VersionedBand.build(docs.filter($"doc_id" < 30), root)
    val live = VA.currentName(root).get
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "versions", s"$live.mf"))
    val e = intercept[IllegalStateException] { VA.publishedVersions(root) }
    assert(e.getMessage.contains("no manifest"),
      s"wrong failure mode: ${e.getMessage}")
  }

  test("band takedown is (batch, bucket)-leaf-localized — one doc rewrites one leaf, untouched leaves carry by reference") {
    import graft.operators.VersionedBand
    val root = tmp("alc-vband-bucketloc")
    VersionedBand.build(docs.filter($"doc_id" < 60), root)
    VersionedBand.append(spark,
      docs.filter($"doc_id" >= 60 && $"doc_id" < 80), root, "day2")
    val before = VersionedBand.currentManifest(root).get
    assert(before.leaves.size > 2,
      "bucket layer missing: expected many (batch, bucket) leaves")
    // delete ONE day-1 document: exactly its (base, bucket(doc)) leaf is
    // affected — pre-bucketing this rewrote the ENTIRE base partition
    // (the whole day-1 corpus at the 100 TB design point, r14 verdict #1)
    VersionedBand.delete(spark, root, docs.filter($"doc_id" === 7)
      .select($"doc_id"))
    val after = VersionedBand.currentManifest(root).get
    val rewritten = after.leaves.filterNot(before.leaves.toSet)
    val carried = after.leaves.filter(before.leaves.toSet)
    assert(rewritten.size <= 1,
      s"one-doc takedown rewrote ${rewritten.size} leaves: $rewritten")
    assert(carried.size >= before.leaves.size - 1,
      "untouched leaves were rewritten instead of carried by reference")
    // and the read equals rebuild-without (the d31/d32 oracle contract)
    val rebuilt = tmp("alc-vband-bucketloc-ref")
    VersionedBand.build(docs.filter($"doc_id" < 80 && $"doc_id" =!= 7), rebuilt)
    assert(VersionedBand.readLive(spark, root)
        .select($"doc_id", $"band", $"bkey").collect().map(_.toSeq).toSet ===
      VersionedBand.readLive(spark, rebuilt)
        .select($"doc_id", $"band", $"bkey").collect().map(_.toSeq).toSet)
  }

  test("versioned tokenizer: a pinned encoder is stable while retrains publish past it (t23 mechanism)") {
    import graft.sources.{VersionedTables => VT}
    val corpus = docs.filter($"doc_id" < 40)
    val t4 = tmp("alc-vtok-m4"); TextOps.bpeSaveTrained(corpus, t4, merges = 4)
    val t1 = tmp("alc-vtok-m1"); TextOps.bpeSaveTrained(corpus, t1, merges = 1)
    val root = tmp("alc-vtok-root")
    TextOps.bpePublishTokenizer(spark, t4, root) // v1 — the pinned tokenizer
    val pin = VT.liveVersion(root).get
    val expected = TextOps.bpeEncodeWith(corpus,
        TextOps.bpeLoadVocab(spark, t4))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    // concurrent retrains publish v2..v4 while the pinned encoder runs —
    // the CAS chain serializes the writers, the pin isolates the reader
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try (1 to 3).foreach { i =>
        TextOps.bpePublishTokenizer(spark, if (i % 2 == 0) t4 else t1, root)
      } catch { case t: Throwable => writerErr.set(t) }
    })
    writer.start()
    try (1 to 3).foreach { _ =>
      val got = TextOps.bpeEncodeWith(corpus,
          TextOps.bpeLoadVocabVersioned(spark, root, asOf = Some(pin)))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      assert(got === expected,
        "a pinned encode diverged while a retrain was publishing")
    } finally writer.join()
    assert(writerErr.get() === null,
      s"concurrent retrain writer failed: ${writerErr.get()}")
    assert(VT.liveVersion(root).get > pin, "no retrain ever published")
    // the LIVE snapshot is the merges-1 tokenizer (the last publish) and
    // its merges/vocab resolve as one snapshot — different counts than
    // the pin on any corpus where merges 2..4 bind
    val liveMerges = TextOps.bpeLoadMergesVersioned(spark, root).count()
    assert(liveMerges === 1L,
      s"live snapshot is not the last-published tokenizer ($liveMerges merges)")
    // a fourth publish derived from the PIN (stale base) must conflict,
    // never silently overwrite the interleaved retrains
    intercept[graft.sources.CommitConflictException] {
      VT.publish(root,
        Seq("merges" -> TextOps.bpeLoadMerges(spark, t4),
          "vocab" -> TextOps.bpeLoadVocab(spark, t4)), base = Some(pin))
    }
  }

  test("band takedown never rewrites a published file, writes one hit leaf") {
    val root = tmp("alc-band-bucketloc-files")
    // 8 buckets: every leaf holds several docs, so the hit leaf keeps
    // survivors and the delete must write exactly one new leaf
    VersionedBand.build(docs.filter($"doc_id" < 60), root, buckets = 8)
    VersionedBand.append(spark, docs.filter($"doc_id" >= 60 && $"doc_id" < 80),
      root, batchId = "day2")
    import scala.jdk.CollectionConverters._
    def leafFiles(): Map[String, Long] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
      try w.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally w.close()
    }
    val before = leafFiles()
    VersionedBand.delete(spark, root,
      docs.filter($"doc_id" === 7).select($"doc_id"))
    val after = leafFiles()
    // every pre-delete file is still there, unmodified (path + mtime):
    // a takedown writes a new segment and never touches published data
    assert(before.forall { case (k, t) => after.get(k).contains(t) },
      "a published leaf file was rewritten or removed")
    val added = after.keySet diff before.keySet
    assert(added.nonEmpty, "delete wrote nothing — probe failed?")
    val addedDirs = added.map(_.split("/").dropRight(1).mkString("/"))
    assert(addedDirs.size === 1,
      s"one-doc takedown wrote ${addedDirs.size} leaf dirs: $addedDirs")
  }
}
