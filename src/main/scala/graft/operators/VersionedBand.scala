package graft.operators

import graft.sources.{CommitConflictException, VersionedArtifact}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The LSH band index under VERSION-POINTER commits — [[VersionedIvf]]'s
  * protocol applied to the d28 artifact (r12 verdict #2 named BOTH
  * indexes): every operation lands immutable leaves plus a manifest and
  * atomically flips CURRENT, so a dedup probe concurrent with a writer
  * reads one committed snapshot, a crashed writer leaves the prior
  * version serving, appends are EXACTLY-ONCE by manifest batch-id
  * membership, compaction is a swap, and vacuum reclaims superseded
  * state. Commits are CAS-protected against CONCURRENT writers (r13
  * verdict #1): each manifest records its base version,
  * [[VersionedArtifact.stage]] claims the version name exclusively, and
  * publish refuses a moved base — [[append]] retries from the new live
  * snapshot (reusing its written segment: band rows are a pure function
  * of the batch, independent of artifact state), while build/delete/
  * compact surface the retryable [[CommitConflictException]] to their
  * scheduler. Segment dirs carry a writer token, so racing writers never
  * cross-write a staging directory. A rebuild carries the prior
  * manifest's committed batch ids forward (r13 ADVICE), keeping replays
  * no-ops across full rebuilds. The band rows themselves are
  * [[Dedup.bandTable]]'s, unchanged — d32 certifies the whole chain
  * against the same from-scratch rebuild oracle as d28/d31, and d33
  * probes a committed snapshot with a day-3 batch.
  *
  * Manifest lines: `batch <id>` (committed batch ids) and
  * `leaf <batchLabel> <relpath>` — a leaf is one batch's band rows from
  * one operation. Every segment writer partitions by `batch_id` AND a
  * content-independent doc-id hash `bucket` ([[Dedup.bandBucket]] — r14
  * verdict #1), so a leaf is one `(batch, bucket)` dir and a takedown
  * rewrites ~1/[[Dedup.BandBuckets]] of each hit batch instead of the
  * whole partition (the `base` batch IS the day-1 corpus — without the
  * bucket level, one opt-out against any day-1 document was a
  * corpus-sized rewrite). The bucket is recoverable from the leaf path
  * (`.../bucket=<n>`), so the manifest line format is unchanged; even
  * compacted leaves keep their `(batch, bucket)` labels and a
  * post-compaction delete stays leaf-localized; the `*` label is
  * accepted on read as a whole-segment leaf for forward compatibility. */
object VersionedBand {

  final case class Leaf(batch: String, path: String) {
    /** The leaf's bucket label, parsed from its path — `*` (match-any,
      * conservatively affected by every delete probe) when the path has
      * no bucket level (a legacy or whole-segment leaf). */
    def bucket: String = path.split("/")
      .find(_.startsWith("bucket=")).map(_.stripPrefix("bucket="))
      .getOrElse("*")
  }
  /** `buckets` is the artifact's takedown-granularity modulus, chosen at
    * [[build]] (the `nlist` convention) and recorded in the manifest so
    * every later append/delete derives the SAME bucket function from
    * the artifact itself — a mismatched modulus would silently miss
    * takedowns. A rebuild may change it (it rewrites every leaf). */
  final case class Manifest(leaves: Seq[Leaf], batches: Seq[String],
      buckets: Int)

  private def render(m: Manifest): Seq[String] =
    Seq(s"buckets ${m.buckets}") ++
      m.batches.map(b => s"batch $b") ++
      m.leaves.map(l => s"leaf ${l.batch} ${l.path}")

  private def parse(lines: Seq[String]): Manifest = {
    val leaves = Seq.newBuilder[Leaf]
    val batches = Seq.newBuilder[String]
    var buckets = Dedup.BandBuckets // pre-bucket manifests: the default
    lines.foreach { ln =>
      ln.split("\\s+").toSeq match {
        case Seq("buckets", n) => buckets = n.toInt
        case Seq("batch", b) => batches += b
        case Seq("leaf", b, p) => leaves += Leaf(b, p)
        case _ => throw new IllegalArgumentException(s"bad manifest line: $ln")
      }
    }
    Manifest(leaves.result(), batches.result(), buckets)
  }

  def currentManifest(root: String): Option[Manifest] =
    currentSnapshot(root).map(_._2)

  /** (version, manifest) resolved together — see [[VersionedIvf]]. */
  private def currentSnapshot(root: String): Option[(String, Manifest)] =
    VersionedArtifact.currentName(root)
      .map(v => (v, parse(VersionedArtifact.readManifest(root, v))))

  private def liveSnapshot(root: String): (String, Manifest) =
    currentSnapshot(root).getOrElse(throw new IllegalStateException(
      s"no committed version under $root — build first"))

  private def segToken(): String = VersionedArtifact.segToken()

  /** Enumerate the `(batch, bucket)` leaf dirs a segment write produced —
    * one driver-side listing per level (a FileSystem listStatus pair in
    * production), metadata-sized: ≤ #batches × [[Dedup.BandBuckets]]
    * entries. A batch dir with no bucket level (legacy layout) lists as
    * one whole-batch leaf. */
  private def listLeafDirs(root: String, segRel: String): Seq[Leaf] = {
    import scala.jdk.CollectionConverters._
    val seg = java.nio.file.Paths.get(root, segRel)
    if (!java.nio.file.Files.isDirectory(seg)) return Seq.empty
    def ls(p: java.nio.file.Path, prefix: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toSeq
        .filter(q => java.nio.file.Files.isDirectory(q) &&
          q.getFileName.toString.startsWith(prefix))
      finally s.close()
    }
    ls(seg, "batch_id=").flatMap { bd =>
      val b = bd.getFileName.toString.stripPrefix("batch_id=")
      val bucketDirs = ls(bd, "bucket=")
      if (bucketDirs.isEmpty) Seq(Leaf(b, s"$segRel/batch_id=$b"))
      else bucketDirs.map { kd =>
        Leaf(b, s"$segRel/batch_id=$b/${kd.getFileName.toString}")
      }
    }
  }

  private def emptyBands(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      Dedup.bandIndexSchema)

  /** The band rows a snapshot serves: one declared-schema read per
    * segment over its manifest-named leaf dirs (basePath resolves
    * batch_id from the path); a compacted segment (label `*`) reads
    * whole, batch_id in-row. Half-landed writer dirs are invisible — no
    * manifest names them. With `asOf`, resolves a pinned PUBLISHED
    * version instead of CURRENT (time travel): a long-running consumer
    * keeps one snapshot while maintenance publishes past it, protected
    * by vacuum's retention grace window. */
  def readLive(spark: SparkSession, root: String,
      asOf: Option[String] = None): DataFrame =
    readLeaves(spark, root,
      parse(VersionedArtifact.resolveManifestLines(root, asOf)).leaves)

  /** One declared-schema read per segment over its manifest-named leaf
    * dirs; `batch_id`/`bucket` resolve from the path (basePath), and the
    * physical `bucket` column is projected away — served rows are
    * layout-agnostic, so the bucket level changes no probe or oracle. */
  private def readLeaves(spark: SparkSession, root: String,
      leaves: Seq[Leaf]): DataFrame = {
    val bySeg = leaves.groupBy(_.path.split("/").take(2).mkString("/"))
      .toSeq.sortBy(_._1)
    val parts = bySeg.map { case (seg, ls) =>
      val paths =
        if (ls.exists(_.batch == "*")) Seq(s"$root/$seg")
        else ls.map(l => s"$root/${l.path}")
      spark.read.schema(Dedup.bandIndexDiskSchema)
        .option("basePath", s"$root/$seg")
        .parquet(paths: _*)
        .select(col("doc_id"), col("sig"), col("band"), col("bkey"),
          col("batch_id"))
    }
    if (parts.isEmpty) emptyBands(spark) else parts.reduce(_ unionByName _)
  }

  /** Land rows as one `(batch_id, bucket)`-partitioned segment, deriving
    * the bucket from doc_id ([[Dedup.bandBucket]] — a pure function, so
    * recomputing it on every write guarantees layout consistency across
    * versions) and clustering on the partition key first so each leaf is
    * one file, not a sliver per task. */
  private def writeSegment(rows: DataFrame, root: String,
      segRel: String, buckets: Int): Seq[Leaf] = {
    Dedup.clusterForBandWrite(
        rows.withColumn("bucket", Dedup.bandBucket(col("doc_id"), buckets)))
      .write.mode("overwrite").partitionBy("batch_id", "bucket")
      .parquet(s"$root/$segRel")
    listLeafDirs(root, segRel)
  }

  /** Build v1, or a full rebuild as v(n+1) — carrying committed batch
    * ids forward so exactly-once survives the rebuild (r13 ADVICE).
    * `buckets` (the takedown-granularity modulus, recorded in the
    * manifest) defaults to the production [[Dedup.BandBuckets]]; gate
    * queries run small, the `nlist` convention. */
  def build(docs: DataFrame, root: String, bands: Int = 8,
      buckets: Int = Dedup.BandBuckets): String = {
    val prior = currentSnapshot(root)
    val base = prior.map(_._1)
    val ver = VersionedArtifact.nextName(root)
    val leaves = writeSegment(
      Dedup.bandTable(docs, bands).withColumn("batch_id", lit("base")),
      root, s"data/$ver-build-${segToken()}", buckets)
    val batches =
      (prior.map(_._2.batches).getOrElse(Seq.empty) :+ "base").distinct
    VersionedArtifact.stage(root, ver,
      render(Manifest(leaves, batches, buckets)), base)
    VersionedArtifact.publish(root, ver)
    ver
  }

  /** Batch-sized append, EXACTLY-ONCE by manifest membership — a
    * replayed batch id returns without writing, even after compaction
    * rewrote the physical leaves. Retries internally on a commit
    * conflict, reusing the written segment (band rows are batch-pure,
    * independent of artifact state) — a lost race costs one metadata
    * round, never a rewrite. */
  def append(spark: SparkSession, newDocs: DataFrame, root: String,
      batchId: String, bands: Int = 8): String = {
    require(batchId != "base" && batchId != "*",
      s"append: batch id '$batchId' is reserved")
    var (base, m) = liveSnapshot(root)
    if (m.batches.contains(batchId)) return base
    var newLeaves = writeSegment(
      Dedup.bandTable(newDocs, bands).withColumn("batch_id", lit(batchId)),
      root, s"data/${VersionedArtifact.nextName(root)}-append-${segToken()}",
      m.buckets)
    var attempt = 0
    while (true) {
      val ver = VersionedArtifact.nextName(root)
      try {
        VersionedArtifact.stage(root, ver,
          render(Manifest(m.leaves ++ newLeaves, m.batches :+ batchId,
            m.buckets)),
          Some(base))
        VersionedArtifact.publish(root, ver)
        return ver
      } catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > 20) throw e
          val (base2, m2) = liveSnapshot(root)
          if (m2.batches.contains(batchId)) return base2 // raced duplicate
          if (m2.buckets != m.buckets) {
            // a rebuild with a different bucket modulus won the race:
            // bucket layout is a function of the modulus, so the segment
            // must re-derive (the VersionedIvf moved-centroids rule)
            newLeaves = writeSegment(
              Dedup.bandTable(newDocs, bands)
                .withColumn("batch_id", lit(batchId)),
              root,
              s"data/${VersionedArtifact.nextName(root)}-append-${segToken()}",
              m2.buckets)
          }
          base = base2; m = m2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Snapshot-isolated takedown, `(batch, bucket)`-leaf-localized (r14
    * verdict #1): the probe finds the hit `(batch, bucket)` pairs — the
    * bucket recomputed from doc_id, a pure function, so it always
    * matches the layout — and ONLY those leaves' survivors rewrite into
    * a fresh segment; untouched leaves (including every unhit bucket of
    * a hit batch — ~(1 − hits/[[Dedup.BandBuckets]]) of it) carry over
    * by reference. A takedown of a day-1 document now rewrites
    * ~1/[[Dedup.BandBuckets]] of the base partition, not the whole
    * corpus-sized thing (BASELINE_SELF "band takedown" has the bytes).
    * Committed batch ids are kept so a post-takedown replay of the
    * batch stays a no-op. CAS-committed — a concurrent committed writer
    * surfaces a retryable [[CommitConflictException]] to the takedown
    * scheduler. */
  def delete(spark: SparkSession, root: String, docIds: DataFrame): String = {
    val (base, m) = liveSnapshot(root)
    val ids = broadcast(docIds.select(col("doc_id")).distinct())
    val hitPairs = readLeaves(spark, root, m.leaves)
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("batch_id"),
        Dedup.bandBucket(col("doc_id"), m.buckets).cast("string").as("bucket"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // a `*` batch or bucket label (whole-segment / legacy leaf —
    // forward compat) is conservatively affected by any hit on its side
    val (affected, untouched) = m.leaves.partition(l =>
      hitPairs.exists { case (b, k) =>
        (l.batch == "*" || l.batch == b) &&
          (l.bucket == "*" || l.bucket == k)
      })
    if (hitPairs.isEmpty) return base
    val ver = VersionedArtifact.nextName(root)
    val survivors = readLeaves(spark, root, affected)
      .join(ids, Seq("doc_id"), "left_anti")
    val newLeaves = writeSegment(survivors, root,
      s"data/$ver-delete-${segToken()}", m.buckets)
    VersionedArtifact.stage(root, ver,
      render(Manifest(untouched ++ newLeaves, m.batches, m.buckets)),
      Some(base))
    VersionedArtifact.publish(root, ver)
    ver
  }

  /** Compaction as a swap: the live rows rewrite into one segment (one
    * file per `(batch, bucket)` leaf, small files collapsed —
    * [[writeSegment]] clusters on the partition key); the pointer
    * flips; superseded dirs wait for [[vacuum]]. CAS-committed — losing
    * to a concurrent append surfaces a retryable
    * [[CommitConflictException]] (re-run over the grown snapshot; the
    * appender can never lose its leaves to us). */
  def compact(spark: SparkSession, root: String): String = {
    val (base, m) = liveSnapshot(root)
    val ver = VersionedArtifact.nextName(root)
    val newLeaves = writeSegment(
      readLeaves(spark, root, m.leaves),
      root, s"data/$ver-compact-${segToken()}", m.buckets)
    VersionedArtifact.stage(root, ver,
      render(Manifest(newLeaves, m.batches, m.buckets)), Some(base))
    VersionedArtifact.publish(root, ver)
    ver
  }

  /** Reclaim superseded versions — count floor plus an optional AGE
    * window (`maxAgeMs`: keep every version published within it, the
    * "readers may hold a snapshot ≤ N hours" retention contract). */
  def vacuum(root: String, keepVersions: Int = 2,
      maxAgeMs: Option[Long] = None,
      orphanGraceMs: Long = VersionedArtifact.defaultOrphanGraceMs): Seq[String] =
    VersionedArtifact.vacuumDataDirs(root, keepVersions, maxAgeMs,
      orphanGraceMs)
}
