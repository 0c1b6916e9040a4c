package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** A commit lost the optimistic-concurrency race: CURRENT moved past the
  * manifest's base version, another writer already staged the same
  * version name, or the commit lock could not be acquired. RETRYABLE —
  * the caller re-reads the live snapshot, re-derives its manifest from
  * it, and commits again ([[graft.operators.VersionedIvf.append]] does
  * exactly that). */
final class CommitConflictException(msg: String)
  extends RuntimeException(msg)

/** Version-pointer commits for filesystem artifacts (r12 verdict #2).
  *
  * An artifact rewritten in place — an append as a partition overwrite,
  * a compaction as a copy — lets a probe CONCURRENT with a writer, or a
  * crash mid-commit, observe a partially-landed batch: retry-idempotence
  * protects the writer, nothing protects the reader. The standard
  * public-knowledge fix (the
  * Iceberg/Delta commit shape) is snapshot isolation via an atomic
  * pointer: a writer lands a COMPLETE new version (immutable data files +
  * a manifest enumerating them), then flips one pointer file with an
  * atomic rename; a reader resolves the pointer once and reads only files
  * the manifest names, so it sees the pre-commit or post-commit snapshot,
  * never a mix. Existing data files are NEVER mutated or deleted by a
  * commit — only [[vacuumDataDirs]] reclaims them, and only for versions
  * outside the retention window.
  *
  * CONCURRENT WRITERS (r13 verdict #1) are safe by optimistic
  * concurrency, exactly the Iceberg/Delta commit rule:
  *   - every staged manifest records its BASE — the version the writer
  *     derived it from (`#base` protocol line, invisible to callers);
  *   - [[stage]] claims its version name with an O_EXCL-strength
  *     primitive (`Files.createLink` — link(2) never replaces), so two
  *     writers that race to the same name produce one winner and one
  *     [[CommitConflictException]], never a silent overwrite;
  *   - [[publish]] takes a commit lock, re-reads CURRENT, and flips ONLY
  *     if it still equals the staged base — a writer whose base was
  *     superseded (its manifest would silently drop the other writer's
  *     committed leaves: the classic lost update) gets a retryable
  *     conflict and its orphan manifest removed.
  * Exactly one writer wins each version; a loser retries from the new
  * live snapshot.
  *
  * The CURRENT pointer file IS the publish history: each publish
  * rewrites it (atomically, via rename) with the new version APPENDED
  * as the last line, so the live pointer and the served-version log can
  * never disagree — there is no crash window in which a version is
  * logged but never served or served but never logged. The history lets
  * [[vacuumDataDirs]] tell a genuinely served version from a
  * staged-but-never-published crash orphan (r13 ADVICE: an orphan must
  * not consume a retention-grace slot) and lets [[publishedVersions]]
  * validate pinned asOf reads. The history is truncated to the last
  * [[historyKeep]] entries at each publish — far beyond any retention
  * window — so the pointer file stays bounded on an indefinitely
  * maintained artifact.
  *
  * The commit lock is an OS file lock (flock semantics via
  * `FileChannel.tryLock`), taken after a per-root JVM monitor: the OS
  * releases it when the holding process dies, so there is no stale-pid
  * heuristic to race on (a pid-liveness check is both breakable — a
  * waiter can evict a live holder that reacquired between the read and
  * the break — and wedgeable under pid reuse). A wedged-but-alive
  * holder surfaces as a retryable conflict at the acquisition deadline.
  *
  * Layout under an artifact root:
  * {{{
  *   <root>/CURRENT              — publish history, one version per line;
  *                                 the LAST line is the live version
  *   <root>/.commit.lock         — the flock file (never deleted: unlinking
  *                                 a locked file would split-brain a later
  *                                 opener onto a fresh inode)
  *   <root>/versions/<name>.mf   — that version's manifest (caller-authored
  *                                 lines after the #base protocol line)
  *   <root>/data/<ver>-<op>.../  — immutable data dirs, tagged with the
  *                                 version current when the writer started
  *                                 (ties orphans to writers for vacuum)
  * }}}
  *
  * `Files.move(..., ATOMIC_MOVE)` is atomic on POSIX rename semantics and
  * `Files.createLink` is atomic-exclusive on link(2) (this deployment);
  * on an object store the same protocol runs on a conditional-put /
  * if-none-match primitive. Manifests are plain text lines — the format
  * is the caller's (see [[graft.operators.VersionedIvf]]); this object
  * only guarantees the commit protocol.
  */
object VersionedArtifact {

  private def currentFile(root: String): Path = Paths.get(root, "CURRENT")
  private def versionsDir(root: String): Path = Paths.get(root, "versions")
  def dataDir(root: String): Path = Paths.get(root, "data")

  private val tmpSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Writer-unique segment-dir suffix shared by every typed artifact
    * (band/IVF/tables): racing writers must never address the same
    * staging directory. One definition, so a future change to the
    * uniqueness scheme (e.g. a random component for cross-HOST
    * uniqueness on shared storage, which pid+seq alone does not give)
    * lands everywhere at once. */
  private[graft] def segToken(): String =
    s"w${ProcessHandle.current().pid()}x${tmpSeq.incrementAndGet()}"

  /** Publish-history bound: CURRENT keeps this many trailing entries —
    * orders of magnitude past any retention window, while keeping the
    * pointer file O(1) on an indefinitely maintained artifact. */
  private val historyKeep = 1024

  /** The CURRENT file's publish history, oldest first, as
    * (version, publishEpochMillis); empty if the artifact has never
    * committed. The last entry is the live version. Each history line is
    * `<name> <epochMillis>`; a bare `<name>` line (written before the
    * timestamp protocol) parses with timestamp 0 — always outside any
    * age window, so time-based retention treats it as arbitrarily old. */
  private def currentHistory(root: String): Seq[(String, Long)] = {
    val f = currentFile(root)
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
      .map { ln =>
        ln.split("\\s+") match {
          case Array(n) => (n, 0L)
          case Array(n, ts) => (n, try ts.toLong catch { case _: NumberFormatException => 0L })
          case parts => (parts(0), 0L)
        }
      }
  }

  /** The live version name, if the artifact has ever committed. */
  def currentName(root: String): Option[String] =
    currentHistory(root).lastOption.map(_._1)

  /** Manifest lines of a committed version — protocol lines (`#…`) are
    * this object's, never surfaced to the caller's parser. */
  def readManifest(root: String, version: String): Seq[String] =
    Files.readAllLines(versionsDir(root).resolve(s"$version.mf"))
      .asScala.toSeq.filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The staged base version recorded by [[stage]] — the version the
    * writer derived its manifest from; None = staged against an
    * uncommitted (fresh) artifact. */
  def baseOf(root: String, version: String): Option[String] = {
    val mf = versionsDir(root).resolve(s"$version.mf")
    if (!Files.exists(mf)) return None
    Files.readAllLines(mf).asScala
      .find(_.startsWith("#base "))
      .map(_.stripPrefix("#base ").trim)
      .filter(_ != "-")
  }

  /** All version names with a manifest on disk, ascending. Includes
    * versions staged past CURRENT by an in-flight (or crashed) writer. */
  def listVersions(root: String): Seq[String] = {
    val d = versionsDir(root)
    if (!Files.exists(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".mf"))
        .map(_.stripSuffix(".mf")).toSeq.sorted
      finally s.close()
    }
  }

  /** Versions that were actually PUBLISHED (the pointer flipped to them
    * at some point — the CURRENT file's own history), ascending,
    * restricted to ones whose manifest still exists (vacuum sweeps the
    * manifests of versions outside the retention window, after which
    * they are no longer pinnable). The live version must always be
    * present — it is the history's last entry and its manifest is never
    * swept by this protocol — so a missing live manifest is artifact
    * corruption and fails LOUDLY here (r14 ADVICE: previously the live
    * name was re-appended unconditionally, so a corrupted artifact
    * passed the asOf require() and surfaced as a raw NoSuchFileException
    * from readManifest instead of the documented contract error). */
  def publishedVersions(root: String): Seq[String] = {
    val hist = currentHistory(root).map(_._1)
    if (hist.isEmpty) Seq.empty
    else {
      val have = listVersions(root).toSet
      if (!have.contains(hist.last))
        throw new IllegalStateException(
          s"live version ${hist.last} has no manifest under $root/versions — " +
            "the artifact is corrupt (manifests of published versions are " +
            "only swept once superseded AND outside the retention window)")
      hist.filter(have.contains).distinct.sorted
    }
  }

  /** Publish timestamps (epoch millis) by version, from the CURRENT
    * history — the input to time-based retention. A version can appear
    * once; pre-timestamp history lines report 0 (arbitrarily old). */
  def publishTimes(root: String): Map[String, Long] =
    currentHistory(root).toMap

  /** Manifest lines a READ should serve: the live version's, or — for a
    * pinned (time-travel) reader — an explicitly named PUBLISHED version
    * still inside vacuum's retention window. A pinned reader is
    * unaffected by concurrent publishes; a pin outside the window fails
    * loudly instead of silently re-resolving. Shared by the typed
    * artifact wrappers so the pinning rule lives in one place. */
  def resolveManifestLines(root: String, asOf: Option[String]): Seq[String] =
    asOf match {
      case None =>
        val cur = currentName(root).getOrElse(throw new IllegalStateException(
          s"no committed version under $root — build first"))
        readManifest(root, cur)
      case Some(v) =>
        require(publishedVersions(root).contains(v),
          s"asOf $v: not a published (or still-retained) version under $root")
        readManifest(root, v)
    }

  /** The name the NEXT commit will take: max staged-or-committed + 1.
    * Read-then-act by design — two writers can compute the same name, and
    * [[stage]]'s exclusive claim turns that race into one winner plus one
    * retryable [[CommitConflictException]]. */
  def nextName(root: String): String = {
    val cur = listVersions(root).lastOption
      .map(_.stripPrefix("v").toLong).getOrElse(0L)
    f"v${cur + 1}%08d"
  }

  /** STAGE a version: durably write its manifest — recording `base`, the
    * version the writer derived it from — WITHOUT flipping the pointer.
    * A reader still resolves the previous version; this is the
    * crash-window state [[publish]] closes. The manifest name is claimed
    * exclusively (link(2) fails on an existing target, atomically), so a
    * second writer staging the same name gets a
    * [[CommitConflictException]] instead of silently overwriting the
    * first writer's staged commit. Returns the staged name. */
  def stage(root: String, name: String, manifestLines: Seq[String],
      base: Option[String]): String = {
    Files.createDirectories(versionsDir(root))
    val mf = versionsDir(root).resolve(s"$name.mf")
    val tmp = versionsDir(root).resolve(
      s".$name.mf.tmp-${ProcessHandle.current().pid()}-${tmpSeq.incrementAndGet()}")
    val lines = s"#base ${base.getOrElse("-")}" +: manifestLines
    Files.writeString(tmp, lines.mkString("", "\n", "\n"),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE,
      StandardOpenOption.SYNC)
    try {
      Files.createLink(mf, tmp) // atomic O_EXCL claim of the version name
      name
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"stage($name): another writer already staged this version under $root")
    } finally {
      Files.deleteIfExists(tmp)
    }
  }

  /** PUBLISH a staged version: under the commit lock, re-read CURRENT and
    * atomically flip it to `name` ONLY if it still equals the base the
    * manifest was staged against — the compare-and-swap that makes a
    * racing writer's lost update impossible. The flip rewrites CURRENT
    * with `name` appended to the publish history (one atomic rename, so
    * pointer and history can never disagree). On a lost race the staged
    * manifest is removed (its data dirs age out via [[vacuumDataDirs]])
    * and a retryable [[CommitConflictException]] is thrown. After this
    * returns, every new reader resolves `name`; a reader that already
    * resolved the old pointer keeps reading the old version's immutable
    * files. Refuses to flip to a version with no staged manifest. */
  def publish(root: String, name: String): Unit = {
    val mf = versionsDir(root).resolve(s"$name.mf")
    require(Files.exists(mf),
      s"publish($name): no staged manifest under $root/versions")
    val base = baseOf(root, name)
    withCommitLock(root) {
      val hist = currentHistory(root)
      val cur = hist.lastOption.map(_._1)
      if (cur != base) {
        // lost the race: the live version moved past our base, so this
        // manifest was derived from a superseded snapshot and committing
        // it would drop the interleaved writer's leaves
        try Files.deleteIfExists(mf) catch { case _: Exception => () }
        throw new CommitConflictException(
          s"publish($name): CURRENT is ${cur.getOrElse("<none>")}, " +
            s"staged base was ${base.getOrElse("<none>")} — re-derive and retry")
      }
      val tmp = Paths.get(root,
        s".CURRENT.tmp-${ProcessHandle.current().pid()}-${tmpSeq.incrementAndGet()}")
      // each history line records its publish wall-clock, the input to
      // time-based retention ("readers may hold a snapshot <= N hours")
      Files.writeString(tmp,
        (hist :+ (name, System.currentTimeMillis()))
          .takeRight(historyKeep)
          .map { case (n, ts) => s"$n $ts" }.mkString("", "\n", "\n"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE, StandardOpenOption.SYNC)
      Files.move(tmp, currentFile(root), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Per-root monitors serializing same-JVM publishers (an OS file lock
    * is per-process; overlapping same-JVM attempts would throw). */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The publish-side mutual exclusion: an OS file lock (flock
    * semantics) on `.commit.lock`, held only across the CAS check +
    * pointer flip. The OS releases it when the holding process dies —
    * no stale-holder heuristic exists to race on or to wedge under pid
    * reuse. A holder that is alive but stuck surfaces as a retryable
    * conflict at the acquisition deadline. The lock FILE is never
    * deleted: unlinking a locked file would hand a later opener a fresh
    * inode and split-brain the lock. On an object store this whole
    * primitive is one conditional put of CURRENT. */
  private def withCommitLock[T](root: String)(f: => T): T = {
    val key = Paths.get(root).toAbsolutePath.normalize.toString
    val monitor = jvmLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(root, ".commit.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var fl: java.nio.channels.FileLock = null
        while (fl == null) {
          fl = ch.tryLock()
          if (fl == null) {
            if (System.nanoTime() > deadline)
              throw new CommitConflictException(
                s"publish: commit lock under $root held past timeout")
            Thread.sleep(10)
          }
        }
        try f finally fl.release()
      } finally ch.close()
    }
  }

  /** Default shield for data dirs no manifest references yet: a LIVE
    * in-flight writer looks exactly like a crash orphan from the
    * outside (segment written, stage not yet reached — or its staged
    * manifest was deleted by a lost publish CAS and the retry has not
    * restaged), so never-referenced dirs younger than this are not
    * reclaimable (r14 ADVICE medium). 15 minutes dwarfs any
    * write→stage gap (segment writes are batch-sized by design) while
    * keeping genuine crash orphans collectable the next sweep. */
  val defaultOrphanGraceMs: Long = 15L * 60 * 1000

  /** Retention sweep (r12 verdict #8): drop manifests and data dirs that
    * only superseded versions reference. Keeps
    *   (a) the live version;
    *   (b) the `keepVersions - 1` PUBLISHED versions before it (a reader
    *       that resolved CURRENT just before a flip must finish its scan
    *       — the grace window; a staged-but-never-published crash orphan
    *       cannot consume a slot, r13 ADVICE);
    *   (c) with `maxAgeMs`, every published version whose publish
    *       timestamp is within that window (r14 verdict #5: production
    *       retention contracts are "readers may hold a snapshot ≤ N
    *       hours", not "≤ N versions" — the kept set is the UNION of
    *       both rules, so `keepVersions` stays the floor);
    *   (d) anything staged PAST the live version (an in-flight writer's
    *       claim is not ours to reclaim).
    * A data dir is reclaimed only when no kept manifest references it
    * AND its version tag is within the swept range — vacuum can never
    * touch a file the live version serves. A dir referenced by NO
    * manifest at all additionally gets an AGE shield (`orphanGraceMs`):
    * an in-flight writer writes its segment BEFORE staging, tagged with
    * the next version name computed at write start, so once concurrent
    * commits advance CURRENT past that tag the dir is indistinguishable
    * from a crash orphan except by age (r14 ADVICE medium — without the
    * shield, vacuum could reclaim a live writer's leaves and the writer
    * would then commit a manifest referencing deleted files). The whole
    * sweep runs under the commit lock, so the kept/referenced sets
    * cannot shift mid-sweep via a concurrent publish. Also sweeps stale
    * `.<v>.mf.tmp-*` / `.CURRENT.tmp-*` files past the grace age (a
    * writer that crashed between tmp-write and the finally-delete leaks
    * one per attempt — r14 ADVICE low). Returns the deleted data paths
    * (relative), for the caller's ledger. */
  def vacuumDataDirs(root: String, keepVersions: Int = 2,
      maxAgeMs: Option[Long] = None,
      orphanGraceMs: Long = defaultOrphanGraceMs): Seq[String] =
    currentName(root) match {
      case None => Seq.empty
      case Some(cur) => withCommitLock(root) {
        vacuumLocked(root, cur, keepVersions, maxAgeMs, orphanGraceMs)
      }
    }

  private def vacuumLocked(root: String, cur: String, keepVersions: Int,
      maxAgeMs: Option[Long], orphanGraceMs: Long): Seq[String] = {
    val all = listVersions(root)
    val committed = all.filter(_ <= cur)
    val now = System.currentTimeMillis()
    // the grace window counts PUBLISHED versions only — a crash orphan
    // (staged ≤ CURRENT, never flipped to) is swept like any superseded
    // version instead of displacing a version a live reader may hold
    val published = publishedVersions(root)
    val graceBase = if (published.nonEmpty) published else committed
    val byCount = graceBase.takeRight(math.max(1, keepVersions)).toSet
    val byAge = maxAgeMs.fold(Set.empty[String]) { age =>
      val times = publishTimes(root)
      published.filter(v => now - times.getOrElse(v, 0L) <= age).toSet
    }
    val kept = byCount ++ byAge +
      cur ++ all.filter(_ > cur) // in-flight stages are not ours to reclaim
    // every manifest parsed ONCE (they reach ~1 MB each on uncompacted
    // chains — --manifest-scale — and this whole sweep holds the commit
    // lock, so publishers wait on this I/O)
    val refsByVersion: Map[String, Seq[String]] =
      all.map(v => v -> readManifest(root, v).flatMap(refsOf)).toMap
    val referencedKept = kept.filter(all.contains(_))
      .flatMap(refsByVersion.getOrElse(_, Seq.empty))
    // referenced by ANY manifest on disk — a dir outside this set has no
    // committed writer behind it and may belong to a LIVE one mid-commit
    val referencedAny = refsByVersion.values.flatten.toSet
    val dd = dataDir(root)
    val dirs = if (!Files.exists(dd)) Seq.empty[String] else {
      val s = Files.list(dd)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    def ageOf(p: Path): Long =
      try now - Files.getLastModifiedTime(p).toMillis
      catch { case _: Exception => 0L } // unstatable == just-created: shield
    // a LIVE writer's segment shows recent file activity DEEP in the
    // tree (task files, _temporary commits) even when the top dir's
    // mtime has gone stale — a corpus-sized compaction writes for far
    // longer than any fixed grace, so the shield ages the NEWEST mtime
    // in the tree, not the dir's own (walk cost only for the rare
    // never-referenced candidates)
    def newestAge(p: Path): Long =
      try {
        val w = Files.walk(p)
        try now - w.iterator().asScala
          .map(f => try Files.getLastModifiedTime(f).toMillis
            catch { case _: Exception => now })
          .foldLeft(Long.MinValue)(math.max)
        catch { case _: Exception => 0L }
        finally w.close()
      } catch { case _: Exception => 0L }
    val doomed = dirs.filter { d =>
      val tag = d.takeWhile(_ != '-') // "<ver>-<op>..." naming
      val committedTag = tag.matches("v\\d{8}") && tag <= cur
      committedTag && !kept.contains(tag) &&
        !referencedKept.contains(s"data/$d") &&
        (referencedAny.contains(s"data/$d") ||
          newestAge(dd.resolve(d)) > orphanGraceMs)
    }
    // drop superseded manifests too (crash orphans included), so
    // listVersions stays bounded
    (committed.toSet -- kept).foreach { v =>
      try Files.deleteIfExists(versionsDir(root).resolve(s"$v.mf"))
      catch { case _: Exception => () }
    }
    doomed.foreach { d =>
      val p = dd.resolve(d)
      try {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f =>
            try Files.deleteIfExists(f) catch { case _: Exception => () })
        finally walk.close()
      } catch { case _: Exception => () }
    }
    // stale tmp sweep: `.<v>.mf.tmp-<pid>-<seq>` under versions/ and
    // `.CURRENT.tmp-*` under the root, both written-then-deleted in a
    // finally — a crash in between leaks them forever (their names are
    // writer-unique, so no retry ever overwrites one). Age, not
    // pid-liveness, decides staleness: pid checks are TOCTOU-racy and
    // wedge under pid reuse.
    def sweepTmp(dir: Path): Unit = if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try s.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString
        val stale = n.startsWith(".") && n.contains(".tmp-") &&
          ageOf(p) > orphanGraceMs
        if (stale) try Files.deleteIfExists(p) catch { case _: Exception => () }
      } finally s.close()
    }
    sweepTmp(versionsDir(root))
    sweepTmp(Paths.get(root))
    doomed.map(d => s"data/$d")
  }

  /** Top-level data dirs a manifest line references: every
    * whitespace-separated token that starts with `data/`, truncated to
    * its first path segment under data/. */
  private def refsOf(line: String): Seq[String] =
    line.split("\\s+").toSeq.filter(_.startsWith("data/"))
      .map(t => t.split("/").take(2).mkString("/"))
}
