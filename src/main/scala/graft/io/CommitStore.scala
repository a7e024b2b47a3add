package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one storage primitive [[TxTable]]'s optimistic concurrency
  * stands on: publish manifest version N atomically and exclusively —
  * at most one writer ever wins a given version, and a reader never
  * observes a torn manifest. Everything else in the protocol (immutable
  * data files, snapshot reads, loser re-merge) is plain file I/O.
  *
  * This is the public Delta-LogStore landscape, one implementation per
  * store class:
  *
  *  - [[SymlinkCommitStore]] (local POSIX): `symlink(2)` is atomic,
  *    exclusive, AND carries the body pointer inside the link — there
  *    is no claimed-but-bodyless crash window at all. The default for
  *    `file:` paths.
  *  - [[RenameCommitStore]] (HDFS-class filesystems): the body is
  *    fully written under a temp name, then rename-without-overwrite
  *    into the version slot — atomic and exclusive in the HDFS
  *    namenode. (On a raw local FS this rename is only
  *    check-then-rename, which is why the symlink store is the local
  *    default.)
  *  - [[ExclusiveCreateCommitStore]] (object stores): the slot IS the
  *    body, landed by one conditional create (S3 If-None-Match PUT,
  *    GCS/ABFS preconditions) — atomic whole-object, no rename needed.
  */
trait CommitStore {

  /** Latest committed (version, manifest lines); (0, Nil) on a fresh
    * table. */
  def latest(logDir: String): (Long, Seq[String])

  /** Manifest lines of a SPECIFIC committed version (time travel);
    * None if that version was never committed or has been vacuumed. */
  def at(logDir: String, version: Long): Option[Seq[String]]

  /** Atomically publish `lines` as manifest `version`. False = the
    * version slot was already taken by a concurrent commit. */
  def tryCommit(logDir: String, version: Long, lines: Seq[String]): Boolean
}

object CommitStore {
  private[io] def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.length > 1 && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong)
    else None

  private[io] def slotName(version: Long): String = f"v$version%020d"

  /** Advisory tip-hint file (the public `_last_checkpoint` move): holds
    * the version of a recently committed slot so a `latest()` probe
    * costs O(1 + lag) slot stats instead of listing the whole log —
    * the difference between a change-feed poll and an O(retained
    * versions) directory scan on a long-retention table. STRICTLY a
    * hint: written best-effort after a commit wins its CAS, so it can
    * be stale (a crash before the hint write, a racing writer's older
    * hint landing last) or missing or torn — every reader validates
    * that the hinted slot EXISTS and scans forward from it; anything
    * unparseable or dangling falls back to the full listing. It can
    * never be ahead of a live slot (only committed versions are
    * written), so scan-forward from a valid hint always finds the true
    * tip — correctness never depends on the hint. */
  private[io] val TipHint = "_tip"

  /** Immutable table-metadata slot (`_graft_log/_meta`): written once
    * by the table's first committer (create-if-absent — a racing
    * second writer re-reads and verifies), never rewritten, skipped by
    * vacuum and by version parsing. Records what the manifest bodies
    * deliberately don't: the partition COLUMN NAMES, so (a) a writer
    * passing a different PartitionSpec fails loudly instead of
    * silently double-keying the table, and (b) format-level readers
    * can prune without being told the columns. */
  private[io] val MetaFile = "_meta"

  /** java.nio path of a LOCAL dir string, tolerating the `file:` scheme
    * a catalog-normalized location carries: `Paths.get("file:/tmp/x")`
    * would name a literal "file:" directory relative to the cwd, and
    * every read through the catalog seam would see an "uncommitted"
    * table that is in fact live. */
  private[io] def localPath(dir: String): java.nio.file.Path = {
    val uri = new Path(dir).toUri
    if (uri.getScheme == null || uri.getScheme == "file") Paths.get(uri.getPath)
    // non-local scheme: not this store's path class — keep the lenient
    // literal interpretation (callers probing symlinks get "absent")
    else Paths.get(dir)
  }

  private[io] def parseTip(lines: Seq[String]): Option[Long] =
    lines.headOption.map(_.trim).filter(s => s.nonEmpty && s.forall(_.isDigit))
      // Try, not toLong: an all-digit hint longer than Long range is
      // still "unparseable garbage → fall back to the listing", not a
      // NumberFormatException out of every latest() call
      .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ >= 1L)

  /** Test seam: force a specific store for any log dir under a path
    * prefix. Prefix-scoped (not global) so suites running in parallel
    * in one JVM cannot perturb each other's tables — only dirs the
    * registering spec owns are affected. */
  private val forced =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem => CommitStore]()
  private[graft] def forceForPrefix(prefix: String, mk: FileSystem => CommitStore): Unit =
    forced.put(prefix, mk): Unit
  private[graft] def clearForce(prefix: String): Unit =
    forced.remove(prefix): Unit

  /** Store selection by path scheme: local paths get the exact symlink
    * CAS; object stores with conditional-create (S3 If-None-Match via
    * the s3a committers, GCS/ABFS preconditions) get the
    * exclusive-create store; anything else with a non-file scheme
    * (hdfs:, and Hadoop-API lookalikes with atomic rename) gets the
    * rename store. */
  def forPath(fs: FileSystem, dir: String): CommitStore = {
    val it = forced.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (dir.startsWith(e.getKey)) return e.getValue.apply(fs)
    }
    val scheme = new Path(dir).toUri.getScheme
    if (scheme == null || scheme == "file") SymlinkCommitStore
    else if (Set("s3", "s3a", "s3n", "gs", "abfs", "abfss").contains(scheme))
      new ExclusiveCreateCommitStore(fs)
    else new RenameCommitStore(fs)
  }

  /** Attempts every optimistic publish gets before it gives up. */
  private[io] val MaxAttempts = 10

  /** One attempt's publish: `lines` as `version` of the log. `won` is
    * the result when the slot is taken; `lost` cleans up before the
    * next attempt. */
  private[io] final case class Publish[A](
      version: Long, lines: Seq[String], won: A, lost: () => Unit = () => ())

  /** THE optimistic retry loop every CAS publish runs on (TxTable's
    * commits, barrier, restore and vacuum checkpoint; the constraint
    * log's ADD and DROP): each `attempt` reads the tip and either
    * finishes without publishing (`Left`) or builds the next body
    * (`Right`), which the loop tries on `store`'s slot; a lost slot
    * runs the next attempt against the new tip. After [[MaxAttempts]]
    * losses it throws [[LostRace]] naming `op` and `dir`. */
  private[io] def retrying[A](store: CommitStore, log: String, op: String, dir: String)(
      attempt: => Either[A, Publish[A]]): A =
    Iterator.range(0, MaxAttempts).flatMap { _ =>
      attempt match {
        case Left(done) => Some(done)
        case Right(p) =>
          if (store.tryCommit(log, p.version, p.lines)) Some(p.won)
          else { p.lost(); None }
      }
    }.nextOption().getOrElse(throw new LostRace(op, dir))
}

/** [[CommitStore.retrying]] ran out of attempts: every one lost its CAS. */
private[io] final class LostRace(op: String, dir: String)
    extends IllegalStateException(
      s"$op lost the commit race ${CommitStore.MaxAttempts} times on $dir")

/** Local-filesystem store: version slot = a symlink whose target is the
  * fully-written body file. POSIX `symlink(2)` fails with EEXIST if the
  * slot is taken and publishes pointer + content in one atomic call. */
object SymlinkCommitStore extends CommitStore {

  /** Diagnostic: full-listing fallbacks taken by `latest` (the O(log)
    * path the tip hint exists to avoid). Spec-only observability. */
  private[graft] val fullListings = new java.util.concurrent.atomic.AtomicLong

  override def latest(logDir: String): (Long, Seq[String]) = {
    val log = CommitStore.localPath(logDir)
    if (!Files.isDirectory(log)) return (0L, Nil)
    // the WHOLE hinted probe is best-effort: a concurrent vacuum can
    // delete a slot (or its body) between the existence stat and the
    // final readSlot, surfacing as NoSuchFileException mid-probe. The
    // full listing below only ever picks the MAX slot, which vacuum
    // never deletes — so any I/O failure on the hint path falls back
    // there instead of escaping a latest() call.
    val hinted =
      try hintedLatest(logDir, log)
      catch { case _: java.io.IOException => None }
    hinted.getOrElse {
      fullListings.incrementAndGet()
      // Files.list holds a directory handle until closed — this runs on
      // every snapshot resolve and commit attempt, so leaking it would
      // exhaust fds in a long-running driver
      val listing = Files.list(log)
      val versions =
        try listing.iterator().asScala
          .flatMap(p => CommitStore.versionOf(p.getFileName.toString).map(_ -> p))
          .toList
        finally listing.close()
      if (versions.isEmpty) (0L, Nil)
      else {
        val (v, ptr) = versions.maxBy(_._1)
        (v, readSlot(ptr))
      }
    }
  }

  /** O(1 + lag) tip probe: start from the (validated) hint and stat
    * forward to the first missing slot. None = no usable hint. */
  private def hintedLatest(
      logDir: String, log: java.nio.file.Path): Option[(Long, Seq[String])] = {
    val hintPath = log.resolve(CommitStore.TipHint)
    if (!Files.isRegularFile(hintPath)) return None
    val hinted =
      try CommitStore.parseTip(Files.readAllLines(hintPath, UTF_8).asScala.toSeq)
      catch { case _: java.io.IOException => None }
    // existence probes are STATS, not body reads: the probe loop must
    // not fetch (potentially checkpoint-sized) manifest bodies just to
    // test presence — only the final tip body is read, once
    hinted.filter(v => slotLive(log, v)).map { start =>
      var v = start
      while (slotLive(log, v + 1)) v += 1
      (v, readSlot(log.resolve(CommitStore.slotName(v))))
    }
  }

  private def slotLive(log: java.nio.file.Path, version: Long): Boolean = {
    val slot = log.resolve(CommitStore.slotName(version))
    Files.isSymbolicLink(slot) && Files.exists(slot)
  }

  override def at(logDir: String, version: Long): Option[Seq[String]] = {
    val slot = CommitStore.localPath(logDir).resolve(CommitStore.slotName(version))
    // a dangling slot (body vacuumed, or a partially-reclaimed log)
    // reads as absent, not as a crash
    if (Files.isSymbolicLink(slot) && Files.exists(slot)) Some(readSlot(slot))
    else None
  }

  private def readSlot(ptr: java.nio.file.Path): Seq[String] = {
    val body = ptr.resolveSibling(Files.readSymbolicLink(ptr))
    Files.readAllLines(body, UTF_8).asScala.toSeq.filter(_.nonEmpty)
  }

  override def tryCommit(
      logDir: String, version: Long, lines: Seq[String]): Boolean = {
    val log = CommitStore.localPath(logDir)
    Files.createDirectories(log)
    val body = log.resolve(s"m-${UUID.randomUUID()}.tsv")
    Files.write(body, lines.asJava, UTF_8)
    try {
      Files.createSymbolicLink(
        log.resolve(CommitStore.slotName(version)), body.getFileName)
      writeTipHint(log, version)
      true
    } catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(body)
        false
    }
  }

  /** Best-effort, AFTER the CAS won: a crash or lost hint-write race
    * only leaves the hint stale (→ scan-forward), never wrong-ahead.
    * Atomic replace so a concurrent reader can't observe a torn hint
    * on POSIX; any failure is swallowed — the hint is advisory. */
  private def writeTipHint(log: java.nio.file.Path, version: Long): Unit =
    try {
      val tmp = log.resolve(s".tip-${UUID.randomUUID()}")
      Files.write(tmp, java.util.List.of(version.toString), UTF_8)
      Files.move(tmp, log.resolve(CommitStore.TipHint),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    } catch { case _: Exception => () }
}

/** HDFS-class store: the version slot is a regular file renamed into
  * place WITHOUT overwrite after being fully written under a dot-temp
  * name. HDFS's namenode makes that rename atomic and exclusive; the
  * body is complete before the slot exists, so readers never see a
  * torn manifest. */
class RenameCommitStore(fs: FileSystem) extends CommitStore {

  override def latest(logDir: String): (Long, Seq[String]) = {
    val log = new Path(logDir)
    if (!fs.exists(log)) return (0L, Nil)
    // best-effort like the symlink store: a vacuum racing the probe
    // can delete the hinted slot between exists() and readSlot() —
    // fall back to the listing (whose max slot vacuum never touches)
    val hinted =
      try hintedLatest(logDir, log)
      catch { case _: java.io.IOException => None }
    hinted.getOrElse {
      val versions = fs.listStatus(log).toSeq
        .flatMap(s => CommitStore.versionOf(s.getPath.getName).map(_ -> s.getPath))
      if (versions.isEmpty) (0L, Nil)
      else {
        val (v, slot) = versions.maxBy(_._1)
        (v, readSlot(slot))
      }
    }
  }

  /** Same O(1 + lag) hinted probe as the symlink store, over the
    * Hadoop API (one getFileStatus per stat instead of one list of the
    * whole log — on an object store that is one HEAD per probe vs a
    * paged LIST of every retained version). */
  private def hintedLatest(
      logDir: String, log: Path): Option[(Long, Seq[String])] = {
    val hintPath = new Path(log, CommitStore.TipHint)
    val hinted =
      try {
        if (!fs.exists(hintPath)) None
        else {
          val in = fs.open(hintPath)
          try CommitStore.parseTip(
            scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq)
          finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    // fs.exists is one HEAD per probe; at() would GET each body
    hinted.filter(v => fs.exists(new Path(log, CommitStore.slotName(v))))
      .map { start =>
        var v = start
        while (fs.exists(new Path(log, CommitStore.slotName(v + 1)))) v += 1
        (v, readSlot(new Path(log, CommitStore.slotName(v))))
      }
  }

  /** Best-effort advisory hint, written after the CAS won. A torn read
    * (create-overwrite is not atomic on every store) parses as garbage
    * and falls back to the listing — never wrong, at worst slow. */
  protected def writeTipHint(log: Path, version: Long): Unit =
    try {
      val out = fs.create(new Path(log, CommitStore.TipHint), true)
      try out.write((version.toString + "\n").getBytes(UTF_8))
      finally out.close()
    } catch { case _: Exception => () }

  override def at(logDir: String, version: Long): Option[Seq[String]] = {
    val slot = new Path(logDir, CommitStore.slotName(version))
    if (fs.exists(slot)) Some(readSlot(slot)) else None
  }

  private def readSlot(slot: Path): Seq[String] = {
    val in = fs.open(slot)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  override def tryCommit(
      logDir: String, version: Long, lines: Seq[String]): Boolean = {
    val log = new Path(logDir)
    fs.mkdirs(log)
    val tmp = new Path(log, s".m-${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
    finally out.close()
    val slot = new Path(log, CommitStore.slotName(version))
    // rename-without-overwrite: returns false (or throws on some
    // implementations) when the slot is already taken
    val won =
      try !fs.exists(slot) && fs.rename(tmp, slot)
      catch { case _: java.io.IOException => false }
    if (!won) fs.delete(tmp, false)
    else writeTipHint(log, version)
    won
  }
}

/** Object-store form — the put-if-absent third implementation the
  * trait's scaladoc promises: the version slot IS the body, written in
  * ONE conditional create (no temp name, no rename — object stores
  * have no atomic rename to lean on). Correct wherever
  * create-without-overwrite is atomic and whole-object:
  * S3 conditional PUT (`If-None-Match: *`, surfaced through the s3a
  * connector's conditional-create support), GCS `ifGenerationMatch:0`,
  * ABFS create preconditions. A PUT either lands completely or not at
  * all, so readers never observe a torn manifest, and the precondition
  * makes at most one writer win a slot. NOT for raw HDFS or local
  * paths, where client-side create is check-then-create — those take
  * [[RenameCommitStore]] / [[SymlinkCommitStore]] (see
  * [[CommitStore.forPath]]'s scheme dispatch). Reads are inherited —
  * slots are plain files either way.
  *
  * The atomicity is NOT assumed, it is demanded: a plain
  * `create(path, overwrite=false)` on stock s3a is a client-side HEAD
  * followed by a PUT at stream close — two racing writers can both
  * pass the check and one silently overwrites the other, the exact
  * split-brain the CAS exists to prevent. So the slot is opened
  * through the createFile BUILDER with
  * `fs.option.create.conditional.overwrite` set as a `must()` option
  * (the Hadoop 3.4.2+ HADOOP-19256 surface; the connector rejects an
  * unsupported must-option at build time), gated on
  * `hasPathCapability` — and when the connector cannot guarantee the
  * condition, the store FAILS FAST at the first commit instead of
  * running an unsound protocol. Where the condition IS active, a lost
  * race surfaces at close as the connector's precondition failure
  * (s3a RemoteFileChangedException / PathIOException carrying the 412)
  * rather than FileAlreadyExistsException — both map to `false` so
  * the optimistic retry loop re-merges instead of crashing.
  *
  * @param requireConditional test seam: `false` skips the capability
  *   gate so specs can exercise the slot-is-the-body read/vacuum paths
  *   on a local FS (single-writer there — local create is
  *   check-then-create and the contention specs stay on the symlink
  *   store). Production dispatch ([[CommitStore.forPath]]) always
  *   requires the condition. */
final class ExclusiveCreateCommitStore(
    fs: FileSystem, requireConditional: Boolean = true)
    extends RenameCommitStore(fs) {

  private val ConditionalCreate = "fs.option.create.conditional.overwrite"

  /** True when the exception is the connector's conditional-PUT
    * precondition failure (HTTP 412 family) — the "slot already taken"
    * signal on stores that report it as neither FileAlreadyExists
    * flavor. Matched structurally (class name / message), not by type:
    * s3a's RemoteFileChangedException lives in hadoop-aws, which is a
    * runtime-only presence on a real cluster. */
  private def isPreconditionFailure(e: java.io.IOException): Boolean = {
    val names = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(8).toList
    names.exists { t =>
      t.getClass.getSimpleName.contains("RemoteFileChanged") ||
        (t.isInstanceOf[org.apache.hadoop.fs.PathIOException] && {
          val m = Option(t.getMessage).getOrElse("")
          m.contains("412") || m.toLowerCase.contains("precondition")
        })
    }
  }

  override def tryCommit(
      logDir: String, version: Long, lines: Seq[String]): Boolean = {
    val log = new Path(logDir)
    fs.mkdirs(log)
    val slot = new Path(log, CommitStore.slotName(version))
    val conditional =
      try fs.hasPathCapability(slot, ConditionalCreate)
      catch { case _: Exception => false }
    if (!conditional && requireConditional)
      throw new IllegalStateException(
        s"$ConditionalCreate is not supported for $slot — this connector " +
          "cannot guarantee an atomic conditional PUT, so the exclusive-" +
          "create commit protocol would silently lose racing commits. " +
          "Enable the connector's conditional-create support or use a " +
          "rename/symlink CommitStore.")
    try {
      val builder = fs.createFile(slot).overwrite(false)
      if (conditional) builder.must(ConditionalCreate, true)
      val out = builder.build()
      try out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
      finally out.close()
      writeTipHint(log, version)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case e: java.io.IOException if isPreconditionFailure(e) => false
    }
  }
}
