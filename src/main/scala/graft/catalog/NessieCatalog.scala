package graft.catalog

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** One catalog mutation inside a Nessie commit — the Put/Delete content
  * operations of the public Nessie model, specialized to this engine's
  * content kinds (table pointers and namespace markers). */
sealed trait NessieOp { def key: String }
object NessieOp {
  final case class PutTable(key: String, metadataLocation: String) extends NessieOp
  final case class DeleteTable(key: String) extends NessieOp
  final case class PutNamespace(key: String) extends NessieOp
  final case class DeleteNamespace(key: String) extends NessieOp
}

/** Commit-log entry metadata, newest-first in [[NessieCatalog.commitLog]]. */
final case class NessieCommitMeta(
    hash: String, parent: String, timestampMillis: Long,
    message: String, ops: Seq[NessieOp])

/** A named reference: a mutable `branch` or an immutable `tag`. */
final case class NessieRef(name: String, refType: String, hash: String)

/** Git-like versioned catalog: the whole catalog state (namespace markers
  * + table→metadata-location pointers) lives in an immutable,
  * content-addressed commit log with named branches and tags — the Scala
  * re-expression of the reference's NESSIE catalog kind
  * (`CatalogMigrationUtil.java:36-46` dispatches NESSIE via Iceberg's
  * NessieCatalog; the commit/branch/tag model here follows the public
  * projectnessie design: commits carry Put/Delete content operations,
  * branches advance by compare-and-swap on their head, tags never move,
  * and any commit hash is readable as a consistent point-in-time
  * snapshot of EVERY table at once).
  *
  * Store layout (any Hadoop FileSystem — file://, hdfs://; production
  * Nessie uses a database, this store targets a shared filesystem):
  *
  *  - `commits/<sha256>` — immutable commit files named by the SHA-256 of
  *    their bytes. Content-addressing makes commit writes race-free
  *    (two writers of the same bytes write the same file; different
  *    bytes never collide), so the ONLY mutable state is the ref heads.
  *  - `refs/<name>` — `branch <hash>` or `tag <hash>`. Branch advances
  *    are CAS: a short-lived exclusive lock file serializes writers, and
  *    a commit whose recorded parent is no longer the head raises
  *    [[CommitConflictException]] (the [[Catalog]]-trait single-op faces
  *    retry with revalidation; multi-op [[commitMulti]] surfaces it).
  *
  * The catalog's `ref` decides what it sees and whether it can write:
  * a branch name (readable + writable), a tag name or commit hash
  * (readable, writes refused — Nessie semantics). Unlike the JDBC
  * backend there is no per-catalog-name scoping: the store IS the
  * repository, so two instances over one store share content — which is
  * what makes cross-branch migration (main → dev of the same store) a
  * zero-copy promotion workflow.
  *
  * [[SupportsTableVersions]] is served from the commit log itself: every
  * Put of a table key is one version of that table's pointer, so
  * catalog-level history doubles as per-table time travel through the
  * existing `CatalogIO.readTableVersion` faces.
  */
final class NessieCatalog(val name: String, storeDir: String,
    val ref: String = NessieCatalog.DefaultBranch,
    hadoopConf: Map[String, String] = Map.empty,
    kvRefStore: Option[KvStore] = None,
    kvRefStoreOwned: Boolean = false)
  extends Catalog with SupportsTableVersions {

  import NessieCatalog._
  import NessieOp._

  @transient private lazy val conf = {
    val c = new Configuration()
    hadoopConf.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val root = new Path(storeDir)
  @transient private lazy val fs: FileSystem = root.getFileSystem(conf)
  private def commitsDir = new Path(root, "commits")
  private def refsDir = new Path(root, "refs")

  /** The reference plane (round 11): branch-head CAS routes through
    * [[NessieRefStore]] — file-backed by default, or the [[KvStore]]
    * conditional-write seam (`ref-store=kv`) so a production store
    * rides DynamoDB/ECS CAS instead of O_EXCL lock files. Commit
    * OBJECTS stay content-addressed files either way (immutable — no
    * coordination to route). */
  @transient private lazy val refs: NessieRefStore = kvRefStore match {
    case Some(kv) => new KvNessieRefStore(kv, storeDir, kvRefStoreOwned)
    case None => new FileNessieRefStore(fs, refsDir)
  }

  // Commits are immutable ⇒ a parsed commit never goes stale.
  @transient private lazy val commitCache = mutable.HashMap.empty[String, NessieCommitMeta]
  // Snapshots keyed by commit hash are immutable too; cache bounds the
  // per-operation cost at O(new commits), not O(chain length).
  @transient private lazy val snapshotCache = mutable.HashMap.empty[String, Snapshot]

  init()

  private def init(): Unit = {
    fs.mkdirs(commitsDir)
    fs.mkdirs(refsDir)
    // Bootstrap the default branch ONLY on a truly virgin store (the
    // file impl checks the RAW dir — lock/tmp debris mid-publish must
    // not look virgin and resurrect an empty main); create-if-absent
    // makes a concurrent bootstrap race benign in both impls.
    if (refs.storeIsVirgin)
      refs.create(DefaultBranch, s"branch $EmptyHash")
    // the default branch is undeletable, so a non-virgin store without
    // it is a concurrent client's bootstrap mid-publish (its temp file
    // already made the dir non-virgin): wait for that publish rather
    // than fail the first read with "Reference does not exist: main"
    val deadline = System.currentTimeMillis() + 10000
    while (!refs.exists(DefaultBranch) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  // ----- references -----

  def listReferences(): Seq[NessieRef] =
    refs.listNames().map(readRef).sortBy(_.name)

  private def readRef(n: String): NessieRef = {
    val text = refs.read(n).getOrElse(
      throw new NoSuchNamespaceException(s"Reference does not exist: $n"))
    val parts = text.split(' ')
    if (parts.length == 2 && (parts(0) == "branch" || parts(0) == "tag"))
      NessieRef(n, parts(0), parts(1))
    else throw new IllegalStateException(s"Malformed reference $n: '$text'")
  }

  private def refExists(n: String): Boolean = refs.exists(n)

  /** Resolve any ref spec — branch/tag name or (unambiguous prefix of a)
    * commit hash — to a commit hash. */
  def resolveRef(spec: String): String =
    if (refExists(spec)) readRef(spec).hash
    else if (spec == EmptyHash) EmptyHash
    else if (spec.matches("[0-9a-f]{8,64}")) {
      if (spec.length == 64 && fs.exists(new Path(commitsDir, spec))) spec
      else {
        val matches = fs.listStatus(commitsDir).toSeq
          .map(_.getPath.getName).filter(_.startsWith(spec))
        matches match {
          case Seq(one) => one
          case Seq() => throw new NoSuchNamespaceException(
            s"Reference does not exist: $spec")
          case many => throw new IllegalArgumentException(
            s"Ambiguous commit prefix $spec (${many.size} matches)")
        }
      }
    } else throw new NoSuchNamespaceException(s"Reference does not exist: $spec")

  /** Head of this catalog's own ref. */
  def currentHash: String = resolveRef(ref)

  private def mutableBranch(): String = {
    if (!refExists(ref)) {
      resolveRef(ref) // throws NoSuchNamespace if not a commit hash either
      throw new UnsupportedOperationException(
        s"Reference '$ref' is a detached commit; commits require a branch")
    }
    val r = readRef(ref)
    if (r.refType != "branch")
      throw new UnsupportedOperationException(
        s"Reference '$ref' is a ${r.refType}; commits require a branch")
    ref
  }

  def createBranch(branch: String, fromRef: Option[String] = None): Unit =
    createRef(branch, "branch", fromRef)

  def createTag(tag: String, fromRef: Option[String] = None): Unit =
    createRef(tag, "tag", fromRef)

  private def createRef(n: String, refType: String, fromRef: Option[String]): Unit = {
    require(n.nonEmpty && !n.contains('/') && !n.contains(' ') &&
      !n.endsWith(".lock") && !n.startsWith("."),
      s"Invalid reference name: $n")
    val hash = resolveRef(fromRef.getOrElse(ref))
    if (!refs.create(n, s"$refType $hash"))
      throw new AlreadyExistsException(s"Reference already exists: $n")
  }

  def deleteReference(n: String): Unit = {
    if (n == DefaultBranch)
      throw new IllegalArgumentException(s"Cannot delete the default branch '$DefaultBranch'")
    // delete-if-current, retried: a commit racing this delete either
    // lands before it (its head is what we delete) or loses its CAS
    // after it (the ref is gone — conflict surfaces there); the ref can
    // never be resurrected by a straggler
    var attempts = 0
    while (true) {
      refs.read(n) match {
        case None =>
          if (attempts == 0)
            throw new NoSuchNamespaceException(s"Reference does not exist: $n")
          return // a racer's commit lost; the delete already landed
        case Some(cur) =>
          if (refs.deleteIf(n, cur)) return
      }
      attempts += 1
      if (attempts >= 10)
        throw new CommitConflictException(
          s"Could not delete reference $n: concurrent commits kept advancing it")
    }
  }

  /** Reset a branch head to another ref's commit (git reset --hard). */
  def assignBranch(branch: String, toRef: String): Unit = {
    val r = readRef(branch)
    if (r.refType != "branch")
      throw new UnsupportedOperationException(s"Reference '$branch' is a ${r.refType}")
    val target = resolveRef(toRef)
    var attempts = 0
    while (!refs.cas(branch, readRefText(branch), s"branch $target")) {
      attempts += 1
      if (attempts >= 10)
        throw new CommitConflictException(
          s"Could not reset branch $branch: concurrent commits kept advancing it")
    }
  }

  /** The ref's current raw line (missing ref surfaces as the usual
    * NoSuchNamespace). */
  private def readRefText(n: String): String =
    refs.read(n).getOrElse(
      throw new NoSuchNamespaceException(s"Reference does not exist: $n"))

  // ----- commit machinery -----

  /** Atomic multi-operation commit on this catalog's branch — the
    * whole-catalog transaction face (every op lands or none do). Returns
    * the new commit hash. `expectedHead`, when given, turns the CAS
    * explicit: the commit applies only if the branch head still equals
    * it ([[CommitConflictException]] otherwise). */
  def commitMulti(message: String, ops: Seq[NessieOp],
      expectedHead: Option[String] = None): String = {
    val branch = mutableBranch()
    // optimistic CAS on the branch head — the commit protocol itself.
    // Without expectedHead the commit applies to whatever head wins the
    // race (retried with a fresh parent; the lost attempts' commit
    // objects are unreachable and gcStore reclaims them); with it, the
    // first CAS loss IS the caller's conflict.
    var attempts = 0
    while (true) {
      val headText = readRefText(branch)
      val head = headText.split(' ')(1)
      expectedHead.foreach { e =>
        if (e != head)
          throw new CommitConflictException(
            s"Branch $branch advanced past $e (now $head)")
      }
      val meta = NessieCommitMeta(hash = "", parent = head,
        timestampMillis = System.currentTimeMillis(), message = message, ops = ops)
      val hash = writeCommitObject(meta)
      if (refs.cas(branch, headText, s"branch $hash")) return hash
      if (expectedHead.isDefined)
        throw new CommitConflictException(
          s"Branch $branch advanced past ${expectedHead.get} during commit")
      attempts += 1
      if (attempts >= 10)
        throw new CommitConflictException(
          s"Commit on $branch kept losing the head CAS after $attempts attempts")
    }
    sys.error("unreachable")
  }

  /** Content-addressed commit write: full bytes land under a temp name,
    * then an exclusive atomic move — a commit file either exists
    * complete or not at all (an in-place create could be truncated
    * mid-write by a same-bytes racer on LocalFS). A losing racer wrote
    * identical bytes, so the existing destination is the commit. */
  private def writeCommitObject(meta: NessieCommitMeta): String = {
    val bytes = serialize(meta).getBytes(StandardCharsets.UTF_8)
    val hash = sha256(bytes)
    val p = new Path(commitsDir, hash)
    if (!fs.exists(p)) {
      try atomicPublishFile(p, serialize(meta), replaceExisting = false)
      catch { case _: java.io.IOException if fs.exists(p) => () }
    }
    hash
  }

  /** Single-op commits retry CAS races with full revalidation — the
    * precondition check reruns against the new head, so a racer that
    * already created the same key surfaces as the correct
    * AlreadyExists/NoSuchNamespace error, never a spurious conflict. */
  private def commitValidated(message: String, validate: Snapshot => Seq[NessieOp]): Unit = {
    var attempt = 0
    while (true) {
      val branch = mutableBranch()
      val head = readRef(branch).hash
      val ops = validate(snapshotAt(head))
      if (ops.isEmpty) return // validated as a no-op (e.g. drop of missing table)
      try {
        commitMulti(message, ops, expectedHead = Some(head))
        return
      } catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= 50) throw e
          // optimistic CAS under contention: jittered backoff spreads
          // the racers so every one eventually wins a round (the lock-
          // based round-10 store got this for free by blocking)
          Thread.sleep(scala.util.Random.nextInt(5 * attempt) + 1L)
      }
    }
  }

  /** Write `text` to `p` so that `p` is NEVER observable half-written:
    * full write to a same-directory temp, then rename. file:// uses
    * java.nio ATOMIC_MOVE (with or without REPLACE_EXISTING); elsewhere
    * Hadoop rename (no overwrite — with `replaceExisting` the
    * destination is deleted first, opening the retry-covered window). */
  private def atomicPublishFile(p: Path, text: String,
      replaceExisting: Boolean): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}-${java.util.UUID.randomUUID()}.tmp")
    if (fs.getScheme == "file") {
      val src = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dst = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.write(src, text.getBytes(StandardCharsets.UTF_8))
      if (replaceExisting)
        java.nio.file.Files.move(src, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else {
        // link(2): atomic AND fails on an existing destination — POSIX
        // rename (ATOMIC_MOVE without REPLACE) would silently replace
        try java.nio.file.Files.createLink(dst, src)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new java.io.IOException(s"Destination exists: $p", e)
        } finally java.nio.file.Files.deleteIfExists(src)
      }
    } else {
      writeExclusive(tmp, text)
      if (replaceExisting) fs.delete(p, false)
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"Failed to publish $p")
      }
    }
  }

  // ----- snapshot resolution -----

  private[catalog] final case class Snapshot(
      tables: Map[String, String], namespaces: Set[String])
  private val EmptySnapshot = Snapshot(Map.empty, Set.empty)

  private def loadCommit(hash: String): NessieCommitMeta =
    commitCache.getOrElseUpdate(hash, {
      val p = new Path(commitsDir, hash)
      if (!fs.exists(p))
        throw new IllegalStateException(s"Missing commit object: $hash")
      deserialize(hash, readText(p))
    })

  /** Catalog state at a commit: walk the parent chain down to the
    * nearest cached snapshot (or the root), then fold ops forward.
    * Iterative, so arbitrarily long histories never overflow the stack. */
  private def snapshotAt(hash: String): Snapshot = {
    if (hash == EmptyHash) return EmptySnapshot
    snapshotCache.get(hash) match {
      case Some(s) => s
      case None =>
        var chain = List.empty[NessieCommitMeta]
        var cur = hash
        var base = EmptySnapshot
        var found = false
        while (!found && cur != EmptyHash) {
          snapshotCache.get(cur) match {
            case Some(s) => base = s; found = true
            case None => val c = loadCommit(cur); chain ::= c; cur = c.parent
          }
        }
        chain.foldLeft(base) { (snap, c) =>
          val next = c.ops.foldLeft(snap) { (s, op) =>
            op match {
              case NessieOp.PutTable(k, loc) => s.copy(tables = s.tables + (k -> loc))
              case NessieOp.DeleteTable(k) => s.copy(tables = s.tables - k)
              case NessieOp.PutNamespace(k) => s.copy(namespaces = s.namespaces + k)
              case NessieOp.DeleteNamespace(k) => s.copy(namespaces = s.namespaces - k)
            }
          }
          snapshotCache.put(c.hash, next)
          next
        }
    }
  }

  private def current(): Snapshot = snapshotAt(currentHash)

  /** Commit-log walk from this catalog's ref, newest first. */
  def commitLog(limit: Int = Int.MaxValue): Seq[NessieCommitMeta] = {
    val out = Vector.newBuilder[NessieCommitMeta]
    var cur = currentHash
    var n = 0
    while (cur != EmptyHash && n < limit) {
      val c = loadCommit(cur)
      out += c
      cur = c.parent
      n += 1
    }
    out.result()
  }

  // ----- merge -----

  /** Key-level three-way merge of `fromRef` into this catalog's branch
    * (the public Nessie merge model, squashed): fast-forward when the
    * target head is the merge base; otherwise apply the source side's
    * per-key changes as ONE new commit, refusing with a
    * [[CommitConflictException]] naming the keys any time both sides
    * changed the same key to different states. */
  def merge(fromRef: String, message: String = ""): String = {
    val branch = mutableBranch()
    // optimistic: compute against the observed head, publish by CAS,
    // recompute on loss (the three-way result depends on the head)
    var attempts = 0
    while (true) {
      val r = mergeOnce(branch, fromRef, message)
      if (r.isDefined) return r.get
      attempts += 1
      if (attempts >= 10)
        throw new CommitConflictException(
          s"Merge into $branch kept losing the head CAS after $attempts attempts")
    }
    sys.error("unreachable")
  }

  private def mergeOnce(branch: String, fromRef: String,
      message: String): Option[String] = {
    {
      val targetText = readRefText(branch)
      val targetHead = targetText.split(' ')(1)
      val sourceHead = resolveRef(fromRef)
      val base = mergeBase(sourceHead, targetHead)
      if (sourceHead == base) return Some(targetHead) // nothing to merge
      if (targetHead == base) // fast-forward
        return if (refs.cas(branch, targetText, s"branch $sourceHead"))
          Some(sourceHead)
        else None
      val baseSnap = snapshotAt(base)
      val srcSnap = snapshotAt(sourceHead)
      val tgtSnap = snapshotAt(targetHead)
      def tableState(s: Snapshot, k: String) = s.tables.get(k)
      def nsState(s: Snapshot, k: String) = s.namespaces.contains(k)
      val srcTableKeys = (baseSnap.tables.keySet ++ srcSnap.tables.keySet)
        .filter(k => tableState(baseSnap, k) != tableState(srcSnap, k))
      val tgtTableKeys = (baseSnap.tables.keySet ++ tgtSnap.tables.keySet)
        .filter(k => tableState(baseSnap, k) != tableState(tgtSnap, k))
      val conflicts = srcTableKeys.intersect(tgtTableKeys)
        .filter(k => tableState(srcSnap, k) != tableState(tgtSnap, k))
      if (conflicts.nonEmpty)
        throw new CommitConflictException(
          s"Merge of $fromRef into $branch conflicts on: ${conflicts.toSeq.sorted.mkString(", ")}")
      val nsOps = (baseSnap.namespaces ++ srcSnap.namespaces).toSeq.sorted
        .filter(k => nsState(baseSnap, k) != nsState(srcSnap, k))
        .filterNot(k => nsState(srcSnap, k) == nsState(tgtSnap, k))
        .map(k => if (nsState(srcSnap, k)) PutNamespace(k) else DeleteNamespace(k))
      val tableOps = srcTableKeys.toSeq.sorted
        .filter(k => tableState(srcSnap, k) != tableState(tgtSnap, k))
        .map { k =>
          tableState(srcSnap, k) match {
            case Some(loc) => PutTable(k, loc)
            case None => DeleteTable(k)
          }
        }
      val msg = if (message.nonEmpty) message
        else s"merge $fromRef (${sourceHead.take(8)}) into $branch"
      val hash = writeCommitObject(NessieCommitMeta("", targetHead,
        System.currentTimeMillis(), msg, nsOps ++ tableOps))
      if (refs.cas(branch, targetText, s"branch $hash")) Some(hash) else None
    }
  }

  /** History truncation — the commit-log face of `expireVersions`:
    * everything older than this branch's newest `keepLast` commits
    * collapses into ONE root commit carrying the full snapshot at the
    * squash point, and the kept suffix is replayed on top (new hashes —
    * parents changed — same ops, messages, and timestamps). State at
    * every kept position is identical by construction; tags into the
    * squashed region keep their commit objects until [[gcStore]]
    * reclaims what no reference can reach. Returns the new head. */
  def squashHistory(keepLast: Int, message: String = ""): String = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val branch = mutableBranch()
    var attempts = 0
    while (true) {
      val r = squashOnce(branch, keepLast, message)
      if (r.isDefined) return r.get
      attempts += 1
      if (attempts >= 10)
        throw new CommitConflictException(
          s"Squash of $branch kept losing the head CAS after $attempts attempts")
    }
    sys.error("unreachable")
  }

  private def squashOnce(branch: String, keepLast: Int,
      message: String): Option[String] = {
    {
      val headText = readRefText(branch)
      val head = headText.split(' ')(1)
      var chain = List.empty[NessieCommitMeta] // oldest-first
      var cur = head
      while (cur != EmptyHash) { val c = loadCommit(cur); chain ::= c; cur = c.parent }
      if (chain.size <= keepLast + 1) return Some(head) // nothing to collapse
      val (squashed, kept) = chain.splitAt(chain.size - keepLast)
      val at = squashed.last
      val snap = snapshotAt(at.hash)
      val rootOps =
        snap.namespaces.toSeq.sorted.map(NessieOp.PutNamespace) ++
          snap.tables.toSeq.sortBy(_._1)
            .map { case (k, l) => NessieOp.PutTable(k, l) }
      var parent = writeCommitObject(NessieCommitMeta("", EmptyHash,
        at.timestampMillis,
        if (message.nonEmpty) message
        else s"squash of ${squashed.size} commits up to ${at.hash.take(8)}",
        rootOps))
      kept.foreach { c =>
        parent = writeCommitObject(c.copy(hash = "", parent = parent))
      }
      if (refs.cas(branch, headText, s"branch $parent")) Some(parent) else None
    }
  }

  /** Reclaim commit objects no reference can reach (orphans left by
    * branch deletion, head reassignment, or [[squashHistory]]). Holds
    * every branch's ref lock during the sweep (sorted acquisition — two
    * concurrent GCs cannot deadlock) so no in-flight commit's object can
    * be swept between its write and its ref publish, and additionally
    * skips objects younger than `graceMillis` (belt for writers on
    * branches created mid-sweep). Returns the number deleted. */
  def gcStore(graceMillis: Long = 3600000L): Int = {
    val branches = listReferences().filter(_.refType == "branch").map(_.name).sorted
    refs.withExclusive(branches) {
      // File-backed refs: committers CAS under the SAME per-branch locks
      // held here, so the sweep is fully exclusive. KV-backed refs CAS
      // lock-free, so the sweep re-reads every head after computing the
      // candidate set and restarts if ANY moved — the only mutation that
      // could endanger an old orphan is a head LANDING ON one
      // (assignBranch / createRef from a detached hash), and that
      // mutation changes a head this check observes. The residual
      // window (a reassignment racing the final delete) matches the
      // upstream Nessie GC contract: do not reassign refs to expired
      // commits concurrently with GC.
      def headsNow(): Seq[(String, String)] =
        listReferences().map(r => r.name -> r.hash).sortBy(_._1)
      var attempts = 0
      while (true) {
        val before = headsNow()
        val reachable = mutable.HashSet.empty[String]
        before.foreach { case (_, h) =>
          var cur = h
          while (cur != EmptyHash && reachable.add(cur)) cur = loadCommit(cur).parent
        }
        val cutoff = System.currentTimeMillis() - graceMillis
        val dead = fs.listStatus(commitsDir).toSeq.filter { st =>
          !reachable.contains(st.getPath.getName) &&
            st.getModificationTime < cutoff
        }
        if (headsNow() == before) {
          dead.foreach(st => fs.delete(st.getPath, false))
          return dead.size
        }
        attempts += 1
        if (attempts >= 10)
          throw new CommitConflictException(
            "gcStore could not observe a stable set of reference heads " +
              s"after $attempts attempts; retry when commit traffic quiets")
      }
      sys.error("unreachable")
    }
  }

  /** Nearest common ancestor: ancestors of `a` intersected with the walk
    * from `b` (first hit walking b's chain newest→oldest). */
  private def mergeBase(a: String, b: String): String = {
    val ancestorsA = mutable.HashSet.empty[String]
    var cur = a
    while (cur != EmptyHash) { ancestorsA += cur; cur = loadCommit(cur).parent }
    cur = b
    while (cur != EmptyHash) {
      if (ancestorsA.contains(cur)) return cur
      cur = loadCommit(cur).parent
    }
    EmptyHash
  }

  // ----- Catalog surface -----

  override def listNamespaces(parent: Namespace): Seq[Namespace] = {
    val snap = current()
    val all = snap.namespaces.toSeq.sorted.map(Namespace.parse)
    if (parent.isEmpty) all.filter(_.levels.size == 1)
    else {
      if (!snap.namespaces.contains(parent.toString))
        throw new NoSuchNamespaceException(s"Namespace does not exist: $parent")
      all.filter(ns => ns.levels.size == parent.levels.size + 1 &&
        ns.levels.startsWith(parent.levels))
    }
  }

  override def namespaceExists(ns: Namespace): Boolean =
    current().namespaces.contains(ns.toString)

  override def createNamespace(ns: Namespace): Unit = {
    if (ns.isEmpty)
      throw new IllegalArgumentException(s"Cannot create empty namespace in catalog $name")
    commitValidated(s"create namespace $ns", { snap =>
      if (snap.namespaces.contains(ns.toString))
        throw new AlreadyExistsException(s"Namespace already exists: $ns")
      Seq(PutNamespace(ns.toString))
    })
  }

  override def listTables(ns: Namespace): Seq[TableRef] = {
    val snap = current()
    if (!ns.isEmpty && !snap.namespaces.contains(ns.toString))
      throw new NoSuchNamespaceException(s"Namespace does not exist: $ns")
    snap.tables.keysIterator.map(TableRef.parse)
      .filter(_.namespace == ns).toSeq.sortBy(_.toString)
  }

  override def tableExists(ref: TableRef): Boolean =
    current().tables.contains(ref.toString)

  override def loadTableMetadataLocation(ref: TableRef): String =
    current().tables.getOrElse(ref.toString,
      throw new NoSuchTableException(s"Table does not exist: $ref"))

  override def registerTable(ref: TableRef, metadataLocation: String): Unit =
    commitValidated(s"register table $ref", { snap =>
      if (snap.tables.contains(ref.toString))
        throw new AlreadyExistsException(s"Table already exists: $ref")
      if (!ref.namespace.isEmpty && !snap.namespaces.contains(ref.namespace.toString))
        throw new NoSuchNamespaceException(s"Namespace does not exist: ${ref.namespace}")
      Seq(PutTable(ref.toString, metadataLocation))
    })

  override def dropTable(ref: TableRef): Boolean = {
    var dropped = false
    commitValidated(s"drop table $ref", { snap =>
      if (!snap.tables.contains(ref.toString)) { dropped = false; Seq.empty }
      else { dropped = true; Seq(DeleteTable(ref.toString)) }
    })
    dropped
  }

  /** Atomic cross-table publish — the capability the commit-log model
    * exists for: flip MANY tables' metadata pointers in ONE commit, so a
    * reader pinned to this branch (or any tag/hash of it) sees either
    * every table's old version or every table's new version, never a
    * mix. Composes with the versioned warehouse: stage each table's new
    * version through `CatalogIO` (the Hadoop catalog's pointer advances
    * per table, as always), then publish all the new metadata locations
    * here as one transaction. Tables are created or re-pointed as
    * needed; missing parent namespaces are created in the same commit.
    * Returns the new commit hash. */
  def publish(pointers: Map[TableRef, String], message: String): String = {
    require(pointers.nonEmpty, "publish requires at least one table pointer")
    var attempt = 0
    while (true) {
      val branch = mutableBranch()
      val head = readRef(branch).hash
      val snap = snapshotAt(head)
      val nsOps = pointers.keysIterator
        .flatMap(_.namespace.prefixes).distinct
        .filterNot(ns => snap.namespaces.contains(ns.toString)).toSeq
        .sortBy(_.levels.size)
        .map(ns => NessieOp.PutNamespace(ns.toString))
      val tableOps = pointers.toSeq.sortBy(_._1.toString)
        .filter { case (r, loc) => !snap.tables.get(r.toString).contains(loc) }
        .map { case (r, loc) => NessieOp.PutTable(r.toString, loc) }
      if (nsOps.isEmpty && tableOps.isEmpty) return head // already published
      try return commitMulti(message, nsOps ++ tableOps, expectedHead = Some(head))
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= 10) throw e
      }
    }
    sys.error("unreachable")
  }

  // ----- SupportsTableVersions (served from the commit log) -----

  /** Every Put of the key along this ref's history is one pointer
    * version, oldest = 1. */
  private def pointerHistory(ref: TableRef): Seq[String] =
    commitLog().reverseIterator.flatMap(_.ops.collect {
      case NessieOp.PutTable(k, loc) if k == ref.toString => loc
    }).toSeq

  override def listTableVersions(ref: TableRef): Seq[Int] = {
    val h = pointerHistory(ref)
    if (h.isEmpty) throw new NoSuchTableException(s"Table does not exist: $ref")
    (1 to h.size)
  }

  override def metadataLocationForVersion(ref: TableRef, version: Int): String = {
    val h = pointerHistory(ref)
    if (version < 1 || version > h.size)
      throw new NoSuchTableException(
        s"Table $ref has no version $version (history: ${(1 to h.size).mkString(", ")})")
    h(version - 1)
  }

  // ----- commit file format -----

  private def serialize(c: NessieCommitMeta): String = {
    val sb = new StringBuilder
    sb ++= "graft-nessie-commit v1\n"
    sb ++= s"parent ${c.parent}\n"
    sb ++= s"ts ${c.timestampMillis}\n"
    sb ++= s"message ${escape(c.message)}\n"
    c.ops.foreach {
      case NessieOp.PutTable(k, loc) => sb ++= s"put-table\t${escape(k)}\t${escape(loc)}\n"
      case NessieOp.DeleteTable(k) => sb ++= s"delete-table\t${escape(k)}\n"
      case NessieOp.PutNamespace(k) => sb ++= s"put-namespace\t${escape(k)}\n"
      case NessieOp.DeleteNamespace(k) => sb ++= s"delete-namespace\t${escape(k)}\n"
    }
    sb.toString
  }

  private def deserialize(hash: String, text: String): NessieCommitMeta = {
    val lines = text.split('\n').toSeq.filter(_.nonEmpty)
    require(lines.headOption.contains("graft-nessie-commit v1"),
      s"Malformed commit object $hash: bad header")
    def header(prefix: String): String =
      lines.find(_.startsWith(prefix + " ")).map(_.drop(prefix.length + 1))
        .getOrElse(throw new IllegalStateException(
          s"Malformed commit object $hash: missing '$prefix'"))
    val ops = lines.drop(1).filter(_.contains('\t')).map { line =>
      line.split('\t') match {
        case Array("put-table", k, loc) => NessieOp.PutTable(unescape(k), unescape(loc))
        case Array("delete-table", k) => NessieOp.DeleteTable(unescape(k))
        case Array("put-namespace", k) => NessieOp.PutNamespace(unescape(k))
        case Array("delete-namespace", k) => NessieOp.DeleteNamespace(unescape(k))
        case _ => throw new IllegalStateException(
          s"Malformed commit object $hash: bad op line '$line'")
      }
    }
    NessieCommitMeta(hash, header("parent"), header("ts").toLong,
      unescape(header("message")), ops)
  }

  private def escape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case c => c.toString
  }
  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb += '\t'
          case 'n' => sb += '\n'
          case other => sb += other
        }
        i += 2
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** All store I/O on file:// goes through java.nio, NEVER Hadoop's
    * create: mixing the two under ChecksumFileSystem leaves stale `.crc`
    * sidecars that fail every later read of an atomically-replaced file.
    * Non-file schemes use the Hadoop API throughout (no nio fast path),
    * so the two write planes never touch the same file. */
  private def writeExclusive(p: Path, text: String): Unit = {
    val out = fs.create(p, false)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readText(p: Path): String =
    if (fs.getScheme == "file")
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toUri.getPath)), StandardCharsets.UTF_8)
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }

  override def close(): Unit = refs.close()
}

object NessieCatalog {
  val DefaultBranch = "main"
  /** Hash of the empty (rootless) snapshot — the head of a fresh branch. */
  val EmptyHash = "0" * 64
}
