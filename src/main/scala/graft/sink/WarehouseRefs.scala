package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.SchemaOps

/** Named refs: snapshot TAGS (protected, expirable-on-drop pointers into
  * the main ledger) and BRANCHES (fork/commit/publish/drop — per-ref
  * ledgers sharing data files by path).
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
private[sink] trait WarehouseRefs { self: Warehouse =>

  // ---------------------------------------------------------------- tags --

  private def tagPath(name: String, tag: String) = {
    require(tag.matches("[A-Za-z0-9][A-Za-z0-9._-]*"), s"invalid tag name: $tag")
    tableDir(name).resolve(s"tag-$tag.ref")
  }

  /** Name a committed snapshot (Iceberg tag analog): a stable ref for
    * reproducibility — "the corpus the model was trained on" — that
    * [[expireSnapshots]] PROTECTS (the tagged manifest and its files
    * survive any retention window until [[dropTag]]). Re-tagging an
    * existing name moves it (atomic replace).
    */
  def tagSnapshot(name: String, tag: String, version: Long = -1L): Long = {
    // all-digit names are unreachable via `VERSION AS OF` (the catalog tries
    // numeric versions first), so reject them at CREATION only — tagPath
    // stays permissive so a legacy all-digit tag can still be dropTag'd
    // (pinning its snapshot against expiry forever would be worse)
    require(!tag.forall(_.isDigit),
      s"invalid tag name: $tag (all-digit names collide with snapshot versions)")
    // tags name MAIN-ledger snapshots: a branch version number lives in a
    // different version space, and a tag protecting "v3" must be
    // unambiguous about whose v3 it pins against expiry
    require(refOf(name).isEmpty, s"tags name main-ledger snapshots, not branch ones: $name")
    // and the mirror of createBranch's shadow guard: `VERSION AS OF '<x>'`
    // tries tags before branches, so a tag named like a live branch would
    // silently capture the branch's resolution
    require(!branches(name).contains(tag),
      s"a branch named '$tag' exists on $name: VERSION AS OF would shadow it")
    val v = if (version < 0) currentVersion(name) else version
    require(v >= 0 && Files.exists(manifestPath(name, v)),
      s"no such snapshot to tag: $name v=$v")
    io.atomicWrite(tagPath(name, tag), v.toString)
    v
  }

  /** All tags of a table (tag -> version). */
  def tags(name: String): Map[String, Long] =
    io.list(tableDir(name)).map(_.getFileName.toString)
      .filter(n => n.startsWith("tag-") && n.endsWith(".ref"))
      .map { n =>
        n.stripPrefix("tag-").stripSuffix(".ref") ->
          Files.readString(tableDir(name).resolve(n)).trim.toLong
      }.toMap

  /** Resolve a tag to its snapshot version. Tags name MAIN-ledger
    * snapshots, so resolving one through a branch name would cross version
    * spaces — refused (same guard as [[tagSnapshot]]).
    */
  def resolveTag(name: String, tag: String): Long = {
    require(refOf(name).isEmpty, s"tags name main-ledger snapshots, not branch ones: $name")
    tags(name).getOrElse(tag,
      throw new IllegalArgumentException(s"no such tag: $name@$tag"))
  }

  /** Scan the snapshot a tag names. */
  def loadTag(name: String, tag: String): DataFrame =
    loadVersion(name, resolveTag(name, tag))

  /** Release a tag (its snapshot becomes expirable again). */
  def dropTag(name: String, tag: String): Boolean =
    io.delete(tagPath(name, tag))

  // ------------------------------------------------------------- branches --

  private def forkPath(base: String, branch: String) =
    tableDir(base).resolve(s"_fork@$branch")

  /** Fork a WRITABLE branch from a committed snapshot (Iceberg branch
    * analog; default: the current one). The branch is a full per-ref
    * ledger named `<table>@<branch>`: its v0 manifest is a HARD LINK of
    * the fork snapshot's — zero data IO, zero manifest copying, shared
    * segments — and every warehouse verb (append, merge, morMerge,
    * positional deletes, compaction, schema evolution, restore, change
    * feed, transactions, time travel) works on the branch name unchanged,
    * because they all resolve paths per ref. Data files stay in the base
    * table's directory, shared BY PATH across every ref exactly like
    * snapshots share them across versions; [[expireSnapshots]] counts every
    * ref's manifests when deciding what is still referenced.
    *
    * This is the WAP pattern generalized from one staged batch to an
    * arbitrary multi-commit workflow: build/audit N commits on the branch
    * while main serves traffic untouched, then [[publishBranch]]
    * fast-forwards main to the branch head in one atomic commit — or
    * [[dropBranch]] abandons the whole line and expiry reclaims its files.
    *
    * Creation is itself atomic (the v0 hard link is a CREATE_NEW CAS): of
    * two racing `createBranch` calls, one loses loudly.
    */
  def createBranch(name: String, branch: String, version: Long = -1L): Long = {
    require(refOf(name).isEmpty, s"cannot branch a branch: $name")
    require(branch.matches("[A-Za-z0-9][A-Za-z0-9._-]*"), s"invalid branch name: $branch")
    // the two VERSION AS OF collisions, refused at create time: an
    // all-digit name parses as a snapshot version (the branch would be
    // unreachable from SQL), and a tag of the same name wins resolution
    // (the branch would be silently shadowed) — mirror of tagSnapshot's
    // guards
    require(!branch.forall(_.isDigit),
      s"invalid branch name: $branch (all-digit names collide with snapshot versions)")
    require(exists(name), s"no such table: $name")
    require(!tags(name).contains(branch),
      s"a tag named '$branch' exists on $name: VERSION AS OF would shadow the branch")
    val v = if (version < 0) currentVersion(name) else version
    require(v >= 0 && Files.exists(manifestPath(name, v)),
      s"no such snapshot to branch: $name v=$v")
    val bname = s"$name@$branch"
    // the v0 hard link IS the create CAS — it must come FIRST: of two
    // racing createBranch calls (or a failed orchestration retry against a
    // LIVE branch) the loser touches nothing, in particular not the
    // winner's fork point, which guards publishBranch's fast-forward check
    // against silently dropping main commits
    if (!io.link(manifestPath(bname, 0L), manifestPath(name, v)))
      throw new IllegalArgumentException(s"branch already exists: $bname")
    // fork point second: a crash between the link and this write is
    // repaired by [[forkVersion]] — the v0 hard link pins the fork
    // snapshot's inode, so the fork version is recoverable
    writeForkPoint(name, branch, v)
    io.atomicWrite(pointer(bname), "0")
    0L
  }

  private def writeForkPoint(name: String, branch: String, v: Long): Unit =
    io.atomicWrite(forkPath(name, branch), v.toString)

  /** All branches of a table, detected from their ledger files (not the
    * pointer hints — a crash can lose a hint, never a committed manifest).
    */
  def branches(name: String): Seq[String] = {
    val pat = "m\\d+@(.+)\\.manifest".r
    io.list(tableDir(name)).map(_.getFileName.toString)
      .collect { case pat(b) => b }.distinct.sorted
  }

  /** The MAIN-ledger version a branch last forked from / published to —
    * the base both sides share, and therefore the fast-forward guard.
    */
  def forkVersion(name: String, branch: String): Long = {
    val fp = forkPath(name, branch)
    if (Files.exists(fp)) return Files.readString(fp).trim.toLong
    // repair createBranch's crash window (v0 link landed, fork-point write
    // didn't): the v0 manifest is a hard link of the fork snapshot's, so
    // the shared inode identifies which main version was forked; persist
    // the recovered value so the repair runs once
    val v0 = manifestPath(s"$name@$branch", 0L)
    require(Files.exists(v0), s"no such branch: $name@$branch")
    val recovered = history(name)
      .find(v => Files.isSameFile(v0, manifestPath(name, v)))
      .getOrElse(throw new IllegalStateException(
        s"cannot recover the fork point of $name@$branch: its v0 manifest " +
          "matches no main snapshot (fork snapshot expired mid-repair?)"))
    writeForkPoint(name, branch, recovered)
    recovered
  }

  /** Publish a branch head onto main as ONE atomic commit — the
    * fast-forward half of write-audit-publish. Requires main to still sit
    * at the branch's fork point: if main advanced since the fork, the two
    * lines have DIVERGED and publishing would silently drop main's commits
    * — that is a merge, and we refuse loudly (Iceberg's fast_forward
    * semantics). The committed manifest is the branch head's — a delta
    * write against main's current (= the fork snapshot), so the publish
    * costs O(branch changes) metadata and ZERO data IO; the branch's data
    * files are already in the table directory. Main adopts the branch
    * head's consumer marks with its content (the branch forked from main's
    * marks, so they are main's plus what the branch's commits set). On
    * success the fork point
    * advances to the published version, so a long-lived branch can keep
    * cycling build→publish indefinitely.
    */
  def publishBranch(name: String, branch: String): Long = {
    require(refOf(name).isEmpty, s"publish targets the base table: $name")
    val bname = s"$name@$branch"
    require(exists(bname), s"no such branch: $bname")
    val forkV = forkVersion(name, branch)
    val head = currentManifest(bname)
    val cur = currentVersion(name)
    if (cur != forkV) {
      // roll-forward for OUR crash window (main commit landed, fork-point
      // advance didn't): if main's head already IS the branch head, the
      // publish completed — repair the fork point instead of wedging every
      // future publish behind a manual reconcile. Set-compare: the two
      // roots replay their segments in different orders
      val mainHead = currentManifest(name)
      if (mainHead.schema == head.schema && mainHead.files.toSet == head.files.toSet &&
          mainHead.deletes.toSet == head.deletes.toSet) {
        writeForkPoint(name, branch, cur)
        return cur
      }
      throw new java.util.ConcurrentModificationException(
        s"$name advanced since $bname forked (v$forkV -> v$cur): not a fast-forward; " +
          "re-branch from the new head and replay, or reconcile manually")
    }
    val v = commitManifest(name, cur + 1, head, adoptMarks = true)
    writeForkPoint(name, branch, v)
    v
  }

  /** Abandon a branch: its ledger (manifests + pointer + fork point) goes;
    * data files the branch alone referenced become orphans that the next
    * [[expireSnapshots]] reclaims. Files shared with main or another
    * branch survive — reference counting IS the manifest union.
    */
  def dropBranch(name: String, branch: String): Boolean = {
    require(refOf(name).isEmpty, s"dropBranch targets the base table: $name")
    val bname = s"$name@$branch"
    if (!Files.exists(tableDir(name)) || history(bname).isEmpty) return false
    // visibility off FIRST (fork point, then pointer), ledger last: a
    // crash mid-drop must never leave a publishable-looking branch whose
    // early manifests are gone — without a fork point publish refuses, and
    // a re-run of dropBranch (or the next one) finishes the tail
    io.delete(forkPath(name, branch))
    io.delete(pointer(bname))
    history(bname).foreach(v => io.delete(manifestPath(bname, v)))
    true
  }

}
