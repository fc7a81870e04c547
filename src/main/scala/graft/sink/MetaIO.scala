package graft.sink

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}

/** The one durable-write seam for warehouse METADATA: manifests and their
  * segments, pointer hints, id counters, specs, tags and fork points, WAP
  * markers, rename/transaction intents, stream ledgers, views, constraints,
  * bloom sidecars, watermarks, and the scratch-dir wipes. Data files are
  * Spark's (parquet through the Hadoop FS); everything the commit protocols
  * themselves write, move, link or delete goes through here, and nowhere
  * else (a lint spec guards `src/main`).
  *
  * Protocol, in one place:
  *   - [[atomicWrite]]: content to a fresh `<target>.<uuid8>.tmp` beside
  *     the target, then one ATOMIC_MOVE over it. Every writer gets its own
  *     tmp, so two writers of one target never share (or delete) each
  *     other's staging file; a crash leaves the old content or the new,
  *     plus at most an orphan `.tmp` that [[Warehouse.expireSnapshots]]
  *     sweeps after its grace.
  *   - [[casLink]]: the same private tmp, then a HARD LINK onto the target —
  *     an atomic CREATE_NEW (POSIX rename would silently replace): of two
  *     racing creators exactly one sees `true`. The manifest commit CAS.
  *   - no fsync: the crash model is a process crash, not a power loss.
  *
  * Every file-system mutation is one durable STEP, announced to [[step]]
  * first. The local implementation ignores it; the crash-matrix test double
  * overrides it to die at the k-th step, which is how each commit protocol
  * is replayed against a crash at every persistence point (the
  * persistence-point enumeration of Pillai et al., OSDI 2014, and
  * CrashMonkey, OSDI 2018).
  */
private[graft] class MetaIO {

  /** Called before every durable file-system step. */
  protected def step(): Unit = ()

  /** The unique staging name beside `target`. */
  def tmpFor(target: Path): Path = target.resolveSibling(
    s"${target.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")

  def atomicWrite(target: Path, content: String): Unit =
    atomicWrite(target, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpFor(target)
    step(); Files.write(tmp, bytes)
    step(); Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish `content` at `target` iff nothing is there yet: false when a
    * racing creator won. The tmp goes either way (on a crash it stays, an
    * orphan for the `.tmp` sweep).
    */
  def casLink(target: Path, content: String): Boolean = {
    val tmp = tmpFor(target)
    step(); Files.writeString(tmp, content)
    try link(target, tmp)
    finally delete(tmp)
  }

  /** Hard-link `existing` at `target` (CREATE_NEW): false when `target`
    * already exists. The two names share one inode.
    */
  def link(target: Path, existing: Path): Boolean = {
    step()
    try { Files.createLink(target, existing); true }
    catch { case _: FileAlreadyExistsException => false }
  }

  /** Atomic rename (POSIX `rename(2)`): replaces a file target, fails on a
    * non-empty directory target. For publishing a file over its old self
    * (WAP tombstone, CDC window); a table directory moves by [[moveNew]].
    */
  def move(from: Path, to: Path): Unit = {
    step(); Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Move to a name that must be free: `FileAlreadyExistsException` when
    * `to` exists, so a directory move never silently replaces an empty
    * directory the way `rename(2)` would (e.g. a table dir a racing append
    * has just created).
    */
  def moveNew(from: Path, to: Path): Unit = {
    step(); Files.move(from, to)
  }

  /** Delete one file or empty directory; false when it was not there. */
  def delete(p: Path): Boolean = {
    step(); Files.deleteIfExists(p)
  }

  /** Delete `p` and everything under it, children first; a no-op when
    * absent.
    */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try {
        val b = Seq.newBuilder[Path]
        s.forEach(q => b += q)
        b.result()
      } finally s.close()
      all.reverse.foreach(delete)
    }

  /** Create `p` and its missing parents; no step when it already exists. */
  def mkdirs(p: Path): Unit =
    if (!Files.isDirectory(p)) { step(); Files.createDirectories(p) }

  /** The entries of `dir` (empty when it does not exist); the directory
    * stream is closed before this returns.
    */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try {
        val b = Seq.newBuilder[Path]
        s.forEach(q => b += q)
        b.result()
      } finally s.close()
    }
}

private[graft] object MetaIO {
  /** The local file-system implementation every production path uses. */
  val local: MetaIO = new MetaIO
}
