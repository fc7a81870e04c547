package graft.sink

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom sidecars for POINT-LOOKUP file pruning — the missing
  * piece when min/max stats can't prune ([[graft.catalog.ManifestPruneRule]]
  * consults them for `=` / `IN` conjuncts).
  *
  * The 100 TB shape: `WHERE id = '<uuid>'` on a HIGH-CARDINALITY key the
  * table is NOT clustered by. Every file's (min, max) spans ~the whole key
  * domain, so range stats keep every file and the "point lookup" scans the
  * table. A per-file Bloom filter of the key column answers "might this
  * file contain this exact value?" from O(files) driver-side metadata —
  * no false negatives, so pruning on a miss is exact (Iceberg's parquet
  * bloom / puffin analog, lifted from row-group grain to FILE grain so
  * non-matching files aren't even opened).
  *
  * Design invariants:
  *   - '''Sidecars are derived, optional metadata.''' One per (data file,
  *     column), stored NEXT to the data file (`<file>.bloom.<colB64>`), so
  *     compaction/expiry sweeps them with their file. A missing sidecar
  *     just means "can't prune" — partial indexes, crashed builds, and
  *     pre-index files are all correct by construction.
  *   - '''Incremental by immutability.''' Data files never change, so
  *     [[Warehouse.buildBloomIndex]] only scans files whose sidecar is
  *     missing — re-running after each append indexes the new batch only.
  *   - '''One hash domain.''' Filters are built from `xxhash64(col)` on the
  *     executors (the layout Spark's own runtime bloom filters use) and
  *     probed driver-side with the identical [[XxHash64]] of the predicate
  *     literal — same type, same seed, same bytes.
  */
object BloomIndex {

  /** Sidecar KEY for a column: its parquet field id when present
    * (`fid<N>`), the raw name otherwise. Field ids make sidecars
    * rename-stable by construction — RENAME a→b keeps the id, so the
    * index keeps serving under the new name with zero IO — and
    * drop-then-readd-safe: ids are never reused
    * ([[Warehouse.reserveFieldIds]]), so a re-introduced name maps to a
    * FRESH id whose sidecars don't exist yet, and the dropped column's
    * orphaned sidecars can never be consulted again. Id-less tables
    * refuse rename/drop outright, so the name key is stable there too.
    */
  def keyFor(schema: org.apache.spark.sql.types.StructType, col: String): String =
    schema.fields.find(_.name == col) match {
      case Some(f) if f.metadata.contains("parquet.field.id") =>
        "fid" + f.metadata.getLong("parquet.field.id")
      case _ => col
    }

  /** Sidecar path for one (data file, column key — [[keyFor]]). The key
    * rides URL-safe base64 so arbitrary names can't corrupt the file name.
    */
  def sidecar(dataFileAbs: String, key: String): Path =
    Paths.get(dataFileAbs + ".bloom." +
      java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(key.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Driver-side sidecar cache. Data files are immutable and sidecar writes
    * are atomic, so a loaded filter never goes stale; a cached MISS can go
    * stale when an index is built later in the same JVM, so
    * [[invalidate]] clears on every build. Bounded by accumulated BYTES
    * (filters near the 8 MB bits cap must not pin GBs of driver heap), with
    * wholesale eviction past the budget — point lookups touch few files.
    */
  private val MaxCacheBytes = 128L << 20
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[BloomFilter]]()
  private val cacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  private[sink] def invalidate(): Unit = { cache.clear(); cacheBytes.set(0L); indexedColsCache.clear() }

  private def load(p: Path): Option[BloomFilter] = {
    val key = p.toString
    val hit = cache.get(key)
    if (hit != null) return hit
    val v =
      if (!Files.exists(p)) None
      else try {
        val in = Files.newInputStream(p)
        try Some(BloomFilter.readFrom(in)) finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None } // unreadable: never prune
    val sz = v.map(_.bitSize() / 8).getOrElse(0L)
    // account bytes only for the entry that actually lands (a racing loser
    // must not inflate the counter into premature wholesale eviction)
    if (cache.putIfAbsent(key, v) == null &&
        cacheBytes.addAndGet(sz) > MaxCacheBytes) {
      cache.clear(); cacheBytes.set(0L)
    }
    v
  }

  // ------------------------------------------------- indexed-col marker --

  /** Marker file naming the columns a table has EVER built sidecars for —
    * the O(1) short-circuit that keeps un-indexed tables (and un-indexed
    * columns) at zero planning cost: without it, every `=` conjunct of
    * every query would pay a per-file `Files.exists` probe just to learn
    * there is no index. Written by [[Warehouse.buildBloomIndex]]; absent on
    * pre-index tables (→ no consult at all).
    */
  private def markerPath(tableDirAbs: String): Path =
    Paths.get(tableDirAbs, "_bloom_cols")

  private val indexedColsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()

  /** Columns `tableDirAbs` has a bloom index for (possibly partial over
    * files). mtime-keyed cache: one small read per table per build.
    */
  def indexedCols(tableDirAbs: String): Set[String] = {
    val p = markerPath(tableDirAbs)
    if (!Files.exists(p)) return Set.empty
    val mtime = Files.getLastModifiedTime(p).toMillis
    val hit = indexedColsCache.get(tableDirAbs)
    if (hit != null && hit._1 == mtime) return hit._2
    // names ride base64 (same discipline as sidecar names): arbitrary
    // column names can never corrupt the line framing
    val cols = scala.util.Try {
      val b = Set.newBuilder[String]
      Files.readAllLines(p).forEach { s =>
        if (s.nonEmpty) b += new String(
          java.util.Base64.getUrlDecoder.decode(s),
          java.nio.charset.StandardCharsets.UTF_8)
      }
      b.result()
    }.getOrElse(Set.empty[String])
    indexedColsCache.put(tableDirAbs, (mtime, cols))
    cols
  }

  /** Record `cols` as indexed (read-merge-write under a JVM lock: two
    * same-process builds for different columns must not lose each other's
    * set). A CROSS-process race can still drop a column from the marker —
    * the warehouse is single-writer by design, and losing only disables
    * pruning for that column until the next (idempotent, O(unindexed=0))
    * re-run of buildBloomIndex; answers are never affected.
    */
  private[sink] def recordIndexedCols(io: MetaIO, tableDirAbs: String,
                                      cols: Seq[String]): Unit =
    synchronized {
      indexedColsCache.remove(tableDirAbs) // re-read the marker from disk
      writeMarker(io, tableDirAbs, indexedCols(tableDirAbs) ++ cols)
    }

  /** Schema evolution hook: RENAME remaps the marker entry (the field-id
    * sidecars stay valid under the new name), DROP (`to` = None) removes
    * it so probes of a later same-named column can't consult until that
    * column is indexed in its own right. Crash between the schema commit
    * and this marker write only DISABLES pruning for the renamed column
    * (old name unqueryable, new name not in the marker) until the next
    * buildBloomIndex — never a wrong answer.
    */
  private[sink] def remapIndexedCol(io: MetaIO, tableDirAbs: String, from: String,
                                    to: Option[String]): Unit = synchronized {
    indexedColsCache.remove(tableDirAbs)
    val cur = indexedCols(tableDirAbs)
    if (cur.contains(from)) writeMarker(io, tableDirAbs, cur - from ++ to)
  }

  private def writeMarker(io: MetaIO, tableDirAbs: String, cols: Set[String]): Unit = {
    io.atomicWrite(markerPath(tableDirAbs), cols.toSeq.sorted.map(c =>
      java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
        c.getBytes(java.nio.charset.StandardCharsets.UTF_8))).mkString("\n"))
    indexedColsCache.remove(tableDirAbs)
  }

  /** xxhash64 (seed 42, Spark's default) of a predicate literal — the
    * driver-side twin of the executor-side `xxhash64(col)` the build used.
    * None = this type can't be hashed (caller must not prune).
    */
  def hashLiteral(l: Literal): Option[Long] =
    try Some(XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long])
    catch { case scala.util.control.NonFatal(_) => None }

  /** May `dataFileAbs` contain a row whose keyed column equals the value
    * hashed as `h`? Missing/unreadable sidecar → true (can't prune).
    */
  def mightContain(dataFileAbs: String, key: String, h: Long): Boolean =
    load(sidecar(dataFileAbs, key)).forall(_.mightContainLong(h))

  /** True when a sidecar exists for (file, key) — test/introspection hook. */
  def exists(dataFileAbs: String, key: String): Boolean =
    Files.exists(sidecar(dataFileAbs, key))

  private[sink] def writeSidecar(io: MetaIO, dataFileAbs: String, key: String,
                                 bytes: Array[Byte]): Unit =
    io.atomicWrite(sidecar(dataFileAbs, key), bytes)
}
