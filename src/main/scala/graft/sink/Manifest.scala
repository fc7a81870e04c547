package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Base64

import org.apache.spark.sql.types.{DataType, StructType}

/** Per-column min/max statistics of one data file.
  *
  * `kind` is the comparison domain the values live in:
  *   - `"s"` — string, compared lexicographically;
  *   - `"n"` — numeric (integers, floats, decimals; timestamps as epoch
  *     micros, dates as epoch days, booleans as 0/1), compared as BigDecimal;
  *   - `"z"` — the file has NO non-null value in this column (min/max empty).
  *
  * A column *absent* from a file's stats map is "unknown" — pruning must
  * assume the file may match. `"z"` is the opposite: under plain (non
  * null-safe) equality a null key never matches, so a `"z"` file is provably
  * disjoint from any key set on that column.
  *
  * `nulls` is the file's null-value count for the column (Iceberg's
  * `null_value_counts` analog): −1 = unknown (stats written before the field
  * existed). It powers `IS [NOT] NULL` file pruning, null-ordering-correct
  * top-k file selection, and manifest-served `count(col)` — all of which
  * treat −1 as "may have any mix" and decline to prune/serve.
  */
final case class ColStat(kind: String, min: String, max: String, nulls: Long = -1L)

/** One immutable data file of a table snapshot: path relative to the table
  * directory, its row count, and optional per-column stats used for merge
  * pruning (the engine analog of Iceberg's per-file `lower_bounds` /
  * `upper_bounds` manifest entries).
  *
  * `seq` is the data sequence number — the snapshot version at which the
  * file entered the table (Iceberg v2 `data_sequence_number`). An equality
  * [[DeleteFile]] applies only to data files with a STRICTLY SMALLER seq,
  * so rows (re-)inserted after a delete are never retro-deleted. Files from
  * before the field existed read as seq 0 — "older than every delete",
  * which is exactly right.
  *
  * `firstRowId` is the file's ROW-LINEAGE base (Iceberg v3
  * `first_row_id`): row k of the file has the stable id
  * `firstRowId + k`. −1 = not yet assigned — [[Manifest.assignRowIds]]
  * gives every new file a fresh, never-reused range at its first commit.
  */
final case class DataFile(path: String, rows: Long, stats: Map[String, ColStat],
                          seq: Long = 0L, firstRowId: Long = -1L)

/** One merge-on-read delete file (Iceberg v2 analog). Two kinds:
  *
  *   - `"eq"` (equality): a parquet file of key tuples over `cols`; a row
  *     of any data file with `seq < this.seq` is deleted when it equals
  *     some tuple on ALL of `cols` (plain equality — null keys never
  *     match, same contract as merge).
  *   - `"dv"` (deletion vector): a parquet file holding, per TARGET data
  *     file, the roaring bitmap of its deleted row ordinals (Iceberg-v3 /
  *     Delta DV analog of v2 position deletes); a row is deleted when its
  *     file's vector contains its ordinal. `cols` lists the target file
  *     paths — applicability is exact, and a commit that re-deletes from a
  *     file writes the MERGED vector and supersedes the old entry, so
  *     per-file delete state stays one live vector across any delete churn.
  *
  * `stats` carries per-column min/max of the tuples so
  * [[Warehouse.compactDeletes]] can prove data files untouched.
  */
final case class DeleteFile(path: String, rows: Long, seq: Long,
                            cols: Seq[String], stats: Map[String, ColStat],
                            kind: String = "eq")

/** One table snapshot: the table schema plus the list of data files that make
  * up the snapshot, plus any pending equality-delete files (merge-on-read).
  * Snapshots share data files — an append's manifest references every prior
  * file plus the new batch's files, which is what makes an incremental
  * commit O(batch) instead of O(table) (reference: the PyIceberg sink
  * appends data files + metadata per run and never rewrites the table,
  * `salesforce_pipeline.py:176`).
  */
final case class Manifest(schema: StructType, files: Seq[DataFile],
                          deletes: Seq[DeleteFile] = Nil,
                          rowHwm: Long = -1L,
                          marks: Map[String, String] = Map.empty)

/** Per-SEGMENT summary riding the root's `S` line — the Iceberg
  * manifest-list analog (per-manifest `partitions` ranges): planning can
  * prove "no file in this segment can match the predicate" from the root
  * alone and skip parsing the segment entirely ([[Manifest.readPruned]]).
  *
  * `stats` holds, per column/transform key, bounds that COVER every data
  * file in the segment: a key appears only when EVERY data file records a
  * stat for it in one consistent domain (min of mins, max of maxes; nulls
  * summed when all known, else −1; all-null only when every file is "z") —
  * so any per-file pruning decision made against the summary is valid for
  * the whole segment. `hasDeletes` marks segments carrying delete entries.
  *
  * Delete-aware skipping: a delete-carrying segment may still skip when
  * BOTH sides are provably invisible to the query —
  *
  *   - its data files can't match (`stats`, as above — or it has no data
  *     files at all: `entries == delEntries`, the shape every
  *     equality-delete commit's delta segment has);
  *   - its delete entries can't RESURRECT a visible row: `delStats` merges
  *     the equality-delete files' per-key-column tuple bounds with the
  *     same covering algebra, so when the query refutes those bounds, any
  *     row a skipped delete would have removed (in ANY kept file) carries
  *     a key value the query's residual filter rejects anyway. Sound only
  *     when every delete is an equality delete with recorded bounds
  *     (`delBounded`; deletion vectors address file positions, not values,
  *     and make the segment unskippable).
  *
  * `delRows` carries the delete files' OWN tuple count (not the data row
  * count) so the delete-side `keep` probe sees a row total consistent with
  * `delStats` — without it, a delete-only delta segment (data rows = 0)
  * presented `rows = 0` alongside delete-tuple stats with `nulls = 0`, and
  * any rows-vs-nulls refutation (the IsNotNull arm) would "prove" the
  * non-null delete tuples invisible and resurrect the deleted rows.
  * −1 = unknown (roots written before the field existed): rows-based
  * refutation of the delete side is then disabled, never wrong.
  *
  * Pre-delete-aware roots parse with `delEntries = 0, delBounded = false`:
  * their delete-carrying segments never skip, exactly the old behavior.
  */
final case class SegSummary(entries: Int, rows: Long, hasDeletes: Boolean,
                            stats: Map[String, ColStat],
                            delEntries: Int = 0, delBounded: Boolean = false,
                            delStats: Map[String, ColStat] = Map.empty,
                            delRows: Long = 0L)

/** Header facts of a manifest root, readable without replaying any entry
  * lines: the snapshot schema plus the table-level extras on line 2 —
  * `rowHwm` (row-lineage high-water; −1 pre-lineage), `deleteCount`
  * (pending delete-entry count; −1 when written before the field existed,
  * meaning "unknown — load the manifest to find out") and `marks`.
  */
final case class RootHeader(schema: StructType, rowHwm: Long, deleteCount: Int,
                            marks: Map[String, String] = Map.empty)

/** Text serialization of a [[Manifest]]. Two on-disk forms:
  *
  * '''v1 (flat)''' — the whole snapshot in one file:
  * {{{
  * graft-manifest v1
  * <schema json, one line>
  * <relpath>\t<rows>\t<colB64>:<kind>:<minB64>:<maxB64>[:<nulls>] <colB64>:... ...[\t<seq>]
  * D\t<relpath>\t<rows>\t<seq>\t<colB64>,<colB64>...\t<stats as above>
  * }}}
  *
  * '''v2 (segmented)''' — the Iceberg manifest-list analog. The snapshot
  * file is a small ROOT whose entry lines are replayed IN ORDER:
  * {{{
  * graft-manifest v2
  * <schema json, one line>
  * S\t<segment file name>          — splice in that segment's entries
  * X\t<relpath>                    — remove the entry (data or delete) at path
  * }}}
  * and each referenced segment (`g<uuid>.seg`, sibling of the root) is an
  * IMMUTABLE batch of v1-format entry lines under a `graft-seg v1` header.
  * Segments are shared by reference across snapshots, so a commit whose
  * delta is D entries writes O(D) metadata — one new segment plus a root
  * that carries the base root's lines forward — instead of re-listing all
  * N files of the table ([[writeDelta]]). At 100 TB / millions of files
  * that turns every append-shaped commit's metadata cost from O(table)
  * into O(batch); the flat v1 write stays for small standalone manifests
  * (WAP stages) and every reader auto-detects the form, so pre-v2 tables
  * keep working and adopt segments on their next commit.
  *
  * Column names and stat values are base64-encoded so arbitrary key values
  * (tabs, colons, newlines) can never corrupt the framing. Data-file lines
  * written before the `seq` field existed have 3 fields and read as seq 0.
  * Written through [[MetaIO]] like every other piece of warehouse
  * metadata: segments and standalone manifests by its atomic write, a
  * snapshot root by the commit's hard-link CAS.
  */
object Manifest {
  private val Header = "graft-manifest v1"
  private val HeaderV2 = "graft-manifest v2"
  private val SegHeader = "graft-seg v1"

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String) =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  // a known null count rides as an optional 5th `:`-field; entries written
  // before the field existed have 4 (or the z-form's 3) and read as -1
  private def statsStr(stats: Map[String, ColStat]): String =
    stats.toSeq.sortBy(_._1).map { case (c, st) =>
      val n = if (st.nulls >= 0) s":${st.nulls}" else ""
      if (st.kind == "z") s"${b64(c)}:z::$n"
      else s"${b64(c)}:${st.kind}:${b64(st.min)}:${b64(st.max)}$n"
    }.mkString(" ")

  private def parseStats(s: String): Map[String, ColStat] =
    if (s.isEmpty) Map.empty
    else s.split(' ').iterator.map { tok =>
      val f = tok.split(":", -1)
      val nulls = if (f.length >= 5) f(4).toLong else -1L
      unb64(f(0)) -> (if (f(1) == "z") ColStat("z", "", "", nulls)
                      else ColStat(f(1), unb64(f(2)), unb64(f(3)), nulls))
    }.toMap

  // ------------------------------------------------ entry line codec --

  private def appendDataLine(sb: StringBuilder, f: DataFile): Unit =
    sb.append(f.path).append('\t').append(f.rows).append('\t')
      .append(statsStr(f.stats)).append('\t').append(f.seq)
      .append('\t').append(f.firstRowId).append('\n')

  private def appendDeleteLine(sb: StringBuilder, d: DeleteFile): Unit =
    sb.append("D\t").append(d.path).append('\t').append(d.rows).append('\t')
      .append(d.seq).append('\t').append(d.cols.map(b64).mkString(","))
      .append('\t').append(statsStr(d.stats)).append('\t').append(d.kind).append('\n')

  private def parseDataLine(l: String): DataFile = {
    val parts = l.split('\t')
    val stats = if (parts.length < 3) Map.empty[String, ColStat] else parseStats(parts(2))
    val seq = if (parts.length < 4) 0L else parts(3).toLong
    // lines written before row lineage existed read as "unassigned"
    val firstRowId = if (parts.length < 5) -1L else parts(4).toLong
    DataFile(parts(0), parts(1).toLong, stats, seq, firstRowId)
  }

  /** The delete kinds this build can APPLY ([[graft.sink.Warehouse]]'s
    * morFrame treats `"dv"` as a bitmap probe and everything else as an
    * equality anti-join on `cols`) — so an entry of any other kind must
    * refuse at PARSE time: a legacy `"pos"` pair-file entry has `cols = Nil`
    * and would otherwise become an anti-join with an empty join-column list,
    * silently corrupting (or failing deep inside) every read of the
    * snapshot that carries it.
    */
  private val KnownDeleteKinds = Set("eq", "dv")

  private def parseDeleteLine(l: String): DeleteFile = {
    val parts = l.split('\t')
    // lines written before the kind field existed are equality deletes
    val kind = if (parts.length < 7) "eq" else parts(6)
    require(KnownDeleteKinds(kind),
      s"unreadable delete entry '${parts(1)}': kind '$kind' is not supported by this " +
        "build (known: eq, dv) — the manifest was written by an incompatible build; " +
        "run compactDeletes there to materialize its deletes before reading here")
    DeleteFile(parts(1), parts(2).toLong, parts(3).toLong,
      if (parts(4).isEmpty) Nil else parts(4).split(",", -1).toSeq.map(unb64),
      if (parts.length < 6) Map.empty else parseStats(parts(5)),
      kind)
  }

  /** Entry-list codec shared with [[graft.sink.Warehouse.transact]]'s
    * durable intent markers: the staged delta of a transaction is exactly a
    * (data files, delete files) pair, so it serializes in the same line
    * format segments use.
    */
  private[sink] def entriesString(files: Seq[DataFile], deletes: Seq[DeleteFile]): String = {
    val sb = new StringBuilder
    files.foreach(appendDataLine(sb, _))
    deletes.foreach(appendDeleteLine(sb, _))
    sb.toString
  }

  private[sink] def parseEntries(lines: Seq[String]): (Seq[DataFile], Seq[DeleteFile]) = {
    val (delLines, dataLines) = lines.filter(_.nonEmpty).partition(_.startsWith("D\t"))
    (dataLines.map(parseDataLine), delLines.map(parseDeleteLine))
  }

  // ---------------------------------------------- schema line + extras --

  /** Line 2 of every manifest/root: the schema json, optionally followed by
    * TAB-separated table-level extras — `R<hwm>`, the ROW-ID high-water
    * mark, `E<n>`, the pending DELETE-ENTRY count, and `M<marks>`, the
    * consumer marks ([[Warehouse.marks]]). JSON never contains a raw tab, so
    * the split is unambiguous; pre-extras manifests have no tab and read as
    * hwm −1 / count −1 (unknown). Riding the root makes the extras ATOMIC
    * with the commit, and lets every read path answer "any pending MOR
    * deletes?" from the header without replaying a single entry —
    * [[readHeader]] is what keeps planning O(relevant metadata) at
    * millions of files. Unknown extras are ignored (forward compatible).
    */
  private def schemaLine(m: Manifest): String =
    m.schema.json + (if (m.rowHwm >= 0) "\tR" + m.rowHwm else "") +
      "\tE" + m.deletes.size + (if (m.marks.isEmpty) "" else "\tM" + marksString(m.marks))

  /** Marks as comma-separated `<b64 key>:<b64 value>` pairs (also in txn intents). */
  private[sink] def marksString(marks: Map[String, String]): String =
    marks.toSeq.sortBy(_._1).map { case (k, v) => b64(k) + ":" + b64(v) }.mkString(",")

  private[sink] def parseMarks(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(',').iterator.map { e =>
      val i = e.indexOf(':')
      unb64(e.substring(0, i)) -> unb64(e.substring(i + 1))
    }.toMap

  private def parseHeaderLine(l: String): RootHeader = {
    val i = l.indexOf('\t')
    if (i < 0) RootHeader(DataType.fromJson(l).asInstanceOf[StructType], -1L, -1)
    else {
      val extras = l.substring(i + 1).split('\t')
      def extra(tag: Char): Option[String] =
        extras.collectFirst { case e if e.nonEmpty && e.charAt(0) == tag => e.substring(1) }
      RootHeader(DataType.fromJson(l.substring(0, i)).asInstanceOf[StructType],
        extra('R').fold(-1L)(_.toLong), extra('E').fold(-1)(_.toInt),
        extra('M').fold(Map.empty[String, String])(parseMarks))
    }
  }

  /** Header-only read — O(2 lines), no entry replay: schema, row-id
    * high-water, pending-delete count, marks. The planner's fast path for
    * `schema()` and the "no pending MOR deletes" gate, and every commit's
    * read of its base.
    */
  def readHeader(root: Path): RootHeader = {
    val s = Files.lines(root)
    try {
      val it = s.iterator()
      require(it.hasNext, s"empty manifest: $root")
      val hdr = it.next()
      require(hdr == Header || hdr == HeaderV2, s"not a graft manifest: $root")
      require(it.hasNext, s"truncated manifest: $root")
      parseHeaderLine(it.next())
    } finally s.close()
  }

  /** ROW-LINEAGE assignment (Iceberg v3 `first_row_id`): every data file
    * without an id range gets a fresh one at its first commit —
    * sequential, in manifest order, starting past BOTH the previous
    * snapshot's high-water and every already-assigned range in this
    * manifest, so ids are never reused even after the files that held the
    * highest ranges are removed without replacement. Returns the manifest
    * with ids assigned and `rowHwm` advanced (the value the root persists).
    */
  def assignRowIds(m: Manifest, prevHwm: Long): Manifest = {
    var next = m.files.iterator.filter(_.firstRowId >= 0)
      .map(f => f.firstRowId + f.rows).foldLeft(math.max(prevHwm, 0L))(math.max)
    val files = m.files.map { f =>
      if (f.firstRowId >= 0) f
      else {
        val id = next
        next += math.max(f.rows, 0L)
        f.copy(firstRowId = id)
      }
    }
    m.copy(files = files, rowHwm = next)
  }

  /** Flat v1 write — one self-contained file listing every entry. Still the
    * right form for small standalone manifests (WAP stage manifests are
    * batch-sized); snapshot commits go through [[writeDelta]].
    */
  def write(target: Path, m: Manifest, io: MetaIO = MetaIO.local): Unit = {
    val sb = new StringBuilder
    sb.append(Header).append('\n')
    sb.append(schemaLine(m)).append('\n')
    m.files.foreach(appendDataLine(sb, _))
    m.deletes.foreach(appendDeleteLine(sb, _))
    io.atomicWrite(target, sb.toString)
  }

  // --------------------------------------------------- v2 segments --

  /** Immutable-segment cache: a segment's content never changes once a root
    * references it (new commits write NEW uuid-named segments), so entries
    * are cached by absolute path. Bounded LRU — at a million files per
    * table the hot segments of the current snapshot stay resident and a
    * `currentManifest` call re-reads only the O(1)-sized root.
    */
  private final case class SegEntries(files: Seq[DataFile], deletes: Seq[DeleteFile])
  private val segCache: java.util.Map[String, SegEntries] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, SegEntries](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, SegEntries]) =
          size() > 256
      })

  private def readSegment(p: Path): SegEntries = {
    val key = p.toAbsolutePath.toString
    val hit = segCache.get(key)
    if (hit != null) return hit
    val lines = Files.readAllLines(p)
    require(lines.size() >= 1 && lines.get(0) == SegHeader, s"not a graft segment: $p")
    val entries = (1 until lines.size()).iterator.map(lines.get).filter(_.nonEmpty).toSeq
    val (delLines, dataLines) = entries.partition(_.startsWith("D\t"))
    val seg = SegEntries(dataLines.map(parseDataLine), delLines.map(parseDeleteLine))
    segCache.put(key, seg)
    seg
  }

  /** Merged per-column bounds covering EVERY data file of a segment — the
    * summary a root `S` line carries ([[SegSummary]] scaladoc for the
    * pruning contract). A key survives only when present in every file with
    * one consistent domain; kinds that disagree, or a key any file lacks,
    * drop (absent = unknown = the segment can't be skipped on that key).
    */
  private def summarize(files: Seq[DataFile], deletes: Seq[DeleteFile]): SegSummary = {
    def mergeStatMaps(maps: Seq[Map[String, ColStat]]): Map[String, ColStat] =
      if (maps.isEmpty) Map.empty
      else {
        val keys = maps.iterator.map(_.keySet).reduce(_ intersect _)
        keys.iterator.flatMap { k =>
          val sts = maps.map(_(k))
          val ns = sts.map(_.nulls)
          val nulls = if (ns.contains(-1L)) -1L else ns.sum
          val nonZ = sts.filterNot(_.kind == "z")
          if (nonZ.isEmpty) Some(k -> ColStat("z", "", "", nulls))
          else if (nonZ.iterator.map(_.kind).toSet.size > 1) None
          else try {
            val kind = nonZ.head.kind
            val mn = nonZ.map(_.min).reduce((a, b) =>
              if (StatsPruning.cmp(kind, a, b) <= 0) a else b)
            val mx = nonZ.map(_.max).reduce((a, b) =>
              if (StatsPruning.cmp(kind, a, b) >= 0) a else b)
            // some files all-null, others valued: bounds come from the
            // valued files, the merged null count keeps IS NULL honest
            Some(k -> ColStat(kind, mn, mx, nulls))
          } catch {
            // a malformed stat value (an "n" that doesn't parse — written
            // by a buggy or foreign tool) must not fail the COMMIT: the key
            // just doesn't summarize, and its segment never skips on it
            case _: NumberFormatException | _: ArithmeticException => None
          }
        }.toMap
      }
    // delete-side covering bounds ([[SegSummary]] delete-aware contract):
    // only equality deletes have value semantics, and an all-null ("z")
    // tuple column never matches a row — the merged bounds still cover
    // every tuple that can resurrect anything
    val delBounded = deletes.nonEmpty && deletes.forall(_.kind == "eq")
    val delStats =
      if (!delBounded) Map.empty[String, ColStat]
      else mergeStatMaps(deletes.map(_.stats))
    SegSummary(files.size + deletes.size, files.iterator.map(_.rows).sum,
      deletes.nonEmpty, mergeStatMaps(files.map(_.stats)),
      deletes.size, delBounded, delStats,
      delRows = deletes.iterator.map(_.rows).sum)
  }

  /** `S`-line payload after the segment file name:
    * `<entries>\t<rows>\t<d|->\t<statsStr>\t<delEntries>\t<b|->\t<delStatsStr>\t<delRows>`.
    * Pre-summary roots have a bare name (2 fields total) and read as "no
    * summary — always parse"; pre-delete-aware roots stop at `<statsStr>`
    * and read as "delete entries unskippable" (the old behavior);
    * pre-`delRows` roots stop at `<delStatsStr>` and read as
    * `delRows = −1` (unknown — delete-side rows refutation disabled).
    */
  private def summaryFields(s: SegSummary): String =
    s"${s.entries}\t${s.rows}\t${if (s.hasDeletes) "d" else "-"}\t${statsStr(s.stats)}" +
      s"\t${s.delEntries}\t${if (s.delBounded) "b" else "-"}\t${statsStr(s.delStats)}" +
      s"\t${s.delRows}"

  /** Parse an `S`-line payload's summary (fields after `S\t`); None for
    * bare pre-summary payloads.
    */
  private def parseSummary(payload: String): Option[SegSummary] = {
    // limit -1: an empty statsStr (no common stat keys) must not drop the
    // trailing field and mask the rest of the summary
    val fields = payload.split("\t", -1)
    if (fields.length < 5) None
    else Some(SegSummary(fields(1).toInt, fields(2).toLong, fields(3) == "d",
      parseStats(fields(4)),
      delEntries = if (fields.length >= 8) fields(5).toInt else 0,
      delBounded = fields.length >= 8 && fields(6) == "b",
      delStats = if (fields.length >= 8) parseStats(fields(7)) else Map.empty,
      delRows = if (fields.length >= 9) fields(8).toLong else -1L))
  }

  /** Write one immutable segment; returns the complete `S`-line payload
    * (name + summary fields) the root should carry.
    */
  private def writeSegment(io: MetaIO, dir: Path, files: Seq[DataFile],
                           deletes: Seq[DeleteFile]): String = {
    val name = s"g${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}.seg"
    val sb = new StringBuilder
    sb.append(SegHeader).append('\n')
    files.foreach(appendDataLine(sb, _))
    deletes.foreach(appendDeleteLine(sb, _))
    io.atomicWrite(dir.resolve(name), sb.toString)
    s"$name\t${summaryFields(summarize(files, deletes))}"
  }

  /** Segment file NAME from an `S` line's payload (summary fields, when
    * present, follow the name tab-separated).
    */
  private def segName(payload: String): String = {
    val i = payload.indexOf('\t')
    if (i < 0) payload else payload.substring(0, i)
  }

  /** The segment file names a root references (empty for flat v1 manifests)
    * — [[graft.sink.Warehouse.expireSnapshots]] retention input.
    */
  def segmentRefs(root: Path): Seq[String] = {
    val lines = Files.readAllLines(root)
    if (lines.isEmpty || lines.get(0) != HeaderV2) Nil
    else (2 until lines.size()).iterator.map(lines.get)
      .filter(_.startsWith("S\t")).map(l => segName(l.substring(2))).toSeq
  }

  /** Path-tombstone (`X` line) count of a v2 root; 0 for flat v1 — the
    * `$manifests` inspection signal for "how much dead weight is this root
    * carrying" (alongside segment count, which drives auto-coalescing).
    */
  def tombstoneCount(root: Path): Int = {
    val lines = Files.readAllLines(root)
    if (lines.isEmpty || lines.get(0) != HeaderV2) 0
    else (2 until lines.size()).count(i => lines.get(i).startsWith("X\t"))
  }

  /** Root line budget before a commit coalesces into fresh segments: more
    * than [[MaxSegments]] referenced segments (scaled up for tables whose
    * LIVE entry count genuinely needs more — see [[segBudget]]), or more
    * tombstones than live entries. Coalescing is the amortized-O(1)
    * manifest compaction (Iceberg `rewrite_manifests`): one commit in ~64
    * pays O(table) metadata so the other 63 pay O(batch).
    */
  private val MaxSegments = 64

  /** Coalesce chunk size: a coalesced snapshot lands as ceil(live/target)
    * segments of at most this many entries, in manifest order (for
    * append-shaped histories that is arrival order — naturally clustered
    * on time-correlated keys), so segment-level pruning keeps working
    * after manifest compaction instead of collapsing the whole table into
    * one unprunable mega-segment.
    */
  private val SegTargetEntries = 4096

  /** The segment budget scales with live entries: a million-file table
    * needs ~250 chunked segments, so the fixed 64 would force EVERY commit
    * to re-coalesce O(table) metadata. Coalesce only when fragmentation
    * exceeds twice what chunked coalescing itself would produce.
    */
  private def segBudget(live: Int): Int =
    math.max(MaxSegments, 2 * (live / SegTargetEntries + 1))

  /** Write `next` at `target` as the BASE root's lines plus this
    * commit's delta — `X` tombstones for entries the commit removed or
    * changed, one fresh segment for entries it added or changed — so the
    * metadata written per commit is O(delta), not O(table). Falls back to
    * coalescing (one segment holding every entry) when there is no usable
    * base (v0, flat-v1 base — auto-upgrade), when the diff rewrites most
    * entries anyway (renameColumn remaps every stats key), or when the
    * carried root would exceed the segment/tombstone budget.
    *
    * The segment is written (atomically, uuid-named — raceless) BEFORE the
    * root; a crash in between orphans the segment, which
    * `expireSnapshots`'s grace-aged `g*.seg` sweep collects. Entry order is
    * preserved per segment but NOT globally (carried entries keep base
    * order, changed entries re-land at the tail) — no reader depends on
    * manifest order (pruning, MOR overlay, change-feed diffs are all
    * path-keyed).
    *
    * The standalone form of [[deltaRoot]]: the commit path publishes
    * `deltaRoot`'s text by [[MetaIO.casLink]] instead of replacing.
    */
  def writeDelta(target: Path, next: Manifest, basePath: Option[Path]): Unit =
    MetaIO.local.atomicWrite(target, deltaRoot(MetaIO.local, target.getParent, next, basePath))

  /** [[writeDelta]]'s content: writes the fresh segment(s) into `dir` and
    * returns the root's text, which the commit publishes by CAS.
    */
  private[sink] def deltaRoot(io: MetaIO, dir: Path, next: Manifest,
                              basePath: Option[Path]): String = {
    def coalesce(): String = {
      val sb = new StringBuilder
      sb.append(HeaderV2).append('\n').append(schemaLine(next)).append('\n')
      // CHUNKED: one segment per SegTargetEntries in manifest order, so a
      // compacted manifest still prunes at segment grain (delete entries
      // ride the last chunk — they are the rare, small tail)
      if (next.files.nonEmpty || next.deletes.nonEmpty) {
        val chunks = next.files.grouped(SegTargetEntries).toSeq match {
          case Seq() => Seq(Seq.empty[DataFile])
          case cs    => cs
        }
        chunks.zipWithIndex.foreach { case (c, i) =>
          val dels = if (i == chunks.size - 1) next.deletes else Nil
          if (c.nonEmpty || dels.nonEmpty)
            sb.append("S\t").append(writeSegment(io, dir, c, dels)).append('\n')
        }
      }
      sb.toString
    }
    val base = basePath.filter(Files.exists(_))
    if (base.isEmpty) return coalesce()
    val baseLines = Files.readAllLines(base.get)
    if (baseLines.isEmpty) return coalesce()
    val bm = read(base.get)
    // v1 flat base: lift its entries into a segment once, then delta — but
    // only AFTER the budget check below decides against coalescing, so a
    // replace/rename-shaped commit over a v1 base doesn't write a dead
    // full-table segment
    val isV1 = baseLines.get(0) == Header
    val carried: Seq[String] = baseLines.get(0) match {
      case HeaderV2 => (2 until baseLines.size()).iterator.map(baseLines.get)
        .filter(l => l.startsWith("S\t") || l.startsWith("X\t")).toSeq
      case Header => Nil // lifted lazily below
      case _ => return coalesce()
    }
    val baseFiles = bm.files.iterator.map(f => f.path -> f).toMap
    val baseDels = bm.deletes.iterator.map(d => d.path -> d).toMap
    val nextFiles = next.files.iterator.map(f => f.path -> f).toMap
    val nextDels = next.deletes.iterator.map(d => d.path -> d).toMap
    // every removed-or-CHANGED entry is tombstoned here, BEFORE the fresh
    // segment re-adds its new version — the ordering [[readPruned]]'s
    // segment skipping is sound against (a stale version can never survive
    // a skipped re-add, because its X always precedes)
    val removed = bm.files.collect { case f if !nextFiles.get(f.path).contains(f) => f.path } ++
      bm.deletes.collect { case d if !nextDels.get(d.path).contains(d) => d.path }
    val addedFiles = next.files.filterNot(f => baseFiles.get(f.path).contains(f))
    val addedDels = next.deletes.filterNot(d => baseDels.get(d.path).contains(d))
    val live = next.files.size + next.deletes.size
    val segCount = carried.count(_.startsWith("S\t")) + (if (isV1) 1 else 0) +
      (if (addedFiles.nonEmpty || addedDels.nonEmpty) 1 else 0)
    val tombCount = carried.count(_.startsWith("X\t")) + removed.size
    if (segCount > segBudget(live) || tombCount > math.max(64, live) ||
        removed.size + addedFiles.size + addedDels.size >= math.max(1, live))
      return coalesce()
    val carriedFinal =
      if (!isV1) carried
      else Seq("S\t" + writeSegment(io, dir, bm.files, bm.deletes))
    val sb = new StringBuilder
    sb.append(HeaderV2).append('\n').append(schemaLine(next)).append('\n')
    carriedFinal.foreach(l => sb.append(l).append('\n'))
    removed.foreach(p => sb.append("X\t").append(p).append('\n'))
    if (addedFiles.nonEmpty || addedDels.nonEmpty)
      sb.append("S\t").append(writeSegment(io, dir, addedFiles, addedDels)).append('\n')
    sb.toString
  }

  /** Path-level changed-entry count of root `next` vs its base root, in
    * O(commit delta): when `next` is a v2 root that CARRIES `base`'s
    * S/X lines as a prefix (the [[writeDelta]] fast path), the commit's
    * whole delta is exactly the tail — its extra `X` tombstones plus its
    * fresh segment(s) — so the count costs the tail lines plus ONE
    * (cached) segment read, never a full manifest replay of either side.
    * `None` when the roots are not line-carried (flat v1 either side, a
    * coalesced or rewritten commit) — the caller falls back to a full
    * path-set diff.
    *
    * Count semantics track the full diff used by CDC admission control
    * (paths added + paths removed + delete entries added): a tombstone
    * with a same-path re-add is a changed-in-place entry and counts zero,
    * a tombstone of a superseded delete entry counts one where the full
    * diff counts zero — a slightly conservative budget, never an
    * undercount.
    */
  def changedEntryCount(next: Path, base: Path): Option[Int] = {
    def slines(p: Path): Option[Seq[String]] = {
      val lines = Files.readAllLines(p)
      if (lines.isEmpty || lines.get(0) != HeaderV2) None
      else Some((2 until lines.size()).iterator.map(lines.get)
        .filter(l => l.startsWith("S\t") || l.startsWith("X\t")).toSeq)
    }
    for {
      nl <- slines(next)
      bl <- slines(base)
      if nl.size >= bl.size && nl.take(bl.size) == bl
    } yield {
      val tail = nl.drop(bl.size)
      val newX = tail.filter(_.startsWith("X\t")).map(_.substring(2)).toSet
      val (af, ad) = tail.filter(_.startsWith("S\t")).map(l => segName(l.substring(2)))
        .foldLeft((Seq.empty[DataFile], Seq.empty[DeleteFile])) {
          case ((fs, ds), seg) =>
            val se = readSegment(next.getParent.resolve(seg))
            (fs ++ se.files, ds ++ se.deletes)
        }
      val readd = (af.map(_.path) ++ ad.map(_.path)).toSet
      (newX -- readd).size +
        af.count(f => !newX(f.path)) + ad.count(d => !newX(d.path))
    }
  }

  def read(source: Path): Manifest = {
    val lines = Files.readAllLines(source)
    require(lines.size() >= 2 &&
      (lines.get(0) == Header || lines.get(0) == HeaderV2),
      s"not a graft manifest: $source")
    val h = parseHeaderLine(lines.get(1))
    val entries = (2 until lines.size()).iterator.map(lines.get).filter(_.nonEmpty).toSeq
    if (lines.get(0) == Header) {
      val (delLines, dataLines) = entries.partition(_.startsWith("D\t"))
      Manifest(h.schema, dataLines.map(parseDataLine), delLines.map(parseDeleteLine),
        h.rowHwm, h.marks)
    } else {
      val dir = source.getParent
      val files = new java.util.LinkedHashMap[String, DataFile]()
      val dels = new java.util.LinkedHashMap[String, DeleteFile]()
      entries.foreach { l =>
        if (l.startsWith("S\t")) {
          val seg = readSegment(dir.resolve(segName(l.substring(2))))
          seg.files.foreach(f => files.put(f.path, f))
          seg.deletes.foreach(d => dels.put(d.path, d))
        } else if (l.startsWith("X\t")) {
          val p = l.substring(2)
          files.remove(p); dels.remove(p)
        } else throw new IllegalArgumentException(
          s"unknown v2 root line in $source: ${l.take(40)}")
      }
      import scala.jdk.CollectionConverters._
      Manifest(h.schema, files.values.asScala.toSeq, dels.values.asScala.toSeq,
        h.rowHwm, h.marks)
    }
  }

  /** Introspection counters for [[readPruned]] — segments materialized vs
    * skipped by summary, across the JVM. Specs snapshot-and-diff these to
    * prove a partition-pruned plan parsed O(relevant segments).
    */
  val prunedSegConsults = new java.util.concurrent.atomic.AtomicLong
  val prunedSegSkips = new java.util.concurrent.atomic.AtomicLong

  /** SEGMENT-LEVEL pruned read — the Iceberg "open only the manifests whose
    * partition range can match" planning step. Replays the root's lines
    * like [[read]], but a segment whose `S`-line summary (a) carries no
    * delete entries and (b) fails `keep` is skipped WITHOUT being parsed:
    * at millions of files a one-partition query touches the root plus the
    * few segments covering that partition, not every entry of the table.
    *
    * Returns None when the root is flat v1 (small standalone manifests —
    * callers full-read those). `X` tombstone lines are always applied;
    * summary-less `S` lines (pre-summary roots) always parse.
    *
    * SOUNDNESS — why a skip can never surface a stale entry: the result
    * omits exactly the live entries of skipped segments, and every one of
    * those provably fails `keep` (its per-file bounds lie inside the
    * summary's). An OLD version of a path whose newer version lives in a
    * skipped segment cannot leak, because [[writeDelta]] tombstones every
    * changed entry (the `X` precedes the re-add, and root `X` lines are
    * processed regardless of skipping). `keep` must be CONSERVATIVE in the
    * [[graft.catalog.ManifestPruneRule]] sense: summaries cover every file
    * in the segment, so "summary can't match ⇒ no file can match".
    */
  def readPruned(source: Path, keep: SegSummary => Boolean): Option[(Manifest, Int)] = {
    val lines = Files.readAllLines(source)
    if (lines.isEmpty || lines.get(0) != HeaderV2) return None
    require(lines.size() >= 2, s"truncated manifest: $source")
    val h = parseHeaderLine(lines.get(1))
    val dir = source.getParent
    val files = new java.util.LinkedHashMap[String, DataFile]()
    val dels = new java.util.LinkedHashMap[String, DeleteFile]()
    var skipped = 0
    (2 until lines.size()).foreach { i =>
      val l = lines.get(i)
      if (l.isEmpty) ()
      else if (l.startsWith("S\t")) {
        val payload = l.substring(2)
        // skip = data side invisible AND delete side invisible (the
        // [[SegSummary]] delete-aware contract): a skipped delete entry can
        // only resurrect rows whose key values its merged bounds cover, and
        // `!keep(delStats)` proves the query's residual filter rejects all
        // of those — so dropping the entry changes nothing this query sees
        // the delete-side probe presents the delete files' OWN tuple count
        // as `rows` (delRows; −1 disables rows-based refutation) — the data
        // row count is 0 for delete-only delta segments, and a rows-vs-nulls
        // arm in `keep` (IsNotNull) would wrongly refute non-null tuples
        val skip = parseSummary(payload).exists { s =>
          val dataGone = s.entries - s.delEntries == 0 || !keep(s)
          def delGone = !s.hasDeletes ||
            (s.delBounded &&
              !keep(s.copy(hasDeletes = false, stats = s.delStats, rows = s.delRows)))
          dataGone && delGone
        }
        if (skip) { skipped += 1; prunedSegSkips.incrementAndGet(): Unit }
        else {
          prunedSegConsults.incrementAndGet()
          val seg = readSegment(dir.resolve(segName(payload)))
          seg.files.foreach(f => files.put(f.path, f))
          seg.deletes.foreach(d => dels.put(d.path, d))
        }
      } else if (l.startsWith("X\t")) {
        val p = l.substring(2)
        files.remove(p); dels.remove(p)
      } else throw new IllegalArgumentException(
        s"unknown v2 root line in $source: ${l.take(40)}")
    }
    import scala.jdk.CollectionConverters._
    Some((Manifest(h.schema, files.values.asScala.toSeq, dels.values.asScala.toSeq,
      h.rowHwm, h.marks), skipped))
  }
}
