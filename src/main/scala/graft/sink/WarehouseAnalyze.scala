package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.SchemaOps

/** ANALYZE: per-column NDV (HLL) / null-count / length statistics, stored
  * beside the table and served to Catalyst as DSv2 columnStats for CBO.
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
/** Equi-height histogram derivation from a stored ANALYZE KLL sketch —
  * shared by the DSv2 columnStats serving path
  * ([[graft.catalog.GraftParquetScan]]) and its specs. Buckets are the
  * sketch's quantiles at ranks i/B: each holds height = nonNull/B rows by
  * construction (±the sketch's ~1.65% rank error at k=200; EXACT while the
  * sketch has never compacted), which is what gives CBO real range
  * selectivity on skewed data where uniform min/max interpolation is
  * wildly wrong. Per-bucket NDV is approximated as ndv/B (capped by the
  * height, floored at 1; a single-value bucket reports exactly 1) — the
  * boundaries carry the selectivity signal, the per-bucket ndv only
  * sharpens equality estimates.
  */
object ColStatsHistogram {
  def bins(kllB64: String, nonNull: Long, ndv: Long, numBins: Int)
      : Option[(Double, Array[(Double, Double, Long)])] = {
    if (kllB64.isEmpty || nonNull <= 0 || numBins <= 0) return None
    val sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(
        java.util.Base64.getDecoder.decode(kllB64)))
    if (sk.isEmpty) return None
    val b = math.min(numBins.toLong, math.max(1L, nonNull)).toInt
    val qs = (0 to b).map(i => sk.getQuantile(i.toDouble / b)).toArray
    val height = nonNull.toDouble / b
    val approxNdv = math.max(1L, math.round(ndv.toDouble / b))
    val out = (0 until b).map { i =>
      val lo = qs(i)
      val hi = qs(i + 1)
      (lo, hi, if (lo == hi) 1L
               else math.min(math.max(1L, math.round(height)), approxNdv))
    }.toArray
    Some((height, out))
  }
}

/** STRING-domain histogram support: a string's first 8 UTF-8 bytes as an
  * unsigned big-endian number — monotone with the string's binary
  * collation order at double (53-bit ≈ 6.6-byte) precision. ANALYZE
  * sketches this projection into the same KLL machinery numerics use, and
  * the DSv2 scan ([[graft.catalog.SpjSupport]]) prices a pushed
  * `LIKE 'p%'` as the sketch's MASS of the prefix's key range
  * [key(p), key(p) + 256^(8−|p|)) — measured prefix selectivity where
  * Catalyst's own FilterEstimation has no StartsWith arm at all (it
  * defaults the predicate to keep-everything, so serving Catalyst a
  * histogram could never help; the scan's reported statistics are the one
  * surface that can carry the estimate). Catalyst never sees this
  * histogram: the serving gate requires typed min/max bounds, which
  * string columns deliberately don't emit.
  */
object StringPrefixKey {
  val Width = 8

  /** The ANALYZE-side projection. Hex-string padding ('0' chars = zero
    * bytes, two per byte) keeps every step a stock codegen'd function;
    * `conv(_, 16, 10)` reads the 16 hex digits as an unsigned 64-bit.
    * Empty string → 0 (sorts first); null → null (excluded from the
    * sketch, like every histogram domain).
    */
  def expr(c: Column): Column =
    conv(rpad(hex(substring(encode(c, "UTF-8"), 1, Width)), 2 * Width, "0"),
      16, 10).cast("double")

  /** [lo, hi) key range of the strings with byte-prefix `p` — for |p| > 8
    * the first 8 bytes' exact-key range, a superset (selectivity upper
    * bound, conservative in the safe direction).
    */
  def range(prefix: Array[Byte]): (Double, Double) = {
    val first = prefix.take(Width)
    val padded = first ++ Array.fill(Width - first.length)(0.toByte)
    val lo = BigInt(1, padded)
    val width =
      if (first.length >= Width) BigInt(1) else BigInt(256).pow(Width - first.length)
    (lo.toDouble, (lo + width).toDouble)
  }

  /** Fraction of the sketched (non-null) values in [lo, hi). */
  def mass(kllB64: String, lo: Double, hi: Double): Option[Double] =
    if (kllB64.isEmpty) None
    else {
      val sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(
          java.util.Base64.getDecoder.decode(kllB64)))
      if (sk.isEmpty) None
      else Some(math.max(0.0, sk.getRank(hi) - sk.getRank(lo)))
    }

  /** [[mass]] floored at the sketch's double-sided normalized rank error
    * (two `getRank` calls, each ±ε): a measured mass below the sketch's
    * own resolution is noise, not evidence of emptiness — consumers
    * pricing a plan decision off the mass (the `LIKE 'p%'` scan discount)
    * must not treat it as one.
    */
  def boundedMass(kllB64: String, lo: Double, hi: Double): Option[Double] =
    if (kllB64.isEmpty) None
    else {
      val sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(
          java.util.Base64.getDecoder.decode(kllB64)))
      if (sk.isEmpty) None
      else Some(math.max(2.0 * sk.getNormalizedRankError(false),
        sk.getRank(hi) - sk.getRank(lo)))
    }
}

private[sink] trait WarehouseAnalyze { self: Warehouse =>

  // ----------------------------------------------- column statistics (NDV) --

  /** One analyzed column: approximate distinct count (Datasketches HLL,
    * ~2% standard error), exact null count, and for variable-width columns
    * the average/max byte-ish length (−1 = not applicable). `sketchB64` is
    * the HLL sketch itself, kept so future re-analyzes / cross-table
    * estimates can UNION sketches instead of rescanning.
    *
    * For NUMERIC columns three more fields feed CBO's range selectivity:
    * exact `minV`/`maxV` (rendered as strings in the column's own domain)
    * and `kllB64`, a Datasketches KLL quantile sketch of the values cast
    * to double — served to Catalyst as an equi-height HISTOGRAM
    * ([[ColStatsHistogram]]), and UNIONED incrementally like the HLL
    * (KLL is fully mergeable). Empty strings = not recorded (non-numeric
    * column, all-null column, or stats written before the fields existed).
    */
  final case class ColNdv(ndv: Long, nullCount: Long, avgLen: Long,
                          maxLen: Long, sketchB64: String,
                          minV: String = "", maxV: String = "",
                          kllB64: String = "")

  /** Stored table statistics: the snapshot version analyzed, its exact row
    * count, per-column [[ColNdv]], and the snapshot's row-lineage
    * high-water mark at analyze time (`hwm`; −1 = unknown — pre-lineage
    * table or stats written before the field existed). `hwm` is the
    * monotone ingested-rows counter, so `currentHwm − hwm` measures EXACTLY
    * how many rows arrived since the analyze — the staleness signal
    * consumers pricing plans off sketch mass need (row counts alone can't
    * tell growth from churn).
    */
  final case class TableColStats(version: Long, rows: Long,
                                 cols: Map[String, ColNdv],
                                 hwm: Long = -1L)

  private def colStatsPath(name: String) = tableDir(name).resolve("_colstats")

  /** `ANALYZE` (the Iceberg Puffin/theta-sketch analog, Spark-served): ONE
    * column-pruned pass over the current snapshot computes per-column HLL
    * distinct sketches + null counts + length stats and stores them beside
    * the table. Every later scan serves them to Catalyst as DSv2
    * `columnStats` ([[graft.catalog.GraftParquetScan]]), where CBO's join
    * reorder / selectivity / broadcast decisions read them — at 100 TB the
    * difference between a plan keyed on real NDVs and one keyed on
    * defaults. Stats are a SNAPSHOT measurement: later commits serve the
    * last analyzed values until the next analyze (ordinary staleness, the
    * contract every warehouse's ANALYZE has); `$snapshots`-style freshness
    * is visible by comparing versions.
    *
    * `cols` empty = every atomic column. Non-HLL-native types are cast to
    * string for sketching — injective renders (timestamps, dates, decimals,
    * floats render distinctly), so distinctness is preserved.
    */
  def analyzeTable(name: String, cols: Seq[String] = Nil): TableColStats = {
    require(exists(name), s"no such table: $name")
    val man = currentManifest(name)
    val version = currentVersion(name)
    val targets = analyzeTargets(man.schema, cols)
    val (rows, entries) = ndvAggregate(
      load(name).select(targets.map(f => col(f.name)): _*), targets)
    val out = TableColStats(version, rows, entries, hwm = man.rowHwm)
    storeColStats(name, out)
    out
  }

  private def atomicType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.MapType |
         _: org.apache.spark.sql.types.StructType => false
    case _ => true
  }

  private def analyzeTargets(schema: StructType, cols: Seq[String]): Seq[StructField] = {
    val targets = schema.fields.filter(f =>
      if (cols.isEmpty) atomicType(f.dataType) else cols.contains(f.name)).toSeq
    val unknown = cols.filterNot(c => schema.fieldNames.contains(c))
    require(unknown.isEmpty, s"no such column(s): ${unknown.mkString(", ")}")
    val bad = targets.filterNot(f => atomicType(f.dataType))
    require(bad.isEmpty,
      s"cannot sketch non-atomic column(s): ${bad.map(_.name).mkString(", ")}")
    targets
  }

  private def isVarWidth(f: StructField) =
    f.dataType == StringType || f.dataType == BinaryType

  /** The expression whose values ANALYZE sketches/bounds for a column's
    * histogram — in the column's CATALYST COMPARISON DOMAIN, because
    * FilterEstimation prices range predicates against internal values:
    * numerics as themselves, timestamps as EPOCH MICROS (never
    * `CAST(ts AS DOUBLE)`, which is seconds and would be silently wrong by
    * 10⁶), dates as EPOCH DAYS. None = no histogram state for the type.
    */
  private def histogramDomain(f: StructField): Option[Column] = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | _: DecimalType => Some(col(f.name))
    case TimestampType => Some(unix_micros(col(f.name)))
    // NTZ: micros too; the cast is the identity under the engine's pinned
    // UTC session (Verify/Bench/tests all set it)
    case TimestampNTZType => Some(unix_micros(col(f.name).cast(TimestampType)))
    case DateType => Some(unix_date(col(f.name)))
    // strings sketch their binary-order PREFIX KEY ([[StringPrefixKey]]):
    // never served to Catalyst (the DSv2 gate requires typed bounds, which
    // stay empty here — typedBound yields None for strings), consumed only
    // by the scan's own LIKE-prefix selectivity estimate
    case StringType => Some(StringPrefixKey.expr(col(f.name)))
    case _ => None
  }

  /** The one ANALYZE pass: per-column HLL sketch + null count + length
    * stats over `df` — shared by the full and the incremental path so their
    * per-file measurements are identical.
    */
  private def ndvAggregate(df: DataFrame, targets: Seq[StructField])
      : (Long, Map[String, ColNdv]) = {
    import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
    graft.functions.expressions.KllFns.register(spark)
    def sketchIn(f: StructField) = f.dataType match {
      case IntegerType | LongType | StringType | BinaryType => col(f.name)
      case _ => col(f.name).cast("string")
    }
    val aggs: Seq[Column] = count(lit(1)).as("__rows") +: targets.zipWithIndex.flatMap {
      case (f, i) =>
        Seq(hll_sketch_agg(sketchIn(f)).as(s"__s$i"), count(col(f.name)).as(s"__c$i")) ++
          (if (!isVarWidth(f)) Nil else Seq(
            avg(length(col(f.name))).as(s"__a$i"), max(length(col(f.name))).as(s"__m$i"))) ++
          (histogramDomain(f) match {
            case None => Nil
            case Some(dom) => Seq(
              min(dom).cast("string").as(s"__lo$i"),
              max(dom).cast("string").as(s"__hi$i"),
              graft.functions.expressions.KllFns.kllSketch(
                dom.cast("double")).as(s"__q$i"))
          })
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(r.fieldIndex("__rows"))
    val entries = targets.zipWithIndex.map { case (f, i) =>
      val sketch = r.getAs[Array[Byte]](r.fieldIndex(s"__s$i"))
      val ndv = org.apache.datasketches.hll.HllSketch.heapify(sketch)
        .getEstimate.round
      val (avgL, maxL) =
        if (!isVarWidth(f)) (-1L, -1L)
        else (Option(r.get(r.fieldIndex(s"__a$i"))).fold(-1L)(v =>
          math.ceil(v.asInstanceOf[Double]).toLong),
          if (r.isNullAt(r.fieldIndex(s"__m$i"))) -1L
          else r.getInt(r.fieldIndex(s"__m$i")).toLong)
      val (lo, hi, kll) =
        if (histogramDomain(f).isEmpty) ("", "", "")
        else (Option(r.getString(r.fieldIndex(s"__lo$i"))).getOrElse(""),
          Option(r.getString(r.fieldIndex(s"__hi$i"))).getOrElse(""),
          Option(r.getAs[Array[Byte]](r.fieldIndex(s"__q$i")))
            .map(java.util.Base64.getEncoder.encodeToString).getOrElse(""))
      f.name -> ColNdv(ndv, rows - r.getLong(r.fieldIndex(s"__c$i")), avgL, maxL,
        java.util.Base64.getEncoder.encodeToString(sketch), lo, hi, kll)
    }.toMap
    (rows, entries)
  }

  private def storeColStats(name: String, out: TableColStats): Unit = {
    val sb = new StringBuilder
    sb.append("graft-colstats v1\n").append(out.version).append('\t')
      .append(out.rows).append('\t').append(out.hwm).append('\n')
    def b64s(s: String) = java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.cols.toSeq.sortBy(_._1).foreach { case (c, e) =>
      sb.append(b64s(c))
        .append('\t').append(e.ndv).append('\t').append(e.nullCount)
        .append('\t').append(e.avgLen).append('\t').append(e.maxLen)
        .append('\t').append(e.sketchB64)
        // histogram triple (empty-allowed; min/max b64 — arbitrary renders)
        .append('\t').append(b64s(e.minV)).append('\t').append(b64s(e.maxV))
        .append('\t').append(e.kllB64).append('\n')
    }
    io.atomicWrite(colStatsPath(name), sb.toString)
  }

  /** Outcome of [[analyzeIncremental]]: the refreshed stats, how many data
    * files the refresh actually SCANNED, and whether the incremental path
    * applied (false = it fell back to a full [[analyzeTable]]).
    */
  final case class IncrementalAnalyzeReport(stats: TableColStats,
                                            scannedFiles: Int,
                                            incremental: Boolean)

  /** Incremental ANALYZE — the reason [[ColNdv]] stores the SKETCH, not
    * just the estimate: HLL sketches union losslessly, so when the window
    * since the last analyze is APPEND-ONLY (no removed files, no pending
    * deletes on either end — deletes/rewrites change live rows and a
    * sketch cannot retract), refreshing the stats scans ONLY the files the
    * window added and unions their sketches into the stored ones. At
    * 100 TB this is the difference between "ANALYZE = rescan the table"
    * and "ANALYZE = one pass over this ingest's files" — the same
    * O(batch) discipline every other maintenance verb follows (Iceberg's
    * Puffin partial-stats analog). Null counts and rows add exactly;
    * max length is a true max; avg length recombines count-weighted (ceil
    * rounding makes it approximate within ±1, the same grain it is stored
    * at). Anything unprovable — no stored stats, analyzed version expired,
    * column set or schema drift, non-append window — falls back to the
    * full pass, so the refreshed stats are never silently wrong.
    */
  def analyzeIncremental(name: String, cols: Seq[String] = Nil): IncrementalAnalyzeReport = {
    require(exists(name), s"no such table: $name")
    val head = currentVersion(name)
    val man = currentManifest(name)
    def full() = IncrementalAnalyzeReport(analyzeTable(name, cols),
      man.files.size, incremental = false)
    val targets = analyzeTargets(man.schema, cols)
    columnStats(name) match {
      case Some(prev) if prev.version <= head && history(name).contains(prev.version) &&
          targets.map(_.name).toSet == prev.cols.keySet =>
        if (prev.version == head)
          return IncrementalAnalyzeReport(prev, 0, incremental = true)
        val mPrev = manifestAt(name, prev.version)
        val prevPaths = mPrev.files.map(_.path).toSet
        val appendOnly = prevPaths.subsetOf(man.files.map(_.path).toSet) &&
          mPrev.deletes.isEmpty && man.deletes.isEmpty &&
          // same fields, same types at both ends for every target (a rename
          // or retype would pair old sketches with a different population)
          targets.forall(f => mPrev.schema.fields.exists(g =>
            g.name == f.name && g.dataType == f.dataType))
        if (!appendOnly) full()
        else {
          val added = man.files.filterNot(f => prevPaths(f.path))
          if (added.isEmpty) {
            val out = prev.copy(version = head, hwm = man.rowHwm)
            storeColStats(name, out)
            return IncrementalAnalyzeReport(out, 0, incremental = true)
          }
          val (newRows, newEntries) = ndvAggregate(
            spark.read.schema(man.schema)
              .parquet(added.map(f => resolvePath(name, f.path)): _*)
              .select(targets.map(f => col(f.name)): _*), targets)
          val merged = targets.map { f =>
            val p = prev.cols(f.name)
            val n = newEntries(f.name)
            val u = new org.apache.datasketches.hll.Union()
            u.update(org.apache.datasketches.hll.HllSketch.heapify(
              java.util.Base64.getDecoder.decode(p.sketchB64)))
            u.update(org.apache.datasketches.hll.HllSketch.heapify(
              java.util.Base64.getDecoder.decode(n.sketchB64)))
            val sk = u.getResult.toCompactByteArray
            val nnPrev = prev.rows - p.nullCount
            val nnNew = newRows - n.nullCount
            val avgL =
              if (!isVarWidth(f)) -1L
              else (p.avgLen, n.avgLen) match {
                case (-1L, a)   => a
                case (a, -1L)   => a
                case (a, b)     =>
                  math.ceil((a.toDouble * nnPrev + b.toDouble * nnNew)
                    / math.max(1L, nnPrev + nnNew)).toLong
              }
            // histogram state: exact min/max combine in the double domain,
            // KLL sketches MERGE (fully mergeable, like the HLL) — an empty
            // side means "all-null batch" (keep the other) unless BOTH
            // windows never recorded one (non-numeric / pre-field stats)
            def mergedMin(a: String, b: String) =
              if (a.isEmpty) b else if (b.isEmpty) a
              else if (a.toDouble <= b.toDouble) a else b
            def mergedMax(a: String, b: String) =
              if (a.isEmpty) b else if (b.isEmpty) a
              else if (a.toDouble >= b.toDouble) a else b
            val kll = (p.kllB64, n.kllB64) match {
              case ("", x) => x
              case (x, "") => x
              case (a, b) =>
                val m = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(
                  graft.functions.expressions.KllFns.DefaultK)
                m.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
                  org.apache.datasketches.memory.Memory.wrap(
                    java.util.Base64.getDecoder.decode(a))))
                m.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
                  org.apache.datasketches.memory.Memory.wrap(
                    java.util.Base64.getDecoder.decode(b))))
                java.util.Base64.getEncoder.encodeToString(m.toByteArray)
            }
            f.name -> ColNdv(
              org.apache.datasketches.hll.HllSketch.heapify(sk).getEstimate.round,
              p.nullCount + n.nullCount, avgL, math.max(p.maxLen, n.maxLen),
              java.util.Base64.getEncoder.encodeToString(sk),
              mergedMin(p.minV, n.minV), mergedMax(p.maxV, n.maxV), kll)
          }.toMap
          val out = TableColStats(head, prev.rows + newRows, merged, hwm = man.rowHwm)
          storeColStats(name, out)
          IncrementalAnalyzeReport(out, added.size, incremental = true)
        }
      case _ => full()
    }
  }

  /** The stored [[analyzeTable]] result, if any. */
  def columnStats(name: String): Option[TableColStats] = {
    val p = colStatsPath(name)
    if (!Files.exists(p)) return None
    val lines = Files.readString(p).linesIterator.toSeq
    if (lines.isEmpty || lines.head != "graft-colstats v1") return None
    // header lines written before the hwm field have 2 columns
    val hdr = lines(1).split('\t')
    val (v, rows) = (hdr(0), hdr(1))
    val hwm = if (hdr.length > 2) hdr(2).toLong else -1L
    val cols = lines.drop(2).filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      def unb64(s: String) = new String(java.util.Base64.getDecoder.decode(s),
        java.nio.charset.StandardCharsets.UTF_8)
      // lines written before the histogram fields existed have 6 columns
      unb64(f(0)) -> ColNdv(f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong, f(5),
        if (f.length > 6) unb64(f(6)) else "",
        if (f.length > 7) unb64(f(7)) else "",
        if (f.length > 8) f(8) else "")
    }.toMap
    Some(TableColStats(v.toLong, rows.toLong, cols, hwm))
  }

}
